"""Durable ANN index state for LakeTable — the persisted half of the
LSH / IVF scale story.

The probe operators in ``operators/similarity.py`` compute the bucket /
inverted-list assignment as a scan-time expression: correct, but every
probe scans the whole corpus. The reference keeps its ANN index as
durable store-side state (reference: bear/config.py:23-35 — the HNSW
index params live on the collection; bear/model.py:131-141 — the index
is created once and reused by every search). The Spark-native
equivalent of "index as physical state" is PARTITION LAYOUT: materialize
the assignment as a ``_list`` partition column on disk, so probing N
lists reads exactly those lists' directories and never opens any other
file — probing IS partition pruning.

Layout under ``<table_root>/_index/<name>/``::

    meta.json                        atomic (os.replace): kind, params,
                                     fitted state (hyperplanes or
                                     centroids), built_from_version,
                                     per-list generation pointers
    d-<token>/_list=<id>/*.parquet   id cols + vector column only,
                                     re-partitioned by assignment

The index data is a COPY (projection) of the table, like any secondary
index: the base table's physical layout is key-hash buckets chosen for
MERGE locality, so probe locality needs its own layout. ``meta.json``
maps EACH list id to the generation directory holding its current
files, so an incremental ``refresh()`` rewrites only the lists whose
membership changed and leaves every other list's files untouched — the
same manifest-pointer idea the table itself uses for buckets.

Generation lifecycle: writes go to a fresh ``d-<token>`` dir, then
``meta.json`` swaps atomically. Superseded generations are NOT deleted
at swap time — a concurrent reader's lazy Spark job may have listed
files from the old meta and would hit FileNotFound mid-action —
reclamation is deferred to the START of the next build/refresh, which
removes any ``d-*`` dir no list pointer references (this also sweeps
crash orphans: a dir whose build died before the meta swap is never
referenced).

At 100 TB: ``n_lists`` (or ``2**n_planes``) is sized so one list is a
few files (~sqrt(N) lists is the IVF norm); the initial assignment job
is one scan + one hash-partitioned shuffle write, i.e. the same cost
class as one merge of the full table, amortized over every subsequent
probe — and from then on ``refresh()`` consumes the table's net
change-data feed (``LakeTable.changes``), so keeping the index current
costs O(changed rows + affected lists), the same cost class as the
merge that advanced the table. Fitting the IVF quantizer samples the
corpus — centroid quality needs ~256 points per list, never the full
table. The IVF assignment itself dispatches between the codegen
when-chain (small n_lists) and an Arrow-batched BLAS argmin kernel
(realistic n_lists) via ``operators.similarity.with_ivf_list``.
"""

from __future__ import annotations

import heapq
import json
import logging
import os
import shutil
import uuid
from typing import Any, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark.operators import similarity as S

logger = logging.getLogger(__name__)


class StaleVectorIndex(RuntimeError):
    """The table advanced past the version the index was built from."""


class VectorIndex:
    def __init__(self, table, name: str):
        self.table = table
        self.name = name
        self.root = os.path.join(table.root, "_index", name)
        # filled by the last _candidate_scan: {"lists_probed", "dirs",
        # "files_read", "files_total"} — the probe's pruning receipt.
        # files_total (an O(all lists) listdir sweep) is only computed
        # when debug_receipts is on; probes stay O(probed lists).
        self.last_probe: dict[str, Any] | None = None
        self.debug_receipts = False
        # filled by the last incremental refresh: {"lists_rewritten",
        # "dirs_read", "files_read", "mode"} — the refresh's
        # touched-only receipt
        self.last_refresh: dict[str, Any] | None = None

    # ------------------------------------------------------------ meta
    @property
    def meta(self) -> dict[str, Any]:
        with open(os.path.join(self.root, "meta.json")) as f:
            return json.load(f)

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.root, "meta.json"))

    def _swap_meta(self, meta: dict[str, Any]) -> None:
        mpath = os.path.join(self.root, "meta.json")
        tmp = f"{mpath}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, mpath)

    def _reclaim_unreferenced(self) -> None:
        """Remove generation dirs no list pointer references: superseded
        generations from a previous swap and crash orphans. Runs at the
        START of build/refresh (deferred reclamation), never at swap
        time, so a reader holding the previous meta keeps its files."""
        if not os.path.isdir(self.root):
            return
        referenced: set[str] = set()
        if self.exists():
            m = self.meta
            referenced = set(m.get("list_dirs", {}).values()) | {m.get("data_rel")}
        for d in os.listdir(self.root):
            if d.startswith("d-") and d not in referenced:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    @staticmethod
    def _scan_list_dirs(gen_dir: str, data_rel: str) -> dict[str, str]:
        """list id -> generation pointer for every list the writer
        produced under one generation dir."""
        out: dict[str, str] = {}
        if os.path.isdir(gen_dir):
            for d in os.listdir(gen_dir):
                if d.startswith("_list="):
                    out[d.split("=", 1)[1]] = data_rel
        return out

    # ----------------------------------------------------------- build
    @classmethod
    def build(
        cls,
        table,
        name: str,
        vec_col: str = "embedding",
        id_cols: Sequence[str] | None = None,
        kind: str = "lsh",
        n_planes: int = 4,
        n_lists: int = 8,
        seed: int = 7,
        max_iter: int = 10,
        fit_sample: float | None = None,
        target_file_rows: int = 2_000_000,
        _state: list[list[float]] | None = None,
    ) -> "VectorIndex":
        """Materialize the assignment column as partition layout.

        ``_state`` (internal) injects already-fitted planes/centroids so
        a full rebuild reassigns without refitting — assignments stay
        comparable across index generations.
        """
        if kind not in ("lsh", "ivf"):
            raise ValueError(f"unknown index kind: {kind!r}")
        idx = cls(table, name)
        idx._reclaim_unreferenced()
        snap = table._snapshot()
        id_cols = list(id_cols or snap["key_cols"])
        df = table.read().select(*id_cols, vec_col)

        if _state is not None:
            state = _state
        elif kind == "lsh":
            dim = df.select(F.size(vec_col)).first()
            if dim is None:
                raise ValueError("cannot index an empty table without _state")
            state = S._planes(int(dim[0]), n_planes, seed)
        else:
            fit_df = df.sample(fit_sample, seed=seed) if fit_sample else df
            state = S.ivf_fit_centroids(
                fit_df, n_lists=n_lists, vec_col=vec_col, seed=seed, max_iter=max_iter
            )

        assigned = cls._assign(df, kind, state, vec_col)
        token = uuid.uuid4().hex[:8]
        data_rel = f"d-{token}"
        out = os.path.join(idx.root, data_rel)
        os.makedirs(idx.root, exist_ok=True)
        # repartition by the assignment so each list's rows co-locate
        # into that list's directory with one writer per list;
        # maxRecordsPerFile bounds file size when a list is hot
        (
            assigned.repartition(F.col("_list"))
            .write.option("maxRecordsPerFile", target_file_rows)
            .partitionBy("_list")
            .parquet(out)
        )

        meta = {
            "kind": kind,
            "vec_col": vec_col,
            "id_cols": id_cols,
            "seed": seed,
            "n_planes": n_planes if kind == "lsh" else None,
            "n_lists": n_lists if kind == "ivf" else None,
            "state": state,  # hyperplanes (lsh) or centroids (ivf)
            "built_from_version": snap["version"],
            "data_rel": data_rel,
            # per-list generation pointers — incremental refresh moves
            # only the affected lists' pointers to a new generation
            "list_dirs": cls._scan_list_dirs(out, data_rel),
            # write/fit knobs carried across refreshes so file sizing
            # and refit sampling stay what the user configured at build
            "target_file_rows": target_file_rows,
            "fit_sample": fit_sample,
        }
        idx._swap_meta(meta)
        return idx

    @staticmethod
    def _assign(df: DataFrame, kind: str, state, vec_col: str) -> DataFrame:
        """Project to (ids, vec, _list) under the fixed hash family."""
        if kind == "lsh":
            return df.withColumn("_list", S.rp_lsh_bucket_expr(vec_col, state))
        return S.with_ivf_list(df, state, vec_col=vec_col, out_col="_list")

    # --------------------------------------------------------- refresh
    def refresh(self, incremental: bool = True) -> "VectorIndex":
        """Catch the index up to the table's CURRENT version, reusing
        the fitted planes/centroids (no refit — same hash family, so
        probe behavior is unchanged; only membership updates).

        Incremental path: consume the table's net change-data feed
        (``LakeTable.changes``) between the indexed version and now,
        assign each changed row under the fixed state (delete /
        update-preimage rows carry the OLD payload, so their assignment
        IS the old list — no index scan needed to locate stale copies),
        and rewrite ONLY the affected lists: each one's surviving rows
        (old files anti-join changed keys) plus its new upserts land in
        a fresh generation dir and that list's meta pointer moves.
        Unchanged lists keep their files byte-identical. Cost is
        O(changed rows + affected lists' rows), the same cost class as
        the merge that advanced the table — this is what makes the
        index maintainable under a 10^10-event stream, vs the full
        rescan+rewrite of ``incremental=False``.

        Falls back to a full rebuild when the feed is unavailable
        (indexed snapshot vacuumed away) or the meta predates per-list
        pointers. Every path updates this index and returns it, so
        ``last_refresh`` is its receipt whichever path ran. Reference
        analog: Milvus maintains its HNSW index incrementally on upsert
        (bear/db.py:72-83 — index upkeep is implicit in the store)."""
        m = self.meta
        cur = self.table._version()
        if m["built_from_version"] == cur:
            return self

        def full() -> "VectorIndex":
            VectorIndex.build(
                self.table,
                self.name,
                vec_col=m["vec_col"],
                id_cols=m["id_cols"],
                kind=m["kind"],
                n_planes=m["n_planes"] or 4,
                n_lists=m["n_lists"] or 8,
                seed=m["seed"],
                target_file_rows=m.get("target_file_rows", 2_000_000),
                fit_sample=m.get("fit_sample"),
                _state=m["state"],
            )
            self.last_refresh = {"mode": "full"}
            return self

        if not incremental or "list_dirs" not in m:
            return full()
        try:
            return self._refresh_incremental(m, cur)
        except FileNotFoundError:
            # indexed snapshot vacuumed away — the change feed's lower
            # bound is gone; a full rebuild from the current snapshot is
            # always available
            logger.warning(
                "index %r: snapshot v%s unavailable for change-feed "
                "refresh; falling back to full rebuild",
                self.name, m["built_from_version"],
            )
            return full()
        except Exception:
            # index-follows-table must not kill the stream that drives
            # it: a failed incremental attempt leaves only an orphan
            # generation (swept at next build/refresh) — the meta never
            # swapped, so a from-scratch rebuild is still correct
            logger.warning(
                "index %r: incremental refresh failed; falling back to "
                "full rebuild", self.name, exc_info=True,
            )
            return full()

    def _refresh_incremental(self, m: dict[str, Any], cur: int) -> "VectorIndex":
        ch = self.table.changes(m["built_from_version"], include_preimage=True)

        self._reclaim_unreferenced()
        vec_col, id_cols = m["vec_col"], m["id_cols"]
        kind, state = m["kind"], m["state"]
        assigned_ch = self._assign(
            ch.select(*id_cols, vec_col, "_change_type"), kind, state, vec_col
        )
        # localCheckpoint once: affected-list discovery, the key
        # anti-join and the upsert union all reuse the assigned feed
        # without recomputing the change diff three times
        assigned_ch = assigned_ch.localCheckpoint(eager=True)
        # bounded driver scalar: distinct list ids touched by the feed
        # (≤ number of changed lists, never rows)
        affected = sorted(
            r[0] for r in assigned_ch.select("_list").distinct().collect()
        )
        if not affected:
            # compaction-only range: membership unchanged, just advance
            meta = dict(m, built_from_version=cur)
            self._swap_meta(meta)
            self.last_refresh = {
                "mode": "incremental", "lists_rewritten": [],
                "dirs_read": [], "files_read": [],
            }
            return self

        list_dirs: dict[str, str] = dict(m["list_dirs"])
        # old files for ONLY the affected lists, grouped by generation
        # so the partition column parses from each generation's basePath
        by_gen: dict[str, list[str]] = {}
        for b in affected:
            rel = list_dirs.get(str(b))
            if rel is None:
                continue  # brand-new list: nothing on disk yet
            d = os.path.join(self.root, rel, f"_list={b}")
            if os.path.isdir(d):
                by_gen.setdefault(rel, []).append(d)
        dirs_read = [d for ds in by_gen.values() for d in ds]
        files_read = [
            os.path.join(d, f)
            for d in dirs_read
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        ]

        changed_keys = assigned_ch.select(*id_cols).distinct()
        parts = []
        file_schema = self._file_schema(m, with_list=True)
        for rel, ds in by_gen.items():
            old = (
                self.table.spark.read.schema(file_schema)
                .option("basePath", os.path.join(self.root, rel))
                .parquet(*ds)
            )
            parts.append(old.select(*id_cols, vec_col, "_list"))
        upserts = assigned_ch.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select(*id_cols, vec_col, "_list")
        if parts:
            survivors = parts[0]
            for p in parts[1:]:
                survivors = survivors.unionByName(p)
            # no mandatory broadcast: the changed-key set is O(batch) on
            # a streaming cadence but O(backlog) on a long catch-up —
            # AQE picks broadcast vs shuffle from the actual size
            survivors = survivors.join(
                changed_keys, on=list(id_cols), how="left_anti"
            )
            new_data = survivors.unionByName(upserts)
        else:
            new_data = upserts

        token = uuid.uuid4().hex[:8]
        data_rel = f"d-{token}"
        out = os.path.join(self.root, data_rel)
        (
            new_data.repartition(F.col("_list"))
            .write.option("maxRecordsPerFile", m.get("target_file_rows", 2_000_000))
            .partitionBy("_list")
            .parquet(out)
        )
        written = self._scan_list_dirs(out, data_rel)
        # move pointers: every affected list now lives in the new
        # generation; an affected list with no surviving rows simply
        # loses its pointer (empty list)
        for b in affected:
            list_dirs.pop(str(b), None)
        list_dirs.update(written)
        meta = dict(
            m,
            built_from_version=cur,
            data_rel=data_rel,
            list_dirs=list_dirs,
        )
        self._swap_meta(meta)
        self.last_refresh = {
            "mode": "incremental",
            "lists_rewritten": [int(b) for b in affected],
            "dirs_read": dirs_read,
            "files_read": files_read,
        }
        return self

    # ----------------------------------------------------------- probe
    def probe_lists(
        self,
        query: Sequence[float],
        n_probe: int = 2,
        max_probe_hamming: int = 2,
        max_probe_lists: int = 64,
    ) -> list[int]:
        """Driver-side list selection from the persisted index state —
        a handful of flops on one vector, never a Spark job.

        LSH multi-probe is margin-ordered and budget-bounded (the
        multi-probe LSH heuristic): buckets are visited shell by shell
        (hamming distance 0, 1, 2, …), and within a shell the flips
        whose hyperplane margins |q·p| are smallest come first — those
        are the planes the query most nearly crossed, so their flips
        hold the likeliest near-neighbours. Enumeration stops at
        ``max_probe_lists``: each shell is walked best-first by margin
        sum with a small heap and yields only as many flip sets as the
        remaining budget needs, so the work is O(budget · h), never
        C(n_planes, h) — at n_planes=24 the full 2-shell enumeration is
        ~300 combos but a 64-budget probe pops at most 63."""
        m = self.meta
        qv = np.asarray(list(query), dtype=float)
        if m["kind"] == "ivf":
            d = [float(np.sum((qv - np.asarray(c)) ** 2)) for c in m["state"]]
            return sorted(int(i) for i in np.argsort(d)[:n_probe])
        margins = [abs(float(np.dot(qv, np.asarray(p)))) for p in m["state"]]
        qbucket = 0
        for i, p in enumerate(m["state"]):
            if float(np.dot(qv, np.asarray(p))) > 0:
                qbucket |= 1 << i
        nb = len(m["state"])
        by_margin = sorted(range(nb), key=lambda i: (margins[i], i))
        lists: list[int] = [qbucket]
        for h in range(1, min(max_probe_hamming, nb) + 1):
            need = max_probe_lists - len(lists)
            if need <= 0:
                break
            # best-first over h-subsets of margin ranks: start from the h
            # smallest; a pop's successors bump one rank into the gap
            # above it, which never lowers the sum, so pops come out in
            # exact margin-sum order (ties by rank) and the budget keeps
            # the true `need` cheapest flips
            first = tuple(range(h))
            heap = [(sum(margins[by_margin[r]] for r in first), first)]
            queued = {first}
            while heap and need > 0:
                _, ranks = heapq.heappop(heap)
                b = qbucket
                for r in ranks:
                    b ^= 1 << by_margin[r]
                lists.append(b)
                need -= 1
                for j, r in enumerate(ranks):
                    if r + 1 < (ranks[j + 1] if j + 1 < h else nb):
                        nxt = ranks[:j] + (r + 1,) + ranks[j + 1 :]
                        if nxt not in queued:
                            queued.add(nxt)
                            cost = sum(margins[by_margin[x]] for x in nxt)
                            heapq.heappush(heap, (cost, nxt))
        return sorted(lists)

    def _file_schema(self, meta: dict, with_list: bool = False) -> T.StructType:
        """Schema of the index data files: the id and vector columns typed
        as in the table's payload schema, plus the ``_list`` partition
        column for a ``basePath`` read. Declared rather than inferred,
        because parquet schema inference starts a Spark job per read."""
        payload = self.table.payload_schema()
        fields = [payload[c] for c in (*meta["id_cols"], meta["vec_col"])]
        if with_list:
            fields.append(T.StructField("_list", T.LongType()))
        return T.StructType(fields)

    def _list_dir(self, meta: dict, b: int) -> str | None:
        rel = meta.get("list_dirs", {}).get(str(b), meta.get("data_rel"))
        if rel is None:
            return None
        d = os.path.join(self.root, rel, f"_list={b}")
        return d if os.path.isdir(d) else None

    def _candidate_scan(self, lists: Sequence[int]) -> DataFrame | None:
        """Read ONLY the probed lists' directories (partition pruning by
        construction: unlisted directories are never passed to the
        reader). Records the pruning receipt in ``last_probe``;
        ``files_total`` (an O(all lists) listdir) is only filled when
        ``debug_receipts`` is set, so production probes do O(probed)
        driver listings."""
        m = self.meta
        dirs = [d for b in lists if (d := self._list_dir(m, b)) is not None]

        def _parquets(d: str) -> list[str]:
            return [
                os.path.join(d, f)
                for f in sorted(os.listdir(d))
                if f.endswith(".parquet")
            ]

        files_total = None
        if self.debug_receipts:
            all_dirs = [
                d
                for b in m.get("list_dirs", {})
                if (d := self._list_dir(m, int(b))) is not None
            ]
            files_total = sum(len(_parquets(d)) for d in set(all_dirs))
        self.last_probe = {
            "lists_probed": [int(b) for b in lists],
            "dirs": dirs,
            "files_read": [p for d in dirs for p in _parquets(d)],
            "files_total": files_total,
        }
        if not dirs:
            return None
        return self.table.spark.read.schema(self._file_schema(m)).parquet(*dirs)

    def probe(
        self,
        query: Sequence[float],
        k: int = 10,
        n_probe: int = 2,
        max_probe_hamming: int = 2,
        max_probe_lists: int = 64,
        allow_stale: bool = False,
    ) -> DataFrame:
        """ANN top-k against the persisted layout: prune to the probed
        lists' files, score exactly within them. Matches the scan-time
        operators (same hash family, same candidate set, same scoring)
        — the only difference is which files get opened."""
        m = self.meta
        current = self.table._version()
        if m["built_from_version"] != current and not allow_stale:
            raise StaleVectorIndex(
                f"index {self.name!r} built from v{m['built_from_version']} "
                f"but table is at v{current}; refresh() or allow_stale=True"
            )
        lists = self.probe_lists(
            query,
            n_probe=n_probe,
            max_probe_hamming=max_probe_hamming,
            max_probe_lists=max_probe_lists,
        )
        cand = self._candidate_scan(lists)
        id_col = m["id_cols"][0]
        if cand is None:
            id_type = self.table.payload_schema()[id_col].dataType
            schema = T.StructType(
                [
                    T.StructField(id_col, id_type),
                    T.StructField("cos_sim", T.DoubleType()),
                ]
            )
            return self.table.spark.createDataFrame([], schema)
        return S.cosine_rank(cand, query, k, id_col, m["vec_col"])
