"""Durable ANN index state for LakeTable — the persisted half of the
LSH / IVF scale story.

The probe operators in ``operators/similarity.py`` compute the bucket /
inverted-list assignment as a scan-time expression: correct, but every
probe scans the whole corpus. The reference keeps its ANN index as
durable store-side state (reference: bear/config.py:23-35 — the HNSW
index params live on the collection; bear/model.py:131-141 — the index
is created once and reused by every search). The Spark-native
equivalent of "index as physical state" is FILE LAYOUT: materialize
the assignment as one set of files per list, so probing N lists reads
exactly those lists' files and never opens any other file — probing IS
file pruning.

Layout under ``<table_root>/_index/<name>/``::

    meta.json     atomic (os.replace): kind, params, fitted state
                  (hyperplanes or centroids), built_from_version, and
                  ``lists``: each list id's file entries
    d-<token>/    the files one build or refresh wrote, per list, by the
                  table's Arrow writer (``write_bucket``, with the list id
                  in place of the bucket): id cols + vector column,
                  key-sorted

The index data is a COPY (projection) of the table, like any secondary
index: the base table's physical layout is key-hash buckets chosen for
MERGE locality, so probe locality needs its own layout. Build and refresh
are one more per-bucket Arrow kernel (``arrow_apply.make_index_kernel``)
under ``LakeTable._run_kernel``, with the list id as the bucket, so they
run where a merge would: on the driver when small, else in one
``applyInArrow`` job. ``meta.json`` keeps each list's manifest entries,
so an incremental ``refresh()`` rewrites only the lists whose membership
changed, unchanged lists keep their entries (and files) as they are, and
a probe reads its lists' file paths straight from meta — the same
manifest idea the table itself uses for buckets.

Generation lifecycle: each build or refresh writes to a fresh
``d-<token>`` dir, then ``meta.json`` swaps atomically. Superseded
generations are NOT deleted at swap time — a concurrent reader's lazy
Spark job may have listed files from the old meta and would hit
FileNotFound mid-action — reclamation is deferred to the START of the
next build/refresh, which removes any ``d-*`` dir no list entry
references (this also sweeps crash orphans: a dir whose build died
before the meta swap is never referenced).

At 100 TB: ``n_lists`` (or ``2**n_planes``) is sized so one list is a
few files (~sqrt(N) lists is the IVF norm); the initial assignment job
is one scan + one kernel per list, i.e. the same cost class as one merge
of the full table, amortized over every subsequent probe — and from then on ``refresh()`` consumes the table's net
change-data feed (``LakeTable.changes``), so keeping the index current
costs O(changed rows + affected lists), the same cost class as the
merge that advanced the table. The IVF quantizer is fit on the driver
(``operators.similarity.ivf_fit_centroids_local``) over a deterministic
sample of at most ``IVF_SAMPLE_PER_LIST`` vectors per list. The IVF
assignment itself dispatches between the linear JVM array expression
(small n_lists x dim) and an Arrow-batched BLAS argmin kernel (large)
via ``operators.similarity.with_ivf_list``.
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

from bear_spark.lake import table as lake_table
from bear_spark.operators import similarity as S
from bear_spark.schema import sql_ident

logger = logging.getLogger(__name__)

#: vectors per list in the IVF fit's driver sample (the faiss convention:
#: a coarse quantizer needs a few hundred points per centroid, not the
#: corpus)
IVF_SAMPLE_PER_LIST = 256


class StaleVectorIndex(RuntimeError):
    """The table advanced past the version the index was built from."""


class VectorIndex:
    def __init__(self, table, name: str):
        self.table = table
        self.name = name
        self.root = os.path.join(table.root, "_index", name)
        # filled by the last _candidate_scan: {"lists_probed",
        # "files_read", "files_total"} — the probe's pruning receipt,
        # all from meta
        self.last_probe: dict[str, Any] | None = None
        # filled by the last refresh: {"mode", "lists_rewritten",
        # "files_read"} for an incremental one — its touched-only
        # receipt — or {"mode": "full"}
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
        """Remove generation dirs no list entry references: superseded
        generations from a previous swap and crash orphans. Runs at the
        START of build/refresh (deferred reclamation), never at swap
        time, so a reader holding the previous meta keeps its files."""
        if not os.path.isdir(self.root):
            return
        referenced: set[str] = set()
        if self.exists():
            lists = self.meta.get("lists", {})
            referenced = {fi["path"].split(os.sep)[0] for fs in lists.values() for fi in fs}
        for d in os.listdir(self.root):
            if d.startswith("d-") and d not in referenced:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

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
        _state: list[list[float]] | None = None,
    ) -> "VectorIndex":
        """Materialize the assignment as per-list files.

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
        df = table.read(version=snap["version"]).select(*id_cols, vec_col)

        if _state is not None:
            state = _state
        else:
            # sized from the most common length among the vectors that
            # are there (the shortest on a tie), so one stray vector,
            # wherever it sorts, cannot size the whole index
            lens = (
                df.where(F.col(vec_col).isNotNull())
                .groupBy(F.size(vec_col).alias("dim")).count()
                .toArrow().to_pylist()
            )
            if not lens:
                raise ValueError("cannot index a table with no vector without _state")
            dim = min(lens, key=lambda r: (-r["count"], r["dim"]))["dim"]
            if kind == "lsh":
                state = S._planes(dim, n_planes, seed)
            else:
                state = cls._fit_ivf(df, vec_col, id_cols, dim, n_lists, seed)

        meta = {
            "kind": kind,
            "vec_col": vec_col,
            "id_cols": id_cols,
            "seed": seed,
            "n_planes": n_planes if kind == "lsh" else None,
            "n_lists": n_lists if kind == "ivf" else None,
            "state": state,  # hyperplanes (lsh) or centroids (ivf)
            "lists": {},
        }
        os.makedirs(idx.root, exist_ok=True)
        rows = cls._assign(df, kind, state, vec_col).withColumn("_change_type", F.lit("insert"))
        idx._apply(meta, rows, snap["version"])
        return idx

    @staticmethod
    def _fit_ivf(
        df: DataFrame, vec_col: str, id_cols: list[str], dim: int, n_lists: int, seed: int
    ) -> list[list[float]]:
        """Centroids fit on the driver over a sample of ``df``: at most
        ``IVF_SAMPLE_PER_LIST * n_lists`` vectors of length ``dim`` (null
        and wrong-length ones skipped), the first by a hash of the id
        columns, so a build at the same version and seed fits the same
        centroids. Fewer valid vectors than ``n_lists`` raise
        ``ValueError``."""
        ids = [F.col(c) for c in id_cols]
        sample = (
            df.where(F.size(vec_col) == dim)
            .orderBy(F.xxhash64(*ids), *ids)
            .limit(IVF_SAMPLE_PER_LIST * n_lists)
            .select(F.col(vec_col).cast("array<double>"))
            .toArrow()
        )
        flat = sample.column(0).combine_chunks().flatten()
        X = flat.to_numpy(zero_copy_only=False).reshape(-1, dim)
        return S.ivf_fit_centroids_local(X, n_lists=n_lists, seed=seed)

    @staticmethod
    def _assign(df: DataFrame, kind: str, state, vec_col: str) -> DataFrame:
        """Project to (ids, vec, _list) under the fixed hash family."""
        if kind == "lsh":
            return df.withColumn("_list", S.rp_lsh_bucket_expr(vec_col, state))
        return S.with_ivf_list(df, state, vec_col=vec_col, out_col="_list")

    def _apply(self, meta: dict[str, Any], rows: DataFrame, version: int) -> list[int]:
        """Run the index kernel (``arrow_apply.make_index_kernel``) once per
        ``_list`` of ``rows`` — assigned rows with ``_change_type`` —
        placed by ``LakeTable._run_kernel``, then swap in ``meta`` with
        the rewritten lists' entries at ``version``. Returns the
        rewritten list ids."""
        from bear_spark.lake.arrow_apply import (
            REWRITE_RESULT_SCHEMA,
            arrow_schema,
            make_index_kernel,
        )

        cols = [*meta["id_cols"], meta["vec_col"]]
        kernel = make_index_kernel(
            arrow_schema(self._file_schema(meta)),
            os.path.join(self.root, f"d-{uuid.uuid4().hex[:8]}"),
            self.root,
            meta["id_cols"],
            meta["lists"],
            lake_table.TARGET_FILE_ROWS,
        )
        state = meta["state"]
        n = 1 << len(state) if meta["kind"] == "lsh" else len(state)
        res = self.table._run_kernel(
            rows.selectExpr(*map(sql_ident, cols), "CAST(_list AS INT) AS _bucket", "_change_type"),
            kernel, REWRITE_RESULT_SCHEMA, n,
        )
        written = {str(r["_bucket"]): json.loads(r["files"]) for r in res}
        # a list whose every row left it has no files and drops out
        lists = {b: fs for b, fs in {**meta["lists"], **written}.items() if fs}
        self._swap_meta(dict(meta, built_from_version=version, lists=lists))
        return sorted(int(b) for b in written)

    # --------------------------------------------------------- refresh
    def refresh(self) -> "VectorIndex":
        """Catch the index up to the table's CURRENT version, reusing
        the fitted planes/centroids (no refit — same hash family, so
        probe behavior is unchanged; only membership updates).

        Incremental path: consume the table's net change-data feed
        (``LakeTable.changes``) between the indexed version and now,
        assign each changed row under the fixed state (delete /
        update-preimage rows carry the OLD payload, so their assignment
        IS the old list — no index scan needed to locate stale copies),
        and run the index kernel over ONLY the lists the feed touches:
        each reads its list's files (entries from meta), drops the
        changed keys, appends its upserts and writes the list with the
        table's Arrow writer (``write_bucket``) into a fresh generation
        dir; meta then takes those lists' new entries. Unchanged lists
        keep their entries and files byte-identical. Cost is O(changed
        rows + affected lists' rows), the same cost class as the merge
        that advanced the table, and a small feed runs the kernel on the
        driver, as a small merge does.

        Falls back to a full rebuild when the feed is unavailable
        (indexed snapshot vacuumed away) or the incremental path fails
        (e.g. a meta.json with no per-list entries). Every path updates
        this index and returns it, so ``last_refresh`` is its receipt
        whichever path ran. Reference analog: Milvus maintains its HNSW
        index incrementally on upsert (bear/db.py:72-83 — index upkeep
        is implicit in the store)."""
        m = self.meta
        cur = self.table._version()
        if m["built_from_version"] == cur:
            return self
        try:
            ch = self.table.changes(m["built_from_version"], cur, include_preimage=True)
            self._reclaim_unreferenced()
            vec_col = m["vec_col"]
            rows = self._assign(
                ch.select(*m["id_cols"], vec_col, "_change_type"), m["kind"], m["state"], vec_col
            )
            rewritten = self._apply(m, rows, cur)
            self.last_refresh = {
                "mode": "incremental",
                "lists_rewritten": rewritten,
                "files_read": [
                    os.path.join(self.root, fi["path"])
                    for b in rewritten
                    for fi in m["lists"].get(str(b), [])
                ],
            }
            return self
        except FileNotFoundError:
            # indexed snapshot vacuumed away — the change feed's lower
            # bound is gone; a full rebuild from the current snapshot is
            # always available
            logger.warning(
                "index %r: snapshot v%s unavailable for change-feed "
                "refresh; falling back to full rebuild",
                self.name, m["built_from_version"],
            )
        except Exception:
            # index-follows-table must not kill the stream that drives
            # it: a failed incremental attempt leaves only an orphan
            # generation (swept at next build/refresh) — the meta never
            # swapped, so a from-scratch rebuild is still correct
            logger.warning(
                "index %r: incremental refresh failed; falling back to "
                "full rebuild", self.name, exc_info=True,
            )
        VectorIndex.build(
            self.table,
            self.name,
            vec_col=m["vec_col"],
            id_cols=m["id_cols"],
            kind=m["kind"],
            n_planes=m["n_planes"] or 4,
            n_lists=m["n_lists"] or 8,
            seed=m["seed"],
            _state=m["state"],
        )
        self.last_refresh = {"mode": "full"}
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

    def _file_schema(self, meta: dict) -> T.StructType:
        """Schema of the index data files: the id and vector columns typed
        as in the table's payload schema. Declared rather than inferred,
        because parquet schema inference starts a Spark job per read."""
        payload = self.table.payload_schema()
        return T.StructType([payload[c] for c in (*meta["id_cols"], meta["vec_col"])])

    def _candidate_scan(self, lists: Sequence[int]) -> DataFrame | None:
        """Read ONLY the probed lists' files, as meta lists them (pruning
        by construction: no other file is passed to the reader). Records
        the pruning receipt in ``last_probe``."""
        m = self.meta
        entries = m["lists"]
        files = [
            os.path.join(self.root, fi["path"]) for b in lists for fi in entries.get(str(b), [])
        ]
        self.last_probe = {
            "lists_probed": [int(b) for b in lists],
            "files_read": files,
            "files_total": sum(len(fs) for fs in entries.values()),
        }
        if not files:
            return None
        return self.table.spark.read.schema(self._file_schema(m)).parquet(*files)

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
