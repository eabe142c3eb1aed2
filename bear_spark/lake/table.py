"""LakeTable — copy-on-write table with atomic snapshots and a commit log.

Layout on disk::

    <root>/
      _meta/VERSION          # current snapshot version (atomic os.replace)
      _meta/v<N>.json        # immutable snapshot documents
      data/s<N>-<token>/_bucket_dir=<K>/*.parquet  # files staged by an attempt at commit N

A snapshot records: the schema registry (all schema versions), the data
files per bucket (each tagged with the schema version it was written
under, its tombstone flag, and its exact row count), the commit log
(applied [lo, hi] offset ranges per source_partition), the event-time
watermark, and a lineage tail of recent commit metrics.

Guarantees (the Iceberg-shaped contract the north rule asks for):

- **Atomic commits**: data files are staged first, then the snapshot
  JSON and the VERSION pointer are swapped via ``os.replace`` —
  readers see either the old or the new snapshot, never a mix
  (two-phase: stage data, swap metadata).
- **Exactly-once**: the commit log lives INSIDE the snapshot, so
  "rows applied" and "offsets advanced" are one atomic write. A
  replayed micro-batch whose ``(source_partition, offset)`` ranges are
  already applied is filtered/skipped before any data is written.
- **Idempotent convergence**: MERGE applies last-writer-wins by
  ``(ts, lsn)``; deletes keep tombstones so a late, stale update can
  never resurrect a deleted row. Replaying any prefix of the changelog,
  any number of times, in any order, converges to the same final state.
- **Pruned copy-on-write**: rows are bucketed by ``xxhash64(conv_id)``;
  a MERGE rewrites only the buckets its batch touches.

The reference analog is the Milvus collection + PK upsert
(reference: bear/db.py:22-50 DDL, bear/db.py:72-83 upsert) and the
delete-after-ingest offset commit (reference: bear/ingest.py:25-27),
which is only at-least-once; this table upgrades that to exactly-once.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import uuid
from collections.abc import Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from bear_spark.lake import reconcile
from bear_spark.schema import schema_from_json, schema_to_json

_SYS_FIELDS = [
    T.StructField("_lsn", T.LongType(), True),
    T.StructField("_deleted", T.BooleanType(), True),
    T.StructField("_bucket", T.IntegerType(), True),
]
_ENVELOPE = ("op", "lsn", "source_partition", "offset", "_src_file")


#: default row bound of one data file written by merge, split and
#: compaction (each takes ``target_file_rows=`` to override it)
TARGET_FILE_ROWS = 2_000_000


class ConcurrentCommit(RuntimeError):
    pass


def merge_partition_count(
    buckets: int, shuffle_parts: int, default_parallelism: int
) -> int:
    """Task count for the bucket-clustered merge shuffle.

    ``spark.sql.shuffle.partitions`` tracks ~2x the session's core
    count, so the merge asks for 2 tasks per core — bit-identical task
    counts to the banked scaling evidence. More tasks per core buy more
    task WAVES (finer load balancing when bucket sizes are
    heterogeneous) at the cost of more fixed per-task overhead; an A/B
    at local[8]/16M events on THIS repo's uniform-bucket benchmark
    measured 4-vs-2 dead neutral (39.5s mean both), so the count stays
    at the measured configuration. Always capped by the bucket count (a
    bucket never splits across tasks — the kernel's
    clustered-distribution requirement).
    """
    want = max(shuffle_parts, 2 * max(1, default_parallelism))
    return max(1, min(buckets, want))


def _merge_ranges(ranges: list[list[int]]) -> list[list[int]]:
    """Merge overlapping/adjacent [lo, hi] offset ranges."""
    out: list[list[int]] = []
    for lo, hi in sorted(map(tuple, ranges)):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # manifest documents are immutable once written, so a path->list
        # cache makes steady-state metadata reads O(touched buckets):
        # untouched buckets' manifests are served from memory
        self._mcache: dict[str, list[dict]] = {}

    # ------------------------------------------------------------- DDL
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: Sequence[str],
        seq_col: str = "ts",
        bucket_cols: Sequence[str] | None = None,
        num_buckets: int = 16,
        lateness_sec: int = 3600,
        drop_late: bool = False,
        overwrite: bool = False,
    ) -> "LakeTable":
        """CREATE TABLE: write snapshot v0 (no data files).

        ``schema`` is the payload schema; system columns (_lsn, _deleted,
        _bucket) are managed by the table. ``seq_col`` + lsn form the LWW
        order. ``bucket_cols`` default to the first key column.

        ``drop_late=True`` makes MERGE discard (after counting) events
        whose event time is below the table watermark. That makes the
        watermark a hard admission boundary, which is what lets
        ``expire_tombstones`` safely reclaim delete markers: once no
        event below the watermark can ever apply, an expired tombstone
        cannot be beaten by a late stale update. The default (False)
        applies every event no matter how late — replay converges to
        the full-history oracle, but tombstones must then be kept (or
        expired only with an explicit, operator-owned cutoff).
        """
        meta = os.path.join(root, "_meta")
        if os.path.exists(meta):
            if not overwrite:
                raise FileExistsError(f"table exists at {root}")
            shutil.rmtree(root)
        os.makedirs(meta, exist_ok=True)
        snap = {
            "version": 0,
            "key_cols": list(key_cols),
            "seq_col": seq_col,
            "bucket_cols": list(bucket_cols or key_cols[:1]),
            "num_buckets": int(num_buckets),
            "lateness_sec": int(lateness_sec),
            "drop_late": bool(drop_late),
            "schemas": {"0": schema_to_json(schema)},
            "current_schema_version": 0,
            # bucket(str) -> relpath of an immutable per-bucket manifest
            # file listing [{path, schema_version, deleted, rows, kmin,
            # kmax}]. Sharding the file inventory out of the snapshot
            # document keeps commit metadata writes O(touched buckets)
            # — the Iceberg manifest-tree answer, one level deep
            "manifests": {},
            "commit_log": {},  # source_partition(str) -> [[lo, hi] applied offset ranges]
            "watermark_ts": None,  # ISO string of event-time watermark
            "lineage": [],
        }
        tbl = LakeTable(spark, root)
        tbl._write_snapshot(snap, expect_version=None)
        return tbl

    @staticmethod
    def load(spark: SparkSession, root: str) -> "LakeTable":
        t = LakeTable(spark, root)
        snap = t._snapshot()  # raises if missing
        if "manifests" not in snap:
            raise ValueError(
                f"snapshot v{snap['version']} at {root} keeps its file list "
                "inline (no 'manifests' key); only per-bucket manifest "
                "snapshots are supported"
            )
        return t

    # -------------------------------------------------------- metadata
    def _version(self) -> int:
        with open(os.path.join(self.root, "_meta", "VERSION")) as f:
            return int(f.read().strip())

    def _snapshot(self, version: int | None = None) -> dict[str, Any]:
        """Current snapshot, or any retained historical version
        (snapshot documents are immutable — time travel is just
        reading an older one)."""
        v = self._version() if version is None else int(version)
        with open(os.path.join(self.root, "_meta", f"v{v}.json")) as f:
            return json.load(f)

    def _write_snapshot(self, snap: dict[str, Any], expect_version: int | None) -> None:
        """Two-phase commit, phase 2: publish metadata atomically."""
        meta = os.path.join(self.root, "_meta")
        if expect_version is not None and self._version() != expect_version:
            raise ConcurrentCommit(
                f"table advanced past v{expect_version} during commit"
            )
        path = os.path.join(meta, f"v{snap['version']}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, path)
        vtmp = os.path.join(meta, f"VERSION.tmp-{uuid.uuid4().hex}")
        with open(vtmp, "w") as f:
            f.write(str(snap["version"]))
        os.replace(vtmp, os.path.join(meta, "VERSION"))

    # -- per-bucket file manifests ------------------------------------
    def _load_manifest(self, rel: str) -> list[dict]:
        cached = self._mcache.get(rel)
        if cached is None:
            with open(os.path.join(self.root, rel)) as f:
                cached = json.load(f)["files"]
            self._mcache[rel] = cached
        return cached

    def _files(
        self, snap: dict, buckets: Sequence[int] | None = None
    ) -> dict[str, list[dict]]:
        """bucket(str) -> file list, resolved through the manifest
        pointers — of every bucket, or of only ``buckets`` (a commit
        hydrates just the buckets it touches)."""
        ms = snap["manifests"]
        keys = ms if buckets is None else [str(b) for b in buckets if str(b) in ms]
        return {b: self._load_manifest(ms[b]) for b in keys}

    def _write_manifest(self, version: int, bucket, files: list[dict]) -> str:
        # write-once: a per-call uuid token keeps two writers racing on
        # the same base version from clobbering each other's manifest —
        # the loser's ConcurrentCommit then leaves the winner's already-
        # committed pointers intact. Names are only reachable through
        # snapshot pointers, so they need not be deterministic.
        token = uuid.uuid4().hex[:8]
        rel = os.path.join(
            "_meta", "manifests", f"m{int(version):08d}-b{bucket}-{token}.json"
        )
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"files": files}, f)
        os.replace(tmp, path)
        self._mcache[rel] = files
        return rel

    def _commit_manifests(
        self, snap: dict, new_version: int, changed: dict[str, list[dict]]
    ) -> dict[str, str]:
        """New manifest pointer map: write one manifest per CHANGED
        bucket (empty list drops the bucket), carry every other pointer
        by reference — commit metadata I/O is O(touched buckets)."""
        manifests = dict(snap["manifests"])
        for b, fs in changed.items():
            if fs:
                manifests[b] = self._write_manifest(new_version, b, fs)
            else:
                manifests.pop(b, None)
        return manifests

    # public introspection -------------------------------------------------
    @property
    def snapshot(self) -> dict[str, Any]:
        """Current snapshot with the file inventory hydrated from the
        per-bucket manifests (observability surface; the raw document
        only carries manifest pointers)."""
        snap = self._snapshot()
        return {**snap, "files": self._files(snap)}

    def payload_schema(self, snap: dict | None = None) -> T.StructType:
        snap = snap or self._snapshot()
        return schema_from_json(snap["schemas"][str(snap["current_schema_version"])])

    def applied_offsets(self) -> dict[int, list[list[int]]]:
        """Applied [lo, hi] offset ranges per source partition."""
        return {
            int(k): [list(map(int, r)) for r in v]
            for k, v in self._snapshot()["commit_log"].items()
        }

    def history(self) -> list[dict]:
        return self._snapshot()["lineage"]

    # ------------------------------------------------------------- read
    @staticmethod
    def _effective_buckets(snap: dict) -> int:
        """Bucket-id space of the CURRENT layout: ``rebucket.to`` while an
        incremental split is in progress (child ids run up to it), else
        ``num_buckets``."""
        rb = snap.get("rebucket")
        return int(rb["to"]) if rb else int(snap["num_buckets"])

    def _bucket_expr(self, snap: dict):
        """Routing expression for a key under the snapshot's layout.

        Plain layout: ``pmod(xxhash64(cols), num_buckets)``. During an
        incremental split (linear-hashing style, see ``split_buckets``)
        old buckets below ``split_ptr`` have already been rewritten into
        their children under the larger modulus, so keys hashing there
        route with ``rebucket.to``; everything else still routes with
        the old modulus. O(1) per row either way — the split frontier
        is a single comparison, never a membership list."""
        cols = [F.col(c) for c in snap["bucket_cols"]]
        h = F.xxhash64(*cols)
        base = F.pmod(h, F.lit(int(snap["num_buckets"])))
        rb = snap.get("rebucket")
        if rb:
            return (
                F.when(
                    base < F.lit(int(rb["split_ptr"])),
                    F.pmod(h, F.lit(int(rb["to"]))),
                )
                .otherwise(base)
                .cast("int")
            )
        return base.cast("int")

    def _iter_files(self, snap: dict, buckets: Sequence[int] | None, include_deleted: bool = True):
        for files in self._files(snap, buckets).values():
            for fi in files:
                if not include_deleted and fi.get("deleted"):
                    continue
                yield fi

    def _file_rows(self, snap: dict, buckets: Sequence[int] | None) -> int:
        """Row count for a bucket set from snapshot metadata (no scan)."""
        return sum(fi["rows"] for fi in self._iter_files(snap, buckets))

    @staticmethod
    def _key_range_from_footer(pf, key_col: str):
        """(min, max) of ``key_col`` from the parquet row-group stats,
        normalized to JSON-storable scalars (str for binary/utf8,
        int/float as-is). None when unavailable or non-normalizable —
        callers must then treat the file as intersecting everything."""
        try:
            idx = pf.schema_arrow.get_field_index(key_col)
            if idx < 0:
                return None
            lo = hi = None
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                if not isinstance(mn, (str, int, float)) or isinstance(mn, bool):
                    return None
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            return None if lo is None else (lo, hi)
        except Exception:
            return None

    def _enumerate_staged(
        self, stage_rel: str, stage_dir: str, touched: Sequence[int], schema_version: int
    ) -> dict[str, list[dict]]:
        """List staged files per bucket; exact row counts and first-key
        min/max ranges come from the parquet footers (driver-side
        metadata read, no Spark job). The key range is what lets later
        merges skip files a batch cannot touch."""
        import pyarrow.parquet as pq

        key0 = self._snapshot()["key_cols"][0] if touched else None
        new_files: dict[str, list[dict]] = {str(b): [] for b in touched}
        for b in touched:
            for deleted, dsub in ((False, "_del=false"), (True, "_del=true")):
                bdir = os.path.join(stage_dir, f"_bucket_dir={b}", dsub)
                if not os.path.isdir(bdir):
                    continue
                for fn in sorted(os.listdir(bdir)):
                    if fn.endswith(".parquet"):
                        fpath = os.path.join(bdir, fn)
                        pf = pq.ParquetFile(fpath)
                        rng = self._key_range_from_footer(pf, key0)
                        new_files[str(b)].append(
                            {
                                "path": os.path.relpath(fpath, self.root),
                                "schema_version": schema_version,
                                "deleted": deleted,
                                "rows": pf.metadata.num_rows,
                                "kmin": None if rng is None else rng[0],
                                "kmax": None if rng is None else rng[1],
                            }
                        )
        return new_files

    def _read_files(
        self,
        snap: dict,
        buckets: Sequence[int] | None,
        include_deleted: bool = True,
    ) -> DataFrame:
        """Scan data files (system cols included), aligned to the current
        schema. Files are grouped by the schema version they were written
        under; each group is read with its physical schema and cast up —
        this is how old files survive type widening. Tombstone-only files
        are dir-pruned when ``include_deleted`` is false."""
        return self._scan(snap, self._iter_files(snap, buckets, include_deleted))

    def _scan(self, snap: dict, files) -> DataFrame:
        """Scan the given manifest entries of ``snap`` under declared
        schemas, aligned to the snapshot's current schema."""
        target = T.StructType(self.payload_schema(snap).fields + _SYS_FIELDS)
        by_ver: dict[int, list[str]] = {}
        for fi in files:
            by_ver.setdefault(int(fi["schema_version"]), []).append(
                os.path.join(self.root, fi["path"])
            )
        if not by_ver:
            return self.spark.createDataFrame([], target)
        parts = []
        for ver, paths in sorted(by_ver.items()):
            phys = T.StructType(
                schema_from_json(snap["schemas"][str(ver)]).fields + _SYS_FIELDS
            )
            df = self.spark.read.schema(phys).parquet(*paths)
            parts.append(reconcile.align(df, target))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self,
        include_deleted: bool = False,
        include_system: bool = False,
        buckets: Sequence[int] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Read the table; ``version`` time-travels to a retained
        snapshot (valid until ``vacuum()`` reclaims its data files)."""
        snap = self._snapshot(version)
        df = self._read_files(snap, buckets, include_deleted=include_deleted)
        if not include_deleted:
            # belt-and-braces residual filter on top of the dir pruning
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        if not include_system:
            df = df.drop("_lsn", "_deleted", "_bucket")
        return df

    def lookup(self, *key_values) -> DataFrame:
        """Point lookup by bucket-column value(s): computes the bucket
        driver-side and scans ONLY that bucket's files (plus the parquet
        min/max pruning inside them — data files are key-sorted).
        Reference analog: `client.get(ids=[...])` point reads
        (reference: docs/examples/milvus_engine_access.ipynb)."""
        snap = self._snapshot()
        payload = self.payload_schema(snap)
        # hash with the bucket columns' REAL types: xxhash64 is
        # type-sensitive, so a stringly-typed probe would land in the
        # wrong bucket for non-string keys. An Arrow-built row is a
        # driver-local relation, so the probe runs no Spark job.
        fields = T.StructType([payload[c] for c in snap["bucket_cols"]])
        key = pa.Table.from_pylist(
            [dict(zip(fields.names, key_values))], schema=to_arrow_schema(fields)
        )
        row = self.spark.createDataFrame(key, fields)
        bucket = row.select(self._bucket_expr(snap)).collect()[0][0]
        df = self.read(buckets=[bucket])
        for col, val in zip(snap["bucket_cols"], key_values):
            df = df.filter(F.col(col) == val)
        return df

    # ------------------------------------------------- vector indexes
    def build_vector_index(self, name: str, **kw):
        """Materialize durable ANN index state (LSH bucket / IVF list
        assignment) as partition layout under ``<root>/_index/<name>``
        — the persisted analog of the reference's store-side HNSW index
        (reference: bear/config.py:23-35). Probing the index reads only
        the probed lists' files. See lake/vector_index.py."""
        from bear_spark.lake.vector_index import VectorIndex

        return VectorIndex.build(self, name, **kw)

    def vector_index(self, name: str):
        """Load an existing vector index by name (raises if absent)."""
        from bear_spark.lake.vector_index import VectorIndex

        idx = VectorIndex(self, name)
        if not idx.exists():
            raise FileNotFoundError(f"no vector index {name!r} under {idx.root}")
        return idx

    def vector_index_names(self) -> list[str]:
        """Names of every persisted vector index on this table."""
        base = os.path.join(self.root, "_index")
        if not os.path.isdir(base):
            return []
        return sorted(
            d
            for d in os.listdir(base)
            if os.path.exists(os.path.join(base, d, "meta.json"))
        )

    # ------------------------------------------------- change data feed
    def _changed_buckets(self, snap_from: dict, snap_to: dict) -> list[int]:
        """Buckets whose file set differs between two snapshots.

        Manifest pointers are write-once, so pointer inequality IS file-set
        inequality — the diff is an O(num_buckets) driver-side string
        compare, no file I/O."""
        a, b = snap_from["manifests"], snap_to["manifests"]
        return sorted(
            int(k) for k in (set(a) | set(b)) if a.get(k) != b.get(k)
        )

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_preimage: bool = False,
    ) -> DataFrame:
        """NET row-level changes between two retained snapshots — the
        change-data-feed read that lets a downstream incremental consumer
        (a derived table, an index, a cache) catch up without rescanning
        the table. Analogous to Iceberg's changelog scan / Delta's CDF,
        with one difference stated up front: the feed is the NET effect
        between the two snapshots (a key inserted then deleted inside the
        range emits nothing), which is exactly what idempotent downstream
        MERGE consumers need.

        Returns payload columns plus ``_change_type`` ('insert' /
        'update_postimage' / 'update_preimage' / 'delete' — preimage rows
        only when ``include_preimage``) and ``_commit_version`` (the
        ``to`` snapshot version). Delete rows carry the LAST-SEEN payload
        (the old row), like Delta CDF.

        Scale shape: snapshots are diffed by manifest POINTER equality
        (driver-side, no I/O), so only buckets some commit in the range
        actually touched are considered, and within those only the files
        that differ between the two manifests are read. A file present in
        both snapshots is row-identical on both sides, and by the merge's
        one-row-per-key invariant no key in it has a row anywhere else in
        either snapshot, so it cannot contribute a change. The old/new
        full-outer join therefore shuffles only rewritten files' rows,
        never the table, and runs once: every output row comes from one
        projection of it. A compaction-only range — files rewritten, rows
        identical — reads the rewritten files but emits zero rows (rows
        are compared by their LWW version ``(seq, lsn)``, not by file
        identity).

        Both sides are aligned to the ``to`` snapshot's schema first, so
        a range that spans a schema evolution yields the feed in the
        evolved schema (old rows surface with widened types / nulled new
        columns). Requires both snapshots' data files to still exist —
        i.e. ``from_version`` must not have been ``vacuum()``ed away.
        """
        snap_to = self._snapshot(to_version)
        snap_from = self._snapshot(from_version)
        if snap_from["version"] > snap_to["version"]:
            raise ValueError(
                f"from_version {snap_from['version']} is newer than "
                f"to_version {snap_to['version']}"
            )
        key_cols = snap_to["key_cols"]
        seq_col = snap_to["seq_col"]
        target = self.payload_schema(snap_to)
        out_cols = [f.name for f in target.fields]
        buckets = self._changed_buckets(snap_from, snap_to)
        files_from = list(self._iter_files(snap_from, buckets))
        files_to = list(self._iter_files(snap_to, buckets))
        shared = {fi["path"] for fi in files_from} & {fi["path"] for fi in files_to}

        def side(snap: dict, files: list[dict], prefix: str) -> DataFrame:
            df = self._scan(snap, [fi for fi in files if fi["path"] not in shared])
            # align across schema evolution to the `to` schema + system cols
            df = reconcile.align(df, T.StructType(target.fields + _SYS_FIELDS))
            return df.select(
                *[F.col(c).alias(f"{prefix}{c}") for c in out_cols],
                F.col("_lsn").alias(f"{prefix}lsn"),
                F.coalesce("_deleted", F.lit(False)).alias(f"{prefix}del"),
            )

        old = side(snap_from, files_from, "_o_")
        new = side(snap_to, files_to, "_n_")
        cond = [old[f"_o_{k}"].eqNullSafe(new[f"_n_{k}"]) for k in key_cols]
        j = old.join(new, cond, "full_outer")

        o_live = F.col("_o_lsn").isNotNull() & ~F.col("_o_del")
        n_live = F.col("_n_lsn").isNotNull() & ~F.col("_n_del")
        same_ver = F.col("_o_lsn").eqNullSafe(F.col("_n_lsn")) & F.col(
            f"_o_{seq_col}"
        ).eqNullSafe(F.col(f"_n_{seq_col}"))
        ctype = (
            F.when(~o_live & n_live, F.lit("insert"))
            .when(o_live & ~n_live, F.lit("delete"))
            .when(o_live & n_live & ~same_ver, F.lit("update_postimage"))
        )
        j = j.withColumn("_change_type", ctype).filter(
            F.col("_change_type").isNotNull()
        )
        if include_preimage:
            # an update emits its preimage row too: one joined row fans
            # out to two, so the join still runs once
            j = j.withColumn(
                "_change_type",
                F.explode(
                    F.when(
                        F.col("_change_type") == "update_postimage",
                        F.array(F.lit("update_postimage"), F.lit("update_preimage")),
                    ).otherwise(F.array(F.col("_change_type")))
                ),
            )
        # deletes carry the last-seen (old) payload, as do preimages;
        # inserts and postimages come from the new side
        use_old = F.col("_change_type").isin("delete", "update_preimage")
        return j.select(
            *[
                F.when(use_old, F.col(f"_o_{c}")).otherwise(F.col(f"_n_{c}")).alias(c)
                for c in out_cols
            ],
            "_change_type",
            F.lit(snap_to["version"]).alias("_commit_version"),
        )

    # ------------------------------------------------------------ MERGE
    def merge(
        self,
        batch: DataFrame,
        fence: bool = True,
        target_file_rows: int = TARGET_FILE_ROWS,
    ) -> dict[str, Any]:
        """MERGE a batch of change events into the table (copy-on-write).

        ``batch`` carries the payload columns plus ``op`` ('I'/'U'/'D')
        and ``lsn``; if ``source_partition``/``offset`` are present and
        ``fence`` is true, already-applied offsets are filtered out and
        the commit log advances atomically with the data.

        ONE job, for every payload type: shuffle ONLY the batch by
        bucket; each task reads its buckets' existing files directly,
        rewrites them (file-granularity COW, the Arrow kernel in
        lake/arrow_apply.py), and returns its slice of the batch stats
        (offset ranges, lateness, max event time), which the driver
        folds into the commit. The table never crosses the shuffle and
        the batch is scanned exactly once.

        Row-count metrics come from the parquet footers of the staged
        files (driver-side metadata, no extra scan). ``target_file_rows``
        bounds each written file, as in ``compact`` and ``split_buckets``.
        """
        snap = self._snapshot()
        expect_version = snap["version"]
        key_cols = snap["key_cols"]
        seq_col = snap["seq_col"]

        # --- schema reconciliation (registry-style) ---
        payload_batch = T.StructType(
            [f for f in batch.schema.fields if f.name not in _ENVELOPE]
        )
        table_schema = self.payload_schema(snap)
        new_schema, changes = reconcile.evolve(table_schema, payload_batch)
        schema_version = int(snap["current_schema_version"])
        if changes:
            schema_version += 1

        # bucket columns are hash-routing state: widening one would
        # re-bucket every existing key (xxhash64 is type-sensitive), so
        # evolution must never touch their types
        for c in snap["bucket_cols"]:
            if new_schema[c].dataType != table_schema[c].dataType:
                raise reconcile.SchemaConflict(
                    f"bucket column {c} cannot change type "
                    f"({table_schema[c].dataType.simpleString()} -> "
                    f"{new_schema[c].dataType.simpleString()}): xxhash64 routing "
                    "would re-bucket existing keys"
                )

        has_env = {"source_partition", "offset"} <= set(batch.columns)

        # --- exactly-once fencing on (source_partition, offset_range) ---
        # The commit log stores APPLIED OFFSET RANGES per source
        # partition (not a high-water mark): changelog files may arrive
        # out of order, and a replayed file must be fenced while an
        # unseen earlier file must still apply.
        # The range table is Arrow-built: a driver-local relation, where
        # a list-built one would run a Python job on every merge.
        if fence and has_env and snap["commit_log"]:
            rows = [
                (int(p), int(lo), int(hi))
                for p, ranges in snap["commit_log"].items()
                for lo, hi in ranges
            ]
            if rows:
                sp, lo, hi = zip(*rows)
                rng = self.spark.createDataFrame(
                    pa.table({
                        "_sp": pa.array(sp, pa.int32()),
                        "_lo": pa.array(lo, pa.int64()),
                        "_hi": pa.array(hi, pa.int64()),
                    }),
                    "_sp int, _lo long, _hi long",
                )
                batch = batch.join(
                    F.broadcast(rng),
                    (batch["source_partition"] == rng["_sp"])
                    & batch["offset"].between(rng["_lo"], rng["_hi"]),
                    "left_anti",
                )

        wm = snap["watermark_ts"]
        # segment id = source file (one changelog chunk = one contiguous
        # offset segment). Must be materialized as a column BEFORE any
        # persist boundary: input_file_name() evaluated on top of a
        # cached relation returns "".
        seg_expr = (
            F.col("_src_file") if "_src_file" in batch.columns else F.input_file_name()
        )
        # hash the bucket columns at the TABLE's types, not the batch's
        # arrival types: xxhash64 is type-sensitive, so a batch whose
        # bucket column arrives narrower (int where the table is long —
        # which _align_to would silently widen AFTER bucketing) would
        # route the same key to a different bucket than prior batches
        # and than lookup()'s payload-schema probe
        for c in snap["bucket_cols"]:
            batch = batch.withColumn(c, F.col(c).cast(new_schema[c].dataType))
        src = (
            batch.withColumn("_bucket", self._bucket_expr(snap))
            .withColumn("_segment", seg_expr)
        )

        new_version = expect_version + 1
        # per-ATTEMPT unique stage dir: a crashed or racing merge
        # attempt at the same target version must never share a stage
        # directory with this one — enumeration would commit its
        # orphan chunk files into the table. Orphan attempt dirs are
        # unreferenced by any snapshot and reclaimed by vacuum().
        stage_rel = os.path.join(
            "data", f"s{new_version}-{uuid.uuid4().hex[:8]}"
        )
        stage_dir = os.path.join(self.root, stage_rel)
        shuffle_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))

        st = self._merge_arrow_job(
            src, snap, new_schema, stage_dir, shuffle_parts, has_env, wm,
            key_cols, seq_col, target_file_rows,
        )
        if st is None:
            return {
                "version": snap["version"],
                "skipped": True,
                "rows_in": 0,
                "reason": "batch empty after exactly-once fence",
            }
        (
            touched, rows_in, late_events, max_ts, seg, per_partition, kept,
            max_key_rows, kernel_stats,
        ) = st

        # fold this batch's contiguous per-(partition, segment) offset
        # ranges into the commit log
        new_offsets: dict[str, list[list[int]]] = {
            k: [list(r) for r in v] for k, v in snap["commit_log"].items()
        }
        if has_env:
            for (sp, _f), rng in seg.items():
                new_offsets.setdefault(str(sp), []).append(list(rng))
            for k in new_offsets:
                new_offsets[k] = _merge_ranges(new_offsets[k])

        # commit metadata needs only the TOUCHED buckets' file lists
        fmap = self._files(snap, touched)
        # target rows actually read = touched buckets minus carried-over
        # files (range-pruned files were never opened)
        tgt_rows = sum(
            fi["rows"]
            for b in touched
            for fi in fmap.get(str(b), [])
            if fi["path"] not in kept.get(b, ())
        )
        new_files = self._enumerate_staged(stage_rel, stage_dir, touched, schema_version)
        changed = {
            b: [fi for fi in fmap.get(b, []) if fi["path"] in kept.get(int(b), ())] + staged
            for b, staged in new_files.items()
        }
        manifests = self._commit_manifests(snap, new_version, changed)
        rows_written = sum(fi["rows"] for fs in new_files.values() for fi in fs)
        tombstones = sum(
            fi["rows"] for fs in new_files.values() for fi in fs if fi["deleted"]
        )
        new_wm = wm
        if max_ts is not None:
            # watermark = max event time seen - allowed lateness
            cand = (max_ts - datetime.timedelta(seconds=snap["lateness_sec"])).isoformat(sep=" ")
            if new_wm is None or cand > new_wm:
                new_wm = cand

        metrics = {
            "version": new_version,
            "skipped": False,
            "rows_in": rows_in,
            "rows_after_fence": rows_in,
            "late_events": late_events,
            "late_dropped": late_events if snap.get("drop_late") else 0,
            "target_rows_read": tgt_rows,
            "rows_written": rows_written,
            "tombstones": tombstones,
            "dedup_drops": rows_in + tgt_rows - rows_written,
            "buckets_touched": len(touched),
            "schema_changes": changes,
            # per-source-partition applied-row lineage (north rule:
            # per-partition lineage/metrics); -1 = envelope-less batch
            "rows_by_partition": {str(k): v for k, v in sorted(per_partition.items())},
            **kernel_stats,
            # batch skew stat: the most events one key value (first key
            # column) sent to its bucket's task
            "max_key_rows": max_key_rows,
            "max_key_share": round(max_key_rows / rows_in, 4) if rows_in else 0.0,
        }

        schemas = dict(snap["schemas"])
        if changes:
            schemas[str(schema_version)] = schema_to_json(new_schema)

        new_snap = {
            **snap,
            "version": new_version,
            "schemas": schemas,
            "current_schema_version": schema_version,
            "manifests": manifests,
            "commit_log": new_offsets,
            "watermark_ts": new_wm,
            "lineage": (snap["lineage"] + [metrics])[-200:],
        }
        # phase 2: atomic metadata swap (aborts → staged files orphaned,
        # cleaned by vacuum(); the table itself is untouched)
        self._write_snapshot(new_snap, expect_version=expect_version)
        return metrics

    # ------------------------------------------------------ apply job
    @staticmethod
    def _align_to(df: DataFrame, schema: T.StructType, *extra) -> DataFrame:
        have = set(df.columns)
        cols = [
            (
                F.col(f.name).cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in schema.fields
        ]
        return df.select(*cols, *extra)

    def _merge_arrow_job(
        self,
        src: DataFrame,
        snap: dict,
        new_schema: T.StructType,
        stage_dir: str,
        shuffle_parts: int,
        has_env: bool,
        wm: str | None,
        key_cols: Sequence[str],
        seq_col: str,
        target_file_rows: int,
    ):
        """File-granularity COW in ONE job: shuffle only the batch, by
        bucket; each task reads its buckets' existing files directly,
        writes the replacements (Arrow kernel, lake/arrow_apply.py), and
        returns its batch-stats slice. The table rows never cross the
        shuffle — at steady state this moves O(batch) bytes, not
        O(batch + table).

        Returns (touched, rows_in, late_events, max_ts, seg_ranges,
        per_partition, kept, max_key_rows, kernel_stats), or None if the
        batch is empty after the exactly-once fence.
        """
        from bear_spark.lake.arrow_apply import (
            APPLY_RESULT_SCHEMA,
            arrow_schema,
            make_apply_kernel,
        )

        part_col = F.col("source_partition").cast("int") if has_env else F.lit(-1)
        off_col = F.col("offset").cast("long") if has_env else F.lit(-1).cast("long")
        src_evt = self._align_to(
            src,
            new_schema,
            F.col("_bucket"),
            F.col("op").alias("_op"),
            F.col("lsn").alias("_elsn"),
            part_col.alias("_sp"),
            off_col.alias("_off"),
            F.col("_segment"),
        )
        # tasks learn their bucket's files via the manifest POINTERS —
        # each task reads its own (immutable) manifest from shared
        # storage and range-skips files the batch cannot touch, so both
        # the closure and task memory stay O(touched), not O(table).
        kernel = make_apply_kernel(
            arrow_schema(new_schema),
            stage_dir,
            list(key_cols),
            seq_col,
            {int(b): rel for b, rel in snap["manifests"].items()},
            wm_iso=wm,
            drop_late=bool(snap.get("drop_late")),
            table_root=self.root,
            target_file_rows=target_file_rows,
        )
        # pin the partition count: REPARTITION_BY_NUM both defeats AQE
        # coalescing (sized on the small batch-side shuffle, blind to
        # the table files each task will read) and satisfies the
        # clustered distribution applyInArrow requires — no second
        # exchange.
        n_part = merge_partition_count(
            self._effective_buckets(snap),
            shuffle_parts,
            self.spark.sparkContext.defaultParallelism,
        )
        res = (
            src_evt.repartition(n_part, "_bucket")
            .groupBy("_bucket")
            .applyInArrow(kernel, APPLY_RESULT_SCHEMA)
            .collect()
        )
        if not res:
            return None

        touched = sorted(int(r["_bucket"]) for r in res)
        rows_in = late_events = 0
        max_ts = None
        seg: dict[tuple[int, str], list[int]] = {}
        per_partition: dict[int, int] = {}
        kept: dict[int, set[str]] = {
            int(r["_bucket"]): set(json.loads(r["kept"])) for r in res
        }
        for r in res:
            for s in json.loads(r["stats"]):
                rows_in += s["c"]
                late_events += s["late"]
                per_partition[int(s["sp"])] = per_partition.get(int(s["sp"]), 0) + s["c"]
                if s["mts"] is not None:
                    t = datetime.datetime.fromisoformat(s["mts"])
                    if max_ts is None or t > max_ts:
                        max_ts = t
                k = (int(s["sp"]), s["f"])
                if k in seg:
                    seg[k][0] = min(seg[k][0], s["lo"])
                    seg[k][1] = max(seg[k][1], s["hi"])
                else:
                    seg[k] = [s["lo"], s["hi"]]
        max_key_rows = max(int(r["max_key_rows"]) for r in res)
        # contended-row-split work evidence (wall-clock-independent):
        # rows through the LWW sort vs rows that bypassed it
        kstats = {
            "lww_rows": sum(int(r["lww_rows"]) for r in res),
            "passthrough_rows": sum(int(r["passthrough_rows"]) for r in res),
        }
        return (
            touched, rows_in, late_events, max_ts, seg, per_partition, kept,
            max_key_rows, kstats,
        )

    # ------------------------------------------------------- maintenance
    def split_buckets(
        self,
        factor: int | None = None,
        max_buckets: int | None = None,
        target_file_rows: int = TARGET_FILE_ROWS,
    ) -> dict[str, Any]:
        """Grow the bucket count by ``factor`` — incrementally.

        A bucket count chosen at CREATE cannot follow a table from 10^7
        to 10^10 rows: buckets are the COW rewrite granularity, so too
        few means huge per-merge file rewrites and too little merge
        parallelism. A monolithic re-shuffle of the whole table into
        ``factor * num_buckets`` new buckets is not an option at that
        size either, so this is the linear-hashing answer (Litwin 1980;
        the same trick behind Dynamo-style partition doubling): with
        ``bucket = pmod(xxhash64(k), N)`` and a target of ``f*N``, the
        keys of old bucket ``b`` land exactly in the child buckets
        ``{b, b+N, .., b+(f-1)N}`` — splitting a bucket only ever reads
        that one bucket's files. No cross-bucket shuffle exists even in
        principle, and a split pointer makes it resumable:

        - snapshot carries ``rebucket = {to, split_ptr}`` while a split
          is in flight; old buckets below the pointer are rewritten,
          the rest still live under the old modulus;
        - routing (merge, lookup) is one comparison per key
          (``_bucket_expr``) — the table stays fully online, merges and
          reads interleave freely with split steps;
        - each call splits up to ``max_buckets`` old buckets (None =
          all remaining) as ONE commit, so per-commit work and the
          crash-rollback unit are operator-bounded; rerunning after a
          crash resumes at the committed pointer;
        - when the pointer reaches the old count, ``num_buckets``
          becomes ``to`` and the marker disappears.

        ``factor`` must be an integer >= 2 (power-of-two growth is the
        classic choice but any integer works; default 2). ``None``
        continues an in-flight split as-is; a conflicting explicit
        ``factor`` raises. Rewritten files are
        key-sorted and bounded by ``target_file_rows`` (same knob as
        ``merge``/``compact``). Reference analog: the reference rebuilds
        its whole Milvus collection to re-shard (bear/db.py drop +
        re-ingest); here growth is online and incremental.
        """
        if max_buckets is not None and int(max_buckets) < 1:
            raise ValueError(f"max_buckets must be >= 1, got {max_buckets}")
        snap = self._snapshot()
        n = int(snap["num_buckets"])
        rb = snap.get("rebucket")
        if rb is None:
            if factor is None:
                # continue-only call with nothing in flight: a no-op, so
                # a crash-resume loop that overruns the completed split
                # cannot start doubling the table again
                return {
                    "buckets_split": 0, "split_ptr": 0, "num_buckets": n,
                    "target_buckets": n, "complete": True, "rows_rewritten": 0,
                }
            factor = int(factor)
            if factor < 2:
                raise ValueError(f"split factor must be >= 2, got {factor}")
            rb = {"to": n * factor, "split_ptr": 0}
        elif factor is not None and int(rb["to"]) != n * int(factor):
            raise ValueError(
                f"split to {rb['to']} buckets already in progress "
                f"(ptr={rb['split_ptr']}); finish it before changing factor"
            )
        to, ptr = int(rb["to"]), int(rb["split_ptr"])
        f = to // n
        k = n - ptr if max_buckets is None else min(int(max_buckets), n - ptr)
        tfr = max(1, int(target_file_rows))
        expect_version = snap["version"]
        new_version = expect_version + 1
        old_range = list(range(ptr, ptr + k))
        children = [b + i * n for b in old_range for i in range(f)]
        # only the buckets being split hydrate their manifests — the
        # same touched-only rule as merge; O(k) metadata per step, not
        # O(num_buckets)
        fmap = self._files(snap, old_range)
        rows_rewritten = sum(
            fi["rows"] for b in old_range for fi in fmap.get(str(b), [])
        )
        changed: dict[str, list[dict]] = {str(c): [] for c in children}
        if rows_rewritten:
            # per-ATTEMPT unique stage dir (same crash/race rationale as
            # merge/compact; orphans are vacuum()ed)
            stage_rel = os.path.join("data", f"s{new_version}-{uuid.uuid4().hex[:8]}")
            stage_dir = os.path.join(self.root, stage_rel)
            key_cols = snap["key_cols"]
            shuffle_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            h = F.xxhash64(*[F.col(c) for c in snap["bucket_cols"]])
            df = self._read_files(snap, old_range).withColumn(
                "_bucket", F.pmod(h, F.lit(to)).cast("int")
            )
            (
                df.withColumn("_bucket_dir", F.col("_bucket"))
                .withColumn("_del", F.col("_deleted"))
                .repartition(max(1, min(len(children), shuffle_parts)), "_bucket")
                .sortWithinPartitions("_bucket_dir", "_del", *key_cols)
                .write.option("maxRecordsPerFile", tfr)
                .partitionBy("_bucket_dir", "_del")
                .mode("overwrite")
                .parquet(stage_dir)
            )
            staged = self._enumerate_staged(
                stage_rel, stage_dir, children, int(snap["current_schema_version"])
            )
            for b, fs in staged.items():
                changed[b] = fs
        manifests = self._commit_manifests(snap, new_version, changed)
        new_ptr = ptr + k
        new_snap = {**snap, "version": new_version, "manifests": manifests}
        # splits are maintenance commits, durable in table history like
        # merge metrics (an operator explaining a latency bump must see
        # which versions were split steps, not just that files moved)
        new_snap["lineage"] = (
            snap["lineage"]
            + [{
                "op": "split", "version": new_version,
                "buckets_split": k, "rows_rewritten": rows_rewritten,
                "split_ptr": new_ptr if new_ptr < n else 0,
                "num_buckets": to if new_ptr >= n else n,
                "target_buckets": to,
            }]
        )[-200:]
        if new_ptr >= n:
            new_snap["num_buckets"] = to
            new_snap.pop("rebucket", None)
        else:
            new_snap["rebucket"] = {"to": to, "split_ptr": new_ptr}
        self._write_snapshot(new_snap, expect_version=expect_version)
        return {
            "buckets_split": k,
            "split_ptr": 0 if new_ptr >= n else new_ptr,
            "num_buckets": int(new_snap["num_buckets"]),
            "target_buckets": to,
            "complete": new_ptr >= n,
            "rows_rewritten": rows_rewritten,
        }

    def maybe_split(
        self,
        max_rows_per_bucket: int,
        factor: int = 2,
        max_buckets: int | None = None,
    ) -> dict[str, Any] | None:
        """Auto-growth policy: split when buckets outgrow their budget.

        Buckets are the COW rewrite granularity, so a count sized for
        10^7 rows is wrong at 10^10 — this is the self-tuning wrapper a
        streaming applier calls after each merge. Decision is pure
        driver-side manifest metadata (per-bucket row totals from
        parquet footers already in the snapshot), no table scan:

        - a split already in flight is continued, ``max_buckets`` old
          buckets per call, so maintenance interleaves with ingest in
          bounded steps instead of stalling a micro-batch;
        - otherwise, if MEAN live rows per bucket exceeds
          ``max_rows_per_bucket``, a new ``factor``-way split starts
          (mean, not max: a single hot bucket is a key-skew problem the
          salting path owns — doubling the bucket count would not fix
          it, pmod sends the same hot key to one child).

        Returns the ``split_buckets`` result, or None when the table is
        within budget.
        """
        if max_rows_per_bucket <= 0:
            return None
        snap = self._snapshot()
        if snap.get("rebucket"):
            return self.split_buckets(max_buckets=max_buckets)
        live_rows = sum(
            fi["rows"]
            for fs in self._files(snap).values()
            for fi in fs
            if not fi.get("deleted")
        )
        if live_rows / max(1, int(snap["num_buckets"])) <= max_rows_per_bucket:
            return None
        return self.split_buckets(factor=factor, max_buckets=max_buckets)

    def compact(
        self,
        target_files_per_bucket: int = 1,
        target_file_rows: int = TARGET_FILE_ROWS,
    ) -> dict[str, int]:
        """Rewrite FRAGMENTED buckets' files into fewer, larger files.

        COW merges leave multiple files per bucket (chunked writes, task
        parallelism); compaction is the standard lake answer. Only
        buckets holding more than ``target_files_per_bucket`` data files
        are rewritten — every other bucket's manifest pointer is carried
        by reference, so the job reads O(fragmented), not O(table). A
        no-op (nothing fragmented) commits nothing. Rewritten files are
        re-sorted by key (the lake file sort-order spec: tight parquet
        min/max ranges for merge-time pruning).

        ``target_file_rows`` (same knob/default as ``merge``) bounds the
        rewritten files AND raises the fragmentation floor: a bucket
        whose file count is already justified by its row count
        (ceil(rows / target_file_rows)) is NOT fragmentation — merging
        its chunks back into one unbounded file would defeat the merge
        writer's size bound and set up a split/re-merge cycle between
        the two maintenance passes."""
        snap = self._snapshot()
        fmap = self._files(snap)
        tgt = max(1, int(target_files_per_bucket))
        tfr = max(1, int(target_file_rows))

        def _fragmented(fs: list[dict]) -> bool:
            # live and tombstone files land in separate dirs, so the
            # floor is one file per side — count the sides separately,
            # each against max(target, files its rows legitimately need)
            def _side(side_fs: list[dict]) -> bool:
                rows = sum(fi["rows"] for fi in side_fs)
                floor = max(tgt, -(-rows // tfr))
                return len(side_fs) > floor

            return _side([fi for fi in fs if not fi.get("deleted")]) or _side(
                [fi for fi in fs if fi.get("deleted")]
            )

        frag = sorted(int(b) for b, fs in fmap.items() if _fragmented(fs))
        if not frag:
            return {"buckets_compacted": 0, "files_before": 0}
        files_before = sum(len(fmap[str(b)]) for b in frag)
        expect_version = snap["version"]
        new_version = expect_version + 1
        # per-ATTEMPT unique stage dir: a crashed or racing merge
        # attempt at the same target version must never share a stage
        # directory with this one — enumeration would commit its
        # orphan chunk files into the table. Orphan attempt dirs are
        # unreferenced by any snapshot and reclaimed by vacuum().
        stage_rel = os.path.join(
            "data", f"s{new_version}-{uuid.uuid4().hex[:8]}"
        )
        stage_dir = os.path.join(self.root, stage_rel)
        key_cols = snap["key_cols"]
        df = self._read_files(snap, frag)
        (
            df.withColumn("_bucket_dir", F.col("_bucket"))
            .withColumn("_del", F.col("_deleted"))
            .repartition(len(frag), "_bucket")
            .sortWithinPartitions("_bucket_dir", "_del", *key_cols)
            .write.option("maxRecordsPerFile", tfr)
            .partitionBy("_bucket_dir", "_del")
            .mode("overwrite")
            .parquet(stage_dir)
        )
        staged = self._enumerate_staged(
            stage_rel, stage_dir, frag, int(snap["current_schema_version"])
        )
        manifests = self._commit_manifests(
            snap, new_version, {b: fs for b, fs in staged.items()}
        )
        new_snap = {**snap, "version": new_version, "manifests": manifests}
        self._write_snapshot(new_snap, expect_version=expect_version)
        return {"buckets_compacted": len(frag), "files_before": files_before}

    def expire_tombstones(self, older_than: str | None = None) -> dict[str, int]:
        """Drop delete markers with event time below ``older_than``
        (default: the table watermark). Tombstones exist to beat
        late, stale updates; the "no resurrection after expiry"
        guarantee therefore needs MERGE to refuse events below the
        watermark — that is the ``drop_late=True`` table policy. On a
        drop-late table the watermark default is safe: no admissible
        event can resurrect an expired key. On a keep-late table
        (default) arbitrarily late events still apply, so expiry
        forfeits the guarantee for them — the cutoff must then be an
        explicit, operator-owned ``older_than`` (e.g. a retention
        horizon behind which the source provably emits nothing).
        Commits a new snapshot (only tombstone files rewritten; live
        files untouched)."""
        snap = self._snapshot()
        if older_than is None and not snap.get("drop_late"):
            raise ValueError(
                "expire_tombstones without an explicit older_than cutoff is "
                "only safe on a drop_late=True table: this table applies "
                "events below the watermark, so an expired tombstone could "
                "be resurrected by a late stale update. Pass older_than "
                "explicitly to accept that trade-off."
            )
        cutoff = older_than or snap["watermark_ts"]
        if cutoff is None:
            return {"expired": 0, "kept": 0}
        expect_version = snap["version"]
        new_version = expect_version + 1
        # per-ATTEMPT unique stage dir: a crashed or racing merge
        # attempt at the same target version must never share a stage
        # directory with this one — enumeration would commit its
        # orphan chunk files into the table. Orphan attempt dirs are
        # unreferenced by any snapshot and reclaimed by vacuum().
        stage_rel = os.path.join(
            "data", f"s{new_version}-{uuid.uuid4().hex[:8]}"
        )
        stage_dir = os.path.join(self.root, stage_rel)
        seq_col = snap["seq_col"]

        fmap = self._files(snap)
        dead_buckets = sorted(
            int(b)
            for b, fs in fmap.items()
            if any(fi.get("deleted") for fi in fs)
        )
        if not dead_buckets:
            return {"expired": 0, "kept": 0}
        dead = self._read_files(snap, dead_buckets).filter(
            F.coalesce(F.col("_deleted"), F.lit(False))
        )
        keep = dead.filter(
            F.col(seq_col).isNull() | (F.col(seq_col) >= F.lit(cutoff).cast("timestamp"))
        )
        (
            keep.withColumn("_bucket_dir", F.col("_bucket"))
            .withColumn("_del", F.lit(True))
            .repartition(max(1, min(len(dead_buckets), 32)), "_bucket")
            .write.partitionBy("_bucket_dir", "_del")
            .mode("overwrite")
            .parquet(stage_dir)
        )
        staged = self._enumerate_staged(
            stage_rel, stage_dir, dead_buckets, int(snap["current_schema_version"])
        )
        changed: dict[str, list[dict]] = {}
        before = after = 0
        dead_set = set(dead_buckets)
        for b, fs in fmap.items():
            olddead = [fi for fi in fs if fi.get("deleted")]
            before += sum(fi["rows"] for fi in olddead)
            if int(b) not in dead_set:
                after += sum(fi["rows"] for fi in olddead)
                continue
            live = [fi for fi in fs if not fi.get("deleted")]
            newdead = staged.get(b, [])
            after += sum(fi["rows"] for fi in newdead)
            changed[b] = live + newdead
        manifests = self._commit_manifests(snap, new_version, changed)
        new_snap = {**snap, "version": new_version, "manifests": manifests}
        self._write_snapshot(new_snap, expect_version=expect_version)
        return {"expired": before - after, "kept": after}

    def vacuum(self) -> list[str]:
        """Delete staged data dirs and manifest documents not referenced
        by the current snapshot (this retires time travel to older
        versions, as documented on ``read``)."""
        snap = self._snapshot()
        fmap = self._files(snap)
        live_dirs = {fi["path"].split(os.sep)[1] for fs in fmap.values() for fi in fs}
        removed = []
        data_root = os.path.join(self.root, "data")
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                if d not in live_dirs:
                    shutil.rmtree(os.path.join(data_root, d))
                    removed.append(d)
        mdir = os.path.join(self.root, "_meta", "manifests")
        if os.path.isdir(mdir):
            live_manifests = {
                os.path.basename(rel) for rel in snap["manifests"].values()
            }
            for f in sorted(os.listdir(mdir)):
                if f.endswith(".json") and f not in live_manifests:
                    os.remove(os.path.join(mdir, f))
                    self._mcache.pop(os.path.join("_meta", "manifests", f), None)
                    removed.append(os.path.join("manifests", f))
        return removed
