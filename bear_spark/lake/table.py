"""LakeTable — copy-on-write table with atomic snapshots and a commit log.

Layout on disk::

    <root>/
      _meta/VERSION          # hint: a recent snapshot version (atomic os.replace)
      _meta/v<N>.json        # immutable snapshot documents
      _meta/manifests/m<N>-b<K>-<token>.json  # bucket K's file list, written for commit N
      data/s<N>-<token>/_bucket_dir=<K>/_del=<false|true>/part-<K>-c<NNNN>.parquet
                             # bucket K's live / tombstone files, staged by
                             # one attempt at commit N (lake/arrow_apply.py
                             # writes every one, merge and maintenance alike)

A snapshot records: the schema registry (all schema versions), the data
files per bucket (each tagged with the schema version it was written
under, its tombstone flag, and its exact row count), the commit log
(applied [lo, hi] offset ranges per source_partition), the event-time
watermark, and a lineage tail of recent commit metrics.

Guarantees (the Iceberg-shaped contract the north rule asks for):

- **Atomic commits**: data files are staged first, then the snapshot
  JSON is published by exclusive create (``os.link`` of a fully written
  temp file) — readers see either the old or the new snapshot, never a
  mix (two-phase: stage data, publish metadata). Of two writers on one
  base version exactly one links ``v<N+1>.json``; the other raises
  ``ConcurrentCommit``. ``VERSION`` moves after the link and is only a
  hint: the current version is the hint rolled forward while the next
  snapshot exists, so a kill between the two writes loses nothing.
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

import contextlib
import datetime
import json
import os
import re
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
from bear_spark.schema import schema_from_json, schema_to_json, sql_ident, sql_type

_SYS_FIELDS = [
    T.StructField("_lsn", T.LongType(), True),
    T.StructField("_deleted", T.BooleanType(), True),
    T.StructField("_bucket", T.IntegerType(), True),
]
_ENVELOPE = ("op", "lsn", "source_partition", "offset", "_src_file")


#: row bound of one data file, whoever writes it: merge, split,
#: compaction, tombstone expiry and a vector index's lists. Each kernel
#: reads it when it is built on the driver and carries it in its
#: closure, so a worker never falls back to its own copy of the module.
TARGET_FILE_ROWS = 2_000_000

#: data files per bucket side (live, tombstone) that ``compact`` leaves
#: alone; a bucket side holding more than this, and more than its rows
#: need at ``TARGET_FILE_ROWS``, is rewritten.
COMPACT_FILES_PER_SIDE = 1

#: Catalyst's size estimate of a kernel's input (bytes: a merge's batch,
#: or the rows a compaction, expiry or split rewrites; for a change feed,
#: the on-disk size of the files it diffs), at or below which the kernel
#: runs on the driver instead of in an ``applyInArrow`` job
#: (``LakeTable._run_kernel``, ``LakeTable.changes``). Warm merges into a
#: 16-bucket table on local[4] (4-core host, 15 GiB), each placement
#: forced, median of 4-6 merges:
#:
#:     events   estimate   job      driver
#:     140k       9.3 MB   1.25 s   0.85 s
#:     300k      20.0 MB   1.50 s   1.16 s
#:     1M        66.8 MB   3.42 s   2.67 s
#:     2M       133.5 MB   7.22 s   5.26 s
#:     4M       267.0 MB  13.78 s  11.09 s
#:
#: The job won at no measured size: in a local session its tasks share
#: the driver's cores, so it only adds the shuffle and the Python-worker
#: round trip. The cut is still finite, at 64 MB (a 1M-event batch of
#: this schema lands just above it): a driver-placed batch is held in
#: driver memory twice (the JVM's collect and the Arrow table), and on a
#: cluster the job gets executor cores that a local session does not
#: have, a gain this host cannot measure.
DRIVER_APPLY_MAX_BYTES = 64 << 20


class ConcurrentCommit(RuntimeError):
    pass


def merge_partition_count(
    buckets: int, shuffle_parts: int, default_parallelism: int
) -> int:
    """Task count for the bucket-clustered shuffle of a kernel job (merge
    and maintenance alike, ``LakeTable._run_kernel``).

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


#: a grouped Python node (``applyInArrow``, ``applyInPandas``, their
#: cogrouped forms), matched on the node name that starts each line of
#: the plan's tree string: its function returns any rows for a group,
#: unrelated in number and size to the rows it is given
_GROUPED_PYTHON_NODE = re.compile(r"^[\s:|+\-!]*FlatMap(Co)?GroupsIn(Arrow|Pandas)\w*\b", re.M)


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized plan, or None when
    it says nothing about the rows:

    - an input has no statistics: Spark then stands in the session's
      ``spark.sql.defaultSizeInBytes`` for that leaf;
    - a grouped Python node computes rows (a lazy change feed's
      ``applyInArrow`` job, say): Catalyst sizes its output from its
      input, a file list, not from the rows it returns.

    A Python row map (``mapInPandas``, a Python UDF) keeps its estimate:
    it is sized from its input rows, which is right for the one such
    node in a kernel input, ``with_ivf_list``'s Arrow assignment."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if _GROUPED_PYTHON_NODE.search(plan.treeString()):
        return None
    unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        if int(str(leaves.apply(i).stats().sizeInBytes())) >= unknown:
            return None
    return int(str(plan.stats().sizeInBytes()))


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
        """Current version: the ``VERSION`` hint rolled forward while
        the next snapshot document exists (Iceberg's
        ``version-hint.text`` works the same way). A commit links
        ``v<N>.json`` before it moves the hint, so the hint may lag."""
        meta = os.path.join(self.root, "_meta")
        with open(os.path.join(meta, "VERSION")) as f:
            v = int(f.read().strip())
        while os.path.exists(os.path.join(meta, f"v{v + 1}.json")):
            v += 1
        return v

    def _snapshot(self, version: int | None = None) -> dict[str, Any]:
        """Current snapshot, or any retained historical version
        (snapshot documents are immutable — time travel is just
        reading an older one)."""
        v = self._version() if version is None else int(version)
        with open(os.path.join(self.root, "_meta", f"v{v}.json")) as f:
            return json.load(f)

    def _write_snapshot(self, snap: dict[str, Any], expect_version: int | None) -> None:
        """Two-phase commit, phase 2: publish metadata atomically. The
        snapshot is linked into place by exclusive create, so a writer
        that lost the race for ``v<N>.json`` raises ``ConcurrentCommit``
        instead of replacing the winner's document. Only ``create`` (v0)
        and ``_commit`` (every later version) call it."""
        meta = os.path.join(self.root, "_meta")
        if expect_version is not None and self._version() != expect_version:
            raise ConcurrentCommit(
                f"table advanced past v{expect_version} during commit"
            )
        path = os.path.join(meta, f"v{snap['version']}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        try:
            os.link(tmp, path)
        except (FileExistsError, FileNotFoundError):
            # a missing temp file was swept by vacuum(), which removes
            # only those of versions already committed
            raise ConcurrentCommit(
                f"v{snap['version']} was committed by another writer"
            ) from None
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
        vtmp = os.path.join(meta, f"VERSION.tmp-{uuid.uuid4().hex}")
        with open(vtmp, "w") as f:
            f.write(str(snap["version"]))
        # a hint temp swept by vacuum() loses only the hint
        with contextlib.suppress(FileNotFoundError):
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
        try:
            os.replace(tmp, path)
        except FileNotFoundError:
            # vacuum() sweeps only temp files of committed versions
            raise ConcurrentCommit(f"v{version} was committed by another writer") from None
        self._mcache[rel] = files
        return rel

    def _commit(self, snap: dict, changed: dict[str, list[dict]], **fields) -> None:
        """Commit the version after ``snap``: the one commit path of
        every write after ``create`` (merge, split, compaction, expiry).
        Writes one manifest per CHANGED bucket (an empty list drops the
        bucket) and carries every other pointer by reference, so commit
        metadata I/O is O(touched buckets); then links ``snap`` plus
        ``fields`` as the next snapshot. Raises ``ConcurrentCommit`` if
        another writer committed since ``snap``; the staged files and
        manifests are then orphans for ``vacuum()``, and the table is
        untouched."""
        version = int(snap["version"]) + 1
        manifests = dict(snap["manifests"])
        for b, fs in changed.items():
            if fs:
                manifests[b] = self._write_manifest(version, b, fs)
            else:
                manifests.pop(b, None)
        self._write_snapshot(
            {**snap, **fields, "version": version, "manifests": manifests},
            expect_version=snap["version"],
        )

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

    def _bucket_sql(self, snap: dict, cols: Sequence[str] | None = None) -> str:
        """Routing expression (SQL) for a key under the snapshot's layout,
        over ``cols``, the bucket columns' SQL (default: the columns).

        Plain layout: ``pmod(xxhash64(cols), num_buckets)``. During an
        incremental split (linear-hashing style, see ``split_buckets``)
        old buckets below ``split_ptr`` have already been rewritten into
        their children under the larger modulus, so keys hashing there
        route with ``rebucket.to``; everything else still routes with
        the old modulus. O(1) per row either way — the split frontier
        is a single comparison, never a membership list."""
        h = f"xxhash64({', '.join(cols or [sql_ident(c) for c in snap['bucket_cols']])})"
        base = f"pmod({h}, {int(snap['num_buckets'])})"
        rb = snap.get("rebucket")
        if rb:
            return (
                f"CAST(CASE WHEN {base} < {int(rb['split_ptr'])} "
                f"THEN pmod({h}, {int(rb['to'])}) ELSE {base} END AS INT)"
            )
        return f"CAST({base} AS INT)"

    def _iter_files(self, snap: dict, buckets: Sequence[int] | None, include_deleted: bool = True):
        for files in self._files(snap, buckets).values():
            for fi in files:
                if not include_deleted and fi.get("deleted"):
                    continue
                yield fi

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
        schemas, aligned to the snapshot's current schema (a group
        written under it needs no projection)."""
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
            parts.append(df if phys == target else reconcile.align(df, target))
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
            df = df.where("NOT coalesce(`_deleted`, false)")
        if not include_system:
            df = df.drop("_lsn", "_deleted", "_bucket")
        return df

    def lookup(self, *key_values) -> DataFrame:
        """Point lookup by bucket-column value(s): computes the bucket
        driver-side and scans ONLY that bucket's live files. The key is
        bound rather than inlined into the plan (see below), so a new key
        compiles nothing; the scan does not prune row groups on it.
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
        bucket = row.selectExpr(self._bucket_sql(snap)).collect()[0][0]
        # each key value is the one element of a typed array literal: an
        # array literal reaches the generated code as a reference, where
        # a bare long or int literal is compiled into it, so every new key
        # would compile new classes
        df = self.read(buckets=[bucket])
        for f, val in zip(fields, key_values):
            df = df.filter(
                F.array_contains(F.array(F.lit(val).cast(sql_type(f.dataType))), F.col(f.name))
            )
        return df

    # ------------------------------------------------- vector indexes
    def build_vector_index(self, name: str, **kw):
        """Materialize durable ANN index state (LSH bucket / IVF list
        assignment) as per-list files under ``<root>/_index/<name>``
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
        either snapshot, so it cannot contribute a change. The diff is one
        Arrow kernel (``arrow_apply.make_diff_kernel``) per bucket group:
        it reads the group's differing files and pairs old and new rows
        by key with one sort, so no Spark join or row shuffle runs. A
        group is ``bucket % num_buckets`` of the ``from`` snapshot: a
        split maps bucket ``b`` only to children ``b + k*num_buckets``, so
        both of a key's rows land in one group even across a split. The
        kernel is placed as a merge's is: on the driver when the files
        to read total at most ``DRIVER_APPLY_MAX_BYTES`` on disk (the
        feed is then a driver-local relation, computed by this call),
        else as one ``applyInArrow`` job over the list of files. A
        compaction-only range — files rewritten, rows identical — reads
        the rewritten files but emits zero rows (rows are compared by
        their LWW version ``(seq, lsn)``, not by file identity).

        Both sides are aligned to the ``to`` snapshot's schema first, so
        a range that spans a schema evolution yields the feed in the
        evolved schema (old rows surface with widened types / nulled new
        columns). Requires both snapshots' data files to still exist —
        i.e. ``from_version`` must not have been ``vacuum()``ed away.
        """
        from bear_spark.lake import arrow_apply

        snap_to = self._snapshot(to_version)
        snap_from = self._snapshot(from_version)
        if snap_from["version"] > snap_to["version"]:
            raise ValueError(
                f"from_version {snap_from['version']} is newer than "
                f"to_version {snap_to['version']}"
            )
        target = self.payload_schema(snap_to)
        schema = T.StructType(
            reconcile._erase_nullability(target).fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.IntegerType()),
            ]
        )
        buckets = self._changed_buckets(snap_from, snap_to)
        fmaps = (self._files(snap_from, buckets), self._files(snap_to, buckets))
        old_paths, new_paths = (
            {fi["path"] for fs in fmap.values() for fi in fs} for fmap in fmaps
        )
        shared = old_paths & new_paths
        n_from = int(snap_from["num_buckets"])
        rows = [
            (int(b) % n_from, side, fi["path"])
            for side, fmap in enumerate(fmaps)
            for b, fs in fmap.items()
            for fi in fs
            if fi["path"] not in shared
        ]
        if not rows:
            return self.spark.createDataFrame(arrow_apply.arrow_schema(schema).empty_table(), schema)
        group, side, path = zip(*rows)
        files = pa.table({
            "_bucket": pa.array(group, pa.int32()),
            "_side": pa.array(side, pa.int8()),
            "path": pa.array(path, pa.string()),
        })
        kernel = arrow_apply.make_diff_kernel(
            arrow_apply.arrow_schema(target), self.root, list(snap_to["key_cols"]),
            snap_to["seq_col"], int(snap_to["version"]), include_preimage,
        )
        size = sum(os.path.getsize(os.path.join(self.root, p)) for p in path)
        if size <= DRIVER_APPLY_MAX_BYTES:
            feed = arrow_apply.apply_on_driver(files, kernel)
            return self.spark.createDataFrame(feed, schema)
        return self._kernel_job(
            self.spark.createDataFrame(files, "_bucket int, _side tinyint, path string"),
            kernel, schema, len(set(group)),
        )

    # ------------------------------------------------------------ MERGE
    def merge(self, batch: DataFrame) -> dict[str, Any]:
        """MERGE a batch of change events into the table (copy-on-write).

        ``batch`` carries the payload columns plus ``op`` ('I'/'U'/'D')
        and ``lsn``; if ``source_partition``/``offset`` are present,
        already-applied offsets are filtered out and the commit log
        advances atomically with the data. A batch without them is
        applied whole and leaves the commit log as it is.

        One kernel, for every payload type (lake/arrow_apply.py): per
        touched bucket it first drops the rows whose offsets the
        snapshot's commit log already holds (the fence; the ranges ride
        in its closure), then reads the bucket's existing files directly,
        rewrites them (file-granularity COW), and returns its slice of
        the batch stats (offset ranges, lateness, max event time), which
        the driver folds into the commit. The table never moves and the
        batch is scanned exactly once, by a plan of one scan and one
        projection (no join); ``_run_kernel`` places the kernel on the
        driver or in one ``applyInArrow`` job. A batch the fence empties
        returns ``skipped`` and commits nothing.

        The kernel returns the manifest entries of the files it wrote,
        with exact row counts and key ranges, so committing reads no
        footer. ``TARGET_FILE_ROWS`` bounds each written file.
        """
        snap = self._snapshot()
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

        # exactly-once fencing on (source_partition, offset): the
        # commit log stores APPLIED OFFSET RANGES per source partition
        # (not a high-water mark), since changelog files may arrive out
        # of order: a replayed file must be fenced while an unseen
        # earlier file must still apply. The kernel drops applied rows
        # as its first step, so the batch plan is one scan + projection.
        has_env = {"source_partition", "offset"} <= set(batch.columns)
        wm = snap["watermark_ts"]
        st = self._merge_arrow_job(
            batch, snap, new_schema, schema_version, has_env, wm, key_cols, seq_col
        )
        if st is None:
            return {
                "version": snap["version"],
                "skipped": True,
                "rows_in": 0,
                "reason": "batch empty after exactly-once fence",
            }
        (
            new_files, rows_in, late_events, max_ts, seg, per_partition, kept,
            max_key_rows, kernel_stats,
        ) = st
        touched = sorted(int(b) for b in new_files)

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
        changed = {
            b: [fi for fi in fmap.get(b, []) if fi["path"] in kept.get(int(b), ())] + staged
            for b, staged in new_files.items()
        }
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
            "version": snap["version"] + 1,
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

        self._commit(
            snap, changed,
            schemas=schemas,
            current_schema_version=schema_version,
            commit_log=new_offsets,
            watermark_ts=new_wm,
            lineage=(snap["lineage"] + [metrics])[-200:],
        )
        return metrics

    # ------------------------------------------------------ apply job
    def _merge_arrow_job(
        self,
        batch: DataFrame,
        snap: dict,
        new_schema: T.StructType,
        schema_version: int,
        has_env: bool,
        wm: str | None,
        key_cols: Sequence[str],
        seq_col: str,
    ):
        """Run the Arrow kernel (lake/arrow_apply.py) once per touched
        bucket, placed by ``_run_kernel``: each call reads its bucket's
        existing files directly, writes the replacements (file-granularity
        COW) and returns their manifest entries and its batch-stats
        slice. The table rows never move; only the batch does.

        Returns (new_files, rows_in, late_events, max_ts, seg_ranges,
        per_partition, kept, max_key_rows, kernel_stats), where
        new_files maps each touched bucket to its new entries, or None if
        the batch is empty after the exactly-once fence.
        """
        from bear_spark.lake.arrow_apply import (
            APPLY_RESULT_SCHEMA,
            arrow_schema,
            make_apply_kernel,
        )

        # ONE projection, built as SQL strings (each Column call is a
        # py4j round trip): payload aligned to the table schema (cast up,
        # missing columns null), the bucket, and the envelope. Bucket
        # columns hash at the TABLE's types, not the batch's arrival
        # types: xxhash64 is type-sensitive, so a bucket column arriving
        # narrower (int where the table is long) would route a key to a
        # different bucket than prior batches and than lookup()'s probe.
        have = set(batch.columns)
        cast = {
            f.name: f"CAST({sql_ident(f.name) if f.name in have else 'NULL'} AS {sql_type(f.dataType)})"
            for f in new_schema.fields
        }
        # segment id = source file (one changelog chunk = one contiguous
        # offset segment); input_file_name() must be evaluated on the
        # scan, not on top of a cached relation (where it returns "")
        src_evt = batch.selectExpr(
            *[f"{e} AS {sql_ident(n)}" for n, e in cast.items()],
            f"{self._bucket_sql(snap, [cast[c] for c in snap['bucket_cols']])} AS _bucket",
            "`op` AS _op",
            "`lsn` AS _elsn",
            "CAST(`source_partition` AS INT) AS _sp" if has_env else "-1 AS _sp",
            "CAST(`offset` AS BIGINT) AS _off" if has_env else "CAST(-1 AS BIGINT) AS _off",
            "`_src_file` AS _segment" if "_src_file" in have else "input_file_name() AS _segment",
        )
        # tasks learn their bucket's files via the manifest POINTERS —
        # each task reads its own (immutable) manifest from shared
        # storage and range-skips files the batch cannot touch, so both
        # the closure and task memory stay O(touched), not O(table).
        kernel = make_apply_kernel(
            arrow_schema(new_schema),
            self._stage_dir(snap),
            list(key_cols),
            seq_col,
            {int(b): rel for b, rel in snap["manifests"].items()},
            wm_iso=wm,
            drop_late=bool(snap.get("drop_late")),
            table_root=self.root,
            target_file_rows=TARGET_FILE_ROWS,
            applied=snap["commit_log"] if has_env else None,
        )
        res = self._run_kernel(
            src_evt, kernel, APPLY_RESULT_SCHEMA, self._effective_buckets(snap)
        )
        if not res:
            return None

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
                sp = -1 if s["sp"] is None else int(s["sp"])
                per_partition[sp] = per_partition.get(sp, 0) + s["c"]
                if s["mts"] is not None:
                    t = datetime.datetime.fromisoformat(s["mts"])
                    if max_ts is None or t > max_ts:
                        max_ts = t
                if s["sp"] is None or s["lo"] is None:
                    continue
                k = (sp, s["f"])
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
            self._entries(res, schema_version), rows_in, late_events, max_ts,
            seg, per_partition, kept, max_key_rows, kstats,
        )

    def _run_kernel(self, df: DataFrame, kernel, result_schema: str, buckets: int) -> list:
        """Run an Arrow kernel (lake/arrow_apply.py) once per ``_bucket``
        of ``df`` and return its result rows. The merge, all three
        maintenance rewrites and a vector index's build and refresh go
        through here, so they share one placement rule and one task count
        (``changes()`` places its diff kernel by the same rule, on the
        on-disk size of the files it reads):

        - on the driver, when Catalyst estimates ``df`` at or below
          ``DRIVER_APPLY_MAX_BYTES``: one ``toArrow()`` collect, then the
          kernel per bucket in a local thread pool. A small merge's cost
          is otherwise the shuffle and the Python-worker round trip, not
          the kernel;
        - in one job otherwise, or when the estimate is unknown
          (``_kernel_job``).
        """
        from bear_spark.lake import arrow_apply

        est = _estimated_bytes(df)
        if est is not None and est <= DRIVER_APPLY_MAX_BYTES:
            return arrow_apply.apply_on_driver(df.toArrow(), kernel).to_pylist()
        return self._kernel_job(df, kernel, result_schema, buckets).collect()

    def _kernel_job(self, df: DataFrame, kernel, result_schema, buckets: int) -> DataFrame:
        """``kernel`` once per ``_bucket`` of ``df`` in one job: shuffle
        ``df`` by bucket and run the kernel under
        ``groupBy(_bucket).applyInArrow``, so a large input spreads over
        the executors. The partition count is pinned
        (``merge_partition_count`` over the ``buckets`` the rows can land
        in): REPARTITION_BY_NUM both defeats AQE coalescing (sized on the
        small input-side shuffle, blind to the table files a task reads)
        and satisfies the clustered distribution ``applyInArrow`` requires
        — no second exchange."""
        from bear_spark.lake.arrow_apply import for_task

        n_part = merge_partition_count(
            buckets,
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            self.spark.sparkContext.defaultParallelism,
        )
        return (
            df.repartition(n_part, "_bucket")
            .groupBy("_bucket")
            .applyInArrow(for_task(kernel), result_schema)
        )

    def _stage_dir(self, snap: dict) -> str:
        """A fresh stage directory for one attempt at the commit after
        ``snap``: ``data/s<N+1>-<token>``. It is per ATTEMPT, so a crashed
        or racing attempt at the same version never shares it; an
        attempt that does not commit leaves it unreferenced, for
        ``vacuum()``."""
        return os.path.join(
            self.root, "data", f"s{int(snap['version']) + 1}-{uuid.uuid4().hex[:8]}"
        )

    @staticmethod
    def _entries(res: list, schema_version: int) -> dict[str, list[dict]]:
        """bucket(str) -> manifest entries of the files a kernel wrote."""
        return {
            str(r["_bucket"]): [
                {**fi, "schema_version": schema_version} for fi in json.loads(r["files"])
            ]
            for r in res
        }

    def _rewrite(self, df: DataFrame, snap: dict, buckets: int) -> dict[str, list[dict]]:
        """Write ``df`` — final rows in the table's columns, ``_bucket``
        set to each row's destination — as data files of the commit after
        ``snap``, through the merge's writer and placement. Returns the
        new manifest entries of every bucket that got rows."""
        from bear_spark.lake.arrow_apply import (
            REWRITE_RESULT_SCHEMA,
            arrow_schema,
            make_rewrite_kernel,
        )

        kernel = make_rewrite_kernel(
            arrow_schema(self.payload_schema(snap)),
            self._stage_dir(snap),
            list(snap["key_cols"]),
            TARGET_FILE_ROWS,
            self.root,
        )
        res = self._run_kernel(df, kernel, REWRITE_RESULT_SCHEMA, buckets)
        return self._entries(res, int(snap["current_schema_version"]))

    # ------------------------------------------------------- maintenance
    def split_buckets(
        self,
        factor: int | None = None,
        max_buckets: int | None = None,
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
          (``_bucket_sql``) — the table stays fully online, merges and
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
        ``factor`` raises. Rewritten files are key-sorted and bounded by
        ``TARGET_FILE_ROWS``, as every data file is. Reference analog:
        the reference rebuilds its whole Milvus collection to re-shard
        (bear/db.py drop + re-ingest); here growth is online and
        incremental.
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
            # each row goes to its child under the new modulus
            child = self._bucket_sql({**snap, "num_buckets": to, "rebucket": None})
            df = self._read_files(snap, old_range).withColumn("_bucket", F.expr(child))
            changed.update(self._rewrite(df, snap, len(children)))
        new_ptr = ptr + k
        done = new_ptr >= n
        if done:
            # the split is complete: the marker leaves the snapshot
            snap = {key: v for key, v in snap.items() if key != "rebucket"}
            layout = {"num_buckets": to}
        else:
            layout = {"rebucket": {"to": to, "split_ptr": new_ptr}}
        out = {
            "buckets_split": k,
            "split_ptr": 0 if done else new_ptr,
            "num_buckets": to if done else n,
            "target_buckets": to,
            "complete": done,
            "rows_rewritten": rows_rewritten,
        }
        # splits are maintenance commits, durable in table history like
        # merge metrics (an operator explaining a latency bump must see
        # which versions were split steps, not just that files moved)
        entry = {
            "op": "split", "version": snap["version"] + 1,
            "buckets_split": k, "rows_rewritten": rows_rewritten,
            "split_ptr": out["split_ptr"], "num_buckets": out["num_buckets"],
            "target_buckets": to,
        }
        self._commit(snap, changed, lineage=(snap["lineage"] + [entry])[-200:], **layout)
        return out

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
        driver-side manifest metadata (per-bucket row totals already in
        the snapshot), no table scan:

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

    def compact(self) -> dict[str, int]:
        """Rewrite FRAGMENTED buckets' files into fewer, larger files.

        COW merges leave multiple files per bucket (chunked writes, task
        parallelism); compaction is the standard lake answer. Only
        buckets holding more than ``COMPACT_FILES_PER_SIDE`` data files
        on a side are rewritten — every other bucket's manifest pointer
        is carried by reference, so the job reads O(fragmented), not
        O(table). A no-op (nothing fragmented) commits nothing.
        Rewritten files are re-sorted by key (the lake file sort-order
        spec: tight parquet min/max ranges for merge-time pruning).

        ``TARGET_FILE_ROWS`` bounds the rewritten files AND raises the
        fragmentation floor: a bucket whose file count is already
        justified by its row count (ceil(rows / TARGET_FILE_ROWS)) is
        NOT fragmentation — merging its chunks back into one unbounded
        file would defeat the merge writer's size bound and set up a
        split/re-merge cycle between the two maintenance passes."""
        snap = self._snapshot()
        fmap = self._files(snap)

        def _fragmented(fs: list[dict]) -> bool:
            # live and tombstone files land in separate dirs, so the
            # floor is one file per side — count the sides separately,
            # each against max(target, files its rows legitimately need)
            def _side(side_fs: list[dict]) -> bool:
                rows = sum(fi["rows"] for fi in side_fs)
                floor = max(COMPACT_FILES_PER_SIDE, -(-rows // TARGET_FILE_ROWS))
                return len(side_fs) > floor

            return _side([fi for fi in fs if not fi.get("deleted")]) or _side(
                [fi for fi in fs if fi.get("deleted")]
            )

        frag = sorted(int(b) for b, fs in fmap.items() if _fragmented(fs))
        if not frag:
            return {"buckets_compacted": 0, "files_before": 0}
        files_before = sum(len(fmap[str(b)]) for b in frag)
        staged = self._rewrite(self._read_files(snap, frag), snap, len(frag))
        self._commit(snap, {str(b): staged.get(str(b), []) for b in frag})
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
        seq_col = snap["seq_col"]

        fmap = self._files(snap)
        dead = {b: [fi for fi in fs if fi.get("deleted")] for b, fs in fmap.items()}
        dead = {b: fs for b, fs in dead.items() if fs}
        if not dead:
            return {"expired": 0, "kept": 0}
        # only the tombstone files are read; live files keep their entries
        keep = self._scan(snap, [fi for fs in dead.values() for fi in fs]).filter(
            F.col(seq_col).isNull() | (F.col(seq_col) >= F.lit(cutoff).cast("timestamp"))
        )
        staged = self._rewrite(keep, snap, len(dead))
        changed = {
            b: [fi for fi in fmap[b] if not fi.get("deleted")] + staged.get(b, [])
            for b in dead
        }
        before = sum(fi["rows"] for fs in dead.values() for fi in fs)
        after = sum(fi["rows"] for fs in staged.values() for fi in fs)
        self._commit(snap, changed)
        return {"expired": before - after, "kept": after}

    def vacuum(self) -> list[str]:
        """Delete staged data dirs and manifest documents not referenced
        by the current snapshot (this retires time travel to older
        versions, as documented on ``read``), and the ``_meta`` temp
        files a killed commit leaves behind.

        One staged for a version above the current one is kept: it may
        belong to a commit in flight in another process, since a writer
        for version M can still publish while ``v<M>.json`` is absent.
        One at or below the current version can never be committed, so
        it is garbage; a writer whose temp file is swept that way fails
        with ``ConcurrentCommit``, as it would have anyway. Every
        ``VERSION`` temp file goes: the hint may lag, never the table."""
        snap = self._snapshot()
        version = int(snap["version"])
        fmap = self._files(snap)
        live_dirs = {fi["path"].split(os.sep)[1] for fs in fmap.values() for fi in fs}

        def in_flight(name: str) -> bool:
            # s<M>-<token> (data), m<M>-b<K>-<token>.json (manifests) and
            # v<M>.json.tmp-<hex> (a snapshot's temp file)
            m = re.match(r"[smv](\d+)[-.]", name)
            return m is not None and int(m.group(1)) > version

        removed = []
        data_root = os.path.join(self.root, "data")
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                if d not in live_dirs and not in_flight(d):
                    shutil.rmtree(os.path.join(data_root, d))
                    removed.append(d)
        meta = os.path.join(self.root, "_meta")
        for f in sorted(os.listdir(meta)):
            if f.startswith("VERSION.tmp-") or (
                re.match(r"v\d+\.json\.tmp-", f) and not in_flight(f)
            ):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(meta, f))
                removed.append(f)
        mdir = os.path.join(meta, "manifests")
        if os.path.isdir(mdir):
            live_manifests = {
                os.path.basename(rel) for rel in snap["manifests"].values()
            }
            # a manifest's temp file (m<M>-...json.tmp-<hex>) is never live
            for f in sorted(os.listdir(mdir)):
                if ".json" in f and f not in live_manifests and not in_flight(f):
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(mdir, f))
                    self._mcache.pop(os.path.join("_meta", "manifests", f), None)
                    removed.append(os.path.join("manifests", f))
        return removed
