"""Merge-policy edges: late-event admission (drop_late) vs tombstone
expiry, bucket-hash stability across arrival types, and Arrow-kernel
type coverage for flat, binary and nested payloads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark import oracle
from bear_spark.lake import LakeTable
from bear_spark.lake import table as lake_table

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
DEFAULT_FILE_ROWS = lake_table.TARGET_FILE_ROWS


def _events(spark, rows):
    """rows: (conv_id, turn_idx, text, ts_str, op, lsn)."""
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts string, op string, lsn long"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.mark.parametrize("mode", ["arrow"])  # the one merge path
def test_drop_late_table_survives_expiry_without_resurrection(spark, tmp_path, mode):
    """On a drop_late table the watermark is a hard admission boundary,
    so expire_tombstones (watermark default) can never be beaten by a
    late stale update."""
    tbl = LakeTable.create(
        spark,
        str(tmp_path / f"tbl_{mode}"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=2,
        lateness_sec=0,
        drop_late=True,
    )
    tbl.merge(_events(spark, [("c1", 0, "hello", "2024-01-10 00:00:00", "I", 1)]))
    m = tbl.merge(_events(spark, [("c1", 0, None, "2024-01-11 00:00:00", "D", 2)]))
    assert m["tombstones"] == 1
    assert tbl.read().count() == 0
    # push the watermark strictly past the delete's event time (a
    # tombstone AT the watermark is still live — an equal-ts event with
    # a higher lsn remains admissible)
    tbl.merge(_events(spark, [("c9", 0, "advance wm", "2024-01-12 00:00:00", "I", 10)]))

    out = tbl.expire_tombstones()  # watermark default is allowed here
    assert out["expired"] == 1

    # a late, stale update (ts below the 2024-01-11 watermark) arrives:
    # it must be counted AND dropped, never resurrecting the deleted key
    m = tbl.merge(
        _events(spark, [("c1", 0, "stale resurrect", "2024-01-05 00:00:00", "U", 3)])
    )
    assert m["late_events"] == 1
    assert m["late_dropped"] == 1
    assert tbl.read().filter(F.col("conv_id") == "c1").count() == 0


def test_keep_late_table_requires_explicit_expiry_cutoff(spark, tmp_path):
    tbl = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=2,
        lateness_sec=0,
    )
    tbl.merge(_events(spark, [("c1", 0, None, "2024-01-11 00:00:00", "D", 1)]))
    with pytest.raises(ValueError, match="drop_late"):
        tbl.expire_tombstones()
    out = tbl.expire_tombstones(older_than="2024-02-01 00:00:00")
    assert out["expired"] == 1


def test_keep_late_table_applies_late_events(spark, tmp_path):
    """Default policy: late events still apply (full-history replay
    convergence) — only counted as late, never dropped."""
    tbl = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=2,
        lateness_sec=0,
    )
    tbl.merge(_events(spark, [("c1", 0, "first", "2024-01-10 00:00:00", "I", 1)]))
    m = tbl.merge(_events(spark, [("c2", 0, "late insert", "2024-01-01 00:00:00", "I", 2)]))
    assert m["late_events"] == 1 and m["late_dropped"] == 0
    assert tbl.read().count() == 2


@pytest.mark.parametrize("mode", ["arrow"])  # the one merge path
def test_bucket_hash_stable_when_key_arrives_narrower(spark, tmp_path, mode):
    """xxhash64 is type-sensitive: a batch whose bucket column arrives
    as int while the table stores long must still route each key to the
    same bucket (else LWW dedup splits across buckets)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    tbl = LakeTable.create(
        spark,
        str(tmp_path / f"tbl_{mode}"),
        schema,
        key_cols=["k"],
        seq_col="ts",
        num_buckets=8,
    )
    base = spark.range(50).select(
        F.col("id").alias("k"),
        F.lit("v1").alias("text"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit("I").alias("op"),
        F.col("id").alias("lsn"),
    )
    tbl.merge(base)
    # same keys, narrower arrival type, newer ts
    upd = spark.range(50).select(
        F.col("id").cast("int").alias("k"),
        F.lit("v2").alias("text"),
        F.lit("2024-01-02 00:00:00").cast("timestamp").alias("ts"),
        F.lit("U").alias("op"),
        (F.col("id") + 100).alias("lsn"),
    )
    tbl.merge(upd)
    got = tbl.read().toPandas()
    assert len(got) == 50, "duplicate keys across buckets — hash routed by arrival type"
    assert set(got["text"]) == {"v2"}
    # point lookup probes with the payload-schema type → same bucket
    assert tbl.lookup(7).toPandas()["text"].tolist() == ["v2"]


@pytest.mark.parametrize("key_type", [T.LongType(), T.StringType()])
def test_lookup_probes_merge_bucket_without_a_job(spark, tmp_path, monkeypatch, key_type):
    """lookup() must hash each key into the bucket merge() wrote it to,
    and must do so on the driver: the probe starts no Spark job."""
    schema = T.StructType(
        [
            T.StructField("k", key_type),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), schema, key_cols=["k"], seq_col="ts", num_buckets=8
    )
    tbl.merge(
        spark.range(12).select(
            F.col("id").cast(key_type).alias("k"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("text"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.lit("I").alias("op"),
            F.col("id").alias("lsn"),
        )
    )
    written = {
        r.k: (r._bucket, r.text)
        for r in tbl.read(include_system=True).select("k", "_bucket", "text").collect()
    }
    assert len(written) == 12 and len({b for b, _ in written.values()}) > 1

    probed = []
    read = tbl.read
    monkeypatch.setattr(tbl, "read", lambda **kw: probed.append(kw["buckets"]) or read(**kw))
    tracker = spark.sparkContext.statusTracker()
    jobs_at_start = set(tracker.getJobIdsForGroup())
    for k, (bucket, text) in written.items():
        before = set(tracker.getJobIdsForGroup())
        df = tbl.lookup(k)
        assert set(tracker.getJobIdsForGroup()) == before, f"bucket probe for {k!r} ran a job"
        assert probed[-1] == [bucket], k
        assert [r.text for r in df.collect()] == [text]
    # the tracker does see jobs: each collect above ran one
    assert set(tracker.getJobIdsForGroup()) > jobs_at_start


def test_bucket_column_type_widening_rejected(spark, tmp_path):
    from bear_spark.lake.reconcile import SchemaConflict

    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), schema, key_cols=["k"], seq_col="ts", num_buckets=2
    )
    wide = spark.range(3).select(
        F.col("id").alias("k"),  # long > table's int → would re-bucket
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit("I").alias("op"),
        F.col("id").alias("lsn"),
    )
    with pytest.raises(SchemaConflict, match="bucket column"):
        tbl.merge(wide)


NESTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("emb", T.ArrayType(T.DoubleType())),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField(
            "meta",
            T.StructType(
                [T.StructField("src", T.StringType()), T.StructField("n", T.IntegerType())]
            ),
        ),
        T.StructField("counts", T.MapType(T.StringType(), T.LongType())),
        T.StructField("price", T.DecimalType(10, 2)),
        T.StructField("ts", T.StringType()),  # cast to timestamp on arrival
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
    ]
)


def test_nested_payload_merges_on_the_kernel(spark, tmp_path, placement):
    """Array, struct, map and decimal payloads take the same Arrow merge
    as flat ones, with the kernel on the driver and in the
    ``applyInArrow`` job: inserts, updates (one nulling a non-null nested
    value) and deletes converge to the oracle's winners, tombstones and
    _lsn included, and a nested-payload merge starts no more Spark jobs
    than a flat-payload merge of the same batch."""
    from decimal import Decimal

    import pandas as pd

    def row(doc, ts, op, lsn, emb=(0.5,), tags=("a",), meta=("s", 1), counts=None,
            price="1.25"):
        return (
            doc,
            None if emb is None else list(emb),
            None if tags is None else list(tags),
            meta,
            {"k": doc} if counts is None else counts,
            None if price is None else Decimal(price),
            ts,
            op,
            lsn,
        )

    batches = [
        [row(d, "2024-01-01 00:00:00", "I", d, emb=(float(d), 0.5)) for d in range(6)],
        [
            row(1, "2024-01-02 00:00:00", "U", 11, emb=None),  # non-null -> null
            row(2, "2024-01-02 00:00:00", "U", 12, meta=None, counts={}, price=None),
            row(3, "2024-01-02 00:00:00", "U", 13, tags=("x", "y"), counts={"a": 7}),
            row(4, "2024-01-02 00:00:00", "D", 14),
            row(5, "2023-12-31 00:00:00", "U", 15, tags=("stale",)),  # loses LWW
            row(6, "2024-01-02 00:00:00", "I", 16, price="99999999.99"),
        ],
        [
            row(3, "2024-01-03 00:00:00", "U", 23, tags=None, meta=("t", None)),
            row(6, "2024-01-03 00:00:00", "D", 26),
            row(4, "2024-01-01 12:00:00", "U", 24),  # stale: the tombstone holds
        ],
    ]
    payload = T.StructType(
        [f for f in NESTED_SCHEMA.fields if f.name not in ("ts", "op", "lsn")]
        + [T.StructField("ts", T.TimestampType())]
    )
    nested = LakeTable.create(
        spark, str(tmp_path / "nested"), payload,
        key_cols=["doc_id"], seq_col="ts", num_buckets=2,
    )
    flat = LakeTable.create(
        spark, str(tmp_path / "flat"),
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("src", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        ),
        key_cols=["doc_id"], seq_col="ts", num_buckets=2,
    )
    tracker = spark.sparkContext.statusTracker()

    def jobs_of(fn):
        before = set(tracker.getJobIdsForGroup())
        fn()
        return len(set(tracker.getJobIdsForGroup()) - before)

    for rows in batches:
        # built from pandas: a local relation has a size estimate, so the
        # driver placement can take it
        pdf = pd.DataFrame(rows, columns=NESTED_SCHEMA.fieldNames())
        ev = spark.createDataFrame(pdf, NESTED_SCHEMA).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        flat_ev = ev.select("doc_id", F.col("meta.src").alias("src"), "ts", "op", "lsn")
        n_flat = jobs_of(lambda: flat.merge(flat_ev))
        n_nested = jobs_of(lambda: nested.merge(ev))
        assert n_nested <= n_flat, (n_nested, n_flat)

    events = pd.DataFrame(
        [r for b in batches for r in b], columns=NESTED_SCHEMA.fieldNames()
    )
    # winner rows as (payload..., _lsn, _deleted), the table's column order
    expected = sorted(
        (*r[:-2], r.lsn, r.op == "D")
        for r in oracle.winners(events, key_cols=["doc_id"]).itertuples(index=False)
    )
    got = sorted(
        tuple(r)
        for r in nested.read(include_deleted=True, include_system=True)
        .withColumn("ts", F.col("ts").cast("string"))
        .drop("_bucket")
        .collect()
    )
    assert got == expected
    assert [r[0] for r in got if r[-1]] == [4, 6]  # tombstones kept


def test_small_merge_runs_one_stage_and_no_python_worker(spark, tmp_path, monkeypatch):
    """A batch Catalyst sizes at or below ``DRIVER_APPLY_MAX_BYTES``
    merges in one Spark stage (the batch's collect) with no plan node
    that feeds a Python worker, and the kernel leaves the driver's Arrow
    thread pools as it found them. Forced onto the job path, the same
    merge shows the Python-worker node, so the check can see one."""
    import pyarrow as pa

    from bear_spark.events import change_events
    from bear_spark.lake import table as lake_table
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = spark._jsparkSession.sharedState().statusStore()

    def first_merge(name):
        """(stages, feeds a Python worker) of a 2,000-event first merge."""
        tbl = LakeTable.create(
            spark, str(tmp_path / name), TRANSCRIPT_SCHEMA,
            key_cols=KEY_COLS, num_buckets=4,
        )
        sc.setJobGroup(name, "first merge")
        try:
            m = tbl.merge(change_events(spark, 2000, n_convs=20, seed=5))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert m["rows_in"] == 2000
        jobs = tracker.getJobIdsForGroup(name)
        stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
        # every plan node that exchanges rows with Python workers declares
        # the "... Python workers" SQL metrics
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        recent = store.executionsList(max(0, n - 20), 20)
        metrics = set()
        for i in range(recent.size()):
            ex = recent.apply(i)
            if any(ex.jobs().contains(j) for j in jobs):
                ms = ex.metrics()
                metrics |= {ms.apply(k).name() for k in range(ms.size())}
        assert metrics, "no SQL execution found for the merge's jobs"
        return stages, any("Python worker" in name for name in metrics)

    pools = (pa.cpu_count(), pa.io_thread_count())
    assert first_merge("driver") == (1, False)
    assert (pa.cpu_count(), pa.io_thread_count()) == pools

    monkeypatch.setattr(lake_table, "DRIVER_APPLY_MAX_BYTES", -1)
    stages, feeds_python = first_merge("job")
    assert stages >= 2 and feeds_python


def test_batch_without_size_statistics_never_counts_as_small(spark):
    """A frame built from a Python list is an RDD, which Spark has no
    statistics for: its estimate is unknown, so its merge keeps the job
    path. A range has one."""
    from bear_spark.lake.table import _estimated_bytes

    assert _estimated_bytes(spark.range(10)) == 80
    assert _estimated_bytes(_events(spark, [("c1", 0, "x", "2024-01-01", "I", 1)])) is None


def test_merge_carries_over_range_pruned_files(spark, tmp_path):
    """A merge must not rewrite files whose key range the batch cannot
    touch: they survive byte-identical under the same path (snapshot
    re-reference), so task memory is bounded by touched files, not the
    whole bucket."""
    import hashlib
    import os

    def rows(prefix, text, lsn0, ts):
        return [
            (f"{prefix}{i:02d}", 0, text, ts, "I" if text == "v1" else "U", lsn0 + i)
            for i in range(50)
        ]

    tbl = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=1,  # one bucket → pruning, not bucketing, must save us
    )
    tbl.merge(_events(spark, rows("a", "v1", 0, "2024-01-01 00:00:00")))
    snap1 = tbl.snapshot
    afile = snap1["files"]["0"][0]
    assert afile["kmin"] == "a00" and afile["kmax"] == "a49"
    apath = os.path.join(tbl.root, afile["path"])
    digest1 = hashlib.md5(open(apath, "rb").read()).hexdigest()

    # disjoint key range: the a-file must be carried over untouched
    m = tbl.merge(_events(spark, rows("m", "v1", 100, "2024-01-02 00:00:00")))
    assert m["target_rows_read"] == 0, "a-file was read despite disjoint range"
    snap2 = tbl.snapshot
    paths2 = [fi["path"] for fi in snap2["files"]["0"]]
    assert afile["path"] in paths2 and len(paths2) == 2

    # touch one m-key: m-file rewritten, a-file carried again
    m = tbl.merge(
        _events(spark, [("m10", 0, "v2", "2024-01-03 00:00:00", "U", 200)])
    )
    assert m["target_rows_read"] == 50, "only the m-file should be read"
    snap3 = tbl.snapshot
    paths3 = [fi["path"] for fi in snap3["files"]["0"]]
    assert afile["path"] in paths3 and len(paths3) == 2
    assert hashlib.md5(open(apath, "rb").read()).hexdigest() == digest1

    got = tbl.read().toPandas()
    assert len(got) == 100
    assert got.set_index("conv_id")["text"]["m10"] == "v2"
    assert set(got[got["conv_id"].str.startswith("a")]["text"]) == {"v1"}
    # vacuum must keep every stage dir a carried file lives in
    tbl.vacuum()
    assert os.path.exists(apath)
    assert tbl.read().count() == 100


def test_binary_payload_supported_by_arrow_kernel(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), schema, key_cols=["doc_id"], seq_col="ts", num_buckets=2
    )
    df = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.encode(F.concat(F.lit("blob-"), F.col("id").cast("string")), "utf-8").alias("payload"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit("I").alias("op"),
        F.col("id").alias("lsn"),
    )
    tbl.merge(df)
    got = tbl.read().toPandas().sort_values("doc_id")
    assert bytes(got["payload"].iloc[2]) == b"blob-2"


def test_commit_metadata_is_per_touched_bucket(spark, tmp_path):
    """Sharded snapshot metadata: a merge touching one bucket writes one
    new manifest document, carries every other bucket's manifest by
    reference, and the snapshot document itself stores only pointers."""
    import glob
    import json
    import os

    tbl = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=8,
    )
    # seed every bucket
    seed = [
        (f"conv_{i:03d}", t, f"v1-{i}-{t}", "2024-01-01 00:00:00", "I", i * 10 + t)
        for i in range(40)
        for t in range(2)
    ]
    tbl.merge(_events(spark, seed))
    snap1 = tbl._snapshot()
    assert "files" not in snap1 and len(snap1["manifests"]) == 8
    mdir = os.path.join(tbl.root, "_meta", "manifests")
    n_manifests_v1 = len(glob.glob(os.path.join(mdir, "*.json")))

    # touch exactly one key → one bucket
    tbl.merge(_events(spark, [("conv_000", 0, "v2", "2024-01-02 00:00:00", "U", 999)]))
    snap2 = tbl._snapshot()
    new_manifests = glob.glob(os.path.join(mdir, f"m{snap2['version']:08d}-*.json"))
    assert len(new_manifests) == 1, "only the touched bucket gets a new manifest"
    carried = set(snap1["manifests"].items()) & set(snap2["manifests"].items())
    assert len(carried) == 7, "untouched buckets carry their manifest pointers"
    # the snapshot document holds pointers, not the file inventory
    raw = json.load(open(os.path.join(tbl.root, "_meta", f"v{snap2['version']}.json")))
    assert "files" not in raw
    assert all(isinstance(v, str) for v in raw["manifests"].values())

    # hydrated view still serves the full inventory; reads are intact
    assert sum(len(v) for v in tbl.snapshot["files"].values()) >= 8
    got = tbl.read().toPandas()
    assert len(got) == 80
    assert got.set_index(["conv_id", "turn_idx"])["text"]["conv_000", 0] == "v2"

    # vacuum drops manifests no longer referenced, keeps the live ones
    tbl.vacuum()
    left = {os.path.basename(p) for p in glob.glob(os.path.join(mdir, "*.json"))}
    assert left == {os.path.basename(r) for r in snap2["manifests"].values()}
    assert len(left) <= n_manifests_v1 + 1
    assert tbl.read().count() == 80


def test_load_rejects_snapshot_without_manifests(spark, tmp_path):
    """A snapshot that keeps its file list inline (no ``manifests`` key)
    is refused at load with a clear error, not a later KeyError."""
    import json
    import os

    root = str(tmp_path / "tbl")
    LakeTable.create(spark, root, SCHEMA, key_cols=["conv_id", "turn_idx"], num_buckets=2)
    path = os.path.join(root, "_meta", "v0.json")
    with open(path) as f:
        snap = json.load(f)
    snap["files"] = {}
    del snap["manifests"]
    with open(path, "w") as f:
        json.dump(snap, f)
    with pytest.raises(ValueError, match="manifests"):
        LakeTable.load(spark, root)


def test_merge_splits_output_files_at_target_rows(spark, tmp_path, monkeypatch):
    """A batch touching a bucket's whole key range must not emit one
    unbounded replacement file: output is chunked at TARGET_FILE_ROWS,
    each chunk key-sorted with its own tight manifest [kmin, kmax]."""
    monkeypatch.setattr(lake_table, "TARGET_FILE_ROWS", 100)
    tbl = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=1,
    )
    rows = [
        (f"conv_{i:04d}", 0, f"t{i}", "2024-01-01 00:00:00", "I", i)
        for i in range(250)
    ]
    m = tbl.merge(_events(spark, rows))
    assert m["rows_written"] == 250
    files = tbl.snapshot["files"]["0"]
    live = [fi for fi in files if not fi["deleted"]]
    assert len(live) == 3, [fi["path"] for fi in live]
    assert [fi["rows"] for fi in live] == [100, 100, 50]
    # chunks are key-sorted and non-overlapping → range pruning works
    ranges = sorted((fi["kmin"], fi["kmax"]) for fi in live)
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    assert tbl.read().count() == 250
    # a later single-key update must touch exactly one chunk (the other
    # two carried over by range pruning)
    m2 = tbl.merge(
        _events(spark, [("conv_0000", 0, "v2", "2024-01-02 00:00:00", "U", 9999)])
    )
    assert m2["target_rows_read"] == 100, "only the covering chunk is rewritten"
    assert tbl.read().filter(F.col("conv_id") == "conv_0000").first()["text"] == "v2"


def test_compact_honors_target_and_skips_unfragmented(spark, tmp_path, monkeypatch):
    """compact() rewrites ONLY buckets with more than
    COMPACT_FILES_PER_SIDE files per side and carries the rest by
    pointer; a fully compacted table is a metadata no-op."""
    tbl = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=4,
    )
    # seed all buckets, then fragment them with chunked writes
    rows = [
        (f"conv_{i:04d}", 0, f"t{i}", "2024-01-01 00:00:00", "I", i)
        for i in range(200)
    ]
    monkeypatch.setattr(lake_table, "TARGET_FILE_ROWS", 20)
    tbl.merge(_events(spark, rows))
    monkeypatch.undo()
    snap1 = tbl._snapshot()
    frag_counts = {b: len(fs) for b, fs in tbl._files(snap1).items()}
    assert all(c > 2 for c in frag_counts.values()), frag_counts

    monkeypatch.setattr(lake_table, "COMPACT_FILES_PER_SIDE", 2)
    out = tbl.compact()
    assert out["buckets_compacted"] == 4
    snap2 = tbl._snapshot()
    assert all(len(fs) <= 2 for fs in tbl._files(snap2).values())
    assert tbl.read().count() == 200

    # second compaction: nothing fragmented → no new snapshot version
    out2 = tbl.compact()
    assert out2["buckets_compacted"] == 0
    assert tbl._snapshot()["version"] == snap2["version"]

    # partial fragmentation: touch ~one bucket with chunked output, then
    # compact — untouched buckets must carry their manifest pointers
    tbl.merge(
        _events(
            spark,
            [("conv_0000", t, "x", "2024-01-03 00:00:00", "U", 10_000 + t) for t in range(1)],
        ),
    )
    snap3 = tbl._snapshot()
    touched = {
        b for b in snap3["manifests"]
        if snap3["manifests"][b] != snap2["manifests"].get(b)
    }
    monkeypatch.undo()
    tbl.compact()
    snap4 = tbl._snapshot()
    untouched = set(snap3["manifests"]) - touched
    carried = {b for b in untouched if snap4["manifests"][b] == snap3["manifests"][b]}
    assert carried == untouched, "unfragmented buckets must not be rewritten"
    assert tbl.read().count() == 200


def test_adaptive_precombine_engages_on_persistent_hot_key(spark, tmp_path):
    """Extreme skew on the one merge path: when one conv_id holds most
    of two consecutive 120k-event batches, the second merge starts no
    more Spark jobs than the same merge on a cold stream of the same
    size (skew adds no stage in front of the kernel), and the full
    state equals the oracle's last event per key."""
    import pandas as pd

    from bear_spark.events import change_events
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA

    n = 120_000
    sc = spark.sparkContext

    def stream(name, hot_key_pct):
        """Two merges of one generated log; returns the table, the log,
        both merges' metrics and the second merge's Spark job count."""
        tbl = LakeTable.create(
            spark, str(tmp_path / name), TRANSCRIPT_SCHEMA,
            key_cols=KEY_COLS, num_buckets=4,
        )
        log = [
            change_events(
                spark, n, start=k * n, total_events=2 * n, seed=11,
                hot_key_pct=hot_key_pct, n_hot_keys=1,
            )
            for k in range(2)
        ]
        m1 = tbl.merge(log[0])
        group = f"second-merge-{name}"
        sc.setJobGroup(group, "second merge")
        try:
            m2 = tbl.merge(log[1])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return tbl, log, (m1, m2), len(sc.statusTracker().getJobIdsForGroup(group))

    hot, log, hot_ms, hot_jobs = stream("hot", hot_key_pct=75)
    _, _, cold_ms, cold_jobs = stream("cold", hot_key_pct=0)

    for m, ev in zip(hot_ms, log):
        hot_rows = ev.groupBy("conv_id").count().agg(F.max("count")).first()[0]
        assert m["rows_in"] == n
        assert m["max_key_rows"] == hot_rows
        assert m["max_key_share"] >= 0.5
    assert all(m["max_key_share"] < 0.05 for m in cold_ms)

    # a hot key stays bucket-local: its merge runs the cold merge's plan
    assert 0 < hot_jobs <= cold_jobs, (hot_jobs, cold_jobs)

    # convergence: full state, tombstones and _lsn included
    got = hot.read(include_deleted=True, include_system=True).toPandas()
    win = oracle.winners(pd.concat([ev.toPandas() for ev in log], ignore_index=True))
    expected = win.assign(_deleted=win["op"] == "D").rename(columns={"lsn": "_lsn"})
    assert expected["_deleted"].any() and not expected["_deleted"].all()
    oracle.assert_states_equal(got, expected)


def test_untouched_rows_pass_through_lww_under_schema_evolution(spark, tmp_path):
    """Contended-row split: existing-file rows whose key is not in the
    batch bypass the (ts, lsn) sort + group-last and are appended
    directly to the key-sorted rewrite. They must still be aligned to
    the evolved schema (new columns null-filled), keep their tombstone
    flag, and survive a same-file partial update byte-equal in value."""
    tbl = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=1,  # one bucket, one file: every key shares the file
    )
    seed = [
        (f"c{i:02d}", 0, f"v{i}", "2024-01-01 00:00:00", "I", i) for i in range(8)
    ]
    tbl.merge(_events(spark, seed))
    # delete one key so the bucket also has a tombstone file whose rows
    # (except the contended one) must pass through unchanged
    tbl.merge(_events(spark, [("c03", 0, None, "2024-01-02 00:00:00", "D", 100)]))

    # evolved batch: adds a `tool` column, touches ONLY c01 — the other
    # seven keys (six live + one tombstone) ride the passthrough path
    ev = spark.createDataFrame(
        [("c01", 0, "v1b", "2024-01-03 00:00:00", "claude", "U", 200)],
        "conv_id string, turn_idx int, text string, ts string, tool string, "
        "op string, lsn long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    m = tbl.merge(ev)
    assert m["schema_changes"], "tool column should evolve the schema"
    # work-reduction counters: only the batch row + the contended c01
    # row entered the LWW sort; the six other live rows rode the
    # passthrough (the c03 tombstone file's [c03, c03] key range does
    # not overlap the batch, so it was range-pruned and never read)
    assert m["lww_rows"] == 2
    assert m["passthrough_rows"] == 6

    got = tbl.read().orderBy("conv_id").toPandas()
    assert list(got["conv_id"]) == [f"c{i:02d}" for i in range(8) if i != 3]
    assert got.set_index("conv_id")["text"]["c01"] == "v1b"
    assert got.set_index("conv_id")["tool"]["c01"] == "claude"
    # passthrough rows: original values, evolved column null-filled
    untouched = got[got["conv_id"] != "c01"]
    assert untouched["tool"].isna().all()
    assert list(untouched["text"]) == [f"v{i}" for i in range(8) if i not in (1, 3)]
    # the tombstone passed through with its flag intact
    dead = (
        tbl.read(include_deleted=True, include_system=True)
        .filter("_deleted")
        .toPandas()
    )
    assert list(dead["conv_id"]) == ["c03"]


def test_orphan_stage_files_from_crashed_attempt_never_committed(spark, tmp_path):
    """A merge attempt that crashed after staging chunk files must not
    leak them into a later commit: stage dirs are per-ATTEMPT unique
    (data/s<version>-<token>), so a later merge at the same target
    version enumerates only its own files, and vacuum() reclaims the
    orphan directory."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "tbl")
    tbl = LakeTable.create(
        spark, root, SCHEMA, key_cols=["conv_id", "turn_idx"],
        seq_col="ts", num_buckets=1,
    )
    tbl.merge(_events(spark, [("c1", 0, "v1", "2024-01-01 00:00:00", "I", 1)]))

    # fabricate the wreckage of a crashed attempt at the NEXT version:
    # clone a real staged file's physical schema, poison its payload,
    # and drop it where a version-keyed (non-tokenized) stage layout
    # would have enumerated it
    src = glob.glob(os.path.join(root, "data", "s1-*", "_bucket_dir=0",
                                 "_del=false", "*.parquet"))[0]
    t = pq.read_table(src)
    poison = t.set_column(
        t.schema.get_field_index("text"), "text",
        pa.array(["POISON"] * t.num_rows, type=t.schema.field("text").type),
    )
    orphan_dir = os.path.join(root, "data", "s2-deadbeef",
                              "_bucket_dir=0", "_del=false")
    os.makedirs(orphan_dir)
    pq.write_table(poison, os.path.join(orphan_dir, "part-00000-c0099.parquet"))

    m = tbl.merge(_events(spark, [("c2", 0, "v2", "2024-01-02 00:00:00", "I", 2)]))
    assert not m.get("skipped")
    got = tbl.read().toPandas()
    assert sorted(got["text"]) == ["v1", "v2"], "orphan chunk leaked into commit"

    removed = tbl.vacuum()
    assert "s2-deadbeef" in removed
    assert sorted(tbl.read().toPandas()["text"]) == ["v1", "v2"]


def test_compact_preserves_target_file_rows_chunking(spark, tmp_path, monkeypatch):
    """compact() must not merge legitimate TARGET_FILE_ROWS chunks back
    into one unbounded file: a bucket whose file count is justified by
    ceil(rows / TARGET_FILE_ROWS) is not fragmentation, and a genuinely
    fragmented bucket is rewritten into size-bounded files, not one."""
    monkeypatch.setattr(lake_table, "TARGET_FILE_ROWS", 100)
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA,
        key_cols=["conv_id", "turn_idx"], seq_col="ts", num_buckets=1,
    )
    rows = [
        (f"conv_{i:04d}", 0, f"t{i}", "2024-01-01 00:00:00", "I", i)
        for i in range(250)
    ]
    tbl.merge(_events(spark, rows))
    live = [fi for fi in tbl.snapshot["files"]["0"] if not fi["deleted"]]
    assert [fi["rows"] for fi in live] == [100, 100, 50]

    # 3 chunks for 250 rows at tfr=100 is the legitimate floor → no-op
    out = tbl.compact()
    assert out["buckets_compacted"] == 0

    # now ACTUALLY fragment the bucket: five more 10-row merges
    for k in range(5):
        extra = [
            (f"x{k}_{j:02d}", 0, "pad", "2024-01-01 00:00:00", "I",
             1000 + k * 10 + j)
            for j in range(10)
        ]
        tbl.merge(_events(spark, extra))
    live = [fi for fi in tbl.snapshot["files"]["0"] if not fi["deleted"]]
    assert len(live) > 3
    out = tbl.compact()
    assert out["buckets_compacted"] == 1
    live = [fi for fi in tbl.snapshot["files"]["0"] if not fi["deleted"]]
    total = sum(fi["rows"] for fi in live)
    assert total == 300
    assert all(fi["rows"] <= 100 for fi in live), [fi["rows"] for fi in live]
    assert len(live) == 3
    assert tbl.read().count() == 300


def test_merge_partition_count_gives_parallelism_independent_waves():
    """The merge shuffle asks for 2 tasks per core, never fewer than the
    session's shuffle partitions, and a bucket never splits across
    tasks, so the bucket count caps the task count."""
    from bear_spark.lake.table import merge_partition_count

    # 2 tasks/core matches the banked-evidence task counts wherever
    # shuffle partitions track 2x cores
    assert merge_partition_count(64, 8, 2) == 8
    assert merge_partition_count(64, 16, 8) == 16
    # a bucket never splits across tasks: bucket count caps
    assert merge_partition_count(4, 16, 8) == 4
    assert merge_partition_count(64, 64, 32) == 64
    # never below one task; defensive on zero parallelism
    assert merge_partition_count(1, 8, 0) == 1


def test_merge_chunks_whole_bucket_rewrite_at_target_rows(spark, tmp_path, monkeypatch):
    """A whole-bucket rewrite honors the TARGET_FILE_ROWS contract:
    key-sorted chunks bounded by it, tight non-overlapping manifest
    ranges — not one unbounded file per bucket side."""
    monkeypatch.setattr(lake_table, "TARGET_FILE_ROWS", 100)
    tbl = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=1,
    )
    rows = [
        (f"conv_{i:04d}", 0, f"t{i}", "2024-01-01 00:00:00", "I", i)
        for i in range(250)
    ]
    m = tbl.merge(_events(spark, rows))
    assert m["rows_written"] == 250
    live = [fi for fi in tbl.snapshot["files"]["0"] if not fi["deleted"]]
    assert len(live) == 3, [fi["rows"] for fi in live]
    assert sorted(fi["rows"] for fi in live) == [50, 100, 100]
    # chunks are key-sorted and non-overlapping -> range pruning works
    ranges = sorted((fi["kmin"], fi["kmax"]) for fi in live)
    for (_lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    assert tbl.read().count() == 250


def test_concurrent_commit_loser_leaves_winner_intact(spark, tmp_path):
    """Two merges racing from one base version: the winner commits, the
    loser raises ConcurrentCommit at the phase-2 snapshot swap with the
    winner's manifests and data untouched, and a retry of the loser
    (now reading the advanced snapshot) succeeds. The loser's orphaned
    stage dir is reclaimed by vacuum()."""
    from bear_spark.lake.table import ConcurrentCommit

    root = str(tmp_path / "tbl")
    t1 = LakeTable.create(
        spark, root, SCHEMA, key_cols=["conv_id", "turn_idx"],
        seq_col="ts", num_buckets=2,
    )
    t1.merge(_events(spark, [("base", 0, "baseline", "2024-01-01 00:00:00", "I", 1)]))

    # a second, independent writer handle over the same table root;
    # freeze its snapshot view at the CURRENT version so both writers
    # observe the same base — the deterministic stand-in for two
    # processes whose merge() calls interleave
    t2 = LakeTable.load(spark, root)
    stale = t2._snapshot()
    orig_snapshot = t2._snapshot
    t2._snapshot = lambda version=None: (  # type: ignore[method-assign]
        stale if version is None else orig_snapshot(version)
    )

    # winner commits v2 normally
    m1 = t1.merge(_events(spark, [("win", 0, "winner", "2024-01-02 00:00:00", "I", 2)]))
    assert m1["version"] == 2

    # loser stages against the stale base, must lose the optimistic check
    with pytest.raises(ConcurrentCommit):
        t2.merge(_events(spark, [("los", 0, "loser", "2024-01-03 00:00:00", "I", 3)]))

    # winner's commit is fully intact: version, manifests resolvable,
    # data readable, loser's row absent
    fresh = LakeTable.load(spark, root)
    assert fresh.snapshot["version"] == 2
    got = sorted(fresh.read().toPandas()["text"])
    assert got == ["baseline", "winner"]

    # retry of the loser against the live snapshot succeeds
    t2._snapshot = orig_snapshot  # type: ignore[method-assign]
    m2 = t2.merge(_events(spark, [("los", 0, "loser", "2024-01-03 00:00:00", "I", 3)]))
    assert m2["version"] == 3
    assert sorted(t2.read().toPandas()["text"]) == ["baseline", "loser", "winner"]

    # the failed attempt's stage dir (target version 2, unreferenced) is
    # orphaned garbage; vacuum reclaims it and the table is unchanged
    import glob
    import os

    orphans_before = [
        d for d in os.listdir(os.path.join(root, "data"))
        if d.startswith("s2-")
        and not any(
            fi["path"].split(os.sep)[1] == d
            for fs in t2._files(t2._snapshot()).values()
            for fi in fs
        )
    ]
    assert orphans_before, "expected the loser's stage dir to be orphaned"
    removed = t2.vacuum()
    assert set(orphans_before) <= set(removed)
    assert sorted(LakeTable.load(spark, root).read().toPandas()["text"]) == [
        "baseline", "loser", "winner",
    ]


def test_interleaved_snapshot_commits_have_one_winner(spark, tmp_path):
    """Two writers that both read base v0 before either publishes: only
    one may commit v1. The other raises ConcurrentCommit, and v1.json
    holds the winner's snapshot, not a silent overwrite by the loser."""
    import json
    import os
    import threading

    from bear_spark.lake.table import ConcurrentCommit

    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA, key_cols=["conv_id", "turn_idx"],
        seq_col="ts", num_buckets=2,
    )
    base = tbl._snapshot()
    # both writers pass the version check before either links its file
    barrier = threading.Barrier(2)
    orig_version = tbl._version

    def racing_version():
        barrier.wait(timeout=30)
        return orig_version()

    tbl._version = racing_version  # type: ignore[method-assign]
    outcome: dict[str, str] = {}

    def commit(name: str) -> None:
        snap = {**base, "version": 1, "lineage": [{"writer": name}]}
        try:
            tbl._write_snapshot(snap, expect_version=0)
            outcome[name] = "committed"
        except ConcurrentCommit:
            outcome[name] = "lost"

    threads = [threading.Thread(target=commit, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    tbl._version = orig_version  # type: ignore[method-assign]

    assert sorted(outcome.values()) == ["committed", "lost"], outcome
    winner = next(n for n, o in outcome.items() if o == "committed")
    with open(os.path.join(tbl.root, "_meta", "v1.json")) as f:
        assert json.load(f)["lineage"] == [{"writer": winner}]
    assert tbl._version() == 1


@pytest.mark.parametrize("step", ["compact", "split"])
def test_maintenance_commit_loser_leaves_winner_intact(spark, tmp_path, monkeypatch, step):
    """A maintenance commit (a compaction, or one split step) racing a
    merge from one base version loses at the snapshot swap: it raises
    ConcurrentCommit, the merge's rows are intact, a retry commits on
    top of it, vacuum() reclaims the loser's stage dir, and the full
    state (tombstones and ``_lsn`` included) is the oracle's."""
    import os

    import pandas as pd

    from bear_spark.lake.table import ConcurrentCommit

    root = str(tmp_path / "tbl")
    t1 = LakeTable.create(
        spark, root, SCHEMA, key_cols=["conv_id", "turn_idx"],
        seq_col="ts", num_buckets=2,
    )
    ins = [(f"conv_{i:04d}", 0, f"t{i}", "2024-01-01 00:00:00", "I", i) for i in range(100)]
    win = [(f"conv_{i:04d}", 0, None, "2024-01-02 00:00:00", "D", 1000 + i) for i in range(0, 40, 4)]
    win += [("win", 0, "winner", "2024-01-02 00:00:00", "I", 2000)]
    # 10-row files: every bucket is fragmented once the bound is back
    monkeypatch.setattr(lake_table, "TARGET_FILE_ROWS", 10)
    t1.merge(_pandas_events(spark, ins))
    monkeypatch.undo()

    # a second handle frozen at the current version, as two processes
    # whose calls interleave would be
    t2 = LakeTable.load(spark, root)
    stale = t2._snapshot()
    orig_snapshot = t2._snapshot
    t2._snapshot = lambda version=None: (  # type: ignore[method-assign]
        stale if version is None else orig_snapshot(version)
    )

    def maintain(tbl):
        return tbl.compact() if step == "compact" else tbl.split_buckets(factor=2, max_buckets=1)

    m = t1.merge(_pandas_events(spark, win))
    with pytest.raises(ConcurrentCommit):
        maintain(t2)

    fresh = LakeTable.load(spark, root)
    assert fresh.snapshot["version"] == m["version"]
    live = fresh.read().toPandas()
    assert len(live) == 91 and "winner" in set(live["text"])
    referenced = {fi["path"].split(os.sep)[1] for fs in fresh.snapshot["files"].values() for fi in fs}
    loser = {
        d for d in os.listdir(os.path.join(root, "data"))
        if d.startswith(f"s{m['version']}-") and d not in referenced
    }
    assert len(loser) == 1, loser

    t2._snapshot = orig_snapshot  # type: ignore[method-assign]
    out = maintain(t2)
    assert out.get("buckets_compacted", out.get("buckets_split")) > 0
    assert t2._version() == m["version"] + 1
    assert loser <= set(t2.vacuum())

    events = pd.DataFrame(ins + win, columns=["conv_id", "turn_idx", "text", "ts", "op", "lsn"])
    events["ts"] = pd.to_datetime(events["ts"])
    w = oracle.winners(events)
    expected = w.assign(_deleted=w["op"] == "D").rename(columns={"lsn": "_lsn"})
    got = LakeTable.load(spark, root).read(include_deleted=True, include_system=True).toPandas()
    assert len(got) == len(expected) == 101
    oracle.assert_states_equal(got, expected)


def test_only_create_and_commit_publish_a_snapshot():
    """Every write after ``create`` goes through ``LakeTable._commit``:
    no other function in the package calls ``_write_snapshot``."""
    import ast
    from pathlib import Path

    import bear_spark

    callers = []
    for path in sorted(Path(bear_spark.__file__).parent.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                callers += [
                    fn.name
                    for node in ast.walk(fn)
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "_write_snapshot"
                ]
    assert sorted(callers) == ["_commit", "create"]


def test_stale_version_hint_rolls_forward(spark, tmp_path):
    """A kill between linking v1.json and moving VERSION leaves the hint
    at 0. The table must still load as v1, and the next merge must
    commit v2 on top of it, keeping both batches' rows."""
    import os

    root = str(tmp_path / "tbl")
    t1 = LakeTable.create(
        spark, root, SCHEMA, key_cols=["conv_id", "turn_idx"],
        seq_col="ts", num_buckets=2,
    )
    t1.merge(_events(spark, [("first", 0, "one", "2024-01-01 00:00:00", "I", 1)]))
    with open(os.path.join(root, "_meta", "VERSION"), "w") as f:
        f.write("0")

    t2 = LakeTable.load(spark, root)
    assert t2.snapshot["version"] == 1
    m = t2.merge(_events(spark, [("second", 0, "two", "2024-01-02 00:00:00", "I", 2)]))
    assert m["version"] == 2
    got = LakeTable.load(spark, root).read().toPandas()
    assert sorted(got["text"]) == ["one", "two"]


def test_cdc_applier_retries_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """A side maintenance job racing a micro-batch must not kill the
    stream: CDCApplier retries merge on ConcurrentCommit (bounded), and
    surfaces the retry count in the batch metrics. When the bound is
    exhausted the error propagates."""
    from bear_spark.lake.table import ConcurrentCommit
    from bear_spark.streaming.apply import CDCApplier

    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA,
        key_cols=["conv_id", "turn_idx"], seq_col="ts", num_buckets=2,
    )
    app = CDCApplier(
        spark, tbl,
        changelog_dir=str(tmp_path / "log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        metrics_dir=str(tmp_path / "metrics"),
    )

    real_merge = tbl.merge
    fail_first = {"left": 2}

    def flaky(batch):
        if fail_first["left"] > 0:
            fail_first["left"] -= 1
            raise ConcurrentCommit("maintenance advanced the snapshot")
        return real_merge(batch)

    monkeypatch.setattr(tbl, "merge", flaky)
    batch = _events(spark, [("c1", 0, "hello", "2024-01-01 00:00:00", "I", 1)])
    app._apply_batch(batch, epoch_id=0)
    assert app.batch_metrics[0]["merge_retries"] == 2
    assert tbl.read().count() == 1

    # exhausting the bound propagates the error (no infinite writer war)
    def always_lose(batch):
        raise ConcurrentCommit("stuck")

    monkeypatch.setattr(tbl, "merge", always_lose)
    with pytest.raises(ConcurrentCommit):
        app._apply_batch(batch, epoch_id=1)


def test_vacuum_during_a_merge_keeps_the_commit_in_flight(spark, tmp_path):
    """A vacuum from another handle that runs after a merge has staged
    its files and written its manifests, but before it links its
    snapshot, must not delete either: the merge still commits, and every
    later read finds its files."""
    import os

    root = str(tmp_path / "tbl")
    tbl = LakeTable.create(
        spark, root, SCHEMA, key_cols=["conv_id", "turn_idx"],
        seq_col="ts", num_buckets=2,
    )
    tbl.merge(_events(spark, [("base", 0, "baseline", "2024-01-01 00:00:00", "I", 1)]))
    other = LakeTable.load(spark, root)
    # the other handle vacuums between the manifest writes and the link
    orig_write = tbl._write_snapshot
    removed: list[str] = []

    def vacuum_then_write(snap, expect_version):
        removed.extend(other.vacuum())
        return orig_write(snap, expect_version)

    tbl._write_snapshot = vacuum_then_write  # type: ignore[method-assign]
    m = tbl.merge(_events(spark, [("next", 0, "second", "2024-01-02 00:00:00", "I", 2)]))
    tbl._write_snapshot = orig_write  # type: ignore[method-assign]

    assert m["version"] == 2
    assert not [r for r in removed if r.startswith(("s2-", "manifests/m00000002-"))], removed
    for fs in tbl.snapshot["files"].values():
        for fi in fs:
            assert os.path.exists(os.path.join(root, fi["path"])), fi["path"]
    fresh = LakeTable.load(spark, root)
    assert sorted(fresh.read().toPandas()["text"]) == ["baseline", "second"]


def _pandas_events(spark, rows):
    """rows as ``_events`` takes them, built from pandas: such a batch
    has a size estimate, so a forced placement applies to its merge."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text", "ts", "op", "lsn"])
    df = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, text string, ts string, op string, lsn long"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _merge_and_maintain(spark, root, check, monkeypatch):
    """Merge fragmented output (30-row files), compact it, split the
    buckets (25-row files) and expire some tombstones, calling
    ``check(tbl)`` after each of the four, then compare the live state
    with the oracle."""
    import pandas as pd

    tbl = LakeTable.create(
        spark, root, SCHEMA, key_cols=["conv_id", "turn_idx"],
        seq_col="ts", num_buckets=2,
    )
    ins = [
        (f"conv_{i:04d}", 0, f"t{i}", "2024-01-01 00:00:00", "I", i)
        for i in range(200)
    ]
    # deletes at two event times (only the older ones expire) and updates
    upd = [
        (f"conv_{i:04d}", 0, None, f"2024-01-0{2 if i % 4 else 5} 00:00:00", "D", 1000 + i)
        for i in range(0, 80, 2)
    ] + [
        (f"conv_{i:04d}", 0, f"u{i}", "2024-01-03 00:00:00", "U", 2000 + i)
        for i in range(1, 80, 2)
    ]
    monkeypatch.setattr(lake_table, "TARGET_FILE_ROWS", 30)
    tbl.merge(_pandas_events(spark, ins))
    tbl.merge(_pandas_events(spark, upd))
    check(tbl)
    monkeypatch.setattr(lake_table, "TARGET_FILE_ROWS", DEFAULT_FILE_ROWS)
    assert tbl.compact()["buckets_compacted"] == 2
    check(tbl)
    monkeypatch.setattr(lake_table, "TARGET_FILE_ROWS", 25)
    assert tbl.split_buckets(factor=2)["num_buckets"] == 4
    monkeypatch.setattr(lake_table, "TARGET_FILE_ROWS", DEFAULT_FILE_ROWS)
    check(tbl)
    assert tbl.expire_tombstones(older_than="2024-01-04 00:00:00") == {"expired": 20, "kept": 20}
    check(tbl)
    events = pd.DataFrame(ins + upd, columns=["conv_id", "turn_idx", "text", "ts", "op", "lsn"])
    events["ts"] = pd.to_datetime(events["ts"])
    oracle.assert_states_equal(tbl.read().toPandas(), oracle.replay(events))


def test_manifest_entries_match_their_files(spark, tmp_path, placement, monkeypatch):
    """Every manifest entry a merge or a maintenance rewrite commits
    matches its file: the row count, the first key column's real range,
    and the bucket and tombstone flag of its directory and rows."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def check(tbl):
        n = 0
        for b, fs in tbl.snapshot["files"].items():
            for fi in fs:
                path = os.path.join(tbl.root, fi["path"])
                t = pq.read_table(path)
                assert fi["rows"] == pq.ParquetFile(path).metadata.num_rows == t.num_rows
                rng = pc.min_max(t.column("conv_id")).as_py()
                assert (fi["kmin"], fi["kmax"]) == (rng["min"], rng["max"]), fi
                d = os.path.join(f"_bucket_dir={b}", f"_del={str(fi['deleted']).lower()}")
                assert os.path.dirname(fi["path"]).endswith(d), fi["path"]
                assert set(t.column("_bucket").to_pylist()) == {int(b)}
                assert set(t.column("_deleted").to_pylist()) == {fi["deleted"]}
                n += 1
        assert n

    _merge_and_maintain(spark, str(tmp_path / "tbl"), check, monkeypatch)


def test_every_data_file_has_the_merge_kernel_layout(spark, tmp_path, monkeypatch):
    """Merged, compacted, split and expired files share one physical
    layout: the merge kernel's Arrow schema, column order included, with
    the event time as INT64 TIMESTAMP_MICROS (not Spark's INT96)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bear_spark.lake.arrow_apply import arrow_schema

    def check(tbl):
        want = pa.schema([
            *arrow_schema(tbl.payload_schema()),
            pa.field("_bucket", pa.int32()),
            pa.field("_lsn", pa.int64()),
            pa.field("_deleted", pa.bool_()),
        ])
        for fs in tbl.snapshot["files"].values():
            for fi in fs:
                pf = pq.ParquetFile(os.path.join(tbl.root, fi["path"]))
                assert pf.schema_arrow.equals(want), (fi["path"], pf.schema_arrow)
                ts = pf.schema.column(want.get_field_index("ts"))
                assert ts.physical_type == "INT64"
                assert ts.logical_type.to_json() == (
                    '{"Type": "Timestamp", "isAdjustedToUTC": true, '
                    '"timeUnit": "microseconds", "is_from_converted_type": false, '
                    '"force_set_converted_type": false}'
                )

    _merge_and_maintain(spark, str(tmp_path / "tbl"), check, monkeypatch)
