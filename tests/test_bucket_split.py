"""Online incremental bucket-count growth (linear-hashing splits).

A table created with N buckets can grow to f*N without a monolithic
rewrite: split_buckets rewrites old buckets one commit at a time behind
a split pointer, while merges, lookups, and reads stay online and route
per key with the O(1) frontier comparison in ``_bucket_expr``.
Reference analog: the reference re-shards only by dropping and
re-ingesting its whole Milvus collection (bear/db.py); here growth is
incremental and the table never goes offline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _events(spark, rows):
    """rows: (conv_id, turn_idx, text, ts_str, op, lsn)."""
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, ts string, op string, lsn long",
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _mk(spark, root, num_buckets=4):
    return LakeTable.create(
        spark,
        str(root),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=num_buckets,
    )


def _batch_a(n_convs=40):
    return [
        (f"c{i:03d}", t, f"a-{i}-{t}", f"2024-01-01 00:{i % 60:02d}:{t:02d}", "I", i * 10 + t)
        for i in range(n_convs)
        for t in range(3)
    ]


def _lww_oracle(spark, all_rows):
    """Expected final table state: LWW by (ts, lsn) per key, deletes win
    by vanishing — the same contract merge() implements."""
    ev = _events(spark, all_rows)
    w = F.struct(F.col("ts"), F.col("lsn"))
    win = (
        ev.groupBy("conv_id", "turn_idx")
        .agg(F.max_by(F.struct(*ev.columns), w).alias("_r"))
        .select("_r.*")
    )
    return (
        win.filter(F.col("op") != "D")
        .select("conv_id", "turn_idx", "text", "ts")
        .sort("conv_id", "turn_idx")
        .collect()
    )


def _state(tbl):
    return tbl.read().select("conv_id", "turn_idx", "text", "ts").sort(
        "conv_id", "turn_idx"
    ).collect()


def test_split_all_at_once_preserves_state(spark, tmp_path):
    tbl = _mk(spark, tmp_path / "t1", num_buckets=4)
    rows = _batch_a()
    tbl.merge(_events(spark, rows))
    before = _state(tbl)

    out = tbl.split_buckets(factor=2)
    assert out["complete"] is True
    assert out["num_buckets"] == 8
    assert out["rows_rewritten"] == len(before)
    snap = tbl._snapshot()
    assert snap["num_buckets"] == 8
    assert "rebucket" not in snap
    assert _state(tbl) == before

    # every surviving file's stored _bucket matches the new modulus
    chk = tbl.read(include_system=True).select(
        "_bucket",
        F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int").alias("want"),
    )
    assert chk.filter(F.col("_bucket") != F.col("want")).count() == 0

    # post-split merges route to the grown layout and apply cleanly
    tbl.merge(_events(spark, [("c001", 0, "post-split", "2024-02-01 00:00:00", "U", 9999)]))
    assert tbl.lookup("c001").filter(F.col("turn_idx") == 0).collect()[0]["text"] == "post-split"


def test_incremental_split_interleaves_with_merges(spark, tmp_path, placement):
    tbl = _mk(spark, tmp_path / "t2", num_buckets=4)
    a = _batch_a()
    tbl.merge(_events(spark, a))

    # split the first two old buckets, leaving the frontier mid-table
    out = tbl.split_buckets(factor=2, max_buckets=1)
    assert out["complete"] is False and out["split_ptr"] == 1
    out = tbl.split_buckets(max_buckets=1)  # factor=None continues in-flight
    assert out["complete"] is False and out["split_ptr"] == 2
    snap = tbl._snapshot()
    assert snap["rebucket"] == {"to": 8, "split_ptr": 2}
    assert snap["num_buckets"] == 4  # old modulus still governs unsplit keys

    # merge against the half-split table: updates + deletes land on keys
    # in BOTH regimes (hashing spreads c000..c039 across all 4 old buckets)
    b = [
        (f"c{i:03d}", 1, f"b-{i}", "2024-03-01 00:00:00", "U", 100000 + i)
        for i in range(40)
    ] + [
        (f"c{i:03d}", 2, None, "2024-03-01 00:00:01", "D", 200000 + i)
        for i in range(0, 40, 3)
    ]
    tbl.merge(_events(spark, b))

    # mid-split lookups prune to the correct side of the frontier
    for cid in ("c000", "c005", "c017", "c031"):
        got = tbl.lookup(cid).filter(F.col("turn_idx") == 1).collect()
        assert len(got) == 1 and got[0]["text"] == f"b-{int(cid[1:])}"

    # finish the split, then one more merge on the final layout
    out = tbl.split_buckets()
    assert out["complete"] is True and out["num_buckets"] == 8
    c = [("c007", 0, "final", "2024-04-01 00:00:00", "U", 300000)]
    tbl.merge(_events(spark, c))

    assert _state(tbl) == _lww_oracle(spark, a + b + c)


def test_split_factor_validation(spark, tmp_path):
    tbl = _mk(spark, tmp_path / "t3", num_buckets=2)
    tbl.merge(_events(spark, _batch_a(8)))
    with pytest.raises(ValueError, match=">= 2"):
        tbl.split_buckets(factor=1)
    with pytest.raises(ValueError, match="max_buckets"):
        tbl.split_buckets(factor=2, max_buckets=0)
    # continue-only call with nothing in flight is a no-op, never a start
    out = tbl.split_buckets()
    assert out["buckets_split"] == 0 and out["complete"] is True
    assert tbl._snapshot()["num_buckets"] == 2
    tbl.split_buckets(factor=4, max_buckets=1)
    with pytest.raises(ValueError, match="in progress"):
        tbl.split_buckets(factor=2, max_buckets=1)
    out = tbl.split_buckets(factor=4)  # matching factor may continue
    assert out["complete"] is True and out["num_buckets"] == 8
    # a crash-resume loop overrunning the completed split stays a no-op
    out = tbl.split_buckets()
    assert out["buckets_split"] == 0 and tbl._snapshot()["num_buckets"] == 8
    # split steps are durable table history (op=split lineage entries)
    split_entries = [e for e in tbl.history() if e.get("op") == "split"]
    assert len(split_entries) == 2
    assert sum(e["buckets_split"] for e in split_entries) == 2
    assert split_entries[-1]["num_buckets"] == 8


def test_changes_feed_is_silent_across_a_split(spark, tmp_path):
    """A split rewrites files but not rows — the change feed between the
    surrounding snapshots must emit nothing (same contract as
    compaction)."""
    tbl = _mk(spark, tmp_path / "t4", num_buckets=4)
    tbl.merge(_events(spark, _batch_a(12)))
    v_before = tbl._snapshot()["version"]
    tbl.split_buckets(factor=2)
    assert tbl.changes(v_before).count() == 0


def test_maybe_split_policy(spark, tmp_path):
    """maybe_split is a pure-metadata decision: within budget → None;
    over budget → starts a bounded split; in-flight → continues it
    regardless of the row budget."""
    tbl = _mk(spark, tmp_path / "t6", num_buckets=4)
    rows = _batch_a(40)  # 120 live rows over 4 buckets = 30/bucket
    tbl.merge(_events(spark, rows))

    assert tbl.maybe_split(max_rows_per_bucket=1000) is None
    assert tbl._snapshot()["num_buckets"] == 4

    out = tbl.maybe_split(max_rows_per_bucket=10, max_buckets=1)
    assert out is not None and out["complete"] is False
    # in-flight split continues even though a huge budget would say stop
    out = tbl.maybe_split(max_rows_per_bucket=10**9)
    assert out is not None and out["complete"] is True
    assert tbl._snapshot()["num_buckets"] == 8
    assert _state(tbl) == _lww_oracle(spark, rows)


def test_applier_auto_splits_under_growth(spark, tmp_path):
    """A streaming applier with split_rows_per_bucket grows the bucket
    count online as the table crosses the budget, and the final state
    still equals the replay oracle."""
    from bear_spark import oracle
    from bear_spark.events import change_events
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA
    from bear_spark.sources.changelog import write_changelog
    from bear_spark.streaming import CDCApplier

    ev = change_events(spark, 4000, n_convs=40, seed=7)
    log_dir = str(tmp_path / "log")
    write_changelog(ev, log_dir, n_chunks=4)
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS, num_buckets=2,
    )
    app = CDCApplier(
        spark, tbl, log_dir, str(tmp_path / "ckpt"), str(tmp_path / "metrics"),
        max_files_per_trigger=1,
        split_rows_per_bucket=200, split_step_buckets=1,
    )
    metrics = app.run_available()
    assert any(m.get("buckets_split") for m in metrics)
    snap = tbl._snapshot()
    assert snap["num_buckets"] > 2 or "rebucket" in snap
    oracle.assert_states_equal(tbl.read().toPandas(), oracle.replay(ev.toPandas()))


def test_split_upgrades_evolved_schema_files(spark, tmp_path):
    """A split reads per-file physical schemas and stages at the CURRENT
    schema version, so files written before an evolution come out of the
    split upgraded (and mixed-version buckets become single-version)."""
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA

    tbl = LakeTable.create(
        spark, str(tmp_path / "t7"), TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS, num_buckets=2,
    )
    v0 = spark.createDataFrame(
        [("c1", 0, "user", "hello", None, "2024-01-01 00:00:01", "I", 1)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string, op string, lsn long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    tbl.merge(v0)
    # evolution: a new column arrives mid-stream
    v1 = spark.createDataFrame(
        [("c2", 0, "assistant", "ran", "bash", "2024-01-01 00:00:02", "I", 2, 7)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string, op string, lsn long, retries int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    tbl.merge(v1)
    assert tbl.snapshot["current_schema_version"] == 1

    out = tbl.split_buckets(factor=2)
    assert out["complete"] is True
    snap = tbl._snapshot()
    vers = {
        int(fi["schema_version"])
        for fs in tbl._files(snap).values()
        for fi in fs
    }
    assert vers == {1}  # every rewritten file upgraded to the current schema
    got = tbl.read().orderBy("conv_id").toPandas()
    assert list(got["text"]) == ["hello", "ran"]
    assert got["retries"].isna().tolist() == [True, False]


def test_tombstones_travel_with_their_keys(spark, tmp_path):
    tbl = _mk(spark, tmp_path / "t5", num_buckets=2)
    tbl.merge(_events(spark, [("kx", 0, "v", "2024-01-01 00:00:00", "I", 1)]))
    tbl.merge(_events(spark, [("kx", 0, None, "2024-01-02 00:00:00", "D", 2)]))
    tbl.split_buckets(factor=2)
    dead = tbl.read(include_deleted=True, include_system=True).filter("_deleted")
    got = dead.select(
        "_bucket",
        F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int").alias("want"),
    ).collect()
    assert len(got) == 1 and got[0]["_bucket"] == got[0]["want"]
    # the tombstone still fences a late stale update after the split
    tbl.merge(_events(spark, [("kx", 0, "stale", "2024-01-01 12:00:00", "U", 3)]))
    assert tbl.read().filter("conv_id = 'kx'").count() == 0
