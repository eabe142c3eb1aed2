"""Phase 0: change-event generator → LWW MERGE into the lake table →
final state equals the single-threaded pandas replay oracle, with
per-turn text equality under stable (conv_id, turn_idx) ordering."""

from __future__ import annotations

import pandas as pd
import pytest

from bear_spark import oracle
from bear_spark.events import change_events
from bear_spark.lake import LakeTable
from bear_spark.operators.dedup import lww_dedup_agg, lww_dedup_window
from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA

N_EVENTS = 10_000


@pytest.fixture(scope="module")
def events_pdf(spark):
    return change_events(spark, N_EVENTS, n_convs=60, seed=7).toPandas()


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS,
        seq_col="ts",
        num_buckets=4,
    )


def _live_state(table) -> pd.DataFrame:
    return table.read().toPandas()


def test_generator_slices_compose(spark):
    """Batch-wise generation (start/total_events) yields exactly the
    same log as one full-range call — the soak harness's contract."""
    import pandas as pd

    full = (
        change_events(spark, 6000, seed=11).toPandas().sort_values("lsn").reset_index(drop=True)
    )
    parts = [
        change_events(spark, 2000, seed=11, start=k * 2000, total_events=6000).toPandas()
        for k in range(3)
    ]
    sliced = pd.concat(parts).sort_values("lsn").reset_index(drop=True)
    pd.testing.assert_frame_equal(sliced, full)


def test_generator_deterministic(spark):
    a = change_events(spark, 1000, seed=3).toPandas().sort_values("lsn").reset_index(drop=True)
    b = change_events(spark, 1000, seed=3).toPandas().sort_values("lsn").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert set(a["op"]) <= {"I", "U", "D"}
    assert a["lsn"].is_unique


def test_dedup_variants_agree(spark):
    ev = change_events(spark, 5000, n_convs=20, seed=11)
    a = lww_dedup_agg(ev, KEY_COLS, ["ts", "lsn"]).toPandas()
    b = lww_dedup_window(ev, KEY_COLS, ["ts", "lsn"]).toPandas()
    a = a.sort_values(KEY_COLS).reset_index(drop=True)
    b = b.sort_values(KEY_COLS).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_single_merge_matches_oracle(spark, table, events_pdf):
    ev = change_events(spark, N_EVENTS, n_convs=60, seed=7)
    m = table.merge(ev)
    assert not m["skipped"]
    assert m["rows_in"] == N_EVENTS
    expected = oracle.replay(events_pdf)
    oracle.assert_states_equal(_live_state(table), expected)


def test_chunked_replay_matches_oracle(spark, table, events_pdf):
    ev = change_events(spark, N_EVENTS, n_convs=60, seed=7)
    for lo in range(0, N_EVENTS, 2500):
        table.merge(ev.filter((ev.lsn >= lo) & (ev.lsn < lo + 2500)))
    expected = oracle.replay(events_pdf)
    oracle.assert_states_equal(_live_state(table), expected)


def test_replay_is_idempotent_and_order_insensitive(spark, table, events_pdf):
    """Apply chunks out of order, some twice (without the offset envelope,
    so nothing is fenced: raw at-least-once delivery) — LWW must still
    converge to the oracle."""
    ev = change_events(spark, N_EVENTS, n_convs=60, seed=7).drop("source_partition", "offset")
    chunks = [ev.filter((ev.lsn >= lo) & (ev.lsn < lo + 2500)) for lo in range(0, N_EVENTS, 2500)]
    for c in [chunks[2], chunks[0], chunks[3], chunks[0], chunks[1], chunks[2]]:
        table.merge(c)
    expected = oracle.replay(events_pdf)
    oracle.assert_states_equal(_live_state(table), expected)


def test_exactly_once_fence_skips_replayed_batch(spark, table):
    ev = change_events(spark, 4000, n_convs=30, seed=9)
    m1 = table.merge(ev)
    assert m1["rows_in"] == 4000
    m2 = table.merge(ev)  # full replay → fenced out entirely
    assert m2["skipped"]
    state1 = _live_state(table)
    oracle.assert_states_equal(
        state1, oracle.replay(change_events(spark, 4000, n_convs=30, seed=9).toPandas())
    )


def test_delete_tombstone_blocks_stale_resurrection(spark, table):
    """A delete with higher (ts,lsn) then a replayed stale update must
    not resurrect the row."""
    import pyspark.sql.functions as F

    cols = "conv_id string, turn_idx int, role string, text string, tool string, ts string, op string, lsn long, source_partition int, offset long"

    def mk(rows):
        return spark.createDataFrame(rows, cols).withColumn("ts", F.col("ts").cast("timestamp"))

    df = mk(
        [
            ("c1", 0, "user", "v1", None, "2024-01-01 00:00:01", "I", 1, 0, 0),
            ("c1", 0, "user", "v2", None, "2024-01-01 00:00:05", "D", 5, 0, 1),
        ]
    )
    table.merge(df)
    assert table.read().count() == 0
    # stale update (ts < delete's ts) arrives late, unfenced
    stale = mk([("c1", 0, "user", "v1b", None, "2024-01-01 00:00:03", "U", 3, 0, 2)])
    table.merge(stale.drop("source_partition", "offset"))
    assert table.read().count() == 0, "tombstone must win over stale update"
    # a genuinely newer insert resurrects
    fresh = mk([("c1", 0, "user", "v3", None, "2024-01-01 00:00:09", "I", 9, 0, 3)])
    table.merge(fresh.drop("source_partition", "offset"))
    out = table.read().toPandas()
    assert list(out["text"]) == ["v3"]


def test_merge_full_state_matches_oracle_winners(spark, table, events_pdf, placement):
    """The merge kernel's full state — live rows, tombstones and each
    row's ``_lsn`` — equals the pandas oracle's last event per key over
    the same chunked replay, with the kernel on the driver and in the
    ``applyInArrow`` job."""
    ev = change_events(spark, N_EVENTS, n_convs=60, seed=7)
    for lo in range(0, N_EVENTS, 2500):
        table.merge(ev.filter((ev.lsn >= lo) & (ev.lsn < lo + 2500)))
    got = table.read(include_deleted=True, include_system=True).toPandas()
    win = oracle.winners(events_pdf)
    expected = win.assign(_deleted=win["op"] == "D").rename(columns={"lsn": "_lsn"})
    compared = set(got.columns) & set(expected.columns)
    assert compared == {*TRANSCRIPT_SCHEMA.fieldNames(), "_lsn", "_deleted"}
    assert expected["_deleted"].any() and not expected["_deleted"].all()
    oracle.assert_states_equal(got, expected)


def test_lineage_metrics_recorded(spark, table):
    ev = change_events(spark, 3000, n_convs=20, seed=5)
    m = table.merge(ev)
    hist = table.history()
    assert hist[-1]["rows_in"] == 3000
    assert hist[-1]["rows_written"] == m["rows_written"]
    assert m["dedup_drops"] >= 0
    assert m["buckets_touched"] >= 1
    # per-source-partition lineage covers every applied row
    assert sum(m["rows_by_partition"].values()) == 3000
    assert len(m["rows_by_partition"]) == 8  # generator default shards


def test_compact_and_vacuum_preserve_state(spark, table, events_pdf, placement):
    ev = change_events(spark, N_EVENTS, n_convs=60, seed=7)
    for lo in range(0, N_EVENTS, 2500):
        table.merge(ev.filter((ev.lsn >= lo) & (ev.lsn < lo + 2500)))
    before = _live_state(table).sort_values(KEY_COLS).reset_index(drop=True)
    n_files_before = sum(len(v) for v in table.snapshot["files"].values())
    table.compact()
    removed = table.vacuum()
    assert removed, "vacuum must reclaim superseded staging dirs"
    after = _live_state(table).sort_values(KEY_COLS).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after, check_like=True)
    assert sum(len(v) for v in table.snapshot["files"].values()) <= n_files_before
    # fencing still intact after compaction (commit log untouched)
    m = table.merge(ev.filter(ev.lsn < 2500))
    assert m["skipped"]


def test_expire_tombstones_drops_only_settled_deletes(spark, table, placement):
    """Tombstones with event time below the cutoff vanish; newer ones
    survive and still block stale resurrection; live rows untouched."""
    import pyspark.sql.functions as F

    cols = "conv_id string, turn_idx int, role string, text string, tool string, ts string, op string, lsn long, source_partition int, offset long"

    def mk(rows):
        return spark.createDataFrame(rows, cols).withColumn("ts", F.col("ts").cast("timestamp"))

    table.merge(
        mk(
            [
                ("c1", 0, "user", "old-deleted", None, "2024-01-01 00:00:01", "D", 1, 0, 0),
                ("c2", 0, "user", "new-deleted", None, "2024-01-03 00:00:01", "D", 2, 0, 1),
                ("c3", 0, "user", "alive", None, "2024-01-02 00:00:01", "I", 3, 0, 2),
            ]
        )
    )
    sys_rows = table.read(include_deleted=True, include_system=True).toPandas()
    assert sys_rows["_deleted"].sum() == 2
    out = table.expire_tombstones(older_than="2024-01-02 00:00:00")
    assert out == {"expired": 1, "kept": 1}
    after = table.read(include_deleted=True, include_system=True).toPandas()
    assert after["_deleted"].sum() == 1
    assert set(after[after["_deleted"]]["conv_id"]) == {"c2"}
    assert set(after[~after["_deleted"]]["conv_id"]) == {"c3"}
    # surviving tombstone still blocks a stale update
    table.merge(
        mk([("c2", 0, "user", "stale", None, "2024-01-02 12:00:00", "U", 9, 0, 3)]).drop(
            "source_partition", "offset"
        ),
    )
    assert "c2" not in set(table.read().toPandas()["conv_id"])


def test_crash_between_stage_and_commit_leaves_table_intact(spark, table, monkeypatch):
    """Two-phase commit: if the process dies AFTER data files are
    staged but BEFORE the snapshot swap, readers still see the old
    snapshot and re-merging the same batch succeeds (offsets were never
    committed → no fence). The orphaned staging dir is for the next
    version, which another writer could still be committing, so vacuum
    keeps it until that version is committed and then reclaims it."""
    import os

    ev = change_events(spark, 4000, n_convs=30, seed=31)
    table.merge(ev.filter(ev.lsn < 2000))
    v1 = table.snapshot["version"]
    state1 = _live_state(table).sort_values(KEY_COLS).reset_index(drop=True)

    # crash injection: snapshot write raises after staging
    real_write = LakeTable._write_snapshot

    def boom(self, snap, expect_version):
        raise RuntimeError("simulated crash before metadata swap")

    monkeypatch.setattr(LakeTable, "_write_snapshot", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        table.merge(ev.filter(ev.lsn >= 2000))
    monkeypatch.setattr(LakeTable, "_write_snapshot", real_write)

    # old snapshot intact, staged orphan kept while v1+1 is uncommitted
    assert table.snapshot["version"] == v1
    got = _live_state(table).sort_values(KEY_COLS).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, state1, check_like=True)
    data = os.path.join(table.root, "data")
    live = {fi["path"].split(os.sep)[1] for fs in table.snapshot["files"].values() for fi in fs}
    orphans = set(os.listdir(data)) - live
    assert len(orphans) == 1 and next(iter(orphans)).startswith(f"s{v1 + 1}-"), orphans
    assert not orphans & set(table.vacuum())
    assert orphans <= set(os.listdir(data))

    # retry applies cleanly (no offsets were committed for the batch);
    # v1+1 is now committed, so the orphan is reclaimable
    m = table.merge(ev.filter(ev.lsn >= 2000))
    assert not m["skipped"]
    assert orphans <= set(table.vacuum()), "orphaned staging dir must be reclaimed"
    expected = oracle.replay(change_events(spark, 4000, n_convs=30, seed=31).toPandas())
    oracle.assert_states_equal(_live_state(table), expected)


def test_point_lookup_prunes_to_one_bucket(spark, table, events_pdf):
    ev = change_events(spark, N_EVENTS, n_convs=60, seed=7)
    table.merge(ev)
    full = table.read().toPandas()
    conv = full["conv_id"].iloc[0]
    got = table.lookup(conv).toPandas().sort_values(KEY_COLS).reset_index(drop=True)
    want = (
        full[full["conv_id"] == conv].sort_values(KEY_COLS).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_like=True)
    assert len(got) > 0
    # data files are key-sorted (lake sort-order spec)
    import os

    import pyarrow.parquet as pq

    files = table.snapshot["files"]
    fi = next(iter(files.values()))[0]
    pdf = pq.read_table(os.path.join(table.root, fi["path"])).to_pandas()
    assert list(pdf["conv_id"]) == sorted(pdf["conv_id"])


def test_merge_under_extreme_key_skew_matches_oracle(spark, tmp_path):
    """Half of all events hammer two conv_ids (hot keys). LWW must
    collapse them and the final state must equal the oracle."""
    from bear_spark import oracle as _oracle

    ev = change_events(
        spark, 8000, n_convs=40, seed=17, hot_key_pct=50, n_hot_keys=2
    )
    t = LakeTable.create(
        spark, str(tmp_path / "skew"), TRANSCRIPT_SCHEMA, key_cols=KEY_COLS, num_buckets=8
    )
    for lo in range(0, 8000, 2000):
        t.merge(ev.filter((ev.lsn >= lo) & (ev.lsn < lo + 2000)))
    expected = _oracle.replay(ev.toPandas())
    _oracle.assert_states_equal(t.read().toPandas(), expected)
