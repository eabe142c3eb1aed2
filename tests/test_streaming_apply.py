"""Phase 2: Structured Streaming changelog tail → exactly-once apply,
resume-from-checkpoint, crash-replay fencing, lineage metrics."""

from __future__ import annotations

import pytest

from bear_spark import oracle
from bear_spark.events import change_events
from bear_spark.lake import LakeTable
from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA
from bear_spark.sources.changelog import parse_raw, write_changelog, write_raw
from bear_spark.streaming import CDCApplier
from bear_spark.streaming import apply as apply_mod

N = 8000


@pytest.fixture(scope="module")
def log_and_oracle(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    ev = change_events(spark, N, n_convs=50, seed=21)
    files = write_changelog(ev, str(root / "changelog"), n_chunks=8)
    expected = oracle.replay(ev.toPandas())
    return str(root / "changelog"), files, expected


def _mk_table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, key_cols=KEY_COLS, num_buckets=4
    )


def test_stream_apply_matches_oracle(spark, tmp_path, log_and_oracle):
    log_dir, files, expected = log_and_oracle
    table = _mk_table(spark, tmp_path)
    app = CDCApplier(
        spark, table, log_dir, str(tmp_path / "ckpt"), str(tmp_path / "metrics"),
        max_files_per_trigger=3,
    )
    metrics = app.run_available()
    assert len(metrics) >= 3  # 8 files / 3 per trigger
    oracle.assert_states_equal(table.read().toPandas(), expected)
    # lineage metrics table is queryable and consistent
    mt = app.metrics_table().toPandas()
    assert int(mt["rows_in"].sum()) == N


def test_stream_resume_from_checkpoint(spark, tmp_path, log_and_oracle):
    """Apply half the log, 'crash', re-run: the checkpoint resumes from
    the unconsumed files and the final state equals the oracle."""
    log_dir, files, expected = log_and_oracle
    table = _mk_table(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    # simulate partial progress by running on a prefix copy of the log
    import os
    import shutil

    prefix_dir = str(tmp_path / "prefix")
    os.makedirs(prefix_dir)
    parquets = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    for f in parquets[:4]:
        shutil.copy(os.path.join(log_dir, f), os.path.join(prefix_dir, f))
    CDCApplier(spark, table, prefix_dir, ckpt, str(tmp_path / "m1")).run_available()
    v_mid = table.snapshot["version"]
    assert v_mid >= 1

    # "restart": full log now visible, same checkpoint → continues
    CDCApplier(spark, table, log_dir, str(tmp_path / "ckpt2"), str(tmp_path / "m2")).run_available()
    oracle.assert_states_equal(table.read().toPandas(), expected)


def test_stream_replay_whole_log_is_fenced(spark, tmp_path, log_and_oracle):
    """Re-running the stream with a FRESH checkpoint redelivers every
    file; the table commit log must fence all of it (no state change,
    skipped batches in lineage)."""
    log_dir, files, expected = log_and_oracle
    table = _mk_table(spark, tmp_path)
    CDCApplier(spark, table, log_dir, str(tmp_path / "c1"), str(tmp_path / "m1")).run_available()
    v1 = table.snapshot["version"]
    state1 = table.read().toPandas()

    m2 = CDCApplier(spark, table, log_dir, str(tmp_path / "c2"), str(tmp_path / "m2")).run_available()
    assert all(m["skipped"] for m in m2), "all redelivered batches must be fenced"
    assert table.snapshot["version"] == v1
    oracle.assert_states_equal(table.read().toPandas(), state1)


def test_stream_with_auto_compaction_matches_oracle(spark, tmp_path, log_and_oracle):
    log_dir, files, expected = log_and_oracle
    table = _mk_table(spark, tmp_path)
    app = CDCApplier(
        spark, table, log_dir, str(tmp_path / "ckpt"), str(tmp_path / "metrics"),
        max_files_per_trigger=2, compact_every=2,
    )
    app.run_available()
    oracle.assert_states_equal(table.read().toPandas(), expected)
    # compaction bounded file count: at most one live + one tombstone
    # file per bucket right after a compact cycle, and never more than
    # a couple of merges' worth in between
    n_files = sum(len(v) for v in table.snapshot["files"].values())
    assert n_files <= 2 * len(table.snapshot["files"]) + 8


def test_metrics_sink_batches_flushes(spark, tmp_path, log_and_oracle, monkeypatch):
    """Metric rows are buffered and flushed every N batches: 8 files /
    1 per trigger = 8 batches → ceil(8/3) = 3 metrics files, written
    driver-side (no Spark job), still fully queryable."""
    import math
    import os

    log_dir, files, expected = log_and_oracle
    table = _mk_table(spark, tmp_path)
    monkeypatch.setattr(apply_mod, "METRICS_FLUSH_EVERY", 3)
    app = CDCApplier(
        spark, table, log_dir, str(tmp_path / "ckpt"), str(tmp_path / "metrics"),
        max_files_per_trigger=1,
    )
    metrics = app.run_available()
    n_batches = len(metrics)
    assert n_batches == len(files)
    flushed = [f for f in os.listdir(str(tmp_path / "metrics")) if f.endswith(".parquet")]
    assert len(flushed) == math.ceil(n_batches / 3)
    mt = app.metrics_table().toPandas()
    assert len(mt) == n_batches
    assert int(mt["rows_in"].sum()) == N


def test_raw_json_parse_paths_agree(spark, tmp_path):
    ev = change_events(spark, 2000, n_convs=20, seed=33)
    raw_dir = str(tmp_path / "raw")
    write_raw(ev, raw_dir)
    raw = spark.read.parquet(raw_dir)
    jvm = parse_raw(raw).toPandas().sort_values("lsn").reset_index(drop=True)
    base = ev.toPandas().sort_values("lsn").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(jvm[base.columns], base, check_dtype=False)


def test_metrics_row_survives_maintenance_failure(spark, tmp_path, monkeypatch):
    """A successful merge's metrics row must be durable even when the
    post-merge maintenance (compact/vacuum/split) raises: the epoch is
    already fenced in the commit log, so a restart replays it as
    {skipped} and the applied row could never be recorded again."""
    table = _mk_table(spark, tmp_path)
    monkeypatch.setattr(apply_mod, "METRICS_FLUSH_EVERY", 100)
    app = CDCApplier(
        spark, table, str(tmp_path / "log"), str(tmp_path / "ckpt"),
        str(tmp_path / "metrics"), compact_every=1,
    )

    def boom():
        raise OSError("transient maintenance failure")

    monkeypatch.setattr(table, "compact", boom)
    batch = change_events(spark, 500, n_convs=10, seed=7)
    with pytest.raises(OSError, match="transient"):
        app._apply_batch(batch, epoch_id=0)
    # the merge row was flushed to parquet before the exception escaped
    mt = app.metrics_table().toPandas()
    assert len(mt) == 1
    assert not bool(mt["skipped"].iloc[0])
    assert int(mt["rows_in"].iloc[0]) == 500


def test_run_available_returns_spark_epoch_phases(spark, tmp_path, log_and_oracle):
    """Each epoch's metric dict carries Spark's own phase split of that
    epoch (``durationMs``, matched by batch id); the metrics table keeps
    its columns. Checkpoints go through the FileSystem manager."""
    from bear_spark.session import CHECKPOINT_FILE_MANAGER

    log_dir, files, expected = log_and_oracle
    table = _mk_table(spark, tmp_path)
    app = CDCApplier(
        spark, table, log_dir, str(tmp_path / "ckpt"), str(tmp_path / "metrics"),
        max_files_per_trigger=3,
    )
    metrics = app.run_available()
    applied = [m for m in metrics if not m["skipped"]]
    assert len(applied) == 3
    assert [m["epoch_id"] for m in metrics] == list(range(len(metrics)))
    for m in applied:
        ms = m["duration_ms"]
        assert ms["addBatch"] >= 0 and ms["walCommit"] >= 0, ms
    assert "duration_ms" not in app.metrics_table().columns
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == CHECKPOINT_FILE_MANAGER
    oracle.assert_states_equal(table.read().toPandas(), expected)
