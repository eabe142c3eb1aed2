"""The exactly-once fence: a merge drops the rows whose (source
partition, offset) the table's commit log already holds, inside the
apply kernel, in both placements. Replayed chunk files, gaps in the log
and null offsets; the merge's batch plan holds no join."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from bear_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
COLS = "k long, v string, ts timestamp, op string, lsn long, source_partition int, offset long, _src_file string"
T0 = datetime.datetime(2024, 1, 1)


def _chunk(name, offsets, v="x", part=0):
    """Rows of one changelog chunk file: key = lsn = the offset."""
    return [
        {
            "k": o, "v": f"{v}{o}", "ts": T0 + datetime.timedelta(seconds=o), "op": "I",
            "lsn": o, "source_partition": part, "offset": o, "_src_file": name,
        }
        for o in offsets
    ]


def _batch(spark, *chunks):
    """An Arrow-built batch (it has a size estimate, so the ``placement``
    fixture can force either side)."""
    rows = [r for c in chunks for r in c]
    schema = pa.schema([
        ("k", pa.int64()), ("v", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
        ("op", pa.string()), ("lsn", pa.int64()), ("source_partition", pa.int32()),
        ("offset", pa.int64()), ("_src_file", pa.string()),
    ])
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema), COLS)


def _replayed(chunk):
    """A redelivered chunk whose rows would win LWW if applied."""
    return [{**r, "v": "replayed", "ts": r["ts"] + datetime.timedelta(days=1)} for r in chunk]


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA, key_cols=["k"], seq_col="ts", num_buckets=4
    )


def _state(table):
    return dict(table.read().select("k", "v").toPandas().itertuples(index=False))


def _data_files(table):
    return {
        os.path.join(d, f) for d, _, fs in os.walk(os.path.join(table.root, "data")) for f in fs
    }


def test_half_applied_chunks_apply_only_unseen_offsets(spark, table, placement):
    c0, c1, c2 = _chunk("c0", range(0, 10)), _chunk("c1", range(10, 20)), _chunk("c2", range(20, 30))
    table.merge(_batch(spark, c0, c1[:5]))
    m = table.merge(_batch(spark, _replayed(c0), _replayed(c1[:5]) + c1[5:], c2))
    assert m["rows_in"] == 15 and m["rows_by_partition"] == {"0": 15}
    assert _state(table) == {o: f"x{o}" for o in range(30)}
    assert table.applied_offsets() == {0: [[0, 29]]}


def test_late_chunk_behind_a_gap_still_applies(spark, table, placement):
    c0, c1, c2 = _chunk("c0", range(0, 10)), _chunk("c1", range(10, 20)), _chunk("c2", range(20, 30))
    table.merge(_batch(spark, c0, c2))
    assert table.applied_offsets() == {0: [[0, 9], [20, 29]]}
    m = table.merge(_batch(spark, _replayed(c2), c1, _replayed(c0)))
    assert m["rows_in"] == 10
    assert _state(table) == {o: f"x{o}" for o in range(30)}
    assert table.applied_offsets() == {0: [[0, 29]]}


def test_fully_replayed_batch_is_skipped_and_writes_nothing(spark, table, placement):
    c0, c1 = _chunk("c0", range(0, 10)), _chunk("c1", range(0, 10), part=1)
    table.merge(_batch(spark, c0, c1))
    version, files = table._version(), _data_files(table)
    m = table.merge(_batch(spark, _replayed(c0), _replayed(c1)))
    assert m["skipped"] and m["rows_in"] == 0
    assert table._version() == version
    assert _data_files(table) == files


def test_rows_with_null_partition_or_offset_are_never_fenced(spark, table, placement):
    c0 = _chunk("c0", range(0, 10))
    table.merge(_batch(spark, c0))
    loose = [
        {**_chunk("c1", [100])[0], "offset": None},
        {**_chunk("c1", [101])[0], "source_partition": None},
    ]
    m = table.merge(_batch(spark, _replayed(c0), loose))
    assert m["rows_in"] == 2 and not m["skipped"]
    assert _state(table) == {**{o: f"x{o}" for o in range(10)}, 100: "x100", 101: "x101"}
    # no offset range to commit for either row
    assert table.applied_offsets() == {0: [[0, 9]]}


def test_merge_plan_is_one_scan_without_a_join(spark, table, placement, monkeypatch):
    seen = []
    run = LakeTable._run_kernel

    def spy(self, df, *a):
        seen.append(df._jdf.queryExecution().optimizedPlan().toString())
        return run(self, df, *a)

    monkeypatch.setattr(LakeTable, "_run_kernel", spy)
    c0, c1 = _chunk("c0", range(0, 10)), _chunk("c1", range(10, 20))
    table.merge(_batch(spark, c0))
    m = table.merge(_batch(spark, _replayed(c0), c1))
    assert m["rows_in"] == 10
    assert len(seen) == 2
    assert not [p for p in seen if "Join" in p], seen
