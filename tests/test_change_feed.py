"""Change-data-feed reads: LakeTable.changes(v_from, v_to) must emit the
NET row-level delta between two retained snapshots — the incremental-
consumer surface (Iceberg changelog scan / Delta CDF analog).

Covers: insert/update/delete classification, net-effect semantics
(insert+delete inside the range cancels), preimage rows, compaction-only
ranges emitting nothing (and pruning untouched buckets), a range
spanning a schema evolution yielding the feed in the evolved schema, one
diff-kernel call per bucket group and no join under either placement,
files carried over by a merge left unread, one output schema under both
placements, and the feed equal to a pandas diff of the two versions on a
random history with a bucket split and a null key."""

from __future__ import annotations

import json
import random
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark.lake import LakeTable, arrow_apply

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
        rows, "conv_id string, turn_idx int, text string, ts string, op string, lsn long"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        seq_col="ts",
        num_buckets=4,
    )


def _feed(tbl, v_from, v_to=None, **kw):
    rows = tbl.changes(v_from, v_to, **kw).collect()
    return {
        (r["conv_id"], r["turn_idx"], r["_change_type"]): r["text"] for r in rows
    }


def test_changes_classifies_insert_update_delete(spark, table):
    table.merge(
        _events(
            spark,
            [
                ("a", 0, "a0", "2024-01-01 00:00:00", "I", 1),
                ("a", 1, "a1", "2024-01-01 00:00:01", "I", 2),
                ("b", 0, "b0", "2024-01-01 00:00:02", "I", 3),
            ],
        )
    )
    v1 = table.snapshot["version"]
    table.merge(
        _events(
            spark,
            [
                ("a", 1, "a1-new", "2024-01-02 00:00:00", "U", 4),  # update
                ("b", 0, None, "2024-01-02 00:00:01", "D", 5),  # delete
                ("c", 0, "c0", "2024-01-02 00:00:02", "I", 6),  # insert
            ],
        )
    )
    feed = _feed(table, v1)
    assert feed == {
        ("a", 1, "update_postimage"): "a1-new",
        ("b", 0, "delete"): "b0",  # delete carries last-seen payload
        ("c", 0, "insert"): "c0",
    }
    # ('a', 0) untouched -> absent from the feed
    pre = _feed(table, v1, include_preimage=True)
    assert pre[("a", 1, "update_preimage")] == "a1"
    assert len(pre) == 4


def test_changes_is_net_effect_across_commits(spark, table):
    v0 = table.snapshot["version"]
    table.merge(_events(spark, [("x", 0, "x0", "2024-01-01 00:00:00", "I", 1)]))
    table.merge(_events(spark, [("x", 0, None, "2024-01-02 00:00:00", "D", 2)]))
    table.merge(_events(spark, [("y", 0, "y0", "2024-01-03 00:00:00", "I", 3)]))
    feed = _feed(table, v0)
    # x was inserted then deleted inside the range: net nothing
    assert feed == {("y", 0, "insert"): "y0"}


def test_compaction_only_range_emits_nothing(spark, table):
    # distinct conv_ids in separate commits: disjoint key ranges stack up
    # as separate files in their buckets (range-pruned COW never rewrites
    # a file the batch cannot touch), leaving fragments to compact
    for i in range(8):
        table.merge(
            _events(spark, [(f"k{i}", 0, f"t{i}", f"2024-01-01 00:00:0{i}", "I", i + 1)])
        )
    v = table.snapshot["version"]
    out = table.compact()
    assert out["buckets_compacted"] >= 1
    df = table.changes(v)
    assert df.count() == 0


def test_changes_prunes_untouched_buckets(spark, table):
    table.merge(
        _events(
            spark,
            [(f"c{i}", 0, f"t{i}", "2024-01-01 00:00:00", "I", i + 1) for i in range(40)],
        )
    )
    v = table.snapshot["version"]
    table.merge(_events(spark, [("c1", 0, "t1-new", "2024-01-02 00:00:00", "U", 100)]))
    snap_from = table._snapshot(v)
    snap_to = table._snapshot()
    changed = table._changed_buckets(snap_from, snap_to)
    # only the bucket 'c1' hashes into was touched
    assert len(changed) == 1
    feed = _feed(table, v)
    assert feed == {("c1", 0, "update_postimage"): "t1-new"}


def test_changes_across_schema_evolution_uses_evolved_schema(spark, table):
    table.merge(_events(spark, [("a", 0, "a0", "2024-01-01 00:00:00", "I", 1)]))
    v = table.snapshot["version"]
    widened = (
        _events(spark, [("a", 1, "a1", "2024-01-02 00:00:00", "I", 2)])
        .withColumn("tool", F.lit("search"))
    )
    table.merge(widened)
    df = table.changes(v)
    assert "tool" in df.columns
    rows = {r["turn_idx"]: r for r in df.collect()}
    assert rows[1]["tool"] == "search" and rows[1]["_change_type"] == "insert"
    assert 0 not in rows  # old row unchanged, not re-emitted as a change


def test_changes_rejects_inverted_range(spark, table):
    table.merge(_events(spark, [("a", 0, "a0", "2024-01-01 00:00:00", "I", 1)]))
    v = table.snapshot["version"]
    with pytest.raises(ValueError):
        table.changes(v, 0)


def _plan_counts(df) -> tuple[int, int]:
    """(joins, FlatMapGroupsInArrow nodes) in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )
    return len(joins), plan.count("FlatMapGroupsInArrow")


def _spy_diff_kernel(monkeypatch, log):
    """Record every diff-kernel call as (group, paths handed to it). The
    calls go to the file ``log``, so calls made in Python workers are
    recorded too. Returns a function that pops the calls so far."""
    make = arrow_apply.make_diff_kernel

    def making(*args, **kwargs):
        kernel, path = make(*args, **kwargs), str(log)

        def logged(files):
            with open(path, "a") as f:
                groups = sorted(set(files.column("_bucket").to_pylist()))
                f.write(json.dumps([groups, files.column("path").to_pylist()]) + "\n")
            return kernel(files)

        return logged

    monkeypatch.setattr(arrow_apply, "make_diff_kernel", making)

    def calls():
        if not log.exists():
            return []
        out = [json.loads(ln) for ln in log.read_text().splitlines()]
        log.unlink()
        return out

    return calls


def test_changes_runs_one_diff_kernel_per_group(spark, table, placement, monkeypatch, tmp_path):
    calls = _spy_diff_kernel(monkeypatch, tmp_path / "calls")
    table.merge(
        _events(
            spark,
            [(f"k{i}", 0, f"t{i}", "2024-01-01 00:00:00", "I", i + 1) for i in range(12)],
        )
    )
    v = table.snapshot["version"]
    table.merge(
        _events(
            spark,
            [
                ("k0", 0, "t0-new", "2024-01-02 00:00:00", "U", 20),
                ("k1", 0, None, "2024-01-02 00:00:01", "D", 21),
                ("c", 0, "c0", "2024-01-02 00:00:02", "I", 22),
                *[(f"k{i}", 0, f"t{i}-new", "2024-01-02 00:00:03", "U", 20 + i) for i in range(3, 12)],
            ],
        )
    )
    changed = table._changed_buckets(table._snapshot(v), table._snapshot())
    assert len(changed) > 1
    for pre in (False, True):
        calls()
        df = table.changes(v, include_preimage=pre)
        joins, arrow_groups = _plan_counts(df)
        assert joins == 0
        assert arrow_groups == (1 if placement == "job" else 0)
        rows = df.collect()
        assert len(rows) == 12 + pre * 10
        groups = [g for gs, _ in calls() for g in gs]
        # each bucket group once, in one call of its own
        assert sorted(groups) == sorted(b % 4 for b in changed)
    assert len(_feed(table, v, include_preimage=True)) == 22


def test_changes_skips_files_carried_over_by_a_merge(spark, tmp_path, monkeypatch):
    # one bucket and disjoint key ranges per commit: each merge range-
    # prunes the earlier files and carries them into its snapshot as is
    tbl = LakeTable.create(
        spark, str(tmp_path / "one"), SCHEMA,
        key_cols=["conv_id", "turn_idx"], seq_col="ts", num_buckets=1,
    )
    calls = _spy_diff_kernel(monkeypatch, tmp_path / "calls")
    tbl.merge(_events(spark, [("k0", 0, "t0", "2024-01-01 00:00:00", "I", 1)]))
    v = tbl.snapshot["version"]
    carried = {fi["path"] for fi in tbl.snapshot["files"]["0"]}
    tbl.merge(_events(spark, [("k1", 0, "t1", "2024-01-01 00:00:01", "I", 2)]))
    files_now = {fi["path"] for fi in tbl.snapshot["files"]["0"]}
    assert carried < files_now, "the k0 file was not carried over"

    assert _feed(tbl, v) == {("k1", 0, "insert"): "t1"}
    read = {p for _, paths in calls() for p in paths}
    assert read == files_now - carried


def test_changes_schema_is_the_same_on_both_placements(spark, table, placement):
    """The feed's names and types, pinned to what the Spark-join
    implementation returned: payload in the ``to`` schema (widened across
    an evolution), ``_change_type`` string, ``_commit_version`` int."""
    table.merge(_events(spark, [("a", 0, "a0", "2024-01-01 00:00:00", "I", 1)]))
    v = table.snapshot["version"]
    table.merge(_events(spark, [("a", 0, "a1", "2024-01-02 00:00:00", "U", 2)]))
    base = [("conv_id", "string"), ("turn_idx", "int"), ("text", "string"), ("ts", "timestamp")]
    tail = [("_change_type", "string"), ("_commit_version", "int")]

    def names_and_types(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema]

    for df in (table.changes(v), table.changes(v, include_preimage=True)):
        assert names_and_types(df) == base + tail
    assert names_and_types(table.changes(v, v)) == base + tail  # empty feed
    widened = _events(spark, [("b", 0, "b0", "2024-01-03 00:00:00", "I", 3)]).withColumn(
        "turn_idx", F.col("turn_idx").cast("long")
    ).withColumn("tool", F.lit("t"))
    table.merge(widened)
    evolved = [*base[:1], ("turn_idx", "bigint"), *base[2:], ("tool", "string")]
    assert names_and_types(table.changes(v)) == evolved + tail


def test_null_key_update_replaces_its_row(spark, table):
    """A null first key lies outside every file's key range, so a batch
    updating it must still read the file that holds it: pruning on the
    range alone carried that file over and left two live rows."""
    table.merge(
        _events(
            spark,
            [(f"k{i}", 0, "x", "2024-01-01 00:00:00", "I", i + 1) for i in range(20)]
            + [(None, 0, "null0", "2024-01-01 00:00:00", "I", 100)],
        )
    )
    v = table.snapshot["version"]
    table.merge(_events(spark, [(None, 0, "null1", "2024-01-02 00:00:00", "U", 101)]))
    rows = table.read().where("conv_id IS NULL").collect()
    assert [r["text"] for r in rows] == ["null1"]
    assert _feed(table, v, include_preimage=True) == {
        (None, 0, "update_postimage"): "null1",
        (None, 0, "update_preimage"): "null0",
    }


def _net_diff(tbl, v_from, v_to, preimage):
    """The feed by definition: both versions' full state, diffed in pandas."""
    def state(v):
        pdf = tbl.read(version=v, include_deleted=True, include_system=True).toPandas()
        return {(r["conv_id"], r["turn_idx"]): r for r in pdf.to_dict("records")}

    old, new = state(v_from), state(v_to)
    out = set()
    for k in set(old) | set(new):
        o, n = old.get(k), new.get(k)
        o_live = o is not None and not o["_deleted"]
        n_live = n is not None and not n["_deleted"]
        if not o_live and n_live:
            out.add((*k, "insert", n["text"]))
        elif o_live and not n_live:
            out.add((*k, "delete", o["text"]))
        elif o_live and n_live and (o["_lsn"], o["ts"]) != (n["_lsn"], n["ts"]):
            out.add((*k, "update_postimage", n["text"]))
            if preimage:
                out.add((*k, "update_preimage", o["text"]))
    return out


def test_changes_equals_net_diff_of_two_reads_on_random_history(
    spark, tmp_path, placement, monkeypatch
):
    rng = random.Random(11)
    tbl = LakeTable.create(
        spark, str(tmp_path / "rand"), SCHEMA,
        key_cols=["conv_id", "turn_idx"], seq_col="ts", num_buckets=2,
    )
    calls = _spy_diff_kernel(monkeypatch, tmp_path / "calls")
    lsn, versions = 0, [tbl.snapshot["version"]]
    for c in range(6):
        rows = []
        # a fresh key range per commit, so some merges carry files over
        for i in range(rng.randint(2, 5)):
            lsn += 1
            rows.append((f"n{c}-{i}", 0, f"v{lsn}", f"2024-01-0{c + 1} 00:00:00", "I", lsn))
        # updates and deletes of earlier keys, some of them stale
        for _ in range(rng.randint(0, 4)) if c else []:
            lsn += 1
            src = rng.randrange(c)
            op = rng.choice("UUD")
            day = rng.choice([c, c + 1])
            rows.append(
                (f"n{src}-0", 0, None if op == "D" else f"v{lsn}",
                 f"2024-01-0{day} 12:00:00", op, lsn)
            )
        # a null key, inserted and then updated: two nulls are one key
        if c in (1, 4):
            lsn += 1
            rows.append((None, 0, f"v{lsn}", f"2024-01-0{c + 1} 06:00:00", "I" if c == 1 else "U", lsn))
        tbl.merge(_events(spark, rows))
        if c == 3:
            tbl.compact()
        if c == 2:
            # a split inside the diffed ranges: a key's old row is in
            # bucket b, its new row may be in b + 2
            assert tbl.split_buckets(factor=2)["num_buckets"] == 4
        versions.append(tbl.snapshot["version"])

    carried_somewhere = False
    for a, b in [(0, 6), (1, 3), (2, 5), (3, 4), (4, 6), (5, 6), (1, 5)]:
        v_from, v_to = versions[a], versions[b]
        for pre in (False, True):
            calls()
            df = tbl.changes(v_from, v_to, include_preimage=pre)
            got = {
                (r["conv_id"], r["turn_idx"], r["_change_type"], r["text"])
                for r in df.collect()
            }
            assert got == _net_diff(tbl, v_from, v_to, pre), (v_from, v_to, pre)
            # the kernel reads exactly the files that are in one snapshot only
            files = [
                {fi["path"] for fs in tbl._files(tbl._snapshot(v)).values() for fi in fs}
                for v in (v_from, v_to)
            ]
            read = [p for _, paths in calls() for p in paths]
            assert sorted(read) == sorted(files[0] ^ files[1]), (v_from, v_to)
        carried_somewhere |= bool(files[0] & files[1])
    assert carried_somewhere, "the history never carried a file over"
