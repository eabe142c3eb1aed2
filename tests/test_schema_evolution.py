"""Phase 3: registry-style schema evolution — added columns and type
widening arriving mid-changelog; old data files keep their physical
schema and reads reconcile per schema version."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bear_spark.lake import LakeTable
from bear_spark.lake.reconcile import SchemaConflict, evolve
from pyspark.sql import types as T

BASE = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def _mk(spark, rows, ddl):
    return spark.createDataFrame(rows, ddl).withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), BASE, key_cols=["conv_id", "turn_idx"], num_buckets=4
    )


def test_add_column_mid_stream(spark, table):
    b1 = _mk(
        spark,
        [("c1", 0, "hello", "2024-01-01 00:00:01", "I", 1, 0, 0)],
        "conv_id string, turn_idx int, text string, ts string, op string, lsn long, source_partition int, offset long",
    )
    m1 = table.merge(b1)
    assert m1["schema_changes"] == []

    # batch 2 brings a new 'tool' column (the reference's dynamic-field
    # case, bear/db.py:35) → ALTER-equivalent in the registry
    b2 = _mk(
        spark,
        [("c2", 0, "run it", "2024-01-01 00:00:02", "bash", "I", 2, 0, 1)],
        "conv_id string, turn_idx int, text string, ts string, tool string, op string, lsn long, source_partition int, offset long",
    )
    m2 = table.merge(b2)
    assert any("add column tool" in c for c in m2["schema_changes"])
    assert table.snapshot["current_schema_version"] == 1

    out = table.read().orderBy("conv_id").toPandas()
    # old row (written under schema v0, different physical file schema)
    # reads back with null tool
    assert list(out["tool"]) in ([None, "bash"], [float("nan"), "bash"]) or (
        out["tool"].isna().tolist() == [True, False]
    )
    assert list(out["text"]) == ["hello", "run it"]


def test_type_widening_mid_stream(spark, table):
    b1 = _mk(
        spark,
        [("c1", 0, "v1", "2024-01-01 00:00:01", "I", 1, 0, 0)],
        "conv_id string, turn_idx int, text string, ts string, op string, lsn long, source_partition int, offset long",
    )
    table.merge(b1)
    # turn_idx arrives as long → int column widens, old int files still read
    b2 = _mk(
        spark,
        [("c2", 5_000_000_000, "big", "2024-01-01 00:00:02", "I", 2, 0, 1)],
        "conv_id string, turn_idx long, text string, ts string, op string, lsn long, source_partition int, offset long",
    )
    m2 = table.merge(b2)
    assert any("widen turn_idx" in c for c in m2["schema_changes"])
    out = table.read().orderBy("conv_id").toPandas()
    assert out["turn_idx"].tolist() == [0, 5_000_000_000]
    assert dict(table.read().dtypes)["turn_idx"] == "bigint"


def test_update_across_schema_versions_lww_still_wins(spark, table):
    """A key written under schema v0 then updated under schema v1 —
    LWW must pick the newer row and reads must reconcile versions."""
    b1 = _mk(
        spark,
        [("c1", 0, "old", "2024-01-01 00:00:01", "I", 1, 0, 0)],
        "conv_id string, turn_idx int, text string, ts string, op string, lsn long, source_partition int, offset long",
    )
    table.merge(b1)
    b2 = _mk(
        spark,
        [("c1", 0, "new", "2024-01-01 00:00:09", "editor", "U", 9, 0, 1)],
        "conv_id string, turn_idx int, text string, ts string, tool string, op string, lsn long, source_partition int, offset long",
    )
    table.merge(b2)
    out = table.read().toPandas()
    assert len(out) == 1
    assert out.iloc[0]["text"] == "new"
    assert out.iloc[0]["tool"] == "editor"


def test_time_travel_reads_prior_snapshot(spark, table):
    b1 = _mk(
        spark,
        [("c1", 0, "v1", "2024-01-01 00:00:01", "I", 1, 0, 0)],
        "conv_id string, turn_idx int, text string, ts string, op string, lsn long, source_partition int, offset long",
    )
    m1 = table.merge(b1)
    b2 = _mk(
        spark,
        [("c1", 0, "v2", "2024-01-01 00:00:05", "U", 5, 0, 1)],
        "conv_id string, turn_idx int, text string, ts string, op string, lsn long, source_partition int, offset long",
    )
    table.merge(b2)
    assert table.read().toPandas()["text"].tolist() == ["v2"]
    old = table.read(version=m1["version"]).toPandas()
    assert old["text"].tolist() == ["v1"], "time travel must see the old snapshot"
    empty = table.read(version=0).toPandas()
    assert len(empty) == 0


def test_widening_promotion_matrix():
    """reconcile.evolve's full promotion lattice, both directions, plus
    rejected narrowing/clashes (SURVEY §7 hard-item 4)."""
    from pyspark.sql import types as T

    from bear_spark.lake.reconcile import SchemaConflict, evolve

    def s(**cols):
        m = {
            "int": T.IntegerType(), "long": T.LongType(), "double": T.DoubleType(),
            "float": T.FloatType(), "short": T.ShortType(), "byte": T.ByteType(),
            "date": T.DateType(), "ts": T.TimestampType(), "str": T.StringType(),
        }
        return T.StructType([T.StructField(k, m[v], True) for k, v in cols.items()])

    ok = [
        (s(a="int"), s(a="long"), "long"),
        (s(a="int"), s(a="double"), "double"),
        (s(a="long"), s(a="double"), "double"),
        (s(a="float"), s(a="double"), "double"),
        (s(a="short"), s(a="int"), "integer"),
        (s(a="byte"), s(a="long"), "long"),
        (s(a="date"), s(a="ts"), "timestamp"),
        # batch NARROWER than table -> table type kept, no change entry
        (s(a="long"), s(a="int"), "long"),
        (s(a="double"), s(a="float"), "double"),
    ]
    for tbl, batch, want in ok:
        merged, changes = evolve(tbl, batch)
        assert merged["a"].dataType.typeName() == want, (tbl, batch, want)

    import pytest as _pytest

    for tbl, batch in [
        (s(a="str"), s(a="long")),
        (s(a="ts"), s(a="long")),
        (s(a="double"), s(a="str")),
    ]:
        with _pytest.raises(SchemaConflict):
            evolve(tbl, batch)


def test_incompatible_schema_raises(spark, table):
    bad = _mk(
        spark,
        [("c1", 0, 123, "2024-01-01 00:00:01", "I", 1, 0, 0)],
        "conv_id string, turn_idx int, text long, ts string, op string, lsn long, source_partition int, offset long",
    )
    v0 = table.snapshot["version"]
    with pytest.raises(SchemaConflict):
        table.merge(bad)
    assert table.snapshot["version"] == v0, "failed merge must not commit"


def test_evolve_pure_function():
    a = T.StructType([T.StructField("x", T.IntegerType()), T.StructField("y", T.FloatType())])
    b = T.StructType([T.StructField("x", T.LongType()), T.StructField("z", T.StringType())])
    merged, changes = evolve(a, b)
    assert [f.dataType.simpleString() for f in merged.fields] == ["bigint", "float", "string"]
    assert len(changes) == 2


def test_registry_union_schema_widens_conflicting_types():
    """ModelRegistry's superset schema resolves same-named columns of
    different (widenable) types through the lake's widening rules —
    pure metadata, no session needed."""
    from pyspark.sql import types as T

    from bear_spark.registry import ModelRegistry, TableSpec

    a = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
            T.StructField("only_a", T.StringType(), True),
        ]
    )
    b = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("only_b", T.DoubleType(), True),
        ]
    )
    reg = ModelRegistry(
        [TableSpec("a", a, key_cols=("k",)), TableSpec("b", b, key_cols=("k",))]
    )
    u = reg._union_schema()
    assert u.fieldNames() == ["k", "v", "only_a", "only_b"]
    assert u["v"].dataType == T.LongType(), "int vs long must widen to long"
    assert all(f.nullable for f in u.fields)

    import pytest

    with pytest.raises(ValueError, match="duplicate"):
        ModelRegistry([TableSpec("x", a, key_cols=("k",)), TableSpec("x", b, key_cols=("k",))])
