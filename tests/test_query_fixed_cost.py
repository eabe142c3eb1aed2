"""The fixed cost of a repeated read: a warm query recompiles no generated
class and starts no schema-inference job."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from bear_spark.queries import t


def _jobs_of(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    fn()
    return len(set(tracker.getJobIdsForGroup()) - before)


def test_codegen_cache_holds_more_than_the_default_working_set(spark):
    """Spark's stock cache keeps 100 generated classes; a plan run again
    after more than 100 other distinct plans must still find its class."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(i):
        # the literals are inlined into the generated code, so each i
        # compiles a class of its own
        spark.range(16).selectExpr(f"id * {i} + {i + 1} AS x").filter(
            f"x % {i + 2} = 1"
        ).collect()

    run(0)
    for i in range(1, 131):
        run(i)
    before = metric.getCount()
    run(0)
    assert metric.getCount() == before


def test_t_memoizes_the_schema_by_file_identity(spark, tmp_path):
    path = tmp_path / "corpus.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert t(spark, str(tmp_path), "corpus").columns == ["a"]
    # unchanged file: the memo answers, no inference job
    assert _jobs_of(spark, lambda: t(spark, str(tmp_path), "corpus")) == 0

    # rewritten with an added column: a new identity, inferred again
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = t(spark, str(tmp_path), "corpus")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]
