"""query_suite: repeated passes over the twelve headline queries of the
query registry, each forced to a noop sink.

It uses no lake table and no merge, so it is the workload that moves with
``queries/`` and ``operators/`` (windows, rerank, similarity, shingles) and
should stay flat under merge and commit changes. The tables are the repo's
sf0.01 test fixture (TPC-H-like star schema plus events, documents and
embeddings), copied under ``perfbench/data/`` so a run reads nothing outside
its checkout. The inputs are the same for every seed. After timing, each
query's result is compared exactly with its DuckDB oracle SQL.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

from bench import HEADLINE_QUERIES
from perfbench.harness import median

SF_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"
MIN_PASSES = 1
# JIT compilation keeps most of the JVM's CPU busy through the second pass
# and settles from the third, so one untimed noop pass follows the
# collecting one
WARM_NOOP_PASSES = 1


def run(ctx) -> None:
    import duckdb

    from bear_spark.queries import REGISTRY, resolve_oracles
    from tools.check_correctness import TABLES, compare

    res, tr = ctx.res, ctx.tracer
    sf_dir = str(SF_DIR)
    # lazy oracles derive their literals from the corpus the queries read
    os.environ["BEAR_SPARK_ORACLE_SF"] = sf_dir

    def one_pass(i):
        times = {}
        for name in HEADLINE_QUERIES:
            t0 = time.perf_counter()
            with tr.span(f"queries.{name}", req=i):
                REGISTRY[name](ctx.spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name] = time.perf_counter() - t0
        return times

    # warm-up: scan caches, codegen, JIT. The first pass collects each
    # result for the oracle check made after timing.
    results = {}
    with tr.span("setup.warmup"):
        t0 = time.perf_counter()
        for name in HEADLINE_QUERIES:
            results[name] = REGISTRY[name](ctx.spark, sf_dir).toPandas()
        for i in range(WARM_NOOP_PASSES):
            one_pass(-1 - i)
        ctx.setup_parts(warmup_s=time.perf_counter() - t0)

    passes, per_query = [], {q: [] for q in HEADLINE_QUERIES}
    with ctx.timed():
        end = ctx.timed_start + ctx.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < end:
            t0 = time.perf_counter()
            try:
                with tr.span("bench.pass", req=len(passes)):
                    times = one_pass(len(passes))
            except Exception as e:
                times = {}
                res.problems.append(f"pass {len(passes)}: {type(e).__name__}: {str(e)[:200]}")
            passes.append(time.perf_counter() - t0)
            for q in HEADLINE_QUERIES:
                res.op(q in times, f"{q} failed in pass {len(passes) - 1}")
                if q in times:
                    per_query[q].append(times[q])

    # -- correctness: every query against its DuckDB oracle
    con = duckdb.connect()
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    oracles = resolve_oracles()
    for name in HEADLINE_QUERIES:
        want = con.sql(oracles[name]).df()
        if ctx.corrupt_expected:
            want = want.iloc[1:]
        problems = compare(name, results[name], want)
        res.check(not problems, f"{name} differs from its DuckDB oracle: {'; '.join(problems)[:200]}")

    cpu = ctx.cpu_split["cpu.total_s"]
    ctx.op_metrics(passes, cpu / len(passes))
    res.detail.update({
        "query_suite_s": (median(passes), "s"),
        "passes": (len(passes), "count"),
        **{f"queries.{q}.s.p50": (median(t), "s") for q, t in per_query.items()},
    })
