"""bulk_apply: a staged, seeded changelog applied in large batches through
``LakeTable.merge``.

Large batches put most of the work in the Arrow merge kernel inside the
Python workers and spread driver and commit costs thin, so kernel changes
show here and commit-path changes barely do. Every batch draws keys from
the same conversation space as the prefill, so later batches update
earlier keys.
"""

from __future__ import annotations

import time

from perfbench.harness import check_repeatable

PREFILL_EVENTS = 30_000
WARMUP_EVENTS = 30_000
BATCH_EVENTS = 140_000
SECONDS_PER_BATCH = 2.5  # sizes the batch count to --seconds on a 4-core host


def _stage(ctx, n_batches: int) -> list[str]:
    """Generate the whole log in one job and land it as one directory of
    parquet files per batch, in log order."""
    from pyspark.sql import functions as F

    from bear_spark import events

    sizes = [PREFILL_EVENTS, WARMUP_EVENTS] + [BATCH_EVENTS] * n_batches
    bounds = [sum(sizes[: i + 1]) for i in range(len(sizes))]
    batch_of = F.lit(len(sizes) - 1)
    for i in reversed(range(len(sizes) - 1)):
        batch_of = F.when(F.col("lsn") < bounds[i], i).otherwise(batch_of)
    log = str(ctx.work / "log")
    (
        events.change_events(ctx.spark, bounds[-1], seed=ctx.seed)
        .withColumn("_batch", batch_of)
        .write.partitionBy("_batch")
        .parquet(log)
    )
    return [f"{log}/_batch={i}" for i in range(len(sizes))]


def _prefill(ctx, log_dir: str):
    from bear_spark.lake import LakeTable
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA

    table = LakeTable.create(
        ctx.spark, str(ctx.work / "table"), TRANSCRIPT_SCHEMA, KEY_COLS,
        num_buckets=4 * ctx.cores,
    )
    table.merge(ctx.spark.read.parquet(log_dir))
    return table


def run(ctx) -> None:
    res = ctx.res
    n_batches = max(2, round(ctx.seconds / SECONDS_PER_BATCH))

    with ctx.tracer.span("setup.stage"):
        t0 = time.perf_counter()
        dirs = _stage(ctx, n_batches)
        ctx.setup_parts(stage_s=time.perf_counter() - t0)
    with ctx.tracer.span("setup.prefill"):
        t0 = time.perf_counter()
        table = _prefill(ctx, dirs[0])
        ctx.setup_parts(prefill_s=time.perf_counter() - t0)
    # one warm-up batch runs the upsert path (not only inserts) once
    # before timing; it is part of the staged log, so the oracle covers it
    with ctx.tracer.span("setup.warmup"):
        t0 = time.perf_counter()
        table.merge(ctx.spark.read.parquet(dirs[1]))
        ctx.setup_parts(warmup_s=time.perf_counter() - t0)

    ctx.instrument(table)
    walls = []
    with ctx.timed():
        for i, d in enumerate(dirs[2:]):
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("bench.batch", req=i):
                    table.merge(ctx.spark.read.parquet(d))
                ok = True
            except Exception as e:  # one failed batch must not end the run
                ok = False
                res.problems.append(f"batch {i}: {type(e).__name__}: {e}")
            walls.append(time.perf_counter() - t0)
            res.op(ok)
    applied = sum(int(m["rows_in"]) for m in ctx.merges)

    # -- correctness: final state == replay oracle; counters repeat per seed
    from bear_spark import oracle

    expected = oracle.replay(ctx.spark.read.parquet(*dirs).toPandas())
    ctx.check_state(table.read().toPandas(), expected)
    counters = [
        {k: m.get(k) for k in ("rows_in", "dedup_drops", "rows_written", "late_events")}
        for m in ctx.merges
    ]
    res.check(
        all(c["rows_in"] == BATCH_EVENTS for c in counters),
        f"merge rows_in {[c['rows_in'] for c in counters]} differ from the staged {BATCH_EVENTS}",
    )
    res.check(
        check_repeatable(
            "bulk_apply", ctx.seed,
            f"{PREFILL_EVENTS}+{WARMUP_EVENTS}+{n_batches}x{BATCH_EVENTS}", counters,
        ),
        "merge counters differ from an earlier run of this seed",
    )

    cpu = ctx.cpu_split["cpu.total_s"]
    ctx.op_metrics(walls, cpu / len(walls))
    res.detail.update(
        {
            "apply_events_per_s": (applied / ctx.timed_wall, "events/s"),
            "cpu_s_per_mevent": (cpu / (applied / 1e6) if applied else 0.0, "CPU-s/1e6events"),
        }
    )
