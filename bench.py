#!/usr/bin/env python
"""bear_spark benchmark driver.

Runs (a) the CDC MERGE-apply replay — the BASELINE.json headline metric,
change-events/sec — and (b) the headline operator queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Prints ONE JSON line:

    {"metric": "...", "value": <events/sec>, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": ..., "cdc": {...},
     "cpus": ..., "host_probe": {"pre": {...}, "post": {...}}}

``cdc`` carries the replay's integrity counters (dedup_drops,
rows_written, late_events) and the CPU split of the timed loop
(``perfbench.harness.CpuMeter``). ``host_probe`` is
``perfbench.harness.host_probe()`` taken once before and once after the
timed loop; it is a record and gates nothing.

Env knobs:
  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] cores (default 32)
  BENCH_CDC_EVENTS     CDC replay size (default 32_000_000)
  BENCH_CDC_BATCHES    micro-batches (default 4)
  BENCH_MODE           "all" (default) | "cdc" (replay only, as
                       BENCH/run_cluster_scaling.py runs it)
  BENCH_DRIVER_MEM     driver heap, pre-faulted at JVM launch so
                       page-fault storms stay untimed (default 16g)

``$SPARK_GRAFT_MASTER`` (read by ``bear_spark.session.get_spark``)
replaces the ``local[...]`` master, e.g. with a ``local-cluster`` URL.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# Python WORKERS inherit PYTHONPATH/cwd, not the driver's sys.path: a
# bench launched from another cwd (e.g. BENCH/) would die inside the
# first Arrow kernel with ModuleNotFoundError for bear_spark unless the
# repo root rides the env into every worker
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

HEADLINE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "lww_dedup_events",
    "cdc_final_state",
    "window_running_sum",
    "grouped_topn_sum",
    "rerank_supplier_scores",
    "sessionize_events",
    "tumbling_hour_counts",
    "ngram_jaccard_pairs",
    "cosine_neardup_pairs",
]


#: table buckets: at bench scale (~8M live rows) 64 keeps files big
#: enough that per-file open/footer overhead stays negligible, while
#: still well above the core count
NUM_BUCKETS = 64
#: untimed warm-up merge size. Deliberately small: a full-batch
#: (4M-event) warm-up measured 13% slower end to end at local[8]/16M,
#: because it drains the kernel's zeroed-page pool right before the
#: timed loop
WARM_EVENTS = 50_000


def _force(df) -> None:
    """Execute the full plan without driver-side collection."""
    df.write.mode("overwrite").format("noop").save()


def shm_spill_conf() -> dict[str, str]:
    """Spark conf that puts shuffle and spill blocks on tmpfs, for the
    bench entry points: in local mode all executor threads share one
    virtual disk, which serializes the shuffle stages that a real
    cluster spreads across per-executor SSDs. Library sessions keep
    Spark's disk default, since tmpfs is typically capped at half of
    RAM and a large spill there could hit ENOSPC."""
    if not os.path.isdir("/dev/shm"):
        return {}
    local_dir = "/dev/shm/spark-local"
    os.makedirs(local_dir, exist_ok=True)
    return {"spark.local.dir": local_dir}


def bench_cdc(spark, n_events: int, n_batches: int = 8, workdir: str | None = None) -> dict:
    """Sustained MERGE-apply throughput: generate a changelog, replay it
    through LakeTable.merge in micro-batches, report events/sec.

    The working set lives on RAM-backed storage when available: in local
    mode every "executor" shares one virtual disk, so table/changelog
    I/O serializes work that a real cluster spreads across per-executor
    disks; tmpfs is the honest single-machine proxy for that.

    The session needs the status REST API (``spark.ui.enabled``): the
    CPU split's JVM-task figure comes from it. The rest of the split is
    a ``/proc`` walk of this process's tree. Under ``spark-submit`` this
    process is a child of the driver JVM, so that walk sees only the
    script itself (``cpu.bench_s``), and ``cpu.jvm_task_s`` is the only
    figure that covers the executors.
    """
    import pyspark.sql.functions as F
    from perfbench.harness import CpuMeter, host_probe

    from bear_spark.events import change_events
    from bear_spark.lake import LakeTable
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    workdir = workdir or f"{base}/bear_bench_{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)

    # stage the changelog to parquet first so generation cost is excluded.
    # One directory per micro-batch: a WAL tail delivers each batch as its
    # own file set, and the apply job must only scan the new files — not
    # re-filter the full log per batch.
    log_dir = os.path.join(workdir, "changelog")
    step = (n_events + n_batches - 1) // n_batches
    ev = change_events(spark, n_events, n_source_partitions=32)
    (
        ev.withColumn("_mb", (F.col("lsn") / F.lit(step)).cast("int"))
        .repartition(32)
        .write.partitionBy("_mb")
        .mode("overwrite")
        .parquet(log_dir)
    )

    def create(name: str):
        return LakeTable.create(
            spark,
            os.path.join(workdir, name),
            TRANSCRIPT_SCHEMA,
            key_cols=KEY_COLS,
            num_buckets=NUM_BUCKETS,
            overwrite=True,
        )

    table = create("tbl")
    # untimed warm-up: one small merge into a throwaway table triggers
    # JIT/codegen/classloading, so the timed loop measures sustained
    # apply throughput, not JVM cold start
    create("warm").merge(change_events(spark, WARM_EVENTS, n_source_partitions=32))
    shutil.rmtree(os.path.join(workdir, "warm"), ignore_errors=True)

    probe_pre = host_probe()
    meter = CpuMeter(spark)
    cpu0 = meter.sample()
    t0 = time.time()
    total_metrics = {"dedup_drops": 0, "rows_written": 0, "late_events": 0}
    for mb in range(n_batches):
        batch = spark.read.parquet(os.path.join(log_dir, f"_mb={mb}"))
        m = table.merge(batch)
        for k in total_metrics:
            total_metrics[k] += m.get(k, 0)
    wall = time.time() - t0
    cpu = CpuMeter.delta(cpu0, meter.sample())
    probe_post = host_probe()
    shutil.rmtree(workdir, ignore_errors=True)
    return {
        "cdc_events": n_events,
        "cdc_batches": n_batches,
        "cdc_wall_sec": round(wall, 2),
        "cdc_events_per_sec": round(n_events / wall, 1),
        **total_metrics,
        "cpu": {k: round(v, 2) for k, v in cpu.items()},
        "host_probe": {"pre": probe_pre, "post": probe_post},
    }


def main() -> None:
    from perfbench.harness import stop_session

    from bear_spark.queries import REGISTRY
    from bear_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("BENCH_CDC_EVENTS", "32000000"))
    n_batches = int(os.environ.get("BENCH_CDC_BATCHES", "4"))
    mode = os.environ.get("BENCH_MODE", "all")
    mem = os.environ.get("BENCH_DRIVER_MEM", "16g")

    spark = get_spark(
        app_name="bear_bench",
        cores=cpus,
        shuffle_partitions=2 * cpus,
        driver_memory=mem,
        extra_conf={
            # the status REST API feeds the CPU split's JVM-task figure
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",  # any free port; read back via uiWebUrl
            # pre-faulting the heap at launch keeps first-touch page
            # faults out of the timed region (no effect under
            # spark-submit, whose driver JVM is already running)
            "spark.driver.extraJavaOptions": (
                f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages"
            ),
            **shm_spill_conf(),
        },
    )
    try:
        cdc = bench_cdc(spark, n_events, n_batches)
        queries: dict[str, float] = {}
        if mode == "all":
            for name in HEADLINE_QUERIES:
                _force(REGISTRY[name](spark, sf_dir))  # warm (scan cache, codegen)
                t0 = time.time()
                _force(REGISTRY[name](spark, sf_dir))
                queries[name] = round(time.time() - t0, 3)
    finally:
        stop_session(spark)

    probes = cdc.pop("host_probe")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "cdc_merge_apply_events_per_sec",
                "value": cdc["cdc_events_per_sec"],
                "unit": "sec",
                "queries": queries,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cdc": cdc,
                "cpus": cpus,
                "host_probe": probes,
            }
        )
    )


if __name__ == "__main__":
    main()
