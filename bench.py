#!/usr/bin/env python
"""bear_spark benchmark driver.

Runs (a) the CDC MERGE-apply replay — the BASELINE.json headline metric,
change-events/sec — and (b) the headline operator queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Prints ONE JSON line:

    {"metric": "...", "value": <events/sec>, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": ...}

Env knobs:
  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] cores (default 32)
  BENCH_CDC_EVENTS     CDC replay size (default 32_000_000)
  BENCH_CDC_BATCHES    micro-batches (default 4)
  BENCH_NUM_BUCKETS    table buckets (default 64)
  BENCH_MODE           "all" (default) | "cdc" (replay only, for the
                       scaling-efficiency runs in BENCH/)
  BENCH_DRIVER_MEM / BENCH_JAVA_OPTS  JVM sizing (defaults pre-fault
                       the heap so page-fault storms stay untimed)
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


def host_probe(samples: int = 3, settle: float = 3.0) -> dict:
    """Memory-system health snapshot: first-touch (page-fault path) and
    steady-state memcpy GB/s. This VM suffers intermittent hypervisor
    stalls that degrade exactly these paths by 2-3 orders of magnitude;
    recording the probe beside every timed region lets a reader
    adjudicate whether a number measured the engine or the host
    (healthy here: ~2-4 GB/s first-touch, ~8-12 GB/s steady).

    The probe answers "was the HOST capable in this window", so it
    reports the BEST of a few settle-spaced draws: a single draw has
    false-dirty transients that are artifacts of the measuring process
    itself (fresh-allocation/THP warm-up depresses the first draw's
    first-touch ~6x even on a healthy host; a just-finished merge loop
    leaves JVM GC contending for a few seconds). A genuine hypervisor
    stall episode is minutes long and 2-3 orders deep, so every draw
    inside one stays far below the thresholds — max() cannot mask it.
    Draws stop early once a draw is clearly healthy."""
    import numpy as np

    best = {"first_touch_gbs": 0.0, "steady_gbs": 0.0}
    for i in range(max(1, samples)):
        if i:
            time.sleep(settle)
        a = np.ones(2**28, dtype=np.uint8)
        b = np.empty_like(a)
        t0 = time.time()
        b[:] = a  # first touch of b's pages
        first = 0.25 / (time.time() - t0)
        t0 = time.time()
        for _ in range(4):
            np.copyto(b, a)
        steady = 1.0 / (time.time() - t0)
        best["first_touch_gbs"] = max(best["first_touch_gbs"], round(first, 2))
        best["steady_gbs"] = max(best["steady_gbs"], round(steady, 2))
        del a, b
        if best["first_touch_gbs"] >= 2.0 and best["steady_gbs"] >= 6.0:
            break  # unambiguously healthy; stop burning time
    return best


def executor_totals(spark) -> dict | None:
    """Cumulative executor CPU / run time over all completed stages, via
    the local REST status API. CPU-seconds are hypervisor-stall-resistant
    evidence: a stall inflates wall-clock but not CPU, so CPU-per-event
    staying flat from N to 4N cores shows the engine adds no
    serialization/contention even when wall numbers are host noise.
    Returns None if the UI/REST surface is unavailable."""
    import urllib.request

    try:
        sc = spark.sparkContext
        url = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            "/stages?status=complete"
        )
        with urllib.request.urlopen(url, timeout=60) as r:
            stages = json.loads(r.read())
        return {
            "cpu_sec": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "run_sec": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        }
    except Exception:
        return None


def tree_cpu_stats() -> dict | None:
    """CPU and fault totals (live + reaped-child) of this process and
    every descendant, via one /proc scan. Bracketing the timed merge
    loop with this captures the CPU the REST metric can't see — the
    forked Python workers running the Arrow merge kernel are children
    of the JVM, and `executorCpuTime` counts JVM threads only.
    Including the c* (reaped-child) fields makes the bracket delta
    exact even when a worker is reaped between brackets.

    User and sys are returned SEPARATELY because they answer different
    questions on a degraded host: user CPU is the engine's own
    instruction stream (stall-resistant: hypervisor steal is not
    charged, and page-fault handling is kernel time), while sys CPU
    absorbs the fault-handler pathology — when first-touch collapses
    (see host_probe), every fault burns 10-100x its normal kernel
    cycles, inflating sys without the engine doing anything different.
    Minor-fault counts complete the picture: identical fault COUNTS
    with inflated sys time is the signature of a slow host, not of an
    engine allocating more."""
    try:
        tick = os.sysconf("SC_CLK_TCK")
        ppid: dict[int, int] = {}
        stats: dict[int, tuple] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            rest = s[s.rindex(")") + 2:].split()
            pid = int(p)
            ppid[pid] = int(rest[1])
            # stat fields (0-based after comm): 7 minflt, 8 cminflt,
            # 9 majflt, 10 cmajflt, 11 utime, 12 stime, 13 cutime, 14 cstime
            stats[pid] = (
                (int(rest[11]) + int(rest[13])) / tick,  # user
                (int(rest[12]) + int(rest[14])) / tick,  # sys
                int(rest[7]) + int(rest[8]),             # minflt
                int(rest[9]) + int(rest[10]),            # majflt
            )
        # Root the subtree at the FIRST Spark JVM ancestor when one
        # exists: under `spark-submit bench.py` this python process is a
        # CHILD of the driver JVM, and local-cluster executor JVMs (plus
        # their python merge workers) hang off that JVM as siblings of
        # this process — rooting at os.getpid() would count only the
        # driver script (~2 CPU-sec) and certify cluster pairs with a
        # signal blind to executor stalls. We stop at the first java
        # ancestor whose full cmdline mentions spark (the driver JVM):
        # climbing to the TOPMOST java ancestor would, under a Java-based
        # supervisor (Jenkins/Gradle agent), root above the driver and
        # count unrelated sibling processes' CPU. Under a plain
        # `python bench.py` the parent is a shell, so the root stays at
        # this process as before.
        root = os.getpid()
        seen_up = set()
        while ppid.get(root) and ppid[root] not in seen_up:
            parent = ppid[root]
            try:
                with open(f"/proc/{parent}/cmdline", "rb") as f:
                    argv = f.read().lower()
            except OSError:
                break
            cmd = argv.split(b"\0")[0]
            if b"java" not in cmd and b"spark-submit" not in cmd:
                break
            seen_up.add(parent)
            root = parent
            if b"java" in cmd and b"spark" in argv:
                # this is the Spark driver JVM — don't climb past it
                break
        fam = {root}
        changed = True
        while changed:
            changed = False
            for pid, pp in ppid.items():
                if pp in fam and pid not in fam:
                    fam.add(pid)
                    changed = True
        rows = [stats[p] for p in fam if p in stats]
        return {
            "user_sec": sum(r[0] for r in rows),
            "sys_sec": sum(r[1] for r in rows),
            "minflt": sum(r[2] for r in rows),
            "majflt": sum(r[3] for r in rows),
            "rooted_at_jvm": root != os.getpid(),
        }
    except Exception:
        return None


def bench_cdc(spark, n_events: int, n_batches: int = 8, workdir: str | None = None) -> dict:
    """Sustained MERGE-apply throughput: generate a changelog, replay it
    through LakeTable.merge in micro-batches, report events/sec.

    The working set lives on RAM-backed storage when available: in local
    mode every "executor" shares one virtual disk, so table/changelog
    I/O serializes work that a real cluster spreads across per-executor
    disks; tmpfs is the honest single-machine proxy for that.
    """
    from bear_spark.events import change_events
    from bear_spark.lake import LakeTable
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    workdir = workdir or f"{base}/bear_bench_{os.getpid()}"
    # bucket count sets COW granularity and file size; at bench scale
    # (~8M live rows) 64 buckets keeps files big enough that per-file
    # open/footer overhead stays negligible, while still >> cores
    num_buckets = int(os.environ.get("BENCH_NUM_BUCKETS", "64"))
    shutil.rmtree(workdir, ignore_errors=True)

    # stage the changelog to parquet first so generation cost is excluded.
    # One directory per micro-batch: a WAL tail delivers each batch as its
    # own file set, and the apply job must only scan the new files — not
    # re-filter the full log per batch.
    #
    # BENCH_CDC_LOG_CACHE (scaling-sweep protocol): stage once into a
    # shared dir keyed by (events, batches) and reuse across JVMs. The
    # generator is seeded-deterministic either way; the cache makes the
    # *physical file layout* bit-identical across parallelism levels too
    # (a per-run staging repartitions by the session's core count), and
    # keeps minutes of untimed generation out of probe-bracketed windows.
    cache = os.environ.get("BENCH_CDC_LOG_CACHE")
    if cache:
        log_dir = os.path.join(cache, f"events_{n_events}x{n_batches}")
    else:
        log_dir = os.path.join(workdir, "changelog")
    if not cache or not os.path.exists(os.path.join(log_dir, "_SUCCESS")):
        import pyspark.sql.functions as F

        step = (n_events + n_batches - 1) // n_batches
        ev = change_events(spark, n_events, n_source_partitions=32)
        (
            ev.withColumn("_mb", (F.col("lsn") / F.lit(step)).cast("int"))
            .repartition(32)
            .write.partitionBy("_mb")
            .mode("overwrite")
            .parquet(log_dir)
        )
    if os.environ.get("BENCH_MODE") == "generate":
        return {"staged": log_dir}

    table = LakeTable.create(
        spark,
        os.path.join(workdir, "tbl"),
        TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS,
        num_buckets=num_buckets,
        overwrite=True,
    )

    # untimed warmup: one small merge into a throwaway table triggers
    # JIT/codegen/classloading so the timed loop measures SUSTAINED
    # apply throughput (the metric), not JVM cold start. Deliberately
    # SMALL ($BENCH_WARM_EVENTS, default 50k): an A/B at local[8]/16M
    # measured a full-batch (4M-event) warmup 13% SLOWER end-to-end
    # (44.4s vs 39.4s, sys 20.1s vs 17.3s) — the big warmup drains the
    # kernel's zeroed-page pool right before t0, so the first timed
    # batch pays a reclaim transient that outweighs any arena
    # pre-faulting benefit (the MALLOC_* retain knobs already amortize
    # arena faults across the later timed batches either way).
    warm = LakeTable.create(
        spark,
        os.path.join(workdir, "warm"),
        TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS,
        num_buckets=num_buckets,
        overwrite=True,
    )
    warm_events = int(os.environ.get("BENCH_WARM_EVENTS", "50000"))
    warm.merge(change_events(spark, warm_events, n_source_partitions=32))
    shutil.rmtree(os.path.join(workdir, "warm"), ignore_errors=True)

    # in-situ probe brackets: taken INSIDE this process, tight around the
    # timed loop — before the workdir rmtree (freeing GBs of tmpfs leaves
    # its own kernel reclaim transient) and while the JVM still holds its
    # pre-faulted heap (a probe taken after a 16g AlwaysPreTouch JVM
    # exits measures the page-reclaim transient, not host health). The
    # scaling harness trusts THESE brackets to certify a clean window.
    #
    # Bounded settle: if the pre-probe reads dirty, wait briefly (15 s
    # steps, $BENCH_CLEAN_WAIT_SEC budget, default 240) before starting
    # the timed region — short hypervisor stalls pass, and a number
    # measured through one measures the host, not the engine. The probe
    # pair still brackets the region either way; a reader adjudicates.
    probe_pre = host_probe()
    settle_budget = float(os.environ.get("BENCH_CLEAN_WAIT_SEC", "240"))
    t_settle = time.time()
    while (
        (probe_pre["first_touch_gbs"] < 1.0 or probe_pre["steady_gbs"] < 5.0)
        and time.time() - t_settle < settle_budget
    ):
        time.sleep(15)
        probe_pre = host_probe()
    exec0 = executor_totals(spark)
    tree0 = tree_cpu_stats()
    t0 = time.time()
    total_metrics = {"dedup_drops": 0, "rows_written": 0, "late_events": 0}
    for mb in range(n_batches):
        batch = spark.read.parquet(os.path.join(log_dir, f"_mb={mb}"))
        m = table.merge(batch)
        for k in total_metrics:
            total_metrics[k] += m.get(k, 0)
    wall = time.time() - t0
    tree1 = tree_cpu_stats()
    exec1 = executor_totals(spark)
    # Post-bracket with bounded settle-retry. The immediate draw often
    # measures the run's own wake: a 16g AlwaysPreTouch JVM plus GBs of
    # tmpfs churn drains the host's zeroed-page pool, so first-touch
    # reads ~0.2 GB/s for tens of seconds after ANY big run — even in a
    # window where the launch gate read healthy (observed repeatedly in
    # scaling_telemetry.json: gate 3.2 GB/s → post 0.21 → next gate
    # healthy again). A genuine hypervisor stall here is minutes-to-
    # hours long, so a probe that recovers within the settle budget
    # (default 90 s) cannot have been a stall that distorted the timed
    # region. Both draws are recorded; the settled one is the
    # certifying bracket, the immediate one keeps the reader honest.
    probe_post_immediate = host_probe()
    probe_post = probe_post_immediate
    post_budget = float(os.environ.get("BENCH_POST_SETTLE_SEC", "90"))
    t_post = time.time()
    while (
        (probe_post["first_touch_gbs"] < 1.0 or probe_post["steady_gbs"] < 5.0)
        and time.time() - t_post < post_budget
    ):
        time.sleep(15)
        probe_post = host_probe()
    out = {
        "cdc_events": n_events,
        "cdc_batches": n_batches,
        "cdc_wall_sec": round(wall, 2),
        "cdc_events_per_sec": round(n_events / wall, 1),
        **total_metrics,
        "executor_cpu_sec": (
            round(exec1["cpu_sec"] - exec0["cpu_sec"], 1)
            if exec0 and exec1
            else None
        ),
        "executor_run_sec": (
            round(exec1["run_sec"] - exec0["run_sec"], 1)
            if exec0 and exec1
            else None
        ),
        **(
            {
                "tree_cpu_sec": round(
                    (tree1["user_sec"] + tree1["sys_sec"])
                    - (tree0["user_sec"] + tree0["sys_sec"]), 1
                ),
                "tree_user_sec": round(tree1["user_sec"] - tree0["user_sec"], 1),
                "tree_sys_sec": round(tree1["sys_sec"] - tree0["sys_sec"], 1),
                "tree_minflt": tree1["minflt"] - tree0["minflt"],
                "tree_majflt": tree1["majflt"] - tree0["majflt"],
                # True when the /proc walk rooted at a JVM ancestor
                # (spark-submit session: the bracket covers driver JVM +
                # executors + python workers, not just this script)
                "tree_rooted_at_jvm": bool(tree1.get("rooted_at_jvm")),
            }
            if tree0 is not None and tree1 is not None
            else {"tree_cpu_sec": None}
        ),
        "probe_pre": probe_pre,
        "probe_post": probe_post,
        "probe_post_immediate": probe_post_immediate,
    }
    shutil.rmtree(workdir, ignore_errors=True)
    return out


def scaling_evidence() -> dict | None:
    """Summary of the banked N→4N scaling-efficiency pairs (the
    BASELINE.json north-rule criterion), measured by the probe-gated
    harnesses in BENCH/ and accumulated across invocations. Inlined
    here so the one-line bench JSON carries the scaling evidence next
    to the throughput number; full pair tables, probe brackets, and
    qualification rules live in BENCH/BASELINE.md and the telemetry
    JSON files."""
    here = os.path.dirname(os.path.abspath(__file__))

    def _median(effs: list) -> float:
        return round(effs[len(effs) // 2] if len(effs) % 2
                     else (effs[len(effs) // 2 - 1] + effs[len(effs) // 2]) / 2, 3)

    def _bank(path: str) -> dict | None:
        try:
            with open(os.path.join(here, "BENCH", path)) as f:
                d = json.load(f)
        except (OSError, ValueError):
            return None
        qualified = [p for p in d.get("pairs", ()) if p.get("qualified", True)]
        effs = sorted(p["efficiency"] for p in qualified)
        if not effs:
            return None
        out = {
            "pairs": len(effs),
            "best": effs[-1],
            "median": _median(effs),
            "events": d.get("events"),
            "source": f"BENCH/{path}",
        }
        # a 4N/N user-CPU ratio well above ~1 is the intra-run hypervisor
        # stall signature (kernel fault-handler time leaking into one leg);
        # the filtered median over low-ratio pairs is the number BASELINE.md
        # headlines because it drops samples the band check can't catch.
        # The ratio is only credible when the /proc bracket saw the whole
        # session: under spark-submit an un-JVM-rooted bracket covers just
        # the driver script, so its tree CPU undercounts the executors'
        # own REST-reported CPU — such pairs are excluded from the filter
        # rather than passed on a blind signal.
        def _ratio_credible(leg: dict) -> bool:
            tu, ts = leg.get("tree_user_sec"), leg.get("tree_sys_sec")
            if tu is None:
                return False
            ex = leg.get("executor_cpu_sec")
            return ex is None or (tu + (ts or 0)) >= ex

        low_stall = sorted(
            p["efficiency"] for p in qualified
            if p.get("user_cpu_ratio") is not None and p["user_cpu_ratio"] <= 1.2
            and _ratio_credible(p.get("N", {})) and _ratio_credible(p.get("N4", {}))
        )
        if low_stall:
            out["stall_filtered"] = {"pairs": len(low_stall),
                                     "median": _median(low_stall),
                                     "max_user_cpu_ratio": 1.2}
        return out

    threads = _bank("plateau_pairs.json")
    cluster = _bank("cluster_scaling_telemetry.json")
    if not threads and not cluster:
        return None
    out = {"rule": "throughput scaling efficiency >= 0.8 from N to 4N (N=local[2] / 2 executors, 4N=local[8] / 8 executors)"}
    if threads:
        out["thread_pairs"] = threads
    if cluster:
        out["cluster_pairs"] = cluster  # spark-submit local-cluster, separate executor JVMs
    return out


def main() -> None:
    from bear_spark.queries import REGISTRY
    from bear_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("BENCH_CDC_EVENTS", "32000000"))
    n_batches = int(os.environ.get("BENCH_CDC_BATCHES", "4"))
    mode = os.environ.get("BENCH_MODE", "all")

    mem = os.environ.get("BENCH_DRIVER_MEM", "16g")
    # pre-faulting the heap at startup keeps first-touch page-fault
    # storms (expensive in VMs) out of the timed region
    opts = os.environ.get(
        "BENCH_JAVA_OPTS",
        f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages",
    )
    extra = {
        # the REST status API feeds the executor-CPU evidence channel
        # (executor_totals); the UI server's overhead is driver-side and
        # outside the timed loop
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",  # any free port; read back via uiWebUrl
        **shm_spill_conf(),
    }
    if opts:
        extra["spark.driver.extraJavaOptions"] = opts
    spark = get_spark(
        app_name="bear_bench",
        cores=cpus,
        shuffle_partitions=2 * cpus,
        driver_memory=mem,
        extra_conf=extra,
    )

    if mode == "generate":
        out = bench_cdc(spark, n_events, n_batches)
        print(json.dumps({"mode": "generate", **out}))
        return

    cdc = bench_cdc(spark, n_events, n_batches)

    queries: dict[str, float] = {}
    if mode == "all":
        for name in HEADLINE_QUERIES:
            df = REGISTRY[name](spark, sf_dir)
            _force(df)  # warm (scan cache, codegen)
            t0 = time.time()
            _force(REGISTRY[name](spark, sf_dir))
            queries[name] = round(time.time() - t0, 3)

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
                # host-health telemetry bracketing the CDC timed region,
                # taken in-situ inside bench_cdc (see host_probe) — clean
                # window when both probes show steady >= ~5 GB/s and
                # first-touch >= ~1 GB/s
                "host_probe": {"pre": cdc["probe_pre"], "post": cdc["probe_post"]},
                # banked N→4N scaling-efficiency evidence (probe-gated
                # harnesses in BENCH/; None until a bank exists)
                "scaling": scaling_evidence(),
            }
        )
    )


if __name__ == "__main__":
    main()
