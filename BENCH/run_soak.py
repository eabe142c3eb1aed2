#!/usr/bin/env python
"""Long replay with crash-resume.

Replays ``$SOAK_EVENTS`` (default 10^9) synthetic change events through
``LakeTable.merge`` in ``$SOAK_BATCHES`` micro-batches, with
auto-compaction every ``$SOAK_COMPACT_EVERY`` applied batches, a vacuum
every ``$SOAK_VACUUM_EVERY``, and a tombstone-expiry + vacuum
maintenance pass at the end — the knobs a long-running production stream
would have on.

The changelog is generated batch-by-batch (events.change_events slices
compose exactly), so tmpfs holds one batch + the table, never the whole
log — the same shape as a real tail, where the WAL segment is consumed
and released. Generation is untimed; the metric times only MERGE apply.

Prints one JSON line per batch (wall seconds, table version, rows in,
dedup drops, late events, target rows read, rows written, and
``perfbench.harness.host_probe()`` before and after the merge as a
record that gates nothing), then the table's lineage tail and applied
offsets, then a totals line. The flatness of the per-batch wall line is
the "no state blow-up" evidence.

Crash-resume: kill a run, then point ``$SOAK_RESUME_DIR`` at its workdir
(printed at start) and set ``$SOAK_START_BATCH`` to continue into its
table. The commit log fences a re-applied batch to ``skipped``, so an
off-by-one start index is harmless; the versions in the lineage chain
across the kill.

Usage: SOAK_EVENTS=2000000 SOAK_BATCHES=8 python BENCH/run_soak.py
Cores default to the host's (``$SPARK_GRAFT_CPUS``), the driver heap to
``perfbench.harness.driver_heap()`` (``$BENCH_DRIVER_MEM``).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    t_start = time.time()
    # wall budget: stop cleanly after the current batch once it is spent
    # and report the completed prefix (slices compose, so a prefix is
    # itself a valid replay)
    deadline_sec = float(os.environ.get("SOAK_DEADLINE_SEC", "0")) or None
    n_events = int(os.environ.get("SOAK_EVENTS", str(10**9)))
    n_batches = int(os.environ.get("SOAK_BATCHES", "10"))
    compact_every = int(os.environ.get("SOAK_COMPACT_EVERY", "4"))
    # vacuum cadence, decoupled from compaction: COW supersedes roughly a
    # table's worth of files per batch, and a per-batch vacuum (a
    # driver-side rm of superseded stage dirs) bounds garbage to one
    # batch's rewrite
    vacuum_every = int(os.environ.get("SOAK_VACUUM_EVERY", "1"))
    # opt-in online bucket growth during the soak (split steps interleaved
    # with ingest): rows-per-bucket budget, 0=off
    split_budget = int(os.environ.get("SOAK_SPLIT_ROWS_PER_BUCKET", "0"))
    split_step = int(os.environ.get("SOAK_SPLIT_STEP_BUCKETS", "8"))
    resume_dir = os.environ.get("SOAK_RESUME_DIR")
    start_batch = int(os.environ.get("SOAK_START_BATCH", "0"))

    from bench import NUM_BUCKETS, WARM_EVENTS, shm_spill_conf
    from perfbench.harness import driver_heap, host_cores, host_probe

    from bear_spark.events import change_events
    from bear_spark.lake import LakeTable
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA
    from bear_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(host_cores())))
    mem = os.environ.get("BENCH_DRIVER_MEM") or driver_heap()
    spark = get_spark(
        app_name="bear_soak",
        cores=cpus,
        shuffle_partitions=2 * cpus,
        driver_memory=mem,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch",
            **shm_spill_conf(),
        },
    )

    # the table is consistent at ANY kill point (atomic snapshot commits)
    if resume_dir:
        workdir = resume_dir
        table = LakeTable.load(spark, os.path.join(workdir, "tbl"))
        print(f"# resuming into {workdir} at batch {start_batch}, "
              f"table v{table.snapshot['version']}", flush=True)
    else:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
        workdir = f"{base}/bear_soak_{os.getpid()}"
        shutil.rmtree(workdir, ignore_errors=True)
        os.makedirs(workdir)
        table = LakeTable.create(
            spark,
            os.path.join(workdir, "tbl"),
            TRANSCRIPT_SCHEMA,
            key_cols=KEY_COLS,
            num_buckets=NUM_BUCKETS,
            overwrite=True,
        )
        print(f"# soak workdir {workdir}", flush=True)
    # untimed JIT warmup
    warm = LakeTable.create(
        spark, os.path.join(workdir, "warm"), TRANSCRIPT_SCHEMA,
        key_cols=KEY_COLS, num_buckets=NUM_BUCKETS, overwrite=True,
    )
    warm.merge(change_events(spark, WARM_EVENTS, n_source_partitions=32))
    shutil.rmtree(os.path.join(workdir, "warm"))

    step = (n_events + n_batches - 1) // n_batches
    per_batch: list[dict] = []
    applied = 0
    merge_wall = maint_wall = 0.0
    stopped_early = False
    for mb in range(start_batch, n_batches):
        if deadline_sec is not None and time.time() - t_start > deadline_sec:
            stopped_early = True
            print(f"# SOAK_DEADLINE_SEC={deadline_sec:.0f} spent after "
                  f"{applied} batches — stopping early", flush=True)
            break
        lo = mb * step
        n = min(step, n_events - lo)
        if n <= 0:
            break
        seg = os.path.join(workdir, f"seg_{mb}")
        (
            change_events(
                spark, n, start=lo, total_events=n_events, n_source_partitions=32
            )
            .repartition(max(8, cpus))
            .write.mode("overwrite")
            .parquet(seg)
        )
        batch = spark.read.parquet(seg)
        pre = host_probe()
        t0 = time.time()
        m = table.merge(batch)
        dt = time.time() - t0
        post = host_probe()
        merge_wall += dt
        shutil.rmtree(seg)
        applied += 1
        per_batch.append(
            {
                "batch": mb,
                "wall_sec": round(dt, 2),
                "version": m["version"],
                "skipped": m["skipped"],
                # a batch fenced to skipped reports no counters
                **{k: m.get(k, 0) for k in (
                    "rows_in", "dedup_drops", "late_events",
                    "target_rows_read", "rows_written",
                )},
                # contended-split work evidence (wall-clock-independent)
                "lww_rows": m.get("lww_rows"),
                "passthrough_rows": m.get("passthrough_rows"),
                "probe_pre": pre,
                "probe_post": post,
            }
        )
        print(json.dumps(per_batch[-1]), flush=True)
        if split_budget:
            t0 = time.time()
            s = table.maybe_split(split_budget, max_buckets=split_step)
            if s and s["buckets_split"]:
                maint_wall += time.time() - t0
                per_batch[-1]["buckets_split"] = s["buckets_split"]
                tail = "" if s["complete"] else f" (ptr {s['split_ptr']})"
                print(f"# split step after batch {mb}: {s['buckets_split']} "
                      f"buckets -> layout {s['num_buckets']}{tail} "
                      f"in {time.time() - t0:.1f}s", flush=True)
        if compact_every and applied % compact_every == 0:
            t0 = time.time()
            table.compact()
            table.vacuum()
            maint_wall += time.time() - t0
            print(f"# compact+vacuum after batch {mb}: {time.time() - t0:.1f}s", flush=True)
        elif vacuum_every and applied % vacuum_every == 0:
            t0 = time.time()
            table.vacuum()
            maint_wall += time.time() - t0
            print(f"# vacuum after batch {mb}: {time.time() - t0:.1f}s", flush=True)

    # end-of-stream maintenance: expire delete markers behind an
    # operator-owned horizon (keep-late table → explicit cutoff), then
    # reclaim superseded stage dirs
    t0 = time.time()
    expired = table.expire_tombstones(older_than=table.snapshot["watermark_ts"])
    table.vacuum()
    maint_wall += time.time() - t0
    final_rows = table.read().count()

    if not per_batch or merge_wall <= 0:
        print("soak aborted: wall budget exhausted before any batch applied",
              flush=True)
        sys.exit(2)

    print(json.dumps({
        "lineage": [
            {k: e.get(k) for k in ("version", "op", "skipped", "rows_in", "rows_written")}
            for e in table.history()
        ],
        "applied_offsets": table.applied_offsets(),
    }), flush=True)
    events = sum(b["rows_in"] for b in per_batch)
    print(json.dumps({
        "events": events,
        "batches": len(per_batch),
        "merge_wall_sec": round(merge_wall, 1),
        "events_per_sec": round(events / merge_wall, 1),
        "buckets_split_total": sum(b.get("buckets_split", 0) for b in per_batch),
        "final_num_buckets": int(table.snapshot["num_buckets"]),
        "maintenance_wall_sec": round(maint_wall, 1),
        "dedup_drops": sum(b["dedup_drops"] for b in per_batch),
        "late_events": sum(b["late_events"] for b in per_batch),
        "tombstones_expired": expired["expired"],
        "final_rows": final_rows,
        "final_version": table.snapshot["version"],
        "cpus": cpus,
        "planned_events": n_events,
        "stopped_early": stopped_early,
    }), flush=True)
    shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
