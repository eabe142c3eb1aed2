#!/usr/bin/env python
"""N→4N executor pair under ``spark-submit --py-files``.

Runs ``bench.py`` in replay-only mode (``BENCH_MODE=cdc``) twice, the
way the north rule words it — "spark-submit --py-files on a
multi-executor cluster at N and 4N executors":

  spark-submit --master local-cluster[E,1,M] --py-files bear_spark.zip bench.py

with E = 1 and then 4. local-cluster launches E separate executor JVMs
(each with its own heap, Python workers and shuffle block store) behind
an in-process standalone master; shuffle blocks cross process
boundaries through the Netty block-transfer path, and the engine reaches
the executors only through the ``--py-files`` zip. Only the network hop
is missing.

Each leg prints bench.py's ``cdc`` record; the last line is the pair:
scaling efficiency = (4N events/sec / N events/sec) / 4, plus the
replay's integrity counters, which must be identical across both legs
(the changelog is seeded). ``cdc.cpu.jvm_task_s`` is the only CPU
figure that covers the executors here: bench.py runs as a child of the
driver JVM, so its ``/proc`` walk sees only the script.

Batches at or below ``lake.table.DRIVER_APPLY_MAX_BYTES`` run their
kernel on the driver, not on the executors; size the replay so that
each batch is above it (about 1M events per batch or more).

Usage: python BENCH/run_cluster_scaling.py
(``$BENCH_CDC_EVENTS``, default 8M here, and ``$BENCH_CDC_BATCHES``,
default 4, size the replay)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_EXEC, N4_EXEC = 1, 4
# four 2 GiB executors plus a 3 GiB driver stay inside a 15 GiB host,
# with room for each executor's Python worker
EXEC_MEM_MB = 2048
DRIVER_MEM = "3g"


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _zip_engine(into: str) -> str:
    """Package bear_spark/ the way a real submit would ship it."""
    return shutil.make_archive(
        os.path.join(into, "bear_spark"), "zip", root_dir=REPO, base_dir="bear_spark"
    )


def run_leg(zip_path: str, executors: int) -> dict:
    master = f"local-cluster[{executors},1,{EXEC_MEM_MB}]"
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER=master,
        SPARK_GRAFT_CPUS=str(executors),  # sizes shuffle partitions only
        BENCH_MODE="cdc",
        BENCH_DRIVER_MEM=DRIVER_MEM,
    )
    env.setdefault("BENCH_CDC_EVENTS", "8000000")
    out = subprocess.run(
        [
            _spark_submit(),
            "--master", master,
            "--driver-memory", DRIVER_MEM,
            "--py-files", zip_path,
            os.path.join(REPO, "bench.py"),
        ],
        env=env,
        capture_output=True,
        text=True,
        check=True,
        timeout=3600,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)["cdc"]


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="bear_submit_") as d:
        zip_path = _zip_engine(d)
        legs = {}
        for executors in (N_EXEC, N4_EXEC):
            legs[executors] = run_leg(zip_path, executors)
            print(json.dumps({"executors": executors, **legs[executors]}), flush=True)

    n, n4 = legs[N_EXEC], legs[N4_EXEC]
    integrity = {
        k: (n[k], n4[k]) for k in ("dedup_drops", "rows_written", "late_events")
    }
    if any(a != b for a, b in integrity.values()):
        raise RuntimeError(f"non-deterministic replay (N, 4N): {integrity}")
    eff = (n4["cdc_events_per_sec"] / n["cdc_events_per_sec"]) / (N4_EXEC / N_EXEC)
    print(json.dumps({
        "master": f"local-cluster[E,1,{EXEC_MEM_MB}]",
        "executors": [N_EXEC, N4_EXEC],
        "events": n["cdc_events"],
        "batches": n["cdc_batches"],
        "events_per_sec": [n["cdc_events_per_sec"], n4["cdc_events_per_sec"]],
        "efficiency": round(eff, 3),
        **{k: a for k, (a, _) in integrity.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
