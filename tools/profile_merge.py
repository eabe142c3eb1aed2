"""Profile the CDC merge replay at a given parallelism level.

Usage: python tools/profile_merge.py <cores> [n_events] [n_batches]
Runs bench.bench_cdc (the exact benchmark code path) in-process and
prints throughput, integrity counters and the CPU split.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_cdc  # noqa: E402

from bear_spark.session import get_spark  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    # bench_cdc reads JVM-task CPU from the status REST API
    extra = {"spark.ui.enabled": "true", "spark.ui.port": "0"}
    if os.environ.get("BEAR_JAVA_OPTS"):
        extra["spark.driver.extraJavaOptions"] = os.environ["BEAR_JAVA_OPTS"]
    spark = get_spark(
        app_name=f"profile{cores}",
        cores=cores,
        shuffle_partitions=2 * cores,
        driver_memory=os.environ.get("BEAR_DRIVER_MEM", "48g"),
        extra_conf=extra,
    )
    out = bench_cdc(spark, n_events, n_batches)
    print(f"RESULT cores={cores}: {out}")


if __name__ == "__main__":
    main()
