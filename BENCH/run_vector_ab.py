#!/usr/bin/env python
"""A/B of the two IVF list assignments in ``operators/similarity.py``
(``with_ivf_list``): the linear JVM array expression vs the Arrow-batched
BLAS argmin kernel, on one synthetic corpus. It justifies
``IVF_ASSIGN_CELLS_THRESHOLD``.

Each case assigns every row to its nearest of n_lists centroids, at
dim 64 (200k rows) and 768 (50k rows), and prints one JSON line (best of
``REPS`` runs) with the winner. The JVM leg is skipped (null) above
``JVM_CELLS_CAP`` cells, where its linear per-row cost alone runs for
minutes.

Usage: python BENCH/run_vector_ab.py [ivf]
Cores default to the host's (``$SPARK_GRAFT_CPUS``), the driver heap to
``perfbench.harness.driver_heap()`` (``$BENCH_DRIVER_MEM``). The banked
results from another host are in BENCH/BASELINE.md and
ivf_assign_ab.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPS = 2
IVF_CASES = [(64, 200_000, [8, 32, 128, 512]), (768, 50_000, [8, 64, 256, 1024])]
JVM_CELLS_CAP = 40_000  # n_lists * dim


def timeit(fn) -> float:
    best = float("inf")
    for _ in range(REPS):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def winner(jvm_s: float | None, kernel_s: float) -> str:
    if jvm_s is None:
        return "pandas (jvm skipped)"
    return "jvm" if jvm_s <= kernel_s else "pandas"


def ivf_section(spark, gen) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from bear_spark.operators.similarity import with_ivf_list

    rng = np.random.default_rng(7)
    for dim, rows, lists_sweep in IVF_CASES:
        vecs = gen(rows, dim)
        for n_lists in lists_sweep:
            cents = rng.standard_normal((n_lists, dim)).tolist()

            def run(impl: str):
                return with_ivf_list(vecs, cents, impl=impl).select(F.sum("_list")).collect()

            r = {"section": "ivf", "dim": dim, "rows": rows, "n_lists": n_lists,
                 "cells": n_lists * dim}
            r["jvm_sec"] = timeit(lambda: run("jvm")) if r["cells"] <= JVM_CELLS_CAP else None
            r["pandas_sec"] = timeit(lambda: run("pandas"))
            r["winner"] = winner(r["jvm_sec"], r["pandas_sec"])
            print(json.dumps(r), flush=True)


def main() -> None:
    unknown = set(sys.argv[1:]) - {"ivf"}
    if unknown:
        sys.exit(f"unknown section(s) {sorted(unknown)}; the one section is ivf")

    from pyspark.sql import functions as F

    from perfbench.harness import driver_heap, host_cores

    from bear_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(host_cores())))
    spark = get_spark(
        app_name="vector_ab", cores=cpus, shuffle_partitions=2 * cpus,
        driver_memory=os.environ.get("BENCH_DRIVER_MEM") or driver_heap(),
    )
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    work = f"{base}/vector_ab_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    def gen(n: int, dim: int):
        """Deterministic JVM-side pseudo-vectors, written once per shape:
        cheap at any dim, same arithmetic cost profile as real
        embeddings."""
        path = os.path.join(work, f"v{n}x{dim}")
        if not os.path.exists(path):
            spark.range(n).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.sin(F.col("id") * 0.7919 + i.cast("double") * 0.6180)
                    .cast("float"),
                ).alias("embedding"),
            ).repartition(cpus).write.parquet(path)
        return spark.read.parquet(path)

    try:
        ivf_section(spark, gen)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
