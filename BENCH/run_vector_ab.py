#!/usr/bin/env python
"""A/B of the vector kernels in ``operators/similarity.py``: JVM array
expressions vs Arrow-batched BLAS kernels, on one synthetic corpus.

Two sections, each printing one JSON line per measurement (best of
``REPS`` runs) with the winner:

``dim`` — justifies ``PANDAS_DIM_THRESHOLD``, across dim = 64 / 256 /
768 (and 3072 with ``$AB_INCLUDE_3072=1``):
  topk   — exact cosine top-10 against one query vector over 100k rows
  pairs  — blocked near-dup pairs (64 label blocks, threshold 0.9) over
           20k rows: JVM = per-pair dot on the block equi-join, BLAS =
           per-block gram matrix (applyInPandas)

``ivf`` — justifies ``IVF_ASSIGN_CELLS_THRESHOLD``: assign every row to
its nearest of n_lists centroids (``with_ivf_list``) with the linear JVM
array expression vs the BLAS argmin kernel, at dim 64 (200k rows) and
768 (50k rows). The JVM leg is skipped (null) above ``JVM_CELLS_CAP``
cells, where its linear per-row cost alone runs for minutes.

Usage: python BENCH/run_vector_ab.py [dim] [ivf]   (default: both)
Cores default to the host's (``$SPARK_GRAFT_CPUS``), the driver heap to
``perfbench.harness.driver_heap()`` (``$BENCH_DRIVER_MEM``). The banked
results from another host are in BENCH/BASELINE.md, vector_dim_ab.json
and ivf_assign_ab.json.
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
TOPK_ROWS, PAIR_ROWS, N_BLOCKS = 100_000, 20_000, 64
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


def dim_section(spark, gen) -> None:
    from pyspark.sql import functions as F

    from bear_spark.operators.similarity import (
        _dot,
        _norm,
        cosine_neardup_pairs_pandas,
        cosine_topk,
        cosine_topk_pandas,
    )

    dims = [64, 256, 768] + ([3072] if os.environ.get("AB_INCLUDE_3072") else [])
    for dim in dims:
        vecs = gen(TOPK_ROWS, dim)
        blocks = gen(PAIR_ROWS, dim, n_blocks=N_BLOCKS)
        q = [float(x) for x in vecs.filter(F.col("vec_id") == 0).first()["embedding"]]
        r = {"section": "dim", "dim": dim, "topk_rows": TOPK_ROWS, "pair_rows": PAIR_ROWS}
        r["topk_jvm_sec"] = timeit(lambda: cosine_topk(vecs, q, k=10, impl="jvm").collect())
        r["topk_pandas_sec"] = timeit(lambda: cosine_topk_pandas(vecs, q, k=10).collect())
        r["topk_winner"] = winner(r["topk_jvm_sec"], r["topk_pandas_sec"])

        def jvm_pairs():
            e = blocks.withColumn("nrm", _norm("embedding"))
            a, b = e.alias("a"), e.alias("b")
            cos = _dot("a.embedding", "b.embedding") / (
                F.col("a.nrm") * F.col("b.nrm")
            )
            return (
                a.join(b, (F.col("a.label") == F.col("b.label"))
                       & (F.col("a.vec_id") < F.col("b.vec_id")))
                .select(cos.alias("c")).filter(F.col("c") >= 0.9).count()
            )

        r["pairs_jvm_sec"] = timeit(jvm_pairs)
        r["pairs_pandas_sec"] = timeit(
            lambda: cosine_neardup_pairs_pandas(blocks, threshold=0.9).count()
        )
        r["pairs_winner"] = winner(r["pairs_jvm_sec"], r["pairs_pandas_sec"])
        print(json.dumps(r), flush=True)


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
    sections = sys.argv[1:] or ["dim", "ivf"]
    unknown = set(sections) - {"dim", "ivf"}
    if unknown:
        sys.exit(f"unknown section(s) {sorted(unknown)}; pick from dim, ivf")

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

    def gen(n: int, dim: int, n_blocks: int | None = None):
        """Deterministic JVM-side pseudo-vectors, written once per shape:
        cheap at any dim, same arithmetic cost profile as real
        embeddings. ``n_blocks`` adds a ``label`` blocking column."""
        path = os.path.join(work, f"v{n}x{dim}b{n_blocks}")
        if not os.path.exists(path):
            label = [(F.col("id") % n_blocks).cast("int").alias("label")] if n_blocks else []
            spark.range(n).select(
                F.col("id").alias("vec_id"),
                *label,
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.sin(F.col("id") * 0.7919 + i.cast("double") * 0.6180)
                    .cast("float"),
                ).alias("embedding"),
            ).repartition(cpus).write.parquet(path)
        return spark.read.parquet(path)

    try:
        for name in sections:
            {"dim": dim_section, "ivf": ivf_section}[name](spark, gen)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
