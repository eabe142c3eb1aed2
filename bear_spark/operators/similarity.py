"""Vector similarity search operators.

Brute-force exact cosine top-k (``cosine_rank``) is the correctness
baseline and the scoring step of every ANN path here (the reference's
ANN search is a store-side HNSW index, bear/config.py:23-35; query
semantics = top-k by inner product, bear/search.py:96-111). The scale
paths narrow the candidate set first, then score exactly within it:
random-hyperplane LSH buckets vectors by the sign pattern of dot
products with fixed random hyperplanes and probes the query's bucket
(and its neighbours); IVF assigns each vector to its nearest k-means
centroid and probes the lists nearest the query. All scoring is
JVM-side (zip_with/aggregate), no Python in the loop; only the IVF
assignment has an Arrow-batched kernel, for large n_lists x dim.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark.schema import col_sql

def _double_sql(x: float) -> str:
    """A float as a SQL double literal. NaN and ±inf have no literal
    form, so they are casts of their names (folded to literals)."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def vector_sql(values) -> str:
    """A query vector as a SQL ``array<double>`` literal, built as text in
    Python (one ``F.lit`` per component would be one py4j round trip
    each)."""
    return "array(" + ", ".join(_double_sql(x) for x in values) + ")"


def dot_sql(a: str, b: str) -> str:
    """Dot product of two numeric arrays given as SQL, in double. The
    vector math of every JVM-side similarity in this module is this text
    (and ``cosine_sql`` over it)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    """L2 norm of a numeric array given as SQL."""
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    """Cosine similarity of two numeric arrays given as SQL."""
    return f"{dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)})"


def _expr(sql_of, *args):
    """``sql_of`` over ``args`` as a Column. A str argument is SQL (e.g. a
    column name); a Column argument is bound to a field of a lambda
    parameter, so the math is the same SQL text either way."""
    if all(isinstance(a, str) for a in args):
        return F.expr(sql_of(*args))
    fields = [(F.expr(a) if isinstance(a, str) else a).alias(f"_{i}") for i, a in enumerate(args)]
    packed = F.array(F.struct(*fields))
    body = sql_of(*[f"_p._{i}" for i in range(len(args))])
    return F.call_function("transform", packed, F.expr(f"_p -> {body}"))[0]


def _dot(a, b):
    return _expr(dot_sql, a, b)


def _norm(a):
    return _expr(norm_sql, a)


def cosine(a, b):
    return _expr(cosine_sql, a, b)


def cosine_rank(
    vecs: DataFrame, query: list[float], k: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cos_sim) of the ``k`` rows of ``vecs`` nearest ``query`` by
    cosine, rounded to 6 places, ties by id: the exact scoring step of
    every JVM-side top-k here and of ``VectorIndex.probe``."""
    cos = cosine_sql(col_sql(vec_col), vector_sql(query))
    return (
        vecs.selectExpr(col_sql(id_col), f"round({cos}, 6) AS cos_sim")
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def rp_lsh_bucket_expr(vec_col: str, planes: list[list[float]]):
    """Bucket id = bit pattern of sign(v · plane_i) — a long column."""
    v = col_sql(vec_col)
    bucket = "CAST(0 AS BIGINT)"
    for i, p in enumerate(planes):
        bit = (
            f"CASE WHEN {dot_sql(v, vector_sql(p))} > 0 "
            "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
        bucket = f"({bucket} ^ shiftleft({bit}, {i}))"
    return F.expr(bucket)


def _sq_dists(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """(n, k) squared L2 distances from each row of ``X`` to each row of
    ``C``, summed elementwise (no dot-product expansion, so no BLAS
    rounding), in row chunks of at most ``1 << 22`` temporaries so a
    fit's memory does not grow with n * k * dim."""
    step = max(1, (1 << 22) // max(1, C.size))
    return np.concatenate(
        [((X[i : i + step, None, :] - C[None, :, :]) ** 2).sum(axis=2) for i in range(0, len(X), step)]
    )


def ivf_fit_centroids_local(
    X: "np.ndarray",
    n_lists: int,
    seed: int = 7,
    max_iter: int = 10,
) -> list[list[float]]:
    """IVF quantizer training on the driver: seeded k-means++ init + at
    most ``max_iter`` Lloyd iterations over an in-memory sample — the
    only IVF fit (``VectorIndex.build`` and the registry's IVF query).

    The faiss convention: train the coarse quantizer on a sample of a
    few hundred points per list pulled to one machine, never on the full
    corpus. It is bit-deterministic for a given (input order, seed), so
    the centroids can be shared as literals with a SQL oracle engine.
    Fewer rows than ``n_lists`` raise ``ValueError``."""
    X = np.asarray(X, dtype=float)
    rng = np.random.default_rng(seed)
    n = len(X)
    if n < n_lists:
        raise ValueError(f"{n} vectors < n_lists={n_lists}")
    # k-means++ seeding: d2 is each row's distance to its nearest center
    centers = [X[int(rng.integers(n))]]
    d2 = np.full(n, np.inf)
    for _ in range(1, n_lists):
        d2 = np.minimum(d2, np.sum((X - centers[-1]) ** 2, axis=1))
        tot = float(d2.sum())
        if tot <= 0.0:
            centers.append(X[int(rng.integers(n))])
            continue
        centers.append(X[int(rng.choice(n, p=d2 / tot))])
    C = np.stack(centers)
    for _ in range(max_iter):
        assign = _sq_dists(X, C).argmin(axis=1)
        newC = C.copy()
        for j in range(n_lists):
            m = assign == j
            if m.any():
                newC[j] = X[m].mean(axis=0)
        if np.array_equal(newC, C):
            break
        C = newC
    return C.tolist()


# `with_ivf_list` dispatch boundary (n_lists × dim): the JVM
# expression is linear-size (one transform over an array-of-centroids
# literal + array_min/array_position argmin — see ivf_assign_expr) so
# it PLANS fine at any n_lists, but its per-row cost is a scalar fold
# over every (centroid, component) pair inside codegen, while the
# Arrow kernel does ONE (batch × dim) @ (dim × n_lists) BLAS matmul +
# argmin per batch. Measured (`python BENCH/run_vector_ab.py ivf`;
# BENCH/BASELINE.md "IVF assignment A/B",
# 100k rows dim 64): JVM grows linearly 2.8→5.2→19→76→161 s across
# n_lists 8→32→128→512→1024 while the kernel stays 0.6–7.7 s — the
# kernel wins ~8× from n_lists=32 (2048 cells) up. Below that, tiny
# corpora + the 8-list testdata regime keep JVM (no Python boundary,
# bit-shared plan with the DuckDB oracle). (An earlier when-chain
# formulation of the JVM path was EXPONENTIAL in n_lists at analysis
# time — 8 s at n_lists=8, 83 s at 12, OOM beyond — which is why the
# expression is array-shaped now.)
IVF_ASSIGN_CELLS_THRESHOLD = 2048  # n_lists * dim


def ivf_assign_expr(vec_col: str, centroids: list[list[float]]):
    """Column expr: index of the nearest centroid (inverted-list id).

    Pure JVM and LINEAR in n_lists: the centroids ship as one
    array-of-arrays literal, ``transform`` computes every squared-L2
    distance with the same zip_with/aggregate fold, and the argmin is
    ``array_position(d, array_min(d)) - 1`` (first occurrence — ties
    take the smallest list id). Null or wrong-length vectors
    null-propagate through every distance and coalesce to list 0. The
    whole expression stays inside codegen, so list ids can be
    precomputed and partitioned on at scan time.
    """
    C = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    vec = F.col(vec_col)
    d = F.transform(
        C,
        lambda carr: F.aggregate(
            F.zip_with(
                vec, carr, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return F.coalesce(
        (F.array_position(d, F.array_min(d)) - F.lit(1)).cast("int"), F.lit(0)
    )


def with_ivf_list(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "_list",
    impl: str = "auto",
) -> DataFrame:
    """Append the nearest-centroid inverted-list id as ``out_col``.

    ``impl``: ``"jvm"`` (the linear array expression — zero Python,
    whole-stage codegen), ``"pandas"`` (Arrow-batched BLAS argmin:
    stack the batch into (rows, dim), one ``X @ C.T`` matmul, argmin —
    one vectorized op per batch), or ``"auto"`` (dispatch on
    n_lists × dim against IVF_ASSIGN_CELLS_THRESHOLD). Both
    impls agree row-for-row: ties take the smallest list id (first
    argmin / first array_position match), and null or wrong-length
    vectors land in list 0, so index layouts are impl-independent.
    """
    if impl == "auto":
        cells = len(centroids) * len(centroids[0])
        impl = "pandas" if cells >= IVF_ASSIGN_CELLS_THRESHOLD else "jvm"
    if impl == "jvm":
        return df.withColumn(out_col, ivf_assign_expr(vec_col, centroids))

    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    c2 = np.einsum("ij,ij->i", C, C)
    dim = C.shape[1]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    def assign(it):
        for pdf in it:
            n = len(pdf)
            if not n:
                continue
            a = np.zeros(n, dtype=np.int32)
            col = pdf[vec_col]
            mask = (
                col.notna()
                & (col.map(lambda v: len(v) if v is not None else -1) == dim)
            ).to_numpy()
            if mask.any():
                X = np.stack(col.to_numpy()[mask]).astype(np.float64)
                d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
                a[mask] = d.argmin(axis=1).astype(np.int32)
            out = pdf.copy()
            out[out_col] = pd.Series(a, index=pdf.index, dtype="int32")
            yield out

    return df.mapInPandas(assign, out_schema)


def ivf_ann_topk(
    vecs: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` inverted lists whose
    centroids are nearest the query, score exactly within them.

    At scale the list id is a precomputed partition column, so probing
    reads only those partitions (partition pruning); here it is an
    assignment (``with_ivf_list``, which picks the expression or the
    Arrow kernel by n_lists × dim) filtered at scan."""
    qv = np.asarray(query, dtype=float)
    dists = [float(np.sum((qv - np.asarray(c)) ** 2)) for c in centroids]
    probe = sorted(np.argsort(dists)[:n_probe].tolist())
    assigned = with_ivf_list(vecs, centroids, vec_col=vec_col)
    cand = assigned.filter(F.col("_list").isin(probe))
    return cosine_rank(cand, query, k, id_col, vec_col)


def lsh_ann_topk(
    vecs: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    seed: int = 7,
    max_probe_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``max_probe_hamming`` bits of the query's bucket (multi-probe).

    At scale the bucket column is precomputed/partitioned-on, so a query
    touches a handful of buckets instead of the full table.
    """
    planes = _planes(len(query), n_planes, seed)
    qvec = np.array(query, dtype=float)
    qbucket = 0
    for i, p in enumerate(planes):
        if float(np.dot(qvec, np.array(p))) > 0:
            qbucket |= 1 << i
    bucketed = vecs.withColumn("_bucket", rp_lsh_bucket_expr(vec_col, planes))
    cand = bucketed.filter(
        F.bit_count(F.col("_bucket").bitwiseXOR(F.lit(qbucket))) <= max_probe_hamming
    )
    return cosine_rank(cand, query, k, id_col, vec_col)
