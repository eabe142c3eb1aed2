"""Vector similarity search operators.

Brute-force exact cosine top-k is the correctness baseline (the
reference's ANN search is a store-side HNSW index, bear/config.py:23-35;
query semantics = top-k by inner product, bear/search.py:96-111). The
scale path is random-hyperplane LSH: bucket vectors by the sign pattern
of dot products with fixed random hyperplanes, probe the query's bucket
(and optionally neighboring buckets), then score exactly within the
candidate set. All vector math is JVM-side (zip_with/aggregate), no
Python in the loop.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark.schema import col_sql

# `impl="auto"` dispatch boundary for the Arrow-batched BLAS kernels vs
# the JVM zip_with/aggregate expressions. Measured (BENCH/BASELINE.md
# "Vector math A/B", 100k-row topk / 20k-row blocked pairs; rerun with
# `python BENCH/run_vector_ab.py dim`): the BLAS
# kernel wins at EVERY dim once the corpus amortizes the Python worker
# round-trip — topk 0.75→0.40 s at dim 64, 2.43→0.46 at 768; blocked
# pairs 3.9→0.7 at 64 and 61.3→0.57 at 768 (the JVM per-pair dot fold
# scales with dim, the per-block matmul barely moves). JVM only wins on
# tiny corpora (hundreds of rows), where worker startup dominates —
# which is exactly the low-dim testdata regime, so the dim-keyed
# dispatch keeps small/low-dim on JVM and embedding-model dims
# (reference default 3072, bear/config.py:60-61) on BLAS. For a big
# low-dim corpus, pass impl="pandas" explicitly.
PANDAS_DIM_THRESHOLD = 256


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


def cosine_topk(
    vecs: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "auto",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    ``impl``: ``"jvm"`` (zip_with/aggregate inside codegen — wins at
    low dim), ``"pandas"`` (Arrow-batched BLAS matvec — wins at
    embedding-model dims, reference default 3072:
    bear/config.py:60-61), or ``"auto"`` (dispatch on
    PANDAS_DIM_THRESHOLD; A/B numbers in BENCH/BASELINE.md, from
    BENCH/run_vector_ab.py)."""
    if impl == "auto":
        impl = "pandas" if len(query) >= PANDAS_DIM_THRESHOLD else "jvm"
    if impl == "pandas":
        return cosine_topk_pandas(vecs, query, k=k, id_col=id_col, vec_col=vec_col)
    return cosine_rank(vecs, query, k, id_col, vec_col)


def _stackable(pdf, vec_col: str, dim: int | None):
    """Drop rows whose vector can't join an (n, dim) stack: null
    embeddings and wrong-length vectors. The JVM expression path
    propagates null through zip_with/aggregate and the row falls out of
    the top-k / pair comparison; dropping here makes the Arrow kernels
    degrade identically instead of raising from ``np.stack``. When
    ``dim`` is None (no query vector) the batch's most common length
    anchors the expectation (the shortest on a tie), so one ragged row
    cannot evict the valid ones, whatever the row order."""
    col = pdf[vec_col]
    mask = col.notna()
    if not mask.any():
        return pdf.iloc[0:0]
    lens = col.map(lambda v: len(v) if v is not None else -1)
    if dim is None:
        dim = lens[mask].mode().iloc[0]
    return pdf[mask & (lens == dim)]


def cosine_topk_pandas(
    vecs: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched matrix kernel: per batch, stack the embeddings into
    one (batch, dim) matrix and score with a single BLAS matvec — the
    high-dim fast path (one vectorized op per batch vs a per-element
    codegen fold per row). Per-partition top-k happens via Spark's
    TakeOrdered on the scored stream; no Python in the final sort."""
    import pandas as pd

    q = np.asarray(list(query), dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    id_field = vecs.schema[id_col]
    out_schema = T.StructType([id_field, T.StructField("cos_sim", T.DoubleType())])

    def score(it):
        for pdf in it:
            pdf = _stackable(pdf, vec_col, len(q))
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = (X @ q) / (np.linalg.norm(X, axis=1) * qn)
            yield pd.DataFrame({id_col: pdf[id_col], "cos_sim": np.round(sims, 6)})

    return (
        vecs.select(id_col, vec_col)
        .mapInPandas(score, out_schema)
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def cosine_neardup_pairs_pandas(
    vecs: DataFrame,
    threshold: float = 0.9,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Blocked near-dup pairs via a per-block BLAS gram matrix: within
    each block (LSH bucket / label), normalize rows once and take the
    upper triangle of X̂·X̂ᵀ ≥ threshold. One matmul per block instead
    of one JVM dot per pair — the high-dim winner (BENCH A/B). Block
    sizes are bounded by the blocking scheme, so the O(b²) triangle
    stays in one task's memory; the shuffle is the same groupBy-block
    exchange the JVM plan pays."""
    import pandas as pd

    id_field = vecs.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("id1", id_field.dataType),
            T.StructField("id2", id_field.dataType),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _stackable(pdf, vec_col, None)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id1": [], "id2": [], "cos_sim": []}).astype(
                {"cos_sim": "float64"}
            )
        pdf = pdf.sort_values(id_col)
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        S = Xn @ Xn.T
        iu, ju = np.triu_indices(n, k=1)
        keep = S[iu, ju] >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "id1": ids[iu[keep]],
                "id2": ids[ju[keep]],
                "cos_sim": np.round(S[iu, ju][keep], 4),
            }
        )

    return (
        vecs.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(pairs, out_schema)
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


def ivf_fit_centroids(
    vecs: DataFrame,
    n_lists: int,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
) -> list[list[float]]:
    """Train the IVF coarse quantizer: k-means centroids over the
    vector column (distributed MLlib k-means; deterministic via seed).
    At 100 TB you fit on a sample (`df.sample`) — centroid quality
    needs only ~256 points per list."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vecs.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(feat)
    return [c.tolist() for c in model.clusterCenters()]


def ivf_fit_centroids_local(
    X: "np.ndarray",
    n_lists: int,
    seed: int = 7,
    max_iter: int = 10,
) -> list[list[float]]:
    """Driver-side IVF quantizer training: seeded k-means++ init + fixed
    Lloyd iterations over an in-memory sample.

    This is the realistic 100 TB fit path (the faiss convention: train
    the coarse quantizer on a ~256-points-per-list sample pulled to one
    machine, never the full corpus) — and, unlike the distributed MLlib
    fit, it is bit-deterministic for a given (input order, seed), so the
    centroids can be shared as literals with a SQL oracle engine.
    ``ivf_fit_centroids`` remains the distributed alternative when the
    sample itself is too big for the driver."""
    X = np.asarray(X, dtype=float)
    rng = np.random.default_rng(seed)
    n = len(X)
    if n < n_lists:
        raise ValueError(f"{n} vectors < n_lists={n_lists}")
    # k-means++ seeding
    centers = [X[int(rng.integers(n))]]
    for _ in range(1, n_lists):
        d2 = np.min(
            [np.sum((X - c) ** 2, axis=1) for c in centers], axis=0
        )
        tot = float(d2.sum())
        if tot <= 0.0:
            centers.append(X[int(rng.integers(n))])
            continue
        centers.append(X[int(rng.choice(n, p=d2 / tot))])
    C = np.stack(centers)
    for _ in range(max_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
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
    n_lists × dim against IVF_ASSIGN_CELLS_THRESHOLD, the same
    shape-keyed dispatch PANDAS_DIM_THRESHOLD uses for top-k). Both
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
    impl: str = "auto",
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` inverted lists whose
    centroids are nearest the query, score exactly within them.

    At scale the list id is a precomputed partition column, so probing
    reads only those partitions (partition pruning); here it is an
    assignment (expression or Arrow kernel, dispatched by
    ``with_ivf_list``) filtered at scan."""
    qv = np.asarray(query, dtype=float)
    dists = [float(np.sum((qv - np.asarray(c)) ** 2)) for c in centroids]
    probe = sorted(np.argsort(dists)[:n_probe].tolist())
    assigned = with_ivf_list(vecs, centroids, vec_col=vec_col, impl=impl)
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
