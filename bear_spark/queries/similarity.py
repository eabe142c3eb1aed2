"""Vector similarity + multimodal plumbing over `embeddings`/`documents`.

The reference's search path is: embed query → ANN top-k with pushed
filters → residual distance filter → sort (reference:
bear/search.py:51-111; HNSW/IP index is a store-side physical detail,
reference: bear/config.py:23-35). Here the query semantics are exact
cosine top-k via JVM array math (F.aggregate/zip_with — no Python in the
loop); the LSH-bucketed scale path lives in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bear_spark.queries import oracle_sf_dir, query, t


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


# DuckDB twins of the dot/norm (double accumulation; with 64-dim unit-ish
# vectors any double summation order agrees far inside the round-to-4)
_D = "CAST({} AS DOUBLE[])"
_DUCK_COS = (
    f"list_dot_product({_D.format('a.embedding')}, {_D.format('b.embedding')})"
    f" / (sqrt(list_dot_product({_D.format('a.embedding')}, {_D.format('a.embedding')}))"
    f" * sqrt(list_dot_product({_D.format('b.embedding')}, {_D.format('b.embedding')})))"
)


@query(
    "cosine_neardup_pairs",
    f"""
    SELECT a.vec_id AS id1, b.vec_id AS id2, round({_DUCK_COS}, 4) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DUCK_COS} >= 0.9
    """,
)
def cosine_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup detection, blocked by label (the
    LSH-bucket stand-in): pairs within a block with cosine ≥ 0.9. At
    scale the block key comes from LSH (operators/similarity.py), so
    the join is an equi-join, never a cross join. Norms are computed
    once per ROW before the self-join (O(n) norms instead of O(pairs)
    — each pair then costs one dot product)."""
    e = t(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm(F.col("embedding"))
    )
    a = e.alias("a")
    b = e.alias("b")
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            cos.alias("_cos"),
        )
        .filter(F.col("_cos") >= 0.9)  # dot computed once per pair
        .select("id1", "id2", F.round("_cos", 4).alias("cos_sim"))
    )


@query(
    "vector_search_filtered",
    f"""
    SELECT a.vec_id, a.label, round({_DUCK_COS}, 4) AS cos_sim
    FROM embeddings a JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) b
      ON a.vec_id <> 0
    WHERE a.label <> 3 AND {_DUCK_COS} >= 0.1
    ORDER BY cos_sim DESC, a.vec_id LIMIT 15
    """,
)
def vector_search_filtered(spark, sf_dir):
    """The reference's full search_resource pipeline in one query:
    predicate pushdown (label filter → parquet scan) + vector scoring +
    residual min-distance filter + top-k sort (reference:
    bear/search.py:51-111, filter build at :78-84, min_distance at
    :108-110). This is also the brute-force exact cosine top-k
    baseline that the LSH/IVF queries approximate (drop the filters
    and it is plain exact ANN — operators/similarity.cosine_rank)."""
    e = t(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = e.filter((F.col("vec_id") != 0) & (F.col("label") != 3))
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        _norm(F.col("embedding")) * _norm(F.col("qv"))
    )
    return (
        cand.join(F.broadcast(qvec))
        .withColumn("cos_sim", F.round(cos, 4))
        .filter(F.col("cos_sim") >= 0.1)
        .select("vec_id", "label", "cos_sim")
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(15)
    )


# IVF index state (centroids), fitted ONCE per corpus and reused by
# every probe — training never runs inside the query path (at scale the
# centroids and the list-assignment column are persisted table state —
# lake/vector_index.py; here the cache keys on the corpus dir). The fit
# is the driver-side train-on-sample path (faiss convention): pyarrow
# read sorted by vec_id → seeded numpy k-means — bit-deterministic, so
# the SAME centroid doubles can be inlined as DuckDB oracle literals.
_IVF_CENTROIDS: dict[tuple[str, int, int], list[list[float]]] = {}


def ivf_centroids_for(sf_dir: str, n_lists: int = 8, seed: int = 7) -> list[list[float]]:
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from bear_spark.operators import similarity as S

    key = (sf_dir, n_lists, seed)
    if key not in _IVF_CENTROIDS:
        tb = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
        )
        pdf = tb.to_pandas().sort_values("vec_id")
        X = np.asarray([np.asarray(v, dtype=float) for v in pdf["embedding"]])
        _IVF_CENTROIDS[key] = S.ivf_fit_centroids_local(X, n_lists=n_lists, seed=seed)
    return _IVF_CENTROIDS[key]


def _ivf_ann_oracle_sql(
    sf_dir: str | None = None,
    n_lists: int = 8,
    seed: int = 7,
    n_probe: int = 3,
    k: int = 10,
) -> str:
    """IVF ANN in ANSI SQL: centroids are the SAME doubles the Spark
    query fits (ivf_centroids_for is bit-deterministic), inlined as
    literals; squared L2 via the dot-product expansion; assignment tie
    → smallest list id, matching ivf_assign_expr's strict-less rule.
    Lazy (resolved at oracle_sql() time) because the literals derive
    from the corpus. The corpus dir comes from ``oracle_sf_dir()`` —
    the same source tools/check_correctness.py exports — so a
    non-default ``--sf`` run fits oracle literals on the SAME corpus
    the Spark query fits on."""
    if sf_dir is None:
        sf_dir = oracle_sf_dir()
    cents = ivf_centroids_for(sf_dir, n_lists=n_lists, seed=seed)
    vals = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    d_of = "(list_dot_product({v}, {v}) - 2*list_dot_product({v}, cv) + list_dot_product(cv, cv))"
    return f"""
    WITH cd AS (SELECT * FROM (VALUES {vals}) AS t(i, cv)),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT i FROM cd CROSS JOIN q
      ORDER BY {d_of.format(v='qv')}, i LIMIT {n_probe}
    ),
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id <> 0),
    ranked AS (
      SELECT vec_id, v, i,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {d_of.format(v='v')}, i) AS rn
      FROM vecs CROSS JOIN cd
    ),
    assigned AS (SELECT vec_id, v, i AS lst FROM ranked WHERE rn = 1)
    SELECT a.vec_id,
           round(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
    FROM assigned a JOIN probe p ON a.lst = p.i CROSS JOIN q
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT {k}
    """


@query("ivf_ann_topk", _ivf_ann_oracle_sql)  # lazy: literals derive from the corpus
def ivf_ann_topk_q(spark, sf_dir):
    """IVF approximate nearest neighbours: k-means coarse quantizer →
    probe the nearest inverted lists → exact cosine within candidates
    (operators/similarity.py). The scale path: list id is a partition
    column, probing = partition pruning (persisted form:
    lake/vector_index.py). Centroids are precomputed (module cache
    here, persisted index state at scale) — no .fit in the query path;
    the deterministic driver-side fit lets the DuckDB oracle share the
    exact centroid literals, upgrading this entry to a full
    rows+schema+hash check."""
    from bear_spark.operators import similarity as S

    e = t(spark, sf_dir, "embeddings")
    qvec = [r[0] for r in e.filter(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    cents = ivf_centroids_for(sf_dir)
    return S.ivf_ann_topk(e.filter(F.col("vec_id") != 0), qvec, cents, k=10, n_probe=3)


@query(
    "multimodal_decode_meta",
    """
    SELECT doc_id, length(text) AS n_bytes, md5(text) AS checksum
    FROM documents
    """,
)
def multimodal_decode_meta(spark, sf_dir):
    """Multimodal plumbing: treat the payload as an opaque binary column
    and extract metadata in a vectorized Arrow pass (mapInPandas). The
    real decoder (image/audio libs absent here) is a deterministic
    stand-in — see operators/multimodal.py; the Spark-side schema,
    batching and UDF signature are the real thing."""
    from bear_spark.operators.multimodal import decode_binary_meta

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return decode_binary_meta(d, id_col="doc_id", payload_col="payload")


@query(
    "embed_documents_deterministic",
    """
    SELECT doc_id, embed_text,
           round(CAST(('0x' || substr(md5(embed_text || '#0'), 1, 4))::BIGINT AS DOUBLE) / 65535.0, 6) AS e0,
           round(CAST(('0x' || substr(md5(embed_text || '#1'), 1, 4))::BIGINT AS DOUBLE) / 65535.0, 6) AS e1,
           round(CAST(('0x' || substr(md5(embed_text || '#2'), 1, 4))::BIGINT AS DOUBLE) / 65535.0, 6) AS e2,
           round(CAST(('0x' || substr(md5(embed_text || '#3'), 1, 4))::BIGINT AS DOUBLE) / 65535.0, 6) AS e3
    FROM (
      SELECT doc_id,
             concat('passage: ', source, ' | ', lang, ' | ', substr(text, 1, 40)) AS embed_text
      FROM documents
    )
    """,
)
def embed_documents_deterministic(spark, sf_dir):
    """The full enrichment stage in one query: doc __str__ serialization
    (concat of fields with separators, reference: bear/model.py:217-228)
    plus the task-type prefix (reference: bear/embedding.py:57-61)
    feeding the batched embedding transform (SURVEY §2.8 E1/F4/F5) —
    deterministic md5-derived components, codegen-only, the hermetic
    stand-in for the reference's provider call (reference:
    bear/embedding.py:216-232). The Arrow-batch variant
    (operators/embedding.embed_text_pandas) produces identical vectors;
    equivalence is tested."""
    from bear_spark.operators.embedding import embed_text_expr

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("passage: "),
            F.col("source"),
            F.lit(" | "),
            F.col("lang"),
            F.lit(" | "),
            F.substring("text", 1, 40),
        ).alias("embed_text"),
    )
    return embed_text_expr(d, text_col="embed_text", dim=4)


_DUCK_COS_Q = (
    "list_dot_product(v, qv) / "
    "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))"
)


@query(
    "search_author_rerank",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id, label, round({_DUCK_COS_Q}, 6) AS distance
      FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings) CROSS JOIN q
    ),
    hits AS (SELECT * FROM scored ORDER BY distance DESC, vec_id LIMIT 150),
    filt AS (SELECT * FROM hits WHERE distance > 0.05),
    ex AS (
      SELECT CAST(vec_id % 7 AS VARCHAR) AS grp, distance, vec_id FROM filt
      UNION ALL
      SELECT CAST(label AS VARCHAR) AS grp, distance, vec_id FROM filt
    ),
    topn AS (
      SELECT grp, pow(distance, 3) AS s,
             row_number() OVER (PARTITION BY grp
                                ORDER BY pow(distance, 3) DESC, vec_id) AS rn
      FROM ex
    )
    SELECT grp AS _group, round(sum(s), 4) AS total_score
    FROM topn WHERE rn <= 4
    GROUP BY grp ORDER BY total_score DESC, _group LIMIT 12
    """,
)
def search_author_rerank(spark, sf_dir):
    """The COMPOSED search_author facade under the driver oracle:
    resource fan-out (top-150 by cosine, ties by id) → raw-distance
    threshold (strict >, pre-formula — reference: bear/reranker.py) →
    explode denormalized group ids → formula score → per-group top-4
    sum → rank (reference: bear/search.py:113-122 + reranker.py:76-153).
    Runs through SearchEngine itself, not a reimplementation, so the
    driver check covers the real facade end-to-end; a pandas replay of
    the same pipeline is tested in tests/test_search_engine.py."""
    from bear_spark.search import SearchEngine

    e = t(spark, sf_dir, "embeddings").withColumn(
        "group_ids",
        F.array(
            (F.col("vec_id") % 7).cast("string"), F.col("label").cast("string")
        ),
    )
    qvec = [
        r[0]
        for r in e.filter(F.col("vec_id") == 0)
        .select(F.explode("embedding"))
        .collect()
    ]
    return SearchEngine(e).search_author(
        qvec,
        group_array_col="group_ids",
        formula="pow(distance, 3)",
        top_k=150,
        top_n_per_group=4,
        min_distance=0.05,
        limit=12,
    )
