"""Tests for the training-data operators: MinHash/LSH, SimHash,
random-hyperplane ANN — verified against exact baselines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bear_spark.operators.minhash import minhash_neardup_pairs, minhash_signatures, shingles
from bear_spark.operators.similarity import cosine_topk, lsh_ann_topk
from bear_spark.operators.simhash import simhash, simhash_neardup_pairs

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def corpus(spark):
    """documents + planted near-duplicates (one word changed)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    dups = (
        docs.filter(F.col("doc_id") < 25)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
        )
    )
    return docs.unionByName(dups)


def _exact_jaccard_pairs(spark, corpus, threshold):
    sh = shingles(corpus).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jac = F.col("i") / (F.col("s1.sz") + F.col("s2.sz") - F.col("i"))
    return (
        inter.join(s1, F.col("id1") == F.col("s1.doc_id"))
        .join(s2, F.col("id2") == F.col("s2.doc_id"))
        .filter(jac >= threshold)
        .select("id1", "id2")
    )


def test_minhash_finds_planted_neardups(spark, corpus):
    pairs = minhash_neardup_pairs(corpus, verify_threshold=0.5).toPandas()
    found = set(map(tuple, pairs[["id1", "id2"]].values.tolist()))
    planted = {(i, i + 100000) for i in range(25)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"minhash missed planted dups: recall={recall}"


def test_minhash_candidates_capture_exact_pairs(spark, corpus):
    exact = set(
        map(tuple, _exact_jaccard_pairs(spark, corpus, 0.8).toPandas().values.tolist())
    )
    assert exact, "sanity: exact join must find the planted dups"
    lsh = set(
        map(
            tuple,
            minhash_neardup_pairs(corpus, verify_threshold=0.5)
            .select("id1", "id2")
            .toPandas()
            .values.tolist(),
        )
    )
    missed = exact - lsh
    assert len(missed) / len(exact) <= 0.1, f"LSH missed {len(missed)}/{len(exact)}"


def test_minhash_signature_estimates_jaccard(spark):
    """Two docs with known overlap: signature agreement ≈ Jaccard."""
    rows = [
        (1, "a b c d e f g h i j k l m n o p"),
        (2, "a b c d e f g h i j k l m n o q"),  # ~ high overlap
        (3, "z y x w v u t s r q p o n m l k"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(shingles(docs), num_hashes=128).toPandas().set_index("doc_id")
    import numpy as np

    s1, s2, s3 = (np.array(sig.loc[i, "sig"]) for i in (1, 2, 3))
    est12 = float((s1 == s2).mean())
    est13 = float((s1 == s3).mean())
    assert est12 > 0.6  # true jaccard = 12/16 shingles shared ≈ 0.71
    assert est13 < 0.2


def test_simhash_neardups_and_distance(spark, corpus):
    fps = simhash(corpus).toPandas().set_index("doc_id")
    # planted dup differs in one word → small hamming distance
    import numpy as np

    close, far = [], []
    for i in range(25):
        h1, h2 = int(fps.loc[i, "simhash"]), int(fps.loc[i + 100000, "simhash"])
        close.append(bin(h1 ^ h2).count("1"))
    others = fps.index[:25]
    for i, j in zip(others[:-1], others[1:]):
        far.append(bin(int(fps.loc[i, "simhash"]) ^ int(fps.loc[j, "simhash"])).count("1"))
    assert np.mean(close) < np.mean(far), (np.mean(close), np.mean(far))

    pairs = simhash_neardup_pairs(corpus, max_hamming=10).toPandas()
    found = set(map(tuple, pairs[["id1", "id2"]].values.tolist()))
    planted = {(i, i + 100000) for i in range(25)}
    assert len(found & planted) / len(planted) >= 0.5


def test_lsh_ann_recall_vs_bruteforce(spark):
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    query = vecs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(vecs, query, 10).collect()]
    approx = [
        r["vec_id"]
        for r in lsh_ann_topk(vecs, query, 10, n_planes=4, max_probe_hamming=3).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.8, f"ANN recall too low: {recall} ({approx} vs {exact})"


def test_embedding_expr_and_pandas_variants_agree(spark):
    """The codegen embedder and the Arrow-batch kernel must produce
    identical vectors (the kernel is the swap-in point for a real
    model; the expr form is the oracle-verifiable twin)."""
    from bear_spark.operators.embedding import embed_text_expr, embed_text_pandas

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(100)
    a = embed_text_expr(docs, dim=4).toPandas().set_index("doc_id").sort_index()
    b = embed_text_pandas(docs, dim=4).toPandas().set_index("doc_id").sort_index()
    for i in range(4):
        expr_vals = a[f"e{i}"]
        kern_vals = b["embedding"].map(lambda v, i=i: v[i])
        assert (expr_vals - kern_vals).abs().max() < 1e-9


def test_ivf_ann_full_probe_equals_exact(spark):
    """Probing every inverted list = exhaustive search: IVF with
    n_probe=n_lists must return exactly the brute-force top-k; a
    narrow probe must still reach decent recall."""
    from bear_spark.operators.similarity import ivf_ann_topk, ivf_fit_centroids

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    query = vecs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    cents = ivf_fit_centroids(vecs, n_lists=8, seed=7)
    exact = [r["vec_id"] for r in cosine_topk(vecs, query, 10).collect()]
    full = [r["vec_id"] for r in ivf_ann_topk(vecs, query, cents, k=10, n_probe=8).collect()]
    assert full == exact
    narrow = [r["vec_id"] for r in ivf_ann_topk(vecs, query, cents, k=10, n_probe=3).collect()]
    recall = len(set(exact) & set(narrow)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_simhash_banding_pigeonhole_guard(spark):
    """Default banding must satisfy the recall guarantee (bands >
    max_hamming); an explicit band width that breaks it raises instead
    of silently missing pairs."""
    corpus = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(corpus, max_hamming=8, band_bits=15)
    # derived default: 60 // (8+1) = 6-bit bands -> 10 bands > 8
    out = simhash_neardup_pairs(corpus, max_hamming=8)
    assert out.columns == ["id1", "id2", "hamming"]


def test_pandas_matrix_kernels_agree_with_jvm(spark):
    """The Arrow-batched BLAS kernels (high-dim fast path) must return
    exactly what the JVM zip_with/aggregate expressions return — same
    ids, same rounded scores — and impl='auto' must dispatch to pandas
    at embedding-model dims."""
    import numpy as np

    from bear_spark.operators.similarity import (
        PANDAS_DIM_THRESHOLD,
        cosine_neardup_pairs_pandas,
        cosine_topk_pandas,
    )

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    query = [float(x) for x in vecs.filter(F.col("vec_id") == 0).first()["embedding"]]

    jvm = cosine_topk(vecs, query, k=10, impl="jvm").collect()
    pdk = cosine_topk_pandas(vecs, query, k=10).collect()
    assert [(r.vec_id, r.cos_sim) for r in jvm] == [(r.vec_id, r.cos_sim) for r in pdk]
    assert len(query) < PANDAS_DIM_THRESHOLD  # testdata is low-dim → auto=jvm

    # blocked near-dup pairs: gram-matrix kernel vs the oracle-green
    # JVM query (queries/similarity.cosine_neardup_pairs)
    from bear_spark.queries.similarity import cosine_neardup_pairs as q_jvm

    exp = {
        (r.id1, r.id2, r.cos_sim)
        for r in q_jvm(spark, SF).collect()
    }
    got = {
        (r.id1, r.id2, r.cos_sim)
        for r in cosine_neardup_pairs_pandas(vecs, threshold=0.9).collect()
    }
    assert got == exp

    # auto dispatch at high dim routes through the pandas kernel
    rng = np.random.default_rng(5)
    hi = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(PANDAS_DIM_THRESHOLD)])
         for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    hq = [float(x) for x in rng.standard_normal(PANDAS_DIM_THRESHOLD)]
    auto = cosine_topk(hi, hq, k=5, impl="auto").collect()
    ref = cosine_topk_pandas(hi, hq, k=5).collect()
    assert [(r.vec_id, r.cos_sim) for r in auto] == [(r.vec_id, r.cos_sim) for r in ref]


def test_ivf_assign_kernel_matches_when_chain(spark):
    """Verdict round-4 directive 1: the Arrow/BLAS argmin assignment
    kernel must produce the SAME list ids as the when-chain expression
    (ties → smallest id; null / wrong-length vectors → list 0), so an
    index built with either impl has identical layout."""
    import numpy as np

    from bear_spark.operators.similarity import (
        IVF_ASSIGN_CELLS_THRESHOLD,
        ivf_fit_centroids_local,
        with_ivf_list,
    )

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    import pyarrow.parquet as pq

    pdf = (
        pq.read_table(f"{SF}/embeddings.parquet", columns=["vec_id", "embedding"])
        .to_pandas()
        .sort_values("vec_id")
    )
    X = np.asarray([np.asarray(v, dtype=float) for v in pdf["embedding"]])
    cents = ivf_fit_centroids_local(X, n_lists=8, seed=7)

    jvm = {
        r.vec_id: r._list
        for r in with_ivf_list(vecs, cents, impl="jvm").select("vec_id", "_list").collect()
    }
    pdk = {
        r.vec_id: r._list
        for r in with_ivf_list(vecs, cents, impl="pandas").select("vec_id", "_list").collect()
    }
    assert jvm == pdk

    # auto dispatch: small n_lists*dim stays JVM; at/over the cell
    # threshold it routes to the kernel
    dim = len(cents[0])
    assert 8 * dim < IVF_ASSIGN_CELLS_THRESHOLD

    # null and ragged vectors land in list 0 on BOTH paths
    rng = np.random.default_rng(11)
    cents2 = rng.standard_normal((4, 6)).tolist()
    messy = spark.createDataFrame(
        [
            (1, [float(x) for x in rng.standard_normal(6)]),
            (2, None),
            (3, [1.0, 2.0]),  # wrong length
            (4, [float(x) for x in rng.standard_normal(6)]),
        ],
        "vec_id long, embedding array<float>",
    )
    for impl in ("jvm", "pandas"):
        got = {
            r.vec_id: r._list
            for r in with_ivf_list(messy, cents2, impl=impl).collect()
        }
        assert got[2] == 0 and got[3] == 0, impl
        # real rows get a real argmin
        assert all(0 <= got[i] < len(cents2) for i in (1, 4)), impl
    jvm2 = {r.vec_id: r._list for r in with_ivf_list(messy, cents2, impl="jvm").collect()}
    pd2 = {r.vec_id: r._list for r in with_ivf_list(messy, cents2, impl="pandas").collect()}
    assert jvm2 == pd2


def test_pandas_kernels_tolerate_null_and_ragged_vectors(spark):
    """Advisor round-4: np.stack on null/ragged embeddings raised where
    the JVM path null-propagates and drops the row — the kernels must
    now degrade identically (drop those rows) instead of erroring."""
    import numpy as np

    from bear_spark.operators.similarity import (
        cosine_neardup_pairs_pandas,
        cosine_topk,
        cosine_topk_pandas,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)], i % 2) for i in range(10)]
    rows += [(100, None, 0), (101, [1.0], 1)]  # null + ragged
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in rng.standard_normal(8)]

    jvm = cosine_topk(df, q, k=20, impl="jvm").collect()
    pdk = cosine_topk_pandas(df, q, k=20).collect()
    ids = {r.vec_id for r in pdk}
    assert 100 not in ids and 101 not in ids
    assert [(r.vec_id, r.cos_sim) for r in jvm][:10] == [
        (r.vec_id, r.cos_sim) for r in pdk
    ][:10]

    pairs = cosine_neardup_pairs_pandas(df, threshold=-1.1, block_col="label").collect()
    pair_ids = {r.id1 for r in pairs} | {r.id2 for r in pairs}
    assert 100 not in pair_ids and 101 not in pair_ids
    assert pairs  # the valid rows still pair up


def test_neardup_kernel_survives_a_ragged_first_row(spark):
    """The expected vector length must not come from whichever row a
    batch happens to start with: a ragged FIRST row in a block used to
    become the anchor and evict every valid row, so the block lost all
    its pairs."""
    from bear_spark.operators.similarity import cosine_neardup_pairs_pandas

    rows = [(0, [1.0, 0.0], 0)]  # ragged, and first
    rows += [(i, [1.0, 0.1 * i, 0.0], 0) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = cosine_neardup_pairs_pandas(
        df.coalesce(1), threshold=-1.1, block_col="label"
    ).collect()
    assert {(r.id1, r.id2) for r in pairs} == {
        (a, b) for a in range(1, 5) for b in range(a + 1, 5)
    }
