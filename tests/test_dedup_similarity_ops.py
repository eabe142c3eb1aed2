"""Tests for the training-data operators: MinHash/LSH, SimHash,
random-hyperplane ANN — verified against exact baselines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bear_spark.operators.minhash import minhash_neardup_pairs, minhash_signatures, shingles
from bear_spark.operators.similarity import cosine_rank, lsh_ann_topk
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
    exact = [r["vec_id"] for r in cosine_rank(vecs, query, 10, "vec_id", "embedding").collect()]
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
    import numpy as np

    from bear_spark.operators.similarity import ivf_ann_topk, ivf_fit_centroids_local

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    query = vecs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    X = np.asarray([r.embedding for r in vecs.orderBy("vec_id").collect()], dtype=float)
    cents = ivf_fit_centroids_local(X, n_lists=8, seed=7)
    exact = [r["vec_id"] for r in cosine_rank(vecs, query, 10, "vec_id", "embedding").collect()]
    full = [r["vec_id"] for r in ivf_ann_topk(vecs, query, cents, k=10, n_probe=8).collect()]
    assert full == exact
    narrow = [r["vec_id"] for r in ivf_ann_topk(vecs, query, cents, k=10, n_probe=3).collect()]
    recall = len(set(exact) & set(narrow)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_local_fit_matches_the_plain_reference():
    """The fit keeps each row's distance to its nearest k-means++ center
    as it goes and computes Lloyd distances in row chunks; both change
    only the memory and work, not the arithmetic, so the centroids are
    bit-identical to the plain form (all centers each round, one
    (n, k, dim) array). 128 lists x dim 64 makes two chunks of rows."""
    import numpy as np

    from bear_spark.operators.similarity import ivf_fit_centroids_local

    def reference(X, n_lists, seed, max_iter=10):
        rng = np.random.default_rng(seed)
        n = len(X)
        centers = [X[int(rng.integers(n))]]
        for _ in range(1, n_lists):
            d2 = np.min([np.sum((X - c) ** 2, axis=1) for c in centers], axis=0)
            tot = float(d2.sum())
            if tot <= 0.0:
                centers.append(X[int(rng.integers(n))])
                continue
            centers.append(X[int(rng.choice(n, p=d2 / tot))])
        C = np.stack(centers)
        for _ in range(max_iter):
            assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            newC = C.copy()
            for j in range(n_lists):
                if (assign == j).any():
                    newC[j] = X[assign == j].mean(axis=0)
            if np.array_equal(newC, C):
                break
            C = newC
        return C.tolist()

    X = np.random.default_rng(4).standard_normal((600, 64))
    assert ivf_fit_centroids_local(X, 128, seed=3) == reference(X, 128, 3)
    assert ivf_fit_centroids_local(X[:50], 8, seed=7) == reference(X[:50], 8, 7)
    with pytest.raises(ValueError, match="n_lists=8"):
        ivf_fit_centroids_local(X[:7], 8)


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
