"""SearchEngine — the reference's query surface as a library facade.

Mirrors the reference's two entry points so a user of the reference can
switch call-for-call (reference: bear/search.py:51-111 search_resource,
:113-122 search_author; FastAPI routes bear/api/main.py:89-165 and the
MCP tool bear/mcp/main.py:40-48 are thin wrappers over these same two
calls — the engine-level facade is the portable surface):

- ``search_resource``: embed query → scan with pushed filters →
  similarity score → residual min-distance filter → top-k sort. The
  store-side ANN index (HNSW there) is a physical detail; here the
  scan is exact by default, with LSH/IVF candidate pruning available
  from operators.similarity for the approximate path.
- ``search_author``: fan out search_resource, explode the denormalized
  group array, score with a user-supplied formula, per-group top-N
  sum, rank groups (the rerank dataflow, operators/rerank.py).

Everything returns DataFrames — composable, lazily planned, pushdown
preserved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bear_spark.operators.rerank import rerank_scores
from bear_spark.operators.similarity import cosine_sql, vector_sql
from bear_spark.schema import col_sql


class SearchEngine:
    def __init__(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.corpus = corpus
        self.id_col = id_col
        self.vec_col = vec_col

    def search_resource(
        self,
        query_vec: list[float],
        top_k: int = 3,
        filter_expr: Column | str | None = None,
        min_distance: float | None = None,
        output_cols: list[str] | None = None,
    ) -> DataFrame:
        """Filter + similarity + residual threshold + top-k.

        ``filter_expr`` is pushed into the scan by Catalyst (the
        reference builds a Milvus filter string for the same purpose,
        bear/search.py:78-84); ``min_distance`` is the residual
        client-side predicate (:108-110); the embedding column is
        pruned from the output like the reference's ``output_fields``
        (:92-93).
        """
        df = self.corpus
        if filter_expr is not None:
            df = df.filter(filter_expr)
        if not query_vec:
            # degraded embedder (embedders.embed_query returns [] on
            # provider failure): surface an EMPTY result set with the
            # normal-path schema, not top_k rows with null distances —
            # cosine() of a zero-length array is null, which orderBy
            # would happily rank
            empty = df.withColumn("distance", F.lit(None).cast("double"))
            cols = output_cols or [c for c in empty.columns if c != self.vec_col]
            return empty.select(*cols).limit(0)
        # one SQL expression: a Column per vector component would be a
        # py4j round trip each
        cos = cosine_sql(col_sql(self.vec_col), vector_sql(query_vec))
        df = df.withColumn("distance", F.expr(f"round({cos}, 6)"))
        if min_distance is not None:
            df = df.filter(F.col("distance") >= min_distance)
        cols = output_cols or [c for c in df.columns if c != self.vec_col]
        return df.select(*cols).orderBy(F.desc("distance"), self.id_col).limit(top_k)

    def search_author(
        self,
        query_vec: list[float],
        group_array_col: str,
        formula: str = "pow(distance, 3)",
        top_k: int = 1000,
        top_n_per_group: int = 10,
        min_distance: float | None = None,
        filter_expr: Column | str | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """The author-rerank pipeline: resource search fan-out →
        explode group ids → formula score → grouped top-N sum → rank
        (reference: bear/search.py:113-122 + bear/reranker.py:76-153).
        Returns (group, total_score) ordered by total desc."""
        hits = self.search_resource(
            query_vec,
            top_k=top_k,
            filter_expr=filter_expr,
            min_distance=None,  # threshold applied below, pre-formula
            output_cols=None,
        )
        if min_distance is not None:
            # the reference thresholds the RAW distance before scoring
            # (bear/reranker.py: `r.get("distance", 0) > min_distance`,
            # strict >) — filtering on the formula score instead would
            # keep/drop different rows for any non-identity formula
            hits = hits.filter(F.col("distance") > min_distance)
        return rerank_scores(
            hits,
            group_col="_group",
            formula=formula,
            order_cols=[self.id_col],
            top_n=top_n_per_group,
            min_score=None,
            explode_col=group_array_col,
            limit=limit,
        )
