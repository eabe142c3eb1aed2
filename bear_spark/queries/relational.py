"""Relational operator coverage: scans, filters, joins (all shapes),
aggregations, set ops, rollup/cube, top-k.

Mirrors SURVEY.md §2.2/2.4/2.6/2.7 plus the §2.11 gap list. Each Spark
plan is written so Catalyst pushes filters/pruning into the parquet scan
and picks broadcast joins for the dimension tables (explicit
``F.broadcast`` on dims — at 100 TB the fact side never shuffles for
these).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bear_spark.queries import query, t


# --------------------------------------------------------------- scans/aggs
@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: full-scan groupBy with partial (map-side) aggs.

    Reference parity: the grouped-metrics style of bear's reranker
    (reference: bear/reranker.py:105-114) generalized to the classic
    pricing-summary report.
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → join → agg → top-k.

    Only ``customer`` (the true dimension) is broadcast; the
    date-filtered ``orders`` side is still fact-sized (~half the
    table), so lineitem ⋈ orders stays a shuffled hash/sort-merge
    join — broadcasting it would OOM executors at 100×. AQE picks
    the physical strategy from runtime sizes.
    """
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: fact-fact joins (lineitem ⋈ orders ⋈ customer ⋈
    supplier) shuffle on their keys — orders, customer AND supplier all
    grow with sf (supplier is 10k rows/sf; ~10M rows at a 100 TB-class
    sf) and must NOT carry an unconditional broadcast hint; only the
    genuinely bounded dims (nation: 25 rows, region: 5) are hinted.
    AQE converts any side to broadcast at runtime when it measures
    small."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "agg_stats_by_flag",
    """
    SELECT l_returnflag,
           count(*)                                   AS n,
           count(DISTINCT l_orderkey)                 AS n_orders,
           round(min(l_extendedprice), 2)             AS min_price,
           round(max(l_extendedprice), 2)             AS max_price,
           round(sum(l_extendedprice), 2)             AS sum_price,
           round(avg(l_discount), 4)                  AS avg_disc,
           round(quantile_cont(l_quantity, 0.25), 4)  AS p25,
           round(quantile_cont(l_quantity, 0.50), 4)  AS p50,
           round(quantile_cont(l_quantity, 0.75), 4)  AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_by_flag(spark, sf_dir):
    """One grouped pass covering min/max/sum/avg, exact count-distinct,
    and exact interpolated percentiles (SURVEY §2.11 aggs)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("p75"),
    )


@query("approx_distinct_parts")  # approx sketch differs per engine → rows-only check
def approx_distinct_parts(spark, sf_dir):
    """HyperLogLog distinct — the scale path for count-distinct."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts")
    )


# ------------------------------------------------------------------- joins
@query(
    "join_broadcast_dim",
    """
    SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast_dim(spark, sf_dir):
    """Fact ⋈ broadcast dims (reference parity: the semi-join-ish scan
    filters of bear/search.py:31-41 generalized)."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "join_left_outer_orders",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer_orders(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total"),
        )
    )


@query(
    "join_full_outer_nations",
    """
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer_nations(spark, sf_dir):
    """Full-outer merge — reference parity: the per-type score-map merge
    with 0-defaults (reference: bear/reranker.py:136-153)."""
    c = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "join_left_semi_urgent",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def join_left_semi_urgent(spark, sf_dir):
    """Left-semi (EXISTS) — reference parity: institution-membership
    filter (reference: bear/search.py:31-41)."""
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_anti_no_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
    """,
)
def join_left_anti_no_orders(spark, sf_dir):
    """Left-anti (NOT EXISTS) — reference parity: skip-already-crawled
    (reference: bear/crawler.py:228-229)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_range_price_band",
    """
    SELECT p_brand, count(*) AS n_in_band
    FROM lineitem JOIN part ON l_partkey = p_partkey
     AND l_extendedprice BETWEEN p_retailprice * 1.0 AND p_retailprice * 10.0
    GROUP BY p_brand
    """,
)
def join_range_price_band(spark, sf_dir):
    """Equi-join + range residual predicate (non-equi condition).

    ``part`` scales with the data (200k rows/sf) so the strategy is
    left to AQE: equi-key shuffle join with the range predicate as a
    post-join residual, broadcast only if runtime stats say it fits.
    """
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    cond = (
        (li.l_partkey == part.p_partkey)
        & (li.l_extendedprice >= part.p_retailprice * 1.0)
        & (li.l_extendedprice <= part.p_retailprice * 10.0)
    )
    return li.join(part, cond).groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_in_band")
    )


# ------------------------------------------------------------------ set ops
@query(
    "set_ops_custkeys",
    """
    SELECT 'intersect' AS op, custkey FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      INTERSECT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    UNION ALL
    SELECT 'except' AS op, custkey FROM (
      SELECT c_custkey AS custkey FROM customer
      EXCEPT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'union' AS op, custkey FROM (
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
    )
    """,
)
def set_ops_custkeys(spark, sf_dir):
    """INTERSECT, EXCEPT and UNION (distinct semantics) in one
    driver-checked result, tagged by op. INTERSECT/EXCEPT compile to
    shuffled distinct-join plans, UNION to a union + distinct aggregate."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    early = orders.filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    late = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    inter = early.intersect(late).select(F.lit("intersect").alias("op"), "custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    ckey = F.col("c_custkey").alias("custkey")
    exc = (
        cust.select(ckey)
        .subtract(f)
        .select(F.lit("except").alias("op"), "custkey")
    )
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(ckey)
    rich = cust.filter(F.col("c_acctbal") > 9000).select(ckey)
    uni = (
        building.union(rich)
        .distinct()
        .select(F.lit("union").alias("op"), "custkey")
    )
    return inter.unionByName(exc).unionByName(uni)


# ------------------------------------------------------------- rollup/cube
@query(
    "rollup_lineitem",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@query(
    "cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def grouping_sets_orders(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM _gs_orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


# ------------------------------------------------------------------- top-k
@query(
    "top_customers_by_revenue",
    """
    SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_custkey
    ORDER BY revenue DESC, o_custkey LIMIT 20
    """,
)
def top_customers_by_revenue(spark, sf_dir):
    """orderBy+limit → TakeOrderedAndProject (no full sort at scale)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_custkey")
        .limit(20)
    )


@query(
    "point_lookup_orders",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_orderkey IN (1, 42, 4242, 9999)
    """,
)
def point_lookup_orders(spark, sf_dir):
    """PK point lookup — reference parity: client.get by ids
    (reference: docs/examples/milvus_engine_access.ipynb); pushes an IN
    filter into the scan."""
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey").isin(1, 42, 4242, 9999)).select(
        "o_orderkey", "o_custkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "struct_flatten_entity",
    """
    SELECT o_orderkey, UNNEST(s)
    FROM (
      SELECT o_orderkey,
             {'cust': o_custkey, 'status': o_orderstatus,
              'price': round(o_totalprice, 2)} AS s
      FROM orders WHERE o_orderkey <= 2000
    )
    """,
)
def struct_flatten_entity(spark, sf_dir):
    """Nested-struct flatten (SURVEY §2.7 J5): the reference merges a
    nested 'entity' dict into the top level (reference:
    bear/reranker.py:61-62); Spark-native form is select("s.*")."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
        ).alias("s"),
    )
    return nested.select("o_orderkey", "s.*")
