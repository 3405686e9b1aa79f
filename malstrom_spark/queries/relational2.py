"""Relational query surface, part 2: wider TPC-H-shaped coverage —
scan-heavy aggregates (Q6/Q14 shapes), multi-dim join matrices
(Q7/Q8/Q9 shapes), outer-join top-k (Q10), having-join (Q18),
disjunctive predicates (Q19), correlated-min (Q2 shape via window),
set operations, CUBE, and exact-moment statistical aggregates.

Engine-portability rules are the same as relational.py: decimal
accumulation for money (`dsum`), BIGINT casts for counts, formatted
dates, round(·, 6) on any value derived by division of exact sums.

Scale notes (100 TB): every query keeps the fact table (lineitem /
orders) on the probe side; dimensions are broadcast explicitly; the
only wide shuffles are keyed aggregations whose keys are the output
grain. Statistical moments are computed as exact decimal sums in ONE
pass (no variance two-pass, no percentile sort).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..scale import ensure_parallelism
from . import register, table
from .relational import dsum


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ----------------------------------------------------------- q6 shape
@register(
    "q6_revenue_delta",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_delta(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero joins. All
    three predicates push to the parquet scan; the aggregate is a
    single global decimal sum (map-side partials, one-row shuffle)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ----------------------------------------------------------- q7 shape
@register(
    "q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: bilateral shipping volume between distinct
    nation pairs by year. The nation table joins twice under different
    roles (supplier side / customer side) — both broadcast."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"))
    )


# ----------------------------------------------------------- q8 shape
@register(
    "q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT r_name,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             n1.n_name AS supp_nation,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS volume
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey  = o_custkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n2.n_regionkey
      JOIN supplier ON s_suppkey  = l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2, 3
    )
    SELECT r_name, o_year, supp_nation, round(volume, 4) AS volume,
           round(volume / SUM(volume) OVER (PARTITION BY r_name, o_year), 6) AS share
    FROM vol
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: each supplier nation's share of a customer
    region's yearly purchase volume. Aggregate first (small grain),
    then a window divides by the region-year total — the window runs
    on the aggregated 25x5x2-row result, not on the fact table."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    region = table(spark, sf_dir, "region")
    vol = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n2_region") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .groupBy("r_name", F.year("o_orderdate").cast("long").alias("o_year"), "supp_nation")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("volume"))
    )
    w = Window.partitionBy("r_name", "o_year")
    return vol.select(
        "r_name",
        "o_year",
        "supp_nation",
        F.round("volume", 4).alias("volume"),
        F.round(F.col("volume") / F.sum("volume").over(w), 6).alias("share"),
    )


# ----------------------------------------------------------- q9 shape
@register(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1
                         AS DECIMAL(28,6))) AS DOUBLE) AS amount
    FROM lineitem
    JOIN part     ON p_partkey  = l_partkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit on a part-name-filtered product line by
    supplier nation and year (retailprice*qty*0.1 stands in for
    ps_supplycost — this dataset has no partsupp table). The part
    filter is applied before the join and the filtered part table is
    broadcast, so lineitem is probe-side pruned."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.1
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(dsum(amount, 6).alias("amount"))
    )


# ---------------------------------------------------------- q10 shape
@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           round(any_value(c_acctbal), 2) AS c_acctbal
    FROM customer
    JOIN orders   ON o_custkey  = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: customers who returned the most value in a
    window — join, agg on the customer grain, global top-20 (TakeOrdered,
    no full sort)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1996-07-01"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
            F.round(F.any_value("c_acctbal"), 2).alias("c_acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------- q14 shape
@register(
    "q14_promo_share",
    oracle="""
    SELECT round(100.0 *
             CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                       THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE),
           6) AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue percentage — conditional
    aggregation over a month of shipments; part is broadcast."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-03-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    part = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(F.lit(100.0) * dsum(promo, 6) / dsum(rev, 6), 6).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------- q18 shape
@register(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           CAST(sum_qty AS DOUBLE) AS sum_qty
    FROM (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(28,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(28,2))) > 300
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds 300 —
    aggregate-then-having on the fact table, then join the (now tiny)
    qualifying set to orders/customer. The HAVING output is broadcast
    into the orders join, reversing the usual fact-probe direction."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 300)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------- q19 shape
@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
       OR (p_type  = 'PROMO'    AND p_size BETWEEN 20 AND 50 AND l_quantity >= 25)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: three OR'd brand/size/quantity predicate
    branches that mix join-side and probe-side columns — exercises
    Catalyst's disjunction handling (the common l_partkey join key is
    still extracted; part remains broadcast)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & qty.between(1, 20))
        | ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(10, 30) & qty.between(10, 30))
        | ((F.col("p_type") == "PROMO") & F.col("p_size").between(20, 50) & (qty >= 25))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ------------------------------------------------ q2 shape (corr. min)
@register(
    "min_price_supplier_per_part",
    oracle="""
    WITH priced AS (
      SELECT l_partkey, l_suppkey, l_extendedprice,
             MIN(l_extendedprice) OVER (PARTITION BY l_partkey) AS min_price
      FROM lineitem
    ), best AS (
      SELECT l_partkey, l_suppkey, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY l_suppkey) AS rn
      FROM priced WHERE l_extendedprice = min_price
    )
    SELECT p_partkey, p_name, p_brand, s_name,
           round(l_extendedprice, 2) AS best_price
    FROM best
    JOIN part     ON p_partkey = best.l_partkey
    JOIN supplier ON s_suppkey = best.l_suppkey
    WHERE rn = 1 AND p_size < 10
    """,
)
def min_price_supplier_per_part(spark, sf_dir):
    """TPC-H Q2 shape (correlated MIN subquery) expressed as a window:
    cheapest observed supplier per part, ties broken by suppkey. The
    reference would need a hand-built stateful join; here it is one
    window over the fact table plus two broadcast joins."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    supp = table(spark, sf_dir, "supplier")
    wmin = Window.partitionBy("l_partkey")
    wrn = Window.partitionBy("l_partkey").orderBy("l_suppkey")
    best = (
        li.select("l_partkey", "l_suppkey", "l_extendedprice")
        .withColumn("min_price", F.min("l_extendedprice").over(wmin))
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .withColumn("rn", F.row_number().over(wrn))
        .filter(F.col("rn") == 1)
    )
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "s_name",
            F.round("l_extendedprice", 2).alias("best_price"),
        )
    )


# ------------------------------------------------------------ set ops
@register(
    "customer_cohort_set_ops",
    oracle="""
    WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
         y97 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
    SELECT 'both_years' AS cohort, o_custkey FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
    UNION ALL
    SELECT 'only_1996' AS cohort, o_custkey FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97)
    UNION ALL
    SELECT 'only_1997' AS cohort, o_custkey FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y96)
    """,
)
def customer_cohort_set_ops(spark, sf_dir):
    """Set operators (absent in the reference, SURVEY §2.8): customer
    retention cohorts via INTERSECT / EXCEPT / UNION ALL over yearly
    active-customer sets."""
    orders = table(spark, sf_dir, "orders")

    def actives(y0, y1):
        return (
            orders.filter((F.col("o_orderdate") >= _ts(y0)) & (F.col("o_orderdate") < _ts(y1)))
            .select("o_custkey")
            .distinct()
        )

    y96, y97 = actives("1996-01-01", "1997-01-01"), actives("1997-01-01", "1998-01-01")
    tag = lambda df, t: df.select(F.lit(t).alias("cohort"), "o_custkey")  # noqa: E731
    return (
        tag(y96.intersect(y97), "both_years")
        .unionAll(tag(y96.exceptAll(y97), "only_1996"))
        .unionAll(tag(y97.exceptAll(y96), "only_1997"))
    )


# --------------------------------------------------------------- cube
@register(
    "cube_status_priority",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark, sf_dir):
    """CUBE aggregation (grouping sets; reference has no aggregation
    library at all): all 4 grouping combinations in one shuffle, NULL
    grouping slots rendered as 'ALL' for engine portability."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


# -------------------------------------------- exact-moment statistics
@register(
    "lineitem_stats_by_flag",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sqq,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sp,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4)))  AS DOUBLE) AS spp,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sqp
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(sq / n, 6) AS qty_mean,
           round((sqq - sq*sq/n) / (n - 1), 6) AS qty_var,
           round((sqp - sq*sp/n) / sqrt((sqq - sq*sq/n) * (spp - sp*sp/n)), 6) AS qty_price_corr
    FROM m
    """,
)
def lineitem_stats_by_flag(spark, sf_dir):
    """Statistical aggregates (mean/variance/correlation) computed
    from EXACT decimal moments in one pass — not stddev()/corr(),
    whose float accumulation order differs per engine/partitioning.
    Same single-shuffle cost as a plain sum; bit-identical results."""
    # ensure_parallelism: the map-side decimal moment aggregation
    # otherwise runs in the small scan's one task (exact sums, order-free)
    li = ensure_parallelism(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
    )
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(q, 2).alias("sq"),
        F.sum((q * q).cast("decimal(28,4)")).cast("double").alias("sqq"),
        dsum(p, 2).alias("sp"),
        F.sum((p * p).cast("decimal(38,4)")).cast("double").alias("spp"),
        F.sum((q * p).cast("decimal(38,4)")).cast("double").alias("sqp"),
    )
    n = F.col("n")
    sq, sqq, sp, spp, sqp = (F.col(c) for c in ["sq", "sqq", "sp", "spp", "sqp"])
    return m.select(
        "l_returnflag",
        "n",
        F.round(sq / n, 6).alias("qty_mean"),
        F.round((sqq - sq * sq / n) / (n - 1), 6).alias("qty_var"),
        F.round(
            (sqp - sq * sp / n) / F.sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)), 6
        ).alias("qty_price_corr"),
    )


# ------------------------------------------ monthly windows (parity)
@register(
    "monthly_order_rollup",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def monthly_order_rollup(spark, sf_dir):
    """Calendar-month tumbling windows — the reference's flagship
    event-time example hand-builds these with a custom epoch generator
    firing at month boundaries plus stateful eviction
    (examples/event_time.rs:94-152, ~60 lines). Here the same result
    is one date_trunc expression; month windows aren't expressible in
    F.window (variable length) but need no windowing machinery at all
    in batch."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias("month"),
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------- q16 shape
@register(
    "q16_brand_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_brand_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: DISTINCT-count aggregation under negated dim
    predicates. count(distinct) expands to a two-phase aggregate
    (dedup on the full grouping+value key, then count) — still one
    logical shuffle chain, no driver involvement."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# ------------------------------------------------- window: lag/lead
@register(
    "customer_order_gaps",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             lag(o_orderdate)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date,
             lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_date,
             CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS BIGINT) AS date_rank
      FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(COALESCE(date_diff('day', prev_date, o_orderdate), -1) AS BIGINT) AS days_since_prev,
           CAST(COALESCE(date_diff('day', o_orderdate, next_date), -1) AS BIGINT) AS days_until_next,
           date_rank
    FROM o
    WHERE o_custkey < 200
    """,
)
def customer_order_gaps(spark, sf_dir):
    """Window-function breadth: lag/lead frames and dense_rank over the
    per-customer order timeline (reorder cadence — the feature-
    engineering shape). Deterministic tiebreak on orderkey; sentinel
    -1 for series edges keeps both engines' NULL handling out of the
    hash."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    prev_d = F.lag("o_orderdate").over(w)
    next_d = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.coalesce(F.datediff(F.col("o_orderdate"), prev_d), F.lit(-1))
        .cast("long")
        .alias("days_since_prev"),
        F.coalesce(F.datediff(next_d, F.col("o_orderdate")), F.lit(-1))
        .cast("long")
        .alias("days_until_next"),
        F.dense_rank().over(wr).cast("long").alias("date_rank"),
    )


# ------------------------------------------------------- percentiles
@register(
    "order_price_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.90), 6) AS p90,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def order_price_percentiles(spark, sf_dir):
    """EXACT percentiles (Spark `percentile`, not approx_percentile):
    both engines sort and linearly interpolate, verified bit-identical
    at 6 dp. At 100 TB switch to approx_percentile (t-digest, one
    pass, mergeable) — exact percentile is the oracle-able variant."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.90)"), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------- q13 shape
@register(
    "q13_order_count_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count histogram — LEFT OUTER
    join (zero-order customers count as 0) followed by a second
    aggregation over the first's output. The second groupBy runs on
    |customers| rows, already partition-reduced."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------- q15 shape
@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue
    — the scalar MAX subquery becomes a broadcast one-row aggregate
    crossJoined back onto the revenue relation. NOT an empty window
    spec max: that plans WindowExec over a single partition, funneling
    every per-supplier row through one buffering task at scale. Here
    both branches share the groupBy's shuffle via ReuseExchange, so
    raw data is still scanned once."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
        # explicit, so BOTH consumers of `revenue` below see the same
        # child plan: the supplier join infers isnotnull(l_suppkey) on
        # its branch only, which would break canonical equality and
        # with it the ReuseExchange single-scan guarantee.
        & F.col("l_suppkey").isNotNull()
    )
    supp = table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    best = revenue.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("mx")
    )
    return (
        supp.join(F.broadcast(best), supp.s_suppkey == best.supplier_no)
        .select("s_suppkey", "s_name", F.round("total_revenue", 4).alias("total_revenue"))
    )


# ---------------------------------------------------------- q17 shape
@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: rows below 20% of their part's average
    quantity — the correlated AVG subquery becomes a window average
    over the part key, one pass, no re-scan of lineitem."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    w = Window.partitionBy("l_partkey")
    flagged = li.withColumn("avg_qty", F.avg("l_quantity").over(w))
    return (
        flagged.join(F.broadcast(part), flagged.l_partkey == part.p_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------- q20 shape
@register(
    "q20_promo_heavy_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(28,2))) AS promo_qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(28,2))) > 500
    )
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM shipped)
    """,
)
def q20_promo_heavy_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who moved serious promo volume —
    aggregate-then-having feeding an IN-subquery, expressed as a
    LEFT SEMI join of supplier against the (tiny) qualifying set."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = table(spark, sf_dir, "supplier")
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("promo_qty"))
        .filter(F.col("promo_qty") > 500)
    )
    return (
        supp.join(F.broadcast(shipped), supp.s_suppkey == shipped.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


# ---------------------------------------------------------- q22 shape
@register(
    "q22_idle_rich_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers who never
    ordered — a scalar AVG subquery (computed as a 1-row broadcast
    cross join, not a driver collect) plus a LEFT ANTI join."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------- q12 shape
@register(
    "q12_late_priority",
    oracle="""
    SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                THEN 'late' ELSE 'ontime' END AS ship_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def q12_late_priority(spark, sf_dir):
    """TPC-H Q12 shape (adapted: lateness = shipped > 60 days after
    order date, since the testdata carries no shipmode/commitdate):
    conditional priority counts per lateness bucket — one fact-fact
    join + map-side-combinable conditional aggregation."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.lit("late"),
    ).otherwise(F.lit("ontime"))
    return (
        joined.select(bucket.alias("ship_bucket"), high.alias("h"))
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(F.col("h"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~F.col("h"), 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------- q21 shape
@register(
    "q21_blocking_suppliers",
    oracle="""
    WITH fl AS (
      SELECT l_orderkey, l_suppkey, l_shipdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ),
    om AS (
      SELECT l_orderkey AS ok, MAX(l_shipdate) AS mx,
             COUNT(DISTINCT l_suppkey) AS nsupp
      FROM fl GROUP BY l_orderkey
    ),
    last_ship AS (
      SELECT DISTINCT fl.l_orderkey AS ok, fl.l_suppkey AS sk
      FROM fl JOIN om ON fl.l_orderkey = om.ok AND fl.l_shipdate = om.mx
    ),
    cnt AS (SELECT ok, COUNT(*) AS n_last FROM last_ship GROUP BY ok)
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM last_ship
    JOIN om USING (ok)
    JOIN cnt USING (ok)
    JOIN supplier ON s_suppkey = sk
    WHERE om.nsupp > 1 AND cnt.n_last = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_blocking_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (adapted: the sole last-shipping supplier on a
    multi-supplier finalized order "kept it waiting"; the testdata has
    no commit/receipt dates): the EXISTS (another supplier) +
    NOT EXISTS (another equally-late supplier) pair becomes two
    aggregates over the same order grouping — nsupp > 1 and exactly
    one distinct supplier at the order's max ship date — one shuffle
    on l_orderkey instead of two correlated self-joins of the fact
    table; supplier dim broadcasts; TakeOrdered caps the output."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = table(spark, sf_dir, "supplier")
    fl = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    om = fl.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("mx"),
        F.countDistinct("l_suppkey").alias("nsupp"),
    )
    last_ship = (
        fl.join(om, "l_orderkey")
        .where(F.col("l_shipdate") == F.col("mx"))
        .select("l_orderkey", "l_suppkey", "nsupp")
        .distinct()
    )
    cnt = last_ship.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_last"))
    return (
        last_ship.join(cnt, "l_orderkey")
        .where((F.col("nsupp") > 1) & (F.col("n_last") == 1))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# ---------------------------------------------------------- q2 shape
@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             MIN(CAST(l_extendedprice AS DECIMAL(28,2))) AS cost
      FROM lineitem GROUP BY 1, 2
    ), elig AS (
      SELECT ps.pk, ps.sk, ps.cost, s_name, n_name
      FROM ps
      JOIN supplier ON s_suppkey = ps.sk
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE r_name = 'ASIA'
    ), best AS (
      SELECT *, MIN(cost) OVER (PARTITION BY pk) AS best_cost FROM elig
    )
    SELECT p_partkey, p_type, p_size, s_name, n_name,
           CAST(cost AS DOUBLE) AS cost
    FROM best JOIN part ON p_partkey = pk
    WHERE cost = best_cost AND p_size <= 15 AND p_type = 'PROMO'
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (the driver testdata ships no partsupp table, so
    lineitem's per-(part, supplier) minimum extended price plays the
    supply-cost relation): cheapest ASIA supplier(s) per small PROMO
    part. The correlated MIN subquery becomes a window min partitioned
    by part over the ALREADY-AGGREGATED supply relation (never a
    re-scan of lineitem); region/nation dims broadcast."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "PROMO")
    )
    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(F.col("l_extendedprice").cast("decimal(28,2)")).alias("cost"))
    elig = (
        ps.join(F.broadcast(supp), ps.sk == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
        .select("pk", "sk", "cost", "s_name", "n_name")
    )
    w = Window.partitionBy("pk")
    best = elig.withColumn("best_cost", F.min("cost").over(w)).filter(
        F.col("cost") == F.col("best_cost")
    )
    return (
        best.join(F.broadcast(part), best.pk == part.p_partkey)
        .select(
            "p_partkey", "p_type", "p_size", "s_name", "n_name",
            F.col("cost").cast("double").alias("cost"),
        )
    )


# ---------------------------------------------------------- q11 shape
@register(
    "q11_important_stock",
    oracle="""
    WITH v AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l_partkey
    )
    SELECT partkey, CAST(val AS DOUBLE) AS value
    FROM v
    WHERE CAST(val AS DOUBLE) >
          (SELECT CAST(SUM(val) AS DOUBLE) FROM v) * 0.001
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (lineitem value standing in for the missing
    partsupp stock): parts whose supplied value from two nations
    exceeds 0.1% of those nations' total — the global scalar subquery
    becomes a broadcast one-row aggregate crossJoined onto the
    per-part relation. NOT an empty-partitionBy window sum: that
    single-partition WindowExec buffers the whole per-part relation
    (billions of rows at the 100 TB design point) in one task. The
    scalar branch shares the groupBy shuffle via ReuseExchange, so
    lineitem is still scanned exactly once and nothing collects to
    the driver."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    v = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).alias("val"))
    )
    total = v.agg(F.sum("val").alias("total"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.col("total").cast("double") * 0.001)
        .select("partkey", F.col("val").cast("double").alias("value"))
    )


# ------------------------------------------------ CDC compaction
# shared by orders_cdc_snapshot and the streaming twin
# (queries/streaming.py streaming_cdc_snapshot): same seeded
# changelog, same snapshot semantics, two execution engines
CDC_ORACLE = """
    WITH log AS (
      SELECT o_orderkey, 'I' AS op, o_orderdate AS ts, 1 AS seq,
             o_custkey, o_orderstatus, o_totalprice
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'U', o_orderdate, 2,
             o_custkey, o_orderstatus, o_totalprice + 100.0
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 'D', o_orderdate, 3,
             CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
             CAST(NULL AS DOUBLE)
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, 'I', o_orderdate, 4,
             o_custkey, 'R', 0.0
      FROM orders WHERE o_orderkey % 21 = 0
    ), latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY ts DESC, seq DESC) AS rn
      FROM log
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM latest WHERE rn = 1 AND op <> 'D'
    """


@register("orders_cdc_snapshot", oracle=CDC_ORACLE)
def orders_cdc_snapshot(spark, sf_dir):
    """CDC changelog compaction (operators/cdc.py cdc_compact): a
    seeded change log over orders — every order inserted, every 3rd
    updated (+100.0), every 7th deleted, every 21st re-inserted after
    its delete — collapsed to the current snapshot. Exercises upsert
    latest-wins, delete suppression, delete-then-reinsert revival,
    and the (ts, seq) tiebreak (all four versions share the order's
    ts). The Spark side is a single max_by hash aggregate (one
    shuffle, map-side partial combine, NO per-key sort); the oracle
    re-derives the snapshot with the classic ROW_NUMBER window
    formulation — two different algorithms, identical rows."""
    from ..operators import cdc

    o = table(spark, sf_dir, "orders")

    def ver(pred, op_lit, seq, custkey, status, price):
        src = o.where(pred) if pred is not None else o
        return src.select(
            "o_orderkey",
            F.lit(op_lit).alias("op"),
            F.col("o_orderdate").alias("ts"),
            F.lit(seq).cast("int").alias("seq"),
            custkey.alias("o_custkey"),
            status.alias("o_orderstatus"),
            price.alias("o_totalprice"),
        )

    k = F.col("o_orderkey")
    log = (
        ver(None, "I", 1, F.col("o_custkey"), F.col("o_orderstatus"),
            F.col("o_totalprice"))
        .unionByName(ver(k % 3 == 0, "U", 2, F.col("o_custkey"),
                         F.col("o_orderstatus"),
                         F.col("o_totalprice") + F.lit(100.0)))
        .unionByName(ver(k % 7 == 0, "D", 3,
                         F.lit(None).cast("long"),
                         F.lit(None).cast("string"),
                         F.lit(None).cast("double")))
        .unionByName(ver(k % 21 == 0, "I", 4, F.col("o_custkey"),
                         F.lit("R"), F.lit(0.0)))
    )
    return cdc.cdc_compact(log, "o_orderkey", "ts", tiebreak="seq")


# -------------------------------------------- fuzzy record linkage
@register(
    "customer_fuzzy_pairs",
    oracle="""
    WITH c AS (
      SELECT c_custkey AS id, lower(c_name) AS nm
      FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT l.id AS id_l, r.id AS id_r,
           l.nm AS s_l, r.nm AS s_r,
           CAST(levenshtein(l.nm, r.nm) AS BIGINT) AS dist
    FROM c l JOIN c r ON l.id < r.id
    WHERE levenshtein(l.nm, r.nm) <= 2
    """,
)
def customer_fuzzy_pairs(spark, sf_dir):
    """Fuzzy record linkage (functions/linkage.py fuzzy_self_pairs):
    every pair of customer names within levenshtein distance 2 —
    entity resolution ahead of per-entity caps/dedup. The Spark side
    blocks with the symmetric-delete neighborhood (complete for
    d<=2: any two strings within 2 edits share a <=2-deletion
    variant — FastSS/SymSpell) and verifies candidates, so its output
    EXACTLY equals the quadratic cross join the oracle runs; the
    blocker never touches the answer. TPC-H names are adversarially
    dense (all share 'customer#'; only digits differ), making this a
    worst-case bucket-skew probe too — candidates come from one
    variant equi-join, never an all-pairs product."""
    from ..functions import linkage

    cust = ensure_parallelism(
        table(spark, sf_dir, "customer").where(F.col("c_custkey") % 5 == 0)
    )
    return linkage.fuzzy_self_pairs(
        cust.select(F.col("c_custkey").alias("id"), "c_name"),
        "id", "c_name", max_distance=2, lowercase=True,
    ).select(
        F.col("id_l"), F.col("id_r"), "s_l", "s_r", "dist"
    )


# -------------------------------------------- data-quality expectations
@register(
    "orders_quality_report",
    oracle="""
    SELECT 'price_positive' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE)
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
           SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) = 0 AS ok
    FROM orders
    UNION ALL
    SELECT 'price_under_400k', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN COALESCE(o_totalprice < 400000, FALSE)
                         THEN 0 ELSE 1 END) AS BIGINT),
           SUM(CASE WHEN COALESCE(o_totalprice < 400000, FALSE) THEN 0 ELSE 1 END) = 0
    FROM orders
    UNION ALL
    SELECT 'status_known', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P')
                         THEN 0 ELSE 1 END) AS BIGINT),
           SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) = 0
    FROM orders
    UNION ALL
    SELECT 'pre_2000', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN COALESCE(o_orderdate < TIMESTAMP '2000-01-01', FALSE)
                         THEN 0 ELSE 1 END) AS BIGINT),
           SUM(CASE WHEN COALESCE(o_orderdate < TIMESTAMP '2000-01-01', FALSE) THEN 0 ELSE 1 END) = 0
    FROM orders
    UNION ALL
    SELECT 'unique:o_orderkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*) = COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'fk:o_custkey->c_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NOT NULL
                          AND o_custkey NOT IN (SELECT c_custkey FROM customer)
                         THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN o_custkey IS NOT NULL
                     AND o_custkey NOT IN (SELECT c_custkey FROM customer)
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    """,
)
def orders_quality_report(spark, sf_dir):
    """Data-quality expectations (functions/expect.py): four row
    rules compiled into ONE aggregation pass (price bounds seeded so
    one rule actually fails — 'price_under_400k' has real
    violations), a key-uniqueness check (rows beyond the first per
    key, counted in one map-side-combinable aggregate) and a
    referential check (LEFT ANTI against the broadcast dimension) —
    the validate-before-compute stage of every pipeline. All-integer
    report, hash-exact."""
    from ..functions import expect

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rows = expect.check_rows(o, {
        "price_positive": F.col("o_totalprice") > 0,
        "price_under_400k": F.col("o_totalprice") < 400000,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        "pre_2000": F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"),
    })
    uniq = expect.check_unique(o, ["o_orderkey"])
    fk = expect.check_foreign_key(o, "o_custkey", c, "c_custkey",
                                  rule="fk:o_custkey->c_custkey")
    return rows.unionByName(uniq).unionByName(fk)


# ---------------------------------------------- bloom-filtered join
@register(
    "lineitem_bloom_join",
    oracle="""
    SELECT s.s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey < 3
    GROUP BY s.s_suppkey
    """,
)
def lineitem_bloom_join(spark, sf_dir):
    """Bloom-filtered join (functions/bloom.py bloom_filtered_join):
    lineitem joined to a selective supplier slice (3 of 25 nations)
    with the dimension's keys riding ahead as a Bloom filter, so
    ~7/8 of the fact rows die AT THE SCAN instead of crossing the
    join — the runtime-filter shape that keeps selective dim joins
    from shuffling the whole fact at 100 TB. Output is EXACTLY the
    plain join (the join kills bloom false positives), so the oracle
    is the plain SQL."""
    from ..functions import bloom

    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier").where(F.col("s_nationkey") < 3)
    joined = bloom.bloom_filtered_join(
        li.select("l_suppkey", "l_extendedprice"),
        supp.select("s_suppkey"),
        "l_suppkey", "s_suppkey", n_bits=1 << 14,
    )
    return joined.groupBy("s_suppkey").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
        .cast("double").alias("revenue"),
    )


# ------------------------------------- incremental view maintenance
@register(
    "orders_incremental_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_totalprice) AS BIGINT) AS price_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             AS price_sum,
           MIN(o_totalprice) AS price_min,
           MAX(o_totalprice) AS price_max,
           FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
                 / COUNT(o_totalprice) * 1e6) / 1e6 AS price_avg
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def orders_incremental_rollup(spark, sf_dir):
    """Incremental aggregate maintenance (operators/incremental.py):
    orders split into 'history' (before 2000) and 'delta' (2000+),
    aggregated SEPARATELY, merged by merge_states, finalized — and
    the oracle is the plain full-scan GROUP BY, so the row proves the
    merge is lossless (counts/sums add, min/max combine, avg derived
    LAST because averages don't merge). At scale only the delta is
    ever re-aggregated; history contributes its keys-sized state
    table. Same design point as dedup_incremental (r7)."""
    from ..operators import incremental as inc

    keys = ["o_orderstatus", "o_orderpriority"]
    o = table(spark, sf_dir, "orders").select(
        *keys,
        F.col("o_totalprice").cast("decimal(28,2)").alias("price"),
        "o_orderdate",
    )
    split = F.lit("2000-01-01").cast("timestamp")
    hist_state = inc.aggregate_state(
        o.where(F.col("o_orderdate") < split), keys, ["price"])
    delta_state = inc.aggregate_state(
        o.where(F.col("o_orderdate") >= split), keys, ["price"])
    merged = inc.merge_states(keys, ["price"], hist_state, delta_state)
    final = inc.finalize_state(merged, ["price"])
    return final.select(
        *keys, "n_rows", "price_n",
        F.col("price_sum").cast("double").alias("price_sum"),
        F.col("price_min").cast("double").alias("price_min"),
        F.col("price_max").cast("double").alias("price_max"),
        "price_avg",
    )


# ------------------------------------------------ per-key OLS trend
from ..functions.stats import grouped_ols, grouped_ols_sql  # noqa: E402


@register(
    "customer_spend_trend",
    oracle=grouped_ols_sql(
        keys_sql="o_custkey",
        x_sql="date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))",
        y_sql="FLOOR(o_totalprice * 100)",
        from_sql="orders",
    ),
)
def customer_spend_trend(spark, sf_dir):
    """Per-customer OLS spend trend (functions/stats.py grouped_ols):
    slope/intercept of order value (cents) over order date (epoch
    days), fitted closed-form from five EXACT BIGINT moments in one
    combinable groupBy — no window, no second pass. FLOOR before the
    cents cast (Spark's double->long cast truncates, DuckDB's
    rounds — floor is the engine-portable quantizer). The oracle
    (grouped_ols_sql) renders the identical arithmetic; slope and
    intercept are each one correctly-rounded division on exact
    operands, round(6)."""
    o = table(spark, sf_dir, "orders")
    return grouped_ols(
        o.select(F.col("o_custkey").alias("k"), "o_orderdate", "o_totalprice"),
        ["k"],
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1995-01-01").cast("date")),
        F.floor(F.col("o_totalprice") * 100),
    )


# --------------------------------------------------- table diff
@register(
    "orders_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'N', 1.0
      FROM orders WHERE o_orderkey % 21 = 0
    ),
    j AS (
      SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
             old.o_orderkey IS NULL AS is_added,
             new.o_orderkey IS NULL AS is_removed,
             list_sort(list_filter([
               CASE WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                    THEN 'o_orderstatus' END,
               CASE WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
                    THEN 'o_totalprice' END
             ], x -> x IS NOT NULL)) AS ch
      FROM old FULL OUTER JOIN new USING (o_orderkey)
    )
    SELECT o_orderkey,
           CASE WHEN is_added THEN 'added'
                WHEN is_removed THEN 'removed'
                WHEN len(ch) > 0 THEN 'changed'
                ELSE 'unchanged' END AS status,
           CASE WHEN NOT is_added AND NOT is_removed AND len(ch) > 0
                THEN array_to_string(ch, ',') ELSE '' END AS changed_cols
    FROM j
    WHERE NOT (NOT is_added AND NOT is_removed AND len(ch) = 0)
    """,
)
def orders_snapshot_diff(spark, sf_dir):
    """Snapshot diff (operators/diff.py table_diff): orders vs a
    seeded next-day snapshot (every 3rd price bumped, every 11th
    status rewritten, every 7th deleted, new keys appended) —
    added/removed/changed classification with the exact changed-
    column sets, from ONE full-outer join. Null-safe per-column
    compare; changed_cols sorted for determinism. The reconciliation
    pass a 100 TB migration signs off with.

    Gate contract (r10): the driver's canonicalizer hashes result
    cells with pandas factorize, which cannot hash list cells — so
    the GATE projection flattens `changed_cols array<string>` to a
    comma-joined string. `table_diff` itself keeps the typed array
    (tests/test_diff.py pins it); only this registry row stringifies.
    """
    from ..operators.diff import table_diff

    o = table(spark, sf_dir, "orders")
    old = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    new = (
        old.where(k % 7 != 0)
        .select(
            "o_orderkey",
            F.when(k % 11 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
            F.when(k % 3 == 0, F.col("o_totalprice") + F.lit(100.0))
            .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        )
        .unionByName(
            old.where(k % 21 == 0).select(
                (k + 100000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    d = table_diff(old, new, "o_orderkey")
    return d.withColumn("changed_cols", F.array_join("changed_cols", ","))


# ---------------------------------------------- entity resolution
@register(
    "customer_entity_groups",
    oracle="""
    WITH RECURSIVE c AS (
      SELECT c_custkey AS id, lower(c_name) AS nm
      FROM customer WHERE c_custkey % 5 = 0
    ),
    pairs AS MATERIALIZED (
      SELECT l.id AS id_a, r.id AS id_b
      FROM c l JOIN c r ON l.id < r.id
      WHERE levenshtein(l.nm, r.nm) <= 1
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT id, id FROM c
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS id, MIN(lbl) AS entity_id,
           (node = MIN(lbl)) AS is_canonical
    FROM reach GROUP BY node
    """,
)
def customer_entity_groups(spark, sf_dir):
    """End-to-end entity resolution: symmetric-delete fuzzy pairs
    (functions/linkage.py, levenshtein <= 1) contracted by the
    large-star/small-star CC (functions/dedup.py dedup_groups) into
    one (id, entity_id, is_canonical) row per record — the 'merge
    near-identical author/source records before per-entity caps'
    pass, composed entirely from operators already proven alone.
    Oracle = recursive-CTE reachability over the brute-force pair
    set (the same first-principles transitive-closure pin as
    dedup_clusters). Both stages stay bucketed: variant-hash
    candidates, O(log n) CC rounds.

    CC input is the CC-SUFFICIENT edge set (fuzzy_entity_edges:
    rep-level pairs over DISTINCT names + linear star edges), not the
    member-level pair list — components are provably identical, and
    the member list is quadratic in copy-cluster depth (the round-12
    sf100 probe: 1000-deep replica name clusters made iterated CC
    shuffles over ~400M expanded edges the wall)."""
    from ..functions import dedup, linkage

    cust = table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 5 == 0
    ).select(F.col("c_custkey").alias("id"), "c_name")
    pairs = linkage.fuzzy_entity_edges(cust, "id", "c_name", max_distance=1)
    groups = dedup.dedup_groups(pairs, cust.select("id"), "id")
    return groups.select(
        "id",
        F.col("group_id").alias("entity_id"),
        (F.col("id") == F.col("group_id")).alias("is_canonical"),
    )


# ------------------------------------------- time-series gap fill
@register(
    "user_value_resampled",
    oracle="""
    WITH b AS (
      SELECT user_id,
             time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             MAX(value) AS v
      FROM events GROUP BY user_id, bucket
    ),
    s AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
      FROM b GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM s
    ),
    j AS (
      SELECT g.user_id, g.bucket, b.v
      FROM grid g LEFT JOIN b ON b.user_id = g.user_id
                              AND b.bucket = g.bucket
    )
    SELECT user_id,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS UNBOUNDED PRECEDING) AS value,
           v IS NULL AS is_gap
    FROM j
    """,
)
def user_value_resampled(spark, sf_dir):
    """Time-series gap filling (operators/resample.py resample_locf):
    per-user event values densified onto an hourly grid spanning each
    user's own [first, last] bucket, gaps carried forward (locf) with
    an is_gap flag — TimescaleDB's time_bucket_gapfill + locf shape.
    Per-bucket reduce = MAX (deterministic on ties); the grid is
    GENERATED per key (sequence + explode), never joined against a
    calendar table; one window does the fill. The max_buckets guard
    rides inside the sequence bound so an epoch-outlier row fails
    loudly instead of exploding the grid."""
    from ..operators.resample import resample_locf

    ev = table(spark, sf_dir, "events")
    out = resample_locf(
        ev, "user_id", "ts", "value", step="1 hour", agg=F.max("value")
    )
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "value",
        "is_gap",
    )


# ------------------------------------------ robust outlier flagging
@register(
    "events_value_outliers",
    oracle="""
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), b AS (
      SELECT event_id, event_type,
             CASE WHEN c < 0 THEN -1
                  WHEN c >= 60000 THEN 600
                  ELSE c // 100 END AS bin
      FROM s
    ), h AS (
      SELECT event_type, bin, COUNT(*) AS n FROM b GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, bin,
             SUM(n) OVER (PARTITION BY event_type) AS total,
             SUM(n) OVER (PARTITION BY event_type
                          ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cm
      FROM h
    ), qb AS (
      SELECT event_type,
             MIN(CASE WHEN cm >= (1 * total + 3) // 4 THEN bin END) AS q25,
             MIN(CASE WHEN cm >= (3 * total + 3) // 4 THEN bin END) AS q75
      FROM cum GROUP BY event_type
    ), fence AS (
      SELECT event_type,
             q25 - (3 * (q75 - q25)) // 2 AS lo,
             q75 + (3 * (q75 - q25)) // 2 AS hi
      FROM qb
    )
    SELECT b.event_id, b.event_type, CAST(b.bin AS INT) AS bin
    FROM b JOIN fence USING (event_type)
    WHERE b.bin < fence.lo OR b.bin > fence.hi
    """,
)
def events_value_outliers(spark, sf_dir):
    """Robust outlier detection (operators/histogram.py
    flag_outliers_iqr): per-event-type Tukey fences (q25/q75 +- 1.5
    IQR) computed in BIN space from the mergeable integer-cent
    histogram — rank targets and the fence are pure integer
    arithmetic, so the flagged set is hash-exact against the oracle's
    re-derivation. No per-group sort of raw events ever happens; the
    fence table is group-sized and broadcasts back onto the rows."""
    from ..operators.histogram import flag_outliers_iqr, linear_bin

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    cents = F.round(F.col("value") * 100).cast("long")
    out = flag_outliers_iqr(
        ev, ["event_type"], linear_bin(cents, 0, 60_000, 600)
    )
    return out.where("is_outlier").select(
        "event_id", "event_type", F.col("bin").cast("int").alias("bin")
    )
