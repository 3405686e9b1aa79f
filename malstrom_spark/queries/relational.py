"""Relational query surface (SURVEY §2.8: everything the reference
lacks and Spark provides natively — joins, aggregation, window
functions, sorts, set ops, scalar functions — exercised over the
driver's TPC-H-ish tables with DuckDB oracles).

Engine-portability rules used throughout (see queries/__init__):
- money sums -> SUM(CAST(expr AS DECIMAL(28,s))) then cast DOUBLE:
  exact arithmetic, identical bits in Spark and DuckDB.
- averages -> exact decimal sum divided by count, in double.
- counts/ranks -> cast to BIGINT on both sides.
- timestamps in outputs -> formatted strings.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..operators import asof, stateful, windows
from ..stream import Stream
from . import register, table


def dsum(col: Column, scale: int = 6) -> Column:
    """Exact distributed sum: decimal accumulate, double result."""
    return F.sum(col.cast(f"decimal(28,{scale})")).cast("double")


# ---------------------------------------------------------------- q1
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-filter-aggregate. Filter + 2-col grouping
    push into the parquet scan; sums are partial-aggregated map-side."""
    li = table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(disc, 6).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------- q3
@register(
    "q3_top_revenue_orders",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders    ON c_custkey = o_custkey
    JOIN lineitem  ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k.
    Customer side is broadcast (small after the segment filter)."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------- q5
@register(
    "q5_region_nation_revenue",
    oracle="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM region
    JOIN nation    ON n_regionkey = r_regionkey
    JOIN customer  ON c_nationkey = n_nationkey
    JOIN orders    ON o_custkey   = c_custkey
    JOIN lineitem  ON l_orderkey  = o_orderkey
    JOIN supplier  ON s_suppkey   = l_suppkey AND s_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY r_name, n_name
    """,
)
def q5_region_nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape: snowflake join. All dimensions broadcast; the
    only shuffle is lineitem->orders and the final aggregation."""
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"))
    )


# ------------------------------------------------------- window rank
@register(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    )
    WHERE rk <= 3
    """,
)
def top3_orders_per_customer(spark, sf_dir):
    """Window-function surface (reference absent, SURVEY §2.8):
    top-k-per-group via row_number — single hash shuffle on custkey."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


# ------------------------------------------------------ semi join q4
@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """Semi-join surface: EXISTS -> left_semi join."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ------------------------------------------------------- anti join
@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark, sf_dir):
    """Anti-join surface: NOT EXISTS -> left_anti join."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ------------------------------------------------- agg variety
@register(
    "segment_stats",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_bal,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def segment_stats(spark, sf_dir):
    """Aggregation library surface: count/distinct/sum/min/max/avg in
    one pass (avg as exact-sum / count for portability)."""
    cust = table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("c_nationkey").alias("n_nations"),
            dsum(F.col("c_acctbal"), 2).alias("sum_bal"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .withColumn("avg_bal", F.col("sum_bal") / F.col("n_customers"))
    )


# ------------------------------------------------- rollup
@register(
    "rollup_order_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_counts(spark, sf_dir):
    """Grouping-sets surface: ROLLUP with subtotal + grand-total rows."""
    orders = table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice"), 2).alias("total")
    )


# ------------------------------------------------- set ops
@register(
    "high_value_active_custkeys",
    oracle="""
    (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
     INTERSECT
     SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def high_value_active_custkeys(spark, sf_dir):
    """Set-operation surface: INTERSECT + EXCEPT."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = orders.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    positive = cust.filter(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("custkey"))
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return big.intersect(positive).subtract(building)


# ------------------------------------------------- scalar functions
@register(
    "part_scalar_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_u,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           SUBSTR(p_type, 1, 5) AS type5,
           p_size * 2 AS size2,
           p_retailprice * 1.1 AS price_up,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_name, ' ', '_') AS name_snake
    FROM part
    WHERE p_size % 2 = 0
    """,
)
def part_scalar_functions(spark, sf_dir):
    """Scalar string/math surface — per-row FP is deterministic, no
    rounding games needed. Exercises the Stream map/filter path."""
    part = Stream.from_parquet(spark, f"{sf_dir}/part.parquet")
    out = part.filter(F.col("p_size") % 2 == 0).map(
        {
            "brand_u": F.upper("p_brand"),
            "name_len": F.length("p_name").cast("long"),
            "type5": F.substring("p_type", 1, 5),
            "size2": F.col("p_size") * 2,
            "price_up": F.col("p_retailprice") * 1.1,
            "brand_type": F.concat_ws(":", "p_brand", "p_type"),
            "name_snake": F.regexp_replace("p_name", " ", "_"),
        }
    )
    return out.df.select(
        "p_partkey", "brand_u", "name_len", "type5", "size2", "price_up", "brand_type", "name_snake"
    )


# ------------------------------------------------- date functions
@register(
    "order_date_parts",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
           CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1, 2
    """,
)
def order_date_parts(spark, sf_dir):
    """Date-function surface: extract + group by year/quarter."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.withColumns(
            {
                "yr": F.year("o_orderdate").cast("long"),
                "qtr": F.quarter("o_orderdate").cast("long"),
            }
        )
        .groupBy("yr", "qtr")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice"), 2).alias("total"))
    )


# ------------------------------------------------- flatten/explode
@register(
    "explode_part_name_words",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
    GROUP BY word
    """,
)
def explode_part_name_words(spark, sf_dir):
    """flatten operator parity (reference flatten.rs:46-73): explode an
    array; here word counts over exploded names via the Stream API."""
    part = Stream.from_parquet(spark, f"{sf_dir}/part.parquet")
    out = (
        part.map({"words": F.split(F.col("p_name"), " ")})
        .flatten("words", "word")
        .key_by("word")
        .agg({"n": F.count(F.lit(1))})
    )
    return out.df


# ------------------------------------------------- global top-k sort
@register(
    "top20_lineitems_by_price",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
)
def top20_lineitems_by_price(spark, sf_dir):
    """Global sort+limit surface: Spark does a per-partition top-k then
    merges on the driver — no full sort shuffle for LIMIT queries."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(20)
    )


# ------------------------------------------------- running stateful agg
@register(
    "events_running_totals",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(28,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_n
    FROM events
    """,
)
def events_running_totals(spark, sf_dir):
    """stateful_map parity (reference stateful_map.rs:126-156 running
    sums): per-key ordered fold as native window aggregates — the
    vectorized tier of operators/stateful.py."""
    ev = Stream.from_parquet(spark, f"{sf_dir}/events.parquet").key_by("user_id")
    out = ev.running_agg(
        order_by=["ts", "event_id"],
        aggs={
            "run_sum": F.sum(F.col("value").cast("decimal(28,2)")),
            "run_n": F.count(F.lit(1)),
        },
    )
    return out.df.select(
        "event_id",
        "user_id",
        F.col("run_sum").cast("double").alias("run_sum"),
        F.col("run_n").alias("run_n"),
    )


# ------------------------------------------------- sessionization
@register(
    "event_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      FROM flagged
    )
    SELECT user_id, sess_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sess_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM numbered
    GROUP BY user_id, sess_id
    """,
)
def event_sessions(spark, sf_dir):
    """Sessionization (ttl_map/session-window analog, reference
    ttl_map.rs): gap-based sessions via lag + cumulative sum — one
    shuffle on user_id shared by both window functions and the final
    aggregation."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_sess",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800000000), F.lit(1)).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn("sess_id", F.sum("new_sess").over(wrun))
    return numbered.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 2).alias("sess_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


# ------------------------------------------------- tumbling window
@register(
    "hourly_event_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def hourly_event_rollup(spark, sf_dir):
    """Tumbling-window operator (operators/windows.py) in batch mode —
    same F.window() construct runs unchanged under Structured
    Streaming (SURVEY §2.5)."""
    ev = table(spark, sf_dir, "events")
    out = windows.tumbling(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        {"n": F.count(F.lit(1)), "total": dsum(F.col("value"), 2)},
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total",
    )


# ------------------------------------------------- pivot-style counts
@register(
    "user_event_type_matrix",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS n_click,
           COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS n_view,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS n_signup,
           COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS n_error
    FROM events
    GROUP BY user_id
    """,
)
def user_event_type_matrix(spark, sf_dir):
    """Pivot surface as conditional aggregation (portable shape)."""
    ev = table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(f"n_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    return ev.groupBy("user_id").agg(*aggs)


# ------------------------------------------------- json extraction
@register(
    "event_props_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    GROUP BY event_type
    """,
)
def event_props_json(spark, sf_dir):
    """Semi-structured surface: JSON path extraction + filter + agg."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


# ------------------------------------------------- as-of join
@register(
    "events_asof_latest_order",
    oracle="""
    SELECT event_id, user_id, o_orderkey AS asof_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS asof_orderdate
    FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    WHERE rn = 1
    """,
)
def events_asof_latest_order(spark, sf_dir):
    """As-of join operator (operators/asof.py): for each event, the
    most recent order of that user at event time. Fact-to-fact shape:
    one sort-shuffle of |L|+|R| rows, zero row expansion, fully
    codegen (46 s -> ~2 s at sf1 against an equi-join + struct-max
    plan, which expands each event by every earlier order)."""
    ev = table(spark, sf_dir, "events")
    orders = table(spark, sf_dir, "orders")
    out = asof.as_of_join(
        ev.select("event_id", "user_id", "ts"),
        orders.select(
            F.col("o_custkey").alias("user_id"), F.col("o_orderdate"), F.col("o_orderkey")
        ),
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    )
    return out.filter(F.col("o_orderkey").isNotNull()).select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("asof_orderdate"),
    )


# ------------------------------------------------ salted skew agg
@register(
    "events_value_by_type_salted",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MAX(value), 2) AS mx
    FROM events GROUP BY event_type
    """,
)
def events_value_by_type_salted(spark, sf_dir):
    """Skew-safe aggregation in the gate: event_type has only 5 values
    (~20k rows each at sf0.1) — exactly the hot-key shape where a
    plain groupBy funnels each key through one reducer. salted_agg
    (operators/keyed.py) fans each key over 16 salts and merges
    partials; the result must equal the plain GROUP BY, which the
    oracle checks. Decimal sums keep the two-stage merge exact."""
    from ..operators.keyed import salted_agg

    ev = table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "total_dec": ("sum", F.col("value").cast("decimal(28,2)")),
            "n": ("count", F.col("value")),
            "mx_raw": ("max", F.col("value")),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("total_dec").cast("double").alias("total_value"),
        "n",
        F.round("mx_raw", 2).alias("mx"),
    )


# ------------------------------------------------ sliding windows
@register(
    "sliding_event_counts",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) - INTERVAL 90 MINUTE AS lo, max(ts) AS hi FROM events
    ), slots AS (
      SELECT unnest(generate_series((SELECT lo FROM bounds), (SELECT hi FROM bounds),
                                    INTERVAL 30 MINUTE)) AS slot
    )
    SELECT strftime(slot, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM slots JOIN events ON ts >= slot AND ts < slot + INTERVAL 2 HOUR
    GROUP BY slot
    """,
)
def sliding_event_counts(spark, sf_dir):
    """SLIDING windows (2h size / 30min slide): each event lands in 4
    overlapping windows — Spark's window() generates the per-event
    window list JVM-side; the oracle reproduces it with a slot
    range-join. Only non-empty windows appear in both."""
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy(F.window("ts", "2 hours", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return g.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
    )


# ------------------------------------------------ inspect passthrough
@register(
    "inspect_passthrough_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
    FROM lineitem WHERE l_returnflag = 'A' AND l_quantity >= 45
    """,
)
def inspect_passthrough_lineitem(spark, sf_dir):
    """`inspect` parity: a metrics observer must be a pure
    pass-through. The observed aggregates land in QueryExecution
    metrics (df.observe), and the data itself is byte-identical to
    the uninstrumented query — which the oracle verifies."""
    from ..operators.stateless import inspect

    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "A") & (F.col("l_quantity") >= 45)
    )
    observed = inspect(
        li, "hot_lineitems", F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("qty")
    )
    return observed.select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("l_extendedprice")
    )


# ------------------------------------------------ range (interval) join
@register(
    "events_purchase_window_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL 4 HOUR
     AND e.ts < p.ts
    GROUP BY p.event_id
    """,
)
def events_purchase_window_join(spark, sf_dir):
    """Range-join operator (operators/rangejoin.py): attribution —
    each purchase defines a per-user lookback window
    [purchase_ts - 4h, purchase_ts); count / sum every event of that
    user inside the window. Keyed, no bin_width -> SortMergeJoin on
    the user key with the range predicate as a codegen'd join filter;
    the bin join is equality-pinned against this one in
    tests/test_rangejoin.py."""
    from ..operators.rangejoin import range_join

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    windows = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            (F.col("ts") - F.expr("INTERVAL 4 HOUR")).alias("win_start"),
            F.col("ts").alias("win_end"),
        )
    )
    pairs = range_join(
        ev, windows, left_point="ts", right_start="win_start", right_end="win_end",
        keys=["user_id"],
    )
    return pairs.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )


# ------------------------------------------------ hypertable rollup
@register(
    "event_hypertable_rollup",
    oracle="""
    WITH p AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS sv,
             MAX(value) AS mx
      FROM events GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type, CAST(n AS BIGINT) AS n,
           CAST(sv AS DOUBLE) AS sum_value, round(mx, 2) AS max_value
    FROM p
    UNION ALL
    SELECT 'day', strftime(date_trunc('day', bucket), '%Y-%m-%d %H:%M:%S'),
           event_type, CAST(SUM(n) AS BIGINT),
           CAST(SUM(sv) AS DOUBLE), round(MAX(mx), 2)
    FROM p GROUP BY 2, 3
    UNION ALL
    SELECT 'week', strftime(date_trunc('week', bucket), '%Y-%m-%d %H:%M:%S'),
           event_type, CAST(SUM(n) AS BIGINT),
           CAST(SUM(sv) AS DOUBLE), round(MAX(mx), 2)
    FROM p GROUP BY 2, 3
    """,
)
def event_hypertable_rollup(spark, sf_dir):
    """Hypertable-style multi-grain rollup (operators/windows.py
    hypertable_rollup): hour partials computed in ONE shuffle of the
    raw events; day and week derive from those partials (exchange
    reuse plan-asserted in tests/test_rangejoin.py), never rescanning
    raw rows — the continuous-aggregate decomposition that holds at
    100 TB when the partials are persisted bucketed. The oracle
    mirrors the decomposition (partials CTE) so both engines compute
    identical exact decimal sums."""
    from ..operators.windows import hypertable_rollup

    ev = table(spark, sf_dir, "events")
    out = hypertable_rollup(
        ev,
        "ts",
        keys=["event_type"],
        aggs={
            "n": ("count", F.lit(1)),
            "sv": ("sum", F.col("value").cast("decimal(18,6)")),
            "mx": ("max", F.col("value")),
        },
        grains=("hour", "day", "week"),
    )
    return out.select(
        "grain",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sv").cast("double").alias("sum_value"),
        F.round("mx", 2).alias("max_value"),
    )


@register(
    "event_value_quantile_rollup",
    oracle="""
    WITH s AS (
      SELECT event_type, date_trunc('day', ts) AS bucket,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), b AS (
      SELECT event_type, bucket,
             CASE WHEN c < 0 THEN -1
                  WHEN c >= 60000 THEN 600
                  ELSE c // 100 END AS bin
      FROM s
    ), h AS (
      SELECT event_type, bucket, bin, COUNT(*) AS n
      FROM b GROUP BY 1, 2, 3
    ), c AS (
      SELECT event_type, bucket, bin,
             SUM(n) OVER (PARTITION BY event_type, bucket) AS total,
             SUM(n) OVER (PARTITION BY event_type, bucket
                          ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      FROM h
    ), q(qn, qd, q) AS (VALUES (1, 2, 0.5), (19, 20, 0.95), (99, 100, 0.99))
    SELECT event_type,
           strftime(bucket, '%Y-%m-%d') AS day,
           q.q AS q,
           (MIN(CASE WHEN cum >= (q.qn * total + q.qd - 1) // q.qd
                     THEN bin END) + 1) * 100 / 100.0 AS est_upper
    FROM c, q
    GROUP BY 1, 2, 3
    """,
)
def event_value_quantile_rollup(spark, sf_dir):
    """MERGEABLE quantiles (operators/histogram.py, round 5): daily
    p50/p95/p99 of event value from integer-cent binned-histogram
    partials — bin assignment is integer division and rank targets are
    rational arithmetic, so the DuckDB oracle reproduces every chosen
    bin bit-for-bit (the decomposable-percentile answer at 100 TB:
    histogram partials roll up by count-sum through hypertable_rollup
    / persist_stage where exact percentile partials cannot merge;
    composition pinned in tests/test_histogram.py). est_upper = the
    chosen bin's upper edge in dollars; the discrete ceil(q*n)-rank
    statistic lies within one bin (1.00) below it."""
    from ..operators.histogram import histogram, linear_bin, quantile_bins

    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hist = histogram(
        ev.withColumn("bucket", F.date_trunc("day", "ts")),
        ["event_type", "bucket"],
        linear_bin(cents, 0, 60_000, 600),
    )
    qb = quantile_bins(hist, ["event_type", "bucket"], [0.5, 0.95, 0.99])
    return qb.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "q",
        ((F.col("qbin") + 1) * 100 / F.lit(100.0)).alias("est_upper"),
    )


@register("event_hypertable_distinct")  # estimates are engine-specific
def event_hypertable_distinct(spark, sf_dir):
    """Distinct users per (grain, bucket, event_type) via MERGEABLE
    DataSketches HLL sketches (operators/windows.py 'approx_distinct'
    kind, round 5): the only distinct count that rolls up — hour
    sketches union into day/week with zero raw rescans, same
    continuous-aggregate decomposition as the exact kinds. No SQL
    oracle: DuckDB's approx_count_distinct is a different HLL
    implementation with different estimates, so the driver check is
    rows-only; accuracy vs exact COUNT(DISTINCT) (<=5% at every grain)
    and estimate-identity through persisted binary partials are pinned
    in tests/test_rangejoin.py."""
    from ..operators.windows import hypertable_rollup

    ev = table(spark, sf_dir, "events")
    out = hypertable_rollup(
        ev,
        "ts",
        keys=["event_type"],
        aggs={"users": ("approx_distinct", F.col("user_id")),
              "n": ("count", F.lit(1))},
        grains=("hour", "day", "week"),
    )
    return out.select(
        "grain",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        F.col("users").cast("long").alias("users"),
        F.col("n").cast("long").alias("n"),
    )


# ------------------------------------------------ funnel (CEP-lite)
@register(
    "event_funnel_s_c_p",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e
      JOIN s2 ON s2.user_id = e.user_id
      JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s1.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id)
    SELECT 1 AS step_idx, 'signup' AS step,
           (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
    """,
)
def event_funnel_s_c_p(spark, sf_dir):
    """Funnel operator (operators/funnel.py): users completing
    signup -> click -> purchase in strict timestamp order within 7
    days of their first signup. The oracle is the min()-chained SQL
    formulation — three joins and three aggregations — while the
    operator does ONE shuffle on user and a codegen'd higher-order
    fold; identical counts prove the fold's chaining semantics."""
    from ..operators.funnel import funnel_counts

    ev = table(spark, sf_dir, "events")
    return funnel_counts(
        ev,
        "user_id",
        "ts",
        [
            ("signup", F.col("event_type") == "signup"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        within="7 days",
    )


# ------------------------------------------------ SCD2 history
@register(
    "customer_priority_scd2",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
             LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders),
    changes AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority
      FROM ordered WHERE prev IS DISTINCT FROM o_orderpriority),
    final AS (
      SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS valid_to
      FROM changes)
    SELECT o_custkey, o_orderpriority,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           COALESCE(strftime(valid_to, '%Y-%m-%d'), 'current') AS valid_to,
           CAST(valid_to IS NULL AS BIGINT) AS is_current
    FROM final
    """,
)
def customer_priority_scd2(spark, sf_dir):
    """SCD2 operator (operators/scd.py): each customer's order-
    priority history as type-2 dimension rows — consecutive orders
    with the same priority open no new interval; valid_to chains to
    the next change (half-open, gap-free). The oracle is the
    two-window SQL formulation; the operator computes both window
    passes over ONE shuffle+sort on the key."""
    from ..operators.scd import scd2_history

    orders = table(spark, sf_dir, "orders")
    hist = scd2_history(
        orders,
        key="o_custkey",
        ts="o_orderdate",
        attrs=["o_orderpriority"],
        tiebreak="o_orderkey",
    )
    return hist.select(
        "o_custkey",
        "o_orderpriority",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format("valid_to", "yyyy-MM-dd"), F.lit("current")).alias(
            "valid_to"
        ),
        F.col("is_current").cast("long").alias("is_current"),
    )


@register(
    "events_user_state_lookup",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    changes AS (
      SELECT user_id, ts, event_id, event_type
      FROM ordered WHERE prev IS DISTINCT FROM event_type),
    hist AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM changes),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           h.state
    FROM purchases p
    LEFT JOIN hist h
      ON h.user_id = p.user_id
     AND p.ts >= h.valid_from
     AND (h.valid_to IS NULL OR p.ts < h.valid_to)
    """,
)
def events_user_state_lookup(spark, sf_dir):
    """POINT-IN-TIME lookup against an SCD2 dimension (operators/
    scd.py scd2_lookup, round 5 — the read side the SCD2 docstring
    promises): every purchase joins the user-state interval containing
    its timestamp (drop_unchanged means the state can come from an
    EARLIER event, not the purchase itself). Equi-join on the user key
    with the containment predicate as join residual — SMJ, no
    nested-loop; the oracle replays the interval-containment LEFT JOIN
    in SQL."""
    from ..operators.scd import scd2_history, scd2_lookup

    ev = table(spark, sf_dir, "events")
    dim = scd2_history(
        ev, key="user_id", ts="ts", attrs=["event_type"], tiebreak="event_id"
    ).select(
        "user_id", F.col("event_type").alias("state"), "valid_from", "valid_to"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = scd2_lookup(purchases, dim, key="user_id", ts="ts")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "state",
    )


# ------------------------------------------------ unpivot / melt
@register(
    "lineitem_measures_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, m AS measure, round(v, 2) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS m, l_quantity AS v
      FROM lineitem WHERE l_quantity >= 49
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem WHERE l_quantity >= 49
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_quantity >= 49
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', l_tax
      FROM lineitem WHERE l_quantity >= 49
    ) t
    """,
)
def lineitem_measures_unpivot(spark, sf_dir):
    """Unpivot (melt) surface — the inverse of the pivot exercised by
    user_event_type_matrix: wide measure columns to (measure, value)
    rows via the native DataFrame.unpivot (a Generate/Expand node, no
    shuffle at all; the filter still pushes into the scan). Oracle is
    the portable UNION ALL formulation."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    # unpivot names variable columns after the source columns; map to
    # the oracle's measure labels
    label = (
        F.when(F.col("measure") == "l_quantity", "quantity")
        .when(F.col("measure") == "l_extendedprice", "extendedprice")
        .when(F.col("measure") == "l_discount", "discount")
        .otherwise("tax")
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        label.alias("measure"),
        F.round("value", 2).alias("value"),
    )


# ------------------------------------------------ forward as-of join
@register(
    "error_next_purchase_asof",
    oracle="""
    WITH err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    pur AS (
      SELECT event_id AS pid, user_id, ts AS pts FROM events
      WHERE event_type = 'purchase'),
    ranked AS (
      SELECT err.event_id, err.user_id, pur.pid, pur.pts,
             ROW_NUMBER() OVER (PARTITION BY err.event_id
                                ORDER BY pur.pts ASC, pur.pid ASC) AS rn
      FROM err LEFT JOIN pur
        ON pur.user_id = err.user_id AND pur.pts >= err.ts)
    SELECT event_id, user_id, pid AS next_purchase_id,
           strftime(pts, '%Y-%m-%d %H:%M:%S') AS next_purchase_ts
    FROM ranked WHERE rn = 1
    """,
)
def error_next_purchase_asof(spark, sf_dir):
    """FORWARD as-of join (operators/asof.py direction='forward'):
    for each error event, the same user's next purchase at-or-after
    it — ties on the purchase timestamp break to the SMALLEST id,
    the forward mirror of backward's largest. One sort-shuffle over
    both sides, descending scan. Unmatched
    errors keep null columns (left-join semantics)."""
    ev = table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    out = asof.as_of_join(
        err, pur, key="user_id", left_ts="ts", right_ts="pts",
        right_cols=["pid", "pts"], tiebreak="pid", direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("pid").alias("next_purchase_id"),
        F.date_format("pts", "yyyy-MM-dd HH:mm:ss").alias("next_purchase_ts"),
    )
