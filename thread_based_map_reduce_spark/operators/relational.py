"""Relational operator coverage (SURVEY.md §2.2's engine-plan column).

The reference expresses all of these only as client code inside opaque
map/reduce callbacks (``MapReduceClient.h:57-64``): filters are maps that
emit 0 pairs, joins are reduce-side tag-crossing, aggregations are reduce
loops (its sample does exactly that: ``Sample Client/SampleClient.cpp``).
Here every one is a declarative DataFrame plan so Catalyst gets pushdown,
pruning, join selection and whole-stage codegen — the scale path the
reference cannot take.

Each query is registered with a column-name-identical DuckDB oracle; see
catalog.py header for the determinism conventions (rounding, casts,
tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.textfns import chars
from ..plans.catalog import register
from ..sources.registry import load_table, load_tables


# ---------------------------------------------------------------------------
# Flagship: the reference's one shipped query (char frequency,
# SampleClient.cpp:34-65), generalized from 3 hard-coded strings to the
# documents table. source → flatMap (R2) → group (R7) → agg (C2) → sink (R9).
# ---------------------------------------------------------------------------


@register(
    "charcount",
    oracle="""
        SELECT ch, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, '')) AS ch FROM documents)
        WHERE ch <> ''
        GROUP BY ch
    """,
    doc="Flagship char-frequency (SampleClient.cpp:34-65) over documents.text",
    tags=("parity", "flagship"),
)
def q_charcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(chars("text")).alias("ch"))
        .groupBy("ch")
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Aggregation: TPC-H Q1 shape — the canonical scan→filter→group→multi-agg.
# Map-side partial aggregation is automatic (the reference's client had to
# hand-roll per-string pre-aggregation to get the same effect, C1).
# ---------------------------------------------------------------------------


@register(
    "tpch_q1",
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            round(sum(l_quantity), 2) AS sum_qty,
            round(sum(l_extendedprice), 2) AS sum_base_price,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
            round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
            round(avg(l_quantity), 4) AS avg_qty,
            round(avg(l_extendedprice), 4) AS avg_price,
            round(avg(l_discount), 4) AS avg_disc,
            count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1: pricing summary report over lineitem",
    tags=("agg",),
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Projection & filter (map emitting transformed pairs / 0 pairs in the
# reference's paradigm). Both push into the parquet scan.
# ---------------------------------------------------------------------------


@register(
    "projection",
    oracle="""
        SELECT
            p_partkey,
            upper(p_brand) AS brand_uc,
            p_type || '/' || p_brand AS type_brand,
            round(p_retailprice * 1.17, 4) AS price_with_tax,
            CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_class
        FROM part
    """,
    doc="Computed projection over part (column pruning: 5-col read of a 6-col table)",
    tags=("projection",),
)
def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.concat_ws("/", "p_type", "p_brand").alias("type_brand"),
        # 4 decimals, not 2: a 2-dec price × 2-dec rate has ≤4 decimals, so
        # rounding AT 4 never sits on a decimal midpoint — the engines'
        # different rounding paths (BigDecimal-of-double vs scaled round)
        # would disagree on exact midpoints at 2.
        F.round(F.col("p_retailprice") * 1.17, 4).alias("price_with_tax"),
        F.when(F.col("p_size") < 10, "S")
        .when(F.col("p_size") < 30, "M")
        .otherwise("L")
        .alias("size_class"),
    )


@register(
    "filter_pushdown",
    oracle="""
        SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        FROM lineitem
        WHERE l_quantity BETWEEN 10 AND 20
          AND l_discount > 0.05
          AND l_returnflag = 'R'
    """,
    doc="Conjunctive predicates pushed to the parquet scan (PushedFilters)",
    tags=("filter",),
)
def q_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        F.col("l_quantity").between(10, 20)
        & (F.col("l_discount") > 0.05)
        & (F.col("l_returnflag") == "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
    )


# ---------------------------------------------------------------------------
# Joins. The reference can only do reduce-side equi-joins (tag + group +
# cross); we get broadcast/sort-merge/shuffle-hash picked by Catalyst, all
# join types, and non-equi conditions.
# ---------------------------------------------------------------------------


@register(
    "join_star_revenue",
    oracle="""
        SELECT
            r.r_name AS region,
            n.n_name AS nation,
            round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
            count(*) AS n_lines
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY r.r_name, n.n_name
    """,
    doc="Star join: fact lineitem with all dims broadcast (no fact-side shuffle before agg)",
    tags=("join",),
)
def q_join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    # Dims are broadcast explicitly: at 100 TB the fact table must never
    # shuffle for these joins; only the final groupBy exchanges (partial
    # aggregation shrinks it to |region x nation| per task first).
    return (
        t["lineitem"]
        .join(t["orders"].where(F.col("o_orderstatus") == "F"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
        SELECT
            c.c_custkey,
            count(o.o_orderkey) AS n_orders,
            round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spent
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'O'
        GROUP BY c.c_custkey
    """,
    doc="Left outer join preserving customers with no matching orders",
    tags=("join",),
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    return (
        t["customer"]
        .join(
            t["orders"].where(F.col("o_orderstatus") == "O"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "join_full_outer",
    oracle="""
        WITH cust AS (
            SELECT c_nationkey AS nationkey, count(*) AS n_customers
            FROM customer GROUP BY c_nationkey
        ), supp AS (
            SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
            FROM supplier GROUP BY s_nationkey
        )
        SELECT
            coalesce(cust.nationkey, supp.nationkey) AS nationkey,
            coalesce(n_customers, 0) AS n_customers,
            coalesce(n_suppliers, 0) AS n_suppliers
        FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
    """,
    doc="Full outer join of per-nation customer vs supplier counts",
    tags=("join",),
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "supplier")
    cust = t["customer"].groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_customers")
    )
    supp = t["supplier"].groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_suppliers")
    )
    joined = cust.join(supp, "nationkey", "full")
    return joined.select(
        F.col("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > 400000
        )
    """,
    doc="Left-semi join (EXISTS): customers with at least one big order",
    tags=("join",),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    big = t["orders"].where(F.col("o_totalprice") > 400000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "join_anti",
    oracle="""
        SELECT o_orderkey, o_orderstatus
        FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        )
    """,
    doc="Left-anti join (NOT EXISTS): orders with no lineitems",
    tags=("join",),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    return (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Window functions — not expressible in one reference round at all
# (SURVEY §2.2: no ordered per-group iteration contract).
# ---------------------------------------------------------------------------


@register(
    "window_topk_per_group",
    oracle="""
        SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS total, rnk
        FROM (
            SELECT
                o_custkey AS c_custkey, o_orderkey, o_totalprice,
                row_number() OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey
                ) AS rnk
            FROM orders
        )
        WHERE rnk <= 3
    """,
    doc="Top-3 orders per customer: Window.partitionBy + row_number (unique tiebreak)",
    tags=("window",),
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
        .select("c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rnk")
    )


@register(
    "window_running_sum",
    oracle="""
        SELECT
            event_id,
            user_id,
            round(sum(value) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ), 2) AS running_value
        FROM events
    """,
    doc="Running per-user sum over the event stream (deterministic frame order)",
    tags=("window",),
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


@register(
    "window_lag_gap",
    oracle="""
        SELECT
            event_id,
            user_id,
            epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
            ) AS gap_us
        FROM events
    """,
    doc="lag(): per-user inter-event gap in microseconds (sessionization primitive)",
    tags=("window",),
)
def q_window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return events.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Sort / top-k / limit.
# ---------------------------------------------------------------------------


@register(
    "topk_global",
    oracle="""
        SELECT o_orderkey, round(o_totalprice, 2) AS total
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    doc="Global top-10 by price (TakeOrderedAndProject — no full sort at scale)",
    tags=("sort",),
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# Set operations.
# ---------------------------------------------------------------------------


@register(
    "set_intersect",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="INTERSECT: customers holding both open and finished orders",
    tags=("setop",),
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    open_ = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    fin = orders.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return open_.intersect(fin)


@register(
    "set_except",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="EXCEPT: customers with pending but no finished orders",
    tags=("setop",),
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pend = orders.where(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("custkey"))
    fin = orders.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return pend.subtract(fin)


@register(
    "set_union_distinct",
    oracle="""
        SELECT custkey, count(*) AS n FROM (
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000
            UNION
            SELECT c_custkey FROM customer WHERE c_acctbal < 0
        ) GROUP BY custkey
    """,
    doc="UNION (distinct) of two key sets, re-aggregated",
    tags=("setop",),
)
def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    a = t["orders"].where(F.col("o_totalprice") > 450000).select(F.col("o_custkey").alias("custkey"))
    b = t["customer"].where(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("custkey"))
    return a.union(b).distinct().groupBy("custkey").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube / distinct / having / pivot.
# ---------------------------------------------------------------------------


@register(
    "rollup_qty",
    oracle="""
        SELECT
            coalesce(l_returnflag, 'ALL') AS returnflag,
            coalesce(l_linestatus, 'ALL') AS linestatus,
            round(sum(l_quantity), 2) AS sum_qty,
            count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP over (returnflag, linestatus) with subtotals and grand total",
    tags=("agg",),
)
def q_rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "cube_counts",
    oracle="""
        SELECT
            coalesce(o_orderstatus, 'ALL') AS status,
            coalesce(o_orderpriority, 'ALL') AS priority,
            count(*) AS n,
            round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over (status, priority)",
    tags=("agg",),
)
def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@register(
    "distinct_pairs",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    doc="DISTINCT projection",
    tags=("agg",),
)
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "having_filter",
    oracle="""
        SELECT o_custkey, count(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 12
    """,
    doc="GROUP BY + HAVING (post-aggregation filter)",
    tags=("agg",),
)
def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") >= 12)
    )


@register(
    "pivot_status",
    oracle="""
        SELECT
            l_returnflag AS returnflag,
            round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0), 2) AS qty_open,
            round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0), 2) AS qty_finished
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Pivot linestatus into columns (conditional aggregation form)",
    tags=("agg",),
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_when = lambda s: F.sum(F.when(F.col("l_linestatus") == s, F.col("l_quantity")))
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.round(F.coalesce(qty_when("O"), F.lit(0.0)), 2).alias("qty_open"),
        F.round(F.coalesce(qty_when("F"), F.lit(0.0)), 2).alias("qty_finished"),
    )


# ---------------------------------------------------------------------------
# Scalar function coverage (string / date / math / conditional / JSON).
# The reference never looks inside values (V2 has no interface,
# MapReduceClient.h:28-31) — all of this was client C++; here it's
# codegen'd JVM expressions.
# ---------------------------------------------------------------------------


@register(
    "scalar_string",
    oracle="""
        SELECT
            c_custkey,
            upper(c_name) AS name_uc,
            length(c_name) AS name_len,
            substr(c_name, 1, 8) AS name_prefix,
            replace(c_mktsegment, 'I', '!') AS seg_sub,
            c_mktsegment LIKE '%URE%' AS is_ure
        FROM customer
    """,
    doc="String functions: upper/length/substr/replace/like",
    tags=("scalar",),
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_uc"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("c_mktsegment"), F.lit("I"), F.lit("!")).alias("seg_sub"),
        F.col("c_mktsegment").like("%URE%").alias("is_ure"),
    )


@register(
    "scalar_date",
    oracle="""
        SELECT
            o_orderkey,
            CAST(year(o_orderdate) AS BIGINT) AS order_year,
            CAST(month(o_orderdate) AS BIGINT) AS order_month,
            CAST(dayofmonth(o_orderdate) AS BIGINT) AS order_day,
            strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
            strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month_start
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    """,
    doc="Date functions: year/month/day extraction, truncation, formatting",
    tags=("scalar",),
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")).select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month_start"),
    )


@register(
    "scalar_math",
    oracle="""
        SELECT
            o_orderkey,
            round(sqrt(o_totalprice), 6) AS sqrt_price,
            round(ln(o_totalprice), 6) AS ln_price,
            CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
            abs(CAST(o_orderkey AS DOUBLE) - 1000.0) AS key_dist,
            CAST(o_orderkey % 7 AS BIGINT) AS key_mod
        FROM orders
        WHERE o_orderkey <= 2000
    """,
    doc="Math functions: sqrt/ln/floor/abs/mod",
    tags=("scalar",),
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.round(F.sqrt("o_totalprice"), 6).alias("sqrt_price"),
        F.round(F.log("o_totalprice"), 6).alias("ln_price"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("price_k"),
        F.abs(F.col("o_orderkey").cast("double") - 1000.0).alias("key_dist"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod"),
    )


@register(
    "case_banding",
    oracle="""
        SELECT
            CASE
                WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 300000 THEN 'medium'
                ELSE 'large'
            END AS band,
            count(*) AS n,
            round(avg(o_totalprice), 4) AS avg_price
        FROM orders
        GROUP BY 1
    """,
    doc="CASE WHEN banding + aggregation",
    tags=("scalar",),
)
def q_case_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return o.groupBy(band.alias("band")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


@register(
    "json_extract",
    oracle="""
        SELECT
            event_type,
            count(*) AS n,
            CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
            round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
        FROM events
        GROUP BY event_type
    """,
    doc="JSON extraction from events.props (get_json_object) + aggregation",
    tags=("scalar", "json"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


@register(
    "collect_sorted",
    oracle="""
        SELECT
            c_nationkey,
            array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
        FROM customer
        GROUP BY c_nationkey
    """,
    doc="Deterministic collect: sorted distinct set aggregated to a csv string",
    tags=("agg",),
)
def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias("segments")
    )


# ---------------------------------------------------------------------------
# Subqueries.
# ---------------------------------------------------------------------------


@register(
    "subquery_scalar",
    oracle="""
        SELECT o_orderkey, round(o_totalprice, 2) AS total
        FROM orders
        WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
    """,
    doc="Scalar subquery: orders far above the global mean (broadcast the scalar)",
    tags=("subquery",),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    avg_df = o.agg(F.avg("o_totalprice").alias("_avg"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .where(F.col("o_totalprice") > 1.8 * F.col("_avg"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# Time-series joins the reference (and stock SQL engines) lack as builtins:
# as-of and range joins, composed from windows / equi-join + range filter.
# ---------------------------------------------------------------------------


@register(
    "asof_join_signup",
    oracle="""
        SELECT
            e.event_id,
            e.event_type,
            (SELECT max(epoch_us(s.ts)) FROM events s
             WHERE s.user_id = e.user_id
               AND s.ts <= e.ts
               AND s.event_type = 'signup') AS asof_signup_us
        FROM events e
        WHERE e.event_type = 'purchase'
    """,
    doc="As-of join: each purchase matched to the user's most recent signup "
    "(implemented as last-ignorenulls over a per-user window — one shuffle, no join)",
    tags=("asof", "window"),
)
def q_asof_join_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    signup_us = F.when(F.col("event_type") == "signup", F.unix_micros("ts"))
    return (
        e.withColumn("asof_signup_us", F.last(signup_us, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "event_type", "asof_signup_us")
    )


@register(
    "range_join_clicks",
    oracle="""
        SELECT
            e.event_id,
            count(c.event_id) AS clicks_before
        FROM events e
        LEFT JOIN events c
          ON c.user_id = e.user_id
         AND c.event_type = 'click'
         AND epoch_us(c.ts) >= epoch_us(e.ts) - 300000000
         AND epoch_us(c.ts) < epoch_us(e.ts)
        WHERE e.event_type = 'error'
        GROUP BY e.event_id
    """,
    doc="Range join: clicks by the same user in the 5 minutes before each error "
    "(equi-join on user + range predicate; partitions by user at scale)",
    tags=("range", "join"),
)
def q_range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("e_us")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    return (
        errors.join(
            clicks,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("c_us") >= F.col("e_us") - 300_000_000)
            & (F.col("c_us") < F.col("e_us")),
            "left",
        )
        .groupBy("event_id")
        .agg(F.count("c_event_id").alias("clicks_before"))
    )


# ---------------------------------------------------------------------------
# Event-time tumbling window (batch form; streaming/ has the readStream
# flavor of the same aggregation).
# ---------------------------------------------------------------------------


@register(
    "events_tumbling_hour",
    oracle="""
        SELECT
            CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start_s,
            event_type,
            count(*) AS n,
            round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour event-time window aggregation (batch twin of streaming/events.py)",
    tags=("window", "streaming"),
)
def q_events_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start_s"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
