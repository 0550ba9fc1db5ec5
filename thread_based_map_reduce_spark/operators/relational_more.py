"""Second wave of relational coverage: grouping sets, ranking-window
family, range frames, higher-order array functions, map columns,
correlated EXISTS, two TPC-H-shaped queries, a salted skew-safe
aggregation, and latest-row dedup.

All are Catalyst built-ins (SURVEY.md §2.2 "engine plan" column) — no
Python in the hot path. The salted aggregation and latest-row dedup are
the 100 TB patterns: two-phase agg that survives single-hot-key skew, and
the keep-latest compaction every CDC/event pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..functions.textfns import tokens
from ..plans.catalog import register
from ..sources.registry import load_table


@register(
    "grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS with grouping() indicators (beyond the "
    "rollup/cube queries: arbitrary set lists)",
    tags=("agg", "groupingsets"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
            F.grouping("l_linestatus").cast("bigint").alias("g_status"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@register(
    "window_rank_family",
    oracle="""
        SELECT o_orderkey,
               o_orderstatus,
               CAST(rank()       OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               CAST(ntile(4)     OVER w AS BIGINT) AS quartile,
               round(percent_rank() OVER w, 6) AS prnk,
               round(cume_dist()    OVER w, 6) AS cdist
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Ranking-window family: rank/dense_rank/ntile/percent_rank/cume_dist "
    "with a unique-key tiebreak so bucket edges are deterministic",
    tags=("window",),
)
def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "window_range_frame",
    oracle="""
        SELECT o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY epoch(o_orderdate)
                   RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
               ), 2) AS trailing_7d
        FROM orders
    """,
    doc="RANGE frame (value-based, not row-based): trailing-7-day revenue "
    "per status — ties share a frame so the result is order-deterministic",
    tags=("window", "rangeframe"),
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy(F.col("o_orderdate").cast("timestamp_ltz").cast("long"))
        .rangeBetween(-604800, 0)
    )
    return o.select(
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_7d"),
    )


@register(
    "array_hof",
    oracle="""
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks, t -> len(t) > 5)) AS BIGINT) AS n_long,
               CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS sum_len
        FROM (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents
        )
    """,
    doc="Higher-order array functions (transform/filter/aggregate lambdas) — "
    "stay JVM-side, no UDF",
    tags=("scalar", "array"),
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.length(t) > 5)).cast("bigint").alias("n_long"),
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        .cast("bigint")
        .alias("sum_len"),
    )


@register(
    "map_column",
    oracle="""
        SELECT doc_id,
               m['chars'][1] AS chars,
               m['tokens'][1] AS toks,
               CAST(cardinality(m) AS BIGINT) AS n_keys
        FROM (
            SELECT doc_id,
                   map(['chars', 'tokens'],
                       [n_chars, CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)]) AS m
            FROM documents
        )
    """,
    doc="MapType column: construct (map_from_arrays), point lookup "
    "(element_at), cardinality — DuckDB map extraction yields a list, hence "
    "the [1] index in the oracle",
    tags=("scalar", "map"),
)
def q_map_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("chars"), F.col("n_chars"),
        F.lit("tokens"), F.size(tokens("text")).cast("bigint"),
    )
    return docs.select(
        "doc_id",
        F.element_at(m, "chars").alias("chars"),
        F.element_at(m, "tokens").alias("toks"),
        F.size(m).cast("bigint").alias("n_keys"),
    )


@register(
    "exists_correlated",
    oracle="""
        SELECT o_orderkey, o_orderstatus
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48
        )
    """,
    doc="Correlated EXISTS subquery (decorrelates to a left-semi join with a "
    "compound condition)",
    tags=("subquery", "join"),
)
def q_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 48)
    return o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi").select(
        "o_orderkey", "o_orderstatus"
    )


@register(
    "tpch_q6_revenue",
    oracle="""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure scan-filter-aggregate; all four predicates "
    "reach the parquet reader (PushedFilters), zero shuffle beyond the "
    "single-row final agg",
    tags=("agg", "pushdown", "tpch"),
)
def q_tpch_q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "tpch_q3_toporders",
    oracle="""
        SELECT o_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(epoch(o_orderdate) AS BIGINT) AS orderdate_s,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate  > TIMESTAMP '1998-06-01'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    doc="TPC-H Q3 shape: broadcast dim filter + fact join + agg + "
    "rounded-revenue top-10 (round before ordering so cross-engine ulps "
    "cannot reorder near-ties; o_orderkey tiebreak)",
    tags=("join", "agg", "topk", "tpch"),
)
def q_tpch_q3_toporders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "o_orderkey",
            "revenue",
            F.col("o_orderdate").cast("timestamp_ltz").cast("long").alias("orderdate_s"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_region_revenue",
    oracle="""
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM region
        JOIN nation   ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey   = c_custkey
        JOIN lineitem ON l_orderkey  = o_orderkey
        JOIN supplier ON l_suppkey   = s_suppkey AND s_nationkey = c_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: 6-table join (region→nation→customer→orders→"
    "lineitem→supplier, customer and supplier co-national). Entity-scaled "
    "tables (region/nation/customer/supplier) broadcast; the two fact "
    "tables (orders, lineitem) meet in the one shuffle join.",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in
         ("region", "nation", "customer", "orders", "supplier", "lineitem")}
    dims = (
        t["region"].where(F.col("r_name") == "ASIA")
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .join(t["customer"], F.col("c_nationkey") == F.col("n_nationkey"))
    )
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "tpch_q21_waiting_orders",
    oracle="""
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM supplier
        JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
        JOIN orders    ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > TIMESTAMP '1998-01-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > TIMESTAMP '1998-01-01'
          )
        GROUP BY s_name
    """,
    doc="TPC-H Q21 shape: EXISTS + NOT EXISTS on the same fact (multi-"
    "supplier orders where only this supplier shipped late) — a semi join "
    "and an anti join chained on the same key",
    tags=("join", "agg", "subquery", "tpch"),
)
def q_tpch_q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    late = F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    l1 = li.where(late).select(
        F.col("l_orderkey").alias("k1"), F.col("l_suppkey").alias("sk1")
    )
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2"))
    l3 = li.where(late).select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3")
    )
    cand = (
        l1.join(o, F.col("k1") == F.col("o_orderkey"), "left_semi")
        .join(l2, (F.col("k1") == F.col("k2")) & (F.col("sk1") != F.col("sk2")), "left_semi")
        .join(l3, (F.col("k1") == F.col("k3")) & (F.col("sk1") != F.col("sk3")), "left_anti")
    )
    return (
        cand.join(F.broadcast(s), F.col("sk1") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "tpch_q22_idle_customers",
    oracle="""
        SELECT substr(c_name, 10, 2) AS cntry,
               CAST(count(*) AS BIGINT) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (
              SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0
        )
        AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
        GROUP BY 1
    """,
    doc="TPC-H Q22 shape: above-average balance + NOT EXISTS urgent orders "
    "(broadcast scalar average + anti join; the original 'no orders at "
    "all' predicate is vacuous on this data — every customer has orders — "
    "so the anti-join side is restricted to keep the query non-degenerate)",
    tags=("join", "agg", "subquery", "tpch"),
)
def q_tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.substring("c_name", 10, 2).alias("cntry"))
        .agg(F.count("*").alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
    )


@register(
    "sample_per_group",
    oracle=f"""
        SELECT doc_id, lang
        FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {portable_hash64_sql("CAST(doc_id AS VARCHAR)")}, doc_id
                   ) AS rn
            FROM documents
        )
        WHERE rn <= 3
    """,
    doc="Deterministic per-group sampling: 3 docs per lang by hash order — "
    "reproducible stratified sampling (hash order ≈ uniform-random order, "
    "but stable across engines and runs)",
    tags=("sampling", "window"),
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        portable_hash64(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "lang")
    )


@register(
    "tpch_q17_small_quantity",
    oracle="""
        SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem l
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#13'
          AND l_quantity < (
              SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = l.l_partkey
          )
    """,
    doc="TPC-H Q17 shape: rows under half their part's average quantity "
    "(correlated average decorrelated to a per-part aggregate join; the "
    "per-part averages table is broadcast-sized)",
    tags=("join", "agg", "subquery", "tpch"),
)
def q_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    avgs = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avgs), F.col("l_partkey") == F.col("pk"))
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count("*").alias("n"),
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
        SELECT c_custkey, o_orderkey,
               round(o_totalprice, 2) AS totalprice,
               round(sum(l_quantity), 2) AS total_qty
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 180
        )
        GROUP BY c_custkey, o_orderkey, o_totalprice
    """,
    doc="TPC-H Q18 shape: orders whose total quantity exceeds a threshold "
    "(IN over a grouped HAVING subquery → semi join against the "
    "re-aggregated fact)",
    tags=("join", "agg", "subquery", "tpch"),
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 180)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "bk"), F.col("l_orderkey") == F.col("bk"), "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
    )


@register(
    "funnel_signup_purchase",
    oracle="""
        WITH first_signup AS (
            SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS signup_us
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id
        )
        SELECT f.user_id,
               f.signup_us,
               CAST(count(CASE WHEN e.event_type = 'purchase'
                                AND epoch_us(e.ts) > f.signup_us
                               THEN 1 END) AS BIGINT) AS purchases_after
        FROM first_signup f
        LEFT JOIN events e ON e.user_id = f.user_id
        GROUP BY f.user_id, f.signup_us
    """,
    doc="Funnel analysis: first signup per user → purchases strictly after "
    "it (one shuffle by user; at scale the first-touch table is an "
    "incrementally maintained aggregate)",
    tags=("events", "agg", "join"),
)
def q_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_signup = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("signup_us"))
    )
    return (
        first_signup.join(
            e.select("user_id", F.col("event_type").alias("et"), F.unix_micros("ts").alias("e_us")),
            "user_id",
            "left",
        )
        .groupBy("user_id", "signup_us")
        .agg(
            F.count(
                F.when((F.col("et") == "purchase") & (F.col("e_us") > F.col("signup_us")), 1)
            ).alias("purchases_after")
        )
    )


@register(
    "tpch_q10_returned_customers",
    oracle="""
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN nation   ON n_nationkey = c_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    doc="TPC-H Q10 shape: top-20 customers by returned-item revenue "
    "(broadcast customer+nation, fact join on orders, rounded-revenue "
    "ordering with custkey tiebreak)",
    tags=("join", "agg", "topk", "tpch"),
)
def q_tpch_q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cd = c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey")).select(
        "c_custkey", "c_name", "n_name"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cd), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q19_disjunctive",
    oracle="""
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10)
           OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 25 AND l_quantity >= 20)
           OR (p_brand = 'Brand#7'  AND p_size BETWEEN 25 AND 50 AND l_quantity >= 30)
    """,
    doc="TPC-H Q19 shape: disjunction of conjunctive predicates spanning both "
    "join sides — the optimizer must keep the p_partkey equi-key for the "
    "(broadcast) join and evaluate the OR as a post-join filter, never fall "
    "back to a nested loop",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(10, 25) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(25, 50) & (F.col("l_quantity") >= 30))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "string_functions_2",
    oracle="""
        SELECT p_partkey,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
               translate(p_brand, '#', '-') AS brand_dashed,
               reverse(p_name) AS name_rev,
               CAST(levenshtein(p_brand, 'Brand#13') AS BIGINT) AS dist_to_b13,
               repeat(substr(p_type, 1, 2), 2) AS type_echo
        FROM part
        WHERE p_partkey < 100
    """,
    doc="String function wave 2: lpad / translate / reverse / levenshtein / "
    "repeat (edit distance is the classic fuzzy-match primitive)",
    tags=("scalar", "text"),
)
def q_string_functions_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 100)
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.reverse("p_name").alias("name_rev"),
        F.levenshtein("p_brand", F.lit("Brand#13")).cast("bigint").alias("dist_to_b13"),
        F.repeat(F.substring("p_type", 1, 2), 2).alias("type_echo"),
    )


@register(
    "tpch_q4_priority_check",
    oracle="""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-10-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS-filtered priority counts (semi join with a "
    "cross-table comparison in the join condition, then a tiny agg)",
    tags=("join", "agg", "subquery", "tpch"),
)
def q_tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q12_shipmode",
    oracle="""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape: fact-fact join + CASE-bucketed priority counts "
    "(conditional aggregation over the join)",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo_share",
    oracle="""
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-06-01'
          AND l_shipdate <  TIMESTAMP '1997-09-01'
    """,
    doc="TPC-H Q14 shape: broadcast dim join + conditional revenue share "
    "(single-row ratio aggregate; ratio computed before rounding on both "
    "engines)",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-09-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0)
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_share_pct"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "agg_salted_skew",
    oracle="""
        SELECT l_returnflag,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Skew-safe two-phase aggregation: 3 hot keys are salted 16 ways, "
    "partially aggregated, then re-reduced — identical result to the plain "
    "GROUP BY (the oracle), but no single reducer sees a whole hot key. "
    "(Spark's hash-agg already does map-side partials; the explicit salt is "
    "the pattern for when the *shuffled* key is still too hot, e.g. "
    "high-cardinality payloads per key at 100 TB.)",
    tags=("agg", "skew", "scale"),
)
def q_agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    salted = li.withColumn("_salt", F.pmod(F.crc32(F.col("l_orderkey").cast("string")), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.sum(rev).alias("_rev"), F.count("*").alias("_n")
    )
    return partial.groupBy("l_returnflag").agg(
        F.round(F.sum("_rev"), 2).alias("revenue"),
        F.sum("_n").alias("n"),
    )


@register(
    "setop_all_variants",
    oracle="""
        WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        SELECT 'intersect_all' AS op, o_custkey
        FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
        UNION ALL
        SELECT 'except_all' AS op, o_custkey
        FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
    """,
    doc="Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL preserve "
    "multiplicity, unlike the distinct-flavored set_intersect/set_except)",
    tags=("setop",),
)
def q_setop_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    ia = a.intersectAll(b).select(F.lit("intersect_all").alias("op"), "o_custkey")
    ea = a.exceptAll(b).select(F.lit("except_all").alias("op"), "o_custkey")
    return ia.unionAll(ea)


@register(
    "unpivot_part_metrics",
    oracle="""
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
        UNION ALL
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    """,
    doc="Unpivot (wide → long; inverse of the pivot_status query) — melt two "
    "part metrics into (metric, val) rows",
    tags=("projection", "unpivot"),
)
def q_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    )
    return p.unpivot(["p_partkey"], ["p_retailprice", "p_size"], "metric", "val")


@register(
    "median_by_status",
    oracle="""
        SELECT o_orderstatus,
               round(median(o_totalprice), 4) AS med_price,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="median() aggregate (exact interpolated; ≡ DuckDB median ≡ "
    "quantile_cont 0.5) — the percentile family's direct API",
    tags=("agg", "stats"),
)
def q_median_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.median("o_totalprice"), 4).alias("med_price"),
        F.count("*").alias("n"),
    )


@register(
    "window_value_functions",
    oracle="""
        SELECT o_orderkey,
               o_orderstatus,
               round(first_value(o_totalprice) OVER w, 2) AS first_price,
               round(last_value(o_totalprice)  OVER w, 2) AS last_price,
               round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
        FROM orders
        WINDOW w AS (
            PARTITION BY o_orderstatus ORDER BY o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
    """,
    doc="Window value functions (first/last/nth over a full frame) with a "
    "unique ordering key",
    tags=("window",),
)
def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_price"),
    )


@register(
    "json_map_explode",
    oracle="""
        SELECT k AS key,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(json_extract(props, '$.' || k) AS BIGINT)) AS BIGINT) AS total
        FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)
        GROUP BY k
    """,
    doc="JSON → MapType → explode: parse events.props as map<string,bigint>, "
    "explode entries, aggregate per key (semi-structured fan-out without a UDF)",
    tags=("scalar", "json", "explode"),
)
def q_json_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        e.select(F.explode(m).alias("key", "val"))
        .groupBy("key")
        .agg(F.count("*").alias("n"), F.sum("val").alias("total"))
    )


@register(
    "session_window_agg",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 600000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM flagged
        )
        SELECT user_id,
               CAST(min(epoch_us(ts)) AS BIGINT) AS session_start_us,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM sess
        GROUP BY user_id, sid
    """,
    doc="Built-in session_window (10-min gap) aggregation — the native "
    "session operator (vs the two-window-pass 'sessionize' query); merges "
    "events whose [ts, ts+gap) intervals overlap, so an exactly-600s gap "
    "starts a new session (oracle uses >=). Streaming twin shares this "
    "operator via readStream.",
    tags=("window", "sessionize", "streaming"),
)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
            "total_value",
        )
    )


@register(
    "argmax_aggregates",
    oracle="""
        SELECT o_orderstatus,
               CAST(arg_max(o_orderkey, o_totalprice) AS BIGINT) AS priciest_order,
               CAST(arg_min(o_orderkey, o_totalprice) AS BIGINT) AS cheapest_order,
               round(max(o_totalprice), 2) AS max_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="Argmax aggregates (max_by/min_by ≡ DuckDB arg_max/arg_min): key of "
    "the extremal row without a self-join (prices are continuous doubles, "
    "so the extremum is unique and the result deterministic)",
    tags=("agg",),
)
def q_argmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "explode_outer_rare_tokens",
    oracle="""
        SELECT doc_id,
               unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END) AS long_token
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> len(w) > 12) AS l
            FROM documents
        )
    """,
    doc="explode_outer: rows with an empty array survive with NULL (plain "
    "explode would drop them) — the outer-lateral contract",
    tags=("projection", "explode"),
)
def q_explode_outer_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rare = F.filter(tokens("text"), lambda w: F.length(w) > 12)
    return docs.select("doc_id", F.explode_outer(rare).alias("long_token"))


@register(
    "conditional_aggregates",
    oracle="""
        SELECT o_orderpriority,
               CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_orderstatus = 'F') AS any_finished,
               round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2)
                   AS open_revenue
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="Conditional aggregates: count_if / bool_and / bool_or / "
    "sum-over-CASE (filtered aggregation without a second scan)",
    tags=("agg",),
)
def q_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(0)), 2
        ).alias("open_revenue"),
    )


@register(
    "date_interval_arithmetic",
    oracle="""
        SELECT o_orderkey,
               CAST(date_diff('day', TIMESTAMP '2000-01-01', o_orderdate) AS BIGINT) AS days_from_y2k,
               strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3_months,
               strftime(o_orderdate - INTERVAL 7 DAY, '%Y-%m-%d') AS minus_7_days,
               CAST(dayofweek(o_orderdate) AS BIGINT) AS dow
        FROM orders
        WHERE o_orderkey < 200
    """,
    doc="Date/interval arithmetic: datediff, +INTERVAL month/day, day-of-week "
    "(Spark dayofweek is 1=Sunday; DuckDB dayofweek is 0=Sunday — offset "
    "reconciled in the Spark projection)",
    tags=("scalar", "date"),
)
def q_date_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("2000-01-01").cast("date"))
        .cast("bigint")
        .alias("days_from_y2k"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH"), "yyyy-MM-dd").alias(
            "plus_3_months"
        ),
        F.date_format(F.col("o_orderdate") - F.expr("INTERVAL 7 DAY"), "yyyy-MM-dd").alias(
            "minus_7_days"
        ),
        (F.dayofweek("o_orderdate") - 1).cast("bigint").alias("dow"),
    )


@register(
    "regex_functions",
    oracle="""
        SELECT doc_id,
               regexp_extract(source, '[0-9]+') AS src_num,
               regexp_replace(lang, '[aeiou]', '_', 'g') AS lang_masked,
               CAST(len(regexp_extract_all(text, '[a-z]+[0-9]+')) AS BIGINT) AS n_alnum_tokens
        FROM documents
        WHERE doc_id < 100
    """,
    doc="Regex scalar family: extract / replace-all / match-count (patterns "
    "kept within the Java∩RE2-compatible subset so engines agree)",
    tags=("scalar", "text"),
)
def q_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        F.regexp_extract("source", "[0-9]+", 0).alias("src_num"),
        F.regexp_replace("lang", "[aeiou]", "_").alias("lang_masked"),
        F.regexp_count("text", F.lit("[a-z]+[0-9]+")).cast("bigint").alias("n_alnum_tokens"),
    )


@register(
    "bitwise_ops",
    oracle="""
        SELECT o_orderkey,
               xor(o_orderkey, 255) AS x,
               o_orderkey & 255 AS a,
               o_orderkey | 4096 AS o,
               (o_orderkey << 2) AS shl,
               (o_orderkey >> 3) AS shr
        FROM orders
        WHERE o_orderkey < 500
    """,
    doc="Bitwise scalar ops (xor/and/or/shifts) — the substrate of the hash "
    "and sketch operators, exposed directly",
    tags=("scalar", "math"),
)
def q_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseXOR(255).alias("x"),
        k.bitwiseAND(255).alias("a"),
        k.bitwiseOR(4096).alias("o"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
    )


@register(
    "correlated_min_subquery",
    oracle="""
        SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
        FROM part p
        WHERE p_retailprice = (
            SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
        )
    """,
    doc="Correlated aggregate subquery (TPC-H Q2 shape: rows matching their "
    "group's minimum) — decorrelates to a groupBy-min join, which is how "
    "the DataFrame form writes it directly",
    tags=("subquery", "join", "agg"),
)
def q_correlated_min_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    mins = p.groupBy(F.col("p_brand").alias("b")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        p.join(
            F.broadcast(mins),
            (F.col("p_brand") == F.col("b")) & (F.col("p_retailprice") == F.col("min_price")),
        )
        .select("p_partkey", "p_brand", F.round("p_retailprice", 2).alias("price"))
    )


@register(
    "limit_offset_page",
    oracle="""
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10 OFFSET 20
    """,
    doc="Keyset-free pagination: ORDER BY (with unique tiebreak) + LIMIT/"
    "OFFSET — page 3 of the price ranking. (At scale prefer keyset "
    "pagination: OFFSET still sorts the prefix.)",
    tags=("sort", "topk"),
)
def q_limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .offset(20)
        .limit(10)
    )


@register(
    "null_scalar_functions",
    oracle="""
        SELECT s_suppkey,
               COALESCE(l_orderkey, -1) AS orderkey_or_default,
               CASE WHEN l_orderkey IS NULL THEN 'unmatched' ELSE 'matched' END AS match_tag,
               ifnull(l_quantity, 0.0) AS qty_or_zero,
               nullif(s_nationkey, 0) AS nation_nz
        FROM (SELECT * FROM lineitem WHERE l_quantity >= 49.5) l
        RIGHT JOIN supplier ON l.l_suppkey = s_suppkey
    """,
    doc="Null-handling scalars (coalesce / ifnull / nullif / IS NULL "
    "branching) over outer-join-produced nulls",
    tags=("scalar", "join"),
)
def q_null_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49.5)
    s = load_table(spark, sf_dir, "supplier")
    j = li.join(s, li["l_suppkey"] == s["s_suppkey"], "right")
    return j.select(
        "s_suppkey",
        F.coalesce("l_orderkey", F.lit(-1)).alias("orderkey_or_default"),
        F.when(F.col("l_orderkey").isNull(), "unmatched")
        .otherwise("matched")
        .alias("match_tag"),
        F.ifnull("l_quantity", F.lit(0.0)).alias("qty_or_zero"),
        F.nullif(F.col("s_nationkey"), F.lit(0)).alias("nation_nz"),
    )


@register(
    "sample_hash_deterministic",
    oracle=f"""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(min(doc_id) AS BIGINT) AS min_doc
        FROM documents
        WHERE {portable_hash64_sql("CAST(doc_id AS VARCHAR)")} % 100 < 10
        GROUP BY lang
    """,
    doc="Deterministic 10% sample via hash(doc_id) % 100 — unlike "
    "rand()-based sampling this is reproducible across engines, runs, and "
    "cluster sizes (the only sane sampling contract for a 100 TB pipeline "
    "you need to re-run), hence fully oracle-checkable",
    tags=("sampling", "filter"),
)
def q_sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keep = (portable_hash64(F.col("doc_id").cast("string")) % 100) < 10
    return docs.where(keep).groupBy("lang").agg(
        F.count("*").alias("n_sampled"), F.min("doc_id").alias("min_doc")
    )


@register(
    "events_rollup_day_from_hour",
    oracle="""
        SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start_s,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Hypertable-rollup pattern: the DAY aggregate is computed FROM the "
    "HOUR aggregate's partials (sum of counts, sum of sums), not from raw "
    "events — at 100 TB the hour table is the materialized continuous "
    "aggregate and day/week/month roll up from it for ~24x/170x less "
    "input. The oracle aggregates raw events directly; results must agree.",
    tags=("events", "agg", "rollup"),
)
def q_events_rollup_day_from_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # the hour-grain "continuous aggregate" (materialized at scale)
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
    # day grain derived from hour partials — no second scan of raw events
    return (
        hourly.groupBy(
            F.unix_timestamp(F.date_trunc("day", "hour_start")).alias("day_start_s"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("value_sum"), 2).alias("total_value"),
        )
    )


@register(
    "topk_with_ties",
    oracle="""
        SELECT o_orderstatus, o_orderkey, CAST(qty AS BIGINT) AS qty
        FROM (
            SELECT o_orderstatus, o_orderkey, qty,
                   rank() OVER (PARTITION BY o_orderstatus ORDER BY qty DESC) AS rnk
            FROM (
                SELECT o_orderstatus, o_orderkey,
                       CAST(round(o_totalprice / 50000) AS BIGINT) AS qty
                FROM orders
            )
        )
        WHERE rnk <= 3
    """,
    doc="Top-k WITH ties (rank, not row_number): every row tied at the "
    "boundary survives, so the result is deterministic without a tiebreak "
    "column even on a discretized ranking key",
    tags=("window", "topk"),
)
def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderkey",
        F.round(F.col("o_totalprice") / 50000).cast("bigint").alias("qty"),
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.col("qty").desc())
    return (
        o.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_orderstatus", "o_orderkey", "qty")
    )


@register(
    "events_sliding_2h",
    oracle="""
        SELECT CAST(epoch(w_start) AS BIGINT) AS win_start_s,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total_value
        FROM (
            SELECT unnest([
                       date_trunc('hour', ts) - INTERVAL 1 HOUR,
                       date_trunc('hour', ts)
                   ]) AS w_start,
                   event_type, value
            FROM events
        )
        GROUP BY w_start, event_type
    """,
    doc="Sliding windows (2h length, 1h slide): every event lands in two "
    "overlapping windows — Spark's window() generates the window copies "
    "(the oracle unnests the two hour-truncated starts explicitly)",
    tags=("window", "events", "streaming"),
)
def q_events_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start_s"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "join_right_outer",
    oracle="""
        SELECT s_suppkey, s_name, l_orderkey, l_linenumber
        FROM (SELECT * FROM lineitem WHERE l_quantity >= 49) l
        RIGHT JOIN supplier ON l.l_suppkey = s_suppkey
    """,
    doc="Right outer join: all suppliers kept, unmatched get NULL lineitem "
    "columns (completes the inner/left/full/semi/anti family)",
    tags=("join",),
)
def q_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    s = load_table(spark, sf_dir, "supplier")
    return li.join(s, li["l_suppkey"] == s["s_suppkey"], "right").select(
        "s_suppkey", "s_name", "l_orderkey", "l_linenumber"
    )


@register(
    "cross_join_bounded",
    oracle="""
        SELECT r_name, n_name
        FROM region CROSS JOIN nation
    """,
    doc="Explicit cartesian product of two bounded dimensions (5 × 25 rows) — "
    "the only legitimate cross join: both sides known-small; anything larger "
    "is caught by the no-cartesian plan gate",
    tags=("join", "setop"),
)
def q_cross_join_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "latest_event_per_user",
    oracle="""
        SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) = 1
    """,
    doc="Keep-latest compaction (CDC/event-log dedup): row_number over "
    "(user, ts desc) = 1 — one shuffle by user_id; at scale this is the "
    "standard upsert-materialization pattern",
    tags=("window", "dedup"),
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "event_type")
    )


@register(
    "events_dow_hour_heatmap",
    oracle="""
        SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hod,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(value), 4) AS avg_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Calendar heatmap: event counts by day-of-week x hour-of-day "
    "(DuckDB dayofweek is 0=Sunday; Spark's is 1=Sunday, reconciled with "
    "a -1 offset)",
    tags=("events", "agg", "date"),
)
def q_events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


@register(
    "orders_monthly_growth",
    oracle="""
        WITH monthly AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                   sum(CAST(o_totalprice AS DECIMAL(30, 6))) AS rev
            FROM orders
            GROUP BY 1
        )
        SELECT month,
               round(rev, 2)::DOUBLE AS revenue,
               round(rev - lag(rev) OVER (ORDER BY month), 2)::DOUBLE AS mom_delta
        FROM monthly
    """,
    doc="Month-over-month revenue growth: monthly rollup + lag window "
    "(decimal sums: ~80 month groups over large values — the Q7 lesson)",
    tags=("window", "agg", "date"),
)
def q_orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev"))
    w = W.orderBy("month")
    return monthly.select(
        "month",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(F.col("rev") - F.lag("rev").over(w), 2).cast("double").alias("mom_delta"),
    )


@register(
    "zscore_outliers",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               round((o_totalprice - avg_p) / sd_p, 4) AS z
        FROM (
            SELECT o_orderkey, o_orderstatus, o_totalprice,
                   avg(o_totalprice) OVER w AS avg_p,
                   stddev_samp(o_totalprice) OVER w AS sd_p
            FROM orders
            WINDOW w AS (PARTITION BY o_orderstatus)
        )
        WHERE abs((o_totalprice - avg_p) / sd_p) > 1.7
    """,
    doc="Z-score outlier detection per group: whole-partition avg/stddev "
    "window (no ORDER BY -> single frame). Threshold 1.7: totalprice is near-uniform, whose |z| maxes at sqrt(3) =~ 1.73 — 1.7 selects the true distribution tails",
    tags=("window", "stats"),
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus")
    z = (F.col("o_totalprice") - F.avg("o_totalprice").over(w)) / F.stddev_samp(
        "o_totalprice"
    ).over(w)
    return (
        o.withColumn("z", z)
        .where(F.abs("z") > 1.7)
        .select("o_orderkey", "o_orderstatus", F.round("z", 4).alias("z"))
    )


@register(
    "cumulative_revenue_share",
    oracle="""
        WITH ranked AS (
            SELECT o_orderkey, o_totalprice,
                   sum(CAST(o_totalprice AS DECIMAL(30, 6))) OVER (
                       ORDER BY o_totalprice DESC, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_rev,
                   sum(CAST(o_totalprice AS DECIMAL(30, 6))) OVER () AS total_rev,
                   row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        )
        SELECT CAST(rn AS BIGINT) AS rn, o_orderkey,
               round((cum_rev / total_rev)::DOUBLE, 6) AS cum_share
        FROM ranked
        WHERE rn <= 100
    """,
    doc="Pareto / cumulative-share analysis: running revenue share of the "
    "top orders. The top-100 cut is orderBy+limit (TakeOrderedAndProject, "
    "distributed per-partition heaps) BEFORE any window — the (price desc, "
    "orderkey) order is total, so the global prefix and the top-100 prefix "
    "are the same rows and the decimal running sums are value-identical; "
    "the cum-sum/rank window then runs over exactly 100 rows and total "
    "revenue is one scalar aggregate broadcast back (the word_freq_topn "
    "retrofit pattern, VERDICT r4 #3)",
    tags=("window", "topk", "stats"),
)
def q_cumulative_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(30,6)")
    top = (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )
    total = o.agg(F.sum(dec).alias("total_rev"))
    w_order = W.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w_cum = w_order.rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = top.select(
        "o_orderkey",
        F.sum(dec).over(w_cum).alias("cum_rev"),
        F.row_number().over(w_order).cast("bigint").alias("rn"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "rn",
        "o_orderkey",
        F.round((F.col("cum_rev") / F.col("total_rev")).cast("double"), 6).alias("cum_share"),
    )


@register(
    "retention_weekly",
    oracle="""
        WITH weekly AS (
            SELECT DISTINCT user_id,
                   CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS wk
            FROM events
        )
        SELECT a.wk AS week_s,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS active,
               CAST(count(DISTINCT b.user_id) AS BIGINT) AS retained
        FROM weekly a
        LEFT JOIN weekly b ON b.user_id = a.user_id AND b.wk = a.wk + 604800
        GROUP BY a.wk
    """,
    doc="Weekly retention: users active in week N who return in week N+1 "
    "(distinct user-week grid self-joined one week forward — the standard "
    "cohort-retention shape; the grid is tiny relative to raw events)",
    tags=("events", "join", "agg"),
)
def q_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    weekly = e.select(
        "user_id", F.unix_timestamp(F.date_trunc("week", "ts")).alias("wk")
    ).distinct()
    a = weekly.select(F.col("user_id").alias("ua"), F.col("wk").alias("week_s"))
    b = weekly.select(F.col("user_id").alias("ub"), F.col("wk").alias("wkb"))
    return (
        a.join(
            b,
            (F.col("ub") == F.col("ua")) & (F.col("wkb") == F.col("week_s") + 604800),
            "left",
        )
        .groupBy("week_s")
        .agg(
            F.countDistinct("ua").alias("active"),
            F.countDistinct("ub").alias("retained"),
        )
    )


@register(
    "null_safe_join",
    oracle="""
        WITH l AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS k
            FROM orders WHERE o_orderkey < 300
        ),
        r AS (
            SELECT DISTINCT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS k
            FROM orders
        )
        SELECT l.o_orderkey, l.k AS status_key
        FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other instead of vanishing — the semantic corner plain "
    "equi-joins silently drop",
    tags=("join", "scalar"),
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.when(F.col("o_orderstatus") == "P", None).otherwise(F.col("o_orderstatus"))
    l = o.where(F.col("o_orderkey") < 300).select("o_orderkey", k.alias("lk"))
    r = o.select(k.alias("rk")).distinct()
    return l.join(r, F.col("lk").eqNullSafe(F.col("rk"))).select(
        "o_orderkey", F.col("lk").alias("status_key")
    )


@register(
    "array_setops",
    oracle="""
        SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b,
               CAST(len(list_distinct(list_concat(d1.ts, d2.ts))) AS BIGINT) AS n_union,
               CAST(len(list_intersect(d1.ts, d2.ts)) AS BIGINT) AS n_intersect,
               CAST(len(list_filter(d1.ts, t -> NOT list_contains(d2.ts, t))) AS BIGINT) AS n_only_a,
               list_has_any(d1.ts, d2.ts) AS overlaps
        FROM (SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), w -> w <> '')) AS ts
              FROM documents WHERE doc_id < 20) d1
        JOIN (SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), w -> w <> '')) AS ts
              FROM documents WHERE doc_id < 20) d2
          ON d2.doc_id = d1.doc_id + 1
    """,
    doc="Array set operations (union/intersect/except/overlap) between "
    "consecutive docs' token sets — the JVM array kernel under Jaccard",
    tags=("scalar", "array"),
)
def q_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    t = docs.select("doc_id", F.array_distinct(tokens("text")).alias("ts"))
    d1 = t.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    d2 = t.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    return (
        d1.join(d2, F.col("doc_b") == F.col("doc_a") + 1)
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_union("ts_a", "ts_b")).cast("bigint").alias("n_union"),
            F.size(F.array_intersect("ts_a", "ts_b")).cast("bigint").alias("n_intersect"),
            F.size(F.array_except("ts_a", "ts_b")).cast("bigint").alias("n_only_a"),
            F.arrays_overlap("ts_a", "ts_b").alias("overlaps"),
        )
    )


@register(
    "price_histogram",
    oracle="""
        SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bucket_lo,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(CAST(o_totalprice AS DECIMAL(30, 6))), 2)::DOUBLE AS bucket_rev
        FROM orders
        GROUP BY 1
    """,
    doc="Equi-width histogram via floor-division bucketing (the SQL-native "
    "width_bucket; one map-side-combinable aggregation)",
    tags=("agg", "stats"),
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = (F.floor(F.col("o_totalprice") / 50000) * 50000).cast("bigint")
    return o.groupBy(bucket.alias("bucket_lo")).agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(30,6)")), 2)
        .cast("double")
        .alias("bucket_rev"),
    )


@register(
    "weighted_avg_price",
    oracle="""
        SELECT l_returnflag,
               round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wavg_price,
               round(avg(l_extendedprice), 6) AS avg_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Weighted average (quantity-weighted price) vs plain average — the "
    "sum-of-products/sum-of-weights form every BI layer needs",
    tags=("agg", "stats"),
)
def q_weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")) / F.sum("l_quantity"), 6
        ).alias("wavg_price"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
    )


@register(
    "trending_per_hour",
    oracle="""
        SELECT hour_s, event_type, CAST(n AS BIGINT) AS n
        FROM (
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
                   event_type, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY date_trunc('hour', ts)
                       ORDER BY count(*) DESC, event_type
                   ) AS rn
            FROM events
            GROUP BY date_trunc('hour', ts), event_type
        )
        WHERE rn <= 2
    """,
    doc="Trending-per-window: top-2 event types per hour (agg then "
    "per-window ranking — the leaderboard shape of streaming analytics, "
    "here in its batch form)",
    tags=("events", "window", "topk"),
)
def q_trending_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hr"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("hr").orderBy(F.col("n").desc(), "event_type")
    return (
        hourly.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select(F.unix_timestamp("hr").alias("hour_s"), "event_type", "n")
    )


@register(
    "basket_part_pairs",
    oracle="""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
            FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
            JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= 2
        )
        SELECT part_a, part_b, CAST(support AS BIGINT) AS support
        FROM pairs
    """,
    doc="Market-basket pair mining: part pairs co-ordered >= 2 times. Spark "
    "side expands pairs LOCALLY inside each order's sorted distinct-part "
    "array (baskets are small) — no self-join; the oracle self-joins.",
    tags=("agg", "explode", "basket"),
)
def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (a, i) -> "
                "transform(slice(parts, i + 2, size(parts)), b -> "
                "struct(a AS part_a, b AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
    )


@register(
    "ratio_to_report",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(CAST(l_extendedprice AS DECIMAL(30, 6)))
                     / sum(sum(CAST(l_extendedprice AS DECIMAL(30, 6)))) OVER (PARTITION BY l_returnflag), 6)::DOUBLE
                   AS share_within_flag
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="Ratio-to-report: each (flag,status) cell's share of its flag's "
    "total via a window over the aggregate (aggregate-then-window, no "
    "second scan; decimal sums for order-exactness)",
    tags=("window", "agg", "stats"),
)
def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).alias("rev")
    )
    w = W.partitionBy("l_returnflag")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("rev") / F.sum("rev").over(w), 6)
        .cast("double")
        .alias("share_within_flag"),
    )


@register(
    "timeseries_gap_fill",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
            FROM events
        ),
        scaffold AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM bounds
        ),
        actual AS (
            SELECT date_trunc('hour', ts) AS hr, count(*) AS n FROM events GROUP BY 1
        )
        SELECT CAST(epoch(s.hr) AS BIGINT) AS hour_s,
               CAST(COALESCE(a.n, 0) AS BIGINT) AS n
        FROM scaffold s LEFT JOIN actual a ON a.hr = s.hr
    """,
    doc="Time-series gap filling: a generated hour scaffold (sequence + "
    "explode) left-joined to actual counts so silent hours surface as "
    "zeros — the dense-series contract dashboards and anomaly detectors "
    "need",
    tags=("events", "join", "date"),
)
def q_timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    scaffold = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    actual = e.groupBy(F.date_trunc("hour", "ts").alias("ahr")).agg(F.count("*").alias("n"))
    return (
        scaffold.join(actual, F.col("ahr") == F.col("hr"), "left")
        .select(
            F.unix_timestamp("hr").alias("hour_s"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


@register(
    "union_by_name_missing",
    oracle="""
        SELECT o_orderkey AS id, o_totalprice AS amount, o_orderpriority AS priority
        FROM orders WHERE o_orderkey < 100
        UNION ALL
        SELECT c_custkey AS id, c_acctbal AS amount, NULL AS priority
        FROM customer WHERE c_custkey < 100
    """,
    doc="unionByName with allowMissingColumns: schemas aligned by NAME, "
    "absent columns null-filled (positional UNION would silently mismatch)",
    tags=("setop", "projection"),
)
def q_union_by_name_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 100)
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_totalprice").alias("amount"),
            F.col("o_orderpriority").alias("priority"),
        )
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 100)
        .select(F.col("c_custkey").alias("id"), F.col("c_acctbal").alias("amount"))
    )
    return o.unionByName(c, allowMissingColumns=True)


@register(
    "nested_struct_ops",
    oracle="""
        SELECT l_orderkey,
               CAST(len(items) AS BIGINT) AS n_lines,
               round(list_sum(list_transform(items, s -> s.ep * s.q)), 2) AS order_value,
               round(items[1].ep, 2) AS first_line_price
        FROM (
            SELECT l_orderkey,
                   list(struct_pack(ln := l_linenumber, ep := l_extendedprice, q := l_quantity)
                        ORDER BY l_linenumber, l_extendedprice, l_quantity) AS items
            FROM lineitem
            WHERE l_orderkey < 500
            GROUP BY l_orderkey
        )
    """,
    doc="Nested data: collect each order's lines into a SORTED "
    "array<struct>, then compute over the nested shape with struct-field "
    "lambdas and positional access — the document/array model LLM "
    "pipeline records actually have (sort_array compares structs "
    "field-by-field; the oracle orders by the same full field list, since "
    "line numbers repeat in this data and a partial order would leave the "
    "first element nondeterministic)",
    tags=("scalar", "array", "agg"),
)
def q_nested_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 500)
    items = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_extendedprice").alias("ep"),
                F.col("l_quantity").alias("q"),
            )
        )
    )
    nested = li.groupBy("l_orderkey").agg(items.alias("items"))
    return nested.select(
        "l_orderkey",
        F.size("items").cast("bigint").alias("n_lines"),
        F.round(
            F.aggregate(
                F.transform("items", lambda s: s["ep"] * s["q"]),
                F.lit(0.0),
                lambda a, v: a + v,
            ),
            2,
        ).alias("order_value"),
        F.round(F.element_at("items", 1)["ep"], 2).alias("first_line_price"),
    )


@register(
    "json_struct_parse",
    oracle="""
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k,
               CASE WHEN json_extract(props, '$.k') IS NULL THEN 'missing' ELSE 'present' END AS k_status
        FROM events
        WHERE event_id < 300
    """,
    doc="from_json to a TYPED struct (schema-on-read over the JSON props "
    "column) with null-tracking for absent keys — vs the map-shaped "
    "json_map_explode and stringly get_json_object paths",
    tags=("scalar", "json"),
)
def q_json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 300)
    parsed = e.select("event_id", F.from_json("props", "k bigint").alias("p"))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.when(F.col("p.k").isNull(), "missing").otherwise("present").alias("k_status"),
    )


@register(
    "events_error_rate_hourly",
    oracle="""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count_if(event_type = 'error') AS BIGINT) AS n_errors,
               round(count_if(event_type = 'error') / count(*)::DOUBLE, 6) AS error_rate
        FROM events
        GROUP BY 1
    """,
    doc="Hourly error-rate monitoring: conditional count over total per "
    "window — the alerting primitive (streaming twin would be the same "
    "agg under a watermark)",
    tags=("events", "agg", "date"),
)
def q_events_error_rate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_s"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_if(F.col("event_type") == "error").alias("n_errors"),
            F.round(
                F.count_if(F.col("event_type") == "error") / F.count("*").cast("double"), 6
            ).alias("error_rate"),
        )
    )


@register(
    "mode_priority_per_status",
    oracle="""
        SELECT o_orderstatus, o_orderpriority AS mode_priority, CAST(n AS BIGINT) AS n
        FROM (
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY o_orderstatus
                       ORDER BY count(*) DESC, o_orderpriority
                   ) AS rn
            FROM orders
            GROUP BY o_orderstatus, o_orderpriority
        )
        WHERE rn = 1
    """,
    doc="Deterministic per-group mode: most frequent priority per status "
    "via count + ranked tiebreak (the built-in mode() breaks frequency "
    "ties arbitrarily in both engines, so it is expressed explicitly)",
    tags=("agg", "stats"),
)
def q_mode_priority_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    w = W.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


@register(
    "inline_struct_explode",
    oracle="""
        SELECT l_orderkey,
               CAST(s.ln AS BIGINT) AS ln,
               round(s.ep, 2) AS ep
        FROM (
            SELECT l_orderkey,
                   unnest(list(struct_pack(ln := l_linenumber, ep := l_extendedprice)
                               ORDER BY l_linenumber, l_extendedprice)) AS s
            FROM lineitem
            WHERE l_orderkey < 200
            GROUP BY l_orderkey
        )
    """,
    doc="inline (explode array<struct> to columns): nest lines per order, "
    "then flatten back — the round trip every nested-document pipeline "
    "does at its read/write boundary",
    tags=("projection", "explode", "array"),
)
def q_inline_struct_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("l_linenumber").alias("ln"), F.col("l_extendedprice").alias("ep"))
            )
        ).alias("items")
    )
    return nested.select("l_orderkey", F.inline("items")).select(
        "l_orderkey",
        F.col("ln").cast("bigint").alias("ln"),
        F.round("ep", 2).alias("ep"),
    )


@register(
    "scd_intervals",
    oracle="""
        SELECT user_id,
               CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
               CAST(lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS BIGINT) AS valid_to_us,
               event_type
        FROM events
        WHERE user_id < 8
    """,
    doc="SCD2-style validity intervals: each event's state is valid from "
    "its timestamp until the user's next event (lead window; NULL "
    "valid_to = current record) — the slowly-changing-dimension build",
    tags=("window", "events"),
)
def q_scd_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 8)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return e.select(
        "user_id",
        us.alias("valid_from_us"),
        F.lead(us).over(w).alias("valid_to_us"),
        "event_type",
    )


@register(
    "forward_fill_values",
    oracle="""
        SELECT event_id, user_id,
               round(last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 4) AS filled_value
        FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
            FROM events
        )
    """,
    doc="Forward fill (LOCF): error rows carry the user's last non-null "
    "value via last_value IGNORE NULLS over an unbounded-preceding frame — "
    "the time-series imputation primitive",
    tags=("window", "events", "stats"),
)
def q_forward_fill_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.last(v, ignorenulls=True).over(w), 4).alias("filled_value"),
    )


@register(
    "recursive_month_spine",
    oracle="""
        WITH RECURSIVE spine(m) AS (
            SELECT TIMESTAMP '1997-01-01'
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM spine
            WHERE m < TIMESTAMP '1998-12-01'
        )
        SELECT strftime(m, '%Y-%m') AS month,
               CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS month_idx,
               CAST((SELECT count(*) FROM orders o
                     WHERE date_trunc('month', o.o_orderdate) = m) AS BIGINT) AS n_orders
        FROM spine
    """,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE): fixed two-year month spine "
    "via UNION ALL recursion, joined to per-month order counts — the declarative recursion "
    "surface. (Cycle-safe distinct-union recursion is not yet supported, "
    "which is why transitive closure — dedup_clusters — stays on the "
    "driver-coordinated loop.)",
    tags=("scalar", "date", "recursive"),
)
def q_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_tbmr_rec_orders")
    return spark.sql(
        """
        WITH RECURSIVE spine(m) AS (
            SELECT TIMESTAMP '1997-01-01'
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM spine
            WHERE m < TIMESTAMP '1998-12-01'
        )
        SELECT date_format(m, 'yyyy-MM') AS month,
               CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS month_idx,
               (SELECT count(*) FROM _tbmr_rec_orders o
                WHERE date_trunc('month', o.o_orderdate) = m) AS n_orders
        FROM spine
        """
    )


@register(
    "events_anomaly_trailing_z",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hr, count(*)::DOUBLE AS n
            FROM events GROUP BY 1
        )
        SELECT CAST(epoch(hr) AS BIGINT) AS hour_s,
               CAST(n AS BIGINT) AS n,
               round((n - avg(n) OVER w) / nullif(stddev_samp(n) OVER w, 0), 4) AS trailing_z
        FROM hourly
        WINDOW w AS (ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    """,
    doc="Anomaly detection: each hour's event count z-scored against its "
    "OWN trailing 24-hour window (frame excludes the current row, so the "
    "anomaly can't suppress its baseline) — the monitoring-alert shape",
    tags=("events", "window", "stats"),
)
def q_events_anomaly_trailing_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count("*").cast("double").alias("n")
    )
    w = W.orderBy("hr").rowsBetween(-24, -1)
    return hourly.select(
        F.unix_timestamp("hr").alias("hour_s"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("n") - F.avg("n").over(w)) / F.nullif(F.stddev_samp("n").over(w), F.lit(0)),
            4,
        ).alias("trailing_z"),
    )


@register(
    "orders_first_vs_repeat",
    oracle="""
        WITH flagged AS (
            SELECT o_orderkey, o_orderdate,
                   row_number() OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) = 1 AS is_first
            FROM orders
        )
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(count_if(is_first) AS BIGINT) AS first_orders,
               CAST(count_if(NOT is_first) AS BIGINT) AS repeat_orders,
               round(count_if(NOT is_first) / count(*)::DOUBLE, 6) AS repeat_share
        FROM flagged
        GROUP BY 1
    """,
    doc="First-vs-repeat purchase analysis per month: rank each customer's "
    "orders, bucket the month's volume into acquisition vs retention — "
    "the growth-accounting shape",
    tags=("window", "agg", "date"),
)
def q_orders_first_vs_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = o.select(
        "o_orderdate", (F.row_number().over(w) == 1).alias("is_first")
    )
    return (
        flagged.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        )
        .agg(
            F.count_if("is_first").alias("first_orders"),
            F.count_if(~F.col("is_first")).alias("repeat_orders"),
            F.round(
                F.count_if(~F.col("is_first")) / F.count("*").cast("double"), 6
            ).alias("repeat_share"),
        )
    )


# Shared Markov-transition core: ONE definition of the (prev, next)
# count matrix for the transition query, the entropy query
# (analytics.q_event_transition_entropy) and the next-event-prediction
# eval (ml.q_markov_next_event_accuracy) — the ADVICE-r3 lesson: two
# verbatim copies of the same semantic definition silently diverge.


def transition_cte_sql(src: str, prefix: str = "") -> str:
    """CTE fragments ``{prefix}seq`` / ``{prefix}trans`` computing the
    shared Markov (prev_type, next_type, n) counts over relation ``src`` —
    spliceable into larger WITH chains (fold-filtered sources etc.)."""
    return f"""{prefix}seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM {src}
        ),
        {prefix}trans AS (
            SELECT prev_type, event_type AS next_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM {prefix}seq
            WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        )"""


TRANSITION_COUNTS_SQL = f"""
        WITH {transition_cte_sql('events')}
        SELECT prev_type, next_type, n FROM trans
"""


def transition_counts(e: DataFrame) -> DataFrame:
    """(prev_type, next_type, n) Markov counts over per-user ordered
    streams; one shuffle on user_id."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "event_type_transitions",
    oracle=TRANSITION_COUNTS_SQL,
    doc="Event-type transition matrix (Markov counts): lag over each "
    "user's ordered stream, then count (prev, next) pairs — the "
    "sequence-model feature extraction shape",
    tags=("events", "window", "agg"),
)
def q_event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transition_counts(load_table(spark, sf_dir, "events"))


@register(
    "discount_effect_by_band",
    oracle="""
        SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_band,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(l_discount), 6) AS avg_discount,
               round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30, 6))), 2)::DOUBLE
                   AS discount_given
        FROM lineitem
        GROUP BY 1
    """,
    doc="Discount effect by quantity band: does bigger volume get deeper "
    "discounts, and what does it cost (decimal sums for the money column)",
    tags=("agg", "stats"),
)
def q_discount_effect_by_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.floor(F.col("l_quantity") / 10).cast("bigint").alias("qty_band"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("l_discount"), 6).alias("avg_discount"),
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(30,6)")), 2
            )
            .cast("double")
            .alias("discount_given"),
        )
    )


@register(
    "variant_json_shred",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events
        WHERE json_extract(props, '$.k') IS NOT NULL
        GROUP BY event_type
    """,
    doc="VARIANT type (Spark 4): parse_json → variant_get typed extraction "
    "— the open-schema semi-structured path (vs the fixed-schema "
    "from_json struct); aggregated per event type",
    tags=("scalar", "json", "variant"),
)
def q_variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        e.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
    )


@register(
    "customer_ltv_deciles",
    oracle="""
        WITH spend AS (
            SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(30, 6))) AS total
            FROM orders GROUP BY o_custkey
        ),
        tiled AS (
            SELECT o_custkey, total,
                   ntile(10) OVER (ORDER BY total DESC, o_custkey) AS decile
            FROM spend
        )
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(total), 2)::DOUBLE AS decile_revenue,
               round(min(total), 2)::DOUBLE AS min_spend
        FROM tiled
        GROUP BY decile
    """,
    doc="Customer lifetime-value deciles: spend per customer, ntile(10) "
    "ranking (unique-key tiebreak), per-decile revenue — the customer-mart "
    "table behind every 80/20 analysis (decimal sums). The rank is NOT a "
    "one-task global ntile window (customers grow with the corpus): the "
    "two-level bucket-prefix rank (bucketed_group_rank with a constant "
    "group) gives the exact global row_number, and ntile(10) is then "
    "RECONSTRUCTED arithmetically from (rank, n) — the first n%10 deciles "
    "take floor(n/10)+1 rows, the rest floor(n/10), which is ntile's "
    "documented row allocation. Oracle keeps the plain ntile window; the "
    "hash gate proves the reconstruction exact (the revenue_gini_by_nation "
    "technique)",
    tags=("window", "agg", "stats"),
)
def q_customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import bucketed_group_rank

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("total")
    )
    # rank ascending on -total == descending on total; unique tiebreak keeps
    # the bucketed reconstruction identical to the oracle's window order
    ranked = bucketed_group_rank(
        spend.withColumn("_g", F.lit(1)).withColumn("_negtotal", -F.col("total")),
        "_g",
        "_negtotal",
        "o_custkey",
    )
    n_df = spend.agg(F.count("*").alias("_n"))
    i, n = F.col("i"), F.col("_n")
    r = n % 10  # number of one-row-larger deciles
    base = F.floor(n / 10).cast("bigint")  # rows per small decile
    big = base + 1  # rows per large decile (first n%10 deciles)
    cut = r * big  # rows covered by the large deciles
    decile = F.when(i <= cut, F.floor((i - 1) / big) + 1).otherwise(
        r + F.floor((i - cut - 1) / F.greatest(base, F.lit(1))) + 1
    )
    tiled = ranked.crossJoin(F.broadcast(n_df)).withColumn(
        "decile", decile.cast("bigint")
    )
    return tiled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("total"), 2).cast("double").alias("decile_revenue"),
        F.round(F.min("total"), 2).cast("double").alias("min_spend"),
    )


@register(
    "join_hint_shuffle_hash",
    oracle="""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
               round(sum(CAST(l_extendedprice AS DECIMAL(30, 6))), 2)::DOUBLE AS rev
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
    """,
    doc="Join strategy hint: SHUFFLE_HASH forces a shuffled hash join "
    "where the planner would default to sort-merge — the knob for "
    "build-side-fits-in-memory fact joins that skips both sorts "
    "(plan asserted in tests/test_plans.py); results identical to the "
    "unhinted join, as the oracle shows",
    tags=("join", "agg"),
)
def q_join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").hint("shuffle_hash")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("rev"),
        )
    )


@register(
    "returns_rate_by_month",
    oracle="""
        SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count_if(l_returnflag = 'R') AS BIGINT) AS n_returned,
               round(count_if(l_returnflag = 'R') / count(*)::DOUBLE, 6) AS return_rate
        FROM lineitem
        GROUP BY 1
    """,
    doc="Monthly return rate: conditional share per ship month (the "
    "quality-trend monitor)",
    tags=("agg", "date", "stats"),
)
def q_returns_rate_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("month")
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.count_if(F.col("l_returnflag") == "R").alias("n_returned"),
            F.round(
                F.count_if(F.col("l_returnflag") == "R") / F.count("*").cast("double"), 6
            ).alias("return_rate"),
        )
    )


@register(
    "best_day_per_month",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('month', o_orderdate) AS mo,
                   strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
                   sum(CAST(o_totalprice AS DECIMAL(30, 6))) AS rev
            FROM orders GROUP BY 1, 2
        )
        SELECT month, best_day, best_day_revenue
        FROM (
            SELECT strftime(mo, '%Y-%m') AS month,
                   day AS best_day,
                   round(rev, 2)::DOUBLE AS best_day_revenue,
                   row_number() OVER (
                       PARTITION BY mo ORDER BY round(rev, 2) DESC, day DESC
                   ) AS rn
            FROM daily
        )
        WHERE rn = 1
    """,
    doc="Best revenue day per month: argmax over a derived daily aggregate "
    "(max_by on a (rounded revenue, day) struct so cross-engine ulps and "
    "hypothetical ties are both deterministic)",
    tags=("agg", "date", "topk"),
)
def q_best_day_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mo"),
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev"))
    return (
        daily.groupBy(F.date_format("mo", "yyyy-MM").alias("month"))
        .agg(
            F.max_by("day", F.struct(F.round("rev", 2).alias("r"), F.col("day").alias("d"))).alias(
                "best_day"
            ),
            F.round(F.max("rev"), 2).cast("double").alias("best_day_revenue"),
        )
    )


@register(
    "events_interarrival_stats",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS gap_us
            FROM events
        )
        SELECT user_id,
               CAST(count(gap_us) AS BIGINT) AS n_gaps,
               CAST(round(avg(gap_us), 0) AS BIGINT) AS avg_gap_us,
               CAST(round(median(gap_us), 0) AS BIGINT) AS med_gap_us,
               CAST(max(gap_us) AS BIGINT) AS max_gap_us
        FROM gaps
        WHERE gap_us IS NOT NULL
        GROUP BY user_id
    """,
    doc="Inter-arrival statistics per user: lag-derived gaps, then "
    "avg/median/max — the traffic-model fit and session-gap calibration "
    "input (median here is over integral µs, rounded to whole µs on both "
    "engines)",
    tags=("events", "window", "stats"),
)
def q_events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = e.select("user_id", (us - F.lag(us).over(w)).alias("gap_us"))
    return (
        gaps.where(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.round(F.avg("gap_us"), 0).cast("bigint").alias("avg_gap_us"),
            F.round(F.median("gap_us"), 0).cast("bigint").alias("med_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


@register(
    "lateral_topk_per_nation",
    oracle="""
        SELECT n.n_name AS nation, c.c_name AS customer, c.acctbal
        FROM nation n,
        LATERAL (
            SELECT c_name, round(c_acctbal, 2) AS acctbal
            FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 3
        ) c
    """,
    doc="Correlated LATERAL join (Spark 4 lateral subquery): top-3 "
    "customers by balance per nation, expressed as the SQL-standard "
    "lateral form rather than a window+filter. Catalyst decorrelates it "
    "into the same shuffle+per-group-top-k plan as "
    "window_topk_per_group — the point is the declarative surface, with "
    "a unique-key tiebreak keeping the cut deterministic across engines. "
    "Nations without customers drop out in both engines (inner lateral).",
    tags=("join", "subquery", "topk", "sql"),
)
def q_lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_tbmr_lat_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "_tbmr_lat_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name AS nation, c.c_name AS customer, c.acctbal
        FROM _tbmr_lat_nation n,
        LATERAL (
            SELECT c_name, round(c_acctbal, 2) AS acctbal
            FROM _tbmr_lat_customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 3
        ) c
        """
    )


JOIN_SALT_FANOUT = 8


@register(
    "join_salted_skew",
    oracle="""
        WITH dim AS (
            SELECT user_id, min(ts) AS signup_ts
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id
        )
        SELECT e.user_id,
               CAST(count(*) AS BIGINT) AS n_after,
               round(sum(e.value), 2) AS value_after
        FROM events e
        JOIN dim d ON e.user_id = d.user_id AND e.ts >= d.signup_ts
        GROUP BY e.user_id
    """,
    doc="Skew-mitigated JOIN via salting (the join-side counterpart of "
    "agg_salted_skew): the fact side gets a salt from an engine-side hash "
    f"of its unique key, the dim side is replicated {JOIN_SALT_FANOUT}x "
    "with every salt value, and the join key becomes (user_id, salt) — a "
    "hot user's rows now spread across "
    f"{JOIN_SALT_FANOUT} reducers instead of pinning one. SHUFFLE_HASH "
    "hint keeps the exchange in the plan (a broadcast would hide the "
    "mechanism at test scale; at 100 TB the dim side is too big to "
    "broadcast and this IS the plan). Result is salt-invariant: per-user "
    "events at/after that user's first signup",
    tags=("join", "skew", "events"),
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    dim = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    # salt from the engine-side hash of the fact's unique key: never in the
    # output, so the cheap non-portable hash is fine here
    fact = events.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("event_id")), F.lit(JOIN_SALT_FANOUT))
    )
    dim_rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALT_FANOUT - 1)))
    )
    joined = fact.join(
        dim_rep.hint("shuffle_hash"),
        ["user_id", "_salt"],
    ).where(F.col("ts") >= F.col("signup_ts"))
    return joined.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_after"),
        F.round(F.sum("value"), 2).alias("value_after"),
    )
