"""Extended relational coverage: statistical aggregates, percentiles,
positional explode, NOT IN, UNION ALL, sessionization, approximate
aggregates.

Cross-engine parity notes (measured in scripts/parity_probe*):
percentile (exact interpolated) ≡ DuckDB quantile_cont; stddev/var/corr/
covar/kurtosis agree at the shown roundings; skewness does NOT (different
bias normalization) and is deliberately excluded from oracle-checked
output. Approximate sketches (HLL, KLL) differ by construction → rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..functions.textfns import tokens
from ..plans.catalog import register
from ..sources.registry import load_table


@register(
    "stats_agg",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n,
               round(stddev_samp(o_totalprice), 4) AS sd_price,
               round(var_samp(o_totalprice), 2) AS var_price,
               round(corr(o_totalprice, o_custkey), 6) AS corr_price_cust,
               round(covar_samp(o_totalprice, o_custkey), 2) AS covar_price_cust
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="Statistical aggregates per group: stddev/variance/corr/covar "
    "(kurtosis/skewness excluded: engines use different bias corrections)",
    tags=("agg", "stats"),
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        F.round(F.var_samp("o_totalprice"), 2).alias("var_price"),
        F.round(F.corr("o_totalprice", "o_custkey"), 6).alias("corr_price_cust"),
        F.round(F.covar_samp("o_totalprice", "o_custkey"), 2).alias("covar_price_cust"),
    )


@register(
    "percentiles",
    oracle="""
        SELECT c_mktsegment,
               round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.95), 4) AS p95
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    doc="Exact interpolated percentiles per segment (Spark percentile ≡ "
    "DuckDB quantile_cont, verified bit-equal at 4dp)",
    tags=("agg", "stats"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables = {
        n: load_table(spark, sf_dir, n) for n in ("orders", "customer")
    }
    joined = t["orders"].join(
        F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey")
    )
    return joined.groupBy("c_mktsegment").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
    )


@register(
    "posexplode_tokens",
    oracle="""
        SELECT doc_id, CAST(p.i AS BIGINT) AS pos, p.t AS token
        FROM (
            SELECT doc_id, unnest([{'i': i, 't': toks[i]} for i in range(1, len(toks) + 1)]) AS p
            FROM (
                SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
                FROM documents WHERE doc_id < 50
            )
        )
    """,
    doc="Positional explode (LATERAL VIEW posexplode): token with 1-based position",
    tags=("projection", "explode"),
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return (
        docs.select("doc_id", F.posexplode(tokens("text")).alias("pos0", "token"))
        .select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "token")
    )


@register(
    "not_in_subquery",
    oracle="""
        SELECT o_orderkey, o_custkey
        FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
    doc="NOT IN subquery (anti-join form; keys are non-null so semantics align)",
    tags=("subquery", "join"),
)
def q_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bad = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        o.join(bad, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select("o_orderkey", "o_custkey")
    )


@register(
    "union_all_tagged",
    oracle="""
        SELECT side, count(*) AS n, round(sum(v), 2) AS total
        FROM (
            SELECT 'order' AS side, o_totalprice AS v FROM orders WHERE o_orderstatus = 'O'
            UNION ALL
            SELECT 'account' AS side, c_acctbal AS v FROM customer WHERE c_acctbal > 0
        )
        GROUP BY side
    """,
    doc="UNION ALL (bag semantics) of two tagged sources, re-aggregated",
    tags=("setop",),
)
def q_union_all_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select(F.lit("order").alias("side"), F.col("o_totalprice").alias("v"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select(F.lit("account").alias("side"), F.col("c_acctbal").alias("v"))
    )
    return o.unionAll(c).groupBy("side").agg(
        F.count("*").alias("n"), F.round(F.sum("v"), 2).alias("total")
    )


@register(
    "sessionize",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sessions
        GROUP BY user_id
    """,
    doc="Sessionization: lag-gap > 10 min starts a new session; per-user "
    "session counts (one shuffle by user, two window passes)",
    tags=("window", "sessionize"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 600_000_000), 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    wsum = W.partitionBy("user_id").orderBy("ts").rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = flagged.select(
        "user_id", F.sum("new_session").over(wsum).alias("session_id")
    )
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@register(
    "approx_aggregates",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders_exact,
               TRUE AS parts_within_5pct,
               TRUE AS orders_within_5pct,
               TRUE AS median_within_1pct
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Approximate aggregates: approx_count_distinct (HLL++) and "
    "percentile_approx (KLL-ish) per returnflag — the 100 TB path where "
    "exact distinct/percentile would shuffle the world. Oracle-gated via "
    "the accuracy-contract pattern proven on the Count-Min/Bloom entries: "
    "the engine-native sketch internals legitimately differ from DuckDB's, "
    "so the hash gate covers the exact anchors (n, exact distincts) plus "
    "CONTRACT booleans — HLL++ at rsd=0.01 within 5% (5 sigma) of the "
    "exact distinct, percentile_approx at accuracy=10000 within 1% of the "
    "exact interpolated median. The oracle asserts the contract (literal "
    "TRUE); a sketch estimate drifting out of band flips the boolean and "
    "fails the hash — so the approximation quality itself is what is "
    "driver-checked, not the engine-specific register layout. The bands "
    "sit ~5 sigma out, so a flip is overwhelmingly a code regression, not "
    "an accuracy event: the response is re-run and diagnose via "
    "approx_aggregates_debug() (raw approx vs exact per group), never "
    "widen the band (ADVICE r5)",
    tags=("agg", "approx"),
)
def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Two aggregations joined on the 3-row group key, NOT one: mixing
    # countDistinct with the heavyweight imperative sketches makes the
    # planner's Expand-based distinct rewrite key partial aggregation by
    # (group, gid, distinct-value) — and every one of those ~|distinct|
    # partial groups allocates ALL the aggregate buffers, including two
    # ~16 KB HLL++ registers and an accuracy-10000 quantile summary
    # (measured: 226 s at sf0.1 fused vs ~1 s split). Split, the sketch
    # pass keeps 3 buffers total and the distinct pass carries only
    # count buffers through its Expand.
    sketches = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median"),
    )
    exacts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts_exact"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders_exact"),
    )
    agg = sketches.join(exacts, "l_returnflag")
    within = lambda approx, exact, tol: (  # noqa: E731
        F.abs(F.col(approx).cast("double") - F.col(exact).cast("double"))
        / F.col(exact).cast("double")
        <= tol
    )
    return agg.select(
        "l_returnflag",
        "n",
        "n_parts_exact",
        "n_orders_exact",
        within("approx_parts", "n_parts_exact", 0.05).alias("parts_within_5pct"),
        within("approx_orders", "n_orders_exact", 0.05).alias("orders_within_5pct"),
        within("approx_median", "exact_median", 0.01).alias("median_within_1pct"),
    )


def approx_aggregates_debug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic companion to ``approx_aggregates`` (ADVICE r5): the raw
    sketch estimates next to their exact anchors and relative errors, so
    an out-of-band contract flip in the hashed row is diagnosable without
    editing the query. Not a catalog entry — the raw estimates are
    engine-specific and can never sit under the cross-engine hash gate."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median"),
    )
    rel = lambda a, e: F.abs(  # noqa: E731
        F.col(a).cast("double") / F.col(e).cast("double") - 1.0
    )
    return agg.select(
        "l_returnflag", "approx_parts", "exact_parts",
        rel("approx_parts", "exact_parts").alias("parts_rel_err"),
        "approx_orders", "exact_orders",
        rel("approx_orders", "exact_orders").alias("orders_rel_err"),
        "approx_median", "exact_median",
        rel("approx_median", "exact_median").alias("median_rel_err"),
    )


@register(
    "distinct_counts_exact",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Exact twin of approx_aggregates: the same distinct counts computed "
    "exactly, giving the sketch family a hard oracle-checked row (VERDICT "
    "r1 next-round #6); the HLL estimates are accuracy-gated against these "
    "in tests (within 5%)",
    tags=("agg", "approx"),
)
def q_distinct_counts_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        F.count("*").alias("n"),
    )


# KMV sketch size: estimate quality ~ 1/sqrt(K) (±6% at K=256)
KMV_K = 256


@register(
    "kmv_distinct_estimate",
    oracle=f"""
        WITH hashes AS (
            SELECT DISTINCT {portable_hash64_sql('CAST(l_partkey AS VARCHAR)')} AS h
            FROM lineitem
        ),
        mink AS (
            SELECT h FROM hashes ORDER BY h LIMIT {KMV_K}
        ),
        kth AS (
            SELECT max(h) AS hk, CAST(count(*) AS BIGINT) AS k FROM mink
        )
        SELECT k,
               hk AS kth_hash,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS true_distinct,
               CAST(floor((kth.k - 1) * pow(2.0, 60) / kth.hk) AS BIGINT) AS kmv_estimate,
               round(abs((kth.k - 1) * pow(2.0, 60) / kth.hk
                         - count(DISTINCT l_partkey))
                     / count(DISTINCT l_partkey), 6) AS rel_err
        FROM lineitem, kth
        GROUP BY kth.k, kth.hk
    """,
    doc="K-minimum-values distinct-count sketch, the ORACLE-CHECKABLE "
    "approximate-distinct: keep the K=256 smallest 60-bit key hashes; the "
    "K-th smallest estimates density, so distinct ~ (K-1)*2^60/h_K. "
    "Unlike engine-native HLL (approx_aggregates, whose sketch internals "
    "legitimately differ per engine and are therefore contract-gated, "
    "not value-gated), KMV over the portable hash is "
    "DETERMINISTIC and bit-identical in both engines, so the estimate "
    "itself sits under the hash gate — with the true count and relative "
    "error (~1/sqrt(K)) alongside. Scale shape: the min-K is "
    "TakeOrderedAndProject over de-duplicated hashes; production keeps "
    "per-partition K-heaps and merges (the Spark-native partial-aggregate "
    "path approx_aggregates demonstrates)",
    tags=("agg", "approx", "sampling"),
)
def q_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    hashes = li.select(
        portable_hash64(F.col("l_partkey").cast("string")).alias("h")
    ).distinct()
    mink = hashes.orderBy("h").limit(KMV_K)
    kth = mink.agg(F.max("h").alias("hk"), F.count("*").alias("k"))
    true_d = li.agg(F.countDistinct("l_partkey").alias("true_distinct"))
    est = (F.col("k") - 1) * F.pow(F.lit(2.0), F.lit(60)) / F.col("hk")
    return (
        kth.crossJoin(F.broadcast(true_d))
        .select(
            "k",
            F.col("hk").alias("kth_hash"),
            F.col("true_distinct").cast("bigint").alias("true_distinct"),
            F.floor(est).cast("bigint").alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("true_distinct")) / F.col("true_distinct"), 6
            ).alias("rel_err"),
        )
    )


# -- deterministic mergeable quantile sketch (round-7, VERDICT r6 #6) --------

KLL_K = 1024  # target sample size; rank error ~ 1/sqrt(K) ~ 0.03


@register(
    "kll_quantile_sketch",
    oracle=f"""
        WITH keyed AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                   {portable_hash64_sql("CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")} AS h
            FROM lineitem
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM keyed),
        lvl AS (
            SELECT n_total,
                   CASE WHEN n_total <= {KLL_K} THEN 0
                        ELSE CAST(ceil(log2(n_total / {KLL_K}.0)) AS INT)
                   END AS level
            FROM n
        ),
        kept AS (
            SELECT v, n_total, level
            FROM keyed, lvl
            WHERE h % CAST(pow(2.0, level) AS BIGINT) = 0
        ),
        sk AS (
            SELECT n_total, level, CAST(count(*) AS BIGINT) AS m_kept,
                   list_sort(list(v)) AS vs
            FROM kept GROUP BY n_total, level
        ),
        ests AS (
            SELECT n_total, level, m_kept,
                   vs[greatest(1, CAST(ceil(0.50 * m_kept) AS INT))] AS est_p50,
                   vs[greatest(1, CAST(ceil(0.90 * m_kept) AS INT))] AS est_p90,
                   vs[greatest(1, CAST(ceil(0.99 * m_kept) AS INT))] AS est_p99
            FROM sk
        )
        SELECT e.n_total, CAST(e.level AS BIGINT) AS level, e.m_kept,
               e.est_p50, e.est_p90, e.est_p99,
               round(abs(sum(CASE WHEN k.v <= e.est_p50 THEN 1 ELSE 0 END)::DOUBLE
                         / e.n_total - 0.50), 6) AS rank_err_p50,
               round(abs(sum(CASE WHEN k.v <= e.est_p90 THEN 1 ELSE 0 END)::DOUBLE
                         / e.n_total - 0.90), 6) AS rank_err_p90,
               round(abs(sum(CASE WHEN k.v <= e.est_p99 THEN 1 ELSE 0 END)::DOUBLE
                         / e.n_total - 0.99), 6) AS rank_err_p99,
               (abs(sum(CASE WHEN k.v <= e.est_p50 THEN 1 ELSE 0 END)::DOUBLE
                    / e.n_total - 0.50) <= 0.05) AS p50_ok,
               (abs(sum(CASE WHEN k.v <= e.est_p90 THEN 1 ELSE 0 END)::DOUBLE
                    / e.n_total - 0.90) <= 0.05) AS p90_ok,
               (abs(sum(CASE WHEN k.v <= e.est_p99 THEN 1 ELSE 0 END)::DOUBLE
                    / e.n_total - 0.99) <= 0.05) AS p99_ok
        FROM keyed k, ests e
        GROUP BY e.n_total, e.level, e.m_kept, e.est_p50, e.est_p90, e.est_p99
    """,
    doc="Deterministic mergeable quantile sketch in the KLL spirit, fully "
    "value-gated (unlike percentile_approx, whose engine-native sketch "
    "internals are contract-gated in approx_aggregates): level-L "
    "subsampling keeps rows whose 60-bit portable key-hash is divisible "
    "by 2^L, with L chosen so the kept sample is ~K=1024 rows regardless "
    "of n — each kept row represents weight 2^L, and because the level-"
    "(L+1) sample is a SUBSET of the level-L sample (2^(L+1) | h implies "
    "2^L | h), sketches built at different levels merge by re-filtering "
    "the finer one to the coarser level: the classic coordinated-sampling "
    "merge. Quantile estimates read the ceil(q*m)-th order statistic of "
    "the bounded sorted sample (a one-row array aggregate, never a "
    "vocabulary-wide window); a second pass computes each estimate's TRUE "
    "rank from exact integer counts, emitting rank errors and the "
    "~1/sqrt(K) accuracy-contract booleans. Both passes are replayed "
    "bit-for-bit by DuckDB (the hash is portable, the level formula "
    "closed-form, the order statistic deterministic). Scale shape: one "
    "narrow filter+aggregate per pass, sample bounded at K rows — no "
    "Expand, no buffer blowup (the approx_aggregates lesson), no global "
    "sort.",
    tags=("agg", "approx", "sampling", "sketch"),
)
def q_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.col("l_extendedprice").cast("double").alias("v"),
        portable_hash64(
            F.concat_ws(
                "|",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("h"),
    )
    n = keyed.agg(F.count("*").cast("bigint").alias("n_total"))
    lvl = n.select(
        "n_total",
        F.when(F.col("n_total") <= KLL_K, F.lit(0))
        .otherwise(F.ceil(F.log2(F.col("n_total") / float(KLL_K))))
        .cast("int")
        .alias("level"),
    )
    kept = keyed.crossJoin(F.broadcast(lvl)).where(
        F.pmod(F.col("h"), F.pow(F.lit(2.0), F.col("level")).cast("bigint")) == 0
    )
    sk = kept.groupBy("n_total", "level").agg(
        F.count("*").cast("bigint").alias("m_kept"),
        F.array_sort(F.collect_list("v")).alias("vs"),
    )

    def order_stat(q: float):
        idx = F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("m_kept"))).cast("int")
        return F.element_at(F.col("vs"), idx)

    ests = sk.select(
        "n_total", "level", "m_kept",
        order_stat(0.50).alias("est_p50"),
        order_stat(0.90).alias("est_p90"),
        order_stat(0.99).alias("est_p99"),
    )
    joined = keyed.select("v").crossJoin(F.broadcast(ests))

    def rank_err(est_col: str, q: float):
        return F.abs(
            F.sum((F.col("v") <= F.col(est_col)).cast("int")).cast("double")
            / F.col("n_total")
            - F.lit(q)
        )

    return joined.groupBy(
        "n_total", "level", "m_kept", "est_p50", "est_p90", "est_p99"
    ).agg(
        F.round(rank_err("est_p50", 0.50), 6).alias("rank_err_p50"),
        F.round(rank_err("est_p90", 0.90), 6).alias("rank_err_p90"),
        F.round(rank_err("est_p99", 0.99), 6).alias("rank_err_p99"),
        (rank_err("est_p50", 0.50) <= 0.05).alias("p50_ok"),
        (rank_err("est_p90", 0.90) <= 0.05).alias("p90_ok"),
        (rank_err("est_p99", 0.99) <= 0.05).alias("p99_ok"),
    ).select(
        "n_total", F.col("level").cast("bigint").alias("level"), "m_kept",
        "est_p50", "est_p90", "est_p99",
        "rank_err_p50", "rank_err_p90", "rank_err_p99",
        "p50_ok", "p90_ok", "p99_ok",
    )


# -- theta-sketch set operations (round-8 growth) -------------------------------

# Theta/KMV sketch set algebra (Dasgupta, Lang, Rhodes, Thaler: "A Framework
# for Estimating Stream Expression Cardinalities", and the Apache DataSketches
# theta sketch): keep the K smallest key hashes per set; theta = the shared
# K-th-minimum threshold; any set expression is estimated by counting
# retained hashes below theta and scaling by the sampled hash-space
# fraction. Like kmv_distinct_estimate (and unlike engine-native HLL) the
# sketch is built on the portable 60-bit hash, so it is DETERMINISTIC and
# bit-identical in Spark and DuckDB — the estimates themselves sit under
# the value-hash gate.
THETA_K = 256
_H_SPACE = float(2**60)


@register(
    "theta_sketch_setops",
    oracle=f"""
        WITH keyed AS (
            SELECT l_orderkey,
                   max(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS in_a,
                   max(CASE WHEN l_discount > 0.09 THEN 1 ELSE 0 END) AS in_b
            FROM lineitem
            GROUP BY l_orderkey
        ),
        marked AS (
            SELECT {portable_hash64_sql('CAST(l_orderkey AS VARCHAR)')} AS h,
                   in_a, in_b
            FROM keyed WHERE in_a = 1 OR in_b = 1
        ),
        sk_a AS (SELECT h FROM marked WHERE in_a = 1 ORDER BY h LIMIT {THETA_K}),
        sk_b AS (SELECT h FROM marked WHERE in_b = 1 ORDER BY h LIMIT {THETA_K}),
        th AS (
            SELECT least(
                (SELECT CASE WHEN count(*) < {THETA_K} THEN {2**60}
                        ELSE max(h) END FROM sk_a),
                (SELECT CASE WHEN count(*) < {THETA_K} THEN {2**60}
                        ELSE max(h) END FROM sk_b)) AS theta
        ),
        merged AS (
            SELECT h, count(*) AS cnt
            FROM (SELECT h FROM sk_a UNION ALL SELECT h FROM sk_b)
            GROUP BY h
        ),
        counts AS (
            SELECT CAST(count(CASE WHEN h < theta THEN 1 END) AS BIGINT)
                       AS n_union_retained,
                   CAST(count(CASE WHEN cnt = 2 AND h < theta THEN 1 END) AS BIGINT)
                       AS n_inter_retained,
                   max(theta) AS theta
            FROM merged, th
        ),
        exact AS (
            SELECT CAST(count(*) AS BIGINT) AS true_union,
                   CAST(sum(in_a * in_b) AS BIGINT) AS true_inter
            FROM keyed WHERE in_a = 1 OR in_b = 1
        )
        SELECT {THETA_K} AS k,
               c.theta,
               c.n_union_retained,
               c.n_inter_retained,
               CAST(floor(c.n_union_retained * {_H_SPACE} / nullif(c.theta, 0))
                   AS BIGINT) AS est_union,
               CAST(floor(c.n_inter_retained * {_H_SPACE} / nullif(c.theta, 0))
                   AS BIGINT) AS est_inter,
               e.true_union,
               e.true_inter,
               round(abs(c.n_union_retained * {_H_SPACE} / nullif(c.theta, 0)
                         - e.true_union)
                     / nullif(e.true_union, 0), 6) AS union_rel_err,
               round(abs(c.n_inter_retained * {_H_SPACE} / nullif(c.theta, 0)
                         - e.true_inter)
                     / nullif(e.true_inter, 0), 6) AS inter_rel_err,
               round(c.n_inter_retained::DOUBLE / nullif(c.n_union_retained, 0), 6)
                   AS jaccard_est,
               round(e.true_inter::DOUBLE / nullif(e.true_union, 0), 6)
                   AS jaccard_true
        FROM counts c, exact e
    """,
    doc="Theta-sketch set algebra (Apache DataSketches semantics) over the "
    "portable 60-bit hash: set A = orders containing a quantity>45 line, "
    "set B = orders containing a discount>0.09 line; each keeps its "
    f"K={THETA_K} minimum key hashes, theta = the smaller K-th minimum, "
    "and union/intersection cardinalities are estimated as "
    "(retained hashes below theta) x hash_space/theta — the composable "
    "distinct-count algebra KMV alone lacks (kmv_distinct_estimate is the "
    "single-set special case). Exact counts and relative errors (~1/"
    "sqrt(K)) ride alongside, plus the sketch-Jaccard vs true Jaccard. "
    "Deterministic in both engines, so the ESTIMATES sit under the hash "
    "gate. 100 TB shape: one narrow per-key aggregate (map-side combine "
    "on l_orderkey), two TakeOrdered(K) sketch builds over it, then all "
    "remaining algebra on <=2K broadcast-size rows; production unions "
    "per-partition K-heaps instead of a global TakeOrdered, exactly the "
    "partial-aggregate path approx_aggregates demonstrates.",
    tags=("agg", "approx", "sampling", "setops"),
)
def q_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    keyed = (
        li.groupBy("l_orderkey")
        .agg(
            F.max((F.col("l_quantity") > 45).cast("int")).alias("in_a"),
            F.max((F.col("l_discount") > 0.09).cast("int")).alias("in_b"),
        )
        .where((F.col("in_a") == 1) | (F.col("in_b") == 1))
    )
    marked = keyed.select(
        portable_hash64(F.col("l_orderkey").cast("string")).alias("h"),
        "in_a",
        "in_b",
    )
    sk_a = marked.where(F.col("in_a") == 1).select("h").orderBy("h").limit(THETA_K)
    sk_b = marked.where(F.col("in_b") == 1).select("h").orderBy("h").limit(THETA_K)

    def _kth(sk: DataFrame, name: str) -> DataFrame:
        return sk.agg(
            F.when(F.count("*") < THETA_K, F.lit(2**60))
            .otherwise(F.max("h"))
            .alias(name)
        )

    th = (
        _kth(sk_a, "th_a")
        .crossJoin(F.broadcast(_kth(sk_b, "th_b")))
        .select(F.least("th_a", "th_b").alias("theta"))
    )
    merged = sk_a.unionAll(sk_b).groupBy("h").agg(F.count("*").alias("cnt"))
    counts = (
        merged.crossJoin(F.broadcast(th))
        .agg(
            F.count(F.when(F.col("h") < F.col("theta"), 1))
            .cast("bigint")
            .alias("n_union_retained"),
            F.count(F.when((F.col("cnt") == 2) & (F.col("h") < F.col("theta")), 1))
            .cast("bigint")
            .alias("n_inter_retained"),
            F.max("theta").alias("theta"),
        )
    )
    exact = keyed.agg(
        F.count("*").cast("bigint").alias("true_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("true_inter"),
    )
    # every data-dependent denominator is nullif-guarded: on a degenerate
    # (empty) input theta/true counts hit 0 and ANSI division would raise
    est_u = F.col("n_union_retained") * _H_SPACE / F.nullif(F.col("theta"), F.lit(0))
    est_i = F.col("n_inter_retained") * _H_SPACE / F.nullif(F.col("theta"), F.lit(0))
    return (
        counts.crossJoin(F.broadcast(exact))
        .select(
            F.lit(THETA_K).cast("int").alias("k"),
            "theta",
            "n_union_retained",
            "n_inter_retained",
            F.floor(est_u).cast("bigint").alias("est_union"),
            F.floor(est_i).cast("bigint").alias("est_inter"),
            "true_union",
            "true_inter",
            F.round(
                F.abs(est_u - F.col("true_union"))
                / F.nullif(F.col("true_union"), F.lit(0)),
                6,
            ).alias("union_rel_err"),
            F.round(
                F.abs(est_i - F.col("true_inter"))
                / F.nullif(F.col("true_inter"), F.lit(0)),
                6,
            ).alias("inter_rel_err"),
            F.round(
                F.col("n_inter_retained").cast("double")
                / F.nullif(F.col("n_union_retained"), F.lit(0)),
                6,
            ).alias("jaccard_est"),
            F.round(
                F.col("true_inter").cast("double")
                / F.nullif(F.col("true_union"), F.lit(0)),
                6,
            ).alias("jaccard_true"),
        )
    )


# -- AMS (Alon-Matias-Szegedy) F2 / self-join-size sketch (round 9) ----------

AMS_ROWS = 16  # +/-1 sketch rows; estimator std-err ~ sqrt(2/R) per group
AMS_GROUPS = 4  # median-of-means groups (4 rows each)


@register(
    "ams_f2_sketch_estimate",
    oracle=f"""
        WITH signed AS (
            SELECT r.k AS r,
                   CASE WHEN {portable_hash64_sql(
                       "CAST(user_id AS VARCHAR) || '#' || CAST(r.k AS VARCHAR)"
                   )} % 2 = 0 THEN 1 ELSE -1 END AS s
            FROM events, (SELECT unnest(range(0, {AMS_ROWS})) AS k) r
        ),
        srows AS (
            SELECT r, CAST(sum(s) AS BIGINT) AS s_r FROM signed GROUP BY r
        ),
        sq AS (
            SELECT r, r // {AMS_ROWS // AMS_GROUPS} AS g, s_r * s_r AS sq_r
            FROM srows
        ),
        grp AS (
            SELECT g, CAST(sum(sq_r) AS BIGINT) / {AMS_ROWS // AMS_GROUPS}.0
                   AS gmean
            FROM sq GROUP BY g
        ),
        est AS (
            SELECT CAST(sum(sq_r) AS BIGINT) AS sum_sq,
                   CAST(sum(sq_r) AS BIGINT) / {AMS_ROWS}.0 AS f2_mean,
                   (SELECT median(gmean) FROM grp) AS f2_mom
            FROM sq
        ),
        exact AS (
            SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact
            FROM (SELECT CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY user_id)
        )
        SELECT {AMS_ROWS} AS n_rows,
               {AMS_GROUPS} AS n_groups,
               e.sum_sq,
               x.f2_exact,
               e.f2_mean AS f2_est_mean,
               e.f2_mom AS f2_est_mom,
               round(abs(e.f2_mean - x.f2_exact) / x.f2_exact, 6)
                   AS rel_err_mean,
               round(abs(e.f2_mom - x.f2_exact) / x.f2_exact, 6)
                   AS rel_err_mom
        FROM est e, exact x
    """,
    doc="AMS F2 / self-join-size sketch (Alon-Matias-Szegedy STOC'96) over "
    f"events.user_id: {AMS_ROWS} independent +/-1 rows (sign = one bit of "
    "the portable hash of user_id#row), each row keeps ONE integer "
    "accumulator S_r = sum of signs over the stream; E[S_r^2] = F2 = "
    "sum_u c_u^2, the self-join size the optimizer needs to price "
    "events-x-events on user_id without computing it. Mean-of-squares and "
    f"median-of-means ({AMS_GROUPS} groups) estimators both ride, with "
    "the exact F2 and relative errors alongside (the kmv_distinct_"
    "estimate pattern for second moments). Every quantity through the "
    "estimators is an exact bigint or an exact binary fraction (/16, /4, "
    "median = midpoint of two such), so the ESTIMATES sit under the hash "
    "gate with no rounding exposure. 100 TB shape: the explode-by-16 is "
    "map-side compute; partial aggregation collapses each partition to "
    f"{AMS_ROWS} partial sums before the shuffle, so the wire is "
    f"{AMS_ROWS} x n_partitions rows regardless of input size — the "
    "sketch never materializes per-key counts (the exact twin's groupBy "
    "does, and is the expensive path the sketch replaces at scale).",
    tags=("agg", "approx", "sketch"),
)
def q_ams_f2_sketch_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("u")
    )
    rpk = AMS_ROWS // AMS_GROUPS
    signed = ev.select(
        F.explode(F.sequence(F.lit(0), F.lit(AMS_ROWS - 1))).alias("r"),
        "u",
    ).select(
        "r",
        F.when(
            portable_hash64(
                F.concat(F.col("u"), F.lit("#"), F.col("r").cast("string"))
            )
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    srows = signed.groupBy("r").agg(F.sum("s").cast("bigint").alias("s_r"))
    sq = srows.select(
        "r",
        F.expr(f"r div {rpk}").alias("g"),
        (F.col("s_r") * F.col("s_r")).alias("sq_r"),
    )
    grp = sq.groupBy("g").agg(
        (F.sum("sq_r").cast("bigint") / F.lit(float(rpk))).alias("gmean")
    )
    mom = grp.agg(F.expr("percentile(gmean, 0.5)").alias("f2_mom"))
    est = sq.agg(
        F.sum("sq_r").cast("bigint").alias("sum_sq"),
        (F.sum("sq_r").cast("bigint") / F.lit(float(AMS_ROWS))).alias("f2_mean"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact"))
    )
    return (
        est.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(AMS_ROWS).cast("int").alias("n_rows"),
            F.lit(AMS_GROUPS).cast("int").alias("n_groups"),
            "sum_sq",
            "f2_exact",
            F.col("f2_mean").alias("f2_est_mean"),
            F.col("f2_mom").alias("f2_est_mom"),
            F.round(
                F.abs(F.col("f2_mean") - F.col("f2_exact")) / F.col("f2_exact"), 6
            ).alias("rel_err_mean"),
            F.round(
                F.abs(F.col("f2_mom") - F.col("f2_exact")) / F.col("f2_exact"), 6
            ).alias("rel_err_mom"),
        )
    )
