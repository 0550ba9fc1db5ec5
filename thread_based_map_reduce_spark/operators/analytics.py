"""Round-4 analytical operators: Pareto skyline, gaps-and-islands streaks,
and exact exponential-decay trend scoring.

These fill classic-OLAP gaps the catalog did not yet cover (dominance
queries, longest-run islands, decayed popularity) — each a pattern a
training-data curation stack leans on (Pareto-filtering quality/cost
tradeoffs, per-user behavioral runs, recency-weighted source trending).
The reference engine has no relational surface at all (it is a ~580-LoC
pthread MapReduce library, ``MapReduceFramework.cpp``), so these are
engine extensions in the SURVEY §2.3 sense; correctness is proven by the
independent DuckDB oracle, not by reference parity.

Scale notes are inline per operator; the common theme is: no global
single-task window anywhere — the skyline's cumulative max runs as
256 parallel range-bucket windows plus a broadcast bucket-prefix
(the ``_global_rank_layouts`` shape from ``layout.py`` lifted from ranks to
maxima), streaks shuffle once on ``user_id``, and the decay operator
works entirely on the tiny (hour × type) aggregate grid.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..plans.catalog import register
from ..sources.registry import load_table

# Fan-out of the skyline's cumulative-max stage. Buckets are uniform price
# ranges, so bucket id is monotone in price — the precondition for the
# two-level (local window + broadcast prefix) reconstruction.
SKYLINE_BUCKETS = 256

# Exponential-decay window: 8 trailing hours with weights 128,64,...,1
# (w_k = 2^(7-k) for lag k). Integer weights over integer counts keep the
# weighted sum EXACT in both engines; the single final division by the
# weight total (255) is the only float op, rounded on both sides.
DECAY_HOURS = 8


def pareto_skyline(df: DataFrame, minimize: str, maximize: str) -> DataFrame:
    """Generic distributed 2-D skyline: rows of ``df`` not dominated under
    (minimize ``minimize``, maximize ``maximize``). Returns ``df``'s rows
    filtered to the frontier. Algorithm: best-per-price aggregate, then the
    strictly-cheaper running max rebuilt from range-bucket windows plus a
    broadcast bucket-prefix — no all-pairs stage, no single-task window.
    Property-tested against a brute-force python oracle on random inputs
    (tests/test_property_analytics.py)."""
    part = df
    # Stage 1: collapse to the (distinct price -> best size) frontier
    # candidates. One hash aggregation on the narrow price key; output
    # cardinality is #distinct prices, typically orders of magnitude
    # smaller than the table.
    bp = part.groupBy(F.col(minimize).alias("pr")).agg(
        F.max(maximize).alias("bs")
    )
    # Stage 2: M(pr) = max bs over STRICTLY cheaper prices, computed as
    # local per-bucket running max + broadcast prefix of per-bucket maxima.
    # nullif guards the degenerate all-one-price input (ADVICE r3 lesson).
    bounds = bp.agg(
        F.min("pr").alias("minp"), F.max("pr").alias("maxp")
    )
    bucketed = bp.crossJoin(F.broadcast(bounds)).select(
        "pr",
        "bs",
        F.least(
            F.lit(SKYLINE_BUCKETS - 1),
            F.coalesce(
                F.floor(
                    (F.col("pr") - F.col("minp"))
                    * SKYLINE_BUCKETS
                    / F.nullif(F.col("maxp") - F.col("minp"), F.lit(0.0))
                ),
                F.lit(0),
            ),
        ).alias("_b"),
    )
    wlocal = (
        W.partitionBy("_b").orderBy("pr").rowsBetween(W.unboundedPreceding, -1)
    )
    local = bucketed.withColumn("_mloc", F.max("bs").over(wlocal))
    # Bucket prefix: one row per bucket (<= 256), so this window is bounded
    # by construction — broadcast back to the candidates.
    bmax = bucketed.groupBy("_b").agg(F.max("bs").alias("_bm"))
    wpre = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    prefix = bmax.select("_b", F.max("_bm").over(wpre).alias("_mpre"))
    m = local.join(F.broadcast(prefix), "_b").select(
        "pr", "bs", F.greatest(F.col("_mloc"), F.col("_mpre")).alias("m")
    )
    # Stage 3: join the frontier verdict back to the rows. A row is on
    # the skyline iff it has the best size AT its price and no strictly
    # cheaper price reaches that size. Equi-join on price — hash, AQE-
    # splittable; no inequality join anywhere.
    return (
        part.join(m, part[minimize] == m.pr)
        .where(
            (F.col(maximize) == F.col("bs"))
            & (F.col("m").isNull() | (F.col("m") < F.col(maximize)))
        )
        .select(*df.columns)
    )


@register(
    "skyline_pareto_parts",
    # Independent oracle: the textbook NOT-EXISTS dominance test — a
    # deliberately different algorithm from the Spark two-level cumulative
    # max, so an implementation bug cannot cancel out in the comparison.
    oracle="""
        SELECT p.p_partkey,
               round(p.p_retailprice, 2) AS price,
               CAST(p.p_size AS BIGINT) AS size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
        )
    """,
    doc="Pareto skyline (minimize price, maximize size) without any "
    "all-pairs stage: best-size-per-price aggregate, then the strictly-"
    "cheaper running max reconstructed from 256 parallel range-bucket "
    "windows plus a broadcast bucket-prefix — the oracle is the O(n^2) "
    "NOT-EXISTS definition, the plan is O(n log n)-ish with no single-task "
    "window, so it survives a 100 TB part table",
    tags=("relational", "skyline", "window"),
)
def q_skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return pareto_skyline(part, "p_retailprice", "p_size").select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("bigint").alias("size"),
    )


@register(
    "longest_streak_per_user",
    oracle="""
        WITH numbered AS (
            SELECT user_id, event_type, ts, event_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   )
                   - row_number() OVER (
                       PARTITION BY user_id, event_type ORDER BY ts, event_id
                   ) AS grp
            FROM events
        ),
        islands AS (
            SELECT user_id, event_type,
                   CAST(count(*) AS BIGINT) AS streak_len,
                   CAST(min(epoch_us(ts)) AS BIGINT) AS start_us
            FROM numbered
            GROUP BY user_id, event_type, grp
        )
        SELECT user_id, event_type, streak_len, start_us
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY streak_len DESC, start_us, event_type
                   ) AS rk
            FROM islands
        )
        WHERE rk = 1
    """,
    doc="Longest run of consecutive identical event types per user via the "
    "gaps-and-islands double row_number — all three windows partition by "
    "user_id, so the whole query is ONE shuffle on the user key and every "
    "window task is bounded by a single user's history (the natural unit "
    "at any scale); ties broken by start time then type for cross-engine "
    "determinism",
    tags=("relational", "window", "sessionize"),
)
def q_longest_streak_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return longest_streaks(ev)


def longest_streaks(ev: DataFrame) -> DataFrame:
    """Gaps-and-islands longest run of identical ``event_type`` per
    ``user_id``, ordered by (ts, event_id). Property-tested against a
    single-pass python oracle on random sequences
    (tests/test_property_analytics.py)."""
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    numbered = ev.withColumn(
        "grp", F.row_number().over(w_all) - F.row_number().over(w_typ)
    )
    islands = numbered.groupBy("user_id", "event_type", "grp").agg(
        F.count("*").alias("streak_len"),
        F.min(F.unix_micros("ts")).alias("start_us"),
    )
    w_best = W.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), "start_us", "event_type"
    )
    return (
        islands.withColumn("rk", F.row_number().over(w_best))
        .where(F.col("rk") == 1)
        .select("user_id", "event_type", "streak_len", "start_us")
    )


@register(
    "events_decayed_trend",
    oracle=f"""
        WITH hc AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
                   CAST(count(*) AS BIGINT) AS n
            FROM events
            GROUP BY 1, 2
        ),
        contrib AS (
            SELECT event_type,
                   hour_s + k * 3600 AS target_s,
                   n * (128 >> k) AS wn
            FROM hc, (SELECT unnest(range(0, {DECAY_HOURS})) AS k)
        )
        SELECT hc.event_type,
               hc.hour_s AS hour_start_s,
               hc.n,
               CAST(sum(c.wn) AS BIGINT) AS decayed_units,
               round(sum(c.wn) / 255.0, 6) AS decayed
        FROM hc
        JOIN contrib c
          ON c.event_type = hc.event_type AND c.target_s = hc.hour_s
        GROUP BY hc.event_type, hc.hour_s, hc.n
    """,
    doc="Recency-decayed hourly trend score: each hour's count contributes "
    "2^(7-k) weight-units to the k hours after it (8-hour exponential "
    "half-life-per-hour decay), via explode+re-aggregate on the tiny "
    "(hour x type) grid — robust to missing hours (a gap contributes "
    "nothing, unlike a lag()-chain which would silently read the wrong "
    "row), exact in integer units in both engines, one float division at "
    "the very end; the grid is metadata-sized however large events gets",
    tags=("relational", "timeseries", "window"),
)
def q_events_decayed_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("hour_s"),
    ).agg(F.count("*").alias("n"))
    # weights 128,64,...,1 for lags 0..7: shiftright keeps it integer-exact
    contrib = hc.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(DECAY_HOURS - 1))).alias("k"),
        "hour_s",
        "n",
    ).select(
        "event_type",
        (F.col("hour_s") + F.col("k") * 3600).alias("target_s"),
        (F.col("n") * F.expr("shiftright(128L, CAST(k AS INT))")).alias("wn"),
    )
    summed = contrib.groupBy(
        F.col("event_type").alias("c_type"), "target_s"
    ).agg(F.sum("wn").alias("units"))
    # inner join back to the real hour grid: only hours that actually
    # occurred are emitted (and we recover their own raw count n)
    return hc.join(
        summed,
        (hc.event_type == summed.c_type) & (hc.hour_s == summed.target_s),
    ).select(
        "event_type",
        F.col("hour_s").alias("hour_start_s"),
        "n",
        F.col("units").cast("bigint").alias("decayed_units"),
        F.round(F.col("units") / 255.0, 6).alias("decayed"),
    )


@register(
    "ohlc_bars_hourly",
    oracle="""
        WITH ranked AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start_s,
                   value,
                   row_number() OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts, event_id
                   ) AS rf,
                   row_number() OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC
                   ) AS rl
            FROM events
        )
        SELECT event_type, hour_start_s,
               CAST(count(*) AS BIGINT) AS n,
               max(CASE WHEN rf = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rl = 1 THEN value END) AS close
        FROM ranked
        GROUP BY event_type, hour_start_s
    """,
    doc="OHLC bars: per (event_type, hour) the first/max/min/last value — "
    "the standard time-series downsampling rollup. First/last are picked "
    "by (ts, event_id) row_numbers so ties are deterministic; both windows "
    "and the final aggregate share the same (type, hour) partition key, so "
    "the whole query is one shuffle and every window task is bounded by "
    "one hour of one event type. Values are selected, never accumulated — "
    "bit-exact across engines without rounding",
    tags=("relational", "timeseries", "window"),
)
def q_ohlc_bars_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value",
        F.date_trunc("hour", "ts").alias("hour"),
    )
    w_f = W.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    w_l = W.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type",
        F.unix_seconds("hour").alias("hour_start_s"),
        "value",
        F.row_number().over(w_f).alias("rf"),
        F.row_number().over(w_l).alias("rl"),
    )
    return ranked.groupBy("event_type", "hour_start_s").agg(
        F.count("*").alias("n"),
        F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("close"),
    )


@register(
    "mad_outliers_by_type",
    oracle="""
        WITH med AS (
            SELECT event_type, median(value) AS med
            FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(any_value(d.med), 6) AS med,
               round(any_value(m.mad), 6) AS mad,
               CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               round(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                              THEN 1 ELSE 0 END) / count(*), 6) AS outlier_frac
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY d.event_type
    """,
    doc="Robust outlier detection via median absolute deviation: per event "
    "type, median, MAD, and the count beyond the 3-sigma-equivalent "
    "(1.4826*MAD) robust fence — the heavy-tail-safe twin of the "
    "zscore_outliers query (one extreme value shifts a mean/stddev fence, "
    "not a median/MAD one). Exact interpolated medians on both engines; "
    "two narrow passes over events with the tiny per-type medians "
    "broadcast back — no sort of the full table",
    tags=("relational", "diagnostics"),
)
def q_mad_outliers_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy(F.col("event_type").alias("m_type")).agg(
        F.median("adev").alias("mad")
    )
    fenced = dev.join(
        F.broadcast(mad), F.col("event_type") == F.col("m_type")
    ).withColumn(
        "is_out",
        F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0),
    )
    return fenced.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.any_value("med"), 6).alias("med"),
        F.round(F.any_value("mad"), 6).alias("mad"),
        F.sum("is_out").cast("bigint").alias("n_outliers"),
        F.round(F.sum("is_out") / F.count("*"), 6).alias("outlier_frac"),
    )


@register(
    "value_percentile_bands",
    oracle="""
        SELECT event_type,
               CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start_s,
               CAST(count(*) AS BIGINT) AS n,
               round(quantile_cont(value, 0.50), 6) AS p50,
               round(quantile_cont(value, 0.90), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events
        GROUP BY 1, 2
    """,
    doc="P50/P90/P99 bands per (event_type, day) — the standard latency/"
    "value dashboard rollup. Exact interpolated percentiles (Spark "
    "percentile == DuckDB quantile_cont, the median_by_status-proven "
    "equivalence) grouped on a narrow composite key: one shuffle whose "
    "per-group sort is bounded by a single day of one event type; at "
    "100 TB the same query swaps percentile for percentile_approx and "
    "keeps the identical plan shape",
    tags=("relational", "timeseries", "percentile"),
)
def q_value_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.unix_seconds(F.date_trunc("day", "ts")).alias("day_start_s"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.percentile("value", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.90)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@register(
    "rfm_segments",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   CAST(max(epoch(o_orderdate)) AS BIGINT) AS rec,
                   CAST(count(*) AS BIGINT) AS freq,
                   sum(o_totalprice) AS mon
            FROM orders GROUP BY o_custkey
        ),
        th AS (
            SELECT quantile_cont(rec, 0.5) AS t_r,
                   quantile_cont(freq, 0.5) AS t_f,
                   quantile_cont(mon, 0.5) AS t_m
            FROM cust
        )
        SELECT CASE WHEN rec >= t_r THEN 'R+' ELSE 'R-' END
               || CASE WHEN freq >= t_f THEN 'F+' ELSE 'F-' END
               || CASE WHEN mon >= t_m THEN 'M+' ELSE 'M-' END AS segment,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(mon), 2) AS total_monetary
        FROM cust, th
        GROUP BY 1
    """,
    doc="RFM segmentation: per-customer recency (last order), frequency "
    "(order count), monetary (lifetime spend), each split at its median "
    "into 8 R/F/M segments with customer counts and segment value — the "
    "classic marketing cohort cut. One narrow aggregation over orders, "
    "three exact medians over the (much smaller) customer rollup, and the "
    "one-row threshold table broadcast back; median comparisons are "
    "identical doubles in both engines",
    tags=("relational", "agg", "percentile"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.max(F.unix_timestamp("o_orderdate")).cast("bigint").alias("rec"),
        F.count("*").alias("freq"),
        F.sum("o_totalprice").alias("mon"),
    )
    th = cust.agg(
        F.median("rec").alias("t_r"),
        F.median("freq").alias("t_f"),
        F.median("mon").alias("t_m"),
    )
    seg = F.concat(
        F.when(F.col("rec") >= F.col("t_r"), "R+").otherwise("R-"),
        F.when(F.col("freq") >= F.col("t_f"), "F+").otherwise("F-"),
        F.when(F.col("mon") >= F.col("t_m"), "M+").otherwise("M-"),
    )
    return (
        cust.crossJoin(F.broadcast(th))
        .select(seg.alias("segment"), "mon")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("mon"), 2).alias("total_monetary"),
        )
    )


@register(
    "cohort_retention_matrix",
    oracle="""
        WITH uw AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
        ),
        c AS (
            SELECT user_id, min(w) AS cw FROM uw GROUP BY user_id
        ),
        sz AS (
            SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
            FROM c GROUP BY cw
        )
        SELECT CAST(epoch(c.cw) AS BIGINT) AS cohort_week_s,
               CAST(date_diff('day', c.cw, uw.w) / 7 AS BIGINT) AS week_offset,
               CAST(count(*) AS BIGINT) AS n_active,
               any_value(sz.cohort_size) AS cohort_size,
               round(count(*) / any_value(sz.cohort_size)::DOUBLE, 6) AS retention
        FROM uw
        JOIN c ON c.user_id = uw.user_id
        JOIN sz ON sz.cw = c.cw
        GROUP BY c.cw, uw.w
    """,
    doc="The full cohort-retention triangle: users grouped by first-active "
    "week, one row per (cohort, week offset) with the surviving-user count "
    "and retention fraction — the generalization of retention_weekly's "
    "single N/N+1 step to the whole matrix. Built entirely on the distinct "
    "(user, week) grid, which is tiny relative to raw events; the per-user "
    "min is one narrow aggregation and cohort sizes broadcast back. Week "
    "boundaries are ISO Mondays in both engines",
    tags=("relational", "events", "agg"),
)
def q_cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    c = uw.groupBy(F.col("user_id").alias("c_uid")).agg(F.min("w").alias("cw"))
    sz = c.groupBy(F.col("cw").alias("s_cw")).agg(
        F.count("*").alias("cohort_size")
    )
    return (
        uw.join(c, F.col("user_id") == F.col("c_uid"))
        .join(F.broadcast(sz), F.col("cw") == F.col("s_cw"))
        .groupBy("cw", "w")
        .agg(
            F.count("*").alias("n_active"),
            F.any_value("cohort_size").alias("csize"),
        )
        .select(
            F.unix_seconds("cw").alias("cohort_week_s"),
            (F.datediff("w", "cw") / 7).cast("bigint").alias("week_offset"),
            "n_active",
            F.col("csize").alias("cohort_size"),
            F.round(
                F.col("n_active") / F.col("csize").cast("double"), 6
            ).alias("retention"),
        )
    )


@register(
    "association_rules_lift",
    oracle="""
        WITH dl AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        n AS (
            SELECT count(DISTINCT l_orderkey) AS n_orders FROM dl
        ),
        item AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM dl GROUP BY 1
        ),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(count(*) AS BIGINT) AS support
            FROM dl a JOIN dl b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= 2
        )
        SELECT part_a, part_b, support,
               round(support::DOUBLE / ia.s, 6) AS conf_ab,
               round(n.n_orders * support::DOUBLE / (ia.s * ib.s), 6) AS lift
        FROM pairs
        JOIN item ia ON ia.l_partkey = part_a
        JOIN item ib ON ib.l_partkey = part_b
        CROSS JOIN n
        ORDER BY n.n_orders * support::DOUBLE / (ia.s * ib.s) DESC, part_a, part_b
        LIMIT 20
    """,
    doc="Association rules over co-ordered part pairs: support, confidence "
    "a->b, and lift (how much more often the pair co-occurs than "
    "independence predicts), top-20 by lift. Pair supports come from the "
    "basket-local expansion (no corpus self-join, same shape as "
    "basket_part_pairs); item supports and the order count are narrow "
    "aggregates joined back; ranking on the unrounded lift (identical "
    "doubles both engines) with part-id tiebreaks. The market-basket "
    "classic, feasible at 100 TB because everything after the basket "
    "expansion is metadata-sized",
    tags=("relational", "agg", "basket"),
)
def q_association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dl = li.select("l_orderkey", "l_partkey").distinct()
    n = dl.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = dl.groupBy("l_partkey").agg(F.count("*").alias("s"))
    # basket-local pair expansion (the basket_part_pairs shape): pairs are
    # generated inside each order's sorted distinct-part array
    baskets = dl.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (a, i) -> "
                    "transform(slice(parts, i + 2, size(parts)), b -> struct(a, b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("ia_k"), F.col("s").alias("sa"))
    ib = item.select(F.col("l_partkey").alias("ib_k"), F.col("s").alias("sb"))
    lift = F.col("n_orders") * F.col("support").cast("double") / (
        F.col("sa") * F.col("sb")
    )
    return (
        pairs.join(ia, F.col("part_a") == F.col("ia_k"))
        .join(ib, F.col("part_b") == F.col("ib_k"))
        .crossJoin(F.broadcast(n))
        .orderBy(lift.desc(), "part_a", "part_b")
        .limit(20)
        .select(
            "part_a",
            "part_b",
            F.col("support").cast("bigint").alias("support"),
            F.round(F.col("support").cast("double") / F.col("sa"), 6).alias("conf_ab"),
            F.round(lift, 6).alias("lift"),
        )
    )


@register(
    "orders_backlog_monthly",
    oracle="""
        WITH closes AS (
            SELECT l_orderkey, max(l_shipdate) AS close_d FROM lineitem GROUP BY 1
        ),
        deltas AS (
            SELECT date_trunc('month', o_orderdate) AS m, 1 AS opened, 0 AS closed
            FROM orders
            UNION ALL
            SELECT date_trunc('month', c.close_d), 0, 1
            FROM closes c JOIN orders o ON o.o_orderkey = c.l_orderkey
        ),
        monthly AS (
            SELECT m, CAST(sum(opened) AS BIGINT) AS opened,
                   CAST(sum(closed) AS BIGINT) AS closed
            FROM deltas GROUP BY m
        )
        SELECT CAST(epoch(m) AS BIGINT) AS month_start_s,
               opened, closed,
               CAST(sum(opened - closed) OVER (
                   ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS open_at_end
        FROM monthly
    """,
    doc="Open-order backlog over time via the event-balance pattern: +1 at "
    "the order month, -1 at the month of its last shipment, cumulative sum "
    "= orders in flight at each month end — the WIP/backlog curve every "
    "operations dashboard needs. Raw tables collapse to one row per order "
    "then to ~80 month rows, so the cumulative window is metadata-sized "
    "(bounded by the calendar, not the data volume)",
    tags=("relational", "timeseries", "window"),
)
def q_orders_backlog_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closes = li.groupBy(F.col("l_orderkey").alias("c_key")).agg(
        F.max("l_shipdate").alias("close_d")
    )
    opened = orders.select(
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    )
    closed = (
        closes.join(orders, F.col("o_orderkey") == F.col("c_key"))
        .select(
            F.date_trunc("month", "close_d").alias("m"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
        )
    )
    monthly = (
        opened.unionAll(closed)
        .groupBy("m")
        .agg(
            F.sum("opened").cast("bigint").alias("opened"),
            F.sum("closed").cast("bigint").alias("closed"),
        )
    )
    # cumulative over ~80 calendar-month rows — bounded by the calendar
    w = W.orderBy("m").rowsBetween(W.unboundedPreceding, 0)
    return monthly.select(
        F.unix_seconds("m").alias("month_start_s"),
        "opened",
        "closed",
        F.sum(F.col("opened") - F.col("closed")).over(w).cast("bigint").alias("open_at_end"),
    )


@register(
    "events_autocorr_lag1",
    oracle="""
        WITH hc AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.event_type, a.c AS x, b.c AS y
            FROM hc a JOIN hc b
              ON b.event_type = a.event_type AND b.h = a.h + 3600
        ),
        s AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM pairs GROUP BY event_type
        )
        SELECT event_type, n,
               round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                     / nullif(sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE), 0),
                     6) AS r1
        FROM s
    """,
    doc="Lag-1 autocorrelation of hourly event counts per type — the "
    "burstiness/seasonality scalar a traffic model starts from. "
    "Consecutive-hour pairs come from an equi-join on (type, h+3600) over "
    "the tiny hourly grid (gap hours simply produce no pair, no "
    "lag()-misalignment); moments are exact bigints combined in double "
    "with identical IEEE ops both engines (the text_embedding_alignment "
    "convention); zero-variance types yield NULL, not NaN",
    tags=("relational", "timeseries", "diagnostics"),
)
def q_events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("h"),
    ).agg(F.count("*").alias("c"))
    b = hc.select(
        F.col("event_type").alias("b_type"),
        F.col("h").alias("b_h"),
        F.col("c").alias("y"),
    )
    pairs = hc.join(
        b, (F.col("b_type") == F.col("event_type")) & (F.col("b_h") == F.col("h") + 3600)
    ).select("event_type", F.col("c").alias("x"), "y")
    s = pairs.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    dn, dsx, dsy, dsxy, dsxx, dsyy = [
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    ]
    return s.select(
        "event_type",
        "n",
        F.round(
            (dn * dsxy - dsx * dsy)
            / F.nullif(
                F.sqrt(dn * dsxx - dsx * dsx) * F.sqrt(dn * dsyy - dsy * dsy),
                F.lit(0.0),
            ),
            6,
        ).alias("r1"),
    )


# --------------------------------------------------------------------------
# Least-squares trend per group: the autocorr pattern's sibling. x is the
# hour index REBASED to the corpus's first hour, so every sum (sx, sy, sxy,
# sxx) is an exact small bigint and slope/intercept derive from one
# division each — bit-identical across engines, no per-row float math.
@register(
    "trend_slope_per_type",
    oracle="""
        WITH hc AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        h0 AS (SELECT min(h) AS h0 FROM hc),
        xy AS (
            SELECT event_type, (h - h0) / 3600 AS x, y FROM hc CROSS JOIN h0
        ),
        s AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM xy GROUP BY event_type
        )
        SELECT event_type, n,
               round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / nullif(CAST(n AS DOUBLE) * sxx
                              - CAST(sx AS DOUBLE) * sx, 0), 6) AS slope_per_hour,
               round((CAST(sy AS DOUBLE)
                      - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                         / nullif(CAST(n AS DOUBLE) * sxx
                                  - CAST(sx AS DOUBLE) * sx, 0)) * sx)
                     / n, 6) AS intercept
        FROM s
    """,
    doc="Per-event-type least-squares trend: slope (events/hour drift) and "
    "intercept of hourly counts regressed on the hour index. Hour grid "
    "rebased to the corpus start so all regression sums are exact small "
    "bigints (the autocorr/alignment-audit convention); the nullif guards "
    "the single-hour degenerate grid. Scale: one (type, hour) aggregation "
    "— partial-aggregated map-side — then a per-type 5-sum rollup on the "
    "metadata-sized grid; the h0 rebase is a broadcast one-row join",
    tags=("events", "stats", "timeseries"),
)
def q_trend_slope_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("h"),
    ).agg(F.count("*").alias("y"))
    h0 = hc.agg(F.min("h").alias("h0"))
    xy = hc.crossJoin(F.broadcast(h0)).select(
        "event_type",
        ((F.col("h") - F.col("h0")) / F.lit(3600)).cast("bigint").alias("x"),
        "y",
    )
    s = xy.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    dn, dsx, dsy, dsxy, dsxx = [
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx")
    ]
    slope = (dn * dsxy - dsx * dsy) / F.nullif(dn * dsxx - dsx * dsx, F.lit(0.0))
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_per_hour"),
        F.round((dsy - slope * dsx) / dn, 6).alias("intercept"),
    )


# --------------------------------------------------------------------------
# Gini concentration of customer revenue per nation. The rank-weighted
# formula G = 2*S/(n*T) - (n+1)/n needs each customer's rank WITHIN its
# nation by revenue — computed scale-right as 64 range-bucket local windows
# plus a (nation x bucket)-sized prefix offset, never one window task per
# nation scanning all of that nation's customers. Revenue is carried as
# DECIMAL(30,6), so ranks, S and T are exact and engine-identical.
GINI_BUCKETS = 64


def bucketed_group_rank(
    df: DataFrame,
    group: str,
    value: str,
    tiebreak: str,
    buckets: int = 64,
) -> DataFrame:
    """Within-``group`` dense rank of ``value`` (ties broken by
    ``tiebreak``) WITHOUT a per-group window: uniform range buckets
    (bucket id monotone in value) give local per-(group, bucket)
    row_numbers plus a per-group bucket-prefix offset — the layout.py
    ``_global_rank_layouts`` shape parameterized by a group key, so no window
    task ever sorts a whole group. Appends column ``i`` (1-based rank).
    Property-tested against a plain window rank on random inputs
    (tests/test_property_analytics.py)."""
    bounds = df.agg(
        F.min(F.col(value).cast("double")).alias("lo"),
        F.max(F.col(value).cast("double")).alias("hi"),
    )
    bucketed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_bkt",
        F.least(
            F.lit(buckets - 1),
            F.floor(
                (F.col(value).cast("double") - F.col("lo"))
                * buckets
                / (F.col("hi") - F.col("lo") + F.lit(1.0))
            ).cast("int"),
        ),
    )
    wl = W.partitionBy(group, "_bkt").orderBy(value, tiebreak)
    local = bucketed.withColumn("_rn", F.row_number().over(wl))
    sizes = bucketed.groupBy(group, "_bkt").agg(F.count("*").alias("_sz"))
    wo = (
        W.partitionBy(group)
        .orderBy("_bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = sizes.withColumn(
        "_off", F.coalesce(F.sum("_sz").over(wo), F.lit(0))
    ).select(group, "_bkt", "_off")
    return (
        local.join(F.broadcast(offsets), [group, "_bkt"])
        .withColumn("i", (F.col("_off") + F.col("_rn")).cast("bigint"))
        .drop("_bkt", "_rn", "_off", "lo", "hi")
    )


@register(
    "revenue_gini_by_nation",
    oracle="""
        WITH rev AS (
            SELECT c.c_nationkey, o.o_custkey,
                   sum(CAST(o.o_totalprice AS DECIMAL(30,6))) AS r
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT c_nationkey, r,
                   row_number() OVER (
                       PARTITION BY c_nationkey ORDER BY r, o_custkey
                   ) AS i
            FROM rev
        ),
        g AS (
            SELECT c_nationkey,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   sum(r) AS t,
                   sum(CAST(i AS DECIMAL(18,0)) * CAST(r AS DECIMAL(18,6))) AS s
            FROM ranked GROUP BY c_nationkey
        )
        SELECT n.n_name,
               n_customers,
               CAST(round(t, 4) AS DOUBLE) AS total_rev,
               round(2.0 * CAST(s AS DOUBLE)
                     / nullif(n_customers * CAST(t AS DOUBLE), 0)
                     - (n_customers + 1.0) / n_customers, 6) AS gini
        FROM g JOIN nation n ON n.n_nationkey = g.c_nationkey
    """,
    doc="Gini coefficient of customer-revenue concentration per nation "
    "(rank-weighted formula over DECIMAL-exact revenues). The within-"
    "nation rank is NOT a per-nation window: revenues bucket into 64 "
    "uniform ranges (bucket id monotone in revenue), rank = local "
    "row_number per (nation, bucket) + broadcast per-nation bucket-prefix "
    "offset — the layout.py _global_rank_layouts shape parameterized by nation, "
    "so no task ever sorts a whole nation. Oracle uses the plain "
    "window-rank formulation; the hash gate proves the two-level rank "
    "reconstruction exact",
    tags=("agg", "stats", "window"),
)
def q_revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("r"))
    )
    # Two-level rank (range buckets + per-group bucket-prefix): shared
    # helper; bounds broadcast; +1.0 denominator guards the all-equal-
    # revenue degenerate case.
    ranked = bucketed_group_rank(
        rev, "c_nationkey", "r", "o_custkey", GINI_BUCKETS
    )
    g = ranked.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.sum("r").alias("t"),
        # i*r as DECIMAL(18,0) x DECIMAL(18,6): product precision 37 stays
        # under both engines' 38-digit cap, so no scale truncation ever
        # applies and the rank-weighted sum is exact on both sides.
        F.sum(
            F.col("i").cast("decimal(18,0)") * F.col("r").cast("decimal(18,6)")
        ).alias("s"),
    )
    dt = F.col("t").cast("double")
    dn = F.col("n_customers").cast("double")
    return g.join(F.broadcast(nation), nation.n_nationkey == g.c_nationkey).select(
        "n_name",
        "n_customers",
        F.round(F.col("t"), 4).cast("double").alias("total_rev"),
        F.round(
            F.lit(2.0) * F.col("s").cast("double") / F.nullif(dn * dt, F.lit(0.0))
            - (dn + F.lit(1.0)) / dn,
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Marketing-style last-touch attribution: each purchase credits the latest
# click/view by the same user within a 24 h lookback. One per-user ordered
# window (the sessionize shape) carrying a (ts, type) struct through
# last(ignorenulls) — no self-join, no per-row Python.
ATTR_WINDOW_S = 86400


@register(
    "funnel_attribution_last_touch",
    oracle=f"""
        WITH tagged AS (
            SELECT user_id, ts, event_id, event_type,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN ts END IGNORE NULLS) OVER w AS lt_ts,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN event_type END IGNORE NULLS) OVER w AS lt_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        purchases AS (
            SELECT CASE WHEN lt_ts IS NULL
                             OR epoch(ts) - epoch(lt_ts) > {ATTR_WINDOW_S}
                        THEN 'none' ELSE lt_type END AS attributed_type
            FROM tagged WHERE event_type = 'purchase'
        )
        SELECT attributed_type,
               CAST(count(*) AS BIGINT) AS n_purchases,
               round(CAST(count(*) AS DOUBLE)
                     / (SELECT count(*) FROM purchases), 6) AS share
        FROM purchases GROUP BY attributed_type
    """,
    doc="Last-touch funnel attribution: every purchase credits the user's "
    f"most recent click/view within {ATTR_WINDOW_S} s, else 'none'. The "
    "preceding-touch lookup is ONE per-user ordered window (last over a "
    "(ts, type) struct with ignorenulls, frame ending 1 PRECEDING) — the "
    "sessionize scale shape: one shuffle on user_id, per-task work "
    "bounded by a user's own history, no self-join. (ts, event_id) "
    "ordering makes simultaneous-event attribution deterministic",
    tags=("events", "window", "pipeline"),
)
def q_funnel_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"),
        F.struct(F.col("ts").alias("t"), F.col("event_type").alias("y")),
    )
    tagged = ev.withColumn("lt", F.last(touch, ignorenulls=True).over(w))
    purchases = tagged.where(F.col("event_type") == "purchase").select(
        F.when(
            F.col("lt").isNull()
            | (
                F.unix_seconds("ts") - F.unix_seconds(F.col("lt.t"))
                > ATTR_WINDOW_S
            ),
            F.lit("none"),
        )
        .otherwise(F.col("lt.y"))
        .alias("attributed_type")
    )
    total = purchases.agg(F.count("*").alias("tot"))
    return (
        purchases.groupBy("attributed_type")
        .agg(F.count("*").alias("n_purchases"))
        .crossJoin(F.broadcast(total))
        .select(
            "attributed_type",
            "n_purchases",
            F.round(
                F.col("n_purchases").cast("double") / F.col("tot"), 6
            ).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Population-stability-index drift monitor: compare the value distribution
# of each event type between the first and second half of the time range
# (exact integer epoch midpoint), over PSI_BINS uniform bins with +1
# Laplace smoothing so no bin probability is ever zero. All probabilities
# derive from exact integer counts; ln/division are IEEE-identical.
PSI_BINS = 10


@register(
    "psi_drift_stats",
    oracle=f"""
        WITH bounds AS (
            SELECT CAST(min(epoch(ts)) AS BIGINT) AS t0,
                   CAST(max(epoch(ts)) AS BIGINT) AS t1,
                   min(value) AS lo, max(value) AS hi
            FROM events
        ),
        binned AS (
            SELECT event_type,
                   CASE WHEN CAST(epoch(ts) AS BIGINT)
                             < t0 + (t1 - t0) / 2 THEN 0 ELSE 1 END AS half,
                   least({PSI_BINS - 1},
                         CAST(floor((value - lo) * {PSI_BINS}
                                    / (hi - lo + 1e-9)) AS INT)) AS bin
            FROM events CROSS JOIN bounds
        ),
        cnt AS (
            SELECT event_type, half, bin, CAST(count(*) AS BIGINT) AS n
            FROM binned GROUP BY 1, 2, 3
        ),
        grid AS (
            SELECT event_type, b.bin,
                   coalesce(max(CASE WHEN half = 0 THEN n END), 0) AS n0,
                   coalesce(max(CASE WHEN half = 1 THEN n END), 0) AS n1
            FROM (SELECT DISTINCT event_type FROM cnt) e
            CROSS JOIN (SELECT unnest(range({PSI_BINS})) AS bin) b
            LEFT JOIN cnt USING (event_type, bin)
            GROUP BY event_type, b.bin
        ),
        tot AS (
            SELECT event_type,
                   CAST(sum(n0) AS BIGINT) AS t0n, CAST(sum(n1) AS BIGINT) AS t1n
            FROM grid GROUP BY event_type
        )
        SELECT g.event_type,
               t0n AS n_early, t1n AS n_late,
               round(sum(
                   (CAST(n0 + 1 AS DOUBLE) / (t0n + {PSI_BINS})
                    - CAST(n1 + 1 AS DOUBLE) / (t1n + {PSI_BINS}))
                   * ln((CAST(n0 + 1 AS DOUBLE) / (t0n + {PSI_BINS}))
                        / (CAST(n1 + 1 AS DOUBLE) / (t1n + {PSI_BINS})))
               ), 6) AS psi
        FROM grid g JOIN tot USING (event_type)
        GROUP BY g.event_type, t0n, t1n
    """,
    doc="PSI drift monitor: per event type, the population stability index "
    "of `value` between the first and second half of the corpus time "
    "range (integer epoch midpoint, 10 uniform bins from broadcast "
    "global bounds, +1 Laplace smoothing so empty bins contribute "
    "finitely). The standard ML-ops distribution-shift gate: PSI < 0.1 "
    "stable, > 0.25 drifted. Scale: one (type, half, bin) aggregation — "
    "map-side combined, key space 5x2x10 — then metadata-sized math; the "
    "dense bin grid is rebuilt by sparse outer aggregation so absent "
    "bins still smooth correctly",
    tags=("events", "stats", "eval", "quality"),
)
def q_psi_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_seconds("ts")).alias("t0"),
        F.max(F.unix_seconds("ts")).alias("t1"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(
            F.unix_seconds("ts")
            < F.col("t0") + (F.col("t1") - F.col("t0")) / F.lit(2),
            0,
        )
        .otherwise(1)
        .alias("half"),
        F.least(
            F.lit(PSI_BINS - 1),
            F.floor(
                (F.col("value") - F.col("lo"))
                * PSI_BINS
                / (F.col("hi") - F.col("lo") + F.lit(1e-9))
            ).cast("int"),
        ).alias("bin"),
    )
    cnt = binned.groupBy("event_type", "half", "bin").agg(
        F.count("*").alias("n")
    )
    # dense (type x bin) grid so bins empty on one side still smooth
    types = cnt.select("event_type").distinct()
    bins = types.sparkSession.range(PSI_BINS).select(
        F.col("id").cast("int").alias("bin")
    )
    grid = (
        types.crossJoin(F.broadcast(bins))
        .join(cnt, ["event_type", "bin"], "left")
        .groupBy("event_type", "bin")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("half") == 0, F.col("n"))), F.lit(0)
            ).alias("n0"),
            F.coalesce(
                F.max(F.when(F.col("half") == 1, F.col("n"))), F.lit(0)
            ).alias("n1"),
        )
    )
    tot = grid.groupBy("event_type").agg(
        F.sum("n0").cast("bigint").alias("t0n"),
        F.sum("n1").cast("bigint").alias("t1n"),
    )
    p = (F.col("n0") + 1).cast("double") / (F.col("t0n") + PSI_BINS)
    q = (F.col("n1") + 1).cast("double") / (F.col("t1n") + PSI_BINS)
    return (
        grid.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "t0n", "t1n")
        .agg(F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"))
        .select(
            "event_type",
            F.col("t0n").alias("n_early"),
            F.col("t1n").alias("n_late"),
            "psi",
        )
    )


# --------------------------------------------------------------------------
# Seasonal decomposition (hour-of-day profile): how much of each type's
# hourly-count variance the 24-hour cycle explains. R^2 comes from exact
# bigint power sums via the ANOVA identity SS_between / SS_total — no
# per-row float accumulation anywhere.
@register(
    "seasonal_hod_profile",
    oracle="""
        WITH hc AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        hod AS (SELECT event_type, (h / 3600) % 24 AS hod, y FROM hc),
        per_hod AS (
            SELECT event_type, hod,
                   CAST(count(*) AS BIGINT) AS nh,
                   CAST(sum(y) AS BIGINT) AS syh
            FROM hod GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM hod GROUP BY 1
        ),
        btw AS (
            SELECT event_type,
                   sum(CAST(syh AS DOUBLE) * syh / nh) AS ssb_raw
            FROM per_hod GROUP BY event_type
        ),
        peak AS (
            SELECT event_type, hod AS peak_hod FROM (
                SELECT event_type, hod,
                       row_number() OVER (
                           PARTITION BY event_type
                           ORDER BY CAST(syh AS DOUBLE) / nh DESC, hod
                       ) AS r
                FROM per_hod
            ) WHERE r = 1
        )
        SELECT t.event_type, n AS n_hours,
               round((ssb_raw - CAST(sy AS DOUBLE) * sy / n)
                     / nullif(syy - CAST(sy AS DOUBLE) * sy / n, 0), 6)
                   AS r2_seasonal,
               CAST(peak_hod AS BIGINT) AS peak_hod
        FROM tot t JOIN btw USING (event_type) JOIN peak USING (event_type)
    """,
    doc="Hour-of-day seasonality: per event type, the share of hourly-count "
    "variance explained by the 24-hour cycle (ANOVA R^2 = SS_between / "
    "SS_total from exact bigint power sums) and the peak hour (UTC, "
    "deterministic low-hour tiebreak). Scale: the (type, hour) grid is "
    "metadata-sized after one map-side-combined aggregation; everything "
    "downstream — 24-cell profiles, power sums, the 24-row peak rank — "
    "is grid-sized. Epoch arithmetic keeps hour-of-day timezone-free",
    tags=("events", "stats", "timeseries"),
)
def q_seasonal_hod_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("h"),
    ).agg(F.count("*").alias("y"))
    hod = hc.select(
        "event_type", ((F.col("h") / 3600) % 24).cast("bigint").alias("hod"), "y"
    )
    per_hod = hod.groupBy("event_type", "hod").agg(
        F.count("*").alias("nh"), F.sum("y").cast("bigint").alias("syh")
    )
    tot = hod.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    btw = per_hod.groupBy("event_type").agg(
        F.sum(
            F.col("syh").cast("double") * F.col("syh") / F.col("nh")
        ).alias("ssb_raw")
    )
    wp = W.partitionBy("event_type").orderBy(
        (F.col("syh").cast("double") / F.col("nh")).desc(), "hod"
    )
    peak = (
        per_hod.withColumn("r", F.row_number().over(wp))
        .where(F.col("r") == 1)
        .select("event_type", F.col("hod").alias("peak_hod"))
    )
    dsy = F.col("sy").cast("double")
    return (
        tot.join(btw, "event_type")
        .join(peak, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.round(
                (F.col("ssb_raw") - dsy * dsy / F.col("n"))
                / F.nullif(
                    F.col("syy") - dsy * dsy / F.col("n"), F.lit(0.0)
                ),
                6,
            ).alias("r2_seasonal"),
            F.col("peak_hod").cast("bigint").alias("peak_hod"),
        )
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend: the median of all pairwise slopes over the
# hourly grid. Outlier hours (incident spikes) move least-squares slopes
# arbitrarily but barely move the median — this is the robust sibling of
# trend_slope_per_type. The pair set is GRID-quadratic (hours^2, calendar-
# bounded), never data-quadratic, so it scales with time span, not volume.
@register(
    "theil_sen_trend",
    oracle="""
        WITH hc AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) / 3600 AS x,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        slopes AS (
            SELECT a.event_type,
                   CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS s
            FROM hc a JOIN hc b
              ON b.event_type = a.event_type AND b.x > a.x
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(quantile_cont(s, 0.5), 6) AS median_slope
        FROM slopes GROUP BY event_type
    """,
    doc="Theil-Sen estimator: per event type, the MEDIAN of all pairwise "
    "hourly-count slopes — robust to incident-spike outliers that drag "
    "the least-squares trend (trend_slope_per_type is the fragile twin). "
    "Slopes are integer-difference ratios (bit-identical doubles); the "
    "median is Spark percentile == DuckDB quantile_cont (the "
    "median_by_status-proven equivalence). Scale: the self-join is over "
    "the (type, hour) AGGREGATE grid — quadratic in calendar hours, "
    "independent of event volume; the per-type median is one sort of a "
    "grid^2/2-sized group, shardable by the standard two-level quantile "
    "path if the time span ever makes it matter",
    tags=("events", "stats", "timeseries"),
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        (F.unix_seconds(F.date_trunc("hour", "ts")) / 3600)
        .cast("bigint")
        .alias("x"),
    ).agg(F.count("*").alias("y"))
    b = hc.select(
        F.col("event_type").alias("b_type"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
    )
    slopes = hc.join(
        b,
        (F.col("b_type") == F.col("event_type")) & (F.col("bx") > F.col("x")),
    ).select(
        "event_type",
        ((F.col("by") - F.col("y")).cast("double") / (F.col("bx") - F.col("x"))).alias(
            "s"
        ),
    )
    return slopes.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.percentile("s", F.lit(0.5)), 6).alias("median_slope"),
    )


# --------------------------------------------------------------------------
# Markov transition entropy: how predictable is the next event given the
# current one? H(next | prev) per prev_type, from the same per-user lag
# stream as event_type_transitions; all probabilities from exact integer
# counts (5x5 matrix), so both engines compute identical doubles.
from .relational_more import TRANSITION_COUNTS_SQL as _TCS  # noqa: E402  (shared Markov core)


@register(
    "event_transition_entropy",
    oracle=f"""
        WITH tm AS (
            {_TCS}
        ),
        tot AS (
            SELECT prev_type, CAST(sum(n) AS BIGINT) AS t FROM tm GROUP BY 1
        )
        SELECT tm.prev_type,
               t AS n_transitions,
               round(-sum((CAST(n AS DOUBLE) / t)
                          * ln(CAST(n AS DOUBLE) / t)) / ln(2.0), 6)
                   AS entropy_bits,
               round(-sum((CAST(n AS DOUBLE) / t)
                          * ln(CAST(n AS DOUBLE) / t)) / ln(2.0)
                     / (ln(5.0) / ln(2.0)), 6) AS normalized
        FROM tm JOIN tot USING (prev_type)
        GROUP BY tm.prev_type, t
    """,
    doc="Conditional entropy of the event Markov chain: H(next | prev) in "
    "bits per prev_type, plus its normalization by log2(5) (1.0 = next "
    "event totally unpredictable) — the sequence-predictability signal "
    "behavioral models gate on. Transition counts reuse the "
    "event_type_transitions lag shape (one user_id shuffle); the entropy "
    "math runs on the 5x5 integer matrix. Ratio-of-integer probabilities "
    "keep both engines bit-identical",
    tags=("events", "stats", "window"),
)
def q_event_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational_more import transition_counts

    tm = transition_counts(load_table(spark, sf_dir, "events"))
    tot = tm.groupBy("prev_type").agg(F.sum("n").cast("bigint").alias("t"))
    p = F.col("n").cast("double") / F.col("t")
    h = -F.sum(p * F.log(p)) / F.log(F.lit(2.0))
    return (
        tm.join(F.broadcast(tot), "prev_type")
        .groupBy("prev_type", "t")
        .agg(
            F.round(h, 6).alias("entropy_bits"),
            F.round(h / (F.log(F.lit(5.0)) / F.log(F.lit(2.0))), 6).alias(
                "normalized"
            ),
        )
        .select(
            "prev_type",
            F.col("t").alias("n_transitions"),
            "entropy_bits",
            "normalized",
        )
    )


# --------------------------------------------------------------------------
# Categorical drift: KL(P(lang | source) || P(lang)) per source — which
# ingestion sources skew the language mixture. +1 Laplace smoothing over
# the dense (source x lang) grid (the PSI convention for categorical
# columns); all probabilities from exact integer counts.
@register(
    "source_lang_kl",
    oracle="""
        WITH cnt AS (
            SELECT source, lang, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1, 2
        ),
        grid AS (
            SELECT s.source, l.lang, coalesce(max(cnt.n), 0) AS n
            FROM (SELECT DISTINCT source FROM documents) s
            CROSS JOIN (SELECT DISTINCT lang FROM documents) l
            LEFT JOIN cnt USING (source, lang)
            GROUP BY s.source, l.lang
        ),
        k AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS nl FROM documents),
        stot AS (SELECT source, CAST(sum(n) AS BIGINT) AS st FROM grid GROUP BY 1),
        gtot AS (
            SELECT lang, CAST(sum(n) AS BIGINT) AS gn FROM grid GROUP BY 1
        ),
        all_tot AS (SELECT CAST(sum(n) AS BIGINT) AS at FROM grid)
        SELECT g.source,
               st AS n_docs,
               round(sum(
                   (CAST(g.n + 1 AS DOUBLE) / (st + nl))
                   * ln((CAST(g.n + 1 AS DOUBLE) / (st + nl))
                        / (CAST(gn + 1 AS DOUBLE) / (at + nl)))
               ), 6) AS kl_nats
        FROM grid g
        JOIN stot USING (source)
        JOIN gtot USING (lang)
        CROSS JOIN k CROSS JOIN all_tot
        GROUP BY g.source, st, nl, at
    """,
    doc="Per-source language-mixture drift: KL(P(lang|source) || P(lang)) "
    "with +1 Laplace smoothing over the densified (source x lang) grid — "
    "the categorical sibling of psi_drift_stats, flagging ingestion "
    "sources that skew the corpus language mix. One narrow (source, "
    "lang) aggregation; everything downstream is grid-sized with "
    "broadcast totals; integer-ratio probabilities keep engines "
    "bit-identical",
    tags=("text", "stats", "quality"),
)
def q_source_lang_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    sources = docs.select("source").distinct()
    langs = docs.select("lang").distinct()
    grid = (
        sources.crossJoin(F.broadcast(langs))
        .join(cnt, ["source", "lang"], "left")
        .groupBy("source", "lang")
        .agg(F.coalesce(F.max("n"), F.lit(0)).alias("n"))
    )
    nl = langs.agg(F.count("*").cast("bigint").alias("nl"))
    stot = grid.groupBy("source").agg(F.sum("n").cast("bigint").alias("st"))
    gtot = grid.groupBy("lang").agg(F.sum("n").cast("bigint").alias("gn"))
    at = grid.agg(F.sum("n").cast("bigint").alias("at"))
    p = (F.col("n") + 1).cast("double") / (F.col("st") + F.col("nl"))
    q = (F.col("gn") + 1).cast("double") / (F.col("at") + F.col("nl"))
    return (
        grid.join(F.broadcast(stot), "source")
        .join(F.broadcast(gtot), "lang")
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(at))
        .groupBy("source", "st")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"))
        .select("source", F.col("st").alias("n_docs"), "kl_nats")
    )


# --------------------------------------------------------------------------
# Histogram-based approximate quantiles with a measured error contract —
# the t-digest/GK role, made oracle-checkable: a 100-bucket equi-width
# histogram (mergeable, fixed size — the sketch property) yields
# interpolated P50/P90/P99, reported NEXT TO the exact percentiles and
# the absolute error. The accuracy-eval sibling of minhash_estimate_eval
# and pq_recall_eval.
AQ_BUCKETS = 100
AQ_QS = (0.5, 0.9, 0.99)


@register(
    "approx_quantile_eval",
    oracle=f"""
        WITH bounds AS (
            SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders
        ),
        hist AS (
            SELECT least({AQ_BUCKETS - 1},
                         CAST(floor((o_totalprice - lo) * {AQ_BUCKETS}
                                    / (hi - lo + 1e-9)) AS INT)) AS b,
                   CAST(count(*) AS BIGINT) AS c
            FROM orders CROSS JOIN bounds
            GROUP BY 1
        ),
        cum AS (
            SELECT b, c,
                   sum(c) OVER (ORDER BY b
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cc
            FROM hist
        ),
        qs(q) AS (VALUES (0.5), (0.9), (0.99)),
        pick AS (
            SELECT q, min(b) AS qb FROM cum CROSS JOIN bounds CROSS JOIN qs
            WHERE cc >= q * n GROUP BY q
        ),
        est AS (
            SELECT q, lo + (qb + 0.5) * (hi - lo + 1e-9) / {AQ_BUCKETS} AS approx
            FROM pick CROSS JOIN bounds
        ),
        exact AS (
            SELECT quantile_cont(o_totalprice, 0.5) AS e50,
                   quantile_cont(o_totalprice, 0.9) AS e90,
                   quantile_cont(o_totalprice, 0.99) AS e99
            FROM orders
        ),
        joined AS (
            SELECT q, approx,
                   CASE WHEN q = 0.5 THEN e50
                        WHEN q = 0.9 THEN e90
                        ELSE e99 END AS exact
            FROM est CROSS JOIN exact
        )
        SELECT CAST(round(q * 100, 0) AS BIGINT) AS pct,
               round(approx, 4) AS approx_value,
               round(exact, 4) AS exact_value,
               round(abs(approx - exact) / exact, 6) AS rel_err
        FROM joined
    """,
    doc="Approximate quantiles from a 100-bucket equi-width histogram "
    "(fixed-size, MERGEABLE — the property that lets P50/P90/P99 come "
    "from one map-side-combined pass at 100 TB, the t-digest/GK role) "
    "evaluated against the exact percentiles with relative error in the "
    "same oracle-checked row — the accuracy-contract pattern "
    "(minhash_estimate_eval, pq_recall_eval) applied to quantile "
    "sketching. Bucket midpoint estimator; error bounded by bucket width",
    tags=("agg", "approx", "percentile", "eval"),
)
def q_approx_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count("*").alias("n"),
    )
    hist = (
        orders.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(AQ_BUCKETS - 1),
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    * AQ_BUCKETS
                    / (F.col("hi") - F.col("lo") + F.lit(1e-9))
                ).cast("int"),
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count("*").alias("c"))
    )
    # cumulative over <= 100 buckets: bounded window by construction
    cum = hist.withColumn(
        "cc",
        F.sum("c").over(
            W.orderBy("b").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    qs = orders.sparkSession.createDataFrame(
        pa.table({"q": pa.array(AQ_QS, pa.float64())}), "q double"
    )
    pick = (
        cum.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(qs))
        .where(F.col("cc") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("b").alias("qb"))
    )
    est = pick.crossJoin(F.broadcast(bounds)).select(
        "q",
        (
            F.col("lo")
            + (F.col("qb") + 0.5)
            * (F.col("hi") - F.col("lo") + F.lit(1e-9))
            / AQ_BUCKETS
        ).alias("approx"),
    )
    # percentile()'s percentage must be foldable — one aggregate row with
    # literal fractions, mapped back to the q rows by CASE.
    exact_row = orders.agg(
        *[
            F.percentile("o_totalprice", F.lit(q)).alias(f"e{int(q * 100)}")
            for q in AQ_QS
        ]
    )
    exact_col = (
        F.when(F.col("q") == 0.5, F.col("e50"))
        .when(F.col("q") == 0.9, F.col("e90"))
        .otherwise(F.col("e99"))
    )
    return (
        est.crossJoin(F.broadcast(exact_row))
        .withColumn("exact", exact_col)
        .select(
        F.round(F.col("q") * 100, 0).cast("bigint").alias("pct"),
        F.round("approx", 4).alias("approx_value"),
        F.round("exact", 4).alias("exact_value"),
        F.round(F.abs(F.col("approx") - F.col("exact")) / F.col("exact"), 6).alias(
            "rel_err"
        ),
        )
    )


# --------------------------------------------------------------------------
# Rolling 7-day reach: DAU, trailing-7-day WAU and the DAU/WAU stickiness
# ratio — the canonical engagement dashboard. Distinct-over-sliding-window
# cannot reuse adjacent windows' distincts, so the standard trick applies:
# dedupe to (day, user) once, then explode each pair to the <=7 target
# days it can serve and count distinct per target day. Amplification is a
# fixed 7x of the DEDUPED pairs, not of raw events.
REACH_DAYS = 7


@register(
    "rolling_reach_7d",
    oracle=f"""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        dau AS (
            SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
        ),
        served AS (
            SELECT day + CAST(o.off AS INT) AS tday, user_id
            FROM du CROSS JOIN (SELECT unnest(range({REACH_DAYS})) AS off) o
        ),
        wau AS (
            SELECT tday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM served GROUP BY tday
        )
        SELECT CAST(dau.day AS VARCHAR) AS day,
               dau.dau,
               wau.wau,
               round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        FROM dau JOIN wau ON wau.day = dau.day
    """,
    doc="Rolling engagement reach: per day, DAU, trailing-7-day WAU and "
    "DAU/WAU stickiness. Sliding distinct counts can't be merged from "
    "daily distincts, so the plan dedupes to (day, user) ONCE and "
    "explodes each pair to the <= 7 window-end days it serves — a fixed "
    "7x amplification of the deduped pairs (never of raw events), then "
    "one countDistinct per target day. Inner join back to observed days "
    "drops phantom trailing windows. The standard reach shape at any "
    "scale; swap countDistinct for HLL at 100 TB for the approximate "
    "variant (approx_aggregates demonstrates the sketch)",
    tags=("events", "agg", "window", "timeseries"),
)
def q_rolling_reach_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    served = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(REACH_DAYS - 1))).alias("off"),
        "day",
        "user_id",
    ).select(F.date_add("day", F.col("off")).alias("tday"), "user_id")
    wau = served.groupBy(F.col("tday").alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return dau.join(wau, "day").select(
        F.col("day").cast("string").alias("day"),
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
            "stickiness"
        ),
    )


# --------------------------------------------------------------------------
# Order-2 path mining: top 10 (e1 -> e2 -> e3) user paths — the Sankey /
# behavioral-flow rollup one order above event_type_transitions (which
# shares its lag shape). One user_id shuffle; the path space is at most
# 5^3 = 125 keys.
@register(
    "user_path_trigrams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS e3,
                   lag(event_type, 1) OVER w AS e2,
                   lag(event_type, 2) OVER w AS e1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        paths AS (
            SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE e1 IS NOT NULL
            GROUP BY e1, e2, e3
        )
        SELECT e1, e2, e3, n, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, row_number() OVER (
                       ORDER BY n DESC, e1, e2, e3
                   ) AS rnk
            FROM paths
        )
        WHERE rnk <= 10
    """,
    doc="Top-10 order-2 event paths (e1 -> e2 -> e3) per the user-ordered "
    "stream — the behavioral-flow / Sankey rollup above the transition "
    "matrix. Double lag over ONE per-user window (one user_id shuffle); "
    "path key space is |types|^3, so ranking runs on a metadata-sized "
    "aggregate with a full deterministic tiebreak",
    tags=("events", "window", "topk"),
)
def q_user_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type", 2).over(w).alias("e1"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.col("event_type").alias("e3"),
    )
    paths = (
        seq.where(F.col("e1").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n"))
    )
    ranked = paths.withColumn(
        "rnk",
        F.row_number().over(
            W.orderBy(F.desc("n"), "e1", "e2", "e3")
        ),
    )
    return ranked.where(F.col("rnk") <= 10).select(
        "e1", "e2", "e3", "n", F.col("rnk").cast("bigint").alias("rnk")
    )


# --------------------------------------------------------------------------
# CUSUM changepoint detection: per event type, the hour where cumulative
# deviation from the global hourly mean peaks — locating WHEN a rate
# shift happened (psi_drift_stats detects THAT a distribution shifted).
# Deviations are exact integers scaled by the hour count (c*n - sy
# instead of c - sy/n), so the running sum and its argmax are integer-
# exact and engine-identical.
@register(
    "events_cusum_changepoint",
    oracle="""
        WITH hc AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS sy
            FROM hc GROUP BY 1
        ),
        cusum AS (
            SELECT hc.event_type, h, n, sy,
                   sum(c * n - sy) OVER (
                       PARTITION BY hc.event_type ORDER BY h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS s
            FROM hc JOIN tot USING (event_type)
        )
        SELECT event_type,
               n AS n_hours,
               CAST(h AS BIGINT) AS changepoint_hour_s,
               round(CAST(abs_s AS DOUBLE) / (n * CAST(sy AS DOUBLE)), 6)
                   AS peak_cusum_norm
        FROM (
            SELECT event_type, h, n, sy, abs(s) AS abs_s,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY abs(s) DESC, h
                   ) AS r
            FROM cusum
        ) WHERE r = 1
    """,
    doc="CUSUM changepoint per event type: the hour at which the running "
    "sum of deviations from the per-type mean hourly rate peaks — "
    "locating WHEN a rate shift happened (the drift-time sibling of "
    "psi_drift_stats). Deviations are pre-scaled to exact integers "
    "(c*n - sy), so the cumulative sum, its |argmax| and the "
    "deterministic low-hour tiebreak are bit-identical in both engines; "
    "normalization to [0, ~1] divides once at the end. All windows run "
    "on the metadata-sized (type, hour) grid",
    tags=("events", "window", "timeseries", "eval"),
)
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("h"),
    ).agg(F.count("*").alias("c"))
    tot = hc.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").cast("bigint").alias("sy")
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cusum = hc.join(F.broadcast(tot), "event_type").withColumn(
        "s", F.sum(F.col("c") * F.col("n") - F.col("sy")).over(wcum)
    )
    wr = W.partitionBy("event_type").orderBy(F.abs("s").desc(), "h")
    peak = cusum.withColumn("r", F.row_number().over(wr)).where(F.col("r") == 1)
    return peak.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("h").cast("bigint").alias("changepoint_hour_s"),
        F.round(
            F.abs("s").cast("double")
            / (F.col("n") * F.col("sy").cast("double")),
            6,
        ).alias("peak_cusum_norm"),
    )


# --------------------------------------------------------------------------
# Churn label engineering: a user is "churned" when silent for the final
# 7 days of the corpus window — the standard label a retention model
# trains on — rolled up by the user's signup (first-seen) week.
CHURN_SILENCE_S = 7 * 86400


@register(
    "churn_label_stats",
    oracle=f"""
        WITH bounds AS (
            SELECT CAST(max(epoch(ts)) AS BIGINT) AS tmax FROM events
        ),
        users AS (
            SELECT user_id,
                   CAST(min(epoch(ts)) AS BIGINT) AS first_s,
                   CAST(max(epoch(ts)) AS BIGINT) AS last_s
            FROM events GROUP BY user_id
        ),
        labeled AS (
            SELECT (first_s // 604800) * 604800 AS cohort_week_s,
                   CASE WHEN last_s < tmax - {CHURN_SILENCE_S}
                        THEN 1 ELSE 0 END AS churned
            FROM users CROSS JOIN bounds
        )
        SELECT CAST(cohort_week_s AS BIGINT) AS cohort_week_s,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(churned) AS BIGINT) AS n_churned,
               round(CAST(sum(churned) AS DOUBLE) / count(*), 6) AS churn_rate
        FROM labeled GROUP BY cohort_week_s
    """,
    doc="Churn label engineering: churned = silent for the corpus's final "
    "7 days, rolled up by first-seen (signup) week — the label-builder "
    "step of a retention model, with per-cohort rates. One user_id "
    "aggregation (min/max epoch as exact integers), a broadcast one-row "
    "corpus bound, integer week bucketing — no window, no second pass",
    tags=("events", "agg", "pipeline"),
)
def q_churn_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.max(F.unix_seconds("ts")).alias("tmax"))
    users = ev.groupBy("user_id").agg(
        F.min(F.unix_seconds("ts")).alias("first_s"),
        F.max(F.unix_seconds("ts")).alias("last_s"),
    )
    labeled = users.crossJoin(F.broadcast(bounds)).select(
        ((F.col("first_s") / 604800).cast("bigint") * 604800).alias(
            "cohort_week_s"
        ),
        F.when(
            F.col("last_s") < F.col("tmax") - CHURN_SILENCE_S, 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    return labeled.groupBy("cohort_week_s").agg(
        F.count("*").alias("n_users"),
        F.sum("churned").cast("bigint").alias("n_churned"),
        F.round(
            F.sum("churned").cast("double") / F.count("*"), 6
        ).alias("churn_rate"),
    )


# --------------------------------------------------------------------------
# Sweep-line peak concurrency. The classic interval problem (max number of
# simultaneously-open sessions) needs a GLOBAL running sum over time-ordered
# +1/-1 deltas — the textbook single-task-window trap. Distributed shape:
# per-timestamp delta aggregation (one narrow shuffle), then the two-level
# prefix-sum reconstruction (day-bucket local windows + a broadcast
# exclusive prefix over per-day totals — the _global_rank_layouts trick lifted from
# ranks to running sums; the offsets window is bounded by #distinct days).
# Intra-timestamp ordering ambiguity is designed out: closed intervals are
# evaluated per DISTINCT ts as conc(ts) = starts(<=ts) - ends(<ts)
#   = cumsum(starts - ends)(<=ts) + ends_at(ts),
# which never orders a start against an end at equal ts.
@register(
    "peak_concurrency",
    oracle="""
        WITH iv AS (
            SELECT user_id, CAST(ts AS DATE) AS d,
                   min(ts) AS s_ts, max(ts) AS e_ts
            FROM events GROUP BY 1, 2
        ),
        deltas AS (
            SELECT ts, sum(s) AS s, sum(e) AS e FROM (
                SELECT s_ts AS ts, 1 AS s, 0 AS e FROM iv
                UNION ALL
                SELECT e_ts AS ts, 0 AS s, 1 AS e FROM iv
            ) GROUP BY ts
        ),
        conc AS (
            SELECT ts, sum(s - e) OVER (ORDER BY ts) + e AS conc FROM deltas
        ),
        peak AS (SELECT max(conc) AS p FROM conc)
        SELECT CAST(p AS BIGINT) AS peak_concurrency,
               (SELECT min(ts) FROM conc WHERE conc = p) AS peak_ts,
               (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_intervals,
               (SELECT CAST(count(*) AS BIGINT) FROM deltas) AS n_distinct_ts
        FROM peak
    """,
    doc="Sweep-line peak concurrency over user-day activity intervals "
    "[first event, last event]: emit +1/-1 deltas, aggregate per distinct "
    "timestamp, reconstruct the global running sum with day-bucket local "
    "windows plus a broadcast per-day prefix (no single-task global "
    "window), and report the peak, its first timestamp, and interval "
    "counts. Closed-interval semantics are made order-free by evaluating "
    "starts(<=t) - ends(<t) per distinct t, so no start-vs-end tiebreak "
    "at equal timestamps exists to disagree on. Scale: one shuffle on ts "
    "for the delta aggregate, per-day windows each bounded by a day's "
    "distinct timestamps, and a #days-sized broadcast — the capacity-"
    "planning query (max simultaneous sessions) at metadata cost",
    tags=("events", "window", "analytics"),
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import reliable_checkpoint

    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts")
    )
    # checkpoint: the per-ts delta table feeds FOUR downstream branches
    # (bucket totals, the running sum, the peak-ts lookup, the counts row) —
    # without materialization each branch re-runs the event aggregation
    # (measured 3.4 s -> the checkpointed shape re-reads #distinct-ts rows)
    deltas = reliable_checkpoint(
        iv.select(F.col("s_ts").alias("ts"), F.lit(1).alias("s"), F.lit(0).alias("e"))
        .unionAll(
            iv.select(F.col("e_ts").alias("ts"), F.lit(0).alias("s"), F.lit(1).alias("e"))
        )
        .groupBy("ts")
        .agg(F.sum("s").alias("s"), F.sum("e").alias("e"))
        .withColumn("_b", F.to_date("ts"))
    )
    btot = deltas.groupBy("_b").agg(F.sum(F.col("s") - F.col("e")).alias("_bn"))
    # exclusive prefix over per-day totals: bounded by #distinct days
    offsets = btot.select(
        "_b",
        F.coalesce(
            F.sum("_bn").over(W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_off"),
    )
    within = F.sum(F.col("s") - F.col("e")).over(
        W.partitionBy("_b").orderBy("ts").rowsBetween(W.unboundedPreceding, 0)
    )
    conc = deltas.join(F.broadcast(offsets), "_b").select(
        "ts", (F.col("_off") + within + F.col("e")).alias("conc")
    )
    peak = conc.agg(F.max("conc").alias("p"))
    peak_ts = (
        conc.join(F.broadcast(peak), conc["conc"] == peak["p"])
        .agg(F.min("ts").alias("peak_ts"))
    )
    # n_intervals == total starts == sum(s) over deltas: read the
    # checkpointed delta table instead of re-running the interval aggregate
    counts = deltas.agg(
        F.sum("s").alias("n_intervals"), F.count("*").alias("n_distinct_ts")
    )
    return (
        peak.crossJoin(F.broadcast(peak_ts))
        .crossJoin(F.broadcast(counts))
        .select(
            F.col("p").cast("bigint").alias("peak_concurrency"),
            "peak_ts",
            F.col("n_intervals").cast("bigint").alias("n_intervals"),
            F.col("n_distinct_ts").cast("bigint").alias("n_distinct_ts"),
        )
    )


# --------------------------------------------------------------------------
# Chi-square test of independence (lang x source). Every moment is an exact
# integer count; the per-cell contribution (obs - exp)^2 / exp is computed
# by an identical expression tree in both engines and then quantized to
# BIGINT micro-units BEFORE the final sum — integer addition is
# order-independent, so Spark's unordered aggregation cannot perturb the
# statistic (the micronat technique from nb_langid_train_eval / pagerank).
CHI2_SCALE = 1000000.0


@register(
    "chi2_lang_source_independence",
    oracle=f"""
        WITH cells AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
            FROM documents GROUP BY 1, 2
        ),
        margins AS (
            SELECT c.lang, c.source, c.obs,
                   sum(c.obs) OVER (PARTITION BY c.lang) AS row_tot,
                   sum(c.obs) OVER (PARTITION BY c.source) AS col_tot,
                   sum(c.obs) OVER () AS n
            FROM cells c
        ),
        contrib AS (
            SELECT lang, source, obs, row_tot, col_tot, n,
                   CAST(floor({CHI2_SCALE} *
                        ((obs - CAST(row_tot AS DOUBLE) * col_tot / n)
                         * (obs - CAST(row_tot AS DOUBLE) * col_tot / n)
                         / (CAST(row_tot AS DOUBLE) * col_tot / n))
                   ) AS BIGINT) AS contrib_micro
            FROM margins
        ),
        summary AS (
            SELECT sum(contrib_micro) AS chi2_micro,
                   CAST((count(DISTINCT lang) - 1)
                        * (count(DISTINCT source) - 1) AS BIGINT) AS dof,
                   CAST(max(n) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(least(count(DISTINCT lang),
                              count(DISTINCT source)) - 1 AS BIGINT) AS mindim
            FROM contrib
        )
        SELECT CAST(chi2_micro AS BIGINT) AS chi2_micro,
               round(chi2_micro / {CHI2_SCALE}, 4) AS chi2,
               dof, n, n_cells,
               round(sqrt((chi2_micro / {CHI2_SCALE}) / (n * mindim)), 6)
                   AS cramers_v
        FROM summary
    """,
    doc="Chi-square test of independence over the (lang, source) "
    "contingency table, with Cramer's V effect size: observed counts and "
    "marginals are exact integers, each cell's (obs-exp)^2/exp is one "
    "fixed IEEE expression over them, and contributions are quantized to "
    "BIGINT micro-units before summation so the statistic is "
    "order-independent and hash-gated (only realized cells contribute — "
    "a structurally-absent pair has obs=0 only if some engine "
    "materializes it, so both engines consistently sum over observed "
    "cells). Scale: the contingency table is |langs| x |sources| rows "
    "after one map-side-combined count; the windowed marginals run on "
    "that tiny grid, not the corpus — hypothesis testing at metadata "
    "cost (the categorical sibling of ab_test_zstat)",
    tags=("agg", "stats", "eval"),
)
def q_chi2_lang_source_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("obs")
    )
    margins = cells.select(
        "lang",
        "source",
        "obs",
        F.sum("obs").over(W.partitionBy("lang")).alias("row_tot"),
        F.sum("obs").over(W.partitionBy("source")).alias("col_tot"),
        F.sum("obs").over(W.partitionBy()).alias("n"),
    )
    exp = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    contrib = margins.select(
        "lang",
        "source",
        "obs",
        "n",
        F.floor(
            F.lit(CHI2_SCALE) * ((F.col("obs") - exp) * (F.col("obs") - exp) / exp)
        )
        .cast("bigint")
        .alias("contrib_micro"),
    )
    summary = contrib.agg(
        F.sum("contrib_micro").cast("bigint").alias("chi2_micro"),
        ((F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1))
        .cast("bigint")
        .alias("dof"),
        F.max("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_cells"),
        (
            F.least(F.countDistinct("lang"), F.countDistinct("source")) - 1
        )
        .cast("bigint")
        .alias("mindim"),
    )
    return summary.select(
        "chi2_micro",
        F.round(F.col("chi2_micro") / CHI2_SCALE, 4).alias("chi2"),
        "dof",
        "n",
        "n_cells",
        F.round(
            F.sqrt(
                # try_divide: a 1-level lang or source factor gives
                # mindim=0 — Cramér's V is undefined there, null it
                # instead of an ANSI divide-by-zero
                F.try_divide(
                    F.col("chi2_micro") / CHI2_SCALE,
                    (F.col("n") * F.col("mindim")).cast("double"),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (urgent vs non-urgent order prices). Ranks
# with ties need AVERAGE ranks — half-integers — so everything is carried
# as DOUBLED ranks: for a tie group of size cnt starting after cb rows,
# 2 * avg_rank = 2*cb + cnt + 1, an exact BIGINT. The rank-sum, tie
# correction (sum of t^3 - t), and U statistic are then pure integer
# aggregates (order-independent); the z-score is one shared IEEE fragment
# over them. The global rank ordering itself uses the two-level
# reconstruction (price-bucket local windows + broadcast bucket prefix —
# the _global_rank_layouts shape), never a one-partition window.
MW_BUCKETS = 256

_MW_Z_SQL = (
    "round((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * (n - n1))"
    " / nullif(2.0 * sqrt((CAST(n1 AS DOUBLE) * (n - n1) / 12.0)"
    " * ((n + 1) - CAST(tie_t AS DOUBLE) / nullif(CAST(n AS DOUBLE) * (n - 1.0), 0.0)))"
    ", 0.0), 6)"
)


@register(
    "mannwhitney_price_urgent",
    oracle=f"""
        WITH vals AS (
            SELECT o_totalprice AS v,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS c1
            FROM orders GROUP BY 1
        ),
        cum AS (
            SELECT v, cnt, c1,
                   coalesce(sum(cnt) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
            FROM vals
        ),
        agg AS (
            SELECT CAST(sum(c1 * (2 * cb + cnt + 1)) AS BIGINT) AS two_r1,
                   CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_t,
                   CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_tied_values
            FROM cum
        )
        SELECT n1, (n - n1) AS n2,
               two_r1,
               (two_r1 - n1 * (n1 + 1)) AS two_u1,
               round((two_r1 - n1 * (n1 + 1)) / 2.0, 1) AS u1,
               tie_t, n_tied_values,
               {_MW_Z_SQL} AS z_stat
        FROM agg
    """,
    doc="Mann-Whitney U rank-sum test comparing urgent vs non-urgent order "
    "price distributions — the nonparametric sibling of ab_test_zstat. "
    "Tie-averaged ranks are carried as exact DOUBLED integers "
    "(2*avg_rank = 2*rows_before + tie_size + 1), so the rank sum, tie "
    "correction and U are order-independent BIGINT aggregates and the "
    "tie-corrected z is one shared IEEE fragment over them — fully "
    "hash-gated. Scale: one shuffle groups rows per distinct value; the "
    "global rank order is rebuilt from price-bucket local windows plus a "
    f"broadcast {MW_BUCKETS}-bucket prefix (the _global_rank_layouts shape) — no "
    "one-partition sort; the tie cube assumes no single value repeats "
    ">~2M times (BIGINT headroom; ANSI mode errors rather than wraps)",
    tags=("agg", "stats", "eval"),
)
def q_mannwhitney_price_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    vals = orders.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    minmax = vals.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    bucketed = vals.crossJoin(F.broadcast(minmax)).withColumn(
        "_b",
        F.least(
            F.floor(
                (F.col("v") - F.col("mn"))
                * MW_BUCKETS
                / F.greatest(F.col("mx") - F.col("mn"), F.lit(1e-9))
            ),
            F.lit(MW_BUCKETS - 1),
        ).cast("bigint"),
    )
    btot = bucketed.groupBy("_b").agg(F.sum("cnt").alias("_bn"))
    offsets = btot.select(
        "_b",
        F.coalesce(
            F.sum("_bn").over(W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_off"),
    )
    within = F.coalesce(
        F.sum("cnt").over(
            W.partitionBy("_b").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    cum = bucketed.join(F.broadcast(offsets), "_b").select(
        "v", "cnt", "c1", (F.col("_off") + within).alias("cb")
    )
    agg = cum.agg(
        F.sum(F.col("c1") * (2 * F.col("cb") + F.col("cnt") + 1))
        .cast("bigint")
        .alias("two_r1"),
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_t"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_tied_values"),
    )
    return agg.select(
        "n1",
        (F.col("n") - F.col("n1")).alias("n2"),
        "two_r1",
        (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).alias("two_u1"),
        F.round(
            (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)) / 2.0, 1
        ).alias("u1"),
        "tie_t",
        "n_tied_values",
        F.expr(_MW_Z_SQL).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival curve (signup -> purchase, right-censored at the
# study end). The estimator is a cumulative PRODUCT over ordered event
# times — order-dependent in floats — so each factor ln(1 - d/n) is
# quantized to BIGINT micronats and the cumulative sum runs on integers
# (the nb/pagerank technique applied to a running product); survival is
# exp(cum/1e6) rounded at 6, and a day where every at-risk subject
# converts (d = n, ln 0) uses a -1e15 sentinel whose exp underflows to an
# exact 0.0 in both engines.
KM_SENTINEL = -(10 ** 15)


@register(
    "km_survival_signup_purchase",
    oracle=f"""
        WITH signup AS (
            SELECT user_id, min(ts) AS t0 FROM events
            WHERE event_type = 'signup' GROUP BY 1
        ),
        study AS (SELECT max(ts) AS t_end FROM events),
        conv AS (
            SELECT s.user_id, min(e.ts) AS t1
            FROM signup s JOIN events e
              ON e.user_id = s.user_id AND e.event_type = 'purchase'
                 AND e.ts >= s.t0
            GROUP BY 1
        ),
        subjects AS (
            SELECT s.user_id,
                   CASE WHEN c.t1 IS NOT NULL THEN 1 ELSE 0 END AS is_event,
                   date_diff('day', CAST(s.t0 AS DATE),
                             CAST(coalesce(c.t1, st.t_end) AS DATE)) AS dur
            FROM signup s
            LEFT JOIN conv c ON c.user_id = s.user_id
            CROSS JOIN study st
        ),
        days AS (
            SELECT dur, CAST(sum(is_event) AS BIGINT) AS d,
                   CAST(sum(1 - is_event) AS BIGINT) AS c
            FROM subjects GROUP BY 1
        ),
        risk AS (
            SELECT dur, d, c,
                   (SELECT count(*) FROM subjects)
                   - coalesce(sum(d + c) OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS n_risk
            FROM days
        ),
        terms AS (
            SELECT dur, d, c, n_risk,
                   CASE WHEN d = 0 THEN 0
                        WHEN d < n_risk THEN CAST(floor(1000000.0 *
                             ln(1.0 - CAST(d AS DOUBLE) / n_risk)) AS BIGINT)
                        ELSE {KM_SENTINEL} END AS lterm
            FROM risk
        )
        SELECT CAST(dur AS BIGINT) AS dur_days,
               CAST(n_risk AS BIGINT) AS n_at_risk,
               d AS d_events, c AS c_censored,
               round(exp(sum(lterm) OVER (ORDER BY dur) / 1000000.0), 6)
                   AS survival
        FROM terms
    """,
    doc="Kaplan-Meier survival curve for signup-to-purchase conversion "
    "with right-censoring at the study end: per-day event/censor counts, "
    "at-risk counts from an exclusive running sum, and the product-limit "
    "estimator computed as a cumulative BIGINT micronat sum (each "
    "ln(1 - d/n) factor quantized before accumulation — a running "
    "PRODUCT made order-independent; the d = n_risk boundary uses a "
    "sentinel whose exp underflows to exact 0). Scale: two narrow "
    "shuffles (user first-event aggregation, per-day counts); the "
    "cumulative windows run on the per-day table, bounded by the study "
    "length in days, not the subject count — time-to-event analytics at "
    "metadata cost",
    tags=("events", "stats", "window"),
)
def q_km_survival_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signup = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    study = ev.agg(F.max("ts").alias("t_end"))
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        signup.join(
            purch,
            (F.col("p_user") == F.col("user_id")) & (F.col("p_ts") >= F.col("t0")),
        )
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("t1"))
    )
    subjects = (
        signup.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(study))
        .select(
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("is_event"),
            F.datediff(
                F.coalesce(F.col("t1"), F.col("t_end")).cast("date"),
                F.col("t0").cast("date"),
            ).alias("dur"),
        )
    )
    days = subjects.groupBy("dur").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.sum(1 - F.col("is_event")).cast("bigint").alias("c"),
    )
    n_total = subjects.agg(F.count("*").alias("n_total"))
    # exclusive running sum over the per-day table — bounded by the study
    # length in days, not by subjects
    risk = days.crossJoin(F.broadcast(n_total)).select(
        "dur",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(
                    W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    lterm = (
        F.when(F.col("d") == 0, F.lit(0))
        .when(
            F.col("d") < F.col("n_risk"),
            F.floor(
                F.lit(1000000.0)
                * F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
            ).cast("bigint"),
        )
        .otherwise(F.lit(KM_SENTINEL))
    )
    terms = risk.withColumn("lterm", lterm)
    return terms.select(
        F.col("dur").cast("bigint").alias("dur_days"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.round(
            F.exp(
                F.sum("lterm").over(W.orderBy("dur")) / F.lit(1000000.0)
            ),
            6,
        ).alias("survival"),
    )


# --------------------------------------------------------------------------
# 1-D earth mover's distance (Wasserstein-1) between the urgent and
# non-urgent order price distributions, on a fixed 64-bin equal-width
# histogram: EMD of binned distributions = sum_i |CDF1_i - CDF2_i| * width.
# This is the GEOMETRIC distribution distance (PSI/KL ignore how far apart
# the mass sits; EMD prices the transport). CDFs come from exact integer
# cumulative counts over the bin table (bounded window), each bin's term
# is quantized to micro-units before the integer total — the standard
# order-independence rail — and the only floats are the shared-expression
# bin width and one multiply per bin.
EMD_BINS = 64


@register(
    "emd_price_urgent_binned",
    oracle=f"""
        WITH minmax AS (
            SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
        ),
        labeled AS (
            SELECT CAST(least(floor((o_totalprice - mn) * {EMD_BINS}.0
                       / greatest(mx - mn, 0.000000001)), {EMD_BINS - 1}.0)
                       AS BIGINT) AS bin,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
            FROM orders CROSS JOIN minmax
        ),
        occupied AS (
            SELECT bin, CAST(sum(u) AS BIGINT) AS c1,
                   CAST(count(*) - sum(u) AS BIGINT) AS c2
            FROM labeled GROUP BY 1
        ),
        -- full 0..{EMD_BINS - 1} spine: an EMPTY interior bin still carries
        -- its predecessor's CDF gap for one bin width — skipping it would
        -- under-count the transport distance
        bins AS (
            SELECT s.bin, coalesce(o.c1, 0) AS c1, coalesce(o.c2, 0) AS c2
            FROM (SELECT unnest(generate_series(0, {EMD_BINS - 1})) AS bin) s
            LEFT JOIN occupied o ON o.bin = s.bin
        ),
        cum AS (
            SELECT bin,
                   sum(c1) OVER (ORDER BY bin) AS k1,
                   sum(c2) OVER (ORDER BY bin) AS k2,
                   sum(c1) OVER () AS n1,
                   sum(c2) OVER () AS n2
            FROM bins
        ),
        terms AS (
            SELECT k1, k2, n1, n2,
                   CAST(floor(1000000.0 *
                        abs(CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
                        * ((SELECT (mx - mn) / {EMD_BINS}.0 FROM minmax))
                   ) AS BIGINT) AS term_micro
            FROM cum
        )
        SELECT CAST(max(n1) AS BIGINT) AS n_urgent,
               CAST(max(n2) AS BIGINT) AS n_other,
               round((SELECT (mx - mn) / {EMD_BINS}.0 FROM minmax), 6)
                   AS bin_width,
               (SELECT CAST(count(*) AS BIGINT) FROM occupied)
                   AS n_bins_occupied,
               CAST(sum(term_micro) AS BIGINT) AS emd_micro,
               round(sum(term_micro) / 1000000.0, 4) AS emd
        FROM terms
    """,
    doc="1-D earth mover's distance (Wasserstein-1) between urgent and "
    "non-urgent order price distributions on a fixed 64-bin equal-width "
    "histogram: sum over bins of |CDF_urgent - CDF_other| x bin width — "
    "the geometric distribution distance that prices HOW FAR the mass "
    "moved, complementing PSI (which only scores that it moved) and the "
    "rank-based Mann-Whitney. CDFs are exact integer cumulative counts "
    "over the bin table; per-bin terms are floored to micro-units before "
    "the total (order-independent), so the whole statistic is hash-gated. "
    "Scale: one map-side-combined count into 64 bins; cumulative windows "
    "run on the bin table, bounded by construction — distribution "
    "monitoring at metadata cost",
    tags=("agg", "stats", "eval"),
)
def q_emd_price_urgent_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    minmax = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    labeled = orders.crossJoin(F.broadcast(minmax)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("mn"))
                * EMD_BINS
                / F.greatest(F.col("mx") - F.col("mn"), F.lit(1e-9))
            ),
            F.lit(float(EMD_BINS - 1)),
        )
        .cast("bigint")
        .alias("bin"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("u"),
    )
    occupied = labeled.groupBy("bin").agg(
        F.sum("u").cast("bigint").alias("c1"),
        (F.count("*") - F.sum("u")).cast("bigint").alias("c2"),
    )
    # full bin spine: empty interior bins still carry the CDF gap
    spine = spark.range(EMD_BINS).select(F.col("id").cast("bigint").alias("bin"))
    bins = spine.join(occupied, "bin", "left").select(
        "bin",
        F.coalesce("c1", F.lit(0)).alias("c1"),
        F.coalesce("c2", F.lit(0)).alias("c2"),
    )
    w_cum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy()
    cum = bins.select(
        F.sum("c1").over(w_cum).alias("k1"),
        F.sum("c2").over(w_cum).alias("k2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    binw = (F.col("mx") - F.col("mn")) / EMD_BINS
    terms = cum.crossJoin(F.broadcast(minmax.select(binw.alias("bw")))).select(
        "k1",
        "k2",
        "n1",
        "n2",
        F.floor(
            F.lit(1000000.0)
            # try_divide: an empty side (n=0) nulls the term instead of
            # raising under ANSI mode — EMD vs a zero-mass distribution
            # is undefined, and a null summary beats a crashed job
            * F.abs(
                F.try_divide(F.col("k1").cast("double"), F.col("n1"))
                - F.try_divide(F.col("k2").cast("double"), F.col("n2"))
            )
            * F.col("bw")
        )
        .cast("bigint")
        .alias("term_micro"),
    )
    return (
        terms.crossJoin(
            F.broadcast(minmax.select(F.round(binw, 6).alias("bin_width")))
        )
        .crossJoin(
            F.broadcast(
                occupied.agg(
                    F.count("*").cast("bigint").alias("n_bins_occupied")
                )
            )
        )
        .agg(
            F.max("n1").cast("bigint").alias("n_urgent"),
            F.max("n2").cast("bigint").alias("n_other"),
            F.max("bin_width").alias("bin_width"),
            F.max("n_bins_occupied").alias("n_bins_occupied"),
            F.sum("term_micro").cast("bigint").alias("emd_micro"),
            F.round(F.sum("term_micro") / F.lit(1000000.0), 4).alias("emd"),
        )
    )


# --------------------------------------------------------------------------
# Exact grouped WEIGHTED median — the warehouse staple median_by_status
# does not cover (every unit of quantity votes, not every row). Lower
# weighted median rule: the smallest value whose inclusive cumulative
# weight reaches half the total — a pure integer comparison
# (2*cum >= total), so the selection is deterministic in both engines and
# the reported median is a raw data value, no interpolation arithmetic.
@register(
    "weighted_median_price_by_flag",
    oracle="""
        WITH vals AS (
            SELECT l_returnflag, l_extendedprice AS v,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
            FROM lineitem GROUP BY 1, 2
        ),
        cum AS (
            SELECT l_returnflag, v, w,
                   sum(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw,
                   sum(w) OVER (PARTITION BY l_returnflag) AS tot,
                   count(*) OVER (PARTITION BY l_returnflag) AS nv
            FROM vals
        ),
        pick AS (
            SELECT l_returnflag, v, tot, nv,
                   row_number() OVER (PARTITION BY l_returnflag ORDER BY v)
                       AS rn
            FROM cum WHERE 2 * cw >= tot
        )
        SELECT l_returnflag,
               CAST(tot AS BIGINT) AS total_weight,
               CAST(nv AS BIGINT) AS n_distinct_values,
               v AS weighted_median
        FROM pick WHERE rn = 1
    """,
    doc="Exact grouped weighted median: extended price weighted by "
    "quantity per return flag, lower-median rule (smallest value whose "
    "inclusive cumulative weight reaches half the total — an integer "
    "2*cum >= total comparison, so selection is deterministic and the "
    "answer is a raw data value, no interpolation float path). "
    "Complements the unweighted median_by_status and the approximate "
    "percentile family. Scale: one map-side-combined aggregate onto "
    "(group, value), then per-group parallel windows over each group's "
    "distinct values — no global sort, no driver-side selection",
    tags=("agg", "window", "stats"),
)
def q_weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("w")
    )
    w_cum = W.partitionBy("l_returnflag").orderBy("v")
    w_all = W.partitionBy("l_returnflag")
    cum = vals.select(
        "l_returnflag",
        "v",
        F.sum("w").over(w_cum.rowsBetween(W.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(w_all).alias("tot"),
        F.count("*").over(w_all).alias("nv"),
    )
    pick = cum.where(2 * F.col("cw") >= F.col("tot")).withColumn(
        "rn", F.row_number().over(W.partitionBy("l_returnflag").orderBy("v"))
    )
    return pick.where(F.col("rn") == 1).select(
        "l_returnflag",
        F.col("tot").cast("bigint").alias("total_weight"),
        F.col("nv").cast("bigint").alias("n_distinct_values"),
        F.col("v").alias("weighted_median"),
    )


# --------------------------------------------------------------------------
# Segmented trend: fit daily event counts with TWO regression lines split
# at a learned breakpoint, chosen by exact SSE argmin over every candidate
# split. events_cusum_changepoint locates a MEAN shift; this finds a SLOPE
# break (piecewise trend). The engine trick: prefix moment sums (n, Sx,
# Sxx, Sy, Sxy, Syy — all exact BIGINTs over integer day-index/count data)
# are cumulative windows over the bounded per-day table, so every
# candidate's left moments are the prefix and its right moments are
# total - prefix (the ols_kfold_cv subtraction technique applied over
# prefixes) — all T-2 candidate fits priced in ONE bounded window pass,
# no per-candidate rescans. Slope/SSE arithmetic is a shared fragment
# (identical IEEE tree in both engines over exact integer inputs).


def _fit_sql(n: str, sx: str, sxx: str, sy: str, sxy: str, syy: str) -> dict:
    b = (
        f"((CAST({n} AS DOUBLE) * {sxy} - CAST({sx} AS DOUBLE) * {sy})"
        f" / nullif(CAST({n} AS DOUBLE) * {sxx}"
        f" - CAST({sx} AS DOUBLE) * {sx}, 0.0))"
    )
    a = f"((CAST({sy} AS DOUBLE) - {b} * {sx}) / {n})"
    sse = f"(CAST({syy} AS DOUBLE) - {a} * {sy} - {b} * {sxy})"
    return {"slope": b, "sse": sse}


_FIT_L = _fit_sql("nl", "sxl", "sxxl", "syl", "sxyl", "syyl")
_FIT_R = _fit_sql("nr", "sxr", "sxxr", "syr", "sxyr", "syyr")
_FIT_ALL = _fit_sql("nt", "sxt", "sxxt", "syt", "sxyt", "syyt")


@register(
    "segmented_trend_breakpoint",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        indexed AS (
            SELECT date_diff('day', (SELECT min(d) FROM daily), d) AS x, y
            FROM daily
        ),
        cum AS (
            SELECT x, y,
                   sum(1) OVER w AS nl,
                   sum(x) OVER w AS sxl,
                   sum(x * x) OVER w AS sxxl,
                   sum(y) OVER w AS syl,
                   sum(x * y) OVER w AS sxyl,
                   sum(y * y) OVER w AS syyl,
                   count(*) OVER () AS nt,
                   sum(x) OVER () AS sxt,
                   sum(x * x) OVER () AS sxxt,
                   sum(y) OVER () AS syt,
                   sum(x * y) OVER () AS sxyt,
                   sum(y * y) OVER () AS syyt
            FROM indexed
            WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ),
        cand AS (
            SELECT x, nl, sxl, sxxl, syl, sxyl, syyl,
                   nt, sxt, sxxt, syt, sxyt, syyt,
                   nt - nl AS nr, sxt - sxl AS sxr, sxxt - sxxl AS sxxr,
                   syt - syl AS syr, sxyt - sxyl AS sxyr, syyt - syyl AS syyr
            FROM cum WHERE nl >= 2 AND nt - nl >= 2
        ),
        scored AS (
            SELECT x, nt,
                   {_FIT_L['sse']} + {_FIT_R['sse']} AS sse_two,
                   {_FIT_L['slope']} AS slope_l,
                   {_FIT_R['slope']} AS slope_r,
                   {_FIT_ALL['sse']} AS sse_one,
                   row_number() OVER (
                       ORDER BY {_FIT_L['sse']} + {_FIT_R['sse']}, x) AS rn
            FROM cand
        )
        SELECT CAST(x AS BIGINT) AS break_x,
               CAST(nt AS BIGINT) AS n_days,
               round(slope_l, 6) AS slope_left,
               round(slope_r, 6) AS slope_right,
               round(sse_one, 4) AS sse_single,
               round(sse_two, 4) AS sse_segmented,
               round(1.0 - sse_two / nullif(sse_one, 0.0), 6)
                   AS sse_reduction
        FROM scored WHERE rn = 1
    """,
    doc="Segmented regression over the daily event-count series: two OLS "
    "lines split at the breakpoint minimizing total SSE, found by exact "
    "argmin over every candidate split — the SLOPE-break detector "
    "complementing events_cusum_changepoint's mean-shift locator. All "
    "moments (n, Sx, Sxx, Sy, Sxy, Syy) are exact BIGINTs; cumulative "
    "windows over the bounded per-day table give every candidate its "
    "left moments as a prefix and its right moments by subtraction from "
    "the totals (the ols_kfold_cv technique applied over prefixes), so "
    "all T-2 candidate fits are priced in one bounded window pass. The "
    "slope/SSE arithmetic is one shared fragment — identical IEEE tree "
    "in both engines — and the argmin tie-breaks on the day index. "
    "Scale: one shuffle to the per-day grid; every window is bounded by "
    "the study length in days, never by the event count",
    tags=("events", "stats", "window"),
)
def q_segmented_trend_breakpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("y")
    )
    mind = daily.agg(F.min("d").alias("mind"))
    indexed = daily.crossJoin(F.broadcast(mind)).select(
        F.datediff("d", "mind").cast("bigint").alias("x"), "y"
    )
    w_cum = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy()
    cum = indexed.select(
        "x",
        F.sum(F.lit(1)).over(w_cum).alias("nl"),
        F.sum("x").over(w_cum).alias("sxl"),
        F.sum(F.col("x") * F.col("x")).over(w_cum).alias("sxxl"),
        F.sum("y").over(w_cum).alias("syl"),
        F.sum(F.col("x") * F.col("y")).over(w_cum).alias("sxyl"),
        F.sum(F.col("y") * F.col("y")).over(w_cum).alias("syyl"),
        F.count("*").over(w_all).alias("nt"),
        F.sum("x").over(w_all).alias("sxt"),
        F.sum(F.col("x") * F.col("x")).over(w_all).alias("sxxt"),
        F.sum("y").over(w_all).alias("syt"),
        F.sum(F.col("x") * F.col("y")).over(w_all).alias("sxyt"),
        F.sum(F.col("y") * F.col("y")).over(w_all).alias("syyt"),
    )
    cand = cum.where(
        (F.col("nl") >= 2) & (F.col("nt") - F.col("nl") >= 2)
    ).select(
        "x",
        "nl",
        "sxl",
        "sxxl",
        "syl",
        "sxyl",
        "syyl",
        "nt",
        "sxt",
        "sxxt",
        "syt",
        "sxyt",
        "syyt",
        (F.col("nt") - F.col("nl")).alias("nr"),
        (F.col("sxt") - F.col("sxl")).alias("sxr"),
        (F.col("sxxt") - F.col("sxxl")).alias("sxxr"),
        (F.col("syt") - F.col("syl")).alias("syr"),
        (F.col("sxyt") - F.col("sxyl")).alias("sxyr"),
        (F.col("syyt") - F.col("syyl")).alias("syyr"),
    )
    sse_two = F.expr(f"{_FIT_L['sse']} + {_FIT_R['sse']}")
    scored = cand.select(
        "x",
        "nt",
        sse_two.alias("sse_two"),
        F.expr(_FIT_L["slope"]).alias("slope_l"),
        F.expr(_FIT_R["slope"]).alias("slope_r"),
        F.expr(_FIT_ALL["sse"]).alias("sse_one"),
    ).withColumn(
        "rn", F.row_number().over(W.orderBy(F.col("sse_two"), F.col("x")))
    )
    return scored.where(F.col("rn") == 1).select(
        F.col("x").cast("bigint").alias("break_x"),
        F.col("nt").cast("bigint").alias("n_days"),
        F.round("slope_l", 6).alias("slope_left"),
        F.round("slope_r", 6).alias("slope_right"),
        F.round("sse_one", 4).alias("sse_single"),
        F.round("sse_two", 4).alias("sse_segmented"),
        F.round(
            1.0 - F.col("sse_two") / F.nullif(F.col("sse_one"), F.lit(0.0)), 6
        ).alias("sse_reduction"),
    )


# --------------------------------------------------------------------------
# Correlogram: sample autocorrelation of hourly event counts at lags 1..12
# (events_autocorr_lag1 generalized to the full ACF a forecaster actually
# inspects). Each lag's ACF is the Pearson correlation of (y_t, y_{t+k})
# pairs; counts are integers, so every moment (n, Sy1, Sy2, Sy1², Sy2²,
# Sy1y2) is an exact BIGINT and the correlation is one fixed IEEE
# expression over them — deterministic under any aggregation order. Pairs
# come from a self-join of the tiny hourly grid on h2 = h1 + k·3600 with
# the 12 lags exploded from a literal array: 12× a bounded-grid join, no
# window at all, and hour gaps simply drop pairs (both engines alike).
ACF_MAX_LAG = 12


@register(
    "acf_hourly_correlogram",
    oracle=f"""
        WITH grid AS (
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        pairs AS (
            SELECT l.lag AS lag, a.y AS y1, b.y AS y2
            FROM grid a
            CROSS JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG}))
                            AS lag) l
            JOIN grid b ON b.h = a.h + l.lag * 3600
        ),
        mom AS (
            SELECT lag,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y1) AS BIGINT) AS s1,
                   CAST(sum(y2) AS BIGINT) AS s2,
                   CAST(sum(y1 * y1) AS BIGINT) AS s11,
                   CAST(sum(y2 * y2) AS BIGINT) AS s22,
                   CAST(sum(y1 * y2) AS BIGINT) AS s12
            FROM pairs GROUP BY 1
        )
        SELECT CAST(lag AS BIGINT) AS lag, n,
               round((CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2)
                     / nullif(sqrt((CAST(n AS DOUBLE) * s11
                                    - CAST(s1 AS DOUBLE) * s1)
                                   * (CAST(n AS DOUBLE) * s22
                                      - CAST(s2 AS DOUBLE) * s2)), 0.0), 6)
                   AS acf
        FROM mom
    """,
    doc="Hourly-count correlogram: sample autocorrelation at lags 1..12 — "
    "the full ACF a forecaster inspects for seasonality/persistence, "
    "generalizing events_autocorr_lag1. Counts are integers, so all six "
    "moments per lag are exact BIGINTs and each lag's Pearson formula is "
    "one fixed IEEE expression (nullif-guarded degenerate variance) — "
    "bit-identical across engines. Scale: the per-hour grid is one "
    "map-side-combined count; the 12 lags explode from a literal array "
    "into an equi-join of the bounded grid with itself — cost scales "
    "with hours x lags, never with raw events; no windows anywhere",
    tags=("events", "stats", "agg"),
)
def q_acf_hourly_correlogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grid = ev.groupBy(
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("h")
    ).agg(F.count("*").cast("bigint").alias("y"))
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(1, ACF_MAX_LAG + 1)])
    ).alias("lag")
    left = grid.select("h", F.col("y").alias("y1")).select("h", "y1", lags)
    right = grid.select(F.col("h").alias("h2"), F.col("y").alias("y2"))
    pairs = left.join(
        right, F.col("h2") == F.col("h") + F.col("lag") * 3600
    )
    mom = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y1").cast("bigint").alias("s1"),
        F.sum("y2").cast("bigint").alias("s2"),
        F.sum(F.col("y1") * F.col("y1")).cast("bigint").alias("s11"),
        F.sum(F.col("y2") * F.col("y2")).cast("bigint").alias("s22"),
        F.sum(F.col("y1") * F.col("y2")).cast("bigint").alias("s12"),
    )
    num = F.col("n").cast("double") * F.col("s12") - F.col("s1").cast(
        "double"
    ) * F.col("s2")
    den = F.sqrt(
        (F.col("n").cast("double") * F.col("s11") - F.col("s1").cast("double") * F.col("s1"))
        * (F.col("n").cast("double") * F.col("s22") - F.col("s2").cast("double") * F.col("s2"))
    )
    return mom.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("acf"),
    )
