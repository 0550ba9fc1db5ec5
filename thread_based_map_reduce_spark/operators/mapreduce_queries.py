"""Catalog queries exercising the generic map/reduce parity surface.

These run the SAME logical queries as their declarative twins but through
the opaque-callback path (``run_map_reduce`` → mapInPandas/applyInPandas),
proving the reference's client contracts hold: per-row flatMap with 0..N
emissions (``MapReduceClient.h:57-58``), reduce over a key's full value
vector with 0..N emissions, unordered group values (SURVEY §1.4).

The Python callback path is the slow lane by design; the declarative
twins are the scale path.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..mapreduce import run_map_reduce
from ..plans.catalog import register
from ..sources.registry import load_table


@register(
    "mr_charcount",
    oracle="""
        SELECT ch, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, '')) AS ch FROM documents)
        WHERE ch <> ''
        GROUP BY ch
    """,
    doc="Flagship char-count via the generic map/reduce API (SampleClient.cpp:34-65 "
    "contract: map pre-aggregates per string like C1, reduce sums like C2)",
    tags=("parity", "mapreduce"),
)
def q_mr_charcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")

    def map_fn(row):
        # mirrors the sample client's map: per-string char counts (partial
        # aggregation in the map, SampleClient.cpp:34-50)
        return Counter(row.text).items()

    def reduce_fn(key, pdf):
        yield (key[0], int(pdf["partial"].sum()))

    return run_map_reduce(
        docs,
        map_fn,
        reduce_fn,
        map_schema="ch string, partial long",
        out_schema="ch string, cnt long",
        key_cols=["ch"],
    )


@register(
    "mr_wordcount_filtered",
    oracle="""
        SELECT word, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' AND length(word) >= 4
        GROUP BY word
        HAVING count(*) >= 10
    """,
    doc="Word count via generic API with 0-emit map rows (short words dropped) "
    "and 0-emit reduce groups (rare words dropped) — the emit-0..N parity edge",
    tags=("parity", "mapreduce"),
)
def q_mr_wordcount_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")

    def map_fn(row):
        # 0..N emissions per row: filtering inside map (a map that emits
        # nothing for dropped items — legal per MapReduceClient.h:57-58).
        # A null text is a 0-emit row, not a crash (split on a None would
        # kill the whole job over one bad record).
        for w in (row.text or "").split(" "):
            if len(w) >= 4:
                yield (w, 1)

    def reduce_fn(key, pdf):
        n = int(pdf["one"].sum())
        if n >= 10:  # 0-emit reduce: HAVING expressed as "emit nothing"
            yield (key[0], n)

    return run_map_reduce(
        docs,
        map_fn,
        reduce_fn,
        map_schema="word string, one long",
        out_schema="word string, n long",
        key_cols=["word"],
    )


@register(
    "mr_lang_source_expand",
    oracle="""
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents
        GROUP BY lang, source
    """,
    doc="Multi-emit reduce: one group per lang, reduce emits one row per "
    "distinct source within it (reduce as group→N-row UDTF, R8)",
    tags=("parity", "mapreduce"),
)
def q_mr_lang_source_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")

    def map_fn(row):
        yield (row.lang, row.source)

    def reduce_fn(key, pdf):
        # N emissions per group: the reference's reduce may call emit3 any
        # number of times (MapReduceClient.h:62-64)
        for source, n in sorted(Counter(pdf["source"]).items()):
            yield (key[0], source, int(n))

    return run_map_reduce(
        docs,
        map_fn,
        reduce_fn,
        map_schema="lang string, source string",
        out_schema="lang string, source string, n_docs long",
        key_cols=["lang"],
    )


@register(
    "udtf_tokenize",
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
    doc="Python UDTF (Spark 3.5+ table function) via LATERAL join — the "
    "reference's map IS a UDTF (1 row → 0..N typed rows, MapReduceClient.h:59); "
    "this is its first-class SQL expression. Same semantics as "
    "posexplode_tokens, which is the JVM-side scale path.",
    tags=("parity", "mapreduce", "udtf"),
)
def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string")
    class Tokenize:
        def eval(self, text: str):
            pos = 0
            for w in (text or "").split(" "):
                if w:
                    pos += 1
                    yield pos, w

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("_tbmr_udtf_docs")
    spark.udtf.register("tbmr_tokenize", Tokenize)
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token "
        "FROM _tbmr_udtf_docs d, LATERAL tbmr_tokenize(d.text) t"
    )


@register(
    "cogroup_user_activity",
    oracle="""
        WITH e AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS ev_total
            FROM events GROUP BY user_id
        ),
        o AS (
            SELECT o_custkey AS user_id, CAST(count(*) AS BIGINT) AS n_orders,
                   round(sum(o_totalprice), 2) AS ord_total
            FROM orders GROUP BY o_custkey
        )
        SELECT COALESCE(e.user_id, o.user_id) AS user_id,
               COALESCE(n_events, 0) AS n_events,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(ev_total, 0.0) AS ev_total,
               COALESCE(ord_total, 0.0) AS ord_total
        FROM e FULL JOIN o ON e.user_id = o.user_id
    """,
    doc="Cogrouped applyInArrow: events and orders grouped on the same key "
    "arrive as two aligned Arrow tables per key (either may be empty — the "
    "full-outer contract). The declarative twin is the two-agg full join in "
    "the oracle; the cogroup form is for merge logic SQL can't express. "
    "Scale: the per-key Python call is the cost model — time scales with "
    "KEY COUNT, not bytes — so the cogroup shuffle is an explicit "
    "repartition(N, key): AQE's byte-based partition coalescing would see "
    "a few MB, collapse to one partition, and serialize every per-key call "
    "on one core (measured 14.3 s vs 2.5 s at sf0.1's 15k keys). "
    "REPARTITION_BY_NUM is exempt from coalescing, keeping the Python lane "
    "cluster-wide; plan-gated in test_plans.py. r13: the per-key merge is "
    "applyInArrow, not applyInPandas — each key's result is one "
    "pa.Table.from_arrays over 5 scalars (~40 us) instead of a pandas "
    "block-manager DataFrame (~150 us), and the per-group INPUTS skip the "
    "Arrow→pandas conversion too; sums still run through the identical "
    "numpy float64 reduction, so values are bit-for-bit the pandas lane's.",
    tags=("parity", "mapreduce", "cogroup"),
)
def q_cogroup_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-key Python cost ⇒ parallelism must follow key count, not bytes:
    # pin the cogroup shuffle width so AQE cannot coalesce it away.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .repartition(n_part, "user_id")
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("user_id"), "o_totalprice")
        .repartition(n_part, "user_id")
    )

    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("user_id", pa.int64()),
            ("n_events", pa.int64()),
            ("n_orders", pa.int64()),
            ("ev_total", pa.float64()),
            ("ord_total", pa.float64()),
        ]
    )

    def merge(key, ev_t, od_t):
        ne, no = ev_t.num_rows, od_t.num_rows
        return pa.Table.from_arrays(
            [
                pa.array([key[0].as_py()], pa.int64()),
                pa.array([ne], pa.int64()),
                pa.array([no], pa.int64()),
                pa.array(
                    [
                        round(
                            float(
                                ev_t.column("value")
                                .to_numpy(zero_copy_only=False)
                                .sum()
                            ),
                            2,
                        )
                        if ne
                        else 0.0
                    ],
                    pa.float64(),
                ),
                pa.array(
                    [
                        round(
                            float(
                                od_t.column("o_totalprice")
                                .to_numpy(zero_copy_only=False)
                                .sum()
                            ),
                            2,
                        )
                        if no
                        else 0.0
                    ],
                    pa.float64(),
                ),
            ],
            schema=out_schema,
        )

    return (
        ev.groupBy("user_id")
        .cogroup(od.groupBy("user_id"))
        .applyInArrow(
            merge,
            schema="user_id long, n_events long, n_orders long, ev_total double, ord_total double",
        )
    )


@register(
    "pandas_udf_token_count",
    oracle="""
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents
    """,
    doc="Scalar Pandas UDF (Arrow-vectorized, Series→Series) — the sanctioned "
    "Python scalar path when an expression genuinely can't be built-in; here "
    "it duplicates the JVM-side tokens() on purpose so the oracle pins its "
    "semantics. Completes the UDF surface: scalar pandas_udf / mapInPandas / "
    "applyInPandas / cogroup / UDTF.",
    tags=("parity", "udf"),
)
def q_pandas_udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def n_tokens(texts: pd.Series) -> pd.Series:
        return texts.fillna("").str.split(" ").map(lambda ws: sum(1 for w in ws if w))

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", n_tokens("text").alias("n_tokens"))


@register(
    "pandas_udaf_micro_mean",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS micro_sum,
               round(CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
                     / count(*) / 1000000, 6) AS mean_value
        FROM events GROUP BY event_type
    """,
    doc="TRUE grouped-aggregate Pandas UDF (Series -> scalar), closing the "
    "literal UDAF slot of the UDF surface: per event_type, an exact "
    "micro-unit mean of `value`. Inside the UDAF each double becomes "
    "floor(v * 1e6) — the identical IEEE expression both engines evaluate "
    "— summed as arbitrary-precision Python ints, so the result is "
    "partition-order-independent and sits under the cross-engine hash "
    "gate (the multimodal-kernel convention, applied to an aggregate). "
    "Scale note: GROUPED_AGG pandas UDFs are NOT partially aggregated — "
    "each group's full series ships to one worker — so this is the "
    "Python-lane parity twin; the declarative path in the oracle is what "
    "production runs (same plan as any built-in agg, map-side combined)",
    tags=("parity", "udf", "events"),
)
def q_pandas_udaf_micro_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def micro_sum(values: pd.Series) -> int:
        # floor(v*1e6) mirrors the oracle bit-for-bit; python-int sum is
        # associative, so executor partition order can't change the result.
        # NaN-filter first: SQL sum skips nulls, int(nan) raises — a null
        # value row must not kill the job (count(*) still counts it, in
        # both engines).
        import numpy as np

        arr = values.to_numpy()
        return int(sum(int(x) for x in np.floor(arr[~np.isnan(arr)] * 1e6)))

    @pandas_udf("bigint")
    def n_rows(values: pd.Series) -> int:
        # grouped-agg UDFs can't mix with built-in aggregates in one agg()
        # (INVALID_PANDAS_UDF_PLACEMENT), so the count is a pandas UDAF too.
        return int(len(values))

    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        n_rows("value").alias("n"), micro_sum("value").alias("micro_sum")
    )
    return agg.select(
        "event_type",
        "n",
        "micro_sum",
        F.round(
            F.col("micro_sum").cast("double") / F.col("n") / F.lit(1000000.0), 6
        ).alias("mean_value"),
    )
