"""Streaming-RUNTIME catalog entries (VERDICT r3 next-round #5).

The streaming-tagged batch twins (``events_tumbling_hour`` etc.) prove the
*semantics* through the driver's DuckDB oracle; these two entries prove the
*runtime*: each builds the real Structured Streaming plan (readStream over
the staged events source → watermark → aggregation), drives it to
completion inside the query builder, and returns the materialized sink
table as the result DataFrame — so the driver's rows/schema/hash gate runs
against output that actually flowed through micro-batch execution, state
stores, and a sink.

Reference parity note: the reference is strictly batch (one-shot over a
fixed input vector, ``MapReduceFramework.cpp:329``); streaming is an
engine extension — see ``streaming/events.py`` for the operator library.

Determinism: the file source feeds a fixed file set, aggregations are
deterministic, and the sinks are replay-safe (complete-mode memory table;
append-only parquet partials folded by a merge-on-read view), so repeated
runs produce identical tables for the oracle to hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.catalog import register
from ..sources.registry import _scratch_dir, load_table
from ..streaming.events import (
    _events_stream,
    run_stream_to_memory,
    session_counts_stream,
    sliding_counts_stream,
    tumbling_counts_stream,
)


@register(
    "streaming_tumbling_runtime",
    # identical SQL to the batch twin events_tumbling_hour: the streaming
    # runtime must land on exactly the batch answer
    oracle="""
        SELECT
            CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start_s,
            event_type,
            count(*) AS n,
            round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="The ACTUAL Structured Streaming tumbling-window query executed to "
    "completion (readStream -> 2h watermark -> 1h window agg -> complete-"
    "mode memory sink) with the materialized sink table returned — a hard "
    "driver row for the streaming runtime itself, not just its batch twin",
    tags=("streaming", "runtime", "window"),
)
def q_streaming_tumbling_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        tumbling_counts_stream(spark, sf_dir),
        "tbmr_streaming_tumbling_runtime",
        "complete",
    )


@register(
    "streaming_sliding_runtime",
    # identical SQL to the batch twin events_sliding_2h
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
    doc="Structured Streaming sliding windows (2h length, 1h slide) "
    "executed to completion in complete mode — every event lands in two "
    "overlapping open windows held in the state store across micro-batches",
    tags=("streaming", "runtime", "window"),
)
def q_streaming_sliding_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        sliding_counts_stream(spark, sf_dir),
        "tbmr_streaming_sliding_runtime",
        "complete",
    )


@register(
    "streaming_session_runtime",
    # identical SQL to the batch twin session_window_agg
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
    doc="Structured Streaming session windows (10-minute gap) executed to "
    "completion: the state store merges overlapping [ts, ts+gap) intervals "
    "per user across micro-batches; complete mode emits the final merged "
    "session set — the streaming-native sessionization the batch twin "
    "session_window_agg models",
    tags=("streaming", "runtime", "sessionize"),
)
def q_streaming_session_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        session_counts_stream(spark, sf_dir),
        "tbmr_streaming_session_runtime",
        "complete",
    )


@register(
    "streaming_dedup_runtime",
    oracle="""
        SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Streaming deduplication executed end-to-end: dropDuplicates over "
    "the projected key columns keeps first-seen keys in the state store and "
    "emits each exactly once (append mode) — the streaming half of the "
    "exact-dedup family. State here is unbounded by design of the demo; "
    "production bounds it with dropDuplicatesWithinWatermark once keys "
    "carry event time",
    tags=("streaming", "runtime", "dedup"),
)
def q_streaming_dedup_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    dedup = (
        _events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return run_stream_to_memory(dedup, "tbmr_streaming_dedup_runtime", "append")


@register(
    "streaming_upsert_runtime",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY user_id
    """,
    doc="foreachBatch upsert pipeline executed end-to-end: per-micro-batch "
    "partial aggregates appended to a parquet state table (merge-on-read "
    "upsert), then folded by the reader view — the oracle checks the merged "
    "totals equal one batch aggregation of the same events. Exercises "
    "foreachBatch, an external sink, and replay-safe partials through the "
    "driver's hash gate",
    tags=("streaming", "runtime", "sink"),
)
def q_streaming_upsert_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = _scratch_dir("tbmr-upsert-runtime-")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(target)
        )

    q = _events_stream(spark, sf_dir).writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.read.parquet(target)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("value_sum"), 2).alias("total_value"),
        )
    )


@register(
    "streaming_static_join_runtime",
    oracle="""
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(e.value), 2) AS total_value
        FROM events e
        JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY 1
    """,
    doc="Stream-static enrichment join executed end-to-end: the events "
    "stream broadcast-joins the static customer dimension per micro-batch "
    "(the canonical Kafka-enrichment shape — the dim is re-resolvable each "
    "trigger, no state store involvement), then a complete-mode per-segment "
    "aggregation; the oracle checks the sink equals one batch join+agg of "
    "the same inputs. At 100 TB/day of events the dim side stays a "
    "broadcast and the only shuffle is the 5-row segment aggregate",
    tags=("streaming", "runtime", "join"),
)
def q_streaming_static_join_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = (
        _events_stream(spark, sf_dir)
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return run_stream_to_memory(
        enriched, "tbmr_streaming_static_join_runtime", "complete"
    )


@register(
    "streaming_stateful_runtime",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY user_id
    """,
    doc="The CUSTOM stateful operator (applyInPandasWithState: per-user "
    "running count+total carried in typed group state across triggers) "
    "executed end-to-end. Update mode appends one row per (user, trigger) "
    "to the sink; n_events is strictly monotone per user, so max_by "
    "recovers each user's FINAL state row, which must equal one batch "
    "aggregation of the same events — the arbitrary-state API's whole "
    "contract, under the driver's hash gate. State is one (long, double) "
    "pair per user however many events flow through",
    tags=("streaming", "runtime", "stateful", "udf"),
)
def q_streaming_stateful_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import user_running_totals_stream

    sink = run_stream_to_memory(
        user_running_totals_stream(spark, sf_dir),
        "tbmr_streaming_stateful_runtime",
        "update",
    )
    return sink.groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


@register(
    "streaming_stream_join_runtime",
    oracle="""
        SELECT p.user_id AS p_user,
               p.event_id AS p_event,
               CAST(epoch_us(p.ts) AS BIGINT) AS p_us,
               CAST(epoch_us(s.ts) AS BIGINT) AS s_us
        FROM events p
        JOIN events s
          ON s.user_id = p.user_id
         AND s.event_type = 'signup'
         AND p.event_type = 'purchase'
         AND p.ts >= s.ts
         AND p.ts <= s.ts + INTERVAL 24 HOUR
    """,
    doc="The stream-STREAM interval join executed end-to-end: purchases "
    "joined to the same user's signups within the following 24 h, both "
    "sides watermarked so the planner derives a bounded state-eviction "
    "horizon from the interval condition (signup state lives <= 24 h + "
    "watermark). Append-mode memory sink; the oracle is the batch interval "
    "join of the same events — completing the runtime family: every "
    "streaming operator class (window, session, dedup, stateful, "
    "stream-static join, stream-stream join, foreachBatch sink) now has a "
    "hard driver row",
    tags=("streaming", "runtime", "join"),
)
def q_streaming_stream_join_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import signup_purchase_join_stream

    return run_stream_to_memory(
        signup_purchase_join_stream(spark, sf_dir),
        "tbmr_streaming_stream_join_runtime",
        "append",
    )


def _gq_oracle() -> str:
    from .text import GQ_ORACLE_SQL

    return GQ_ORACLE_SQL


def _distinct_sig_oracle() -> str:
    from .dedup import _minhash_sig_sql

    cols = ", ".join(f"mh{i}" for i in range(8))
    return f"""
        WITH {_minhash_sig_sql()}
        SELECT DISTINCT {cols} FROM sig
    """


@register(
    "streaming_minhash_dedup_runtime",
    # batch twin: DISTINCT over the per-doc MinHash signatures the batch
    # LSH family computes (docs with no shingles contribute no signature)
    oracle=_distinct_sig_oracle(),
    doc="Streaming MinHash dedup executed end-to-end (VERDICT r6 #8, the "
    "9th runtime entry): per-document signatures computed statelessly as "
    "scalar array expressions inside the stream (shingle -> portable hash "
    "-> 8 permutation mins - no aggregation state), then "
    "dropDuplicatesWithinWatermark on the signature tuple keeps "
    "first-seen signatures in the state store and emits each exactly "
    "once (append mode). Event time is synthesized and the watermark "
    "outlasts the run, so the emitted set is exactly the batch twin's "
    "DISTINCT(signature) - the watermark contract still bounds state "
    "under production arrival times. Only signature columns are emitted "
    "(which doc of a duplicate pair arrives first is scheduler-"
    "dependent).",
    tags=("streaming", "runtime", "dedup", "minhash"),
)
def q_streaming_minhash_dedup_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import minhash_dedup_stream

    return run_stream_to_memory(
        minhash_dedup_stream(spark, sf_dir),
        "tbmr_streaming_minhash_dedup_runtime",
        "append",
    )


@register(
    "streaming_timer_ttl_runtime",
    # finalized = users whose inactivity TTL (last event + 10 min) lies
    # strictly below the terminal watermark max(ts) - 2h: the timer fires
    # iff the watermark passes the armed timestamp, so the emitted set —
    # and each row's whole-history totals — is a pure function of the data
    oracle="""
        WITH u AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS total_value,
                   max(ts) AS mx
            FROM events GROUP BY user_id
        ),
        g AS (SELECT max(ts) AS gmax FROM events)
        SELECT user_id, n_events, total_value
        FROM u, g
        WHERE mx + INTERVAL 10 MINUTE < gmax - INTERVAL 2 HOUR
    """,
    doc="The 10th streaming runtime (VERDICT r8 #3): TIMER/TTL semantics "
    "executed end-to-end — per-user state arms an event-time timer at "
    "last_event + 10 min (GroupState.setTimeoutTimestamp); when the "
    "watermark passes it, hasTimedOut fires in the terminal no-data "
    "micro-batch, the finalized (n_events, total_value) row is appended "
    "EXACTLY ONCE and the state is removed — the inactivity-expiry "
    "pattern transformWithState's timer API names, on the protobuf-free "
    "applyInPandasWithState EventTimeTimeout surface (real "
    "transformWithStateInPandas needs google.protobuf, absent here; "
    "test_streaming.py keeps a gated TWS twin). Batch-boundary "
    "determinism: one staged file = one data batch, so values are "
    "whole-history aggregates and the fired-timer set is exactly the "
    "oracle's watermark inequality. State is one (long, double, long) "
    "triple per user, removed on expiry — the state store shrinks as "
    "users expire, the property TTL exists for at 100 TB.",
    tags=("streaming", "runtime", "stateful", "udf", "timer"),
)
def q_streaming_timer_ttl_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import user_ttl_expiry_stream

    return run_stream_to_memory(
        user_ttl_expiry_stream(spark, sf_dir),
        "tbmr_streaming_timer_ttl_runtime",
        "append",
    )


@register(
    "streaming_outer_join_runtime",
    # matched pairs = the plain batch interval join; unmatched purchases
    # are gated by the SAME watermark inequality on both sides: the engine
    # keeps an emitted null-row only if p_ts sits >= 1 s inside the
    # terminal watermark max(ts) - 1h, and the oracle applies the
    # identical cutoff — so Spark's exact (strict-vs-non-strict, ms-
    # rounded) eviction boundary can never flip a row between engines
    oracle="""
        WITH p AS (SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'purchase'),
        s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
        -- the run's terminal watermark: each side's watermark tracks its
        -- OWN filtered stream's max ts, and the global watermark is the
        -- min of the two
        g AS (SELECT least((SELECT max(ts) FROM p),
                           (SELECT max(ts) FROM s)) AS gmax)
        SELECT p.user_id AS p_user,
               p.event_id AS p_event,
               CAST(epoch_us(p.ts) AS BIGINT) AS p_us,
               CAST(epoch_us(s.ts) AS BIGINT) AS s_us,
               1 AS matched
        FROM p JOIN s
          ON s.user_id = p.user_id
         AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOUR
        UNION ALL
        SELECT p.user_id, p.event_id,
               CAST(epoch_us(p.ts) AS BIGINT),
               CAST(NULL AS BIGINT),
               0
        FROM p, g
        WHERE NOT EXISTS (
                  SELECT 1 FROM s
                  WHERE s.user_id = p.user_id
                    AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOUR)
          AND epoch_us(p.ts)
              <= epoch_us(g.gmax) - 3600::BIGINT * 1000000 - 1000000
    """,
    doc="The 11th streaming runtime: stream-stream LEFT OUTER interval "
    "join executed end-to-end — purchases that DID match a signup emit "
    "as inner rows during the data batch; purchases with no signup are "
    "held in the join state store until the watermark proves no future "
    "signup can match, then emit null-padded in the terminal no-data "
    "micro-batch (the outer-emission semantics inner joins don't "
    "exercise: state eviction IS the emission trigger). Boundary "
    "determinism: both the engine and the oracle keep unmatched rows "
    "only >= 1 s inside the terminal watermark, so the emitted set is a "
    "pure function of the data, never of Spark's eviction inequality. "
    "At 100 TB the state bound is the whole point: outer state holds "
    "only rows younger than watermark + interval, evicted continuously.",
    tags=("streaming", "runtime", "join"),
)
def q_streaming_outer_join_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import purchase_signup_left_join_stream

    sink = run_stream_to_memory(
        purchase_signup_left_join_stream(spark, sf_dir),
        "tbmr_streaming_outer_join_runtime",
        "append",
    )
    # terminal-watermark cutoff as a broadcast scalar (no driver collect):
    # the global watermark is min(per-side maxima) - delay, each side
    # tracking only its own filtered event type
    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))),
                F.max(F.when(F.col("event_type") == "signup", F.unix_micros("ts"))),
            )
            - 3600 * 1000000
            - 1000000
        ).alias("wm_cut_us")
    )
    return (
        sink.crossJoin(F.broadcast(wm))
        .where(F.col("s_us").isNotNull() | (F.col("p_us") <= F.col("wm_cut_us")))
        .select(
            "p_user",
            "p_event",
            "p_us",
            "s_us",
            F.when(F.col("s_us").isNotNull(), 1).otherwise(0).cast("int")
            .alias("matched"),
        )
    )


@register(
    "streaming_quality_filter_runtime",
    oracle=_gq_oracle(),
    doc="Gopher quality rules executed IN-STREAM, end-to-end (the 12th "
    "runtime entry): the identical per-row expression tree of "
    "gopher_quality_rules (word-count/mean-length bounds, symbol ratio, "
    "bullet/ellipsis line fractions, alpha-word fraction, stop-word "
    "gate) over a maxFilesPerTrigger=1 micro-batch stream of the "
    "documents table, append mode. The filter is STATELESS — no "
    "aggregation, no state store, no watermark (nothing can be late for "
    "a map) — so the emitted rows are exactly the batch twin's, proving "
    "the curation family's 'streams over any corpus partitioning' claim "
    "in the real Structured Streaming runtime: production ingest scores "
    "quality at arrival time. Oracle is the SAME SQL the batch entry "
    "hashes against.",
    tags=("streaming", "runtime", "text", "curation", "quality"),
)
def q_streaming_quality_filter_runtime(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.events import quality_filter_stream

    return run_stream_to_memory(
        quality_filter_stream(spark, sf_dir),
        "tbmr_streaming_quality_filter_runtime",
        "append",
    )


@register(
    "streaming_c4_filter_runtime",
    # imported lazily below to avoid a curation<->streaming import cycle
    oracle=__import__(
        "thread_based_map_reduce_spark.operators.curation", fromlist=["_C4_ORACLE"]
    )._C4_ORACLE,
    doc="C4 cleaning filters executed IN-STREAM, end-to-end (the 13th "
    "runtime entry): the identical per-row expression tree of "
    "c4_filters (terminal-punctuation + min-words line retention, "
    "sentence-count page gate, lorem-ipsum / brace / bad-word gates) "
    "over a maxFilesPerTrigger=1 micro-batch stream of the documents "
    "table, append mode. STATELESS like the quality-filter runtime — "
    "no aggregation, no state store, no watermark (nothing can be late "
    "for a map) — so the emitted rows are exactly the batch twin's: "
    "production ingest runs C4 cleaning at arrival time. Oracle is the "
    "SAME SQL the batch entry hashes against.",
    tags=("streaming", "runtime", "text", "curation", "quality"),
)
def q_streaming_c4_filter_runtime(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.events import c4_filter_stream

    return run_stream_to_memory(
        c4_filter_stream(spark, sf_dir),
        "tbmr_streaming_c4_filter_runtime",
        "append",
    )
