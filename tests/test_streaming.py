"""Streaming tests: the streaming tumbling-window aggregation must agree
with its batch twin (catalog query ``events_tumbling_hour``), and the
stateful per-user operator must agree with a batch groupBy."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from thread_based_map_reduce_spark.plans.catalog import queries
from thread_based_map_reduce_spark.sources.registry import load_table
from thread_based_map_reduce_spark.streaming.events import (
    minhash_dedup_stream,
    run_stream_to_memory,
    session_counts_stream,
    tumbling_counts_stream,
    user_running_totals_stream,
)


def test_stream_sources_start_no_spark_job(spark, sf_dir):
    # the file source's schema comes from the testdata footer on the
    # driver, not from a schema-inference job over the staging dir
    sc = spark.sparkContext
    group = f"stream-start-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "build two streams")
    try:
        tumbling_counts_stream(spark, sf_dir)
        minhash_dedup_stream(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream_out = run_stream_to_memory(
        tumbling_counts_stream(spark, sf_dir), "t_tumbling", "complete"
    )
    got = {
        (r.hour_start_s, r.event_type): (r.n, r.total_value) for r in stream_out.collect()
    }
    batch = queries()["events_tumbling_hour"](spark, sf_dir)
    want = {
        (r.hour_start_s, r.event_type): (r.n, r.total_value) for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_session_window_equals_batch(spark, sf_dir):
    # complete mode emits the full merged session set every trigger (session
    # aggregations support append/complete, not update)
    stream_out = run_stream_to_memory(
        session_counts_stream(spark, sf_dir), "t_sessions", "complete"
    )
    got = {
        (r.user_id, r.session_start_us): (r.n_events, r.total_value)
        for r in stream_out.collect()
    }
    batch = queries()["session_window_agg"](spark, sf_dir)
    want = {
        (r.user_id, r.session_start_us): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stateful_running_totals(spark, sf_dir):
    out = run_stream_to_memory(
        user_running_totals_stream(spark, sf_dir), "t_state", "update"
    )
    # final state per user (last update wins) must equal the batch rollup
    final = {}
    for r in out.collect():
        final[r.user_id] = (r.n_events, r.total_value)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("t"))
    )
    want = {r.user_id: (r.n, r.t) for r in batch.collect()}
    assert final == want and len(final) > 0


def test_stream_parquet_sink_durable(spark, sf_dir, tmp_path_factory):
    # durable sink path: writeStream -> parquet with checkpoint; the file
    # sink is append-only, so use the watermarked tumbling aggregation and
    # compare against the batch twin restricted to closed (below-final-
    # watermark) windows... with one input file the watermark never
    # advances, so drive two triggers by staging the stream as the real
    # deployment would: events file first, then a sentinel late file whose
    # max ts pushes the watermark past every real window.
    import os

    out = str(tmp_path_factory.mktemp("stream-out"))
    ckpt = str(tmp_path_factory.mktemp("stream-ckpt"))
    src = str(tmp_path_factory.mktemp("stream-src"))
    from pyspark.sql import functions as F

    batch = load_table(spark, sf_dir, "events")
    # one file per stage dir so maxFilesPerTrigger=1 processes them in
    # deterministic mod-time order: all real events, then the sentinel
    batch.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    # sentinel: the LATEST event pushed 10 days out, so it lands past
    # max(real ts) and actually advances the watermark
    sentinel = (
        batch.orderBy(F.col("ts").desc())
        .limit(1)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
        .withColumn("user_id", F.lit(-1))
        .withColumn("event_type", F.lit("sentinel"))
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    # a watermark advance only emits in the NEXT microbatch, so a second
    # sentinel file drives batch 3, which flushes everything batch 2 closed
    sentinel.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 10 DAYS")
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f3"))

    raw = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    agg = (
        raw.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_start_s"),
            "event_type",
            "n",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.hour_start_s, r.event_type): r.n
        for r in spark.read.parquet(out).collect()
        if r.event_type != "sentinel"
    }
    # batch twin: every real (non-sentinel) window is closed by the sentinel
    want = {
        (r.hour_start_s, r.event_type): r.n
        for r in (
            batch.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
            .agg(F.count("*").alias("n"))
            .select(
                F.unix_timestamp(F.col("window.start")).alias("hour_start_s"),
                "event_type",
                "n",
            )
            .collect()
        )
    }
    # the sentinel (+10 days, 2h watermark) closes every real window
    assert len(got) > 0
    assert got == want


def test_stream_stream_interval_join(spark, sf_dir):
    from thread_based_map_reduce_spark.streaming.events import signup_purchase_join_stream

    out = run_stream_to_memory(
        signup_purchase_join_stream(spark, sf_dir), "t_ssjoin", "append"
    )
    got = {(r.p_user, r.p_event, r.p_us, r.s_us) for r in out.collect()}

    # batch twin: same interval join, declaratively
    e = load_table(spark, sf_dir, "events")
    s = e.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event"),
    )
    batch = (
        p.join(
            s,
            (F.col("p_user") == F.col("s_user"))
            & (F.col("p_ts") >= F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 24 HOURS")),
        )
        .select(
            "p_user",
            "p_event",
            F.unix_micros("p_ts").alias("p_us"),
            F.unix_micros("s_ts").alias("s_us"),
        )
    )
    want = {(r.p_user, r.p_event, r.p_us, r.s_us) for r in batch.collect()}
    # append-mode emission is complete here: the single input file is one
    # microbatch, and joined rows emit as soon as both sides are present
    assert got == want and len(got) > 0


def test_foreachbatch_upsert_totals(spark, sf_dir, tmp_path_factory):
    import os

    from thread_based_map_reduce_spark.streaming.events import (
        read_user_totals,
        start_user_totals_upsert,
    )

    src = str(tmp_path_factory.mktemp("upsert-src"))
    target = str(tmp_path_factory.mktemp("upsert-target"))
    batch = load_table(spark, sf_dir, "events")
    # two staged files -> two microbatches -> the state table holds partials
    # from multiple batches and the merge-on-read fold must reconcile them
    half = batch.where(F.col("event_id") % 2 == 0)
    other = batch.where(F.col("event_id") % 2 == 1)
    half.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    other.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))

    q = start_user_totals_upsert(spark, src, target)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.user_id: (r.n_events, r.total_value) for r in read_user_totals(spark, target).collect()}
    want = {
        r.user_id: (r.n, r.t)
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    assert got == want and len(got) > 0
    # and the state table really holds partials from >1 batch
    n_batches = spark.read.parquet(target).select("batch_id").distinct().count()
    assert n_batches >= 2


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path_factory):
    # streaming deduplication: duplicate event_ids arriving within the
    # watermark horizon are dropped; output = distinct original events
    import os

    src = str(tmp_path_factory.mktemp("dedup-src"))
    batch = load_table(spark, sf_dir, "events")
    batch.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    # replay the same events (same event_id+ts -> duplicates)
    batch.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))

    schema = batch.schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    deduped = raw.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_stream_to_memory(deduped, "t_dedup_stream", "append")
    got = sorted(r.event_id for r in out.collect())
    want = sorted(r.event_id for r in batch.collect())
    assert got == want  # every duplicate dropped, every original kept once


def test_transform_with_state_max(spark, sf_dir):
    # transformWithStateInPandas needs google.protobuf (the state-server
    # protocol), which this runtime image lacks — skip rather than stub.
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not available: transformWithState needs it")
    from thread_based_map_reduce_spark.streaming.events import user_max_value_tws_stream

    out = run_stream_to_memory(
        user_max_value_tws_stream(spark, sf_dir), "t_tws", "update"
    )
    final = {}
    for r in out.collect():
        final[r.user_id] = r.max_value  # last update per user wins
    want = {
        r.user_id: r.m
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("value").alias("m"))
        .collect()
    }
    assert final == want and len(final) > 0


def test_stream_sliding_equals_batch(spark, sf_dir):
    from thread_based_map_reduce_spark.streaming.events import sliding_counts_stream

    stream_out = run_stream_to_memory(
        sliding_counts_stream(spark, sf_dir), "t_sliding", "complete"
    )
    got = {
        (r.win_start_s, r.event_type): (r.n, r.total_value) for r in stream_out.collect()
    }
    batch = queries()["events_sliding_2h"](spark, sf_dir)
    want = {
        (r.win_start_s, r.event_type): (r.n, r.total_value) for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_timer_ttl_equals_batch(spark, sf_dir):
    # Timer/TTL batch parity (the 10th runtime): the stream must emit
    # EXACTLY the users whose inactivity TTL expired below the terminal
    # watermark, each exactly once, with whole-history totals equal to
    # the batch aggregation — and nobody else (still-armed timers stay
    # in state, unemitted).
    from thread_based_map_reduce_spark.streaming.events import (
        TTL_GAP_MS,
        run_stream_to_memory,
        user_ttl_expiry_stream,
    )

    out = run_stream_to_memory(
        user_ttl_expiry_stream(spark, sf_dir), "t_timer_ttl", "append"
    ).collect()
    uids = [r.user_id for r in out]
    assert len(uids) == len(set(uids)), "a timer fired twice for some user"
    ev = load_table(spark, sf_dir, "events")
    gmax = ev.agg(F.max("ts").alias("m")).first()["m"]
    batch = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.max("ts").alias("mx"),
        )
        .collect()
    )
    import datetime

    ttl = datetime.timedelta(milliseconds=TTL_GAP_MS)
    wm = gmax - datetime.timedelta(hours=2)
    want = {
        r.user_id: (r.n_events, r.total_value) for r in batch if r.mx + ttl < wm
    }
    got = {r.user_id: (r.n_events, r.total_value) for r in out}
    assert got == want and len(got) > 0
    # the complement really is withheld: at least one user stays in state
    # on this fixture (its last event is inside the watermark tail)
    assert len(want) < len(batch)
