"""End-to-end corpus curation: the training-data pipeline the catalog
operators exist for, composed into one lazy plan + one durable write.

    raw documents
      → exact dedup        (keep min doc_id per 60-bit text hash)
      → near-dup dedup     (drop every LSH-cluster member except the
                            cluster's canonical = min doc_id)
      → quality gate       (lexical-diversity/length score ≥ threshold)
      → language gate      (optional lang allowlist)
      → feature columns    (token count, fingerprint-free quality stats)
      → embedding join     (multimodal: text + vector side by side)
      → partitioned write  (hive-layout by lang → partition-pruned reads)

Everything before the write is one lazy DataFrame; Spark fuses the
narrow stages and schedules the two heavy shuffles (exact-dedup group,
LSH signature group) back to back. At 100 TB each step is the same plan —
the LSH cluster table would be incrementally maintained
(see ``dedup_incremental_pairs``) instead of recomputed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .functions.hashing import portable_hash64
from .functions.textfns import quality_score, tokens
from .operators.dedup import q_dedup_clusters
from .sources.registry import load_table, write_sink


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    *,
    quality_min: float = 0.5,
    langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """Build the curated-corpus DataFrame; write it iff ``out_dir`` given."""
    docs = load_table(spark, sf_dir, "documents")

    # 1. exact dedup — narrow 8-byte shuffle key, min doc_id is canonical.
    # The token-derived quality inputs are computed HERE, below the window's
    # exchange, so they are materialized once per row as real shuffled
    # columns (two bigints): the quality gate in step 3 is then a cheap
    # column test. Filtering on a quality EXPRESSION above the window keeps
    # the predicate there (it can't push past the window), but the
    # substituted condition re-splits text ~3x per row inside one Filter —
    # no cross-reference elimination in predicate codegen.
    toks = tokens("text")
    w = W.partitionBy("text_hash").orderBy("doc_id")
    exact = (
        docs.withColumn("text_hash", portable_hash64("text"))
        .withColumn("_nt", F.size(toks))
        .withColumn("_nu", F.size(F.array_distinct(toks)))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    # 2. near-dup dedup — LSH clusters; a member whose id isn't the cluster
    # canonical is a near-duplicate of something we keep
    clusters = q_dedup_clusters(spark, sf_dir)
    near_dups = clusters.where(F.col("doc_id") != F.col("cluster")).select("doc_id")
    deduped = exact.join(F.broadcast(near_dups), "doc_id", "left_anti")

    # 3+4. quality + language gates (pure column math — no shuffle)
    quality = quality_score(F.col("_nt"), F.col("_nu"), F.length("text"))
    scored = deduped.withColumn("quality", F.round(quality, 6)).withColumn(
        "n_tokens", F.col("_nt").cast("bigint")
    )
    gated = scored.where(F.col("quality") >= quality_min).drop("_nt", "_nu")
    if langs:
        gated = gated.where(F.col("lang").isin(*langs))

    # 5. multimodal: text + embedding vector side by side
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    curated = gated.join(emb, "doc_id", "left").select(
        "doc_id", "lang", "source", "text", "text_hash", "n_tokens", "quality", "embedding"
    )

    # 6. durable, partition-pruned layout
    if out_dir is not None:
        write_sink(curated, out_dir, fmt="parquet", partition_by=["lang"])
    return curated


def rollup_events(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    *,
    session_gap: str = "10 minutes",
) -> DataFrame:
    """The events-side composition (the streaming-shaped twin of
    :func:`curate_corpus`):

        raw events
          → exact dedup      (keep first occurrence per event_id —
                              at-least-once ingestion repair)
          → sessionization   (built-in session_window per user)
          → session features (length, event count, value sum, error count)
          → daily rollup     (per day × has_errors, from session rows —
                              never rescans raw events)
          → partitioned write (by day → partition-pruned reads)

    Returns the session-level DataFrame; writes the daily rollup iff
    ``out_dir`` is given.
    """
    e = load_table(spark, sf_dir, "events")

    w = W.partitionBy("event_id").orderBy("ts", "user_id")
    deduped = (
        e.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )

    sessions = (
        deduped.groupBy("user_id", F.session_window("ts", session_gap))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
            F.count_if(F.col("event_type") == "error").alias("n_errors"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            (
                F.unix_micros(F.col("session_window.end"))
                - F.unix_micros(F.col("session_window.start"))
            ).alias("duration_us"),
            "n_events",
            "value_sum",
            "n_errors",
        )
    )

    if out_dir is not None:
        daily = (
            sessions.groupBy(
                F.date_format(F.date_trunc("day", "session_start"), "yyyy-MM-dd").alias("day"),
                (F.col("n_errors") > 0).alias("has_errors"),
            )
            .agg(
                F.count("*").alias("n_sessions"),
                F.sum("n_events").alias("n_events"),
                F.round(F.sum("value_sum"), 2).alias("value_sum"),
            )
        )
        write_sink(daily, out_dir, fmt="parquet", partition_by=["day"])
    return sessions
