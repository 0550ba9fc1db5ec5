"""Training-corpus curation operators over ``documents`` (mandated
extension, SURVEY §2.3): benchmark decontamination, duplicate-span
measurement, mixture/quota sampling, RAG chunking, and shard assignment.

These are the pipeline steps between "deduplicated corpus" and "training
shards" that the dedup/text families don't cover. Everything is built-in
expressions over the portable 60-bit hash (functions/hashing.py) — no
Python in the row path — and each query documents its 100 TB shape:

- decontamination broadcasts the (small) benchmark-gram set against the
  exploded corpus grams — no corpus-vs-corpus shuffle;
- duplicate-span counting shuffles twice on a narrow 60-bit gram hash
  (gram→doc-count, then doc re-aggregation) — the honest distributed
  shape of suffix/ngram-level dedup;
- quota sampling needs one tiny per-language aggregate broadcast back
  over a single corpus pass — no window, no global sort;
- chunking is embarrassingly parallel (per-row transform + explode);
- fixed-size sharding is the one place a global sort is genuinely
  required (range-partitioned exchange, Spark's distributed sort), and
  the docstring records the hash-mod alternative when fixed sizes are
  negotiable.

Generalizes the reference's flagship map→shuffle→reduce loop
(``Sample Client/SampleClient.cpp:34-65``) the same way the dedup/text
families do; the reference itself has no curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..functions.textfns import ngrams_of_tokens, tokens
from ..plans.catalog import register
from ..session import reliable_checkpoint
from ..sources.registry import load_table, spread_small_scan

# Production decontamination uses 8-13-token grams; the synthetic corpus
# draws ~100 tokens/doc from a ~30-word vocabulary, so 3-grams (27k-point
# space) give the overlap distribution real corpora show at 8-13.
DECONTAM_NGRAM = 3
# Every 41st doc plays the held-out benchmark set (deterministic, ~2.4%).
EVAL_MOD = 41

DUP_SPAN_NGRAM = 4

CHUNK_SIZE = 32
CHUNK_STRIDE = 24

MIX_TARGET_PER_LANG = 40
MIX_RES = 1_000_000  # hash-fraction resolution for the sampling threshold

SHARD_SIZE = 256

# Sequence packing: context-window length (tokens) and shard fan-out.
PACK_SEQ_LEN = 512
PACK_SHARDS = 8

# Mixture reweighting: cap on per-language upsampling factor.
MIX_MAX_WEIGHT = 5.0


def _toks_sql(src: str = "documents") -> str:
    return (
        f"toks AS (SELECT doc_id, lang, "
        f"list_filter(string_split(text, ' '), t -> t <> '') AS w FROM {src})"
    )


def _grams_sql(n: int) -> str:
    """Distinct word n-grams per doc (mirrors ngrams_of_tokens + array_distinct)."""
    return (
        "grams AS (SELECT doc_id, list_distinct("
        f"[array_to_string(w[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len(w) - {n - 1}, 0) + 1)]) AS g FROM toks)"
    )


@register(
    "decontam_eval_overlap",
    oracle=f"""
        WITH {_toks_sql()},
        {_grams_sql(DECONTAM_NGRAM)},
        eval_grams AS (
            SELECT DISTINCT unnest(g) AS gram FROM grams
            WHERE doc_id % {EVAL_MOD} = 0
        ),
        train AS (
            SELECT doc_id, g, len(g) AS n_grams FROM grams
            WHERE doc_id % {EVAL_MOD} <> 0
        ),
        hits AS (
            SELECT t.doc_id, count(e.gram) AS hit_grams
            FROM (SELECT doc_id, unnest(g) AS gram FROM train) t
            LEFT JOIN eval_grams e ON t.gram = e.gram
            GROUP BY t.doc_id
        )
        SELECT t.doc_id,
               CAST(t.n_grams AS BIGINT) AS n_grams,
               CAST(coalesce(h.hit_grams, 0) AS BIGINT) AS hit_grams,
               round(coalesce(h.hit_grams, 0) / nullif(t.n_grams, 0), 6) AS contam_frac,
               coalesce(h.hit_grams, 0) >= 0.5 * t.n_grams AND t.n_grams > 0
                   AS contaminated
        FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
    doc="Benchmark decontamination: fraction of each training doc's distinct "
    f"{DECONTAM_NGRAM}-grams that appear in the held-out eval set "
    f"(doc_id % {EVAL_MOD} = 0); flags docs with >=50% overlap. At 100 TB "
    "the eval-gram table is tiny versus the corpus -> broadcast join against "
    "the exploded grams, one doc_id shuffle to re-aggregate",
    tags=("text", "curation", "dedup"),
)
def q_decontam_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # materialize the tokenize->ngram->distinct pass once: both the eval
    # and train branches consume it (same reuse pattern as the minhash
    # shingle table, dedup.py)
    # tokenize ONCE into its own projection before the n-gram transform:
    # inlining tokens(text) into the lambda re-runs split+filter per gram
    # position (ngrams_of_tokens docstring; measured ~1.4x on this pass)
    toked = docs.select("doc_id", tokens("text").alias("_toks"))
    grams = reliable_checkpoint(
        toked.select(
            "doc_id",
            F.array_distinct(
                ngrams_of_tokens(F.col("_toks"), DECONTAM_NGRAM)
            ).alias("_g"),
        )
    )
    eval_grams = (
        grams.where(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("_g").alias("gram"))
        .distinct()
    )
    train = grams.where(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id", "_g", F.size("_g").alias("n_grams")
    )
    # explode_outer keeps gram-less docs (shorter than the n-gram width);
    # the eval side is small by construction -> explicit broadcast.
    exploded = train.select(
        "doc_id", "n_grams", F.explode_outer("_g").alias("gram")
    )
    hits = exploded.join(
        F.broadcast(eval_grams.withColumn("_hit", F.lit(1))), "gram", "left"
    )
    frac = F.col("hit_grams") / F.nullif(F.col("n_grams"), F.lit(0))
    return (
        hits.groupBy("doc_id", "n_grams")
        .agg(F.count("_hit").alias("hit_grams"))
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("hit_grams").cast("bigint").alias("hit_grams"),
            F.round(frac, 6).alias("contam_frac"),
            (
                (F.col("hit_grams") >= 0.5 * F.col("n_grams"))
                & (F.col("n_grams") > 0)
            ).alias("contaminated"),
        )
    )


@register(
    "dup_span_fraction",
    oracle=f"""
        WITH {_toks_sql()},
        {_grams_sql(DUP_SPAN_NGRAM)},
        span AS (
            SELECT doc_id, {portable_hash64_sql('gram')} AS gh, len_g
            FROM (SELECT doc_id, unnest(g) AS gram, len(g) AS len_g FROM grams)
        ),
        gram_docs AS (
            SELECT gh, count(*) AS nd FROM span GROUP BY gh
        )
        SELECT s.doc_id,
               CAST(any_value(s.len_g) AS BIGINT) AS n_spans,
               CAST(count(*) FILTER (WHERE d.nd >= 2) AS BIGINT) AS dup_spans,
               round(count(*) FILTER (WHERE d.nd >= 2)
                     / nullif(any_value(s.len_g), 0), 6) AS dup_frac
        FROM span s JOIN gram_docs d ON s.gh = d.gh
        GROUP BY s.doc_id
    """,
    doc=f"Duplicate-span measurement: fraction of each doc's distinct "
    f"{DUP_SPAN_NGRAM}-gram spans that occur in at least one OTHER doc — "
    "the n-gram approximation of suffix-array substring dedup. Two narrow "
    "60-bit-hash shuffles (gram->doc-count, then per-doc re-agg); no "
    "pairwise doc comparison anywhere, so the shape survives 100 TB. "
    "Docs with zero spans drop out (no grams to join), matching the oracle",
    tags=("text", "curation", "dedup"),
)
def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread_small_scan'd (r12 A/B: 2.2s plain vs 3.0s spread at
    # sf0.1 — the gram front is too cheap to amortize the extra exchange;
    # the first groupBy already distributes the heavy half)
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once (see decontam above: inline tokens(text) re-splits the
    # text per gram position — this pass measured 3.3->2.4 s at sf0.1)
    toked = docs.select("doc_id", tokens("text").alias("_toks"))
    grams = toked.select(
        "doc_id",
        F.array_distinct(
            ngrams_of_tokens(F.col("_toks"), DUP_SPAN_NGRAM)
        ).alias("_g"),
    )
    # per-doc distinct grams -> count(*) per hash IS the containing-doc
    # count. Deliberately aggregate-then-join-back rather than the (locally
    # ~15% faster) count window over gh: hot grams are a fact of real
    # corpora (a stop-phrase can sit in millions of docs), and a window
    # partition has no skew mitigation — every hot-gram row lands in ONE
    # task. The aggregate shrinks hot keys map-side (partial combine) and
    # the join-back is AQE-skew-splittable, so this shape survives 100 TB.
    # Checkpoint the PRE-explode gram arrays, not the exploded span table:
    # both consumers below re-run the cheap explode+hash from the compact
    # per-doc arrays instead of materializing one row per (doc, gram) with
    # len_g duplicated across every span — n-gram-width times less block
    # data (measured 3.3 s -> 2.1 s on this pass at sf0.1).
    grams = reliable_checkpoint(grams)
    span = grams.select(
        "doc_id", F.size("_g").alias("len_g"), F.explode("_g").alias("gram")
    ).select("doc_id", "len_g", portable_hash64("gram").alias("gh"))
    gram_docs = span.groupBy("gh").agg(F.count("*").alias("nd"))
    dup = F.count(F.when(F.col("nd") >= 2, 1))
    # shuffle-hash: the static planner was BROADCASTING the exploded span
    # side (checkpoint-derived, so AQE never re-sizes it), defeating the
    # aggregate-then-join-back design above; the hint pins the
    # co-partitioned gh join the skew argument assumes (r9, measured)
    return (
        span.join(gram_docs.hint("shuffle_hash"), "gh")
        .groupBy("doc_id")
        .agg(
            F.any_value("len_g").cast("bigint").alias("n_spans"),
            dup.cast("bigint").alias("dup_spans"),
            F.round(
                dup / F.nullif(F.any_value("len_g"), F.lit(0)), 6
            ).alias("dup_frac"),
        )
    )


@register(
    "mix_quota_sample",
    oracle=f"""
        WITH counts AS (
            SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
        ),
        thresholds AS (
            SELECT lang, n_docs,
                   CAST(floor(least(1.0, {MIX_TARGET_PER_LANG}.0 / n_docs)
                              * {MIX_RES}) AS BIGINT) AS quota_threshold
            FROM counts
        )
        SELECT d.lang,
               CAST(t.n_docs AS BIGINT) AS n_docs,
               t.quota_threshold,
               CAST(count(*) FILTER (
                   WHERE {portable_hash64_sql("'mix:' || d.doc_id")} % {MIX_RES}
                         < t.quota_threshold) AS BIGINT) AS n_sampled
        FROM documents d JOIN thresholds t ON d.lang = t.lang
        GROUP BY d.lang, t.n_docs, t.quota_threshold
    """,
    doc="Mixture/quota sampling: deterministic hash-fraction downsampling to "
    f"~{MIX_TARGET_PER_LANG} docs per language — how a training mix is "
    "rebalanced without a shuffle of the corpus. One tiny per-language "
    "aggregate broadcast back over a single pass; selection is a pure "
    "function of doc_id, so resampling is reproducible and incremental",
    tags=("text", "curation"),
)
def q_mix_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    thresholds = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.floor(
                F.least(F.lit(1.0), F.lit(float(MIX_TARGET_PER_LANG)) / F.col("n_docs"))
                * MIX_RES
            )
            .cast("bigint")
            .alias("quota_threshold"),
        )
    )
    h = portable_hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    keep = (h % MIX_RES) < F.col("quota_threshold")
    return (
        docs.join(F.broadcast(thresholds), "lang")
        .groupBy("lang", "n_docs", "quota_threshold")
        .agg(F.count(F.when(keep, 1)).cast("bigint").alias("n_sampled"))
    )


@register(
    "rag_chunk_stats",
    oracle=f"""
        WITH {_toks_sql()},
        base AS (
            SELECT doc_id, w,
                   CASE WHEN len(w) <= {CHUNK_SIZE} THEN 1
                        ELSE ((len(w) - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1)
                              // {CHUNK_STRIDE}) + 1 END AS nch
            FROM toks
        )
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_id,
               CAST(len(w[(1 + {CHUNK_STRIDE} * (i - 1)):
                          ({CHUNK_STRIDE} * (i - 1) + {CHUNK_SIZE})])
                    AS BIGINT) AS n_chunk_tokens,
               {portable_hash64_sql(
                   f"array_to_string(w[(1 + {CHUNK_STRIDE} * (i - 1)):"
                   f"({CHUNK_STRIDE} * (i - 1) + {CHUNK_SIZE})], ' ')"
               )} AS chunk_hash
        FROM (SELECT doc_id, w, unnest(range(1, nch + 1)) AS i FROM base)
    """,
    doc=f"RAG chunking: overlapping {CHUNK_SIZE}-token windows at stride "
    f"{CHUNK_STRIDE} with a stable per-chunk content hash — the retrieval-"
    "corpus prep step. Pure per-row transform + explode: no shuffle at all, "
    "embarrassingly parallel at any scale",
    tags=("text", "curation"),
)
def q_rag_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("_w"))
    ntok = F.size("_w")
    nch = F.when(ntok <= CHUNK_SIZE, F.lit(1)).otherwise(
        F.floor((ntok - CHUNK_SIZE + CHUNK_STRIDE - 1) / F.lit(CHUNK_STRIDE)) + 1
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(1).cast("bigint"), nch.cast("bigint")),
            lambda i: F.struct(
                i.cast("bigint").alias("chunk_id"),
                F.slice(
                    F.col("_w"), (i - 1) * CHUNK_STRIDE + 1, CHUNK_SIZE
                ).alias("ctoks"),
            ),
        )
    )
    return base.select("doc_id", chunk.alias("_c")).select(
        "doc_id",
        F.col("_c.chunk_id").alias("chunk_id"),
        F.size("_c.ctoks").cast("bigint").alias("n_chunk_tokens"),
        portable_hash64(F.concat_ws(" ", F.col("_c.ctoks"))).alias("chunk_hash"),
    )


@register(
    "pack_sequences_stats",
    oracle=f"""
        WITH {_toks_sql()},
        base AS (
            SELECT doc_id, len(w) AS ntok,
                   {portable_hash64_sql("'pack:' || doc_id")} AS h
            FROM toks
        ),
        ordered AS (
            SELECT h % {PACK_SHARDS} AS shard, ntok,
                   sum(ntok) OVER (PARTITION BY h % {PACK_SHARDS}
                                   ORDER BY h, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
            FROM base
        )
        SELECT CAST(shard AS BIGINT) AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS total_tokens,
               CAST((sum(ntok) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN}
                    AS BIGINT) AS n_sequences,
               CAST(count(*) FILTER (
                   WHERE ntok > 0
                     AND (cum - 1) // {PACK_SEQ_LEN}
                         > (cum - ntok) // {PACK_SEQ_LEN}
               ) AS BIGINT) AS n_docs_split,
               round(((sum(ntok) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN}
                      * {PACK_SEQ_LEN} - sum(ntok))
                     / nullif((sum(ntok) + {PACK_SEQ_LEN - 1})
                              // {PACK_SEQ_LEN} * {PACK_SEQ_LEN}.0, 0),
                     6) AS pad_frac
        FROM ordered
        GROUP BY shard
    """,
    doc=f"Sequence packing for LLM pretraining: docs are hash-routed to "
    f"{PACK_SHARDS} shards, concatenated in a deterministic hash order, and "
    f"cut into {PACK_SEQ_LEN}-token context windows (GPT-style "
    "concat-then-chunk). Per shard: sequence count, docs split across a "
    "window boundary, and tail-padding waste — the numbers that size a "
    "training run. The per-shard running token sum is computed with the "
    "bucket-prefix-sum shape (shard_assignment_stats' _global_rank trick, "
    "lifted from ranks to sums): 256 order-preserving hash-range buckets "
    "per shard carry per-bucket token totals, a broadcast prefix sum of "
    "those 2048 tiny rows gives each bucket's starting offset, and the "
    "within-bucket window touches corpus/(shards*256) rows — no window "
    "partition grows linearly with the corpus (VERDICT r3 wrong #2 fix)",
    tags=("text", "curation"),
)
def q_pack_sequences_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
    # _bucket = top 8 bits of the 60-bit hash: monotone in _h, so the
    # (_bucket, _h, doc_id) order equals the (_h, doc_id) concat order and
    # per-bucket running sums + bucket-total prefix offsets reproduce the
    # per-shard cumulative sum exactly.
    # checkpoint the NARROW tokenized frame (doc_id, ntok, _h — no text):
    # both the bucket-total branch and the running-sum lane reuse it, so
    # documents is scanned and tokenized exactly once
    base = reliable_checkpoint(
        docs.select("doc_id", F.size(tokens("text")).alias("ntok"), h.alias("_h"))
        .withColumn("_shard", F.col("_h") % PACK_SHARDS)
        .withColumn("_bucket", F.shiftright("_h", 52))
    )
    btotals = base.groupBy("_shard", "_bucket").agg(F.sum("ntok").alias("_bt"))
    # prefix sum over at most shards x 256 rows — bounded by construction
    offsets = btotals.select(
        "_shard",
        "_bucket",
        F.coalesce(
            F.sum("_bt").over(
                W.partitionBy("_shard")
                .orderBy("_bucket")
                .rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    within_cum = F.sum("ntok").over(
        W.partitionBy("_shard", "_bucket")
        .orderBy("_h", "doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    L = PACK_SEQ_LEN
    with_cum = base.join(F.broadcast(offsets), ["_shard", "_bucket"]).withColumn(
        "_cum", F.col("_off") + within_cum
    )
    split = (F.col("ntok") > 0) & (
        F.floor((F.col("_cum") - 1) / L)
        > F.floor((F.col("_cum") - F.col("ntok")) / L)
    )
    nseq = F.floor((F.sum("ntok") + (L - 1)) / L)
    return (
        with_cum.groupBy(F.col("_shard").cast("bigint").alias("shard_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("total_tokens"),
            nseq.cast("bigint").alias("n_sequences"),
            F.count(F.when(split, 1)).cast("bigint").alias("n_docs_split"),
            # nullif: an all-empty shard has nseq = 0 — emit NULL pad_frac
            # rather than 0/0.0 = NaN (ADVICE r3)
            F.round(
                (nseq * L - F.sum("ntok"))
                / F.nullif((nseq * L).cast("double"), F.lit(0.0)),
                6,
            ).alias("pad_frac"),
        )
    )


@register(
    "domain_mix_weights",
    oracle=f"""
        WITH {_toks_sql()},
        per AS (
            SELECT lang, count(*) AS n_docs, sum(len(w)) AS tok
            FROM toks GROUP BY lang
        )
        SELECT lang,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(tok AS BIGINT) AS lang_tokens,
               round(tok / (sum(tok) OVER ())::DOUBLE, 6) AS token_share,
               round(1.0 / (count(*) OVER ()), 6) AS target_share,
               -- nullif: a language whose docs are all empty has share 0;
               -- emit NULL weight/kl instead of +Infinity (ADVICE r3)
               round(least({MIX_MAX_WEIGHT}, (1.0 / (count(*) OVER ()))
                     / nullif(tok / (sum(tok) OVER ())::DOUBLE, 0)),
                     6) AS mix_weight,
               round((1.0 / (count(*) OVER ()))
                     * ln((1.0 / (count(*) OVER ()))
                          / nullif(tok / (sum(tok) OVER ())::DOUBLE, 0)),
                     6) AS kl_term
        FROM per
    """,
    doc="Training-mixture reweighting: per-language token share vs a uniform "
    "target mix; emits the sampling weight (capped at "
    f"{MIX_MAX_WEIGHT}x upsampling) and the per-language KL term that "
    "measures how far the natural mix sits from the target. The corpus "
    "collapses to one tiny per-language aggregate (map-side combine, "
    "narrow key); the global-total windows touch n_langs rows only, so "
    "the shape is one corpus pass at any scale",
    tags=("text", "curation", "stats"),
)
def q_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("tok"),
    )
    # windows over the unpartitioned frame are safe HERE only because the
    # input is the n_langs-row aggregate, never the corpus
    all_w = W.partitionBy()
    share = F.col("tok") / F.sum("tok").over(all_w).cast("double")
    # nullif: a language whose docs are all empty has share 0; emit NULL
    # weight/kl instead of +Infinity (ADVICE r3)
    share_nz = F.nullif(share, F.lit(0.0))
    target = F.lit(1.0) / F.count("*").over(all_w)
    return per.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("tok").cast("bigint").alias("lang_tokens"),
        F.round(share, 6).alias("token_share"),
        F.round(target, 6).alias("target_share"),
        F.round(F.least(F.lit(MIX_MAX_WEIGHT), target / share_nz), 6).alias(
            "mix_weight"
        ),
        F.round(target * F.log(target / share_nz), 6).alias("kl_term"),
    )


@register(
    "shard_assignment_stats",
    oracle=f"""
        WITH {_toks_sql()},
        ranked AS (
            SELECT doc_id, lang, len(w) AS ntok,
                   row_number() OVER (
                       ORDER BY {portable_hash64_sql("'shard:' || doc_id")},
                                doc_id) AS rn
            FROM toks
        )
        SELECT CAST((rn - 1) // {SHARD_SIZE} AS BIGINT) AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS total_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM ranked
        GROUP BY shard_id
    """,
    doc=f"Training-shard assignment: docs ordered by a deterministic hash "
    f"permutation and cut into fixed-size shards of {SHARD_SIZE} — the "
    "global-shuffle-then-shard step before writing training data. The "
    "global rank is computed WITHOUT a single-partition sort: the 60-bit "
    "hash's top 8 bits form 256 order-preserving range buckets, ranks are "
    "per-bucket windows (parallel), and a broadcast prefix-sum of bucket "
    "counts lifts them to global ranks — the distributed-ranking shape "
    "that survives 100 TB. When approximate sizes suffice, shard_id = "
    "hash % n_shards drops even that. Per-shard language spread (n_langs) "
    "verifies the permutation actually mixes",
    tags=("text", "curation"),
)
def q_shard_assignment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    # bucket = top 8 bits of the 60-bit hash: monotone in h, so
    # (bucket, h, doc_id) order == (h, doc_id) order and per-bucket ranks
    # plus bucket-count prefix sums reproduce the global row_number the
    # oracle computes in one pass.
    base = docs.select(
        "doc_id", "lang", F.size(tokens("text")).alias("ntok"), h.alias("_h")
    ).withColumn("_bucket", F.shiftright("_h", 52))
    counts = base.groupBy("_bucket").agg(F.count("*").alias("_bn"))
    # prefix sum over 256 bucket-count rows — the single-partition window
    # touches 256 rows regardless of corpus size
    offsets = counts.select(
        "_bucket",
        F.coalesce(
            F.sum("_bn").over(
                W.orderBy("_bucket").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    within = F.row_number().over(W.partitionBy("_bucket").orderBy("_h", "doc_id"))
    ranked = base.join(F.broadcast(offsets), "_bucket").withColumn(
        "rn", F.col("_off") + within
    )
    return (
        ranked.groupBy(
            F.floor((F.col("rn") - 1) / SHARD_SIZE).cast("bigint").alias("shard_id")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("total_tokens"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
    )


@register(
    "train_val_test_split_stats",
    oracle=f"""
        WITH {_toks_sql()},
        assigned AS (
            SELECT doc_id, lang, len(w) AS ntok,
                   CASE WHEN {portable_hash64_sql("'split:' || doc_id")} % 100 < 98
                            THEN 'train'
                        WHEN {portable_hash64_sql("'split:' || doc_id")} % 100 < 99
                            THEN 'val'
                        ELSE 'test' END AS split
            FROM toks
        )
        SELECT split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS total_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               round(count(*) / (sum(count(*)) OVER ())::DOUBLE, 6) AS doc_share
        FROM assigned
        GROUP BY split
    """,
    doc="Deterministic 98/1/1 train/val/test assignment by content-stable "
    "hash (doc_id-keyed, so the split survives reshuffles, re-ingests, and "
    "incremental appends — the property random() splits lack) with "
    "per-split doc/token totals and language spread. One corpus pass into "
    "a 3-row aggregate; the share window touches 3 rows",
    tags=("text", "curation"),
)
def q_train_val_test_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    assigned = docs.select(
        "lang",
        F.size(tokens("text")).alias("ntok"),
        F.when(h % 100 < 98, "train").when(h % 100 < 99, "val").otherwise("test").alias("split"),
    )
    per = assigned.groupBy("split").agg(
        F.count("*").alias("n_docs_raw"),
        F.sum("ntok").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    # the share window runs over the 3-row aggregate, never the corpus
    return per.select(
        "split",
        F.col("n_docs_raw").cast("bigint").alias("n_docs"),
        "total_tokens",
        "n_langs",
        F.round(
            F.col("n_docs_raw") / F.sum("n_docs_raw").over(W.partitionBy()).cast("double"),
            6,
        ).alias("doc_share"),
    )


# Content-defined chunking (round 4): a token ENDS a chunk when its
# portable hash is 0 mod CDC_MOD, giving ~CDC_MOD-token expected chunks
# whose boundaries depend only on CONTENT — insert one token into a doc
# and only the chunk containing it changes, unlike fixed-size chunking
# where every later chunk shifts (the rsync/LBFS/restic boundary trick,
# applied at token granularity for dedup-friendly RAG/corpus chunking).
CDC_MOD = 16


@register(
    "cdc_chunk_stats",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, CAST(p.i AS BIGINT) AS pos, p.t AS w
            FROM (
                SELECT doc_id, lang,
                       unnest([{{'i': i, 't': toks[i]}} for i in range(1, len(toks) + 1)]) AS p
                FROM (
                    SELECT doc_id, lang,
                           list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents
                )
            )
        ),
        flagged AS (
            SELECT doc_id, lang, pos,
                   CASE WHEN {portable_hash64_sql('w')} % {CDC_MOD} = 0
                        THEN 1 ELSE 0 END AS bnd
            FROM tok
        ),
        chunked AS (
            SELECT doc_id, lang,
                   coalesce(sum(bnd) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS chunk_id
            FROM flagged
        ),
        chunks AS (
            SELECT doc_id, lang, chunk_id, CAST(count(*) AS BIGINT) AS clen
            FROM chunked GROUP BY doc_id, lang, chunk_id
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_chunks,
               round(avg(clen), 4) AS avg_chunk_len,
               CAST(max(clen) AS BIGINT) AS max_chunk_len,
               CAST(min(clen) AS BIGINT) AS min_chunk_len
        FROM chunks
        GROUP BY lang
    """,
    doc="Content-defined chunking statistics: chunk boundaries fall after "
    "tokens whose portable hash is 0 mod 16 (expected ~16-token chunks), "
    "so boundaries are a pure function of content — an edit perturbs one "
    "chunk, not every subsequent one like the fixed-size rag_chunk_stats "
    "split; this is what makes chunk-level dedup stable across document "
    "revisions. The running boundary count windows per doc_id (bounded by "
    "one document's tokens); everything else is narrow aggregation",
    tags=("curation", "chunking", "text"),
)
def q_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.posexplode(tokens("text")).alias("pos", "w")
    )
    flagged = tok.select(
        "doc_id",
        "lang",
        "pos",
        F.when(portable_hash64(F.col("w")) % CDC_MOD == 0, 1)
        .otherwise(0)
        .alias("bnd"),
    )
    w_prev = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
    )
    chunked = flagged.select(
        "doc_id",
        "lang",
        F.coalesce(F.sum("bnd").over(w_prev), F.lit(0)).alias("chunk_id"),
    )
    chunks = chunked.groupBy("doc_id", "lang", "chunk_id").agg(
        F.count("*").alias("clen")
    )
    return chunks.groupBy("lang").agg(
        F.count("*").alias("n_chunks"),
        F.round(F.avg("clen"), 4).alias("avg_chunk_len"),
        F.max("clen").cast("bigint").alias("max_chunk_len"),
        F.min("clen").cast("bigint").alias("min_chunk_len"),
    )


@register(
    "k_anonymity_stats",
    oracle="""
        WITH g AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS gsize
            FROM documents GROUP BY lang, source
        )
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(gsize) AS BIGINT) AS k_min,
               CAST(sum(CASE WHEN gsize < 5 THEN gsize ELSE 0 END) AS BIGINT)
                   AS n_docs_below_k,
               round(sum(CASE WHEN gsize < 5 THEN gsize ELSE 0 END)
                     / sum(gsize), 6) AS frac_below_k
        FROM g
    """,
    doc="k-anonymity audit over the (lang, source) quasi-identifier pair: "
    "the smallest equivalence class, and how many documents sit in classes "
    "below k=5 — the release-gate metric privacy review asks of a corpus "
    "before publication. One narrow-key aggregation then a scalar rollup; "
    "metadata-sized at any corpus scale",
    tags=("curation", "privacy", "diagnostics"),
)
def q_k_anonymity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count("*").alias("gsize"))
    below = F.when(F.col("gsize") < 5, F.col("gsize")).otherwise(0)
    return g.agg(
        F.count("*").alias("n_groups"),
        F.min("gsize").cast("bigint").alias("k_min"),
        F.sum(below).cast("bigint").alias("n_docs_below_k"),
        F.round(F.sum(below) / F.sum("gsize"), 6).alias("frac_below_k"),
    )


# --------------------------------------------------------------------------
# l-diversity: the release-audit sibling of k_anonymity_stats — within
# each (lang, source) quasi-identifier group, how many DISTINCT sensitive
# values (here: the document-length decile as a stand-in sensitive
# attribute) appear. A k-anonymous group with one sensitive value still
# leaks; l >= 2 is the floor.
@register(
    "l_diversity_stats",
    oracle="""
        WITH sens AS (
            SELECT lang, source,
                   least(9, n_chars // 100) AS sv
            FROM documents
        ),
        g AS (
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS gsize,
                   CAST(count(DISTINCT sv) AS BIGINT) AS l
            FROM sens GROUP BY lang, source
        )
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(l) AS BIGINT) AS min_l,
               CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_low_diversity_groups,
               CAST(sum(CASE WHEN l < 2 THEN gsize ELSE 0 END) AS BIGINT)
                   AS n_exposed_docs,
               round(CAST(sum(CASE WHEN l < 2 THEN gsize ELSE 0 END) AS DOUBLE)
                     / sum(gsize), 6) AS exposed_share
        FROM g
    """,
    doc="l-diversity release audit over the (lang, source) quasi-"
    "identifier (sensitive attribute: length decile): distinct-sensitive-"
    "value count per group, groups below l=2, and the exposed-document "
    "share — the disclosure check k-anonymity alone misses (a uniform "
    "group of size k still reveals its one sensitive value). Same "
    "metadata-cost shape as k_anonymity_stats: one narrow aggregate, "
    "grid-sized everything after",
    tags=("curation", "privacy", "quality"),
)
def q_l_diversity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sens = docs.select(
        "lang",
        "source",
        F.least(F.lit(9), (F.col("n_chars") / 100).cast("bigint")).alias("sv"),
    )
    g = sens.groupBy("lang", "source").agg(
        F.count("*").alias("gsize"),
        F.countDistinct("sv").alias("l"),
    )
    low = F.when(F.col("l") < 2, 1).otherwise(0)
    exposed = F.when(F.col("l") < 2, F.col("gsize")).otherwise(0)
    return g.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.min("l").cast("bigint").alias("min_l"),
        F.sum(low).cast("bigint").alias("n_low_diversity_groups"),
        F.sum(exposed).cast("bigint").alias("n_exposed_docs"),
        F.round(
            F.sum(exposed).cast("double") / F.sum("gsize"), 6
        ).alias("exposed_share"),
    )


# -- exact per-key reservoir sampling (round-7, VERDICT r6 #7) ---------------

RESERVOIR_K = 20  # exact quota per key


@register(
    "reservoir_sample_per_key",
    oracle=f"""
        WITH ranked AS (
            SELECT lang, doc_id,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {portable_hash64_sql("'res:' || doc_id")}, doc_id
                   ) AS smp_rank,
                   count(*) OVER (PARTITION BY lang) AS n_docs
            FROM documents
        )
        SELECT lang, doc_id, CAST(smp_rank AS BIGINT) AS smp_rank,
               CAST(n_docs AS BIGINT) AS n_docs
        FROM ranked
        WHERE smp_rank <= {RESERVOIR_K}
    """,
    doc=f"EXACT per-key reservoir sample: for each language keep precisely "
    f"min({RESERVOIR_K}, n) documents — the ones with the {RESERVOIR_K} "
    "smallest values of a salted 60-bit portable hash (doc_id tiebreak). "
    "Hash-rank top-k per key is distribution-identical to a k-reservoir "
    "but deterministic, replayable, and mergeable (per-partition top-k "
    "heaps combine; Spark's WindowGroupLimit pushes the rank<=k filter "
    "into a partial top-k before the exchange, so the shuffle carries "
    "at most k rows per key per map partition — never the full corpus). "
    "This is the revised quota/mix primitive: mix_quota_sample's "
    "hash-fraction variant stays as the zero-shuffle approximation with "
    "binomial quota error; this path pays one narrow shuffle for an "
    "exact quota. Emits the sampled rows themselves (lang, doc_id, "
    "rank, key population) so the selection — not just its size — is "
    "value-gated against the oracle.",
    tags=("curation", "sampling"),
)
def q_reservoir_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.concat(F.lit("res:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    # key populations via a tiny grouped aggregate broadcast back — NOT a
    # second (unbounded count) window function, which would force every
    # row through the Window node and defeat WindowGroupLimit's partial
    # top-k pushdown (verified in the plan: WindowGroupLimit present)
    counts = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    sampled = (
        docs.select("lang", "doc_id", F.row_number().over(w).cast("bigint").alias("smp_rank"))
        .where(F.col("smp_rank") <= RESERVOIR_K)
    )
    # null-safe join: the oracle's count window emits a NULL-lang partition,
    # so a NULL-lang group must survive the counts join too (ADVICE r7)
    return sampled.join(
        F.broadcast(counts), sampled["lang"].eqNullSafe(counts["lang"])
    ).select(sampled["lang"], "doc_id", "smp_rank", "n_docs")


@register(
    "mix_quota_exact_manifest",
    oracle=f"""
        WITH ranked AS (
            SELECT lang, doc_id, text,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {portable_hash64_sql("'res:' || doc_id")}, doc_id
                   ) AS smp_rank
            FROM documents
        ),
        sampled AS (
            SELECT lang, doc_id,
                   len(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS n_toks
            FROM ranked WHERE smp_rank <= {RESERVOIR_K}
        ),
        corpus AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS corpus_docs,
                   CAST(sum(len(list_filter(string_split(text, ' '),
                                            t -> t <> ''))) AS BIGINT)
                       AS corpus_tokens
            FROM documents GROUP BY lang
        )
        SELECT c.lang, c.corpus_docs, c.corpus_tokens,
               CAST(count(s.doc_id) AS BIGINT) AS sampled_docs,
               CAST(coalesce(sum(s.n_toks), 0) AS BIGINT) AS sampled_tokens,
               round(coalesce(sum(s.n_toks), 0)::DOUBLE
                     / nullif(c.corpus_tokens, 0), 6) AS token_share
        FROM corpus c
        LEFT JOIN sampled s ON s.lang = c.lang
        GROUP BY c.lang, c.corpus_docs, c.corpus_tokens
    """,
    doc="The training-mix MANIFEST built on the exact per-key reservoir "
    "(the 'revised quota/mix path' of VERDICT r6 #7): for each language, "
    f"the exact-quota sample (min({RESERVOIR_K}, n) docs via "
    "reservoir_sample_per_key's salted-hash rank) is summarized as "
    "sampled docs/tokens against the corpus totals, with the realized "
    "token share — the table a data-mix pipeline hands to the trainer. "
    "Composition stays one pass over documents for corpus stats plus the "
    "WindowGroupLimit-bounded sample pass; the quota is EXACT per key, "
    "unlike mix_quota_sample's binomial hash-fraction.",
    tags=("curation", "sampling", "pipeline"),
)
def q_mix_quota_exact_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.concat(F.lit("res:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    n_toks = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    sampled = (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("smp_rank"), "text")
        .where(F.col("smp_rank") <= RESERVOIR_K)
        .select("lang", "doc_id", n_toks.alias("n_toks"))
    )
    corpus = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("corpus_docs"),
        F.sum(n_toks).cast("bigint").alias("corpus_tokens"),
    )
    return (
        corpus.join(sampled, "lang", "left")
        .groupBy("lang", "corpus_docs", "corpus_tokens")
        .agg(
            F.count("doc_id").cast("bigint").alias("sampled_docs"),
            F.coalesce(F.sum("n_toks"), F.lit(0)).cast("bigint").alias("sampled_tokens"),
            F.round(
                F.coalesce(F.sum("n_toks"), F.lit(0)).cast("double")
                / F.nullif(F.col("corpus_tokens"), F.lit(0)),
                6,
            ).alias("token_share"),
        )
    )


# -- DSIR-style importance selection (round-8 growth) --------------------------

# Hashed n-gram feature space (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): bigrams hashed into DSIR_BUCKETS
# buckets; per-bucket unigram models for the target domain and the raw
# corpus with add-one smoothing; a document's importance weight is the sum
# of per-bucket log-likelihood ratios over its bigram occurrences.
DSIR_BUCKETS = 512
DSIR_TARGET_LANG = "en"  # the "target domain" sample: English documents
DSIR_TOP_K = 50


@register(
    "dsir_importance_select",
    oracle=f"""
        WITH {_toks_sql()},
        bi AS (
            SELECT doc_id, lang,
                   unnest([array_to_string(w[i:i+1], ' ')
                           for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS gram
            FROM toks
        ),
        feat AS (
            SELECT doc_id, lang,
                   {portable_hash64_sql('gram')} % {DSIR_BUCKETS} AS b
            FROM bi
        ),
        raw AS (SELECT b, count(*) AS c FROM feat GROUP BY b),
        tgt AS (
            SELECT b, count(*) AS c FROM feat
            WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
        ),
        tot AS (
            SELECT (SELECT count(*) FROM feat) AS rt,
                   (SELECT count(*) FROM feat WHERE lang = '{DSIR_TARGET_LANG}') AS tt
        ),
        lr AS (
            SELECT raw.b,
                   CAST(floor(1e6 * (ln((coalesce(t.c, 0) + 1.0)
                                        / (tot.tt + {DSIR_BUCKETS}))
                                     - ln((raw.c + 1.0)
                                          / (tot.rt + {DSIR_BUCKETS}))))
                        AS BIGINT) AS lr
            FROM raw LEFT JOIN tgt t ON raw.b = t.b, tot
        ),
        scored AS (
            SELECT f.doc_id,
                   max(f.lang) AS lang,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(lr.lr) AS BIGINT) AS weight_micronat
            FROM feat f JOIN lr ON f.b = lr.b
            GROUP BY f.doc_id
        )
        SELECT doc_id, lang, n_bigrams, weight_micronat
        FROM scored
        ORDER BY weight_micronat DESC, doc_id
        LIMIT {DSIR_TOP_K}
    """,
    doc="DSIR-style data selection (Xie et al. 2023): documents scored by "
    f"hashed-bigram importance weights — {DSIR_BUCKETS}-bucket unigram "
    "models of the target domain (lang = "
    f"'{DSIR_TARGET_LANG}') vs the raw corpus, add-one smoothing, per-"
    "bucket log-likelihood ratios quantized to integer micronats "
    "(floor(1e6*ln) -> BIGINT, the ml.py convention) so the per-doc "
    "score is an order-independent integer sum — a rounded-double sum "
    "hit a 4 dp midpoint at sf0.1; "
    f"top-{DSIR_TOP_K} selected with a doc_id tiebreak. 100 TB shape: both bucket models collapse to "
    f"<= {DSIR_BUCKETS} rows (map-side combine on a narrow int key) and "
    "broadcast back over ONE exploded corpus pass; the per-doc sum is a "
    "single doc_id shuffle and the selection is TakeOrderedAndProject "
    "(never a global sort materialization). In production the selected "
    "budget is a fraction/quota rather than a fixed K — the threshold "
    "variant filters on weight >= t with no ordering stage at all.",
    tags=("text", "curation", "sampling"),
)
def q_dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "lang", tokens("text").alias("_toks"))
    feat = toked.select(
        "doc_id",
        "lang",
        F.explode(ngrams_of_tokens(F.col("_toks"), 2)).alias("gram"),
    ).select(
        "doc_id", "lang", (portable_hash64("gram") % DSIR_BUCKETS).alias("b")
    )
    # one exploded-feature pass feeds the raw model, the target model and
    # the per-doc scoring join
    feat = reliable_checkpoint(feat)
    raw = feat.groupBy("b").agg(F.count("*").alias("c"))
    tgt = (
        feat.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").alias("tc"))
    )
    tot = feat.agg(
        F.count("*").alias("rt"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias("tt"),
    )
    # micronat quantization (the operators/ml.py convention): per-bucket
    # log-ratios become floor(1e6 * ln)-> BIGINT, so the per-doc score is
    # an ORDER-INDEPENDENT integer sum — a rounded-double sum diverged
    # from the oracle at a 4 dp midpoint on the sf0.1 corpus (doc 751,
    # 1.04485: accumulation-order ulp). The _micronat suffix opts the
    # column into the prepared ±1 libm tolerance path.
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                F.lit(1e6)
                * (
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                        / (F.col("tt") + DSIR_BUCKETS)
                    )
                    - F.log((F.col("c") + 1.0) / (F.col("rt") + DSIR_BUCKETS))
                )
            )
            .cast("bigint")
            .alias("lr"),
        )
    )
    scored = (
        feat.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("lr").cast("bigint").alias("weight_micronat"),
        )
    )
    return scored.orderBy(F.desc("weight_micronat"), "doc_id").limit(
        DSIR_TOP_K
    ).select("doc_id", "lang", "n_bigrams", "weight_micronat")


# -- temperature-based mixture allocation (round-8 growth) ---------------------

# Multilingual-training temperature sampling (public from the mBERT /
# XLM-R recipes): sampling probability proportional to n_l^alpha flattens
# the natural size distribution; alpha=0.3 is the XLM-R setting.
MIX_TEMPERATURE_ALPHA = 0.3
MIX_TOKEN_BUDGET = 1_000_000


@register(
    "temperature_mix_allocation",
    oracle=f"""
        WITH {_toks_sql()},
        per_lang AS (
            SELECT lang, CAST(sum(len(w)) AS BIGINT) AS n_tokens
            FROM toks GROUP BY lang
        ),
        tot AS (
            SELECT sum(n_tokens) AS total,
                   sum(pow(n_tokens, {MIX_TEMPERATURE_ALPHA})) AS ztemp
            FROM per_lang
        )
        SELECT p.lang,
               p.n_tokens,
               round(p.n_tokens / nullif(t.total, 0), 6) AS natural_share,
               round(pow(p.n_tokens, {MIX_TEMPERATURE_ALPHA}) / nullif(t.ztemp, 0), 6)
                   AS temp_prob,
               round((pow(p.n_tokens, {MIX_TEMPERATURE_ALPHA}) / nullif(t.ztemp, 0))
                     / nullif(p.n_tokens / nullif(t.total, 0), 0), 4)
                   AS upsample_weight,
               CAST(floor(pow(p.n_tokens, {MIX_TEMPERATURE_ALPHA}) / nullif(t.ztemp, 0)
                          * {MIX_TOKEN_BUDGET}) AS BIGINT) AS quota_tokens,
               round(floor(pow(p.n_tokens, {MIX_TEMPERATURE_ALPHA}) / nullif(t.ztemp, 0)
                           * {MIX_TOKEN_BUDGET}) / nullif(p.n_tokens, 0), 4)
                   AS effective_epochs
        FROM per_lang p, tot t
    """,
    doc="Temperature-based training-mix allocation (the XLM-R alpha="
    f"{MIX_TEMPERATURE_ALPHA} recipe): per-language sampling probability "
    "proportional to n_tokens^alpha, flattening the natural size "
    "distribution so low-resource languages are upsampled without "
    "memorizing them; emits the natural share, temperature probability, "
    "upsample weight (temp/natural), the token quota under a "
    f"{MIX_TOKEN_BUDGET:,}-token budget, and the effective epochs "
    "(quota/n_l — the number every mixture design checks against its "
    "repetition tolerance). Complements domain_mix_weights (uniform "
    "target, capped weights) and mix_quota_exact_manifest (exact "
    "reservoir): this is the continuous-alpha family. One corpus pass "
    "into a 5-row aggregate; the normalizing sums touch n_langs rows.",
    tags=("curation", "agg", "sampling"),
)
def q_temperature_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_lang = (
        docs.select("lang", F.size(tokens("text")).alias("_n"))
        .groupBy("lang")
        .agg(F.sum("_n").cast("bigint").alias("n_tokens"))
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("total"),
        F.sum(F.pow(F.col("n_tokens"), F.lit(MIX_TEMPERATURE_ALPHA))).alias("ztemp"),
    )
    # nullif guards: a degenerate corpus (all-empty texts) makes a lang's
    # n_tokens — and so every denominator here — zero, and ANSI division
    # raises where SQL would null-propagate
    temp_p = F.pow(F.col("n_tokens"), F.lit(MIX_TEMPERATURE_ALPHA)) / F.nullif(
        F.col("ztemp"), F.lit(0)
    )
    nat = F.col("n_tokens") / F.nullif(F.col("total"), F.lit(0))
    quota = F.floor(temp_p * MIX_TOKEN_BUDGET)
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        F.round(nat, 6).alias("natural_share"),
        F.round(temp_p, 6).alias("temp_prob"),
        F.round(temp_p / F.nullif(nat, F.lit(0)), 4).alias("upsample_weight"),
        quota.cast("bigint").alias("quota_tokens"),
        F.round(quota / F.nullif(F.col("n_tokens"), F.lit(0)), 4).alias(
            "effective_epochs"
        ),
    )


# -- weighted sampling without replacement (round-8 growth) --------------------

# Efraimidis & Spirakis 2006 ("Weighted random sampling with a
# reservoir"): give item i the key u_i^(1/w_i) with u_i uniform(0,1];
# the k largest keys are a weighted sample without replacement with
# P(selected) increasing in w_i. Deterministic replay: u_i is the salted
# portable hash mapped to (0,1], and the ORDERING key is
# floor(1e6 * ln(u)/w) — ln is monotone so ranking by ln(u)/w descending
# equals ranking by u^(1/w), and the integer micronat form keeps the
# cross-engine comparison exact (ml.py convention; the _micronat suffix
# opts into the prepared ±1 libm tolerance).
ARES_K = 100
_ARES_SALT = "ares:"
_H_SPACE_60 = float(2**60)


@register(
    "weighted_sample_ares",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, lang,
                   CAST(n_chars AS BIGINT) AS weight,
                   CAST(floor(1e6 * ln(
                       ({portable_hash64_sql("'" + _ARES_SALT + "' || CAST(doc_id AS VARCHAR)")} + 1)
                       / {_H_SPACE_60})
                       / greatest(n_chars, 1)) AS BIGINT) AS key_micronat
            FROM documents
        ),
        topk AS (
            SELECT * FROM keyed
            ORDER BY key_micronat DESC, doc_id
            LIMIT {ARES_K}
        )
        SELECT doc_id, lang, weight, key_micronat,
               CAST(row_number() OVER (ORDER BY key_micronat DESC, doc_id)
                    AS BIGINT) AS rank
        FROM topk
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES): "
    f"the {ARES_K} documents with the largest u^(1/w) keys, w = n_chars — "
    "the quality-/length-weighted selection step between uniform sampling "
    "(sample_hash_deterministic) and exact per-key quotas "
    "(reservoir_sample_per_key); at 100 TB the weight is a quality score "
    "and this IS the 'sample good documents preferentially' pass. "
    "Deterministic replay: u from the salted portable hash, ranking key "
    "quantized to integer micronats (ln monotone, so floor(1e6*ln(u)/w) "
    "preserves the A-ES order up to documented 1e-6 granularity with a "
    "doc_id tiebreak). One corpus pass; the cut is "
    "TakeOrderedAndProject (per-partition k-heaps merged — the "
    "distributed reservoir semantics A-ES was designed for); the rank "
    "window touches k rows.",
    tags=("curation", "sampling"),
)
def q_weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        portable_hash64(F.concat(F.lit(_ARES_SALT), F.col("doc_id").cast("string")))
        + 1
    ) / F.lit(_H_SPACE_60)
    key = F.floor(
        F.lit(1e6) * F.log(u) / F.greatest(F.col("n_chars"), F.lit(1))
    ).cast("bigint")
    keyed = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("weight"),
        key.alias("key_micronat"),
    )
    topk = keyed.orderBy(F.desc("key_micronat"), "doc_id").limit(ARES_K)
    # BOUNDED global window: runs over the <= ARES_K rows the TakeOrdered
    # cut already produced, never the corpus (audited in test_plans.py
    # _BOUNDED_GLOBAL_WINDOW_SITES)
    w = W.orderBy(F.desc("key_micronat"), "doc_id")
    return topk.select(
        "doc_id",
        "lang",
        "weight",
        "key_micronat",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


# -- curriculum-ordering training manifest (round-9 growth) ---------------------

# The last unbuilt step between the sampling primitives and a
# trainer-consumable ordering (VERDICT r8 #5): compose the A-ES
# quality-weighted selection keys (q_weighted_sample_ares) with the
# temperature mixture quotas (q_temperature_mix_allocation) into a
# per-shard training manifest ordered easy -> hard (length-based
# curriculum, Bengio et al. ICML 2009 "Curriculum Learning"), with a
# deterministic hash shuffle INSIDE each difficulty decile so shards
# don't see documents in corpus order.
CURR_DOC_BUDGET = 200  # manifest size (documents) across all languages
CURR_SHARDS = 8
CURR_DECILES = 10
_CURR_SALT = "curr:"


@register(
    "curriculum_manifest",
    oracle=f"""
        WITH per_doc AS (
            SELECT doc_id, lang,
                   CAST(coalesce(len(list_filter(string_split(text, ' '),
                                                 t -> t <> '')), 0) AS BIGINT)
                       AS n_tokens,
                   CAST(floor(1e6 * ln(
                       ({portable_hash64_sql("'" + _ARES_SALT + "' || CAST(doc_id AS VARCHAR)")} + 1)
                       / {_H_SPACE_60})
                       / greatest(n_chars, 1)) AS BIGINT) AS key_micronat
            FROM documents
        ),
        per_lang AS (
            SELECT lang, sum(n_tokens) AS lang_tokens FROM per_doc GROUP BY lang
        ),
        tot AS (
            SELECT sum(pow(lang_tokens, {MIX_TEMPERATURE_ALPHA})) AS ztemp
            FROM per_lang
        ),
        quota AS (
            SELECT lang,
                   CAST(floor(pow(lang_tokens, {MIX_TEMPERATURE_ALPHA})
                              / nullif(ztemp, 0) * {CURR_DOC_BUDGET}) AS BIGINT)
                       AS quota_docs
            FROM per_lang, tot
        ),
        ranked AS (
            SELECT p.*,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY key_micronat DESC, doc_id) AS rnk
            FROM per_doc p
        ),
        selected AS (
            SELECT r.doc_id, r.lang, r.n_tokens
            FROM ranked r JOIN quota q ON r.lang = q.lang
            WHERE r.rnk <= q.quota_docs
        ),
        tiled AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(ntile({CURR_DECILES})
                        OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS decile,
                   {portable_hash64_sql("'" + _CURR_SALT + "' || CAST(doc_id AS VARCHAR)")}
                       AS shuf
            FROM selected
        ),
        pos AS (
            SELECT doc_id, lang, n_tokens, decile,
                   row_number() OVER (ORDER BY decile, shuf, doc_id) AS gp
            FROM tiled
        )
        SELECT CAST((gp - 1) % {CURR_SHARDS} AS BIGINT) AS shard,
               CAST((gp - 1) // {CURR_SHARDS} + 1 AS BIGINT) AS position,
               doc_id, lang, decile, n_tokens
        FROM pos
    """,
    doc="Curriculum-ordering training manifest (Bengio et al. 2009 "
    "length-based curriculum): selects documents per language by the "
    "SAME A-ES quality keys weighted_sample_ares ranks with, under "
    "per-language document quotas from the SAME XLM-R n^alpha recipe "
    "temperature_mix_allocation prices, then orders the selected set "
    f"easy -> hard in {CURR_DECILES} token-count deciles with a "
    "deterministic salted-hash shuffle inside each decile, and deals the "
    f"ordering round-robin into {CURR_SHARDS} shards — emitting the "
    "(shard, position, doc_id) list a trainer consumes directly. "
    "100 TB shape: the quota table is n_langs rows (broadcast); "
    "selection is ONE per-language rank window over the corpus (the "
    "standard top-quota-per-key shape, WindowGroupLimit-prunable); the "
    f"decile/position windows run over the <= {CURR_DOC_BUDGET}-row "
    "SELECTED manifest, never the corpus (bounded-global-window audit in "
    "test_plans.py) — at a production budget the manifest ordering step "
    "is a range-partitioned sort by (decile, shuf), not a window. "
    "Integer end to end (micronat keys, token counts, positions).",
    tags=("curation", "sampling", "layout"),
)
def q_curriculum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        portable_hash64(F.concat(F.lit(_ARES_SALT), F.col("doc_id").cast("string")))
        + 1
    ) / F.lit(_H_SPACE_60)
    key = F.floor(
        F.lit(1e6) * F.log(u) / F.greatest(F.col("n_chars"), F.lit(1))
    ).cast("bigint")
    per_doc = reliable_checkpoint(
        docs.select(
            "doc_id",
            "lang",
            F.coalesce(F.size(tokens("text")), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            key.alias("key_micronat"),
        )
    )
    per_lang = per_doc.groupBy("lang").agg(
        F.sum("n_tokens").alias("lang_tokens")
    )
    tot = per_lang.agg(
        F.sum(F.pow(F.col("lang_tokens"), F.lit(MIX_TEMPERATURE_ALPHA))).alias(
            "ztemp"
        )
    )
    # one-row broadcast normalizer (the temperature_mix_allocation site)
    quota = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.floor(
            F.pow(F.col("lang_tokens"), F.lit(MIX_TEMPERATURE_ALPHA))
            / F.nullif(F.col("ztemp"), F.lit(0))
            * CURR_DOC_BUDGET
        )
        .cast("bigint")
        .alias("quota_docs"),
    )
    w_lang = W.partitionBy("lang").orderBy(F.desc("key_micronat"), "doc_id")
    selected = (
        per_doc.withColumn("rnk", F.row_number().over(w_lang))
        .join(F.broadcast(quota), "lang")
        .where(F.col("rnk") <= F.col("quota_docs"))
        .select("doc_id", "lang", "n_tokens")
    )
    shuf = portable_hash64(
        F.concat(F.lit(_CURR_SALT), F.col("doc_id").cast("string"))
    )
    # BOUNDED global windows: both run over the <= CURR_DOC_BUDGET-row
    # selected manifest the quota filter already produced, never the
    # corpus (audited in test_plans.py _BOUNDED_GLOBAL_WINDOW_SITES)
    tiled = selected.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.ntile(CURR_DECILES)
        .over(W.orderBy("n_tokens", "doc_id"))
        .cast("bigint")
        .alias("decile"),
        shuf.alias("shuf"),
    )
    gp = F.row_number().over(W.orderBy("decile", "shuf", "doc_id"))
    return tiled.select(
        ((gp - 1) % CURR_SHARDS).cast("bigint").alias("shard"),
        ((gp - 1) - (gp - 1) % CURR_SHARDS).cast("bigint").alias("_q"),
        "doc_id",
        "lang",
        "decile",
        "n_tokens",
    ).select(
        "shard",
        (F.col("_q") / CURR_SHARDS + 1).cast("bigint").alias("position"),
        "doc_id",
        "lang",
        "decile",
        "n_tokens",
    )


# -- C4 cleaning filters (round 11) --------------------------------------------
#
# Raffel et al. 2020 (T5 / C4): the line- and page-level heuristics that
# produced the C4 corpus. Conventions pinned for engine parity: lines =
# newline splits; a KEPT line ends in terminal punctuation (. ! ? ")
# AND has >= 5 whitespace words; sentences = terminal-mark count over
# the kept lines — counted as raw '.'/'!'/'?' CHARACTER occurrences, so
# an ellipsis '...' counts as 3 sentences and a kept line ending only
# in '"' counts 0 (ADVICE r11: pinned convention, drifting from C4's
# linguistic sentence segmentation the same way the raw-char choice is
# pinned; c4_sentence_span_dedup splits on runs instead, the other
# defensible reading); the bad-word list is a deterministic 3-entry stand-in
# for the published (very large) blocklist — the mechanism, not the
# list, is the operator. Page gates: >= 3 sentences, no "lorem ipsum",
# no '{', no bad word. The corpus-wide three-sentence-span dedup C4 also
# runs is the dedup family's job (dedup_exact / exact-substring spans).

C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
C4_BAD_WORDS = ("badword1", "badword2", "badword3")
_C4_TERMINAL = (".", "!", "?", '"')


# ONE oracle string shared by the batch entry and the 13th streaming
# runtime (streaming_c4_filter_runtime): the stream must land on exactly
# the batch answer, so both hash against the same SQL (the
# streaming_quality_filter_runtime convention).
_C4_ORACLE = f"""
        WITH lined AS (
            SELECT doc_id, lower(text) AS lo,
                   list_filter(string_split(text, chr(10)), l -> l <> '') AS ls
            FROM documents
        ),
        kept AS (
            SELECT doc_id, lo, len(ls) AS n_lines,
                   list_filter(ls, l ->
                       ({" OR ".join("l LIKE '%' || '" + (t if t != "'" else "''") + "'" for t in _C4_TERMINAL)})
                       AND len(list_filter(string_split(l, ' '), w -> w <> ''))
                           >= {C4_MIN_LINE_WORDS}) AS kl
            FROM lined
        ),
        stat AS (
            SELECT doc_id, n_lines, len(kl) AS n_kept_lines,
                   CAST(list_sum(list_transform(kl, l ->
                       (length(l) - length(replace(l, '.', '')))
                       + (length(l) - length(replace(l, '!', '')))
                       + (length(l) - length(replace(l, '?', ''))))) AS BIGINT)
                       AS n_sentences,
                   contains(lo, 'lorem ipsum') AS has_lorem_ipsum,
                   contains(lo, '{{') AS has_brace,
                   ({" OR ".join("contains(lo, '" + b + "')" for b in C4_BAD_WORDS)})
                       AS has_bad_word
            FROM kept
        )
        SELECT doc_id,
               CAST(n_lines AS BIGINT) AS n_lines,
               CAST(n_kept_lines AS BIGINT) AS n_kept_lines,
               coalesce(n_sentences, 0) AS n_sentences,
               has_lorem_ipsum, has_brace, has_bad_word,
               (coalesce(n_sentences, 0) >= {C4_MIN_SENTENCES}
                AND NOT has_lorem_ipsum AND NOT has_brace
                AND NOT has_bad_word) AS passes_c4
        FROM stat
    """


def c4_filters_impl(docs: DataFrame) -> DataFrame:
    """C4 page/line gates over any (doc_id, text) frame — pure per-row
    column expressions (map-only, zero Exchange, plan-gated), shared by
    the batch entry and the in-stream runtime."""
    d = docs.select(
        "doc_id",
        F.lower("text").alias("lo"),
        F.filter(F.split("text", "\n"), lambda l: l != F.lit("")).alias("ls"),
    )
    is_kept = lambda l: (  # noqa: E731
        l.endswith(".") | l.endswith("!") | l.endswith("?") | l.endswith('"')
    ) & (
        F.size(F.filter(F.split(l, " "), lambda w: w != F.lit("")))
        >= C4_MIN_LINE_WORDS
    )
    k = d.select(
        "doc_id",
        "lo",
        F.size("ls").alias("n_lines"),
        F.filter("ls", is_kept).alias("kl"),
    )
    term_count = lambda l: (  # noqa: E731
        (F.length(l) - F.length(F.replace(l, F.lit("."))))
        + (F.length(l) - F.length(F.replace(l, F.lit("!"))))
        + (F.length(l) - F.length(F.replace(l, F.lit("?"))))
    )
    n_sent = F.coalesce(
        F.aggregate(
            F.transform("kl", term_count), F.lit(0), lambda a, x: a + x
        ).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    has_bad = F.col("lo").contains(C4_BAD_WORDS[0])
    for b in C4_BAD_WORDS[1:]:
        has_bad = has_bad | F.col("lo").contains(b)
    s = k.select(
        "doc_id",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.size("kl").cast("bigint").alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        F.col("lo").contains("lorem ipsum").alias("has_lorem_ipsum"),
        F.col("lo").contains("{").alias("has_brace"),
        has_bad.alias("has_bad_word"),
    )
    return s.select(
        "*",
        (
            (F.col("n_sentences") >= C4_MIN_SENTENCES)
            & ~F.col("has_lorem_ipsum")
            & ~F.col("has_brace")
            & ~F.col("has_bad_word")
        ).alias("passes_c4"),
    )


@register(
    "c4_filters",
    oracle=_C4_ORACLE,
    doc="C4 cleaning filters (Raffel et al. 2020): per-doc line retention "
    f"(terminal punctuation + >= {C4_MIN_LINE_WORDS} words), sentence "
    f"count over kept lines with the >= {C4_MIN_SENTENCES}-sentence page "
    "gate, and the lorem-ipsum / curly-brace / bad-word page gates "
    "(deterministic stand-in blocklist — the mechanism is the operator; "
    "a deployment broadcasts its real list). The synthetic corpus has no "
    "punctuation or newlines, so testdata rows are all-zero by "
    "construction; tests/test_round11_growth.py proves the filter on a "
    "planted multi-line fixture. C4's corpus-wide three-sentence-span "
    "dedup is the dedup family's job. 100 TB shape: pure per-row column "
    "expressions, map-only at any scale",
    tags=("text", "curation", "quality"),
)
def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_filters_impl(load_table(spark, sf_dir, "documents"))


# -- C4 three-sentence-span corpus dedup (round 12) -----------------------------
#
# VERDICT r11 #3 / SURVEY r12 candidate (d): the corpus-wide half of the
# C4 methodology that c4_filters explicitly delegated — Raffel et al.
# 2020 §2.2: "we discarded all but one of any three-sentence span
# occurring more than once in the data set." Conventions pinned for
# engine parity: sentences = non-empty trimmed segments after splitting
# text on runs of . ! ? (the same terminal marks c4_filters counts);
# spans = every consecutive 3-sentence window, space-joined, keyed by the
# portable 60-bit hash; keep-first = the occurrence with the smallest
# (doc_id, position) per span key survives, every other occurrence marks
# its three sentence positions for removal (overlapping removed spans
# union — a position is removed once).

C4_SPAN_SENTS = 3


def c4_sentence_span_dedup_impl(docs: DataFrame) -> DataFrame:
    """Per-doc C4 span-dedup accounting over any (doc_id, text) frame.
    100 TB shape: sentence/span construction is doc-local (a doc_id-
    partitioned window over exploded sentences); the ONLY corpus-wide
    stage is one shuffle on the 60-bit span hash (exact dedup's
    single-shuffle shape) for the keep-first ranking; removed-position
    accounting is doc-local again."""
    sents = docs.select(
        "doc_id",
        F.filter(
            F.transform(F.split("text", r"[.!?]+"), lambda s: F.trim(s)),
            lambda s: s != F.lit(""),
        ).alias("sl"),
    )
    # checkpoint the sentence table: it feeds the span explode AND the
    # final per-doc join, and the barrier keeps posexplode's generator
    # pre-filter (size > 0 / not-null) on the materialized column instead
    # of inlining the split+trim tree twice into the Filter condition
    # (the filter-blowup plan gate's exact hazard)
    base = reliable_checkpoint(
        sents.select(
            "doc_id", F.size("sl").cast("bigint").alias("n_sentences"), "sl"
        )
    )
    sent_rows = base.select(
        "doc_id", F.posexplode("sl").alias("pos", "sent")
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    spans = (
        sent_rows.select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.concat_ws(
                " ",
                "sent",
                F.lead("sent", 1).over(wd),
                F.lead("sent", 2).over(wd),
            ).alias("span"),
            F.lead("sent", 2).over(wd).isNotNull().alias("_full"),
        )
        .where(F.col("_full"))
        .select("doc_id", "pos", portable_hash64("span").alias("h"))
    )
    # the one corpus-wide stage: keep-first rank per span hash
    rk = F.row_number().over(W.partitionBy("h").orderBy("doc_id", "pos"))
    dups = spans.select("doc_id", "pos", rk.alias("rk")).where(F.col("rk") > 1)
    dupstat = dups.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_dup")
    )
    rem = (
        dups.select(
            "doc_id",
            F.explode(
                F.array(
                    F.col("pos"), F.col("pos") + 1, F.col("pos") + 2
                )
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_removed"))
    )
    z = F.lit(0).cast("bigint")
    return (
        base.select("doc_id", "n_sentences")
        .join(dupstat, "doc_id", "left")
        .join(rem, "doc_id", "left")
        .select(
            "doc_id",
            "n_sentences",
            F.greatest(F.col("n_sentences") - 2, F.lit(0))
            .cast("bigint")
            .alias("n_spans"),
            F.coalesce("n_dup", z).alias("n_dup_span_occurrences"),
            F.coalesce("n_removed", z).alias("n_sentences_removed"),
            (F.col("n_sentences") - F.coalesce("n_removed", z))
            .cast("bigint")
            .alias("n_sentences_remaining"),
        )
    )


@register(
    "c4_sentence_span_dedup",
    oracle=f"""
        WITH sents AS (
            SELECT doc_id,
                   list_filter(list_transform(
                       string_split_regex(text, '[.!?]+'), s -> trim(s)),
                       s -> s <> '') AS sl
            FROM documents
        ),
        base AS (
            SELECT doc_id, CAST(len(sl) AS BIGINT) AS n_sentences, sl
            FROM sents
        ),
        spanrows AS (
            SELECT doc_id,
                   unnest([{{'pos': CAST(i - 1 AS BIGINT),
                             'span': array_to_string(sl[i:i+2], ' ')}}
                           for i in range(1, greatest(len(sl) - 2, 0) + 1)])
                       AS g
            FROM base
        ),
        sp AS (
            SELECT doc_id, g.pos AS pos,
                   {portable_hash64_sql('g.span')} AS h
            FROM spanrows
        ),
        marked AS (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos)
                       AS rk
            FROM sp
        ),
        dups AS (SELECT doc_id, pos FROM marked WHERE rk > 1),
        dupstat AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
            FROM dups GROUP BY doc_id
        ),
        rem AS (
            SELECT DISTINCT doc_id, p
            FROM dups, LATERAL unnest([pos, pos + 1, pos + 2]) AS t(p)
        ),
        remstat AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
            FROM rem GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_sentences,
               CAST(greatest(b.n_sentences - 2, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(d.n_dup, 0) AS BIGINT)
                   AS n_dup_span_occurrences,
               CAST(coalesce(r.n_removed, 0) AS BIGINT)
                   AS n_sentences_removed,
               CAST(b.n_sentences - coalesce(r.n_removed, 0) AS BIGINT)
                   AS n_sentences_remaining
        FROM base b
        LEFT JOIN dupstat d ON d.doc_id = b.doc_id
        LEFT JOIN remstat r ON r.doc_id = b.doc_id
    """,
    doc="C4 three-sentence-span corpus dedup (Raffel et al. 2020 §2.2 — "
    "the corpus-wide half c4_filters delegates): every consecutive "
    f"{C4_SPAN_SENTS}-sentence span is keyed by the portable 60-bit "
    "hash; the occurrence with the smallest (doc_id, position) per key "
    "is kept (keep-first, the Lee et al. convention) and every other "
    "occurrence marks its three sentence positions for removal, with "
    "overlapping removed spans counted once per position. Per-doc "
    "output: sentences, spans, duplicate occurrences, sentences "
    "removed/remaining. The synthetic corpus has no terminal "
    "punctuation, so testdata docs are single-sentence (0 spans) by "
    "construction; tests/test_round12_growth.py proves the operator on "
    "a planted punctuated corpus against an independent Python "
    "reference. 100 TB shape: sentence/span construction is doc-local; "
    "the ONLY corpus-wide stage is one shuffle on the span hash (exact "
    "dedup's single-shuffle shape); no all-pairs stage, no broadcast",
    tags=("text", "curation", "dedup"),
)
def q_c4_sentence_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_sentence_span_dedup_impl(load_table(spark, sf_dir, "documents"))


# -- end-to-end curation funnel (round 11) -------------------------------------

from ..operators.text import (  # noqa: E402  (placed with its consumer)
    _GQ_PASS_SQL,
    _GQ_STAT_SQL,
    _gopher_oracle_parts,
    gopher_quality_impl,
    gopher_repetition_impl,
)

_FUNNEL_REP_PARTS, _FUNNEL_REP_SELECT = _gopher_oracle_parts()
_FUNNEL_REP_CTES = ",\n        ".join(_FUNNEL_REP_PARTS)


@register(
    "curation_funnel_stats",
    oracle=f"""
        WITH {_FUNNEL_REP_CTES},
        grep AS ({_FUNNEL_REP_SELECT}),
        gqstat AS ({_GQ_STAT_SQL}),
        gqual AS (SELECT doc_id, {_GQ_PASS_SQL} AS ok FROM gqstat),
        canon AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t <> '')) AS BIGINT) AS ntok,
                   doc_id = min(doc_id) OVER (
                       PARTITION BY {portable_hash64_sql('text')}) AS s1
            FROM documents
        ),
        flags AS (
            SELECT c.doc_id, c.ntok, c.s1,
                   c.s1 AND r.passes_gopher_repetition AS s2,
                   c.s1 AND r.passes_gopher_repetition AND q.ok AS s3
            FROM canon c
            JOIN grep r ON r.doc_id = c.doc_id
            JOIN gqual q ON q.doc_id = c.doc_id
        ),
        st AS (
            SELECT 0 AS stage, 'raw' AS stage_name, true AS alive, ntok
            FROM flags
            UNION ALL SELECT 1, 'exact_dedup', s1, ntok FROM flags
            UNION ALL SELECT 2, 'gopher_repetition', s2, ntok FROM flags
            UNION ALL SELECT 3, 'gopher_quality', s3, ntok FROM flags
        )
        SELECT CAST(stage AS BIGINT) AS stage, stage_name,
               CAST(coalesce(sum(CASE WHEN alive THEN 1 END), 0) AS BIGINT)
                   AS docs_surviving,
               CAST(coalesce(sum(CASE WHEN alive THEN ntok END), 0) AS BIGINT)
                   AS tokens_surviving
        FROM st GROUP BY stage, stage_name
    """,
    doc="End-to-end curation funnel — the one-table answer to 'where does "
    "my training data go': documents and tokens surviving each "
    "SEQUENTIAL stage of the standard pipeline (raw -> exact dedup "
    "[min-doc_id canonical per 60-bit text hash, dedup_exact's rule] -> "
    "Gopher repetition rules -> Gopher quality rules), composing the "
    "catalog's own filter implementations, not re-derivations. The "
    "funnel is what a 100 TB run reviews before committing GPU budget: "
    "every stage's retention rate in docs AND tokens (they differ — "
    "filters are length-biased). 100 TB shape (r12, VERDICT r11 #4): "
    "reads the ONE checkpointed per-doc flag table curation_doc_flags "
    "shares with the ablation — the filter machinery (each family "
    "doc-local, see their entries) is evaluated once per (session, "
    "sf_dir) and every report is a trivial aggregation over the flags. "
    "Note: on the synthetic corpus the "
    "quality stage retains 0 docs — the ~30-word vocabulary lacks "
    "Gopher's stop words and most docs sit under the 50-word minimum; "
    "the gates are the published ones, deliberately not tuned to "
    "testdata (the planted pytest shows a non-degenerate funnel)",
    tags=("curation", "text", "dedup", "quality"),
)
def q_curation_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VERDICT r11 #4: both this entry and the ablation read the ONE
    # checkpointed per-doc flag table instead of re-deriving the filter
    # machinery each; the funnel's sequential stages are pure column
    # logic over the flags.
    doc_flags = curation_doc_flags(spark, sf_dir)
    s1 = ~F.col("x_dedup")
    flags = doc_flags.select(
        "ntok",
        s1.alias("s1"),
        (s1 & ~F.col("x_rep")).alias("s2"),
        (s1 & ~F.col("x_rep") & ~F.col("x_qual")).alias("s3"),
    )
    st = flags.select(
        "ntok",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("stage"),
                    F.lit("raw").alias("stage_name"),
                    F.lit(True).alias("alive"),
                ),
                F.struct(
                    F.lit(1).alias("stage"),
                    F.lit("exact_dedup").alias("stage_name"),
                    F.col("s1").alias("alive"),
                ),
                F.struct(
                    F.lit(2).alias("stage"),
                    F.lit("gopher_repetition").alias("stage_name"),
                    F.col("s2").alias("alive"),
                ),
                F.struct(
                    F.lit(3).alias("stage"),
                    F.lit("gopher_quality").alias("stage_name"),
                    F.col("s3").alias("alive"),
                ),
            )
        ).alias("st"),
    )
    return st.groupBy(
        F.col("st.stage").cast("bigint").alias("stage"),
        F.col("st.stage_name").alias("stage_name"),
    ).agg(
        F.coalesce(F.sum(F.when(F.col("st.alive"), 1)), F.lit(0))
        .cast("bigint")
        .alias("docs_surviving"),
        F.coalesce(F.sum(F.when(F.col("st.alive"), F.col("ntok"))), F.lit(0))
        .cast("bigint")
        .alias("tokens_surviving"),
    )


# -- per-filter ablation (round 11, FineWeb methodology) ------------------------
#
# The funnel above answers "what survives the pipeline"; the ablation
# answers the design question behind it — "what does EACH filter
# uniquely contribute": per filter, the documents/tokens it fails
# INDEPENDENTLY, and the MARGINAL set it alone rejects (fails this
# filter, passes all the others) — the filter's unique contribution,
# the number FineWeb-style dataset papers ablate before keeping a rule.
# Five filters: exact-dedup canonicality, Gopher repetition, Gopher
# quality, exact-span duplicate coverage (> 0.5), and eval-overlap
# decontamination. Oracles compose by NESTING the registered oracles'
# WITH-chains as derived CTEs (SQL scoping shadows their inner names).

ABLATION_MAX_DUP_FRACTION = 0.5

# Materialized per-doc flag table, computed ONCE per (session, sf_dir) and
# checkpointed (VERDICT r11 #4 — the BASELINE-documented production shape):
# funnel and ablation are both trivial aggregations over the same five
# flag columns, so a deployment evaluates the filter machinery (including
# the expensive exact-span coverage) exactly once and feeds every report
# from the result. Keyed by applicationId so a new session never reads a
# DataFrame owned by a stopped one; same memoization discipline as the
# dedup signature store (_SIG_STORE_DIRS).
import threading  # noqa: E402

_FLAGS_CACHE: dict[tuple[str, str], DataFrame] = {}
_FLAGS_LOCK = threading.Lock()


def curation_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ntok, x_dedup, x_rep, x_qual, x_span, x_dec): the five
    curation filter fail-flags per document, composed from the catalog's
    own registered implementations, checkpointed, and memoized per
    (session, sf_dir). 100 TB shape: this IS the production artifact — a
    one-pass-per-filter evaluation written to the warehouse once, with
    the funnel, the ablation, and any future report reading the flags
    instead of re-deriving them (x_span alone costs a full exact-span
    coverage evaluation)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    with _FLAGS_LOCK:
        cached = _FLAGS_CACHE.get(key)
        if cached is not None:
            return cached
        from .dedup import span_coverage_impl

        # spread: every constituent below has a map-heavy doc-local front
        # (winnow hashing, gopher HOFs) that a one-row-group scan would
        # serialize; no-op at real scale
        docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
        rep = gopher_repetition_impl(docs).select(
            "doc_id", (~F.col("passes_gopher_repetition")).alias("x_rep")
        )
        qual = gopher_quality_impl(docs).select(
            "doc_id", (~F.col("passes_gopher_quality")).alias("x_qual")
        )
        cov = span_coverage_impl(docs).select(
            "doc_id",
            (
                F.coalesce(F.col("dup_fraction"), F.lit(0.0))
                > ABLATION_MAX_DUP_FRACTION
            ).alias("x_span"),
        )
        dec = q_decontam_eval_overlap(spark, sf_dir).select(
            "doc_id", F.col("contaminated").alias("x_dec")
        )
        wh = W.partitionBy("h")
        canon = docs.select(
            "doc_id",
            portable_hash64(F.col("text")).alias("h"),
            F.size(tokens("text")).cast("bigint").alias("ntok"),
        ).select(
            "doc_id",
            "ntok",
            (~(F.col("doc_id") == F.min("doc_id").over(wh))).alias("x_dedup"),
        )
        # corpus-sized flag tables: shuffle_hash pins (see
        # gopher_repetition_impl's assembly note — the unpinned
        # composition OOMed the 24g local JVM at the 500k-doc fixture)
        flags = reliable_checkpoint(
            canon.join(rep.hint("shuffle_hash"), "doc_id")
            .join(qual.hint("shuffle_hash"), "doc_id")
            .join(cov.hint("shuffle_hash"), "doc_id", "left")
            .join(dec.hint("shuffle_hash"), "doc_id", "left")
            .select(
                "doc_id",
                "ntok",
                "x_dedup",
                "x_rep",
                "x_qual",
                F.coalesce("x_span", F.lit(False)).alias("x_span"),
                F.coalesce("x_dec", F.lit(False)).alias("x_dec"),
            )
        )
        _FLAGS_CACHE[key] = flags
        return flags


def _flags_oracle_ctes() -> str:
    """The WITH-chain ending in the per-doc five-flag table ``flags`` —
    shared VERBATIM by curation_flags_table (which selects it directly)
    and curation_filter_ablation (which aggregates it), so the oracle
    the artifact hashes against is the same SQL the ablation runs."""
    from .dedup import span_coverage_impl  # noqa: F401  (ensures registration)
    from ..plans.catalog import CATALOG

    cov = CATALOG["dup_span_coverage_exact"].oracle
    dec = CATALOG["decontam_eval_overlap"].oracle
    return f"""WITH {_FUNNEL_REP_CTES},
        grep AS ({_FUNNEL_REP_SELECT}),
        gqstat AS ({_GQ_STAT_SQL}),
        gqual AS (SELECT doc_id, {_GQ_PASS_SQL} AS ok FROM gqstat),
        cov AS ({cov}),
        dec AS ({dec}),
        canon AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t <> '')) AS BIGINT) AS ntok,
                   doc_id = min(doc_id) OVER (
                       PARTITION BY {portable_hash64_sql('text')}) AS s1
            FROM documents
        ),
        flags AS (
            SELECT c.doc_id, c.ntok,
                   NOT c.s1 AS x_dedup,
                   NOT r.passes_gopher_repetition AS x_rep,
                   NOT q.ok AS x_qual,
                   coalesce(v.dup_fraction, 0) > {ABLATION_MAX_DUP_FRACTION}
                       AS x_span,
                   coalesce(d.contaminated, false) AS x_dec
            FROM canon c
            JOIN grep r ON r.doc_id = c.doc_id
            JOIN gqual q ON q.doc_id = c.doc_id
            LEFT JOIN cov v ON v.doc_id = c.doc_id
            LEFT JOIN dec d ON d.doc_id = c.doc_id
        )"""


def _ablation_oracle() -> str:
    others = {
        "dedup": "NOT x_rep AND NOT x_qual AND NOT x_span AND NOT x_dec",
        "rep": "NOT x_dedup AND NOT x_qual AND NOT x_span AND NOT x_dec",
        "qual": "NOT x_dedup AND NOT x_rep AND NOT x_span AND NOT x_dec",
        "span": "NOT x_dedup AND NOT x_rep AND NOT x_qual AND NOT x_dec",
        "dec": "NOT x_dedup AND NOT x_rep AND NOT x_qual AND NOT x_span",
    }
    names = {
        "dedup": "exact_dedup",
        "rep": "gopher_repetition",
        "qual": "gopher_quality",
        "span": "span_coverage",
        "dec": "decontam_overlap",
    }
    branches = " UNION ALL ".join(
        f"SELECT '{names[k]}' AS filter_name, x_{k} AS fail, "
        f"x_{k} AND {others[k]} AS marginal, ntok FROM flags"
        for k in names
    )
    return f"""
        {_flags_oracle_ctes()},
        st AS ({branches})
        SELECT filter_name,
               CAST(coalesce(sum(CASE WHEN fail THEN 1 END), 0) AS BIGINT)
                   AS docs_failing,
               CAST(coalesce(sum(CASE WHEN fail THEN ntok END), 0) AS BIGINT)
                   AS tokens_failing,
               CAST(coalesce(sum(CASE WHEN marginal THEN 1 END), 0) AS BIGINT)
                   AS marginal_docs,
               CAST(coalesce(sum(CASE WHEN marginal THEN ntok END), 0)
                    AS BIGINT) AS marginal_tokens
        FROM st GROUP BY filter_name
    """


@register(
    "curation_filter_ablation",
    oracle=_ablation_oracle(),
    doc="Per-filter ablation (the FineWeb methodology): for each of five "
    "curation filters — exact-dedup canonicality, Gopher repetition, "
    "Gopher quality, exact-span duplicate coverage > "
    f"{ABLATION_MAX_DUP_FRACTION}, eval-overlap decontamination — the "
    "docs/tokens it fails INDEPENDENTLY and the MARGINAL set it alone "
    "rejects (fails this filter, passes all others): the filter's unique "
    "contribution, the number a dataset paper ablates before keeping a "
    "rule. Oracle composes the registered oracles' WITH-chains as nested "
    "derived CTEs (SQL scoping shadows inner names) — the same SQL the "
    "individual entries hash against, not a re-derivation. 100 TB shape "
    "(r12, VERDICT r11 #4): reads the ONE checkpointed per-doc flag "
    "table curation_doc_flags shares with the funnel — the constituent "
    "filters (each documented at its entry) are evaluated once per "
    "(session, sf_dir); marginality is pure column logic over the flags",
    tags=("curation", "dedup", "text", "quality"),
)
def q_curation_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VERDICT r11 #4: reads the ONE checkpointed per-doc flag table
    # (shared with the funnel) — marginality is pure column logic over it.
    flags = curation_doc_flags(spark, sf_dir)
    keys = ("x_dedup", "x_rep", "x_qual", "x_span", "x_dec")
    names = {
        "x_dedup": "exact_dedup",
        "x_rep": "gopher_repetition",
        "x_qual": "gopher_quality",
        "x_span": "span_coverage",
        "x_dec": "decontam_overlap",
    }
    structs = []
    for k in keys:
        marg = F.col(k)
        for o in keys:
            if o != k:
                marg = marg & ~F.col(o)
        structs.append(
            F.struct(
                F.lit(names[k]).alias("filter_name"),
                F.col(k).alias("fail"),
                marg.alias("marginal"),
            )
        )
    st = flags.select("ntok", F.explode(F.array(*structs)).alias("st"))
    z = F.lit(0).cast("bigint")
    return st.groupBy(F.col("st.filter_name").alias("filter_name")).agg(
        F.coalesce(F.sum(F.when(F.col("st.fail"), 1)), z)
        .cast("bigint")
        .alias("docs_failing"),
        F.coalesce(F.sum(F.when(F.col("st.fail"), F.col("ntok"))), z)
        .cast("bigint")
        .alias("tokens_failing"),
        F.coalesce(F.sum(F.when(F.col("st.marginal"), 1)), z)
        .cast("bigint")
        .alias("marginal_docs"),
        F.coalesce(F.sum(F.when(F.col("st.marginal"), F.col("ntok"))), z)
        .cast("bigint")
        .alias("marginal_tokens"),
    )


@register(
    "curation_flags_table",
    oracle=f"""
        {_flags_oracle_ctes()}
        SELECT doc_id, ntok, x_dedup, x_rep, x_qual, x_span, x_dec
        FROM flags
    """,
    doc="The materialized per-doc curation flag table ITSELF (VERDICT r11 "
    "#4's production artifact, oracle-checked directly): for every "
    "document, its whitespace token count and the five filter "
    "fail-flags — exact-dedup canonicality, Gopher repetition, Gopher "
    "quality, exact-span duplicate coverage > "
    f"{ABLATION_MAX_DUP_FRACTION}, eval-overlap decontamination — "
    "computed once per (session, sf_dir), checkpointed, and shared by "
    "curation_funnel_stats and curation_filter_ablation (both are "
    "trivial aggregations over this table; its oracle is the VERBATIM "
    "WITH-chain theirs nest). At 100 TB this is the table a deployment "
    "writes to the warehouse after each curation pass: every funnel, "
    "ablation, and audit report reads it instead of re-running the "
    "filter machinery. 100 TB shape: the union of the constituent "
    "filters' doc-local shapes plus narrow shuffle-hash-pinned doc_id "
    "joins; one evaluation feeds every consumer",
    tags=("curation", "dedup", "text", "quality"),
)
def q_curation_flags_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_doc_flags(spark, sf_dir)
