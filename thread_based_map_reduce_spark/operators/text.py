"""Text-analysis operators over ``documents`` (mandated extension, SURVEY
§2.3): token statistics, frequency ranking, language-ID heuristic, quality
scoring, fingerprinting, character n-gram profiling.

Everything is built-in expressions (split/filter/transform/aggregate) —
no Python in the row path — so the same plans scale to a 100 TB corpus
with ordinary shuffles. The generalization of the reference's flagship
char-count (SampleClient.cpp:34-65) lives on: word_freq_topn is exactly
its word-level form with ranking on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.textfns import (
    EMPTY_INT_ARRAY_SQL as _EMPTY_INT_ARR,
    char_ngrams_of_chars,
    ngrams_of_tokens,
    ngrams_sql as _ngrams_sql,
    quality_score,
    tokens,
)
from ..plans.catalog import register
from ..session import reliable_checkpoint
from ..sources.registry import load_table, spread_small_scan

# deterministic English-marker stopword list (subset of the corpus vocab)
EN_MARKERS = ("the", "a", "is", "of")


@register(
    "text_token_stats",
    oracle="""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT) AS total_tokens,
               round(avg(len(list_filter(string_split(text, ' '), w -> w <> ''))), 4) AS avg_tokens,
               round(avg(length(text)), 4) AS avg_chars
        FROM documents
        GROUP BY lang
    """,
    doc="Per-language token counting and document statistics",
    tags=("text",),
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once per row; referencing tokens("text") in each aggregate
    # would re-split the text per reference
    docs = docs.select("lang", "text", F.size(tokens("text")).alias("_ntok"))
    ntok = F.col("_ntok")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        F.round(F.avg(ntok), 4).alias("avg_tokens"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )


@register(
    "word_freq_topn",
    oracle="""
        SELECT word, n, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT word, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, word) AS rnk
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE word <> ''
            GROUP BY word
        )
        WHERE rnk <= 20
    """,
    doc="Global top-20 word frequencies with deterministic ranking "
    "(the flagship char-count generalized to words + top-k). The top-k "
    "cut is orderBy+limit (TakeOrderedAndProject — per-partition heaps, "
    "never a one-task sort of the full vocabulary, which grows "
    "Heaps-law with the corpus); the rank window then runs over <= 20 "
    "rows (the zipf_fit_stats pattern, VERDICT r4 #3)",
    tags=("text",),
)
def q_word_freq_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("word")).limit(20)
    w = W.orderBy(F.col("n").desc(), F.col("word"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .select("word", "n", "rnk")
    )


@register(
    "langid_heuristic",
    oracle=f"""
        SELECT doc_id,
               CASE WHEN marker_ratio >= 0.1 THEN 'en' ELSE 'unk' END AS lang_guess,
               round(marker_ratio, 6) AS marker_ratio
        FROM (
            SELECT doc_id,
                   len(list_filter(toks, w -> w IN ({", ".join(repr(m) for m in EN_MARKERS)})))::DOUBLE
                   / nullif(len(toks), 0) AS marker_ratio
            FROM (
                SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
                FROM documents
            )
        )
    """,
    doc="Language-ID heuristic: marker-stopword ratio -> guess (n-gram/marker "
    "voting family; deterministic rule shared with the oracle)",
    tags=("text", "langid"),
)
def q_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.select("doc_id", tokens("text").alias("_toks"))
    toks = F.col("_toks")
    ratio = (
        F.size(F.filter(toks, lambda w: w.isin(*EN_MARKERS))).cast("double")
        / F.nullif(F.size(toks), F.lit(0))
    )
    return docs.select(
        "doc_id",
        F.when(ratio >= 0.1, "en").otherwise("unk").alias("lang_guess"),
        F.round(ratio, 6).alias("marker_ratio"),
    )


@register(
    "text_quality_score",
    oracle="""
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_uniq AS BIGINT) AS n_uniq,
               round(0.5 * (n_uniq::DOUBLE / nullif(n_tokens, 0))
                     + 0.3 * least(n_tokens / 20.0, 1.0)
                     + 0.2 * least(length_chars / 100.0, 1.0), 6) AS quality
        FROM (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
                   len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS n_uniq,
                   length(text) AS length_chars
            FROM documents
        )
    """,
    doc="Quality scoring: lexical diversity + length saturation (the "
    "length/stopword-ratio scoring family, pure column math)",
    tags=("text", "quality"),
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.select("doc_id", F.length("text").alias("_len"), tokens("text").alias("_toks"))
    toks = F.col("_toks")
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        n_uniq.cast("bigint").alias("n_uniq"),
        F.round(quality_score(n_tokens, n_uniq, F.col("_len")), 6).alias("quality"),
    )


@register(
    "doc_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS fingerprint
        FROM documents
    """,
    doc="Document fingerprint: md5 over the sorted distinct token set — "
    "word-order-insensitive dedup key (rolling-hash fingerprint family)",
    tags=("text", "fingerprint"),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ")).alias("fingerprint"),
    )


@register(
    "char_trigram_profile",
    oracle="""
        SELECT g, n, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT g, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, g) AS rnk
            FROM (
                SELECT unnest([substring(text, i, 3)
                               for i in range(1, greatest(length(text) - 2, 0) + 1)]) AS g
                FROM documents
            )
            GROUP BY g
        )
        WHERE rnk <= 15
    """,
    doc="Corpus char-trigram profile: top-15 trigrams (the n-gram basis that "
    "a real language-ID model scores against). Top-k via orderBy+limit "
    "(TakeOrderedAndProject) before the <=15-row rank window — the "
    "distinct-trigram set is charset^3-bounded but still no reason to "
    "one-task-sort it (VERDICT r4 #3)",
    tags=("text", "ngram"),
)
def q_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # split-once projection, then O(1) element access per gram (the
    # char-level twin of the tokenize-once rule; see char_ngrams_of_chars)
    cs = docs.select(F.split("text", "").alias("cs"))
    counts = (
        cs.select(F.explode(char_ngrams_of_chars(F.col("cs"), 3)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("g")).limit(15)
    w = W.orderBy(F.col("n").desc(), F.col("g"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .select("g", "n", "rnk")
    )


@register(
    "token_regex_count",
    oracle="""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens
        FROM documents
    """,
    doc="BPE-ish regex token counting (letter runs / digit runs per doc)",
    tags=("text", "tokenize"),
)
def q_token_regex_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).cast("bigint").alias("n_word_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).cast("bigint").alias("n_num_tokens"),
    )


@register(
    "tfidf_top_terms",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        dfreq AS (
            SELECT term, count(DISTINCT doc_id) AS dfreq FROM toks GROUP BY term
        ),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   round(tf.tf * ln(n.n::DOUBLE / dfreq.dfreq), 6) AS tfidf
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, tfidf
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term
            ) AS rn
            FROM scored
        )
        WHERE rn <= 3
    """,
    doc="tf-idf top-3 terms per document, fully declarative: tf = per-doc "
    "term counts, idf = ln(N/df) from a broadcast scalar, top-k via "
    "row_number on the ROUNDED score (term tiebreak) so cross-engine ulps "
    "cannot reorder. At 100 TB: two shuffles (tf group, df group) over "
    "narrow (doc,term) rows — the classic scalable tf-idf shape.",
    tags=("text", "tfidf"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("dfreq"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("dfreq")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
    )


@register(
    "profile_documents",
    oracle="""
        SELECT
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(text) AS BIGINT) AS text_nonnull,
            CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct,
            CAST(count(DISTINCT source) AS BIGINT) AS source_distinct,
            CAST(min(n_chars) AS BIGINT) AS min_chars,
            CAST(max(n_chars) AS BIGINT) AS max_chars,
            round(avg(n_chars), 4) AS avg_chars,
            round(avg(CASE WHEN length(text) = n_chars THEN 1.0 ELSE 0.0 END), 6)
                AS n_chars_consistency
        FROM documents
    """,
    doc="Data-quality profile of the documents table in one pass: row/"
    "non-null counts, per-column distincts, length stats, and a "
    "cross-column consistency rate (n_chars == length(text))",
    tags=("text", "quality", "agg"),
)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.count("text").alias("text_nonnull"),
        F.countDistinct("lang").alias("lang_distinct"),
        F.countDistinct("source").alias("source_distinct"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(
            F.avg(F.when(F.length("text") == F.col("n_chars"), 1.0).otherwise(0.0)), 6
        ).alias("n_chars_consistency"),
    )


@register(
    "token_pmi_pairs",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_sort(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS ts
            FROM documents
        ),
        tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        n_ab AS (
            SELECT a.t AS ta, b.t AS tb, count(*) AS nab
            FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
            GROUP BY 1, 2
        ),
        n_t AS (SELECT t, count(*) AS nt FROM tok GROUP BY t),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT ta, tb, CAST(nab AS BIGINT) AS n_ab,
                   round(ln(nab::DOUBLE * n_docs / (x.nt * y.nt)), 6) AS pmi
            FROM n_ab
            JOIN n_t x ON x.t = ta
            JOIN n_t y ON y.t = tb
            CROSS JOIN n
            WHERE nab >= 5
        )
        SELECT ta, tb, n_ab, pmi
        FROM (
            SELECT *, row_number() OVER (ORDER BY pmi DESC, ta, tb) AS rn
            FROM scored
        )
        WHERE rn <= 50
    """,
    doc="Token co-occurrence PMI: top-50 pointwise-mutual-information pairs "
    "(distinct-per-doc pairs expanded LOCALLY inside each doc's sorted "
    "token array — no self-join on the Spark side, unlike the oracle; "
    "the unigram-count joins are AQE-chosen, no broadcast hint — the "
    "vocabulary grows Heaps-law with the corpus, so hinting it broadcast "
    "overclaims at 100 TB (same fix as unigram_nll_quality, ADVICE r3); "
    "the top-k cut is orderBy+limit — TakeOrderedAndProject, never a "
    "one-task rank over the surviving pair set, which grows much faster "
    "than vocab (VERDICT r4 #3); the final rank window runs over <=50 "
    "rows; ranking on the rounded score with a pair tiebreak)",
    tags=("text", "agg", "ngram"),
)
def q_token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Checkpoint the compact per-doc sorted-distinct token arrays (the r6
    # checkpoint-placement rule): `ts` feeds BOTH the pair explode and the
    # unigram-count explode, and each explode additionally gets an
    # inferred `isnotnull(ts) AND size(ts) > 0` guard with the full
    # split+distinct+sort pipeline substituted in — four evaluations per
    # row without the lineage cut.
    toks = reliable_checkpoint(
        docs.select(
            "doc_id", F.sort_array(F.array_distinct(tokens("text"))).alias("ts")
        )
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "flatten(transform(ts, (a, i) -> "
                "transform(slice(ts, i + 2, size(ts)), b -> struct(a AS ta, b AS tb))))"
            )
        ).alias("p")
    ).select("p.ta", "p.tb")
    n_ab = pairs.groupBy("ta", "tb").agg(F.count("*").alias("n_ab")).where(F.col("n_ab") >= 5)
    n_t = toks.select(F.explode("ts").alias("t")).groupBy("t").agg(F.count("*").alias("nt"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    xa = n_t.select(F.col("t").alias("ta"), F.col("nt").alias("na"))
    xb = n_t.select(F.col("t").alias("tb"), F.col("nt").alias("nb"))
    scored = (
        n_ab.join(xa, "ta")
        .join(xb, "tb")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "ta",
            "tb",
            "n_ab",
            F.round(
                F.log(F.col("n_ab").cast("double") * F.col("n_docs") / (F.col("na") * F.col("nb"))),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.col("pmi").desc(), "ta", "tb").limit(50)
    return top.select("ta", "tb", "n_ab", "pmi")


@register(
    "doc_char_entropy",
    oracle="""
        WITH chars AS (
            SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
            WHERE doc_id < 200
        ),
        freq AS (
            SELECT doc_id, ch, count(*)::DOUBLE AS n FROM chars WHERE ch <> ''
            GROUP BY doc_id, ch
        ),
        tot AS (SELECT doc_id, sum(n) AS total FROM freq GROUP BY doc_id)
        SELECT f.doc_id,
               round(-sum((n / total) * ln(n / total)), 6) AS entropy,
               CAST(count(*) AS BIGINT) AS n_distinct_chars
        FROM freq f JOIN tot USING (doc_id)
        GROUP BY f.doc_id
    """,
    doc="Per-document Shannon character entropy (nats) — the randomness/"
    "boilerplate quality signal; per-doc char frequency -> -sum(p ln p). "
    "Generalizes the flagship char-count to a per-doc distribution "
    "statistic.",
    tags=("text", "quality"),
)
def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    freq = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .where(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").cast("double").alias("n"))
    )
    w = W.partitionBy("doc_id")
    p = F.col("n") / F.sum("n").over(w)
    return (
        freq.withColumn("term", -p * F.log(p))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("term"), 6).alias("entropy"),
            F.count("*").alias("n_distinct_chars"),
        )
    )


@register(
    "stratified_token_quantiles",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
               round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens
        FROM (
            SELECT lang,
                   len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens
            FROM documents
        )
        GROUP BY lang
    """,
    doc="Per-language token-count quantiles (exact interpolated p50/p90) — "
    "the length-distribution audit run before choosing truncation limits",
    tags=("text", "stats", "agg"),
)
def q_stratified_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text"))
    return (
        docs.select("lang", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.percentile("n_tokens", F.lit(0.5)), 4).alias("p50_tokens"),
            F.round(F.percentile("n_tokens", F.lit(0.9)), 4).alias("p90_tokens"),
        )
    )


@register(
    "top_bigrams_per_lang",
    oracle="""
        SELECT lang, bigram, CAST(n AS BIGINT) AS n
        FROM (
            SELECT lang, bigram, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY count(*) DESC, bigram
                   ) AS rn
            FROM (
                SELECT lang,
                       unnest([array_to_string(w[i:i+1], ' ')
                               for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS bigram
                FROM (SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS w
                      FROM documents)
            )
            GROUP BY lang, bigram
        )
        WHERE rn <= 5
    """,
    doc="Top-5 word bigrams per language: n-gram explode -> per-lang count "
    "-> per-group ranking with a bigram tiebreak (collocation mining)",
    tags=("text", "ngram", "topk"),
)
def q_top_bigrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import ngrams_of_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", tokens("text").alias("toks"))
    bigrams = toks.select(
        "lang", F.explode(ngrams_of_tokens(F.col("toks"), 2)).alias("bigram")
    )
    counts = bigrams.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "bigram", "n")
    )


@register(
    "source_lang_quality_matrix",
    oracle="""
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(0.5 * (n_uniq::DOUBLE / nullif(n_tokens, 0))
                     + 0.3 * least(n_tokens / 20.0, 1.0)
                     + 0.2 * least(length_chars / 100.0, 1.0)), 6) AS avg_quality
        FROM (
            SELECT source, lang,
                   len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
                   len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS n_uniq,
                   length(text) AS length_chars
            FROM documents
        )
        GROUP BY source, lang
    """,
    doc="Source × language quality matrix: mean quality score per cell — "
    "the pruning decision table (which source/lang cells to keep) a "
    "curation run starts from",
    tags=("text", "quality", "agg"),
)
def q_source_lang_quality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    quality = quality_score(
        F.size(toks), F.size(F.array_distinct(toks)), F.length("text")
    )
    return docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(quality), 6).alias("avg_quality"),
    )


@register(
    "hapax_rate_per_lang",
    oracle="""
        WITH tok AS (
            SELECT lang, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS t
            FROM documents
        ),
        freq AS (SELECT lang, t, count(*) AS n FROM tok GROUP BY lang, t)
        SELECT lang,
               CAST(count(*) AS BIGINT) AS vocab,
               CAST(count_if(n = 1) AS BIGINT) AS hapax,
               round(count_if(n = 1) / count(*)::DOUBLE, 6) AS hapax_rate
        FROM freq
        GROUP BY lang
    """,
    doc="Hapax legomena rate per language: share of vocabulary appearing "
    "exactly once — the Zipf-tail corpus statistic (high rate = sparse/"
    "noisy text; used to calibrate min-frequency cutoffs)",
    tags=("text", "stats", "agg"),
)
def q_hapax_rate_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(tokens("text")).alias("t"))
        .groupBy("lang", "t")
        .agg(F.count("*").alias("n"))
    )
    return freq.groupBy("lang").agg(
        F.count("*").alias("vocab"),
        F.count_if(F.col("n") == 1).alias("hapax"),
        F.round(F.count_if(F.col("n") == 1) / F.count("*").cast("double"), 6).alias(
            "hapax_rate"
        ),
    )


@register(
    "text_repetition_ratio",
    oracle="""
        SELECT doc_id,
               CAST(len(tris) AS BIGINT) AS n_tri,
               round(1.0 - len(list_distinct(tris)) / nullif(len(tris), 0)::DOUBLE, 6)
                   AS rep_ratio
        FROM (
            SELECT doc_id,
                   [array_to_string(w[i:i+2], ' ')
                    for i in range(1, greatest(len(w) - 2, 0) + 1)] AS tris
            FROM (SELECT doc_id,
                         list_filter(string_split(text, ' '), t -> t <> '') AS w
                  FROM documents)
        )
        WHERE len(tris) > 0
    """,
    doc="Per-document repetition ratio: share of word trigrams that are "
    "repeats (1 - distinct/total) — the Gopher-style boilerplate/loop "
    "signal used to drop degenerate docs before training; pure "
    "split/transform built-ins, no shuffle until nothing (per-row only)",
    tags=("text", "quality", "dedup"),
)
def q_text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    # Filter on the CHEAP equivalent predicate BEFORE building trigrams:
    # size(tris) > 0 <=> size(toks) >= 3 (tris has max(len-2, 0) entries).
    # Filtering on size(tris) afterwards pushes the predicate below the
    # projections, and the substituted condition re-evaluates the whole
    # split+transform trigram build per row — with split(text) appearing
    # THREE times inside the pushed condition (measured 2.1 s vs 0.9 s at
    # sf0.1 for this per-row-only query).
    tris = (
        toks.where(F.size("toks") >= 3)
        .select("doc_id", ngrams_of_tokens(F.col("toks"), 3).alias("tris"))
    )
    # stage size(tris) as a real column: referencing the size EXPRESSION
    # twice in the projection re-evaluates it per reference (same staging
    # trap ngrams_of_tokens documents)
    sized = tris.select("doc_id", "tris", F.size("tris").alias("_n"))
    return sized.select(
        "doc_id",
        F.col("_n").cast("bigint").alias("n_tri"),
        F.round(
            1.0
            - F.size(F.array_distinct("tris"))
            / F.nullif(F.col("_n").cast("double"), F.lit(0.0)),
            6,
        ).alias("rep_ratio"),
    )


# -- PII scrubbing (training-data curation staple) ---------------------------
#
# The synthetic corpus contains no PII, so the query PLANTS deterministic
# fake PII derived from doc_id (same expression in both engines), then
# masks it — proving the scrub pipeline end-to-end with real matches.
# Patterns stay in the regex subset Java (Spark) and RE2 (DuckDB) agree on.

_EMAIL_PAT = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_NUM_PAT = "[0-9]{3,}"


@register(
    "pii_scrub_stats",
    oracle=f"""
        WITH planted AS (
            SELECT doc_id, source,
                   text || ' contact user' || doc_id::VARCHAR
                        || '@mail.example tel ' || (555000 + doc_id % 1000)::VARCHAR
                       AS ptext
            FROM documents
        ),
        masked AS (
            SELECT doc_id, source, ptext,
                   regexp_replace(ptext, '{_EMAIL_PAT}', '<EMAIL>', 'g') AS no_email
            FROM planted
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(regexp_extract_all(ptext, '{_EMAIL_PAT}'))) AS BIGINT) AS n_emails,
               CAST(sum(len(regexp_extract_all(no_email, '{_NUM_PAT}'))) AS BIGINT) AS n_numbers,
               CAST(sum(len(ptext)
                        - len(regexp_replace(no_email, '{_NUM_PAT}', '<NUM>', 'g'))
                        + 5 * len(regexp_extract_all(no_email, '{_NUM_PAT}'))
                        + 7 * len(regexp_extract_all(ptext, '{_EMAIL_PAT}'))) AS BIGINT)
                   AS masked_chars
        FROM masked
        GROUP BY source
    """,
    doc="PII scrub over planted fake emails/phone numbers: mask email-like "
    "then digit-run patterns, report per-source match and masked-char "
    "counts. Row-local regex work (JVM-side regexp_replace/regexp_count), "
    "one small final aggregation — the shape scales to any corpus size",
    tags=("text", "quality", "pipeline"),
)
def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ptext = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example tel "),
        (F.lit(555000) + F.col("doc_id") % 1000).cast("string"),
    )
    planted = docs.select("doc_id", "source", ptext.alias("ptext"))
    no_email = F.regexp_replace("ptext", F.lit(_EMAIL_PAT), F.lit("<EMAIL>"))
    masked = planted.select(
        "source",
        "ptext",
        no_email.alias("no_email"),
        F.regexp_count("ptext", F.lit(_EMAIL_PAT)).alias("n_em"),
        F.regexp_count(no_email, F.lit(_NUM_PAT)).alias("n_num"),
    )
    # masked_chars: original minus fully-scrubbed length, net of the
    # inserted placeholder text (7 chars '<EMAIL>', 5 chars '<NUM>')
    scrubbed_len = F.length(F.regexp_replace("no_email", F.lit(_NUM_PAT), F.lit("<NUM>")))
    return masked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_em").cast("bigint").alias("n_emails"),
        F.sum("n_num").cast("bigint").alias("n_numbers"),
        F.sum(
            F.length("ptext") - scrubbed_len + 5 * F.col("n_num") + 7 * F.col("n_em")
        ).cast("bigint").alias("masked_chars"),
    )


@register(
    "curation_pipeline_v2",
    oracle="""
        WITH scrubbed AS (
            SELECT doc_id, lang,
                   regexp_replace(
                       regexp_replace(
                           text || ' contact user' || doc_id::VARCHAR
                                || '@mail.example tel '
                                || (555000 + doc_id % 1000)::VARCHAR,
                           '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                       '[0-9]{3,}', '<NUM>', 'g') AS ctext
            FROM documents
        ),
        featured AS (
            SELECT doc_id, lang, ctext,
                   len(list_filter(string_split(ctext, ' '), t -> t <> '')) AS n_tok,
                   len(w) - 2 AS n_tri,
                   CASE WHEN len(w) - 2 > 0
                        THEN 1.0 - len(list_distinct(
                                 [array_to_string(w[i:i+2], ' ')
                                  for i in range(1, greatest(len(w) - 2, 0) + 1)]
                             ))::DOUBLE / (len(w) - 2)
                        ELSE 1.0 END AS rep_ratio
            FROM (SELECT *, list_filter(string_split(ctext, ' '), t -> t <> '') AS w
                  FROM scrubbed)
        ),
        flagged AS (
            SELECT lang,
                   (n_tok >= 5 AND rep_ratio <= 0.2) AS kept,
                   CASE WHEN n_tok >= 5 AND rep_ratio <= 0.2
                        THEN ('0x' || substr(md5(regexp_replace(trim(lower(ctext)), ' +', ' ', 'g')), 1, 15))::BIGINT
                   END AS h
            FROM featured
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_input,
               CAST(count_if(kept) AS BIGINT) AS n_kept,
               CAST(count(DISTINCT h) AS BIGINT) AS n_canonical
        FROM flagged
        GROUP BY lang
    """,
    doc="End-to-end curation pipeline v2, composing the round-2 operators: "
    "plant+scrub PII (email/digit-run masking) -> quality gate (token "
    "count >= 5, trigram repetition ratio <= 0.2) -> exact-normalized "
    "dedup of the scrubbed text. Per-lang funnel counts (input -> kept -> "
    "canonical), all stages row-local until the tiny final aggregates.",
    tags=("text", "quality", "dedup", "pipeline"),
)
def q_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example tel "),
        (F.lit(555000) + F.col("doc_id") % 1000).cast("string"),
    )
    ctext = F.regexp_replace(
        F.regexp_replace(planted, F.lit("[A-Za-z0-9._]+@[A-Za-z0-9.]+"), F.lit("<EMAIL>")),
        F.lit("[0-9]{3,}"),
        F.lit("<NUM>"),
    )
    # stage through REAL columns: ctext → toks → tris. Passing the tokens()
    # EXPRESSION into ngrams_of_tokens would re-run regex+split once per
    # trigram lambda evaluation (the exact trap ngrams_of_tokens documents;
    # measured 5 s vs 0.5 s at sf0.01 here because ctext is itself two
    # regexp_replace calls deep).
    scrubbed = docs.select("doc_id", "lang", ctext.alias("ctext"))
    tokd = scrubbed.select("doc_id", "lang", "ctext", tokens(F.col("ctext")).alias("toks"))
    trid = tokd.select(
        "doc_id", "lang", "ctext",
        F.size("toks").alias("n_tok"),
        ngrams_of_tokens(F.col("toks"), 3).alias("tris"),
    )
    n_tri = F.size("tris")
    rep = F.when(
        n_tri > 0, 1.0 - F.size(F.array_distinct("tris")) / n_tri.cast("double")
    ).otherwise(F.lit(1.0))
    featured = trid.select("doc_id", "lang", "ctext", "n_tok", rep.alias("rep_ratio"))
    # single pass: flag + conditional dedup hash per doc, ONE groupBy —
    # the three-way join/groupBy formulation re-ran the regex+shingle
    # pipeline per aggregate (measured 12 s vs ~2 s at sf0.01)
    keep = (F.col("n_tok") >= 5) & (F.col("rep_ratio") <= 0.2)
    norm = F.regexp_replace(F.trim(F.lower(F.col("ctext"))), " +", " ")
    flagged = featured.select(
        "lang",
        keep.alias("kept"),
        F.when(keep, portable_hash64(norm)).alias("h"),
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_input"),
        F.count_if(F.col("kept")).cast("bigint").alias("n_kept"),
        F.countDistinct("h").cast("bigint").alias("n_canonical"),
    )


# -- vocabulary coverage & unigram-LM quality (training-corpus staples) ------

VOCAB_K = 20  # top-K corpus words form the "tokenizer vocabulary"

_TOKS_EXPLODED_SQL = (
    "toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "t -> t <> '')) AS w FROM documents)"
)


@register(
    "vocab_oov_coverage",
    oracle=f"""
        WITH {_TOKS_EXPLODED_SQL},
        freq AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
        vocab AS (SELECT w FROM freq ORDER BY f DESC, w LIMIT {VOCAB_K})
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT) AS oov_tok,
               round(count(*) FILTER (WHERE v.w IS NULL)
                     / nullif(count(*), 0)::DOUBLE, 6) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.w = v.w
        GROUP BY t.doc_id
    """,
    doc=f"Tokenizer-vocabulary coverage: per-document out-of-vocabulary rate "
    f"against the top-{VOCAB_K} corpus words (freq-desc, word-asc tiebreak "
    "so the vocabulary cut is deterministic in both engines) — the "
    "coverage check run before committing to a tokenizer vocab. The token "
    "pass is materialized once and feeds both the frequency aggregate and "
    "the per-doc join; the vocabulary is broadcast (a real subword vocab "
    "is ~100k rows — still broadcast-sized at 100 TB)",
    tags=("text", "quality", "curation"),
)
def q_vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import reliable_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    tok = reliable_checkpoint(
        docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("f"))
    vocab = (
        freq.orderBy(F.desc("f"), "w")
        .limit(VOCAB_K)
        .select("w", F.lit(1).alias("_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.count(F.when(F.col("_v").isNull(), 1))
            .cast("bigint")
            .alias("oov_tok"),
            F.round(
                F.count(F.when(F.col("_v").isNull(), 1))
                / F.nullif(F.count("*"), F.lit(0)).cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


@register(
    "unigram_nll_quality",
    oracle=f"""
        WITH {_TOKS_EXPLODED_SQL},
        freq AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
        tot AS (SELECT sum(f) AS total FROM freq),
        -- quantize ln p(w) to exact nano-units BEFORE summing: the per-word
        -- doubles agree across engines to the ulp, round() pins them to the
        -- same integer, and BIGINT addition is associative — so the per-doc
        -- sum is bit-identical regardless of partitioning (same convention
        -- as embedding_covariance / embedding_quantize_stats)
        lp AS (
            SELECT w, CAST(round(ln(f / total::DOUBLE) * 1e9) AS BIGINT)
                       AS lp_nano
            FROM freq, tot
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tok,
               round(-(sum(l.lp_nano) / 1e9) / count(*), 6) AS avg_nll
        FROM toks t JOIN lp l ON t.w = l.w
        GROUP BY t.doc_id
    """,
    doc="Unigram language-model negative log-likelihood per document — the "
    "perplexity-proxy quality filter (CCNet-style): docs whose tokens are "
    "improbable under the corpus unigram distribution score high and get "
    "dropped. ln p(w) is quantized to exact integer nano-units before "
    "summation so the result is partition-order-independent and "
    "cross-engine exact. Corpus collapses to a word-frequency table "
    "(narrow shuffle) joined back over one token pass; the join strategy "
    "is left to AQE on purpose (ADVICE r3): a web-scale vocabulary has "
    "billions of distinct tokens — past any broadcast threshold — so at "
    "scale this becomes a co-partitioned shuffle join on the narrow token "
    "key, while small vocabularies still broadcast automatically",
    tags=("text", "quality", "curation"),
)
def q_unigram_nll_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import reliable_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    tok = reliable_checkpoint(
        docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("f"))
    total = freq.agg(F.sum("f").alias("total")).withColumn("_k", F.lit(1))
    lp = (
        freq.withColumn("_k", F.lit(1))
        .join(F.broadcast(total), "_k")
        .select(
            "w",
            F.round(F.log(F.col("f") / F.col("total").cast("double")) * 1e9)
            .cast("bigint")
            .alias("lp_nano"),
        )
    )
    # SHUFFLE_HASH on the vocabulary side, measured (r9): the token side
    # is a checkpoint scan whose size AQE cannot re-estimate, and the
    # static planner under-sized it at the 100x fixture — it BROADCAST
    # the 27M-row token table and streamed the 310-row vocabulary
    # (BuildLeft, ~150 s of the 100x point). The hint pins the narrow-key
    # shuffle join with the vocabulary as build side — the plan a
    # web-scale vocabulary (billions of tokens, past any broadcast
    # threshold) needs anyway; per-partition hash build over the token
    # stream, no sort, no broadcast of either side required.
    return (
        tok.join(lp.hint("shuffle_hash"), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.round(
                -(F.sum("lp_nano") / 1e9) / F.count("*"),
                6,
            ).alias("avg_nll"),
        )
    )


@register(
    "bpe_pair_merge_topk",
    oracle="""
        WITH toks AS (
            SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
            FROM documents
        ),
        pairs AS (
            SELECT unnest([tok[i:i+1] for i in range(1, length(tok))]) AS pair
            FROM toks WHERE length(tok) >= 2
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        FROM pairs
        GROUP BY pair
        ORDER BY cnt DESC, pair
        LIMIT 20
    """,
    doc="The first BPE merge step, as a corpus statistic: occurrence counts "
    "of adjacent character pairs within tokens, top-20 by frequency (ties "
    "broken by pair for cross-engine determinism) — exactly the argmax a "
    "byte-pair-encoding tokenizer trainer computes each merge round. The "
    "double explode collapses via map-side partial aggregation to the "
    "pair-vocabulary size per partition; top-k is TakeOrderedAndProject, "
    "never a global sort",
    tags=("text", "tokenize", "curation"),
)
def q_bpe_pair_merge_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    # the length guard matters in Spark: sequence(1, 0) would DESCEND
    pairs = toks.where(F.length("tok") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


@register(
    "bigram_nll_quality",
    oracle="""
        WITH toksarr AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
            FROM documents
        ),
        big AS (
            SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
            FROM toksarr WHERE len(w) >= 2
        ),
        bc AS (SELECT bg, count(*) AS cb FROM big GROUP BY bg),
        uc AS (
            SELECT string_split(bg, ' ')[1] AS w1, sum(cb) AS cu
            FROM bc GROUP BY w1
        ),
        -- ln P(w2|w1) quantized to exact nano-units before summing, the
        -- unigram_nll_quality convention: per-bigram doubles agree across
        -- engines to the ulp, round() pins them to one integer, and BIGINT
        -- addition is associative
        lp AS (
            SELECT b.bg,
                   CAST(round(ln(b.cb / u.cu::DOUBLE) * 1e9) AS BIGINT) AS lp_nano
            FROM bc b JOIN uc u ON string_split(b.bg, ' ')[1] = u.w1
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(-(sum(l.lp_nano) / 1e9) / count(*), 6) AS avg_nll
        FROM big t JOIN lp l ON t.bg = l.bg
        GROUP BY t.doc_id
    """,
    doc="Bigram conditional-NLL per document: -avg ln P(w2|w1) under the "
    "corpus bigram model — the sharper perplexity-proxy quality filter "
    "beside unigram_nll_quality (repetitive or template docs score low, "
    "token-salad docs score high even when their unigrams are common). "
    "Docs with fewer than 2 tokens have no bigrams and drop out. The "
    "bigram stream is checkpointed once (counts + join-back both read "
    "it); join strategies are left to AQE — a web-scale bigram vocabulary "
    "is far past broadcast thresholds, so at scale both joins become "
    "shuffle joins on the narrow bigram key",
    tags=("text", "quality", "curation"),
)
def q_bigram_nll_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import reliable_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    toksarr = docs.select("doc_id", tokens("text").alias("w")).where(
        F.size("w") >= 2
    )
    big = reliable_checkpoint(
        toksarr.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            ).alias("bg"),
        )
    )
    bc = big.groupBy("bg").agg(F.count("*").alias("cb"))
    w1 = F.split(F.col("bg"), " ").getItem(0)
    uc = bc.select(w1.alias("w1"), "cb").groupBy("w1").agg(F.sum("cb").alias("cu"))
    lp = (
        bc.withColumn("w1", w1)
        .join(uc, "w1")
        .select(
            "bg",
            F.round(F.log(F.col("cb") / F.col("cu").cast("double")) * 1e9)
            .cast("bigint")
            .alias("lp_nano"),
        )
    )
    return (
        big.join(lp, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(-(F.sum("lp_nano") / 1e9) / F.count("*"), 6).alias("avg_nll"),
        )
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle="""
        SELECT lang,
               CAST(sum(ws) AS BIGINT) AS ws_tokens,
               CAST(sum(sw) AS BIGINT) AS subword_tokens,
               round(sum(sw) / nullif(sum(ws), 0)::DOUBLE, 6) AS fertility
        FROM (
            SELECT lang,
                   len(list_filter(string_split(text, ' '), t -> t <> '')) AS ws,
                   len(regexp_extract_all(text, '[a-z0-9]+')) AS sw
            FROM documents
        )
        GROUP BY lang
    """,
    doc="Tokenizer fertility per language: subword-ish regex tokens per "
    "whitespace token — the statistic that decides whether a tokenizer "
    "under-serves a language (high fertility = more pieces per word = "
    "fewer effective context tokens). One corpus pass, per-row regex "
    "counting, tiny per-language aggregate",
    tags=("text", "tokenize", "stats"),
)
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_row = docs.select(
        "lang",
        F.size(tokens("text")).alias("ws"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("sw"),
    )
    return per_row.groupBy("lang").agg(
        F.sum("ws").cast("bigint").alias("ws_tokens"),
        F.sum("sw").cast("bigint").alias("subword_tokens"),
        F.round(
            F.sum("sw") / F.nullif(F.sum("ws"), F.lit(0)).cast("double"), 6
        ).alias("fertility"),
    )


# Vocabulary growth (round 4): Heaps'-law diagnostics — how many NEW word
# types each successive corpus slice contributes. The slice id is a pure
# function of doc_id (16 contiguous id ranges), so the "growth order" is
# deterministic and replayable in both engines.
GROWTH_SHARDS = 16


@register(
    "vocab_growth_curve",
    oracle=f"""
        WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        d AS (
            SELECT doc_id, text,
                   least({GROWTH_SHARDS - 1},
                         CAST(floor(doc_id * {GROWTH_SHARDS} / (mx + 1)) AS BIGINT)) AS shard
            FROM documents, mx
        ),
        tok AS (
            SELECT shard, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
            FROM d
        ),
        per_shard AS (
            SELECT shard, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY shard
        ),
        firsts AS (
            SELECT min(shard) AS fs FROM tok GROUP BY w
        ),
        new_types AS (
            SELECT fs AS shard, CAST(count(*) AS BIGINT) AS new_types FROM firsts GROUP BY fs
        ),
        docs_per AS (
            SELECT shard, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY shard
        )
        SELECT p.shard, dp.n_docs, p.n_tokens,
               coalesce(nt.new_types, 0) AS new_types,
               CAST(sum(coalesce(nt.new_types, 0)) OVER (
                   ORDER BY p.shard
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_types,
               round(coalesce(nt.new_types, 0) / nullif(p.n_tokens, 0), 6) AS novelty
        FROM per_shard p
        JOIN docs_per dp ON dp.shard = p.shard
        LEFT JOIN new_types nt ON nt.shard = p.shard
    """,
    doc="Vocabulary growth curve (Heaps'-law diagnostic): per contiguous "
    "corpus slice, the count of word types never seen in an earlier slice, "
    "cumulative vocabulary size, and per-token novelty — the signal that "
    "tells a data-curation pipeline when more raw corpus stops buying new "
    "vocabulary. One token aggregation (min-shard per type, narrow string "
    "key) plus metadata-sized slice rollups; the only window runs over "
    f"{GROWTH_SHARDS} rows by construction",
    tags=("text", "diagnostics"),
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id").alias("mx"))
    d = docs.crossJoin(F.broadcast(mx)).select(
        "text",
        F.least(
            F.lit(GROWTH_SHARDS - 1).cast("bigint"),
            F.floor(
                F.col("doc_id") * GROWTH_SHARDS / (F.col("mx") + 1)
            ).cast("bigint"),
        ).alias("shard"),
    )
    tok = d.select("shard", F.explode(tokens("text")).alias("w"))
    per_shard = tok.groupBy("shard").agg(F.count("*").alias("n_tokens"))
    firsts = tok.groupBy("w").agg(F.min("shard").alias("fs"))
    new_types = firsts.groupBy(F.col("fs").alias("nshard")).agg(
        F.count("*").alias("new_types")
    )
    docs_per = d.groupBy(F.col("shard").alias("dshard")).agg(
        F.count("*").alias("n_docs")
    )
    # the cumulative window scans <= GROWTH_SHARDS rows — bounded by
    # construction, same class as the 256-row bucket prefix sums
    w_cum = W.orderBy("shard").rowsBetween(W.unboundedPreceding, 0)
    return (
        per_shard.join(docs_per, F.col("shard") == F.col("dshard"))
        .join(new_types, F.col("shard") == F.col("nshard"), "left")
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
        .withColumn(
            "cum_types", F.sum("new_types").over(w_cum).cast("bigint")
        )
        .withColumn(
            "novelty",
            F.round(
                F.col("new_types") / F.nullif(F.col("n_tokens"), F.lit(0)), 6
            ),
        )
    )


# Zipf fit (round 4): OLS regression of log(freq) on log(rank) over the
# top-K word types. K is fixed and small, so every regression input is a
# deterministic (rank, count) integer pair and the fitted slope/intercept
# are identical IEEE computations in both engines.
ZIPF_TOP_K = 100


@register(
    "zipf_fit_stats",
    oracle=f"""
        WITH counts AS (
            SELECT w, CAST(count(*) AS BIGINT) AS n
            FROM (
                SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
                FROM documents
            )
            GROUP BY w
        ),
        ranked AS (
            SELECT n, row_number() OVER (ORDER BY n DESC, w) AS r
            FROM counts
        ),
        pts AS (
            SELECT ln(r::DOUBLE) AS x, ln(n::DOUBLE) AS y
            FROM ranked WHERE r <= {ZIPF_TOP_K}
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS k,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            FROM pts
        )
        SELECT k,
               -- nullif: a single-type vocabulary has zero rank variance ->
               -- NULL slope instead of a div-by-zero NaN
               round((k * sxy - sx * sy) / nullif(k * sxx - sx * sx, 0), 6) AS zipf_slope,
               round((sy - (k * sxy - sx * sy) / nullif(k * sxx - sx * sx, 0) * sx) / k, 6)
                   AS intercept,
               round(pow(k * sxy - sx * sy, 2)
                     / nullif((k * sxx - sx * sx) * (k * syy - sy * sy), 0), 6) AS r2
        FROM s
    """,
    doc="Zipf's-law fit: OLS slope of log-frequency vs log-rank over the "
    "top-100 word types (a natural corpus follows slope ~ -1; a synthetic "
    "or template-heavy corpus deviates — a cheap generation-artifact "
    "detector). The heavy part is one word-count aggregation; the top-K "
    "cut is a rank-with-tiebreak and the regression runs over 100 rows of "
    "exact integers, so both engines execute identical float ops. The "
    "float sums over the K=100 points are safe because K is a constant: "
    "partial-aggregation order over 100 identical doubles is pinned by "
    "the single-partition rollup",
    tags=("text", "diagnostics"),
)
def q_zipf_fit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    # top-K via orderBy+limit (TakeOrderedAndProject — distributed top-k,
    # never a one-task sort of the whole vocabulary); the rank window then
    # runs over <= K rows, bounded by construction
    top = counts.orderBy(F.col("n").desc(), "w").limit(ZIPF_TOP_K)
    w_rank = W.orderBy(F.col("n").desc(), "w")
    pts = top.withColumn("r", F.row_number().over(w_rank)).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # nullif: single-type vocabulary -> NULL fit, not NaN
    varx = F.nullif(k * sxx - sx * sx, F.lit(0.0))
    slope = (k * sxy - sx * sy) / varx
    return s.select(
        "k",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / k, 6).alias("intercept"),
        F.round(
            F.pow(k * sxy - sx * sy, F.lit(2))
            / F.nullif((k * sxx - sx * sx) * (k * syy - sy * sy), F.lit(0.0)),
            6,
        ).alias("r2"),
    )


@register(
    "langid_confusion_matrix",
    oracle=f"""
        WITH pred AS (
            SELECT lang,
                   CASE WHEN len(list_filter(toks, w -> w IN ({", ".join(repr(m) for m in EN_MARKERS)})))::DOUBLE
                             / nullif(len(toks), 0) >= 0.1
                        THEN 'en' ELSE 'unk' END AS lang_guess
            FROM (
                SELECT lang, list_filter(string_split(text, ' '), w -> w <> '') AS toks
                FROM documents
            )
        ),
        cm AS (
            SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n
            FROM pred GROUP BY lang, lang_guess
        ),
        tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS t FROM cm GROUP BY lang)
        SELECT cm.lang, cm.lang_guess, cm.n,
               round(CAST(cm.n AS DOUBLE) / tot.t, 6) AS share_of_actual
        FROM cm JOIN tot USING (lang)
    """,
    doc="Classifier-eval confusion matrix for the langid heuristic: "
    "predicted (marker-ratio rule, identical to langid_heuristic) vs the "
    "actual lang label, with per-actual-language recall shares — the "
    "quality-filter evaluation loop a curation pipeline runs before "
    "trusting a cheap classifier at 100 TB. One narrow (lang, guess) "
    "aggregation plus a broadcast per-language total join-back",
    tags=("text", "langid", "eval"),
)
def q_langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    ratio = (
        F.size(F.filter(toks, lambda w: w.isin(*EN_MARKERS))).cast("double")
        / F.nullif(F.size(toks), F.lit(0))
    )
    pred = docs.select(
        "lang",
        F.when(ratio >= 0.1, "en").otherwise("unk").alias("lang_guess"),
    )
    cm = pred.groupBy("lang", "lang_guess").agg(F.count("*").alias("n"))
    tot = cm.groupBy("lang").agg(F.sum("n").cast("bigint").alias("t"))
    return cm.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_guess",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias(
            "share_of_actual"
        ),
    )


@register(
    "weak_label_vote_stats",
    oracle=f"""
        WITH lf AS (
            SELECT doc_id,
                   CASE WHEN length(text) >= 40 THEN 1
                        WHEN length(text) < 15 THEN 0 END AS lf_len,
                   CASE WHEN len(list_filter(string_split(text, ' '),
                                 w -> w IN ({", ".join(repr(m) for m in EN_MARKERS)}))) >= 2
                        THEN 1 END AS lf_stop,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lf_lang
            FROM documents
        ),
        votes AS (
            SELECT doc_id,
                   coalesce(lf_len, -1) AS l1,
                   coalesce(lf_stop, -1) AS l2,
                   lf_lang AS l3,
                   (CASE WHEN lf_len = 1 THEN 1 ELSE 0 END
                    + CASE WHEN lf_stop = 1 THEN 1 ELSE 0 END
                    + lf_lang) AS pos,
                   (CASE WHEN lf_len IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN lf_stop IS NULL THEN 0 ELSE 1 END
                    + 1) AS n_votes
            FROM lf
        ),
        labeled AS (
            SELECT doc_id,
                   CASE WHEN 2 * pos > n_votes THEN 1
                        WHEN 2 * pos < n_votes THEN 0 END AS label,
                   l1, l2, l3, n_votes
            FROM votes
        )
        SELECT coalesce(CAST(label AS VARCHAR), 'abstain') AS label,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(CAST(n_votes AS DOUBLE)), 6) AS avg_votes,
               CAST(sum(CASE WHEN l1 >= 0 AND l2 >= 0 AND l1 <> l2
                             THEN 1 ELSE 0 END) AS BIGINT) AS len_stop_conflicts,
               CAST(sum(CASE WHEN l1 >= 0 AND l1 <> l3
                             THEN 1 ELSE 0 END) AS BIGINT) AS len_lang_conflicts
        FROM labeled GROUP BY label
    """,
    doc="Weak-supervision label aggregation (the Snorkel pattern): three "
    "deterministic labeling functions — length rule (abstains "
    "mid-range), stopword-marker rule (abstains when absent), language "
    "rule — majority-voted into train labels, with per-label coverage, "
    "mean vote count, and pairwise conflict counts (the signals that "
    "drive LF reweighting). Pure column logic + one narrow aggregation; "
    "the 100 TB shape is identical because every LF is a map-side "
    "expression",
    tags=("text", "quality", "eval"),
)
def q_weak_label_vote_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lf_len = F.when(F.length("text") >= 40, 1).when(F.length("text") < 15, 0)
    lf_stop = F.when(
        F.size(F.filter(tokens("text"), lambda w: w.isin(*EN_MARKERS))) >= 2, 1
    )
    lf_lang = F.when(F.col("lang") == "en", 1).otherwise(0)
    votes = docs.select(
        F.coalesce(lf_len, F.lit(-1)).alias("l1"),
        F.coalesce(lf_stop, F.lit(-1)).alias("l2"),
        lf_lang.alias("l3"),
        (
            F.when(lf_len == 1, 1).otherwise(0)
            + F.when(lf_stop == 1, 1).otherwise(0)
            + lf_lang
        ).alias("pos"),
        (
            F.when(lf_len.isNull(), 0).otherwise(1)
            + F.when(lf_stop.isNull(), 0).otherwise(1)
            + F.lit(1)
        ).alias("n_votes"),
    )
    labeled = votes.select(
        F.when(2 * F.col("pos") > F.col("n_votes"), 1)
        .when(2 * F.col("pos") < F.col("n_votes"), 0)
        .alias("label"),
        "l1",
        "l2",
        "l3",
        "n_votes",
    )
    return labeled.groupBy(
        F.coalesce(F.col("label").cast("string"), F.lit("abstain")).alias(
            "label"
        )
    ).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_votes").cast("double")), 6).alias("avg_votes"),
        F.sum(
            F.when(
                (F.col("l1") >= 0)
                & (F.col("l2") >= 0)
                & (F.col("l1") != F.col("l2")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("len_stop_conflicts"),
        F.sum(
            F.when((F.col("l1") >= 0) & (F.col("l1") != F.col("l3")), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("len_lang_conflicts"),
    )


# Index-size model: 8-byte doc ids per posting + the term dictionary
# (term bytes + an 8-byte offset each).
IDX_POSTING_BYTES = 8
IDX_TERM_OVERHEAD = 8


@register(
    "inverted_index_stats",
    oracle=f"""
        WITH postings AS (
            SELECT DISTINCT word, doc_id
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                  FROM documents)
            WHERE word <> ''
        ),
        terms AS (
            SELECT word, count(*) AS df FROM postings GROUP BY word
        ),
        cc AS (SELECT df, count(*) AS freq FROM terms GROUP BY df),
        q50 AS (
            SELECT min(df) AS p50_df FROM (
                SELECT df,
                       sum(freq) OVER (ORDER BY df ROWS UNBOUNDED PRECEDING)
                           AS cum,
                       (SELECT sum(freq) FROM cc) AS nt
                FROM cc
            ) WHERE cum >= ceil(0.5 * nt)
        ),
        q99 AS (
            SELECT min(df) AS p99_df FROM (
                SELECT df,
                       sum(freq) OVER (ORDER BY df ROWS UNBOUNDED PRECEDING)
                           AS cum,
                       (SELECT sum(freq) FROM cc) AS nt
                FROM cc
            ) WHERE cum >= ceil(0.99 * nt)
        ),
        sums AS (
            SELECT CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(df) AS BIGINT) AS n_postings,
                   CAST(max(df) AS BIGINT) AS max_df,
                   CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_singletons,
                   CAST(sum(length(word)) AS BIGINT) AS dict_chars
            FROM terms
        )
        SELECT n_terms, n_postings, max_df,
               CAST(p50_df AS BIGINT) AS p50_df,
               CAST(p99_df AS BIGINT) AS p99_df,
               round(CAST(n_singletons AS DOUBLE) / n_terms, 6)
                   AS singleton_share,
               n_postings * {IDX_POSTING_BYTES}
                   + dict_chars + n_terms * {IDX_TERM_OVERHEAD}
                   AS est_index_bytes
        FROM sums CROSS JOIN q50 CROSS JOIN q99
    """,
    doc="Inverted-index build audit: term count, posting count, document-"
    "frequency distribution (max / p50 / p99 via the counts-of-counts "
    "quantile idiom of key_skew_report), singleton-term share (the "
    "dictionary bloat signal), and a modeled index size (8 B/posting + "
    "dictionary bytes + 8 B/term offsets) — the sizing pass before "
    "building a search index over a 100 TB corpus. The corpus collapses "
    "to (word, doc) postings then to per-term df in two narrow "
    "aggregations; every window after that touches only the "
    "distinct-frequency table",
    tags=("text", "diagnostics", "stats"),
)
def q_inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select("doc_id", F.explode(tokens("text")).alias("word"))
        .distinct()
    )
    terms = postings.groupBy("word").agg(F.count("*").alias("df"))
    cc = terms.groupBy("df").agg(F.count("*").alias("freq"))
    cum = cc.select(
        "df",
        F.sum("freq")
        .over(W.orderBy("df").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("freq").over(W.partitionBy()).alias("nt"),
    )

    def qdisc(q: float, alias: str) -> DataFrame:
        return cum.where(
            F.col("cum") >= F.ceil(F.lit(q) * F.col("nt"))
        ).agg(F.min("df").alias(alias))

    sums = terms.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("df").cast("bigint").alias("n_postings"),
        F.max("df").cast("bigint").alias("max_df"),
        F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
        F.sum(F.length("word")).cast("bigint").alias("dict_chars"),
    )
    return (
        sums.crossJoin(F.broadcast(qdisc(0.5, "p50_df")))
        .crossJoin(F.broadcast(qdisc(0.99, "p99_df")))
        .select(
            "n_terms",
            "n_postings",
            "max_df",
            F.col("p50_df").cast("bigint").alias("p50_df"),
            F.col("p99_df").cast("bigint").alias("p99_df"),
            F.round(
                F.col("n_singletons").cast("double") / F.col("n_terms"), 6
            ).alias("singleton_share"),
            (
                F.col("n_postings") * IDX_POSTING_BYTES
                + F.col("dict_chars")
                + F.col("n_terms") * IDX_TERM_OVERHEAD
            ).alias("est_index_bytes"),
        )
    )


@register(
    "detok_fidelity_stats",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN array_to_string(
                                  list_filter(string_split(text, ' '),
                                              w -> w <> ''), ' ') = text
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_lossless,
               round(CAST(sum(CASE WHEN array_to_string(
                                        list_filter(string_split(text, ' '),
                                                    w -> w <> ''), ' ') = text
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS lossless_rate
        FROM documents GROUP BY lang
    """,
    doc="Detokenization-fidelity audit: tokenize -> re-join with single "
    "spaces -> compare to the original, per language. Documents with "
    "leading/trailing/repeated whitespace are NOT losslessly "
    "round-trippable by a whitespace tokenizer — the normalization-loss "
    "measurement a tokenizer pipeline signs off on before it commits to "
    "discarding original bytes at 100 TB. Pure column logic + one "
    "narrow aggregation",
    tags=("text", "tokenize", "quality"),
)
def q_detok_fidelity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lossless = F.when(
        F.array_join(tokens("text"), " ") == F.col("text"), 1
    ).otherwise(0)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(lossless).cast("bigint").alias("n_lossless"),
        F.round(F.sum(lossless).cast("double") / F.count("*"), 6).alias(
            "lossless_rate"
        ),
    )


# -- BM25 retrieval (round-7, VERDICT r6 #5) ---------------------------------


@register(
    "bm25_retrieval_topk",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
            FROM documents WHERE text IS NOT NULL
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        dl AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
        ),
        stats AS (
            -- n = docs actually in the index (>=1 token), matching dl's grain
            SELECT CAST(count(*) AS BIGINT) AS n,
                   sum(dl)::DOUBLE / count(*) AS avgdl
            FROM dl
        ),
        dfreq AS (
            SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq
            FROM toks GROUP BY term
        ),
        qterms AS (
            SELECT (trn - 1) // 3 AS query_id, term
            FROM (
                SELECT term, row_number() OVER (ORDER BY dfreq DESC, term) AS trn
                FROM dfreq
            )
            WHERE trn <= 15
        ),
        contrib AS (
            SELECT q.query_id, tf.doc_id, tf.term,
                   round(
                       ln((s.n - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)),
                       6
                   ) AS c
            FROM qterms q
            JOIN tf ON tf.term = q.term
            JOIN dl USING (doc_id)
            JOIN dfreq d ON d.term = q.term
            CROSS JOIN stats s
        ),
        scored AS (
            SELECT query_id, doc_id, round(sum(c), 6) AS bm25,
                   CAST(count(*) AS BIGINT) AS n_terms_hit
            FROM contrib GROUP BY query_id, doc_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25,
               n_terms_hit, CAST(rn AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY bm25 DESC, doc_id
            ) AS rn
            FROM scored
        )
        WHERE rn <= 5
    """,
    doc="BM25 top-5 retrieval (k1=1.2, b=0.75) over a deterministic "
    "5-query set derived from the corpus itself: the 15 highest-df terms "
    "(df desc, term tiebreak) split 3-per-query. The query set is a "
    "broadcast one-row sorted-array aggregate (TakeOrderedAndProject "
    "limit-15 feeds it — no unpartitioned window over the vocabulary), "
    "postings join is broadcast on the 15 query terms, and top-5-per-"
    "query is a row_number over the ROUNDED score (doc_id tiebreak). "
    "Float discipline: each per-term contribution is rounded to 6 before "
    "the per-(query,doc) sum, making the <=3-term sum order-insensitive "
    "across engines (multiples of 1e-6 never sit at a later rounding "
    "boundary); avgdl is exact-integer-sum / count, one division. At "
    "100 TB: two narrow shuffles (tf, df) plus a broadcast join — the "
    "classic sharded-retrieval scoring shape; the 5-row-per-query output "
    "is TakeOrdered-sized, never a global sort.",
    tags=("text", "retrieval", "bm25"),
)
def q_bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    toks = reliable_checkpoint(toks)  # tf, dl, dfreq all read the same explode
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("dfreq"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    # top-15 df terms via TakeOrderedAndProject, then ONE one-row aggregate
    # whose sorted array yields (query_id, term) — no vocabulary-wide window
    top_terms = dfreq.orderBy(F.col("dfreq").desc(), "term").limit(15)
    qsplit = (
        top_terms.agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("dfreq")).alias("neg"), "term"))
            ).alias("ranked")
        )
        .select(F.posexplode("ranked").alias("trn", "r"))
        .select(
            (F.col("trn") / 3).cast("bigint").alias("query_id"),
            F.col("r.term").alias("term"),
        )
    )
    contrib = (
        tf.join(F.broadcast(qsplit), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(top_terms), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.log((F.col("n") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5) + 1.0)
                * (F.col("tf") * 2.2)
                / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))),
                6,
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("c"), 6).alias("bm25"),
        F.count("*").cast("bigint").alias("n_terms_hit"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "query_id", "doc_id", "bm25", "n_terms_hit",
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


# -- iterative BPE tokenizer training (round-8 growth) --------------------------

# Byte-pair-encoding merge training (Sennrich, Haddow, Birch 2016,
# "Neural Machine Translation of Rare Words with Subword Units"), the
# step bpe_pair_merge_topk only takes the FIRST argmax of: run
# BPE_ROUNDS full merge rounds over the weighted word-frequency table.
#
# Representation: each word is stored as marker-wrapped symbols
# (chr(31) symbol chr(30) ...), so applying a merge is a plain
# replace(s, O·a·C·O·b·C, O·ab·C) — replace-all's greedy left-to-right
# non-overlapping scan IS the BPE merge rule (markers, unlike space
# separators, are never shared between adjacent matches, so "a a a"
# correctly merges once, and "a b a b" correctly merges twice), and the
# semantics are engine-identical so every intermediate round sits under
# the hash gate. Argmax ties break on the tab-joined pair string; tab
# sorts below every printable char, so string order == (left, right)
# tuple order.
BPE_ROUNDS = 3
_BPE_O = chr(31)  # symbol-open marker (ASCII unit separator)
_BPE_C = chr(30)  # symbol-close marker (ASCII record separator)
_BPE_T = chr(9)  # argmax tie-break separator (tab)


def _bpe_parts() -> list[str]:
    """The shared training CTE chain (wr0/w0, then t/p/b/w/s per round),
    carrying the original word ``tok`` through every round so the apply
    entry can key the encoded vocabulary by word. Used by both BPE
    oracles."""
    o, c, t = _BPE_O, _BPE_C, _BPE_T
    # regexp_replace turns "ab" into O·a·C·O·b·C·O; trimming the trailing
    # O leaves the marker-wrapped symbol string O·a·C·O·b·C.
    parts = [
        f"""
        wr0 AS (
            SELECT tok,
                   '{o}' || regexp_replace(tok, '(.)', '\\1{c}{o}', 'g') AS _x,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
                FROM documents
            )
            GROUP BY tok
        ),
        w0 AS (SELECT tok, substr(_x, 1, length(_x) - 1) AS s, cnt FROM wr0)"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        p = r - 1
        parts.append(f"""
        t{r} AS (
            SELECT string_split(substr(s, 2, length(s) - 2), '{c}{o}') AS tk, cnt
            FROM w{p}
        ),
        p{r} AS (
            SELECT unnest([tk[i] || '{t}' || tk[i+1]
                           for i in range(1, greatest(len(tk), 1))]) AS pair,
                   cnt
            FROM t{r}
        ),
        b{r} AS (
            SELECT pair,
                   string_split(pair, '{t}')[1] AS lft,
                   string_split(pair, '{t}')[2] AS rgt,
                   pc
            FROM (
                SELECT pair, sum(cnt) AS pc FROM p{r} GROUP BY pair
                ORDER BY pc DESC, pair LIMIT 1
            )
        ),
        w{r} AS (
            SELECT tok,
                   CASE WHEN lft IS NULL THEN s
                        ELSE replace(s, '{o}' || lft || '{c}{o}' || rgt || '{c}',
                                        '{o}' || lft || rgt || '{c}') END AS s,
                   cnt
            FROM w{p} LEFT JOIN b{r} ON TRUE
        ),
        s{r} AS (
            SELECT (SELECT CAST(sum(cnt * len(string_split(
                        substr(s, 2, length(s) - 2), '{c}{o}'))) AS BIGINT)
                    FROM w{r}) AS n_tokens_after,
                   (SELECT CAST(count(DISTINCT u.sym) AS BIGINT)
                    FROM w{r}, LATERAL unnest(string_split(
                        substr(s, 2, length(s) - 2), '{c}{o}')) AS u(sym))
                       AS vocab_after
        )""")
    return parts


def _bpe_oracle() -> str:
    parts = _bpe_parts()
    rounds_sql = [
        f"SELECT {r} AS round, b{r}.lft AS merge_left, b{r}.rgt AS merge_right, "
        f"b{r}.lft || b{r}.rgt AS merged, CAST(b{r}.pc AS BIGINT) AS pair_count, "
        f"s{r}.n_tokens_after, s{r}.vocab_after FROM b{r}, s{r}"
        for r in range(1, BPE_ROUNDS + 1)
    ]
    return "WITH " + ",".join(parts) + "\n" + " UNION ALL ".join(rounds_sql)


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the BPE training loop for BPE_ROUNDS merges; returns
    (words, out_rows) where ``words`` is the final (tok, s, cnt)
    encoded-vocabulary table and ``out_rows`` the per-round merge-rule
    DataFrames. Shared by the training entry and bpe_apply_encode. Real
    tokenizers run thousands of merges, each an inherently sequential
    argmax+replace over the Heaps-law distinct-word table, never
    re-touching the corpus."""
    o, c, t = _BPE_O, _BPE_C, _BPE_T
    docs = load_table(spark, sf_dir, "documents")
    pre = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            "tok",
            F.concat(
                F.lit(o), F.regexp_replace("tok", "(.)", f"$1{c}{o}")
            ).alias("_x"),
            "cnt",
        )
    )
    words = reliable_checkpoint(
        pre.select(
            "tok", F.expr("substring(_x, 1, length(_x) - 1)").alias("s"), "cnt"
        )
    )
    sep = c + o  # split separator between adjacent symbols (regex-safe: control chars)
    out_rows = []
    for r in range(1, BPE_ROUNDS + 1):
        # filter on the CHEAP raw-column predicate (a multi-symbol word
        # contains the close+open separator) BEFORE projecting the split:
        # filtering on size(tk) re-inlines split() into the pushed Filter
        # condition (the r6 expression-blowup sweep catches exactly this)
        toked = words.where(F.col("s").contains(sep)).select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), sep).alias("tk"),
            "cnt",
        )
        pairs = toked.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    f"i -> concat(element_at(tk, i), '{t}', element_at(tk, i + 1)))"
                )
            ).alias("pair"),
            "cnt",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), "pair")
            .limit(1)
            .select(
                F.split("pair", t).getItem(0).alias("lft"),
                F.split("pair", t).getItem(1).alias("rgt"),
                F.col("pc").cast("bigint").alias("pc"),
            )
        )
        # one-row broadcast argmax; the merge is a map-side replace over
        # the (vocab-sized) word table. best is read twice (merge + output
        # row) — both reads are a tiny aggregate over the checkpointed
        # pre-merge word table. DRY-ROUND GUARD: when no adjacent pair
        # exists (every word already a single symbol — e.g. a corpus of
        # one-character words), ``best`` is EMPTY; a plain crossJoin would
        # annihilate the vocabulary table (and bpe_apply_encode would then
        # report no encoding at all instead of compression=1.0), so the
        # merge is a LEFT join on TRUE with a null-guard: an empty merge
        # rule leaves every word's symbol string unchanged. The oracle
        # mirrors this exactly (LEFT JOIN b{r} ON TRUE + CASE), so the
        # semantics stay engine-identical; dry rounds emit NO output row
        # in both engines (out_rows crossJoin / FROM b{r} are empty).
        words = reliable_checkpoint(
            words.join(F.broadcast(best), F.lit(True), "left").select(
                "tok",
                F.when(F.col("lft").isNull(), F.col("s"))
                .otherwise(
                    F.replace(
                        F.col("s"),
                        F.concat(
                            F.lit(o), F.col("lft"), F.lit(c + o), F.col("rgt"), F.lit(c)
                        ),
                        F.concat(F.lit(o), F.col("lft"), F.col("rgt"), F.lit(c)),
                    )
                )
                .alias("s"),
                "cnt",
            )
        )
        syms = words.select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), sep).alias("tk"),
            "cnt",
        )
        # explode_outer: plain explode synthesizes a pushed
        # size(split(...))>0 AND isnotnull(split(...)) Filter that inlines
        # the split twice per row (the r6 blowup sweep); every word has
        # >= 1 symbol so the outer variant is semantically identical and
        # generates no filter
        stats = syms.select(F.explode_outer("tk").alias("sym"), "cnt").agg(
            F.sum("cnt").cast("bigint").alias("n_tokens_after"),
            F.countDistinct("sym").cast("bigint").alias("vocab_after"),
        )
        out_rows.append(
            best.crossJoin(F.broadcast(stats)).select(
                F.lit(r).cast("int").alias("round"),
                F.col("lft").alias("merge_left"),
                F.col("rgt").alias("merge_right"),
                F.concat("lft", "rgt").alias("merged"),
                F.col("pc").alias("pair_count"),
                "n_tokens_after",
                "vocab_after",
            )
        )
    return words, out_rows


@register(
    "bpe_train_merges",
    oracle=_bpe_oracle(),
    doc=f"Iterative BPE tokenizer training, {BPE_ROUNDS} full merge rounds "
    "(Sennrich et al. 2016) over the weighted word-frequency table: each "
    "round counts adjacent symbol pairs weighted by word frequency, takes "
    "the argmax (tab-joined tie-break == (left,right) tuple order), and "
    "applies the merge via marker-delimited replace-all — greedy "
    "left-to-right non-overlapping, the exact BPE merge semantics "
    "('a a a' merges once, 'a b a b' merges twice), identical in both "
    "engines so every round's merge rule AND the post-merge corpus stats "
    "(weighted token count, symbol vocabulary) sit under the hash gate. "
    "100 TB shape: ONE corpus pass builds the word-frequency table; every "
    "round then runs on the DISTINCT-WORD table (Heaps-law ~sqrt(corpus), "
    "millions of rows at 100 TB — this aggregate-first shape is why BPE "
    "trainers scale), with the argmax as a one-row broadcast crossJoin "
    "and the merge as a map-side replace; rounds are checkpoint-truncated "
    "so plan depth stays O(1) per round.",
    tags=("text", "tokenize", "curation", "iterative"),
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, out_rows = _bpe_train(spark, sf_dir)
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionAll(df)
    return out


def _bpe_apply_oracle() -> str:
    o, c, t = _BPE_O, _BPE_C, _BPE_T
    parts = _bpe_parts()
    return (
        "WITH "
        + ",".join(parts)
        + f""",
        word_syms AS (
            SELECT tok,
                   length(s) - length(replace(s, '{c}', '')) AS n_sym
            FROM w{BPE_ROUNDS}
        ),
        dtoks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
            FROM documents
        )
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(length(d.tok)) AS BIGINT) AS n_char_symbols,
               CAST(sum(ws.n_sym) AS BIGINT) AS n_bpe_symbols,
               round(sum(ws.n_sym)::DOUBLE / nullif(sum(length(d.tok)), 0), 6)
                   AS compression
        FROM dtoks d JOIN word_syms ws ON d.tok = ws.tok
        GROUP BY d.doc_id
    """
    )


@register(
    "bpe_apply_encode",
    oracle=_bpe_apply_oracle(),
    doc="The INFERENCE side of bpe_train_merges — apply the trained merge "
    "rules to encode the corpus: the vocabulary is encoded ONCE at the "
    "distinct-word level (each word's final symbol count read off the "
    "post-merge marker string — counting close markers, no re-split), "
    "then every document is encoded by a broadcast word->symbol-count "
    "lookup over one exploded corpus pass; emits per-document word / "
    "character-symbol / BPE-symbol counts and the compression ratio. "
    "This encode-the-vocab-then-look-up shape is exactly how production "
    "BPE tokenizers amortize encoding over a corpus (the merge loop "
    "never touches the corpus, and neither does the apply — only the "
    "Heaps-law word table does). One corpus tokenize pass, one broadcast "
    "join, one doc_id shuffle.",
    tags=("text", "tokenize", "curation", "iterative"),
)
def q_bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _BPE_C
    words, _ = _bpe_train(spark, sf_dir)
    word_syms = words.select(
        "tok",
        (
            F.length("s") - F.length(F.replace(F.col("s"), F.lit(c), F.lit("")))
        ).alias("n_sym"),
    )
    docs = load_table(spark, sf_dir, "documents")
    dtoks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    return (
        dtoks.join(F.broadcast(word_syms), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(F.length("tok")).cast("bigint").alias("n_char_symbols"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_symbols"),
            F.round(
                F.sum("n_sym").cast("double")
                / F.nullif(F.sum(F.length("tok")), F.lit(0)),
                6,
            ).alias("compression"),
        )
    )

# -- held-out stupid-backoff NLL (round-8 growth) -------------------------------

# Stupid backoff (Brants, Popat, Xu, Och, Dean 2007, "Large Language
# Models in Machine Translation"), the full chain: score(w3|w1 w2) =
# c(w1w2w3)/c(w1w2) when the trigram was seen in TRAINING, else
# alpha * c(w2w3)/c(w2), else alpha^2 * c(w3)/N, else an alpha^3/N OOV
# floor — the un-normalized web-scale LM scoring rule. Trained on the
# doc_id % HELDOUT_MOD != 0 split and scored on the HELD-OUT docs: the
# methodologically honest perplexity shape, and the one where the
# backoff tiers measurably engage (~1/3 of held-out trigrams are unseen
# on this corpus; bigram_nll_quality scores the corpus under its own
# counts, where nothing is ever unseen and no backoff could fire).
HELDOUT_MOD = 41  # the decontam split convention (curation.EVAL_MOD)
BACKOFF_ALPHA = 0.4  # the published stupid-backoff constant
_BK_T = chr(9)


@register(
    "heldout_backoff_nll",
    oracle=f"""
        WITH toked AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
            FROM documents
        ),
        tri AS (
            SELECT doc_id,
                   unnest([w[i] || '{_BK_T}' || w[i+1] || '{_BK_T}' || w[i+2]
                           for i in range(1, greatest(len(w) - 1, 1))]) AS k
            FROM toked
        ),
        big AS (
            SELECT doc_id,
                   unnest([w[i] || '{_BK_T}' || w[i+1]
                           for i in range(1, greatest(len(w), 1))]) AS k
            FROM toked
        ),
        ctri AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM tri
                 WHERE doc_id % {HELDOUT_MOD} <> 0 GROUP BY k),
        cbig AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM big
                 WHERE doc_id % {HELDOUT_MOD} <> 0 GROUP BY k),
        tr_toks AS (
            SELECT unnest(w) AS tok FROM toked WHERE doc_id % {HELDOUT_MOD} <> 0
        ),
        cuni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tr_toks GROUP BY tok),
        ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr_toks),
        ev AS (
            SELECT doc_id, k,
                   string_split(k, '{_BK_T}')[1] AS w1,
                   string_split(k, '{_BK_T}')[2] AS w2,
                   string_split(k, '{_BK_T}')[3] AS w3
            FROM tri WHERE doc_id % {HELDOUT_MOD} = 0
        ),
        scored AS (
            SELECT e.doc_id,
                   CASE WHEN t.c IS NOT NULL THEN 0
                        WHEN b23.c IS NOT NULL THEN 1
                        WHEN u3.c IS NOT NULL THEN 2 ELSE 3 END AS tier,
                   CAST(floor(1e6 * ln(
                       CASE
                           WHEN t.c IS NOT NULL
                               THEN t.c::DOUBLE / b12.c
                           WHEN b23.c IS NOT NULL
                               THEN {BACKOFF_ALPHA} * b23.c::DOUBLE / u2.c
                           WHEN u3.c IS NOT NULL
                               THEN {BACKOFF_ALPHA ** 2} * u3.c::DOUBLE
                                    / nullif(ntr.n, 0)
                           ELSE {BACKOFF_ALPHA ** 3} / nullif(ntr.n, 0)
                       END)) AS BIGINT) AS lp
            FROM ev e
            LEFT JOIN ctri t ON e.k = t.k
            LEFT JOIN cbig b12 ON e.w1 || '{_BK_T}' || e.w2 = b12.k
            LEFT JOIN cbig b23 ON e.w2 || '{_BK_T}' || e.w3 = b23.k
            LEFT JOIN cuni u2 ON e.w2 = u2.tok
            LEFT JOIN cuni u3 ON e.w3 = u3.tok
            CROSS JOIN ntr
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_trigrams,
               CAST(-sum(lp) AS BIGINT) AS nll_micronat,
               CAST(count(CASE WHEN tier >= 1 THEN 1 END) AS BIGINT)
                   AS backoff_trigrams,
               CAST(count(CASE WHEN tier = 3 THEN 1 END) AS BIGINT)
                   AS oov_trigrams,
               round(count(CASE WHEN tier >= 1 THEN 1 END)
                     / nullif(count(*), 0), 6) AS backoff_frac
        FROM scored
        GROUP BY doc_id
    """,
    doc="Held-out stupid-backoff NLL, the full Brants et al. 2007 chain: "
    "the trigram LM trains on the doc_id % "
    f"{HELDOUT_MOD} != 0 split and scores held-out documents with "
    "score(w3|w1w2) = c(w1w2w3)/c(w1w2), backing off through "
    f"{BACKOFF_ALPHA}*c(w2w3)/c(w2) and alpha^2*c(w3)/N to an alpha^3/N "
    "OOV floor — the un-normalized web-scale LM scoring rule, on the "
    "split where backoff measurably fires (~1/3 of held-out trigrams "
    "are unseen here; bigram_nll_quality scores the corpus under its "
    "own counts, where nothing is unseen). Per-doc NLL is an "
    "integer-micronat sum (order-independent; the DSIR lesson), with "
    "backoff/OOV tier counts and the backoff fraction alongside. "
    "100 TB shape: one tokenize pass feeds the train-split "
    "trigram/bigram/unigram counts and the eval stream (each "
    "checkpointed once); the five count lookups are narrow-key joins "
    "left to AQE (web-scale n-gram vocabularies are far past broadcast "
    "thresholds — the bigram_nll_quality/token_pmi precedent); one "
    "doc_id shuffle re-aggregates.",
    tags=("text", "curation"),
)
def q_heldout_backoff_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _BK_T
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("w"))

    def _ngram_stream(n: int) -> DataFrame:
        # zip/slice construction needs no size filter (short docs yield
        # empty arrays; explode drops them) — a size(w) guard would
        # re-inline tokens(text) into the pushed Filter (the BPE blowup
        # lesson), and sequence(1, size-n+1) would DESCEND on short docs
        guard = f"greatest(size(w) - {n - 1}, 0)"
        if n == 2:
            expr = (
                f"zip_with(slice(w, 1, {guard}), slice(w, 2, {guard}), "
                f"(a, b) -> concat(a, '{t}', b))"
            )
        else:
            expr = (
                f"zip_with(zip_with(slice(w, 1, {guard}), slice(w, 2, {guard}), "
                f"(a, b) -> concat(a, '{t}', b)), slice(w, 3, {guard}), "
                f"(ab, cc) -> concat(ab, '{t}', cc))"
            )
        return toked.select("doc_id", F.explode(F.expr(expr)).alias("k"))

    is_train = F.col("doc_id") % HELDOUT_MOD != 0
    tri = reliable_checkpoint(_ngram_stream(3))
    big = reliable_checkpoint(_ngram_stream(2))
    ctri = tri.where(is_train).groupBy("k").agg(F.count("*").alias("ct"))
    cbig = big.where(is_train).groupBy("k").agg(F.count("*").alias("cb"))
    tr_toks = reliable_checkpoint(
        toked.where(is_train).select(F.explode_outer("w").alias("tok"))
    )
    cuni = tr_toks.groupBy("tok").agg(F.count("*").alias("cu"))
    ntr = tr_toks.agg(F.count("tok").alias("n"))
    ev = tri.where(~is_train).select(
        "doc_id",
        "k",
        F.split("k", t).getItem(0).alias("w1"),
        F.split("k", t).getItem(1).alias("w2"),
        F.split("k", t).getItem(2).alias("w3"),
    )
    b12 = cbig.select(F.col("k").alias("k12"), F.col("cb").alias("cb12"))
    b23 = cbig.select(F.col("k").alias("k23"), F.col("cb").alias("cb23"))
    u2 = cuni.select(F.col("tok").alias("w2"), F.col("cu").alias("cu2"))
    u3 = cuni.select(F.col("tok").alias("w3"), F.col("cu").alias("cu3"))
    n_guard = F.nullif(F.col("n"), F.lit(0))
    p = (
        F.when(F.col("ct").isNotNull(), F.col("ct").cast("double") / F.col("cb12"))
        .when(
            F.col("cb23").isNotNull(),
            F.lit(BACKOFF_ALPHA) * F.col("cb23").cast("double") / F.col("cu2"),
        )
        .when(
            F.col("cu3").isNotNull(),
            F.lit(BACKOFF_ALPHA**2) * F.col("cu3").cast("double") / n_guard,
        )
        .otherwise(F.lit(BACKOFF_ALPHA**3) / n_guard)
    )
    tier = (
        F.when(F.col("ct").isNotNull(), F.lit(0))
        .when(F.col("cb23").isNotNull(), F.lit(1))
        .when(F.col("cu3").isNotNull(), F.lit(2))
        .otherwise(F.lit(3))
    )
    scored = (
        ev.withColumn("k12", F.concat("w1", F.lit(t), "w2"))
        .withColumn("k23", F.concat("w2", F.lit(t), "w3"))
        .join(ctri.select(F.col("k"), "ct"), "k", "left")
        .join(b12, "k12", "left")
        .join(b23, "k23", "left")
        .join(u2, "w2", "left")
        .join(u3, "w3", "left")
        .crossJoin(F.broadcast(ntr))
        .select(
            "doc_id",
            tier.alias("tier"),
            F.floor(F.lit(1e6) * F.log(p)).cast("bigint").alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_trigrams"),
        (-F.sum("lp")).cast("bigint").alias("nll_micronat"),
        F.count(F.when(F.col("tier") >= 1, 1)).cast("bigint").alias("backoff_trigrams"),
        F.count(F.when(F.col("tier") == 3, 1)).cast("bigint").alias("oov_trigrams"),
        F.round(
            F.count(F.when(F.col("tier") >= 1, 1))
            / F.nullif(F.count("*"), F.lit(0)),
            6,
        ).alias("backoff_frac"),
    )


# -- CCNet-style perplexity bucketing (round 9) -------------------------------


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
        WITH {_TOKS_EXPLODED_SQL},
        freq AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
        tot AS (SELECT sum(f) AS total FROM freq),
        lp AS (
            SELECT w, CAST(round(ln(f / total::DOUBLE) * 1e9) AS BIGINT)
                       AS lp_nano
            FROM freq, tot
        ),
        doc_nll AS (
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tok,
                   -sum(l.lp_nano) // count(*) AS s_nano
            FROM toks t JOIN lp l ON t.w = l.w
            GROUP BY t.doc_id
        ),
        bucketed AS (
            SELECT d.lang, n.n_tok, n.s_nano,
                   ntile(3) OVER (
                       PARTITION BY d.lang ORDER BY n.s_nano, n.doc_id
                   ) AS bucket
            FROM doc_nll n JOIN documents d ON d.doc_id = n.doc_id
        )
        SELECT lang,
               CAST(bucket AS INT) AS bucket,
               CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS tier,
               CASE WHEN bucket <= 2 THEN 1 ELSE 0 END AS kept,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tok_total,
               CAST(min(s_nano) AS BIGINT) AS min_nll_nano,
               CAST(max(s_nano) AS BIGINT) AS max_nll_nano,
               round(sum(s_nano) / count(*) / 1e9, 6) AS mean_nll_per_tok
        FROM bucketed
        GROUP BY lang, bucket
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. LREC 2020): score "
    "every document by its per-token unigram NLL (the exact integer "
    "nano-unit machinery of unigram_nll_quality, floor-divided per token "
    "so the score is a BIGINT), then split EACH LANGUAGE into "
    "head/middle/tail perplexity terciles with ntile(3) ordered by "
    "(score, doc_id) — the deterministic rank-based cut CCNet uses, with "
    "doc_id breaking integer-score ties identically in both engines; "
    "head+middle are the kept training pool, tail is flagged for drop. "
    "Per (lang, tier): doc/token counts, score range, mean per-token NLL. "
    "100 TB shape: one token pass to the vocabulary table (narrow "
    "shuffle, AQE join back exactly as unigram_nll_quality), then the "
    "window runs per-language over doc-level rows — 1e8 rows per "
    "language-partition at worst, a sort the range-partitioner splits "
    "fine; nothing in the plan touches raw text twice.",
    tags=("text", "quality", "curation"),
)
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = reliable_checkpoint(
        docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("f"))
    total = freq.agg(F.sum("f").alias("total")).withColumn("_k", F.lit(1))
    lp = (
        freq.withColumn("_k", F.lit(1))
        .join(F.broadcast(total), "_k")
        .select(
            "w",
            F.round(F.log(F.col("f") / F.col("total").cast("double")) * 1e9)
            .cast("bigint")
            .alias("lp_nano"),
        )
    )
    # shuffle-hash with the vocabulary as build side — same measured
    # rationale as unigram_nll_quality (the static planner broadcast the
    # checkpointed token side at 100x)
    doc_nll = (
        tok.join(lp.hint("shuffle_hash"), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.expr("-sum(lp_nano) div count(*)").alias("s_nano"),
        )
    )
    bucketed = doc_nll.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "n_tok",
        "s_nano",
        F.ntile(3)
        .over(W.partitionBy("lang").orderBy("s_nano", "doc_id"))
        .alias("bucket"),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tok_total"),
        F.min("s_nano").cast("bigint").alias("min_nll_nano"),
        F.max("s_nano").cast("bigint").alias("max_nll_nano"),
        F.round(F.sum("s_nano") / F.count("*") / 1e9, 6).alias("mean_nll_per_tok"),
    ).select(
        "lang",
        F.col("bucket").cast("int").alias("bucket"),
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == 2, "middle")
        .otherwise("tail")
        .alias("tier"),
        F.when(F.col("bucket") <= 2, 1).otherwise(0).cast("int").alias("kept"),
        "n_docs",
        "n_tok_total",
        "min_nll_nano",
        "max_nll_nano",
        "mean_nll_per_tok",
    )


# -- TextRank keyword extraction (round 9) ------------------------------------

TEXTRANK_ROUNDS = 2
TEXTRANK_TOPK = 20


@register(
    "textrank_keywords",
    oracle=f"""
        WITH toks2 AS (
            SELECT list_filter(string_split(text, ' '), t -> t <> '') AS w
            FROM documents
        ),
        adj AS (
            SELECT DISTINCT g.a, g.b FROM (
                SELECT unnest([{{'a': w[i], 'b': w[i+1]}}
                               for i in range(1, greatest(len(w), 1))]) AS g
                FROM toks2 WHERE len(w) >= 2
            ) WHERE g.a <> g.b
        ),
        edges AS (
            SELECT a AS src, b AS dst FROM adj
            UNION SELECT b, a FROM adj
        ),
        deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
        pr0 AS (SELECT node, 1000000::BIGINT AS pr, d FROM deg),
        in1 AS (
            SELECT e.dst AS node, sum(p.pr // p.d) AS inbound
            FROM edges e JOIN pr0 p ON e.src = p.node
            GROUP BY e.dst
        ),
        pr1 AS (
            SELECT g.node, CAST(150000 + (85 * coalesce(i.inbound, 0)) // 100
                   AS BIGINT) AS pr, g.d
            FROM deg g LEFT JOIN in1 i ON g.node = i.node
        ),
        in2 AS (
            SELECT e.dst AS node, sum(p.pr // p.d) AS inbound
            FROM edges e JOIN pr1 p ON e.src = p.node
            GROUP BY e.dst
        ),
        pr2 AS (
            SELECT g.node, CAST(150000 + (85 * coalesce(i.inbound, 0)) // 100
                   AS BIGINT) AS pr, g.d
            FROM deg g LEFT JOIN in2 i ON g.node = i.node
        )
        SELECT node AS word, CAST(d AS BIGINT) AS degree, pr AS pr_microunits
        FROM pr2
        ORDER BY pr DESC, word
        LIMIT {TEXTRANK_TOPK}
    """,
    doc="TextRank keyword extraction (Mihalcea & Tarau EMNLP 2004): build "
    "the word co-occurrence graph (distinct adjacent-token pairs across "
    "the corpus, undirected, self-loops dropped), run "
    f"{TEXTRANK_ROUNDS} PageRank rounds in exact integer microunits "
    "(the dup_graph_pagerank replay scheme: pr0 = 1e6, each round "
    "150000 + 85*sum(pr div deg) div 100 — floor-div on all-positive "
    "values, bit-identical in both engines), emit the top-"
    f"{TEXTRANK_TOPK} keywords by rank with word tie-break. 100 TB "
    "shape: the graph is VOCABULARY-sized (distinct bigrams obey the "
    "same Heaps-law sublinear growth the BPE word table rides), so the "
    "corpus is touched once to extract adjacency and every iteration "
    "runs on the compact edge table; top-k is TakeOrderedAndProject",
    tags=("text", "graph", "iterative"),
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks_df = docs.select(tokens("text").alias("toks")).where(F.size("toks") >= 2)
    adj = (
        toks_df.select(
            F.explode(
                F.expr(
                    "filter(transform(toks, (t, i) -> "
                    "struct(t AS a, try_element_at(toks, i + 2) AS b)), "
                    "p -> p.b IS NOT NULL AND p.a <> p.b)"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    half = adj.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    edges = reliable_checkpoint(
        half.union(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    pr = deg.select("node", F.lit(1000000).cast("bigint").alias("pr"), "d")
    for _ in range(TEXTRANK_ROUNDS):
        contrib = edges.join(pr, edges["src"] == pr["node"]).select(
            F.col("dst").alias("node"), F.expr("pr div d").alias("c")
        )
        inbound = contrib.groupBy("node").agg(F.sum("c").alias("inbound"))
        pr = deg.join(inbound, "node", "left").select(
            "node",
            (F.lit(150000) + F.expr("85 * coalesce(inbound, 0) div 100"))
            .cast("bigint")
            .alias("pr"),
            "d",
        )
    return (
        pr.select(
            F.col("node").alias("word"),
            F.col("d").cast("bigint").alias("degree"),
            F.col("pr").alias("pr_microunits"),
        )
        .orderBy(F.col("pr_microunits").desc(), "word")
        .limit(TEXTRANK_TOPK)
    )


# -- Gopher / MassiveText repetition quality rules (round 11) ------------------
#
# Rae et al. 2021 ("Scaling Language Models: ... Gopher", Table A1) define
# the most-cited repetition filter in LLM-data papers: per-document
# duplicate line / paragraph fractions, duplicate line / paragraph
# CHARACTER fractions, top-{2,3,4}-gram character fractions, and duplicated
# {5..10}-gram character fractions, each with a published threshold; a doc
# passes the filter iff every statistic is at or under its threshold.
# Conventions pinned here (the paper leaves them open; both engines mirror
# them exactly):
#   - "characters" = the single-space-rejoined token string (whitespace-
#     normalized, so multi-space noise can't split the engines);
#   - duplicate char fractions count occurrences BEYOND the first of each
#     duplicated line/paragraph (the removable mass);
#   - top-n-gram fraction = (count of the most frequent n-gram) x (its
#     char length) / total chars, ties on count broken by the LONGEST
#     gram (deterministic, monotone in the statistic being thresholded);
#   - duplicated-n-gram fractions count each character ONCE even under
#     overlapping duplicated grams (the paper's "taking care not to count
#     characters multiple times") via the interval-union machinery shared
#     with the exact-substring dedup family.

GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
GOPHER_DUP_LINE_FRAC_MAX = 0.30
GOPHER_DUP_PARA_FRAC_MAX = 0.30
GOPHER_DUP_LINE_CHAR_FRAC_MAX = 0.20
GOPHER_DUP_PARA_CHAR_FRAC_MAX = 0.20


def _rep_idx_sql(su: str) -> str:
    """SQL: 1-based indices i >= 2 into a SORTED array ``su`` with
    su[i] == su[i-1] — one entry per repeated occurrence beyond the
    first (so size(result) == n_units - n_distinct)."""
    return (
        f"filter(CASE WHEN size({su}) >= 2 THEN sequence(2, size({su})) "
        f"ELSE {_EMPTY_INT_ARR} END, "
        f"i -> element_at({su}, i) = element_at({su}, i - 1))"
    )


def _run_starts_sql(sg: str) -> str:
    """SQL: 1-based run-start indices into a SORTED array ``sg`` (index 1
    plus every i with sg[i] != sg[i-1]) — one entry per distinct value."""
    return (
        f"filter(CASE WHEN size({sg}) >= 1 THEN sequence(1, size({sg})) "
        f"ELSE {_EMPTY_INT_ARR} END, "
        f"i -> i = 1 OR element_at({sg}, i) <> element_at({sg}, i - 1))"
    )


def gopher_repetition_impl(docs: DataFrame) -> DataFrame:
    """All Gopher repetition statistics in one per-doc row. 100 TB shape
    (r12): every statistic is doc-local, so the WHOLE filter is computed
    in-row with higher-order functions over the token / line / gram
    arrays — a single map-only pass, zero shuffles, zero joins (the r11
    shape exploded into 11 doc-keyed aggregate/window branches and
    reassembled them with 12 shuffle-hash joins; same numbers, ~20
    exchanges removed). Sorted-array run-length scans replace the
    groupBys; the duplicated-gram interval union is one forward sweep
    over position-ordered intervals. Per-row cost is
    O(tokens * log tokens + tokens * |duplicated grams|) — docs are
    KB-scale, so this streams over any corpus partitioning.

    Two implementation disciplines, both measured:
    - staging: every array an HOF lambda reads is projected as its OWN
      named column in an earlier select (a lambda-captured composite
      expression is re-evaluated per ELEMENT — the 30x trap documented
      in functions/textfns.py; measured here: 9.7 s -> 1.6 s at sf0.01);
    - SQL-string construction via selectExpr: building this tree with
      ~2000 pyspark Column calls costs ~2.3 s of py4j round-trips PER
      CALL on the driver; parsing a handful of SQL strings is ms."""
    top_ns, dup_ns = tuple(GOPHER_TOP_NGRAM_MAX), tuple(GOPHER_DUP_NGRAM_MAX)
    all_ns = (*top_ns, *dup_ns)
    zero = "CAST(0 AS BIGINT)"

    # s1: raw arrays off the scan
    d = docs.selectExpr(
        "doc_id",
        "filter(split(text, ' '), t -> t <> '') AS tk",
        "filter(split(text, '\n'), u -> u <> '') AS lines",
        "filter(split(text, '\n\n'), u -> u <> '') AS paras",
    )
    # s2: sorted twins, char offsets, gram arrays (all from tk).
    # offs[p] (1-based) = char offset of token p-1 in the space-joined
    # doc; offs has size(tk)+1 entries.
    d = d.selectExpr(
        "doc_id",
        "lines",
        "paras",
        "array_sort(lines) AS su_line",
        "array_sort(paras) AS su_para",
        "CAST(length(array_join(tk, ' ')) AS BIGINT) AS total_chars",
        f"aggregate(tk, array({zero}), (acc, x) -> "
        "concat(acc, array(element_at(acc, -1) + length(x) + 1))) AS offs",
        *[f"{_ngrams_sql('tk', n)} AS g{n}" for n in all_ns],
    )
    # s3: sorted gram arrays + repeated-occurrence index arrays
    d = d.selectExpr(
        "*",
        *[f"array_sort(g{n}) AS sg{n}" for n in all_ns],
        f"{_rep_idx_sql('su_line')} AS rep_line",
        f"{_rep_idx_sql('su_para')} AS rep_para",
    )
    # s4: run starts (top ns) and duplicated-gram sets (dup ns)
    d = d.selectExpr(
        "*",
        *[f"{_run_starts_sql(f'sg{n}')} AS starts{n}" for n in top_ns],
        *[
            f"array_distinct(transform({_rep_idx_sql(f'sg{n}')}, "
            f"i -> element_at(sg{n}, i))) AS dupset{n}"
            for n in dup_ns
        ],
    )
    # s5: the best (count, gram length) run per top-n (get() is 0-based,
    # so get(starts, j) with 1-based j IS the next run start, NULL past
    # the end -> end+1), and the positions of duplicated-gram occurrences
    # per dup-n (ascending, so interval starts are sorted for the s6
    # union sweep; nonempty dupset implies size(g) >= 2, so sequence
    # never takes the descending sequence(1, 0) branch)
    d = d.selectExpr(
        "*",
        *[
            f"CASE WHEN size(starts{n}) >= 1 THEN "
            f"array_max(transform(sequence(1, size(starts{n})), j -> "
            f"named_struct("
            f"'cnt', coalesce(get(starts{n}, j), size(sg{n}) + 1) "
            f"- element_at(starts{n}, j), "
            f"'ln', length(element_at(sg{n}, element_at(starts{n}, j)))"
            f"))) END AS best{n}"
            for n in top_ns
        ],
        *[
            f"CASE WHEN size(dupset{n}) > 0 THEN "
            f"filter(sequence(1, size(g{n})), "
            f"p -> array_contains(dupset{n}, element_at(g{n}, p))) "
            f"ELSE {_EMPTY_INT_ARR} END AS ps{n}"
            for n in dup_ns
        ],
    )
    # s6: the per-doc stat row (same values the r11 join assembly built).
    # Duplicated-gram coverage: forward sweep = gaps-and-islands interval
    # union (starts ascending); the interval for 1-based gram position p
    # is [offs[p], offs[p+n] - 1).
    unit_stats = []
    for prefix, units, su, rep in (
        ("dup_line", "lines", "su_line", "rep_line"),
        ("dup_para", "paras", "su_para", "rep_para"),
    ):
        tot = f"aggregate({units}, {zero}, (a, x) -> a + length(x))"
        dupc = f"aggregate({rep}, {zero}, (a, i) -> a + length(element_at({su}, i)))"
        unit_stats.append(
            f"CASE WHEN size({units}) > 0 THEN "
            f"size({rep}) / CAST(size({units}) AS DOUBLE) "
            f"ELSE 0.0D END AS {prefix}_frac"
        )
        unit_stats.append(
            f"CASE WHEN {tot} > 0 THEN {dupc} / CAST({tot} AS DOUBLE) "
            f"ELSE 0.0D END AS {prefix}_char_frac"
        )
    out = d.selectExpr(
        "doc_id",
        "total_chars",
        *unit_stats,
        *[
            f"CASE WHEN size(sg{n}) > 0 THEN "
            f"CAST(best{n}.cnt AS BIGINT) * CAST(best{n}.ln AS BIGINT) "
            f"END AS top{n}_chars"
            for n in top_ns
        ],
        *[
            f"aggregate(ps{n}, named_struct('cov', {zero}, 'cur', {zero}), "
            f"(acc, p) -> named_struct("
            f"'cov', acc.cov + greatest((element_at(offs, p + {n}) - 1) "
            f"- greatest(acc.cur, element_at(offs, p)), {zero}), "
            f"'cur', greatest(acc.cur, element_at(offs, p + {n}) - 1)), "
            f"acc -> acc.cov) AS dup{n}_chars"
            for n in dup_ns
        ],
    )

    tc = F.nullif(F.col("total_chars").cast("double"), F.lit(0.0))
    cols = [F.col("doc_id")]
    gates = []
    for name, mx in (
        ("dup_line_frac", GOPHER_DUP_LINE_FRAC_MAX),
        ("dup_line_char_frac", GOPHER_DUP_LINE_CHAR_FRAC_MAX),
        ("dup_para_frac", GOPHER_DUP_PARA_FRAC_MAX),
        ("dup_para_char_frac", GOPHER_DUP_PARA_CHAR_FRAC_MAX),
    ):
        v = F.coalesce(F.col(name), F.lit(0.0))
        cols.append(F.round(v, 6).alias(name))
        gates.append(v <= mx)
    for n, mx in GOPHER_TOP_NGRAM_MAX.items():
        v = F.coalesce(F.coalesce(F.col(f"top{n}_chars"), F.lit(0)) / tc, F.lit(0.0))
        cols.append(F.round(v, 6).alias(f"top{n}gram_char_frac"))
        gates.append(v <= mx)
    for n, mx in GOPHER_DUP_NGRAM_MAX.items():
        v = F.coalesce(F.coalesce(F.col(f"dup{n}_chars"), F.lit(0)) / tc, F.lit(0.0))
        cols.append(F.round(v, 6).alias(f"dup{n}gram_char_frac"))
        gates.append(v <= mx)
    passes = gates[0]
    for g in gates[1:]:
        passes = passes & g
    cols.append(passes.alias("passes_gopher_repetition"))
    return out.select(*cols)


def _gopher_oracle_parts() -> tuple:
    """(CTE parts, final SELECT) of the gopher_repetition_impl mirror —
    split out so curation_funnel_stats can embed the whole chain as a
    derived CTE."""
    np_grams = (
        "[{{'pos': CAST(i - 1 AS BIGINT), "
        "'gram': array_to_string(w[i:i+{m}], ' ')}} "
        "for i in range(1, greatest(len(w) - {m}, 0) + 1)]"
    )
    parts = [
        "toks AS (SELECT doc_id, "
        "list_filter(string_split(text, ' '), t -> t <> '') AS w "
        "FROM documents)",
        "base AS (SELECT doc_id, CAST(length(array_to_string(w, ' ')) "
        "AS BIGINT) AS total_chars FROM toks)",
    ]
    for prefix, sep in (("l", "chr(10)"), ("p", "chr(10) || chr(10)")):
        parts.append(
            f"{prefix}units AS (SELECT doc_id, "
            f"unnest(list_filter(string_split(text, {sep}), u -> u <> ''))"
            f" AS u FROM documents)"
        )
        parts.append(
            f"{prefix}grp AS (SELECT doc_id, u, count(*) AS cnt, "
            f"length(u) AS ln FROM {prefix}units GROUP BY doc_id, u)"
        )
        parts.append(
            f"{prefix}stat AS (SELECT doc_id, "
            f"coalesce((sum(cnt) - count(*)) "
            f"/ nullif(CAST(sum(cnt) AS DOUBLE), 0), 0) AS frac, "
            f"coalesce(sum(CASE WHEN cnt > 1 THEN (cnt - 1) * ln ELSE 0 END) "
            f"/ nullif(CAST(sum(cnt * ln) AS DOUBLE), 0), 0) AS cfrac "
            f"FROM {prefix}grp GROUP BY doc_id)"
        )
    for n in GOPHER_TOP_NGRAM_MAX:
        glist = np_grams.format(m=n - 1)
        parts.append(
            f"g{n} AS (SELECT doc_id, g.gram AS g, count(*) AS cnt "
            f"FROM (SELECT doc_id, unnest({glist}) AS g FROM toks) "
            f"GROUP BY doc_id, g.gram)"
        )
        parts.append(
            f"m{n} AS (SELECT doc_id, max(cnt) AS mc FROM g{n} GROUP BY doc_id)"
        )
        parts.append(
            f"t{n} AS (SELECT m.doc_id, m.mc * max(length(g.g)) AS chars "
            f"FROM g{n} g JOIN m{n} m ON g.doc_id = m.doc_id AND g.cnt = m.mc "
            f"GROUP BY m.doc_id, m.mc)"
        )
    parts.append(
        "tokoff AS (SELECT doc_id, pos, off, off + ln AS end_off FROM ("
        "SELECT doc_id, t.pos AS pos, length(t.tok) AS ln, "
        "coalesce(sum(length(t.tok) + 1) OVER (PARTITION BY doc_id "
        "ORDER BY t.pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        " AS off FROM (SELECT doc_id, "
        "unnest([{'pos': CAST(i - 1 AS BIGINT), 'tok': w[i]} "
        "for i in range(1, len(w) + 1)]) AS t FROM toks)))"
    )
    ivs = []
    for n in GOPHER_DUP_NGRAM_MAX:
        glist = np_grams.format(m=n - 1)
        parts.append(
            f"gp{n} AS (SELECT doc_id, g.pos AS pos, g.gram AS gram "
            f"FROM (SELECT doc_id, unnest({glist}) AS g FROM toks))"
        )
        parts.append(
            f"dup{n} AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, "
            f"count(*) OVER (PARTITION BY doc_id, gram) AS cnt FROM gp{n}) "
            f"WHERE cnt >= 2)"
        )
        ivs.append(
            f"SELECT d.doc_id, CAST({n} AS BIGINT) AS n, a.off AS s, "
            f"b.end_off AS e FROM dup{n} d "
            f"JOIN tokoff a ON a.doc_id = d.doc_id AND a.pos = d.pos "
            f"JOIN tokoff b ON b.doc_id = d.doc_id AND b.pos = d.pos + {n - 1}"
        )
    parts.append(
        "divals AS (SELECT DISTINCT * FROM ("
        + " UNION ALL ".join(ivs)
        + "))"
    )
    parts.append(
        "dmarked AS (SELECT doc_id, n, s, e, CASE WHEN s > coalesce(max(e) "
        "OVER (PARTITION BY doc_id, n ORDER BY s, e ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_island "
        "FROM divals)"
    )
    parts.append(
        "dislands AS (SELECT doc_id, n, s, e, sum(new_island) OVER ("
        "PARTITION BY doc_id, n ORDER BY s, e ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS island FROM dmarked)"
    )
    parts.append(
        "dcov AS (SELECT doc_id, n, CAST(sum(ce - cs) AS BIGINT) AS covered "
        "FROM (SELECT doc_id, n, island, min(s) AS cs, max(e) AS ce "
        "FROM dislands GROUP BY doc_id, n, island) GROUP BY doc_id, n)"
    )
    dpiv_cols = ", ".join(
        f"sum(CASE WHEN n = {n} THEN covered END) AS c{n}"
        for n in GOPHER_DUP_NGRAM_MAX
    )
    parts.append(f"dpiv AS (SELECT doc_id, {dpiv_cols} FROM dcov GROUP BY doc_id)")
    sel = ["b.doc_id"]
    gates = []
    for src, alias, mx in (
        ("ls.frac", "dup_line_frac", GOPHER_DUP_LINE_FRAC_MAX),
        ("ls.cfrac", "dup_line_char_frac", GOPHER_DUP_LINE_CHAR_FRAC_MAX),
        ("ps.frac", "dup_para_frac", GOPHER_DUP_PARA_FRAC_MAX),
        ("ps.cfrac", "dup_para_char_frac", GOPHER_DUP_PARA_CHAR_FRAC_MAX),
    ):
        sel.append(f"round(coalesce({src}, 0), 6) AS {alias}")
        gates.append(f"coalesce({src}, 0) <= {mx}")
    tc = "nullif(CAST(b.total_chars AS DOUBLE), 0)"
    for n, mx in GOPHER_TOP_NGRAM_MAX.items():
        v = f"coalesce(coalesce(t{n}.chars, 0) / {tc}, 0)"
        sel.append(f"round({v}, 6) AS top{n}gram_char_frac")
        gates.append(f"{v} <= {mx}")
    for n, mx in GOPHER_DUP_NGRAM_MAX.items():
        v = f"coalesce(coalesce(dpiv.c{n}, 0) / {tc}, 0)"
        sel.append(f"round({v}, 6) AS dup{n}gram_char_frac")
        gates.append(f"{v} <= {mx}")
    sel.append("(" + " AND ".join(gates) + ") AS passes_gopher_repetition")
    joins = [
        "FROM base b",
        "LEFT JOIN lstat ls ON ls.doc_id = b.doc_id",
        "LEFT JOIN pstat ps ON ps.doc_id = b.doc_id",
    ]
    for n in GOPHER_TOP_NGRAM_MAX:
        joins.append(f"LEFT JOIN t{n} ON t{n}.doc_id = b.doc_id")
    joins.append("LEFT JOIN dpiv ON dpiv.doc_id = b.doc_id")
    return parts, "SELECT " + ", ".join(sel) + "\n" + " ".join(joins)


def _gopher_oracle_sql() -> str:
    """DuckDB mirror of gopher_repetition_impl, generated per-n."""
    parts, select = _gopher_oracle_parts()
    return "WITH " + ",\n".join(parts) + "\n" + select


@register(
    "gopher_repetition_rules",
    oracle=_gopher_oracle_sql(),
    doc="Gopher / MassiveText repetition quality rules (Rae et al. 2021 "
    "Table A1 — the most-cited repetition filter in LLM-data papers): "
    "per-doc duplicate line/paragraph fractions and char fractions, "
    "top-{2,3,4}-gram char fractions, duplicated-{5..10}-gram char "
    "fractions (overlaps counted ONCE via a position-ordered interval-"
    "union sweep — the same union semantics as the exact-substring dedup "
    "family), each against its published threshold; "
    "passes_gopher_repetition = all gates hold. 100 TB shape (r12): "
    "every statistic is doc-local, so the whole filter is ONE map-only "
    "pass of higher-order functions over the token/line/gram arrays — "
    "zero shuffles, zero joins; streams over any corpus partitioning",
    tags=("text", "curation"),
)
def q_gopher_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the whole filter is map-only, so a KB-scale single-row-group scan
    # would serialize it on one task; no-op at real scale (guide §2.5)
    return gopher_repetition_impl(
        spread_small_scan(load_table(spark, sf_dir, "documents"))
    )


# -- Gopher quality rules: the non-repetition half (round 11) ------------------
#
# Rae et al. 2021 Table A1's OTHER half — document-shape quality gates.
# Conventions pinned (both engines mirror them): words = whitespace
# tokens; symbols = '#' plus non-overlapping '...' and U+2026 ellipsis
# occurrences (replace-based counting); bullet lines start with '•', '-'
# or '*'; ellipsis lines end with '...' or U+2026; alphabetic words
# contain >= 1 ASCII letter; the stop-word gate needs >= 2 DISTINCT
# members of Gopher's 8-word list present.

GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def _occurrences(col, needle: str, width: int):
    """Non-overlapping occurrence count via replace (same semantics in
    Spark and DuckDB)."""
    return (F.length(col) - F.length(F.replace(col, F.lit(needle)))) / width


# Self-contained stat subquery + gate expression, shared by the
# gopher_quality_rules oracle and the curation_funnel_stats oracle.
_GQ_STAT_SQL = f"""SELECT doc_id,
                   len(w) AS n_words,
                   list_sum(list_transform(w, t -> length(t)))
                       / nullif(CAST(len(w) AS DOUBLE), 0) AS mean_wlen,
                   ((length(text) - length(replace(text, '#', '')))
                    + (length(text) - length(replace(text, '...', ''))) / 3
                    + (length(text) - length(replace(text, '…', ''))))
                       / nullif(CAST(len(w) AS DOUBLE), 0) AS sym_ratio,
                   len(list_filter(ls, l -> l LIKE '•%'
                           OR l LIKE '-%' OR l LIKE '*%'))
                       / nullif(CAST(len(ls) AS DOUBLE), 0) AS bullet_frac,
                   len(list_filter(ls, l -> l LIKE '%...'
                           OR l LIKE '%…'))
                       / nullif(CAST(len(ls) AS DOUBLE), 0) AS ellipsis_frac,
                   len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
                       / nullif(CAST(len(w) AS DOUBLE), 0) AS alpha_frac,
                   len(list_intersect(list_distinct(w),
                       [{", ".join("'" + s + "'" for s in GOPHER_STOP_WORDS)}]))
                       AS stop_hits
            FROM (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '), t -> t <> '') AS w,
                       list_filter(string_split(text, chr(10)), l -> l <> '') AS ls
                FROM documents
            )"""

_GQ_PASS_SQL = f"""(n_words >= {GOPHER_MIN_WORDS}
                AND n_words <= {GOPHER_MAX_WORDS}
                AND coalesce(mean_wlen, 0) >= {GOPHER_MIN_MEAN_WLEN}
                AND coalesce(mean_wlen, 0) <= {GOPHER_MAX_MEAN_WLEN}
                AND coalesce(sym_ratio, 0) <= {GOPHER_MAX_SYMBOL_RATIO}
                AND coalesce(bullet_frac, 0) <= {GOPHER_MAX_BULLET_FRAC}
                AND coalesce(ellipsis_frac, 0) <= {GOPHER_MAX_ELLIPSIS_FRAC}
                AND coalesce(alpha_frac, 0) >= {GOPHER_MIN_ALPHA_FRAC}
                AND stop_hits >= {GOPHER_MIN_STOP_HITS})"""


# Full quality oracle, shared with the streaming-runtime twin (the
# filter is per-row column math, so the stream emits the batch result).
GQ_ORACLE_SQL = f"""
        WITH stat AS (
            {_GQ_STAT_SQL}
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               round(coalesce(mean_wlen, 0), 6) AS mean_word_len,
               round(coalesce(sym_ratio, 0), 6) AS symbol_word_ratio,
               round(coalesce(bullet_frac, 0), 6) AS bullet_line_frac,
               round(coalesce(ellipsis_frac, 0), 6) AS ellipsis_line_frac,
               round(coalesce(alpha_frac, 0), 6) AS alpha_word_frac,
               CAST(stop_hits AS BIGINT) AS stop_word_hits,
               {_GQ_PASS_SQL}
                   AS passes_gopher_quality
        FROM stat
    """


@register(
    "gopher_quality_rules",
    oracle=GQ_ORACLE_SQL,
    doc="Gopher quality rules, the non-repetition half (Rae et al. 2021 "
    "Table A1): per-doc word count bounds, mean word length bounds, "
    "symbol-to-word ratio ('#' and ellipses), bullet-start and "
    "ellipsis-end line fractions, alphabetic-word fraction, and the "
    ">= 2-distinct-stop-words gate, each with its published threshold; "
    "passes_gopher_quality = all gates hold. Completes the Gopher "
    "filter alongside gopher_repetition_rules. 100 TB shape: pure "
    "per-row column expressions (transform/filter/list_intersect over "
    "the token and line arrays) — zero shuffles, zero joins; the filter "
    "is a map-only pass at any scale",
    tags=("text", "curation", "quality"),
)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_quality_impl(load_table(spark, sf_dir, "documents"))


def gopher_quality_impl(docs: DataFrame) -> DataFrame:
    d = docs.select(
        "doc_id",
        "text",
        tokens("text").alias("w"),
        F.filter(F.split("text", "\n"), lambda l: l != F.lit("")).alias("ls"),
    )
    n_words = F.size("w")
    nwd = F.nullif(n_words.cast("double"), F.lit(0.0))
    nld = F.nullif(F.size("ls").cast("double"), F.lit(0.0))
    mean_wlen = F.aggregate(
        F.transform("w", lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ) / nwd
    sym_ratio = (
        _occurrences(F.col("text"), "#", 1)
        + _occurrences(F.col("text"), "...", 3)
        + _occurrences(F.col("text"), "…", 1)
    ) / nwd
    bullet_frac = (
        F.size(
            F.filter(
                "ls",
                lambda l: l.startswith("•")
                | l.startswith("-")
                | l.startswith("*"),
            )
        )
        / nld
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                "ls", lambda l: l.endswith("...") | l.endswith("…")
            )
        )
        / nld
    )
    alpha_frac = (
        F.size(F.filter("w", lambda t: t.rlike("[A-Za-z]"))) / nwd
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct("w"),
            F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS]),
        )
    )
    z = lambda c: F.coalesce(c, F.lit(0.0))  # noqa: E731
    passes = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (z(mean_wlen) >= GOPHER_MIN_MEAN_WLEN)
        & (z(mean_wlen) <= GOPHER_MAX_MEAN_WLEN)
        & (z(sym_ratio) <= GOPHER_MAX_SYMBOL_RATIO)
        & (z(bullet_frac) <= GOPHER_MAX_BULLET_FRAC)
        & (z(ellipsis_frac) <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (z(alpha_frac) >= GOPHER_MIN_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(z(mean_wlen), 6).alias("mean_word_len"),
        F.round(z(sym_ratio), 6).alias("symbol_word_ratio"),
        F.round(z(bullet_frac), 6).alias("bullet_line_frac"),
        F.round(z(ellipsis_frac), 6).alias("ellipsis_line_frac"),
        F.round(z(alpha_frac), 6).alias("alpha_word_frac"),
        stop_hits.cast("bigint").alias("stop_word_hits"),
        passes.alias("passes_gopher_quality"),
    )
