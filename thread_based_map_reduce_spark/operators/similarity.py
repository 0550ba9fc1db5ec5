"""Similarity search over the ``embeddings`` table (mandated extension,
SURVEY §2.3): brute-force cosine top-k as the exactness baseline, plus two
scale paths — sign-LSH bucketing and IVF (centroid cells).

Scale design notes (the point of each variant):

- brute force is O(|Q|·N) with the query side broadcast — correct baseline,
  linear scans of the corpus stay JVM-side (zip_with/aggregate dot
  products, no Python);
- sign-LSH buckets the corpus ONCE per band by the sign pattern of r
  seeded random hyperplane projections (r=16 in 4 band tables; see the
  sizing-rule comment at the constants below); search touches only the
  query's band buckets, optionally widened by hamming-1 multi-probe. The
  (band, bucket) id is a plain integer groupBy/join key, so at 100 TB
  this is one narrow shuffle + per-bucket local scans;
- IVF assigns every vector to its nearest centroid (here: per-label means,
  i.e. k=10 cells; nprobe=1 and nprobe=2 variants); search scans the
  probed cells. Centroids are tiny and broadcast; the corpus-side
  assignment is a broadcast-join + argmin — no shuffle of the embedding
  column at all. The same bucketing doubles as a blocking key for
  embedding near-dup (dedup_embedding_lsh).

Determinism for the oracle: all ranking orders carry ``vec_id`` tiebreaks;
centroid coordinates are rounded to 6 decimals on both engines before any
distance math (averaging order differs between engines at the ulp level).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.vectors import cosine_similarity
from ..plans.catalog import register
from ..session import reliable_checkpoint
from ..sources.registry import load_table, table_row_count

N_QUERIES = 10  # query set: vec_id < 10
DIMS = 64

_COS_SQL = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


@register(
    "ann_bruteforce_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT q.qid, e.vec_id,
                   {_COS_SQL.format(a='q.qe', b='e.embedding')} AS cos
            FROM q JOIN embeddings e ON e.vec_id <> q.qid
        )
        SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 6) AS cos
        FROM (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
            FROM scored
        )
        WHERE rnk <= 5
    """,
    doc="Exact top-5 cosine neighbors for 10 query vectors: broadcast queries x "
    "full scan + per-query window (the exactness baseline for ANN variants)",
    tags=("similarity", "ann"),
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine_similarity("qe", "embedding").alias("cos"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 5)
        .select("qid", "vec_id", "rnk", F.round("cos", 6).alias("cos"))
    )


# -- sign-LSH with random hyperplanes + band tables ---------------------------
#
# Round-1 used the sign bits of the 8 LEADING coordinates → 256 fixed
# buckets, measured recall@3 of 0.033 (VERDICT r1 "what's wrong" #1). The
# scale-correct construction: r RANDOM hyperplanes (r sized to the corpus,
# default 16), split into >=2 band tables (OR-construction: a candidate
# collides in ANY band), plus optional hamming-1 multi-probe. Hyperplane
# coefficients are seeded-deterministic and embedded as literals in BOTH
# engines, so the DuckDB oracle reproduces the buckets bit-for-bit — they
# are model constants (k*r doubles), unlike data-dependent centroids.

# Sizing rule: bits-per-band ~ log2(N / target_bucket_size) controls
# pruning (candidate fraction per band ≈ 2^-bits for unrelated pairs);
# band COUNT controls recall (1 - (1 - p^bits)^bands, p = 1 - θ/π). The
# testdata embeddings are near-isotropic (top-neighbor cosine ≈ 0.37 →
# p ≈ 0.63 — the hard instance for sign-LSH), so the default trades
# shorter bands (4 bits) × more tables (4) for measured recall@3 ≈ 0.5
# (multi-probe ≈ 0.9) vs 0.033 for round-1's single fixed 8-bit bucket.
# At 100 TB: raise N_PLANES so bits-per-band tracks log2 N (bits =
# max(4, ceil(log2(N / 125))) keeps bucket occupancy at the testdata's
# 2,000 / 2^4 = 125), keep >= 2 bands, and gate any retune on
# ann_recall_eval. BASELINE.md "LSH sizing" records the measured
# candidate-fraction collapse on the 10×/100× Heaps fixtures.
N_PLANES = 16  # r seeded random hyperplanes (VERDICT r1: parameter, >= 16)
N_LSH_BANDS = 4  # band tables; each band = N_PLANES // N_LSH_BANDS sign bits
_PLANES_PER_BAND = N_PLANES // N_LSH_BANDS
_LSH_SEED = 20260813


def _make_planes() -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED)
    return [
        [round(float(x), 6) for x in row]
        for row in rng.standard_normal((N_PLANES, DIMS))
    ]


_PLANES = _make_planes()


def _band_buckets_spark(col: str) -> list[F.Column]:
    """One bigint bucket per band: packed sign bits of the band's planes.
    16 sequential-fold dot products per row, all JVM-side; sign agreement
    with the oracle needs |dot| >> summation-order ulps (~1e-13), which
    random unit-scale planes give with overwhelming probability."""
    from ..functions.vectors import dot_product

    v = F.col(col).cast("array<double>")
    buckets = []
    for b in range(N_LSH_BANDS):
        acc = F.lit(0)
        for j in range(_PLANES_PER_BAND):
            plane = _PLANES[b * _PLANES_PER_BAND + j]
            bit = dot_product(v, F.array(*[F.lit(x) for x in plane])) > 0
            acc = acc + F.when(bit, F.lit(1 << j)).otherwise(F.lit(0))
        buckets.append(acc.cast("bigint"))
    return buckets


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"


def _band_bucket_sql(e: str, band: int) -> str:
    terms = []
    for j in range(_PLANES_PER_BAND):
        plane = _PLANES[band * _PLANES_PER_BAND + j]
        terms.append(
            f"(CASE WHEN list_dot_product({e}::DOUBLE[], {_plane_sql(plane)}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


def _bands_sql() -> str:
    """CTE fragment: (vec_id, embedding, band, bucket) — one row per band."""
    selects = [
        f"SELECT vec_id, embedding, {b} AS band,"
        f" CAST({_band_bucket_sql('embedding', b)} AS BIGINT) AS bucket FROM embeddings"
        for b in range(N_LSH_BANDS)
    ]
    return "bands AS (\n" + "\nUNION ALL\n".join(selects) + "\n)"


# probe deltas for hamming-1 multi-probe: 0 (the bucket itself) + flip of
# each bit in the band
_PROBE_DELTAS = [0] + [1 << j for j in range(_PLANES_PER_BAND)]


def _lsh_candidates_sql(multiprobe: bool) -> str:
    """CTE chain ending in cand(qid, vec_id): band-bucket collision pairs."""
    if multiprobe:
        q = f"""
        q AS (
            SELECT vec_id AS qid, band, xor(bucket, p) AS bucket
            FROM bands, unnest({_PROBE_DELTAS}) AS t(p)
            WHERE vec_id < {N_QUERIES}
        )"""
    else:
        q = f"""
        q AS (
            SELECT vec_id AS qid, band, bucket FROM bands WHERE vec_id < {N_QUERIES}
        )"""
    return f"""
        {_bands_sql()},
        {q},
        cand AS (
            SELECT DISTINCT q.qid, e.vec_id
            FROM q JOIN bands e ON e.band = q.band AND e.bucket = q.bucket
            WHERE e.vec_id <> q.qid
        )"""


_LSH_TOPK_SQL_TAIL = f"""
        qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT c.qid, c.vec_id,
                   {_COS_SQL.format(a='qv.qe', b='e.embedding')} AS cos
            FROM cand c JOIN qv USING (qid) JOIN embeddings e ON e.vec_id = c.vec_id
        )
        SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 6) AS cos
        FROM (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
            FROM scored
        )
        WHERE rnk <= 3
    """


def _embedding_bands(emb: DataFrame) -> DataFrame:
    """(vec_id, band, bucket): one row per vector and band, the bucket
    being the band's sign-LSH bits (``_bands_sql`` in the oracles)."""
    bucket_cols = _band_buckets_spark("embedding")
    return emb.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), bucket_cols[b].alias("bucket"))
                for b in range(N_LSH_BANDS)
            ])
        ).alias("bb"),
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidates(emb: DataFrame, *, multiprobe: bool = False) -> DataFrame:
    """Distinct (qid, vec_id) candidate pairs from band-bucket collisions.

    The corpus never cross-joins: each vector lands in N_LSH_BANDS (band,
    bucket) rows — a narrow bigint shuffle key — and candidates are only
    bucket collisions. Multi-probe additionally probes every hamming-1
    bucket of the query's signature in each band: the exact bucket plus
    one flip per band bit, i.e. 1 + bits-per-band probes per band.
    """
    bands = _embedding_bands(emb)

    qb = bands.where(F.col("vec_id") < N_QUERIES)
    if multiprobe:
        qb = qb.select(
            "vec_id",
            "band",
            F.explode(
                F.array(*[F.lit(d) for d in _PROBE_DELTAS])
            ).alias("delta"),
            F.col("bucket").alias("base"),
        ).select(
            "vec_id",
            "band",
            (
                F.col("base").bitwiseXOR(F.col("delta"))
            ).cast("bigint").alias("bucket"),
        )
    qb = qb.select(
        F.col("vec_id").alias("qid"), F.col("band").alias("qband"), F.col("bucket").alias("qbucket")
    )
    return (
        bands.join(
            F.broadcast(qb),
            (F.col("band") == F.col("qband"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id")
        .distinct()
    )


def _lsh_topk(spark: SparkSession, sf_dir: str, *, multiprobe: bool) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cand = lsh_candidates(emb, multiprobe=multiprobe)
    qv = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        cand.join(F.broadcast(qv), "qid")
        .join(emb, "vec_id")
        .select("qid", "vec_id", cosine_similarity("qe", "embedding").alias("cos"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("qid", "vec_id", "rnk", F.round("cos", 6).alias("cos"))
    )


@register(
    "ann_lsh_bucketed",
    oracle=f"WITH {_lsh_candidates_sql(multiprobe=False)},\n{_LSH_TOPK_SQL_TAIL}",
    doc=f"ANN via sign-LSH: {N_PLANES} seeded random hyperplanes split into "
    f"{N_LSH_BANDS} band tables (OR-construction); candidates are band-bucket "
    "collisions only — a narrow bigint join key, never a cross join",
    tags=("similarity", "ann", "lsh"),
)
def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_topk(spark, sf_dir, multiprobe=False)


@register(
    "ann_lsh_multiprobe",
    oracle=f"WITH {_lsh_candidates_sql(multiprobe=True)},\n{_LSH_TOPK_SQL_TAIL}",
    doc="ANN via sign-LSH with hamming-1 multi-probe: each band also probes "
    "every bucket one sign-flip away from the query's signature — recall "
    f"approaches brute force at {len(_PROBE_DELTAS)}× the (still tiny) "
    "probe count (exact bucket + one flip per band bit)",
    tags=("similarity", "ann", "lsh"),
)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_topk(spark, sf_dir, multiprobe=True)


@register(
    "ivf_search",
    oracle=f"""
        WITH dims AS (
            SELECT label, i, round(avg(embedding[i]), 6) AS c
            FROM embeddings, generate_series(1, {DIMS}) AS g(i)
            GROUP BY label, i
        ),
        centroids AS (
            SELECT label AS cell, list(c ORDER BY i) AS ce FROM dims GROUP BY label
        ),
        assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.ce')} DESC, c.cell
                       ) AS rc
                FROM embeddings e CROSS JOIN centroids c
            ) WHERE rc = 1
        ),
        q AS (SELECT vec_id AS qid, embedding AS qe, cell FROM assigned WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.qid, e.vec_id,
                   {_COS_SQL.format(a='q.qe', b='e.embedding')} AS cos
            FROM q JOIN assigned e ON e.cell = q.cell AND e.vec_id <> q.qid
        )
        SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 6) AS cos
        FROM (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
            FROM scored
        )
        WHERE rnk <= 3
    """,
    doc="IVF search (k=10 cells from per-label centroids, nprobe=1): assign "
    "each vector to its nearest centroid via broadcast argmin, scan one cell "
    "per query. Centroids rounded to 6dp for cross-engine determinism.",
    tags=("similarity", "ann", "ivf"),
)
def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # per-label mean vector, deterministically rounded: posexplode → avg per
    # (label, dim) → re-assemble ordered by dim
    dims = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.round(F.avg("v"), 6).alias("c"))
    )
    centroids = (
        dims.groupBy(F.col("label").alias("cell"))
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]).alias("ce"))
    )
    # assign every vector to its nearest centroid (broadcast argmin — the
    # embedding column itself never shuffles)
    scored_cells = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "embedding",
        "cell",
        cosine_similarity("embedding", "ce").alias("ccos"),
    )
    wc = W.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cell"))
    assigned = (
        scored_cells.withColumn("rc", F.row_number().over(wc))
        .where(F.col("rc") == 1)
        .select("vec_id", "embedding", "cell")
    )
    q = assigned.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), F.col("cell").alias("qcell")
    )
    scored = (
        assigned.join(
            F.broadcast(q),
            (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id", cosine_similarity("qe", "embedding").alias("cos"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("qid", "vec_id", "rnk", F.round("cos", 6).alias("cos"))
    )


@register(
    "embedding_norm_stats",
    oracle="""
        SELECT label,
               count(*) AS n,
               round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm,
               round(min(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS min_norm,
               round(max(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS max_norm
        FROM embeddings
        GROUP BY label
    """,
    doc="Per-label L2-norm statistics (vector column profiling)",
    tags=("similarity", "stats"),
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg(norm), 6).alias("avg_norm"),
        F.round(F.min(norm), 6).alias("min_norm"),
        F.round(F.max(norm), 6).alias("max_norm"),
    )


@register(
    "centroid_per_label",
    oracle=f"""
        SELECT label,
               CAST(i AS BIGINT) AS dim,
               round(avg(embedding[i]::DOUBLE), 6) AS c
        FROM embeddings, range(1, {DIMS + 1}) t(i)
        WHERE label < 5
        GROUP BY label, i
    """,
    doc="Per-label centroid (the IVF training step): element-wise mean via "
    "posexplode + group on (label, dim) — narrow (label, dim, value) rows "
    "shuffle instead of whole vectors; rebuilding the dense centroid is a "
    "collect_list sorted by dim",
    tags=("similarity", "ivf", "agg"),
)
def q_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("label") < 5)
    return (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v"))
        .groupBy("label", (F.col("p") + 1).cast("bigint").alias("dim"))
        .agg(F.round(F.avg("v"), 6).alias("c"))
    )


@register(
    "vector_arithmetic",
    oracle="""
        SELECT vec_id,
               round(list_sum(list_transform(embedding::DOUBLE[], x -> x * 2.0)), 6) AS sum_scaled,
               round(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 6) AS sum_sq,
               round(list_max(embedding::DOUBLE[]), 6) AS max_c,
               round(list_min(embedding::DOUBLE[]), 6) AS min_c
        FROM embeddings
        WHERE vec_id < 100
    """,
    doc="Vector arithmetic via higher-order functions (scale / square / "
    "extrema folds), all JVM-side — the building blocks under cosine and "
    "normalization",
    tags=("similarity", "scalar", "array"),
)
def q_vector_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.round(
            F.aggregate(F.transform(v, lambda x: x * 2.0), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("sum_scaled"),
        F.round(
            F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("sum_sq"),
        F.round(F.array_max(v), 6).alias("max_c"),
        F.round(F.array_min(v), 6).alias("min_c"),
    )


@register(
    "ann_recall_eval",
    oracle=f"""
        WITH {_lsh_candidates_sql(multiprobe=False)},
        qv AS (
            SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        bf AS (
            SELECT qid, vec_id FROM (
                SELECT qv.qid, e.vec_id,
                       row_number() OVER (
                           PARTITION BY qv.qid
                           ORDER BY {_COS_SQL.format(a='qv.qe', b='e.embedding')} DESC, e.vec_id
                       ) AS rnk
                FROM qv JOIN embeddings e ON e.vec_id <> qv.qid
            ) WHERE rnk <= 3
        ),
        lsh AS (
            SELECT qid, vec_id FROM (
                SELECT c.qid, c.vec_id,
                       row_number() OVER (
                           PARTITION BY c.qid
                           ORDER BY {_COS_SQL.format(a='qv.qe', b='e.embedding')} DESC, c.vec_id
                       ) AS rnk
                FROM cand c JOIN qv USING (qid) JOIN embeddings e ON e.vec_id = c.vec_id
            ) WHERE rnk <= 3
        )
        SELECT b.qid,
               CAST(count(l.vec_id) AS BIGINT) AS hits,
               round(count(l.vec_id) / 3.0, 6) AS recall_at_3
        FROM bf b
        LEFT JOIN lsh l ON l.qid = b.qid AND l.vec_id = b.vec_id
        GROUP BY b.qid
    """,
    doc="ANN evaluation: recall@3 of the banded sign-LSH search against the "
    "brute-force ground truth, per query — the measurement loop any ANN "
    "deployment needs (run on a sampled query set at scale); the recall "
    "floor is pytest-gated (tests/test_ann_recall.py)",
    tags=("similarity", "ann", "eval"),
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    bf = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine_similarity("qe", "embedding").alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("qid", "vec_id")
    )
    lsh = (
        _lsh_topk(spark, sf_dir, multiprobe=False)
        .select(F.col("qid").alias("lqid"), F.col("vec_id").alias("lvid"))
    )
    return (
        bf.join(
            lsh, (F.col("qid") == F.col("lqid")) & (F.col("vec_id") == F.col("lvid")), "left"
        )
        .groupBy("qid")
        .agg(
            F.count("lvid").alias("hits"),
            F.round(F.count("lvid") / 3.0, 6).alias("recall_at_3"),
        )
    )


def kmeans_train(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
) -> tuple[DataFrame, list[float]]:
    """Deterministic Lloyd k-means over the embeddings (the real IVF
    training step): seeds = the k lowest vec_ids (no RNG), exactly
    ``iters`` assignment/recompute rounds, driver-coordinated like
    dedup_clusters with reliable_checkpoint lineage truncation.

    Returns (assignments DataFrame [vec_id, centroid], per-iteration
    inertia). Distances run JVM-side; centroids are collected to the
    driver each round (k × 64 doubles — tiny) and shipped back as ONE
    broadcast single-row relation holding an array of (ci, c, |c|²)
    structs — NOT k literal arrays in the plan (VERDICT r1: literal
    centroids explode plan size at realistic IVF k of 256-4096; a
    broadcast relation keeps the plan O(1) in k). Assignment is a
    per-row argmin fold over that array: zero shuffle, one scan."""

    emb = reliable_checkpoint(
        # null vectors carry no position — drop them (a None seed or
        # assignment would crash the Python-side centroid math)
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    centroids = [
        (i, r.v)
        for i, r in enumerate(emb.orderBy("vec_id").limit(k).collect())
    ]
    if not centroids:
        # zero vectors -> zero seeds: no Lloyd rounds to run; an empty
        # assignment with the output schema, not a crashed stats collect
        return emb.select("vec_id", F.lit(0).alias("centroid")).limit(0), []
    inertia_per_iter: list[float] = []
    assign = None
    for _ in range(iters):
        cents_df = spark.createDataFrame(
            pa.table({
                "ci": pa.array([ci for ci, _ in centroids], pa.int32()),
                "c": pa.array([c for _, c in centroids], pa.list_(pa.float64())),
                "cn2": pa.array(
                    [float(sum(x * x for x in c)) for _, c in centroids], pa.float64()
                ),
            }),
            "ci int, c array<double>, cn2 double",
        ).agg(F.array_sort(F.collect_list(F.struct("ci", "c", "cn2"))).alias("cents"))

        # squared distance to each centroid: |v|^2 - 2 v.c + |c|^2 (the
        # |v|^2 term is constant across centroids — dropped for the argmin,
        # added back for inertia). v.c is the same left-to-right double
        # fold as the literal version, so results are bit-identical.
        def _dist(x: F.Column) -> F.Column:
            dot = F.aggregate(
                F.zip_with(F.col("v"), x["c"], lambda a, b: a * b),
                F.lit(0.0),
                lambda s, t: s + t,
            )
            return dot * -2.0 + x["cn2"]

        best = F.array_min(
            F.transform("cents", lambda x: F.struct(_dist(x).alias("d"), x["ci"].alias("c")))
        )
        scored = emb.crossJoin(F.broadcast(cents_df)).select("vec_id", "v", best.alias("best"))
        assign = scored.select(
            "vec_id", "v", F.col("best.c").alias("centroid"), F.col("best.d").alias("partial_d")
        )
        # ONE aggregation job per round computes BOTH the per-(centroid,dim)
        # sums/counts for the new centroids AND the inertia (ridden on the
        # dim==0 rows — partial_d + |v|² is per-vector, so attach it to one
        # dim only). Two separate actions here would re-run the whole
        # assignment scan twice per iteration (measured ~2× the runtime).
        vnorm = F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)
        stat_rows = (
            assign.select(
                "centroid",
                (F.col("partial_d") + vnorm).alias("contrib"),
                F.posexplode("v").alias("dim", "val"),
            )
            .groupBy("centroid", "dim")
            .agg(
                F.sum("val").alias("s"),
                F.count("*").alias("n"),
                F.sum(F.when(F.col("dim") == 0, F.col("contrib")).otherwise(0.0)).alias("iner"),
            )
            .collect()  # k × 64 rows — tiny
        )
        inertia_per_iter.append(float(sum(r.iner for r in stat_rows if r.dim == 0)))
        n_dims = max(r.dim for r in stat_rows) + 1
        by_c: dict[int, list[float]] = {}
        for r in stat_rows:
            by_c.setdefault(r.centroid, [0.0] * n_dims)[r.dim] = r.s / r.n
        centroids = sorted(by_c.items())
    return assign.select("vec_id", "centroid"), inertia_per_iter


def kmeans_train_exact(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
) -> tuple[DataFrame, list[int]]:
    """Exact-integer Lloyd k-means: embeddings quantized to 1e-6 integer
    units (``floor(x*1e6)`` — the embedding_covariance convention), squared
    distances and centroid recomputes all in BIGINT, centroid coordinates
    floor-divided back onto the integer grid each round. Every operation is
    associative integer arithmetic, so the full 3-round trajectory —
    including every argmin — is bit-identical across engines and partition
    orders, which is what lets ``ivf_kmeans_assignments`` carry a real
    DuckDB oracle (VERDICT r3 #4) where the float path could not: a 1-ulp
    accumulation difference in a distance sum can flip an argmin.

    Same distributed shape as ``kmeans_train``: centroids travel as ONE
    broadcast single-row relation of (ci, c) structs (plan size O(1) in k),
    assignment is a per-row argmin fold — zero shuffle, one scan — and the
    recompute is one per-(centroid, dim) integer aggregation (k x 64 rows
    collected, tiny). Quantization error is bounded by the 1e-6 grid;
    production uses the float ``kmeans_train`` when cross-engine replay
    is not required. Returns (assignments, per-iteration integer inertia
    in 1e-12 squared units)."""

    emb = reliable_checkpoint(
        # null vectors dropped, as in kmeans_train
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * 1e6),
            ).alias("qv"),
        )
    )
    centroids: list[tuple[int, list[int]]] = [
        (i, [int(x) for x in r.qv])
        for i, r in enumerate(emb.orderBy("vec_id").limit(k).collect())
    ]
    if not centroids:
        # zero vectors -> zero seeds (see kmeans_train): empty assignment
        # in the output schema, no Lloyd rounds, no inertia
        return (
            emb.select(
                F.col("vec_id").cast("bigint").alias("vec_id"),
                F.lit(0).cast("bigint").alias("centroid"),
            ).limit(0),
            [],
        )
    inertia_per_iter: list[int] = []
    assign = None
    for _ in range(iters):
        cents_df = spark.createDataFrame(
            pa.table({
                "ci": pa.array([ci for ci, _ in centroids], pa.int32()),
                "c": pa.array([c for _, c in centroids], pa.list_(pa.int64())),
            }),
            "ci int, c array<bigint>",
        ).agg(F.array_sort(F.collect_list(F.struct("ci", "c"))).alias("cents"))

        def _d2(x: F.Column) -> F.Column:
            return F.aggregate(
                F.zip_with(F.col("qv"), x["c"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda s, t: s + t,
            )

        best = F.array_min(
            F.transform("cents", lambda x: F.struct(_d2(x).alias("d"), x["ci"].alias("c")))
        )
        assign = (
            emb.crossJoin(F.broadcast(cents_df))
            .select("vec_id", "qv", best.alias("best"))
            .select(
                "vec_id", "qv",
                F.col("best.c").alias("centroid"),
                F.col("best.d").alias("d2"),
            )
        )
        # one aggregation job per round: per-(centroid, dim) integer sums
        # for the recompute, with the exact inertia ridden on the dim==0
        # rows (same single-job trick as the float path)
        stat_rows = (
            assign.select("centroid", "d2", F.posexplode("qv").alias("dim", "val"))
            .groupBy("centroid", "dim")
            .agg(
                F.sum("val").cast("bigint").alias("s"),
                F.count("*").alias("n"),
                F.sum(F.when(F.col("dim") == 0, F.col("d2")).otherwise(0)).alias("iner"),
            )
            .collect()  # k x 64 rows — tiny
        )
        inertia_per_iter.append(int(sum(r.iner for r in stat_rows if r.dim == 0)))
        n_dims = max(r.dim for r in stat_rows) + 1
        by_c: dict[int, list[int]] = {}
        for r in stat_rows:
            # Python // floors; the oracle's ((s % n + n) % n) subtraction
            # reproduces exactly this floor division in SQL
            by_c.setdefault(r.centroid, [0] * n_dims)[r.dim] = r.s // r.n
        centroids = sorted(by_c.items())
    return (
        assign.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("centroid").cast("bigint").alias("centroid"),
        ),
        inertia_per_iter,
    )


def _kmeans_oracle_sql(k: int, iters: int) -> str:
    """DuckDB replay of kmeans_train_exact: chained CTEs, one
    assignment + one recompute pair per Lloyd round, all-integer."""
    dist = (
        "list_sum(list_transform(list_zip(e.qv, c.c),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )

    def assign_cte(a: str, cents: str) -> str:
        return f"""
        {a} AS (
            SELECT vec_id, qv, ci AS centroid FROM (
                SELECT e.vec_id, e.qv, c.ci,
                       row_number() OVER (
                           PARTITION BY e.vec_id ORDER BY {dist}, c.ci
                       ) AS rn
                FROM q e CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    def recompute_cte(c: str, a: str) -> str:
        # (s - ((s % n + n) % n)) // n == floor division regardless of the
        # engine's native integer-division rounding convention
        return f"""
        {c} AS (
            SELECT ci, list(cd ORDER BY d) AS c FROM (
                SELECT centroid AS ci, i AS d,
                       CAST((sum(qv[i]) - ((sum(qv[i]) % count(*) + count(*))
                             % count(*))) // count(*) AS BIGINT) AS cd
                FROM {a}, range(1, {DIMS + 1}) t(i)
                GROUP BY centroid, i
            ) GROUP BY ci
        )"""

    ctes = [
        f"""q AS (
            SELECT vec_id,
                   [floor(x * 1000000)::BIGINT
                    for x in embedding::DOUBLE[]] AS qv
            FROM embeddings
            WHERE embedding IS NOT NULL
        )""",
        f"""c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS c
            FROM q ORDER BY vec_id LIMIT {k}
        )""",
    ]
    for r in range(iters):
        ctes.append(assign_cte(f"a{r}", f"c{r}"))
        if r + 1 < iters:
            ctes.append(recompute_cte(f"c{r + 1}", f"a{r}"))
    return (
        "WITH " + ",".join(ctes) + f"""
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(centroid AS BIGINT) AS centroid
        FROM a{iters - 1}
    """
    )


@register(
    "ivf_kmeans_assignments",
    oracle=_kmeans_oracle_sql(k=8, iters=3),
    doc="Deterministic Lloyd k-means assignments (k=8, 3 iterations, "
    "lowest-vec_id seeds, no RNG) over 1e-6-quantized integer embeddings — "
    "the IVF training loop as the second iterative-algorithm showcase "
    "beside dedup_clusters. Exact BIGINT arithmetic end-to-end makes the "
    "whole iterative trajectory replayable in single-statement SQL, so "
    "this carries a real DuckDB oracle (VERDICT r3 #4) instead of the "
    "former rows-only declaration; the float production path remains "
    "kmeans_train (tests/test_kmeans.py)",
    tags=("similarity", "ivf", "iterative"),
)
def q_ivf_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign, _ = kmeans_train_exact(spark, sf_dir, k=8, iters=3)
    return assign


@register(
    "embeddings_dim_stats",
    oracle=f"""
        SELECT CAST(i AS BIGINT) AS dim,
               round(avg(embedding[i]::DOUBLE), 6) AS mean_c,
               round(stddev_samp(embedding[i]::DOUBLE), 6) AS sd_c,
               round(min(embedding[i]::DOUBLE), 6) AS min_c,
               round(max(embedding[i]::DOUBLE), 6) AS max_c
        FROM embeddings, range(1, {DIMS + 1}) t(i)
        GROUP BY i
    """,
    doc="Per-dimension corpus statistics (mean/std/extrema over all 64 "
    "dims) — the normalization/whitening preprocessing table; narrow "
    "(dim, value) rows shuffle, not whole vectors",
    tags=("similarity", "stats", "agg"),
)
def q_embeddings_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v"))
        .groupBy((F.col("p") + 1).cast("bigint").alias("dim"))
        .agg(
            F.round(F.avg("v"), 6).alias("mean_c"),
            F.round(F.stddev_samp("v"), 6).alias("sd_c"),
            F.round(F.min("v"), 6).alias("min_c"),
            F.round(F.max("v"), 6).alias("max_c"),
        )
    )


@register(
    "dedup_embedding_lsh",
    oracle=f"""
        WITH {_bands_sql()},
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                        AND b.vec_id > a.vec_id
        )
        SELECT vec_a, vec_b, round(cos, 6) AS cos FROM (
            SELECT c.vec_a, c.vec_b,
                   {_COS_SQL.format(a='ea.embedding', b='eb.embedding')} AS cos
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.vec_a
            JOIN embeddings eb ON eb.vec_id = c.vec_b
        )
        WHERE cos >= 0.4
    """,
    doc="Embedding near-dup with the sign-LSH bucket as the blocking key — "
    "the scale path dedup_embedding_cosine's docstring promises: candidate "
    "pairs come only from band-bucket collisions (narrow bigint self-join "
    "key), cosine-verified; no label/metadata needed. Honest scale "
    "contract: expected candidate fraction for unrelated pairs is "
    "bands x 2^-bits (~23% at the 4-bit testdata default, sized for recall "
    "on near-isotropic vectors); at real corpus scale raise N_PLANES so "
    "bits-per-band tracks log2 N and the fraction collapses, exactly like "
    "the search path.",
    tags=("dedup", "embedding", "lsh", "similarity"),
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_lsh_pairs(spark, sf_dir, 0.4)


def embedding_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (vec_a, vec_b) candidate pairs (a < b) from band-bucket
    collisions — the blocking stage alone, BEFORE cosine verification."""
    bands = _embedding_bands(load_table(spark, sf_dir, "embeddings"))
    # Checkpoint the narrow (vec_id, band, bucket) table (the r6
    # checkpoint-placement rule): bands feeds BOTH sides of the bucket
    # self-join, and without the lineage cut each side re-runs the
    # N_PLANES hyperplane dot products per vector (interleaved A/B at
    # sf0.1: 2.94 s -> 2.43 s median together with the _dot staging).
    bands = reliable_checkpoint(bands)
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
    )


def embedding_lsh_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """(vec_a, vec_b, cos) pairs from band-bucket collisions, cosine-verified
    at ``threshold`` — the dedup_embedding_lsh body, shared with the DBSCAN
    entry (which needs the same neighbor graph at a looser ε)."""
    from ..functions.vectors import l2_norm
    from ..operators.dedup import _hint_small

    emb = load_table(spark, sf_dir, "embeddings")
    n_vecs = table_row_count(spark, sf_dir, "embeddings")  # memoized count-star
    cand = embedding_lsh_candidates(spark, sf_dir)
    withnorm = emb.select("vec_id", "embedding", l2_norm("embedding").alias("nrm"))
    ea = withnorm.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a")
    )
    eb = withnorm.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b")
    )
    from ..functions.vectors import dot_product

    # project the dot product ONCE before filtering (the dedup_embedding_
    # cosine staging fix, which this query had missed): a cos expression
    # referenced in both where and select evaluates the 64-element dot
    # per reference
    cos = F.col("_dot") / F.nullif(F.col("nrm_a") * F.col("nrm_b"), F.lit(0.0))
    return (
        cand.join(_hint_small(ea, n_vecs), "vec_a")
        .join(_hint_small(eb, n_vecs), "vec_b")
        .select(
            "vec_a", "vec_b", "nrm_a", "nrm_b",
            dot_product("emb_a", "emb_b").alias("_dot"),
        )
        .where(cos >= F.lit(threshold))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos"))
    )


@register(
    "ivf_search_nprobe2",
    oracle=f"""
        WITH dims AS (
            SELECT label, i, round(avg(embedding[i]), 6) AS c
            FROM embeddings, generate_series(1, {DIMS}) AS g(i)
            GROUP BY label, i
        ),
        centroids AS (
            SELECT label AS cell, list(c ORDER BY i) AS ce FROM dims GROUP BY label
        ),
        assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.ce')} DESC, c.cell
                       ) AS rc
                FROM embeddings e CROSS JOIN centroids c
            ) WHERE rc = 1
        ),
        q AS (
            SELECT vec_id AS qid, embedding AS qe, cell FROM (
                SELECT e.vec_id, e.embedding, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.ce')} DESC, c.cell
                       ) AS rc
                FROM embeddings e CROSS JOIN centroids c
                WHERE e.vec_id < {N_QUERIES}
            ) WHERE rc <= 2
        ),
        scored AS (
            SELECT q.qid, e.vec_id,
                   {_COS_SQL.format(a='q.qe', b='e.embedding')} AS cos
            FROM q JOIN assigned e ON e.cell = q.cell AND e.vec_id <> q.qid
        )
        SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 6) AS cos
        FROM (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
            FROM scored
        )
        WHERE rnk <= 3
    """,
    doc="IVF search with nprobe=2: each query probes its TWO nearest cells "
    "(corpus vectors stay in one cell) — the standard recall lever when the "
    "true neighbor falls just across a cell boundary; costs one extra cell "
    "scan per query, still never O(n·q)",
    tags=("similarity", "ann", "ivf"),
)
def q_ivf_search_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.round(F.avg("v"), 6).alias("c"))
    )
    centroids = (
        dims.groupBy(F.col("label").alias("cell"))
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]).alias("ce"))
    )
    scored_cells = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "embedding", "cell", cosine_similarity("embedding", "ce").alias("ccos")
    )
    wc = W.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cell"))
    ranked = scored_cells.withColumn("rc", F.row_number().over(wc))
    assigned = ranked.where(F.col("rc") == 1).select("vec_id", "embedding", "cell")
    q = (
        ranked.where((F.col("vec_id") < N_QUERIES) & (F.col("rc") <= 2))
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), F.col("cell").alias("qcell"))
    )
    scored = (
        assigned.join(
            F.broadcast(q),
            (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id", cosine_similarity("qe", "embedding").alias("cos"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("qid", "vec_id", "rnk", F.round("cos", 6).alias("cos"))
    )


@register(
    "embedding_quantize_stats",
    oracle="""
        SELECT vec_id,
               round(scale_raw, 6) AS scale,
               CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT) AS max_q,
               -- per-element error doubles are bit-identical across engines
               -- (same IEEE op sequence); the SUM is not (different
               -- accumulation algorithms), so sum exactly in integer
               -- atto-units: floor(e*1e18) is identical per element, and
               -- the ::BIGINT cast makes list_sum run in integer arithmetic
               -- (DuckDB floor() returns DOUBLE; summing doubles would lose
               -- exactness past 2^53, weakening the bit-exactness claim)
               -- matching Spark's long accumulation
               round(sqrt(list_sum(list_transform(
                   list_zip(v, list_transform(q, x -> x * scale_raw)),
                   p -> floor((p[1] - p[2]) * (p[1] - p[2]) * 1e18)::BIGINT
               ))::DOUBLE / 1e18 / len(v)), 6) AS rmse
        FROM (
            SELECT vec_id, v, scale_raw,
                   list_transform(v, x -> floor(x * 127.0 / ma)) AS q
            FROM (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS ma,
                       list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale_raw
                FROM embeddings
            )
            WHERE ma > 0
        )
    """,
    doc="Int8 scalar quantization of the embedding column with per-vector "
    "reconstruction RMSE — the vector-compression step of an ANN index "
    "build (4x smaller than float32, the standard serving trade). "
    "Floor-based quantization keeps both engines bit-deterministic; all "
    "math is per-row higher-order functions, no shuffle.",
    tags=("similarity", "scalar", "array"),
)
def q_embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    ma = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # NB: the raw scale is named scale_raw — if the final projection aliases
    # round(scale) AS scale, Spark's LATERAL column alias resolution makes
    # any same-projection reference pick the ROUNDED alias (DuckDB picks the
    # input column), silently skewing the error math between engines.
    base = emb.select(
        "vec_id", v.alias("v"), ma.alias("ma"), (ma / 127.0).alias("scale_raw")
    ).where(F.col("ma") > 0)
    q = F.transform("v", lambda x: F.floor(x * 127.0 / F.col("ma")))
    # exact integer-atto-unit error sum — see the oracle comment
    err_atto = F.zip_with(
        "v",
        q,
        lambda x, qi: F.floor(
            (x - qi * F.col("scale_raw")) * (x - qi * F.col("scale_raw")) * 1e18
        ).cast("long"),
    )
    total = F.aggregate(err_atto, F.lit(0).cast("long"), lambda a, x: a + x)
    return base.select(
        "vec_id",
        F.round("scale_raw", 6).alias("scale"),
        F.array_max(F.transform(q, lambda x: F.abs(x))).cast("bigint").alias("max_q"),
        F.round(F.sqrt(total.cast("double") / 1e18 / F.size("v")), 6).alias("rmse"),
    )


def covariance_df(emb: DataFrame) -> DataFrame:
    """Upper-triangle exact-integer covariance (i, j, cov) of an
    embedding frame — the shared core of embedding_covariance and
    pca_power_iteration (one definition; the ADVICE-r3 duplication
    lesson)."""
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 1e6),
    )
    # Checkpoint the compact per-row quantized form (the r6
    # checkpoint-placement rule): base feeds BOTH the per-dim sums and the
    # triangle-product explode, and without the lineage cut each consumer
    # re-runs the scan+transform — worse, InferFiltersFromGenerate guards
    # the two explodes with `isnotnull(qv) AND size(qv) > 0`, and predicate
    # pushdown substitutes the full transform INTO that filter, evaluating
    # the 64-element quantization twice more per row. With qv a
    # materialized attribute the inferred guard is a cheap column test.
    base = reliable_checkpoint(emb.select(qv.alias("qv")))
    # per-dim integer sums (64 rows) — broadcast back onto the pair sums
    dims = (
        base.select(F.posexplode("qv").alias("p", "qx"))
        .groupBy((F.col("p") + 1).cast("bigint").alias("i"))
        .agg(
            F.sum("qx").cast("bigint").alias("si"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    # row-local upper-triangle products, exploded into the partial-combine
    # aggregate; nested HOF lambdas capture the outer index
    idx = F.sequence(F.lit(1), F.size("qv"))
    tri = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i, F.size("qv")),
                lambda j: F.struct(
                    i.cast("bigint").alias("i"),
                    j.cast("bigint").alias("j"),
                    (F.element_at("qv", i) * F.element_at("qv", j)).alias("p"),
                ),
            ),
        )
    )
    pairs = (
        base.select(F.explode(tri).alias("t"))
        .groupBy(F.col("t.i").alias("i"), F.col("t.j").alias("j"))
        .agg(F.sum("t.p").cast("bigint").alias("sp"))
    )
    a = F.broadcast(dims)
    b = F.broadcast(
        dims.select(F.col("i").alias("j"), F.col("si").alias("sj"))
    )
    n = F.col("n").cast("double")
    return (
        pairs.join(a, "i")
        .join(b, "j")
        .select(
            "i",
            "j",
            # + 0.0 collapses IEEE negative zero (see oracle comment)
            (
                F.round(
                    (
                        F.col("sp") / n
                        - (F.col("si") / n) * (F.col("sj") / n)
                    )
                    / 1e12,
                    6,
                )
                + 0.0
            ).alias("cov"),
        )
    )


# Shared upper-triangle exact-integer covariance CTE chain (ends in a
# relation `covut(i, j, cov)`): ONE definition for the covariance query
# and the PCA power iteration built on top of it.
_COV_SQL = f"""
        q AS (
            SELECT vec_id,
                   [floor(x * 1000000)::BIGINT
                    for x in embedding::DOUBLE[]] AS qv
            FROM embeddings
        ),
        dims AS (
            SELECT i, CAST(sum(qv[i]) AS BIGINT) AS si,
                   CAST(count(*) AS BIGINT) AS n
            FROM q, range(1, {DIMS + 1}) t(i)
            GROUP BY i
        ),
        pairs AS (
            SELECT i, j, CAST(sum(qv[i] * qv[j]) AS BIGINT) AS sp
            FROM q, range(1, {DIMS + 1}) t(i), range(1, {DIMS + 1}) u(j)
            WHERE j >= i
            GROUP BY i, j
        ),
        covut AS (
            SELECT CAST(p.i AS BIGINT) AS i,
                   CAST(p.j AS BIGINT) AS j,
                   -- + 0.0 collapses IEEE negative zero (round() can yield
                   -- -0.0 here and 0.0 in Spark, which value-hash differently)
                   round((p.sp / a.n::DOUBLE
                          - (a.si / a.n::DOUBLE) * (b.si / b.n::DOUBLE))
                         / 1e12, 6) + 0.0 AS cov
            FROM pairs p JOIN dims a ON p.i = a.i JOIN dims b ON p.j = b.i
        )
"""


@register(
    "embedding_covariance",
    oracle=f"""
        WITH {_COV_SQL}
        SELECT i, j, cov FROM covut
    """,
    doc=f"Upper-triangle covariance matrix of the embedding corpus ({DIMS}x"
    f"{DIMS}) — the PCA/whitening preparation step of an ANN index or "
    "feature pipeline. Inputs are quantized to exact 1e-6 integers, so "
    "every sum is associative BIGINT arithmetic — bit-identical across "
    "engines and partition orders with zero float-accumulation drift (the "
    "same exact-integer convention as embedding_quantize_stats; overflow "
    "headroom: |q|<=6e5, so pair sums stay under 2^63 up to ~2.5e7 "
    "vectors — beyond that, production switches the accumulator to "
    "DECIMAL(38,0), same shape). One explode of D(D+1)/2 products per row "
    "feeds a hash aggregate with map-side partial combine: the shuffle "
    "carries at most 2080 rows per map partition regardless of corpus "
    "size, and the tiny per-dim means broadcast back onto the pair sums",
    tags=("similarity", "stats", "array"),
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return covariance_df(load_table(spark, sf_dir, "embeddings"))


# Product quantization (round 4): 8 subspaces x 8 dims, 16 codes per
# subspace. Codebook init is deterministic — the subvectors of the 16
# lowest vec_ids — the same replayable-init convention as the k-means
# oracle (similarity.py q_kmeans_train). Distances are EXACT squared
# micro-unit L2 (floor(v*1e6) per element, bigint math): |diff| <= ~2e6,
# squared <= 4e12, x8 dims <= 3.2e13, x16 tiebreak-packing <= 5.2e14 —
# five orders of magnitude of bigint headroom.
PQ_SUBSPACES = 8
PQ_SUBDIM = DIMS // PQ_SUBSPACES
PQ_CODES = 16

# Shared oracle CTEs (one definition — pq_codebook_stats and pq_adc_topk
# must agree on the encode, the ADVICE-r3 shared-SQL convention): exact
# micro-unit subvectors, the 16-lowest-vec_id codebook, and the argmin
# assignment with the dist*16+code packed tiebreak.
_PQ_BASE_SQL = f"""
        subs AS (
            SELECT vec_id, s,
                   list_transform(embedding[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}],
                                  x -> floor(x * 1e6)::BIGINT) AS iv
            FROM embeddings, (SELECT unnest(range(0, {PQ_SUBSPACES})) AS s)
        ),
        codes AS (
            SELECT vec_id AS code, s, iv AS civ FROM subs WHERE vec_id < {PQ_CODES}
        ),
        assigned AS (
            SELECT u.vec_id, u.s,
                   -- dist*16+code packs the deterministic tiebreak into the
                   -- min() itself: primary order distance, then code id
                   min(list_sum(list_transform(list_zip(u.iv, c.civ),
                           p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT
                       * {PQ_CODES} + c.code) AS key
            FROM subs u JOIN codes c USING (s)
            GROUP BY u.vec_id, u.s
        )
"""


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, s, iv): one row per vector per subspace, the subvector in
    exact micro-units. Element-wise floor keeps everything bigint."""
    return emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("bigint").alias("s"),
                        F.transform(
                            F.slice("embedding", s * PQ_SUBDIM + 1, PQ_SUBDIM),
                            lambda x: F.floor(x * 1e6).cast("bigint"),
                        ).alias("iv"),
                    )
                    for s in range(PQ_SUBSPACES)
                ]
            )
        ).alias("sub"),
    ).select("vec_id", F.col("sub.s").alias("s"), F.col("sub.iv").alias("iv"))


def _pq_sqdist(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _pq_assigned(subs: DataFrame) -> DataFrame:
    """(vec_id, s, key): nearest-code assignment per subspace; key packs
    (squared micro-unit distance, code) so min() is the argmin with a
    deterministic code tiebreak. The 128-row codebook is broadcast; the
    corpus side never shuffles its embedding payload."""
    codes = subs.where(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("code"), F.col("s").alias("cs"), F.col("iv").alias("civ")
    )
    return (
        subs.join(F.broadcast(codes), F.col("s") == F.col("cs"))
        .select(
            "vec_id",
            "s",
            (_pq_sqdist("iv", "civ") * PQ_CODES + F.col("code")).alias("k"),
        )
        .groupBy("vec_id", "s")
        .agg(F.min("k").alias("key"))
    )


@register(
    "pq_codebook_stats",
    oracle=f"""
        WITH {_PQ_BASE_SQL}
        SELECT CAST(s AS BIGINT) AS subspace,
               key % {PQ_CODES} AS code,
               CAST(count(*) AS BIGINT) AS n_assigned,
               CAST(sum(key // {PQ_CODES}) AS BIGINT) AS sse_units,
               round(sqrt(((sum(key // {PQ_CODES})::DOUBLE / count(*)) / {PQ_SUBDIM}) / 1e12), 6) AS rms_err
        FROM assigned
        GROUP BY s, key % {PQ_CODES}
    """,
    doc="Product-quantization codebook assignment (IVF-PQ's second stage): "
    "every vector's 8 subvectors snap to the nearest of 16 deterministic "
    "codes per subspace; output is the (subspace, code) occupancy histogram "
    "plus exact integer-unit SSE and per-dim RMS reconstruction error. The "
    "codebook (128 subvectors) is broadcast; assignment is a per-row argmin "
    "folded into min(dist*16+code) — no shuffle of the embedding column, "
    "one narrow aggregation, which is exactly the PQ encode shape a "
    "100 TB vector corpus needs",
    tags=("similarity", "ann", "quantization"),
)
def q_pq_codebook_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _pq_assigned(_pq_subvectors(emb))
    return (
        assigned.groupBy(
            F.col("s").alias("subspace"), (F.col("key") % PQ_CODES).alias("code")
        )
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum(F.floor(F.col("key") / PQ_CODES)).cast("bigint").alias("sse_units"),
        )
        .select(
            "subspace",
            "code",
            "n_assigned",
            "sse_units",
            F.round(
                F.sqrt(
                    (F.col("sse_units").cast("double") / F.col("n_assigned"))
                    / PQ_SUBDIM
                    / 1e12
                ),
                6,
            ).alias("rms_err"),
        )
    )


# ADC scoring CTEs layered on _PQ_BASE_SQL: per-query code lookup tables
# and the compressed-domain candidate scores (shared by pq_adc_topk and
# pq_adc_rerank_topk — one definition of "the ADC scan").
_PQ_ADC_SQL = f"""
        acode AS (
            SELECT vec_id, s, key % {PQ_CODES} AS code FROM assigned
        ),
        luts AS (
            -- per-query lookup table: exact squared micro-unit distance
            -- from the query subvector to EVERY codeword (10 x 8 x 16 rows)
            SELECT q.vec_id AS qid, c.s, c.code,
                   list_sum(list_transform(list_zip(q.iv, c.civ),
                       p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS du
            FROM subs q JOIN codes c USING (s)
            WHERE q.vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT l.qid, a.vec_id,
                   CAST(sum(l.du) AS BIGINT) AS adc_units
            FROM acode a JOIN luts l ON l.s = a.s AND l.code = a.code
            WHERE a.vec_id <> l.qid
            GROUP BY l.qid, a.vec_id
        )
"""


def _pq_adc_scored(subs: DataFrame) -> DataFrame:
    """(qid, vec_id, adc_units): the compressed-domain scan — corpus side
    carries only its 8 code ids; per-query LUTs (10 x 8 x 16 exact integer
    entries) are broadcast."""
    acode = _pq_assigned(subs).select(
        "vec_id", "s", (F.col("key") % PQ_CODES).alias("code")
    )
    codes = subs.where(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("code"), F.col("s").alias("cs"), F.col("iv").alias("civ")
    )
    luts = (
        subs.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(codes), F.col("s") == F.col("cs"))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("s").alias("ls"),
            F.col("code").alias("lcode"),
            _pq_sqdist("iv", "civ").alias("du"),
        )
    )
    return (
        acode.join(
            F.broadcast(luts),
            (F.col("s") == F.col("ls"))
            & (F.col("code") == F.col("lcode"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .groupBy("qid", "vec_id")
        .agg(F.sum("du").cast("bigint").alias("adc_units"))
    )


@register(
    "pq_adc_topk",
    oracle=f"""
        WITH {_PQ_BASE_SQL},
        {_PQ_ADC_SQL}
        SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, adc_units
        FROM (
            SELECT qid, vec_id, adc_units,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY adc_units, vec_id
                   ) AS rnk
            FROM scored
        )
        WHERE rnk <= 3
    """,
    doc="PQ asymmetric-distance (ADC) top-3 search: corpus vectors are "
    "represented ONLY by their 8 code bytes; each query precomputes a "
    "128-entry exact integer lookup table (query subvector -> every "
    "codeword), and candidate distance is 8 table lookups + adds — the "
    "compressed-domain scan that makes billion-vector search affordable "
    "(Jegou et al., TPAMI'11 'Product Quantization for Nearest Neighbor "
    "Search'). The LUTs are broadcast; the corpus side moves 8 small ints "
    "per vector, never the embedding column — at 100 TB of vectors the "
    "scan reads ~1% of the raw bytes",
    tags=("similarity", "ann", "quantization"),
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = _pq_adc_scored(_pq_subvectors(emb))
    w = W.partitionBy("qid").orderBy("adc_units", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("qid", "vec_id", "rnk", "adc_units")
    )


# Shortlist size of the rerank stage: ADC keeps the 10 best compressed-
# domain candidates per query; the exact stage re-scores only those.
PQ_RERANK_SHORTLIST = 10


@register(
    "pq_adc_rerank_topk",
    oracle=f"""
        WITH {_PQ_BASE_SQL},
        {_PQ_ADC_SQL},
        shortlist AS (
            SELECT qid, vec_id, adc_units
            FROM (
                SELECT qid, vec_id, adc_units,
                       row_number() OVER (
                           PARTITION BY qid ORDER BY adc_units, vec_id
                       ) AS ar
                FROM scored
            )
            WHERE ar <= {PQ_RERANK_SHORTLIST}
        ),
        units AS (
            SELECT vec_id,
                   list_transform(embedding, x -> floor(x * 1e6)::BIGINT) AS ue
            FROM embeddings
        ),
        reranked AS (
            SELECT sl.qid, sl.vec_id, sl.adc_units,
                   list_sum(list_transform(list_zip(qe.ue, ce.ue),
                       p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS exact_units
            FROM shortlist sl
            JOIN units qe ON qe.vec_id = sl.qid
            JOIN units ce ON ce.vec_id = sl.vec_id
        )
        SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, exact_units, adc_units
        FROM (
            SELECT qid, vec_id, adc_units, exact_units,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY exact_units, vec_id
                   ) AS rnk
            FROM reranked
        )
        WHERE rnk <= 3
    """,
    doc="The full production IVF-PQ serving path: compressed-domain ADC "
    "scan keeps a 10-candidate shortlist per query, then ONLY those "
    "candidates are re-scored with exact (integer micro-unit) L2 against "
    "the raw embeddings and re-ranked to top-3 — the rerank stage touches "
    "queries x 10 vectors however big the corpus is, recovering most of "
    "the recall the 8-byte codes lose (measured 0.20 -> 0.37 on this "
    "near-equidistant iid-random testdata; CI gates the floor in "
    "tests/test_analytics.py). Raw-embedding access is a tiny batched "
    "equi-join on vec_id — the 'fetch from object store' step at scale",
    tags=("similarity", "ann", "quantization"),
)
def q_pq_adc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = _pq_adc_scored(_pq_subvectors(emb))
    w_adc = W.partitionBy("qid").orderBy("adc_units", "vec_id")
    shortlist = (
        scored.withColumn("ar", F.row_number().over(w_adc))
        .where(F.col("ar") <= PQ_RERANK_SHORTLIST)
        .select("qid", "vec_id", "adc_units")
    )
    units = emb.select(
        F.col("vec_id").alias("u_id"),
        F.transform("embedding", lambda x: F.floor(x * 1e6).cast("bigint")).alias("ue"),
    )
    qunits = units.where(F.col("u_id") < N_QUERIES).select(
        F.col("u_id").alias("q_id"), F.col("ue").alias("qe")
    )
    reranked = (
        shortlist.join(F.broadcast(qunits), F.col("qid") == F.col("q_id"))
        .join(units, F.col("vec_id") == F.col("u_id"))
        .select("qid", "vec_id", "adc_units", _pq_sqdist("qe", "ue").alias("exact_units"))
    )
    w_ex = W.partitionBy("qid").orderBy("exact_units", "vec_id")
    return (
        reranked.withColumn("rnk", F.row_number().over(w_ex).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("qid", "vec_id", "rnk", "exact_units", "adc_units")
    )


_RECALL_TRUTH_SIZE = N_QUERIES * 3


@register(
    "ann_method_recall_eval",
    oracle=f"""
        WITH {_lsh_candidates_sql(multiprobe=False)},
        qv AS (
            SELECT vec_id AS qid, embedding AS qe FROM embeddings
            WHERE vec_id < {N_QUERIES}
        ),
        bf AS (
            SELECT qid, vec_id FROM (
                SELECT qv.qid, e.vec_id,
                       row_number() OVER (
                           PARTITION BY qv.qid
                           ORDER BY {_COS_SQL.format(a='qv.qe', b='e.embedding')} DESC, e.vec_id
                       ) AS rnk
                FROM qv JOIN embeddings e ON e.vec_id <> qv.qid
            ) WHERE rnk <= 3
        ),
        lsh_top AS (
            SELECT qid, vec_id FROM (
                SELECT c.qid, c.vec_id,
                       row_number() OVER (
                           PARTITION BY c.qid
                           ORDER BY {_COS_SQL.format(a='qv.qe', b='e.embedding')} DESC, c.vec_id
                       ) AS rnk
                FROM cand c JOIN qv USING (qid)
                JOIN embeddings e ON e.vec_id = c.vec_id
            ) WHERE rnk <= 3
        ),
        ivf_dims AS (
            SELECT label, i, round(avg(embedding[i]), 6) AS c
            FROM embeddings, generate_series(1, {DIMS}) AS g(i)
            GROUP BY label, i
        ),
        ivf_centroids AS (
            SELECT label AS cell, list(c ORDER BY i) AS ce
            FROM ivf_dims GROUP BY label
        ),
        ivf_assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.ce')} DESC, c.cell
                       ) AS rc
                FROM embeddings e CROSS JOIN ivf_centroids c
            ) WHERE rc = 1
        ),
        ivf_q AS (
            SELECT vec_id AS qid, embedding AS qe, cell
            FROM ivf_assigned WHERE vec_id < {N_QUERIES}
        ),
        ivf_top AS (
            SELECT qid, vec_id FROM (
                SELECT iq.qid, e.vec_id,
                       row_number() OVER (
                           PARTITION BY iq.qid
                           ORDER BY {_COS_SQL.format(a='iq.qe', b='e.embedding')} DESC, e.vec_id
                       ) AS rnk
                FROM ivf_q iq
                JOIN ivf_assigned e ON e.cell = iq.cell AND e.vec_id <> iq.qid
            ) WHERE rnk <= 3
        ),
        {_PQ_BASE_SQL},
        {_PQ_ADC_SQL},
        pq_short AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (
                           PARTITION BY qid ORDER BY adc_units, vec_id
                       ) AS ar
                FROM scored
            ) WHERE ar <= {PQ_RERANK_SHORTLIST}
        ),
        pq_units AS (
            SELECT vec_id,
                   list_transform(embedding, x -> floor(x * 1e6)::BIGINT) AS ue
            FROM embeddings
        ),
        pq_top AS (
            SELECT qid, vec_id FROM (
                SELECT sl.qid, sl.vec_id,
                       row_number() OVER (
                           PARTITION BY sl.qid
                           ORDER BY list_sum(list_transform(list_zip(que.ue, ce.ue),
                               p -> (p[1] - p[2]) * (p[1] - p[2]))), sl.vec_id
                       ) AS rnk
                FROM pq_short sl
                JOIN pq_units que ON que.vec_id = sl.qid
                JOIN pq_units ce ON ce.vec_id = sl.vec_id
            ) WHERE rnk <= 3
        ),
        methods AS (
            SELECT 'lsh_bucketed' AS method, qid, vec_id FROM lsh_top
            UNION ALL SELECT 'ivf_nprobe1', qid, vec_id FROM ivf_top
            UNION ALL SELECT 'pq_adc_rerank', qid, vec_id FROM pq_top
        )
        SELECT m.method,
               CAST(count(b.vec_id) AS BIGINT) AS hits,
               CAST({_RECALL_TRUTH_SIZE} AS BIGINT) AS truth_size,
               round(count(b.vec_id) / {_RECALL_TRUTH_SIZE}.0, 6) AS recall_at_3
        FROM methods m
        LEFT JOIN bf b ON b.qid = m.qid AND b.vec_id = m.vec_id
        GROUP BY m.method
    """,
    doc="THE ANN tuning surface (VERDICT r7 #3): recall@3 of every serving "
    "path — sign-LSH bucketed search, IVF nprobe=1, and the PQ "
    "ADC+rerank pipeline — against the exact brute-force top-3 ground "
    "truth, one row per method. This is the number a 100 TB deployment "
    "retunes buckets/probes/shortlists by, and the gate any bits-per-band "
    "retune is checked against: run it (sampled query set) after any "
    "corpus growth or sizing change, compare methods at equal candidate "
    "budgets. Each "
    "method reuses its catalog twin's exact construction, so the measured "
    "recall IS the production path's recall, not a simplified replica's; "
    "the scale points live in BASELINE.md (ANN recall/latency row, "
    "measured on the 10× Heaps fixture).",
    tags=("similarity", "ann", "eval", "lsh", "ivf", "quantization"),
)
def q_ann_method_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine_similarity("qe", "embedding").alias("cos"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    truth = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(F.col("qid").alias("t_qid"), F.col("vec_id").alias("t_vid"))
    )
    methods = (
        _lsh_topk(spark, sf_dir, multiprobe=False)
        .select(F.lit("lsh_bucketed").alias("method"), "qid", "vec_id")
        .unionByName(
            q_ivf_search(spark, sf_dir).select(
                F.lit("ivf_nprobe1").alias("method"), "qid", "vec_id"
            )
        )
        .unionByName(
            q_pq_adc_rerank_topk(spark, sf_dir).select(
                F.lit("pq_adc_rerank").alias("method"), "qid", "vec_id"
            )
        )
    )
    return (
        methods.join(
            F.broadcast(truth),
            (F.col("qid") == F.col("t_qid")) & (F.col("vec_id") == F.col("t_vid")),
            "left",
        )
        .groupBy("method")
        .agg(F.count("t_vid").cast("bigint").alias("hits"))
        .select(
            "method",
            "hits",
            F.lit(_RECALL_TRUTH_SIZE).cast("bigint").alias("truth_size"),
            F.round(
                F.col("hits") / F.lit(float(_RECALL_TRUTH_SIZE)), 6
            ).alias("recall_at_3"),
        )
    )


@register(
    "text_embedding_alignment",
    oracle="""
        WITH joined AS (
            SELECT d.doc_id,
                   d.n_chars AS x,
                   list_sum(list_transform(e.embedding,
                       v -> floor(v * 1e3)::BIGINT * floor(v * 1e3)::BIGINT)
                   )::BIGINT AS y
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        ),
        sums AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM joined
        )
        SELECT n,
               round(sx::DOUBLE / n, 6) AS avg_chars,
               round(sy::DOUBLE / n / 1e6, 6) AS avg_sq_norm,
               -- moments are EXACT bigints; the combining arithmetic runs
               -- in double (n*syy would overflow bigint past ~sf1) — the
               -- int->double conversions and every subsequent IEEE op are
               -- identical in both engines, so parity holds at any scale
               -- nullif: a zero-variance side (all-equal lengths or norms)
               -- yields NULL corr instead of a div-by-zero NaN
               round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                     / nullif(sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE), 0),
                     6) AS corr
        FROM sums
    """,
    doc="Cross-modal alignment check: documents equi-joined to their "
    "embedding rows (doc_id = vec_id), then the Pearson correlation of "
    "document length vs squared embedding norm computed from five exact "
    "BIGINT power sums (milli-unit quantized norms keep sum(y*y) inside "
    "bigint range) with ONE float expression at the end — the drift "
    "detector a text+vector pipeline runs to catch embedding/text "
    "misalignment after a backfill. Equi-join on the id key, scalar "
    "output: a metadata-cost audit at any corpus size",
    tags=("similarity", "text", "diagnostics"),
)
def q_text_embedding_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    emb = load_table(spark, sf_dir, "embeddings")
    y = F.aggregate(
        F.transform(
            "embedding",
            lambda v: F.floor(v * 1e3).cast("bigint") * F.floor(v * 1e3).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )
    joined = docs.join(
        emb.select(F.col("vec_id"), y.alias("y")),
        F.col("doc_id") == F.col("vec_id"),
    ).select(F.col("n_chars").alias("x"), "y")
    sums = joined.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n = F.col("n")
    dn, dsx, dsy, dsxy, dsxx, dsyy = [
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    ]
    # moments are exact bigints; combine in double (n*syy would overflow
    # bigint past ~sf1) — identical IEEE ops in both engines preserve the
    # hash parity at any scale
    return sums.select(
        n,
        F.round(dsx / n, 6).alias("avg_chars"),
        F.round(dsy / n / 1e6, 6).alias("avg_sq_norm"),
        # nullif: zero-variance side -> NULL corr, not NaN
        F.round(
            (dn * dsxy - dsx * dsy)
            / F.nullif(
                F.sqrt(dn * dsxx - dsx * dsx) * F.sqrt(dn * dsyy - dsy * dsy),
                F.lit(0.0),
            ),
            6,
        ).alias("corr"),
    )


@register(
    "pq_recall_eval",
    oracle=f"""
        WITH {_PQ_BASE_SQL},
        {_PQ_ADC_SQL},
        units AS (
            SELECT vec_id,
                   list_transform(embedding, x -> floor(x * 1e6)::BIGINT) AS ue
            FROM embeddings
        ),
        gt AS (
            -- ground truth: exact integer-L2 top-3 per query
            SELECT qid, vec_id FROM (
                SELECT q.vec_id AS qid, e.vec_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_sum(list_transform(list_zip(q.ue, e.ue),
                                     p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT,
                                    e.vec_id
                       ) AS rnk
                FROM units q JOIN units e ON e.vec_id <> q.vec_id
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE rnk <= 3
        ),
        adc3 AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (
                           PARTITION BY qid ORDER BY adc_units, vec_id
                       ) AS rnk
                FROM scored
            ) WHERE rnk <= 3
        ),
        short AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (
                           PARTITION BY qid ORDER BY adc_units, vec_id
                       ) AS ar
                FROM scored
            ) WHERE ar <= {PQ_RERANK_SHORTLIST}
        ),
        rer3 AS (
            SELECT qid, vec_id FROM (
                SELECT s.qid, s.vec_id,
                       row_number() OVER (
                           PARTITION BY s.qid
                           ORDER BY list_sum(list_transform(list_zip(qe.ue, ce.ue),
                                     p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT,
                                    s.vec_id
                       ) AS rnk
                FROM short s
                JOIN units qe ON qe.vec_id = s.qid
                JOIN units ce ON ce.vec_id = s.vec_id
            ) WHERE rnk <= 3
        )
        SELECT g.qid,
               CAST(count(a.vec_id) AS BIGINT) AS adc_hits,
               CAST(count(r.vec_id) AS BIGINT) AS rerank_hits,
               round(count(a.vec_id) / 3.0, 6) AS recall_adc,
               round(count(r.vec_id) / 3.0, 6) AS recall_rerank
        FROM gt g
        LEFT JOIN adc3 a ON a.qid = g.qid AND a.vec_id = g.vec_id
        LEFT JOIN rer3 r ON r.qid = g.qid AND r.vec_id = g.vec_id
        GROUP BY g.qid
    """,
    doc="PQ evaluation: recall@3 of the raw ADC scan AND the shortlist-"
    "rerank path against the exact integer-L2 ground truth, per query — "
    "the compression-quality measurement an IVF-PQ deployment re-runs "
    "whenever the codebook or corpus shifts (on a sampled query set at "
    "scale, like ann_recall_eval). Every stage is exact bigint math, so "
    "the recall numbers themselves are oracle-checkable",
    tags=("similarity", "ann", "quantization", "eval"),
)
def q_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    units = emb.select(
        F.col("vec_id").alias("u_id"),
        F.transform("embedding", lambda x: F.floor(x * 1e6).cast("bigint")).alias("ue"),
    )
    qunits = units.where(F.col("u_id") < N_QUERIES).select(
        F.col("u_id").alias("qid"), F.col("ue").alias("qe")
    )
    w_gt = W.partitionBy("qid").orderBy("exact_units", "u_id")
    gt = (
        units.crossJoin(F.broadcast(qunits))
        .where(F.col("u_id") != F.col("qid"))
        .select("qid", "u_id", _pq_sqdist("qe", "ue").alias("exact_units"))
        .withColumn("rnk", F.row_number().over(w_gt))
        .where(F.col("rnk") <= 3)
        .select("qid", F.col("u_id").alias("vec_id"))
    )
    scored = _pq_adc_scored(_pq_subvectors(emb))
    w_adc = W.partitionBy("qid").orderBy("adc_units", "vec_id")
    ranked = scored.withColumn("ar", F.row_number().over(w_adc))
    adc3 = ranked.where(F.col("ar") <= 3).select(
        F.col("qid").alias("a_qid"), F.col("vec_id").alias("a_vid")
    )
    short = ranked.where(F.col("ar") <= PQ_RERANK_SHORTLIST).select(
        "qid", "vec_id"
    )
    w_rer = W.partitionBy("qid").orderBy("exact_units", "vec_id")
    rer3 = (
        short.join(
            F.broadcast(qunits.select(F.col("qid").alias("sq"), "qe")),
            F.col("qid") == F.col("sq"),
        )
        .join(units, F.col("vec_id") == F.col("u_id"))
        .select("qid", "vec_id", _pq_sqdist("qe", "ue").alias("exact_units"))
        .withColumn("rnk", F.row_number().over(w_rer))
        .where(F.col("rnk") <= 3)
        .select(F.col("qid").alias("r_qid"), F.col("vec_id").alias("r_vid"))
    )
    return (
        gt.join(
            adc3,
            (F.col("qid") == F.col("a_qid")) & (F.col("vec_id") == F.col("a_vid")),
            "left",
        )
        .join(
            rer3,
            (F.col("qid") == F.col("r_qid")) & (F.col("vec_id") == F.col("r_vid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("a_vid").alias("adc_hits"),
            F.count("r_vid").alias("rerank_hits"),
            F.round(F.count("a_vid") / 3.0, 6).alias("recall_adc"),
            F.round(F.count("r_vid") / 3.0, 6).alias("recall_rerank"),
        )
    )


@register(
    "pq_train_stats",
    oracle=f"""
        WITH {_PQ_BASE_SQL},
        a1 AS (
            SELECT vec_id, s, key % {PQ_CODES} AS code,
                   key // {PQ_CODES} AS d FROM assigned
        ),
        sse0 AS (
            SELECT s, CAST(sum(d) AS BIGINT) AS sse_init FROM a1 GROUP BY s
        ),
        members AS (
            SELECT a.s, a.code, p.i AS j, p.t AS v
            FROM a1 a
            JOIN subs u ON u.vec_id = a.vec_id AND u.s = a.s,
            LATERAL (
                SELECT unnest([{{'i': i, 't': u.iv[i]}}
                               for i in range(1, len(u.iv) + 1)]) AS p
            )
        ),
        c1 AS (
            -- one Lloyd update: element-wise floored mean of each cluster.
            -- floor(sum/count) in DOUBLE (sums are ~5e8, far inside the
            -- 2^53 exact-integer range) gives identical results in both
            -- engines regardless of their integer-division conventions
            SELECT s, code, list(cv ORDER BY j) AS civ
            FROM (
                SELECT s, code, j,
                       floor(sum(v)::DOUBLE / count(*))::BIGINT AS cv
                FROM members GROUP BY s, code, j
            )
            GROUP BY s, code
        ),
        a2 AS (
            SELECT u.vec_id, u.s,
                   min(list_sum(list_transform(list_zip(u.iv, c.civ),
                       p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT) AS d2
            FROM subs u JOIN c1 c ON c.s = u.s
            GROUP BY u.vec_id, u.s
        ),
        sse2 AS (
            SELECT s, CAST(sum(d2) AS BIGINT) AS sse_trained FROM a2 GROUP BY s
        )
        SELECT CAST(s AS BIGINT) AS subspace,
               sse_init,
               sse_trained,
               -- nullif: a zero-distortion subspace (degenerate constant corpus)
               -- yields NULL improvement instead of a div-by-zero NaN
               round(1.0 - sse_trained::DOUBLE / nullif(sse_init, 0), 6) AS improvement
        FROM sse0 JOIN sse2 USING (s)
    """,
    doc="PQ codebook TRAINING, one exact Lloyd round per subspace: assign "
    "under the deterministic init codebook, recompute each codeword as the "
    "element-wise floored mean of its members (floored to keep every "
    "quantity an exact bigint — the same replayable-trajectory trick as "
    "the k-means oracle), re-assign, and report per-subspace SSE before "
    "vs after. Trained codebooks are what production PQ uses; the "
    "improvement column shows the distortion the training round removes "
    "(monotone-decrease gated in tests). Per round: one broadcast join + "
    "two narrow aggregations — codebook training at 100 TB is exactly as "
    "cheap as one ADC encode pass",
    tags=("similarity", "ann", "quantization"),
)
def q_pq_train_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    subs = _pq_subvectors(emb)
    a1 = _pq_assigned(subs).select(
        "vec_id",
        "s",
        (F.col("key") % PQ_CODES).alias("code"),
        F.floor(F.col("key") / PQ_CODES).cast("bigint").alias("d"),
    )
    sse0 = a1.groupBy("s").agg(F.sum("d").cast("bigint").alias("sse_init"))
    members = (
        a1.join(subs, ["vec_id", "s"])
        .select("s", "code", F.posexplode("iv").alias("j", "v"))
    )
    c1 = (
        members.groupBy("s", "code", "j")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("cv")
        )
        .groupBy(F.col("s").alias("cs"), "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cv"))),
                lambda t: t["cv"],
            ).alias("civ")
        )
    )
    a2 = (
        subs.join(F.broadcast(c1), F.col("s") == F.col("cs"))
        .select("vec_id", "s", _pq_sqdist("iv", "civ").alias("dd"))
        .groupBy("vec_id", "s")
        .agg(F.min("dd").alias("d2"))
    )
    sse2 = a2.groupBy(F.col("s").alias("s2")).agg(
        F.sum("d2").cast("bigint").alias("sse_trained")
    )
    return sse0.join(sse2, F.col("s") == F.col("s2")).select(
        F.col("s").alias("subspace"),
        "sse_init",
        "sse_trained",
        # nullif: zero-distortion subspace -> NULL, not a NaN
        F.round(
            1.0
            - F.col("sse_trained").cast("double")
            / F.nullif(F.col("sse_init"), F.lit(0)).cast("double"),
            6,
        ).alias("improvement"),
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
# 2303.09540): cluster the embedding space, then prune near-identical
# items WITHIN each cluster only — the cluster assignment bounds the
# quadratic verify stage the way LSH bands bound MinHash verification.
SEMDEDUP_TAU = 0.4  # cosine prune threshold (corpus cosines: see dedup.py)

#: Cells larger than this are EXCLUDED from the quadratic cosine-verify
#: stage (reported with capped=true, pairs/pruned 0) — the jaccard
#: hot-block convention: one oversized cell at 100 TB is otherwise a
#: straggler doing O(cell²) work. Capped cells still get near-dup
#: coverage from dedup_embedding_lsh, whose banding bounds candidate
#: generation without any quadratic stage.
SEMDEDUP_MAX_CELL = 10_000


@register(
    "semantic_dedup_stats",
    oracle=f"""
        WITH dims AS (
            SELECT label, i, round(avg(embedding[i]), 6) AS c
            FROM embeddings, generate_series(1, {DIMS}) AS g(i)
            GROUP BY label, i
        ),
        centroids AS (
            SELECT label AS cell, list(c ORDER BY i) AS ce FROM dims GROUP BY label
        ),
        assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.ce')} DESC, c.cell
                       ) AS rc
                FROM embeddings e CROSS JOIN centroids c
            ) WHERE rc = 1
        ),
        per_cell AS (
            SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
            FROM assigned GROUP BY cell
        ),
        elig AS (
            SELECT a.* FROM assigned a
            JOIN per_cell USING (cell)
            WHERE n_vectors <= {SEMDEDUP_MAX_CELL}
        ),
        dup AS (
            SELECT a.cell, a.vec_id AS va, b.vec_id AS vb
            FROM elig a
            JOIN elig b ON b.cell = a.cell AND b.vec_id > a.vec_id
            WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= {SEMDEDUP_TAU}
        ),
        pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_pairs FROM dup GROUP BY cell),
        pr AS (SELECT cell, CAST(count(DISTINCT vb) AS BIGINT) AS n_pruned FROM dup GROUP BY cell)
        SELECT CAST(cell AS BIGINT) AS cell,
               n_vectors,
               n_vectors > {SEMDEDUP_MAX_CELL} AS capped,
               coalesce(n_dup_pairs, CAST(0 AS BIGINT)) AS n_dup_pairs,
               coalesce(n_pruned, CAST(0 AS BIGINT)) AS n_pruned,
               n_vectors - coalesce(n_pruned, CAST(0 AS BIGINT)) AS n_kept,
               round(CAST(coalesce(n_pruned, CAST(0 AS BIGINT)) AS DOUBLE)
                     / n_vectors, 6) AS prune_rate
        FROM per_cell LEFT JOIN pc USING (cell) LEFT JOIN pr USING (cell)
    """,
    doc="SemDeDup-style semantic dedup (cluster -> prune within cluster): "
    "vectors assign to their nearest centroid via broadcast argmin (the "
    "ivf_search shape), then ONLY same-cell pairs are cosine-verified; a "
    f"vector is pruned when a lower-id cell-mate matches at cos >= {SEMDEDUP_TAU} "
    "(deterministic keep-lowest-id rule). Per-cell output: sizes, capped "
    "flag, dup pairs, pruned/kept counts, prune rate. Scale: cells larger "
    f"than {SEMDEDUP_MAX_CELL} are EXCLUDED from the quadratic verify and "
    "flagged capped=true (the jaccard hot-block convention — no silent "
    "caps), falling back to dedup_embedding_lsh whose banding bounds "
    "candidates without any quadratic stage; production additionally "
    "sizes k (kmeans_train) so cells stay under the cap. Norms are "
    "computed once per vector before the pair join "
    "(the dedup_embedding_cosine lesson)",
    tags=("similarity", "dedup", "embedding"),
)
def q_semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot_product, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.round(F.avg("v"), 6).alias("c"))
    )
    centroids = dims.groupBy(F.col("label").alias("cell")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("ce")
    )
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "embedding",
        "cell",
        cosine_similarity("embedding", "ce").alias("ccos"),
    )
    wc = W.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cell"))
    # NO lineage cut here, deliberately (the r6 rule's measured boundary):
    # `assigned` feeds per_cell and both self-join sides, but all consumers
    # sit directly on the window's Exchange(hashpartitioning(vec_id)) —
    # ReusedExchange already shares it, the post-exchange work (row_number
    # + rc=1 filter) is cheap, and a checkpoint of the vector-wide rows
    # measured as pure write overhead (interleaved full-eval A/B: ~3.96 s
    # vs ~4.48 s median with the cut). Contrast covariance_df below, where
    # the expensive aggregate sits BETWEEN the exchange and the consumers.
    assigned = (
        scored.withColumn("rc", F.row_number().over(wc))
        .where(F.col("rc") == 1)
        .select("vec_id", "embedding", "cell")
    )
    per_cell = assigned.groupBy("cell").agg(F.count("*").alias("n_vectors"))
    # Hot-cell cap BEFORE the quadratic stage (cells are few: broadcast
    # semi-join); capped cells surface in the output, never silently.
    ok_cells = per_cell.where(
        F.col("n_vectors") <= SEMDEDUP_MAX_CELL
    ).select("cell")
    elig = assigned.join(F.broadcast(ok_cells), "cell")
    # Norms once per vector, THEN the (cell-bounded) pair join.
    withn = elig.select(
        "vec_id",
        "cell",
        F.col("embedding").alias("e"),
        l2_norm("embedding").alias("nrm"),
    )
    a, b = withn.alias("a"), withn.alias("b")
    dup = (
        a.join(
            b,
            (F.col("b.cell") == F.col("a.cell"))
            & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .where(
            dot_product("a.e", "b.e") / (F.col("a.nrm") * F.col("b.nrm"))
            >= SEMDEDUP_TAU
        )
        .select(
            F.col("a.cell").alias("cell"),
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
        )
    )
    # ONE aggregation over the pair stream for both stats — a second
    # reference to `dup` would re-execute the whole quadratic verify join
    # (it did, as two SortMergeJoins, until the plan gate caught it).
    pc = dup.groupBy("cell").agg(
        F.count("*").alias("n_dup_pairs"),
        F.countDistinct("vb").alias("n_pruned"),
    )
    zero = F.lit(0).cast("bigint")
    return (
        per_cell.join(pc, "cell", "left")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            "n_vectors",
            (F.col("n_vectors") > SEMDEDUP_MAX_CELL).alias("capped"),
            F.coalesce("n_dup_pairs", zero).alias("n_dup_pairs"),
            F.coalesce("n_pruned", zero).alias("n_pruned"),
            (F.col("n_vectors") - F.coalesce("n_pruned", zero)).alias("n_kept"),
            F.round(
                F.coalesce("n_pruned", zero).cast("double") / F.col("n_vectors"),
                6,
            ).alias("prune_rate"),
        )
    )


# --------------------------------------------------------------------------
# PCA top component via exact-replayable power iteration: two fixed
# matrix-vector rounds over the integer covariance, normalizing to a
# 1024-unit integer vector between rounds. Every quantity stays an exact
# integer under 2^53 (|c| <= ~1e6, |v| <= 1024, dot sums <= ~4e15), so
# DuckDB replays the identical trajectory — the k-means replay-oracle
# technique applied to iterative linear algebra.
PCA_NORM = 1024
PCA_ITERS = 2


@register(
    "pca_power_iteration",
    oracle=f"""
        WITH {_COV_SQL},
        cint AS (
            SELECT i, j, CAST(round(cov * 1000000, 0) AS BIGINT) AS c
            FROM covut
        ),
        cfull AS (
            SELECT i, j, c FROM cint
            UNION ALL
            SELECT j AS i, i AS j, c FROM cint WHERE i <> j
        ),
        w1 AS (SELECT i, CAST(sum(c) AS BIGINT) AS w FROM cfull GROUP BY i),
        m1 AS (SELECT max(abs(w)) AS m FROM w1),
        v1 AS (
            SELECT i, CAST(floor(w * {PCA_NORM} / nullif(m, 0)) AS BIGINT) AS v
            FROM w1 CROSS JOIN m1
        ),
        w2 AS (
            SELECT f.i, CAST(sum(f.c * v1.v) AS BIGINT) AS w2
            FROM cfull f JOIN v1 ON v1.i = f.j
            GROUP BY f.i
        ),
        r AS (
            SELECT CAST(sum(v1.v * w2.w2) AS BIGINT) AS num,
                   CAST(sum(v1.v * v1.v) AS BIGINT) AS den
            FROM v1 JOIN w2 ON w2.i = v1.i
        ),
        tr AS (SELECT CAST(sum(c) AS BIGINT) AS tr FROM cint WHERE i = j)
        SELECT round(CAST(num AS DOUBLE) / nullif(den, 0) / 1000000, 6) + 0.0
                   AS lambda_top,
               round(CAST(tr AS DOUBLE) / 1000000, 6) + 0.0 AS trace_total,
               round(CAST(num AS DOUBLE) / nullif(den, 0)
                     / nullif(CAST(tr AS DOUBLE), 0), 6) + 0.0
                   AS var_explained_top,
               CAST({PCA_ITERS} AS BIGINT) AS n_iterations
        FROM r CROSS JOIN tr
    """,
    doc="Top principal component via power iteration with an EXACT "
    f"replayable trajectory: {PCA_ITERS} fixed matrix-vector rounds over "
    "the integer covariance (shared covariance_df core), re-normalizing "
    f"to a {PCA_NORM}-unit integer vector between rounds, then the "
    "Rayleigh-quotient eigenvalue and its share of the trace (variance "
    "explained) — the PCA/whitening follow-up to embedding_covariance, "
    "under the hash gate like the k-means and PageRank replays. All "
    "intermediates are exact integers below 2^53, so both engines "
    "compute bit-identical doubles. Scale: the iteration runs on the "
    "64x64 covariance — corpus size only affects the one-pass covariance "
    "build; matrix-vector rounds are metadata-sized joins",
    tags=("similarity", "stats", "iterative"),
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cov = covariance_df(load_table(spark, sf_dir, "embeddings"))
    # The 64x64 upper-triangle integer matrix (2,080 rows) feeds three
    # consumers (w1, w2 via cfull, and the trace); cut lineage here so the
    # whole covariance pipeline runs once, not once per consumer per
    # power-iteration reference (the r6 checkpoint-placement rule).
    cint = reliable_checkpoint(
        cov.select(
            "i", "j", F.round(F.col("cov") * 1e6, 0).cast("bigint").alias("c")
        )
    )
    cfull = cint.unionAll(
        cint.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    )
    w1 = cfull.groupBy("i").agg(F.sum("c").cast("bigint").alias("w"))
    m1 = w1.agg(F.max(F.abs("w")).alias("m"))
    v1 = w1.crossJoin(F.broadcast(m1)).select(
        "i",
        F.floor(
            F.col("w") * PCA_NORM / F.nullif(F.col("m"), F.lit(0))
        )
        .cast("bigint")
        .alias("v"),
    )
    w2 = (
        cfull.join(
            F.broadcast(v1.select(F.col("i").alias("j"), "v")), "j"
        )
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("v")).cast("bigint").alias("w2"))
    )
    r = v1.join(w2, "i").agg(
        F.sum(F.col("v") * F.col("w2")).cast("bigint").alias("num"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("den"),
    )
    tr = cint.where(F.col("i") == F.col("j")).agg(
        F.sum("c").cast("bigint").alias("tr")
    )
    lam = F.col("num").cast("double") / F.nullif(
        F.col("den").cast("double"), F.lit(0.0)
    )
    return r.crossJoin(F.broadcast(tr)).select(
        (F.round(lam / 1e6, 6) + 0.0).alias("lambda_top"),
        (F.round(F.col("tr").cast("double") / 1e6, 6) + 0.0).alias(
            "trace_total"
        ),
        (
            F.round(
                lam / F.nullif(F.col("tr").cast("double"), F.lit(0.0)), 6
            )
            + 0.0
        ).alias("var_explained_top"),
        F.lit(PCA_ITERS).cast("bigint").alias("n_iterations"),
    )


# --------------------------------------------------------------------------
# Davies-Bouldin cluster-quality index over the label cells: RMS scatter
# per cell and worst (S_i + S_j) / M_ij ratio — the internal clustering
# validity measure that needs NO ground truth (ann_recall_eval needs a
# query set; this audits the partitioning itself, e.g. before trusting
# IVF cells or SemDeDup clusters). All distances derive from exact
# integer micro-unit vectors and floored-integer centroids, so both
# engines compute identical doubles.
@register(
    "cluster_quality_db_index",
    oracle=f"""
        WITH q AS (
            SELECT vec_id, label,
                   [floor(x * 1000000)::BIGINT
                    for x in embedding::DOUBLE[]] AS qv
            FROM embeddings
        ),
        cent AS (
            SELECT label, i,
                   CAST(floor(sum(qv[i]) / CAST(count(*) AS DOUBLE)) AS BIGINT)
                       AS ci
            FROM q, range(1, {DIMS + 1}) t(i)
            GROUP BY label, i
        ),
        member_d2 AS (
            SELECT q.vec_id, q.label,
                   CAST(sum((qv[t.i] - ci) * (qv[t.i] - ci)) AS BIGINT) AS d2
            FROM q, range(1, {DIMS + 1}) t(i)
            JOIN cent ON cent.label = q.label AND cent.i = t.i
            GROUP BY q.vec_id, q.label
        ),
        scatter AS (
            SELECT label,
                   CAST(count(*) AS BIGINT) AS n_members,
                   sqrt(sum(d2) / CAST(count(*) AS DOUBLE)) AS s
            FROM member_d2 GROUP BY label
        ),
        cdist AS (
            SELECT a.label AS la, b.label AS lb,
                   sqrt(CAST(sum((a.ci - b.ci) * (a.ci - b.ci)) AS BIGINT))
                       AS m
            FROM cent a JOIN cent b ON b.i = a.i AND b.label <> a.label
            GROUP BY a.label, b.label
        )
        SELECT CAST(sa.label AS BIGINT) AS cell,
               sa.n_members,
               round(sa.s / 1000000, 6) AS scatter_rms,
               round(max((sa.s + sb.s) / nullif(cd.m, 0)), 6) AS db_component
        FROM scatter sa
        JOIN cdist cd ON cd.la = sa.label
        JOIN scatter sb ON sb.label = cd.lb
        GROUP BY sa.label, sa.n_members, sa.s
    """,
    doc="Davies-Bouldin cluster validity over the label cells: per-cell "
    "RMS scatter around the floored-integer centroid and the worst "
    "(S_i + S_j) / M_ij similarity ratio against any other cell (lower = "
    "better-separated clusters) — the no-ground-truth audit you run on "
    "IVF cells or SemDeDup clusters before trusting them. Micro-unit "
    "integer vectors keep every squared-distance sum exact; the only "
    "doubles are final sqrt/ratios, identical in both engines. Scale: "
    "one pass for centroids, one broadcast-centroid pass for member "
    "distances, then all math on the k x k grid",
    tags=("similarity", "stats", "eval"),
)
def q_cluster_quality_db_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * 1e6),
            )
        ).alias("p", "v"),
    ).select("vec_id", "label", (F.col("p") + 1).alias("i"), "v")
    cent = q.groupBy("label", "i").agg(
        F.floor(
            F.sum("v") / F.count("*").cast("double")
        )
        .cast("bigint")
        .alias("ci")
    )
    member_d2 = (
        q.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("v") - F.col("ci")) * (F.col("v") - F.col("ci")))
            .cast("bigint")
            .alias("d2")
        )
    )
    scatter = member_d2.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sqrt(F.sum("d2") / F.count("*").cast("double")).alias("s"),
    )
    ca, cb = cent.alias("ca"), cent.alias("cb")
    cdist = (
        ca.join(
            cb,
            (F.col("ca.i") == F.col("cb.i"))
            & (F.col("ca.label") != F.col("cb.label")),
        )
        .groupBy(
            F.col("ca.label").alias("la"), F.col("cb.label").alias("lb")
        )
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("ca.ci") - F.col("cb.ci"))
                    * (F.col("ca.ci") - F.col("cb.ci"))
                ).cast("bigint")
            ).alias("m")
        )
    )
    sb = scatter.select(F.col("label").alias("lb"), F.col("s").alias("s2"))
    return (
        scatter.join(cdist, scatter.label == cdist.la)
        .join(F.broadcast(sb), "lb")
        .groupBy(scatter.label, "n_members", "s")
        .agg(
            F.round(
                F.max(
                    (F.col("s") + F.col("s2"))
                    / F.nullif(F.col("m"), F.lit(0.0))
                ),
                6,
            ).alias("db_component")
        )
        .select(
            F.col("label").cast("bigint").alias("cell"),
            "n_members",
            F.round(F.col("s") / 1e6, 6).alias("scatter_rms"),
            "db_component",
        )
    )


# -- DBSCAN over LSH buckets (round-7; SURVEY §8 backlog #5, the last one) ---

DBSCAN_COS_EPS = 0.3  # ε as a cosine-similarity floor on the LSH pair graph
DBSCAN_MIN_PTS = 4  # neighbors (excluding self) required for a core point


def _dbscan_oracle_sql() -> str:
    cos = _COS_SQL.format(a="ea.embedding", b="eb.embedding")
    return f"""
        WITH RECURSIVE {_bands_sql()},
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                        AND b.vec_id > a.vec_id
        ),
        verified AS (
            SELECT vec_a, vec_b FROM (
                SELECT c.vec_a, c.vec_b, {cos} AS cos
                FROM cand c
                JOIN embeddings ea ON ea.vec_id = c.vec_a
                JOIN embeddings eb ON eb.vec_id = c.vec_b
            ) WHERE cos >= {DBSCAN_COS_EPS}
        ),
        sym AS (
            SELECT vec_a AS a, vec_b AS b FROM verified
            UNION SELECT vec_b, vec_a FROM verified
        ),
        deg AS (
            SELECT e.vec_id, coalesce(d.cnt, 0) AS degree
            FROM embeddings e
            LEFT JOIN (SELECT a, CAST(count(*) AS BIGINT) AS cnt
                       FROM sym GROUP BY a) d ON d.a = e.vec_id
        ),
        cores AS (SELECT vec_id FROM deg WHERE degree >= {DBSCAN_MIN_PTS}),
        core_sym AS (
            SELECT s.a, s.b FROM sym s
            JOIN cores c1 ON s.a = c1.vec_id
            JOIN cores c2 ON s.b = c2.vec_id
            UNION SELECT vec_id, vec_id FROM cores
        ),
        walk(node, root) AS (
            SELECT a, b FROM core_sym
            UNION
            SELECT w.node, s.b FROM walk w JOIN core_sym s ON w.root = s.a
        ),
        core_label AS (
            SELECT node AS vec_id, min(root) AS cluster FROM walk GROUP BY node
        ),
        border_label AS (
            SELECT s.a AS vec_id, min(cl.cluster) AS cluster
            FROM sym s
            JOIN core_label cl ON cl.vec_id = s.b
            WHERE s.a NOT IN (SELECT vec_id FROM cores)
            GROUP BY s.a
        )
        SELECT d.vec_id, d.degree,
               CASE WHEN cl.vec_id IS NOT NULL THEN 'core'
                    WHEN bl.vec_id IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               CAST(coalesce(cl.cluster, bl.cluster) AS BIGINT) AS cluster
        FROM deg d
        LEFT JOIN core_label cl ON cl.vec_id = d.vec_id
        LEFT JOIN border_label bl ON bl.vec_id = d.vec_id
    """


def _density_clusters(sym: DataFrame, cores: DataFrame) -> DataFrame:
    """DBSCAN labels over the neighbor graph ``sym`` (``a``/``b``, both
    directions): ``(vec_id, cluster, is_core)`` for every core and border
    vector. Cores take the min core vec_id of their connected component
    over core-core edges (``dedup.connected_components``); a core with no
    core neighbor never enters that edge set and labels itself. Borders
    (non-cores with a core neighbor) attach to the MIN core-neighbor label,
    which makes the border assignment deterministic."""
    from .dedup import connected_components

    cc = connected_components(
        sym.join(cores.select(F.col("vec_id").alias("a")), "a")
        .join(cores.select(F.col("vec_id").alias("b")), "b")
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
    )
    isolated = cores.join(
        cc.select(F.col("node").alias("vec_id")), "vec_id", "left_anti"
    ).select("vec_id", F.col("vec_id").alias("cluster"))
    core_label = cc.select(F.col("node").alias("vec_id"), "cluster").unionByName(isolated)
    border_label = (
        sym.join(core_label.select(F.col("vec_id").alias("b"), "cluster"), "b")
        .join(cores.select(F.col("vec_id").alias("a")), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a").alias("vec_id"), "cluster")
    )
    return core_label.withColumn("is_core", F.lit(True)).unionByName(
        border_label.withColumn("is_core", F.lit(False))
    )


@register(
    "dbscan_lsh_clusters",
    oracle=_dbscan_oracle_sql(),
    doc="DBSCAN-style density clustering over the LSH candidate graph "
    f"(SURVEY §8 #5, completing the drafted backlog): ε-neighbors are the "
    f"band-bucket collision pairs cosine-verified at {DBSCAN_COS_EPS} (the "
    "embedding_lsh_pairs primitive at a looser ε than the 0.4 dedup "
    f"threshold), cores have >= {DBSCAN_MIN_PTS} neighbors, clusters are "
    "connected components over core-core edges via the dedup_clusters "
    "CC kernel (cluster id = min core vec_id), borders attach to the "
    "MIN core-neighbor label (plain DBSCAN leaves border assignment "
    "order-dependent; min makes it deterministic for the oracle), the "
    "rest is noise. Semantics are defined over the LSH candidate graph "
    "on purpose — at 100 TB the ε-neighborhood query IS the bucketed "
    "candidate join (never all-pairs); the core CC sees only core-core "
    "edges, runs star-contraction rounds while they exceed the driver "
    "edge budget and finishes with a driver union-find. HONEST scale "
    "caveat (measured r7): with the testdata's recall-sized 4-bit "
    "buckets the candidate fraction is ~23% of all pairs, so 10x "
    "vectors → ~100x candidates and the measured 10x point is 12.9x "
    "runtime — super-linear exactly like dedup_embedding_lsh's "
    "documented contract. Production sizes bits-per-band ∝ log2 N so "
    "the fraction collapses and the verify volume tracks true "
    "ε-neighbors; the operator's own plan (bucket join + shrinking CC) "
    "is scale-ready once buckets are. Emits every vector's (degree, "
    "role, cluster) so the full assignment — not just counts — sits "
    "under the hash gate.",
    tags=("similarity", "embedding", "lsh", "dedup", "iterative"),
)
def q_dbscan_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = embedding_lsh_pairs(spark, sf_dir, DBSCAN_COS_EPS).select(
        "vec_a", "vec_b"
    )
    sym = reliable_checkpoint(
        pairs.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b")).union(
            pairs.select(F.col("vec_b").alias("a"), F.col("vec_a").alias("b"))
        )
    )
    emb_ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    deg = emb_ids.join(
        sym.groupBy("a").agg(F.count("*").cast("bigint").alias("degree")),
        emb_ids["vec_id"] == F.col("a"),
        "left",
    ).select("vec_id", F.coalesce("degree", F.lit(0)).cast("bigint").alias("degree"))
    cores = deg.where(F.col("degree") >= DBSCAN_MIN_PTS).select("vec_id")
    cl = _density_clusters(sym, cores)
    return (
        deg.join(cl, "vec_id", "left")
        .select(
            "vec_id",
            "degree",
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.col("cluster").cast("bigint").alias("cluster"),
        )
    )


# --------------------------------------------------------------------------
# OPTICS-style reachability atop the DBSCAN neighbor graph (VERDICT r7 #5).
#
# True OPTICS (Ankerst et al., SIGMOD'99) expands a priority queue one
# point at a time — inherently sequential, the wrong shape for a cluster.
# What a 100 TB pipeline actually consumes from OPTICS is the REACHABILITY
# PLOT: per-point core-distance and reachability values, ordered so that
# density valleys are visible. Both are relational:
#   core_dist(p) = MinPts-th smallest neighbor distance (NULL if degree
#                  < MinPts) — one window rank over the neighbor list;
#   reach(p)     = min over core neighbors o of max(core_dist(o), d(o,p))
#                  — the minimum reachability distance any core offers p
#                  (what the sequential sweep would eventually settle on
#                  for the plot's valleys); one join + one min-agg.
# The ordering is emitted PER CLUSTER (the DBSCAN core-CC label), ranked
# by (reach NULLS LAST, vec_id): within a density cluster this is the
# deterministic analog of the OPTICS ordering's "process nearest
# reachable first", and partitioning the rank by cluster keeps the window
# distributed — no global single-partition sort, which is what makes this
# scale-safe where a faithful seed-queue replay would not be. Distances
# are round(1 - round(cos, 6), 6) so both engines agree bit-for-bit.


def _optics_oracle_sql() -> str:
    cos = _COS_SQL.format(a="ea.embedding", b="eb.embedding")
    return f"""
        WITH RECURSIVE {_bands_sql()},
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                        AND b.vec_id > a.vec_id
        ),
        verified AS (
            SELECT vec_a, vec_b, round(1 - round(cos, 6), 6) AS d FROM (
                SELECT c.vec_a, c.vec_b, {cos} AS cos
                FROM cand c
                JOIN embeddings ea ON ea.vec_id = c.vec_a
                JOIN embeddings eb ON eb.vec_id = c.vec_b
            ) WHERE cos >= {DBSCAN_COS_EPS}
        ),
        sym AS (
            SELECT vec_a AS a, vec_b AS b, d FROM verified
            UNION ALL SELECT vec_b, vec_a, d FROM verified
        ),
        deg AS (
            SELECT e.vec_id, coalesce(g.cnt, 0) AS degree
            FROM embeddings e
            LEFT JOIN (SELECT a, CAST(count(*) AS BIGINT) AS cnt
                       FROM sym GROUP BY a) g ON g.a = e.vec_id
        ),
        nbr_ranked AS (
            SELECT a, b, d,
                   row_number() OVER (PARTITION BY a ORDER BY d, b) AS rn
            FROM sym
        ),
        core_dist AS (
            SELECT a AS vec_id, d AS core_dist FROM nbr_ranked
            WHERE rn = {DBSCAN_MIN_PTS}
        ),
        reach AS (
            SELECT s.a AS vec_id, min(greatest(cd.core_dist, s.d)) AS reach
            FROM sym s JOIN core_dist cd ON cd.vec_id = s.b
            GROUP BY s.a
        ),
        core_sym AS (
            SELECT s.a, s.b FROM sym s
            JOIN core_dist c1 ON s.a = c1.vec_id
            JOIN core_dist c2 ON s.b = c2.vec_id
            UNION SELECT vec_id, vec_id FROM core_dist
        ),
        walk(node, root) AS (
            SELECT a, b FROM core_sym
            UNION
            SELECT w.node, s.b FROM walk w JOIN core_sym s ON w.root = s.a
        ),
        core_label AS (
            SELECT node AS vec_id, min(root) AS cluster FROM walk GROUP BY node
        ),
        border_label AS (
            SELECT s.a AS vec_id, min(cl.cluster) AS cluster
            FROM sym s
            JOIN core_label cl ON cl.vec_id = s.b
            WHERE s.a NOT IN (SELECT vec_id FROM core_dist)
            GROUP BY s.a
        ),
        assigned AS (
            SELECT d.vec_id, d.degree,
                   cd.core_dist, r.reach,
                   CAST(coalesce(cl.cluster, bl.cluster) AS BIGINT) AS cluster
            FROM deg d
            LEFT JOIN core_dist cd ON cd.vec_id = d.vec_id
            LEFT JOIN reach r ON r.vec_id = d.vec_id
            LEFT JOIN core_label cl ON cl.vec_id = d.vec_id
            LEFT JOIN border_label bl ON bl.vec_id = d.vec_id
        )
        SELECT vec_id, degree, core_dist, reach, cluster,
               CASE WHEN cluster IS NOT NULL THEN
                   CAST(row_number() OVER (
                       PARTITION BY cluster
                       ORDER BY (reach IS NULL), reach, vec_id
                   ) AS BIGINT)
               END AS cluster_ord
        FROM assigned
    """


@register(
    "optics_reachability",
    oracle=_optics_oracle_sql(),
    doc="OPTICS-style reachability plot over the DBSCAN LSH neighbor "
    f"graph (SURVEY §8 fresh candidate, VERDICT r7 #5): per-vector "
    f"core-distance (the {DBSCAN_MIN_PTS}-th-smallest neighbor distance, "
    "one window rank), reachability (min over core neighbors of "
    "max(core_dist, d) — the valley depth the sequential OPTICS sweep "
    "settles on), the DBSCAN core-CC cluster label, and a deterministic "
    "per-cluster reachability ordering (rank by reach NULLS LAST, vec_id "
    "tiebreak). HONEST divergence from textbook OPTICS, by design: the "
    "seed-queue expansion is inherently sequential, so this emits the "
    "order-free reachability VALUES and ranks within each density "
    "cluster — the plot a pipeline reads — rather than replaying the "
    "queue; the per-cluster window keeps the ordering distributed (no "
    "global single-partition sort). Shares the dbscan_lsh_clusters "
    "candidate graph and core-CC helper (the dedup_clusters kernel), so "
    "the bucketed-never-all-pairs scale contract (and bits-per-band ∝ "
    "log2 N at production N) carries over.",
    tags=("similarity", "embedding", "lsh", "iterative", "eval"),
)
def q_optics_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = embedding_lsh_pairs(spark, sf_dir, DBSCAN_COS_EPS).select(
        "vec_a", "vec_b", F.round(1 - F.col("cos"), 6).alias("d")
    )
    sym = reliable_checkpoint(
        pairs.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"), "d").union(
            pairs.select(F.col("vec_b").alias("a"), F.col("vec_a").alias("b"), "d")
        )
    )
    emb_ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    deg = emb_ids.join(
        sym.groupBy("a").agg(F.count("*").cast("bigint").alias("degree")),
        emb_ids["vec_id"] == F.col("a"),
        "left",
    ).select("vec_id", F.coalesce("degree", F.lit(0)).cast("bigint").alias("degree"))
    w_n = W.partitionBy("a").orderBy("d", "b")
    core_dist = (
        sym.withColumn("rn", F.row_number().over(w_n))
        .where(F.col("rn") == DBSCAN_MIN_PTS)
        .select(F.col("a").alias("vec_id"), F.col("d").alias("core_dist"))
    )
    core_dist = reliable_checkpoint(core_dist)
    reach = (
        sym.join(
            core_dist.select(F.col("vec_id").alias("b"), "core_dist"), "b"
        )
        .groupBy("a")
        .agg(F.min(F.greatest("core_dist", "d")).alias("reach"))
        .select(F.col("a").alias("vec_id"), "reach")
    )
    cl = _density_clusters(sym, core_dist.select("vec_id"))
    assigned = (
        deg.join(core_dist, "vec_id", "left")
        .join(reach, "vec_id", "left")
        .join(cl, "vec_id", "left")
        .select(
            "vec_id", "degree", "core_dist", "reach",
            F.col("cluster").cast("bigint").alias("cluster"),
        )
    )
    w_ord = W.partitionBy("cluster").orderBy(
        F.col("reach").isNull().cast("int"), "reach", "vec_id"
    )
    return assigned.select(
        "vec_id", "degree", "core_dist", "reach", "cluster",
        F.when(
            F.col("cluster").isNotNull(),
            F.row_number().over(w_ord).cast("bigint"),
        ).alias("cluster_ord"),
    )


# -- hard-negative mining (round 9) ------------------------------------------


@register(
    "hard_negative_mining",
    oracle=f"""
        WITH {_lsh_candidates_sql(multiprobe=True).strip()},
        qv AS (
            SELECT vec_id AS qid, embedding AS qe, label AS qlabel
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        hnm_scored AS (
            SELECT c.qid, c.vec_id,
                   {_COS_SQL.format(a='qv.qe', b='e.embedding')} AS cos,
                   (e.label = qv.qlabel) AS same
            FROM cand c JOIN qv USING (qid)
            JOIN embeddings e ON e.vec_id = c.vec_id
        ),
        hnm_pos AS (
            SELECT qid, vec_id AS positive_id, round(cos, 6) AS cos_pos
            FROM (
                SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, vec_id) AS rn
                FROM hnm_scored WHERE same
            ) WHERE rn = 1
        ),
        hnm_neg AS (
            SELECT qid, vec_id AS negative_id, round(cos, 6) AS cos_neg
            FROM (
                SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, vec_id) AS rn
                FROM hnm_scored WHERE NOT same
            ) WHERE rn = 1
        )
        SELECT qid, positive_id, cos_pos, negative_id, cos_neg,
               round(cos_pos - cos_neg, 6) AS margin
        FROM hnm_pos JOIN hnm_neg USING (qid)
    """,
    doc="Contrastive-training triplet mining over the LSH candidate graph: "
    "for each anchor, the POSITIVE is its highest-cosine same-label "
    "candidate and the HARD NEGATIVE its highest-cosine different-label "
    "candidate — the canonical in-batch hard-negative recipe for "
    "embedding-model fine-tuning, restricted to multiprobe band-bucket "
    "collisions so mining never scans the corpus (the production shape: "
    "buckets ARE the batch). Anchors missing either side (no same- or "
    "different-label collision) drop in both engines identically. 100 TB "
    "shape: candidates come from the same narrow bigint bucket join as "
    "ann_lsh_multiprobe; scoring touches only collision pairs; two "
    "per-anchor top-1 windows on the tiny scored set",
    tags=("similarity", "ann", "lsh", "curation"),
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cand = lsh_candidates(emb, multiprobe=True)
    qv = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        cand.join(F.broadcast(qv), "qid")
        .join(emb, "vec_id")
        .select(
            "qid",
            "vec_id",
            cosine_similarity("qe", "embedding").alias("cos"),
            (F.col("label") == F.col("qlabel")).alias("same"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    pos = (
        scored.where(F.col("same"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "qid",
            F.col("vec_id").alias("positive_id"),
            F.round("cos", 6).alias("cos_pos"),
        )
    )
    neg = (
        scored.where(~F.col("same"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "qid",
            F.col("vec_id").alias("negative_id"),
            F.round("cos", 6).alias("cos_neg"),
        )
    )
    return pos.join(neg, "qid").select(
        "qid",
        "positive_id",
        "cos_pos",
        "negative_id",
        "cos_neg",
        F.round(F.col("cos_pos") - F.col("cos_neg"), 6).alias("margin"),
    )


# -- SemDeDup: semantic dedup over embedding cells (round 12) -----------------
#
# Abbas et al. 2023 "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication": cluster the embedding space, then
# within each cluster drop all but one of every group of semantic
# duplicates (pairwise cosine above a threshold). Pinned conventions
# (both engines mirror them): cells = nearest per-label centroid, the
# EXACT assignment rule ivf_search uses (6dp-rounded centroids,
# tie -> lowest cell); prototypicality order within a cell = 6dp
# cosine-to-own-centroid DESC, vec_id ASC; a vector is REMOVED iff some
# EARLIER vector in that order has 6dp pairwise cosine >= the threshold
# (one-pass keep-first — the kept set is pairwise sub-threshold, and
# every removed vector has an over-threshold earlier witness). Threshold
# note: published SemDeDup operates at ~0.95 on real encoder embeddings;
# the synthetic embeddings are near-isotropic (within-label max cosine
# ~0.47 at sf0.01), so the catalog pins 0.2 to exercise a non-degenerate
# removal set on testdata — tests/test_round12_growth.py proves the rule
# at a realistic threshold on planted near-duplicate vectors.

SEMDEDUP_COS_THRESHOLD = 0.2


def semdedup_prune_impl(
    emb: DataFrame, threshold: float = SEMDEDUP_COS_THRESHOLD
) -> DataFrame:
    """(vec_id, cell, ccos, removed) per vector. 100 TB shape: centroids
    are k tiny rows (broadcast argmin assignment — the embedding column
    never shuffles for assignment); the within-cell pairwise stage is
    bounded-quadratic PER CELL, the published SemDeDup shape (the paper
    sizes k so clusters stay small — 50k clusters for LAION; here k =
    the 10 label centroids), and rides one narrow shuffle on the cell
    id."""
    dims = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.round(F.avg("v"), 6).alias("c"))
    )
    centroids = dims.groupBy(F.col("label").alias("cell")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("ce")
    )
    scored_cells = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "embedding",
        "cell",
        cosine_similarity("embedding", "ce").alias("ccos"),
    )
    wc = W.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cell"))
    from ..functions.vectors import dot_product, l2_norm

    assigned = (
        scored_cells.withColumn("rc", F.row_number().over(wc))
        .where(F.col("rc") == 1)
        .select(
            "vec_id",
            "embedding",
            # per-vector norm precomputed ONCE so the pairwise filter
            # below stays a scalar comparison (the dedup_embedding_cosine
            # staging fix — a cos expression in the Filter would inline
            # the 64-element folds per pair, 3x the flops, and trip the
            # filter-blowup plan gate)
            l2_norm("embedding").alias("nrm"),
            F.col("cell").cast("bigint").alias("cell"),
            F.round("ccos", 6).alias("ccos"),
        )
    )
    # prototypicality rank within each cell; checkpoint: the ranked table
    # feeds BOTH sides of the pairwise join and the final projection
    wr = W.partitionBy("cell").orderBy(
        F.coalesce(F.col("ccos"), F.lit(-2.0)).desc(), F.col("vec_id")
    )
    ranked = reliable_checkpoint(
        assigned.withColumn("rn", F.row_number().over(wr))
    )
    a = ranked.select(
        F.col("cell").alias("a_cell"),
        F.col("rn").alias("a_rn"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = ranked.select(
        "vec_id", F.col("cell").alias("b_cell"), F.col("rn").alias("b_rn"),
        F.col("embedding").alias("b_emb"), F.col("nrm").alias("b_nrm"),
    )
    pair_cos = F.col("_dot") / F.nullif(
        F.col("a_nrm") * F.col("b_nrm"), F.lit(0.0)
    )
    removed = (
        a.join(
            b,
            (F.col("a_cell") == F.col("b_cell"))
            & (F.col("a_rn") < F.col("b_rn")),
        )
        .select(
            "vec_id",
            "a_nrm",
            "b_nrm",
            dot_product("a_emb", "b_emb").alias("_dot"),
        )
        .where(F.round(pair_cos, 6) >= F.lit(threshold))
        .select("vec_id")
        .distinct()
        .withColumn("_rm", F.lit(True))
    )
    return (
        ranked.join(removed, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "ccos",
            F.coalesce("_rm", F.lit(False)).alias("removed"),
        )
    )


@register(
    "semdedup_embedding_prune",
    oracle=f"""
        WITH dims AS (
            SELECT label, i, round(avg(embedding[i]), 6) AS c
            FROM embeddings, generate_series(1, {DIMS}) AS g(i)
            GROUP BY label, i
        ),
        centroids AS (
            SELECT label AS cell, list(c ORDER BY i) AS ce FROM dims GROUP BY label
        ),
        assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.ce')} DESC, c.cell
                       ) AS rc
                FROM embeddings e CROSS JOIN centroids c
            ) WHERE rc = 1
        ),
        ranked AS (
            SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, a.embedding,
                   round({_COS_SQL.format(a='a.embedding', b='c.ce')}, 6)
                       AS ccos,
                   row_number() OVER (
                       PARTITION BY a.cell
                       ORDER BY coalesce(round(
                           {_COS_SQL.format(a='a.embedding', b='c.ce')}, 6),
                           -2.0) DESC, a.vec_id
                   ) AS rn
            FROM assigned a JOIN centroids c ON c.cell = a.cell
        ),
        removedv AS (
            SELECT DISTINCT b.vec_id
            FROM ranked a
            JOIN ranked b ON a.cell = b.cell AND a.rn < b.rn
            WHERE round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6)
                  >= {SEMDEDUP_COS_THRESHOLD}
        )
        SELECT r.vec_id, r.cell, r.ccos,
               (rm.vec_id IS NOT NULL) AS removed
        FROM ranked r LEFT JOIN removedv rm ON rm.vec_id = r.vec_id
    """,
    doc="SemDeDup semantic dedup (Abbas et al. 2023) over the embeddings "
    "table: vectors are assigned to cells by ivf_search's exact "
    "nearest-centroid rule, ranked within each cell by prototypicality "
    "(6dp cosine to own centroid DESC, vec_id tiebreak), and a vector "
    "is removed iff an earlier-ranked cellmate has 6dp pairwise cosine "
    f">= {SEMDEDUP_COS_THRESHOLD} (one-pass keep-first: the kept set is "
    "pairwise sub-threshold). Threshold pinned at 0.2 because the "
    "synthetic embeddings are near-isotropic (~0.47 max within-label "
    "cosine); published deployments use ~0.95 on real encoders — "
    "tests/test_round12_growth.py proves the rule at 0.95 on planted "
    "near-dup vectors. 100 TB shape: broadcast-argmin assignment (the "
    "embedding column never shuffles for it), one narrow shuffle on the "
    "cell id, and the pairwise stage bounded-quadratic PER CELL — the "
    "published shape, sized by k (the paper uses 50k clusters; here the "
    "10 label centroids)",
    tags=("similarity", "dedup", "curation"),
)
def q_semdedup_embedding_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_prune_impl(load_table(spark, sf_dir, "embeddings"))
