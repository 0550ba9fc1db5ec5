"""Data-layout operators: Z-order clustering and its pruning payoff.

At 100 TB the scan is the query: whether a predicate on (customer, price)
touches 2% or 80% of the files is decided at WRITE time by how rows were
laid out. ``zorder_pruning_stats`` quantizes two ``orders`` columns onto a
16x16 grid, interleaves the bits into a Z-value (Morton code), assigns rows
to fixed-count "files" under (a) the natural insert order and (b) Z-order,
and reports the average fraction of each dimension's value range — and of
the 2-D cell space — a file overlaps. That per-file min/max span IS the
parquet row-group / data-skipping statistic: ``avg_cell_cover`` ~= the
expected fraction of files a 2-D point predicate must read.

Scale notes (the whole point of the operator):

- global ranks come from the monotone-bucket prefix-sum trick
  (per-bucket ``row_number`` + broadcast offsets), not a one-partition
  window — the same shape as ``shard_assignment_stats``. Both layouts
  use 256 rank buckets (the full Morton-code range; a 256-cell orderkey
  grid), so the rank stage is 256-way parallel and the prefix-sum window
  touches at most 256 rows;
- the min/max/count bounds the quantizer needs ship as ONE broadcast
  row. Catalyst constant-folds the literal join key, so the join
  materializes as a BroadcastNestedLoopJoin over a one-row build side —
  O(1) per probe row, the same cost as a hash join and the standard
  physical shape for scalar-aggregate subqueries. At scale the bounds
  come free from table statistics instead;
- the quantized (xq, yq, zv) frame is materialized once
  (reliable_checkpoint) and shared by both layout branches — one data
  scan, not one per branch;
- everything downstream of the rank is a narrow (layout, file_id)
  aggregate with map-side combine.

Cross-engine determinism: quantized cells and spans are small integers
over 16, so every double in the output is an exact binary fraction —
the averages are bit-identical in Spark and DuckDB with no rounding
tricks needed (round(6) is still applied as belt-and-braces).

Generalizes the reference's shuffle phase (`MapReduceFramework.cpp`
sort/partition step) to the data-placement problem it never had: the
reference keeps everything in one address space, so layout is moot there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from ..plans.catalog import register
from ..session import reliable_checkpoint
from ..sources.registry import load_table

ZQ_BITS = 4  # 16 cells per dimension
ZQ_CELLS = 1 << ZQ_BITS
N_FILES = 32
# Rank-stage fan-out: buckets must be monotone in the sort key. The Morton
# code has exactly ZQ_CELLS^2 values, so using it verbatim gives 256-way
# parallel rank windows; the natural layout quantizes orderkey to the same
# resolution.
RANK_BUCKETS = ZQ_CELLS * ZQ_CELLS


def _interleave_sql(xq: str, yq: str) -> str:
    terms = []
    for j in range(ZQ_BITS):
        terms.append(f"((({xq} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({yq} >> {j}) & 1) << {2 * j + 1})")
    return "(" + " + ".join(terms) + ")"


def _interleave(xq: Column, yq: Column) -> Column:
    z = F.lit(0)
    for j in range(ZQ_BITS):
        z = z + F.shiftleft(F.shiftright(xq, j).bitwiseAND(F.lit(1)), 2 * j)
        z = z + F.shiftleft(F.shiftright(yq, j).bitwiseAND(F.lit(1)), 2 * j + 1)
    return z


def _global_rank(
    df: DataFrame, sort: Column, bucket: Column, tiebreak: str = "o_orderkey"
) -> DataFrame:
    """Global row_number by (sort, tiebreak) without a one-partition window.

    ``bucket`` must be monotone in ``sort``, and ``tiebreak`` must be a
    unique column of ``df``: per-bucket ranks (parallel windows) plus a
    broadcast prefix sum of bucket counts then reproduce the single-pass
    global rank exactly (same trick, and the same cross-engine proof, as
    shard_assignment_stats).
    """
    base = df.withColumn("_s", sort).withColumn("_b", bucket)
    counts = base.groupBy("_b").agg(F.count("*").alias("_bn"))
    offsets = counts.select(
        "_b",
        F.coalesce(
            F.sum("_bn").over(
                W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    within = F.row_number().over(W.partitionBy("_b").orderBy("_s", tiebreak))
    return base.join(F.broadcast(offsets), "_b").withColumn(
        "rn", F.col("_off") + within
    )


def _global_rank_layouts(
    df: DataFrame,
    layouts: list,
    tiebreak: str = "o_orderkey",
) -> DataFrame:
    """:func:`_global_rank` for SEVERAL layouts in one pass (r12).

    ``layouts`` is a list of (name, sort Column, bucket Column). The old
    shape ran one `_global_rank` per layout — each paying its own bucket
    count aggregate, broadcast offsets build, rank window, and scan of
    the checkpointed frame, then unioned the branches. One layout-
    exploded frame shares all of them: a single count aggregate, one
    (layout, _b)-keyed broadcast, one rank window — half the jobs for
    the two-layout queries. Rank values per layout are identical (the
    window partitions by layout, so each layout's prefix-sum and
    within-bucket order are untouched)."""
    structs = F.array(
        *[
            F.struct(
                F.lit(name).alias("layout"), s.alias("_s"), b.alias("_b")
            )
            for name, s, b in layouts
        ]
    )
    base = (
        df.select("*", F.explode(structs).alias("_l"))
        .select("*", "_l.layout", "_l._s", "_l._b")
        .drop("_l")
    )
    counts = base.groupBy("layout", "_b").agg(F.count("*").alias("_bn"))
    offsets = counts.select(
        "layout",
        "_b",
        F.coalesce(
            F.sum("_bn").over(
                W.partitionBy("layout")
                .orderBy("_b")
                .rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    within = F.row_number().over(
        W.partitionBy("layout", "_b").orderBy("_s", tiebreak)
    )
    return base.join(F.broadcast(offsets), ["layout", "_b"]).withColumn(
        "rn", F.col("_off") + within
    )


@register(
    "zorder_pruning_stats",
    oracle=f"""
        WITH bounds AS (
            SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
                   min(o_totalprice) AS minp, max(o_totalprice) AS maxp,
                   min(o_orderkey) AS mino, max(o_orderkey) AS maxo,
                   count(*) AS n
            FROM orders
        ),
        q AS (
            SELECT o_orderkey, mino, maxo, n,
                   least({ZQ_CELLS - 1}, floor((o_custkey - minc) * {ZQ_CELLS}.0
                         / (maxc - minc + 1)))::BIGINT AS xq,
                   -- nullif+coalesce: a degenerate price range (all rows
                   -- share one o_totalprice) lands in cell 0 instead of
                   -- producing NaN (ADVICE r3); the xq path is already
                   -- safe via its integer +1 denominator
                   least({ZQ_CELLS - 1}, coalesce(floor((o_totalprice - minp)
                         * {ZQ_CELLS}.0 / nullif(maxp - minp, 0)), 0))::BIGINT AS yq
            FROM orders, bounds
        ),
        z AS (
            SELECT o_orderkey, xq, yq, n,
                   {_interleave_sql('xq', 'yq')} AS zv
            FROM q
        ),
        ranked AS (
            SELECT xq, yq, n, 'natural' AS layout,
                   row_number() OVER (ORDER BY o_orderkey) AS rn FROM z
            UNION ALL
            SELECT xq, yq, n, 'zorder' AS layout,
                   row_number() OVER (ORDER BY zv, o_orderkey) AS rn FROM z
        ),
        files AS (
            SELECT layout,
                   CAST(floor((rn - 1) * {N_FILES}.0 / n) AS BIGINT) AS file_id,
                   (max(xq) - min(xq) + 1) / {ZQ_CELLS}.0 AS sx,
                   (max(yq) - min(yq) + 1) / {ZQ_CELLS}.0 AS sy
            FROM ranked
            GROUP BY layout, file_id
        )
        SELECT layout,
               CAST(count(*) AS BIGINT) AS n_files,
               round(avg(sx), 6) AS avg_x_span,
               round(avg(sy), 6) AS avg_y_span,
               round(avg(sx * sy), 6) AS avg_cell_cover
        FROM files
        GROUP BY layout
    """,
    doc="Z-order (Morton) clustering payoff, measured: orders rows are "
    f"quantized onto a {ZQ_CELLS}x{ZQ_CELLS} (customer x price) grid, "
    f"assigned to {N_FILES} equal files under natural vs Z-order, and each "
    "layout reports the average per-file min/max span of both dimensions "
    "plus the 2-D cell coverage — i.e. the fraction of files a point/range "
    "predicate must scan given parquet data-skipping stats. The layout "
    "sort is a range-partitioned exchange (distributed, like a real "
    "OPTIMIZE ZORDER write); ranks use the monotone-bucket prefix-sum "
    "shape, bounds ship as one broadcast row",
    tags=("layout", "sort"),
)
def q_zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bounds = orders.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min("o_totalprice").alias("minp"),
        F.max("o_totalprice").alias("maxp"),
        F.min("o_orderkey").alias("mino"),
        F.max("o_orderkey").alias("maxo"),
        F.count("*").alias("n"),
    ).withColumn("_k", F.lit(1))
    j = orders.withColumn("_k", F.lit(1)).join(F.broadcast(bounds), "_k")
    xq = F.least(
        F.lit(ZQ_CELLS - 1),
        F.floor(
            (F.col("o_custkey") - F.col("minc"))
            * float(ZQ_CELLS)
            / (F.col("maxc") - F.col("minc") + 1)
        ),
    ).cast("bigint")
    # nullif+coalesce: a degenerate price range (all rows share one
    # o_totalprice) lands in cell 0 instead of producing NaN (ADVICE r3);
    # the xq path is already safe via its integer +1 denominator
    yq = F.least(
        F.lit(ZQ_CELLS - 1),
        F.coalesce(
            F.floor(
                (F.col("o_totalprice") - F.col("minp"))
                * float(ZQ_CELLS)
                / F.nullif(F.col("maxp") - F.col("minp"), F.lit(0.0))
            ),
            F.lit(0).cast("bigint"),
        ),
    ).cast("bigint")
    # materialize the quantized frame once — both layout branches (and the
    # bucket-count aggregates inside their rank computations) reuse it, so
    # the orders scan and the bounds aggregate run a single time
    z = reliable_checkpoint(
        j.select(
            "o_orderkey",
            "mino",
            "maxo",
            "n",
            xq.alias("xq"),
            yq.alias("yq"),
        ).withColumn("zv", _interleave(F.col("xq"), F.col("yq")))
    )

    # natural order: bucket on the (monotone) orderkey range; z-order:
    # the Morton code itself is the bucket (256 values) — both give the
    # rank stage RANK_BUCKETS-way parallelism
    nat_bucket = F.floor(
        (F.col("o_orderkey") - F.col("mino"))
        * float(RANK_BUCKETS)
        / (F.col("maxo") - F.col("mino") + 1)
    )
    ranked = _global_rank_layouts(
        z,
        [
            ("natural", F.col("o_orderkey"), nat_bucket),
            ("zorder", F.col("zv"), F.col("zv")),
        ],
    )
    files = (
        ranked.select(
            "layout",
            F.floor((F.col("rn") - 1) * float(N_FILES) / F.col("n"))
            .cast("bigint")
            .alias("file_id"),
            "xq",
            "yq",
        )
        .groupBy("layout", "file_id")
        .agg(
            ((F.max("xq") - F.min("xq") + 1) / float(ZQ_CELLS)).alias("sx"),
            ((F.max("yq") - F.min("yq") + 1) / float(ZQ_CELLS)).alias("sy"),
        )
    )
    return files.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.round(F.avg("sx"), 6).alias("avg_x_span"),
        F.round(F.avg("sy"), 6).alias("avg_y_span"),
        F.round(F.avg(F.col("sx") * F.col("sy")), 6).alias("avg_cell_cover"),
    )


# -- Hilbert-curve layout: the better-locality twin of Z-order (round 10) -----
#
# The Hilbert curve visits every cell of the 2^b x 2^b grid such that
# CONSECUTIVE indices are always grid neighbors (Morton/Z-order jumps
# across the grid at every power-of-two boundary), so equal-count file
# cuts along the Hilbert rank produce tighter per-file bounding boxes —
# the property Databricks' liquid clustering and Amazon Redshift sort
# keys exploit. The transform here is the classic state-free integer
# xy2d (quadrant fold + reflect/swap rotation per bit level), UNROLLED
# over ZQ_BITS levels so it is a pure column expression in Spark and a
# generated CTE chain in DuckDB — one shared Python generator emits both,
# so the engines agree bit-for-bit with no lookup table to ship.

_HILBERT_QUAD = (
    "CASE WHEN rx{p} = 0 AND ry{p} = 0 THEN 0 WHEN rx{p} = 0 THEN 1 "
    "WHEN ry{p} = 1 THEN 2 ELSE 3 END"
)


def hilbert_xy2d_py(order: int, x: int, y: int) -> int:
    """Reference Python xy2d for tests: Hilbert index of (x, y) on the
    2^order grid. Same quadrant/rotation recurrence the SQL unrolls."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_d_col(df: DataFrame, order: int, xcol: str, ycol: str) -> DataFrame:
    """Append column ``hv`` = Hilbert index of (xcol, ycol); unrolled
    per-bit-level projections, no UDF, no lookup table."""
    df = (
        df.withColumn("hx0", F.col(xcol))
        .withColumn("hy0", F.col(ycol))
        .withColumn("hd0", F.lit(0).cast("bigint"))
    )
    temps: list[str] = ["hx0", "hy0", "hd0"]
    for i in range(order):
        s = 1 << (order - 1 - i)
        p, q = str(i), str(i + 1)
        df = df.withColumn(
            f"rx{p}",
            F.when(F.col(f"hx{p}").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0),
        ).withColumn(
            f"ry{p}",
            F.when(F.col(f"hy{p}").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0),
        )
        quad = (
            F.when((F.col(f"rx{p}") == 0) & (F.col(f"ry{p}") == 0), 0)
            .when(F.col(f"rx{p}") == 0, 1)
            .when(F.col(f"ry{p}") == 1, 2)
            .otherwise(3)
        )
        df = (
            df.withColumn(f"hd{q}", F.col(f"hd{p}") + F.lit(s * s) * quad)
            .withColumn(
                f"hx{q}",
                F.when(F.col(f"ry{p}") == 1, F.col(f"hx{p}"))
                .when(F.col(f"rx{p}") == 1, F.lit(s - 1) - F.col(f"hy{p}"))
                .otherwise(F.col(f"hy{p}")),
            )
            .withColumn(
                f"hy{q}",
                F.when(F.col(f"ry{p}") == 1, F.col(f"hy{p}"))
                .when(F.col(f"rx{p}") == 1, F.lit(s - 1) - F.col(f"hx{p}"))
                .otherwise(F.col(f"hx{p}")),
            )
        )
        temps += [f"rx{p}", f"ry{p}", f"hx{q}", f"hy{q}", f"hd{q}"]
    df = df.withColumn("hv", F.col(f"hd{order}").cast("bigint"))
    return df.drop(*temps)


def _hilbert_sql_ctes(order: int, base: str) -> str:
    """CTE chain h0..h{order} over ``base`` (must expose xq, yq and the
    pass-through columns); h{order} exposes hv. Mirrors hilbert_d_col
    iteration-for-iteration; fresh column names per level avoid the
    lateral-alias-shadowing divergence documented in catalog.py."""
    ctes = [
        f"h0 AS (SELECT *, xq AS hx0, yq AS hy0, CAST(0 AS BIGINT) AS hd0 FROM {base})"
    ]
    for i in range(order):
        s = 1 << (order - 1 - i)
        p, q = str(i), str(i + 1)
        quad = _HILBERT_QUAD.format(p=p)
        ctes.append(
            f"""ha{q} AS (
            SELECT *,
                   CASE WHEN (hx{p} & {s}) > 0 THEN 1 ELSE 0 END AS rx{p},
                   CASE WHEN (hy{p} & {s}) > 0 THEN 1 ELSE 0 END AS ry{p}
            FROM h{p}
        )"""
        )
        ctes.append(
            f"""h{q} AS (
            SELECT *,
                   hd{p} + {s * s} * ({quad}) AS hd{q},
                   CASE WHEN ry{p} = 1 THEN hx{p}
                        WHEN rx{p} = 1 THEN {s - 1} - hy{p}
                        ELSE hy{p} END AS hx{q},
                   CASE WHEN ry{p} = 1 THEN hy{p}
                        WHEN rx{p} = 1 THEN {s - 1} - hx{p}
                        ELSE hx{p} END AS hy{q}
            FROM ha{q}
        )"""
        )
    ctes.append(
        f"hfin AS (SELECT *, CAST(hd{order} AS BIGINT) AS hv FROM h{order})"
    )
    return ",\n        ".join(ctes)


# Fixed probe rectangle for the files-skipped comparison: a 4x4 cell
# region in the middle of the grid (1/16 of the cell space). files_hit =
# files whose per-file (x, y) min/max box intersects it — exactly the
# parquet data-skipping decision for that predicate.
_HQ_LO, _HQ_HI = 4, 7


@register(
    "hilbert_pruning_stats",
    oracle=f"""
        WITH bounds AS (
            SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
                   min(o_totalprice) AS minp, max(o_totalprice) AS maxp,
                   min(o_orderkey) AS mino, max(o_orderkey) AS maxo,
                   count(*) AS n
            FROM orders
        ),
        q AS (
            SELECT o_orderkey, n,
                   least({ZQ_CELLS - 1}, floor((o_custkey - minc) * {ZQ_CELLS}.0
                         / (maxc - minc + 1)))::BIGINT AS xq,
                   least({ZQ_CELLS - 1}, coalesce(floor((o_totalprice - minp)
                         * {ZQ_CELLS}.0 / nullif(maxp - minp, 0)), 0))::BIGINT AS yq
            FROM orders, bounds
        ),
        {_hilbert_sql_ctes(ZQ_BITS, 'q')},
        z AS (
            SELECT o_orderkey, xq, yq, n,
                   {_interleave_sql('xq', 'yq')} AS zv, hv
            FROM hfin
        ),
        ranked AS (
            SELECT xq, yq, n, 'zorder' AS layout,
                   row_number() OVER (ORDER BY zv, o_orderkey) AS rn FROM z
            UNION ALL
            SELECT xq, yq, n, 'hilbert' AS layout,
                   row_number() OVER (ORDER BY hv, o_orderkey) AS rn FROM z
        ),
        files AS (
            SELECT layout,
                   CAST(floor((rn - 1) * {N_FILES}.0 / n) AS BIGINT) AS file_id,
                   (max(xq) - min(xq) + 1) / {ZQ_CELLS}.0 AS sx,
                   (max(yq) - min(yq) + 1) / {ZQ_CELLS}.0 AS sy,
                   CASE WHEN max(xq) >= {_HQ_LO} AND min(xq) <= {_HQ_HI}
                         AND max(yq) >= {_HQ_LO} AND min(yq) <= {_HQ_HI}
                        THEN 1 ELSE 0 END AS hit
            FROM ranked
            GROUP BY layout, file_id
        )
        SELECT layout,
               CAST(count(*) AS BIGINT) AS n_files,
               round(avg(sx), 6) AS avg_x_span,
               round(avg(sy), 6) AS avg_y_span,
               round(avg(sx * sy), 6) AS avg_cell_cover,
               CAST(sum(hit) AS BIGINT) AS files_hit_q
        FROM files
        GROUP BY layout
    """,
    doc="Hilbert-curve clustering vs Z-order, measured on the same "
    f"{ZQ_CELLS}x{ZQ_CELLS} (customer x price) quantization and the same "
    f"{N_FILES} equal-count files as zorder_pruning_stats: per-file "
    "min/max spans, 2-D cell coverage, and files_hit_q — how many files a "
    f"point/range predicate on the fixed {_HQ_HI - _HQ_LO + 1}x"
    f"{_HQ_HI - _HQ_LO + 1}-cell probe rectangle must actually read given "
    "parquet data-skipping stats (the files-SKIPPED comparison at equal "
    "selectivity). The Hilbert index is the state-free integer xy2d "
    "transform (quadrant fold + reflect/swap per bit level) UNROLLED into "
    f"{ZQ_BITS} pure column-expression levels — no UDF, no lookup table; "
    "one Python generator emits both the Spark projection chain and the "
    "DuckDB CTE chain so the engines agree bit-for-bit "
    "(tests/test_round10_growth.py proves the transform is the Hilbert "
    "bijection with unit-step adjacency). Rank/file machinery is the "
    "zorder entry's monotone-bucket prefix-sum — 256-way parallel, "
    "no one-partition window. At 100 TB this decides whether the probe "
    "predicate reads 2 files or 8",
    tags=("layout", "sort"),
)
def q_hilbert_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bounds = orders.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min("o_totalprice").alias("minp"),
        F.max("o_totalprice").alias("maxp"),
        F.count("*").alias("n"),
    ).withColumn("_k", F.lit(1))
    j = orders.withColumn("_k", F.lit(1)).join(F.broadcast(bounds), "_k")
    xq = F.least(
        F.lit(ZQ_CELLS - 1),
        F.floor(
            (F.col("o_custkey") - F.col("minc"))
            * float(ZQ_CELLS)
            / (F.col("maxc") - F.col("minc") + 1)
        ),
    ).cast("bigint")
    yq = F.least(
        F.lit(ZQ_CELLS - 1),
        F.coalesce(
            F.floor(
                (F.col("o_totalprice") - F.col("minp"))
                * float(ZQ_CELLS)
                / F.nullif(F.col("maxp") - F.col("minp"), F.lit(0.0))
            ),
            F.lit(0).cast("bigint"),
        ),
    ).cast("bigint")
    z = reliable_checkpoint(
        hilbert_d_col(
            j.select(
                "o_orderkey", "n", xq.alias("xq"), yq.alias("yq")
            ).withColumn("zv", _interleave(F.col("xq"), F.col("yq"))),
            ZQ_BITS,
            "xq",
            "yq",
        )
    )
    ranked = _global_rank_layouts(
        z,
        [("zorder", F.col("zv"), F.col("zv")), ("hilbert", F.col("hv"), F.col("hv"))],
    )
    files = (
        ranked.select(
            "layout",
            F.floor((F.col("rn") - 1) * float(N_FILES) / F.col("n"))
            .cast("bigint")
            .alias("file_id"),
            "xq",
            "yq",
        )
        .groupBy("layout", "file_id")
        .agg(
            ((F.max("xq") - F.min("xq") + 1) / float(ZQ_CELLS)).alias("sx"),
            ((F.max("yq") - F.min("yq") + 1) / float(ZQ_CELLS)).alias("sy"),
            F.when(
                (F.max("xq") >= _HQ_LO)
                & (F.min("xq") <= _HQ_HI)
                & (F.max("yq") >= _HQ_LO)
                & (F.min("yq") <= _HQ_HI),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    return files.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.round(F.avg("sx"), 6).alias("avg_x_span"),
        F.round(F.avg("sy"), 6).alias("avg_y_span"),
        F.round(F.avg(F.col("sx") * F.col("sy")), 6).alias("avg_cell_cover"),
        F.sum("hit").cast("bigint").alias("files_hit_q"),
    )


# -- bucketed co-located join: the shuffle-free big-x-big path (round 9) ------

BKT_N = 8  # bucket count; production sizes this to cluster parallelism

# One bucketed copy of (orders, lineitem) per sf_dir, written once per
# process into a mkdtemp scratch and registered as EXTERNAL tables in the
# session catalog (explicit path option — nothing lands in
# spark-warehouse/ under the caller's cwd). Cached like the dedup
# signature store (dedup.py:590) so repeated calls reuse the layout.
_BKT_LOCK = __import__("threading").Lock()
_BKT_DIRS: dict[str, str] = {}


def _one_file_per_bucket(path: str, n_buckets: int) -> None:
    """Guard the one-file-per-bucket invariant every bucketed writer in
    this repo must preserve: queries turn on
    spark.sql.legacy.bucketedTableScan.outputOrdering, which is only
    sound when each bucket holds AT MOST one sorted file — multiple files
    per bucket would get a falsely-assumed sort order and could silently
    corrupt sort-merge joins (ADVICE r9). The repartition(n, key) before
    bucketBy guarantees it; this assert makes a future writer that drops
    the repartition fail loudly at write time instead. (Buckets may be
    EMPTY — tiny/empty corpora in the input sweeps legitimately write
    fewer files than buckets; emptiness carries no sort-order hazard.)"""
    import os
    import re

    data_files = [
        f
        for f in os.listdir(path)
        if not f.startswith(("_", ".")) and f.endswith(".parquet")
    ]
    if len(data_files) > n_buckets:
        raise AssertionError(
            f"bucketed table at {path}: {len(data_files)} data files for "
            f"{n_buckets} buckets — the one-file-per-bucket invariant that "
            "legacy.bucketedTableScan.outputOrdering relies on is broken"
        )
    seen: set[str] = set()
    for f in data_files:
        m = re.search(r"_(\d{5})\.c\d+", f)
        bucket = m.group(1) if m else f
        if bucket in seen:
            raise AssertionError(
                f"bucketed table at {path}: bucket {bucket} has multiple "
                "files — the one-file-per-bucket invariant that "
                "legacy.bucketedTableScan.outputOrdering relies on is broken"
            )
        seen.add(bucket)


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    # normalize: trailing slashes / symlinked spellings of the same dir
    # must share one bucketed copy, not silently duplicate it (ADVICE r9)
    sf_dir = os.path.realpath(sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders = f"tbmr_bkt_orders_{tag}"
    t_lineitem = f"tbmr_bkt_lineitem_{tag}"
    with _BKT_LOCK:
        if sf_dir not in _BKT_DIRS:
            scratch = tempfile.mkdtemp(prefix="tbmr-bucketed-")
            _BKT_DIRS[sf_dir] = scratch
            atexit.register(shutil.rmtree, scratch, ignore_errors=True)
        scratch = _BKT_DIRS[sf_dir]
        if not spark.catalog.tableExists(t_orders):
            (
                load_table(spark, sf_dir, "orders")
                .select("o_orderkey", "o_orderpriority", "o_orderdate")
                # one write task per bucket (repartition uses the same
                # murmur3-mod hash family as bucketing) -> exactly ONE
                # sorted file per bucket, which is what lets the reader
                # drop the per-query Sort below the SortMergeJoin
                .repartition(BKT_N, F.col("o_orderkey"))
                .write.bucketBy(BKT_N, "o_orderkey")
                .sortBy("o_orderkey")
                .option("path", f"{scratch}/orders")
                .mode("overwrite")
                .saveAsTable(t_orders)
            )
            _one_file_per_bucket(f"{scratch}/orders", BKT_N)
        if not spark.catalog.tableExists(t_lineitem):
            (
                load_table(spark, sf_dir, "lineitem")
                .select("l_orderkey", "l_extendedprice", "l_discount")
                .repartition(BKT_N, F.col("l_orderkey"))
                .write.bucketBy(BKT_N, "l_orderkey")
                .sortBy("l_orderkey")
                .option("path", f"{scratch}/lineitem")
                .mode("overwrite")
                .saveAsTable(t_lineitem)
            )
            _one_file_per_bucket(f"{scratch}/lineitem", BKT_N)
    return t_orders, t_lineitem


@register(
    "bucketed_join_revenue",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(30,6))) AS DOUBLE), 2) AS revenue
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    doc="The co-located big-x-big join: orders and lineitem are written "
    f"ONCE as bucketed tables ({BKT_N} buckets on the order key, "
    "sorted within bucket) into a scratch warehouse, then joined "
    "bucket-to-bucket — the SortMergeJoin consumes both scans with ZERO "
    "Exchange and ZERO per-query Sort on the join side "
    "(tests/test_round9_growth.py asserts both against the plan; a merge "
    "hint pins SMJ so a small scale factor cannot broadcast the "
    "demonstration away). This is THE 100 TB pattern for repeated "
    "fact-fact joins: pay the shuffle once at layout time, then every "
    "downstream join on the bucket key is embarrassingly parallel with "
    "map-side locality — what Hive/Spark bucketing and Iceberg "
    "bucket-partition transforms ship as storage features. Values are the "
    "plain TPC-H revenue-by-priority rollup, oracle-checked against the "
    "UNBUCKETED tables, proving the layout is value-invisible.",
    tags=("join", "layout", "sink"),
)
def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_orders, t_lineitem = _bucketed_tables(spark, sf_dir)
    # Spark 3+ ignores within-bucket sort order by default (SPARK-24528);
    # with exactly one file per bucket (the repartition above guarantees
    # it, and _one_file_per_bucket ASSERTS it at write time for every
    # bucketed table this repo creates) the order IS reliable, so opt
    # back in — this is what removes the per-query Sort below the
    # SortMergeJoin. Plan-time conf, consulted only for bucketed scans;
    # it stays set for the session, which is sound exactly because the
    # write-time guard keeps the invariant global (ADVICE r9).
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    joined = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,6)"
                )
            ).cast("double"),
            2,
        ).alias("revenue"),
    )
