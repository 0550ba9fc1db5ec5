"""Sources: table registry + generic readers.

The reference's only source is an in-memory ``InputVec`` handed to
``startMapReduceJob`` (``MapReduceClient.h:50``,
``MapReduceFramework.cpp:322-324``) — the client marshals all data itself.
Our engine's native sources are columnar parquet scans (predicate pushdown +
column pruning for free), with csv/json readers for parity with ad-hoc
marshalling, and ``from_rows`` as the literal ``InputVec`` equivalent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor we target;
# used by operators to hint joins explicitly rather than trusting the
# size-estimate threshold.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "customer", "part"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Columnar parquet — Catalyst pushes filters
    and prunes columns into this scan, which is the whole point of
    expressing queries declaratively (SURVEY.md §4).

    ``events.ts`` arrives in two testdata vintages: parquet
    TIMESTAMP(NANOS) — which Spark's vectorized reader rejects outright, so
    we read it as raw nanos (``nanosAsLong``) and floor to microsecond
    timestamps (verified lossless; no sub-microsecond residue) — or plain
    µs TIMESTAMP without timezone, which Spark surfaces as TIMESTAMP_NTZ.
    Both normalize to session-UTC TIMESTAMP so every downstream window /
    watermark / oracle sees one type with DuckDB-identical wall values.
    """
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        # Scoped: nanosAsLong only needs to be set while the parquet footer
        # schema is resolved (eager, at read time); restore the caller's
        # value so unrelated TIMESTAMP(NANOS) reads on this (possibly
        # caller-supplied) session are not silently surfaced as longs.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            raw = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        return raw.withColumn("ts", _normalize_event_ts(raw))
    return spark.read.parquet(path)


def _normalize_event_ts(raw: "DataFrame"):
    """Column expression turning either ``ts`` vintage into UTC TIMESTAMP."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = raw.schema["ts"].dataType
    if isinstance(dt, T.LongType):  # nanos vintage via nanosAsLong
        return F.timestamp_micros(F.expr("ts div 1000"))
    # TIMESTAMP_NTZ vintage: naive micros; session tz is pinned to UTC
    # (session.py), so the cast reinterprets the same wall-clock instant.
    return F.col("ts").cast(T.TimestampType())


_ROW_COUNT_CACHE: dict[str, int] = {}


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a testdata table, memoized per path for the process.

    Operators gate explicit ``broadcast()`` hints on measured row counts
    (never on guesses); a parquet count-star is metadata-cheap but still a
    separate Spark job, so repeated builder invocations shouldn't re-pay
    it. Testdata is immutable, which makes the cache safe here; a
    production deployment over mutable tables would key this on a table
    snapshot/version instead.
    """
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    if path not in _ROW_COUNT_CACHE:
        _ROW_COUNT_CACHE[path] = load_table(spark, sf_dir, name).count()
    return _ROW_COUNT_CACHE[path]


# Inputs below this byte total can be under-parallel: a scan yields at
# most ~one task per 128 MB split (and a single-row-group file yields ONE
# task no conf can split — row groups are the parallelism floor), which
# serializes every downstream map-only operator. 4 GB = 32 cores x the
# default 128 MB split: below it a scan cannot reach full local
# parallelism from splits alone (measured r12: a 120 MB one-file corpus
# ran a map-only filter serially for 600+ s; spread, ~25 s).
SPREAD_SMALL_MAX_BYTES = 4 * 1024**3


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan to full core parallelism — ONLY when
    the entire input is tiny (guide §2.5/§6: a one-row-group KB-scale file
    scans as ONE task, serializing map-only pipelines; at 100 TB the scan
    has thousands of splits and this helper is a no-op, so no corpus-sized
    shuffle is ever introduced). The repartition cost is bounded by the
    smallness test itself: it fires only when total input bytes <
    SPREAD_SMALL_MAX_BYTES (4 GB — cores x the 128 MB split
    size; one round of the cluster's scan bandwidth) AND the scan is
    under core-parallel from splits alone. Deterministic output
    (round-robin sorts locally before assigning, SPARK-23207),
    row-identical — safe for every oracle-checked consumer."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if cores <= 1:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:  # synthetic frames (tests) are already parallelized
        return df
    total = 0
    for f in files:
        p = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            return df  # non-local storage: stay out of the way
    if total >= SPREAD_SMALL_MAX_BYTES or len(files) >= cores:
        return df
    return df.repartition(cores)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once: ``t = load_tables(spark, d, "orders", ...)``."""
    return {name: load_table(spark, sf_dir, name) for name in names or TABLE_NAMES}


def read_source(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options) -> DataFrame:
    """Generic reader covering the formats the engine supports as sources.

    ``schema`` should be supplied for csv/json in production use — schema
    inference is a full extra pass over the data.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "parquet":
        return reader.options(**options).parquet(path)
    if fmt == "csv":
        options.setdefault("header", "true")
        return reader.options(**options).csv(path)
    if fmt == "json":
        return reader.options(**options).json(path)
    if fmt == "orc":
        return reader.options(**options).orc(path)
    raise ValueError(f"unsupported source format {fmt!r}")


def write_sink(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Generic sink covering the engine's output formats.

    The reference's only sink is the shared in-memory ``OutputVec``
    (``MapReduceFramework.cpp:158-161``); ours are durable columnar files.
    ``partition_by`` writes hive-style directories so later reads get
    partition pruning (PartitionFilters in the scan).
    """
    writer = df.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "orc":
        writer.orc(path)
    else:
        raise ValueError(f"unsupported sink format {fmt!r}")


def from_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """The reference's in-memory source (R1): caller-built rows → DataFrame.

    Mirrors ``InputVec`` (``MapReduceClient.h:50``) — any iterable of rows
    plus an explicit schema; Arrow-backed when rows is a pandas DataFrame.
    """
    return spark.createDataFrame(rows, schema=schema)
