"""Sources: table registry + generic readers.

The reference's only source is an in-memory ``InputVec`` handed to
``startMapReduceJob`` (``MapReduceClient.h:50``,
``MapReduceFramework.cpp:322-324``) — the client marshals all data itself.
Our engine's native sources are columnar parquet scans (predicate pushdown +
column pruning for free), with csv/json readers for parity with ad-hoc
marshalling, and ``from_rows`` as the literal ``InputVec`` equivalent.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

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

    The schema comes from the file's parquet footer, read on the driver by
    ``_footer_schema`` with Spark's own converter, and is handed to the
    reader, so loading a table starts no Spark job (plain
    ``spark.read.parquet`` infers it with a one-task job per call). There
    is no memo: every call reads the footer of the file it loads. A table
    stored as a directory, or a missing path, goes to Spark's own schema
    inference under the session's settings, which also raises its usual
    ``PATH_NOT_FOUND``.

    ``events.ts`` arrives in two testdata vintages: parquet
    TIMESTAMP(NANOS) — which Spark's vectorized reader rejects outright, so
    its footer is converted with ``nanosAsLong`` (raw nanos as a long) and
    floored to microsecond timestamps (verified lossless; no sub-microsecond
    residue) — or plain µs TIMESTAMP without timezone, which Spark surfaces
    as TIMESTAMP_NTZ. Both normalize to session-UTC TIMESTAMP so every
    downstream window / watermark / oracle sees one type with
    DuckDB-identical wall values. ``nanosAsLong`` is an argument of the
    converter only: the session's ``spark.sql.legacy.parquet.nanosAsLong``
    is never touched.
    """
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _footer_schema(spark, path, nanos_as_long=name == "events")
    reader = spark.read if schema is None else spark.read.schema(schema)
    raw = reader.parquet(path)
    if name == "events":
        return raw.withColumn("ts", _normalize_event_ts(raw))
    return raw


def _footer_schema(
    spark: SparkSession, path: str, nanos_as_long: bool = False
) -> StructType | None:
    """Spark schema of the single parquet file at ``path``, read from its
    footer on the driver (no Spark job); ``None`` when ``path`` is not a
    file (a directory or a missing path), for the caller to hand to Spark.

    It reads and converts the footer exactly as schema inference does
    (``ParquetFileFormat.mergeSchemasInParallel`` in Spark 4.1): a schema
    Spark stored in the file's row-metadata key wins; otherwise the parquet
    types are converted under the session's binaryAsString,
    INT96AsTimestamp, inferTimestampNTZ, nanosAsLong and
    respectUnknownTypeAnnotation flags and the converter's defaults for
    the rest. ``nanos_as_long`` forces nanosAsLong on for this conversion
    only.
    """

    def jclass(name):  # by full name: one py4j round trip per use, not per package
        return JavaClass(name, spark._jvm._gateway_client)

    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    hpath = jclass("org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(hconf)
    if not fs.isFile(hpath):
        return None
    pq = "org.apache.spark.sql.execution.datasources.parquet."
    fmt = getattr(jclass(pq + "ParquetFileFormat$"), "MODULE$")
    converter_cls = jclass(pq + "ParquetToSparkSchemaConverter")

    def default(i):  # the converter's i-th constructor default
        return getattr(converter_cls, f"$lessinit$greater$default${i}")()

    sql_conf = state.conf()
    converter = converter_cls(
        sql_conf.isParquetBinaryAsString(),
        sql_conf.isParquetINT96AsTimestamp(),
        default(3),  # caseSensitive
        sql_conf.parquetInferTimestampNTZEnabled(),
        nanos_as_long or sql_conf.legacyParquetNanosAsLong(),
        default(6),  # useFieldId
        default(7),  # ignoreVariantAnnotation
        sql_conf.parquetReaderRespectUnknownTypeAnnotation(),
    )
    files = jclass("org.apache.spark.api.python.PythonUtils").toSeq([fs.getFileStatus(hpath)])
    footer = fmt.readParquetFootersInParallel(hconf, files, False).head()
    return _parse_datatype_json_string(fmt.readSchemaFromFooter(footer, converter).json())


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


# The one memo of derived artifacts of an input directory (row counts,
# bucketed and signature tables, checkpointed frames, scratch dirs), so
# every builder shares one rule for when an artifact may be reused.
# Reentrant: builds nest (the curation flag build calls other builders).
_MEMO_LOCK = threading.RLock()
# key -> (input version, artifact, scratch dirs its build made)
_MEMO: dict[tuple[str, str, str], tuple[tuple, object, tuple[str, ...]]] = {}
# Per thread, one list per memo build in progress: ``_scratch_dir``
# records each directory it makes in the innermost one.
_BUILDS = threading.local()


def _input_version(sf_dir: str) -> tuple | None:
    """(entry name, inode, size, mtime_ns) of every entry in ``sf_dir``,
    one level deep and following symlinks; ``None`` when the directory (or
    one of its entries) cannot be read. The whole directory counts, so no
    builder has to list the tables it reads."""
    try:
        with os.scandir(sf_dir) as it:
            stats = [(e.name, e.stat()) for e in it]
    except OSError:
        return None
    return tuple(sorted((n, st.st_ino, st.st_size, st.st_mtime_ns) for n, st in stats))


def _input_memo(spark: SparkSession, sf_dir: str, name: str, build):
    """``build()``'s result, computed at most once per (session,
    ``realpath(sf_dir)``, ``name``) and input version (see
    ``_input_version``). A file replaced at the same path, a new session,
    or another spelling of the same directory is never served the wrong
    artifact: a changed version rebuilds and replaces the entry. A
    directory that cannot be read is not memoized. A process has one
    live SparkContext, so entries of any other applicationId belong to
    stopped sessions and are dropped, together with the ``_scratch_dir``
    directories their builds made. An entry rebuilt within a live session
    keeps its old directories until interpreter exit: a caller may still
    hold a lazy frame over them."""
    real = os.path.realpath(sf_dir)
    app = spark.sparkContext.applicationId
    key = (app, real, name)
    with _MEMO_LOCK:
        for stale in [k for k in _MEMO if k[0] != app]:
            for path in _MEMO.pop(stale)[2]:
                shutil.rmtree(path, ignore_errors=True)
        version = _input_version(real)
        if version is None:
            return build()
        hit = _MEMO.get(key)
        if hit is not None and hit[0] == version:
            return hit[1]
        if not hasattr(_BUILDS, "dirs"):
            _BUILDS.dirs = []
        builds = _BUILDS.dirs
        builds.append([])
        try:
            value = build()
        finally:
            dirs = builds.pop()
        _MEMO[key] = (version, value, tuple(dirs))
        return value


def _scratch_dir(prefix: str) -> str:
    """A fresh temporary directory, removed when the ``_input_memo`` entry
    whose build made it is dropped, else at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    builds = getattr(_BUILDS, "dirs", None)
    if builds:
        builds[-1].append(path)
    return path


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a testdata table, memoized per input version.

    Operators gate explicit ``broadcast()`` hints on measured row counts
    (never on guesses); a parquet count-star is metadata-cheap but still a
    separate Spark job, so repeated builder invocations shouldn't re-pay
    it (``_input_memo``: a file replaced at the same path is counted
    again).
    """
    return _input_memo(
        spark, sf_dir, f"row_count:{name}", lambda: load_table(spark, sf_dir, name).count()
    )


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
