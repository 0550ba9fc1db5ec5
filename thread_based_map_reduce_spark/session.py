"""SparkSession factory.

The reference engine is configured with a single ``multiThreadLevel`` knob
(``MapReduceFramework.h:18-20``); our equivalent is the local[N] core count
plus shuffle parallelism. N is ``$SPARK_GRAFT_CPUS``, else the cores this
process may run on; the driver heap is ``$TBMR_DRIVER_MEM`` (default 24g).
The builders here only *default* — any externally supplied session (e.g. the
driver's) works with every operator in this package, because query builders
pin the session-level settings they rely on (UTC timezone) at call time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "pin_session_defaults", "reliable_checkpoint"]


def get_spark(
    app_name: str = "tbmr-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for local[N] analytics.

    - AQE on: runtime coalescing, skew-join splitting — our stand-in for the
      reference's dynamic work-queue load balancing
      (``MapReduceFramework.cpp:213-226``), but across partitions.
    - shuffle.partitions ≈ cores: local mode has no network; 200 default
      over-parallelizes small scale factors.
    - Arrow on: every Python-side operator in this package is Arrow-batched.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if extra_conf and SparkSession.getActiveSession() is not None:
        # getOrCreate silently ignores builder conf on reuse — a caller
        # relying on static conf (e.g. an event log) would otherwise
        # measure nothing with no error (ADVICE r6).
        import warnings

        warnings.warn(
            "get_spark(extra_conf=...) with an active session: static conf "
            f"{sorted(extra_conf)} will NOT be applied by getOrCreate; stop "
            "the active session first if you need it.",
            RuntimeWarning,
            stacklevel=2,
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("TBMR_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # 64 MiB: dimension tables (region/nation/supplier/customer/part)
        # stay broadcast-able well past sf0.1 so fact-side joins never shuffle
        # the big side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Static conf (event log, etc.) for measurement harnesses; only
    # effective when this call actually CREATES the session — getOrCreate
    # ignores builder conf on reuse, so callers needing it must stop the
    # active session first.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_defaults(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable conf this package's query semantics rely on.

    Called by every catalog query so results are deterministic even on a
    session we did not build (the driver supplies its own). Timestamps in
    the testdata parquet are UTC instants; DuckDB oracles see them as
    UTC-naive, so the session timezone must be UTC for string/date
    projections to agree.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def reliable_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage, fault-tolerantly when
    the session allows it (VERDICT r2 "what's wrong" #2).

    Iterative pipelines (``connected_components`` star-contraction rounds,
    ``kmeans_train`` Lloyd rounds) and multi-consumer intermediates (the
    MinHash signature table) must cut lineage each round or the plan grows
    without bound. ``localCheckpoint()`` does that but stores blocks on
    executor-LOCAL disk/memory with no lineage left to recompute them: on a
    1000-executor cluster, ONE lost executor makes those partitions
    unrecoverable and fails the job. So:

    - if ``spark.checkpoint.dir`` is set (any production deployment points
      it at HDFS/S3), use reliable ``df.checkpoint()`` — blocks live in the
      cluster filesystem and survive executor loss;
    - else (local mode, tests) fall back to ``localCheckpoint()``, where
      executor == driver and the distinction is moot.

    Both are eager, so callers see identical materialize-now semantics.
    """
    sc = df.sparkSession.sparkContext
    # getCheckpointDir returns None unless spark.checkpoint.dir was set or
    # sc.setCheckpointDir was called.
    if sc.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
