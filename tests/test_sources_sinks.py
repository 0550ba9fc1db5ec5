"""Source/sink coverage: format round-trips, partitioned writes with
partition pruning, the in-memory source (the reference's InputVec, R1),
and scan-level pushdown (PushedFilters / pruned ReadSchema)."""

from __future__ import annotations

import os
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from thread_based_map_reduce_spark.sources.registry import (
    TABLE_NAMES,
    _normalize_event_ts,
    from_rows,
    load_table,
    read_source,
    table_row_count,
    write_sink,
)

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _set_conf(spark, key, value):
    """Set ``key`` to ``value``, or unset it when ``value`` is None."""
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_roundtrip_formats(spark, sf_dir):
    src = load_table(spark, sf_dir, "nation")
    want = _sorted_rows(src, src.columns)
    for fmt in ("parquet", "csv", "json", "orc"):
        out = tempfile.mkdtemp(prefix=f"tbmr-sink-{fmt}-")
        write_sink(src, out, fmt=fmt)
        back = read_source(spark, out, fmt=fmt, schema=src.schema)
        assert _sorted_rows(back, src.columns) == want, fmt


def test_partitioned_write_prunes(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    out = tempfile.mkdtemp(prefix="tbmr-part-")
    write_sink(li, out, partition_by=["l_returnflag"])
    back = read_source(spark, out).where(F.col("l_returnflag") == "R")
    plan = back.explain_string if hasattr(back, "explain_string") else None
    formatted = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in formatted and "l_returnflag" in formatted
    want = li.where(F.col("l_returnflag") == "R").count()
    assert back.count() == want > 0


def test_in_memory_source(spark):
    df = from_rows(spark, [(1, "a"), (2, "b")], schema="k long, v string")
    assert _sorted_rows(df, ["k", "v"]) == [(1, "a"), (2, "b")]


def test_scan_pushdown_and_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    formatted = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # predicate reaches the scan; scan reads only the two needed columns
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in formatted
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in formatted


def test_observe_metrics_during_action(spark, sf_dir):
    # df.observe: accumulate metrics inside the action, no second scan
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("lineitem-metrics")
    li = load_table(spark, sf_dir, "lineitem").observe(
        obs, F.count(F.lit(1)).alias("rows"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )
    n = li.count()
    got = obs.get
    assert got["rows"] == n > 0
    want = load_table(spark, sf_dir, "lineitem").agg(
        F.round(F.sum("l_quantity"), 2)
    ).first()[0]
    assert got["qty"] == want


def test_parquet_schema_evolution_mergeschema(spark, tmp_path_factory):
    """Schema evolution on the parquet source: a later batch adds a column;
    mergeSchema unions the schemas, old rows surface NULL for the new
    column — the append-only ingest pattern a 100 TB landing table needs."""
    import os

    from pyspark.sql import functions as F

    from thread_based_map_reduce_spark.sources.registry import read_source, write_sink

    root = str(tmp_path_factory.mktemp("evolve"))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    v2 = spark.createDataFrame([(3, "c", 30.0)], "id long, s string, score double")
    write_sink(v1, os.path.join(root, "batch=1"))
    write_sink(v2, os.path.join(root, "batch=2"))

    merged = read_source(spark, root, "parquet", mergeSchema="true", recursiveFileLookup="true")
    assert set(merged.columns) == {"id", "s", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[3].score == 30.0
    assert merged.count() == 3
    # and the evolved column is filterable with pushdown intact
    assert merged.where(F.col("score") > 10).count() == 1


def test_events_ts_both_parquet_vintages(spark, sf_dir, tmp_path_factory):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) and as plain µs
    TIMESTAMP_NTZ across testdata generations; load_table must surface the
    SAME UTC microsecond timestamps for either file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path_factory.mktemp("vintages")
    micros = [1704067200_000000, 1704070800_123456]  # 2024-01-01T00/+1h UTC
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "signup"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    for sub, ts_arr in {
        "nanos": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
        "micros": pa.array(micros, pa.timestamp("us")),
    }.items():
        d = base / sub
        d.mkdir()
        pq.write_table(
            pa.table({**cols, "ts": ts_arr}), str(d / "events.parquet")
        )

    got = {}
    for sub in ("nanos", "micros"):
        df = load_table(spark, str(base / sub), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got[sub] = sorted(
            (r.event_id, r.ts.isoformat()) for r in df.select("event_id", "ts").collect()
        )
    assert got["nanos"] == got["micros"]
    assert got["micros"][0][1].startswith("2024-01-01T00:00:00")
    assert got["micros"][1][1].endswith("00:00.123456")


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_table_schema_equals_spark_inference(spark, sf_dir, name):
    """The footer schema load_table hands the reader is the one Spark's own
    schema inference gives (``events`` after the same ts normalization)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        prev = spark.conf.get(NANOS_AS_LONG, None)
        spark.conf.set(NANOS_AS_LONG, "true")
        try:
            raw = spark.read.parquet(path)
        finally:
            _set_conf(spark, NANOS_AS_LONG, prev)
        want = raw.withColumn("ts", _normalize_event_ts(raw)).schema
    else:
        want = spark.read.parquet(path).schema
    assert load_table(spark, sf_dir, name).schema == want


def test_load_table_starts_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    group = f"load-table-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "load every testdata table")
    try:
        for name in TABLE_NAMES:
            load_table(spark, sf_dir, name)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("prev", [None, "false"])
def test_load_events_leaves_nanos_conf_alone(spark, tmp_path, prev):
    """A TIMESTAMP(NANOS) events file loads and scans with the session's
    nanosAsLong unset or false, and load_table leaves that setting as it
    found it."""
    micros = [1704067200_000000, 1704070800_123456]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    before = spark.conf.get(NANOS_AS_LONG, None)
    _set_conf(spark, NANOS_AS_LONG, prev)
    try:
        df = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS_AS_LONG, None) == prev
        got = sorted(r.ts.isoformat() for r in df.collect())
        assert spark.conf.get(NANOS_AS_LONG, None) == prev
    finally:
        _set_conf(spark, NANOS_AS_LONG, before)
    assert got == ["2024-01-01T00:00:00", "2024-01-01T01:00:00.123456"]


def test_load_table_missing_file_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as err:
        load_table(spark, str(tmp_path), "orders")
    assert err.value.getCondition() == "PATH_NOT_FOUND"


def test_load_table_reads_a_file_replaced_at_the_same_path(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([7], pa.int32()), "r_name": pa.array(["ASIA"])}),
        path,
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [("r_regionkey", "int"), ("r_name", "string")]
    assert [tuple(r) for r in df.collect()] == [(7, "ASIA")]


def test_table_row_count_recounts_a_file_replaced_at_the_same_path(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    pq.write_table(pa.table({"n_nationkey": pa.array(range(3), pa.int64())}), path)
    assert table_row_count(spark, str(tmp_path), "nation") == 3
    pq.write_table(pa.table({"n_nationkey": pa.array(range(5), pa.int64())}), path)
    assert table_row_count(spark, str(tmp_path), "nation") == 5
