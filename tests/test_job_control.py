"""Lifecycle tests mirroring the reference's edge cases (SURVEY §5.2.5):
empty input rejected (MapReduceFramework.cpp:329), bad parallelism rejected
(:326), repeated waitForJob safe (:369-374), close-after-close safe
(:406-410), progress states well-formed (:383-402).

"Empty input" is the reference's ``InputVec`` contract: every leaf relation
of the plan is empty. A map that emits nothing is not empty input.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from thread_based_map_reduce_spark.jobs import JobError, JobState, Stage, start_map_reduce_job
from thread_based_map_reduce_spark.mapreduce import run_map_reduce
from thread_based_map_reduce_spark.sources.registry import load_table


def _plan(spark, n=200_000):
    # a two-stage plan (map → exchange → reduce), slow enough to observe
    return (
        spark.range(n)
        .select((F.col("id") % 512).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )


def test_async_start_wait_result(spark):
    h = start_map_reduce_job(_plan(spark))
    rows = h.wait_for_job()
    assert len(rows) == 512
    # repeated wait is idempotent and returns the same result
    assert len(h.wait_for_job()) == 512
    h.close()
    h.close()  # double close: warning-level no-op, no crash


def test_get_job_state_shape(spark):
    h = start_map_reduce_job(_plan(spark, 2_000_000))
    seen = set()
    for _ in range(200):
        st = h.get_job_state()
        assert isinstance(st, JobState)
        assert st.stage in set(Stage)
        assert 0.0 <= st.percentage <= 100.0
        seen.add(st.stage)
        if not h._thread.is_alive():
            break
        time.sleep(0.01)
    h.wait_for_job()
    final = h.get_job_state()
    assert final.stage is Stage.REDUCE and final.percentage == 100.0
    h.close()


def test_empty_input_rejected(spark):
    empty = spark.range(0)
    with pytest.raises(JobError, match="empty"):
        start_map_reduce_job(empty)


def _mr_plan(spark, map_fn, n=100):
    return run_map_reduce(
        spark.range(n),
        map_fn,
        lambda key, pdf: [(key[0], len(pdf))],
        map_schema="k long, v long",
        out_schema="k long, n long",
        key_cols=["k"],
    )


def test_map_emitting_nothing_is_not_empty_input(spark):
    h = start_map_reduce_job(_mr_plan(spark, lambda row: []))
    assert h.wait_for_job() == []
    h.close()


def test_start_launches_at_most_one_spark_job(spark):
    # the empty-input check probes the input scan, not the whole
    # map -> shuffle -> reduce plan
    sc = spark.sparkContext
    group = f"caller-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "empty-input probe")
    try:
        h = start_map_reduce_job(_mr_plan(spark, lambda row: [(row.id % 7, row.id)]))
    finally:
        sc._jsc.clearJobGroup()
    assert len(h.wait_for_job()) == 7
    h.close()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1


def test_zero_row_parquet_input_rejected(spark, tmp_path):
    pq.write_table(
        pa.table({"o_orderkey": pa.array([], pa.int64())}), tmp_path / "orders.parquet"
    )
    orders = load_table(spark, str(tmp_path), "orders")
    with pytest.raises(JobError, match="empty"):
        start_map_reduce_job(orders)


def test_one_non_empty_leaf_is_enough(spark):
    h = start_map_reduce_job(spark.range(0).union(spark.range(5)))
    assert len(h.wait_for_job()) == 5
    h.close()


def test_cte_reference_leaves_are_probed_through_their_definition(spark):
    # a CTE referenced twice stays a WithCTE whose CTERelationRef leaves
    # cannot run on their own
    spark.range(0).createOrReplaceTempView("job_control_empty")
    spark.range(3).createOrReplaceTempView("job_control_three")
    sql = "WITH a AS (SELECT id FROM {}) SELECT * FROM a JOIN a b USING (id)"
    with pytest.raises(JobError, match="empty"):
        start_map_reduce_job(spark.sql(sql.format("job_control_empty")))
    h = start_map_reduce_job(spark.sql(sql.format("job_control_three")))
    assert len(h.wait_for_job()) == 3
    h.close()


def test_bad_parallelism_rejected(spark):
    with pytest.raises(JobError, match="multi_thread_level"):
        start_map_reduce_job(spark.range(10), multi_thread_level=0)
    with pytest.raises(JobError, match="multi_thread_level"):
        start_map_reduce_job(spark.range(10), multi_thread_level=-4)


def test_closed_handle_raises(spark):
    h = start_map_reduce_job(spark.range(10))
    h.wait_for_job()
    h.close()
    with pytest.raises(JobError):
        h.wait_for_job()
    with pytest.raises(JobError):
        h.get_job_state()


def test_failing_job_surfaces_error(spark):
    bad = spark.range(10).selectExpr("CAST('nope' AS BIGINT) + id AS x")  # ANSI cast error
    h = start_map_reduce_job(bad)
    with pytest.raises(Exception):
        h.wait_for_job()
    h.close()


def test_between_stages_shuffle_respects_monotone_clamp():
    """ADVICE r1: the 'between stages' SHUFFLE/100 report must route through
    the monotone clamp — after REDUCE progress has been observed, a stage
    gap must not regress the observable state back to SHUFFLE."""
    from thread_based_map_reduce_spark.jobs import JobHandle, JobState, Stage

    h = JobHandle.__new__(JobHandle)  # no job needed: clamp is pure state
    h._last_stage, h._last_pct = Stage.UNDEFINED, 0.0

    assert h._clamped(Stage.MAP, 40.0) == JobState(Stage.MAP, 40.0)
    assert h._clamped(Stage.SHUFFLE, 100.0) == JobState(Stage.SHUFFLE, 100.0)
    assert h._clamped(Stage.REDUCE, 30.0) == JobState(Stage.REDUCE, 30.0)
    # the regression ADVICE flagged: between-stages gap while reducing
    assert h._clamped(Stage.SHUFFLE, 100.0) == JobState(Stage.REDUCE, 30.0)
    # same-stage percentage never moves backwards either
    assert h._clamped(Stage.REDUCE, 10.0) == JobState(Stage.REDUCE, 30.0)
    assert h._clamped(Stage.REDUCE, 80.0) == JobState(Stage.REDUCE, 80.0)
