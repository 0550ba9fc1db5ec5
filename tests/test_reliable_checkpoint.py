"""reliable_checkpoint (VERDICT r2 #3): lineage truncation must survive
executor loss on a real cluster.

- With no checkpoint dir (local/test default) it falls back to
  ``localCheckpoint`` — eager, executor-local, fine when executor == driver.
- With ``spark.checkpoint.dir`` set (every production deployment) it uses
  reliable ``df.checkpoint()``: blocks live in the cluster filesystem, so a
  lost executor's partitions are re-read instead of failing the job.

The iterative pipelines (dedup_clusters star-contraction rounds,
kmeans_train Lloyd rounds) must produce identical results in both modes.
"""

from __future__ import annotations

import pytest

from thread_based_map_reduce_spark.session import reliable_checkpoint


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """Set a reliable checkpoint dir for the duration of one test."""
    jsc = spark.sparkContext
    jsc.setCheckpointDir(str(tmp_path / "ckpt"))
    yield str(tmp_path / "ckpt")
    # Option(null) → None in Scala: restores the no-dir (local) mode
    jsc._jsc.sc().setCheckpointDir(None)


def test_local_mode_uses_local_checkpoint(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = reliable_checkpoint(spark.range(10))
    assert df.count() == 10
    # localCheckpoint marks the underlying RDD as locally checkpointed
    assert df.rdd.context.getCheckpointDir() is None


def test_reliable_mode_writes_checkpoint_files(spark, checkpoint_dir):
    import glob

    df = reliable_checkpoint(spark.range(100))
    assert df.count() == 100
    # reliable checkpoint materializes block files under the configured dir
    assert glob.glob(checkpoint_dir + "/*/rdd-*"), "no checkpoint files written"


def test_dedup_clusters_green_with_checkpoint_dir(spark, sf_dir, checkpoint_dir):
    from thread_based_map_reduce_spark.operators.dedup import q_dedup_clusters

    rows = q_dedup_clusters(spark, sf_dir).collect()
    assert len(rows) > 0
    # every member's cluster id is the min doc_id of its cluster
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r.doc_id)
    assert all(c == min(members) for c, members in by_cluster.items())


def test_kmeans_green_with_checkpoint_dir(spark, sf_dir, checkpoint_dir):
    from thread_based_map_reduce_spark.operators.similarity import kmeans_train

    assignments, inertia = kmeans_train(spark, sf_dir, k=4, iters=2)
    assert assignments.count() > 0
    # Lloyd iterations never increase inertia
    assert all(b <= a + 1e-9 for a, b in zip(inertia, inertia[1:]))


def test_full_runs_leave_no_local_checkpoint_rdds(
    spark, sf_dir, checkpoint_dir, monkeypatch
):
    """VERDICT r3 next-round #6: with a checkpoint dir configured (every
    cluster deployment), a full dedup_clusters + kmeans_train run must use
    reliable checkpoints exclusively — a single surviving localCheckpoint
    would make the job unrecoverable on executor loss. dedup_clusters runs
    with a driver edge budget of 0, so its result comes from the
    distributed star-contraction rounds (a graph small enough for the
    driver's union-find comes back as driver rows, with no lineage)."""
    import glob

    from thread_based_map_reduce_spark.operators import dedup
    from thread_based_map_reduce_spark.operators.dedup import q_dedup_clusters
    from thread_based_map_reduce_spark.operators.similarity import kmeans_train

    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 0)
    clusters = q_dedup_clusters(spark, sf_dir)
    assert clusters.count() > 0
    assignments, _ = kmeans_train(spark, sf_dir, k=4, iters=2)
    assert assignments.count() > 0

    for name, df in (("dedup_clusters", clusters), ("kmeans", assignments)):
        dbg = df.rdd.toDebugString().decode()
        assert "localCheckpoint" not in dbg, (
            f"{name}: localCheckpoint RDD survives with a checkpoint dir set"
        )
        assert "ReliableCheckpointRDD" in dbg or "at checkpoint at" in dbg, (
            f"{name}: no reliable checkpoint in the final lineage"
        )
    # and the blocks really landed in the cluster-filesystem stand-in
    assert glob.glob(checkpoint_dir + "/*/rdd-*"), "no checkpoint files written"
