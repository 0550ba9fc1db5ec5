"""Async job handles with stage/percentage progress — parity with the
reference's job-control surface (``MapReduceFramework.h:18-24``):

    startMapReduceJob → start_map_reduce_job   (async, returns a handle)
    waitForJob        → JobHandle.wait_for_job (idempotent join)
    getJobState       → JobHandle.get_job_state → JobState{stage, percentage}
    closeJobHandle    → JobHandle.close / context manager

The reference tracks progress in a packed 64-bit atomic
(``MapReduceFramework.cpp:13-46``); we read Spark's ``StatusTracker``
instead: the action thread tags its job group, and ``get_job_state`` maps
the live stage graph onto the reference's MAP/SHUFFLE/REDUCE labels —
pre-shuffle stages are MAP, post-shuffle stages are REDUCE, and SHUFFLE is
the instant between them (the exchange itself has no tasks of its own;
SURVEY §7 hardness note (b)).

Empty input is rejected at start, like the reference's ``InputVec`` size
check (``MapReduceFramework.cpp:326-331``). "Empty input" means every leaf
relation of the plan (each scan, range or local relation) is empty; a
``map_fn`` that emits nothing over a non-empty input is not an error, and
the job simply returns ``[]``.
"""

from __future__ import annotations

import threading
import uuid
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame


class Stage(Enum):
    UNDEFINED = 0  # matches UNDEFINED_STAGE, MapReduceFramework.h:9
    MAP = 1
    SHUFFLE = 2
    REDUCE = 3


@dataclass
class JobState:
    stage: Stage
    percentage: float  # 0..100, clamped like MapReduceFramework.cpp:400-401


class JobError(ValueError):
    """Invalid job arguments (the reference prints + exits,
    MapReduceFramework.cpp:326-331; we raise)."""


class JobHandle:
    """Owns one background action; safe to wait on repeatedly and to close
    twice (the reference joins exactly once via ``waiting_for_completion``,
    MapReduceFramework.cpp:365-378, and warns on null/closed handles)."""

    def __init__(self, df: DataFrame, collect: bool):
        self._sc = df.sparkSession.sparkContext
        self._group = f"tbmr-job-{uuid.uuid4().hex[:12]}"
        self._result: list | None = None
        self._error: BaseException | None = None
        self._closed = False
        # monotone progress memory: the reference's stage/pct progression
        # never moves backwards (packed counter only increments,
        # MapReduceFramework.cpp:13-46); AQE submits stages incrementally so
        # the raw stage-graph labeling can regress — clamp it.
        self._last_stage = Stage.UNDEFINED
        self._last_pct = 0.0

        def action() -> None:
            try:
                self._sc.setJobGroup(self._group, "tbmr map/reduce job")
                if collect:
                    self._result = df.collect()
                else:
                    df.count()
                    self._result = []
            except BaseException as e:  # surfaced on wait, like job abort
                self._error = e

        self._thread = threading.Thread(target=action, daemon=True, name=self._group)
        self._thread.start()

    # -- waitForJob (idempotent: joining a finished thread is a no-op) ------
    def wait_for_job(self) -> list:
        if self._closed:
            raise JobError("wait_for_job on a closed JobHandle")
        self._thread.join()
        if self._error is not None:
            raise self._error
        return self._result if self._result is not None else []

    # -- getJobState --------------------------------------------------------
    def get_job_state(self) -> JobState:
        if self._closed:
            raise JobError("get_job_state on a closed JobHandle")
        if not self._thread.is_alive():
            if self._error is not None or self._result is None:
                return JobState(Stage.UNDEFINED, 0.0)
            return JobState(Stage.REDUCE, 100.0)

        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self._group)
        if not job_ids:
            return JobState(Stage.MAP, 0.0)  # submitted, no tasks yet

        # Across this handle's jobs: completed stages before the last
        # exchange are MAP work; the currently active stage determines the
        # label. With S total stages, stage 0 is MAP and stage S-1 is
        # REDUCE; anything between is SHUFFLE-side work.
        active: list[tuple[int, int, int]] = []  # (stage_id, done, total)
        all_stage_ids: list[int] = []
        for jid in job_ids:
            jinfo = tracker.getJobInfo(jid)
            if jinfo is None:
                continue
            for sid in jinfo.stageIds:
                sinfo = tracker.getStageInfo(sid)
                if sinfo is None:
                    continue
                all_stage_ids.append(sid)
                if sinfo.numCompletedTasks < sinfo.numTasks and sinfo.numTasks > 0:
                    active.append((sid, sinfo.numCompletedTasks, sinfo.numTasks))
        if not all_stage_ids:
            return JobState(Stage.MAP, 0.0)
        if not active:
            # between stages: the exchange — the reference's SHUFFLE phase
            # (still routed through the clamp: after REDUCE progress has been
            # observed, a momentary stage gap must not regress to SHUFFLE)
            return self._clamped(Stage.SHUFFLE, 100.0)
        first, last = min(all_stage_ids), max(all_stage_ids)
        sid, done, total = max(active)
        if sid == first and first != last:
            stage = Stage.MAP
        elif sid == last and first != last:
            stage = Stage.REDUCE
        elif first == last:
            stage = Stage.MAP  # single-stage job: all map
        else:
            stage = Stage.SHUFFLE
        pct = min(100.0, 100.0 * done / total) if total else 0.0
        return self._clamped(stage, pct)

    def _clamped(self, stage: Stage, pct: float) -> JobState:
        """Monotone clamp: stage/pct never move backwards (the reference's
        packed counter only increments, MapReduceFramework.cpp:13-46)."""
        if stage.value < self._last_stage.value:
            stage, pct = self._last_stage, self._last_pct
        elif stage is self._last_stage:
            pct = max(pct, self._last_pct)
        self._last_stage, self._last_pct = stage, pct
        return JobState(stage, pct)

    # -- closeJobHandle ------------------------------------------------------
    def close(self) -> None:
        """wait + release; double-close is a warning-level no-op (the
        reference warns rather than crashes, MapReduceFramework.cpp:406-410)."""
        if self._closed:
            return
        try:
            self._thread.join()
        finally:
            self._closed = True
            self._result = None

    def __enter__(self) -> "JobHandle":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _input_is_empty(df: DataFrame) -> bool:
    """True iff every leaf relation of ``df``'s analyzed plan is empty.

    Each probe is a ``limit(1)`` over one leaf, so no map, shuffle or reduce
    work above the leaves runs; probing stops at the first non-empty leaf.
    A ``CTERelationRef`` is skipped: it cannot run on its own, and the
    leaves of its definition are probed instead.
    """
    spark = df.sparkSession
    of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return all(
        of_rows(spark._jsparkSession, leaf).isEmpty()
        for leaf in map(leaves.apply, range(leaves.size()))
        if leaf.nodeName() != "CTERelationRef"
    )


def start_map_reduce_job(
    df: DataFrame,
    *,
    multi_thread_level: int | None = None,
    collect: bool = True,
) -> JobHandle:
    """Async-start an action over a (map/reduce or any) DataFrame plan.

    Argument validation mirrors the reference (``MapReduceFramework.cpp:
    326-331``): non-positive parallelism and empty input are rejected
    synchronously. Input is empty when every leaf relation of the plan is
    empty; the plan itself is not run for the check, so a ``map_fn`` that
    emits nothing over a non-empty input starts normally and returns ``[]``.
    ``multi_thread_level`` is advisory on Spark — the scheduler owns task
    parallelism — but the reference's contract is enforced.
    """
    if multi_thread_level is not None and multi_thread_level <= 0:
        raise JobError(f"multi_thread_level must be positive, got {multi_thread_level}")
    if _input_is_empty(df):
        raise JobError("input is empty")
    return JobHandle(df, collect=collect)
