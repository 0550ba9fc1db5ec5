"""Measurement plumbing: spans, resident-memory sampling, event-log parsing.

Spans are recorded by the benchmark around its calls into the engine's
public functions; they are kept in memory and written out once, when the
run ends. The untraced runs use ``NullTracer``, whose spans record nothing.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (id, parent, op, name, start, end, attrs)."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def span_cost_s(n: int = 5000) -> float:
    """Bookkeeping time of one span, measured on a throwaway tracer."""
    t = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("probe", op="probe"):
            pass
    return (time.perf_counter() - t0) / n


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        yield {}


# -- resident memory -------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and all its descendants, by command name:
    the Python driver, the JVM it launched and the JVM's Python workers."""
    kids = _children()
    out: dict[str, int] = defaultdict(int)
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        # a child forked by the JVM shares its pages until it execs and
        # carries a thread's name meanwhile; count only settled processes
        if comm == "java" or comm.startswith("python"):
            out[comm] += _rss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return dict(out)


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s and
    keeps the largest total, with its split by command name, overall and
    since the last ``mark()``."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._window = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_comm = tree_rss(os.getpid())
        total = sum(by_comm.values())
        with self._lock:
            self._window = max(self._window, total)
            if total > self.peak:
                self.peak, self.at_peak = total, by_comm

    def mark(self) -> int:
        """The peak since the previous mark; starts a new window."""
        self._sample()
        with self._lock:
            peak, self._window = self._window, 0
        return peak

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# -- Spark event log -------------------------------------------------------

_STAGE_SUMS = {
    "internal.metrics.executorRunTime": "task_run_ms",
    "internal.metrics.executorCpuTime": "task_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "internal.metrics.output.bytesWritten": "write_bytes",
}
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def _plan_accumulators(info: dict, out: dict[int, tuple[str, str, bool]]) -> None:
    """accumulator id -> (node name, metric name, node runs Python)."""
    names = {m["name"] for m in info.get("metrics", [])}
    is_py = _PY_SENT in names
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"], is_py)
    for child in info.get("children", []):
        _plan_accumulators(child, out)


def parse_event_log(path: str) -> list[dict]:
    """One record per Spark job of one application's event log.

    Each record carries the job's group, its submit/end wall times (ms) and
    the sums of its stages' metrics. Only the highest attempt of a stage
    counts (a re-attempt after a fetch failure reports the stage again, and
    summing both would double count), the rule of
    ``scripts/shuffle_metrics._sum_event_log``. A stage belongs to the last
    job that listed it before it completed.
    """
    accs: dict[int, tuple[str, str, bool]] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, tuple[int, int, dict]] = {}  # sid -> (attempt, job, info)
    failed: dict[int, int] = defaultdict(int)  # job -> failed tasks
    # metrics the driver posts per SQL execution (scan file sizes)
    driver: dict[int, list[tuple[int, int]]] = defaultdict(list)
    with open(path, errors="ignore") as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_accumulators(ev.get("sparkPlanInfo", {}), accs)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver[ev.get("executionId", -1)].extend(ev.get("accumUpdates", []))
            elif kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "execution": int(props.get("spark.sql.execution.id", -1)),
                    "submit_ms": ev.get("Submission Time", 0),
                    "end_ms": ev.get("Submission Time", 0),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    failed[stage_job.get(ev.get("Stage ID"), -1)] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid, attempt = info.get("Stage ID", -1), info.get("Stage Attempt ID", 0)
                if sid not in stages or attempt >= stages[sid][0]:
                    stages[sid] = (attempt, stage_job.get(sid, -1), info)
    sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for _, jid, info in stages.values():
        g = sums[jid]
        g["stages"] += 1
        g["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            name = acc.get("Name")
            try:
                value = int(acc.get("Value"))
            except (TypeError, ValueError):
                continue
            if name in _STAGE_SUMS:
                g[_STAGE_SUMS[name]] += value
                continue
            node, metric, is_py = accs.get(acc.get("ID"), ("", name, False))
            if node.startswith("Scan ") and metric == "scan time":
                g["scan_ms"] += value
            elif node.startswith("Scan ") and metric == "number of output rows":
                g["scan_rows"] += value
            elif is_py and metric == _PY_SENT:
                g["python_in_bytes"] += value
            elif is_py and metric == _PY_RETURNED:
                g["python_out_bytes"] += value
            elif is_py and metric == "number of output rows":
                g["python_rows"] += value
    first_job: dict[int, int] = {}
    for jid, job in sorted(jobs.items()):
        first_job.setdefault(job["execution"], jid)
    for execution, updates in driver.items():
        if execution not in first_job:
            continue
        g = sums[first_job[execution]]
        for acc_id, value in updates:
            node, metric, _ = accs.get(acc_id, ("", "", False))
            if node.startswith("Scan ") and metric == "size of files read":
                g["scan_bytes"] += value
    out = []
    for jid, job in sorted(jobs.items()):
        rec = dict(job, job_id=jid, tasks_failed=failed.get(jid, 0))
        rec.update(sums.get(jid, {}))
        out.append(rec)
    return out


def event_log_cpu_s(spark) -> float:
    """CPU seconds the JVM thread that writes the event log has used so
    far, once the events posted until now are written."""
    jvm = spark._jvm
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    for t in jvm.java.lang.Thread.getAllStackTraces().keySet().toArray():
        if t.getName() == "spark-listener-group-eventLog":
            return mx.getThreadCpuTime(t.getId()) / 1e9
    raise RuntimeError("no event-log listener thread")


def find_event_log(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".crc") and not f.startswith(".")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    path = files[0]
    if path.endswith(".inprogress"):
        raise RuntimeError(f"event log {path} was not closed")
    return path
