#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one workload per invocation.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/``, sets the engine up once (cold, with untimed
warm-up rounds), measures a fixed number of whole rounds of the workload
(about ``--seconds`` on a 4-core machine), checks every output against its
DuckDB oracle outside the timed region, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans the benchmark records around its calls into
the engine and from Spark's event log. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from tracing import (  # noqa: E402
    NullTracer,
    RssSampler,
    Tracer,
    event_log_cpu_s,
    find_event_log,
    parse_event_log,
    span_cost_s,
)
from workloads import WORKLOADS, Op, Oracle  # noqa: E402

POLL_S = 0.05  # get_job_state polling interval of the map/reduce client
DRIVER_MEM = "2g"
MB = 1024.0 * 1024.0


def pin_env(work: str) -> dict[str, str]:
    """Environment the engine runs under; set before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "TBMR_DRIVER_MEM": DRIVER_MEM,
        "TBMR_TMPFS_SHUFFLE": "0",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import module-level UDFs from the package
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Owns the SparkSession and runs operations through the public API."""

    def __init__(self, workload, work: str):
        self.wl = workload
        self.work = work
        self.paths = 0
        self.groups = 0
        self.spark = None
        self.extra_conf = {
            # keep the JVM's temporary files inside the work directory
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }

    # -- session -----------------------------------------------------------
    def start(self, event_log: str | None = None) -> tuple[float, float]:
        """Build a session; returns (launch_s, context_s): time before the
        SparkContext began (JVM launch on the first call) and the rest."""
        from thread_based_map_reduce_spark.session import get_spark

        conf = dict(self.extra_conf)
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        wall0, t0 = time.time(), time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.wl.name}", extra_conf=conf)
        total = time.perf_counter() - t0
        launch = min(total, max(0.0, self.spark.sparkContext.startTime / 1000.0 - wall0))
        return launch, total - launch

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- inputs --------------------------------------------------------------
    def fresh_path(self, src: str) -> str:
        self.paths += 1
        return gen.fresh_copy(src, os.path.join(self.work, "iter", f"p{self.paths:05d}"))

    # -- one operation -------------------------------------------------------
    def run_op(self, op: Op, path: str, tracer, prefix: str) -> dict:
        from thread_based_map_reduce_spark.pipeline import curate_corpus
        from thread_based_map_reduce_spark.plans.catalog import CATALOG
        from thread_based_map_reduce_spark.plans.sqlapi import run_sql

        self.groups += 1
        gid = f"{prefix}{self.groups:05d}"
        sc = self.spark.sparkContext
        rec = {"op": op, "gid": gid, "error": None, "result": None}
        rec["wall0"] = time.time()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=gid, template=op.name):
                sc.setJobGroup(f"{gid}:build", op.name)
                with tracer.span("plans.build", op=gid):
                    if op.kind == "sql":
                        df = run_sql(self.spark, path, op.sql)
                    elif op.kind == "curate":
                        # builds the plan and writes it; the traced run
                        # tells the write's Spark jobs apart by their SQL
                        # execution (see per_layer)
                        out = os.path.join(self.work, "out", gid)
                        df = curate_corpus(self.spark, path, out_dir=out)
                        rec["result"] = out
                    else:
                        df = CATALOG[op.name].fn(self.spark, path)
                rec["build_s"] = time.perf_counter() - t0
                rec["eager_jobs"] = len(
                    sc.statusTracker().getJobIdsForGroup(f"{gid}:build")
                )
                if tracer.enabled:
                    qe = df._jdf.queryExecution()
                    with tracer.span("plans.optimize", op=gid):
                        qe.executedPlan()
                sc.setJobGroup(f"{gid}:exec", op.name)
                with tracer.span("operators.exec", op=gid):
                    if op.kind == "job":
                        rec["result"] = self._job(df, rec, tracer, gid)
                    elif op.kind != "curate":
                        rec["result"] = df.toPandas()
                if tracer.enabled:
                    with tracer.span("trace.plan", op=gid):
                        rec["plan"] = plan_shape(qe)
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        rec["latency"] = time.perf_counter() - t0
        rec["wall1"] = time.time()
        return rec

    def _job(self, df, rec, tracer, gid):
        """The reference client's flow: start, poll state, wait, close."""
        import pandas as pd

        from thread_based_map_reduce_spark.jobs import Stage, start_map_reduce_job

        sc = self.spark.sparkContext
        sc.setJobGroup(f"{gid}:submit", rec["op"].name)
        t0 = time.perf_counter()
        with tracer.span("jobs.submit", op=gid):
            handle = start_map_reduce_job(df)
        rec["submit_s"] = time.perf_counter() - t0
        sc.setJobGroup(f"{gid}:exec", rec["op"].name)
        polls, states = [], []
        try:
            while True:
                tp = time.perf_counter()
                with tracer.span("jobs.poll", op=gid):
                    state = handle.get_job_state()
                polls.append(time.perf_counter() - tp)
                states.append((state.stage.value, state.percentage))
                if state.stage is Stage.UNDEFINED or (
                    state.stage is Stage.REDUCE and state.percentage >= 100.0
                ):
                    break
                time.sleep(POLL_S)
            with tracer.span("jobs.wait", op=gid):
                rows = handle.wait_for_job()
        finally:
            with tracer.span("jobs.close", op=gid):
                handle.close()
        rec["lifecycle_s"] = time.perf_counter() - t0
        rec["polls"] = polls
        rec["regressions"] = sum(1 for a, b in zip(states, states[1:]) if b < a)
        return pd.DataFrame([r.asDict() for r in rows], columns=df.columns)

    # -- rounds --------------------------------------------------------------
    def round(self, rng, data_dir: str, tracer, prefix: str) -> list[dict]:
        return [
            self.run_op(op, self.fresh_path(data_dir), tracer, prefix)
            for op in self.wl.round(rng)
        ]

    def measure(self, rng, data_dir: str, n_rounds: int, tracer, prefix: str,
                rss: RssSampler | None = None) -> tuple[list[list[dict]], list[int]]:
        """``n_rounds`` whole rounds, each started from a collected heap, and
        each round's peak resident memory if ``rss`` samples it."""
        rounds, peaks = [], []
        for _ in range(n_rounds):
            self.collect()
            if rss:
                rss.mark()
            rounds.append(self.round(rng, data_dir, tracer, prefix))
            if rss:
                peaks.append(rss.mark())
        return rounds, peaks

    def collect(self) -> None:
        """A full collection in Python and in the JVM, whose G1 heap then
        shrinks to its live data plus headroom: a round's memory peak does
        not depend on how far G1 grew the heap in earlier rounds (it grows
        it on measured pause times, so that differs from run to run)."""
        import gc

        gc.collect()
        self.spark._jvm.java.lang.System.gc()


def plan_shape(qe) -> dict:
    """Node and exchange counts of the executed physical plan (the final
    adaptive plan once the query has run)."""
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    nodes = exchanges = 0
    for line in plan.treeString().splitlines():
        name = line.lstrip(" :+-*()0123456789").split(" ")[0]
        if not name or name.startswith("="):
            continue
        nodes += 1
        exchanges += name in ("Exchange", "BroadcastExchange")
    return {"nodes": nodes, "exchanges": exchanges}


# -- correctness gate --------------------------------------------------------


def check(recs: list[dict], oracle: Oracle) -> list[str]:
    """Problems per failed operation; exceptions, oracle mismatches and
    eager-job drift between iterations of one template all count."""
    from thread_based_map_reduce_spark.plans.oracle_check import compare_frames

    problems = []
    first_eager: dict[str, int] = {}
    for r in recs:
        op = r["op"]
        if r["error"]:
            problems.append(f"{r['gid']} {op.name}: {r['error']}")
            continue
        try:
            actual = oracle.actual_curated(r["result"]) if op.kind == "curate" else r["result"]
            diff = compare_frames(actual, oracle.expected(op))
        except Exception as e:
            diff = [f"check failed: {type(e).__name__}: {e}"]
        # a cache keyed by input path would skip eager work on later iterations
        eager = first_eager.setdefault(op.name, r["eager_jobs"])
        if r["eager_jobs"] != eager:
            diff.append(f"eager jobs {r['eager_jobs']} != first iteration's {eager}")
        if diff:
            problems.append(f"{r['gid']} {op.name}: {'; '.join(diff)}")
    return problems


# -- metrics -------------------------------------------------------------------


def by_template(recs: list[dict]) -> dict[str, list[float]]:
    """Latencies of the successful operations, per template."""
    out: dict[str, list[float]] = {}
    for r in recs:
        if not r["error"]:
            out.setdefault(r["op"].name, []).append(r["latency"])
    return out


def round_time(recs: list[dict]) -> float:
    """A typical complete round: sum over templates of the median latency."""
    return sum(median(v) for v in by_template(recs).values())


def end_to_end(setup_s, recs, input_rows, peak_rss) -> dict:
    ok = [r["latency"] for r in recs if not r["error"]]
    job_s = round_time(recs)
    # rates from the typical round, not the loop's total time, so that a
    # burst of load on the host in one round does not move them
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "rows_per_s": (input_rows / job_s if job_s else 0.0, "1/s"),
        "query_p50_s": (median(ok), "s"),
        "queries_per_s": (len(by_template(recs)) / job_s if job_s else 0.0, "1/s"),
        "peak_rss_mb": (peak_rss / MB, "MB"),
    }


def per_layer(setup, rounds, tracer, jobs, probes, cpus, docs_in,
              log_cpu_s) -> dict:
    recs = [r for rd in rounds for r in rd]
    ok = [r for r in recs if not r["error"]]
    n = float(len(rounds))
    span = {}
    for s in tracer.spans:
        span[s["name"]] = span.get(s["name"], 0.0) + (s["end"] - s["start"])
    gids = {r["gid"] for r in recs}
    windows = [(r["wall0"] * 1000.0, r["wall1"] * 1000.0) for r in recs]

    def in_phase(job) -> bool:
        g = job["group"]
        if g.split(":")[0] in gids:
            return True
        # JobHandle runs its action under its own group
        return g.startswith("tbmr-job-") and any(a <= job["submit_ms"] <= b for a, b in windows)

    phase = [j for j in jobs if in_phase(j)]

    def tot(key):
        return sum(j.get(key, 0.0) for j in phase)

    # A write is one SQL execution (its AQE stages included); it runs
    # inside curate_corpus, so it is told apart from the builder's eager
    # jobs by execution, and its wall is the span of its jobs.
    write_execs = {
        j["execution"] for j in phase if j.get("write_bytes", 0) > 0 and j["execution"] >= 0
    }
    write_wall: dict[str, float] = {}
    for e in write_execs:
        js = [j for j in phase if j["execution"] == e]
        gid = js[0]["group"].split(":")[0]
        wall = (max(j["end_ms"] for j in js) - min(j["submit_ms"] for j in js)) / 1000.0
        write_wall[gid] = write_wall.get(gid, 0.0) + wall
    eager = [
        j for j in phase
        if j["group"].endswith(":build") and j["execution"] not in write_execs
    ]
    build_s = {r["gid"]: r["build_s"] - write_wall.get(r["gid"], 0.0) for r in ok}
    handles = {j["group"] for j in phase if j["group"].startswith("tbmr-job-")}
    job_recs = [r for r in ok if r["op"].kind == "job"]
    sql_recs = [r for r in ok if r["op"].kind == "sql"]
    curate = [r for r in ok if r["op"].kind == "curate"]
    polls = [p for r in job_recs for p in r["polls"]]
    written = [
        os.path.join(d, f)
        for r in curate
        for d, _, files in os.walk(r["result"])
        for f in files
        if f.endswith(".parquet")
    ]
    # Times of layers one workload bypasses are reported as shares, so a
    # bypassed layer reads 0 as a ratio, never as a constant time.
    op_time = sum(r["latency"] for r in ok)
    round_s = op_time / n
    write_s = sum(write_wall.values()) / n
    lifecycle = sum(r["lifecycle_s"] for r in job_recs) or 1.0
    task_run_s = tot("task_run_ms") / 1000.0
    scan_bytes = tot("scan_bytes")

    # Work only a traced run does: the extra planning and plan-shape calls
    # inside the operations, the spans' own bookkeeping, and the CPU time
    # of the thread that writes the event log (it runs beside the
    # operations, so this bounds its cost to them from above).
    op_spans = sum(1 for s in tracer.spans if s["op"])
    overhead_s = (
        span.get("plans.optimize", 0.0)
        + span.get("trace.plan", 0.0)
        + op_spans * span_cost_s()
        + log_cpu_s
    )

    import pyarrow.dataset as ds

    kept = [ds.dataset(r["result"], partitioning="hive").count_rows() for r in curate]

    m = {
        "session.start_s": (setup["launch_s"] + setup["context_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "plans.build_s": (sum(build_s.values()) / n, "s"),
        "plans.build_share": (sum(build_s.values()) / op_time if op_time else 0.0, "ratio"),
        "plans.sql_build_share": (
            sum(build_s[r["gid"]] for r in sql_recs) / sum(r["latency"] for r in sql_recs)
            if sql_recs else 0.0, "ratio",
        ),
        "plans.optimize_s": (span.get("plans.optimize", 0.0) / n, "s"),
        "plans.plan_nodes": (sum(r["plan"]["nodes"] for r in ok) / n, "count"),
        "plans.exchanges": (sum(r["plan"]["exchanges"] for r in ok) / n, "count"),
        "plans.eager_jobs": (len(eager) / n, "count"),
        "sources.scan_mb": (scan_bytes / MB / n, "MB"),
        "sources.scan_rows": (tot("scan_rows") / n, "count"),
        "sources.scan_s": (tot("scan_ms") / 1000.0 / n, "s"),
        "sources.write_share": (write_s / round_s, "ratio"),
        "sources.write_mb": (sum(os.path.getsize(f) for f in written) / MB / n, "MB"),
        "sources.files_written": (len(written) / n, "count"),
        "functions.hash64_rows_per_s": (probes["hash64"], "1/s"),
        "functions.tokens_rows_per_s": (probes["tokens"], "1/s"),
        "functions.minhash_rows_per_s": (probes["minhash"], "1/s"),
        "operators.exec_s": (span.get("operators.exec", 0.0) / n + write_s, "s"),
        "operators.spark_jobs": (len(phase) / n, "count"),
        "operators.tasks": (tot("tasks") / n, "count"),
        "operators.task_run_s": (task_run_s / n, "s"),
        "operators.task_cpu_s": (tot("task_cpu_ns") / 1e9 / n, "s"),
        "operators.gc_s": (tot("gc_ms") / 1000.0 / n, "s"),
        "operators.core_busy_frac": (task_run_s / (op_time * cpus), "ratio"),
        "operators.shuffle_write_mb": (tot("shuffle_write_bytes") / MB / n, "MB"),
        "operators.shuffle_read_mb": (tot("shuffle_read_bytes") / MB / n, "MB"),
        "operators.spill_mb": (tot("spill_disk_bytes") / MB / n, "MB"),
        "operators.shuffle_per_input_byte": (
            tot("shuffle_write_bytes") / scan_bytes if scan_bytes else 0.0, "ratio",
        ),
        "operators.tasks_failed": (tot("tasks_failed"), "count"),
        "pipeline.curate_share": (sum(r["latency"] for r in curate) / op_time, "ratio"),
        "pipeline.kept_frac": (median(kept) / docs_in, "ratio"),
        "mapreduce.python_in_mb": (tot("python_in_bytes") / MB / n, "MB"),
        "mapreduce.python_out_mb": (tot("python_out_bytes") / MB / n, "MB"),
        "mapreduce.python_rows": (tot("python_rows") / n, "count"),
        "jobs.submit_share": (sum(r["submit_s"] for r in job_recs) / lifecycle, "ratio"),
        "jobs.poll_share": (sum(polls) / lifecycle, "ratio"),
        "jobs.polls": (len(polls) / len(job_recs) if job_recs else 0.0, "count"),
        "jobs.spark_jobs": (
            sum(1 for j in phase if j["group"] in handles) / len(handles) if handles else 0.0,
            "count",
        ),
        "jobs.progress_regressions": (sum(r["regressions"] for r in job_recs), "count"),
        "trace.overhead_frac": (overhead_s / op_time if op_time else 0.0, "ratio"),
        # end_to_end's job_s, traced: its ratio to an untraced run's job_s
        # of the same seed is the overhead as a user of the trace sees it
        "trace.job_s": (round_time(recs), "s"),
    }
    return m


def function_probes(spark, data_dir: str, tracer) -> dict[str, float]:
    """Rows per second of the hashing/tokenizing kernels over the corpus,
    alone: hash64 and minhash over every token, tokens over every doc."""
    from pyspark.sql import functions as F

    from thread_based_map_reduce_spark.functions import minhash_perm, portable_hash64, tokens
    from thread_based_map_reduce_spark.sources.registry import load_table

    spark.sparkContext.setJobGroup("probe", "function probes")
    docs = load_table(spark, data_dir, "documents")
    # enough rows that per-job overhead does not dominate
    reps = max(1, 50_000 // max(1, docs.count()))
    big = docs.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
    toks = big.select(F.explode(tokens("text")).alias("tok"))
    n_docs = big.count()
    n_toks = toks.count()
    probes = {
        "hash64": (toks.select(F.max(portable_hash64("tok"))), n_toks),
        "tokens": (big.select(F.sum(F.size(tokens("text")))), n_docs),
        "minhash": (
            toks.select(portable_hash64("tok").alias("h")).select(
                *[F.min(minhash_perm(F.col("h"), p)) for p in range(16)]
            ),
            n_toks,
        ),
    }
    out = {}
    for name, (df, rows) in probes.items():
        with tracer.span(f"functions.{name}"):
            t0 = time.perf_counter()
            df.collect()
            out[name] = rows / (time.perf_counter() - t0)
    return out


# -- main ----------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        info, result = run(wl, args.seed, args.seconds, args.trace, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in info["problems"]:
        print(f"FAILED {p}", file=sys.stderr)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


def run(wl, seed: int, seconds: float, trace: bool, base: str, work: str):
    import numpy as np

    env = pin_env(work)
    t0 = time.perf_counter()
    from thread_based_map_reduce_spark.plans.catalog import _load_all

    _load_all()
    import_s = time.perf_counter() - t0

    data_dir = os.path.join(work, "data")
    sizes = gen.generate(data_dir, seed, sf=wl.sf, n_docs=wl.n_docs)
    if wl.sf is None:
        input_rows = sizes["documents"]["rows"]
    else:
        input_rows = sum(
            v["rows"] for k, v in sizes.items() if k not in ("documents", "embeddings")
        )

    rng = np.random.default_rng(seed)
    n_rounds = wl.rounds(seconds)
    runner = Runner(wl, work)
    null = NullTracer()
    log_dir = os.path.join(work, "eventlog") if trace else None
    info: dict = {"workload": wl.name, "seed": seed, "env": env, "inputs": sizes,
                  "warm_rounds": wl.warm_rounds, "rounds": n_rounds}
    try:
        # one cold set-up: JVM launch, SparkContext, and the untimed
        # rounds that load classes, compile and start Python workers
        launch, ctx = runner.start(event_log=log_dir)
        t = time.perf_counter()
        warm = [
            r for _ in range(wl.warm_rounds) for r in runner.round(rng, data_dir, null, "w")
        ]
        setup = {"import_s": import_s, "launch_s": launch, "context_s": ctx,
                 "warmup_s": time.perf_counter() - t}
        info["setup"] = setup

        if not trace:
            with RssSampler() as rss:
                rounds, peaks = runner.measure(rng, data_dir, n_rounds, null, "m", rss)
            recs = [r for rd in rounds for r in rd]
            metrics = end_to_end(sum(setup.values()), recs, input_rows, median(peaks))
            info["rss_round_peaks_mb"] = [p / MB for p in peaks]
            info["rss_at_peak_mb"] = {k: v / MB for k, v in rss.at_peak.items()}
            mem = runner.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            usage = mem.getHeapMemoryUsage()
            info["jvm_heap_mb"] = {"used": usage.getUsed() / MB,
                                   "committed": usage.getCommitted() / MB}
        else:
            tracer = Tracer()
            cpu0 = event_log_cpu_s(runner.spark)
            rounds, _ = runner.measure(rng, data_dir, n_rounds, tracer, "b")
            log_cpu = event_log_cpu_s(runner.spark) - cpu0
            probes = function_probes(runner.spark, data_dir, tracer)
            runner.stop()  # closes the event log
            recs = [r for rd in rounds for r in rd]
            metrics = per_layer(
                setup, rounds, tracer,
                parse_event_log(find_event_log(log_dir)), probes,
                int(env["SPARK_GRAFT_CPUS"]), sizes["documents"]["rows"], log_cpu,
            )
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{wl.name}-seed{seed}.jsonl"))
    finally:
        runner.shutdown()

    # the warm-up rounds are checked too: their outputs and eager jobs are
    # the reference the timed iterations are compared with
    checked = warm + recs
    oracle = Oracle(data_dir)
    try:
        problems = check(checked, oracle)
    finally:
        oracle.close()
    info["problems"] = problems
    info["templates"] = {
        name: {"n": len(v), "median_s": median(v)} for name, v in by_template(recs).items()
    }
    return info, {
        "correct": not problems,
        "attempted": len(checked),
        "failed": len(problems),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
