"""Shared pieces of the workloads: the run context, session start with
per-run directories, span/job-tag wiring and small statistics helpers."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from spans import Span, SpanRecorder


@dataclass
class Ctx:
    work: str          # per-run scratch directory inside the checkout
    seed: int
    seconds: float
    trace: bool
    cpus: int
    started: float = field(default_factory=time.perf_counter)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def note(self, what: str) -> None:
        """Progress line on stderr, stamped with seconds since the start."""
        print(f"perfbench {time.perf_counter() - self.started:7.2f}s {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted operation; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        return ok


def start_session(ctx: Ctx, app: str):
    """JVM launch + ``session.get_spark`` with this run's own warehouse,
    scratch and (traced runs only) event-log directories. Returns
    (spark, seconds taken)."""
    from etl_pipeline_spark.session import get_spark

    # -Xms at the heap cap: otherwise the JVM's heap-growth heuristics,
    # not the program, decide whether a run peaks at 2 or 3 GB RSS.
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    java_opts = f"-Xms{heap} -Djava.io.tmpdir={ctx.path('tmp', '')}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": ctx.path("warehouse", ""),
        "spark.local.dir": ctx.path("local", ""),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if ctx.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.path("events", ""),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until it and every process
    it started (Python workers) have exited. The JVM exits when its stdin
    pipe closes."""
    from pyspark import SparkContext

    from procstat import tree_pids

    children = [p for p in tree_pids() if p != os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            return fh.read().split(b") ")[-1][:1] != b"Z"  # a zombie has ended
    except OSError:
        return False


def event_log_path(ctx: Ctx) -> str:
    d = ctx.path("events", "")
    files = [os.path.join(d, f) for f in os.listdir(d) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {d}, found {files}")
    return files[0]


def tagging_recorder(spark) -> SpanRecorder:
    """Span recorder whose open spans tag the Spark jobs they start."""
    sc = spark.sparkContext

    def enter(span: Span) -> None:
        sc.addJobTag(span.tag)

    def leave(span: Span) -> None:
        sc.removeJobTag(span.tag)

    return SpanRecorder(on_enter=enter, on_exit=leave)


def exec_metrics(t: dict, wall: float, cpus: int) -> dict:
    """The execution layer's metrics from event-log totals ``t`` of the
    jobs that ran during ``wall`` seconds."""
    cpu_s = t.get("cpu_ns", 0.0) / 1e9
    return {
        "exec.wall_s": wall,
        "exec.jobs": t.get("jobs", 0),
        "exec.stages": t.get("stages", 0),
        "exec.tasks": t.get("tasks", 0),
        "exec.executor_cpu_s": cpu_s,
        "exec.cpu_utilization": cpu_s / (wall * cpus) if wall > 0 else 0.0,
        "exec.gc_s": t.get("gc_ms", 0.0) / 1e3,
        "exec.input_bytes": t.get("input_bytes", 0.0),
        "exec.shuffle_read_bytes": t.get("shuffle_read_bytes", 0.0),
        "exec.shuffle_write_bytes": t.get("shuffle_write_bytes", 0.0),
        "exec.spill_bytes": t.get("spill_bytes", 0.0),
    }


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def catalyst_phases_ms(df) -> dict[str, float]:
    """Force the physical plan of ``df`` and read its QueryExecution's
    phase tracker (analysis / optimization / planning, in ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out
