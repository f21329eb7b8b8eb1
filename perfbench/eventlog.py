"""Reader for Spark's uncompressed JSON event log.

Turns the log into per-job records (tags, properties, stage ids) and
per-stage sums of task metrics, SQL metrics and executor memory peaks,
so a caller can total any set of jobs. Jobs are attributed to benchmark
spans by the ``pb-span-<id>`` job tags the span recorder sets: a job
belongs to the innermost (highest id) span whose tag it carries.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metric names (PythonSQLMetrics, Spark 4.1) and what this module calls them.
PYTHON_METRICS = {
    "time to start Python workers": "python_boot",
    "time to initialize Python workers": "python_init",
    "time to run Python workers": "python_total",
    "data sent to Python workers": "python_bytes_sent",
}
FILES_WRITTEN = "number of written files"
SPAN_TAG = "pb-span-"


@dataclass
class Job:
    jid: int
    stage_ids: list[int]
    props: dict[str, str]

    @property
    def tags(self) -> list[str]:
        raw = self.props.get("spark.job.tags", "")
        return [t for t in raw.split(",") if t]

    @property
    def span_id(self) -> int | None:
        ids = [int(t[len(SPAN_TAG):]) for t in self.tags if t.startswith(SPAN_TAG)]
        return max(ids) if ids else None

    @property
    def batch_id(self) -> int | None:
        b = self.props.get("streaming.sql.batchId")
        return int(b) if b is not None else None

    @property
    def execution_id(self) -> int | None:
        e = self.props.get("spark.sql.execution.id")
        return int(e) if e is not None else None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, dict[str, float]] = field(default_factory=lambda: defaultdict(lambda: defaultdict(float)))
    # SQL metric sums per execution id (driver-side updates, e.g. files written)
    executions: dict[int, dict[str, float]] = field(default_factory=lambda: defaultdict(lambda: defaultdict(float)))
    storage_peak_bytes: float = 0.0

    def jobs_where(self, pred) -> list[Job]:
        return [j for j in self.jobs.values() if pred(j)]

    def by_span(self) -> dict[int, list[Job]]:
        """Span id -> the jobs whose innermost span it is."""
        out: dict[int, list[Job]] = {}
        for job in self.jobs.values():
            if job.span_id is not None:
                out.setdefault(job.span_id, []).append(job)
        return out

    def totals(self, jobs: list[Job]) -> dict[str, float]:
        """Sum task and SQL metrics over the distinct stages of ``jobs``,
        plus job/stage counts and driver-side SQL metrics of their
        executions."""
        stage_ids = {s for j in jobs for s in j.stage_ids if s in self.stages}
        out: dict[str, float] = defaultdict(float)
        out["jobs"] = len(jobs)
        out["stages"] = len(stage_ids)
        for s in stage_ids:
            for k, v in self.stages[s].items():
                out[k] += v
        for e in {j.execution_id for j in jobs} - {None}:
            for k, v in self.executions.get(e, {}).items():
                out[k] += v
        return dict(out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _metric_value(name: str, mtype: str, value: float) -> tuple[str, float] | None:
    """Normalize a tracked SQL metric: timings to ms, sizes to bytes."""
    key = PYTHON_METRICS.get(name)
    if key is None and name == FILES_WRITTEN:
        key = "files_written"
    if key is None:
        return None
    if mtype == "nsTiming":
        value /= 1e6
    if key in ("python_boot", "python_init", "python_total"):
        key += "_ms"
    return key, value


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines (a file object works)."""
    log = EventLog()
    acc: dict[int, tuple[str, str]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            log.jobs[jid] = Job(
                jid, list(ev.get("Stage IDs", ())),
                {k: str(v) for k, v in (ev.get("Properties") or {}).items()},
            )
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", ()):
                if acc_id in acc:
                    hit = _metric_value(*acc[acc_id], _num(value))
                    if hit:
                        log.executions[ev["executionId"]][hit[0]] += hit[1]
        elif kind == "SparkListenerTaskEnd":
            _task_end(log, ev, acc)
    return log


def _task_end(log: EventLog, ev: dict, acc: dict[int, tuple[str, str]]) -> None:
    st = log.stages[ev["Stage ID"]]
    st["tasks"] += 1
    tm = ev.get("Task Metrics") or {}
    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
    st["gc_ms"] += tm.get("JVM GC Time", 0)
    inp = tm.get("Input Metrics") or {}
    st["input_bytes"] += inp.get("Bytes Read", 0)
    out = tm.get("Output Metrics") or {}
    st["output_bytes"] += out.get("Bytes Written", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    em = ev.get("Task Executor Metrics") or {}
    storage = em.get("OnHeapStorageMemory", 0) + em.get("OffHeapStorageMemory", 0)
    log.storage_peak_bytes = max(log.storage_peak_bytes, storage)
    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
        meta = acc.get(a.get("ID"))
        if meta is None:
            continue
        hit = _metric_value(*meta, _num(a.get("Update")))
        if hit:
            st[hit[0]] += hit[1]


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)
