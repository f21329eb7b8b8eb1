"""The ingest workload: the paper's pipeline C+D in two phases of one run.

- stream phase (open loop): pre-generated covid CSVs are renamed into the
  directory ``streaming.ingest.start_file_ingest`` watches, one every
  ``STREAM_INTERVAL_S`` on a fixed schedule, whatever the engine does.
  Each file's latency runs from its scheduled landing time to the commit
  marker of the micro-batch that loaded it.
- batch phase (closed loop): one landing at a time (covid CSVs + one
  food-orders CSV) through ``pipelines.orchestration.run_validated_ingest``
  and ``pipelines.food_orders.run_food_orders_pipeline`` + ``daily_report``.

Every landing and every streamed file is checked against the counts the
generator recorded.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

import eventlog
import gen
from common import (
    Ctx, event_log_path, exec_metrics, median, p90, start_session, stop_session, tagging_recorder,
)
from procstat import RssSampler, tree_cpu_s

# (covid files, rows per covid file, food rows) of the warm-up landing and
# of each timed landing. A run times max(2, round(seconds /
# NOMINAL_LANDING_S)) landings: a count fixed by --seconds, not by how fast
# this host is (see query_workload.NOMINAL_PASS_S).
WARM_LANDING = (1, 2_000, 2_000)
LANDING = (2, 25_000, 25_000)
NOMINAL_LANDING_S = 4.5
STREAM_ROWS = 10_000
STREAM_INTERVAL_S = 0.25     # 40k rows/s offered
STREAM_WARM_FILES = 4
DRAIN_TIMEOUT_S = 60.0
DB = "etl"


# ---------------------------------------------------------------------------
# batch phase
# ---------------------------------------------------------------------------

def run_landing(spark, landing: gen.Landing):
    from etl_pipeline_spark.pipelines import food_orders, orchestration

    covid = orchestration.run_validated_ingest(spark, landing.covid_glob, database=DB)
    food = food_orders.run_food_orders_pipeline(
        spark, landing.food_path, delivered_table=f"{DB}.delivered",
        other_table=f"{DB}.other_status_orders",
    )
    report = food_orders.daily_report(spark, f"{DB}.delivered").collect()
    return covid, food, report


def verify_landing(ctx: Ctx, spark, landing: gen.Landing, out, n_landed: int) -> None:
    covid, food, report = out
    e, f = landing.covid, landing.food
    ctx.check(
        (covid.input_rows, covid.output_rows, covid.quarantined_rows, covid.parse_failures)
        == (e.input_rows, e.clean, e.quarantined, e.parse_failures)
        and covid.input_rows == covid.output_rows + covid.quarantined_rows + covid.parse_failures,
        f"covid counts {covid} != {e}",
    )
    reasons = {r[0]: r[1] for r in spark.sql(
        f"SELECT reject_reason, count(*) FROM {DB}.covid_quarantine GROUP BY 1").collect()}
    ctx.check(reasons == {k: v for k, v in e.reasons.items() if v},
              f"quarantine reasons {reasons} != {e.reasons}")
    deaths, n_clean = spark.sql(
        f"SELECT sum(total_confirmed_deaths), count(*) FROM {DB}.covid_clean").collect()[0]
    ctx.check((deaths, n_clean) == (e.death_sum, e.clean),
              f"clean table ({deaths}, {n_clean}) != ({e.death_sum}, {e.clean})")
    audit_path = ",".join(sorted(landing.covid_paths))
    n_audit, n_mine, count_mine = spark.sql(
        f"SELECT count(*), count_if(input_path = '{audit_path}'), "
        f"max(CASE WHEN input_path = '{audit_path}' THEN record_count END) "
        f"FROM {DB}.covid_audit_log").collect()[0]
    ctx.check((n_audit, n_mine, count_mine) == (n_landed, 1, e.clean),
              f"audit rows ({n_audit}, {n_mine}, {count_mine}) != ({n_landed}, 1, {e.clean})")
    ctx.check(
        (food.total_count, food.delivered_count, food.other_count)
        == (f.total, f.delivered, f.total - f.delivered),
        f"food split {food} != ({f.total}, {f.delivered})",
    )
    got = {str(r["day"]): (r["n_orders"], r["revenue"]) for r in report}
    ctx.check(
        got.keys() == f.daily.keys() and all(same_day(got[d], want) for d, want in f.daily.items()),
        "daily report differs from the generated orders",
    )


def same_day(got: tuple, want: tuple) -> bool:
    """Equal order counts; revenue equal to the cent (Spark sums doubles)."""
    if got[0] != want[0] or (got[1] is None) != (want[1] is None):
        return False
    return got[1] is None or abs(got[1] - want[1]) < 0.005


def timed_landing(ctx: Ctx, spark, landings, i: int, rec=None):
    """Run landing ``i`` (inside a ``landing`` span when traced) and check
    it. Returns (landing, wall_s, first_span, last_span, covid result), or
    None if it raised."""
    first = len(rec.spans) if rec else 0
    t0 = time.perf_counter()
    try:
        if rec:
            with rec.span("landing"):
                out = run_landing(spark, landings[i])
        else:
            out = run_landing(spark, landings[i])
    except Exception as exc:  # a failing landing is a result, not a crash
        print(f"landing {i}: {type(exc).__name__}: {str(exc)[:300]}", file=sys.stderr)
        ctx.check(False, f"landing {i} raised")
        return None
    wall = time.perf_counter() - t0
    verify_landing(ctx, spark, landings[i], out, i + 1)
    return landings[i], wall, first, len(rec.spans) if rec else 0, out[0]


# ---------------------------------------------------------------------------
# stream phase
# ---------------------------------------------------------------------------

class Stream:
    def __init__(self, ctx: Ctx, spark, files):
        from etl_pipeline_spark.streaming.ingest import start_file_ingest

        self.ctx = ctx
        self.files = files                      # [(pending path, CovidExpect)]
        self.watch = ctx.path("stream", "watch", "")
        self.out = ctx.path("stream", "out", "")
        self.ckpt = ctx.path("stream", "ckpt", "")
        self.landed: dict[str, float] = {}      # basename -> scheduled time
        self.late: list[float] = []
        self.query = start_file_ingest(spark, self.watch, self.out, self.ckpt,
                                       trigger_available_now=False)

    def land(self, i: int, due: float) -> None:
        src = self.files[i][0]
        dst = os.path.join(self.watch, os.path.basename(src))
        os.replace(src, dst)
        os.utime(dst)
        self.late.append(max(0.0, time.time() - due))
        self.landed[os.path.basename(src)] = due

    def file_batches(self) -> dict[str, int]:
        """basename -> batch id, from the file source's checkpoint log."""
        out = {}
        for p in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            if os.path.basename(p).startswith("."):
                continue
            with open(p, encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def commit_time(self, batch: int) -> float | None:
        marker = os.path.join(self.out, "audit", f"batch_id={batch}", "_SUCCESS")
        try:
            return os.path.getmtime(marker)
        except OSError:
            return None

    def wait_committed(self, timeout: float) -> bool:
        end = time.time() + timeout
        while time.time() < end:
            fb = self.file_batches()
            if all(n in fb and self.commit_time(fb[n]) is not None for n in self.landed):
                return True
            if self.query.exception() is not None:
                return False
            time.sleep(0.05)
        return False

    def run_schedule(self, first: int, count: int) -> float:
        """Land files ``first .. first+count-1`` on the fixed schedule;
        returns the wall-clock start of the schedule."""
        t0 = time.time()
        for k in range(count):
            due = t0 + k * STREAM_INTERVAL_S
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            self.land(first + k, due)
        return t0

    def verify(self) -> None:
        """Every landed file's rows appear exactly once across the
        ``batch_id=`` outputs: per batch, the main / quarantine / audit
        outputs equal the sum of the expectations of the files the
        checkpoint assigned to it, and each file is in one batch."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        fb = self.file_batches()
        exp_of = {os.path.basename(p): e.as_streamed() for p, e in self.files}
        batches: dict[int, gen.CovidExpect] = {}
        for name in self.landed:
            ok = self.ctx.check(name in fb, f"stream file {name} never ingested")
            if ok:
                batches.setdefault(fb[name], gen.CovidExpect()).add(exp_of[name])
        for b, e in sorted(batches.items()):
            main = pq.read_table(os.path.join(self.out, "main", f"batch_id={b}"))
            quar = pq.read_table(os.path.join(self.out, "quarantine", f"batch_id={b}"))
            audit = pq.read_table(os.path.join(self.out, "audit", f"batch_id={b}"))
            deaths = pc.sum(main["total_confirmed_deaths"]).as_py() or 0
            reasons = {r["values"]: r["counts"] for r in
                       pc.value_counts(quar["reject_reason"]).to_pylist()}
            self.ctx.check(
                (main.num_rows, deaths, reasons, audit["record_count"].to_pylist())
                == (e.clean, e.death_sum, {k: v for k, v in e.reasons.items() if v}, [e.clean]),
                f"stream batch {b}: outputs differ from its files' expectations",
            )

    def latencies(self) -> list[float]:
        fb = self.file_batches()
        return [self.commit_time(fb[n]) - due for n, due in self.landed.items()
                if n in fb and self.commit_time(fb[n]) is not None]


def stream_layers(stream: Stream, progress: list, window_end: float, log) -> dict:
    """streaming.* from StreamingQueryProgress, jobs per batch from the
    event log."""
    fb = stream.file_batches()
    batch_ids = {fb[n] for n in stream.landed if n in fb}
    ps = [p for p in progress if p["batchId"] in batch_ids and p["numInputRows"] > 0]
    d = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks) / 1e3  # noqa: E731
    per_batch_files = [sum(1 for n in stream.landed if fb.get(n) == b) for b in batch_ids]
    busy = sum(d(p, "triggerExecution") for p in ps)
    span = max(stream.commit_time(b) or 0 for b in batch_ids) - min(stream.landed.values())
    jobs = log.jobs_where(lambda j: j.batch_id in batch_ids)
    return {
        "streaming.batch_s": median(d(p, "triggerExecution") for p in ps),
        "streaming.add_batch_s": median(d(p, "addBatch") for p in ps),
        "streaming.checkpoint_s": median(d(p, "walCommit", "commitOffsets") for p in ps),
        "streaming.source_s": median(d(p, "latestOffset", "getBatch") for p in ps),
        "streaming.planning_s": median(d(p, "queryPlanning") for p in ps),
        "streaming.files_per_batch": median(per_batch_files),
        "streaming.jobs_per_batch": len(jobs) / max(1, len(batch_ids)),
        "streaming.busy_ratio": busy / span if span > 0 else 0.0,
        "streaming.backlog_files_end": sum(
            1 for n in stream.landed
            if n not in fb or (stream.commit_time(fb[n]) or float("inf")) > window_end),
        "gen.late_s": max(stream.late, default=0.0),
    }


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def run(ctx: Ctx) -> dict:
    # inputs first: generation is not part of set-up
    n_landings = 4 if ctx.trace else max(2, round(ctx.seconds / NOMINAL_LANDING_S))
    landings = [
        gen.write_landing(ctx.path("landings", str(i), ""), ctx.seed, i,
                          *(LANDING if i else WARM_LANDING))
        for i in range(1 + n_landings)
    ]
    n_timed = max(2, int(round(ctx.seconds / STREAM_INTERVAL_S)))
    files = gen.write_stream_files(ctx.path("stream", "pending", ""), ctx.seed,
                                   STREAM_WARM_FILES + n_timed, STREAM_ROWS)

    ctx.note("inputs written")
    t0 = time.perf_counter()
    spark, session_s = start_session(ctx, "perfbench-ingest")
    ctx.note("session started")
    stream = None
    try:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
        # set-up: one landing and the first micro-batches, both untimed
        timed_landing(ctx, spark, landings, 0)
        ctx.note("warm landing done")
        stream = Stream(ctx, spark, files)
        stream.run_schedule(0, STREAM_WARM_FILES)
        ctx.check(stream.wait_committed(DRAIN_TIMEOUT_S), "stream warm-up files not committed")
        warm = dict(stream.landed)
        setup_s = time.perf_counter() - t0
        ctx.note("stream warm-up committed; set-up done")

        cpu0 = tree_cpu_s()
        with RssSampler() as rss:
            sched0 = stream.run_schedule(STREAM_WARM_FILES, n_timed)
            window_end = sched0 + n_timed * STREAM_INTERVAL_S
            ctx.check(stream.wait_committed(DRAIN_TIMEOUT_S), "stream files not committed in time")
            stream_cpu = tree_cpu_s() - cpu0
            progress = [p if isinstance(p, dict) else json.loads(p.json)
                        for p in stream.query.recentProgress]
            stream.query.stop()
            ctx.note("stream phase done")
            stream.verify()
            for n in warm:
                stream.landed.pop(n)
            lat = stream.latencies()
            stream_rows = STREAM_ROWS * len(stream.landed)

            if ctx.trace:
                plain, traced, rec = traced_landings(ctx, spark, landings)
            else:
                cpu1 = tree_cpu_s()
                plain = [r for i in range(1, len(landings))
                         if (r := timed_landing(ctx, spark, landings, i))]
                batch_cpu = tree_cpu_s() - cpu1
            ctx.note(f"batch phase done: {len(plain)} landings")
        walls = [w for _, w, *_ in plain]
        rows = sum(lnd.rows for lnd, *_ in plain)
        if not ctx.trace:
            return {
                "setup_s": setup_s,
                "pass_s": median(walls),
                "rows_per_s": rows / sum(walls),
                "file_latency_s.p50": median(lat),
                "file_latency_s.p90": p90(lat),
                "cpu_s": (stream_cpu + batch_cpu) / ((rows + stream_rows) / 1e6),
                "peak_rss_mb": rss.peak_mb,
            }
    finally:
        if stream is not None and stream.query.isActive:
            stream.query.stop()
        stop_session(spark)
    log = eventlog.read(event_log_path(ctx))
    layers = landing_layers(rec, traced, log, ctx.cpus)
    layers.update(stream_layers(stream, progress, window_end, log))
    layers["session.start_s"] = session_s
    layers["cache.peak_mb"] = log.storage_peak_bytes / 2**20
    layers["trace.overhead_s"] = median(w for _, w, *_ in traced) - median(walls)
    return layers


def traced_landings(ctx: Ctx, spark, landings):
    """Four landings in the order untraced, traced, traced, untraced, so a
    drift over the run cancels out of the tracing overhead."""
    from etl_pipeline_spark.pipelines import covid, food_orders, orchestration

    rec = tagging_recorder(spark)
    plain, traced = [], []
    for i, with_spans in enumerate((False, True, True, False), start=1):
        if with_spans:
            rec.wrap(orchestration, "file_gate", "quality.file_gate")
            rec.wrap(orchestration, "run_covid_pipeline", "pipelines.covid")
            rec.wrap(food_orders, "run_food_orders_pipeline", "pipelines.food")
            rec.wrap(food_orders, "daily_report", "pipelines.food_report")
            rec.wrap(covid, "overwrite_table", "sinks.write")
            rec.wrap(covid, "append_table", "sinks.write")
            rec.wrap(food_orders, "overwrite_table", "sinks.write")
        try:
            result = timed_landing(ctx, spark, landings, i, rec if with_spans else None)
        finally:
            rec.unwrap_all()
        if result:
            (traced if with_spans else plain).append(result)
    return plain, traced, rec


def landing_layers(rec, traced, log, cpus: int) -> dict:
    """Per traced landing, medians over landings."""
    by_span = log.by_span()

    def jobs_under(spans) -> list:
        return [j for s in spans for d in rec.descendants(s.sid) for j in by_span.get(d, ())]

    rows = []
    for landing, wall, first, last, covid_res in traced:
        spans = rec.spans[first:last]
        named = lambda *ns: [s for s in spans if s.name in ns]  # noqa: E731
        gate, sinks = named("quality.file_gate"), named("sinks.write")
        reads = log.totals(jobs_under(named("quality.file_gate", "pipelines.covid", "pipelines.food")))
        writes = log.totals(jobs_under(sinks))
        everything = log.totals(jobs_under(named("landing")))
        rows.append({
            "quality.gate_s": sum(s.duration for s in gate),
            "quality.gate_jobs": len(jobs_under(gate)),
            "sources.read_amplification": reads.get("input_bytes", 0.0) / landing.nbytes,
            "sources.parse_failures": covid_res.parse_failures,
            "pipelines.covid_s": sum(s.duration for s in named("pipelines.covid")),
            "pipelines.food_s": sum(s.duration for s in named("pipelines.food", "pipelines.food_report")),
            "pipelines.jobs_per_landing": everything.get("jobs", 0),
            "sinks.write_s": sum(s.duration for s in sinks),
            "sinks.write_amplification": writes.get("output_bytes", 0.0) / landing.nbytes,
            "sinks.files_written": writes.get("files_written", 0.0),
            **exec_metrics(everything, wall, cpus),
        })
    return {k: median(r[k] for r in rows) for k in rows[0]}
