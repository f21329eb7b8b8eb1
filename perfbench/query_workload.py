"""The two query workloads: a closed loop with one client that runs the
workload's registered queries back to back, each built by its registry
callable and materialized to Spark's ``noop`` sink (never ``count()``,
under which Catalyst prunes most of the work)."""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager

import eventlog
import gen
from common import (
    Ctx, catalyst_phases_ms, event_log_path, exec_metrics, median, p90, start_session,
    stop_session, tagging_recorder,
)
from procstat import RssSampler, tree_cpu_s

SF = 0.01
# A run times max(MIN_PASSES, round(seconds / NOMINAL_PASS_S)) passes: a
# count fixed by --seconds, not by how fast this host is, because passes
# keep getting faster for the first ~6 in a JVM and a count that varied
# between runs would mix warm stages. Nominal times are 4-vCPU figures;
# two query_sql passes (≈11 s) fit a ≈40 s run, a second query_llm pass
# (≈8.5 s more) does not.
MIN_PASSES = {"sql": 2, "llm": 1}
NOMINAL_PASS_S = {"sql": 5.5, "llm": 8.5}

SQL_QUERIES = [
    "q01_pricing_summary",
    "q06_revenue_delta",
    "q03_order_revenue_topk",
    "q05_nation_revenue",
    "q_join_outer_order_counts",
    "q_join_semi_big_orders",
    "q_window_rank_orders",
    "q_window_tumbling_events",
    "q_etl_clean_cast_filter",
    "q_dedup_exact",
    "q_text_quality_score",
    "q_knn_bruteforce_cosine",
]
LLM_QUERIES = [
    "q_dedup_minhash_lsh",
    "q_pagerank",
    "q_training_data_prep",
    "q_text_gopher_repetition",
    "q_multimodal_features",
    "q_multimodal_frame_sample",
    "q_multimodal_shot_cuts",
]


def oracle_expectations(sf_dir: str, specs: dict, names: list[str]) -> dict:
    """(row count, sorted column names, value hash) of each query's DuckDB
    oracle, hashed by tools/check_oracle.py's ``value_hash``."""
    from tools.check_oracle import open_oracle, value_hash

    con = open_oracle(sf_dir)
    try:
        out = {}
        for name in names:
            tbl = con.execute(specs[name].oracle).fetch_arrow_table()
            cols = tbl.column_names
            rows = list(zip(*(tbl.column(i).to_pylist() for i in range(tbl.num_columns))))
            out[name] = (len(rows), sorted(cols), value_hash(rows, cols))
        return out
    finally:
        con.close()


def verify_pass(ctx: Ctx, spark, specs, names, sf_dir, expected) -> None:
    """Untimed pass: collect each query and compare with its oracle. Being
    the first pass in the JVM, it is also the warm-up."""
    from etl_pipeline_spark.session import release_session_blocks
    from tools.check_oracle import value_hash

    for name in names:
        try:
            df = specs[name].fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            got = (len(rows), sorted(cols), value_hash(rows, cols))
            ctx.check(got == expected[name], f"{name}: spark {got} != oracle {expected[name]}")
        except Exception as exc:  # a failing query is a result, not a crash
            ctx.check(False, f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
        release_session_blocks(spark)


def timed_pass(ctx: Ctx, spark, specs, names, sf_dir, rec=None, phases=None):
    """One pass; returns per-query latencies (build + noop write). With a
    span recorder, also records build / catalyst / write spans and adds
    the Catalyst phase times to ``phases``."""
    from etl_pipeline_spark.session import release_session_blocks

    lat = []
    for name in names:
        t0 = time.perf_counter()
        try:
            if rec is None:
                specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            else:
                with rec.span(f"query:{name}"):
                    with rec.span("queries.build"):
                        df = specs[name].fn(spark, sf_dir)
                    with rec.span("catalyst"):
                        for k, v in catalyst_phases_ms(df).items():
                            phases[k] = phases.get(k, 0.0) + v
                    with rec.span("exec.write"):
                        df.write.format("noop").mode("overwrite").save()
            ok = True
        except Exception as exc:
            ok = False
            print(f"{name}: {type(exc).__name__}: {str(exc)[:300]}", file=sys.stderr)
        lat.append(time.perf_counter() - t0)
        ctx.check(ok, f"{name} raised in a timed pass")
        release_session_blocks(spark)
    return lat


@contextmanager
def counting_loads(table_rows: dict[str, int]):
    """Within the block, count the rows of every table loaded through
    ``catalog.load_tables``; yields a one-element list holding the total."""
    from etl_pipeline_spark import catalog

    real, total = catalog.load_tables, [0]

    def spy(spark, sf_dir, names=catalog.TABLES):
        total[0] += sum(table_rows[t] for t in names)
        return real(spark, sf_dir, names)

    for m in _load_tables_owners(real):
        m.load_tables = spy
    try:
        yield total
    finally:
        # modules first imported inside the block bound the spy too
        for m in _load_tables_owners(spy):
            m.load_tables = real


def _load_tables_owners(fn=None) -> list:
    """Engine modules whose ``load_tables`` is ``fn`` (default: the real
    ``catalog.load_tables``)."""
    from etl_pipeline_spark import catalog

    fn = fn or catalog.load_tables
    return [
        m for n, m in list(sys.modules.items())
        if n.startswith("etl_pipeline_spark") and getattr(m, "load_tables", None) is fn
    ]


def run(ctx: Ctx, family: str) -> dict:
    from etl_pipeline_spark.queries.base import all_specs

    names = SQL_QUERIES if family == "sql" else LLM_QUERIES
    specs = all_specs()
    sf_dir = ctx.path("fixture", "")
    table_rows = gen.write_fixture(sf_dir, ctx.seed, SF)
    expected = oracle_expectations(sf_dir, specs, names)
    ctx.note("inputs and oracle hashes ready")

    t0 = time.perf_counter()
    spark, session_s = start_session(ctx, f"perfbench-query-{family}")
    try:
        with counting_loads(table_rows) as loaded:
            verify_pass(ctx, spark, specs, names, sf_dir, expected)
        setup_s = time.perf_counter() - t0
        ctx.note(f"session {session_s:.2f}s, verify pass done")
        if ctx.trace:
            state = traced_passes(ctx, spark, specs, names, sf_dir)
        else:
            n = max(MIN_PASSES[family], round(ctx.seconds / NOMINAL_PASS_S[family]))
            cpu0 = tree_cpu_s()
            with RssSampler() as rss:
                runs = [timed_pass(ctx, spark, specs, names, sf_dir) for _ in range(n)]
            cpu_s = (tree_cpu_s() - cpu0) / len(runs)
            passes = [sum(r) for r in runs]
            # a query's latency: its mean over the passes
            lat = [sum(q) / len(runs) for q in zip(*runs)]
            ctx.note(f"{len(passes)} timed passes: {[round(p, 2) for p in passes]}; "
                     f"per query: {dict(zip(names, (round(x, 2) for x in lat)))}")
            return {
                "setup_s": setup_s,
                "pass_s": median(passes),
                "rows_per_s": loaded[0] / median(passes),
                "file_latency_s.p50": median(lat),
                "file_latency_s.p90": p90(lat),
                "cpu_s": cpu_s,
                "peak_rss_mb": rss.peak_mb,
            }
    finally:
        stop_session(spark)
    layers = finish_layers(ctx, state)
    layers["session.start_s"] = session_s
    return layers


def traced_passes(ctx, spark, specs, names, sf_dir) -> dict:
    """Four passes in the order untraced, traced, traced, untraced, so a
    drift over the run (JIT warming) cancels out of the tracing overhead."""
    rec = tagging_recorder(spark)
    plain, passes = [], []
    for traced in (False, True, True, False):
        if not traced:
            plain.append(sum(timed_pass(ctx, spark, specs, names, sf_dir)))
            continue
        for m in _load_tables_owners():
            rec.wrap(m, "load_tables", "catalog.load_tables")
        try:
            first = len(rec.spans)
            phases: dict[str, float] = {}
            q = timed_pass(ctx, spark, specs, names, sf_dir, rec, phases)
        finally:
            rec.unwrap_all()
        passes.append({"wall": sum(q), "first_span": first, "last_span": len(rec.spans),
                       "phases": phases})
    ctx.note(f"untraced {plain}, traced {[p['wall'] for p in passes]}")
    return {"rec": rec, "passes": passes, "plain": plain}


def finish_layers(ctx: Ctx, state: dict) -> dict:
    """Per-layer metrics per traced pass (medians over traced passes)."""
    rec, passes = state["rec"], state["passes"]
    log = eventlog.read(event_log_path(ctx))
    by_span = log.by_span()

    def jobs_of(sids) -> list:
        return [j for s in sids for j in by_span.get(s, ())]

    per_pass = []
    for p in passes:
        spans = rec.spans[p["first_span"]:p["last_span"]]
        named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
        load = named("catalog.load_tables")
        build = named("queries.build")
        write = named("exec.write")
        exec_jobs = jobs_of(sid for s in write for sid in rec.descendants(s.sid))
        all_jobs = jobs_of(s.sid for s in spans)
        ex = log.totals(exec_jobs)
        py = log.totals(all_jobs)
        exec_wall = sum(s.duration for s in write)
        per_pass.append({
            "catalog.load_s": sum(s.duration for s in load),
            "catalog.jobs": len(jobs_of(s.sid for s in load)),
            "queries.build_s": sum(rec.self_time(s) for s in build),
            "queries.eager_jobs": len(jobs_of(s.sid for s in build)),
            "catalyst.analysis_ms": p["phases"].get("analysis", 0.0),
            "catalyst.optimization_ms": p["phases"].get("optimization", 0.0),
            "catalyst.planning_ms": p["phases"].get("planning", 0.0),
            **exec_metrics(ex, exec_wall, ctx.cpus),
            "exec.python_boot_ms": py.get("python_boot_ms", 0.0),
            "exec.python_init_ms": py.get("python_init_ms", 0.0),
            "exec.python_total_ms": py.get("python_total_ms", 0.0),
            "exec.python_bytes_sent": py.get("python_bytes_sent", 0.0),
        })
    out = {k: median(pp[k] for pp in per_pass) for k in per_pass[0]}
    out["cache.peak_mb"] = log.storage_peak_bytes / 2**20
    out["trace.overhead_s"] = median(p["wall"] for p in passes) - median(state["plain"])
    return out

