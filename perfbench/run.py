"""Benchmark entry point.

    python3 perfbench/run.py --workload query_sql --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout. Inputs are generated from
``--seed`` into ``.perfbench/`` (removed when the run ends); every output
is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("query_sql", "query_llm", "ingest")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    needed = ("etl_pipeline_spark/session.py", "tools/check_oracle.py", "BENCHMARK.json")
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a source checkout; missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    # Python workers import the engine too, so the checkout goes on
    # PYTHONPATH (sys.path alone is not inherited by forked workers).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher too, would write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.makedirs(os.environ["TMPDIR"])
    sys.path[:0] = [HERE, root]

    from common import Ctx

    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace), cpus=cpus)
    try:
        if args.workload == "ingest":
            import ingest_workload

            values = ingest_workload.run(ctx)
        else:
            import query_workload

            values = query_workload.run(ctx, args.workload.split("_")[1])
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        ctx.note("done")

    unknown = set(values) - set(units)
    missing = [n for n in units if n not in values and not args.trace]
    if unknown or missing:
        print(f"perfbench: metric names unknown {sorted(unknown)} missing {missing}", file=sys.stderr)
        return 1
    for p in ctx.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        # per-layer metrics of layers this workload does not exercise read 0
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
