"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload crawl-codec --seed 1 --seconds 12 --trace 0

Workloads: crawl-codec, crawl-frontier (see BENCHMARK.json
and perfbench/METRICS.md). ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones. Run from the repository root; all
scratch files go to perfbench/.work/ and are removed on exit.

The workload runs in a child process; this one waits for it and then
ends and reaps every process the child started (the Spark JVM, its
Python workers), so none outlives the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import crawl_bench  # noqa: E402
from harness import supervise  # noqa: E402
from launch import ROOT, prepare  # noqa: E402

#: set in the child's environment to its scratch directory
WORK_ENV = "PERFBENCH_WORK"
#: a run that has not ended by then is stopped, so that it ends within 180 s
RUN_TIMEOUT_S = 150


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(crawl_bench.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "housing_crawler_spark")):
        print("housing_crawler_spark not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.environ.get(WORK_ENV)
    if work is None:
        work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        child = [sys.executable, os.path.abspath(__file__), *(sys.argv[1:] if argv is None else argv)]
        try:
            return supervise(child, {**os.environ, WORK_ENV: work}, RUN_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    units = per_layer_units() if args.trace else {}
    prepare(work)
    res = crawl_bench.run(args.workload, args.seed, args.seconds, bool(args.trace), work)

    if args.trace:
        layer = res["layer"]
        unknown = set(layer) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer the workload does not run reads 0
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in units.items()}
    else:
        metrics = {n: {"value": float(v), "unit": u} for n, (v, u) in res["metrics"].items()}
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
