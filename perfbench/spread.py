"""Run one workload with several seeds and report each end-to-end
metric's median and quartile spread (as a share of the median), the
same spread BENCHMARK.json's bounds are checked against.

    python3 perfbench/spread.py --workload crawl-codec --seeds 1-10

Runs are sequential; each one's last stdout line is kept in
perfbench/.work/spread-<workload>.jsonl. A run that leaves a process
working in the repository behind stops the script with an error.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def ancestors() -> set[int]:
    """This process and every process above it."""
    out, pid = set(), os.getpid()
    while pid > 0:
        out.add(pid)
        with open(f"/proc/{pid}/stat") as f:
            pid = int(f.read().rsplit(")", 1)[1].split()[1])
    return out


def processes_in(root: str) -> list[int]:
    """Pids, other than this one and its ancestors (the shell that
    started it may work in ``root`` too), whose working directory is
    under ``root``."""
    out, mine = [], ancestors()
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            cwd = os.readlink(f"/proc/{d}/cwd")
        except OSError:
            continue
        if cwd == root or cwd.startswith(root + os.sep):
            out.append(int(d))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    log_path = os.path.join(HERE, ".work", f"spread-{args.workload}.jsonl")
    rows = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=180,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        left = processes_in(ROOT)
        if left:
            print(f"seed {seed}: processes left running in {ROOT}: {left}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = seed, wall
        res["log"] = [ln for ln in proc.stderr.splitlines() if ln.startswith("[perfbench")]
        rows.append(res)
        with open(log_path, "a") as f:
            f.write(json.dumps(res) + "\n")
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} failed={res['failed']} {vals}",
              flush=True)
        for ln in res["log"]:
            print("   ", ln, flush=True)
    if len(rows) < 2:
        return 0
    for name in rows[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in rows]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else ("ok" if spread < bound / 3 else "WIDE")
        print(f"{name:24s} median {med:12.4f} spread {spread:.4f} bound {bound} {flag}")
    print(f"mean run wall {statistics.mean(r['wall_s'] for r in rows):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
