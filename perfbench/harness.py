"""Pure helpers of the benchmark: statistics, metric arithmetic, result
checks and the /proc memory sampler.

Nothing here imports Spark, so ``test_harness.py`` runs without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
from collections.abc import Iterable, Sequence


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no values")
    return float(statistics.median(vals))


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals or any(v <= 0 for v in vals):
        raise ValueError(f"geomean needs positive values, got {vals}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def quartile_spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median (the spread the
    BENCHMARK.json bounds are checked against)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def failed_frac(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("nothing was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


# ---------------------------------------------------------------------------
# round phase arithmetic
# ---------------------------------------------------------------------------

#: the phases ``CrawlEngine.run_round`` times itself (commit-log ``timings``)
PHASES = ("plan_build", "fetch_and_links_exec", "delta_writes", "compaction")


def unattributed_s(wall_s: float, timings: dict[str, float]) -> float:
    """Round wall time not covered by any engine phase (the commit and
    cache release after the last phase, plus the phase timers' ms
    rounding). By construction the phases plus this add up to ``wall_s``."""
    unknown = set(timings) - set(PHASES)
    if unknown:
        raise ValueError(f"unknown engine phases {sorted(unknown)}")
    return wall_s - sum(timings.values())


def phase_totals(rounds: Sequence[dict]) -> dict[str, float]:
    """Sum each phase over rounds ({'wall_s', 'timings'} dicts); phases a
    round did not run count 0. Adds ``unattributed`` and ``wall``."""
    out = {p: 0.0 for p in PHASES}
    out["unattributed"] = 0.0
    out["wall"] = 0.0
    for r in rounds:
        for p in PHASES:
            out[p] += r["timings"].get(p, 0.0)
        out["unattributed"] += unattributed_s(r["wall_s"], r["timings"])
        out["wall"] += r["wall_s"]
    return out


# ---------------------------------------------------------------------------
# crawl result checks (engine vs simulator)
# ---------------------------------------------------------------------------


def check_crawl(got: dict, want: dict, budgets: dict[str, int]) -> list[str]:
    """Compare an engine crawl with the simulator on the same world.

    Both sides are dicts with ``fetch_order`` (list of (round, host, url,
    kind) in round, host-index, rank order), ``seen`` (set of URLs),
    ``ledger`` ({(round, host): n_fetched}) and ``images`` ({image_id:
    (caption, phash, fmt, w, h)}); ``got`` may add ``byte_hashes``
    checked against ``want['byte_hashes']`` on the sampled ids.
    Returns one message per mismatch (empty list = correct)."""
    bad = []
    if got["fetch_order"] != want["fetch_order"]:
        a, b = got["fetch_order"], want["fetch_order"]
        first = next(
            (i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b))
        )
        bad.append(f"fetch order differs at entry {first} (engine {len(a)}, oracle {len(b)})")
    if got["seen"] != want["seen"]:
        bad.append(
            f"seen set differs: {len(got['seen'] - want['seen'])} extra, "
            f"{len(want['seen'] - got['seen'])} missing"
        )
    if got["ledger"] != want["ledger"]:
        bad.append("politeness ledger differs")
    over = [k for k, n in got["ledger"].items() if n > budgets[k[1]]]
    if over:
        bad.append(f"politeness budget exceeded at {over[:3]}")
    if got["images"] != want["images"]:
        ga, wa = got["images"], want["images"]
        diff = sorted(k for k in set(ga) | set(wa) if ga.get(k) != wa.get(k))
        bad.append(f"{len(diff)} image rows differ, e.g. {diff[:3]}")
    for iid, h in want.get("byte_hashes", {}).items():
        if got.get("byte_hashes", {}).get(iid) != h:
            bad.append(f"image bytes differ for {iid}")
    return bad


def sample_ids(ids: Iterable[str], k: int, seed: int) -> list[str]:
    """A fixed, seed-dependent sample of ids (stable across processes:
    keyed on a string hash that is not PYTHONHASHSEED-salted)."""
    import hashlib

    def key(i: str) -> str:
        return hashlib.sha256(f"{seed}:{i}".encode()).hexdigest()

    return sorted(ids, key=key)[:k]


# ---------------------------------------------------------------------------
# query result checks (the row-multiset contract of tests/oracle_harness.py)
# ---------------------------------------------------------------------------


def canon_cell(v) -> str:
    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.4f}"
    if v is pd.NaT:
        return "NULL"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canon_rows(df) -> list[tuple[str, ...]]:
    """Rows as sorted tuples of canonical strings, columns by name."""
    cols = sorted(df.columns)
    return sorted(
        tuple(canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def check_rows(got, want) -> list[str]:
    """Spark result vs DuckDB oracle (both pandas): same column names,
    row count and multiset of canonical rows."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count differs: {len(got)} vs {len(want)}"]
    a, b = canon_rows(got), canon_rows(want)
    if a != b:
        n = sum(x != y for x, y in zip(a, b))
        return [f"{n} rows differ, first {next(x for x, y in zip(a, b) if x != y)}"]
    return []


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def steal_ticks() -> int:
    """Clock ticks the hypervisor has stolen from this machine's CPUs
    (field 8 of /proc/stat's cpu line): time a run waited for a CPU
    that another guest was using."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised; ppid is the field after state
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out[int(d)] = (ppid, name)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared pages split among
    the processes sharing them (forked workers share the daemon's)."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants_memory(root: int) -> dict[str, int]:
    """Resident memory of the Spark JVM and its Python workers among the
    descendants of ``root``. The JVM (heap pre-touched, nothing shared)
    is read from statm; Python processes by PSS, so pages the forked
    workers share with their daemon count once. A java process whose
    parent is a java process is a fork on its way to exec and is
    skipped: it shares every page of the JVM."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    jvm = py = 0
    n_py = 0
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        ppid, name = procs[pid]
        try:
            if name == "java":
                if procs.get(ppid, (0, ""))[1] != "java":
                    with open(f"/proc/{pid}/statm") as f:
                        jvm += int(f.read().split()[1]) * page
            elif name.startswith("python"):
                py += _pss_bytes(pid)
                n_py += 1
        except OSError:
            pass  # exited while sampled
    return {"jvm": jvm, "python": py, "n_python": n_py}


class PeakRss:
    """Samples the memory of the Spark processes on a thread while the
    ``with`` body runs; keeps the largest total and its breakdown."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            m = descendants_memory(me)
            if m["jvm"] + m["python"] > self.peak:
                self.peak, self.at_peak = m["jvm"] + m["python"], m
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# ---------------------------------------------------------------------------
# process supervision
# ---------------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root`` (zombies included)."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in _procs().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _signal_all(pids: Iterable[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def reap_descendants(grace_s: float, kill_after_s: float = 5.0) -> None:
    """Wait until no process is left below this one, reaping each. A
    process still running after ``grace_s`` gets SIGTERM, and SIGKILL
    ``kill_after_s`` later. Orphans only come back to this process if it
    is a child subreaper (see ``supervise``)."""
    import signal

    me = os.getpid()
    t_term = time.monotonic() + grace_s
    t_kill = t_term + kill_after_s
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants(me)
        if not left:
            return
        now = time.monotonic()
        if now >= t_kill:
            _signal_all(left, signal.SIGKILL)
            sent = signal.SIGKILL
        elif now >= t_term and sent is None:
            _signal_all(left, signal.SIGTERM)
            sent = signal.SIGTERM
        time.sleep(0.05)


def supervise(argv: Sequence[str], env: dict, timeout_s: float, grace_s: float = 20.0) -> int:
    """Run ``argv`` as a child, return its exit code (1 if it was
    killed or ran past ``timeout_s``), and before returning end and
    reap every process it started, however deep and whether or not
    its parent is still alive: the Spark JVM, its Python workers,
    multiprocessing helpers. This process becomes a child subreaper,
    so orphaned descendants are re-parented to it rather than to
    init. SIGTERM to this process is turned into the same clean-up."""
    import ctypes
    import signal
    import subprocess

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    old = signal.signal(signal.SIGTERM, on_term)
    child = subprocess.Popen(list(argv), env=env)
    rc = 1
    try:
        try:
            rc = child.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {timeout_s:.0f} s; stopping it")
            child.kill()
            child.wait()
            rc = 1
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        reap_descendants(grace_s)
        signal.signal(signal.SIGTERM, old)
    return rc if rc >= 0 else 1
