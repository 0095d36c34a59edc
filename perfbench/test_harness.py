"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

from harness import (
    PHASES,
    check_crawl,
    check_rows,
    failed_frac,
    geomean,
    median,
    phase_totals,
    quartile_spread,
    sample_ids,
    unattributed_s,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- metric arithmetic -------------------------------------------------------


def test_median_and_geomean():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    # a small query's gain moves the geomean as much as a big one's
    assert geomean([0.5, 8.0]) == pytest.approx(geomean([1.0, 4.0]))
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread():
    vals = [10.0, 10.0, 10.0, 10.0, 10.0]
    assert quartile_spread(vals) == 0.0
    # exclusive quartiles of 1..10 are 2.75, 5.5 and 8.25
    assert quartile_spread([float(v) for v in range(10, 0, -1)]) == pytest.approx(1.0)


def test_failed_frac():
    assert failed_frac(0, 120) == 0.0
    assert failed_frac(3, 120) == pytest.approx(0.025)
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(5, 4)


def test_phases_and_unattributed_add_up_to_wall():
    rounds = [
        {"wall_s": 3.25, "timings": {"plan_build": 1.0, "fetch_and_links_exec": 1.5,
                                     "delta_writes": 0.5}},
        {"wall_s": 9.0, "timings": {"plan_build": 2.0, "fetch_and_links_exec": 1.0,
                                    "delta_writes": 3.0, "compaction": 2.5}},
    ]
    assert unattributed_s(3.25, rounds[0]["timings"]) == pytest.approx(0.25)
    t = phase_totals(rounds)
    assert t["wall"] == pytest.approx(12.25)
    assert t["compaction"] == pytest.approx(2.5)
    assert t["unattributed"] == pytest.approx(0.75)
    assert sum(t[p] for p in PHASES) + t["unattributed"] == pytest.approx(t["wall"])
    with pytest.raises(ValueError):
        unattributed_s(1.0, {"mystery_phase": 0.5})


def test_sample_ids_is_fixed_per_seed():
    ids = [f"id-{i}" for i in range(100)]
    a = sample_ids(ids, 10, seed=7)
    assert a == sample_ids(list(reversed(ids)), 10, seed=7)
    assert a != sample_ids(ids, 10, seed=8)
    assert len(set(a)) == 10


# -- crawl checks against the real simulator on a tiny world ------------------


@pytest.fixture(scope="module")
def crawl():
    from housing_crawler_spark import synth
    from housing_crawler_spark.simulator import simulate

    world = synth.WorldConfig(n_hosts=3, base_pages=4, img_lo=16, img_hi=32)
    sim = simulate(world, 4)
    want = {
        "fetch_order": list(sim.fetch_order),
        "seen": set(sim.seen),
        "ledger": {(r, h): n for r, h, n, _ in sim.ledger},
        "images": {
            i["image_id"]: (i["caption"], i["phash"], i["fmt"], i["w"], i["h"])
            for i in sim.images
        },
        "byte_hashes": {i["image_id"]: hash(i["bytes"]) for i in sim.images[:5]},
    }
    budgets = {synth.host_name(i): synth.budget(world, i) for i in range(world.n_hosts)}
    assert len(want["fetch_order"]) > 10 and want["images"]
    return want, budgets


def _copy(res):
    return {k: (v.copy() if hasattr(v, "copy") else v) for k, v in res.items()}


def test_identical_crawl_passes(crawl):
    want, budgets = crawl
    assert check_crawl(_copy(want), want, budgets) == []


def test_swapped_fetch_order_is_rejected(crawl):
    want, budgets = crawl
    got = _copy(want)
    order = list(got["fetch_order"])
    order[3], order[4] = order[4], order[3]
    got["fetch_order"] = order
    assert any("fetch order" in p for p in check_crawl(got, want, budgets))


def test_dropped_seen_url_is_rejected(crawl):
    want, budgets = crawl
    got = _copy(want)
    got["seen"] = set(got["seen"])
    got["seen"].discard(next(iter(sorted(got["seen"]))))
    assert any("seen set" in p for p in check_crawl(got, want, budgets))


def test_changed_image_and_bytes_are_rejected(crawl):
    want, budgets = crawl
    got = _copy(want)
    iid = sorted(got["images"])[0]
    cap, ph, fmt, w, h = got["images"][iid]
    got["images"] = {**got["images"], iid: (cap, ph ^ 1, fmt, w, h)}
    assert any("image rows" in p for p in check_crawl(got, want, budgets))
    got = _copy(want)
    bid = sorted(got["byte_hashes"])[0]
    got["byte_hashes"] = {**got["byte_hashes"], bid: -1}
    assert any("image bytes" in p for p in check_crawl(got, want, budgets))


def test_budget_overrun_is_rejected(crawl):
    want, budgets = crawl
    (r, host), n = next(iter(want["ledger"].items()))
    tight = {**budgets, host: n - 1}
    assert any("budget" in p for p in check_crawl(_copy(want), want, tight))


# -- query checks (row-multiset contract) --------------------------------------


def _frame():
    return pd.DataFrame(
        {"k": [1, 2, 3], "v": [0.12344, 2.5, float("nan")], "s": ["a", "b", None]}
    )


def test_identical_rows_pass_in_any_order():
    a = _frame()
    b = _frame().iloc[::-1].reset_index(drop=True)[["s", "v", "k"]]
    b.loc[b["k"] == 1, "v"] = 0.12341  # equal at 4 decimals
    assert check_rows(a, b) == []


def test_altered_row_is_rejected():
    a, b = _frame(), _frame()
    b.loc[1, "v"] = 2.6
    assert check_rows(a, b) and "rows differ" in check_rows(a, b)[0]


def test_missing_row_and_column_are_rejected():
    a = _frame()
    assert "row count" in check_rows(a, a.iloc[:2])[0]
    assert "columns" in check_rows(a, a.drop(columns=["s"]))[0]


def test_nan_and_null_are_equal():
    a = pd.DataFrame({"x": [float("nan")]})
    b = pd.DataFrame({"x": [None]})
    assert check_rows(a, b) == []


# -- process supervision ---------------------------------------------------------

_SUPERVISED = """
import os, sys
sys.path.insert(0, {here!r})
from harness import descendants, supervise
# the child leaves a grandchild running that ignores SIGTERM
script = "import subprocess, sys; p = subprocess.Popen(['sh', '-c', 'trap \\"\\" TERM; sleep 300 & wait']); print(p.pid)"
rc = supervise([sys.executable, "-c", script], dict(os.environ), timeout_s=30, grace_s=0.5)
print("rc", rc, "left", descendants(os.getpid()))
"""


def test_supervise_ends_processes_the_child_left_behind():
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, "-c", _SUPERVISED.format(here=here)],
        capture_output=True, text=True, timeout=60, check=True,
    ).stdout.split()
    orphan = int(out[0])
    assert out[1:] == ["rc", "0", "left", "[]"]
    assert not os.path.exists(f"/proc/{orphan}")


def test_supervise_stops_a_run_past_its_timeout():
    import subprocess

    script = f"""
import os, sys
sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
from harness import descendants, supervise
rc = supervise([sys.executable, "-c", "import time; time.sleep(300)"], dict(os.environ), timeout_s=1)
print(rc, descendants(os.getpid()))
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=60, check=True
    ).stdout
    assert out.split() == ["1", "[]"]
