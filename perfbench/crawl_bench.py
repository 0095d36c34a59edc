"""The two crawl workloads: closed-loop rounds of ``CrawlEngine``, one
round after the other, checked against ``simulator.simulate``."""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import traceback

from harness import (
    PHASES,
    PeakRss,
    check_crawl,
    failed_frac,
    log,
    median,
    phase_totals,
    sample_ids,
    steal_ticks,
)
from launch import ROOT, JobCounter, cores, restart_session, start_session, stop_spark

#: world (``synth.WorldConfig``) and engine (``crawl.EngineConfig``)
#: settings per workload; every other setting is the program's default
WORKLOADS = {
    "crawl-codec": {
        "world": dict(
            n_hosts=40,
            base_pages=80,
            round_seconds=200_000,  # unbounded: every host drains per round
            img_lo=128,
            img_hi=512,
            imgs_per_detail_max=2,
            fmt_override="dctq",
            img_noise=2.0,
        ),
        "engine": dict(verify_decode=True),
        "rounds": 2,
        # cold JIT, codegen and Python worker start would otherwise be
        # about half of the timed rounds: crawl a smaller copy first
        "warm_up_pages": 10,
    },
    "crawl-frontier": {
        "world": dict(n_hosts=100, base_pages=150, round_seconds=60),
        "engine": dict(
            # stands in for a frontier far past the default 200k-URL
            # switch: the seen-set pre-filter is built in round 2 and
            # maintained incrementally in round 3
            bloom_min_known=1_000,
            # round 2 compacts (the default cadence is 8)
            compact_every=2,
        ),
        "rounds": 3,
    },
}

TABLES = ("fetch_log", "known", "images", "bloom", "frontier_base", "robots")
SETUP_REPS = 3
BYTE_SAMPLE = 48  # images whose encoded bytes are hashed against the oracle
CODEC_SAMPLE = 24  # payloads timed through the codec calls


def _timed_store_class():
    """SnapshotStore whose write/read/commit calls add up their seconds."""
    import threading

    from housing_crawler_spark.storage.snapshots import SnapshotStore

    class TimedStore(SnapshotStore):
        def __init__(self, root):
            super().__init__(root)
            self.spans = {"write_delta": 0.0, "read_deltas": 0.0, "commit_round": 0.0}
            self._lock = threading.Lock()

        def _span(self, name, fn, *a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.spans[name] += dt

        def write_delta(self, *a, **kw):
            return self._span("write_delta", super().write_delta, *a, **kw)

        def read_deltas(self, *a, **kw):
            return self._span("read_deltas", super().read_deltas, *a, **kw)

        def commit_round(self, *a, **kw):
            return self._span("commit_round", super().commit_round, *a, **kw)

    return TimedStore


def _world(name: str, seed: int, **override):
    from housing_crawler_spark import synth

    return synth.WorldConfig(seed=seed, **{**WORKLOADS[name]["world"], **override})


def _engine(spark, root: str, world, name: str, timed: bool):
    from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
    from housing_crawler_spark.storage.snapshots import SnapshotStore

    shutil.rmtree(root, ignore_errors=True)
    store = (_timed_store_class() if timed else SnapshotStore)(root)
    return CrawlEngine(spark, store, world, EngineConfig(**WORKLOADS[name]["engine"]))


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------


def _image_facts(args):
    """(image_id, w, h, phash, sha256-or-None) of one oracle image; runs
    in a worker process."""
    import sys

    root, lo, hi, noise, iid, pseed, idx, fmt, want_bytes = args
    if root not in sys.path:
        sys.path.insert(0, root)
    from housing_crawler_spark import synth
    from housing_crawler_spark.operators.images import encode, phash64

    img = synth.gen_image(pseed, idx, lo, hi, noise)
    digest = hashlib.sha256(encode(img, fmt)).hexdigest() if want_bytes else None
    return iid, img.shape[1], img.shape[0], phash64(img), digest


def oracle(world, n_rounds: int, byte_ids_seed: int) -> dict:
    """``simulator.simulate`` on the same world. The simulator's image
    rows are rebuilt from the same ``synth``/``images`` calls in a
    process pool (the single-process oracle would otherwise cost more
    than the crawl); only a fixed sample of images is re-encoded."""
    import multiprocessing as mp

    from housing_crawler_spark import simulator, synth

    pending = []

    def light_images(cfg, url, res):
        caption = synth.clean_caption_py(res.caption_raw)
        for idx in range(res.n_images):
            iid = simulator.image_id_for(url, idx)
            pending.append((iid, res.payload_seed, idx, synth.image_fmt(cfg, url, idx), caption))
        return []

    real = simulator.make_images
    simulator.make_images = light_images
    try:
        sim = simulator.simulate(world, n_rounds)
    finally:
        simulator.make_images = real
    byte_ids = set(sample_ids([p[0] for p in pending], BYTE_SAMPLE, byte_ids_seed))
    jobs = [
        (ROOT, world.img_lo, world.img_hi, world.img_noise, iid, ps, idx, fmt, iid in byte_ids)
        for iid, ps, idx, fmt, _ in pending
    ]
    with mp.get_context("spawn").Pool(cores()) as pool:
        facts = pool.map(_image_facts, jobs, chunksize=64)
    caption = {p[0]: (p[4], p[3]) for p in pending}
    images, byte_hashes = {}, {}
    for iid, w, h, ph, digest in facts:
        cap, fmt = caption[iid]
        images[iid] = (cap, ph, fmt, w, h)
        if digest is not None:
            byte_hashes[iid] = digest
    return {
        "fetch_order": list(sim.fetch_order),
        "seen": set(sim.seen),
        "ledger": {(r, h): n for r, h, n, _ in sim.ledger},
        "images": images,
        "byte_hashes": byte_hashes,
        "payloads": [(ps, idx, fmt) for _, ps, idx, fmt, _ in pending],
    }


def engine_result(eng, n_rounds: int, byte_ids) -> dict:
    from pyspark.sql import functions as F

    log = (
        eng.fetch_log(n_rounds)
        .select("round", "host", "host_idx", "rank", "canonical_url", "kind", "attempts")
        .toPandas()
        .sort_values(["round", "host_idx", "rank"])
    )
    order = list(zip(log["round"].tolist(), log["host"], log["canonical_url"], log["kind"]))
    ledger = log.groupby(["round", "host"]).size()
    imgs = eng.images(n_rounds)
    rows = imgs.select("image_id", "caption", "phash", "fmt", "w", "h").collect()
    sampled = (
        imgs.filter(F.col("image_id").isin(sorted(byte_ids))).select("image_id", "bytes").collect()
        if byte_ids
        else []
    )
    return {
        "fetch_order": order,
        "seen": set(log.loc[log["kind"] != "captcha", "canonical_url"]),
        "ledger": {(int(r), h): int(n) for (r, h), n in ledger.items()},
        "images": {
            r["image_id"]: (r["caption"], r["phash"], r["fmt"], r["w"], r["h"]) for r in rows
        },
        "byte_hashes": {r["image_id"]: hashlib.sha256(bytes(r["bytes"])).hexdigest() for r in sampled},
        "log": log,
    }


# ---------------------------------------------------------------------------
# store accounting
# ---------------------------------------------------------------------------


def store_usage(root: str) -> dict[str, tuple[int, int]]:
    """table -> (bytes, parquet files) on disk, plus '_total' bytes."""
    out = {}
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    for t in TABLES:
        b = n = 0
        for dirpath, _, files in os.walk(os.path.join(root, t)):
            for f in files:
                b += os.path.getsize(os.path.join(dirpath, f))
                n += f.endswith(".parquet")
        out[t] = (b, n)
    out["_total"] = (total, 0)
    return out


# ---------------------------------------------------------------------------
# layer probes (traced run only, after the timed section)
# ---------------------------------------------------------------------------


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _cached_count(df):
    t0 = time.perf_counter()
    df = df.cache()
    df.count()
    return df, time.perf_counter() - t0


def layer_probes(spark, eng, world, name: str, res: dict, truth: dict) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    from housing_crawler_spark import synth
    from housing_crawler_spark.functions.urls import canonicalize_url, url_hash
    from housing_crawler_spark.operators import bloom
    from housing_crawler_spark.operators.frontier import select_round, with_budgets
    from housing_crawler_spark.operators.images import decode, encode, phash64

    out: dict[str, float] = {}
    n_rounds = WORKLOADS[name]["rounds"]

    # codec path: isolated calls over a fixed sample of the run's payloads
    sample = sample_ids(
        [f"{ps}:{idx}:{fmt}" for ps, idx, fmt in truth["payloads"]], CODEC_SAMPLE, world.seed
    )
    t = {"gen": [], "enc": [], "dec": [], "phash": []}
    for key in sample:
        ps, idx, fmt = key.split(":")
        t0 = time.perf_counter()
        img = synth.gen_image(int(ps), int(idx), world.img_lo, world.img_hi, world.img_noise)
        t1 = time.perf_counter()
        buf = encode(img, fmt)
        t2 = time.perf_counter()
        decode(buf)
        t3 = time.perf_counter()
        phash64(img)
        t4 = time.perf_counter()
        for k, a, b in (("gen", t0, t1), ("enc", t1, t2), ("dec", t2, t3), ("phash", t3, t4)):
            t[k].append((b - a) * 1e3)
    out["synth.gen_image_ms"] = median(t["gen"])
    out["images.encode_ms"] = median(t["enc"])
    out["images.decode_ms"] = median(t["dec"])
    out["images.phash_ms"] = median(t["phash"])

    # fetch path: the run's fetched URLs through synth.fetch
    flog = res["log"]
    t0 = time.perf_counter()
    fetched = [synth.fetch(world, u, int(a)) for u, a in zip(flog["canonical_url"], flog["attempts"])]
    out["synth.fetch_us_per_url"] = (time.perf_counter() - t0) / len(flog) * 1e6
    last_r = int(flog.loc[flog["kind"] == "listing", "round"].max())
    links = [link for fr in fetched if fr.kind == "listing" for link in fr.out_links]
    links_df = spark.createDataFrame(pd.DataFrame({"url": links}))
    canon = links_df.select(canonicalize_url(F.col("url")).alias("c")).select(
        "c", url_hash(F.col("c")).alias("h")
    )
    out["urls.canonicalize_s"] = _noop(canon)

    # scheduling: frontier reconstruction and the top-B selection
    out["crawl.frontier_reconstruct_s"] = _noop(eng.frontier(n_rounds))
    eligible, _ = _cached_count(eng.frontier(n_rounds).filter(F.col("next_round") <= n_rounds + 1))
    budgets = with_budgets(eng.store.read_snapshot(spark, "robots", 0), world.round_seconds)
    out["frontier.select_round_s"] = _noop(
        select_round(eligible, budgets, eng.cfg.salt_threshold, eligible.count())
    )
    eligible.unpersist()

    if not eng.store.commits()[-1]["metrics"].get("bloom_rebuilds"):
        return out  # the engine never built the seen-set pre-filter here
    # seen-set pre-filter: the last listing round's links against the
    # known set the engine probed them against
    last_links = [
        link
        for fr, r in zip(fetched, flog["round"])
        if fr.kind == "listing" and r == last_r
        for link in fr.out_links
    ]
    known = eng.known(last_r - 1).select(
        url_hash(F.col("canonical_url")).alias("url_hash"), "canonical_url"
    )
    known, _ = _cached_count(known)
    known_urls = {r["canonical_url"] for r in known.select("canonical_url").collect()}
    cfg = eng.cfg
    want = cfg.bloom_growth * cfg.bloom_bits_per_key * max(1, len(known_urls))
    n_bits = 1 << max(12, (want // cfg.bloom_shards).bit_length())
    shards, out["bloom.build_shards_s"] = _cached_count(
        bloom.build_shards(known.select("url_hash"), cfg.bloom_shards, n_bits=n_bits)
    )
    cand = (
        spark.createDataFrame(pd.DataFrame({"url": last_links}))
        .select(canonicalize_url(F.col("url")).alias("canonical_url"))
        .withColumn("url_hash", url_hash(F.col("canonical_url")))
    )
    probed, out["bloom.probe_s"] = _cached_count(
        bloom.probe(spark, cand, shards, n_shards=cfg.bloom_shards)
    )
    rows = probed.select("canonical_url", "maybe_seen").collect()
    n_maybe = sum(r["maybe_seen"] for r in rows)
    n_fp = sum(r["maybe_seen"] and r["canonical_url"] not in known_urls for r in rows)
    out["bloom.maybe_seen_frac"] = n_maybe / max(1, len(rows))
    out["bloom.false_positive_frac"] = n_fp / max(1, len(rows))
    for df in (probed, shards, known):
        df.unpersist()
    return out


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def run(name: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    from housing_crawler_spark import synth

    world = _world(name, seed)
    seed_rows = synth.seed_frontier_rows(world)
    robots = synth.robots_rows(world)

    spark, cold_s = start_session(work)
    session_s = [cold_s]
    try:
        for _ in range(SETUP_REPS - 1):
            spark, s = restart_session(spark, work)
            session_s.append(s)
        return _measure(spark, name, world, seed_rows, robots, session_s, seconds, trace, work)
    finally:
        stop_spark(spark)


def _measure(spark, name, world, seed_rows, robots, session_s, seconds, trace, work) -> dict:
    from housing_crawler_spark import synth

    n_rounds = WORKLOADS[name]["rounds"]
    warm_pages = WORKLOADS[name].get("warm_up_pages")
    if warm_pages:
        tiny = _world(name, world.seed, base_pages=warm_pages)
        warm = _engine(spark, os.path.join(work, "store-warm"), tiny, name, False)
        warm.init_state(synth.seed_frontier_rows(tiny), synth.robots_rows(tiny))
        warm.run(n_rounds)
        log("warm-up done")
    # the first init_state may also pay the JVM's warm-up (class loading,
    # codegen, Python workers); the median of the reps leaves it out
    init_s = []
    for _ in range(SETUP_REPS):
        eng = _engine(spark, os.path.join(work, "store-0"), world, name, trace)
        t0 = time.perf_counter()
        eng.init_state(seed_rows, robots)
        init_s.append(time.perf_counter() - t0)
    log(f"set-up done: sessions {session_s}, init_state {init_s}")

    counter = JobCounter(spark)
    untraced_tasks = []  # round jobs not already counted round by round
    episodes: list[list[dict]] = []
    raised = 0
    os.sync()
    steal0 = steal_ticks()
    with PeakRss() as mem:
        timed = 0.0
        while not episodes or timed < seconds:
            if episodes:
                untraced_tasks.append(counter.mark())
                eng = _engine(spark, os.path.join(work, f"store-{len(episodes)}"), world, name, trace)
                eng.init_state(seed_rows, robots)
                counter.mark()  # init jobs are set-up, not rounds
            rounds = []
            for r in range(1, n_rounds + 1):
                t0 = time.perf_counter()
                try:
                    m = eng.run_round(r)
                except Exception:  # a raising round is a failure, not a crash
                    traceback.print_exc()
                    raised += 1
                    break
                wall = time.perf_counter() - t0
                rounds.append(
                    {"wall_s": wall, "timings": m["timings"], "metrics": m,
                     **(counter.mark() if trace else {})}
                )
            episodes.append(rounds)
            timed += sum(r["wall_s"] for r in rounds)
            if raised:
                break
    untraced_tasks.append(counter.mark())
    steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / cores() / timed
    log(f"timed section done: rounds {[[round(r['wall_s'], 2) for r in ep] for ep in episodes]}, "
        f"steal {steal:.3f}, memory at peak {mem.at_peak}")
    all_rounds = [r for ep in episodes for r in ep]
    counts = untraced_tasks + all_rounds
    n_tasks = sum(c.get("tasks", 0) for c in counts)
    n_failed_tasks = sum(c.get("failed_tasks", 0) for c in counts)
    usage = store_usage(eng.store.root)

    # correctness, outside the timed section: the last episode in full,
    # every episode's per-round fetch counts
    truth = oracle(world, n_rounds, world.seed)
    res = engine_result(eng, n_rounds, set(truth["byte_hashes"]))
    budgets = {synth.host_name(i): synth.budget(world, i) for i in range(world.n_hosts)}
    problems = check_crawl(res, truth, budgets)
    want_counts = [
        sum(n for (r, _), n in truth["ledger"].items() if r == rr) for rr in range(1, n_rounds + 1)
    ]
    for i, ep in enumerate(episodes):
        got_counts = [r["metrics"]["n_selected"] for r in ep]
        if got_counts != want_counts:
            problems.append(f"episode {i} per-round fetch counts {got_counts} != {want_counts}")
    n_checks = 6 + len(episodes)
    log("checks done")

    n_urls = sum(r["metrics"]["n_selected"] for r in all_rounds)
    wall = sum(r["wall_s"] for r in all_rounds)
    n_images = len(truth["images"]) * len(episodes)
    round_p50 = median(median(r["wall_s"] for r in ep) for ep in episodes if ep)
    e2e = {
        "crawl_urls_per_s": (n_urls / wall, "1/s"),
        "images_per_s": (n_images / wall, "1/s"),
        "round_s_p50": (round_p50, "s"),
        "setup_s": (median(s + i for s, i in zip(session_s, init_s)), "s"),
        "peak_rss_mb": (mem.peak_mb, "MB"),
        "store_bytes_per_url": (usage["_total"][0] * len(episodes) / n_urls, "B"),
    }
    layer: dict[str, float] = {}
    attempted = len(all_rounds) + raised + n_checks + n_tasks
    failed = raised + n_failed_tasks
    if trace:
        layer = _layer_metrics(episodes, eng, usage, session_s, init_s, n_failed_tasks)
        layer["host.steal_frac"] = steal
        layer.update(layer_probes(spark, eng, world, name, res, truth))
        if name == "crawl-codec":
            import analytics_bench

            a = analytics_bench.probe(spark)
            layer.update(a["layer"])
            problems += a["problems"]
            attempted += a["attempted"]
            failed += a["failed"]
    for p in problems:
        print(f"[{name}] CHECK FAILED: {p}", flush=True)
    failed += len(problems)
    layer["failed_frac"] = failed_frac(failed, attempted)
    return {
        "correct": not problems and not raised,
        "attempted": attempted,
        "failed": failed,
        "metrics": e2e,
        "layer": layer,
    }


def _layer_metrics(episodes, eng, usage, session_s, init_s, n_failed_tasks) -> dict:
    """Per-layer numbers read from the commit log, the round timings,
    the job counter and the timed store."""
    all_rounds = [r for ep in episodes for r in ep]
    # the phases of the median episode, so they add up to its wall time
    totals = sorted((phase_totals(ep) for ep in episodes), key=lambda t: t["wall"])
    mid = totals[(len(totals) - 1) // 2]
    compactions = [r["metrics"] for r in episodes[-1] if "known_dirty_buckets" in r["metrics"]]
    cfg = eng.cfg
    out = {
        "session.start_s": median(session_s),
        "session.cold_start_s": session_s[0],
        "crawl.init_state_s": median(init_s),
        "crawl.round_wall_s": mid["wall"],
        "crawl.unattributed_s": mid["unattributed"],
        "crawl.spark_jobs_per_round": sum(r["jobs"] for r in all_rounds) / len(all_rounds),
        "crawl.spark_tasks_per_round": sum(r["tasks"] for r in all_rounds) / len(all_rounds),
        "crawl.spark_failed_tasks": n_failed_tasks,
        "crawl.bloom_rebuilds": episodes[-1][-1]["metrics"].get("bloom_rebuilds", 0),
        **{f"snapshots.{k}_s": v for k, v in eng.store.spans.items()},
    }
    for p in PHASES:
        out[f"crawl.{p}_s"] = mid[p]
    if compactions:
        out["crawl.known_dirty_bucket_frac"] = median(
            c["known_dirty_buckets"] / cfg.known_buckets for c in compactions
        )
        out["crawl.frontier_dirty_bucket_frac"] = median(
            c["frontier_dirty_buckets"] / cfg.frontier_buckets for c in compactions
        )
    for t in TABLES:
        out[f"snapshots.bytes.{t}"], out[f"snapshots.files.{t}"] = usage[t]
    return out
