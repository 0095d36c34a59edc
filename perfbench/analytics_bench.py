"""The analytics layer: a fixed set of registered queries over the
seed-42 sf0.01 tables shipped in ``data/``, each checked against its
DuckDB oracle and timed through the noop sink. Runs inside a traced
crawl-codec run, after the crawl (see METRICS.md)."""

from __future__ import annotations

import os
import time

from harness import check_rows, geomean, log, median
from launch import JobCounter

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: one or more queries per family: relational, ETL, dedup, ANN, image,
#: crawl tier
QUERIES = (
    "q1_pricing_summary",
    "j1_seen_anti_join",
    "w1_priority_rank",
    "etl1_prepare",
    "d9_substring_dup_audit",
    "s6_pq_ann",
    "m17_image_corpus_prep",
    "c5_host_pagerank",
    "c13_kmv_cardinality",
)
PASSES = 1


def duckdb_rows(sql: str):
    import duckdb

    from housing_crawler_spark.queries import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _release(spark) -> None:
    """Drop the queries' caches and collect the JVM's garbage, so no
    query pays for its predecessor's heap."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def probe(spark) -> dict:
    """One checked pass (which also warms up), then ``PASSES`` timed
    passes. Returns per-layer metrics, check problems and counts."""
    from housing_crawler_spark.all_queries import REGISTRY

    counter = JobCounter(spark)
    problems = []
    for q in QUERIES:
        try:
            got = REGISTRY[q].fn(spark, DATA).toPandas()
        except Exception as e:  # a query that raises is a failure, not a crash
            problems.append(f"{q} raised {e!r}")
            continue
        problems += [f"{q}: {p}" for p in check_rows(got, duckdb_rows(REGISTRY[q].oracle))]
        _release(spark)
    counter.mark()
    log("analytics checks done")

    times = {q: [] for q in QUERIES}
    jobs = {q: [] for q in QUERIES}
    n_tasks = n_failed_tasks = 0
    for _ in range(PASSES):
        for q in QUERIES:
            t0 = time.perf_counter()
            try:
                REGISTRY[q].fn(spark, DATA).write.format("noop").mode("overwrite").save()
            except Exception as e:
                problems.append(f"{q} raised {e!r}")
                continue
            times[q].append(time.perf_counter() - t0)
            _release(spark)
            c = counter.mark()
            jobs[q].append(c["jobs"])
            n_tasks += c["tasks"]
            n_failed_tasks += c["failed_tasks"]
    log("analytics passes done")

    q_med = {q: median(v) for q, v in times.items() if v}
    layer = {
        "analytics_s": sum(q_med.values()),
        "query_s_geomean": geomean(q_med.values()) if q_med else 0.0,
    }
    for q in QUERIES:
        layer[f"query.{q}_s"] = q_med.get(q, 0.0)
        layer[f"query.{q}.spark_jobs"] = median(jobs[q]) if jobs[q] else 0
    return {
        "layer": layer,
        "problems": problems,
        "attempted": len(QUERIES) * (PASSES + 2) + n_tasks,
        "failed": n_failed_tasks,
    }
