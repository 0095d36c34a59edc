"""Spark launch fitted to the machine the benchmark runs on, plus the
job/task accounting read from Spark's status tracker."""

from __future__ import annotations

import os
import sys
import time

#: repository root (the benchmark lives one directory below it)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: driver heap; far below the RAM of a 4-core, 15 GB machine, well above
#: what the benchmark's worlds need. The heap is committed and touched at
#: start-up, so peak RSS does not depend on when the collector chose to
#: grow the heap.
DRIVER_MEM = "2g"


def cores() -> int:
    """Cores this process may run on (``nproc`` semantics, without its
    OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def prepare(work: str) -> None:
    """Point every scratch path Spark, the JVM and Python use at ``work``
    and make the package importable. Must run before pyspark starts."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (the launcher's too): temp files under work, and no
    # hsperfdata files, which HotSpot always writes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    """(spark, seconds) — the repo's session factory with cores and
    shuffle partitions = nproc and scratch space under ``work``."""
    from housing_crawler_spark.session import spark_session

    n = cores()
    t0 = time.perf_counter()
    spark = spark_session(
        "perfbench",
        cores=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            # keep every job of a run for the status-tracker counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM pyspark launched for it, and wait
    until the JVM has ended. ``spark.stop()`` alone leaves the JVM
    running until this process exits; closing the JVM's stdin is the
    exit signal pyspark gives it."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass  # the JVM side may already be gone
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def restart_session(spark, work: str):
    """Stop the session and build a new one on the running JVM."""
    spark.stop()
    return start_session(work)


class JobCounter:
    """Counts Spark jobs, tasks and failed tasks between ``mark()`` calls.

    Jobs submitted from the engine's writer threads do not inherit the
    caller's job group, so jobs are attributed by id: every job id the
    tracker knows (grouped or not) that is newer than the last mark."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = "perfbench"
        self.sc.setJobGroup(self.group, "perfbench", interruptOnCancel=False)
        self._seen: set[int] = set(self._job_ids())

    def _job_ids(self) -> list[int]:
        st = self.sc.statusTracker()
        return list(st.getJobIdsForGroup(self.group)) + list(st.getJobIdsForGroup(None))

    def mark(self) -> dict[str, int]:
        """Jobs/tasks/failed tasks since the previous mark."""
        st = self.sc.statusTracker()
        new = [j for j in self._job_ids() if j not in self._seen]
        self._seen.update(new)
        tasks = failed = 0
        for j in new:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numCompletedTasks
                    failed += s.numFailedTasks
        return {"jobs": len(new), "tasks": tasks, "failed_tasks": failed}
