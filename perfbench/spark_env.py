"""Spark session sized to the box, Spark counters read from outside the
engine, and memory readings.

Counters come from three places, none of them inside the engine:

* ``SparkContext.statusTracker()``: the jobs of a job group and their
  stages;
* the JVM ``AppStatusStore`` (present with the UI off): per stage task
  counts, task run time, shuffle read/write and spill bytes;
* the SQL status store: rows output by each file scan, with the scanned
  location, so reads of one input directory can be counted.
"""

from __future__ import annotations

import os
import platform
import re
import resource
import subprocess
import tempfile

MAX_CORES = 4
# C1 only, with room for all of Spark's compiled code. A run lives about a
# minute; with C2 on, the query path was still being compiled (1-5 s of
# compiler time per 8 s of queries on 4 cores) for the first ~100 s of
# queries, so a window measured how far the compiler had got, not the
# engine. C1 reaches its steady state within the warm-up.
JIT = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"


def box(env=os.environ) -> dict:
    """Cores, RAM and the settings derived from them. ``SPARK_GRAFT_CPUS``
    overrides the visible core count; at most MAX_CORES are used so one
    benchmark client leaves the rest of a shared machine alone."""
    visible = len(os.sched_getaffinity(0))
    cores = int(env.get("SPARK_GRAFT_CPUS") or visible)
    cores = max(1, min(cores, visible, MAX_CORES))
    ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    ram_gib = ram_bytes / 2**30
    # a quarter of RAM, 1-2 GiB: the corpora here need well under 1 GiB,
    # and a heap that can grow further only makes the JVM's peak RSS
    # depend on when collections happen to run
    heap_gib = int(max(1, min(2, ram_gib // 4)))
    return {
        "cores": cores,
        "visible_cores": visible,
        "ram_gib": round(ram_gib, 1),
        "driver_heap": f"{heap_gib}g",
        "shuffle_partitions": cores,
    }


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def start_session(sizing: dict, work_dir: str, root: str):
    """local[cores] session whose scratch files all stay under work_dir,
    with the engine under ``root`` importable by Spark's Python workers.
    Must run before anything else in the process launches a JVM."""
    from pyspark.sql import SparkSession

    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # SPARK_LOCAL_DIRS beats spark.local.dir when both are set
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # no JVM perf-data file outside work_dir, for the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (root, os.environ.get("PYTHONPATH")) if x
    )
    spark = (
        SparkSession.builder.master(f"local[{sizing['cores']}]")
        .appName("perfbench")
        .config("spark.driver.memory", sizing["driver_heap"])
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC {JIT} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        .config("spark.sql.shuffle.partitions", str(sizing["shuffle_partitions"]))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.local.dir", local)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    except Py4JError:
        pass  # the JVM is already gone: the run was interrupted mid-call
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the launcher exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Driver Python peak RSS plus the JVM's peak RSS (VmHWM)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return own + jvm


class SparkCounters:
    """Job-group bookkeeping plus the stage and scan counters of a group.

    Reads happen after the measured calls, never between them: the
    listener bus is drained first so the status store is complete."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> dict:
        """jobs, tasks, failed_tasks, task_run_s, shuffle read/write
        bytes and spill bytes of one job group. A stage shared by several
        jobs counts once; skipped stages run no tasks."""
        self._drain()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            (
                "tasks",
                "failed_tasks",
                "task_run_s",
                "shuffle_read_bytes",
                "shuffle_write_bytes",
                "spill_bytes",
            ),
            0,
        )
        out["jobs"] = len(job_ids)
        for s in stage_ids:
            sd = store.lastStageAttempt(s)
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["task_run_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def last_sql_execution(self) -> int:
        """Id of the newest SQL execution so far (-1 if none)."""
        self._drain()
        execs = self.spark._jsparkSession.sharedState().statusStore()
        ids = [-1]
        it = execs.executionsList().iterator()
        while it.hasNext():
            ids.append(it.next().executionId())
        return max(ids)

    def scan_rows(self, after_execution: int, location: str) -> int:
        """Rows output by file scans of ``location`` in the SQL
        executions after ``after_execution``."""
        self._drain()
        store = self.spark._jsparkSession.sharedState().statusStore()
        needle = "file:" + os.path.abspath(location).rstrip("/") + "]"
        total = 0
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= after_execution:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not node.name().startswith("Scan") or needle not in node.desc():
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() != "number of output rows":
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += _metric_int(v.get())
        return total


def _metric_int(text: str) -> int:
    """A SQL sum metric as the status store renders it: "1,000", or a
    "total (min, med, max ...)" header line followed by the numbers."""
    line = text.strip().splitlines()[-1]
    return int(re.search(r"\d[\d,]*", line).group(0).replace(",", ""))
