"""Session sizing, host evidence and call isolation for the benchmark.

Every path the benchmark writes (inputs, checkpoints, Spark scratch, JVM and
Python temp files, references, traces) lies under one work directory inside
the checkout.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from typing import Callable

# Driver JVM heap as a share of the host's memory: the inputs are a few MB,
# and the box is shared, so the heap stays well below the physical total.
DRIVER_MEM_SHARE = 0.15


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_load() -> dict:
    """``/proc/loadavg`` and the cumulative cpu/steal ticks of ``/proc/stat``."""
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return {"loadavg": load, "cpu_ticks": sum(ticks), "steal_ticks": ticks[7]}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    running descendant: the driver JVM and its Python workers."""
    kids, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(entry)
        kids.setdefault(int(fields[1]), []).append(pid)
        used[pid] = int(fields[11]) + int(fields[12])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def steal_share(before: dict, after: dict) -> float:
    total = after["cpu_ticks"] - before["cpu_ticks"]
    return (after["steal_ticks"] - before["steal_ticks"]) / total if total else 0.0


def start_spark(work: str, cores: int):
    """A local session sized from the host, all scratch under ``work``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import linkgraph from the checkout; temp files of the
    # driver, the JVM and the workers stay inside the work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no /tmp/hsperfdata_* files from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    driver_mb = max(1024, int(host_mem_mb() * DRIVER_MEM_SHARE))
    parts = 2 * cores
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("linkgraph-perfbench")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.default.parallelism", str(parts))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # The status store keeps 1000 jobs/stages by default; a traced run
        # (passes and layer probes) runs more than that, and evicted stages
        # make per-call totals wrong. Raised so a whole run stays retained.
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, driver_mb


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM (``VmHWM``)."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the driver's /proc status")


class Bench:
    """What one run shares: the session, its work directory and the tracer.

    ``call`` is the one way the benchmark invokes the library, so every call
    is timed, traced, and isolated from the next one.
    """

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def pinned_ids(self) -> set:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keys())

    def release(self, keep: frozenset = frozenset()) -> None:
        """Drop cached DataFrames and unpersist every pinned RDD not in
        ``keep``: a cache one call leaks would otherwise serve the next call
        whose plan matches, and that call would time a cache read."""
        self.spark.catalog.clearCache()
        pinned = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(pinned.keys()):
            if rid not in keep:
                pinned.get(rid).unpersist(True)

    def call(self, layer: str, op: str, thunk: Callable, keep_result: bool = False, **attrs):
        """Run ``thunk`` in a span named after the layer it calls and record its
        wall time and the RDDs it left pinned. Those RDDs are then released,
        unless the call builds an input that later calls of the pass read
        (``keep_result``); the pass releases that when it ends."""
        before = frozenset(self.pinned_ids())
        with self.tracer.span(layer, op=op, **attrs) as rec:
            rec["op"] = op
            c0, t0 = tree_cpu_s(), time.perf_counter()
            out = thunk()
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
        rec["pinned_rdds_left"] = len(self.pinned_ids() - before)
        if not keep_result:
            self.release(keep=before)
        return out, rec


def checkpoint_input(df):
    """Materialize a call's input once, pinned as a local checkpoint so that
    ``Bench.release`` (which clears the DataFrame cache) keeps it."""
    return df.localCheckpoint(eager=True)


def median(values) -> float:
    return float(statistics.median(values))
