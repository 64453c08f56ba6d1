"""Shared run machinery: an isolated run directory, the Spark session
factory, per-op job accounting, latency statistics and memory readings.

Nothing here imports pyspark at module level, so the statistics helpers
can be tested without a JVM.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

#: the part of the run directory's path below the checkout root; listed in
#: the root .gitignore and removed when a run ends
RUN_ROOT = ".perfbench_run"


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def ranked_latencies(latencies: list[float], failed: list[bool]) -> list[float]:
    """Latencies with every failed op ranked slower than every success: a
    failure counts as the larger of its own time and the slowest success,
    so fixing a failure can only lower a percentile."""
    ok = [t for t, f in zip(latencies, failed) if not f]
    worst = max(ok, default=0.0)
    return [max(t, worst) if f else t for t, f in zip(latencies, failed)]


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# --------------------------------------------------------------------------
# memory and CPU of the driver process and its JVM
# --------------------------------------------------------------------------


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the JVM, in MB."""
    kb = _status_kb("self", "VmHWM")
    if jvm_pid:
        kb += _status_kb(jvm_pid, "VmHWM")
    return kb / 1024.0


def cpu_seconds(pid: int | str) -> float:
    """User plus system CPU time of one process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs: a
    run that saw much of it was measured on a contended host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


# --------------------------------------------------------------------------
# the run directory
# --------------------------------------------------------------------------


class RunDir:
    """Per-run scratch under the checkout: data, Spark local dirs, warehouse,
    derby home, engine state and temp files. Removed on close."""

    def __init__(self, checkout: str, label: str):
        self.root = os.path.join(checkout, RUN_ROOT)
        self.path = os.path.join(self.root, f"{label}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        for sub in ("data", "local", "tmp", "state", "warehouse", "derby"):
            os.makedirs(os.path.join(self.path, sub))
        # engine artifacts, pyspark's shipped package zip and Python temp
        # files all land in the run directory, never in the checkout root
        os.environ["SPARK_GRAFT_STATE_DIR"] = self.sub("state")
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["TMPDIR"] = self.sub("tmp")
        # read by glibc when the JVM starts: without a cap each JVM thread
        # may get its own malloc arena, and the native part of the JVM's
        # peak RSS then swings by hundreds of MB between identical runs
        os.environ["MALLOC_ARENA_MAX"] = "2"
        tempfile.tempdir = self.sub("tmp")

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self.root)
        except OSError:
            pass  # another run still owns a sibling directory


# --------------------------------------------------------------------------
# Spark session
# --------------------------------------------------------------------------


def driver_heap_mb() -> int:
    """An eighth of physical memory, between 1 and 4 GB. The generated
    inputs are a few MB; a heap far larger than the live data would let
    the JVM's peak RSS follow GC timing instead of retained memory."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return max(1024, min(4096, total // 8))


def new_session(run: RunDir, cores: int):
    """A fresh local session. Stops the active one first, so the next
    session starts a new SparkContext inside the same JVM."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # a fixed heap and young generation: G1 otherwise resizes both run by
    # run, and the touched regions make the JVM's peak RSS swing by
    # hundreds of MB between identical runs
    heap = driver_heap_mb()
    java_opts = (
        f"-Xms{heap}m -Xmn{heap // 8}m -Dderby.system.home={run.sub('derby')}"
        f" -Djava.io.tmpdir={run.sub('tmp')}"
    )
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", run.sub("local"))
        .config("spark.sql.warehouse.dir", run.sub("warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store must keep every job of a run for the per-op
        # accounting below (defaults: 1000 jobs / 1000 stages)
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM this process launched and wait for it: the gateway
    server exits when its stdin closes."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def store_jobs(spark) -> int:
    """Jobs in the status store, on every thread and job group."""
    return int(spark.sparkContext._jsc.sc().statusStore().jobsList(None).size())


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class JobMeter:
    """Per-op Spark job accounting: every op runs under a job group id used
    once, and counts are read from the status store after the timed phase
    (the lookups are py4j round trips, kept out of the timings)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.prefix = f"perfbench-{uuid.uuid4().hex[:12]}"
        self.n = 0

    def begin(self) -> str:
        self.n += 1
        group = f"{self.prefix}-{self.n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)


    def counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                stages += 1
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
