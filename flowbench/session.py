"""Host-sized Spark session, host facts, load probe and process teardown.

Every path the session writes (local dirs, warehouse, JVM temp files, the
event log) sits under the run's work directory, so a run touches nothing
outside its checkout.
"""

from __future__ import annotations

import os
import platform
import subprocess
import time


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(ram_mb: int) -> int:
    """A sixth of physical RAM, between 1 and 4 GiB: the inputs are tens of
    MB, and the host is shared."""
    return max(1024, min(4096, ram_mb // 6))


def load_average() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Idle and steal shares of the CPU time between two readings; steal
    is time the hypervisor gave this machine's CPUs to someone else."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"idle_share": d[3] / total, "steal_share": d[7] / total}


def start(work_dir: str, cores: int, event_log_dir: str | None = None):
    """``local[cores]`` session with ``cores`` shuffle partitions and the
    FAIR scheduler.  ``event_log_dir`` turns the Spark event log on."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    mem = driver_memory_mb(host_ram_mb())
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("flowbench")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.default.parallelism", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.scheduler.mode", "FAIR")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", f"{mem}m")
         # a fixed-size heap keeps the peak resident set from depending on
         # when the collector chose to grow the heap
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{mem}m -Djava.io.tmpdir={tmp}")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse")))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_facts(spark, cores: int) -> dict:
    jvm = spark._jvm
    return {
        "nproc": cores,
        "ram_mb": host_ram_mb(),
        "driver_memory_mb": driver_memory_mb(host_ram_mb()),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of ``pid`` (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


#: constant shape, independent of the workload and its inputs
PROBE_ROWS = 20_000_000
PROBE_PARTS = 8


def load_probe(spark) -> float:
    """Seconds for a fixed CPU-only job; a run taken under neighbour load
    shows as a slow probe."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, PROBE_ROWS, 1, PROBE_PARTS).select(
        F.sum(F.xxhash64("id") % F.lit(1_000_003))).collect()
    return time.perf_counter() - t0


def stop(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
