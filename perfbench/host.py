"""Host-sized Spark session and /proc readers (CPU, RSS, noise)."""

from __future__ import annotations

import os
import time

TICK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """An eighth of physical memory, clamped to [1, 2] GiB: the workloads'
    tables are a few MB, and the host is shared."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 1024 // 8))


def prepare_env(work: str) -> None:
    """Keep every temp file of the driver, the JVM and Spark in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_heap_mb()}m"


def start_spark(work: str, n_cores: int, event_log: str | None = None):
    """The engine's own session factory, sized to this host: ``local[n]``,
    a heap from /proc/meminfo, scratch under ``work``. The heap and its young
    generation have fixed sizes, so garbage collection does not follow the
    collector's timing-driven resizing and a run's CPU and memory figures
    repeat; the heap is not pre-touched, so peak RSS follows the heap the
    workload actually touches (the young generation plus the peak of the
    old).
    ``event_log`` turns Spark's uncompressed event log on (traced runs
    only)."""
    from canal_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    heap = driver_heap_mb()
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{heap}m -Xmn{heap // 4}m -XX:-UsePerfData"
            f" -XX:-UseDynamicNumberOfCompilerThreads"
            f" -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n_cores}]",
                      shuffle_partitions=n_cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """End the driver JVM and wait for it: it exits at EOF on its stdin,
    which would otherwise only close when this process exits."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes, less the JVM's JIT
    compiler threads: compilation is warm-up that a long-lived JVM
    amortises away, and at this run length it is a third of the JVM's CPU
    and the noisiest part of it. (The compiler threads are kept alive with
    -XX:-UseDynamicNumberOfCompilerThreads, so none of their time hides in
    the process total of exited threads.)"""
    total = 0
    for pid in pids:
        total += _ticks(f"/proc/{pid}/stat")
        for task in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{task}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                total -= _ticks(f"/proc/{pid}/task/{task}/stat")
            # the thread exited meanwhile: its directory is gone, or it is
            # still listed but no longer readable
            except (FileNotFoundError, ProcessLookupError):
                continue
    return total / TICK


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f
                          if line.startswith("VmHWM:"))
    return total / 1024


def _stat() -> tuple[int, int, int]:
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return vals[7] if len(vals) > 7 else 0, vals[4], sum(vals)


class Noise:
    """Host steal% / iowait% over a window plus a fixed pure-CPU JVM job
    (the canary): a record for spotting noisy windows, not a metric."""

    def __init__(self):
        self.t0 = _stat()
        self.canary_s: float | None = None

    def canary(self, spark, n_cores: int) -> None:
        from pyspark.sql import functions as F

        t = time.perf_counter()
        spark.range(0, 50_000_000, 1, n_cores).select(
            F.sum(F.shiftrightunsigned(F.xxhash64("id"), 32))).collect()
        self.canary_s = round(time.perf_counter() - t, 4)

    def record(self) -> dict:
        t1 = _stat()
        dt = (t1[2] - self.t0[2]) or 1
        return {"steal_pct": round(100 * (t1[0] - self.t0[0]) / dt, 2),
                "iowait_pct": round(100 * (t1[1] - self.t0[1]) / dt, 2),
                "canary_s": self.canary_s}
