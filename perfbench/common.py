"""Run environment shared by the workloads: scratch root, SparkSession,
memory and disk accounting, and latency statistics."""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import subprocess
import time

# The checkout's own scratch root; every file a run writes lives under it
# and it is removed when the run ends.
SCRATCH_ROOT = ".perfbench_tmp"


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Driver heap that fits the host: a quarter of RAM, between 1 and 3 GiB."""
    return f"{min(3072, max(1024, mem_total_mb() // 4))}m"


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_steal() -> tuple[int, int]:
    """(all CPU ticks, ticks stolen by the hypervisor) since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (data, checksums, markers)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples above it.

    Returns (percentile, value, sample count); with fewer than eleven
    samples there is no such percentile and the maximum is returned."""
    n = len(samples)
    ordered = sorted(samples)
    if n < 11:
        return 100.0, ordered[-1], n
    rank = n - 10  # samples at or below the reported value
    return 100.0 * rank / n, ordered[rank - 1], n


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Env:
    """Owns the scratch root and the SparkSession of one benchmark run."""

    def __init__(self, cpus: int):
        self.cpus = cpus
        self.root = os.path.abspath(os.path.join(SCRATCH_ROOT, str(os.getpid())))
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        # Spark's shuffle/spill dirs, the JVM's and Python's temp files and
        # DuckDB's all go under the scratch root, never outside the checkout.
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tmp
        self.spark = None
        self.jvm_pid: int | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def fresh_dir(self, name: str) -> str:
        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def start_session(self):
        """Start the SparkSession, which launches the JVM; returns its
        start time in s."""
        from hadoop_source_spark.session import get_spark

        tmp = self.path("tmp")
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.cpus,
            driver_memory=driver_memory(),
            extra_conf={
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep every job/stage of a run visible to the status tracker
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return elapsed

    def storage_memory_mb(self) -> float:
        """Unified (execution + storage) memory the driver's block manager has."""
        sc = self.spark.sparkContext
        status = sc._jsc.sc().getExecutorMemoryStatus()
        it = status.values().iterator()
        total = 0
        while it.hasNext():
            total += it.next()._1()
        return total / 2**20

    def cached_mb(self) -> float:
        """Memory the cached DataFrames occupy in the block manager."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20

    def peak_rss_mb(self) -> float:
        rss = vm_hwm_mb(os.getpid())
        if self.jvm_pid is not None:
            rss += vm_hwm_mb(self.jvm_pid)
        return rss

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, and remove the scratch root."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = gw.proc
                gw.shutdown()
                # the JVM exits when its stdin (the parent's pipe) closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        finally:
            shutil.rmtree(self.root, ignore_errors=True)
            try:
                os.rmdir(SCRATCH_ROOT)
            except OSError:
                pass


def host_record(env: Env) -> dict:
    """nproc, RAM and versions to store beside every result."""
    import pyspark

    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        "nproc": os.cpu_count(),
        "spark_cpus": env.cpus,
        "mem_total_mb": mem_total_mb(),
        "driver_memory": driver_memory(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "platform": platform.platform(),
    }

