"""Host pinning and Spark session lifetime for the benchmark process.

The session is pinned from the benchmark side only — environment
variables and ``extra_conf`` handed to ``session.get_spark`` — so the
program's own defaults are what every other caller gets:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on (local[nproc]);
- ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of physical RAM, capped at 4 GB
  (the program's 48g default exceeds small hosts);
- UI and console progress bars off;
- every directory Spark, the JVM and Python write to (local dirs,
  warehouse, java.io.tmpdir, TMPDIR) inside the run's work directory.
"""

from __future__ import annotations

import os
import time


def profile() -> dict:
    nproc = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        "nproc": nproc,
        "ram_mb": ram_mb,
        "driver_mem_mb": min(4096, ram_mb // 4),
    }


def pin_environment(work_dir: str, host: dict) -> dict:
    """Set the process environment before pyspark starts a JVM; returns
    the ``extra_conf`` for get_spark."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host["nproc"]),
        SPARK_GRAFT_DRIVER_MEM=f"{host['driver_mem_mb']}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
    )
    os.environ.pop("SPARK_GRAFT_NO_MASTER", None)
    time.tzset()
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


class Session:
    """Owns the SparkSession: start (the first call launches the JVM,
    later calls reattach to the running session with its caches
    cleared), peak JVM memory, and a shutdown that waits for the JVM to
    exit."""

    def __init__(self, extra_conf: dict):
        self.extra_conf = extra_conf
        self.spark = None
        self._proc = None

    def start(self):
        from aws_datalake_platform_spark.session import get_spark
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.catalog.clearCache()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.extra_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the launcher process and its descendants, in MB."""
        if self._proc is None:
            return 0.0
        peak, todo = 0, [self._proc.pid]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]))
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as fh:
                        todo += [int(c) for c in fh.read().split()]
            except OSError:
                continue
        return peak / 1024.0

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            try:
                self._proc.stdin and self._proc.stdin.close()
                self._proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort: never leave a JVM behind
                self._proc.kill()
                self._proc.wait(timeout=30)
