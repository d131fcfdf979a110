"""The Spark session the benchmark runs in: sized from the host, with
every scratch path inside the checkout."""

from __future__ import annotations

import os
import subprocess

import hostinfo


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM that PySpark launched and wait for it. It outlives
    ``SparkSession.stop()`` and exits, running its shutdown hooks, once its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM side may be gone already
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Session:
    """The Spark session, sized from the host, with every scratch path
    inside the checkout."""

    def __init__(self, work: str, conf: dict | None = None):
        self.cpus = hostinfo.cpu_count()
        self.heap_mb = hostinfo.driver_heap_mb(hostinfo.mem_total_mb())
        self.work = work
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        # the program's session factory reads these two overrides
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_DRIVER_MEM"] = f"{self.heap_mb}m"
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # the JVM's perf-data file would go to /tmp whatever java.io.tmpdir
        # says; the launcher JVM that spark-submit starts first reads this
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.conf = {
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the traced run reads job and stage info back by id
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "20000",
            **(conf or {}),
        }
        self.spark = None

    def start(self):
        from fact_extraction_spark.session import get_spark

        self.spark = get_spark("perfbench", master=f"local[{self.cpus}]",
                               shuffle_partitions=self.cpus,
                               extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        from fact_extraction_spark.caches import release

        release()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        stop_jvm()

    def jvm_cpu_seconds(self):
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return lambda: hostinfo.tree_cpu_seconds(pid)
