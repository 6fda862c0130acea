"""Spark session sized to a small box, with an explicit lifetime.

``local[nproc]``, shuffle partitions = nproc, a driver heap that leaves room
on a 15 GB machine, no console progress bar, and every scratch file (local
dirs, warehouse, event log, JVM temp) inside the benchmark's work directory.
``close()`` stops the context, shuts the py4j gateway down and waits for the
JVM to exit, so the next ``BenchSession`` launches a fresh JVM.
"""

from __future__ import annotations

import os
import time

DRIVER_MEMORY = "3g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class BenchSession:
    def __init__(self, work_dir: str, event_log_dir: str | None = None):
        from pyspark.sql import SparkSession

        self.cores = cores()
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the py4j launcher writes its connection file under tempfile's dir
        os.environ["TMPDIR"] = tmp
        # Spark takes its scratch dirs from SPARK_LOCAL_DIRS when it is set
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
        )
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", event_log_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    @property
    def sc(self):
        return self.spark.sparkContext

    def jvm_pid(self) -> int | None:
        proc = getattr(self.sc._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def set_group(self, group: str | None) -> None:
        """Tag the jobs of the following calls (``None`` clears the tag)."""
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            deadline = time.time() + 60
            while proc.poll() is None and time.time() < deadline:
                time.sleep(0.05)
            if proc.poll() is None:
                proc.kill()
            proc.wait()
