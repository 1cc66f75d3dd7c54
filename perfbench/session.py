"""Spark session lifecycle for the benchmark: one driver process, Spark as
``local[k]``, every file Spark or the package writes kept under the
benchmark's work directory."""
from __future__ import annotations

import os
import shutil
import subprocess
import time

from measure import descendants


class Spark:
    def __init__(self, work: str, k: int):
        self.work = work
        self.k = k
        self.session = None

    def start(self, event_log: bool = False):
        from pyspark.sql import SparkSession

        from pdf_parser_spark.pipeline import session_defaults

        b = (
            session_defaults(SparkSession.builder.master(f"local[{self.k}]"), cpus=self.k)
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "3g")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.eventLog.enabled", str(event_log).lower())
        )
        if event_log:
            log_dir = os.path.join(self.work, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            b = (
                b.config("spark.eventLog.dir", f"file://{log_dir}")
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.session = b.getOrCreate()
        self.session.sparkContext.setLogLevel("ERROR")

    def step(self, name: str) -> None:
        """Label the jobs that follow, for the event-log reader."""
        self.session.sparkContext.setLocalProperty("perfbench.step", name)

    def event_log_path(self) -> str:
        app = self.session.sparkContext.applicationId
        return os.path.join(self.work, "eventlog", app)

    def stop(self) -> None:
        if self.session is not None:
            self.session.stop()
            self.session = None

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for every child process."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except OSError:
                pass

