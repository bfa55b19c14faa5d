"""The Spark session the benchmark runs on, kept inside the work directory.

Every file Spark, the JVM and the Python workers write goes under the
run's work directory: shuffle and spill (``spark.local.dir``), temp files
(``java.io.tmpdir`` and ``TMPDIR``, set by ``run.py`` before anything
reads them), the warehouse and, in traced runs, the event log.
"""

from __future__ import annotations

import glob
import os


def start_spark(work: str, trace: bool, master: str | None = None):
    from opensnowcat_collector_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # uncompressed, single-file log: the defaults write zstd-compressed
        # rolling logs that cannot be read line by line
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_path(work: str, app_id: str) -> str:
    """The event log of application ``app_id`` (read it after
    ``spark.stop()``, which completes the log)."""
    (path,) = glob.glob(os.path.join(work, "eventlog", f"{app_id}*"))
    return path


def stop_jvm() -> None:
    """Stop the JVM the PySpark gateway launched and wait for it to exit
    (a no-op when no Spark session was started)."""
    import sys

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
