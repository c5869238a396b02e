"""Spark session lifecycle for the benchmark, confined to the checkout.

The session is the engine's own ``session.get_spark`` at ``local[cpus]``.
Before the JVM starts, every scratch location (Spark local dirs, the JVM
and Python temp dirs, the warehouse) is pointed inside ``<work>``, and the
checkout root is put on the Python workers' path.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

from .tracing import alive, descendants

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(work: str) -> None:
    """Point temp locations into ``work``; call before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # spark-submit's launcher JVM would write hsperfdata under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile
    tempfile.tempdir = tmp


def start(work: str, cpus: int, event_log_dir: str | None = None):
    """A session at ``local[cpus]``; with ``event_log_dir`` it writes an
    uncompressed event log there."""
    from wine_label_ocr_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata files, which the JVM writes under /tmp regardless
        # of java.io.tmpdir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    # SparkSession.builder keeps options across sessions, so always set it
    conf["spark.eventLog.enabled"] = str(event_log_dir is not None).lower()
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({"spark.eventLog.dir": "file://" + event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the active session and the JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = descendants(os.getpid())
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(alive(pid) for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {started}")
        time.sleep(0.1)
