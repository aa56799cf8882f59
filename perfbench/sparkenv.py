"""Start and stop the engine's Spark session for one benchmark run.

The session comes from ``gelos_spark.session.get_spark`` with the core
count passed explicitly (its default is 32). Everything the JVM and the
Python workers write goes under the run's work directory, the workers
can import the engine from the checkout, and the console progress bar
is off so standard output stays parseable.
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys


def prepare_env(root: str, work: str) -> None:
    """Process environment the JVM and its Python workers inherit.
    Must run before the first Spark or tempfile call."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start(cpus: int, work: str):
    from gelos_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def failed_tasks(spark) -> int:
    st = spark.sparkContext.statusTracker()
    failed = 0
    for job in st.getJobIdsForGroup(None):
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            failed += stage.numFailedTasks if stage else 0
    return failed


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm = 0.0
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm = float(line.split()[1]) / 1024.0
        except OSError:
            pass
    return py + jvm


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
