"""A private work directory per run, and the Spark session inside it.

Everything a run writes (TMPDIR, SPARK_LOCAL_DIRS, the SQL warehouse,
Derby's home, the JVM's temp dir, inputs and lakes) lives under
``.clinbench_work/run-<pid>`` in the directory the benchmark is started
from, and the directory is removed when the run ends. ``prepare`` must run
before anything imports ``tempfile`` users or starts the JVM.
"""

from __future__ import annotations

import os
import shutil
import time

WORK_ROOT = ".clinbench_work"


def prepare() -> str:
    work = os.path.abspath(os.path.join(WORK_ROOT, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is live
    except OSError:
        pass


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, app: str):
    """``local[N]`` with N = the cores this process may use; the package's
    own session factory supplies the engine's configuration."""
    from fda_clinical_etl_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    derby = os.path.join(work, "derby")
    # no hsperfdata file: the JVM writes it under /tmp whatever
    # java.io.tmpdir says
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={derby} "
                 "-XX:-UsePerfData")
    n = cores()
    spark = get_spark(
        app_name=app,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads job and stage counters from the status
            # store after each operation; keep enough of them
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.ui.retainedExecutions": "2000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, close the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        deadline = time.monotonic() + 30
        while proc.poll() is None and time.monotonic() < deadline:
            time.sleep(0.1)
        if proc.poll() is None:
            proc.kill()
            proc.wait()
