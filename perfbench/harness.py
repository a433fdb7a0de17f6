"""Session, staging and environment plumbing shared by every workload.

Everything the benchmark writes goes under one work directory inside
the checkout: staged inputs, pipeline outputs, Spark's local and temp
directories, the event log and the JVM's java.io.tmpdir.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import sys
import tempfile

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def configure_env(work: pathlib.Path) -> None:
    """Make the run independent of the launch directory and of the
    variables an older host left behind. Must run before the JVM starts:
    the JVM and the Python workers inherit this environment."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers start in Spark's own directories, not the checkout,
    # so they can import the package only through PYTHONPATH
    paths = [str(ROOT), str(BENCH)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # the session's own heap default is what a user gets
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    for p in (str(BENCH), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work: pathlib.Path, event_log: pathlib.Path | None = None):
    """get_spark at local[nproc] with the session's defaults; only paths
    and, for a traced run, the event log are set here."""
    from docling_api_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        # options given to one session carry over to the next one in
        # the same process, so both states are set explicitly
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{nproc()}]",
                     extra_conf=conf)


def shutdown() -> None:
    """Stop the active session, then the gateway JVM, and wait for it to
    exit (closing its stdin is the JVM's signal that Python is gone)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def label(spark, group: str, description: str) -> None:
    spark.sparkContext.setJobGroup(group, description)


def fresh_dir(path: pathlib.Path) -> pathlib.Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
