"""Spark session for one benchmark run, with every file it writes kept
under the run's work directory and every process it starts stopped."""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import time
from contextlib import contextmanager

from annbench.sysstat import tree_pids


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False
    return state not in ("Z", "X")


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


@contextmanager
def spark_session(root: str, workdir: str):
    """Yield ``(spark, start_s)``: a ``local[<cores>]`` session made by the
    package's own ``get_spark`` and the seconds it took to start."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    # no JVM, the launcher's included, writes perf data to the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.local.dir={os.path.join(workdir, 'spark-local')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )
    from pyspark import SparkContext

    from pgvectorscale_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("annbench", master=f"local[{cores}]", shuffle_partitions=cores)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    try:
        yield spark, start_s
    finally:
        children = tree_pids()[1:]
        spark.stop()
        # the JVM exits when its stdin closes; its Python workers follow
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        _wait_gone(children, 30.0)
        # let a later session in this process launch a JVM of its own
        SparkContext._gateway = None
        SparkContext._jvm = None
