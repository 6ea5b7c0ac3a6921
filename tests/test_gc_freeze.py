"""The package's one-time heap freeze in reused PySpark workers
(``_gc_freeze``).

PySpark's daemon runs a full ``gc.collect()`` after every task of a reused
worker. With the package imported there, the worker's long-lived heap is
frozen after its first full collection, so later collections skip it; the
driver's GC is left alone."""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import textwrap

import pandas as pd

from pgvectorscale_spark import _gc_freeze

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import gc, threading, weakref
    threads = threading.active_count()
    import pgvectorscale_spark
    before = gc.get_freeze_count()
    gc.collect()
    after = gc.get_freeze_count()

    class Node:
        pass

    a = Node()
    a.self = a  # cyclic garbage made after the freeze
    ref = weakref.ref(a)
    del a
    gc.collect()
    gc.collect()
    print(before, after > 0, ref() is None, gc.get_freeze_count() == after,
          threading.active_count() == threads)
    """
)


def _run(env_extra: dict) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}
    env.update(env_extra, PYTHONPATH=os.pathsep.join([_ROOT, os.environ.get("PYTHONPATH", "")]))
    return subprocess.run(
        [sys.executable, "-c", _SCRIPT], capture_output=True, text=True, env=env,
        cwd=_ROOT, timeout=120,
    )


def test_reused_worker_freezes_once_and_prints_nothing():
    """Where the daemon reuses the worker: nothing frozen at import, the
    heap frozen by the first full collection and only then, later cyclic
    garbage still collected, no output, no thread."""
    res = _run({"SPARK_REUSE_WORKER": "1"})
    assert res.returncode == 0, res.stderr
    assert (res.stdout, res.stderr) == ("0 True True True True\n", "")


def test_other_processes_keep_their_gc():
    res = _run({})
    assert res.returncode == 0, res.stderr
    assert (res.stdout, res.stderr) == ("0 False True True True\n", "")


def test_driver_is_not_frozen():
    assert _gc_freeze._freeze_after_full_collection not in gc.callbacks
    assert gc.get_freeze_count() == 0


def test_python_workers_freeze_from_their_second_task(spark):
    """In a ``mapInPandas`` UDF, each worker's heap is frozen from its
    second task on, and cycles the 50 tasks drop after the freeze are
    still collected."""

    def probe(batches):
        import gc
        import os
        import sys
        import time
        import weakref

        import pgvectorscale_spark  # noqa: F401 (installs the freeze)

        # each task holds one cycle until the worker's next task drops it
        state = sys.__dict__.setdefault("_gc_freeze_test", {"refs": [], "held": None})
        refs = state["refs"]
        # cycles dropped by earlier tasks, from the worker's second task on
        # (its first task's cycle was alive when the heap froze)
        alive = sum(r() is not None for r in refs[1:-1])

        class Node:
            pass

        a = Node()
        a.self = a
        refs.append(weakref.ref(a))
        state["held"] = a
        del a
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()], "t": [time.monotonic_ns()],
            "frozen": [gc.get_freeze_count()], "alive": [alive],
        })

    rows = spark.range(0, 50, 1, 50).mapInPandas(
        probe, "pid long, t long, frozen long, alive long"
    ).collect()
    assert len(rows) == 50
    by_worker: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: r["t"]):
        by_worker.setdefault(r["pid"], []).append(r)
    assert max(len(v) for v in by_worker.values()) >= 2
    for tasks in by_worker.values():
        assert all(r["frozen"] > 0 for r in tasks[1:])
    assert all(r["alive"] == 0 for r in rows)
    assert gc.get_freeze_count() == 0
