"""Freeze a reused PySpark worker's long-lived heap once.

PySpark's daemon runs ``gc.collect()`` in a reused Python worker after
every task (``manager`` in ``pyspark/daemon.py``). That full collection
walks every tracked object in the worker, and most of them are the imported
modules (pyspark, pandas, pyarrow, numpy, this package) and their caches,
which live as long as the worker: about 76k objects, 16 ms of CPU per task
on a 4-vCPU host, several times the work of a small Arrow UDF task.

``install()`` adds a GC callback that calls ``gc.freeze()`` once, right
after the first full collection: every object alive then moves to the
permanent generation, which later collections skip. Objects made after it
are collected as before, so later tasks' cyclic garbage still goes. It is
installed only in a reused worker (the daemon reads ``SPARK_REUSE_WORKER``);
a driver or a one-task worker keeps its GC as it is. The callback never
prints, raises or starts a thread.
"""

from __future__ import annotations

import gc
import os

_frozen = False


def _freeze_after_full_collection(phase: str, info: dict) -> None:
    global _frozen
    if not _frozen and phase == "stop" and info.get("generation") == 2:
        _frozen = True
        gc.freeze()


def install() -> None:
    """Freeze after the next full collection, inside a reused PySpark
    worker only; once per process."""
    if os.environ.get("SPARK_REUSE_WORKER") and (
        _freeze_after_full_collection not in gc.callbacks
    ):
        gc.callbacks.append(_freeze_after_full_collection)
