"""Readings taken from the operating system: process-tree CPU, the driver's
peak RSS and bytes written under a directory."""

from __future__ import annotations

import os
import resource

_TICKS = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    # Every thread's children, not only the main thread's: Spark's Python
    # workers are forked by a daemon that a JVM worker thread started, so
    # /proc/<jvm>/task/<jvm>/children alone misses them.
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    seen: list[int] = []
    stack = [root or os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def _proc_cpu_s(pid: int) -> float:
    """utime + stime of a process (all its threads) plus that of its
    children it has already reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return 0.0
    # fields after the parenthesised command: state is field 3, so
    # utime, stime, cutime, cstime (fields 14-17) sit at offsets 11-14
    fields = stat[stat.rindex(")") + 2 :].split()
    return sum(int(x) for x in fields[11:15]) / _TICKS


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the process tree under ``root``: the
    driver, the JVM it launched and every Python worker."""
    return sum(_proc_cpu_s(p) for p in tree_pids(root))


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) process, in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def file_states(path: str) -> dict[tuple, int]:
    """(inode, mtime_ns, size) -> size for every regular file under ``path``."""
    out: dict[tuple, int] = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except FileNotFoundError:
                continue
            out[(st.st_ino, st.st_mtime_ns, st.st_size)] = st.st_size
    return out


def bytes_written(before: dict[tuple, int], path: str) -> tuple[int, dict[tuple, int]]:
    """Bytes in files under ``path`` that are new or rewritten since the
    ``before`` listing, and the new listing. Files created and removed in
    between are not seen."""
    after = file_states(path)
    return sum(size for key, size in after.items() if key not in before), after


def dir_bytes(path: str) -> int:
    return sum(file_states(path).values())
