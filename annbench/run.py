"""Benchmark of the DiskANN vector-search core of pgvectorscale_spark.

Run from the root of a checkout:

    python3 annbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end ones of BENCHMARK.json; with ``--trace 1`` they are the
per-layer ones, read from Spark's status API, the operating system and an
in-process replay of the graph kernel. All files go to a work directory
under the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPLAY_BLOCK = 1024  # rows in the replayed graph block
CALLS = ("build", "search_batch", "ann_join", "insert", "delete")
SPARK_KEYS = (
    ("wall_s", "s"), ("cpu_s", "CPU-s"), ("jobs", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("driver_s", "s"), ("shuffle_mb", "MB"),
    ("spill_mb", "MB"), ("task_skew", "ratio"),
)
QUERY_KEYS = ("candidates_scored", "rescored", "shard_searches")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("serve", "churn"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def per_op_calls(calls: list[tuple[str, dict]]) -> dict[str, dict]:
    """Sum each call's metrics over an op (max for task skew)."""
    out: dict[str, dict] = {}
    for name, m in calls:
        acc = out.setdefault(name, {})
        for key, v in m.items():
            if key == "modules":
                continue
            acc[key] = max(acc.get(key, 0.0), v) if key == "task_skew" else acc.get(key, 0) + v
    return out


def end_to_end(w, ops: list[dict], setup_s: float) -> dict:
    from annbench.sysstat import peak_rss_mb

    good = [o for o in ops if o["ok"]]
    weighted = [(r, n) for o in good for r, n in o["recall"]]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median([o["wall_s"] for o in good]), "s"),
        "op_cpu_s": (median([o["cpu_s"] for o in good]), "CPU-s"),
        "result_recall": (sum(r * n for r, n in weighted) / sum(n for _, n in weighted), "ratio"),
        "peak_python_mb": (peak_rss_mb(), "MB"),
        "index_bytes_ratio": (w.index_bytes_ratio, "ratio"),
    }


def per_layer(w, ops: list[dict], start_s: float, replay: dict) -> dict:
    good = [o for o in ops if o["ok"]]
    traced = [per_op_calls(o["calls"]) for o in good if o["traced"]]
    plain = [o["wall_s"] for o in good if not o["traced"]]
    m: dict[str, tuple] = {}
    for call in CALLS:
        samples = [w.build_metrics] if call == "build" else [t[call] for t in traced if call in t]

        def agg(key):
            vals = [s.get(key, 0.0) for s in samples]
            return median(vals) if vals else 0.0

        for key, unit in SPARK_KEYS:
            m[f"diskann.{call}.{key}"] = (agg(key), unit)
        if call in ("search_batch", "ann_join"):
            for key in QUERY_KEYS:
                m[f"diskann.{call}.{key}"] = (agg(key), "count")
            blocks = agg("shard_blocks")
            m[f"diskann.{call}.cache_hit_ratio"] = (agg("cache_hits") / blocks if blocks else 0.0, "ratio")
        if call in ("build", "insert", "delete"):
            m[f"diskann.{call}.bytes_written_mb"] = (agg("bytes_written_mb"), "MB")
    m["diskann.delete.folds"] = (
        median([t["delete"]["folds"] for t in traced if "delete" in t] or [0]), "count"
    )
    writes = [o["write_bytes"] for o in good if "write_bytes" in o]
    m["diskann.write_amplification"] = (
        median(writes) / (w.sizes.insert * w.raw_vector_bytes) if writes else 0.0, "ratio"
    )
    modules = w.build_metrics.get("modules", {})
    for mod in ("similarity", "sbq", "knn", "diskann", "unattributed"):
        m[f"build.{mod}.executor_run_s"] = (modules.get(mod, 0.0), "s")
    m.update(replay)
    m["session.start_s"] = (start_s, "s")
    traced_walls = [o["wall_s"] for o in good if o["traced"]]
    traced_p50 = median(traced_walls) if traced_walls else 0.0
    plain_p50 = median(plain) if plain else 0.0
    m["trace.op_p50_s"] = (traced_p50, "s")
    m["trace.untraced_op_p50_s"] = (plain_p50, "s")
    m["trace.overhead_ratio"] = (traced_p50 / plain_p50 if plain_p50 else 0.0, "ratio")
    return m


def run(args, sizes=None) -> dict:
    from annbench.gen import Sizes, make_data
    from annbench.replay import kernel_replay
    from annbench.session import spark_session
    from annbench.tracing import SparkTracer
    from annbench.workloads import WORKLOADS

    sizes = sizes or Sizes()
    workdir = os.path.join(ROOT, ".annbench_work", f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        t0 = time.perf_counter()
        with spark_session(ROOT, workdir) as (spark, start_s):
            data = make_data(args.seed, sizes)
            tracer = SparkTracer(spark) if args.trace else None
            w = WORKLOADS[args.workload](spark, data, sizes, workdir, tracer)
            w.setup()
            ops = w.measure(args.seconds, bool(args.trace))
            setup_s = w.ready_at - t0
            replay = (
                kernel_replay(data.corpus[:REPLAY_BLOCK], data.queries[: sizes.batch], sizes.k)
                if args.trace
                else {}
            )
        failed = sum(not o["ok"] for o in ops)
        metrics = (
            per_layer(w, ops, start_s, replay) if args.trace else end_to_end(w, ops, setup_s)
        ) if failed < len(ops) else {}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        parent = os.path.dirname(workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pgvectorscale_spark", "__init__.py")):
        print("annbench: no pgvectorscale_spark package beside annbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
