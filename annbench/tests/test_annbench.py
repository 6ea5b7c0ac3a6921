"""Tests of the benchmark itself. Run from the checkout root:

    python3 -m pytest annbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import json
import os
import time

import pytest

from annbench import sysstat
from annbench.gen import Sizes, exact_topk, make_data, recall
from annbench.run import ROOT, run
from annbench.tracing import covered_s, module_of

TINY = Sizes(
    corpus=512, dim=16, centres=8, labels=4, batch=16, join=32, insert=32,
    insert_queries=4, num_shards=4,
)


def test_generator_is_deterministic():
    a, b, c = make_data(7, TINY), make_data(7, TINY), make_data(8, TINY)
    for field in ("corpus", "corpus_labels", "queries", "inserts", "insert_labels", "insert_ids", "doomed"):
        assert getattr(a, field).tobytes() == getattr(b, field).tobytes()
    assert a.corpus.tobytes() != c.corpus.tobytes()
    assert not set(a.insert_ids.tolist()) & set(a.corpus_ids.tolist())


def test_exact_topk_and_recall():
    d = make_data(3, TINY)
    truth = exact_topk(d.corpus[:5], d.corpus, d.corpus_ids, TINY.k)
    assert truth[:, 0].tolist() == d.corpus_ids[:5].tolist()  # each row finds itself
    t = dict(enumerate(truth))
    assert recall({q: list(ids) for q, ids in t.items()}, t) == 1.0
    assert recall({q: list(ids[:5]) for q, ids in t.items()}, t) == 0.5


def test_covered_s_is_the_clipped_union():
    assert covered_s([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert covered_s([], 0, 1) == 0.0


def test_module_of_call_site():
    assert module_of("collect at /x/pgvectorscale_spark/operators/similarity.py:140") == "similarity"
    assert module_of("collect at /x/pgvectorscale_spark/operators/routing_store.py:9") == "diskann"
    assert module_of("count at NativeMethodAccessorImpl.java:0") == "unattributed"


def test_bytes_written_sees_new_and_rewritten_files(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "b").write_bytes(b"y" * 20)
    before = sysstat.file_states(str(tmp_path))
    time.sleep(0.01)
    (tmp_path / "b").write_bytes(b"z" * 30)
    (tmp_path / "c").write_bytes(b"w" * 5)
    written, _ = sysstat.bytes_written(before, str(tmp_path))
    assert written == 35


def _burn(batches):
    for pdf in batches:
        t_end = time.process_time() + 1.0
        while time.process_time() < t_end:
            pass
        yield pdf


def test_cpu_sampler_sees_python_workers(tmp_path):
    from annbench.session import _alive, spark_session

    with spark_session(ROOT, str(tmp_path)) as (spark, _):
        df = spark.range(0, 4, 1, 4).persist()
        df.count()
        c0 = sysstat.tree_cpu_s()
        df.mapInPandas(_burn, schema="id long").collect()
        used = sysstat.tree_cpu_s() - c0
        workers = [
            p for p in sysstat.tree_pids()
            if b"pyspark" in open(f"/proc/{p}/cmdline", "rb").read()
        ]
    assert workers, "no Python worker found in the process tree"
    assert used >= 3.5, f"tree CPU {used:.2f} s misses the 4 x 1 s of worker CPU"
    assert not any(_alive(p) for p in workers), "a Python worker outlived the session"


def _expected_names(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload", ["serve", "churn"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    args = argparse.Namespace(workload=workload, seed=5, seconds=0.0, trace=trace)
    out = run(args, sizes=TINY)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1 + trace
    kind = "per_layer" if trace else "end_to_end"
    assert set(out["metrics"]) == _expected_names(kind)
    if workload == "churn" and trace:
        assert out["metrics"]["diskann.delete.folds"]["value"] == 1
    json.dumps(out)
