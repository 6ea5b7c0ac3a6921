"""The two workloads: ``serve`` and ``churn``, each closed loop with one client.

Both build the same kind of index in set-up: a cosine DiskANN index with
SBQ storage, k-means shards and labels, every other setting at its default.

``serve`` (reads on a warm index). Untimed warm-up ops fill the shard
caches of every Python worker and let the JVM compile the hot paths before
the timed ones: op latency and CPU fall over the first four ops of a
session and hold after that. An op is one ``search_batch`` of held-out
queries, the same batch filtered by one label (the filter widens the probe
to every shard), and one ``ann_join`` of a persisted held-out query frame
whose first rows are that batch.

``churn`` (writes beside reads). Set-up builds the index, opens a six-
generation delta chain with small deletes and keeps that directory as the
snapshot. Every op copies the snapshot to a fresh directory and loads it
(untimed), then times: insert a batch, search a batch that includes some of
the inserted vectors, delete the batch. The delete is the eighth generation,
so it folds the chain. Every op starts from the same state, so the chain
length, tombstones and caches do not drift as ops complete. Executor shard
caches are keyed by index path, so every churn op loads its shards cold.
"""

from __future__ import annotations

import shutil
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import numpy as np
import pandas as pd

from annbench.gen import Data, Sizes, exact_topk, recall
from annbench.sysstat import bytes_written, dir_bytes, file_states, tree_cpu_s

RECALL_TARGET = 0.95
RECALL_FLOOR = 0.8  # an op whose mean recall@k falls below this fails


class CheckFailed(Exception):
    """An op returned a wrong answer."""


def corpus_frame(spark, ids, vecs, labels):
    pdf = pd.DataFrame(
        {"vec_id": ids, "embedding": list(vecs), "labels": [[int(x)] for x in labels]}
    )
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>, labels array<smallint>")
    df = df.persist()
    df.count()
    return df


def query_frame(spark, qids, vecs):
    pdf = pd.DataFrame({"query_id": qids, "query_vec": list(vecs)})
    df = spark.createDataFrame(pdf, "query_id long, query_vec array<float>").persist()
    df.count()
    return df


def check_results(rows, qids, k: int, live: set[int]) -> dict[int, list[int]]:
    """Every query has ranks 1..k, distances that never decrease and only live
    ids. Returns query id -> result ids."""
    by_q: dict[int, list] = defaultdict(list)
    for r in rows:
        by_q[int(r["query_id"])].append((int(r["rank"]), float(r["distance"]), int(r["node_id"])))
    if set(by_q) != {int(q) for q in qids}:
        raise CheckFailed(f"results cover {len(by_q)} queries, expected {len(qids)}")
    out = {}
    for q, hits in by_q.items():
        hits.sort()
        if [h[0] for h in hits] != list(range(1, k + 1)):
            raise CheckFailed(f"query {q}: ranks {[h[0] for h in hits]}")
        dists = [h[1] for h in hits]
        if any(b < a for a, b in zip(dists, dists[1:])):
            raise CheckFailed(f"query {q}: distances decrease {dists}")
        ids = [h[2] for h in hits]
        if not set(ids) <= live:
            raise CheckFailed(f"query {q}: ids not in the live set {set(ids) - live}")
        out[q] = ids
    return out


class Workload:
    """Shared loop: set-up, warm-up, timed ops; collects what run.py reports."""

    warmup_ops = 0
    min_ops = 1  # timed ops run even when they outlast the measured seconds

    def __init__(self, spark, data: Data, sizes: Sizes, workdir: str, tracer=None):
        self.spark = spark
        self.data = data
        self.sizes = sizes
        self.workdir = workdir
        self.tracer = tracer
        self.traced = False  # whether the current op is traced
        self.calls: list[tuple[str, dict]] = []  # traced calls of the current op
        self.build_metrics: dict = {}
        self.index_bytes_ratio = 0.0
        self.raw_vector_bytes = sizes.dim * 4

    # -- helpers ----------------------------------------------------------

    def call(self, name: str):
        """Context for one public call: traced when the op is traced."""
        if not self.traced:
            return nullcontext({})
        out: dict = {}
        self.calls.append((name, out))
        return self.tracer.call(name, out)

    def stats(self):
        if not self.traced:
            return None
        from pgvectorscale_spark.operators.diskann import QueryStats

        return QueryStats(self.spark)

    def build(self, path: str):
        from pgvectorscale_spark.operators.diskann import DiskannIndex

        d = self.data
        df = corpus_frame(self.spark, d.corpus_ids, d.corpus, d.corpus_labels)
        self.traced = self.tracer is not None
        with self.call("build") as out:
            idx = DiskannIndex.build(
                df,
                path,
                distance_type="cosine",
                shard_assignment="kmeans",
                num_shards=self.sizes.num_shards,
                vector_col="embedding",
                id_col="vec_id",
                label_col="labels",
            )
        self.calls, self.traced = [], False
        df.unpersist()
        size = dir_bytes(path)
        out["bytes_written_mb"] = size / 1e6
        self.build_metrics = out
        self.index_bytes_ratio = size / (len(d.corpus_ids) * self.raw_vector_bytes)
        return idx

    def record_stats(self, out: dict, stats) -> None:
        if stats is None:
            return
        s = stats.as_dict()
        # cache_hits counts once per shard block, and each task of the
        # probe stage probes one block, so those tasks are the denominator
        if s["cache_hits"] > out["probe_tasks"]:
            raise CheckFailed(
                f"{s['cache_hits']} cache hits over {out['probe_tasks']} probe tasks"
            )
        out.update(
            candidates_scored=s["candidates_scored"],
            rescored=s["rescored"],
            shard_searches=s["shard_searches"],
            cache_hits=s["cache_hits"],
            shard_blocks=out["probe_tasks"],
        )

    # -- loop -----------------------------------------------------------

    def run_op(self, i: int, traced: bool) -> dict:
        self.traced, self.calls = traced, []
        rec = {"traced": traced, "ok": False}
        try:
            rec.update(self.op())
            rec["ok"] = True
            print(
                f"annbench: op {i}{' traced' if traced else ''}: "
                f"{rec['wall_s']:.3f} s, {rec['cpu_s']:.2f} CPU-s",
                file=sys.stderr,
            )
        except Exception:  # a failed op is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
        rec["calls"] = self.calls
        self.traced, self.calls = False, []
        return rec

    def measure(self, seconds: float, trace: bool) -> list[dict]:
        """Closed loop for ``seconds`` and at least ``min_ops`` ops. A traced
        run alternates untraced and traced ops, starting untraced, and runs at
        least one of each."""
        for i in range(self.warmup_ops):
            self.run_op(-1 - i, traced=False)
        self.ready_at = time.perf_counter()
        ops: list[dict] = []
        t_end = time.perf_counter() + seconds
        while len(ops) < max(self.min_ops, 2 if trace else 1) or time.perf_counter() < t_end:
            ops.append(self.run_op(len(ops), traced=trace and len(ops) % 2 == 1))
        return ops

    def timed(self, fn):
        """(result, wall_s, cpu_s) of ``fn()``."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0, tree_cpu_s() - c0


class Serve(Workload):
    warmup_ops = 4
    # a run's median spans six ops, so one slow stretch of the host moves it less
    min_ops = 6

    def setup(self) -> None:
        d, s = self.data, self.sizes
        self.idx = self.build(f"{self.workdir}/serve-index")
        self.live = set(d.corpus_ids.tolist())
        self.label = int(d.corpus_labels[0])
        labelled = d.corpus_labels == self.label
        self.live_labelled = set(d.corpus_ids[labelled].tolist())
        qids = np.arange(s.join, dtype=np.int64)
        self.batch_qids = qids[: s.batch]
        self.qdf = query_frame(self.spark, self.batch_qids, d.queries[: s.batch])
        self.jdf = query_frame(self.spark, qids, d.queries[: s.join])
        truth = exact_topk(d.queries[: s.join], d.corpus, d.corpus_ids, s.k)
        self.truth_join = dict(zip(qids.tolist(), truth))
        self.truth_batch = {q: self.truth_join[q] for q in self.batch_qids.tolist()}
        ft = exact_topk(d.queries[: s.batch], d.corpus[labelled], d.corpus_ids[labelled], s.k)
        self.truth_filtered = dict(zip(self.batch_qids.tolist(), ft))

    def _search(self, **kw):
        st = self.stats()
        with self.call("search_batch") as out:
            rows = self.idx.search_batch(
                self.qdf, k=self.sizes.k, recall_target=RECALL_TARGET, stats=st, **kw
            ).collect()
        self.record_stats(out, st)
        return rows

    def _join(self):
        st = self.stats()
        with self.call("ann_join") as out:
            rows = self.idx.ann_join(
                self.jdf, k=self.sizes.k, recall_target=RECALL_TARGET, stats=st
            ).collect()
        self.record_stats(out, st)
        return rows

    def op(self) -> dict:
        k = self.sizes.k

        def body():
            return self._search(), self._search(labels=[self.label]), self._join()

        (plain, filtered, joined), wall, cpu = self.timed(body)
        plain_r = check_results(plain, self.batch_qids, k, self.live)
        filt_r = check_results(filtered, self.batch_qids, k, self.live_labelled)
        join_r = check_results(joined, list(self.truth_join), k, self.live)
        for q in self.batch_qids.tolist():
            if set(join_r[q]) != set(plain_r[q]):
                raise CheckFailed(f"query {q}: ann_join top-{k} differs from search_batch")
        recalls = [
            (recall(plain_r, self.truth_batch), len(plain_r)),
            (recall(filt_r, self.truth_filtered), len(filt_r)),
            (recall(join_r, self.truth_join), len(join_r)),
        ]
        if min(r for r, _ in recalls) < RECALL_FLOOR:
            raise CheckFailed(f"recall below {RECALL_FLOOR}: {recalls}")
        return {"wall_s": wall, "cpu_s": cpu, "recall": recalls}


class Churn(Workload):
    # No warm-up op: shard caches are cold in every op by design, and an op
    # costs 15-35 s, so a run has room for the timed op alone.
    warmup_ops = 0

    def setup(self) -> None:
        from pgvectorscale_spark.operators.diskann import DiskannIndex

        d, s = self.data, self.sizes
        self.snapshot = f"{self.workdir}/churn-snapshot"
        idx = self.build(self.snapshot)
        for part in d.doomed:
            idx.delete([int(x) for x in part])
        if idx.meta.delta_seq != s.snapshot_deletes:
            raise CheckFailed(f"snapshot has {idx.meta.delta_seq} delta generations")
        keep = ~np.isin(d.corpus_ids, d.doomed)
        self.snapshot_live = set(d.corpus_ids[keep].tolist())
        self.live = self.snapshot_live | set(d.insert_ids.tolist())
        self.ins = corpus_frame(self.spark, d.insert_ids, d.inserts, d.insert_labels)
        # the searched batch: some inserted vectors, then held-out queries
        nq = s.insert_queries
        self.own = dict(zip(range(10**9, 10**9 + nq), d.insert_ids[:nq].tolist()))
        qids = np.concatenate(
            [np.array(list(self.own), dtype=np.int64), np.arange(s.batch - nq, dtype=np.int64)]
        )
        qvecs = np.concatenate([d.inserts[:nq], d.queries[: s.batch - nq]])
        self.qids = qids
        self.qdf = query_frame(self.spark, qids, qvecs)
        live_ids = np.concatenate([d.corpus_ids[keep], d.insert_ids])
        live_vecs = np.concatenate([d.corpus[keep], d.inserts])
        self.truth = dict(zip(qids.tolist(), exact_topk(qvecs, live_vecs, live_ids, s.k)))
        # the snapshot answers reads before any op runs
        check_results(
            idx.search_batch(self.qdf, k=s.k, recall_target=RECALL_TARGET).collect(),
            qids, s.k, self.snapshot_live,
        )

    def op(self) -> dict:
        from pgvectorscale_spark.operators.diskann import DiskannIndex

        d, k = self.data, self.sizes.k
        path = f"{self.workdir}/churn-op"
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(self.snapshot, path)
        idx = DiskannIndex.load(self.spark, path)
        ids = [int(x) for x in d.insert_ids]
        files = file_states(path)
        written = {}

        def insert():
            nonlocal files
            with self.call("insert") as out:
                idx.insert(self.ins, vector_col="embedding", id_col="vec_id", label_col="labels")
            written["insert"], files = bytes_written(files, path)
            out["bytes_written_mb"] = written["insert"] / 1e6

        def search():
            st = self.stats()
            with self.call("search_batch") as out:
                rows = idx.search_batch(
                    self.qdf, k=k, recall_target=RECALL_TARGET, stats=st
                ).collect()
            self.record_stats(out, st)
            return rows

        def delete():
            nonlocal files
            seq = idx.meta.delta_seq
            with self.call("delete") as out:
                idx.delete(ids)
            written["delete"], files = bytes_written(files, path)
            out["bytes_written_mb"] = written["delete"] / 1e6
            # the chain only shrinks when a fold ran
            out["folds"] = int(idx.meta.delta_seq < seq + 1)

        def body():
            insert()
            rows = search()
            delete()
            return rows

        rows, wall, cpu = self.timed(body)
        got = check_results(rows, self.qids, k, self.live)
        for q, own in self.own.items():  # read-after-write
            if own not in got[q]:
                raise CheckFailed(f"inserted vector {own} not in its own top-{k}")
        after = idx.search_batch(self.qdf, k=k, recall_target=RECALL_TARGET).collect()
        check_results(after, self.qids, k, self.snapshot_live)  # no deleted id surfaces
        shutil.rmtree(path, ignore_errors=True)
        rec = recall(got, self.truth)
        if rec < RECALL_FLOOR:
            raise CheckFailed(f"recall below {RECALL_FLOOR}: {rec}")
        return {
            "wall_s": wall,
            "cpu_s": cpu,
            "recall": [(rec, len(got))],
            "write_bytes": written["insert"] + written["delete"],
        }


WORKLOADS = {"serve": Serve, "churn": Churn}
