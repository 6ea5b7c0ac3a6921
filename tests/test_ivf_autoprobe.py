"""Auto-tuned IVF probing (IvfIndex.tune_probing / recall_target) — the
IVF twin of tests/test_routing_tune.py: curve verified by an independent
numpy recount from the raw artifacts, smallest-adequate-nprobe selection,
recall_target == explicit-nprobe parity, conflict rejection, and the
fold-time staleness re-tune.
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgvectorscale_spark.operators.ivf_index import IvfIndex
from tests.conftest import count_jobs


def _tune_sample_ids(idx, n=16):
    return [
        int(r["node_id"])
        for r in idx.live_nodes()
        .select("node_id")
        .orderBy(F.xxhash64("node_id").asc(), F.col("node_id").asc())
        .limit(n)
        .collect()
    ]


@pytest.fixture(scope="module")
def overlapped_ivf(spark, tmp_path_factory):
    """Overlapping clusters: true neighbors spill across cells, so the
    curve must be non-trivial (below 1.0 at nprobe=1)."""
    rng = np.random.default_rng(13)
    centers = rng.normal(0, 1.0, (8, 12))
    rows = [
        (i, (centers[i % 8] + rng.normal(0, 1.0, 12)).tolist())
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path_factory.mktemp("ivf_tune") / "idx")
    idx = IvfIndex.build(df, path, num_centroids=8, kmeans_iterations=2)
    return idx, dict(rows)


def test_curve_shape_and_independent_recount(overlapped_ivf):
    idx, vecs = overlapped_ivf
    curve = idx.meta.routing_recall_curve
    assert idx.meta.routing_recall_k == 10
    assert idx.meta.routing_recall_held_out is True
    assert idx.meta.routing_tuned_nodes == 600
    ps = sorted(int(p) for p in curve)
    assert ps[-1] == 8
    vals = [curve[str(p)] for p in ps]
    assert vals == sorted(vals)
    assert vals[-1] == 1.0
    assert vals[0] < 1.0, "overlapping clusters: nprobe=1 must lose neighbors"

    nodes = {
        int(r["node_id"]): (np.array(r["vector"], float), int(r["centroid_id"]))
        for r in idx.live_nodes().collect()
    }
    cents = {
        int(r["centroid_id"]): np.array(r["centroid"], float)
        for r in idx.centroids().collect()
    }
    cids = np.array(sorted(cents))
    cmat = np.stack([cents[c] for c in cids])
    ids = np.array(sorted(nodes))
    mat = np.stack([nodes[i][0] for i in ids])
    qids = _tune_sample_ids(idx)
    for p_str, want in curve.items():
        p, tot, hit = int(p_str), 0, 0
        for qid in qids:
            qv = nodes[qid][0]
            order = ids[np.lexsort((ids, ((mat - qv) ** 2).sum(axis=1)))]
            topk = [int(n) for n in order if int(n) != qid][:10]
            near = np.argsort(((cmat - qv) ** 2).sum(axis=1))[:p]
            probed = {int(cids[c]) for c in near}
            tot += len(topk)
            hit += sum(nodes[n][1] in probed for n in topk)
        assert abs(hit / tot - want) <= 5e-5 + 1e-9, (p, hit / tot, want)


# the curve IVF's own tuner (stacked GEMVs ranked by argsort) stored on
# this fixture: the shared tuner and kernel must store it bit for bit
_PINNED_CURVE = {"1": 0.7625, "2": 0.9062, "4": 0.9812, "8": 1.0}


def test_tuner_stores_the_pinned_curve_in_few_jobs(spark, overlapped_ivf):
    idx, _ = overlapped_ivf
    assert idx.meta.routing_recall_curve == _PINNED_CURVE
    assert count_jobs(spark, idx.tune_probing) <= 6
    assert idx.meta.routing_recall_curve == _PINNED_CURVE


def test_search_batch_jobs_do_not_grow_with_queries(spark, overlapped_ivf):
    """The centroid table is read once per call on the driver and every
    query routes through one kernel call: 64 queries run the jobs of one."""
    idx, vecs = overlapped_ivf

    def jobs(n):
        qdf = spark.createDataFrame(
            [(i, vecs[i]) for i in range(n)], "query_id long, query_vec array<float>"
        )
        return count_jobs(spark, lambda: idx.search_batch(qdf, k=5, nprobe=2).collect())

    assert jobs(64) == jobs(1)


def test_auto_nprobe_picks_smallest_adequate(overlapped_ivf):
    idx, _ = overlapped_ivf
    curve = idx.meta.routing_recall_curve
    for target in (0.5, 0.9, 0.999):
        p = idx.auto_nprobe(target)
        assert curve[str(p)] >= target
        smaller = [q for q in sorted(int(x) for x in curve) if q < p]
        assert all(curve[str(q)] < target for q in smaller)


def test_recall_target_search_matches_explicit_nprobe(overlapped_ivf):
    idx, vecs = overlapped_ivf
    q = vecs[3]
    p = idx.auto_nprobe(0.9)
    auto = [r["node_id"] for r in idx.search(q, k=5, recall_target=0.9).collect()]
    expl = [r["node_id"] for r in idx.search(q, k=5, nprobe=p).collect()]
    assert auto == expl and len(auto) == 5
    # batch path resolves the same way
    spark = idx.spark
    qdf = spark.createDataFrame([(0, q)], "query_id long, query_vec array<float>")
    ab = {r["node_id"] for r in idx.search_batch(qdf, k=5, recall_target=0.9).collect()}
    eb = {r["node_id"] for r in idx.search_batch(qdf, k=5, nprobe=p).collect()}
    assert ab == eb


def test_conflict_and_untuned_degrade(spark, tmp_path):
    rng = np.random.default_rng(2)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = IvfIndex.build(
        df, str(tmp_path / "ivf_nt"), num_centroids=4, tune_probing=False
    )
    assert idx.meta.routing_recall_curve == {}
    with pytest.raises(ValueError, match="not both"):
        idx.search(rows[0][1], k=5, nprobe=2, recall_target=0.9)
    with pytest.raises(ValueError, match="curve"):
        idx.auto_nprobe(0.9)
    # untuned + recall_target degrades to probing every cell = exact
    got = [r["node_id"] for r in idx.search(rows[0][1], k=5, recall_target=0.99).collect()]
    full = [r["node_id"] for r in idx.search(rows[0][1], k=5, nprobe=4).collect()]
    assert got == full
    # on-demand tune still works and persists
    idx.tune_probing(sample_queries=8, k=5)
    cold = IvfIndex.load(spark, idx.path)
    assert cold.meta.routing_recall_curve == idx.meta.routing_recall_curve
    assert cold.meta.routing_recall_curve[str(4)] == 1.0


def test_stale_curve_retuned_on_fold(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(IvfIndex, "DELTA_FOLD_SEQS", 2)
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = IvfIndex.build(df, str(tmp_path / "ivf_drift"), num_centroids=4)
    assert idx.meta.routing_tuned_nodes == 100
    assert idx.probing_curve_stale() is False
    for j in range(2):
        batch = [(100 + 25 * j + i, rng.normal(0, 1, 8).tolist()) for i in range(25)]
        idx.insert(spark.createDataFrame(batch, "vec_id long, embedding array<float>"))
    assert idx.meta.delta_seq == 0, "fold must have run"
    assert idx.meta.routing_tuned_nodes == 150, (
        "fold past the drift bound must re-tune (stamp follows corpus)"
    )
    # legacy in-sample curve is stale regardless of drift
    idx.meta.routing_recall_held_out = False
    assert idx.probing_curve_stale() is True


def test_emptied_index_drops_curve_on_fold(spark, tmp_path, monkeypatch):
    """Folding an index whose every row was deleted must DROP the stale
    curve (nothing left to measure), not crash re-tuning on the empty
    corpus; recall_target then degrades to full probing."""
    monkeypatch.setattr(IvfIndex, "DELTA_FOLD_SEQS", 2)
    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = IvfIndex.build(df, str(tmp_path / "ivf_empty"), num_centroids=4)
    assert idx.meta.routing_recall_curve
    idx.delete(list(range(20)))
    idx.delete(list(range(20, 40)))  # second delta trips the fold
    assert idx.meta.delta_seq == 0, "fold must have run"
    assert idx.meta.routing_recall_curve == {}
    assert idx.meta.routing_tuned_nodes == 0
    got = idx.search(rows[0][1], k=5, recall_target=0.9).collect()
    assert got == []  # degraded full probe over an emptied index
