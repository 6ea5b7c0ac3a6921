"""Auto-tuned routed probes (DiskannIndex.tune_routing / recall_target).

The curve is the ROUTING term of routed recall: fraction of exact top-k
neighbors whose home shard is among each sample query's p nearest
centroids. Verified against an independent numpy recomputation from the
raw artifacts (node table + routing centroids), not against the operator's
own intermediates.
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgvectorscale_spark.functions.distance import (
    np_distance,
    np_distance_pairwise,
    np_normalize,
)
from pgvectorscale_spark.operators import routing
from pgvectorscale_spark.operators.diskann import DiskannIndex
from tests.conftest import make_kmeans_index


def _tune_sample_ids(idx, n=16):
    """The tune_routing query sample: deterministic xxhash64(node_id)
    order (decorrelated from the lowest-id kmeans seed rule)."""
    return [
        int(r["node_id"])
        for r in idx.nodes()
        .select("node_id")
        .orderBy(F.xxhash64("node_id").asc(), F.col("node_id").asc())
        .limit(n)
        .collect()
    ]


@pytest.fixture(scope="module")
def overlapped(spark, tmp_path_factory):
    """Clusters close enough that true neighbors spill across Voronoi
    cells — the curve must be non-trivial (below 1.0 at p=1)."""
    rng = np.random.default_rng(42)
    centers = rng.normal(0, 1.0, (8, 12))  # overlapping
    rows = [
        (i, (centers[i % 8] + rng.normal(0, 1.0, 12)).tolist())
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path_factory.mktemp("tune") / "idx")
    idx = DiskannIndex.build(
        df, path, distance_type="l2", num_shards=8, shard_assignment="kmeans"
    )
    return idx, dict(rows)


def test_curve_shape_and_independent_recount(overlapped):
    idx, vecs = overlapped
    curve = idx.meta.routing_recall_curve
    assert idx.meta.routing_recall_k == 10
    assert idx.meta.routing_recall_held_out is True
    assert idx.meta.routing_tuned_nodes == 600
    ps = sorted(int(p) for p in curve)
    assert ps[-1] == idx.meta.num_shards == 8
    vals = [curve[str(p)] for p in ps]
    assert vals == sorted(vals), "curve must be monotone in probe count"
    assert vals[-1] == 1.0, "probing every shard must have routing recall 1"
    assert vals[0] < 1.0, "overlapping clusters: p=1 must lose neighbors"

    # independent recount from the raw artifacts (held-out semantics: each
    # query's own row is excluded from its exact top-10)
    nodes = {
        int(r["node_id"]): (np.array(r["vector"], float), int(r["shard"]))
        for r in idx.nodes().select("node_id", "vector", "shard").collect()
    }
    sids, cents = idx._routing_table()
    mat = np.stack([v for v, _ in nodes.values()])
    ids = np.array(list(nodes))
    qids = _tune_sample_ids(idx)
    for p_str, want in curve.items():
        p, tot, hit = int(p_str), 0, 0
        for qid in qids:
            qv = nodes[qid][0]
            order = ids[np.lexsort((ids, ((mat - qv) ** 2).sum(axis=1)))]
            topk = [int(n) for n in order if int(n) != qid][:10]
            near = np.argsort(((cents - qv) ** 2).sum(axis=1))[:p]
            probed = {int(sids[c]) for c in near}
            tot += len(topk)
            hit += sum(nodes[n][1] in probed for n in topk)
        # stored curve values are round(x, 4)
        assert abs(hit / tot - want) <= 5e-5 + 1e-9, (p, hit / tot, want)


def test_recall_target_picks_smallest_adequate_p(overlapped):
    idx, _ = overlapped
    curve = idx.meta.routing_recall_curve
    for target in (0.5, 0.9, 0.999):
        p = idx.auto_probe_shards(target)
        assert curve[str(p)] >= target
        smaller = [q for q in sorted(int(x) for x in curve) if q < p]
        assert all(curve[str(q)] < target for q in smaller)


def test_recall_target_search_matches_explicit_probes(overlapped):
    idx, vecs = overlapped
    q = vecs[3]
    p = idx.auto_probe_shards(0.9)
    auto = [r["node_id"] for r in idx.search(q, k=5, recall_target=0.9).collect()]
    expl = [r["node_id"] for r in idx.search(q, k=5, probe_shards=p).collect()]
    assert auto == expl and len(auto) == 5


def test_recall_target_and_probe_shards_conflict(overlapped):
    idx, vecs = overlapped
    with pytest.raises(ValueError, match="not both"):
        idx.search(vecs[0], k=5, probe_shards=2, recall_target=0.9)


def test_hash_sharded_recall_target_degrades_to_full_fanout(spark, tmp_path):
    rng = np.random.default_rng(1)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = DiskannIndex.build(
        df, str(tmp_path / "hash_idx"), distance_type="l2", num_shards=4
    )
    assert idx.meta.routing_recall_curve == {}
    got = idx.search(rows[0][1], k=5, recall_target=0.99).collect()
    full = idx.search(rows[0][1], k=5).collect()
    assert [r["node_id"] for r in got] == [r["node_id"] for r in full]
    with pytest.raises(ValueError, match="curve"):
        idx.auto_probe_shards(0.9)


def test_in_sample_bias_regression(spark, tmp_path):
    """The 64x degenerate case from round 10, shrunk: clusters of EXACTLY
    k=10 points with tiny spread. An in-sample query's top-10 is its own
    family (incl. itself) — all in its own Voronoi cell — so the legacy
    in-sample curve saturates at 1.0 at EVERY probe count and
    recall_target would under-probe. Held-out (the default) drops the
    query's own row, pulling the 10th neighbor from a foreign cluster
    that mostly lives in another cell: the curve must NOT saturate at
    p=1. node ids cycle clusters (id i -> cluster i % 64) so any sample
    spans distinct clusters."""
    rng = np.random.default_rng(7)
    centers = rng.normal(0, 10.0, (64, 12))  # far apart vs sigma=0.05
    rows = [
        (i, (centers[i % 64] + rng.normal(0, 0.05, 12)).tolist())
        for i in range(640)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = DiskannIndex.build(
        df, str(tmp_path / "bias"), distance_type="l2", num_shards=16,
        shard_assignment="kmeans",
    )
    heldout = dict(idx.meta.routing_recall_curve)
    assert idx.meta.routing_recall_held_out is True
    insample = idx.tune_routing(held_out=False)
    assert idx.meta.routing_recall_held_out is False
    assert insample["1"] == 1.0, (
        "fixture must reproduce the degenerate in-sample saturation"
    )
    assert heldout["1"] < 1.0, (
        "held-out tuning must expose the routing loss the in-sample "
        f"curve hides (got {heldout})"
    )
    # and the auto-probe decision actually differs: in-sample would pick
    # p=1 for any target; held-out demands more probes for a high target
    idx.meta.routing_recall_curve = heldout
    idx.meta.routing_recall_held_out = True
    hi_target = max(v for p, v in heldout.items() if int(p) == 1) + 1e-9
    assert idx.auto_probe_shards(min(hi_target, 0.9999)) > 1


def test_stale_curve_retuned_on_fold(spark, tmp_path, monkeypatch):
    """Mutation drift: once inserts move the live count past
    ROUTING_DRIFT_BOUND, the next delta fold must detect the stale curve
    (routing_curve_stale) and re-measure it — the stamped tuned-at count
    follows the corpus."""
    monkeypatch.setattr(DiskannIndex, "DELTA_FOLD_SEQS", 2)
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = DiskannIndex.build(
        df, str(tmp_path / "drift"), distance_type="l2", num_shards=4,
        shard_assignment="kmeans",
    )
    assert idx.meta.routing_tuned_nodes == 100
    assert idx.routing_curve_stale() is False
    # +50% rows across two micro-batches: second insert trips the fold
    # (DELTA_FOLD_SEQS=2), which sees drift 0.5 > 0.25 and re-tunes
    batches = [
        [(100 + j, rng.normal(0, 1, 8).tolist()) for j in range(25)],
        [(125 + j, rng.normal(0, 1, 8).tolist()) for j in range(25)],
    ]
    for b in batches:
        idx.insert(spark.createDataFrame(b, "vec_id long, embedding array<float>"))
    assert idx.meta.delta_seq == 0, "fold must have run"
    assert idx.meta.routing_tuned_nodes == 150, (
        "fold past the drift bound must re-tune (stamp follows corpus)"
    )
    assert idx.meta.routing_recall_held_out is True
    # a pre-held-out curve (legacy meta) is stale regardless of drift
    idx.meta.routing_recall_held_out = False
    assert idx.routing_curve_stale() is True


def test_tune_routing_opt_out(spark, tmp_path):
    rng = np.random.default_rng(2)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = DiskannIndex.build(
        df, str(tmp_path / "notune"), distance_type="l2", num_shards=4,
        shard_assignment="kmeans", tune_routing=False,
    )
    assert idx.meta.routing_recall_curve == {}
    idx.tune_routing(sample_queries=8, k=5)  # on-demand tune still works
    assert idx.meta.routing_recall_curve[str(idx.meta.num_shards)] == 1.0
    # and the saved meta carries it for fresh loads
    cold = DiskannIndex.load(spark, idx.path)
    assert cold.meta.routing_recall_curve == idx.meta.routing_recall_curve


# -- routing-table upkeep: incremental updates equal a full recompute --------


def test_incremental_routing_matches_full_recompute(spark, tmp_path):
    """The touched-shards routing merge equals a full centroid recompute."""
    idx, _, _ = make_kmeans_index(spark, tmp_path, "increm_routing")
    rng = np.random.default_rng(2)
    batch = spark.createDataFrame(
        [(800 + j, rng.random(16).astype(np.float32).tolist()) for j in range(5)],
        "vec_id long, embedding array<float>",
    )
    idx.insert(batch)  # incremental: re-aggregates only touched cells
    incr = {r[0]: np.array(r[1]) for r in idx._routing_rows()}
    idx._write_routing()  # full recompute over every shard
    full = {r[0]: np.array(r[1]) for r in idx._routing_rows()}
    assert sorted(incr) == sorted(full)
    for s in full:
        np.testing.assert_allclose(incr[s], full[s], rtol=1e-5, atol=1e-6)


def test_routing_delta_matches_full_recompute(spark, tmp_path):
    """The O(batch) sufficient-statistics update (count, vsum) produces the
    SAME float32 centroids as re-aggregating the shards — including through
    an upsert, whose replaced vector must be subtracted."""
    idx, mat, rng = make_kmeans_index(spark, tmp_path, "routing_delta")
    batch = spark.createDataFrame(
        [(800 + j, rng.random(16).astype(np.float32).tolist()) for j in range(5)]
        + [(3, rng.random(16).astype(np.float32).tolist())],  # upsert
        "vec_id long, embedding array<float>",
    )
    idx.insert(batch)  # O(batch) stats delta
    incr = {r[0]: (np.array(r[1], dtype=np.float32), r[2]) for r in idx._routing_rows()}
    idx._write_routing()  # full recompute over every shard
    full = {r[0]: (np.array(r[1], dtype=np.float32), r[2]) for r in idx._routing_rows()}
    assert sorted(incr) == sorted(full)
    for s in full:
        assert incr[s][1] == full[s][1], f"count mismatch in shard {s}"
        # float32 absorbs last-ulp f64 summation-order differences: the
        # stored centroids are bit-identical, not merely close
        np.testing.assert_array_equal(incr[s][0], full[s][0])


def test_routing_delta_chains_across_batches(spark, tmp_path):
    """Stats stay exact across a CHAIN of incremental updates (the drift
    failure mode of approximate centroid maintenance)."""
    idx, mat, rng = make_kmeans_index(spark, tmp_path, "routing_chain")
    for j in range(4):
        idx.insert(
            spark.createDataFrame(
                [(900 + 10 * j + i, rng.random(16).astype(np.float32).tolist()) for i in range(3)],
                "vec_id long, embedding array<float>",
            )
        )
    incr = {r[0]: np.array(r[1], dtype=np.float32) for r in idx._routing_rows()}
    idx._write_routing()
    full = {r[0]: np.array(r[1], dtype=np.float32) for r in idx._routing_rows()}
    for s in full:
        np.testing.assert_array_equal(incr[s], full[s])


# -- the shared top-p kernel ----------------------------------------------------


def _argsort_route(cents, qmat, distance_type, p):
    """The route DiskANN served with before the shared kernel (the
    oracle): normalize both sides for cosine, one GEMM, then argsort
    over routing-table rows."""
    if distance_type == "cosine":
        qmat, cents = np_normalize(qmat), np_normalize(cents)
    cd = np_distance_pairwise(cents, qmat, distance_type, assume_normalized=True)
    return np.argsort(cd, axis=1)[:, :p]


def test_empty_query_batch_routes_nowhere(spark, overlapped):
    idx, _ = overlapped
    qdf = spark.createDataFrame([], "query_id long, query_vec array<float>")
    assert idx.search_batch(qdf, k=5, probe_shards=2).count() == 0
    for dist in ("l2", "cosine", "inner_product"):
        assert routing.nearest_partitions(*idx._routing_table(), [], dist, 2).shape == (0, 2)


@pytest.mark.parametrize("shards", [4, 16])
def test_kernel_matches_argsort_route_on_cosine_fixture(shards):
    rng = np.random.default_rng(shards)
    mat = rng.normal(size=(4096, 64)).astype(np.float32)
    home = rng.integers(0, shards, len(mat))
    cents = np.stack([mat[home == s].mean(axis=0) for s in range(shards)]).astype(np.float32)
    cents = cents.astype(np.float64)
    sids = (rng.permutation(shards) * 3 + 1).astype(np.int64)  # ids are not row positions
    qmat = mat.astype(np.float64)
    for p in range(1, shards + 1):
        want = [set(sids[r].tolist()) for r in _argsort_route(cents, qmat, "cosine", p)]
        got = routing.nearest_partitions(sids, cents, qmat, "cosine", p)
        assert [set(r.tolist()) for r in got] == want, p


def test_kernel_l2_distances_and_order_match_per_query_kernel():
    """For l2 the batch GEMM keeps the elementwise formula: every distance
    equals the per-query ``np_distance`` bit for bit, and the order is
    ``lexsort((ids, d))`` — the ranking the DuckDB IVF oracle replays."""
    rng = np.random.default_rng(7)
    for _ in range(50):
        n, d, q = (int(x) for x in rng.integers(1, [40, 80, 30]))
        cents = rng.normal(size=(n, d)).astype(np.float32).astype(np.float64)
        qs = rng.normal(size=(q, d)).astype(np.float32)
        ids = rng.permutation(2 * n)[:n].astype(np.int64)
        pair = np_distance_pairwise(cents, qs, "l2")
        got = routing.nearest_partitions(ids, cents, qs, "l2", n)
        for i in range(q):
            one = np_distance(cents, qs[i], "l2")
            assert np.array_equal(pair[i], one)
            assert got[i].tolist() == ids[np.lexsort((ids, one))].tolist()


@pytest.mark.parametrize("dist", ["l2", "cosine", "inner_product"])
def test_kernel_breaks_exact_ties_by_partition_id(dist):
    """Duplicated centroids tie exactly (one-hot rows keep every product
    exact); the tie goes to the smaller partition id, whatever the
    table's row order."""
    e = np.eye(4)
    cents = e[[0, 1, 0, 2, 0, 1]]
    ids = np.array([40, 7, 12, 3, 25, 2], dtype=np.int64)
    q = np.array([[3.0, 1.0, 0.0, 0.0]])
    assert routing.nearest_partitions(ids, cents, q, dist, 6)[0].tolist() == [12, 25, 40, 2, 7, 3]
    assert routing.probe_lists((ids, cents), q, dist, 2, extra=[3])[0] == [3, 12, 25]

