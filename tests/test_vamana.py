"""Pure-numpy Vamana core: connectivity, recall, prune semantics.

Mirrors the reference accuracy scaffolds (build.rs:1179-1416 recall bar,
:1755-1852 small-dim connectivity)."""

from __future__ import annotations

import numpy as np
import pytest

from pgvectorscale_spark.functions.distance import np_distance, np_normalize
from pgvectorscale_spark.operators.sbq import SbqQuantizer
from pgvectorscale_spark.operators.vamana import VamanaGraph


def _recall_at_10(g: VamanaGraph, mat, distance_type, n_queries=20, seed=3, **kw):
    rng = np.random.default_rng(seed)
    hits = 0
    for _ in range(n_queries):
        q = rng.random(mat.shape[1]).astype(np.float32)
        if distance_type == "cosine":
            q = np_normalize(q.reshape(1, -1))[0].astype(np.float32)
        d = np_distance(mat, q, distance_type, assume_normalized=True)
        expect = set(np.lexsort((np.arange(len(d)), d))[:10])
        got, _ = g.search(q, k=10, **kw)
        hits += len(set(got.tolist()) & expect)
    return hits / (10 * n_queries)


def _reachable(g: VamanaGraph) -> int:
    seen = {g.start_default}
    stack = [g.start_default]
    while stack:
        u = stack.pop()
        for v in g.adj[u]:
            if v not in seen:
                seen.add(v)
                stack.append(v)
    return len(seen)


@pytest.fixture(scope="module")
def corpus():
    rng = np.random.default_rng(42)
    mat = rng.random((300, 64), dtype=np.float32)
    return np_normalize(mat).astype(np.float32)


def test_plain_build_recall_and_connectivity(corpus):
    g = VamanaGraph(corpus, distance_type="cosine", num_neighbors=50, search_list_size=100)
    g.build()
    g.finalize()
    assert _reachable(g) == 300  # full-scan completeness analog
    assert all(len(a) <= 50 for a in g.adj)
    r = _recall_at_10(g, corpus, "cosine")
    assert r >= 0.9, f"recall {r}"


def test_small_dim_connectivity():
    # F2: N=1000, d=2, R=10, L=10 — disconnection stress (build.rs:1755-1852)
    rng = np.random.default_rng(42)
    mat = rng.random((1000, 2), dtype=np.float32)
    g = VamanaGraph(mat, distance_type="l2", num_neighbors=10, search_list_size=10)
    g.build()
    g.finalize()
    assert _reachable(g) == 1000
    r = _recall_at_10(g, mat, "l2", search_list_size=100)
    assert r >= 0.9, f"recall {r}"


def test_sbq_build_recall(corpus):
    quant = SbqQuantizer(corpus.mean(axis=0), corpus.var(axis=0), 2)
    codes = quant.quantize_matrix(corpus)
    g = VamanaGraph(
        corpus, distance_type="cosine", num_neighbors=50, search_list_size=100,
        codes=codes, quantize_fn=quant.quantize,
    )
    g.build()
    g.finalize()
    assert _reachable(g) == 300
    # Reference scaffold queries (build.rs:1248-1252) at reference defaults:
    # the all-ones vector and one seeded random query, >= 9/10 each.
    from pgvectorscale_spark.functions.distance import np_normalize as _nn

    for q in [np.ones(64, dtype=np.float32), np.random.default_rng(1).random(64).astype(np.float32)]:
        qn = _nn(q.reshape(1, -1))[0].astype(np.float32)
        d = np_distance(corpus, qn, "cosine", assume_normalized=True)
        expect = set(np.lexsort((np.arange(len(d)), d))[:10])
        got, _ = g.search(qn, k=10, rescore=50)
        assert len(set(got.tolist()) & expect) >= 9
    # Average recall over 20 uniform queries: uniform data is the distance-
    # concentration worst case — the quantization ceiling (full-scan Hamming
    # top-50 contains only ~86% of the true top-10) binds, not the walk.
    # rescore=100 clears it; the walk itself matches the full-scan ceiling.
    r = _recall_at_10(g, corpus, "cosine", rescore=100)
    assert r >= 0.9, f"recall {r}"


def test_robust_prune_occlusion():
    # collinear points: b occludes c (factor = d(c,point)/d(c,b) > alpha)
    mat = np.array([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0], [0.0, 2.5]], dtype=np.float32)
    g = VamanaGraph(mat, distance_type="l2", num_neighbors=2, max_alpha=1.0)
    cand = np.array([1, 2, 3])
    dists = np_distance(mat[cand], mat[0], "l2")
    res = g.robust_prune(0, cand, dists)
    # point 1 selected first; point 2 occluded (d(2,0)=4 / d(2,1)=1 = 4 > 1.0);
    # point 3 survives (far from point 1)
    assert res == [1, 3]


def test_robust_prune_alpha_rounds():
    # with max_alpha wide enough, occluded candidates return in later rounds
    mat = np.array([[0.0, 0.0], [1.0, 0.0], [1.6, 0.0], [10.0, 10.0]], dtype=np.float32)
    g = VamanaGraph(mat, distance_type="l2", num_neighbors=3, max_alpha=10.0)
    cand = np.array([1, 2, 3])
    dists = np_distance(mat[cand], mat[0], "l2")
    res = g.robust_prune(0, cand, dists)
    assert res[0] == 1 and set(res) == {1, 2, 3}


def test_labeled_search_filters(corpus):
    labels = [frozenset({1}) if i % 2 == 0 else frozenset({2}) for i in range(len(corpus))]
    g = VamanaGraph(corpus, distance_type="cosine", num_neighbors=20, search_list_size=50, labels=labels)
    g.build()
    g.finalize()
    q = corpus[7]
    got, _ = g.search(q, k=10, query_labels=frozenset({1}))
    assert len(got) == 10
    assert all(int(i) % 2 == 0 for i in got)
    # filtered recall vs filtered oracle
    d = np_distance(corpus, q, "cosine", assume_normalized=True)
    mask = np.array([i % 2 == 0 for i in range(len(corpus))])
    idx = np.arange(len(corpus))[mask]
    expect = set(idx[np.lexsort((idx, d[mask]))][:10].tolist())
    assert len(set(got.tolist()) & expect) >= 9


# -- labelled prune: vectorized label mask vs the serial reference -----------


def _serial_prune(g: VamanaGraph, point, cand_idx, cand_dist, point_labels=None):
    """The former per-selection robust_prune loop: each selection filters
    the live tail through a frozenset test, (L_j ∩ P) ⊆ L_sel."""
    order = np.lexsort((g.ids[cand_idx], cand_dist))
    cand_idx, cand_dist = cand_idx[order], cand_dist[order]
    keep = cand_idx != point
    cand_idx, cand_dist = cand_idx[keep], cand_dist[keep]
    _, first = np.unique(cand_idx, return_index=True)
    mask = np.zeros(len(cand_idx), dtype=bool)
    mask[first] = True
    cand_idx, cand_dist = cand_idx[mask], cand_dist[mask]
    m = len(cand_idx)
    if m == 0:
        return []
    D = g._pairwise_dists(cand_idx)
    max_factors = np.zeros(m)
    results: list[int] = []
    alpha = 1.0
    labeled = point_labels is not None and g.labels is not None
    while alpha <= g.max_alpha and len(results) < g.R:
        for i in range(m):
            if len(results) >= g.R:
                return results
            if max_factors[i] > alpha:
                continue
            max_factors[i] = np.inf
            sel = int(cand_idx[i])
            results.append(sel)
            if i + 1 >= m:
                continue
            live = np.arange(i + 1, m)[max_factors[i + 1 :] <= g.max_alpha]
            if len(live) and labeled:
                sel_labels = g.labels[sel] or frozenset()
                live = live[
                    np.array(
                        [
                            ((g.labels[int(cand_idx[j])] or frozenset()) & point_labels)
                            <= sel_labels
                            for j in live
                        ],
                        dtype=bool,
                    )
                ]
            if len(live) == 0:
                continue
            d_ce = D[i, live]
            d_cp = cand_dist[live]
            safe = np.where(d_ce > 0, d_ce, 1.0)
            factor = np.where(d_ce > 0, d_cp / safe, np.where(d_cp > 0, np.inf, 1.0))
            max_factors[live] = np.maximum(max_factors[live], factor)
        alpha *= 1.2
    return results


def _random_labels(rng, n):
    """None, empty, single- and multi-label sets over 5 labels."""
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.15:
            out.append(None)
        elif r < 0.25:
            out.append(frozenset())
        else:
            size = 1 if r < 0.7 else int(rng.integers(2, 4))
            out.append(frozenset(int(x) for x in rng.choice(5, size=size, replace=False)))
    return out


def _labelled_graph(dist, sbq, seed, n=300, d=16, **kw):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, d)).astype(np.float32)
    if dist == "cosine":
        mat = np_normalize(mat.astype(np.float64)).astype(np.float32)
    codes = None
    if sbq:
        q = SbqQuantizer(mat.mean(axis=0), mat.var(axis=0), 2)
        codes = q.quantize_matrix(mat)
    g = VamanaGraph(
        mat, distance_type=dist, labels=_random_labels(rng, n), codes=codes,
        ids=np.arange(n, dtype=np.int64), **kw,
    )
    return g, rng


@pytest.mark.parametrize("sbq", [False, True], ids=["float", "sbq"])
@pytest.mark.parametrize("dist", ["cosine", "l2", "inner_product"])
def test_labelled_prune_matches_serial_reference(dist, sbq):
    """robust_prune and the batched prune, label-masked, equal the serial
    labelled loop: random label sets (None, empty, multi-label) on the
    point and the candidates, float and SBQ-code geometry."""
    g, rng = _labelled_graph(dist, sbq, seed=11, num_neighbors=8, max_alpha=1.2)
    B, K = 24, 30
    point_labels = _random_labels(rng, B)
    ci = np.stack([rng.choice(g.n, size=K, replace=False) for _ in range(B)])
    pts = rng.integers(g.n, size=B)
    cd = g._dists_to_points(pts, ci)
    batch = g._batch_prune(ci.copy(), cd.copy(), point_labels)
    for b in range(B):
        want = _serial_prune(g, -1, ci[b].copy(), cd[b].copy(), point_labels[b])
        assert g.robust_prune(-1, ci[b].copy(), cd[b].copy(), point_labels[b]) == want, b
        assert batch[b] == want, b
    # a masked pair must matter somewhere, or the check shows nothing
    # (inner-product factors are negative here, so nothing is occluded)
    if dist != "inner_product":
        assert g._batch_prune(ci.copy(), cd.copy(), None) != batch


@pytest.mark.parametrize("mode", ["bulk", "streaming"])
def test_labelled_build_matches_serial_reference(mode):
    """A labelled SBQ graph built with the vectorized prunes has the same
    adjacency and start nodes as one built through the serial loop."""

    def build(serial: bool):
        g, _ = _labelled_graph(
            "cosine", True, seed=5, n=700, num_neighbors=8, search_list_size=16
        )
        if serial:
            g.robust_prune = lambda p, ci, cd, point_labels=None: _serial_prune(
                g, p, ci, cd, point_labels
            )
            g._batch_prune = lambda ci, cd, pls=None: [
                _serial_prune(g, -1, ci[b], cd[b], None if pls is None else pls[b])
                for b in range(len(ci))
            ]
        if mode == "bulk":
            g.build_bulk(chunk=128)
        else:
            g.build()
        g.finalize()
        return g

    fast, ref = build(False), build(True)
    assert fast.adj == ref.adj
    assert fast.start_by_label == ref.start_by_label
    assert list(fast.start_by_label) == list(ref.start_by_label)
