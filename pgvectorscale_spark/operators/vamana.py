"""Vamana (StreamingDiskANN) graph — pure-numpy core, no Spark dependencies.

This module is the per-shard kernel that runs *inside* executors via
``applyInPandas`` (see operators/diskann.py). Semantics follow the reference:

- greedy beam search with a bounded best-L candidate list
  (pgvectorscale/src/access_method/graph/mod.rs:357-385, visit_closest
  :153-170): repeatedly expand the closest unexpanded candidate among the
  best `search_list_size`; results are the expanded nodes in distance order.
- robust alpha-prune (graph/mod.rs:392-488): candidates sorted by distance;
  rounds with alpha = 1.0, x1.2, ... <= max_alpha; a selected neighbor
  occludes later candidates via factor = d(candidate, point) /
  d(candidate, selected); occluded candidates are revisited in later
  (larger-alpha) rounds. Label-aware skip: a selected neighbor occludes a
  candidate only if (candidate_labels ∩ point_labels) ⊆ selected_labels
  (labels/mod.rs:85-115 contains_intersection).
- insertion (graph/mod.rs:637-717): greedy-search the current graph for the
  new point (labeled points search twice: label-filtered from per-label
  start nodes + unfiltered from the default start), alpha-prune the visited
  pool into the point's neighbor list, then add symmetric back-edges,
  re-pruning any list that overflows R * 1.3 (meta_page.rs:24,253-255).
- start nodes (graph/start_nodes.rs:14-21): a default entry point plus the
  first node seen per label. We use the shard medoid as the default start
  (the reference uses first-inserted and notes a centroid would be better,
  graph/mod.rs:505).
- tie-break determinism (graph/neighbor_with_distance.rs:11-95): all
  orderings use (distance, node_id).

Distances here are whatever the storage layer provides: full-precision
float32 (plain layout) or SBQ-quantized Hamming (memory_optimized layout).
"""

from __future__ import annotations

import math
from bisect import insort
from typing import Callable, Sequence

import numpy as np

from pgvectorscale_spark.functions.distance import np_distance, np_hamming
from pgvectorscale_spark.types import (
    DEFAULT_MAX_ALPHA,
    DEFAULT_NUM_NEIGHBORS,
    DEFAULT_SEARCH_LIST_SIZE,
    NEIGHBOR_SLACK,
)

__all__ = ["VamanaGraph"]


def _occlusion(D: np.ndarray, cand_dist: np.ndarray) -> np.ndarray:
    """Occlusion factor d(candidate j, point) / d(candidate j, selected i)
    for every (i, j) of a pairwise matrix ``D`` (graph/mod.rs:392-488); a
    zero d(j, i) occludes j outright unless j sits on the point itself."""
    pos = D > 0  # the inner where guards the division: no 0-divide
    return np.where(
        pos,
        cand_dist / np.where(pos, D, 1.0),
        np.where(cand_dist > 0, np.inf, 1.0),
    )


def _labels_overlap(a: frozenset | None, b: frozenset | None) -> bool:
    if not a or not b:
        return False
    return not a.isdisjoint(b)


class VamanaGraph:
    """In-memory Vamana graph over a local matrix of vectors.

    ``mat`` rows are addressed by local index 0..n-1; callers map local
    indices to global node ids. ``codes`` (packed u64 SBQ codes) switch the
    in-graph distance to Hamming while full-precision ``mat`` is kept for
    rescoring — the reference's memory_optimized layout.
    """

    def __init__(
        self,
        mat: np.ndarray,
        distance_type: str = "cosine",
        num_neighbors: int = DEFAULT_NUM_NEIGHBORS,
        search_list_size: int = DEFAULT_SEARCH_LIST_SIZE,
        max_alpha: float = DEFAULT_MAX_ALPHA,
        labels: Sequence[frozenset | None] | None = None,
        codes: np.ndarray | None = None,
        adjacency: list[np.ndarray] | None = None,
        quantize_fn: Callable[[np.ndarray], np.ndarray] | None = None,
        ids: np.ndarray | None = None,
    ):
        # cosine inputs must be pre-normalized by the caller (ingest-time
        # normalization, pg_vector.rs:153-155)
        self.mat = np.ascontiguousarray(mat, dtype=np.float32)
        self.n = self.mat.shape[0]
        self.distance_type = distance_type
        self.R = num_neighbors
        self.L = search_list_size
        self.max_alpha = max_alpha
        self.labels = list(labels) if labels is not None else None
        self.codes = codes  # (n, w) uint64 or None
        self.quantize_fn = quantize_fn
        # ceil matches the reference's (num_neighbors * GRAPH_SLACK_FACTOR)
        # .ceil() (meta_page.rs:252-255); int() would floor e.g. R=25 to 32
        self.max_build_neighbors = math.ceil(self.R * NEIGHBOR_SLACK)
        self.adj: list[list[int]] = (
            [list(a) for a in adjacency] if adjacency is not None else [[] for _ in range(self.n)]
        )
        self.start_default: int | None = None
        self.start_by_label: dict[int, int] = {}
        self.last_stats: dict[str, int] = {}
        # dirty-row tracking for the base+delta persistence layer: when a
        # caller sets ``dirty = set()`` before a micro-batch, every local
        # index whose PERSISTED row would change (payload, adjacency, start
        # flags, tombstone) is recorded — the emit then writes O(dirty) rows
        # instead of the whole shard. None (default) = tracking off, zero
        # overhead on bulk-build hot paths.
        self.dirty: set[int] | None = None
        # tie-break identities (G9): all orderings use (distance, ids[i]).
        # Callers that rehydrate node_id-sorted shards pass their global ids
        # (ascending — identical ordering to local indices); grow() appends
        # rows OUT of id order, and id-based ties keep every walk, prune, and
        # top-k bit-identical to a freshly rehydrated (sorted) graph.
        self.ids = (
            np.asarray(ids, dtype=np.int64) if ids is not None else np.arange(self.n, dtype=np.int64)
        )
        # plain-int twin of ids for the walk's per-neighbor tie-break key:
        # int(self.ids[v]) is a numpy scalar-index + box per neighbor (~30
        # expansions x R neighbors per probed query) — list indexing is the
        # same value at a fraction of the cost (round 15, guide §4.2).
        # grow() keeps it in sync.
        self._ids_list: list[int] = self.ids.tolist()
        # precomputed squared norms: in-graph L2 via |a|²+|b|²-2a·b keeps the
        # hot path a single float32 BLAS matvec (the walk makes ~100k tiny
        # distance calls per 1k inserts — per-call numpy overhead dominates
        # without this)
        self._sqnorms = (
            np.einsum("ij,ij->i", self.mat, self.mat) if self.distance_type == "l2" else None
        )

    # -- distance ----------------------------------------------------------

    def _dists_fast(self, v32: np.ndarray, sq_v: float, idxs: np.ndarray) -> np.ndarray:
        """In-graph float32 BLAS distance from vector v32 to stored idxs."""
        dots = self.mat[idxs] @ v32
        if self.distance_type == "l2":
            return np.maximum(self._sqnorms[idxs] + sq_v - 2.0 * dots, 0.0).astype(np.float64)
        if self.distance_type == "cosine":
            return np.maximum(1.0 - dots, 0.0).astype(np.float64)
        return (-dots).astype(np.float64)

    def _dists_to_point(self, i: int, idxs: np.ndarray) -> np.ndarray:
        """Graph-internal distance from stored node i to stored nodes idxs."""
        if self.codes is not None:
            return np_hamming(self.codes[idxs], self.codes[i]).astype(np.float64)
        sq = float(self._sqnorms[i]) if self._sqnorms is not None else 0.0
        return self._dists_fast(self.mat[i], sq, idxs)

    def _dists_to_query(self, q: np.ndarray, idxs: np.ndarray, qcode: np.ndarray | None) -> np.ndarray:
        if self.codes is not None and qcode is not None:
            return np_hamming(self.codes[idxs], qcode).astype(np.float64)
        q32 = q if q.dtype == np.float32 else q.astype(np.float32)
        sq = float(q32 @ q32) if self.distance_type == "l2" else 0.0
        return self._dists_fast(q32, sq, idxs)

    def exact_dists(self, q: np.ndarray, idxs: np.ndarray) -> np.ndarray:
        """Full-precision rescore distances (scan.rs:244-305)."""
        return np_distance(self.mat[idxs], q, self.distance_type, assume_normalized=True)

    def _pairwise_dists(self, idxs: np.ndarray) -> np.ndarray:
        """(..., m, m) graph-internal distance matrix among the candidates of
        each row of ``idxs`` ((m,) or (B, m)) — one BLAS gram per row
        instead of m matvecs inside the prune. matmul runs one gemm per
        slice, the same kernel for a single row and for a stack, so the
        serial and batched prunes see bit-identical geometry."""
        if self.codes is not None:
            # Hamming as |a| + |b| - 2 a·b over the unpacked bits: one float32
            # gemm per row, exact (integer counts far below 2**24) and several
            # times faster than a (m, m, words) XOR popcount
            bits = np.unpackbits(self.codes[idxs].view(np.uint8), axis=-1)
            bits = bits.astype(np.float32)
            pc = bits.sum(axis=-1)
            dots = bits @ np.swapaxes(bits, -1, -2)
            return (pc[..., :, None] + pc[..., None, :] - 2.0 * dots).astype(np.float64)
        # float32 throughout: build-side candidate geometry only (serving
        # rescore stays float64); f32 GEMMs are ~2x the f64 throughput and
        # the downstream prune/argpartition are dtype-agnostic
        sub = self.mat[idxs]
        g = sub @ np.swapaxes(sub, -1, -2)
        if self.distance_type == "l2":
            n = self._sqnorms[idxs]
            return np.maximum(n[..., :, None] + n[..., None, :] - 2.0 * g, 0.0)
        if self.distance_type == "cosine":
            return np.maximum(1.0 - g, 0.0)
        return -g

    def _dists_to_points(self, pts: np.ndarray, ci: np.ndarray) -> np.ndarray:
        """(B, K) graph-internal distances from stored node pts[b] to its
        stored candidates ci[b] — per-slice gemv (or XOR), bit-identical to
        ``_dists_to_point`` row by row."""
        if self.codes is not None:
            return np_hamming(self.codes[ci], self.codes[pts][:, None, :]).astype(np.float64)
        dots = (self.mat[ci] @ self.mat[pts][:, :, None])[:, :, 0]
        if self.distance_type == "l2":
            return np.maximum(
                self._sqnorms[ci] + self._sqnorms[pts][:, None] - 2.0 * dots, 0.0
            ).astype(np.float64)
        if self.distance_type == "cosine":
            return np.maximum(1.0 - dots, 0.0).astype(np.float64)
        return (-dots).astype(np.float64)

    def _label_keep(self, cand_idx: np.ndarray, point_labels: frozenset) -> np.ndarray | None:
        """(m, m) mask: keep[i, j] when selected candidate i may occlude
        candidate j, i.e. (L_j ∩ P) ⊆ L_i for the point's labels P
        (labels/mod.rs:85-115 contains_intersection). Built from the (m, |P|)
        membership matrix M as (1 - M) @ M.T == 0: the count of P-labels j
        carries that i lacks. None when P is empty (every pair may)."""
        plist = sorted(point_labels)
        if not plist:
            return None
        labels = self.labels
        M = np.array(
            [[p in (labels[int(c)] or ()) for p in plist] for c in cand_idx],
            dtype=np.float32,
        ).reshape(len(cand_idx), len(plist))
        return (1.0 - M) @ M.T == 0

    # -- greedy search (G1/G2/G3) -------------------------------------------

    def _start_nodes(self, query_labels: frozenset | None) -> list[int]:
        if self.start_default is None:
            return []
        if query_labels:
            starts = [self.start_by_label[l] for l in sorted(query_labels) if l in self.start_by_label]
            if starts:
                return sorted(set(starts), key=lambda i: self.ids[i])
        return [self.start_default]

    def greedy_search(
        self,
        q: np.ndarray,
        search_list_size: int | None = None,
        query_labels: frozenset | None = None,
        no_filter: bool = True,
        qcode: np.ndarray | None = None,
        include_frontier: bool = False,
    ) -> tuple[list[int], list[float]]:
        """Beam search; returns expanded (visited) nodes and their distances
        in visit order — the reference's relaxed distance order.

        ``include_frontier=True`` additionally returns the unexpanded
        candidates still on the beam — for serving, rescoring these (already
        scored, zero extra walk cost) strictly improves recall over the
        reference's visited-only streaming pool."""
        L = search_list_size or self.L
        starts = self._start_nodes(None if no_filter else query_labels)
        if not starts:
            return [], []
        q32 = np.asarray(q, dtype=np.float32)
        sidx = np.array(starts)
        sd = self._dists_to_query(q32, sidx, qcode)
        ids_l = self._ids_list
        # candidate list: sorted (dist, id, idx, expanded) capped at L. Python
        # insort beats array re-sorts here: ~30 O(len) inserts per expansion
        # are cheaper than a lexsort + 3 concatenates of the whole beam.
        # Ties break on the global id (G9), not the local slot.
        cand: list[list] = sorted(
            [d, ids_l[i], i, False] for d, i in zip(sd.tolist(), starts)
        )
        seen = set(starts)
        visited: list[int] = []
        visited_d: list[float] = []
        while True:
            # first unexpanded among the best L — an index loop, not a
            # cand[:L] slice: the slice allocated a fresh L-list per beam
            # step (~2 scans per expansion measured), round 15 guide §4.2
            nxt = None
            for j in range(min(L, len(cand))):
                c = cand[j]
                if not c[3]:
                    nxt = c
                    break
            if nxt is None:
                break
            nxt[3] = True
            d_u, u = nxt[0], nxt[2]
            visited.append(u)
            visited_d.append(d_u)
            neigh = [v for v in self.adj[u] if v not in seen]
            if not no_filter and query_labels:
                # label filter during expansion (sbq/storage.rs:162-171)
                neigh = [v for v in neigh if _labels_overlap(self.labels[v], query_labels)]
            if not neigh:
                continue
            seen.update(neigh)
            nidx = np.array(neigh)
            nd = self._dists_to_query(q32, nidx, qcode)
            for d, v in zip(nd.tolist(), neigh):
                insort(cand, [d, ids_l[v], v, False])
            if len(cand) > 4 * L:
                # drop hopeless tail but never drop expanded entries' record
                cand = cand[: 2 * L]
        if include_frontier:
            vset = set(visited)
            for d, _, v, _ in cand:
                if v not in vset:
                    visited.append(v)
                    visited_d.append(d)
                    vset.add(v)
        return visited, visited_d

    # -- robust alpha-prune (G4) --------------------------------------------

    def robust_prune(
        self,
        point: int,
        cand_idx: np.ndarray,
        cand_dist: np.ndarray,
        point_labels: frozenset | None = None,
    ) -> list[int]:
        """Reference prune_neighbors (graph/mod.rs:392-488), vectorized."""
        # dedupe + drop self-loops, sort by (distance, global id)
        order = np.lexsort((self.ids[cand_idx], cand_dist))
        cand_idx, cand_dist = cand_idx[order], cand_dist[order]
        keep = cand_idx != point
        cand_idx, cand_dist = cand_idx[keep], cand_dist[keep]
        _, first = np.unique(cand_idx, return_index=True)
        mask = np.zeros(len(cand_idx), dtype=bool)
        mask[first] = True
        # mask keeps first occurrences of the (dist, id)-sorted array, so
        # the result is still sorted — no re-sort needed
        cand_idx, cand_dist = cand_idx[mask], cand_dist[mask]

        m = len(cand_idx)
        if m == 0:
            return []
        # the occlusion factor of candidate j under selected i depends only
        # on (i, j), so the whole factor matrix vectorizes up front — each
        # selection is then ONE np.maximum over the tail instead of ~8 numpy
        # calls (the build's Python floor, ~25 µs -> ~2 µs per selection)
        Fm = _occlusion(self._pairwise_dists(cand_idx), cand_dist)
        if point_labels is not None and self.labels is not None:
            keep_ij = self._label_keep(cand_idx, point_labels)
            if keep_ij is not None:
                # a pair outside the label rule imposes no occlusion: factor
                # 0 never raises a max that starts at 0
                Fm = np.where(keep_ij, Fm, 0.0)
        max_factors = np.zeros(m)
        results: list[int] = []
        alpha = 1.0
        while alpha <= self.max_alpha and len(results) < self.R:
            for i in range(m):
                if max_factors[i] > alpha:
                    continue
                max_factors[i] = np.inf
                results.append(int(cand_idx[i]))
                if len(results) >= self.R:
                    return results
                if i + 1 < m:
                    np.maximum(
                        max_factors[i + 1 :], Fm[i, i + 1 :], out=max_factors[i + 1 :]
                    )
            alpha *= 1.2
        return results

    def _batch_prune(
        self,
        cand_idx: np.ndarray,
        cand_dist: np.ndarray,
        point_labels: Sequence[frozenset | None] | None = None,
    ) -> list[list[int]]:
        """robust_prune for a whole BLOCK of points at once: one batched
        (B, K, K) pairwise geometry + one vectorized selection sweep,
        instead of B independent Python prune loops — the bulk build's
        remaining CPU floor (~45% at 20k was per-selection bookkeeping).
        ``point_labels[b]`` masks row b's factors with the label rule.
        Row b's output is IDENTICAL to ``robust_prune(point_b,
        cand_idx[b], cand_dist[b], point_labels[b])`` given rows of unique
        non-self candidates (which exact top-K over the processed prefix,
        and every stored neighbor list, guarantee by construction)."""
        B, K = cand_idx.shape
        # the (B, K, K) factor tensor is the only sizeable intermediate:
        # chunk rows so it stays ~32 MB whatever the block and list length
        step = max(1, (1 << 22) // max(K * K, 1))
        if B > step:
            return [
                lst
                for s in range(0, B, step)
                for lst in self._batch_prune(
                    cand_idx[s : s + step],
                    cand_dist[s : s + step],
                    None if point_labels is None else point_labels[s : s + step],
                )
            ]
        ids = self.ids
        order = np.stack(
            [np.lexsort((ids[cand_idx[b]], cand_dist[b])) for b in range(B)]
        )
        ci = np.take_along_axis(cand_idx, order, axis=1)
        cd = np.take_along_axis(cand_dist, order, axis=1)
        # occlusion factor selecting candidate i imposes on candidate j:
        # Fm[b, i, j] (same formula and geometry as robust_prune)
        Fm = _occlusion(self._pairwise_dists(ci), cd[:, None, :])
        if point_labels is not None and self.labels is not None:
            for b, pl in enumerate(point_labels):
                keep_ij = self._label_keep(ci[b], pl) if pl is not None else None
                if keep_ij is not None:
                    Fm[b] = np.where(keep_ij, Fm[b], 0.0)
        maxf = np.zeros((B, K))
        counts = np.zeros(B, dtype=np.int64)
        sel_round = np.full((B, K), -1, dtype=np.int32)
        alpha, rnd = 1.0, 0
        limit = min(self.R, K)
        while alpha <= self.max_alpha and (counts < limit).any():
            for i in range(K):
                sel = (counts < self.R) & (maxf[:, i] <= alpha)
                if not sel.any():
                    continue
                b = np.nonzero(sel)[0]
                maxf[b, i] = np.inf
                counts[b] += 1
                sel_round[b, i] = rnd
                if i + 1 < K:
                    maxf[b, i + 1 :] = np.maximum(maxf[b, i + 1 :], Fm[b, i, i + 1 :])
            alpha *= 1.2
            rnd += 1
        out: list[list[int]] = []
        for b in range(B):
            chosen = np.nonzero(sel_round[b] >= 0)[0]
            # selection order = (round, position) ascending, like the serial
            # loop appends
            chosen = chosen[np.lexsort((chosen, sel_round[b, chosen]))]
            out.append([int(x) for x in ci[b, chosen]])
        return out

    # -- insertion (G5/G6/G7/G8) ---------------------------------------------

    def _point_labels(self, i: int) -> frozenset | None:
        return self.labels[i] if self.labels is not None else None

    def _labels_of(self, points) -> list[frozenset | None] | None:
        if self.labels is None:
            return None
        return [self.labels[int(i)] for i in points]

    def _mark_dirty(self, i: int) -> None:
        if self.dirty is not None:
            self.dirty.add(i)

    def insert(self, i: int) -> None:
        pl = self._point_labels(i)
        self._mark_dirty(i)
        if self.start_default is None:
            self.start_default = i
            if pl:
                for l in pl:
                    self.start_by_label.setdefault(l, i)
            return
        q = self.mat[i]
        qcode = self.codes[i] if self.codes is not None else None
        vis_idx: list[int] = []
        vis_d: list[float] = []
        if pl:
            # labeled vectors insert twice (graph/mod.rs:653-659)
            v1, d1 = self.greedy_search(q, self.L, query_labels=pl, no_filter=False, qcode=qcode)
            vis_idx += v1
            vis_d += d1
        v2, d2 = self.greedy_search(q, self.L, no_filter=True, qcode=qcode)
        vis_idx += v2
        vis_d += d2
        if not vis_idx:
            self.adj[i] = []
        else:
            neighbors = self.robust_prune(
                i, np.array(vis_idx), np.array(vis_d), point_labels=pl
            )
            self.adj[i] = neighbors
            # symmetric back-edges with overflow prune (graph/mod.rs:720-737)
            for b in neighbors:
                if i not in self.adj[b]:
                    self.adj[b].append(i)
                    self._mark_dirty(b)
                    if len(self.adj[b]) > self.max_build_neighbors:
                        bidx = np.array(self.adj[b])
                        bd = self._dists_to_point(b, bidx)
                        self.adj[b] = self.robust_prune(
                            b, bidx, bd, point_labels=self._point_labels(b)
                        )
        if pl:
            for l in pl:
                self.start_by_label.setdefault(l, i)

    def _attach(self, i: int, cand_idx: np.ndarray, cand_dist: np.ndarray) -> None:
        """Prune candidates into i's neighbor list + symmetric back-edges
        (shared by streaming insert and bulk build)."""
        pl = self._point_labels(i)
        neighbors = self.robust_prune(i, cand_idx, cand_dist, point_labels=pl)
        self.adj[i] = neighbors
        # overflow threshold: bulk build defers back-edge prunes to 2x slack
        # (the BuilderNeighborCache deferral analog, neighbor_store.rs:78-97)
        # — finalize() enforces R at the end either way
        threshold = getattr(self, "_prune_threshold", self.max_build_neighbors)
        for b in neighbors:
            if i not in self.adj[b]:
                self.adj[b].append(i)
                if len(self.adj[b]) > threshold:
                    bidx = np.array(self.adj[b])
                    bd = self._dists_to_point(b, bidx)
                    self.adj[b] = self.robust_prune(
                        b, bidx, bd, point_labels=self._point_labels(b)
                    )
        if pl:
            for l in pl:
                self.start_by_label.setdefault(l, i)

    def _block_dists(self, bm: np.ndarray, pm: np.ndarray) -> np.ndarray:
        """(w, m) exact distance matrix block x prefix — one float32 GEMM.

        Stays float32: these are build-side candidate distances (the prune
        is dtype-agnostic); converting the O(n²/chunk)-element outputs to
        f64 measurably dominates a large shard build."""
        g = bm @ pm.T
        if self.distance_type == "l2":
            nb = np.einsum("ij,ij->i", bm, bm)
            npf = np.einsum("ij,ij->i", pm, pm)
            g *= -2.0
            g += nb[:, None]
            g += npf[None, :]
            return np.maximum(g, 0.0, out=g)
        if self.distance_type == "cosine":
            np.subtract(1.0, g, out=g)
            return np.maximum(g, 0.0, out=g)
        return np.negative(g, out=g)

    def build_bulk(self, chunk: int = 512) -> None:
        """Bulk build: exact-prefix candidates instead of graph walks.

        Each chunk of points gets its candidate pool from ONE BLAS distance
        matrix against the already-built prefix (exact top-K, strictly
        better candidates than a beam walk), then the same alpha-prune and
        back-edge rules as streaming insert. Points within a chunk don't see
        each other except through back-edges — the same staleness the
        reference's parallel build accepts (build.rs:343-428). O(n²·d/2)
        BLAS per shard caps practical shard size at ~100-200k vectors,
        which is the target shard size anyway; measured ~20x faster than
        per-insert walks at 3k-100k scale with equal-or-better recall.
        """
        if self.n == 0:
            return
        centroid = self.mat.astype(np.float64).mean(axis=0)
        d0 = np_distance(self.mat, centroid, self.distance_type, assume_normalized=True)
        medoid = int(np.lexsort((self.ids, d0))[0])
        order = [medoid] + [i for i in range(self.n) if i != medoid]
        self.start_default = medoid
        pl0 = self._point_labels(medoid)
        if pl0:
            for l in pl0:
                self.start_by_label.setdefault(l, medoid)
        # exact-KNN candidates are strictly better than beam-visited pools,
        # so R·slack suffices where the walk needs L (measured: identical
        # recall, ~30% faster than an L-sized pool)
        K = max(self.max_build_neighbors, self.R + 1)
        self._prune_threshold = int(self.max_build_neighbors * 2)
        # build the graph on EXACT geometry even under SBQ storage: the
        # candidate matrix is exact, so the prune's pairwise distances must
        # be on the same scale (mixing exact d_cp with Hamming d_ce corrupts
        # the occlusion factor — measured recall collapse 0.96 -> 0.17).
        # Codes are a serving-time compression; they play no part here.
        stashed_codes, self.codes = self.codes, None
        # first chunk: growing prefix (cheap — tiny matrices)
        first = order[: min(chunk, self.n)]
        for bi in range(1, len(first)):
            i = first[bi]
            prefix = np.array(first[:bi])
            d = self._block_dists(self.mat[i : i + 1], self.mat[prefix])[0]
            kk = min(K, len(prefix))
            top = np.argpartition(d, kk - 1)[:kk]
            self._attach(i, prefix[top], d[top])
        processed = list(first)
        for start in range(len(first), self.n, chunk):
            block = order[start : start + chunk]
            prefix = np.array(processed)
            D = self._block_dists(self.mat[block], self.mat[prefix])
            kk = min(K, len(prefix))
            # per-row argpartition (measured faster than the axis=1 form)
            tops = np.stack(
                [np.argpartition(D[bi], kk - 1)[:kk] for bi in range(len(block))]
            )
            # ONE batched prune for the whole chunk (identical per-row
            # output to robust_prune — no prune reads adjacency, so the
            # chunk's prunes are independent), then batched back-edge
            # overflow prunes (exact replay of the serial append order —
            # see _apply_backedges_batched)
            ci = prefix[tops]
            cd = np.take_along_axis(D, tops, axis=1)
            lists = self._batch_prune(ci, cd, self._labels_of(block))
            if getattr(self, "_serial_backedges", False):
                # reference path kept for the bit-parity tests
                threshold = self._prune_threshold
                for bi, i in enumerate(block):
                    neighbors = lists[bi]
                    self.adj[i] = neighbors
                    for b in neighbors:
                        # no membership check needed here: i attaches
                        # for the first time and candidates come only
                        # from the processed prefix, so adj[b] cannot
                        # contain i yet
                        self.adj[b].append(i)
                        if len(self.adj[b]) > threshold:
                            bidx = np.array(self.adj[b])
                            bd = self._dists_to_point(b, bidx)
                            self.adj[b] = self.robust_prune(
                                b, bidx, bd, point_labels=self._point_labels(b)
                            )
            else:
                self._apply_backedges_batched(block, lists)
            for i in block:  # the start rule _attach applies, in its order
                for l in self._point_labels(i) or ():
                    self.start_by_label.setdefault(l, i)
            processed.extend(block)
        self.codes = stashed_codes
        del self._prune_threshold

    def _apply_backedges_batched(self, block, lists) -> None:
        """Back-edge application with DEPENDENCY-AWARE batched overflow
        prunes (NOTES gap #4 — this was the remaining serial CPU of a bulk
        build: one robust_prune call per overflowed node, ~2.6k at 20k).

        The serial loop's only ordering dependency is each node b's OWN
        append sequence: robust_prune reads just the candidate list and
        geometry, never other nodes' adjacency. So the exact serial state
        is replayable: record every b's pending appends in block order,
        compute where its list first crosses the overflow threshold, and
        prune ALL first-overflow nodes of the chunk in one rectangular
        tensor pass (the finalize() kernel — bit-identical distances).
        Nodes with appends left after their prune (a second overflow needs
        ~threshold - R further appends, so this is rare) carry into the
        next round. Adjacency is bit-identical to the serial order, which
        the parity test asserts by running both paths."""
        threshold = self._prune_threshold
        pend: dict[int, list[int]] = {}
        order: list[int] = []
        for bi, i in enumerate(block):
            self.adj[i] = lists[bi]
            for b in lists[bi]:
                # no membership check needed: i attaches for the first time
                # and candidates come only from the processed prefix
                if b not in pend:
                    pend[b] = []
                    order.append(b)
                pend[b].append(i)
        active = [(b, pend[b]) for b in order]
        while active:
            carry: list[tuple[int, list[int]]] = []
            to_prune: list[tuple[int, list[int]]] = []
            for b, appends in active:
                base = self.adj[b]
                if len(base) + len(appends) <= threshold:
                    base.extend(appends)
                    continue
                # first overflow: the serial loop prunes the moment the
                # list reaches threshold + 1 entries
                take = threshold + 1 - len(base)
                to_prune.append((b, base + appends[:take]))
                if appends[take:]:
                    carry.append((b, appends[take:]))
            groups: dict[int, list[tuple[int, list[int]]]] = {}
            for b, cand in to_prune:
                groups.setdefault(len(cand), []).append((b, cand))
            for _, items in sorted(groups.items()):
                for c0 in range(0, len(items), 1024):
                    chunk = items[c0 : c0 + 1024]
                    pts = np.array([b for b, _ in chunk])
                    ci = np.array([c for _, c in chunk])  # (B, K)
                    cd = self._dists_to_points(pts, ci)
                    pruned = self._batch_prune(ci, cd, self._labels_of(pts))
                    for (b, _), lst in zip(chunk, pruned):
                        self.adj[b] = lst
            active = carry

    def build(self, order: Sequence[int] | None = None, medoid_first: bool = True) -> None:
        if self.n == 0:
            return
        order = list(order) if order is not None else list(range(self.n))
        if medoid_first and self.start_default is None:
            centroid = self.mat.astype(np.float64).mean(axis=0)
            d = np_distance(self.mat, centroid, self.distance_type, assume_normalized=True)
            medoid = int(np.lexsort((self.ids, d))[0])
            order.remove(medoid)
            order.insert(0, medoid)
        for i in order:
            self.insert(i)

    def finalize(self) -> None:
        """Final prune pass: enforce |adj| <= R (build.rs:905-960).

        A no-op for any node whose list already fits, so calling it after an
        incremental insert batch touches only the overflowed (i.e. actually
        modified) nodes — the len() scan itself is O(n) but trivial.

        The prunes are batched (grouped by list length so each group is one
        rectangular ``_batch_prune`` call, labelled or not, on float or SBQ
        code geometry): every per-node prune here is independent — it reads
        only the node's own frozen list — so batching is exact, and it
        removes the dominant Python floor of the bulk build (~1/3 of
        20k-shard CPU was one robust_prune call per overflowed node)."""
        groups: dict[int, list[int]] = {}
        for i in range(self.n):
            if len(self.adj[i]) > self.R:
                groups.setdefault(len(self.adj[i]), []).append(i)
        # chunk each length-group so per-task memory stays bounded even when
        # one group holds most of a shard
        for _, nodes in sorted(groups.items()):
            for c0 in range(0, len(nodes), 1024):
                chunk = nodes[c0 : c0 + 1024]
                pts = np.array(chunk)
                ci = np.array([self.adj[i] for i in chunk])  # (B, K)
                cd = self._dists_to_points(pts, ci)
                for i, lst in zip(chunk, self._batch_prune(ci, cd, self._labels_of(chunk))):
                    self.adj[i] = lst

    # -- incremental growth (warm-path micro-batch insert) ---------------------

    def grow(
        self,
        mat_rows: np.ndarray,
        ids: np.ndarray,
        codes: np.ndarray | None = None,
        labels: Sequence[frozenset | None] | None = None,
    ) -> list[int]:
        """Append rows to the graph's storage WITHOUT linking them — the
        warm-insert path appends, then runs the normal ``insert`` per new
        row, so per-micro-batch CPU is O(batch · walk), never O(shard).
        Appended rows land at local indices n..n+m-1 (out of global-id
        order); id-based tie-breaking keeps every subsequent walk/prune
        identical to a freshly rehydrated node_id-sorted graph. Returns the
        new local indices."""
        mat_rows = np.ascontiguousarray(mat_rows, dtype=np.float32).reshape(
            len(ids), self.mat.shape[1]
        )
        start = self.n
        self.mat = np.ascontiguousarray(np.vstack([self.mat, mat_rows]))
        if self._sqnorms is not None:
            self._sqnorms = np.concatenate(
                [self._sqnorms, np.einsum("ij,ij->i", mat_rows, mat_rows)]
            )
        if self.codes is not None:
            self.codes = np.vstack([self.codes, np.asarray(codes)])
        if self.labels is not None:
            new_labels = list(labels) if labels is not None else [None] * len(ids)
            self.labels.extend(new_labels)
        self.adj.extend([] for _ in range(len(ids)))
        self.ids = np.concatenate([self.ids, np.asarray(ids, dtype=np.int64)])
        self._ids_list = self.ids.tolist()
        self.n += len(ids)
        if self.dirty is not None:
            self.dirty.update(range(start, self.n))
        return list(range(start, self.n))

    def replace(
        self,
        i: int,
        vec_row: np.ndarray | None = None,
        code: np.ndarray | None = None,
        labels_i: frozenset | None = None,
    ) -> None:
        """Overwrite stored row i's payload in place (upsert). The old
        adjacency and start flags survive — exactly what the cold path's
        merge keeps for an upserted row — and the caller re-runs ``insert``
        so the prune rewrites the neighbor list for the new geometry."""
        self._mark_dirty(i)
        if vec_row is not None and self.mat.shape[1]:
            self.mat[i] = np.asarray(vec_row, dtype=np.float32)[: self.mat.shape[1]]
            if self._sqnorms is not None:
                self._sqnorms[i] = float(self.mat[i] @ self.mat[i])
        if self.codes is not None and code is not None:
            self.codes[i] = code
        if self.labels is not None:
            self.labels[i] = labels_i

    # -- serving --------------------------------------------------------------

    def search(
        self,
        q: np.ndarray,
        k: int = 10,
        search_list_size: int | None = None,
        rescore: int = 0,
        query_labels: frozenset | None = None,
        qcode: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k local indices + exact distances. With codes, the walk uses
        Hamming and the top `rescore` candidates are re-ranked at full
        precision (T2); without codes the walk is already exact.

        ``k=0`` returns the ENTIRE visited pool (walk-metric order, no
        truncation) with the beam still bounded by ``search_list_size`` —
        the distributed serving path emits this pool for JVM-side exact
        rescore.

        ``qcode`` lets a caller pass a pre-quantized query (round 15):
        quantize_matrix is row-independent, so batch-quantizing a query
        block once per shard is bit-identical to the per-call
        ``quantize_fn(q)`` it replaces — and skips one Python quantizer
        round-trip per (query, shard) probe."""
        no_filter = not query_labels
        if self.codes is not None and qcode is None:
            qcode = self.quantize_fn(q) if self.quantize_fn is not None else None
        elif self.codes is None:
            qcode = None
        L = max(search_list_size or self.L, k)
        vis, vis_d = self.greedy_search(
            q, L, query_labels=query_labels, no_filter=no_filter, qcode=qcode,
            include_frontier=True,
        )
        # per-search counters (reference StreamingStats, scan.rs:119-160;
        # stats.rs:3-283): node expansions, quantized comparisons, rescores
        self.last_stats = {
            "candidates_scored": len(vis),
            "quantized_comparisons": len(vis) if self.codes is not None else 0,
            "rescored": 0,
        }
        if not vis:
            return np.array([], dtype=np.int64), np.array([])
        vidx = np.array(vis, dtype=np.int64)
        vd = np.array(vis_d)
        if query_labels:
            # recheck on results (xs_recheck, scan.rs:350-352)
            mask = np.array([_labels_overlap(self.labels[int(i)], query_labels) for i in vidx])
            vidx, vd = vidx[mask], vd[mask]
            if len(vidx) == 0:
                return np.array([], dtype=np.int64), np.array([])
        if self.codes is not None and rescore > 0:
            order = np.lexsort((self.ids[vidx], vd))[: max(rescore, k)]
            cand = vidx[order]
            ed = self.exact_dists(q, cand)
            self.last_stats["rescored"] = len(cand)
            top = np.lexsort((self.ids[cand], ed))[:k]
            return cand[top], ed[top]
        order = np.lexsort((self.ids[vidx], vd))
        if k > 0:
            order = order[:k]
        return vidx[order], vd[order]
