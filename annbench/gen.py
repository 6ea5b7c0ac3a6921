"""Seeded inputs for the benchmark and their exact answers.

The corpus is a mixture of unit-norm centres plus Gaussian noise, with one
label per row drawn independently of the cluster. Queries and inserted
vectors come from the same mixture and are never part of the base corpus.
The same seed gives byte-identical arrays. Ground truth is the exact cosine
top-k computed here with numpy; the program under test only ever sees the
DataFrames built from these arrays.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Sizes:
    corpus: int = 4096
    dim: int = 64
    centres: int = 16
    labels: int = 16
    noise: float = 0.6  # norm of the noise added to a unit-norm centre
    k: int = 10
    batch: int = 64  # queries per search_batch call
    join: int = 512  # rows of the ann_join query frame
    insert: int = 256  # vectors per insert call
    insert_queries: int = 16  # inserted vectors that are also queried
    num_shards: int = 4
    snapshot_deletes: int = 6  # churn: generations open in the snapshot
    delete_ids: int = 8  # churn: ids per snapshot delete


@dataclass
class Data:
    corpus_ids: np.ndarray  # int64
    corpus: np.ndarray  # (corpus, dim) float32
    corpus_labels: np.ndarray  # int16, one label per row
    queries: np.ndarray  # (join, dim) float32, held out
    insert_ids: np.ndarray  # int64, disjoint from corpus_ids
    inserts: np.ndarray  # (insert, dim) float32
    insert_labels: np.ndarray  # int16
    doomed: np.ndarray  # (snapshot_deletes, delete_ids) corpus ids deleted in churn set-up


def make_data(seed: int, sizes: Sizes) -> Data:
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((sizes.centres, sizes.dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)

    def draw(n: int) -> np.ndarray:
        which = rng.integers(0, sizes.centres, n)
        noise = rng.standard_normal((n, sizes.dim)) * (sizes.noise / np.sqrt(sizes.dim))
        return (centres[which] + noise).astype(np.float32)

    corpus = draw(sizes.corpus)
    corpus_labels = rng.integers(0, sizes.labels, sizes.corpus).astype(np.int16)
    queries = draw(max(sizes.join, sizes.batch))
    inserts = draw(sizes.insert)
    insert_labels = rng.integers(0, sizes.labels, sizes.insert).astype(np.int16)
    corpus_ids = np.arange(sizes.corpus, dtype=np.int64)
    doomed = rng.choice(corpus_ids, sizes.snapshot_deletes * sizes.delete_ids, replace=False)
    return Data(
        corpus_ids=corpus_ids,
        corpus=corpus,
        corpus_labels=corpus_labels,
        queries=queries,
        insert_ids=np.arange(10 * sizes.corpus, 10 * sizes.corpus + sizes.insert, dtype=np.int64),
        inserts=inserts,
        insert_labels=insert_labels,
        doomed=doomed.reshape(sizes.snapshot_deletes, sizes.delete_ids),
    )


def exact_topk(queries: np.ndarray, vectors: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """(queries, k) ids of the exact cosine top-k, ties broken by id."""
    q = queries.astype(np.float64)
    v = vectors.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    dist = 1.0 - q @ v.T
    out = np.empty((len(q), k), dtype=np.int64)
    for i, row in enumerate(dist):
        order = np.lexsort((ids, row))[:k]
        out[i] = ids[order]
    return out


def recall(results: dict[int, list[int]], truth: dict[int, np.ndarray]) -> float:
    """Mean recall@k of ``results`` (query id -> ids) over the queries in ``truth``."""
    hits = [len(set(results.get(q, ())) & set(t.tolist())) / len(t) for q, t in truth.items()]
    return float(np.mean(hits))
