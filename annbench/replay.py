"""Single-thread, in-process replay of the graph kernel on one block.

Builds a ``VamanaGraph`` over one block of the corpus with SBQ codes from an
``SbqQuantizer`` trained on that block, the way a shard task does, then walks
it for every query. Only public methods of the two classes are called. The
replay runs in the driver, so its times carry no Spark scheduling noise.
"""

from __future__ import annotations

import time
from statistics import median

import numpy as np

from pgvectorscale_spark.operators.sbq import SbqQuantizer
from pgvectorscale_spark.operators.vamana import VamanaGraph
from pgvectorscale_spark.types import DEFAULT_QUERY_SEARCH_LIST_SIZE


def _unit(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def kernel_replay(block: np.ndarray, queries: np.ndarray, k: int) -> dict[str, tuple]:
    """Metric name -> (value, unit)."""
    mat = _unit(block)
    qs = _unit(queries)
    quant = SbqQuantizer(mat.mean(axis=0), mat.var(axis=0))
    quantize_s = []
    for _ in range(9):
        t0 = time.perf_counter()
        codes = quant.quantize_matrix(mat)
        quantize_s.append(time.perf_counter() - t0)
    g = VamanaGraph(mat, distance_type="cosine", codes=codes, quantize_fn=quant.quantize)
    t0 = time.perf_counter()
    g.build_bulk()
    g.finalize()
    build_s = time.perf_counter() - t0
    qcodes = quant.quantize_matrix(qs)
    t0 = time.perf_counter()
    for q, qc in zip(qs, qcodes):
        g.search(q, k=k, search_list_size=DEFAULT_QUERY_SEARCH_LIST_SIZE, rescore=k, qcode=qc)
    search_s = time.perf_counter() - t0
    expansions = sum(
        len(g.greedy_search(q, DEFAULT_QUERY_SEARCH_LIST_SIZE, qcode=qc)[0])
        for q, qc in zip(qs, qcodes)
    )
    return {
        "vamana.build_bulk_s": (build_s, "s"),
        "vamana.search_ms_per_query": (1000.0 * search_s / len(qs), "ms"),
        "vamana.expansions_per_query": (expansions / len(qs), "count"),
        "sbq.quantize_matrix_ms": (1000.0 * median(quantize_s), "ms"),
    }
