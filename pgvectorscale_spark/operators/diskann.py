"""DiskannIndex — shard-parallel StreamingDiskANN build + batch serving.

Reference lifecycle (pgvectorscale/src/access_method/build.rs:296-460,
scan.rs:309-436) re-expressed for Spark's execution model:

**Build** = a handful of Spark jobs over one normalized, persisted copy of
the corpus, mirroring the reference's phases (build.rs:1154-1166 "training
quantizer" → "building graph" → "finalizing"):

1. *Facts + train*: one pass returns the row count, dimensions, label
   bounds, k-means seeds, the routing-curve sample and (SBQ) the
   per-dimension mean/variance moments (quantize.rs:104-152), merged on
   the driver. kmeans sharding adds one partial-sum pass per Lloyd round
   and one per-shard statistics pass (counts, vector sums, labels) after
   the assignment.
2. *Graph construction*: each shard builds an independent Vamana graph
   **inside one executor task** (operators/vamana.py). This replaces the
   reference's DSM-shared-memory parallel build (build.rs:343-428): Spark's
   natural parallelism unit is the shard, not page-locked shared state.
   Sharding is how the design scales: at 100 TB, shards of ~100k-1M vectors
   build in parallel across 1000 executors with zero coordination.
3. *Finalize*: neighbor lists pruned to R and written as a parquet node
   table partitioned by shard + a JSON meta sidecar (replacing 8KB page
   tape storage, util/tape.rs — parquet/Delta replace page management).

**Query** = scatter/gather + rescore, the classic distributed-ANN plan:
queries are broadcast; each shard greedy-walks its local graph
(mapPartitions-style, no data leaves the executor) and emits its local
top-`rescore` candidates; candidates are then *exactly* re-ranked
JVM-side — a broadcast join back to full-precision vectors + the M0
distance fold + per-query top-k (T2, scan.rs:244-305). Per-shard recall
composes: each shard returns a superset of its contribution to the global
top-k, so the union contains the (approximate) global answer.

**Mutations**: inserts are micro-batched per shard and run the *same*
insert algorithm against the stored graph (aminsert, build.rs:464-558 —
the txn advisory lock becomes single-writer-per-index discipline);
deletes are tombstones that stay in the graph for traversal but never
surface in results (vacuum.rs:23-136); compact() rebuilds from live rows.
"""

from __future__ import annotations

import functools
import os
import uuid
import warnings
from collections import OrderedDict
from contextlib import contextmanager
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from pgvectorscale_spark.functions.distance import (
    distance_expr,
    l2_normalize,
    np_distance,
    np_normalize,
)
from pgvectorscale_spark.operators.partitioning import (
    proxy_partition_col,
    spark_pmod_xxhash64,
    spark_xxhash64_long,
)
from pgvectorscale_spark.operators.sbq import SbqQuantizer
from pgvectorscale_spark.operators.similarity import _nearest
from pgvectorscale_spark.operators.vamana import VamanaGraph
from pgvectorscale_spark.types import (
    DEFAULT_MAX_ALPHA,
    DEFAULT_NUM_NEIGHBORS,
    DEFAULT_QUERY_RESCORE,
    DEFAULT_QUERY_SEARCH_LIST_SIZE,
    DEFAULT_SEARCH_LIST_SIZE,
    MAX_DIMENSIONS,
    MAX_DIMENSIONS_PLAIN,
    DistanceType,
    IndexMeta,
    StorageType,
)

from pgvectorscale_spark.operators import routing
from pgvectorscale_spark.operators.index_util import (
    ConcurrentWriterError,
    window_topk,
    write_sidecar_atomic,
    writer_lock,
)

__all__ = ["DiskannIndex", "QueryStats", "ConcurrentWriterError"]


class QueryStats:
    """Per-query-batch counters (reference StreamingStats / amendscan DEBUG1
    log, scan.rs:119-160, :458-476; stats.rs:3-283), accumulator-backed.

    Pass an instance to ``search``/``search_batch``; counters populate when
    the returned DataFrame executes (Spark accumulators flow from the shard
    tasks to the driver with task completion, like the reference's stats
    flowing to the backend at scan end).
    """

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.candidates_scored = sc.accumulator(0)
        self.quantized_comparisons = sc.accumulator(0)
        self.rescored = sc.accumulator(0)
        self.shard_searches = sc.accumulator(0)
        self.cache_hits = sc.accumulator(0)  # executor shard-graph cache reuse

    def as_dict(self) -> dict[str, int]:
        return {
            "candidates_scored": self.candidates_scored.value,
            "quantized_comparisons": self.quantized_comparisons.value,
            "rescored": self.rescored.value,
            "shard_searches": self.shard_searches.value,
            "cache_hits": self.cache_hits.value,
        }

_NODE_SCHEMA = (
    "node_id long, shard int, vector array<float>, bq_code array<long>, "
    "labels array<smallint>, neighbors array<long>, is_default_start boolean, "
    "start_labels array<smallint>, deleted boolean"
)

_RESULT_SCHEMA = "query_id long, node_id long, distance double, rank integer"
# a probe's per-shard exact top candidates, before the window top-k
_CAND_SCHEMA = "query_id long, node_id long, distance double"


def _shard_token(meta: IndexMeta):
    """shard -> its executor cache token (build_id, the shard's mutation
    nonce, else the index's): a mutation rotates only its touched
    shards' nonces, so the other shards' executor caches stay hot."""
    build_id, base, muts = meta.build_id, meta.mutation_id, dict(meta.shard_mutations)
    return lambda shard: (build_id, muts.get(str(shard)) or base)


def _node_cols() -> list[str]:
    return [c.strip().split(" ")[0] for c in _NODE_SCHEMA.split(",")]


_FACTS_SCHEMA = "node_id long, _rid long, dims long, lo long, hi long"


def _batch_facts(pdf: pd.DataFrame) -> pd.DataFrame:
    """What the driver checks and dedupes a prepared insert batch
    (node_id, _rid, vector, labels) by, without its vectors: each row's
    vector length (-1 for a NULL vector) and its sorted label set's
    bounds."""
    labs = pdf["labels"].to_numpy()
    return pd.DataFrame(
        {
            "node_id": pdf["node_id"].to_numpy(dtype=np.int64),
            "_rid": pdf["_rid"].to_numpy(dtype=np.int64),
            "dims": [-1 if v is None else len(v) for v in pdf["vector"]],
            "lo": [l[0] if l is not None and len(l) else None for l in labs],
            "hi": [l[-1] if l is not None and len(l) else None for l in labs],
        }
    )


def _scan_batch(facts: pd.DataFrame, dims: int) -> tuple[list[int], pd.DataFrame]:
    """Check an insert batch by its ``_batch_facts`` and split it: (ids
    arriving with a NULL vector, the (node_id, _rid) of each id's first row
    with a vector, in batch order). Raises before anything is written — a
    mismatched vector would otherwise die deep in the executor as an opaque
    np.stack ragged-array error, and labels are smallint in the reference
    (labels/mod.rs), so out-of-range values must fail loudly, not silently
    cast to NULL (filtering_tests.rs test_label_size_bounds)."""
    facts = facts.sort_values("_rid", kind="stable")
    has = facts["dims"].to_numpy() >= 0
    null_ids = facts["node_id"][~has].tolist()
    f = facts[has]
    if len(f) and (f["dims"].min() != dims or f["dims"].max() != dims):
        raise ValueError(
            f"insert vectors have {f['dims'].min()}..{f['dims'].max()} dimensions; "
            f"index expects {dims}"
        )
    lo, hi = f["lo"].dropna(), f["hi"].dropna()
    if len(hi) and (hi.max() > 32767 or lo.min() < -32768):
        raise ValueError(
            f"label out of smallint range [-32768, 32767]: {int(lo.min())}..{int(hi.max())}"
        )
    return null_ids, f.drop_duplicates("node_id")[["node_id", "_rid"]]


def _route(pdf: pd.DataFrame, keep: np.ndarray, num_shards: int, route) -> pd.DataFrame:
    """The rows of a prepared insert batch chunk whose ``_rid`` is in
    ``keep`` (sorted), with their shard. Mirrors the build's assignment:
    hash shards from the id, or (``route`` = (ascending shard ids,
    centroids, distance type, upsert pins)) the build's kernel
    (similarity._nearest: same float64 fold, same ties), an upsert staying
    in the shard that already stores its id — re-routing a moved vector to
    its new nearest cell would leave a duplicate node_id behind in the old
    shard. Runs on the driver or on an executor alike."""
    pdf = pdf[np.isin(pdf["_rid"].to_numpy(), keep)].reset_index(drop=True)
    ids = pdf["node_id"].to_numpy(dtype=np.int64)
    if route is None:
        shard = spark_pmod_xxhash64(ids, num_shards)
    elif not len(pdf):
        shard = ids
    else:
        sids, cents, distance_type, pins = route
        mat = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
        near = _nearest(mat, sids, cents, distance_type)[0]
        pinned = pd.Series(ids).map(pins).fillna(-1).to_numpy(dtype=np.int64)
        shard = np.where(pinned >= 0, pinned, near)
    return pdf.assign(shard=shard.astype(np.int32))


_STATS_SCHEMA = "shard int, ids array<long>, vsum array<double>, labels array<long>"


def _shard_stats(rows: pd.DataFrame) -> pd.DataFrame:
    """One row per shard of a (node_id, shard[, vector][, labels]) frame:
    the ids it holds there, the float64 sum of their vectors and their
    distinct labels (None where the frame lacks the column)."""
    out = []
    vec = rows["vector"].to_numpy() if "vector" in rows else None
    labs = rows["labels"].to_numpy() if "labels" in rows else None
    for sh, at in rows.groupby("shard").indices.items():
        out.append(
            (
                int(sh),
                rows["node_id"].to_numpy(dtype=np.int64)[at],
                None if vec is None else np.stack(vec[at]).astype(np.float64).sum(axis=0),
                None if labs is None else sorted(
                    {int(l) for ls in labs[at] if ls is not None for l in ls}
                ),
            )
        )
    return pd.DataFrame(out, columns=["shard", "ids", "vsum", "labels"])


def _sum_stats(stats: pd.DataFrame) -> dict[int, list]:
    """``_shard_stats`` rows (from several tasks) merged per shard into
    [ids, vector sum, label set]."""
    out: dict[int, list] = {}
    for sh, ids, vsum, labels in stats[["shard", "ids", "vsum", "labels"]].values:
        acc = out.setdefault(int(sh), [[], 0.0, set()])
        acc[0] += [int(i) for i in ids]
        acc[1] = acc[1] + (0.0 if vsum is None else np.asarray(vsum, dtype=np.float64))
        acc[2].update(int(l) for l in (labels if labels is not None else ()))
    return out


_CORPUS_SCHEMA = (
    "n long, dims long, dmin long, dmax long, lo long, hi long, "
    "m_n long, m_sum array<double>, m_m2 array<double>, "
    "sample_ids array<long>, sample_vecs array<array<float>>"
)


_NO_FACTS = (0, None, None, None, None, None, 0, None, None, [], [])


def _chunk_facts(pdf: pd.DataFrame, moments: bool, sample: int) -> tuple:
    """Facts about a non-empty batch of a build's normalized corpus
    (node_id, vector, labels array<long>), as a ``_CORPUS_SCHEMA`` row:
    the row count; the first row's vector length and the length range;
    the label bounds; with ``moments`` and one vector length, the
    per-dimension count, sum and central second moment (SBQ training);
    and the ``sample`` rows first in (xxhash64(node_id), node_id) order
    (the routing-curve queries)."""
    ids = pdf["node_id"].to_numpy(dtype=np.int64)
    vec = pdf["vector"].to_numpy()
    lens = np.fromiter((len(v) for v in vec), np.int64, len(vec))
    lo = hi = None
    labs = [x for x in pdf["labels"] if x is not None and len(x)]
    if labs:
        # each label set is sorted: its ends are its bounds
        lo, hi = min(int(x[0]) for x in labs), max(int(x[-1]) for x in labs)
    m = (0, None, None)
    if moments and lens.min() == lens.max():
        mat = np.stack(vec).astype(np.float64)
        b_sum = mat.sum(axis=0)
        m = (len(mat), b_sum, ((mat - b_sum / len(mat)) ** 2).sum(axis=0))
    keep = np.lexsort((ids, spark_xxhash64_long(ids)))[:sample]
    return (
        len(pdf), int(lens[0]), int(lens.min()), int(lens.max()), lo, hi, *m,
        ids[keep].tolist(), [vec[i].tolist() for i in keep],
    )


def _corpus_facts(batches, moments: bool, sample: int):
    """One ``_chunk_facts`` row for a whole partition."""
    facts = functools.reduce(
        lambda a, b: _merge_facts(a, b, sample),
        (_chunk_facts(pdf, moments, sample) for pdf in batches if len(pdf)),
        _NO_FACTS,
    )
    yield pd.DataFrame([facts], columns=[c.split()[0] for c in _CORPUS_SCHEMA.split(", ")])


def _scan_corpus(base: DataFrame, moments: bool, sample: int) -> dict:
    """``_corpus_facts`` over every partition (one Spark job), merged on
    the driver in task order: n, dims (the first row's), dmin/dmax, lo/hi
    (None without labels), sample as (ids, float64 matrix) or None,
    moments as (count, float64 sum, float64 central second moment) or
    None. Each task returns O(dims) values: its moments and at most
    ``sample`` rows."""
    rows = base.mapInPandas(
        lambda it: _corpus_facts(it, moments, sample), schema=_CORPUS_SCHEMA
    ).collect()
    n, dims, dmin, dmax, lo, hi, m_n, m_sum, m_m2, s_ids, s_vecs = functools.reduce(
        lambda a, b: _merge_facts(a, b, sample), map(tuple, rows), _NO_FACTS
    )
    out = {
        "n": n,
        "dims": int(dims) if n else 0,
        "dmin": int(dmin) if n else 0,
        "dmax": int(dmax) if n else 0,
        "lo": lo,
        "hi": hi,
        "sample": None,
        "moments": None,
    }
    if sample:
        out["sample"] = np.array(s_ids, dtype=np.int64), np.array(s_vecs, dtype=np.float64)
    if moments and n and dmin == dmax:
        out["moments"] = (m_n, np.asarray(m_sum), np.asarray(m_m2))
    return out


def _merge_facts(a: tuple, b: tuple, sample: int) -> tuple:
    """Two ``_chunk_facts`` rows as one, ``a``'s rows first: moments merge
    only while every vector has one length, as Chan's formula needs."""
    if not a[0]:
        return b
    if not b[0]:
        return a
    (a_n, dims, a_dmin, a_dmax, a_lo, a_hi, *a_m, a_ids, a_vecs) = a
    (b_n, _, b_dmin, b_dmax, b_lo, b_hi, *b_m, b_ids, b_vecs) = b
    dmin, dmax = min(a_dmin, b_dmin), max(a_dmax, b_dmax)
    m = (0, None, None)
    if dmin == dmax:
        m = _merge_moments(
            *[(m_n, None if x is None else np.asarray(x), None if y is None else np.asarray(y))
              for m_n, x, y in (a_m, b_m)]
        )
    ids = np.asarray(list(a_ids) + list(b_ids), dtype=np.int64)
    vecs = list(a_vecs) + list(b_vecs)
    keep = np.lexsort((ids, spark_xxhash64_long(ids)))[:sample]
    return (
        a_n + b_n,
        dims,
        dmin,
        dmax,
        min((x for x in (a_lo, b_lo) if x is not None), default=None),
        max((x for x in (a_hi, b_hi) if x is not None), default=None),
        *m,
        ids[keep].tolist(),
        [vecs[i] for i in keep],
    )


def _merge_moments(a: tuple, b: tuple) -> tuple:
    """(count, sum, central second moment) of two row sets combined —
    Chan et al.'s parallel update, the merge Spark's var_pop uses."""
    (a_n, a_sum, a_m2), (b_n, b_sum, b_m2) = a, b
    if not a_n:
        return b
    if not b_n:
        return a
    delta = b_sum / b_n - a_sum / a_n
    return (
        a_n + b_n,
        a_sum + b_sum,
        a_m2 + b_m2 + delta * delta * (a_n * b_n / (a_n + b_n)),
    )


def _shard_totals(nodes: DataFrame, num_shards: int, dims: int, budget: int) -> dict[int, tuple]:
    """Per shard of a (node_id, shard, vector, labels) frame, in one Spark
    job: (row count, float64 vector sum, sorted distinct labels). The
    routing sidecar's sufficient statistics, the skew cap's counts and the
    label sidecar's pairs. Each task returns at most ``num_shards`` rows,
    and the pass runs in few enough tasks that their vector sums stay
    within ``budget`` bytes (``similarity._within_budget``)."""
    from pgvectorscale_spark.operators.similarity import _within_budget

    def totals(batches):
        acc: dict[int, tuple] = {}
        for pdf in batches:
            for sh, ids, vsum, labels in _shard_stats(pdf).itertuples(index=False):
                acc[sh] = _merge_totals(acc[sh], (len(ids), vsum, labels)) if sh in acc else (
                    len(ids), vsum, labels
                )
        yield pd.DataFrame(
            [(sh, *t) for sh, t in acc.items()], columns=["shard", "n", "vsum", "labels"]
        )

    nodes = _within_budget(
        nodes.select("node_id", "shard", "vector", "labels"), num_shards * (dims + 1) * 8, budget
    )
    out: dict[int, tuple] = {}
    for r in nodes.mapInPandas(
        totals, schema="shard int, n long, vsum array<double>, labels array<long>"
    ).collect():
        t = (int(r["n"]), np.asarray(r["vsum"], dtype=np.float64), r["labels"] or [])
        out[int(r["shard"])] = _merge_totals(out[int(r["shard"])], t) if r["shard"] in out else t
    return {s: (cnt, vsum, [int(l) for l in labels]) for s, (cnt, vsum, labels) in out.items()}


def _merge_totals(a: tuple, b: tuple) -> tuple:
    """Two (count, vector sum, sorted labels) totals of one shard added up."""
    return (
        a[0] + b[0],
        np.add(a[1], b[1]),
        sorted({int(l) for l in a[2] or ()} | {int(l) for l in b[2] or ()}),
    )


def _routing_rows_of(totals: dict[int, tuple]) -> list[tuple]:
    """``_shard_totals`` as routing sidecar rows (shard, centroid, count,
    vsum): centroid = float32(vsum / count)."""
    return [
        (s, (vsum / cnt).astype(np.float32).tolist(), cnt, vsum.tolist())
        for s, (cnt, vsum, _) in sorted(totals.items())
    ]


def _label_pairs_of(totals: dict[int, tuple]) -> set[tuple[int, int]]:
    """``_shard_totals`` as distinct (shard, label) pairs."""
    return {(s, l) for s, (_, _, labels) in totals.items() for l in labels}


def _new_node_rows(routed: pd.DataFrame) -> pd.DataFrame:
    """Routed batch rows as node rows awaiting their graph insert. Labels
    become lists of Python ints: without Arrow, ``createDataFrame`` checks
    each element against smallint and refuses numpy scalars."""
    labels = [None if x is None else [int(v) for v in x] for x in routed["labels"]]
    return routed.assign(
        labels=labels, bq_code=None, neighbors=None, is_default_start=None,
        start_labels=None, deleted=False,
    )[_node_cols()]


def _conf_knob(spark: SparkSession, name: str, fallback: int) -> int:
    """Session-level query knob: `spark.conf.set("spark.pgvectorscale.<name>", v)`
    — the GUC analog (`SET diskann.query_search_list_size / query_rescore`,
    guc.rs:3-4). Explicit call kwargs always win; the conf supplies the
    session default; the reference default is the floor."""
    try:
        return int(spark.conf.get(f"spark.pgvectorscale.{name}"))
    except Exception:  # unset or non-integer -> reference default
        return fallback


def _validate_label_bounds(src: DataFrame, label_col: str) -> None:
    """Labels are smallint in the reference (labels/mod.rs); out-of-range
    values must fail loudly, not silently cast to NULL (filtering_tests.rs
    test_label_size_bounds)."""
    bounds = src.agg(
        F.min(F.array_min(F.col(label_col))).alias("lo"),
        F.max(F.array_max(F.col(label_col))).alias("hi"),
    ).first()
    if bounds["hi"] is not None and (int(bounds["hi"]) > 32767 or int(bounds["lo"]) < -32768):
        raise ValueError(
            f"label out of smallint range [-32768, 32767]: {bounds['lo']}..{bounds['hi']}"
        )


def _label_set(label_col: str | None):
    """A row's label set as a sorted array<long>: NULL labels / NULL
    elements → empty set (labels/mod.rs:188-204); no label column → NULL."""
    if label_col is None:
        return F.lit(None).cast("array<long>")
    labels = F.coalesce(F.col(label_col).cast("array<long>"), F.array().cast("array<long>"))
    return F.array_sort(F.array_distinct(F.filter(labels, lambda x: x.isNotNull())))


def _to_frozenset(x) -> frozenset | None:
    if x is None:
        return None
    s = frozenset(int(v) for v in x if v is not None)
    return s or None


def _local_adjacency(neighbors: pd.Series, gids: np.ndarray) -> list[list[int]]:
    """Stored neighbor ids -> local slots in the ascending ``gids``, as
    Python-int lists in stored order. Ids outside the shard are dropped; a
    None row is empty. One searchsorted over every edge of the shard."""
    rows = [() if r is None else r for r in neighbors]
    lens = np.fromiter((len(r) for r in rows), dtype=np.int64, count=len(rows))
    if not lens.sum():
        return [[] for _ in rows]
    flat = np.concatenate([np.asarray(r, dtype=np.int64) for r in rows if len(r)])
    # side="right" - 1: the last slot of an id, as a {gid: slot} dict gives
    slot = np.searchsorted(gids, flat, side="right") - 1
    hit = slot >= 0
    hit[hit] = gids[slot[hit]] == flat[hit]
    kept = slot[hit].tolist()
    row_of = np.repeat(np.arange(len(rows)), lens)
    ends = np.cumsum(np.bincount(row_of[hit], minlength=len(rows))).tolist()
    return [kept[a:b] for a, b in zip([0] + ends[:-1], ends)]


def _graph_from_pdf(pdf: pd.DataFrame, meta: dict, quantizer_state) -> tuple[VamanaGraph, np.ndarray]:
    """Rehydrate a shard's VamanaGraph from node-table rows.

    ``pdf`` may omit the ``vector`` column (codes-only serving under SBQ —
    the walk runs on Hamming distance; full-precision rescore happens
    JVM-side after the walk). The graph then carries an (n, 0) matrix."""
    pdf = pdf.sort_values("node_id").reset_index(drop=True)
    gids = pdf["node_id"].to_numpy()
    if "vector" in pdf.columns:
        mat = np.stack(pdf["vector"].to_numpy()).astype(np.float32)
    else:
        mat = np.zeros((len(pdf), 0), dtype=np.float32)
    # fall back to num_dimensions (not mat width) so codes-only rehydration
    # still quantizes queries over the full indexed prefix
    d_index = meta["num_dimensions_to_index"] or meta["num_dimensions"] or mat.shape[1]
    walk_mat = mat[:, :d_index]
    codes = None
    quantize_fn = None
    if meta["storage_type"] == StorageType.SBQ.value:
        codes = np.stack(
            pdf["bq_code"].map(lambda c: np.array(c, dtype=np.int64)).to_numpy()
        ).view(np.uint64)
        means, variances, bits = quantizer_state
        local_q = SbqQuantizer(means, variances, bits)
        quantize_fn = lambda v: local_q.quantize(v[:d_index])  # noqa: E731
    labels = None
    if meta["has_labels"]:
        labels = [_to_frozenset(x) for x in pdf["labels"]]
    g = VamanaGraph(
        walk_mat,
        distance_type=meta["distance_type"],
        num_neighbors=meta["num_neighbors"],
        search_list_size=meta["search_list_size"],
        max_alpha=meta["max_alpha"],
        labels=labels,
        codes=codes,
        adjacency=_local_adjacency(pdf["neighbors"], gids),
        quantize_fn=quantize_fn,
        ids=gids,  # G9 ties on global ids: grow() parity with rehydration
    )
    dflt = pdf.index[pdf["is_default_start"].eq(True)].tolist()
    if dflt:
        g.start_default = int(dflt[0])
    for i, sl in enumerate(pdf["start_labels"]):
        if sl is not None:
            for l in sl:
                g.start_by_label.setdefault(int(l), i)
    return g, gids


def _emit_nodes(pdf: pd.DataFrame, g: VamanaGraph, gids: np.ndarray) -> pd.DataFrame:
    """Serialize a built/updated shard graph back to node-table rows."""
    n = len(gids)
    neighbors = [[int(gids[v]) for v in g.adj[i]] for i in range(n)]
    is_start = [bool(g.start_default == i) for i in range(n)]
    start_labels: list[list[int] | None] = [None] * n
    for l, i in g.start_by_label.items():
        if start_labels[i] is None:
            start_labels[i] = []
        start_labels[i].append(int(l))
    out = pdf.copy()
    out["neighbors"] = neighbors
    out["is_default_start"] = is_start
    out["start_labels"] = [sorted(s) if s else None for s in start_labels]
    return out


# Executor-side shard-graph cache (process-level; Python workers are reused
# across tasks with spark.python.worker.reuse=true, the default). A query
# batch therefore rehydrates each shard graph ONCE PER EXECUTOR PROCESS, not
# once per batch — the analog of the reference keeping index pages hot in
# shared_buffers across scans. Keyed by (path, shard, build_id, mutation_id):
# every committed mutation installs a fresh random nonce, rebuilds mint a
# fresh build_id, so stale (or never-committed) entries are never served —
# even after an out-of-band directory wipe, and even when a mutation job
# fails after pre-populating some workers.
# Eviction is last-access LRU under a byte budget (plain-storage entries pin
# full-precision matrices, so an entry-count cap alone leaves memory use
# unbounded in bytes) plus an entry-count backstop.
_SHARD_GRAPH_CACHE: OrderedDict[tuple, tuple] = OrderedDict()
_SHARD_GRAPH_CACHE_CAP = 256
_SHARD_GRAPH_CACHE_MAX_BYTES = int(
    os.environ.get("PGVS_SHARD_CACHE_BYTES", 8 << 30)  # 8 GiB per worker proc
)


def _entry_nbytes(g, gids: np.ndarray, dead: np.ndarray, fullmat) -> int:
    total = int(gids.nbytes) + int(dead.nbytes) + 512  # tuple/dict overhead
    if fullmat is not None:
        total += int(fullmat.nbytes)
    if g is not None:
        total += int(g.mat.nbytes)
        if g.codes is not None:
            total += int(g.codes.nbytes)
        # adjacency lists hold boxed Python ints: ~32 bytes per edge
        total += 32 * sum(len(a) for a in g.adj)
        total += g.walk_nbytes()
    return total


def _cache_put(key: tuple, entry: tuple, nbytes: int) -> None:
    _SHARD_GRAPH_CACHE[key] = (*entry, nbytes)
    _SHARD_GRAPH_CACHE.move_to_end(key)
    used = sum(e[-1] for e in _SHARD_GRAPH_CACHE.values())
    while _SHARD_GRAPH_CACHE and (
        len(_SHARD_GRAPH_CACHE) > _SHARD_GRAPH_CACHE_CAP
        or used > _SHARD_GRAPH_CACHE_MAX_BYTES
    ):
        old_key, old = _SHARD_GRAPH_CACHE.popitem(last=False)
        if old_key == key:  # never evict the entry just inserted
            _SHARD_GRAPH_CACHE[key] = old
            break
        used -= old[-1]


def _stage1_columns(meta_d: dict) -> list[str]:
    """Columns the shard probe actually reads. Under SBQ the walk runs on
    quantized codes, so per-batch probe I/O is O(codes + adjacency) — the
    full-precision ``vector`` column is fetched only by the JVM rescore join
    (the reference reads only visited nodes' pages: sbq/storage.rs:125-230;
    we go further and keep vectors out of the walk entirely)."""
    cols = [
        "node_id", "bq_code", "neighbors", "labels",
        "is_default_start", "start_labels", "deleted",
    ]
    if meta_d["storage_type"] != StorageType.SBQ.value:
        cols.insert(1, "vector")  # plain layout: the walk itself is exact
    return cols


# single protocol-wide class (index_util defines it; the Spark-view path
# in snapshot_base_dirs raises the same type, so catchers need one except)
from pgvectorscale_spark.operators.index_util import StaleIndexReadError  # noqa: E402,F401 (re-export)


def _as_store(store) -> tuple[str, tuple, dict]:
    """Normalize the node-store handle to
    ``(base_dir, delta_dirs, shard_overrides)``:

    - ``base_dir``: absolute dir of the current base generation
      (``<base_dir>/shard=K`` unless overridden),
    - ``delta_dirs``: absolute dirs of the committed delta chain in commit
      order (each holds ``shard=K`` subdirs for the shards it touched),
    - ``shard_overrides``: shard (str) -> absolute dir of that shard's
      folded base partition (supersedes ``base_dir`` for that shard).

    Callers may pass a bare ``nodes_dir`` string (base-only read — what a
    freshly built index is) or a legacy ``(nodes_dir, delta_dir, n)``
    triple naming chain dirs ``seq=1..n``."""
    if isinstance(store, str):
        return store, (), {}
    if len(store) == 3 and isinstance(store[2], int):
        nodes_dir, delta_dir, n = store
        return (
            nodes_dir,
            tuple(os.path.join(delta_dir, f"seq={k}") for k in range(1, int(n) + 1)),
            {},
        )
    return store


def _read_shard_pdf(
    store, shard: int, columns: list[str], ids: np.ndarray | None = None
) -> pd.DataFrame:
    """Merged executor-local read of one shard: base partition + the
    committed delta chain, LATEST generation wins per node_id — the
    merge-on-read half of the base+delta sink (the reference's aminsert
    writes only touched pages, build.rs:537-558; here a micro-batch writes
    only its changed rows and this read reassembles the current shard).

    ``ids`` pushes a node_id filter into every fragment (row-group pruning,
    the visited-only page-read analog). A missing ``shard=K`` subdir under
    a parent that EXISTS is legitimate (never-populated kmeans cell; a
    mutation that didn't touch this shard); a missing PARENT dir — or a
    missing per-shard override dir, which a fold always populates — means
    this reader's meta snapshot predates a sweep and must raise
    (StaleIndexReadError), since reassembling from the surviving dirs
    would silently serve a pre-mutation or empty shard. A TRANSIENT error
    on an existing dir must also raise — treating it as empty would serve
    a partial index or let an insert overwrite the shard with only its
    batch."""
    import pyarrow.dataset as pads

    filt = None
    if ids is not None:
        import pyarrow as pa
        import pyarrow.compute as pc

        filt = pc.field("node_id").isin(pa.array(np.asarray(ids, dtype=np.int64)))
    nodes_dir, delta_dirs, shard_overrides = _as_store(store)
    frames: list[tuple[int, pd.DataFrame]] = []
    override = shard_overrides.get(str(int(shard)))
    # (gen, shard dir, parent whose absence proves staleness). For the
    # override the shard dir itself is the staleness sentinel.
    dirs = [(0, override, None)] if override is not None else [
        (0, os.path.join(nodes_dir, f"shard={shard}"), nodes_dir)
    ]
    dirs += [
        (k, os.path.join(d, f"shard={shard}"), d)
        for k, d in enumerate(delta_dirs, start=1)
    ]
    for k, d, parent in dirs:
        try:
            t = pads.dataset(d, format="parquet").to_table(columns=columns, filter=filt)
            frames.append((k, t.to_pandas()))
        except (FileNotFoundError, OSError):
            if not _shard_dir_missing(d):
                raise
            if parent is None or _shard_dir_missing(parent):
                raise StaleIndexReadError(
                    f"{d} is gone: this reader's index meta predates a "
                    "fold/rebuild sweep — reload the index and retry"
                ) from None
            # the parent survives, but a swept marker means this shard
            # EXISTED here and was folded away after this reader's meta —
            # without the marker, 'missing subdir under a live parent' is
            # indistinguishable from a never-populated cell and a 2+-cycle
            # stale reader would silently serve an empty shard
            if k == 0 and _swept_marker_present(d):
                raise StaleIndexReadError(
                    f"{d} was folded away and reclaimed: this reader's "
                    "index meta predates the fold — reload the index and "
                    "retry"
                ) from None
    if not frames:
        return pd.DataFrame(
            {
                c: pd.Series([], dtype="int64" if c == "node_id" else "object")
                for c in columns
            }
        )
    if len(frames) == 1:
        return frames[0][1]
    parts = []
    for k, f in frames:
        f = f.copy()
        f["_seq"] = k
        parts.append(f)
    merged = pd.concat(parts, ignore_index=True)
    merged = (
        merged.sort_values(["node_id", "_seq"], kind="stable")
        .drop_duplicates("node_id", keep="last")
        .drop(columns=["_seq"])
        .reset_index(drop=True)
    )
    return merged


def _load_shard_graph(
    store, shard: int, token: tuple, meta_d: dict, quantizer_state
) -> tuple[VamanaGraph, np.ndarray, np.ndarray, np.ndarray | None, bool]:
    """Load (or reuse) a shard's graph from its base+delta partitions.

    Reads bypass Spark's scan: the worker pulls just the projected columns
    with pyarrow from ``<nodes_dir>/shard=<s>`` plus the delta chain (works
    on any pyarrow-supported filesystem — local, HDFS, S3). ``token`` is the
    index's (build_id, mutation_id) cache-freshness pair. Returns (graph,
    global_ids, deleted_mask, full_matrix_or_None, cache_hit). The
    full-precision matrix is resident only for plain storage (where the
    walk needs it anyway); under SBQ the cache stays O(codes + adjacency)."""
    nodes_dir = _as_store(store)[0]
    key = (nodes_dir, int(shard), token)
    hit = _SHARD_GRAPH_CACHE.get(key)
    if hit is not None:
        _SHARD_GRAPH_CACHE.move_to_end(key)
        return hit[0], hit[1], hit[2], hit[3], True
    pdf = _read_shard_pdf(store, shard, _stage1_columns(meta_d))
    if not len(pdf):
        empty = (None, np.array([], dtype=np.int64), np.array([], dtype=bool), None)
        _cache_put(key, empty, _entry_nbytes(None, empty[1], empty[2], None))
        return empty[0], empty[1], empty[2], empty[3], False
    pdf = pdf.sort_values("node_id").reset_index(drop=True)
    g, gids = _graph_from_pdf(pdf, meta_d, quantizer_state)
    dead = pdf["deleted"].fillna(False).to_numpy(dtype=bool)
    fullmat = None
    if "vector" in pdf.columns:
        fullmat = np.stack(pdf["vector"].to_numpy()).astype(np.float32)
    _cache_put(key, (g, gids, dead, fullmat), _entry_nbytes(g, gids, dead, fullmat))
    return g, gids, dead, fullmat, False


def _swept_marker_present(shard_dir: str) -> bool:
    """True iff a fold sweep left its marker for this partition subdir
    (index_util.swept_marker_path) — the executor-side staleness probe."""
    from pgvectorscale_spark.operators.index_util import file_exists, swept_marker_path

    return file_exists(swept_marker_path(shard_dir))


def _shard_dir_missing(shard_dir: str) -> bool:
    """True iff the shard partition directory genuinely does not exist.

    Load paths must distinguish 'never populated' (legitimate: empty kmeans
    cell — substitute an empty frame) from 'exists but unreadable'
    (transient I/O error — MUST raise: treating it as empty would serve
    partial results, or worse let an insert overwrite the shard with only
    its batch). One metadata call on the dataset's own filesystem, so the
    probe works on any pyarrow-supported store, not just local paths."""
    from pyarrow import fs as pafs

    try:
        if "://" in shard_dir:
            fsys, p = pafs.FileSystem.from_uri(shard_dir)
        else:
            fsys, p = pafs.LocalFileSystem(), shard_dir
        return fsys.get_file_info(p).type == pafs.FileType.NotFound
    except Exception:
        # the probe itself failing is an I/O problem, not a missing shard
        return False


def _clear_delta_dirs(path: str) -> None:
    import shutil

    from pgvectorscale_spark.operators.index_util import delete_dir

    shutil.rmtree(os.path.join(path, "nodes_delta"), ignore_errors=True)
    delete_dir(os.path.join(path, "nodes_delta"))  # remote-capable twin


def _prepare_rebuild(path: str) -> tuple[str, list[str], int, int]:
    from pgvectorscale_spark.operators.index_util import prepare_rebuild

    return prepare_rebuild(path)


def _empty_nodes_pdf() -> pd.DataFrame:
    """Schema-typed empty node frame (first rows routed to a never-populated
    shard, e.g. an empty kmeans cell): node_id/shard keep integer dtypes so
    the concat with the batch never upcasts ids to object."""
    data: dict[str, pd.Series] = {}
    for c in _node_cols():
        if c == "node_id":
            data[c] = pd.Series([], dtype="int64")
        elif c == "shard":
            data[c] = pd.Series([], dtype="int32")
        else:
            data[c] = pd.Series([], dtype="object")
    return pd.DataFrame(data)


def _insert_shard_cold(
    pdf: pd.DataFrame, store, shard: int, meta_d: dict, qstate
) -> tuple[pd.DataFrame, tuple]:
    """Cold-path micro-batch insert: merge the batch with the stored shard
    (read executor-locally with pyarrow — the corpus never moves through a
    shuffle), rehydrate the graph, run the insert algorithm, emit ONLY the
    rows the batch changed (batch rows + back-edge-touched neighbors) for
    the delta sink. Returns (changed rows, cache entry (g, gids, dead,
    fullmat))."""
    existing = _read_shard_pdf(
        store, shard, [c for c in _node_cols() if c != "shard"]
    )
    if len(existing):
        existing = existing.copy()
        existing["shard"] = shard
    else:
        # first rows ever routed to this shard (e.g. an empty kmeans cell)
        existing = _empty_nodes_pdf()
    pdf = pd.concat([existing[_node_cols()], pdf[_node_cols()]], ignore_index=True)
    # upsert: a re-inserted node_id replaces its stored row (the
    # reference's UPDATE churn = delete+insert, build.rs:1613-1698;
    # also makes replayed streaming micro-batches idempotent).
    # Stale edges pointing at the id now reach the new vector —
    # the same staleness a tombstone's surviving edges have.
    incoming = pdf["neighbors"].isna()
    replaced = pdf["node_id"].isin(pdf.loc[incoming, "node_id"]) & ~incoming
    # When the replaced row is a start node, its flags must survive
    # on the upserted row — otherwise the rehydrated graph has no
    # start_default, the first new node becomes a fresh start with an
    # empty adjacency list, and the whole pre-existing shard graph
    # goes unreachable (recall collapse until compact()). We also
    # seed the upsert with the old adjacency so its re-insert walk
    # (and any sibling inserts entering through it) can still reach
    # the graph; robust_prune rewrites the list right after.
    repl = pdf.loc[replaced].drop_duplicates("node_id").set_index("node_id")
    pdf = pdf[~replaced]
    pdf = pdf.copy()
    pdf["_new"] = incoming[pdf.index]
    if len(repl):
        # NOTE: list-valued cells must be replaced column-wise — a
        # pandas .at assignment of a list/array broadcasts instead
        # of storing the object.
        start_flag, start_lab, neigh = {}, {}, {}
        for ridx in pdf.index[pdf["_new"]]:
            nid = int(pdf.at[ridx, "node_id"])
            if nid not in repl.index:
                continue
            old = repl.loc[nid]
            if bool(old["is_default_start"]):
                start_flag[ridx] = True
            if old["start_labels"] is not None:
                start_lab[ridx] = list(old["start_labels"])
            if old["neighbors"] is not None:
                neigh[ridx] = list(old["neighbors"])
        if start_flag:
            pdf["is_default_start"] = [
                start_flag.get(i, v) for i, v in zip(pdf.index, pdf["is_default_start"])
            ]
        if start_lab:
            pdf["start_labels"] = [
                start_lab.get(i, v) for i, v in zip(pdf.index, pdf["start_labels"])
            ]
        if neigh:
            pdf["neighbors"] = [
                neigh.get(i, v) for i, v in zip(pdf.index, pdf["neighbors"])
            ]
    pdf = pdf.sort_values("node_id").reset_index(drop=True)
    new_mask = pdf["_new"]
    pdf = pdf.drop(columns=["_new"])
    new_ids = sorted(int(x) for x in pdf.loc[new_mask, "node_id"])
    # quantize new rows (existing rows keep their stored codes)
    if meta_d["storage_type"] == StorageType.SBQ.value and new_mask.any():
        means, variances, bits = qstate
        lq = SbqQuantizer(means, variances, bits)
        d_index = meta_d["num_dimensions_to_index"]
        for ridx in pdf.index[new_mask]:
            v = np.asarray(pdf.at[ridx, "vector"], dtype=np.float64)
            if d_index:
                v = v[:d_index]
            pdf.at[ridx, "bq_code"] = lq.quantize(v).view(np.int64).tolist()
    pdf["neighbors"] = pdf["neighbors"].map(lambda x: [] if x is None else x)
    g, gids = _graph_from_pdf(pdf, meta_d, qstate)
    pos = {int(gid): i for i, gid in enumerate(gids)}
    # dirty tracking from here: upserted rows were already rewritten at the
    # pdf level above, and each is re-inserted below (insert marks it);
    # back-edge-touched neighbors get marked by the walk itself
    g.dirty = set(pos[nid] for nid in new_ids)
    for nid in new_ids:
        g.insert(pos[nid])
    # NO finalize-to-R here: the reference's aminsert stores neighbor lists
    # with the R·1.3 slack and prunes only on overflow (build.rs:464-558);
    # the enforce-R pass belongs to index build/compact (build.rs:905-960).
    # Re-pruning every back-edge-touched node per micro-batch was ~60% of
    # insert CPU for zero recall benefit.
    dirty = sorted(g.dirty)
    g.dirty = None
    pdf["deleted"] = [bool(x) if x is not None and x == x else False for x in pdf["deleted"]]
    # emit ONLY the changed rows (delta sink): row i of the node_id-sorted
    # pdf IS local index i, so the dirty set slices positionally
    out = _emit_nodes(pdf, g, gids).iloc[dirty].reset_index(drop=True)
    dead = pdf["deleted"].fillna(False).to_numpy(dtype=bool)
    fullmat = None
    if meta_d["storage_type"] != StorageType.SBQ.value:
        fullmat = np.stack(pdf["vector"].to_numpy()).astype(np.float32)
    else:
        # serving graphs under SBQ are codes-only: drop the walk
        # matrix so the cached entry stays O(codes + adjacency)
        g.mat = np.zeros((g.n, 0), dtype=np.float32)
        g._sqnorms = None
    return out, (g, gids, dead, fullmat)


def _insert_shard_warm(
    entry: tuple, pdf: pd.DataFrame, store, shard: int, meta_d: dict, qstate
) -> tuple[pd.DataFrame, tuple]:
    """Warm-path micro-batch insert: GROW the cached shard graph in place —
    append the batch's codes/adjacency, overwrite upserted rows, run the
    normal per-row insert walks — so per-batch CPU is O(batch · walk), not
    O(shard) rehydration (the round-3 scale gap). Global-id tie-breaking
    makes the grown graph bit-identical to a freshly rehydrated node_id-
    sorted one, so warm and cold paths emit identical node rows.

    Emits ONLY the rows the batch changed (batch rows + back-edge-touched
    neighbors, via the graph's dirty tracking) for the delta sink — both
    the CPU and the bytes written are O(batch · walk); payloads not
    resident in the cache entry (full-precision vectors under SBQ, stored
    label arrays) are fetched for JUST the dirty rows with a node_id-
    filtered executor-local read."""
    g, gids, dead, fullmat = entry
    d_index = meta_d["num_dimensions_to_index"] or meta_d["num_dimensions"]
    width = g.mat.shape[1]  # walk width: 0 under SBQ (codes-only graph)
    quantizer = None
    if meta_d["storage_type"] == StorageType.SBQ.value:
        means, variances, bits = qstate
        quantizer = SbqQuantizer(means, variances, bits)
    pos = {int(x): i for i, x in enumerate(gids)}
    batch = pdf.sort_values("node_id").reset_index(drop=True)
    g.dirty = set()  # record every row whose persisted form changes
    bvec: dict[int, object] = {}
    blab: dict[int, object] = {}
    new_ids, new_rows, new_full, new_codes, new_labels = [], [], [], [], []
    targets: dict[int, int] = {}  # node_id -> local index to insert
    for r in batch.itertuples(index=False):
        nid = int(r.node_id)
        vec = np.asarray(r.vector, dtype=np.float64)
        code = quantizer.quantize(vec[:d_index]) if quantizer is not None else None
        lab = _to_frozenset(r.labels) if meta_d["has_labels"] else None
        bvec[nid] = r.vector
        blab[nid] = r.labels
        li = pos.get(nid)
        if li is not None:
            # upsert: overwrite payload in place; old adjacency and start
            # flags survive (same as the cold merge) until insert re-prunes
            g.replace(li, vec, code, lab)
            dead[li] = False
            if fullmat is not None:
                fullmat[li] = vec.astype(np.float32)
            targets[nid] = li
        else:
            new_ids.append(nid)
            new_rows.append(vec[:width].astype(np.float32))
            new_full.append(vec.astype(np.float32))
            if code is not None:
                new_codes.append(code)
            new_labels.append(lab)
    if new_ids:
        ids_arr = np.array(new_ids, dtype=np.int64)
        new_local = g.grow(
            np.stack(new_rows) if width else np.zeros((len(new_ids), 0), dtype=np.float32),
            ids_arr,
            codes=np.stack(new_codes) if g.codes is not None else None,
            labels=new_labels if g.labels is not None else None,
        )
        gids = np.concatenate([gids, ids_arr])
        dead = np.concatenate([dead, np.zeros(len(new_ids), dtype=bool)])
        if fullmat is not None:
            fullmat = np.vstack([fullmat, np.stack(new_full)])
        targets.update(zip(new_ids, new_local))
    for nid in sorted(targets):  # same order as the cold path's new_ids loop
        g.insert(targets[nid])
    # no finalize-to-R: inserts persist with the R·1.3 slack, like the
    # reference's aminsert (see _insert_shard_cold); compact() re-prunes
    dirty = sorted(g.dirty)
    g.dirty = None

    # emit ONLY the dirty rows. Payloads resident in the cache entry (codes,
    # plain-storage fullmat) come from it; anything else (full-precision
    # vectors under SBQ, stored label arrays) is fetched for just the dirty
    # non-batch rows with a node_id-filtered read — O(dirty), not O(shard).
    slab: dict[int, object] = {}
    svec: dict[int, object] = {}
    need_cols = [] if fullmat is not None else ["vector"]
    if meta_d["has_labels"]:
        need_cols.append("labels")
    fetch_ids = [int(gids[i]) for i in dirty if int(gids[i]) not in bvec]
    if need_cols and fetch_ids:
        st = _read_shard_pdf(
            store, shard, ["node_id"] + need_cols, ids=np.array(fetch_ids, dtype=np.int64)
        )
        sids = st["node_id"].astype("int64")
        if "labels" in need_cols:
            slab = dict(zip(sids, st["labels"]))
        if "vector" in need_cols:
            svec = dict(zip(sids, st["vector"]))
    n_d = len(dirty)
    if fullmat is not None:
        vectors = [fullmat[i] for i in dirty]
    else:
        vectors = [
            bvec[int(gids[i])] if int(gids[i]) in bvec else svec[int(gids[i])]
            for i in dirty
        ]
    if meta_d["has_labels"]:
        labels_col = [
            blab[int(gids[i])] if int(gids[i]) in blab else slab.get(int(gids[i]))
            for i in dirty
        ]
    else:
        labels_col = [None] * n_d
    start_labels: dict[int, list[int]] = {}
    for l, i in g.start_by_label.items():
        start_labels.setdefault(i, []).append(int(l))
    out = pd.DataFrame(
        {
            "node_id": pd.Series([int(gids[i]) for i in dirty], dtype="int64"),
            "shard": np.full(n_d, shard, dtype="int32"),
            "vector": vectors,
            "bq_code": (
                [g.codes[i].view(np.int64).tolist() for i in dirty]
                if g.codes is not None
                else [None] * n_d
            ),
            "labels": labels_col,
            "neighbors": [[int(gids[v]) for v in g.adj[i]] for i in dirty],
            "is_default_start": [bool(g.start_default == i) for i in dirty],
            "start_labels": [
                sorted(start_labels[i]) if i in start_labels else None for i in dirty
            ],
            "deleted": [bool(dead[i]) for i in dirty],
        }
    )[_node_cols()]
    return out, (g, gids, dead, fullmat)


def _probe_shard_block(
    store,
    shard: int,
    cache_token: tuple,
    md: dict,
    qstate,
    qids_l: np.ndarray,
    qmat_l: np.ndarray,
    qlab,
    lim: int,
    sls: int,
    stats: "QueryStats | None" = None,
) -> tuple[list, list, list]:
    """Per-shard probe kernel shared by ``search_batch`` (queries arrive
    via broadcast) and ``ann_join`` (queries arrive as partition rows):
    beam-walk each query over the shard graph, fetch full-precision
    vectors for ONLY the visited pool (pyarrow node_id row filter — the
    reference's visited-only page reads, sbq/storage.rs:125-230),
    exact-rescore the pool in one BLAS op (T2, scan.rs:244-305), drop
    tombstoned rows (T1), and return the per-shard exact top
    max(k, rescore) per query as parallel (query_id, node_id, distance)
    lists. Truncating by EXACT distance at >=k per shard can never drop
    a member of the global top-k."""
    g, gids, dead, fullmat, hot = _load_shard_graph(store, shard, cache_token, md, qstate)
    if g is None:  # empty shard
        return [], [], []
    if stats is not None and hot:
        stats.cache_hits += 1
    # same fallback as _graph_from_pdf, whose quantize_fn the walk uses
    d_index = md["num_dimensions_to_index"] or md["num_dimensions"]
    # batch quantization (round 15, guide §4.2): the query block's SBQ codes
    # depend only on the queries and the index-level quantizer, so ONE
    # quantize_matrix call per shard block replaces a per-(query, shard)
    # quantize round-trip (quantize_matrix is row-independent — each row of
    # the batch is bit-identical to quantize_fn on that row).
    qcodes = None
    if g.codes is not None and g.quantize_fn is not None and len(qmat_l):
        means, variances, bits = qstate
        _lq = SbqQuantizer(means, variances, bits)
        qcodes = _lq.quantize_matrix(
            qmat_l[:, :d_index] if d_index else qmat_l
        )
    pools: list[np.ndarray] = []
    for qi in range(len(qmat_l)):
        q = qmat_l[qi][:d_index] if d_index else qmat_l[qi]
        idx, _ = g.search(
            q, k=0, search_list_size=sls, rescore=0, query_labels=qlab,
            qcode=qcodes[qi] if qcodes is not None else None,
        )
        live = idx[~dead[idx]] if len(idx) else idx
        pools.append(live)
        if stats is not None:
            stats.shard_searches += 1
            stats.candidates_scored += g.last_stats.get("candidates_scored", 0)
            stats.quantized_comparisons += g.last_stats.get("quantized_comparisons", 0)
    # visited-only vector fetch + one exact BLAS rescore per query
    union = np.unique(
        np.concatenate([p for p in pools if len(p)] or [np.array([], dtype=np.int64)])
    )
    if fullmat is not None:
        vmat = fullmat  # resident matrix: pools index it directly
    elif len(union):
        want = gids[union]
        vmat, vids = _fetch_vectors(store, shard, want)
        # each pooled node's fetched row (the last row of its id)
        by_id = np.argsort(vids, kind="stable")
        at = np.searchsorted(vids[by_id], want, side="right") - 1
        if at.min() < 0 or (vids[by_id[at]] != want).any():
            missing = np.setdiff1d(want, vids)[:5]
            raise KeyError(f"pooled nodes missing from the vector read: {missing}")
        union_rows = by_id[at]
    out_q, out_n, out_d = [], [], []
    for qi, pool in enumerate(pools):
        if not len(pool):
            continue
        pool_gids = gids[pool]
        if fullmat is not None:
            rows = pool
        else:
            rows = union_rows[np.searchsorted(union, pool)]
        ed = np_distance(
            vmat[rows], qmat_l[qi], md["distance_type"], assume_normalized=True
        )
        top = np.lexsort((pool_gids, ed))[:lim]
        out_q.extend([int(qids_l[qi])] * len(top))
        out_n.extend(int(x) for x in pool_gids[top])
        out_d.extend(float(x) for x in ed[top])
        if stats is not None:
            stats.rescored += len(pool)
    return out_q, out_n, out_d


def _fetch_vectors(store, shard: int, node_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Fetch full-precision vectors for just the given node ids from the
    shard's base+delta partitions — the analog of the reference reading
    only visited nodes' pages (sbq/storage.rs:125-230). pyarrow prunes row
    groups by node_id statistics, so per-batch vector I/O scales with the
    visited set, not the shard. Returns (vectors, their node ids)."""
    t = _read_shard_pdf(store, shard, ["node_id", "vector"], ids=node_ids)
    mat = np.stack(t["vector"].to_numpy()).astype(np.float32)
    return mat, t["node_id"].to_numpy(dtype=np.int64)


class DiskannIndex:
    """Persisted shard-parallel DiskANN index (parquet + JSON meta)."""

    def __init__(self, spark: SparkSession, path: str, meta: IndexMeta):
        self.spark = spark
        self.path = path
        self.meta = meta
        self._label_coverage = routing.LabelCoverage(
            path, self._LABEL_ROUTING_FILE, ("shard", "label")
        )

    # -- build ---------------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        path: str,
        distance_type: str = DistanceType.COSINE.value,
        storage_type: str = StorageType.SBQ.value,
        num_neighbors: int = DEFAULT_NUM_NEIGHBORS,
        search_list_size: int = DEFAULT_SEARCH_LIST_SIZE,
        max_alpha: float = DEFAULT_MAX_ALPHA,
        num_dimensions: int = 0,
        bits_per_dimension: int = 0,
        num_shards: int | None = None,
        target_shard_size: int = 100_000,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        label_col: str | None = None,
        build_mode: str = "bulk",
        shard_assignment: str = "hash",
        tune_routing: bool = True,
        _locked: bool = False,
    ) -> "DiskannIndex":
        """``build_mode='bulk'`` (default): exact-prefix BLAS candidates per
        chunk — ~3x the throughput of per-insert beam walks at equal/better
        recall; O(n²d) per shard bounds shard size (target_shard_size is
        sized for it). ``build_mode='streaming'``: the reference's
        insert-at-a-time path (same code as incremental insert).

        ``shard_assignment='hash'`` (default) balances shards perfectly but
        makes them geometric mirrors of each other — every query must probe
        every shard. ``'kmeans'`` assigns shards by nearest k-means centroid
        (the SPANN / IVF-of-graphs layout): shards become Voronoi cells, so
        ``search_batch(probe_shards=p)`` can route each query to its p
        nearest shards and per-query cost stops growing with shard count.
        Trade-off: cluster sizes skew with the data distribution."""
        if not _locked:
            # build is a writer like insert/delete/compact: a concurrent
            # build vs mutation at one path must be serialized, not raced
            # (the reference holds the same advisory lock across CREATE
            # INDEX, ports.rs:160). _locked=True marks nested calls from
            # _insert_locked (bootstrap) / _compact_locked that already
            # hold the lock — the file lock is not re-entrant.
            with writer_lock(path):
                return cls.build(
                    df, path, distance_type=distance_type,
                    storage_type=storage_type, num_neighbors=num_neighbors,
                    search_list_size=search_list_size, max_alpha=max_alpha,
                    num_dimensions=num_dimensions,
                    bits_per_dimension=bits_per_dimension,
                    num_shards=num_shards, target_shard_size=target_shard_size,
                    vector_col=vector_col, id_col=id_col, label_col=label_col,
                    build_mode=build_mode, shard_assignment=shard_assignment,
                    tune_routing=tune_routing, _locked=True,
                )
        spark = df.sparkSession
        # reloption validation (build.rs:264-290, :192-196)
        if storage_type == StorageType.PLAIN.value:
            if distance_type == DistanceType.INNER_PRODUCT.value:
                raise ValueError("plain storage does not support inner product distance")
            if label_col is not None:
                raise ValueError("plain storage does not support labels")
        if shard_assignment not in ("hash", "kmeans"):
            raise ValueError(f"unknown shard_assignment: {shard_assignment}")
        kmeans = shard_assignment == "kmeans"
        sbq = storage_type == StorageType.SBQ.value

        # the corpus is normalized (pg_vector.rs:153-155) and materialized
        # ONCE; every statistic the build needs comes from a few passes over
        # this copy. NULL vectors are never indexed (build.rs:493-497).
        # Labels stay array<long> until their smallint bounds are checked.
        vec = F.col(vector_col)
        if distance_type == DistanceType.COSINE.value:
            vec = l2_normalize(vec)
        held = [
            df.filter(F.col(vector_col).isNotNull())
            .select(
                F.col(id_col).cast("long").alias("node_id"),
                vec.cast("array<float>").alias("vector"),
                _label_set(label_col).alias("labels"),
            )
            .persist()
        ]
        try:
            return cls._build_from(
                held, path, kmeans, sbq, num_shards, target_shard_size,
                dict(
                    distance_type=distance_type, storage_type=storage_type,
                    num_neighbors=num_neighbors, search_list_size=search_list_size,
                    max_alpha=max_alpha, bits_per_dimension=bits_per_dimension,
                    has_labels=label_col is not None, shard_assignment=shard_assignment,
                    build_id=uuid.uuid4().hex, mutation_id=uuid.uuid4().hex,
                ),
                num_dimensions, build_mode, tune_routing,
            )
        finally:
            for frame in held:
                frame.unpersist()

    @classmethod
    def _build_from(
        cls, held: list, path: str, kmeans: bool, sbq: bool,
        num_shards: int | None, target_shard_size: int, meta_kw: dict,
        num_dimensions: int, build_mode: str, tune_routing: bool,
    ) -> "DiskannIndex":
        """The build over the persisted, normalized corpus ``held[0]``
        (node_id, vector, labels array<long>): one facts pass, the k-means
        seeds and rounds, one per-shard statistics pass, the graph write
        and the id sidecar — about eleven Spark jobs in all, tuning
        included. Frames it persists go on ``held`` for the caller to
        release."""
        base = held[0]
        spark = base.sparkSession
        sc = spark.sparkContext
        # build phases surface in the Spark UI like the reference's
        # ambuildphasename progress (build.rs:1154-1166)
        sc.setJobDescription("diskann build: scanning the corpus")
        facts = _scan_corpus(base, moments=sbq, sample=16 if kmeans and tune_routing else 0)
        n, dims = facts["n"], facts["dims"]
        if facts["hi"] is not None and (facts["hi"] > 32767 or facts["lo"] < -32768):
            raise ValueError(
                f"label out of smallint range [-32768, 32767]: {facts['lo']}..{facts['hi']}"
            )
        storage_type = meta_kw["storage_type"]
        cap = MAX_DIMENSIONS_PLAIN if storage_type == StorageType.PLAIN.value else MAX_DIMENSIONS
        if dims > cap:
            raise ValueError(f"{dims} dimensions exceeds cap {cap} for {storage_type}")
        if n and facts["dmin"] != facts["dmax"]:
            raise ValueError(
                f"build vectors have {facts['dmin']}..{facts['dmax']} dimensions; "
                "every vector of an index has the same"
            )
        num_shards = num_shards or max(1, -(-n // target_shard_size))

        if n == 0:
            # CREATE INDEX on an empty table is the reference's standard
            # lifecycle (filtering_tests create the index first, then
            # INSERT). Persist a schema-bearing empty node table; the first
            # insert() bootstraps the real build (dimensions and quantizer
            # come from that first batch).
            meta = IndexMeta(
                **meta_kw, num_dimensions_to_index=num_dimensions, num_shards=1, num_rows=0
            )
            dest_rel, trash, epoch, counter = _prepare_rebuild(path)
            (
                spark.createDataFrame([], _NODE_SCHEMA)
                .repartition(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, dest_rel))
            )
            if dest_rel == "nodes":
                _clear_delta_dirs(path)
            meta.base_rel = dest_rel
            meta.trash_dirs = trash
            meta.trash_epoch = epoch
            meta.delta_counter = counter
            meta.epoch = epoch
            meta.save(path)
            sc.setJobDescription(None)
            return cls(spark, path, meta)

        meta = IndexMeta(
            **meta_kw,
            num_dimensions=dims,
            num_dimensions_to_index=num_dimensions if 0 < num_dimensions < dims else 0,
            num_shards=num_shards,
            num_rows=n,
        )
        stats = None
        if kmeans:
            # Voronoi sharding: train num_shards centroids (partial-sum
            # Lloyd over the corpus, seeded by the lowest ids), then assign
            # each row to its nearest centroid's shard with the map-only
            # kernel (similarity._assign_nearest: the SQL fold's float64
            # sequence and tie-break, no shuffle).
            # Shard NUMBERS follow centroid_id order (internal labels —
            # every output is keyed by node_id).
            from pgvectorscale_spark.operators.similarity import (
                _assign_nearest,
                _kmeans_fit,
            )

            sc.setJobDescription("diskann build: training shard centroids")
            # dims known: an over-budget shard count refuses before the seeds
            _, cmat = _kmeans_fit(
                base.select("node_id", "vector"), num_shards, 2, "vector", "node_id",
                budget=cls._COLLECT_BUDGET_BYTES, dims=dims,
            )
            sc.setJobDescription("diskann build: assigning shards")
            assigned = (
                _assign_nearest(
                    base, np.arange(len(cmat), dtype=np.int64), cmat,
                    meta.distance_type, "vector",
                )
                .select(
                    "node_id", F.col("centroid_id").cast("int").alias("shard"),
                    "vector", "labels",
                )
                .persist()
            )
            held.append(assigned)
            stats = _shard_totals(assigned, num_shards, dims, cls._COLLECT_BUDGET_BYTES)
            base.unpersist()  # the assignment now holds every column
            base = assigned
            # Skew cap: Voronoi cells follow the data distribution, and one
            # oversized cell breaks the per-shard O(n²) build bound (and
            # executor memory) at scale. Cells beyond 2x the target split
            # into hash sub-shards; sub-shards inherit the cell's geometry,
            # get near-identical centroids in the routing table, and are
            # therefore probed together by routing — same recall, bounded
            # shard size. (SPANN solves this with balanced k-means; the
            # hash split is the shuffle-free Spark analog.)
            cap = max(target_shard_size * 2, 1)
            splits = {s: -(-st[0] // cap) for s, st in stats.items() if st[0] > cap}
            if splits:
                offsets, nxt = {}, num_shards
                for s, m in sorted(splits.items()):
                    offsets[s] = nxt
                    nxt += m - 1  # first sub-shard keeps the original id
                split_map = F.create_map(
                    *[x for s, m in sorted(splits.items()) for x in (F.lit(s), F.lit(m))]
                )
                off_map = F.create_map(
                    *[x for s, o in sorted(offsets.items()) for x in (F.lit(s), F.lit(o))]
                )
                sub = F.pmod(F.xxhash64("node_id"), split_map[F.col("shard")]).cast("int")
                base = base.withColumn(
                    "shard",
                    F.when(
                        split_map[F.col("shard")].isNotNull(),
                        F.when(sub == 0, F.col("shard")).otherwise(
                            off_map[F.col("shard")] + sub - 1
                        ),
                    ).otherwise(F.col("shard")),
                )
                num_shards = nxt
                meta.num_shards = num_shards
                stats = _shard_totals(base, num_shards, dims, cls._COLLECT_BUDGET_BYTES)
        else:
            # hash the canonical long form: xxhash64 is type-sensitive, and
            # insert()/delete() route the stored long node_id the same way
            base = base.withColumn(
                "shard", F.pmod(F.xxhash64("node_id"), F.lit(num_shards)).cast("int")
            )
        quantizer_state = None
        if sbq:
            # pass-1 training (build.rs:574-614): per-dimension population
            # mean and variance over the indexed prefix, from the facts pass
            d_index = meta.effective_dims
            q_n, q_sum, q_m2 = facts["moments"]
            q = SbqQuantizer(q_sum[:d_index] / q_n, q_m2[:d_index] / q_n, meta.effective_bits)
            meta.quantizer_means = q.means.tolist()
            meta.quantizer_variances = q.variances.tolist()
            meta.bits_per_dimension = q.bits
            quantizer_state = (q.means, q.variances, q.bits)

        meta_d = _meta_dict(meta)
        b_state = spark.sparkContext.broadcast(quantizer_state)

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("node_id").reset_index(drop=True)
            gids = pdf["node_id"].to_numpy()
            mat = np.stack(pdf["vector"].to_numpy()).astype(np.float32)
            d_index = meta_d["num_dimensions_to_index"] or mat.shape[1]
            walk = mat[:, :d_index]
            codes = None
            qfn = None
            if meta_d["storage_type"] == StorageType.SBQ.value:
                means, variances, bits = b_state.value
                lq = SbqQuantizer(means, variances, bits)
                codes = lq.quantize_matrix(walk)
                qfn = lq.quantize
            labels = None
            if meta_d["has_labels"]:
                labels = [_to_frozenset(x) for x in pdf["labels"]]
            g = VamanaGraph(
                walk,
                distance_type=meta_d["distance_type"],
                num_neighbors=meta_d["num_neighbors"],
                search_list_size=meta_d["search_list_size"],
                max_alpha=meta_d["max_alpha"],
                labels=labels,
                codes=codes,
                quantize_fn=qfn,
                ids=gids,
            )
            if build_mode == "bulk":
                g.build_bulk()
            else:
                g.build()
            g.finalize()
            if codes is not None:
                pdf["bq_code"] = list(codes.view(np.int64))
            else:
                pdf["bq_code"] = None
            pdf["deleted"] = False
            return _emit_nodes(pdf, g, gids)

        # explicit repartition: one task per shard. Without it AQE coalesces
        # the small shuffle into one partition and the shard builds run
        # sequentially in a single Python worker — a parallelism collapse
        # (harmless-looking locally, catastrophic on a cluster). Round 14:
        # repartition on a collision-free PROXY of the shard id, not the id
        # itself — hashing num_shards keys into num_shards partitions
        # collides (max load 3 at n=8, 5 at n=512), so the "one task per
        # shard" stage actually ran in max-load waves while most partitions
        # sat empty (guide §2.5). The proxy guarantees the bijection; the
        # per-partition groupby keeps correctness independent of placement.
        sc.setJobDescription("diskann build: building + finalizing graph")
        node_cols = _node_cols()

        def build_partition(batches):
            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            part = pd.concat(pdfs, ignore_index=True).drop(columns=["_pid"])
            for _, grp in part.groupby("shard", sort=True):
                yield build_shard(grp.reset_index(drop=True))[node_cols]

        nodes = (
            base.select(
                "node_id", "shard", "vector", F.col("labels").cast("array<smallint>")
            )
            .withColumn("_pid", proxy_partition_col(F.col("shard"), range(num_shards)))
            .repartition(num_shards, "_pid")
            .mapInPandas(build_partition, schema=_NODE_SCHEMA)
        )
        # snapshot-isolated rebuild: at a path with a readable prior index
        # the new base lands in a FRESH generation dir and the meta save is
        # the atomic flip — readers of the old index finish consistently on
        # its dirs, which wait one maintenance cycle in trash
        dest_rel, trash, epoch, counter = _prepare_rebuild(path)
        (
            nodes.write.mode("overwrite")
            .partitionBy("shard")
            .parquet(os.path.join(path, dest_rel))
        )
        if dest_rel == "nodes":
            # no readable prior meta: conventional fresh layout; wipe any
            # leftover chain dirs a wiped/corrupt index may have abandoned
            _clear_delta_dirs(path)
        meta.base_rel = dest_rel
        meta.trash_dirs = trash
        if kmeans:
            # id -> shard routing sidecar (routing_store.py): where an id
            # lives is DATA under kmeans sharding, so mutation membership
            # probes would otherwise scan the corpus node_id column per
            # micro-batch. Written from the persisted assignment and
            # committed by the same meta.save as the build.
            from pgvectorscale_spark.operators import routing_store

            sc.setJobDescription("diskann build: writing the id sidecar")
            routing_store.write_base(base.select("node_id", "shard"), path, meta, "shard")
        sc.setJobDescription(None)
        meta.trash_epoch = epoch
        meta.delta_counter = counter
        # keep the mutation epoch monotonic across rebuilds at the same path
        # so executor-side shard caches from the old index never serve stale
        meta.epoch = epoch
        meta.save(path)
        idx = cls(spark, path, meta)
        if kmeans:
            # routing (centroids + label sidecar) is CONSUMED only by
            # Voronoi probing and kmeans insert routing; hash shards refuse
            # probe_shards and route inserts by xxhash — writing the table
            # for them would be data nothing ever reads (and that inserts,
            # which skip the routing update on hash, would then let go
            # stale). Both come from the statistics pass: centroid =
            # float32(vsum / count), exactly the stored sufficient stats.
            idx._write_routing_rows(_routing_rows_of(stats))
            if meta.has_labels:
                idx._label_coverage.write(_label_pairs_of(stats))
            if tune_routing:
                # routing-recall curve for recall_target probe selection
                # (one exact linear pass over the persisted corpus; see
                # tune_routing's docstring for the staleness contract)
                sc.setJobDescription("diskann build: tuning routing recall")
                qids, qmat = facts["sample"]
                routing.tune_curve(idx, idx._routing_table(), base, n, qids, qmat, "shard", 10, True)
                sc.setJobDescription(None)
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "DiskannIndex":
        return cls(spark, path, IndexMeta.load(path))

    def _store(self) -> tuple[str, tuple, dict]:
        """Executor-read handle (see ``_as_store``): absolute base dir,
        committed delta-chain dirs in order, per-shard fold overrides."""
        return (
            os.path.join(self.path, self.meta.base_rel),
            tuple(os.path.join(self.path, rel) for rel in self.meta.delta_gens),
            {
                str(int(s)): os.path.join(self.path, rel, f"shard={int(s)}")
                for s, rel in (self.meta.shard_base or {}).items()
                if rel  # "" = emptied-by-fold sentinel (IVF-only; no rows)
            },
        )

    def _base_frames(self) -> DataFrame:
        """Base snapshot as one DataFrame, assembled from the protocol-level
        dir list (index_util.snapshot_base_dirs): the `base_rel` dir only
        for partitions actually present on disk and not overridden by a
        fold, plus each override dir filtered to exactly the shards mapped
        to it. The restrictions are load-bearing — superseded copies of a
        folded shard legitimately remain on disk for the trash grace cycle
        and must not leak into the view; and a base dir whose every
        populated shard has been folded away and swept holds no parquet at
        all, so scanning it unconditionally would fail schema inference."""
        from pgvectorscale_spark.operators.index_util import snapshot_base_dirs

        cols = _node_cols()
        dirs = snapshot_base_dirs(self.path, self.meta, "shard")
        if len(dirs) == 1 and dirs[0][1] is None:
            return self._read_nodes(dirs[0][0])
        frames = [
            self._read_nodes(d).select(cols).filter(F.col("shard").isin(ss))
            for d, ss in dirs
        ]
        if not frames:
            return self.spark.createDataFrame([], _NODE_SCHEMA)
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        return u

    def _nodes_union(self) -> DataFrame:
        """Raw base ∪ delta rows with a ``_seq`` generation column — NO
        latest-wins dedupe. Existence checks and id-restricted merges use
        this so the broadcast semijoin pushes into the scans instead of
        being blocked by the merge window."""
        base = self._base_frames().withColumn("_seq", F.lit(0))
        u = base
        for k, rel in enumerate(self.meta.delta_gens, start=1):
            d = os.path.join(self.path, rel)
            if _shard_dir_missing(d):
                continue  # crash-cleaned generation
            u = u.unionByName(
                self._read_nodes(d).select(*base.drop("_seq").columns).withColumn(
                    "_seq", F.lit(k)
                )
            )
        return u

    def _read_nodes(self, d: str) -> DataFrame:
        """A node dir (base, delta generation or fold gen) read with its
        known schema: no per-dir schema-inference job."""
        return self.spark.read.schema(_NODE_SCHEMA).parquet(d)

    def nodes(self, shards: "Sequence[int] | None" = None) -> DataFrame:
        """Current node table: the base partitions merged with the committed
        delta chain (latest generation wins per node_id). With no deltas this
        is a plain scan — the window dedupe only exists while a delta chain
        is open, and folding resets it.

        ``shards`` restricts the view to those partitions BEFORE the dedupe
        window (a post-window shard filter cannot push below the window —
        shard is not in its partitionBy — so the scans would not prune).
        Exact because a node_id never changes shard: hash shards are a pure
        function of the id, and kmeans upserts are pinned to the stored
        shard (the `stored` coalesce in _insert_locked)."""
        if not self.meta.delta_gens:
            base = self._base_frames()
            if shards is not None:
                base = base.filter(F.col("shard").isin([int(s) for s in shards]))
            return base
        w = Window.partitionBy("node_id").orderBy(F.col("_seq").desc())
        u = self._nodes_union()
        if shards is not None:
            u = u.filter(F.col("shard").isin([int(s) for s in shards]))
        return (
            u
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_seq")
        )

    def _live(self, shards: "Sequence[int] | None" = None) -> DataFrame:
        """``nodes(shards)`` without tombstoned rows."""
        return self.nodes(shards).filter(~F.coalesce(F.col("deleted"), F.lit(False)))

    # -- shard routing -----------------------------------------------------------

    # atomic single-file sidecars (tiny tables: num_shards rows / labels x
    # shards rows), published with temp-file + os.replace, so a concurrent
    # reader sees the complete old or complete new table. Routing is an
    # ADVISORY probe hint — a reader pairing a slightly newer table with
    # its own (older) snapshot only shifts which shards it probes first,
    # never which rows are correct — so unlike IVF centroids it needs no
    # meta-versioned generation.
    _ROUTING_FILE = "routing.parquet"
    _LABEL_ROUTING_FILE = "label_routing.parquet"

    def _routing_rows(self) -> list[tuple] | None:
        """Stored routing rows (shard, centroid, count, vsum) in file order,
        read on the driver with pyarrow (no Spark job), with count and vsum
        None when the sidecar predates the sufficient statistics. None for
        pre-routing indexes."""
        import pyarrow.parquet as papq

        from pgvectorscale_spark.operators.index_util import file_exists

        f = os.path.join(self.path, self._ROUTING_FILE)
        if not (os.path.isfile(f) or file_exists(f)):
            return None
        # ParquetFile, not read_table: the dataset reader behind
        # read_table costs the driver ~5 MB of RSS
        t = papq.ParquetFile(f).read(use_threads=False)
        if not t.num_rows:
            return None
        d = t.to_pydict()
        stats = "count" in d and "vsum" in d
        counts = d["count"] if stats else [None] * t.num_rows
        vsums = d["vsum"] if stats else [None] * t.num_rows
        return [
            (int(sh), list(c), None if n is None else int(n), v)
            for sh, c, n, v in zip(d["shard"], d["centroid"], counts, vsums)
        ]

    def _write_routing_rows(self, rows: list[tuple]) -> None:
        """Atomically publish the routing table rows (shard, centroid,
        count, vsum) as one parquet file."""
        import pyarrow as pa

        schema = pa.schema(
            [
                ("shard", pa.int32()),
                ("centroid", pa.list_(pa.float32())),
                ("count", pa.int64()),
                ("vsum", pa.list_(pa.float64())),
            ]
        )
        table = pa.Table.from_pydict(
            {
                "shard": [r[0] for r in rows],
                "centroid": [r[1] for r in rows],
                "count": [r[2] for r in rows],
                "vsum": [r[3] for r in rows],
            },
            schema=schema,
        )
        write_sidecar_atomic(os.path.join(self.path, self._ROUTING_FILE), table)

    def _totals_bound(self) -> tuple[int, int, int]:
        """``_shard_totals``'s (num_shards, dims, budget) for this index."""
        return self.meta.num_shards, self.meta.num_dimensions or 0, self._COLLECT_BUDGET_BYTES

    def _write_routing(self, shards: Sequence[int] | None = None) -> None:
        """Persist one centroid per shard (the routing table), along with
        the (count, vsum) sufficient statistics that make later updates
        O(batch): centroid = float32(vsum / count), and, for a labelled
        kmeans index, the (shard, label) sidecar. One ``_shard_totals``
        pass over the node table, the statistics the build writes.

        With ``shards``, only those partitions are re-aggregated (partition
        pruning on the shard column) and merged driver-side with the stored
        rows for untouched shards — the fallback when the sidecar predates
        the sufficient statistics; inserts normally take the O(batch)
        ``_apply_routing_delta`` path instead."""
        nodes = self.nodes()
        touched = sorted({int(s) for s in shards}) if shards is not None else None
        # label -> shards sidecar: serving's label-aware routing widening
        # reads THIS (labels x shards rows) instead of running a distinct
        # over the corpus per query batch (kmeans only — hash shards never
        # route, so the sidecar would be dead weight AND go stale on hash
        # inserts, which skip _write_routing entirely); tombstones only
        # ever over-include a shard (recall-safe)
        labelled = self.meta.has_labels and self.meta.shard_assignment == "kmeans"
        stored = stored_pairs = None
        if touched is not None:
            rows = self._routing_rows()
            stored = {r[0]: r for r in rows} if rows and rows[0][2] is not None else None
            stored_pairs = self._label_coverage.pairs() if labelled else set()
            if stored is None or stored_pairs is None:
                # no stored stats or label sidecar to merge with (e.g. an
                # index migrated from a pre-sidecar format): an incremental
                # update must degrade to the full recompute, never write a
                # partial table
                touched = None
        if touched is not None:
            nodes = nodes.filter(F.col("shard").isin(touched))
        totals = _shard_totals(nodes, *self._totals_bound())
        fresh = _routing_rows_of(totals)
        pairs = _label_pairs_of(totals)
        if touched is not None:
            # the tables are tiny (num_shards rows): merge on the driver
            fresh = [row for s, row in stored.items() if s not in touched] + fresh
            pairs |= {p for p in stored_pairs if p[0] not in touched}
        self._write_routing_rows(fresh)
        if labelled:
            self._label_coverage.write(pairs)

    def _routing_table(self) -> tuple[np.ndarray, np.ndarray] | None:
        """(shard_ids, centroid_matrix) or None for pre-routing indexes."""
        rows = self._routing_rows()
        if rows is None:
            return None
        sids = np.array([r[0] for r in rows], dtype=np.int64)
        cents = np.array([r[1] for r in rows], dtype=np.float64)
        return sids, cents

    def tune_routing(
        self, sample_queries: int = 16, k: int = 10, held_out: bool = True
    ) -> dict[str, float]:
        """Measure the routing-recall curve and store it in the meta.

        For a deterministic query sample (``sample_queries`` live rows in
        xxhash64(node_id) order, see ``routing.tune``), compute the
        exact top-k (one distributed pass) and each true neighbor's home
        shard; the curve maps probe count p to
        the fraction of true neighbors whose shard is among the query's p
        nearest centroids. This is the ROUTING term of routed recall —
        an upper bound the per-shard graph walk then approaches, and the
        full fan-out recall gates bound the graph term separately.
        ``search(recall_target=r)`` picks the smallest p on the curve
        reaching r. Label-aware probe widening at query time only ADDS
        shards, so labeled queries route at least this well.

        ``held_out`` (the default) excludes each sample query's OWN row
        from its exact top-k: a query identical to a stored vector finds
        its neighborhood inside its own Voronoi cell almost by
        construction (its top-1 is itself at distance 0, in the cell the
        assignment put it in), so an in-sample curve is optimistically
        biased for the out-of-sample queries a real serving path sees —
        at high duplicate density it degenerates to 1.0 at EVERY probe
        count and recall_target then systematically under-probes. The
        held-out form measures what a fresh query drawn from the corpus
        distribution would route like. ``held_out=False`` reproduces the
        legacy in-sample measurement (kept for the bias regression test).

        Staleness: the curve is stamped with the live-row count it was
        measured at (``meta.routing_tuned_nodes``); delta folds re-tune
        when the live count has drifted past ``ROUTING_DRIFT_BOUND``
        (mutations between folds shift centroids and contents without
        re-measuring — same contract as the routing table itself), and
        rebuilds/compacts re-tune unconditionally. Cost: one exact linear
        pass over the corpus for ``sample_queries`` queries — opt out
        with ``build(..., tune_routing=False)``."""
        return routing.tune(
            self, self._routing_table(), self._live(), "shard", sample_queries, k, held_out
        )

    ROUTING_DRIFT_BOUND = routing.ROUTING_DRIFT_BOUND

    def routing_curve_stale(
        self, drift: float | None = None, live_count: int | None = None
    ) -> bool:
        """True when the stored routing-recall curve no longer describes
        the current corpus (``routing.curve_stale``). Counts the corpus
        unless the caller (a fold that already counted) passes
        ``live_count``."""
        return routing.curve_stale(self.meta, lambda: self._live().count(), drift, live_count)

    def auto_probe_shards(self, recall_target: float) -> int:
        """Smallest probe count whose measured routing recall reaches the
        target (``routing.auto_probe``)."""
        return routing.auto_probe(self, recall_target, "tune_routing")

    def _ensure_id_routing(self) -> bool:
        """Backfill the id -> shard routing sidecar for a pre-sidecar
        kmeans index: ONE corpus pass over (node_id, shard) — the same
        cost as a single legacy membership probe — after which every
        mutation probes the rb-pruned sidecar instead of the corpus. The
        backfill meta-commits immediately (safe standalone under the
        writer lock), so a crash mid-mutation doesn't orphan it. Returns
        True when the sidecar is usable.

        STALENESS invariant (deleted-then-reinserted ids): a sidecar
        entry can never outlive its rows. Deletes only TOMBSTONE rows and
        folds keep tombstoned rows (graph traversal state), so while the
        sidecar pins an id, a row for it exists in the pinned shard — and
        the pin is then REQUIRED, not drift: re-routing a re-inserted id
        to its new nearest centroid would duplicate its node_id into a
        second shard, breaking shard-pruned reads. The one operation that
        physically drops tombstones, compact(), is a full rebuild whose
        build() rewrites the sidecar from live rows only — deleted ids
        leave the sidecar at exactly the moment their rows leave the
        store, and the next insert of such an id routes fresh to its
        nearest centroid (pinned by tests/test_round9_fixes.py::
        test_kmeans_reinsert_pin_lifecycle)."""
        from pgvectorscale_spark.operators import routing_store

        if self.meta.shard_assignment != "kmeans":
            return False
        if routing_store.is_present(self.meta):
            return True
        if self.meta.num_dimensions == 0:
            return False  # empty bootstrap index: build() writes it
        routing_store.write_base(
            self._nodes_union().select("node_id", "shard").distinct(),
            self.path,
            self.meta,
            "shard",
        )
        self.meta.save(self.path)
        return True

    def _apply_routing_delta(self, stored: dict, add: dict, sub: dict) -> None:
        """O(batch) routing update from sufficient statistics:
        vsum' = vsum + batch_sum - replaced_sum, count' = count + new rows,
        centroid = float32(vsum' / count'). ``add`` / ``sub`` map a shard to
        the ``_sum_stats`` [ids, float64 vector sum, labels] of the batch
        rows routed to it / of the stored rows the batch replaces there;
        the batch's labels widen the label sidecar. The float32 cast
        absorbs the last-ulp float64 summation-order differences, so the
        stored centroids match a full recompute bit-for-bit in practice
        (asserted by test_round5_fixes); the stats themselves stay exact
        sums."""
        dims = self.meta.num_dimensions
        rows = dict(stored)
        for s in sorted(set(add) | set(sub)):
            _, _, cnt, vsum = rows.get(s, (s, [0.0] * dims, 0, [0.0] * dims))
            vs = np.asarray(vsum, dtype=np.float64)
            if len(vs) != dims:
                vs = np.zeros(dims, dtype=np.float64)
            if s in add:
                cnt += len(add[s][0])
                vs = vs + add[s][1]
            if s in sub:
                cnt -= len(sub[s][0])
                vs = vs - sub[s][1]
            if cnt <= 0:  # defensive: a shard can't empty via insert
                continue
            cent = (vs / cnt).astype(np.float32)
            rows[s] = (s, [float(x) for x in cent], int(cnt), [float(x) for x in vs])
        self._write_routing_rows(list(rows.values()))
        if self.meta.has_labels:
            # labels sidecar: batch pairs only ever ADD coverage (tombstones
            # over-include, recall-safe — same semantics as the re-agg path)
            pairs = self._label_coverage.pairs()
            self._label_coverage.write(
                _label_pairs_of(_shard_totals(self.nodes(), *self._totals_bound()))
                if pairs is None
                else pairs | {(s, l) for s, a in add.items() for l in a[2]}
            )

    # -- serving ---------------------------------------------------------------

    def _quantizer_state(self):
        if self.meta.storage_type != StorageType.SBQ.value:
            return None
        return (
            np.array(self.meta.quantizer_means),
            np.array(self.meta.quantizer_variances),
            self.meta.effective_bits,
        )

    def search(
        self,
        query_vec: Sequence[float] | None,
        k: int = 10,
        search_list_size: int | None = None,
        rescore: int | None = None,
        labels: Sequence[int] | None = None,
        stats: "QueryStats | None" = None,
        post_filter: str | None = None,
        overfetch: float = 2.0,
        probe_shards: int | None = None,
        recall_target: float | None = None,
    ) -> DataFrame:
        """Single-query top-k → DataFrame (node_id, distance).

        ``recall_target=r`` picks ``probe_shards`` automatically from the
        build-time routing-recall curve (see ``tune_routing``) — the
        smallest probe count whose measured routing recall reaches r.

        ``search_list_size``/``rescore`` default to the session confs
        ``spark.pgvectorscale.query_search_list_size`` / ``query_rescore``
        (the GUC analogs), then to the reference defaults (100 / 50).

        A NULL query degrades to a full scan in arbitrary order
        (labels/mod.rs:214-216).

        ``post_filter`` is a SQL predicate over the node row (node_id,
        vector, labels) applied AFTER the index search — the residual-WHERE
        case. The index over-fetches ``k * overfetch`` and refills
        geometrically until k rows survive the filter (or the corpus is
        exhausted), so arbitrarily selective predicates still yield k rows —
        the reference's amgettuple "stream more results" semantics
        (README.md:291-303, scan.rs:370-436).
        """
        if query_vec is None:
            out = self.full_scan().withColumn("distance", F.lit(0.0))
            return out.select("node_id", "distance").limit(max(k, self.meta.num_rows))
        # single queries skip the DataFrame round-trip (createDataFrame +
        # collect = two driver jobs just to rebuild the same python list)
        qrows = [(0, [float(x) for x in query_vec])]

        def run(fetch_k: int, sls: int | None = None) -> DataFrame:
            res = self.search_batch(
                None, k=fetch_k,
                search_list_size=sls if sls is not None else search_list_size,
                rescore=rescore, labels=labels, stats=stats, probe_shards=probe_shards,
                recall_target=recall_target, _qrows=qrows,
            )
            return res.select("node_id", "distance").orderBy("rank")

        if post_filter is None:
            return run(k)
        import math

        total = self.meta.num_rows
        base_sls = (
            search_list_size
            if search_list_size is not None
            else _conf_knob(self.spark, "query_search_list_size", DEFAULT_QUERY_SEARCH_LIST_SIZE)
        )
        fetch = min(total, max(k, math.ceil(k * overfetch)))
        nodes = self.full_scan()
        while True:
            # the candidate pool is bounded by the beam's visited set, not by
            # fetch — search_list_size must grow along with fetch, or a
            # selective predicate exhausts the pool long before the corpus
            # (the reference's amgettuple stream keeps walking: scan.rs:370-436)
            survivors = (
                run(fetch, max(base_sls, fetch))
                .join(nodes, "node_id")
                .filter(post_filter)
                # materialize once: count() + the returned top-k would each
                # re-run the whole index search otherwise
                .localCheckpoint()
            )
            if survivors.count() >= k:
                return (
                    survivors.orderBy(F.col("distance").asc(), F.col("node_id").asc())
                    .limit(k)
                    .select("node_id", "distance")
                )
            if fetch >= total:
                break
            fetch = min(total, fetch * 4)
        # corpus exhausted through the graph with < k survivors: close the
        # stream-more contract with one exact scan over live rows, so matches
        # the walk cannot reach (e.g. a disconnected component) still surface.
        # Fewer than k matching rows in the corpus returns all of them — the
        # reference's exhausted-stream behavior.
        qlit = F.array([F.lit(float(x)) for x in query_vec])
        scored = nodes.withColumn(
            "distance", distance_expr(F.col("vector"), qlit, self.meta.distance_type)
        )
        if labels:
            scored = scored.filter(
                F.coalesce(
                    F.arrays_overlap(
                        "labels",
                        F.array([F.lit(int(x)) for x in labels]).cast("array<smallint>"),
                    ),
                    F.lit(False),
                )
            )
        return (
            scored.filter(post_filter)
            .orderBy(F.col("distance").asc(), F.col("node_id").asc())
            .limit(k)
            .select("node_id", "distance")
        )

    def _query_front(self, k, search_list_size, rescore, labels, probe_shards, recall_target):
        """The knob handling ``search_batch`` and ``ann_join`` share:
        (search_list_size, per-shard limit, probe_shards, label set), or
        None for an explicit empty label filter — ``labels && '{}'`` is
        always false (filtering_tests.rs:60-74), while None = unfiltered.

        ``recall_target`` picks ``probe_shards`` from the routing curve;
        without a curve (hash shards, untuned kmeans) the full fan-out's
        routing recall 1.0 meets any target. Routing is only meaningful on
        Voronoi (kmeans) shards: hash shards are geometric mirrors of each
        other, so their centroids all sit at the global mean and routing
        would pick shards near-arbitrarily — silently collapsing recall.
        There ``probe_shards`` falls back to the exact full fan-out with a
        warning that points at the caller of the public method."""
        if search_list_size is None:
            search_list_size = _conf_knob(
                self.spark, "query_search_list_size", DEFAULT_QUERY_SEARCH_LIST_SIZE
            )
        if rescore is None:
            rescore = _conf_knob(self.spark, "query_rescore", DEFAULT_QUERY_RESCORE)
        if labels is not None and len(list(labels)) == 0:
            return None
        if recall_target is not None:
            if probe_shards is not None:
                raise ValueError("pass either probe_shards or recall_target, not both")
            if self.meta.shard_assignment == "kmeans" and self.meta.routing_recall_curve:
                probe_shards = self.auto_probe_shards(recall_target)
        if probe_shards is not None and self.meta.shard_assignment != "kmeans":
            warnings.warn(
                f"probe_shards ignored: index at {self.path} is "
                f"'{self.meta.shard_assignment}'-sharded (no geometric routing); "
                "probing all shards. Build with shard_assignment='kmeans' to route.",
                stacklevel=3,
            )
            probe_shards = None
        qlabels = frozenset(int(l) for l in labels) if labels else None
        return search_list_size, max(k, rescore), probe_shards, qlabels

    def _route_plan(self, probe_shards, qlabels):
        """(routing table, label-coverage shards) when queries route to
        their ``probe_shards`` nearest shards, else None (every shard is
        probed). A filtered query also probes every shard holding one of
        its labels, or a rare label concentrated in an unprobed cell would
        silently disappear."""
        if probe_shards is None or probe_shards >= self.meta.num_shards:
            return None
        table = self._routing_table()
        if table is None:
            return None
        extra = (
            self._label_coverage.partitions(self.meta, qlabels)
            if qlabels and self.meta.has_labels
            else ()
        )
        return table, sorted(extra)

    def search_batch(
        self,
        queries_df: DataFrame | None,
        k: int = 10,
        search_list_size: int | None = None,
        rescore: int | None = None,
        labels: Sequence[int] | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        stats: "QueryStats | None" = None,
        probe_shards: int | None = None,
        recall_target: float | None = None,
        _qrows: list | None = None,
    ) -> DataFrame:
        """Scatter/gather batch search: (query_id, node_id, distance, rank).

        ``probe_shards=p`` routes each query to only its p nearest shards
        by the per-shard centroid table written at build — per-query cost
        then stops growing with shard count (the IVF trick applied at the
        shard level; without it, 1000 shards means a 1000-way fan-out per
        query). None (default) probes every shard: exact scatter/gather.

        Stage 1 (probe) is a tiny shard-id DataFrame fanned out one task per
        shard; each worker loads the shard graph straight from its parquet
        partition with pyarrow, projected to codes+adjacency only (no
        vectors under SBQ), and keeps it in a process-level cache across
        batches — so per-batch graph I/O is O(codes + adjacency) cold and
        ~zero warm. The walk (Hamming under SBQ) collects the whole visited
        pool; the probe then fetches full-precision vectors for JUST the
        pooled nodes with a pyarrow node_id row filter (row-group pruning —
        the reference's visited-only page reads, sbq/storage.rs:125-230),
        exact-rescores the pool in one BLAS op (T2, scan.rs:244-305), drops
        tombstoned rows (T1), and emits the per-shard exact top
        max(k, rescore). Truncating by EXACT distance at ≥k per shard can
        never drop a member of the global top-k, so recall is identical to
        rescoring everything globally.

        Stage 2 is pure JVM bookkeeping: a window top-k per query over
        shards × queries × max(k, rescore) tiny rows. No join, no vector
        scan, no shuffle proportional to the corpus — per-query cost is
        independent of corpus size once shard graphs are warm."""
        meta_d = _meta_dict(self.meta)
        front = self._query_front(k, search_list_size, rescore, labels, probe_shards, recall_target)
        if front is None:  # an empty label filter: no query is collected
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        search_list_size, limit, probe_shards, qlabels = front
        plan = self._route_plan(probe_shards, qlabels)
        qrows = (
            _qrows
            if _qrows is not None
            else queries_df.select(query_id_col, query_vec_col).collect()
        )
        qids = np.array([r[0] for r in qrows], dtype=np.int64)
        qmat = np.array([r[1] for r in qrows], dtype=np.float64)
        # shard routing: shard -> indices of the queries that probe it
        route: dict[int, np.ndarray] | None = None
        if plan is not None:
            route = {}
            lists = routing.probe_lists(plan[0], qmat, meta_d["distance_type"], probe_shards, plan[1])
            for qi, shards in enumerate(lists):
                for s in shards:
                    route.setdefault(s, []).append(qi)
            route = {s: np.array(v, dtype=np.int64) for s, v in route.items()}
        if meta_d["distance_type"] == DistanceType.COSINE.value:
            qmat = np_normalize(qmat)  # query-time normalization (labels/mod.rs:209-238)
        b = self.spark.sparkContext.broadcast(
            (qids, qmat, meta_d, self._quantizer_state(), qlabels, limit, search_list_size, route)
        )
        store = self._store()
        token = _shard_token(self.meta)

        def shard_probe(shard: int) -> pd.DataFrame:
            qids_l, qmat_l, md, qstate, qlab, lim, sls, route_l = b.value
            my_queries = (
                route_l.get(shard, np.array([], dtype=np.int64))
                if route_l is not None
                else np.arange(len(qids_l))
            )
            if route_l is not None and not len(my_queries):
                return pd.DataFrame({"query_id": [], "node_id": [], "distance": []}).astype(
                    {"query_id": "int64", "node_id": "int64", "distance": "float64"}
                )
            out_q, out_n, out_d = _probe_shard_block(
                store,
                shard,
                token(shard),
                md,
                qstate,
                qids_l[my_queries],
                qmat_l[my_queries],
                qlab,
                lim,
                sls,
                stats,
            )
            return pd.DataFrame(
                {"query_id": out_q, "node_id": out_n, "distance": out_d}
            ).astype({"query_id": "int64", "node_id": "int64", "distance": "float64"})

        # Stage-1 fan-out (round 14): one range partition per PROBED shard,
        # mapInPandas — zero Exchange (the old repartition(n, "shard") +
        # groupBy hashed n keys into n partitions, which collides: at n=8
        # only 5 partitions fill and the worst holds 3 shards, so the probe
        # stage ran 3 waves instead of 1 — guide §2.5). Routed queries also
        # stop paying empty tasks for unprobed shards: the range enumerates
        # exactly the shards that have queries.
        shard_list = (
            sorted(route.keys()) if route is not None else list(range(self.meta.num_shards))
        )

        def probe_partition(batches):
            for pdf in batches:
                for i in pdf["id"]:
                    yield shard_probe(shard_list[int(i)])

        if shard_list:
            cand = self.spark.range(0, len(shard_list), 1, len(shard_list)).mapInPandas(
                probe_partition, schema=_CAND_SCHEMA
            )
        else:  # no queries routed anywhere (empty query batch)
            cand = self.spark.createDataFrame([], _CAND_SCHEMA)
        return window_topk(cand, k)

    def ann_join(
        self,
        queries_df: DataFrame,
        k: int = 10,
        search_list_size: int | None = None,
        rescore: int | None = None,
        labels: Sequence[int] | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        probe_shards: int | None = None,
        recall_target: float | None = None,
        partitions_per_shard: int | None = None,
        stats: "QueryStats | None" = None,
    ) -> DataFrame:
        """Corpus x corpus ANN join: top-k neighbors for EVERY row of a
        query DataFrame, with the query side staying DISTRIBUTED end to
        end — the offline twin of ``search_batch`` (which collects its
        query batch driver-side: right for serving batches of 16-1k
        queries, the wrong shape for a 100M-row decontamination or
        retrieval-scoring join). Output: (query_id, node_id, distance,
        rank), identical to search_batch on the same inputs
        (pytest-pinned; same kernel, same tie-breaks, same exactness
        argument).

        Plan shape (the 100 TB contract — no driver collect anywhere):

        - *route*: each query row picks its ``probe_shards`` nearest
          shards against the BROADCAST per-shard centroid table
          (num_shards rows) inside an Arrow-batched ``mapInPandas`` —
          a numpy top-p per batch, |Q| x p output rows. Unrouted (hash
          shards or probe_shards=None) fans out via a JVM-side
          ``explode(sequence(...))`` — no Python in that path.
        - *one exchange on (shard, salt)*: hashpartitioning co-locates
          each shard's queries; ``partitions_per_shard`` salts hot
          shards across that many tasks so a skewed routing (every
          query near one centroid) cannot serialize. The process-level
          shard-graph cache amortizes graph loads across batches and
          tasks exactly as in serving. ``None`` (default, round 14)
          auto-raises the salt only when idle cores are GUARANTEED —
          num_shards alone can't fill half the default parallelism —
          to ceil(parallelism / 2 / num_shards); an explicit int always
          wins (the tradeoff is real: each extra salt is another worker
          cold-loading the shard graph, so auto stays conservative).
        - *per-batch probe*: ``_probe_shard_block`` — the search_batch
          kernel (beam walk, visited-only pyarrow vector fetch, one
          BLAS exact rescore, per-shard exact top max(k, rescore); the
          >=k-per-shard truncation argument carries over unchanged).
          Arrow batches bound worker memory regardless of |Q|.
        - *one exchange on query_id*: window top-k over
          |Q| x p x max(k, rescore) candidate rows — never corpus-sized.

        Labels follow search_batch semantics: a global filter list, []
        matches nothing, and filtered queries also probe every shard
        holding their labels (rare-label widening)."""
        meta_d = _meta_dict(self.meta)
        front = self._query_front(k, search_list_size, rescore, labels, probe_shards, recall_target)
        if front is None:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        search_list_size, limit, probe_shards, qlabels = front
        num_shards = self.meta.num_shards
        plan = self._route_plan(probe_shards, qlabels)
        # the routed fan-out row is (shard, query_id, vec) x p copies —
        # the join's biggest shuffle; the probe kernel re-ups to float64
        # numpy either way
        q, vec_t = routing.query_frame(queries_df, query_id_col, query_vec_col)
        sc = self.spark.sparkContext
        # route-stage parallelism (round 15, guide §2.5/§7.1): a query frame
        # that arrives in fewer partitions than the cluster serializes the
        # whole route + fan-out + shuffle write on those few cores — the
        # 64x bench's 2000-query frame is ONE partition (orderBy + limit),
        # and the stage decomposition showed its route task alone was ~45%
        # of the join's wall (7.5 s of 16 s). Spread thin inputs round-robin
        # first (dedup._widen: file-count metadata for wide scans, .rdd
        # partition count only for narrow plans): routing is per-row, so
        # placement cannot change any output row, and the extra exchange
        # moves only |Q| rows (the fan-out exchange right after moves p x
        # that). Frames already wide keep their partitioning — no exchange.
        from pgvectorscale_spark.operators.dedup import _widen

        q = _widen(q)
        if plan is not None:
            routed = routing.route_frame(
                q, plan[0], meta_d["distance_type"], probe_shards, plan[1],
                "shard", "query_vec", vec_t,
            )
        else:
            routed = q.select(
                F.explode(
                    F.sequence(F.lit(0), F.lit(num_shards - 1))
                ).alias("shard"),
                "query_id",
                "query_vec",
            )
        if partitions_per_shard is None:
            # auto (round 14): only when num_shards keys alone cannot
            # fill half the cluster are idle cores guaranteed — raise the
            # salt just enough to fill them. Conservative on purpose:
            # every extra salt is another task cold-loading that shard's
            # graph into its process cache.
            par = self.spark.sparkContext.defaultParallelism
            pps = max(1, -(-par // (2 * num_shards)))  # ceil(par/2/shards)
        else:
            pps = max(1, int(partitions_per_shard))
        # fan-out exchange on a collision-free PROXY of (shard, salt):
        # hashing num_shards*pps composite keys into as many partitions
        # collides (guide §2.5 — max load 3-5), turning the probe stage
        # into max-load waves; the proxy places each (shard, salt) group
        # in its own partition (round 14). probe_fn groups by the real
        # shard column, so results never depend on placement.
        routed = routed.withColumn(
            "_salt", F.pmod(F.hash("query_id"), F.lit(pps))
        )
        routed = routed.withColumn(
            "_pid",
            proxy_partition_col(
                F.col("shard") * pps + F.col("_salt"), range(num_shards * pps)
            ),
        ).repartition(num_shards * pps, "_pid")
        b = sc.broadcast(
            (meta_d, self._quantizer_state(), qlabels, limit, search_list_size)
        )
        store = self._store()
        token = _shard_token(self.meta)

        def probe_fn(batches):
            md, qstate, qlab, lim, sls = b.value
            for pdf in batches:
                if not len(pdf):
                    continue
                for shard_v, grp in pdf.groupby("shard", sort=True):
                    shard = int(shard_v)
                    qids_l = grp["query_id"].to_numpy(dtype=np.int64)
                    qmat_l = np.stack(grp["query_vec"].to_numpy()).astype(np.float64)
                    if md["distance_type"] == DistanceType.COSINE.value:
                        qmat_l = np_normalize(qmat_l)
                    out_q, out_n, out_d = _probe_shard_block(
                        store, shard, token(shard), md, qstate,
                        qids_l, qmat_l, qlab, lim, sls, stats,
                    )
                    if not out_q:
                        continue
                    yield pd.DataFrame(
                        {"query_id": out_q, "node_id": out_n, "distance": out_d}
                    )

        return window_topk(routed.mapInPandas(probe_fn, _CAND_SCHEMA), k)

    def full_scan(self) -> DataFrame:
        """All live rows through the index (accuracy-scaffold completeness check)."""
        return self._live().select("node_id", "vector", "labels")

    # -- mutations ---------------------------------------------------------------

    @contextmanager
    def _writer_lock(self, wait: float = 0.0):
        """Exclusive writer guard (shared lock-file mechanism,
        index_util.writer_lock) — the advisory-lock semantics of the
        reference (ports.rs:160). ``wait`` > 0 queues on the lock like the
        reference's racing INSERTs instead of failing fast."""
        with writer_lock(self.path, wait=wait):
            yield

    def insert(
        self,
        df: DataFrame,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        label_col: str | None = None,
        lock_wait: float = 0.0,
    ) -> None:
        """Micro-batch insert (aminsert analog): run the same graph-insert
        algorithm per affected shard against the stored graph, then rewrite
        only those shard partitions. Writers are serialized by the index
        lock file; a concurrent writer raises ConcurrentWriterError, or
        queues up to ``lock_wait`` seconds first (the reference's blocking
        advisory-lock behavior)."""
        with self._writer_lock(wait=lock_wait):
            self._insert_locked(df, vector_col, id_col, label_col)

    # Driver budget of an insert batch's single copy (bytes of float32
    # vectors): below it the batch is collected once with Arrow; above it
    # the batch is localCheckpointed and routed on the executors, and the
    # driver holds only its ids and per-shard statistics.
    _COLLECT_BUDGET_BYTES = 64 << 20

    def _insert_locked(
        self,
        df: DataFrame,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        label_col: str | None = None,
    ) -> None:
        if self.meta.num_dimensions == 0:
            # first insert into an index created on an empty table: bootstrap
            # the real build from this batch (dimensions, quantizer, shard
            # count all derive from it) — the aminsert-on-fresh-index path
            idx = DiskannIndex.build(
                df,
                self.path,
                distance_type=self.meta.distance_type,
                storage_type=self.meta.storage_type,
                num_neighbors=self.meta.num_neighbors,
                search_list_size=self.meta.search_list_size,
                max_alpha=self.meta.max_alpha,
                num_dimensions=self.meta.num_dimensions_to_index,
                bits_per_dimension=self.meta.bits_per_dimension,
                vector_col=vector_col,
                id_col=id_col,
                label_col=label_col,
                shard_assignment=self.meta.shard_assignment,
                _locked=True,  # caller already holds the writer lock
            )
            # the bootstrap build's rows came through insert(): the index
            # may hold rows the SQL-registered table lacks, same as any
            # other insert — the cost-routing bypass guard must engage
            idx.meta.has_mutations = True
            idx.meta.save(self.path)
            self.meta = idx.meta
            return
        kmeans = self.meta.shard_assignment == "kmeans"
        dims = int(self.meta.num_dimensions)
        vec = F.col(vector_col)
        if self.meta.distance_type == DistanceType.COSINE.value:
            vec = l2_normalize(vec)  # ingest-time normalization (pg_vector.rs:153-155)
        # labels stay long here: the driver checks their bounds before
        # anything narrows them to smallint
        prepared = df.select(
            F.col(id_col).cast("long").alias("node_id"),
            vec.cast("array<float>").alias("vector"),
            _label_set(label_col).alias("labels"),
        )
        # ONE copy of the batch: every check, the routing, the statistics
        # and the write derive from it. Below the budget it is one Arrow
        # collect; past it the collect stops at budget + 1 rows and a
        # checkpoint keeps the batch on the executors, where it is routed —
        # the driver then holds its ids and per-shard statistics, never its
        # vectors. _rid orders the rows: the first occurrence of an id wins.
        budget = max(1, self._COLLECT_BUDGET_BYTES // (4 * dims + 64))
        head = prepared.limit(budget + 1).toPandas()
        ck = None
        if len(head) > budget:
            ck = prepared.withColumn("_rid", F.monotonically_increasing_id()).localCheckpoint()
            head = None
            facts = ck.mapInPandas(lambda it: map(_batch_facts, it), _FACTS_SCHEMA).toPandas()
        else:
            head["_rid"] = np.arange(len(head), dtype=np.int64)
            facts = _batch_facts(head)
        null_ids, first = _scan_batch(facts, dims)
        if null_ids:
            # UPDATE to NULL removes the row from the index (NULL vectors are
            # never indexed, build.rs:493-497; the reference's update-with-
            # null scaffold, vacuum.rs:378-460): tombstone any id arriving
            # with a NULL vector so its stale previous vector stops surfacing.
            self._delete_locked(null_ids)
        if not len(first):
            return  # no non-NULL vectors in the batch: nothing to insert
        if kmeans:
            self._ensure_id_routing()
        # the stored rows of the batch ids, one shard-pruned pass summed per
        # shard on the executors: their count is the upsert share of
        # num_rows, their vector sums the routing "sub" statistics, and
        # (kmeans) their shards the upsert pins
        sub = _sum_stats(
            self._stored_rows(
                first["node_id"].to_numpy(), ["vector"] if kmeans else [],
                _shard_stats, _STATS_SCHEMA,
            ).toPandas()
        )
        n_present = sum(len(s[0]) for s in sub.values())
        route = stored_stats = None
        if kmeans:
            routing = self._routing_rows()
            if routing is None:
                raise ValueError("kmeans-sharded index is missing its routing table")
            if routing[0][2] is not None:
                stored_stats = {r[0]: r for r in routing}
            routing = sorted(routing)  # ascending shard ids: argmin ties
            pins = {i: sh for sh, s in sub.items() for i in s[0]}
            route = (
                np.array([r[0] for r in routing], dtype=np.int64),
                np.array([r[1] for r in routing], dtype=np.float64),
                self.meta.distance_type,
                pins,
            )
        args = (np.sort(first["_rid"].to_numpy()), int(self.meta.num_shards), route)
        if ck is None:
            routed = _route(head, *args)
            add = _sum_stats(_shard_stats(routed))
            new = self.spark.createDataFrame(_new_node_rows(routed), _NODE_SCHEMA)
        else:
            b_args = self.spark.sparkContext.broadcast(args)

            def routed_of(it):
                for pdf in it:
                    pdf = _route(pdf, *b_args.value)
                    if len(pdf):
                        yield pdf

            add = _sum_stats(
                ck.mapInPandas(lambda it: map(_shard_stats, routed_of(it)), _STATS_SCHEMA)
                .toPandas()
            )
            new = ck.mapInPandas(lambda it: map(_new_node_rows, routed_of(it)), _NODE_SCHEMA)
        shards = sorted(add)
        meta_d = _meta_dict(self.meta)
        b_state = self.spark.sparkContext.broadcast(self._quantizer_state())
        store = self._store()
        nodes_dir = store[0]
        # the post-mutation cache token: a nonce minted PER MUTATION ATTEMPT
        # and committed to the meta only after the job succeeds. Pre-populating
        # executor caches under it is safe against partial failure: a failed
        # job's entries sit under a nonce no later mutation can ever commit
        # (an epoch counter would collide — the next successful mutation would
        # commit the failed job's epoch+1 and serve its uncommitted graphs)
        mutation_nonce = uuid.uuid4().hex
        next_token = (self.meta.build_id, mutation_nonce)
        token = _shard_token(self.meta)

        def insert_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            # ``pdf`` carries ONLY the micro-batch's new rows: stored shard
            # state comes from this worker's graph cache when hot (grow in
            # place — O(batch) CPU) or an executor-local pyarrow read when
            # cold, so the corpus never moves through a shuffle — at 100 TB
            # a streaming micro-batch moves the batch, not the shards it
            # touches, and a warm shard doesn't even reload.
            qstate = b_state.value
            shard = int(pdf["shard"].iloc[0])
            cur_token = token(shard)
            # POP (not get): the grow path mutates the graph in place, and
            # the entry under the committed token must not be corrupted if
            # this task later fails — a popped entry just reloads from the
            # committed parquet next time.
            hit = _SHARD_GRAPH_CACHE.pop((nodes_dir, shard, cur_token), None)
            if hit is not None and hit[0] is not None:
                out, entry = _insert_shard_warm(
                    (hit[0], hit[1], hit[2], hit[3]), pdf, store, shard, meta_d, qstate
                )
            else:
                out, entry = _insert_shard_cold(pdf, store, shard, meta_d, qstate)
            # pre-populate this worker's serving cache with the post-insert
            # graph under the post-mutation token: the next search (or the
            # next micro-batch) on this worker skips the reload entirely —
            # streaming ingest keeps hot shards hot. Content equals what the
            # partition rewrite persists (same rows, same graph).
            _cache_put((nodes_dir, shard, next_token), entry, _entry_nbytes(*entry))
            return out[_node_cols()]

        # one task per TOUCHED shard, via a collision-free proxy of the
        # shard id (round 14 — hashing len(shards) keys into as many
        # partitions collides and serializes 2-3 shards through one task,
        # guide §2.5)
        updated = (
            new.withColumn("_pid", proxy_partition_col(F.col("shard"), shards))
            .repartition(len(shards), "_pid")
            .groupBy("_pid")
            .applyInPandas(
                lambda pdf: insert_shard(pdf.drop(columns=["_pid"])), schema=_NODE_SCHEMA
            )
        )
        # delta sink: the micro-batch persists ONLY its changed rows (batch +
        # back-edge-touched neighbors) as a new delta generation — bytes
        # written are O(batch · walk), never O(shard partition). The
        # reference's aminsert analog: only touched pages hit disk
        # (build.rs:537-558). Readers merge base + chain, latest seq wins.
        # The dir number comes from the NEVER-reset counter, so a
        # generation written after a fold can't overwrite a superseded dir
        # an in-flight reader may still be merging (snapshot isolation).
        next_rel = self._next_delta_rel()
        updated.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(self.path, next_rel)
        )
        self.meta.delta_gens = list(self.meta.delta_gens) + [next_rel]
        if kmeans:
            # the id -> shard sidecar gains the batch's (id, shard) pairs —
            # O(batch) rows, committed by the same meta.save as the node
            # delta below (back-edge-touched neighbors are already mapped)
            from pgvectorscale_spark.operators import routing_store

            routing_store.append_pairs(
                [i for sh in shards for i in add[sh][0]],
                [sh for sh in shards for _ in add[sh][0]],
                self.path,
                self.meta,
            )
        # exact incremental count: upserts replace rows (+0), fresh ids +1
        self.meta.num_rows = int(self.meta.num_rows) + len(first) - n_present
        self.meta.epoch += 1  # informational mutation counter
        # the index may now hold rows the SQL-registered table lacks: cost
        # routing must never bypass to an exact table scan again
        self.meta.has_mutations = True
        # commit: ONLY the touched shards switch cache tokens — the other
        # shards of the index keep serving from warm executor caches
        for sh in shards:
            self.meta.shard_mutations[str(sh)] = mutation_nonce
        self.meta.save(self.path)
        if kmeans:
            # inserted vectors shift the touched cells' centroids; hash
            # shards have no routing to maintain (probe_shards is refused).
            # Normal path: apply the O(batch) stats delta; fall back to
            # touched-shard re-aggregation only for sidecars predating the
            # sufficient-statistics columns.
            if stored_stats is not None:
                self._apply_routing_delta(stored_stats, add, sub)
            else:
                self._write_routing(shards)
        self._maybe_fold_deltas()

    def _stored_rows(self, ids: np.ndarray, columns: list[str], fn, schema: str) -> DataFrame:
        """The stored rows of ``ids`` (latest generation wins, tombstones
        included) as (node_id, shard, *columns), mapped through ``fn`` per
        task into rows of ``schema`` — the rows themselves stay on the
        executors.

        The ids are grouped by where their rows can live — hash shards: the
        shard itself, a pure function of the id; kmeans: the id-routing
        sidecar's rb bucket, whose probe names the shard — and each task
        reads only its shards' files, id-filtered, executor-locally (the
        reference's aminsert / ambulkdelete touch only the affected pages,
        build.rs:537-558, vacuum.rs:23-136)."""
        from pgvectorscale_spark.operators import routing_store

        cols = ["node_id", "shard", *columns]
        store = self._store()
        path = self.path
        if self.meta.shard_assignment == "kmeans":
            rels = routing_store.generations(self.meta)
            keys = spark_pmod_xxhash64(ids, int(self.meta.routing_ids_buckets))

            def shards_of(key: int, kids: np.ndarray):
                p = routing_store.probe_bucket(path, rels, key, kids)
                return [
                    (int(sh), p["node_id"].to_numpy()[at])
                    for sh, at in p.groupby("part").indices.items()
                ]
        else:
            keys = spark_pmod_xxhash64(ids, self.meta.num_shards)

            def shards_of(key: int, kids: np.ndarray):
                return [(key, kids)]

        groups = pd.Series(ids).groupby(keys).apply(list)

        def read(batches):
            for b in batches:
                where: dict[int, list] = {}
                for key, kids in zip(b["_k"], b["_ids"]):
                    for sh, sids in shards_of(int(key), np.asarray(kids, dtype=np.int64)):
                        where.setdefault(sh, []).append(sids)
                # one read per shard of this task's ids
                frames = [
                    _read_shard_pdf(
                        store, sh, ["node_id", *columns], ids=np.concatenate(v)
                    ).assign(shard=sh)[cols]
                    for sh, v in sorted(where.items())
                ]
                rows = pd.concat(frames, ignore_index=True) if frames else None
                if rows is not None and len(rows):
                    yield fn(rows.sort_values(["node_id", "shard"]).drop_duplicates("node_id"))

        tasks = pd.DataFrame({"_k": groups.index.astype("int64"), "_ids": list(groups)})
        return self.spark.createDataFrame(tasks, "_k long, _ids array<long>").mapInPandas(
            read, schema=schema
        )

    def delete(self, ids: Sequence[int], lock_wait: float = 0.0) -> None:
        """Tombstone delete (ambulkdelete analog): flip the deleted flag;
        edges remain for traversal (vacuum.rs:23-136). Serialized by the
        writer lock."""
        with self._writer_lock(wait=lock_wait):
            self._delete_locked(ids)

    def _delete_locked(self, ids: Sequence[int]) -> None:
        from pgvectorscale_spark.operators.index_util import delete_dir, list_subdirs

        ids = np.unique(np.fromiter((int(i) for i in ids), dtype=np.int64))
        if not len(ids):
            return
        if self.meta.shard_assignment == "kmeans" and not self._ensure_id_routing():
            return  # empty bootstrap index: nothing stored yet
        # delta sink: ONE pass finds where each id lives and writes its
        # O(ids) stored rows, tombstoned, as a new generation from the
        # executors — a delete writes O(ids) rows, not the touched shard
        # partitions (ambulkdelete flips tuple flags in place,
        # vacuum.rs:23-136). The O(ids) shuffle by shard keeps it one file
        # per touched shard, as merge-on-read opens every file.
        next_rel = self._next_delta_rel()
        out = os.path.join(self.path, next_rel)
        self._stored_rows(
            ids, [c for c in _node_cols() if c not in ("node_id", "shard")],
            lambda rows: rows.assign(deleted=True)[_node_cols()], _NODE_SCHEMA,
        ).repartition("shard").write.mode("overwrite").partitionBy("shard").parquet(out)
        shards = [int(n.split("=", 1)[1]) for n in list_subdirs(out, "shard=", strict=True)]
        if not shards:
            # no id is stored: drop the empty generation uncommitted
            delete_dir(out)
            self.meta.delta_counter = int(self.meta.delta_counter) - 1
            return
        self.meta.delta_gens = list(self.meta.delta_gens) + [next_rel]
        self.meta.epoch += 1  # informational mutation counter
        self.meta.has_tombstones = True  # cost routing must keep using the index
        nonce = uuid.uuid4().hex
        for sh in shards:  # invalidate executor caches for touched shards only
            self.meta.shard_mutations[str(sh)] = nonce
        self.meta.save(self.path)
        self._maybe_fold_deltas()

    def _next_delta_rel(self) -> str:
        """Fresh delta-generation dir name off the never-reset counter
        (persisted by the caller's meta.save on commit; a failed job's bump
        is never saved, and overwriting its orphan dir on retry is safe —
        no committed meta ever referenced it)."""
        self.meta.delta_counter = int(self.meta.delta_counter) + 1
        return f"nodes_delta/seq={self.meta.delta_counter}"

    def _sweep_trash(self) -> None:
        """Delete dirs superseded one maintenance cycle ago plus orphan
        generation dirs from crashed jobs (see index_util.sweep_trash)."""
        from pgvectorscale_spark.operators.index_util import sweep_trash

        sweep_trash(self.path, self.meta)

    # how many delta generations may accumulate before they are folded back
    # into the base partitions (merge-on-read cost is one extra tiny
    # fragment read per generation; folding bounds it)
    DELTA_FOLD_SEQS = int(os.environ.get("PGVS_DELTA_FOLD_SEQS", 8))

    def _maybe_fold_deltas(self) -> None:
        if int(self.meta.delta_seq) >= self.DELTA_FOLD_SEQS:
            self._fold_deltas()

    def _fold_deltas(self) -> None:
        """Fold the delta chain back into the base store (lazy compaction
        of the merge-on-read sink — Delta/Iceberg's OPTIMIZE analog), with
        SNAPSHOT ISOLATION: the merged shards are written to a fresh
        immutable ``nodes_gens/<id>`` dir and the per-shard base pointers
        flip in the meta commit — no directory is ever rewritten in place,
        so an unsynchronized reader sees either the pre-fold or post-fold
        snapshot, never a torn mix. The superseded dirs (old per-shard
        base partitions + the folded delta chain) wait one maintenance
        cycle in meta.trash_dirs before the NEXT fold sweeps them, so
        readers holding the previous meta still complete consistently.

        Cache tokens are intentionally NOT rotated: the fold is
        content-preserving, and every reader staler than the chain's last
        mutation already holds a superseded per-shard nonce (mutations
        rotate them), so a stale reassembly can never be served under the
        current token — warm executor caches survive the fold.

        Crash-safe: dying before the meta commit leaves an orphan gen dir
        no meta references (swept later); the meta save itself is the
        atomic flip."""
        from pgvectorscale_spark.operators.index_util import list_subdirs

        delta_gens = list(self.meta.delta_gens)
        if not delta_gens:
            return
        # previous cycle's superseded dirs have aged a full cycle — sweep
        self._sweep_trash()
        touched: set[int] = set()
        for rel in delta_gens:
            # FS-aware listing: os.listdir would silently yield nothing on
            # a remote store and the fold would drop the chain's content
            for name in list_subdirs(os.path.join(self.path, rel), "shard="):
                touched.add(int(name.split("=", 1)[1]))
        # carry entries the sweep retained (lease-pinned / marker-failed)
        new_trash = list(self.meta.trash_dirs) + list(delta_gens)
        live_touched = 0
        if touched:
            # the merge keeps tombstoned rows (graph traversal state), so a
            # touched shard always has output rows — a fold-override dir is
            # never legitimately empty (readers rely on this to raise on a
            # missing override instead of serving an empty shard)
            gen_rel = f"nodes_gens/{uuid.uuid4().hex[:12]}"
            # one task per touched shard merges it executor-locally, the
            # way serving reads it (_read_shard_pdf: base or fold override
            # + the chain, latest generation wins per node_id) — no
            # corpus shuffle, no JVM window over base ∪ delta, and one
            # file per shard
            store, shards = self._store(), sorted(touched)
            cols = [c for c in _node_cols() if c != "shard"]

            def merge(batches):
                for pdf in batches:
                    for s in pdf["shard"]:
                        rows = _read_shard_pdf(store, int(s), cols)
                        if len(rows):
                            yield rows.assign(shard=np.int32(s))[_node_cols()]

            merged = (
                self.spark.range(0, len(shards), 1, len(shards))
                .select(
                    F.element_at(
                        F.array(*[F.lit(s) for s in shards]), F.col("id").cast("int") + 1
                    ).alias("shard")
                )
                .mapInPandas(merge, schema=_NODE_SCHEMA)
            )
            # the write also counts the touched shards' live rows
            obs = Observation(f"fold_{gen_rel}")
            merged.observe(
                obs, F.count(F.when(~F.coalesce(F.col("deleted"), F.lit(False)), 1)).alias("live")
            ).write.partitionBy("shard").parquet(os.path.join(self.path, gen_rel))
            live_touched = int(obs.get["live"])
            for s in sorted(touched):
                old = self.meta.shard_base.get(str(s))
                new_trash.append(
                    f"{old}/shard={s}" if old else f"{self.meta.base_rel}/shard={s}"
                )
                self.meta.shard_base[str(s)] = gen_rel
        self.meta.delta_gens = []
        self.meta.trash_dirs = list(dict.fromkeys(new_trash))
        # id-routing sidecar chain compaction (no-op until the chain
        # passes ROUTING_FOLD_GENS; superseded dirs ride trash_dirs)
        from pgvectorscale_spark.operators import routing_store

        routing_store.maybe_compact(self.spark, self.path, self.meta)
        # folds bump the (informational) epoch and stamp it as the trash
        # enqueue point: reader leases older than this pin the sweep
        self.meta.epoch += 1
        self.meta.trash_epoch = int(self.meta.epoch)
        self.meta.save(self.path)
        # routing-recall curve staleness (tune_routing's contract): the
        # fold is the maintenance point where mutation drift is paid for —
        # when the live count has moved past ROUTING_DRIFT_BOUND since the
        # curve was measured (or the stored curve predates held-out
        # measurement), re-measure here rather than letting recall_target
        # probe selection run on a curve for a corpus that no longer
        # exists. Already under the writer lock (folds run inside
        # insert/delete), so the meta save inside tune_routing is safe.
        # An index folded down to <= 1 live row has nothing to measure:
        # DROP the curve (recall_target then degrades to full fan-out)
        # instead of letting tune_routing raise on the empty corpus.
        if self.meta.shard_assignment == "kmeans" and self.meta.routing_recall_curve:
            # one live count shared by the staleness check and the
            # drop-vs-retune decision (the tuner re-reads live rows anyway):
            # the fold's write counted the touched shards, so only the
            # untouched ones are scanned, and only if there are any
            rest = sorted(set(range(int(self.meta.num_shards))) - touched)
            live = live_touched + (self._live(rest).count() if rest else 0)
            routing.refresh_after_fold(self, live, self.tune_routing)

    def reader_lease(self, ttl_seconds: float | None = None):
        """Context manager pinning this handle's snapshot against trash
        reclamation for long-paused readers (see index_util.reader_lease):
        within the TTL, sweeps retain superseded dirs instead of deleting
        them, so a read spanning 2+ maintenance cycles completes instead
        of fail-stopping with StaleIndexReadError."""
        from pgvectorscale_spark.operators.index_util import reader_lease

        return reader_lease(self.path, int(self.meta.epoch), ttl_seconds)

    def compact(self, lock_wait: float = 0.0) -> "DiskannIndex":
        """Rebuild from live rows, dropping tombstones (periodic compaction).
        Serialized by the writer lock."""
        with self._writer_lock(wait=lock_wait):
            return self._compact_locked()

    def _compact_locked(self) -> "DiskannIndex":
        import shutil

        # inserted rows stay live through compaction, so the index/table
        # divergence (and the cost-routing guard it demands) survives it
        was_mutated = self.meta.has_mutations
        staging = os.path.join(self.path, "_staging_live")
        self.full_scan().write.mode("overwrite").parquet(staging)
        live = self.spark.read.parquet(staging).select(
            F.col("node_id").alias("vec_id"), F.col("vector").alias("embedding"), "labels"
        )
        idx = DiskannIndex.build(
            live,
            self.path,
            distance_type=self.meta.distance_type,
            storage_type=self.meta.storage_type,
            num_neighbors=self.meta.num_neighbors,
            search_list_size=self.meta.search_list_size,
            max_alpha=self.meta.max_alpha,
            num_dimensions=self.meta.num_dimensions_to_index,
            bits_per_dimension=self.meta.bits_per_dimension,
            num_shards=self.meta.num_shards,
            label_col="labels" if self.meta.has_labels else None,
            shard_assignment=self.meta.shard_assignment,
            _locked=True,  # caller already holds the writer lock
        )
        shutil.rmtree(staging, ignore_errors=True)
        if was_mutated:
            idx.meta.has_mutations = True
            idx.meta.save(idx.path)
        self.meta = idx.meta
        return idx


def _meta_dict(meta: IndexMeta) -> dict:
    return {
        "distance_type": meta.distance_type,
        "storage_type": meta.storage_type,
        "num_dimensions": meta.num_dimensions,
        "num_dimensions_to_index": meta.num_dimensions_to_index,
        "num_neighbors": meta.num_neighbors,
        "search_list_size": meta.search_list_size,
        "max_alpha": meta.max_alpha,
        "has_labels": meta.has_labels,
    }
