"""Partition routing shared by both index families.

A query reaches a DiskANN shard or an IVF cell the same way: rank the
partition table (one centroid per partition) by distance to the query and
probe the p nearest, widened by every partition that holds one of the
query's labels. The families differ only in where the partition table
comes from (DiskANN's ``routing.parquet``, IVF's centroid generation) and
which node column names a row's home partition (``shard`` /
``centroid_id``); everything else lives here:

- ``nearest_partitions``: the top-p kernel, one distance GEMM per query
  batch, ties broken by partition id; ``probe_lists`` (driver-held
  queries) and ``route_frame`` (a distributed query frame) add the label
  widening;
- ``tune`` / ``tune_curve``: the held-out routing-recall curve stamped in
  the meta, ``curve_stale`` / ``refresh_after_fold`` its staleness
  contract and ``auto_probe`` the ``recall_target`` lookup;
- ``LabelCoverage``: the (partition, label) coverage sidecar, read on the
  driver with pyarrow behind a per-snapshot memo.
"""

from __future__ import annotations

import os
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgvectorscale_spark.functions.distance import np_distance_pairwise

__all__ = [
    "ROUTING_DRIFT_BOUND",
    "LabelCoverage",
    "auto_probe",
    "curve_stale",
    "nearest_partitions",
    "probe_lists",
    "query_frame",
    "refresh_after_fold",
    "route_frame",
    "tune",
    "tune_curve",
]

# Live-count drift past this fraction of the tuned-at count marks the
# routing-recall curve stale (folds then re-tune). 0.25 keeps re-tunes
# rare (one exact pass per 25% corpus churn) while bounding how far the
# centroids/contents the curve was measured against can drift.
ROUTING_DRIFT_BOUND = 0.25


def nearest_partitions(
    pids: np.ndarray, cents: np.ndarray, qmat: np.ndarray, distance_type: str, p: int
) -> np.ndarray:
    """(queries, min(p, partitions)) partition ids, nearest first.

    One ``np_distance_pairwise`` GEMM for the whole batch; cosine
    normalizes both sides first (centroids of unit vectors are not unit,
    so routing ranks by angle, not centroid magnitude); l2 keeps
    ``np_l2_squared``'s elementwise formula, so its distances equal the
    per-query ``np_distance`` bit for bit. Equal distances rank by
    partition id, so the result does not depend on the table's row order."""
    qmat = np.asarray(qmat, dtype=np.float64).reshape(-1, cents.shape[1])  # 0 or 1 queries too
    d = np_distance_pairwise(cents, qmat, distance_type)
    order = np.lexsort((np.broadcast_to(pids, d.shape), d), axis=-1)[:, :p]
    return pids[order]


def probe_lists(
    table: tuple[np.ndarray, np.ndarray],
    qmat: np.ndarray,
    distance_type: str,
    p: int,
    extra: Sequence[int] = (),
) -> list[list[int]]:
    """Per query, the ascending ids of its ``p`` nearest partitions plus
    ``extra`` (the label-coverage widening)."""
    near = nearest_partitions(*table, qmat, distance_type, p)
    extra = {int(x) for x in extra}
    return [sorted(extra.union(row.tolist())) for row in near]


def query_frame(queries_df: DataFrame, id_col: str, vec_col: str) -> tuple[DataFrame, str]:
    """(query_id long, query_vec) of a query frame, and the vector's type.
    The vector keeps the query column's element type: float32-at-rest
    vectors ship through the routed fan-out as array<float>, half the
    bytes of array<double>, and every kernel scores in float64, so the
    distances are unchanged."""
    from pyspark.sql.types import ArrayType, FloatType

    qf = queries_df.schema[vec_col].dataType
    floats = isinstance(qf, ArrayType) and isinstance(qf.elementType, FloatType)
    vec_t = "array<float>" if floats else "array<double>"
    q = queries_df.select(
        F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).cast(vec_t).alias("query_vec")
    )
    return q, vec_t


def route_frame(
    queries: DataFrame, table, distance_type: str, p: int, extra: Sequence[int],
    part_col: str, vec_col: str, vec_t: str,
) -> DataFrame:
    """Distributed routing for a (query_id, query_vec) frame: each Arrow
    batch runs ``probe_lists`` against the broadcast partition table and
    fans every query out to one (``part_col``, query_id, ``vec_col``) row
    per probed partition — no collect, |Q| x p output rows."""
    import pandas as pd

    bc = queries.sparkSession.sparkContext.broadcast((table, distance_type, int(p), list(extra)))

    def route_fn(batches):
        table_l, dt, p_l, extra_l = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            qm = np.stack(pdf["query_vec"].to_numpy()).astype(np.float64)
            o_p, o_q, o_v = [], [], []
            for qid, vec, parts in zip(
                pdf["query_id"].tolist(), pdf["query_vec"].tolist(),
                probe_lists(table_l, qm, dt, p_l, extra_l),
            ):
                o_p += parts
                o_q += [qid] * len(parts)
                o_v += [vec] * len(parts)
            yield pd.DataFrame({part_col: o_p, "query_id": o_q, vec_col: o_v})

    return queries.mapInPandas(route_fn, f"{part_col} int, query_id long, {vec_col} {vec_t}")


def tune(index, table, live: DataFrame, part_col: str, sample_queries: int, k: int, held_out: bool):
    """``tune_curve`` over a fresh count of ``live`` and ``sample_queries``
    of its rows in xxhash64(node_id) order, ties by id. NOT smallest-id
    order: k-means seeding is lowest-id (similarity.kmeans_centroids), so
    a lowest-id sample is exactly the set of vectors the cells were grown
    around and saturates the curve at p=1 regardless of how real queries
    route. The DiskANN build takes the same sample from its corpus facts
    pass."""
    if table is None:
        raise ValueError(
            f"index at {index.path} has no partition table: the recall curve "
            "needs a kmeans-partitioned index with rows"
        )
    live_count = live.count()
    rows = (
        live.select("node_id", "vector")
        .orderBy(F.xxhash64("node_id").asc(), F.col("node_id").asc())
        .limit(int(sample_queries))
        .collect()
    )
    qids = np.array([int(r["node_id"]) for r in rows], dtype=np.int64)
    qmat = np.array([r["vector"] for r in rows], dtype=np.float64)
    return tune_curve(index, table, live, live_count, qids, qmat, part_col, k, held_out)


def tune_curve(
    index, table, live: DataFrame, live_count: int, qids: np.ndarray,
    qmat: np.ndarray, part_col: str, k: int, held_out: bool,
) -> dict[str, float]:
    """Measure the routing-recall curve and stamp it in the meta.

    One exact top-(k+1) pass over ``live`` (node_id, vector, ``part_col``)
    carries each neighbor's home partition; curve[p] is the fraction of
    the sample's true neighbors whose partition is among the query's p
    nearest (p on a doubling ladder ending at every partition). Held out,
    each query's own row is dropped from its neighbors, so the curve
    measures what a fresh query from the corpus distribution routes like.
    The curve is stamped with ``live_count`` for ``curve_stale``."""
    from pgvectorscale_spark.operators.knn import _exact_topk

    meta = index.meta
    if not len(qids):
        raise ValueError("cannot tune the recall curve on an empty index")
    if held_out and live_count <= 1:
        raise ValueError(
            "cannot tune the recall curve held-out on a 1-row index: a "
            "held-out query has no neighbors left to route to"
        )
    # held-out: ask for k+1 and drop each query's own row (if present), so
    # every query keeps its k nearest OTHER vectors from one exact pass
    topk = _exact_topk(
        live, qids, qmat, k + 1 if held_out else k, meta.distance_type,
        "vector", "node_id", carry=(part_col,),
    ).collect()
    by_q: dict[int, list[int]] = {}
    part_of: dict[int, int] = {}
    for r in sorted(topk, key=lambda r: (int(r["query_id"]), int(r["rank"]))):
        qid, nid = int(r["query_id"]), int(r["node_id"])
        if held_out and nid == qid:
            continue
        if len(by_q.setdefault(qid, [])) < k:
            by_q[qid].append(nid)
            part_of[nid] = int(r[part_col])
    n_parts = len(table[0])
    ranked = nearest_partitions(*table, qmat, meta.distance_type, n_parts)
    # p = 1, 2, 4, ... below n_parts, then n_parts
    ladder = [1 << i for i in range(max(n_parts - 1, 0).bit_length())] + [n_parts]
    curve: dict[str, float] = {}
    for p in ladder:
        tot = hit = 0
        for qid, row in zip(np.asarray(qids).tolist(), ranked):
            probed = set(row[:p].tolist())
            for nid in by_q.get(qid, []):
                tot += 1
                hit += int(part_of[nid] in probed)
        curve[str(p)] = round(hit / max(tot, 1), 4)
    meta.routing_recall_curve = curve
    meta.routing_recall_k = int(k)
    meta.routing_recall_held_out = bool(held_out)
    meta.routing_tuned_nodes = int(live_count)
    meta.save(index.path)
    return curve


def curve_stale(meta, count_live, drift: float | None = None, live_count: int | None = None) -> bool:
    """True when the stored curve no longer describes the corpus:
    unstamped (pre-field metas), measured in-sample, or live-count drift
    beyond ``drift`` (default ``ROUTING_DRIFT_BOUND``). ``count_live()``
    counts the corpus unless the caller passes ``live_count``."""
    if not meta.routing_recall_curve:
        return False  # nothing to be stale
    if not meta.routing_tuned_nodes or not meta.routing_recall_held_out:
        return True
    bound = ROUTING_DRIFT_BOUND if drift is None else float(drift)
    live = count_live() if live_count is None else int(live_count)
    tuned = meta.routing_tuned_nodes
    return abs(live - tuned) / max(tuned, 1) > bound


def refresh_after_fold(index, live_count: int, retune) -> None:
    """The fold is where mutation drift is paid for: re-measure a stale
    curve with ``retune(k=...)``, or DROP it when at most one live row is
    left to measure (``recall_target`` then degrades to probing every
    partition). Runs under the writer lock the fold holds."""
    meta = index.meta
    if not curve_stale(meta, None, live_count=live_count):
        return
    if live_count > 1:
        retune(k=meta.routing_recall_k or 10)
    else:
        meta.routing_recall_curve = {}
        meta.routing_tuned_nodes = 0
        meta.save(index.path)


def auto_probe(index, recall_target: float, tuner: str) -> int:
    """Smallest probe count whose measured routing recall reaches the
    target (every partition when none does — which cannot happen for a
    stored curve, whose last point is 1.0 by construction)."""
    curve = index.meta.routing_recall_curve
    if not curve:
        raise ValueError(
            f"index at {index.path} has no recall curve: build with "
            f"{tuner}=True or call {tuner}()"
        )
    for p in sorted(int(x) for x in curve):
        if curve[str(p)] >= recall_target:
            return p
    return int(index.meta.num_shards)


class LabelCoverage:
    """The tiny (partition, label) coverage sidecar: which partitions hold
    at least one row bearing each label, so a labelled query also probes
    the partitions of a rare label the centroid ranking would skip.

    One parquet file of int32 ``columns`` (their order is the file's),
    published atomically; rows are tuples in that column order. Read on
    the driver with pyarrow (no Spark job) behind a memo keyed by the
    meta snapshot. Deletes may leave stale pairs: widening then over-
    probes, never under-probes."""

    def __init__(self, index_path: str, file_name: str, columns: tuple[str, str]):
        self.file = os.path.join(index_path, file_name)
        self.columns = columns
        self._memo = None

    def pairs(self) -> set[tuple[int, int]] | None:
        """Stored rows, or None when the file is absent."""
        import pyarrow.parquet as papq

        from pgvectorscale_spark.operators.index_util import file_exists

        if not (os.path.isfile(self.file) or file_exists(self.file)):
            return None
        # ParquetFile, not read_table: the dataset reader behind
        # read_table costs the driver ~5 MB of RSS
        d = papq.ParquetFile(self.file).read(use_threads=False).to_pydict()
        return set(zip(*(map(int, d[c]) for c in self.columns)))

    def write(self, rows) -> None:
        import pyarrow as pa

        from pgvectorscale_spark.operators.index_util import write_sidecar_atomic

        rows = sorted({tuple(int(x) for x in r) for r in rows})
        table = pa.Table.from_pydict(
            {c: [r[i] for r in rows] for i, c in enumerate(self.columns)},
            schema=pa.schema([(c, pa.int32()) for c in self.columns]),
        )
        write_sidecar_atomic(self.file, table)
        self._memo = None

    def partitions(self, meta, labels) -> set[int]:
        """Partitions holding any of ``labels``. A labelled index that
        holds rows but has no coverage file raises: it predates the file
        (or lost it), and answering from a corpus scan per query batch is
        the blowup the file exists to avoid."""
        token = (meta.build_id, meta.epoch, meta.delta_counter)
        if self._memo is None or self._memo[0] != token:
            rows = self.pairs()
            if rows is None:
                if meta.num_rows:
                    raise ValueError(
                        f"labelled index has no label coverage file {self.file}: "
                        "rebuild the index to write it"
                    )
                rows = set()
            li = self.columns.index("label")
            mapping: dict[int, set[int]] = {}
            for r in rows:
                mapping.setdefault(r[li], set()).add(r[1 - li])
            self._memo = (token, mapping)
        return {p for l in labels for p in self._memo[1].get(int(l), ())}
