"""Exact brute-force k-NN — the engine's M0 operator and its ground-truth oracle.

This is the reference's own correctness method re-expressed: pgvectorscale
tests the index against an exact scan (`enable_indexscan=0`,
pgvectorscale/src/access_method/build.rs:1363-1396). Here the exact scan is a
first-class operator: it is simultaneously

- a shippable feature (small corpora / high-recall requirements),
- the oracle that every approximate operator is tested against, and
- the **rescore stage** (T2, scan.rs:244-305) reused by SBQ and DiskANN
  search: approximate candidates are joined back to full-precision vectors
  and re-ranked with these exact kernels.

Two physical strategies, same semantics:

- ``impl='sql'``: distance as a JVM-side higher-order-function fold. Fully
  declarative — Catalyst pushes filters/column pruning into the parquet scan;
  no Python boundary. Used for oracle parity (bit-deterministic fold).
- ``impl='numpy'``: mapInPandas; each Arrow batch is scored as one BLAS
  matrix op against the broadcast query matrix and reduced to a local top-k
  **before any shuffle** — at 100 TB only ``k × num_queries`` rows per batch
  leave the scan stage, so the global sort is trivial. This is the scale path.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pgvectorscale_spark.functions.distance import (
    distance_expr,
    matryoshka_slice,
    np_distance,
)

__all__ = ["search_exact", "search_exact_batch", "knn_join", "label_overlap_filter"]


def label_overlap_filter(df: DataFrame, label_col: str, labels: Sequence) -> Column:
    """`labels && ARRAY[...]` (S4, mod.rs:284-317): true iff the sets intersect.

    Array label columns use the built-in ``arrays_overlap``; scalar label
    columns degrade to ``IN``. NULL labels never match (an absent label set
    is the empty set — labels/mod.rs:188-204).
    """
    col = df[label_col]
    if df.schema[label_col].dataType.typeName() == "array":
        return F.coalesce(F.arrays_overlap(col, F.array([F.lit(x) for x in labels])), F.lit(False))
    return col.isin(list(labels))


def _score_sql(
    df: DataFrame,
    query_vec: Sequence[float],
    distance_type: str,
    vector_col: str,
    num_dims: int | None,
) -> DataFrame:
    vec = F.col(vector_col)
    qlit = F.array([F.lit(float(x)) for x in query_vec])
    if num_dims:
        vec = matryoshka_slice(vec, num_dims)
        qlit = F.slice(qlit, 1, num_dims)
    return df.withColumn("distance", distance_expr(vec, qlit, distance_type))


def search_exact(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    distance_type: str = "cosine",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    labels: Sequence | None = None,
    label_col: str = "label",
    num_dims: int | None = None,
) -> DataFrame:
    """Exact top-k for one query vector.

    NULL vectors are never indexed (build.rs:493-497) → excluded here too.
    A NULL/None query degrades to "return all rows in arbitrary order"
    (labels/mod.rs:214-216): we mirror that by scanning with distance 0.
    Ties broken by (distance, id) for reproducibility
    (graph/neighbor_with_distance.rs:74-83).
    """
    df = df.filter(F.col(vector_col).isNotNull())
    if labels is not None:
        df = df.filter(label_overlap_filter(df, label_col, labels))
    if query_vec is None:
        return df.withColumn("distance", F.lit(0.0)).limit(k)
    scored = _score_sql(df, query_vec, distance_type, vector_col, num_dims)
    return scored.orderBy(F.col("distance").asc(), F.col(id_col).asc()).limit(k)


def search_exact_batch(
    df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    distance_type: str = "cosine",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    impl: str = "numpy",
    num_dims: int | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Exact top-k for a DataFrame of queries (batch serving shape).

    ``round_to`` rounds the distance *before* ranking (ties then break on
    id) — used for cross-engine oracle parity where full-precision ordering
    is not reproducible across engines.

    Returns (query_id, <id_col>, distance, rank). The query set is broadcast;
    the corpus is scored in place (no corpus shuffle before the local top-k
    reduction).
    """
    if impl == "numpy":
        return _batch_numpy(
            df, queries_df, k, distance_type, vector_col, id_col, query_id_col, query_vec_col, num_dims
        )
    joined = df.filter(F.col(vector_col).isNotNull()).crossJoin(F.broadcast(queries_df))
    vec = F.col(vector_col)
    q = F.col(query_vec_col)
    if num_dims:
        vec, q = matryoshka_slice(vec, num_dims), F.slice(q, 1, num_dims)
    scored = joined.withColumn("distance", distance_expr(vec, q, distance_type))
    if round_to is not None:
        scored = scored.withColumn("distance", F.round("distance", round_to))
    w = Window.partitionBy(query_id_col).orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "distance", "rank")
    )


def _batch_numpy(
    df: DataFrame,
    queries_df: DataFrame,
    k: int,
    distance_type: str,
    vector_col: str,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    num_dims: int | None,
) -> DataFrame:
    """mapInPandas scale path: BLAS-score each Arrow batch, keep local top-k."""
    qrows = queries_df.select(query_id_col, query_vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    return _exact_topk(
        df, qids, qmat, k, distance_type, vector_col, id_col, query_id_col, num_dims
    )


def _exact_topk(
    df: DataFrame,
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    distance_type: str,
    vector_col: str,
    id_col: str,
    query_id_col: str = "query_id",
    num_dims: int | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """``search_exact_batch``'s numpy path for driver-held query vectors:
    (query_id, id, distance, *carry, rank), ``carry`` columns riding along
    from the corpus row. Each Arrow batch keeps its exact top-k per query
    (a superset of the global top-k), and a window ranks their union."""
    if num_dims:
        qmat = qmat[:, :num_dims]
    spark = df.sparkSession
    b_q = spark.sparkContext.broadcast((qids, qmat))

    src = df.filter(F.col(vector_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vector_col).alias("_vec"), *carry
    )

    def score(batches: Iterable[pd.DataFrame]):
        qids_l, qmat_l = b_q.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["_id"].to_numpy()
            mat = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
            if num_dims:
                mat = mat[:, :num_dims]
            out_qid, out_at, out_dist = [], [], []
            for qi in range(len(qids_l)):
                d = np_distance(mat, qmat_l[qi], distance_type)
                # local top-k before shuffle: argpartition then exact sort
                if len(d) > k:
                    part = np.argpartition(d, k)[:k]
                else:
                    part = np.arange(len(d))
                order = part[np.lexsort((ids[part], d[part]))]
                out_qid.extend([qids_l[qi]] * len(order))
                out_at.extend(order)
                out_dist.extend(d[order])
            out = pd.DataFrame(
                {query_id_col: out_qid, id_col: ids[out_at], "distance": out_dist}
            )
            for c in carry:
                out[c] = pdf[c].to_numpy()[out_at]
            yield out

    fields = [f"{query_id_col} long", f"{id_col} long", "distance double"]
    fields += [f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields[2:]]
    local = src.mapInPandas(score, schema=", ".join(fields))
    w = Window.partitionBy(query_id_col).orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return local.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 3,
    distance_type: str = "cosine",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """Exact k-NN join: for each left row, its k nearest right rows.

    Declarative (broadcast the smaller left side when used as a probe set);
    at 100 TB the approximate path (IVF/LSH buckets, operators/similarity.py)
    replaces the cross product — this exact form is the oracle.
    """
    l = left.select(F.col(id_col).alias("left_id"), F.col(vector_col).alias("_lv"))
    r = right.select(F.col(id_col).alias("right_id"), F.col(vector_col).alias("_rv"))
    joined = r.crossJoin(F.broadcast(l))
    if exclude_self:
        joined = joined.filter(F.col("left_id") != F.col("right_id"))
    scored = joined.withColumn(
        "distance", distance_expr(F.col("_lv"), F.col("_rv"), distance_type)
    )
    if round_to is not None:
        scored = scored.withColumn("distance", F.round("distance", round_to))
    w = Window.partitionBy("left_id").orderBy(F.col("distance").asc(), F.col("right_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("left_id", "right_id", "distance", "rank")
    )
