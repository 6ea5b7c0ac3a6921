"""Similarity search beyond the graph index: IVF coarse quantization.

The scale path for batch ANN when a graph is overkill: partition the corpus
into Voronoi cells around centroids, search only the `nprobe` cells nearest
the query, rerank exactly. Fully declarative (joins + window top-k), so
Catalyst handles pushdown and the cell assignment is one shuffle.

Centroid choice is deterministic (the `num_centroids` lowest-id vectors) so
results are reproducible and the DuckDB oracle can replay the exact
computation. Swap in k-means centroids for quality at scale — the operator
shape (assign → probe → rerank) is unchanged.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgvectorscale_spark.functions.distance import distance_expr

__all__ = ["ivf_assign", "ivf_search", "kmeans_centroids"]


# ---------------------------------------------------------------------------
# Map-only nearest-centroid assignment (round 14, guide §2.4/§4.2).
#
# The assignment used to be `corpus crossJoin broadcast(centroids)` followed
# by `groupBy(id).agg(min_by(...))` — and min_by over a struct ordering key is
# not hash-aggregable, so Catalyst planned a SortAggregate: the n × centroids
# intermediate (WITH the vector column riding along for `first(vector)`) was
# sorted map-side, partially aggregated, and exchanged. At the 64× bench
# point (128k rows × 512 shards) that is a sort of 65M wide rows for an
# answer that is a pure per-row function of the broadcast centroid table.
#
# The rewrite is a single mapInPandas stage: the centroid matrix rides a
# broadcast, each Arrow batch computes its (rows × centroids) distance matrix
# in numpy and takes the argmin. ZERO shuffle, zero sort, and the per-pair
# float64 sequence is IDENTICAL to the SQL expressions it replaces — the
# distance matrix is accumulated dimension-by-dimension (`acc += term_d`),
# which is exactly Catalyst's sequential `aggregate(zip_with(...))` left fold
# (same cast-to-double per element, same 0.0 init, same add order), and the
# argmin scans centroids in ascending centroid_id order with strict `<`,
# which is exactly `min_by(cid, struct(dist, cid))`'s tie-break. Pinned by
# tests/test_round14_perf.py::test_assign_map_matches_sql_fold (exact float
# equality against the SQL fold on random data, all three distance types).
# ---------------------------------------------------------------------------


def _np_seq_fold_normalize(m: np.ndarray) -> np.ndarray:
    """Twin of functions.distance.l2_normalize: norm = sqrt(sequential fold
    of x*x); zero-norm rows pass through unchanged."""
    acc = np.zeros(m.shape[0])
    for d in range(m.shape[1]):
        x = m[:, d]
        acc += x * x
    norm = np.sqrt(acc)
    safe = np.where(norm == 0.0, 1.0, norm)
    out = m / safe[:, None]
    z = norm == 0.0
    if z.any():
        out[z] = m[z]
    return out


def _np_fold_distance_matrix(
    mat: np.ndarray, cmat: np.ndarray, distance_type: str
) -> np.ndarray:
    """(rows × centroids) float64 distances, flop-for-flop identical to
    distance_expr's sequential fold (see the block comment above)."""
    n, dims = mat.shape
    c = cmat.shape[0]
    if distance_type == "l2":
        acc = np.zeros((n, c))
        for d in range(dims):
            t = mat[:, d, None] - cmat[None, :, d]
            acc += t * t
        return acc
    if distance_type in ("cosine", "inner_product"):
        a, b = mat, cmat
        if distance_type == "cosine":
            a = _np_seq_fold_normalize(mat)
            b = _np_seq_fold_normalize(cmat)
        acc = np.zeros((n, c))
        for d in range(dims):
            acc += a[:, d, None] * b[None, :, d]
        if distance_type == "inner_product":
            return -acc
        return np.maximum(0.0, 1.0 - acc)
    raise ValueError(f"unknown distance type: {distance_type}")


def _nearest(
    mat: np.ndarray, cids: np.ndarray, cmat: np.ndarray, distance_type: str
) -> tuple[np.ndarray, np.ndarray]:
    """(nearest centroid id, its distance) per row of a float64 matrix —
    the argmin over ``_np_fold_distance_matrix``. ``cids`` must ascend:
    the first minimum wins, which is ``min_by(cid, struct(dist, cid))``'s
    tie-break. Shared by the build's shard assignment and insert routing."""
    m = mat.shape[0]
    sel = np.empty(m, dtype=np.int64)
    dmin = np.empty(m)
    # chunk rows so the (rows × centroids) temporaries stay cache-sized
    # regardless of batch size
    for s in range(0, m, 2048):
        dm = _np_fold_distance_matrix(mat[s : s + 2048], cmat, distance_type)
        # NaN sorts greater than every double in Spark orderings
        j = np.argmin(np.where(np.isnan(dm), np.inf, dm), axis=1)
        sel[s : s + len(j)] = cids[j]
        dmin[s : s + len(j)] = dm[np.arange(len(j)), j]
    return sel, dmin


def _rows_to_centroids(rows) -> tuple[np.ndarray, np.ndarray]:
    """Collected (centroid_id, vector) rows → (cids asc, matrix float64).

    Driver-memory bound (documented, round 15): every caller collects the
    full centroid set to the driver and broadcasts the float64 matrix —
    num_centroids × dims × 8 bytes (plus the same again on each executor).
    With sqrt(N)-scale centroid counts that is e.g. 1M centroids × 768
    dims ≈ 6 GB: size ``spark.driver.memory`` (and executor overhead) for
    it, or cap num_centroids near sqrt(corpus_rows). The bound is
    INHERITED, not new — the previous crossJoin shape broadcast the same
    centroid relation (and Spark caps any broadcast at 8 GB) — so the
    assignment kernel does not change which centroid counts are feasible,
    only the constant (no per-row struct overhead in the matrix form)."""
    rows = sorted(rows, key=lambda r: int(r[0]))
    cids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    if not len(rows):
        return cids, np.zeros((0, 0))
    cmat = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    return cids, cmat


def _assign_nearest(
    df: DataFrame,
    cids: np.ndarray,
    cmat: np.ndarray,
    distance_type: str,
    vector_col: str,
    dist_col: str | None = None,
) -> DataFrame:
    """df + `centroid_id` (long; nearest centroid, ties → lowest id) and
    optionally `dist_col` (unrounded double) — one map stage, no shuffle.

    Matches the old crossJoin+min_by semantics exactly: an empty centroid
    set yields an EMPTY frame (the crossJoin had nothing to pair); a NULL
    vector row keeps the lowest centroid_id with a NULL distance (every
    pair's distance was NULL, so the struct ordering fell through to the
    centroid_id tie-break). A vector whose LENGTH differs from the
    centroid dimensionality takes the same path (round 15, ADVICE): the
    old ``zip_with`` fold null-padded the shorter side, so every pair's
    distance was NULL and the row fell through to the lowest centroid_id
    — where a bare ``np.stack`` would instead raise in the Python worker
    and fail the whole job."""
    spark = df.sparkSession
    fields = list(df.schema.fields) + [T.StructField("centroid_id", T.LongType())]
    if dist_col is not None:
        fields.append(T.StructField(dist_col, T.DoubleType()))
    out_schema = T.StructType(fields)
    if not len(cids):
        return spark.createDataFrame([], out_schema)
    b = spark.sparkContext.broadcast((cids, cmat))
    vcol = vector_col

    def assign_batches(batches):
        cids_l, cmat_l = b.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vec = pdf[vcol]
            # NULL vectors AND length-mismatched vectors fall through to
            # the (lowest centroid_id, NULL distance) default — the old
            # zip_with fold's behavior for both (null padding → every
            # pair NULL → centroid_id tie-break).
            dim = cmat_l.shape[1]
            notna = vec.notna().to_numpy()
            mask = notna & np.fromiter(
                (m and len(v) == dim for v, m in zip(vec, notna)),
                dtype=bool,
                count=n,
            )
            cid_out = np.full(n, int(cids_l[0]), dtype=np.int64)
            dist_out = np.full(n, np.nan)
            if mask.any():
                mat = np.stack(vec[mask].to_numpy()).astype(np.float64)
                sel, dmin = _nearest(mat, cids_l, cmat_l, distance_type)
                cid_out[mask] = sel
                dist_out[mask] = dmin
            res = pdf.copy()
            res["centroid_id"] = cid_out
            if dist_col is not None:
                res[dist_col] = dist_out  # NaN → NULL through Arrow
            yield res

    return df.mapInPandas(assign_batches, schema=out_schema)


# Per-session memo of corpus→centroid assignments, keyed by the LOGICAL PLAN
# (Dataset.semanticHash) of the corpus + centroid frames and the assignment
# params. A query workload over one corpus pays the corpus × centroids
# assignment ONCE, not per query — the ivf_search default path then costs
# O(probed cells) per call like the persisted IvfIndex (which remains the
# durable scale path; this memo is its in-session twin). Round 14: each
# entry holds (centroids, wide) — the tiny centroid frame AND the
# assignment JOINED back to the vectors — so a query probes entirely from
# the persisted frames: the old per-call shape re-scanned the corpus
# parquet twice per query (once for the lowest-id centroid TakeOrdered,
# once for the candidates join); now both scans happen once at cache fill
# (guide §1.2 step 1: don't recompute what a prior pass already holds).
# Entries hold persisted DataFrames; eviction unpersists.
_ASSIGN_CACHE: OrderedDict[tuple, tuple] = OrderedDict()
_ASSIGN_CACHE_CAP = 4


_FINGERPRINT_STAT_CAP = 256


def _data_fingerprint(df: DataFrame) -> tuple:
    """Cheap data identity for file-backed frames. semanticHash covers only
    the LOGICAL PLAN — overwriting the files under an identical path/plan
    would otherwise serve a stale cached assignment for the rest of the
    session. The file LIST (hashed, so the key stays small) catches
    overwrites/appends/compactions on its own because parquet writers mint
    unique part-file names; per-file (size, mtime) stats sharpen that for
    same-name rewrites but are capped at _FINGERPRINT_STAT_CAP files — at
    corpus scale a
    per-lookup stat storm would dwarf the assignment the memo protects.
    Non-file sources return () — the plan hash already covers their data.
    """
    import hashlib
    import os
    from urllib.parse import urlparse

    files = sorted(df.inputFiles())
    if not files:
        return ()
    h = hashlib.md5("\n".join(files).encode())
    if len(files) <= _FINGERPRINT_STAT_CAP:
        for f in files:
            p = urlparse(f).path if "://" in f or f.startswith("file:") else f
            try:
                st = os.stat(p)
                h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
            except OSError:
                h.update(b"?")
    return (len(files), h.hexdigest())


def _probe_frames_cached(
    df: DataFrame,
    num_centroids: int,
    distance_type: str,
    vector_col: str,
    id_col: str,
    centroids_df: DataFrame | None,
) -> "tuple[DataFrame, DataFrame] | None":
    """(centroids, wide) persisted per (corpus plan, centroid plan, params):
    ``centroids`` is (centroid_id, _cv) and ``wide`` the assignment joined
    back to the vectors — (id, centroid_id, <vector_col>). Probing reads
    only these frames: no corpus parquet scan per query. Returns None when
    the plan has no stable identity (caller computes fresh)."""
    try:
        key = (
            # the application id scopes entries to THIS SparkContext:
            # semanticHash is deterministic across sessions, and a cached
            # DataFrame from a stopped context would fail on reuse
            df.sparkSession.sparkContext.applicationId,
            df._jdf.semanticHash(),
            # plan hash + file fingerprint: files overwritten/appended under
            # an unchanged plan rotate the key instead of serving stale rows
            _data_fingerprint(df),
            centroids_df._jdf.semanticHash() if centroids_df is not None else None,
            num_centroids,
            distance_type,
            vector_col,
            id_col,
        )
    except Exception:
        # no stable plan identity (e.g. a mocked frame): compute fresh
        return None
    hit = _ASSIGN_CACHE.get(key)
    if hit is not None:
        _ASSIGN_CACHE.move_to_end(key)
        return hit
    if centroids_df is not None:
        centroids = centroids_df.select("centroid_id", F.col("centroid").alias("_cv"))
    else:
        centroids = (
            df.orderBy(F.col(id_col).asc())
            .limit(num_centroids)
            .select(F.col(id_col).alias("centroid_id"), F.col(vector_col).alias("_cv"))
        )
    centroids = centroids.persist()
    # round 14: the assignment passes the vector through the map stage
    # (_assign_nearest), so `wide` needs no join back to the corpus — the
    # memo fill is one scan + one map, and the assignment itself is the
    # same bit-exact kernel ivf_assign uses
    cids, cmat = _rows_to_centroids(centroids.collect())
    wide = _assign_nearest(
        df.select(F.col(id_col), F.col(vector_col)),
        cids, cmat, distance_type, vector_col,
    ).persist()
    entry = (centroids, wide)
    _ASSIGN_CACHE[key] = entry
    while len(_ASSIGN_CACHE) > _ASSIGN_CACHE_CAP:
        _, old = _ASSIGN_CACHE.popitem(last=False)
        for frame in old:
            try:
                frame.unpersist()
            except Exception:
                pass
    return entry


def kmeans_centroids(
    df: DataFrame,
    num_centroids: int = 16,
    iterations: int = 5,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Declarative Lloyd iterations: the quality upgrade over lowest-id seeds.

    Each round = one map-only assignment (``_assign_nearest`` against the
    collected centroid matrix — round 14; the old broadcast-crossJoin +
    min_by SortAggregated an n × centroids intermediate per round) + one
    map-side-combined aggregate (posexplode -> avg per (cluster, dim));
    centroids stay tiny and driver-resident, the corpus is scanned
    ``iterations`` times and never shuffled whole (the shuffle carries
    num_centroids x dims partial sums per task). Seeds are the lowest-id
    vectors, so the whole training is deterministic. Iterations run
    EAGERLY (one job per round) instead of unrolling into one lazy plan,
    so repeated actions on the result no longer re-train.

    Returns (centroid_id, centroid array<double>) — centroid_id ascending.
    """
    spark = df.sparkSession
    src = df.select(F.col(id_col), F.col(vector_col)).persist()
    try:
        crows = (
            src.orderBy(F.col(id_col).asc())
            .limit(num_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vector_col).cast("array<double>").alias("_cv"),
            )
            .collect()
        )
        cids, cmat = _rows_to_centroids(crows)
        for _ in range(iterations):
            if not len(cids):
                break
            assigned = _assign_nearest(src, cids, cmat, "l2", vector_col)
            crows = (
                assigned.select("centroid_id", F.posexplode(vector_col).alias("dim", "v"))
                .groupBy("centroid_id", "dim")
                .agg(F.avg("v").alias("m"))
                .groupBy("centroid_id")
                .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_s"))
                .select(
                    "centroid_id",
                    F.expr("transform(_s, x -> x.m)").alias("_cv"),
                )
                .collect()
            )
            cids, cmat = _rows_to_centroids(crows)
        return spark.createDataFrame(
            [(int(c), [float(x) for x in v]) for c, v in zip(cids, cmat)],
            "centroid_id long, centroid array<double>",
        )
    finally:
        src.unpersist()


def ivf_assign(
    df: DataFrame,
    num_centroids: int = 16,
    distance_type: str = "l2",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """Assign every vector to its nearest centroid.

    Returns (id, centroid_id, assign_dist). Default centroids = vectors with
    the `num_centroids` lowest ids (deterministic, oracle-replayable); pass
    ``centroids_df`` (centroid_id, centroid) from kmeans_centroids for the
    quality path.

    Round 14: one map stage (``_assign_nearest``) instead of
    crossJoin+min_by — the old shape SortAggregated an n × centroids
    intermediate for a per-row answer (min_by on a struct key is not
    hash-aggregable). The numpy kernel replays the SQL fold's float64
    sequence exactly, so assignments and distances are unchanged.
    """
    if centroids_df is not None:
        crows = centroids_df.select("centroid_id", "centroid").collect()
    else:
        crows = (
            df.orderBy(F.col(id_col).asc())
            .limit(num_centroids)
            .select(F.col(id_col).alias("centroid_id"), F.col(vector_col).alias("_cv"))
            .collect()
        )
    cids, cmat = _rows_to_centroids(crows)
    assigned = _assign_nearest(
        df.select(F.col(id_col), F.col(vector_col)),
        cids, cmat, distance_type, vector_col, dist_col="_ad",
    )
    return assigned.select(
        F.col(id_col), "centroid_id", F.round(F.col("_ad"), 6).alias("assign_dist")
    )


def ivf_search(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    distance_type: str = "l2",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    centroids_df: DataFrame | None = None,
    assign_df: DataFrame | None = None,
    cache_assignment: bool = True,
) -> DataFrame:
    """IVF top-k: probe the nprobe cells nearest the query, exact rerank.

    Returns (id, distance) — distance rounded to 6dp for oracle parity.
    The corpus→centroid assignment (the only corpus-sized stage) is memoized
    per (corpus plan, centroid plan, params) for the session, so a query
    workload pays it once — per-query cost is then proportional to the
    probed cells, matching the persisted ``IvfIndex`` (the durable scale
    path). Pass ``assign_df`` (from your own ``ivf_assign``) to manage reuse
    explicitly, or ``cache_assignment=False`` to force a fresh assignment
    (e.g. when the underlying files changed beneath an identical plan).
    """
    qlit = F.array([F.lit(float(x)) for x in query_vec])
    wide = None
    if assign_df is not None:
        assign = assign_df
    elif cache_assignment:
        frames = _probe_frames_cached(
            df, num_centroids, distance_type, vector_col, id_col, centroids_df
        )
        if frames is not None:
            centroids, wide = frames
        else:
            assign = ivf_assign(df, num_centroids, distance_type, vector_col, id_col, centroids_df)
    else:
        assign = ivf_assign(df, num_centroids, distance_type, vector_col, id_col, centroids_df)
    if wide is None:
        if centroids_df is not None:
            centroids = centroids_df.select("centroid_id", F.col("centroid").alias("_cv"))
        else:
            centroids = (
                df.orderBy(F.col(id_col).asc())
                .limit(num_centroids)
                .select(F.col(id_col).alias("centroid_id"), F.col(vector_col).alias("_cv"))
            )
    probed = (
        centroids.withColumn("_qd", distance_expr(F.col("_cv"), qlit, distance_type))
        .orderBy(F.col("_qd").asc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .select("centroid_id")
    )
    if wide is not None:
        # memoized path (round 14): candidates come straight from the
        # persisted (id, centroid_id, vector) frame — the per-call plan
        # touches NO corpus parquet (the old shape re-scanned the corpus
        # for the centroid TakeOrdered and again for the candidate join).
        # Row set, distance expression, rounding and tie-break are
        # identical to the fresh path, so results are unchanged.
        cand = wide.join(F.broadcast(probed), "centroid_id")
    else:
        candidate_ids = assign.join(F.broadcast(probed), "centroid_id").select(id_col)
        cand = df.join(candidate_ids, id_col)
    return (
        cand
        .withColumn("distance", F.round(distance_expr(F.col(vector_col), qlit, distance_type), 6))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "distance")
    )
