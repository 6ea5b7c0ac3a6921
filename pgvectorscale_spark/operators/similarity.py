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
import pandas as pd
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
    only the constant (no per-row struct overhead in the matrix form).
    ``_kmeans_fit`` (the DiskANN build and ``kmeans_centroids``) enforces
    it: it refuses a centroid count whose matrix (and per-centroid sums)
    would pass its collect budget before any Lloyd round."""
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


_SUMS_SCHEMA = "cid long, n long, vsum array<double>, dim_n array<long>, max_len long"


def _centroid_sums(batches, cmat: np.ndarray, vector_col: str):
    """One Lloyd round's partial sums over a partition: each row goes to
    its nearest centroid (``_assign_nearest``'s rules: squared L2, ties to
    the lowest index, NULL and length-mismatched vectors to index 0), and
    each centroid gets its row count and float64 vector sum. Per-dimension
    element counts (``dim_n``) ship only for a centroid that received a
    short row or a NULL element — the rows the former posexplode → avg
    chain counted per dimension; elsewhere they all equal ``n``."""
    k, d = cmat.shape
    idx = np.arange(k, dtype=np.int64)
    n = np.zeros(k, dtype=np.int64)
    sums = np.zeros((k, d))
    dim_n = np.zeros((k, d), dtype=np.int64)
    odd = np.zeros(k, dtype=bool)
    max_len = -1
    for pdf in batches:
        vec = pdf[vector_col].to_numpy()
        lens = np.fromiter((-1 if v is None else len(v) for v in vec), np.int64, len(vec))
        if not len(lens):
            continue
        max_len = max(max_len, int(lens.max()))
        full = np.flatnonzero(lens == d)
        mat = np.stack(vec[full]).astype(np.float64) if len(full) else np.zeros((0, d))
        sel = _nearest(mat, idx, cmat, "l2")[0] if len(full) else idx[:0]
        bad = np.isnan(mat).any(axis=1)
        good = ~bad
        if good.any():
            g, m = sel[good], mat[good]
            o = np.argsort(g, kind="stable")
            g, m = g[o], m[o]
            starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
            c = g[starts]
            sums[c] += np.add.reduceat(m, starts, axis=0)
            cnt = np.diff(np.r_[starts, len(g)])
            n[c] += cnt
            dim_n[c] += cnt[:, None]
        # rows outside the fast path: NULL elements (their row is nearest
        # to nothing, so index 0 like a mismatched row), short and long rows
        slow = [mat[i] for i in np.flatnonzero(bad)]
        slow_at = [int(sel[i]) for i in np.flatnonzero(bad)]
        for i in np.flatnonzero((lens >= 0) & (lens != d)):
            slow.append(np.asarray(vec[i], dtype=np.float64)[:d])
            slow_at.append(0)
        for v, c in zip(slow, slow_at):
            ok = ~np.isnan(v)
            n[c] += 1
            sums[c, : len(v)] += np.where(ok, v, 0.0)
            dim_n[c, : len(v)] += ok
            odd[c] = True
    rows = [
        (int(c), int(n[c]), sums[c], dim_n[c] if odd[c] else None, max_len)
        for c in np.flatnonzero(n)
    ]
    yield pd.DataFrame(rows, columns=["cid", "n", "vsum", "dim_n", "max_len"])


_COLLECT_BUDGET_BYTES = 64 << 20


def _within_budget(df: DataFrame, task_bytes: int, budget: int) -> DataFrame:
    """``df`` coalesced (no shuffle) to at most ``budget // task_bytes``
    tasks, and at least one: a pass returning ``task_bytes`` of partial
    results per task then collects at most ``budget`` bytes (or one
    task's worth, when that alone is larger). Below the cap the
    partitioning is unchanged."""
    return df.coalesce(max(1, budget // max(1, task_bytes)))


def _refuse_centroid_collect(k: int, dims: int, budget: int) -> None:
    need = k * (dims + 1) * 8
    if need > budget:
        raise ValueError(
            f"k-means centroid sums need {need} bytes on the driver "
            f"({k} centroids x {dims} dims), over the "
            f"{budget}-byte collect budget: use fewer centroids"
        )


def _kmeans_fit(
    src: DataFrame,
    num_centroids: int,
    iterations: int,
    vector_col: str,
    id_col: str,
    budget: int,
    dims: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Lloyd iterations over ``src`` (persisted by the caller), returning
    (centroid ids ascending, float64 centroid matrix) on the driver.

    Seeds are the ``num_centroids`` lowest-id vectors (Spark's
    takeOrdered, which holds k rows on the driver), so the training is
    deterministic. Each round is ONE map-only pass (``_centroid_sums``)
    whose per-task (count, vector sum) per centroid the driver adds up in
    task order: no shuffle, one Spark job. The pass runs in at most
    ``budget // (k x (dims + 1) x 8)`` tasks, so the partial sums the
    driver collects stay within ``budget`` bytes whatever the input's
    partitioning. A centroid that no row reaches drops out, as an empty
    groupBy group did.

    One task's sums (k x (dims + 1) x 8 bytes) over ``budget`` refuse the
    fit before any round: checked after the seed collect, or before it
    when the caller passes ``dims``."""
    if dims is not None:
        _refuse_centroid_collect(num_centroids, dims, budget)
    cids, cmat = _rows_to_centroids(
        src.orderBy(F.col(id_col).asc())
        .limit(num_centroids)
        .select(F.col(id_col), F.col(vector_col).cast("array<double>"))
        .collect()
    )
    _refuse_centroid_collect(*cmat.shape, budget)
    if len(cids):
        src = _within_budget(src, cmat.size * 8 + len(cids) * 8, budget)
    for _ in range(iterations):
        if not len(cids):
            break
        b = src.sparkSession.sparkContext.broadcast(cmat)
        parts = (
            src.select(vector_col)
            .mapInPandas(
                lambda it: _centroid_sums(it, b.value, vector_col), schema=_SUMS_SCHEMA
            )
            .collect()
        )
        b.unpersist()
        k, d = cmat.shape
        n = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d))
        dim_n = np.zeros((k, d), dtype=np.int64)
        for r in parts:
            if r["max_len"] > d:
                raise ValueError(
                    f"k-means input has a {r['max_len']}-dimension vector; "
                    f"the seeds have {d}"
                )
            c = int(r["cid"])
            n[c] += r["n"]
            sums[c] += np.asarray(r["vsum"])
            dim_n[c] += r["n"] if r["dim_n"] is None else np.asarray(r["dim_n"])
        # avg per (centroid, dim) over the elements present; a centroid
        # holding only short rows comes out short, and the matrix ragged
        keep = np.flatnonzero(dim_n.max(axis=1) > 0) if d else np.flatnonzero(n)
        rows = [sums[c][dim_n[c] > 0] / dim_n[c][dim_n[c] > 0] for c in keep]
        cids = cids[keep]
        cmat = np.array(rows, dtype=np.float64) if rows else np.zeros((0, d))
    return cids, cmat


def kmeans_centroids(
    df: DataFrame,
    num_centroids: int = 16,
    iterations: int = 5,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd iterations: the quality upgrade over lowest-id seeds.

    Seeds are the lowest-id vectors, so the whole training is
    deterministic. Each round is one map-only pass returning per-task
    partial sums per centroid (``_kmeans_fit``); centroids stay tiny and
    driver-resident, and the corpus is scanned ``iterations`` times and
    never shuffled. Iterations run EAGERLY (one job per round) instead of
    unrolling into one lazy plan, so repeated actions on the result no
    longer re-train.

    Returns (centroid_id, centroid array<double>) — centroid_id ascending.
    """
    src = df.select(F.col(id_col), F.col(vector_col)).persist()
    try:
        cids, cmat = _kmeans_fit(
            src, num_centroids, iterations, vector_col, id_col, _COLLECT_BUDGET_BYTES
        )
        return df.sparkSession.createDataFrame(
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
