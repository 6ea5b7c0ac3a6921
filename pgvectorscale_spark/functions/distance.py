"""Distance kernels (reference: pgvectorscale/src/access_method/distance/mod.rs).

Two implementations of each kernel, same semantics:

1. **Column expressions** built from Spark higher-order functions
   (`zip_with` + `aggregate`) — these run JVM-side inside Catalyst plans, get
   filter/column pushdown for free, and never cross the Python boundary. The
   fold is sequential over the array, so results are bit-deterministic.
2. **numpy twins** (`np_*`) used inside Arrow-batched pandas UDFs where a
   whole candidate matrix is scored at once (the reference uses hand-written
   AVX2/NEON SIMD, distance/distance_x86.rs; BLAS-backed numpy matrix ops are
   the Spark-world equivalent).

Semantics replicated exactly from the reference:
- L2 returns the **squared** distance (sqrt skipped — order-only),
  distance/mod.rs:115-116.
- Cosine distance = max(0, 1 - dot) over L2-normalized vectors,
  distance/mod.rs:193-223; normalization at ingest/query skips zero vectors,
  distance/mod.rs:230-233.
- Inner-product distance = -dot (larger dot = closer), distance/mod.rs:173-190.
- Hamming over bit-packed u64 codes = XOR + popcount, distance/mod.rs:255-323.

All math is done in float64: inputs are float32 arrays; each element is cast
to double before multiply so the Spark fold and the DuckDB oracle compute the
identical expression.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "dot_product",
    "l2_distance_squared",
    "cosine_distance",
    "inner_product_distance",
    "l2_norm",
    "l2_normalize",
    "matryoshka_slice",
    "distance_expr",
    "dot_product_sql",
    "l2_distance_squared_sql",
    "cosine_distance_sql",
    "inner_product_distance_sql",
    "distance_sql",
    "np_l2_squared",
    "np_cosine_distance",
    "np_inner_product_distance",
    "np_normalize",
    "np_hamming",
    "np_distance",
]


def _as_double(x: Column) -> Column:
    return x.cast("double")


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in float64 (JVM-side, deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _as_double(x) * _as_double(y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_distance_squared(a: Column, b: Column) -> Column:
    """Squared L2 — matches the reference's order-only L2 (distance/mod.rs:115)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (_as_double(x) - _as_double(y)) * (_as_double(x) - _as_double(y))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def l2_normalize(a: Column) -> Column:
    """L2-normalize; zero vectors pass through unchanged (distance/mod.rs:230-233).

    Vectors whose norm is already ~1 are left alone in the reference as an
    optimization; dividing by a norm of 1.0 is a no-op so we divide
    unconditionally (same value, simpler plan).

    The norm is folded once per row, in the aggregate's finish lambda:
    referencing a norm column inside ``transform``'s lambda would make
    Spark re-evaluate the fold for every element (O(d²) per row). The
    double operations are those of ``sqrt(dot_product(a, a))``, so the
    output is unchanged, NULL elements and NULL arrays included.
    """
    return F.aggregate(
        a,
        F.lit(0.0),
        lambda acc, x: acc + _as_double(x) * _as_double(x),
        lambda acc: F.when(F.sqrt(acc) == 0.0, a.cast("array<double>")).otherwise(
            F.transform(a, lambda x: _as_double(x) / F.sqrt(acc))
        ),
    )


def cosine_distance(a: Column, b: Column, assume_normalized: bool = False) -> Column:
    """max(0, 1 - dot) on normalized inputs (distance/mod.rs:193-223)."""
    if not assume_normalized:
        a, b = l2_normalize(a), l2_normalize(b)
    return F.greatest(F.lit(0.0), F.lit(1.0) - dot_product(a, b))


def inner_product_distance(a: Column, b: Column) -> Column:
    """Negative dot product (distance/mod.rs:173-190)."""
    return -dot_product(a, b)


def matryoshka_slice(a: Column, num_dims: int) -> Column:
    """First-n-dims truncation for Matryoshka embeddings (pg_vector.rs:143-148)."""
    return F.slice(a, 1, num_dims)


def distance_expr(a: Column, b: Column, distance_type: str, assume_normalized: bool = False) -> Column:
    """Dispatch on DistanceType value ('cosine' | 'l2' | 'inner_product')."""
    if distance_type == "cosine":
        return cosine_distance(a, b, assume_normalized=assume_normalized)
    if distance_type == "l2":
        return l2_distance_squared(a, b)
    if distance_type == "inner_product":
        return inner_product_distance(a, b)
    raise ValueError(f"unknown distance type: {distance_type}")


# ---------------------------------------------------------------------------
# SQL-text twins of the column expressions — used by the vs.sql() front-end
# to rewrite `a <=> b` / `cosine_distance(a, b)` spellings into built-in
# higher-order-function SQL that Catalyst plans JVM-side (plans/sql_frontend).
# Math identical to the Column builders above: float64 sequential fold.
# ---------------------------------------------------------------------------


def dot_product_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _l2_normalize_sql(a: str) -> str:
    # one norm fold per row (see l2_normalize)
    return (
        f"aggregate({a}, cast(0.0 as double), "
        f"(acc, x) -> acc + cast(x as double) * cast(x as double), "
        f"acc -> CASE WHEN sqrt(acc) = 0.0 THEN cast({a} as array<double>) "
        f"ELSE transform({a}, x -> cast(x as double) / sqrt(acc)) END)"
    )


def l2_distance_squared_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> (cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def cosine_distance_sql(a: str, b: str) -> str:
    return (
        f"greatest(cast(0.0 as double), cast(1.0 as double) - "
        f"{dot_product_sql(_l2_normalize_sql(a), _l2_normalize_sql(b))})"
    )


def inner_product_distance_sql(a: str, b: str) -> str:
    return f"-{dot_product_sql(a, b)}"


def distance_sql(a: str, b: str, distance_type: str) -> str:
    if distance_type == "cosine":
        return cosine_distance_sql(a, b)
    if distance_type == "l2":
        return l2_distance_squared_sql(a, b)
    if distance_type == "inner_product":
        return inner_product_distance_sql(a, b)
    raise ValueError(f"unknown distance type: {distance_type}")


# ---------------------------------------------------------------------------
# numpy twins — operate on (n, d) matrices against a (d,) or (m, d) query.
# Used inside pandas UDFs / mapInPandas where whole Arrow batches are scored.
# ---------------------------------------------------------------------------


def np_l2_squared(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    diff = mat.astype(np.float64) - q.astype(np.float64)
    return np.einsum("ij,ij->i", diff, diff)


def np_normalize(mat: np.ndarray) -> np.ndarray:
    mat = mat.astype(np.float64)
    norms = np.linalg.norm(mat, axis=-1, keepdims=True)
    # zero vectors stay unnormalized (distance/mod.rs:230-233)
    safe = np.where(norms == 0.0, 1.0, norms)
    return mat / safe


def np_cosine_distance(mat: np.ndarray, q: np.ndarray, assume_normalized: bool = False) -> np.ndarray:
    if not assume_normalized:
        mat = np_normalize(mat)
        q = np_normalize(q.reshape(1, -1) if q.ndim == 1 else q)
        if q.shape[0] == 1:
            q = q[0]
    return np.maximum(0.0, 1.0 - mat.astype(np.float64) @ q.astype(np.float64))


def np_inner_product_distance(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    return -(mat.astype(np.float64) @ q.astype(np.float64))


def np_distance_pairwise(
    mat: np.ndarray, qs: np.ndarray, distance_type: str, assume_normalized: bool = False
) -> np.ndarray:
    """(len(qs), len(mat)) distance matrix in one vectorized shot — the
    batched twin of :func:`np_distance` for routing loops that otherwise
    call it once per query (one GEMM per Arrow batch instead of
    batch-many GEMVs). cosine/IP are a single float64 matmul; l2 keeps
    the elementwise (diff * diff) formula of :func:`np_l2_squared`
    (NOT the ||a||^2+||b||^2-2ab expansion, which changes rounding),
    chunked over queries so the (chunk, n, d) broadcast stays ~64 MB
    regardless of batch size."""
    mat = mat.astype(np.float64)
    qs = qs.astype(np.float64)
    if distance_type == "cosine":
        if not assume_normalized:
            mat = np_normalize(mat)
            qs = np_normalize(qs)
        return np.maximum(0.0, 1.0 - qs @ mat.T)
    if distance_type == "inner_product":
        return -(qs @ mat.T)
    if distance_type == "l2":
        n, d = mat.shape
        chunk = max(1, (64 << 20) // max(1, n * d * 8))
        out = np.empty((len(qs), n), dtype=np.float64)
        for s in range(0, len(qs), chunk):
            diff = qs[s : s + chunk, None, :] - mat[None, :, :]
            out[s : s + chunk] = np.einsum("qij,qij->qi", diff, diff)
        return out
    raise ValueError(f"unknown distance type: {distance_type}")


def np_distance(mat: np.ndarray, q: np.ndarray, distance_type: str, assume_normalized: bool = False) -> np.ndarray:
    if distance_type == "cosine":
        return np_cosine_distance(mat, q, assume_normalized=assume_normalized)
    if distance_type == "l2":
        return np_l2_squared(mat, q)
    if distance_type == "inner_product":
        return np_inner_product_distance(mat, q)
    raise ValueError(f"unknown distance type: {distance_type}")


# popcount lookup table for uint8 lanes — the numpy analog of the reference's
# unrolled XOR+popcount kernel (distance/mod.rs:255-323).
_POPCOUNT_LUT = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1).astype(np.uint16)


# numpy >= 2.0 check hoisted to import time (round 15): np_hamming is the
# beam walk's innermost distance call (~30 invocations per probed query);
# the per-call hasattr + np.__getattr__ lookup pair was ~5 s of a 44 s
# serial probe sweep at the 64x bench point (guide §4.2 — per-call numpy
# overhead dominates tiny kernels).
_BITWISE_COUNT = getattr(np, "bitwise_count", None)


def np_hamming(codes: np.ndarray, qcode: np.ndarray) -> np.ndarray:
    """Hamming distance between packed codes.

    codes: (n, w) uint64 matrix; qcode: (w,) uint64. Returns (n,) int64.
    Any shapes that broadcast work: the bits are summed over the last
    axis, e.g. (B, K, w) codes against (B, 1, w) queries give (B, K).
    """
    x = np.bitwise_xor(codes, qcode)
    if _BITWISE_COUNT is not None:  # numpy >= 2.0
        return _BITWISE_COUNT(x).sum(axis=-1).astype(np.int64)
    b = x.view(np.uint8)
    return _POPCOUNT_LUT[b].sum(axis=-1).astype(np.int64)
