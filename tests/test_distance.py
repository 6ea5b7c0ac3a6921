"""Distance-kernel semantics (FIXTURES.md F5/F6; reference build.rs:1475-1556)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgvectorscale_spark.functions.distance import (
    cosine_distance,
    inner_product_distance,
    l2_distance_squared,
    l2_normalize,
    np_cosine_distance,
    np_hamming,
    np_inner_product_distance,
    np_l2_squared,
)


@pytest.fixture(scope="module")
def f5(spark):
    return spark.createDataFrame(
        [(1, [1.0, 1.0, 1.0]), (2, [2.0, 2.0, 2.0]), (3, [3.0, 3.0, 3.0])],
        "id long, embedding array<float>",
    )


def _dists(f5, expr):
    return {r["id"]: r["d"] for r in f5.select("id", expr.alias("d")).collect()}


def test_l2_is_squared(f5):
    q = F.array(F.lit(2.0), F.lit(2.0), F.lit(2.0))
    d = _dists(f5, l2_distance_squared(F.col("embedding"), q))
    # squared-L2: [1,1,1] and [3,3,3] both at 3.0, [2,2,2] at 0
    assert d[2] == 0.0 and d[1] == 3.0 and d[3] == 3.0


def test_inner_product_prefers_largest(f5):
    q = F.array(F.lit(1.0), F.lit(1.0), F.lit(1.0))
    d = _dists(f5, inner_product_distance(F.col("embedding"), q))
    # distance = -dot → [3,3,3] is closest regardless of query scale
    assert d[3] < d[2] < d[1]


def test_cosine_collinear_all_zero(f5):
    q = F.array(F.lit(5.0), F.lit(5.0), F.lit(5.0))
    d = _dists(f5, cosine_distance(F.col("embedding"), q))
    for v in d.values():
        assert abs(v) < 1e-12  # all collinear → distance 0, clamped ≥ 0


def test_normalize_zero_vector_passthrough(spark):
    df = spark.createDataFrame([([0.0, 0.0, 0.0],)], "v array<float>")
    out = df.select(l2_normalize(F.col("v")).alias("n")).collect()[0]["n"]
    assert out == [0.0, 0.0, 0.0]


@pytest.mark.parametrize("dims", [3, 256])
def test_normalize_matches_quadratic_form(spark, dims):
    """``l2_normalize`` and its SQL twin fold the norm once per row; both
    equal the former form, which re-evaluated the norm per element."""
    from pgvectorscale_spark.functions.distance import _as_double, _l2_normalize_sql, l2_norm

    rng = np.random.default_rng(dims)
    rows = [(i, rng.normal(size=dims).astype(np.float32).tolist()) for i in range(4)]
    with_null = rng.normal(size=dims).astype(np.float32).tolist()
    with_null[dims // 2] = None
    rows += [(4, [0.0] * dims), (5, with_null), (6, None)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    v = F.col("v")
    norm = l2_norm(v)
    quadratic = F.when(norm == 0.0, v.cast("array<double>")).otherwise(
        F.transform(v, lambda x: _as_double(x) / norm)
    )
    got = df.select(
        "id",
        quadratic.alias("want"),
        l2_normalize(v).alias("col"),
        F.expr(_l2_normalize_sql("v")).alias("sql"),
    ).orderBy("id").collect()
    assert len(got) == 7
    for r in got:
        assert r["col"] == r["want"] and r["sql"] == r["want"], r["id"]
    assert got[4]["want"] == [0.0] * dims
    assert got[5]["want"] == [None] * dims
    assert got[6]["want"] is None


def test_numpy_twins_match_sql(spark):
    rng = np.random.default_rng(42)
    mat = rng.random((50, 16), dtype=np.float32)
    q = rng.random(16, dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(50)], "id long, v array<float>"
    )
    qlit = F.array(*[F.lit(float(x)) for x in q])
    sql_res = df.select(
        "id",
        cosine_distance(F.col("v"), qlit).alias("cos"),
        l2_distance_squared(F.col("v"), qlit).alias("l2"),
        inner_product_distance(F.col("v"), qlit).alias("ip"),
    ).toPandas().set_index("id").sort_index()
    np.testing.assert_allclose(sql_res["cos"], np_cosine_distance(mat, q), rtol=1e-9)
    np.testing.assert_allclose(sql_res["l2"], np_l2_squared(mat, q), rtol=1e-9)
    np.testing.assert_allclose(sql_res["ip"], np_inner_product_distance(mat, q), rtol=1e-9)


def test_hamming_kernel():
    codes = np.array([[0b1010, 0], [0b1111, 1]], dtype=np.uint64)
    q = np.array([0b0000, 0], dtype=np.uint64)
    assert np_hamming(codes, q).tolist() == [2, 5]
