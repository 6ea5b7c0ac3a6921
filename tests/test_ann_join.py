"""Corpus x corpus ANN join (DiskannIndex.ann_join, round 13): the query
side stays a distributed DataFrame end to end — no driver-side collect of
the query set — yet results must be IDENTICAL to search_batch on the same
inputs (same kernel, same tie-breaks). Plan gates pin the two-exchange
shape (shard fan-out, then query_id top-k)."""
from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest

from pgvectorscale_spark.operators.diskann import DiskannIndex, QueryStats
from tests.conftest import make_fixture_f1


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="ann_join_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def hash_idx(spark, tmpdir):
    df, mat = make_fixture_f1(spark, n=300, d=32)
    idx = DiskannIndex.build(
        df, f"{tmpdir}/hash_idx", distance_type="cosine", num_shards=3,
        id_col="id", vector_col="embedding",
    )
    return idx, mat


@pytest.fixture(scope="module")
def kmeans_idx(spark, tmpdir):
    rng = np.random.default_rng(31)
    n_clusters, per, d = 8, 150, 16
    centers = rng.normal(scale=5.0, size=(n_clusters, d))
    mat = np.concatenate(
        [centers[c] + rng.normal(scale=0.5, size=(per, d)) for c in range(n_clusters)]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))],
        "vec_id long, embedding array<float>",
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/km_idx", distance_type="l2", num_shards=8,
        shard_assignment="kmeans",
    )
    return idx, mat


def _qdf(spark, mat, ids):
    return spark.createDataFrame(
        [(int(i), mat[i].tolist()) for i in ids],
        "query_id long, query_vec array<float>",
    )


def _keyed(rows):
    return {(r["query_id"], r["rank"]): (r["node_id"], round(r["distance"], 9)) for r in rows}


def test_ann_join_equals_search_batch_full_fanout(spark, hash_idx):
    idx, mat = hash_idx
    qdf = _qdf(spark, mat, range(0, 40))
    got = _keyed(idx.ann_join(qdf, k=7, search_list_size=64, rescore=30).collect())
    want = _keyed(idx.search_batch(qdf, k=7, search_list_size=64, rescore=30).collect())
    assert got == want
    assert len(got) == 40 * 7


def test_ann_join_equals_search_batch_routed(spark, kmeans_idx):
    idx, mat = kmeans_idx
    rng = np.random.default_rng(7)
    queries = (mat[rng.integers(0, len(mat), size=25)]
               + rng.normal(scale=0.2, size=(25, mat.shape[1]))).astype(np.float32)
    qdf = spark.createDataFrame(
        [(i, queries[i].tolist()) for i in range(25)],
        "query_id long, query_vec array<float>",
    )
    for p in (1, 2, 8):
        got = _keyed(idx.ann_join(qdf, k=10, probe_shards=p).collect())
        want = _keyed(idx.search_batch(qdf, k=10, probe_shards=p).collect())
        assert got == want, f"probe_shards={p}"


def test_ann_join_routed_prunes_fanout(spark, kmeans_idx):
    """Routing actually prunes: with probe_shards=2 each query walks at
    most 2 shard graphs, exactly like search_batch."""
    idx, mat = kmeans_idx
    qdf = _qdf(spark, mat, range(0, 20))
    stats = QueryStats(spark)
    idx.ann_join(qdf, k=5, probe_shards=2, stats=stats).collect()
    assert stats.as_dict()["shard_searches"] <= 20 * 2


def test_ann_join_salted_partitioning_parity(spark, kmeans_idx):
    """partitions_per_shard > 1 (hot-shard salting) changes the physical
    fan-out only — results are bit-identical."""
    idx, mat = kmeans_idx
    qdf = _qdf(spark, mat, range(0, 30))
    base = _keyed(idx.ann_join(qdf, k=6, probe_shards=2).collect())
    salted = _keyed(
        idx.ann_join(qdf, k=6, probe_shards=2, partitions_per_shard=4).collect()
    )
    assert salted == base


def test_ann_join_labels_match_search_batch(spark, tmpdir):
    rng = np.random.default_rng(5)
    mat = rng.random((120, 16), dtype=np.float32)
    rows = [
        (i, mat[i].tolist(), [int(i % 4) + 1, 9] if i % 5 else [7])
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, labels array<smallint>"
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/lbl_idx", distance_type="cosine", num_shards=2,
        label_col="labels",
    )
    qdf = _qdf(spark, mat, range(0, 15))
    got = _keyed(idx.ann_join(qdf, k=5, labels=[7], search_list_size=128).collect())
    want = _keyed(idx.search_batch(qdf, k=5, labels=[7], search_list_size=128).collect())
    assert got == want and len(got) > 0
    # `labels && '{}'` is always false: an explicit empty filter -> no rows
    assert idx.ann_join(qdf, k=5, labels=[]).count() == 0


def test_ann_join_plan_two_exchanges_no_corpus_scan(spark, kmeans_idx):
    """The 100 TB plan gate: the routed join's physical plan exchanges on
    (shard, salt) for the fan-out and on query_id for the final top-k —
    and scans NOTHING corpus-sized (shard graphs are read worker-side via
    pyarrow, invisible to the plan; the only scan is the query rows)."""
    idx, mat = kmeans_idx
    qdf = _qdf(spark, mat, range(0, 10))
    plan = (
        idx.ann_join(qdf, k=5, probe_shards=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # round 14: the fan-out exchange keys on the collision-free proxy of
    # (shard, salt) — _pid — so every (shard, salt) group gets its own task
    assert "hashpartitioning(_pid" in plan
    assert "hashpartitioning(query_id" in plan
    assert "FileScan" not in plan and "Scan parquet" not in plan
    # exactly the two exchanges — any third would be a corpus-shaped shuffle
    assert plan.count("Exchange hashpartitioning") == 2


# ---------------------------------------------------------------------------
# IvfIndex.ann_join (round 13): same distributed-queries contract for the
# IVF family — probe map computed per Arrow batch against broadcast
# centroids, results identical to search_batch.
# ---------------------------------------------------------------------------


def test_ivf_ann_join_equals_search_batch(spark, tmpdir):
    from pgvectorscale_spark.operators.ivf_index import IvfIndex

    rng = np.random.default_rng(23)
    mat = rng.random((200, 12), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist(), [i % 4]) for i in range(200)],
        "vec_id long, embedding array<float>, labels array<smallint>",
    )
    idx = IvfIndex.build(
        df, f"{tmpdir}/ivf_aj", num_centroids=8, distance_type="l2", label_col="labels",
    )
    qdf = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(20)],
        "query_id long, query_vec array<float>",
    )
    cases = [dict(nprobe=p) for p in (1, 3, 8)] + [
        dict(nprobe=1, labels=[2]),
        dict(nprobe=2, labels=[0, 3]),
        dict(recall_target=0.9),
        dict(recall_target=0.9, labels=[1]),
    ]
    for kw in cases:
        got = _keyed(idx.ann_join(qdf, k=6, **kw).collect())
        want = _keyed(idx.search_batch(qdf, k=6, **kw).collect())
        assert got == want and len(got) == 20 * 6, kw
    # plan: no driver collect of queries — the probe map is a mapInPandas
    # over the query scan feeding the centroid_id join (Catalyst picks
    # broadcast at this tiny scale, hashpartitioning co-partitioning at
    # real scale — both are the distributed shape), then one query_id
    # exchange for the top-k window
    plan = (
        idx.ann_join(qdf, k=6, nprobe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert (
        "hashpartitioning(centroid_id" in plan or "BroadcastHashJoin" in plan
    ), plan
    assert "hashpartitioning(query_id" in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan  # batch routing


def test_ivf_ann_join_labeled(spark, tmpdir):
    from pgvectorscale_spark.operators.ivf_index import IvfIndex

    rng = np.random.default_rng(29)
    mat = rng.random((120, 8), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist(), [int(i % 3) + 1]) for i in range(120)],
        "vec_id long, embedding array<float>, labels array<smallint>",
    )
    idx = IvfIndex.build(
        df, f"{tmpdir}/ivf_aj_lbl", num_centroids=4, distance_type="l2",
        label_col="labels", tune_probing=False,
    )
    qdf = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(10)],
        "query_id long, query_vec array<float>",
    )
    got = _keyed(idx.ann_join(qdf, k=5, nprobe=1, labels=[2]).collect())
    want = _keyed(idx.search_batch(qdf, k=5, nprobe=1, labels=[2]).collect())
    assert got == want and len(got) > 0
    assert idx.ann_join(qdf, k=5, labels=[]).count() == 0


def test_ivf_ann_join_prune_cells_parity_and_pruning(spark, tmpdir):
    """prune_cells=True (the mid-size query-table option) returns the
    identical result AND its scan carries a centroid_id partition filter
    restricted to the probed cells — unprobed cell files unread."""
    from pgvectorscale_spark.operators.ivf_index import IvfIndex

    rng = np.random.default_rng(41)
    mat = rng.random((160, 8), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(160)],
        "vec_id long, embedding array<float>",
    )
    idx = IvfIndex.build(
        df, f"{tmpdir}/ivf_prune", num_centroids=8, distance_type="l2",
        tune_probing=False,
    )
    qdf = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(6)],
        "query_id long, query_vec array<float>",
    )
    base = _keyed(idx.ann_join(qdf, k=5, nprobe=2).collect())
    pruned_df = idx.ann_join(qdf, k=5, nprobe=2, prune_cells=True)
    pruned = _keyed(pruned_df.collect())
    assert pruned == base and len(pruned) == 6 * 5
    plan = pruned_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan


def test_ivf_ann_join_hot_cell_salting_parity_and_plan(spark, tmpdir):
    """partitions_per_cell (round 14, hot-cell salting): on a SKEWED
    corpus where one cell holds ~80% of the rows, the salted join must
    (a) return bit-identical results to the unsalted join and to
    search_batch, and (b) when the scoring join shuffles, exchange on
    (centroid_id, _salt) so the hot cell's work splits across ppc
    tasks instead of serializing through one."""
    from pgvectorscale_spark.operators.ivf_index import IvfIndex

    rng = np.random.default_rng(53)
    d = 8
    # 80% of rows in one tight cluster, 20% in one far-away cluster —
    # two well-separated clusters with num_centroids=2 makes the hot
    # cell deterministic regardless of kmeans initialization
    hot = rng.normal(loc=0.0, scale=0.05, size=(160, d))
    cold = rng.normal(loc=100.0, scale=0.05, size=(40, d))
    mat = np.concatenate([hot, cold]).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))],
        "vec_id long, embedding array<float>",
    )
    idx = IvfIndex.build(
        df, f"{tmpdir}/ivf_skew", num_centroids=2, distance_type="l2",
        tune_probing=False,
    )
    # verify the fixture is actually skewed: one cell >= 70% of rows
    sizes = sorted(
        (r[1] for r in idx.live_nodes().groupBy("centroid_id").count().collect()),
        reverse=True,
    )
    assert sizes[0] >= 0.7 * len(mat), f"fixture not skewed: {sizes}"
    qdf = _qdf(spark, mat, range(0, 30))
    want = _keyed(idx.search_batch(qdf, k=6, nprobe=2).collect())
    unsalted = _keyed(
        idx.ann_join(qdf, k=6, nprobe=2, partitions_per_cell=1).collect()
    )
    salted = _keyed(
        idx.ann_join(qdf, k=6, nprobe=2, partitions_per_cell=4).collect()
    )
    assert unsalted == want and salted == want and len(want) == 30 * 6
    # plan: force the shuffle join (no broadcast) and pin the salted key
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            idx.ann_join(qdf, k=6, nprobe=2, partitions_per_cell=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "hashpartitioning(centroid_id" in plan and "_salt" in plan, plan
    # unsalted keeps the plain key — no stray salt column
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain = (
            idx.ann_join(qdf, k=6, nprobe=2, partitions_per_cell=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "_salt" not in plain


def test_ivf_ann_join_float64_queries_unchanged(spark, tmpdir):
    """The routed vector keeps the query column's element type: a
    float64 query table must flow through unchanged (array<double>
    fan-out) with exact search_batch parity — the float32 fast path
    only engages for float-at-rest queries."""
    from pgvectorscale_spark.operators.ivf_index import IvfIndex

    rng = np.random.default_rng(59)
    mat = rng.random((100, 8), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    idx = IvfIndex.build(
        df, f"{tmpdir}/ivf_f64q", num_centroids=4, distance_type="cosine",
        tune_probing=False,
    )
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(8)],
        "query_id long, query_vec array<double>",
    )
    got = _keyed(idx.ann_join(qdf, k=5, nprobe=2).collect())
    want = _keyed(idx.search_batch(qdf, k=5, nprobe=2).collect())
    assert got == want and len(got) == 8 * 5


def test_ann_join_float64_queries_and_auto_pps(spark, kmeans_idx):
    """Round 14: (a) a float64 query table flows through DiskANN's
    ann_join unchanged (the routed fan-out keeps the input element type
    — array<double> here, array<float> for float-at-rest queries) with
    exact search_batch parity; (b) partitions_per_shard=None (the new
    default) auto-sizes the salt and stays bit-identical to explicit
    values."""
    idx, mat = kmeans_idx
    qdf64 = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(12)],
        "query_id long, query_vec array<double>",
    )
    got = _keyed(idx.ann_join(qdf64, k=6, probe_shards=2).collect())
    want = _keyed(idx.search_batch(qdf64, k=6, probe_shards=2).collect())
    assert got == want and len(got) == 12 * 6
    # auto == explicit on the float path too
    qdf = _qdf(spark, mat, range(40))
    auto = _keyed(idx.ann_join(qdf, k=5, probe_shards=2).collect())
    explicit = _keyed(
        idx.ann_join(qdf, k=5, probe_shards=2, partitions_per_shard=3).collect()
    )
    assert auto == explicit
