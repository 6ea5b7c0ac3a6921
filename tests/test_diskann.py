"""DiskannIndex lifecycle: build → search → insert → delete → compact.

Mirrors the reference's accuracy scaffold + mutation tests
(build.rs:1179-1416, :1558-1611, :1613-1698; vacuum.rs:159-465)."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgvectorscale_spark.functions.distance import np_cosine_distance, np_normalize
from pgvectorscale_spark.operators.diskann import DiskannIndex
from tests.conftest import make_fixture_f1, make_fixture_f4


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="diskann_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def built(spark, tmpdir):
    df, mat = make_fixture_f1(spark, n=300, d=64)
    path = f"{tmpdir}/idx1"
    idx = DiskannIndex.build(
        df, path, distance_type="cosine", num_shards=3, id_col="id", vector_col="embedding"
    )
    return idx, mat


def _true_topk(mat, q, k=10):
    matn = np_normalize(mat)
    qn = np_normalize(q.reshape(1, -1))[0]
    d = np_cosine_distance(matn, qn, assume_normalized=True)
    return set(np.lexsort((np.arange(len(d)), d))[:k].tolist())


def test_build_and_fullscan_completeness(built):
    idx, mat = built
    assert idx.meta.num_shards == 3
    assert idx.full_scan().count() == 300  # every row reachable through the index
    nodes = idx.nodes()
    assert nodes.filter(F.size("neighbors") > idx.meta.num_neighbors).count() == 0


def test_probe_block_dims_fallback(built):
    """num_dimensions_to_index = 0 means "every dimension" in the probe's
    batch quantization too, as in _graph_from_pdf's walk quantizer."""
    from pgvectorscale_spark.operators.diskann import _meta_dict, _probe_shard_block

    idx, mat = built
    md = _meta_dict(idx.meta)
    assert md["num_dimensions_to_index"] == 0
    q = np_normalize(mat[:4].astype(np.float64))
    run = lambda m, tok: _probe_shard_block(  # noqa: E731
        idx._store(), 0, ("pin", tok), m, idx._quantizer_state(), np.arange(4), q, None, 10, 40
    )
    assert run(md, 0) == run({**md, "num_dimensions_to_index": 64}, 1)


def test_search_recall(built):
    idx, mat = built
    rng = np.random.default_rng(9)
    hits = 0
    for _ in range(5):
        q = rng.random(64, dtype=np.float32)
        got = {r["node_id"] for r in idx.search(q.tolist(), k=10, rescore=100).collect()}
        hits += len(got & _true_topk(mat, q))
    assert hits / 50 >= 0.9, f"recall {hits/50}"


def test_search_batch_shapes(built, spark):
    idx, mat = built
    qdf = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(3)], "query_id long, query_vec array<float>"
    )
    res = idx.search_batch(qdf, k=5).collect()
    assert len(res) == 15
    top1 = {r["query_id"]: r["node_id"] for r in res if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}  # self is nearest


def test_null_query_scans_all(built):
    idx, _ = built
    assert idx.search(None, k=10).count() == 300


def test_load_roundtrip(built, spark):
    idx, mat = built
    idx2 = DiskannIndex.load(spark, idx.path)
    assert idx2.meta.num_rows == 300
    q = mat[5]
    got = [r["node_id"] for r in idx2.search(q.tolist(), k=3).collect()]
    assert got[0] == 5


def test_insert_then_search(spark, tmpdir):
    df, mat = make_fixture_f1(spark, n=200, d=32)
    path = f"{tmpdir}/idx_ins"
    idx = DiskannIndex.build(df, path, distance_type="l2", num_shards=2, id_col="id")
    rng = np.random.default_rng(77)
    new = rng.random((10, 32), dtype=np.float32)
    new_df = spark.createDataFrame(
        [(200 + i, new[i].tolist()) for i in range(10)], "id long, embedding array<float>"
    )
    idx.insert(new_df, id_col="id")
    assert idx.full_scan().count() == 210
    # a brand-new vector must be findable (its own nearest neighbor)
    got = [r["node_id"] for r in idx.search(new[3].tolist(), k=3).collect()]
    assert got[0] == 203


def test_delete_tombstones_then_compact(spark, tmpdir):
    df, mat = make_fixture_f1(spark, n=150, d=32)
    path = f"{tmpdir}/idx_del"
    idx = DiskannIndex.build(df, path, distance_type="l2", num_shards=2, id_col="id")
    q = mat[0]
    top = [r["node_id"] for r in idx.search(q.tolist(), k=5).collect()]
    assert top[0] == 0
    idx.delete([0, 1, 2])
    assert idx.full_scan().count() == 147
    top_after = [r["node_id"] for r in idx.search(q.tolist(), k=5).collect()]
    assert not {0, 1, 2} & set(top_after)  # tombstoned rows never surface
    idx.compact()
    assert idx.full_scan().count() == 147
    assert idx.nodes().filter(F.col("deleted")).count() == 0
    top_compacted = [r["node_id"] for r in idx.search(q.tolist(), k=5).collect()]
    assert not {0, 1, 2} & set(top_compacted)


def test_labeled_index_filtered_search(spark, tmpdir):
    df, mat, rows = make_fixture_f4(spark, n=100, d=16)
    path = f"{tmpdir}/idx_lab"
    idx = DiskannIndex.build(
        df, path, distance_type="cosine", num_shards=2, id_col="id", label_col="labels"
    )
    assert idx.meta.has_labels
    assert idx.full_scan().count() == 100  # NULL/empty-label rows still indexed
    q = mat[0]
    res = idx.search(q.tolist(), k=5, labels=[1]).collect()
    eligible = {i for i, _, ls in rows if ls and 1 in ls}
    got = {r["node_id"] for r in res}
    assert got and got <= eligible


def test_plain_storage_and_validation(spark, tmpdir):
    df, mat = make_fixture_f1(spark, n=100, d=16)
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_plain", distance_type="l2", storage_type="plain",
        num_shards=1, id_col="id",
    )
    got = [r["node_id"] for r in idx.search(mat[7].tolist(), k=3).collect()]
    assert got[0] == 7
    with pytest.raises(ValueError, match="inner product"):
        DiskannIndex.build(df, f"{tmpdir}/x1", distance_type="inner_product",
                           storage_type="plain", id_col="id")
    with pytest.raises(ValueError, match="labels"):
        DiskannIndex.build(df, f"{tmpdir}/x2", storage_type="plain",
                           label_col="id", id_col="id")


def test_query_stats_populate(built, spark):
    from pgvectorscale_spark.operators.diskann import QueryStats

    idx, mat = built
    stats = QueryStats(spark)
    idx.search(mat[5].tolist(), k=10, stats=stats).collect()
    d = stats.as_dict()
    assert d["shard_searches"] == idx.meta.num_shards  # every shard walked once
    assert d["candidates_scored"] > 0
    assert d["rescored"] >= 10


def test_build_on_empty_table_then_insert(spark, tmpdir):
    """CREATE INDEX on an empty table then INSERT — the reference's
    standard lifecycle (its filtering tests create the index before any
    rows exist). The empty build persists a schema-bearing node table; the
    first insert bootstraps dimensions/quantizer/shards from its batch;
    subsequent inserts take the normal incremental path."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    idx = DiskannIndex.build(empty, f"{tmpdir}/idx_empty", distance_type="l2")
    assert idx.meta.num_rows == 0
    assert idx.search([0.0] * 4, k=3).count() == 0  # searchable while empty
    first = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 8), (3, [5.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    idx.insert(first)
    assert idx.meta.num_dimensions == 8  # bootstrapped from the batch
    assert idx.full_scan().count() == 3
    assert [r["node_id"] for r in idx.search([0.11] * 8, k=1).collect()] == [1]
    idx.insert(
        spark.createDataFrame([(4, [0.3] * 8)], "vec_id long, embedding array<float>")
    )
    assert idx.full_scan().count() == 4
    # labeled variant of the same lifecycle
    emptyl = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, labels array<smallint>"
    )
    idx2 = DiskannIndex.build(
        emptyl, f"{tmpdir}/idx_empty_lbl", distance_type="cosine", label_col="labels"
    )
    idx2.insert(
        spark.createDataFrame(
            [(1, [0.1] * 4, [1]), (2, [0.9] * 4, [2])],
            "vec_id long, embedding array<float>, labels array<smallint>",
        ),
        label_col="labels",
    )
    assert [r["node_id"] for r in idx2.search([0.1] * 4, k=2, labels=[2]).collect()] == [2]


def test_update_to_null_and_empty_batches(spark, tmpdir):
    """Reference update-with-null scaffold (vacuum.rs:378-460): an UPDATE
    setting the vector to NULL removes the row from the index (NULL is
    never indexed); empty / all-NULL insert batches are clean no-ops."""
    df = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(20)], "vec_id long, embedding array<float>"
    )
    idx = DiskannIndex.build(df, f"{tmpdir}/idx_nulls", distance_type="l2", num_shards=2)
    idx.insert(spark.createDataFrame([], "vec_id long, embedding array<float>"))
    assert idx.full_scan().count() == 20  # empty batch: no-op
    idx.insert(spark.createDataFrame([(3, None)], "vec_id long, embedding array<float>"))
    assert idx.full_scan().filter("node_id = 3").count() == 0  # tombstoned
    top = [r["node_id"] for r in idx.search([3.0] * 8, k=2, search_list_size=64).collect()]
    assert 3 not in top
    # mixed batch: NULL deletes, real vector upserts — in one call
    mixed = spark.createDataFrame(
        [(5, None), (21, [21.0] * 8)], "vec_id long, embedding array<float>"
    )
    idx.insert(mixed)
    assert idx.full_scan().filter("node_id = 5").count() == 0
    assert idx.full_scan().filter("node_id = 21").count() == 1


def test_query_knob_session_confs(spark, built):
    """GUC analog (guc.rs:3-4): session confs set the query knobs; at
    sls >= n the walk is exhaustive so the result is provably exact."""
    idx, mat = built
    spark.conf.set("spark.pgvectorscale.query_search_list_size", "400")
    spark.conf.set("spark.pgvectorscale.query_rescore", "400")
    try:
        q = mat[5]
        got = {r["node_id"] for r in idx.search(q.tolist(), k=10).collect()}
        assert got == _true_topk(mat, q, 10)
    finally:
        spark.conf.unset("spark.pgvectorscale.query_search_list_size")
        spark.conf.unset("spark.pgvectorscale.query_rescore")


def test_update_churn_upsert(spark, tmpdir):
    """Reference UPDATE churn (build.rs:1613-1698): re-inserting existing ids
    replaces their vectors; counts stay stable; search reflects new values."""
    import numpy as np

    from tests.conftest import make_vectors

    base = make_vectors(spark, n=100, dim=8, seed=13)
    idx = DiskannIndex.build(
        base, f"{tmpdir}/idx_up", distance_type="l2", num_shards=2, target_shard_size=60
    )
    # move vectors 0..19 to a far-away cluster, same ids
    rng = np.random.default_rng(99)
    moved = spark.createDataFrame(
        [(i, (rng.random(8) + 10.0).astype("float32").tolist()) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    idx.insert(moved)
    assert idx.full_scan().count() == 100  # upsert, not append
    q = moved.filter("vec_id = 3").first()["embedding"]
    top = [r["node_id"] for r in idx.search(q, k=3).collect()]
    assert top[0] == 3  # the NEW vector wins, not the stale one
    # re-running the same batch is idempotent (streaming replay contract)
    idx.insert(moved)
    assert idx.full_scan().count() == 100


def test_upsert_start_node_keeps_graph_reachable(spark, tmpdir):
    """Upserting the id that is a shard's default start node must transfer
    the start flags to the surviving row — otherwise the rehydrated graph
    has no start and the whole pre-existing shard becomes unreachable
    (shard-wide recall collapse until compact)."""
    from tests.conftest import make_vectors

    base = make_vectors(spark, n=120, dim=8, seed=21)
    idx = DiskannIndex.build(
        base, f"{tmpdir}/idx_start_up", distance_type="l2", num_shards=2, target_shard_size=80
    )
    starts = idx.nodes().filter(F.col("is_default_start")).select("node_id", "shard").collect()
    assert len(starts) == 2  # one default start per shard
    start_id = int(starts[0]["node_id"])
    start_shard = int(starts[0]["shard"])
    # re-insert the start id with a new far-away vector
    rng = np.random.default_rng(5)
    moved = spark.createDataFrame(
        [(start_id, (rng.random(8) + 10.0).astype("float32").tolist())],
        "vec_id long, embedding array<float>",
    )
    idx.insert(moved)
    after = idx.nodes().filter(F.col("shard") == start_shard)
    assert after.filter(F.col("is_default_start")).count() == 1  # start survived
    # an untouched old vector in the SAME shard must still be findable
    victim = (
        idx.nodes()
        .filter((F.col("shard") == start_shard) & (F.col("node_id") != start_id))
        .select("node_id", "vector")
        .first()
    )
    top = [r["node_id"] for r in idx.search(list(victim["vector"]), k=3).collect()]
    assert top[0] == int(victim["node_id"])


def test_insert_dimension_validation(spark, tmpdir):
    """Wrong-dimension inserts fail fast on the driver with a clear error,
    not deep in an executor as a ragged np.stack."""
    from tests.conftest import make_vectors

    base = make_vectors(spark, n=50, dim=8, seed=3)
    idx = DiskannIndex.build(base, f"{tmpdir}/idx_dimchk", distance_type="l2", num_shards=1)
    bad = spark.createDataFrame([(999, [0.0] * 12)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dimensions"):
        idx.insert(bad)


def test_kmeans_sharding_and_routed_search(spark, tmpdir):
    """Voronoi (kmeans) shard assignment + probe_shards routing: on
    clustered data, probing only each query's 2 nearest of 8 shards keeps
    recall@10 >= 0.9 while touching a quarter of the shards — per-query
    cost stops growing with shard count (the SPANN / IVF-of-graphs
    layout)."""
    from pgvectorscale_spark.operators.diskann import QueryStats

    rng = np.random.default_rng(31)
    n_clusters, per, d = 8, 250, 16
    centers = rng.normal(scale=5.0, size=(n_clusters, d))
    mat = np.concatenate(
        [centers[c] + rng.normal(scale=0.5, size=(per, d)) for c in range(n_clusters)]
    ).astype(np.float32)
    n = len(mat)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(n)], "vec_id long, embedding array<float>"
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_voronoi", distance_type="l2", num_shards=8,
        shard_assignment="kmeans",
    )
    assert idx.meta.shard_assignment == "kmeans"
    assert idx.full_scan().count() == n  # reassignment loses nothing
    queries = mat[rng.integers(0, n, size=20)] + rng.normal(scale=0.2, size=(20, d)).astype(
        np.float32
    )
    qdf = spark.createDataFrame(
        [(i, queries[i].tolist()) for i in range(20)], "query_id long, query_vec array<float>"
    )
    stats = QueryStats(spark)
    routed = idx.search_batch(qdf, k=10, probe_shards=2, stats=stats).collect()
    # routing actually pruned the fan-out: <= 2 shards walked per query
    assert stats.as_dict()["shard_searches"] <= 20 * 2
    got = {}
    for r in routed:
        got.setdefault(r["query_id"], set()).add(r["node_id"])
    hits = 0
    for qi in range(20):
        dvec = ((mat.astype(np.float64) - queries[qi].astype(np.float64)) ** 2).sum(axis=1)
        true = set(np.lexsort((np.arange(n), dvec))[:10].tolist())
        hits += len(true & got.get(qi, set()))
    assert hits / 200 >= 0.9, f"routed recall {hits/200}"
    # kmeans upsert: a moved vector stays in its stored shard (no dupes)
    moved = spark.createDataFrame(
        [(0, (mat[0] + 20.0).tolist())], "vec_id long, embedding array<float>"
    )
    idx.insert(moved)
    assert idx.nodes().filter("node_id = 0").count() == 1
    assert idx.full_scan().count() == n


def test_kmeans_shard_skew_cap(spark, tmpdir):
    """A dominant cluster (skewed Voronoi cell) splits into hash sub-shards
    bounded by 2x target_shard_size; searches still see every row and
    routing probes the sub-shards together (near-identical centroids)."""
    rng = np.random.default_rng(41)
    d = 8
    # 90% of rows in one tight cluster, 10% far away
    big = rng.normal(loc=0.0, scale=0.2, size=(900, d)).astype(np.float32)
    small = rng.normal(loc=15.0, scale=0.2, size=(100, d)).astype(np.float32)
    mat = np.concatenate([big, small])
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(1000)], "vec_id long, embedding array<float>"
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_skew", distance_type="l2", num_shards=2,
        target_shard_size=200, shard_assignment="kmeans",
    )
    sizes = {
        r["shard"]: r["cnt"]
        for r in idx.nodes().groupBy("shard").agg(F.count("*").alias("cnt")).collect()
    }
    assert idx.full_scan().count() == 1000
    assert max(sizes.values()) <= 400, sizes  # 2x target cap enforced
    assert idx.meta.num_shards == len(sizes) > 2  # the big cell split
    # routed search still finds neighbors inside the split cluster
    q = big[5]
    got = [r["node_id"] for r in idx.search(q.tolist(), k=5, probe_shards=3).collect()]
    dvec = ((mat.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
    true = set(np.lexsort((np.arange(1000), dvec))[:5].tolist())
    assert len(set(got) & true) >= 4, (got, true)


def test_meta_version_migration(tmpdir):
    """Read-path migration (reference upgrade_test.rs:25-337): metas written
    by older revisions (missing newer fields) load with defaults; unknown
    fields are ignored; a meta from a NEWER format fails loudly."""
    import json
    import os

    from pgvectorscale_spark.types import IndexMeta

    old_dir = f"{tmpdir}/meta_old"
    os.makedirs(old_dir, exist_ok=True)
    old = {
        "distance_type": "l2",
        "storage_type": "memory_optimized",
        "num_dimensions": 8,
        "num_neighbors": 50,
        "num_shards": 2,
        "num_rows": 100,
        "version": 1,
        # no `epoch` (added later), plus a field this reader never knew
        "some_future_minor_field": 42,
    }
    with open(os.path.join(old_dir, "_index_meta.json"), "w") as f:
        json.dump(old, f)
    meta = IndexMeta.load(old_dir)
    assert meta.epoch == 0 and meta.num_rows == 100

    new_dir = f"{tmpdir}/meta_new"
    os.makedirs(new_dir, exist_ok=True)
    with open(os.path.join(new_dir, "_index_meta.json"), "w") as f:
        json.dump({**old, "version": 99}, f)
    with pytest.raises(ValueError, match="newer than this reader"):
        IndexMeta.load(new_dir)


def test_writer_lock_rejects_second_writer(spark, tmpdir):
    """Reference: advisory lock serializes writers (ports.rs:160;
    tests/test_concurrent_inserts.py). A second writer fails cleanly with
    ConcurrentWriterError while the lock is held, and succeeds after
    release. Crashed-writer recovery = removing the named lock file."""
    import os

    from pgvectorscale_spark.operators.diskann import ConcurrentWriterError
    from tests.conftest import make_vectors

    base = make_vectors(spark, n=60, dim=8, seed=11)
    idx = DiskannIndex.build(base, f"{tmpdir}/idx_lock", distance_type="l2", num_shards=1)
    new = spark.createDataFrame([(100, [0.5] * 8)], "vec_id long, embedding array<float>")
    # simulate another in-flight writer holding the lock
    with idx._writer_lock():
        with pytest.raises(ConcurrentWriterError, match="locked by another writer"):
            idx.insert(new)
        with pytest.raises(ConcurrentWriterError):
            idx.delete([0])
        with pytest.raises(ConcurrentWriterError):
            idx.compact()
    # lock released -> mutations proceed, and the lock file is cleaned up
    idx.insert(new)
    assert idx.full_scan().count() == 61
    assert not os.path.exists(os.path.join(idx.path, "_writer.lock"))


def test_writer_lock_two_threads_one_wins(spark, tmpdir):
    """Two genuinely concurrent inserts: both complete in total (the loser
    retries after the winner releases) and no update is lost."""
    import threading

    from pgvectorscale_spark.operators.diskann import ConcurrentWriterError
    from tests.conftest import make_vectors

    base = make_vectors(spark, n=60, dim=8, seed=12)
    idx = DiskannIndex.build(base, f"{tmpdir}/idx_race", distance_type="l2", num_shards=1)
    batches = [
        spark.createDataFrame([(200 + i, [float(i)] * 8)], "vec_id long, embedding array<float>")
        for i in range(2)
    ]
    errors: list[Exception] = []

    def writer(b):
        for _ in range(60):  # retry-on-conflict loop, like any real client
            try:
                idx.insert(b)
                return
            except ConcurrentWriterError:
                import time

                time.sleep(0.25)
        errors.append(TimeoutError("writer starved"))

    threads = [threading.Thread(target=writer, args=(b,)) for b in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert idx.full_scan().count() == 62  # both inserts landed exactly once


def test_high_dimensions_and_caps(spark, tmpdir):
    """High-dim build (reference build.rs:1854-1917) + dim-cap validation
    (build.rs:192-196): 4000 dims builds and searches; >16000 dims rejected;
    plain storage rejected past 2000 dims."""
    import numpy as np

    rng = np.random.default_rng(4)
    mat = rng.random((80, 4000), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(80)], "vec_id long, embedding array<float>"
    )
    idx = DiskannIndex.build(df, f"{tmpdir}/idx_hd", distance_type="l2", num_shards=1)
    assert idx.meta.num_dimensions == 4000
    assert idx.meta.bits_per_dimension == 1  # >900 dims -> 1 bit (meta_page.rs:312-323)
    top = [r["node_id"] for r in idx.search(mat[7].tolist(), k=5).collect()]
    assert top[0] == 7

    big = spark.createDataFrame(
        [(0, [0.0] * 16001)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="exceeds cap"):
        DiskannIndex.build(big, f"{tmpdir}/idx_cap", num_shards=1)
    wide = spark.createDataFrame(
        [(0, [0.0] * 2001)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="exceeds cap"):
        DiskannIndex.build(
            wide, f"{tmpdir}/idx_plaincap", storage_type="plain", distance_type="l2", num_shards=1
        )


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _labelled_clusters(spark, n=600, d=8, seed=7):
    """Four clusters, five labels, in 4 partitions."""
    rng = np.random.default_rng(seed)
    cent = rng.normal(size=(4, d)) * 4
    mat = (cent[rng.integers(0, 4, n)] + rng.normal(size=(n, d))).astype(np.float32)
    rows = [(i, mat[i].tolist(), [i % 5]) for i in range(n)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        "vec_id long, embedding array<float>, labels array<smallint>",
    )


def test_build_runs_in_a_handful_of_jobs(spark, tmpdir):
    """A kmeans, labelled, SBQ build with a tuned routing curve runs one
    corpus facts pass, the k-means seeds and rounds, one statistics pass,
    the graph write, the id sidecar write and one exact tuning pass: at
    most 12 Spark jobs (35 before the partial-sum k-means and the
    one-pass statistics)."""
    df = _labelled_clusters(spark)
    out = {}
    jobs = _jobs(
        spark,
        lambda: out.setdefault(
            "idx",
            DiskannIndex.build(
                df, f"{tmpdir}/idx_jobs", distance_type="cosine", num_shards=4,
                shard_assignment="kmeans", label_col="labels",
            ),
        ),
    )
    idx = out["idx"]
    assert idx.meta.routing_recall_curve and idx._stored_label_pairs()
    assert idx.full_scan().count() == 600
    assert jobs <= 12, jobs


def test_corpus_facts_do_not_depend_on_partitioning(spark):
    """The facts pass folds its per-task rows through one merge, in task
    order: one partition or sixteen give the same count, dimensions,
    label bounds and tuning sample, and the same moments up to summation
    order."""
    from pgvectorscale_spark.operators.diskann import _scan_corpus

    df = _labelled_clusters(spark, n=300).select(
        F.col("vec_id").alias("node_id"),
        F.col("embedding").alias("vector"),
        F.col("labels").cast("array<long>").alias("labels"),
    )
    one = _scan_corpus(df.coalesce(1), moments=True, sample=16)
    many = _scan_corpus(df.repartition(16), moments=True, sample=16)
    assert (one["n"], one["dims"], one["dmin"], one["dmax"]) == (300, 8, 8, 8)
    assert (one["lo"], one["hi"]) == (0, 4)
    for key in ("n", "dims", "dmin", "dmax", "lo", "hi"):
        assert many[key] == one[key]
    assert len(one["sample"][0]) == 16
    assert one["sample"][0].tolist() == many["sample"][0].tolist()
    assert np.array_equal(one["sample"][1], many["sample"][1])
    assert one["moments"][0] == many["moments"][0] == 300
    for a, b in zip(one["moments"][1:], many["moments"][1:]):
        np.testing.assert_allclose(a, b, rtol=1e-12)


def test_build_refuses_centroid_collect_over_budget(spark, tmpdir, monkeypatch):
    """The k-means rounds and the statistics pass run in few enough tasks
    that the per-task partial sums the driver collects fit the collect
    budget, however many partitions the corpus spans. Only a centroid
    matrix (with its count column) over the budget refuses the build:
    after the facts pass, before the k-means seeds."""
    df = _labelled_clusters(spark, n=200)
    wide = df.repartition(16)
    assert wide.rdd.getNumPartitions() == 16
    # 4 centroids x (8 dims + 1) x 8 bytes = 288 bytes fit; 16 tasks'
    # partial sums (16 x 288 = 4608 bytes) would not, so the passes run
    # in one task
    monkeypatch.setattr(DiskannIndex, "_COLLECT_BUDGET_BYTES", 300)
    idx = DiskannIndex.build(
        wide, f"{tmpdir}/idx_wide", distance_type="l2", num_shards=4,
        shard_assignment="kmeans",
    )
    assert idx.full_scan().count() == 200
    assert sum(r[2] for r in idx._routing_rows()) == 200
    monkeypatch.setattr(DiskannIndex, "_COLLECT_BUDGET_BYTES", 200)

    def build():
        with pytest.raises(ValueError, match="centroid sums"):
            DiskannIndex.build(
                df, f"{tmpdir}/idx_budget", distance_type="l2", num_shards=4,
                shard_assignment="kmeans",
            )

    assert _jobs(spark, build) == 1


def test_lifecycle_writes_nothing_to_stdout(tmpdir):
    """Standard output belongs to the caller (a benchmark prints its result
    there): a build → search → insert → delete cycle in a fresh process
    writes nothing to it."""
    import os
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import numpy as np
        from pyspark.sql import SparkSession
        from pgvectorscale_spark.operators.diskann import DiskannIndex

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .getOrCreate()
        )
        rng = np.random.default_rng(0)
        mat = rng.normal(size=(240, 8)).astype(np.float32)
        rows = [(i, mat[i].tolist(), [i % 3]) for i in range(200)]
        schema = "vec_id long, embedding array<float>, labels array<smallint>"
        idx = DiskannIndex.build(
            spark.createDataFrame(rows, schema), {f"{tmpdir}/idx_stdout"!r},
            num_shards=2, shard_assignment="kmeans", label_col="labels",
        )
        idx.search(mat[0].tolist(), k=3).collect()
        more = [(i, mat[i].tolist(), [i % 3]) for i in range(200, 240)]
        idx.insert(spark.createDataFrame(more, schema), label_col="labels")
        idx.delete(list(range(10)))
        assert idx.search(mat[210].tolist(), k=1).collect()[0]["node_id"] == 210
        spark.stop()
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]))
    res = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env,
        cwd=root, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout == ""
