"""Label-filtering scenarios ported from the reference suite
(labels/filtering_tests.rs:22-1026): NULL/empty label edge cases, updates
after build, category/residual predicates, label-definition joins, unusual
column orders, bounds, tiny indexes, and filtered recall."""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgvectorscale_spark.functions.distance import np_cosine_distance, np_normalize
from pgvectorscale_spark.operators.diskann import DiskannIndex
from pgvectorscale_spark.operators.knn import search_exact
from tests.conftest import count_jobs, make_kmeans_index


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="labels_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


_SCHEMA = "id long, embedding array<float>, labels array<smallint>"
_SLS = 64  # >= n for every tiny fixture here: searches are exhaustive/exact


def _mini_df(spark):
    """The reference's canonical 4-row fixture (filtering_tests.rs:37-43):
    normal labels, NULL array, empty array, array with NULL element."""
    return spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [1, 2]),
            (2, [4.0, 5.0, 6.0], None),
            (3, [7.0, 8.0, 9.0], []),
            (4, [10.0, 11.0, 12.0], [1, None, 3]),
        ],
        _SCHEMA,
    )


def _count(idx, labels=None):
    return idx.search([0.0, 0.0, 0.0], k=10, search_list_size=_SLS, labels=labels).count()


def test_null_and_empty_labels(spark, tmpdir):
    """filtering_tests.rs:23-110: NULL arrays and NULL elements degrade to
    the empty set (indexed, never label-matched); `&& '{}'` is always false."""
    idx = DiskannIndex.build(
        _mini_df(spark), f"{tmpdir}/idx_null", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    assert _count(idx, labels=[1]) == 2  # rows 1 and 4
    assert _count(idx, labels=[]) == 0  # && '{}' is always false
    assert _count(idx, labels=[3]) == 1  # NULL element dropped, 3 kept
    assert _count(idx) == 4  # unfiltered sees every row


def test_mixed_filtering_with_null_labels(spark, tmpdir):
    """filtering_tests.rs:170-215: label filters never surface NULL/empty-
    label rows; unfiltered queries do."""
    idx = DiskannIndex.build(
        _mini_df(spark), f"{tmpdir}/idx_mixed", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    got = {
        r["node_id"]
        for r in idx.search([0.0] * 3, k=10, search_list_size=_SLS, labels=[1, 2, 3]).collect()
    }
    assert got == {1, 4}  # 2 (NULL) and 3 (empty) excluded
    unfiltered = {r["node_id"] for r in idx.search([0.0] * 3, k=10, search_list_size=_SLS).collect()}
    assert unfiltered == {1, 2, 3, 4}


def test_build_index_on_nonempty_table_then_insert(spark, tmpdir):
    """filtering_tests.rs:112-168 + 215-290: build over existing rows, then
    UPDATE labels (upsert) and INSERT edge-case rows; filters see the new
    state."""
    base = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [1, 2]), (2, [4.0, 5.0, 6.0], [3, 4])], _SCHEMA
    )
    idx = DiskannIndex.build(
        base, f"{tmpdir}/idx_upd", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    assert _count(idx, labels=[1]) == 1
    # UPDATE row 2's labels to {1,5} + INSERT NULL/{} rows
    updates = spark.createDataFrame(
        [
            (2, [4.0, 5.0, 6.0], [1, 5]),
            (3, [7.0, 8.0, 9.0], None),
            (4, [10.0, 11.0, 12.0], []),
        ],
        _SCHEMA,
    )
    idx.insert(updates, id_col="id", label_col="labels")
    assert _count(idx, labels=[1]) == 2  # rows 1 and (updated) 2
    assert _count(idx) == 4


def test_label_filter_with_category_predicate(spark, tmpdir):
    """filtering_tests.rs:291-343: label overlap combined with a residual
    row predicate (the post-filter path)."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [1, 2], "article"),
            (2, [4.0, 5.0, 6.0], [1, 3], "blog"),
            (3, [7.0, 8.0, 9.0], [2, 3], "article"),
        ],
        _SCHEMA + ", category string",
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_cat", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    assert _count(idx, labels=[1]) == 2
    # label && {2} AND category = 'article' -> rows 1 and 3
    res = idx.search([0.0] * 3, k=10, search_list_size=_SLS, labels=[2])
    cats = df.select(F.col("id").alias("node_id"), "category")
    got = {r["node_id"] for r in res.join(cats, "node_id").filter("category = 'article'").collect()}
    assert got == {1, 3}


def test_unusual_column_order(spark, tmpdir):
    """filtering_tests.rs:344-380: column order in the source table is
    irrelevant — labels before embedding, extra columns interleaved."""
    df = spark.createDataFrame(
        [("x", [1, 2], 1, [1.0, 2.0, 3.0]), ("y", [3], 2, [4.0, 5.0, 6.0])],
        "junk string, labels array<smallint>, id long, embedding array<float>",
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_order", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    assert _count(idx, labels=[1]) == 1
    assert _count(idx) == 2


def test_label_definitions_join(spark, tmpdir):
    """filtering_tests.rs:513-592: filter by label NAME via a definitions
    dimension table; join results back for the names."""
    defs = spark.createDataFrame(
        [(1, "science"), (2, "technology"), (3, "business")], "label_id int, name string"
    )
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [1, 2]),
            (2, [4.0, 5.0, 6.0], [1, 3]),
            (3, [7.0, 8.0, 9.0], [2, 3]),
        ],
        _SCHEMA,
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_defs", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    science = [r["label_id"] for r in defs.filter("name = 'science'").collect()]
    res = idx.search([0.0] * 3, k=10, search_list_size=_SLS, labels=science)
    assert res.count() == 2
    # join back to the definitions for label names of the nearest hit
    top = res.orderBy("distance").first()["node_id"]
    names = (
        df.filter(F.col("id") == top)
        .select(F.explode("labels").alias("label_id"))
        .join(F.broadcast(defs), "label_id")
        .select("name")
        .collect()
    )
    assert "science" in {r["name"] for r in names}


def test_labeled_filtering_complex(spark, tmpdir):
    """filtering_tests.rs:592-663: multi-label OR, residual category filter,
    and an array-length predicate via post_filter."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [1, 2], "article"),
            (2, [4.0, 5.0, 6.0], [1, 3], "blog"),
            (3, [7.0, 8.0, 9.0], [2, 3], "article"),
            (4, [10.0, 11.0, 12.0], [2, 4], "blog"),
            (5, [13.0, 14.0, 15.0], [3, 4], "article"),
            (6, [16.0, 17.0, 18.0], [1, 2, 3], "blog"),
        ],
        _SCHEMA + ", category string",
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_cplx", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    assert _count(idx, labels=[1, 4]) == 5  # OR semantics of &&
    res = idx.search([0.0] * 3, k=10, search_list_size=_SLS, labels=[2, 3])
    cats = df.select(F.col("id").alias("node_id"), "category")
    assert res.join(cats, "node_id").filter("category = 'article'").count() == 3
    # labels && {1} AND size(labels) > 2 -> only row 6
    res2 = idx.search(
        [0.0] * 3, k=10, search_list_size=_SLS, labels=[1], post_filter="size(labels) > 2"
    )
    assert [r["node_id"] for r in res2.collect()] == [6]


def test_tiny_labeled_index_counts(spark, tmpdir):
    """filtering_tests.rs:663-718: every label-combination count on the
    3-row corpus, including absent labels."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [1, 2]),
            (2, [4.0, 5.0, 6.0], [1, 3]),
            (3, [7.0, 8.0, 10.0], [2, 3]),
        ],
        _SCHEMA,
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_tiny", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    expected = {
        None: 3,
        (1,): 2, (2,): 2, (3,): 2,
        (1, 3): 3, (1, 2, 3): 3,
        (4,): 0, (1, 4): 2, (4, 1): 2,
    }
    for labels, n in expected.items():
        got = _count(idx, labels=list(labels) if labels else None)
        assert got == n, f"labels={labels}: got {got}, want {n}"


def test_label_size_bounds(spark, tmpdir):
    """filtering_tests.rs:718-796: smallint bounds — 32767 and -1 are valid
    labels; 32768 must raise, not silently NULL out."""
    ok = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [0, 32767]), (2, [7.0, 8.0, 9.0], [-1])],
        "id long, embedding array<float>, labels array<int>",
    )
    idx = DiskannIndex.build(
        ok, f"{tmpdir}/idx_bounds", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    assert _count(idx, labels=[32767]) == 1
    assert _count(idx, labels=[-1]) == 1
    bad = spark.createDataFrame(
        [(3, [4.0, 5.0, 6.0], [32768])], "id long, embedding array<float>, labels array<int>"
    )
    with pytest.raises(ValueError, match="smallint"):
        idx.insert(bad, id_col="id", label_col="labels")
    with pytest.raises(ValueError, match="smallint"):
        DiskannIndex.build(
            bad, f"{tmpdir}/idx_bounds_bad", distance_type="cosine",
            num_shards=1, id_col="id", label_col="labels",
        )


def test_exact_scan_label_overlap_matches_index(spark, tmpdir):
    """filtering_tests.rs:796-882 (smallint_array_overlap): the && operator
    and the index agree on every query."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [1, 2]),
            (2, [4.0, 5.0, 6.0], [2, 3]),
            (3, [7.0, 8.0, 9.0], [3, 4]),
            (4, [10.0, 11.0, 12.0], None),
        ],
        _SCHEMA,
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_olap", distance_type="cosine",
        num_shards=1, id_col="id", label_col="labels",
    )
    for labels in ([1], [2], [3], [4], [5], [1, 4], [2, 3]):
        via_index = {
            r["node_id"]
            for r in idx.search([0.0] * 3, k=10, search_list_size=_SLS, labels=labels).collect()
        }
        via_scan = {
            r["id"]
            for r in search_exact(
                df, [0.0] * 3, k=10, labels=labels, label_col="labels", id_col="id"
            ).collect()
        }
        assert via_index == via_scan, f"labels={labels}"


def test_routed_search_widens_to_label_shards(spark, tmpdir):
    """probe_shards routing + label filter: a rare label living only in a
    geometrically FAR shard must still be found — routing widens to every
    shard containing the query's labels."""
    rng = np.random.default_rng(17)
    d = 8
    # two far-apart clusters; label 9 exists ONLY in cluster B
    a = rng.normal(loc=0.0, scale=0.3, size=(200, d)).astype(np.float32)
    bvecs = rng.normal(loc=10.0, scale=0.3, size=(200, d)).astype(np.float32)
    rows = [(i, a[i].tolist(), [1]) for i in range(200)] + [
        (200 + j, bvecs[j].tolist(), [9]) for j in range(200)
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_lblroute", distance_type="l2", num_shards=4,
        id_col="id", label_col="labels", shard_assignment="kmeans",
    )
    # query near cluster A (its nearest shards hold only label 1), filter
    # on label 9: results must come from the far shard anyway
    q = a[0]
    res = idx.search(
        q.tolist(), k=5, search_list_size=256, labels=[9], probe_shards=1
    ).collect()
    assert len(res) == 5
    assert all(r["node_id"] >= 200 for r in res)  # only label-9 rows


def test_labeled_recall(spark, tmpdir):
    """filtering_tests.rs:882-1026: 1000 x 128d with random single labels in
    [1,32]; recall@10 >= 0.9 at reference defaults for no-filter, single-
    label, and two-label queries."""
    rng = np.random.default_rng(2)
    n, d = 1000, 128
    mat = (rng.random((n, d), dtype=np.float32) * 2 - 1).astype(np.float32)
    lab = rng.integers(1, 33, size=n)
    df = spark.createDataFrame(
        [(i, mat[i].tolist(), [int(lab[i])]) for i in range(n)], _SCHEMA
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/idx_recall", distance_type="cosine",
        num_shards=2, id_col="id", label_col="labels",
    )
    q = (rng.random(d, dtype=np.float32) * 2 - 1).astype(np.float32)
    matn = np_normalize(mat.astype(np.float64))
    qn = np_normalize(q.reshape(1, -1).astype(np.float64))[0]
    dist = np_cosine_distance(matn, qn, assume_normalized=True)

    def truth(mask):
        order = np.lexsort((np.arange(n), dist))
        return [int(i) for i in order if mask[i]][:10]

    cases = {
        "none": (None, np.ones(n, dtype=bool)),
        "single": ([1], lab == 1),
        "two": ([1, 2], (lab == 1) | (lab == 2)),
    }
    for name, (labels, mask) in cases.items():
        got = {
            r["node_id"]
            for r in idx.search(q.tolist(), k=10, labels=labels).collect()
        }
        recall = len(got & set(truth(mask))) / 10
        assert recall >= 0.9, f"{name}: recall {recall}"


# -- label-coverage sidecar (label_routing.parquet) ---------------------------


def test_label_routing_sidecar_widens_probes_and_tracks_inserts(spark, tmpdir):
    """Label-aware routing widening reads the labels x shards sidecar, not
    a per-query corpus scan. A rare label concentrated in a geometrically
    far cell is still found with probe_shards=1, and a micro-batch insert
    introducing a brand-new label updates the sidecar so routed queries
    see it immediately."""
    rng = np.random.default_rng(53)
    d = 8
    # two well-separated blobs -> kmeans cells; the rare label 9 lives ONLY
    # in the far blob
    near = rng.normal(0.0, 0.05, size=(80, d)).astype(np.float32)
    far = rng.normal(5.0, 0.05, size=(80, d)).astype(np.float32)
    rows = [(i, near[i].tolist(), [1]) for i in range(80)]
    rows += [(100 + i, far[i].tolist(), [9] if i < 3 else [2]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, labels array<smallint>")
    path = f"{tmpdir}/label_routing"
    idx = DiskannIndex.build(
        df, path, distance_type="l2", num_shards=2, id_col="vec_id",
        vector_col="embedding", label_col="labels", shard_assignment="kmeans",
    )
    assert idx._label_coverage.pairs() is not None
    # query at the NEAR blob, filter by the far-only label: routing alone
    # would probe the near cell; the sidecar widening must add the far cell
    q = near[0].tolist()
    got = idx.search(q, k=3, labels=[9], probe_shards=1, search_list_size=500).collect()
    assert {r["node_id"] for r in got} == {100, 101, 102}
    # the memo was used (populated for this epoch)
    assert idx._label_coverage._memo is not None

    # insert a brand-new label into the near cell; routed search for it
    # from the FAR side must widen into the near cell via the updated sidecar
    b = spark.createDataFrame(
        [(500, near[1].tolist(), [7])], "vec_id long, embedding array<float>, labels array<smallint>"
    )
    idx.insert(b, label_col="labels")
    got = idx.search(far[0].tolist(), k=1, labels=[7], probe_shards=1, search_list_size=500).collect()
    assert [r["node_id"] for r in got] == [500]


def test_migrated_index_first_insert_keeps_full_label_sidecar(spark, tmpdir):
    """First incremental mutation on an index without a label_routing
    sidecar (a pre-sidecar format) must write ALL shards' labels, not just
    the touched shard's — otherwise routing unroutes every other label."""
    rng = np.random.default_rng(61)
    d = 8
    near = rng.normal(0.0, 0.05, size=(60, d)).astype(np.float32)
    far = rng.normal(5.0, 0.05, size=(60, d)).astype(np.float32)
    rows = [(i, near[i].tolist(), [1]) for i in range(60)]
    rows += [(100 + i, far[i].tolist(), [9]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, labels array<smallint>")
    path = f"{tmpdir}/migrated_sidecar"
    idx = DiskannIndex.build(
        df, path, distance_type="l2", num_shards=2, id_col="vec_id",
        vector_col="embedding", label_col="labels", shard_assignment="kmeans",
    )
    os.remove(os.path.join(path, idx._LABEL_ROUTING_FILE))  # pre-sidecar state
    b = spark.createDataFrame(
        [(500, near[0].tolist(), [1])], "vec_id long, embedding array<float>, labels array<smallint>"
    )
    idx.insert(b, label_col="labels")  # touches only the near cell
    labels_in_sidecar = {l for _, l in idx._label_coverage.pairs()}
    assert labels_in_sidecar == {1, 9}, labels_in_sidecar
    # the far-only label still routes from a near-blob query
    got = idx.search(near[0].tolist(), k=2, labels=[9], probe_shards=1,
                     search_list_size=500).collect()
    assert len(got) == 2 and all(r["node_id"] >= 100 for r in got)


def test_routing_delta_updates_label_sidecar(spark, tmpdir):
    """A label arriving only via insert() must become routable (the
    label-aware probe widening reads the sidecar)."""
    idx, mat, rng = make_kmeans_index(spark, tmpdir, "routing_labels", labeled=True)
    v = rng.random(16).astype(np.float32)
    idx.insert(
        spark.createDataFrame(
            [(950, v.tolist(), [9])], "vec_id long, embedding array<float>, labels array<smallint>"
        ),
        label_col="labels",
    )
    shards_with_9 = idx._label_coverage.partitions(idx.meta, [9])
    assert shards_with_9, "label 9 unroutable after insert"
    got = idx.search(v.tolist(), k=1, labels=[9], probe_shards=1, search_list_size=100)
    assert got.first()["node_id"] == 950


def test_missing_label_coverage_raises_before_any_job(spark, tmpdir):
    """A labelled kmeans index that holds rows but has no coverage file
    refuses a routed labelled query with a rebuild error before any Spark
    job; unrouted and unfiltered queries still serve."""
    idx, mat, _ = make_kmeans_index(spark, tmpdir, "nocov", labeled=True)
    os.remove(os.path.join(idx.path, idx._LABEL_ROUTING_FILE))
    idx = DiskannIndex.load(spark, idx.path)
    qdf = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(3)], "query_id long, query_vec array<float>"
    )

    def routed_labelled():
        with pytest.raises(ValueError, match="rebuild"):
            idx.search_batch(qdf, k=3, labels=[1], probe_shards=1)
        with pytest.raises(ValueError, match="rebuild"):
            idx.ann_join(qdf, k=3, labels=[1], probe_shards=1)

    assert count_jobs(spark, routed_labelled) == 0
    assert idx.search_batch(qdf, k=3, labels=[1]).count() == 9
    assert idx.search_batch(qdf, k=3, probe_shards=1).count() == 9

