"""IVF label filtering (round 13 — IVF/DiskANN family parity): the `&&`
overlap truth table (filtering_tests.rs semantics) inside the probed-cell
scan, probe widening through the (label, cell) coverage sidecar, labeled
mutations, and the unlabeled-index error contract."""
from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgvectorscale_spark.operators.ivf_index import IvfIndex
from tests.conftest import count_jobs


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="ivf_labels_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def labeled(spark, tmpdir):
    """Two well-separated clusters so kmeans cells are predictable; the
    rare label 9 lives ONLY in cluster B (far from the cluster-A query),
    plus NULL-label and empty-label edge rows (FIXTURES.md F4 style)."""
    rng = np.random.default_rng(17)
    a = rng.normal(loc=0.0, scale=0.3, size=(60, 8))
    b = rng.normal(loc=10.0, scale=0.3, size=(60, 8))
    rows = []
    for i in range(60):
        lbl = [1, 2] if i % 3 else [1]
        if i % 10 == 7:
            lbl = None
        elif i % 10 == 8:
            lbl = []
        rows.append((i, a[i].tolist(), lbl))
    for i in range(60):
        lbl = [2, 9] if i % 7 == 0 else [2]
        rows.append((100 + i, b[i].tolist(), lbl))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, labels array<smallint>"
    )
    idx = IvfIndex.build(
        df, f"{tmpdir}/lbl", num_centroids=4, distance_type="l2",
        label_col="labels", tune_probing=False,
    )
    return idx, rows


def test_overlap_truth_table_full_probe(labeled):
    idx, rows = labeled
    q = [0.0] * 8
    got = {r["node_id"] for r in idx.search(q, k=200, nprobe=4).collect()}
    assert len(got) == 120  # unfiltered: every live row reachable
    got1 = {r["node_id"] for r in idx.search(q, k=200, nprobe=4, labels=[1]).collect()}
    want1 = {r[0] for r in rows if r[2] and 1 in r[2]}
    assert got1 == want1  # NULL and [] rows never match (labels && filter)
    # an explicit empty filter matches nothing (labels && '{}' is false)
    assert idx.search(q, k=10, nprobe=4, labels=[]).count() == 0
    # multi-label filter = union semantics (overlap with ANY requested)
    got19 = {r["node_id"] for r in idx.search(q, k=200, nprobe=4, labels=[1, 9]).collect()}
    want19 = {r[0] for r in rows if r[2] and ({1, 9} & set(r[2]))}
    assert got19 == want19


def test_rare_label_widening_probes_unprobed_cell(labeled):
    """A query at cluster A with nprobe=1 never probes cluster B's cells —
    the label-9 coverage sidecar must widen the probe set or the rare
    label silently disappears."""
    idx, rows = labeled
    q = [0.0] * 8
    want9 = {r[0] for r in rows if r[2] and 9 in r[2]}
    got9 = {r["node_id"] for r in idx.search(q, k=200, nprobe=1, labels=[9]).collect()}
    assert got9 == want9 and len(want9) > 0


def test_labels_on_search_batch_and_distance_order(spark, labeled):
    idx, rows = labeled
    qdf = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [10.0] * 8)], "query_id long, query_vec array<float>"
    )
    res = idx.search_batch(qdf, k=5, nprobe=1, labels=[9]).collect()
    got = {}
    for r in res:
        got.setdefault(r["query_id"], []).append((r["rank"], r["node_id"]))
    want9 = {r[0] for r in rows if r[2] and 9 in r[2]}
    # both queries can see label-9 rows (widening), ranked by distance:
    # the cluster-B query's top hit is a B-cluster label-9 row
    assert {n for _, n in got[0]} <= want9 and {n for _, n in got[1]} <= want9
    assert len(got[1]) == 5
    # empty filter on the batch path too
    assert idx.search_batch(qdf, k=5, labels=[]).count() == 0


def test_labeled_insert_updates_sidecar_and_filter(spark, tmpdir, labeled):
    idx, rows = labeled
    # fresh label 13 inserted into cluster A's region: the sidecar must
    # learn its cells so a widened nprobe=1 query from cluster B finds it
    ins = spark.createDataFrame(
        [(500, [0.1] * 8, [13]), (501, [0.2] * 8, [13, 1])],
        "vec_id long, embedding array<float>, labels array<smallint>",
    )
    idx.insert(ins)
    got = {r["node_id"] for r in idx.search([10.0] * 8, k=10, nprobe=1, labels=[13]).collect()}
    assert got == {500, 501}
    # labeled index rejects a batch without a labels column
    bad = spark.createDataFrame([(600, [0.3] * 8)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="labeled"):
        idx.insert(bad)
    # labels survive the tombstone/delete path
    idx.delete([500])
    got2 = {r["node_id"] for r in idx.search([10.0] * 8, k=10, nprobe=1, labels=[13]).collect()}
    assert got2 == {501}


def test_unlabeled_index_raises_on_labels(spark, tmpdir):
    df = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(20)], "vec_id long, embedding array<float>"
    )
    idx = IvfIndex.build(
        df, f"{tmpdir}/nolbl", num_centroids=2, distance_type="l2", tune_probing=False
    )
    with pytest.raises(ValueError, match="without labels"):
        idx.search([0.0] * 4, k=5, labels=[1])
    with pytest.raises(ValueError, match="without labels"):
        idx.search_batch(
            spark.createDataFrame([(0, [0.0] * 4)], "query_id long, query_vec array<float>"),
            k=5,
            labels=[1],
        )


def test_labeled_fold_keeps_labels(spark, tmpdir):
    """Delta folds rewrite touched cells — the labels column must ride
    the fold generation or filters silently stop matching afterwards."""
    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [(i, rng.random(4).tolist(), [int(i % 3) + 1]) for i in range(30)],
        "vec_id long, embedding array<float>, labels array<smallint>",
    )
    idx = IvfIndex.build(
        df, f"{tmpdir}/fold", num_centroids=2, distance_type="l2",
        label_col="labels", tune_probing=False,
    )
    for j in range(IvfIndex.DELTA_FOLD_SEQS + 1):  # force a fold
        ins = spark.createDataFrame(
            [(1000 + j, rng.random(4).tolist(), [2])],
            "vec_id long, embedding array<float>, labels array<smallint>",
        )
        idx.insert(ins)
    # the chain folded mid-loop (the final insert opens a fresh gen)
    assert len(idx.meta.delta_gens) <= 1 and idx.meta.epoch > 0
    got = {r["node_id"] for r in idx.search([0.5] * 4, k=100, nprobe=2, labels=[2]).collect()}
    want = {i for i in range(30) if i % 3 + 1 == 2} | {
        1000 + j for j in range(IvfIndex.DELTA_FOLD_SEQS + 1)
    }
    assert got == want


def test_labeled_probe_plan_keeps_partition_pruning(labeled):
    """The label filter must ride INSIDE the probed-cell scan without
    costing the partition pruning: the plan carries both the
    centroid_id PartitionFilters entry and the arrays_overlap filter."""
    idx, _ = labeled
    plan = (
        idx.search([0.0] * 8, k=5, nprobe=2, labels=[1])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "arrays_overlap" in plan


def test_fold_compacts_label_sidecar(spark, tmpdir):
    """Round 14: deletes leave stale (label, cell) pairs that only
    over-probe — after a fold, the sidecar must match a fresh distinct
    scan of the live rows (stale pairs for folded cells dropped,
    untouched cells' pairs kept)."""
    rng = np.random.default_rng(7)
    # label 5 lives ONLY on rows we will delete; label 1/2 persist
    rows = [
        (i, rng.random(4).tolist(), [5] if i < 5 else [int(i % 2) + 1])
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, labels array<smallint>"
    )
    idx = IvfIndex.build(
        df, f"{tmpdir}/sidecar_fold", num_centroids=2, distance_type="l2",
        label_col="labels", tune_probing=False,
    )
    idx.delete(list(range(5)))  # label 5 is now dead everywhere
    assert idx._label_coverage.partitions(idx.meta, [5]), "pre-fold: stale pairs expected (over-probe)"
    # force the fold
    for j in range(IvfIndex.DELTA_FOLD_SEQS + 1):
        idx.insert(
            spark.createDataFrame(
                [(2000 + j, rng.random(4).tolist(), [2])],
                "vec_id long, embedding array<float>, labels array<smallint>",
            )
        )
    # the delete consumed a delta seq too, so the fold fired mid-loop and
    # a couple of post-fold inserts may ride a fresh chain — what matters
    # is that a fold HAPPENED (epoch bumped) and compacted the sidecar
    assert idx.meta.epoch > 0
    # sidecar == fresh distinct scan of live rows
    want = {
        (int(r["label"]), int(r["centroid_id"]))
        for r in idx.live_nodes()
        .select(F.explode("labels").alias("label"), "centroid_id")
        .distinct()
        .collect()
    }
    got = {
        (int(r["label"]), int(r["centroid_id"]))
        for r in spark.read.parquet(os.path.join(idx.path, "label_cells")).collect()
    }
    assert got == want
    assert not idx._label_coverage.partitions(idx.meta, [5]), "post-fold: dead label still widens probes"


def test_missing_label_coverage_raises_before_any_job(spark, tmpdir):
    """A labelled index that holds rows but lost its coverage file (or
    predates it) refuses labelled queries with a rebuild error, before
    any Spark job — instead of scanning the corpus per query batch."""
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=8).tolist(), [i % 3]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, labels array<smallint>")
    path = f"{tmpdir}/nocov"
    IvfIndex.build(df, path, num_centroids=4, distance_type="l2", label_col="labels", tune_probing=False)
    os.remove(os.path.join(path, "label_cells"))
    idx = IvfIndex.load(spark, path)
    qdf = spark.createDataFrame([(0, rows[0][1])], "query_id long, query_vec array<float>")

    def labelled_queries():
        with pytest.raises(ValueError, match="rebuild"):
            idx.search(rows[0][1], k=3, nprobe=1, labels=[1])
        with pytest.raises(ValueError, match="rebuild"):
            idx.search_batch(qdf, k=3, nprobe=1, labels=[1])
        with pytest.raises(ValueError, match="rebuild"):
            idx.ann_join(qdf, k=3, nprobe=1, labels=[1])

    assert count_jobs(spark, labelled_queries) == 0
    assert idx.search(rows[0][1], k=3, nprobe=1).count() == 3  # unfiltered still serves


def test_empty_labelled_index_answers_no_rows(spark, tmpdir):
    """A labelled index with no live rows has nothing for a coverage file
    to cover: without the file, labelled queries answer with no rows."""
    rows = [(i, [float(i), 1.0, 0.0, 0.0], [1]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, labels array<smallint>")
    path = f"{tmpdir}/emptied_lbl"
    idx = IvfIndex.build(df, path, num_centroids=2, label_col="labels", tune_probing=False)
    idx.delete(list(range(8)))
    os.remove(os.path.join(path, "label_cells"))
    idx = IvfIndex.load(spark, path)
    assert idx.meta.num_rows == 0
    qdf = spark.createDataFrame([(0, [0.0] * 4)], "query_id long, query_vec array<float>")
    assert idx.search([0.0] * 4, k=3, labels=[1]).count() == 0
    assert idx.search_batch(qdf, k=3, labels=[1]).count() == 0
    assert idx.ann_join(qdf, k=3, labels=[1]).count() == 0
