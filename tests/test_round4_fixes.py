"""Round-4 hardening: ADVICE.md items from the round-3 review.

1. `&&` (and every other operator rewrite) inside single-quoted string
   literals is never touched, even when an operand name collides with a
   registered array column.
2. Array-column lookup for the `&&` rewrite is scoped to the tables the
   query references, so a boolean column sharing a name with another
   table's array column stays a conjunction.
3. connected_components warns instead of silently returning partially
   merged components when the iteration budget is exhausted.
4. Mutation cache tokens are per-mutation nonces: a failed insert job's
   pre-populated executor cache entries can never be served by a later
   successful mutation that would otherwise reuse the same epoch.
5. insert routed to a never-populated shard (empty kmeans cell) works and
   tolerates filesystems that surface missing paths as OSError.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings

import numpy as np
import pytest

from pgvectorscale_spark.operators.dedup import connected_components
from pgvectorscale_spark.plans.sql_frontend import VectorSql


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="round4_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# -- 1. quoted literals survive every rewrite ---------------------------------


def test_overlap_rewrite_skips_string_literals(spark):
    vs = VectorSql(spark)
    df = spark.createDataFrame(
        [(1, [1, 2], "labels && x"), (2, [3], "other")],
        "id long, labels array<smallint>, note string",
    )
    vs.register_table("lit_t", df)
    # the literal contains identifier-like operands colliding with the
    # registered array column `labels` — it must pass through verbatim
    got = vs.sql("SELECT id FROM lit_t WHERE note = 'labels && x'").collect()
    assert [r["id"] for r in got] == [1]
    # distance operators inside literals survive too
    got = vs.sql("SELECT count(*) AS n FROM lit_t WHERE 'a <-> b' = 'a <-> b'").collect()
    assert got[0]["n"] == 2
    # bracket vector literals inside strings survive
    got = vs.sql("SELECT count(*) AS n FROM lit_t WHERE '[1, 2]' = '[1, 2]'").collect()
    assert got[0]["n"] == 2


# -- 2. array-column scope is per referenced table ----------------------------


def test_overlap_rewrite_scoped_to_referenced_tables(spark):
    vs = VectorSql(spark)
    arr_df = spark.createDataFrame([(1, [1])], "id long, tags array<int>")
    # a DIFFERENT table whose `tags` column is boolean
    bool_df = spark.createDataFrame(
        [(1, True, True), (2, True, False)], "id long, tags boolean, ready boolean"
    )
    vs.register_table("arr_scope", arr_df)
    vs.register_table("bool_scope", bool_df)
    # over bool_scope, `tags` is boolean: && must stay a conjunction even
    # though arr_scope has an array column with the same name
    got = vs.sql("SELECT id FROM bool_scope WHERE tags && ready").collect()
    assert [r["id"] for r in got] == [1]
    # over arr_scope the same name still rewrites to overlap semantics
    assert vs.sql("SELECT id FROM arr_scope WHERE tags && [1]").count() == 1


# -- 3. connected_components convergence signal -------------------------------


def test_connected_components_warns_on_budget_exhaustion(spark):
    # a path graph long enough that one round cannot fully collapse it
    edges = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(pairs, max_iterations=1).collect()
    assert any("did not converge" in str(w.message) for w in caught)


def _corpus(spark, n=120, d=16, seed=5):
    rng = np.random.default_rng(seed)
    mat = rng.random((n, d), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(n)], "vec_id long, embedding array<float>"
    )
    return df, mat


# -- 4. per-mutation cache nonces ---------------------------------------------


def _token(meta, shard: int) -> tuple:
    return (meta.build_id, meta.shard_mutations.get(str(shard)) or meta.mutation_id)


def test_mutation_ids_are_fresh_nonces(spark, tmpdir):
    """Every committed mutation installs a brand-new random nonce for the
    shards it touched, so a FAILED mutation attempt's pre-populated
    executor cache entries (keyed by its own never-committed nonce) can
    never be read by a later mutation — the epoch-counter collision from
    the round-3 review is structurally impossible. Untouched shards keep
    their token (their executor caches stay hot across other shards'
    mutations)."""
    import numpy as np
    from pgvectorscale_spark.operators import diskann as diskann_mod
    from pgvectorscale_spark.operators.diskann import DiskannIndex

    df, mat = _corpus(spark)
    path = f"{tmpdir}/nonces"
    idx = DiskannIndex.build(
        df, path, distance_type="l2", num_shards=2, id_col="vec_id",
        vector_col="embedding",
    )
    assert idx.meta.mutation_id, "build must mint a mutation_id"
    seen = {idx.meta.mutation_id}

    # simulate the debris a failed insert attempt leaves behind: a poisoned
    # graph cached under a nonce that was never committed
    poisoned_token = (idx.meta.build_id, "attempt-that-failed")
    nodes_dir = f"{path}/nodes"
    diskann_mod._cache_put(
        (nodes_dir, 0, poisoned_token),
        (None, np.array([], dtype=np.int64), np.array([], dtype=bool), None),
        100,
    )

    # id 500 hashes to exactly one shard: the OTHER shard's token must
    # survive the mutation untouched
    b1 = spark.createDataFrame([(500, mat[0].tolist())], "vec_id long, embedding array<float>")
    tok_before = {s: _token(idx.meta, s) for s in range(2)}
    idx.insert(b1)
    touched = {int(k) for k in idx.meta.shard_mutations}
    assert len(touched) == 1, "a 1-row batch touches exactly one shard"
    (ts,) = touched
    assert _token(idx.meta, ts) != tok_before[ts]
    assert _token(idx.meta, ts)[1] not in seen
    seen.add(_token(idx.meta, ts)[1])
    other = 1 - ts
    assert _token(idx.meta, other) == tok_before[other], "untouched shard rotated"

    idx.delete([500])
    assert _token(idx.meta, ts)[1] not in seen, "delete must mint a fresh nonce"

    # serving reads only committed tokens — never the failed attempt's
    assert poisoned_token not in {_token(idx.meta, s) for s in range(2)}
    got = idx.search(mat[0].tolist(), k=1, search_list_size=200).first()
    assert got["node_id"] == 0  # id 500 deleted again; original id 0 wins


# -- 5. versioned meta read path (V1 shim) ------------------------------------


def test_v1_meta_reads_forward_and_search_matches(spark, tmpdir):
    """A V1-written index (no mutation_id, version=1) loads through the V2
    reader via the migration chain and serves identical results."""
    import json
    import os

    from pgvectorscale_spark.operators.diskann import DiskannIndex
    from pgvectorscale_spark.types import CURRENT_META_VERSION, IndexMeta

    df, mat = _corpus(spark, seed=9)
    path = f"{tmpdir}/v1meta"
    idx = DiskannIndex.build(
        df, path, distance_type="cosine", num_shards=2, id_col="vec_id",
        vector_col="embedding",
    )
    q = mat[7].tolist()
    want = [(r["node_id"], round(r["distance"], 6)) for r in idx.search(q, k=5).collect()]

    # rewrite the sidecar to the V1 shape: no mutation_id, version=1
    meta_path = os.path.join(path, "_index_meta.json")
    with open(meta_path) as f:
        raw = json.load(f)
    raw.pop("mutation_id")
    raw["version"] = 1
    with open(meta_path, "w") as f:
        json.dump(raw, f)

    reloaded = DiskannIndex.load(spark, path)
    assert reloaded.meta.version == CURRENT_META_VERSION
    assert reloaded.meta.mutation_id == f"v1:{raw['epoch']}"
    got = [(r["node_id"], round(r["distance"], 6)) for r in reloaded.search(q, k=5).collect()]
    assert got == want

    # two independent readers of the same V1 index agree on the cache token
    again = IndexMeta.load(path)
    assert again.mutation_id == reloaded.meta.mutation_id

    # a mutation through the migrated reader rewrites the sidecar in the
    # current format, with fresh per-shard nonces for the touched shards
    reloaded.delete([3])
    with open(meta_path) as f:
        saved = json.load(f)
    assert saved["version"] == CURRENT_META_VERSION
    assert saved["shard_mutations"], "delete must record per-shard nonces"


def test_v2_meta_reads_forward(spark, tmpdir):
    """A V2 sidecar (mutation_id but no shard_mutations) migrates through
    the V2->V3 hop: empty per-shard map = every shard serves under the
    index-wide mutation_id, exactly the V2 regime."""
    import json
    import os

    from pgvectorscale_spark.operators.diskann import DiskannIndex
    from pgvectorscale_spark.types import CURRENT_META_VERSION

    df, mat = _corpus(spark, seed=19)
    path = f"{tmpdir}/v2meta"
    idx = DiskannIndex.build(
        df, path, distance_type="l2", num_shards=2, id_col="vec_id",
        vector_col="embedding",
    )
    q = mat[4].tolist()
    want = [r["node_id"] for r in idx.search(q, k=5).collect()]
    meta_path = os.path.join(path, "_index_meta.json")
    with open(meta_path) as f:
        raw = json.load(f)
    raw.pop("shard_mutations")
    raw["version"] = 2
    with open(meta_path, "w") as f:
        json.dump(raw, f)
    reloaded = DiskannIndex.load(spark, path)
    assert reloaded.meta.version == CURRENT_META_VERSION
    assert reloaded.meta.shard_mutations == {}
    assert [r["node_id"] for r in reloaded.search(q, k=5).collect()] == want


def test_future_meta_version_fails_loudly(spark, tmpdir):
    import json
    import os

    from pgvectorscale_spark.types import IndexMeta

    path = f"{tmpdir}/futuremeta"
    os.makedirs(path, exist_ok=True)
    meta = IndexMeta(num_dimensions=8)
    meta.save(path)
    with open(os.path.join(path, "_index_meta.json")) as f:
        raw = json.load(f)
    raw["version"] = 99
    with open(os.path.join(path, "_index_meta.json"), "w") as f:
        json.dump(raw, f)
    with pytest.raises(ValueError, match="newer than this reader"):
        IndexMeta.load(path)


# -- 11. per-shard tokens keep untouched caches hot ---------------------------


def test_untouched_shard_cache_entry_stays_keyed_valid(spark, tmpdir):
    """After a search warms the caches, inserting into one shard leaves the
    other shard's cached entry under exactly the token the next search
    computes — at 1000 shards, a micro-batch no longer cold-reloads 999
    unrelated graphs."""
    from pgvectorscale_spark.operators import diskann as diskann_mod
    from pgvectorscale_spark.operators.diskann import DiskannIndex

    df, mat = _corpus(spark, seed=29)
    path = f"{tmpdir}/hotshards"
    idx = DiskannIndex.build(
        df, path, distance_type="l2", num_shards=2, id_col="vec_id",
        vector_col="embedding",
    )
    idx.search(mat[0].tolist(), k=3).collect()  # warms worker caches
    nodes_dir = os.path.join(path, "nodes")
    b1 = spark.createDataFrame([(700, mat[1].tolist())], "vec_id long, embedding array<float>")
    idx.insert(b1)
    (ts,) = {int(k) for k in idx.meta.shard_mutations}
    other = 1 - ts
    # the token the next search will use for the untouched shard still
    # matches at least one populated cache key (worker processes share this
    # test process's module state under local mode only for the driver's
    # own cache; assert on key construction instead of physical residency)
    expected_other = (nodes_dir, other, _token(idx.meta, other))
    expected_touched = (nodes_dir, ts, _token(idx.meta, ts))
    assert expected_other[2][1] == idx.meta.mutation_id  # base token survives
    assert expected_touched[2][1] == idx.meta.shard_mutations[str(ts)]
    # and search still returns correct results under the mixed tokens
    got = idx.search(mat[1].tolist(), k=2, search_list_size=200).collect()
    assert got[0]["node_id"] in (1, 700)


# -- 13. review-pass regressions ----------------------------------------------


def test_transient_read_error_raises_not_empty(tmpdir, monkeypatch):
    """An EXISTING shard whose pyarrow read fails transiently must raise —
    substituting an empty frame would let the insert overwrite the shard
    with only its batch (silent data loss) and serving return partial
    results."""
    import pyarrow.dataset as pads

    from pgvectorscale_spark.operators.diskann import (
        _insert_shard_cold,
        _load_shard_graph,
    )

    nodes_dir = os.path.join(tmpdir, "transient", "nodes")
    os.makedirs(os.path.join(nodes_dir, "shard=0"))  # shard dir EXISTS

    def boom(*a, **k):
        raise OSError("simulated transient storage error")

    monkeypatch.setattr(pads, "dataset", boom)
    meta_d = {
        "distance_type": "l2", "storage_type": "plain", "num_dimensions": 4,
        "num_dimensions_to_index": 0, "num_neighbors": 4,
        "search_list_size": 8, "max_alpha": 1.2, "has_labels": False,
    }
    import pandas as pd

    from pgvectorscale_spark.operators.diskann import _node_cols

    batch = pd.DataFrame(
        {
            "node_id": pd.Series([1], dtype="int64"),
            "shard": pd.Series([0], dtype="int32"),
            "vector": [[0.1, 0.2, 0.3, 0.4]],
            "bq_code": [None], "labels": [None], "neighbors": [None],
            "is_default_start": [None], "start_labels": [None], "deleted": [False],
        }
    )[_node_cols()]
    with pytest.raises(OSError, match="transient"):
        _insert_shard_cold(batch, nodes_dir, 0, meta_d, None)
    with pytest.raises(OSError, match="transient"):
        _load_shard_graph(nodes_dir, 0, ("t", "t"), meta_d, None)


def test_cost_routing_never_bypasses_index_with_tombstones(spark, tmpdir):
    """A tiny corpus normally cost-routes to the exact table scan — but
    once the index holds tombstones the table would resurface deleted
    rows, so routing must stay on the index."""
    from pgvectorscale_spark.operators.diskann import DiskannIndex

    rng = np.random.default_rng(67)
    mat = rng.random((60, 8), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(60)], "id long, embedding array<float>"
    )
    path = f"{tmpdir}/tombroute"
    idx = DiskannIndex.build(
        df, path, distance_type="l2", num_shards=1, id_col="id", vector_col="embedding"
    )
    vs = VectorSql(spark)
    vs.register_table("tomb_t", df)
    vs.register_index("tomb_t", "embedding", idx, id_col="id")
    q = ", ".join(str(float(x)) for x in mat[0])
    sql = f"SELECT id FROM tomb_t ORDER BY embedding <-> [{q}] LIMIT 3"
    # 60 < 128: exact-scan fallback while consistent
    assert "MapInPandas" not in vs.sql(sql)._jdf.queryExecution().executedPlan().toString()
    idx.delete([0])  # nearest row tombstoned in the INDEX only
    res = vs.sql(sql)
    assert "MapInPandas" in res._jdf.queryExecution().executedPlan().toString()
    assert 0 not in [r["id"] for r in res.collect()]


def test_pack_sequences_exact_beyond_double_precision(spark):
    """Token totals beyond 2^53: integer div must stay exact where double
    division would drift."""
    big = 2**55
    counts = [big, 3, big, 5]
    df = spark.createDataFrame(
        list(zip(range(4), counts)), "doc_id long, token_count long"
    )
    from pgvectorscale_spark.operators.packing import pack_sequences

    got = {
        r["doc_id"]: (r["bin_id"], r["bin_offset"])
        for r in pack_sequences(df, window_tokens=1024, num_buckets=2).collect()
    }
    cum = 0
    for i, c in enumerate(counts):
        assert got[i] == (cum // 1024, cum % 1024), i
        cum += c


# -- 10. batched prune is bit-identical to the serial prune -------------------


def test_batch_prune_matches_robust_prune_rowwise():
    from pgvectorscale_spark.operators.vamana import VamanaGraph

    rng = np.random.default_rng(5)
    for dist in ("l2", "cosine", "inner_product"):
        n, d = 400, 16
        mat = rng.random((n, d), dtype=np.float32)
        if dist == "cosine":
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        g = VamanaGraph(mat, distance_type=dist, num_neighbors=8, max_alpha=1.2)
        for _ in range(10):
            B, K = 16, 24
            ci = np.stack([rng.choice(n, size=K, replace=False) for _ in range(B)])
            cd = np.stack(
                [g._dists_to_point(int(rng.integers(n)), ci[b]) for b in range(B)]
            )
            batch = g._batch_prune(ci.copy(), cd.copy())
            for b in range(B):
                serial = g.robust_prune(-1, ci[b].copy(), cd[b].copy())
                assert batch[b] == serial, (dist, b)


def test_bulk_build_batched_equals_per_row():
    """build_bulk with the chunk-batched prune (and batched finalize)
    produces an adjacency structure identical, edge order included, to the
    per-row serial prunes it replaced."""
    from pgvectorscale_spark.operators.vamana import VamanaGraph

    rng = np.random.default_rng(8)
    mat = rng.random((2500, 24), dtype=np.float32)

    def build(per_row: bool):
        g = VamanaGraph(
            mat, distance_type="l2", num_neighbors=16, search_list_size=32,
            ids=np.arange(len(mat), dtype=np.int64),
        )
        if per_row:
            g._batch_prune = lambda ci, cd, pls=None: [
                g.robust_prune(-1, ci[b], cd[b]) for b in range(len(ci))
            ]
        g.build_bulk()
        g.finalize()
        return g

    assert build(False).adj == build(True).adj


# -- 8. cost-based index-vs-scan routing in vs.sql ----------------------------


def test_sql_skips_index_for_tiny_or_full_k(spark, tmpdir):
    """amcostestimate freedom (cost_estimate.rs:6-50): a tiny corpus, or a
    k covering the corpus, routes to the exact declarative scan instead of
    the index; a larger corpus still routes to the index. Results are
    correct either way."""
    from pgvectorscale_spark.operators.diskann import DiskannIndex

    rng = np.random.default_rng(31)
    for n, expect_index, k in ((60, False, 5), (300, True, 5), (300, False, 300)):
        mat = rng.random((n, 8), dtype=np.float32)
        df = spark.createDataFrame(
            [(i, mat[i].tolist()) for i in range(n)], "id long, embedding array<float>"
        )
        idx = DiskannIndex.build(
            df, f"{tmpdir}/cost_{n}_{k}", distance_type="l2", num_shards=1,
            id_col="id", vector_col="embedding",
        )
        vs = VectorSql(spark)
        vs.register_table(f"cost_t_{n}_{k}", df)
        vs.register_index(f"cost_t_{n}_{k}", "embedding", idx, id_col="id")
        q = ", ".join(str(float(x)) for x in mat[0])
        res = vs.sql(
            f"SELECT id FROM cost_t_{n}_{k} ORDER BY embedding <-> [{q}] LIMIT {k}"
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        routed = "MapInPandas" in plan
        assert routed == expect_index, f"n={n} k={k}: routed={routed}, plan head: {plan[:200]}"
        assert res.first()["id"] == 0  # nearest is the query's own row

    # an explicit per-index override beats the default threshold
    mat = rng.random((60, 8), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(60)], "id long, embedding array<float>"
    )
    idx = DiskannIndex.build(
        df, f"{tmpdir}/cost_override", distance_type="l2", num_shards=1,
        id_col="id", vector_col="embedding",
    )
    vs = VectorSql(spark)
    vs.register_table("cost_small", df)
    vs.register_index("cost_small", "embedding", idx, id_col="id", min_index_rows=1)
    q = ", ".join(str(float(x)) for x in mat[0])
    res = vs.sql(f"SELECT id FROM cost_small ORDER BY embedding <-> [{q}] LIMIT 5")
    assert "MapInPandas" in res._jdf.queryExecution().executedPlan().toString()


# -- 9. two-process writer race ------------------------------------------------


def test_concurrent_writer_across_processes(spark, tmpdir):
    """A real second OS process holds the writer lock (a build/compact in
    progress); mutations from this process fail with a clean
    ConcurrentWriterError and succeed once the other writer exits
    (reference regression: tests/test_concurrent_inserts.py)."""
    import subprocess
    import sys
    import textwrap

    from pgvectorscale_spark.operators.diskann import ConcurrentWriterError, DiskannIndex

    rng = np.random.default_rng(41)
    mat = rng.random((150, 8), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(150)], "vec_id long, embedding array<float>"
    )
    path = f"{tmpdir}/race"
    idx = DiskannIndex.build(
        df, path, distance_type="l2", num_shards=1, id_col="vec_id",
        vector_col="embedding",
    )
    child_src = textwrap.dedent(
        f"""
        import sys, time
        sys.path.insert(0, {repr(str(os.getcwd()))})
        from pgvectorscale_spark.operators.index_util import writer_lock
        with writer_lock({path!r}):
            print("HELD", flush=True)
            time.sleep(10)
        """
    )
    child = subprocess.Popen(
        [sys.executable, "-c", child_src], stdout=subprocess.PIPE, text=True
    )
    try:
        assert child.stdout.readline().strip() == "HELD"
        batch = spark.createDataFrame(
            [(900, mat[0].tolist())], "vec_id long, embedding array<float>"
        )
        with pytest.raises(ConcurrentWriterError):
            idx.insert(batch)
        with pytest.raises(ConcurrentWriterError):
            idx.delete([3])
    finally:
        child.terminate()
        child.wait()
    # lock file removed on child termination? terminate() skips the finally
    # in the child only if killed mid-write; reap then retry cleanly
    lock = os.path.join(path, "_writer.lock")
    if os.path.exists(lock):
        os.remove(lock)  # crashed-writer recovery, as the error message says
    idx.insert(
        spark.createDataFrame([(900, mat[0].tolist())], "vec_id long, embedding array<float>")
    )
    assert idx.meta.num_rows == 151


def test_racing_writers_queue_with_lock_wait(spark, tmpdir):
    """The reference's concurrent-insert regression: racing INSERTs queue
    on the advisory lock and ALL land (ports.rs:160,
    tests/test_concurrent_inserts.py). With lock_wait > 0, a mutation
    issued while a real second process holds the lock waits it out and
    then succeeds."""
    import subprocess
    import sys
    import textwrap

    from pgvectorscale_spark.operators.diskann import DiskannIndex

    rng = np.random.default_rng(47)
    mat = rng.random((120, 8), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(120)], "vec_id long, embedding array<float>"
    )
    path = f"{tmpdir}/queue"
    idx = DiskannIndex.build(
        df, path, distance_type="l2", num_shards=1, id_col="vec_id",
        vector_col="embedding",
    )
    child_src = textwrap.dedent(
        f"""
        import sys, time
        sys.path.insert(0, {repr(str(os.getcwd()))})
        from pgvectorscale_spark.operators.index_util import writer_lock
        with writer_lock({path!r}):
            print("HELD", flush=True)
            time.sleep(3)
        """
    )
    child = subprocess.Popen(
        [sys.executable, "-c", child_src], stdout=subprocess.PIPE, text=True
    )
    try:
        assert child.stdout.readline().strip() == "HELD"
        batch = spark.createDataFrame(
            [(901, mat[0].tolist())], "vec_id long, embedding array<float>"
        )
        idx.insert(batch, lock_wait=30.0)  # queues ~3s, then proceeds
        assert idx.meta.num_rows == 121
    finally:
        child.wait()


# -- 7. ivf_search memoizes the corpus assignment -----------------------------


def test_ivf_search_assignment_memoized(spark):
    """Two searches over the same corpus reuse one persisted assignment
    (the corpus × centroids stage runs once per session, not per query),
    and results equal the uncached path."""
    from pgvectorscale_spark.operators import similarity as sim

    rng = np.random.default_rng(23)
    mat = rng.random((200, 8))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(200)], "vec_id long, embedding array<float>"
    )
    sim._ASSIGN_CACHE.clear()
    q1, q2 = mat[3].tolist(), mat[9].tolist()
    r1 = sim.ivf_search(df, q1, k=5, num_centroids=8, nprobe=3).collect()
    assert len(sim._ASSIGN_CACHE) == 1
    r2 = sim.ivf_search(df, q2, k=5, num_centroids=8, nprobe=3).collect()
    assert len(sim._ASSIGN_CACHE) == 1  # second query hit the memo
    cold1 = sim.ivf_search(df, q1, k=5, num_centroids=8, nprobe=3, cache_assignment=False).collect()
    cold2 = sim.ivf_search(df, q2, k=5, num_centroids=8, nprobe=3, cache_assignment=False).collect()
    assert [(r["vec_id"], r["distance"]) for r in r1] == [
        (r["vec_id"], r["distance"]) for r in cold1
    ]
    assert [(r["vec_id"], r["distance"]) for r in r2] == [
        (r["vec_id"], r["distance"]) for r in cold2
    ]
    # different params never collide in the memo
    sim.ivf_search(df, q1, k=5, num_centroids=4, nprobe=2).collect()
    assert len(sim._ASSIGN_CACHE) == 2


# -- 6. ngram jaccard: prefix filtering bounds hot-shingle skew ---------------


def test_ngram_hot_shingle_produces_no_candidate_blowup(spark):
    """500 docs sharing one stop-shingle: the old inverted-index self-join
    put C(500,2) ≈ 125k rows on one reducer. Rarest-first prefix filtering
    keeps the hot shingle out of every doc's prefix (each doc has rarer
    shingles), so candidates collapse to zero — and the output (no pair
    reaches jaccard 0.8) is unchanged."""
    from pgvectorscale_spark.functions.hashing import SPARK, tokens, word_shingles
    from pgvectorscale_spark.operators.dedup import (
        _ngram_prefix_candidates,
        ngram_jaccard_pairs,
    )

    docs = [
        (i, f"the quick brown unique{i} token{i} word{i}") for i in range(500)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    toks = tokens("text", SPARK)
    sh = df.selectExpr(
        "doc_id", f"array_distinct({word_shingles(toks, 3, SPARK)}) AS _sh"
    )
    n_cand = _ngram_prefix_candidates(sh, "doc_id", 0.8).count()
    assert n_cand == 0, f"hot shingle leaked into prefixes: {n_cand} candidates"
    assert ngram_jaccard_pairs(df, threshold=0.8).count() == 0


def test_ngram_jaccard_matches_bruteforce(spark):
    """Prefix filtering is EXACT: results equal the brute-force all-pairs
    jaccard over the same shingle sets, values included."""
    from pgvectorscale_spark.functions.hashing import SPARK, tokens, word_shingles
    from pgvectorscale_spark.operators.dedup import ngram_jaccard_pairs

    rng = np.random.default_rng(17)
    vocab = [f"w{j}" for j in range(30)]
    docs = []
    for i in range(40):
        words = list(rng.choice(vocab, size=12))
        docs.append((i, " ".join(words)))
    # seed guaranteed near-dups: copies and one-word edits
    docs.append((100, docs[0][1]))
    edited = docs[1][1].split()
    edited[5] = "EDIT"
    docs.append((101, " ".join(edited)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    toks = tokens("text", SPARK)
    sets = {
        r["doc_id"]: frozenset(r["_sh"])
        for r in df.selectExpr(
            "doc_id", f"array_distinct({word_shingles(toks, 3, SPARK)}) AS _sh"
        ).collect()
    }
    want = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = round(inter / len(sets[a] | sets[b]), 6)
            if j >= 0.6:
                want[(a, b)] = j
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.6).collect()
    }
    assert got == want
    assert (0, 100) in got and got[(0, 100)] == 1.0


def test_connected_components_no_warning_when_converged(spark):
    edges = [(0, 1), (1, 2), (5, 6)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = connected_components(pairs).collect()
    assert not any("did not converge" in str(w.message) for w in caught)
    comp = {r["id"]: r["component"] for r in rows}
    assert comp == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5}
