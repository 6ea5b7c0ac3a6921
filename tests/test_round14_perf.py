"""Round-14 optimization parity pins.

Every change in this round is a PLAN/physical change with bit-identical
results; these tests pin the identities the optimizations rely on:
- fused quantize+Hamming == encode_dataframe → hamming_distance_col
- ivf_search through the widened session memo == the uncached path,
  with and without an explicit centroids_df
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize("bits,normalize", [(1, False), (2, False), (1, True)])
def test_fused_hamming_matches_two_step(spark, bits, normalize):
    from pgvectorscale_spark.functions.distance import np_normalize
    from pgvectorscale_spark.operators.sbq import (
        encode_dataframe,
        hamming_distance_col,
        hamming_from_vector_col,
        train_quantizer,
    )

    rng = np.random.default_rng(7)
    mat = rng.random((80, 16))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(80)], "vec_id long, embedding array<float>"
    )
    quant = train_quantizer(df, bits_per_dimension=bits, normalize=normalize)
    q = rng.random(16)
    qn = np_normalize(q.reshape(1, -1))[0] if normalize else q
    qcode = quant.quantize(qn)

    enc = encode_dataframe(df, quant, normalize=normalize)
    two_step = {
        r["vec_id"]: r["h"]
        for r in enc.withColumn("h", hamming_distance_col(enc, qcode)).collect()
    }
    fused = {
        r["vec_id"]: r["h"]
        for r in df.withColumn(
            "h", hamming_from_vector_col(df, quant, qcode, normalize=normalize)
        ).collect()
    }
    assert fused == two_step


def test_ivf_search_memo_with_explicit_centroids_matches_fresh(spark):
    from pgvectorscale_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    mat = rng.random((150, 8))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(150)], "vec_id long, embedding array<float>"
    )
    cents = sim.kmeans_centroids(df, num_centroids=6, iterations=2)
    sim._ASSIGN_CACHE.clear()
    q = mat[5].tolist()
    warm = sim.ivf_search(
        df, q, k=5, num_centroids=6, nprobe=2, centroids_df=cents
    ).collect()
    assert len(sim._ASSIGN_CACHE) == 1
    warm2 = sim.ivf_search(
        df, q, k=5, num_centroids=6, nprobe=2, centroids_df=cents
    ).collect()
    cold = sim.ivf_search(
        df, q, k=5, num_centroids=6, nprobe=2, centroids_df=cents,
        cache_assignment=False,
    ).collect()
    key = lambda rows: [(r["vec_id"], r["distance"]) for r in rows]
    assert key(warm) == key(cold) == key(warm2)


def test_ivf_search_memoized_plan_reads_no_parquet(spark, tmp_path):
    """The warmed ivf_search plan must not rescan the corpus files: both
    the centroid TakeOrdered and the candidate join come from the
    persisted memo frames."""
    import os

    from pgvectorscale_spark.operators import similarity as sim

    rng = np.random.default_rng(13)
    mat = rng.random((120, 8))
    pdf_path = os.path.join(tmp_path, "emb.parquet")
    spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(120)], "vec_id long, embedding array<float>"
    ).write.parquet(pdf_path)
    df = spark.read.parquet(pdf_path)
    sim._ASSIGN_CACHE.clear()
    q = mat[2].tolist()
    sim.ivf_search(df, q, k=5, num_centroids=8, nprobe=3).collect()  # fill
    warmed = sim.ivf_search(df, q, k=5, num_centroids=8, nprobe=3)
    plan = warmed._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # drop InMemoryRelation sub-blocks: they print the CACHED plan's
    # recipe (which of course contains the original FileScan), not
    # anything this query executes
    executed, skip_indent = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-*("))
        if skip_indent is not None and indent > skip_indent:
            continue
        skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = indent
            continue
        executed.append(line)
    executed = "\n".join(executed)
    assert "FileScan" not in executed and "Scan parquet" not in executed, executed


@pytest.mark.parametrize("distance_type", ["l2", "cosine", "inner_product"])
def test_assign_map_matches_sql_fold(spark, distance_type):
    """The numpy assignment kernel must reproduce the SQL fold's float64
    sequence EXACTLY — distances bit-equal, argmin + tie-break identical to
    min_by(cid, struct(dist, cid)) over the crossJoin."""
    from pgvectorscale_spark.functions.distance import distance_expr
    from pgvectorscale_spark.operators.similarity import (
        _assign_nearest,
        _rows_to_centroids,
    )

    rng = np.random.default_rng(3)
    mat = rng.random((120, 24)).astype(np.float32)
    mat[7] = 0.0  # zero vector: cosine normalization passthrough branch
    mat[13] = mat[12]  # duplicate rows -> exact distance ties across rows
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(120)], "vec_id long, embedding array<float>"
    )
    cents_rows = [(int(100 + j), mat[j * 7].astype(np.float64).tolist()) for j in range(9)]
    cents_rows.append((200, mat[3].astype(np.float64).tolist()))
    cents_rows.append((201, mat[3].astype(np.float64).tolist()))  # duplicate centroid: cid tie-break
    cents = spark.createDataFrame(cents_rows, "centroid_id long, _cv array<double>")

    # reference: the old crossJoin + min_by(struct) shape, verbatim
    scored = df.crossJoin(F.broadcast(cents)).withColumn(
        "_d", distance_expr(F.col("embedding"), F.col("_cv"), distance_type)
    )
    want = {
        r["vec_id"]: (r["centroid_id"], r["_d"])
        for r in scored.groupBy("vec_id")
        .agg(
            F.min_by("centroid_id", F.struct("_d", "centroid_id")).alias("centroid_id"),
            F.min("_d").alias("_d"),
        )
        .collect()
    }
    cids, cmat = _rows_to_centroids([(r["centroid_id"], r["_cv"]) for r in cents.collect()])
    got = {
        r["vec_id"]: (r["centroid_id"], r["_ad"])
        for r in _assign_nearest(
            df, cids, cmat, distance_type, "embedding", dist_col="_ad"
        ).collect()
    }
    assert set(got) == set(want)
    for vid in want:
        assert got[vid][0] == want[vid][0], (vid, got[vid], want[vid])
        # EXACT float64 equality — same op sequence, not just close
        assert got[vid][1] == want[vid][1], (vid, got[vid], want[vid])


def test_assign_map_null_vector_and_empty_centroids(spark):
    from pgvectorscale_spark.operators.similarity import _assign_nearest

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    cids = np.array([5, 9], dtype=np.int64)
    cmat = np.array([[0.4, 0.6], [1.0, 2.0]], dtype=np.float64)
    rows = {
        r["vec_id"]: (r["centroid_id"], r["_ad"])
        for r in _assign_nearest(df, cids, cmat, "l2", "embedding", dist_col="_ad").collect()
    }
    assert rows[1] == (5, None)  # null vector: lowest cid, NULL distance
    assert rows[0][0] == 9 and rows[2][0] == 5
    # empty centroid set: empty result (the crossJoin had nothing to pair)
    empty = _assign_nearest(
        df, np.array([], dtype=np.int64), np.zeros((0, 0)), "l2", "embedding"
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["vec_id", "embedding", "centroid_id"]


def test_kmeans_eager_matches_legacy_chain(spark):
    """kmeans_centroids (eager, map-assigned) vs the legacy lazy unrolled
    crossJoin/min_by/avg chain — same centroid ids and values to 1e-9
    (the avg partial-sum order may differ at the last ulp; membership and
    seeding are exact)."""
    from pgvectorscale_spark.functions.distance import distance_expr
    from pgvectorscale_spark.operators.similarity import kmeans_centroids

    rng = np.random.default_rng(17)
    mat = rng.random((90, 12)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(90)], "vec_id long, embedding array<float>"
    )

    def legacy(df, num_centroids, iterations):
        centroids = (
            df.orderBy(F.col("vec_id").asc())
            .limit(num_centroids)
            .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").cast("array<double>").alias("_cv"))
        )
        for _ in range(iterations):
            scored = df.crossJoin(F.broadcast(centroids)).withColumn(
                "_d", distance_expr(F.col("embedding"), F.col("_cv"), "l2")
            )
            assigned = scored.groupBy("vec_id").agg(
                F.min_by("centroid_id", F.struct("_d", "centroid_id")).alias("centroid_id"),
                F.first("embedding").alias("embedding"),
            )
            centroids = (
                assigned.select("centroid_id", F.posexplode("embedding").alias("dim", "v"))
                .groupBy("centroid_id", "dim")
                .agg(F.avg("v").alias("m"))
                .groupBy("centroid_id")
                .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_s"))
                .select("centroid_id", F.expr("transform(_s, x -> x.m)").alias("_cv"))
            )
        return {r["centroid_id"]: np.array(r["_cv"]) for r in centroids.collect()}

    want = legacy(df, 6, 3)
    got = {
        r["centroid_id"]: np.array(r["centroid"])
        for r in kmeans_centroids(df, num_centroids=6, iterations=3).collect()
    }
    assert set(got) == set(want)
    for cid in want:
        np.testing.assert_allclose(got[cid], want[cid], rtol=0, atol=1e-9)


def test_kmeans_partial_sums_match_legacy_chain_on_odd_rows(spark):
    """NULL vectors, a NULL element and a short row contribute to the
    partial-sum k-means as they did to the posexplode → avg chain: a NULL
    vector nowhere, the others to the lowest centroid, element by element
    (a NULL element and a short row's missing tail are not counted)."""
    from pgvectorscale_spark.functions.distance import distance_expr
    from pgvectorscale_spark.operators.similarity import kmeans_centroids

    rng = np.random.default_rng(29)
    mat = rng.random((60, 6)).astype(np.float32)
    rows = [(i, mat[i].tolist()) for i in range(60)]
    with_null = rng.random(6).astype(np.float32).tolist()
    with_null[2] = None
    rows += [(100, None), (101, with_null), (102, [0.9, 0.8, 0.7]), (103, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    centroids = (
        df.orderBy("vec_id").limit(4)
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").cast("array<double>").alias("_cv"))
    )
    for _ in range(2):
        assigned = (
            df.crossJoin(F.broadcast(centroids))
            .withColumn("_d", distance_expr(F.col("embedding"), F.col("_cv"), "l2"))
            .groupBy("vec_id")
            .agg(
                F.min_by("centroid_id", F.struct("_d", "centroid_id")).alias("centroid_id"),
                F.first("embedding").alias("embedding"),
            )
        )
        centroids = (
            assigned.select("centroid_id", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("centroid_id", "dim")
            .agg(F.avg("v").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_s"))
            .select("centroid_id", F.expr("transform(_s, x -> x.m)").alias("_cv"))
        )
    want = {r["centroid_id"]: np.array(r["_cv"]) for r in centroids.collect()}
    got = {
        r["centroid_id"]: np.array(r["centroid"])
        for r in kmeans_centroids(df, num_centroids=4, iterations=2).collect()
    }
    assert set(got) == set(want)
    for cid in want:
        np.testing.assert_allclose(got[cid], want[cid], rtol=0, atol=1e-9)


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Synthetic docs with planted near-duplicates so LSH buckets collide."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "pack my box with five dozen liquor jugs before the long winter",
        "a stitch in time saves nine but two stitches save eighteen maybe",
    ]
    rows = []
    for i in range(60):
        t = base[i % 3]
        if i % 5 == 0:
            t = t + f" variant {i // 5}"
        rows.append((i, t))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_pairs_single_pass_matches_join(spark, dup_docs):
    """Round 14: pair generation from bucket member lists must equal the
    legacy bucket×bucket self-join (set equality), with ONE corpus scan."""
    from pgvectorscale_spark.operators import dedup

    pairs = dedup.minhash_candidate_pairs(dup_docs, num_hashes=16, bands=4)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    sig = dedup.minhash_signatures(dup_docs, num_hashes=16)
    b = dedup.lsh_band_buckets(sig, bands=4, rows_per_band=4)
    aa = b.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    bb = b.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    want = {
        (r["doc_a"], r["doc_b"])
        for r in aa.join(bb, ["band_id", "band_hash"]).filter("doc_a < doc_b")
        .select("doc_a", "doc_b").distinct().collect()
    }
    assert got == want and len(got) > 0
    # one signature evaluation: the executed plan holds exactly one scan of
    # the corpus (the legacy self-join held two) and no join at all
    pairs.count()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints the tree twice
    assert final.count("FileScan") <= 1
    assert "Join" not in final


def test_minhash_star_edges_single_pass_matches_join(spark, dup_docs):
    from pgvectorscale_spark.operators import dedup

    st = dedup.minhash_star_edges(dup_docs, num_hashes=16, bands=4)
    got = {(r["doc_a"], r["doc_b"]) for r in st.collect()}
    sig = dedup.minhash_signatures(dup_docs, num_hashes=16)
    bk = dedup.lsh_band_buckets(sig, bands=4, rows_per_band=4)
    bmin = bk.groupBy("band_id", "band_hash").agg(F.min("doc_id").alias("doc_a"))
    want = {
        (r["doc_a"], r["doc_b"])
        for r in bk.join(bmin, ["band_id", "band_hash"])
        .filter(F.col("doc_id") > F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b")).distinct().collect()
    }
    assert got == want and len(got) > 0


def test_simhash_pairs_single_pass_matches_join(spark, dup_docs):
    from pgvectorscale_spark.operators import dedup

    sp = dedup.simhash_pairs(dup_docs, max_hamming=6)
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in sp.collect()}
    s = dedup.simhash(dup_docs, num_bits=32)
    nb = 7
    sizes = [32 // nb + (1 if i < 32 % nb else 0) for i in range(nb)]
    offsets = [sum(sizes[:i]) for i in range(nb)]
    band_vals = F.array(
        *[F.expr(f"shiftright(simhash, {off}) & {(1 << sz) - 1}")
          for off, sz in zip(offsets, sizes)]
    )
    buckets = s.select("doc_id", "simhash", F.posexplode(band_vals).alias("band_id", "band_val"))
    a = buckets.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_sa"), "band_id", "band_val")
    b = buckets.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_sb"), "band_id", "band_val")
    want = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.join(b, ["band_id", "band_val"]).filter("doc_a < doc_b")
        .select("doc_a", "doc_b", "_sa", "_sb").distinct()
        .withColumn("hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
        .filter(F.col("hamming") <= 6).select("doc_a", "doc_b", "hamming").collect()
    }
    assert got == want and len(got) > 0

def test_simhash_multiprobe_single_pass_matches_join(spark, dup_docs):
    """Round 14: the role-tagged single-pass multiprobe banding must equal
    the legacy probe ⋈ raw self-join (set equality) with no Join node."""
    from pgvectorscale_spark.operators import dedup
    from pgvectorscale_spark.operators.dedup import _probe_masks

    for max_hamming, num_bits, num_blocks in [(3, 60, 2), (5, 60, 3), (2, 32, 1)]:
        mp = dedup.simhash_pairs_multiprobe(
            dup_docs, max_hamming=max_hamming, num_bits=num_bits, num_blocks=num_blocks
        )
        got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in mp.collect()}
        # verbatim legacy shape
        t = max_hamming // num_blocks
        sizes = [
            num_bits // num_blocks + (1 if i < num_bits % num_blocks else 0)
            for i in range(num_blocks)
        ]
        offsets = [sum(sizes[:i]) for i in range(num_blocks)]
        s = dedup.simhash(dup_docs, num_bits=num_bits)
        band_vals = F.array(
            *[F.expr(f"shiftright(simhash, {off}) & {(1 << sz) - 1}")
              for off, sz in zip(offsets, sizes)]
        )
        buckets = s.select(
            "doc_id", "simhash", F.posexplode(band_vals).alias("band_id", "band_val")
        )
        probe_arrays = [
            "array(" + ", ".join(f"band_val ^ {m}L" for m in _probe_masks(sz, t)) + ")"
            for sz in sizes
        ]
        probe_expr = (
            "CASE "
            + " ".join(
                f"WHEN band_id = {i} THEN {arr}" for i, arr in enumerate(probe_arrays)
            )
            + " END"
        )
        a = buckets.select(
            F.col("doc_id").alias("doc_a"),
            F.col("simhash").alias("_sa"),
            "band_id",
            F.explode(F.expr(probe_expr)).alias("band_val"),
        )
        b = buckets.select(
            F.col("doc_id").alias("doc_b"),
            F.col("simhash").alias("_sb"),
            "band_id",
            "band_val",
        )
        want = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in a.join(b, ["band_id", "band_val"]).filter("doc_a < doc_b")
            .select("doc_a", "doc_b", "_sa", "_sb").distinct()
            .withColumn("hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming").collect()
        }
        assert got == want, (max_hamming, num_bits, num_blocks)
        assert len(got) > 0
    mp.count()
    plan = mp._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final  # fingerprint fold evaluated once, no self-join


def test_paragraph_dedup_small_row_decision_matches_join_back(spark):
    """Round 14: paragraph_dedup's removal set now comes from the sorted
    group member lists (one hash/normalize evaluation, text out of every
    exchange); must match the legacy groupBy→join-back→regroup shape
    row-for-row, and the corpus join must stay broadcast (no corpus-sized
    re-shuffle of the document rows)."""
    from pgvectorscale_spark.functions.hashing import SPARK, h60
    from pgvectorscale_spark.operators import dedup

    rows = [
        (0, "alpha beta gamma\n\nSubscribe NOW!!\n\ndelta epsilon"),
        (1, "zeta eta theta\n\n...subscribe, now\n\nalpha beta gamma"),
        (2, "SUBSCRIBE now\n\nSUBSCRIBE now\n\niota kappa"),
        (3, "unique paragraph only"),
        (4, "lambda mu\n\n###\n\nlambda mu"),
        (5, None),  # null text: dropped by both shapes
        (6, ""),  # empty text: one empty paragraph, kept
        (7, "alpha beta gamma\n\n\n\nzeta eta theta"),  # 3+ newlines split
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.paragraph_dedup(df)
    got = {r["doc_id"]: r.asDict() for r in out.collect()}

    # verbatim legacy shape
    base = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("split(`text`, '\\n{2,}')").alias("_ps"),
    )
    paras = base.select(
        "doc_id", F.posexplode("_ps").alias("idx", "p")
    ).withColumn(
        "np", F.expr("trim(regexp_replace(lower(p), '[^a-z0-9]+', ' '))")
    ).withColumn("f", F.expr(h60("np", SPARK)))
    groups = (
        paras.filter(F.col("np") != "")
        .groupBy("f")
        .agg(
            F.count("*").alias("_c"),
            F.min(F.struct(F.col("doc_id").alias("d"), F.col("idx").alias("i"))).alias("_keep"),
        )
        .filter("_c >= 2")
        .select("f", "_keep")
    )
    marked = paras.join(groups, "f", "left").select(
        "doc_id",
        "idx",
        "p",
        (
            F.col("_keep").isNotNull()
            & ~((F.col("doc_id") == F.col("_keep.d")) & (F.col("idx") == F.col("_keep.i")))
        ).alias("removed"),
    )
    perdoc = marked.groupBy("doc_id").agg(
        F.expr("array_sort(collect_list(struct(idx, p, removed)))").alias("_a")
    )
    want_df = perdoc.select(
        "doc_id",
        F.size("_a").cast("long").alias("n_paras"),
        F.expr("size(filter(_a, x -> x.removed))").cast("long").alias("dup_paras"),
        F.round(
            F.expr("size(filter(_a, x -> x.removed))") / F.greatest(F.size("_a"), F.lit(1)),
            6,
        ).alias("dup_ratio"),
        F.expr(
            "concat_ws(',', transform(filter(_a, x -> NOT x.removed), x -> cast(x.idx as string)))"
        ).alias("kept_str"),
        F.expr(
            "concat_ws('\\n\\n', transform(filter(_a, x -> NOT x.removed), x -> x.p))"
        ).alias("clean_text"),
    )
    want = {r["doc_id"]: r.asDict() for r in want_df.collect()}
    assert set(got) == set(want)
    for d in want:
        assert got[d] == want[d], (d, got[d], want[d])
    assert out.schema == want_df.schema
    # plan: the document-row join stays broadcast — the corpus is never
    # re-shuffled to attach the (tiny) removal sets
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    assert "BroadcastHashJoin" in final


def test_embedding_lsh_single_pass_matches_join(spark):
    """Round 14: hyperplane-LSH candidate pairs from bucket member lists
    must equal the legacy bucket self-join (the projection fold is the
    dominant per-row cost and now evaluates once)."""
    import numpy as np

    from pgvectorscale_spark.operators import dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 16))
    rows = []
    for i in range(48):
        v = base[i % 12] + (rng.normal(size=16) * (0.01 if i % 4 else 0.0))
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got_pairs = dedup.embedding_neardup_lsh(df, threshold=0.8, bands=8, rows_per_band=4)
    got = {(r["id_a"], r["id_b"], r["cosine_sim"]) for r in got_pairs.collect()}

    # legacy candidate shape: bucket self-join
    d = 16
    planes = dedup.lsh_planes(d, 8, 4, 42)
    proj_cols = []
    for p in range(planes.shape[0]):
        lit = F.array([F.lit(float(x)) for x in planes[p]])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), lit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        proj_cols.append(F.when(dot > 0, F.lit(1)).otherwise(F.lit(0)))
    bits = df.select(F.col("vec_id"), F.array(*proj_cols).alias("_bits"))
    band_vals = F.array(
        *[
            F.expr(
                f"aggregate(zip_with(slice(_bits, {b * 4 + 1}, 4), sequence(0, 3), "
                "(bb, r) -> shiftleft(cast(bb as bigint), cast(r as int))), 0L, (acc, x) -> acc + x)"
            )
            for b in range(8)
        ]
    )
    buckets = bits.select("vec_id", F.posexplode(band_vals).alias("band_id", "band_val"))
    aa = buckets.select(F.col("vec_id").alias("id_a"), "band_id", "band_val")
    bb = buckets.select(F.col("vec_id").alias("id_b"), "band_id", "band_val")
    cand = (
        aa.join(bb, ["band_id", "band_val"]).filter("id_a < id_b")
        .select("id_a", "id_b").distinct()
    )
    from pgvectorscale_spark.functions.distance import l2_norm

    src = df.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("_n"))
    va = src.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"), F.col("_n").alias("_na"))
    vb = src.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"), F.col("_n").alias("_nb"))
    want = {
        (r["id_a"], r["id_b"], r["cosine_sim"])
        for r in cand.join(va, "id_a").join(vb, "id_b")
        .withColumn(
            "cosine_sim",
            F.round(dedup._pair_cosine_sim(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")), 6),
        )
        .filter(F.col("cosine_sim") >= 0.8)
        .select("id_a", "id_b", "cosine_sim").collect()
    }
    assert got == want and len(got) > 0


def test_repetition_stats_fold_matches_legacy_join(spark):
    """Round 14: the map-side longest-equal-run fold must equal the legacy
    explode + groupBy(doc, token) + groupBy(doc) + join shape — same rows
    (NULL-text docs dropped), same exact integer top count, same rounding
    — and the executed plan must be map-only (no Exchange, no Join)."""
    from pgvectorscale_spark.functions.hashing import SPARK as SQ
    from pgvectorscale_spark.functions.hashing import tokens, word_shingles
    from pgvectorscale_spark.operators.curation import repetition_stats

    rows = [
        (1, "a b a b a"),        # top = 'a' x3
        (2, "x"),                # single token
        (3, ""),                 # empty text -> one '' token
        (4, None),               # NULL text: legacy inner join drops it
        (5, "t t t t"),          # all-same
        (6, "p q r p q r p"),    # interleaved repeats
        (7, "z y x w v u"),      # all-distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_df = repetition_stats(df)
    got = {r["doc_id"]: r.asDict() for r in got_df.collect()}

    # verbatim legacy shape
    toks = tokens("`text`", SQ)
    base = df.select(F.col("doc_id"), F.expr(toks).alias("_toks"))
    ngram_cols = []
    for n in (2, 3):
        g = word_shingles("_toks", n, SQ)
        ngram_cols.append(
            F.round(
                F.lit(1.0)
                - F.expr(f"size(array_distinct({g}))") / F.expr(f"size({g})"),
                6,
            ).alias(f"dup_{n}gram_frac")
        )
    per_doc = base.select(
        "doc_id", F.size("_toks").cast("long").alias("n_tokens"), *ngram_cols
    )
    top = (
        base.select("doc_id", F.explode("_toks").alias("_tok"))
        .groupBy("doc_id", "_tok")
        .agg(F.count("*").alias("_c"))
        .groupBy("doc_id")
        .agg(F.max("_c").alias("_top"))
    )
    want_df = per_doc.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_top") / F.col("n_tokens"), 6).alias("top_token_frac"),
        "dup_2gram_frac",
        "dup_3gram_frac",
    )
    want = {r["doc_id"]: r.asDict() for r in want_df.collect()}
    assert set(got) == set(want)
    for d in want:
        assert got[d] == want[d], (d, got[d], want[d])
    assert [(f.name, f.dataType) for f in got_df.schema] == [
        (f.name, f.dataType) for f in want_df.schema
    ]

    got_df.count()
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final and "Join" not in final


def test_winnowing_in_row_matches_legacy_aggregate(spark):
    """Round 14: the in-row winnowing selection must equal the legacy
    explode + groupBy(doc, window_end) arg-min + distinct shape on ragged
    fixtures (repeats, ties, n < window, empty and NULL text), and the
    executed plan must be map-only (no Exchange)."""
    from pgvectorscale_spark.functions.hashing import SPARK as SQ
    from pgvectorscale_spark.functions.hashing import h60, tokens, word_shingles
    from pgvectorscale_spark.operators.dedup import winnowing_fingerprints

    rows = [
        (1, "a b c a b c a b c d"),   # repeats -> hash ties across windows
        (2, "x y"),                   # n < window: one whole-sequence window
        (3, "t t t t t t"),           # all-equal hashes: rightmost-tie rule
        (4, ""),                      # one '' gram
        (5, None),                    # NULL text: drops
        (6, "p q r s t u v w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    window = 4
    got_df = winnowing_fingerprints(df, shingle_n=3, window=window)
    got = {(r["doc_id"], r["pos"], r["gram_hash"]) for r in got_df.collect()}

    # verbatim legacy shape
    toks = tokens("`text`", SQ)
    grams = word_shingles(toks, 3, SQ)
    hashed = f"transform({grams}, s -> {h60('s', SQ)})"
    g = df.select(
        F.col("doc_id"),
        F.expr(f"size({grams})").alias("_n"),
        F.posexplode(F.expr(hashed)).alias("_p0", "h"),
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "h", "_n")
    ends = g.select(
        "doc_id",
        "pos",
        "h",
        F.explode(
            F.expr(
                f"filter(sequence(pos, least(pos + {window} - 1, _n)), "
                f"e -> e >= least({window}, _n))"
            )
        ).alias("e"),
    )
    picked = ends.groupBy("doc_id", "e").agg(
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).alias("_m")
    )
    want_df = picked.select(
        "doc_id",
        (-F.col("_m.np")).cast("long").alias("pos"),
        F.col("_m.h").alias("gram_hash"),
    ).distinct()
    want = {(r["doc_id"], r["pos"], r["gram_hash"]) for r in want_df.collect()}
    assert got == want and len(got) > 0
    assert [(f.name, f.dataType) for f in got_df.schema] == [
        (f.name, f.dataType) for f in want_df.schema
    ]

    got_df.count()
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final
