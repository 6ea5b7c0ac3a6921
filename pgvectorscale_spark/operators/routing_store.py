"""Persisted id -> partition routing sidecar for data-dependent sharding.

Under hash sharding, which shard holds an id is a pure function of the id
— mutation membership probes cost zero corpus IO. Under DATA-dependent
sharding (kmeans DiskANN shards, IVF cells) the id -> partition mapping is
data, and before this sidecar every micro-batch insert/delete re-derived
it by scanning the corpus-wide node_id column (column-pruned, but still
O(corpus) scan IO per batch at streaming rates). The reference never pays
this because the heap answers it: aminsert/ambulkdelete touch only the
affected pages (pgvectorscale/src/access_method/build.rs:537-558,
vacuum.rs:23-136).

The sidecar is that mapping, persisted Spark-first:

- **Layout**: ``(node_id long, part int)`` parquet partitioned by
  ``rb = pmod(xxhash64(node_id), buckets)``. A probe computes the batch
  ids' rb values (O(batch) driver work) and reads ONLY those partitions —
  the isin filter is a parquet PartitionFilter, so probe IO is
  O(corpus / buckets * touched_buckets), independent of shard/cell count.
  Within a bucket the broadcast id semijoin pushes to the scan.
- **Writes**: the full mapping at build (O(corpus), amortized into the
  build's own corpus pass); an O(batch) delta dir per insert micro-batch,
  committed by the SAME meta save that commits the node delta — the
  sidecar can never disagree with the committed node store.
- **Compaction**: the delta chain merges into a fresh base dir once it
  exceeds ``PGVS_ROUTING_FOLD_GENS`` generations (default 64). A full
  sidecar rewrite costs ~16-24 bytes/row vs the ~KB/row node store, so
  amortized over 64 micro-batches it is orders of magnitude cheaper than
  the per-batch corpus probe it replaces. (The next scale step — rb-wise
  incremental compaction mirroring the node store's ``shard_base``
  overrides — keeps the same on-disk layout.)
- **Concurrency**: only mutators read the sidecar, and every mutator
  holds the index writer lock, so compaction may reclaim superseded dirs
  immediately — no trash grace cycle. Crash between the new-base write
  and the meta flip leaves an orphan dir under ``id_routing_gens/``;
  ``index_util.sweep_trash`` reconciles those like node-store orphans.

Semantics per index type:

- DiskANN kmeans: exactly one entry per id (upserts are pinned to the
  stored shard, so id -> shard is immutable; duplicates across
  generations agree and dedupe trivially).
- IVF: a SET of cells per id (a moved upsert leaves a tombstone row in
  the old cell, which remains physically present until a fold). The set
  over-approximates after folds drop tombstones — safe: probes restricted
  to the set can only read extra cells, never miss one. Rebuilds rewrite
  the sidecar fresh, dropping the stale entries.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvectorscale_spark.operators.partitioning import (
    proxy_partition_col,
    spark_pmod_xxhash64,
)

__all__ = [
    "DEFAULT_BUCKETS",
    "ROUTING_FOLD_GENS",
    "ROUTING_PARENT",
    "append_delta",
    "append_pairs",
    "generations",
    "is_present",
    "lookup",
    "maybe_compact",
    "probe_bucket",
    "write_base",
]

ROUTING_PARENT = "id_routing_gens"
RB = "rb"
# every generation dir has this layout; reading with it skips Spark's
# per-dir schema-inference job
_SCHEMA = "node_id long, part int, rb int"
# rb partition count: 64 keeps local test sidecars multi-partition; at
# 100 TB set PGVS_ROUTING_BUCKETS so corpus_rows * 16B / buckets stays a
# comfortable per-probe scan size (e.g. 4096 for ~50B rows -> ~200 MB of
# sidecar pages per touched bucket)
DEFAULT_BUCKETS = int(os.environ.get("PGVS_ROUTING_BUCKETS", 64))
# compact the sidecar delta chain past this many generations
ROUTING_FOLD_GENS = int(os.environ.get("PGVS_ROUTING_FOLD_GENS", 64))


def _bucket_col(id_col: str, buckets: int):
    # cast to long BEFORE hashing: Spark hashes IntegerType and LongType
    # differently, and the write path always hashes the long-cast column
    # (_pairs) — an int-typed ids_df here would prune to the wrong rb
    # buckets and silently report present ids as absent
    return F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(int(buckets))).cast("int")


def _pairs(df: DataFrame, part_col: str) -> DataFrame:
    return df.select(
        F.col("node_id").cast("long").alias("node_id"),
        F.col(part_col).cast("int").alias("part"),
    )


def is_present(meta) -> bool:
    return bool(getattr(meta, "routing_ids_rel", None)) and (
        int(getattr(meta, "routing_ids_buckets", 0) or 0) > 0
    )


def write_base(
    pairs_df: DataFrame,
    index_path: str,
    meta,
    part_col: str = "part",
    buckets: int | None = None,
) -> None:
    """Write a fresh FULL sidecar from ``pairs_df`` (node_id, part) and
    point the meta at it (caller commits via meta.save — until then the
    new dir is an unreferenced orphan, crash-safe). One file per rb
    partition (``_write_buckets``): the sidecar is read bucket-pruned, so
    fragment count per bucket matters more than write parallelism."""
    b = int(buckets or DEFAULT_BUCKETS)
    rel = f"{ROUTING_PARENT}/{uuid.uuid4().hex[:12]}"
    _write_buckets(
        _pairs(pairs_df, part_col).withColumn(RB, _bucket_col("node_id", b)),
        b,
        os.path.join(index_path, rel),
    )
    old = generations(meta)
    meta.routing_ids_rel = rel
    meta.routing_ids_deltas = []
    meta.routing_ids_buckets = b
    # superseded dirs (a backfill replacing a legacy-probe index, or a
    # full rewrite) are reclaimed by the caller's next sweep via the
    # orphan reconciliation; queue them as trash for promptness
    if old:
        meta.trash_dirs = list(dict.fromkeys(list(meta.trash_dirs) + old))


def _write_buckets(rows: DataFrame, buckets: int, dest: str) -> None:
    """Write (node_id, part, rb) rows partitioned by rb, one file per
    bucket: each of min(buckets, parallelism) tasks holds whole buckets
    (rb ≡ task mod tasks), so the writer's per-task sort by rb leaves one
    file each. One task per bucket would pay a task's fixed cost per file
    — 64 tiny tasks where a few suffice. The repartition key is a
    collision-free proxy of the task number (round 14, guide §2.5):
    hashing ``tasks`` keys into ``tasks`` partitions would collide and run
    the write in max-load waves."""
    tasks = max(1, min(buckets, rows.sparkSession.sparkContext.defaultParallelism))
    (
        rows.withColumn(
            "_pid", proxy_partition_col(F.pmod(F.col(RB), F.lit(tasks)), range(tasks))
        )
        .repartition(tasks, "_pid")
        .drop("_pid")
        # each bucket's rows grouped by part, ids ascending: the part
        # column encodes as a few runs, and the file content no longer
        # depends on shuffle arrival order
        .sortWithinPartitions(RB, "part", "node_id")
        .write.mode("overwrite")
        .partitionBy(RB)
        .parquet(dest)
    )


def append_delta(pairs_df: DataFrame, index_path: str, meta, part_col: str = "part") -> None:
    """``append_pairs`` for a micro-batch's (node_id, part) rows held in a
    Spark frame: the O(batch) pairs are collected and written by the one
    layout writer."""
    pdf = _pairs(pairs_df, part_col).toPandas()
    append_pairs(pdf["node_id"].to_numpy(), pdf["part"].to_numpy(), index_path, meta)


def append_pairs(node_ids, parts, index_path: str, meta) -> None:
    """Append a micro-batch's (node_id, part) pairs as a new sidecar delta
    generation — O(batch) rows, one parquet file per touched rb partition,
    written with pyarrow on the driver (no Spark job). The caller's
    meta.save commits it atomically together with the node-store delta; a
    crash beforehand leaves an orphan dir the sweep reconciles. An empty
    batch adds no generation."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from pgvectorscale_spark.operators.index_util import _pa_fs

    ids = np.asarray(node_ids, dtype=np.int64)
    parts = np.asarray(parts, dtype=np.int32)
    if not len(ids):
        return
    rb = spark_pmod_xxhash64(ids, int(meta.routing_ids_buckets))
    rel = f"{ROUTING_PARENT}/{uuid.uuid4().hex[:12]}"
    for b in np.unique(rb):
        d = os.path.join(index_path, rel, f"{RB}={int(b)}")
        fsys, p = _pa_fs(d)
        fsys.create_dir(p)
        sel = rb == b
        table = pa.table({"node_id": ids[sel], "part": parts[sel]})
        papq.write_table(table, f"{p}/part-0.parquet", filesystem=fsys)
    meta.routing_ids_deltas = list(meta.routing_ids_deltas) + [rel]


def probe_bucket(index_path: str, rels: list[str], rb: int, ids) -> pd.DataFrame:
    """Executor-side twin of ``lookup`` for the ids of ONE rb bucket:
    pyarrow reads of that bucket's partition in every generation, id-
    filtered. Returns distinct (node_id, part). A generation without the
    bucket is legitimate (a delta touches few buckets); a transient error
    on an existing dir raises."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from pgvectorscale_spark.operators.index_util import _pa_fs

    filt = pc.field("node_id").isin(pa.array(np.asarray(ids, dtype=np.int64)))
    frames = []
    for rel in rels:
        d = os.path.join(index_path, rel, f"{RB}={int(rb)}")
        fsys, p = _pa_fs(d)
        if fsys.get_file_info(p).type == pafs.FileType.NotFound:
            continue
        t = pads.dataset(p, filesystem=fsys, format="parquet").to_table(
            columns=["node_id", "part"], filter=filt
        )
        frames.append(t.to_pandas())
    if not frames:
        return pd.DataFrame(
            {"node_id": pd.Series([], dtype="int64"), "part": pd.Series([], dtype="int32")}
        )
    return pd.concat(frames, ignore_index=True).drop_duplicates()


def generations(meta) -> list[str]:
    """The sidecar's generation dirs, base first, relative to the index."""
    rel = getattr(meta, "routing_ids_rel", None)
    if not rel:
        return []
    return [rel, *getattr(meta, "routing_ids_deltas", [])]


def lookup(
    spark: SparkSession, index_path: str, meta, ids_df: DataFrame
) -> DataFrame | None:
    """Distinct (node_id, part) for the given ids, or None when the index
    has no sidecar (caller falls back to the legacy corpus probe).

    The scan is rb-PARTITION-PRUNED: the batch ids' bucket values are
    computed first (an O(batch) job over ``ids_df``), and every sidecar
    generation is read with ``rb IN (...)`` — a PartitionFilter, so
    untouched buckets' files are never opened. The broadcast id semijoin
    then restricts rows within the touched buckets."""
    rels = generations(meta)
    if not rels:
        return None
    b = int(meta.routing_ids_buckets)
    buckets = sorted(
        int(r[0])
        for r in ids_df.select(_bucket_col("node_id", b).alias(RB)).distinct().collect()
    )
    if not buckets:
        return spark.createDataFrame([], "node_id long, part int")
    u = None
    for rel in rels:
        f = (
            spark.read.schema(_SCHEMA)
            .parquet(os.path.join(index_path, rel))
            .filter(F.col(RB).isin(buckets))
            .select("node_id", "part")
        )
        u = f if u is None else u.unionByName(f)
    ids_long = ids_df.select(F.col("node_id").cast("long").alias("node_id")).distinct()
    return (
        u.join(F.broadcast(ids_long), "node_id")
        .select("node_id", "part")
        .distinct()
    )


def maybe_compact(spark: SparkSession, index_path: str, meta) -> None:
    """Merge the sidecar delta chain into a fresh base dir once it grows
    past ROUTING_FOLD_GENS. The superseded dirs ride the node store's
    trash machinery (reclaimed by the next sweep) — deleting them here,
    before the caller's meta.save commits the pointer flip, would leave a
    crashed compaction's meta referencing deleted dirs. A crash BEFORE the
    save instead leaves the new dir as a sweep-reconciled orphan and the
    old dirs still referenced — consistent either way."""
    rels = generations(meta)
    if not rels or len(meta.routing_ids_deltas) < ROUTING_FOLD_GENS:
        return
    u = None
    for rel in rels:
        f = spark.read.schema(_SCHEMA).parquet(os.path.join(index_path, rel)).select(
            "node_id", "part", RB
        )
        u = f if u is None else u.unionByName(f)
    new_rel = f"{ROUTING_PARENT}/{uuid.uuid4().hex[:12]}"
    _write_buckets(
        u.distinct(), int(meta.routing_ids_buckets), os.path.join(index_path, new_rel)
    )
    meta.routing_ids_rel = new_rel
    meta.routing_ids_deltas = []
    meta.trash_dirs = list(dict.fromkeys(list(meta.trash_dirs) + rels))
