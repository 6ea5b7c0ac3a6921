"""IvfIndex — persisted IVF where probing IS partition pruning.

The cells are physical: the node table is written partitioned by
centroid_id, so a query's nprobe cell filter becomes a parquet
PartitionFilter — unprobed cells are never opened, not merely skipped.
This is the storage-level payoff of coarse quantization at 100 TB: I/O is
proportional to nprobe/num_centroids of the corpus per query, enforced by
the layout rather than by a runtime filter.

Centroids train with declarative k-means (similarity.kmeans_centroids;
iterations=0 degrades to deterministic lowest-id seeds) and persist as a
tiny parquet the driver loads to plan probes.
"""

from __future__ import annotations

import os
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgvectorscale_spark.functions.distance import distance_expr
from pgvectorscale_spark.operators import routing
from pgvectorscale_spark.operators.index_util import (
    delete_dir,
    dir_exists,
    list_subdirs,
    prepare_rebuild,
    window_topk,
    writer_lock,
)
from pgvectorscale_spark.operators.similarity import kmeans_centroids
from pgvectorscale_spark.types import DistanceType, IndexMeta

__all__ = ["IvfIndex"]

_RESULT_SCHEMA = "query_id long, node_id long, distance double, rank integer"


class IvfIndex:
    """Persisted IVF index: parquet nodes partitioned by cell + centroids."""

    def __init__(self, spark: SparkSession, path: str, meta: IndexMeta):
        self.spark = spark
        self.path = path
        self.meta = meta
        # (label, cell) coverage sidecar: widens labelled probes to every
        # cell holding a requested label
        self._label_coverage = routing.LabelCoverage(
            path, "label_cells", ("label", "centroid_id")
        )

    @classmethod
    def build(
        cls,
        df: DataFrame,
        path: str,
        num_centroids: int = 64,
        kmeans_iterations: int = 3,
        distance_type: str = DistanceType.L2.value,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        tune_probing: bool = True,
        label_col: str | None = None,
    ) -> "IvfIndex":
        """``label_col`` (round 13 — IVF/DiskANN family parity): store a
        smallint-label array per row and filter probed-cell scans with
        the reference's `&&` overlap semantics (labels/mod.rs truth
        table: NULL and empty row labels never match; an empty QUERY
        filter matches nothing; None = unfiltered). A (label, cell)
        coverage sidecar written here (and appended per insert) widens
        labeled probes to every cell holding the label, so a rare label
        concentrated in an unprobed cell cannot silently disappear —
        the same contract as DiskannIndex's label routing."""
        spark = df.sparkSession
        src = df.filter(F.col(vector_col).isNotNull())
        if label_col is not None:
            from pgvectorscale_spark.operators.diskann import _validate_label_bounds

            _validate_label_bounds(src, label_col)
        if kmeans_iterations > 0:
            cents = kmeans_centroids(
                src, num_centroids, kmeans_iterations, vector_col, id_col
            )
        else:
            cents = (
                src.orderBy(F.col(id_col).asc())
                .limit(num_centroids)
                .select(
                    F.col(id_col).alias("centroid_id"),
                    F.col(vector_col).cast("array<double>").alias("centroid"),
                )
            )
        cents = cents.cache()
        node_sel = [F.col(id_col).alias("node_id"), F.col(vector_col).alias("vector")]
        if label_col is not None:
            node_sel.append(F.col(label_col).cast("array<smallint>").alias("labels"))
        # round 14: the nearest-centroid assignment is the map-only numpy
        # kernel (similarity._assign_nearest — bit-exact twin of the old
        # crossJoin+min_by SQL fold) with the vector/labels passed through,
        # so the nodes frame needs NO corpus self-join to re-attach them
        # (the old shape joined the corpus with its own assignment: a
        # corpus-sized shuffle per build)
        from pgvectorscale_spark.operators.similarity import (
            _assign_nearest,
            _rows_to_centroids,
        )

        c_ids, c_mat = _rows_to_centroids(
            cents.select("centroid_id", "centroid").collect()
        )
        nodes = _assign_nearest(
            src.select(*node_sel), c_ids, c_mat, distance_type, "vector"
        )
        # snapshot-isolated (re)build under the writer lock (a concurrent
        # fold's uncommitted gen dir must not be swept as an orphan, and
        # two racing builds must serialize like every other writer): at a
        # path with a readable prior index the new cells AND the new
        # centroid table land in FRESH generation dirs, and the meta save
        # is the atomic flip — readers of the old index finish
        # consistently on its dirs, which wait one cycle in trash.
        # Centroids get their own generation (meta.centroids_rel) because
        # a rebuild changes what every centroid_id MEANS: a reader must
        # resolve centroids through its own meta snapshot, never a fixed
        # path overwritten under it.
        import uuid

        with writer_lock(path):
            dest_rel, trash, epoch, counter = prepare_rebuild(path)
            cents_rel = (
                "centroids" if dest_rel == "nodes" else f"centroids_gens/{uuid.uuid4().hex[:12]}"
            )
            # one task per cell; each cell becomes one parquet partition.
            # Round 14: repartition on a collision-free PROXY of the cell id
            # — hashing num_centroids keys into num_centroids partitions
            # collides (guide §2.5), so the write stage ran in max-load
            # waves (3 cells through one task at n=8) with most partitions
            # empty. The proxy is dropped before the write; file layout
            # (partitionBy) is unchanged.
            from pgvectorscale_spark.operators.partitioning import (
                proxy_partition_col,
            )

            cent_ids = [int(x) for x in c_ids]  # already collected above
            (
                nodes.withColumn(
                    "_pid", proxy_partition_col(F.col("centroid_id"), cent_ids)
                )
                .repartition(max(len(cent_ids), 1), "_pid")
                .drop("_pid")
                .write.mode("overwrite")
                .partitionBy("centroid_id")
                .parquet(os.path.join(path, dest_rel))
            )
            cents.write.mode("overwrite").parquet(os.path.join(path, cents_rel))
            if dest_rel == "nodes":
                # no readable prior meta: wipe any chain dirs a wiped/corrupt
                # index may have abandoned (readers are governed by the meta)
                import shutil

                shutil.rmtree(os.path.join(path, "nodes_delta"), ignore_errors=True)
                delete_dir(os.path.join(path, "nodes_delta"))  # remote-capable twin
            n = src.count()
            row = src.select(F.size(F.col(vector_col)).alias("d")).first()
            meta = IndexMeta(
                distance_type=distance_type,
                storage_type="ivf_flat",
                num_dimensions=int(row["d"]) if row else 0,
                num_shards=num_centroids,
                num_rows=n,
                base_rel=dest_rel,
                trash_dirs=trash,
                trash_epoch=epoch,
                epoch=epoch,
                delta_counter=counter,
                centroids_rel=cents_rel,
                has_labels=label_col is not None,
            )
            # id -> cell routing sidecar (routing_store.py): which cell
            # holds an id is data, so mutation membership probes would
            # otherwise scan every cell's node_id pages per micro-batch.
            # Written from the just-persisted cells (column-pruned
            # read-back: node_id + the centroid_id partition value) and
            # committed by the same meta.save as the build.
            from pgvectorscale_spark.operators import routing_store

            if n > 0:
                routing_store.write_base(
                    spark.read.parquet(os.path.join(path, dest_rel)).select(
                        "node_id", "centroid_id"
                    ),
                    path,
                    meta,
                    "centroid_id",
                )
            meta.save(path)
            idx = cls(spark, path, meta)
            if label_col is not None and n > 0:
                # (label, cell) coverage sidecar from the just-persisted
                # cells — tiny (labels x cells rows), read per labeled
                # query with a per-epoch driver memo
                idx._label_coverage.write(
                    spark.read.parquet(os.path.join(path, dest_rel))
                    .select(F.explode("labels").alias("label"), "centroid_id")
                    .distinct()
                    .collect()
                )
            if tune_probing and n > 1:
                # probing-recall curve for recall_target nprobe selection
                # (one exact pass over the fresh index; held-out,
                # hash-ordered sample — see tune_probing)
                idx.tune_probing()
        cents.unpersist()
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IvfIndex":
        return cls(spark, path, IndexMeta.load(path))

    def nodes(self) -> DataFrame:
        """Current node table WITH mutation markers: base cell partitions
        merged with the committed delta chain (latest generation wins per
        (node_id, cell)), a `deleted` flag on every row. Mutations persist
        only changed rows as delta generations (the diskann base+delta sink
        applied to IVF — an upsert that MOVES a vector to a nearer cell
        writes the new row plus a tombstone marker for the stale copy in
        the old cell, so per-cell partition pruning stays valid without any
        cross-cell read). With no chain open this is a plain pruned scan;
        a filter on centroid_id pushes below the merge window into the
        scans, so probing still prunes partitions."""
        u = self._nodes_union()
        if not self.meta.delta_gens:
            return u.drop("_seq")
        return self._latest(u).drop("_seq")

    def _node_cols(self, with_deleted: bool = True) -> list[str]:
        """The node-table column set — labels ride every generation when
        the index is labeled, so filters and folds see them uniformly."""
        cols = ["node_id", "vector", "centroid_id"]
        if self.meta.has_labels:
            cols.append("labels")
        if with_deleted:
            cols.append("deleted")
        return cols

    def _base_frames(self) -> DataFrame:
        """Base snapshot: the `base_rel` dir for cells without a fold
        override, plus each override dir filtered to exactly the cells
        mapped to it. Superseded copies of a folded cell legitimately stay
        on disk for the trash grace cycle — the filters keep them out. An
        override of "" marks a cell every row of which was tombstoned away
        by a fold: no rows anywhere (folds drop IVF tombstones)."""
        cols = self._node_cols()

        def _read(rel: str) -> DataFrame:
            df = self.spark.read.parquet(os.path.join(self.path, rel))
            if "deleted" not in df.columns:
                df = df.withColumn("deleted", F.lit(False))
            return df.select(cols)

        from pgvectorscale_spark.operators.index_util import snapshot_base_dirs

        dirs = snapshot_base_dirs(self.path, self.meta, "centroid_id")
        if len(dirs) == 1 and dirs[0][1] is None:
            return _read(os.path.relpath(dirs[0][0], self.path))
        frames = [
            _read(os.path.relpath(d, self.path)).filter(F.col("centroid_id").isin(cc))
            for d, cc in dirs
        ]
        if not frames:
            # every cell emptied by folds: schema-typed empty view
            lbl = ", labels array<smallint>" if self.meta.has_labels else ""
            return self.spark.createDataFrame(
                [],
                f"node_id long, vector array<float>, centroid_id int{lbl}, deleted boolean",
            )
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        return u

    def _nodes_union(self) -> DataFrame:
        """Raw base ∪ delta rows with a ``_seq`` generation column — no
        latest-wins dedupe (id-restricted merges join against THIS so the
        broadcast semijoin pushes into the scans below the window)."""
        u = self._base_frames().withColumn("_seq", F.lit(0))
        for k, rel in enumerate(self.meta.delta_gens, start=1):
            d = os.path.join(self.path, rel)
            if not dir_exists(d):  # FS-aware: os.path lies for s3://.../hdfs://
                continue  # crash-cleaned generation
            u = u.unionByName(
                self.spark.read.parquet(d)
                .select(self._node_cols())
                .withColumn("_seq", F.lit(k))
            )
        return u

    @staticmethod
    def _latest(u: DataFrame) -> DataFrame:
        w = Window.partitionBy("node_id", "centroid_id").orderBy(F.col("_seq").desc())
        return (
            u.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        )

    def live_nodes(self) -> DataFrame:
        """Serving view: merged rows minus tombstones, legacy 3-col shape
        (plus ``labels`` when the index is labeled)."""
        return self.nodes().filter(~F.coalesce(F.col("deleted"), F.lit(False))).select(
            self._node_cols(with_deleted=False)
        )

    def _centroids_dir(self) -> str:
        """Centroid table dir of THIS meta snapshot: resolved through
        ``meta.centroids_rel`` (a rebuild writes a fresh generation and
        flips the pointer — centroid ids change meaning with the
        clustering, so reading a fixed path would let a concurrent rebuild
        swap the table under an in-flight reader). Pre-pointer metas
        default to the legacy fixed dir."""
        return os.path.join(self.path, getattr(self.meta, "centroids_rel", None) or "centroids")

    def centroids(self) -> DataFrame:
        """Centroid table of this meta snapshot (see ``_centroids_dir``)."""
        return self.spark.read.parquet(self._centroids_dir())

    def _centroid_table(self) -> tuple[np.ndarray, np.ndarray] | None:
        """(centroid_ids, centroid_matrix), read on the driver with pyarrow
        (no Spark job); None for an index built over an empty table."""
        import pyarrow.parquet as papq

        t = papq.read_table(self._centroids_dir(), use_threads=False)
        if not t.num_rows:
            return None
        d = t.select(["centroid_id", "centroid"]).to_pydict()
        return np.array(d["centroid_id"], dtype=np.int64), np.array(d["centroid"], dtype=np.float64)

    def probe_cells(self, query_vec: Sequence[float], nprobe: int) -> list[int]:
        """The ``nprobe`` cells nearest ``query_vec``, nearest first."""
        table = self._centroid_table()
        if table is None:  # index built over an empty table: nothing to probe
            return []
        return routing.nearest_partitions(*table, query_vec, self.meta.distance_type, nprobe)[0].tolist()

    def _label_filter_expr(self, labels):
        """`row.labels && query_labels` (labels/mod.rs `&&` semantics):
        NULL or empty row labels never match; the empty-filter case is
        short-circuited by callers to an empty result."""
        arr = F.array([F.lit(int(l)).cast("smallint") for l in labels])
        return F.arrays_overlap(F.col("labels"), arr)

    def _query_front(self, labels) -> list[int] | None:
        """The label handling ``search``, ``search_batch`` and ``ann_join``
        share: the label-coverage cells every query also probes, or None
        for an explicit empty filter (``labels && '{}'`` matches nothing)."""
        if labels is not None and not self.meta.has_labels:
            raise ValueError(
                f"index at {self.path} was built without labels "
                "(pass label_col= at build time to enable label filtering)"
            )
        if labels is None:
            return []
        if len(list(labels)) == 0:
            return None
        return sorted(self._label_coverage.partitions(self.meta, labels))

    def tune_probing(
        self, sample_queries: int = 16, k: int = 10, held_out: bool = True
    ) -> dict[str, float]:
        """Measure the probing-recall curve and store it in the meta —
        the IVF twin of ``DiskannIndex.tune_routing`` (same semantics,
        same meta fields, same bias discipline): for a deterministic
        HELD-OUT query sample drawn in xxhash64(node_id) order (the
        k-means seeds are the lowest-id vectors, so a lowest-id sample
        would sit at the cells' anchor points and saturate the curve),
        curve[p] = fraction of exact top-k neighbors whose home CELL is
        among the query's p nearest centroids. ``search(recall_target=r)``
        picks the smallest adequate nprobe. Stamped with the live count
        for fold-time staleness re-tuning; one exact corpus pass — opt
        out with ``build(..., tune_probing=False)``."""
        return routing.tune(
            self, self._centroid_table(), self.live_nodes(), "centroid_id",
            sample_queries, k, held_out,
        )

    ROUTING_DRIFT_BOUND = routing.ROUTING_DRIFT_BOUND

    def probing_curve_stale(
        self, drift: float | None = None, live_count: int | None = None
    ) -> bool:
        """True when the stored probing-recall curve no longer describes
        the corpus (``routing.curve_stale``). ``live_count`` skips the
        corpus count when the caller already has it."""
        return routing.curve_stale(
            self.meta, lambda: self.live_nodes().count(), drift, live_count
        )

    def auto_nprobe(self, recall_target: float) -> int:
        """Smallest probe count whose measured probing recall reaches the
        target (``routing.auto_probe``)."""
        return routing.auto_probe(self, recall_target, "tune_probing")

    def _resolve_nprobe(
        self, nprobe: int | None, recall_target: float | None
    ) -> int:
        if nprobe is not None and recall_target is not None:
            raise ValueError("pass nprobe or recall_target, not both")
        if recall_target is not None:
            if self.meta.routing_recall_curve:
                return self.auto_nprobe(recall_target)
            return int(self.meta.num_shards)  # untuned: degrade to full probe
        return 8 if nprobe is None else int(nprobe)

    def search(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int | None = None,
        recall_target: float | None = None,
        labels: Sequence[int] | None = None,
    ) -> DataFrame:
        """Top-k over the probed cells only.

        The `centroid_id IN (...)` filter is a partition filter — check
        .explain(): `PartitionFilters: [centroid_id IN ...]` with no
        PushedFilters needed; unprobed cell files are never read.
        ``recall_target=r`` picks nprobe from the stored probing-recall
        curve (tune_probing); untuned indexes degrade to probing every
        cell. Default nprobe stays 8. ``labels`` filters with the `&&`
        overlap rule inside the probed-cell scan ([] matches nothing),
        and widens the probe set to every cell holding any requested
        label via the coverage sidecar — DiskANN family semantics.
        """
        extra = self._query_front(labels)
        if extra is None:
            return self.spark.createDataFrame([], "node_id long, distance double")
        nprobe = self._resolve_nprobe(nprobe, recall_target)
        cells = sorted(set(self.probe_cells(query_vec, nprobe)).union(extra))
        if not cells:
            return self.spark.createDataFrame([], "node_id long, distance double")
        qlit = F.array([F.lit(float(x)) for x in query_vec])
        scan = self.live_nodes().filter(F.col("centroid_id").isin(cells))
        if labels is not None:
            scan = scan.filter(self._label_filter_expr(labels))
        return (
            scan.withColumn(
                "distance",
                F.round(distance_expr(F.col("vector"), qlit, self.meta.distance_type), 6),
            )
            .orderBy(F.col("distance").asc(), F.col("node_id").asc())
            .limit(k)
            .select("node_id", "distance")
        )

    # -- mutations ---------------------------------------------------------

    def insert(
        self,
        df: DataFrame,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        label_col: str = "labels",
    ) -> None:
        """Micro-batch upsert via the delta sink: the batch's rows land in
        their nearest (fixed) centroid's cell as a new delta generation —
        O(batch) rows written, never a cell-partition rewrite. A re-inserted
        id whose nearest cell CHANGED also writes a tombstone marker into
        its old cell (the moved vector leaves no live duplicate, and probes
        of either cell stay purely partition-pruned). Centroids stay fixed
        after training — standard IVF; retrain by rebuilding when cell
        quality drifts. Writers are serialized by the index lock file."""
        with writer_lock(self.path):
            src = df.filter(F.col(vector_col).isNotNull())
            if src.isEmpty():
                # nothing to write: a no-op batch must not burn a delta
                # generation or set has_mutations (which permanently
                # disables the exact-scan cost bypass)
                return
            cents = self.centroids().select("centroid_id", F.col("centroid").alias("_cv"))
            in_sel = [
                F.col(id_col).cast("long").alias("node_id"),
                F.col(vector_col).alias("vector"),
            ]
            if self.meta.has_labels:
                if label_col not in src.columns:
                    raise ValueError(
                        f"index at {self.path} is labeled: insert batches must "
                        f"carry a {label_col!r} column"
                    )
                in_sel.append(F.col(label_col).cast("array<smallint>").alias("labels"))
            aggs = [
                F.min_by("centroid_id", F.struct("_d", "centroid_id")).alias("centroid_id"),
                F.first("vector").alias("vector"),
            ]
            if self.meta.has_labels:
                aggs.append(F.first("labels").alias("labels"))
            new = (
                src.select(*in_sel)
                .crossJoin(F.broadcast(cents))
                .withColumn(
                    "_d", distance_expr(F.col("vector"), F.col("_cv"), self.meta.distance_type)
                )
                .groupBy("node_id")
                .agg(*aggs)
                .select(self._node_cols(with_deleted=False))
            )
            # stale copies in OTHER cells -> tombstone markers (same-cell
            # copies are superseded by latest-generation-wins on its own).
            # id-restricted BEFORE the merge window AND cell-pruned via the
            # id -> cell routing sidecar — a micro-batch reads the sidecar's
            # rb partitions plus the ids' own cells' files, never every
            # cell's node_id pages (the round-7 scan-IO finding)
            routed = new.select("node_id", F.col("centroid_id").alias("_newc"))
            batch_ids = new.select("node_id").distinct()
            cells = self._routing_cells_for(batch_ids)
            live_batch = self._live_rows_for(batch_ids, cells=cells).localCheckpoint()
            stale = (
                live_batch
                .join(F.broadcast(routed), "node_id")
                .filter(F.col("centroid_id") != F.col("_newc"))
                .select(
                    *self._node_cols(with_deleted=False), F.lit(True).alias("deleted")
                )
            )
            n_batch = batch_ids.count()
            n_present_live = live_batch.select("node_id").distinct().count()
            delta = new.withColumn("deleted", F.lit(False)).unionByName(stale)
            self._write_delta(delta)
            # maintain the id -> cell sidecar with the delta's own rows (a
            # column-pruned read-back of the dir just written; tombstone
            # rows' cells are already mapped and dedupe at lookup) —
            # O(batch), committed by the same meta.save below
            from pgvectorscale_spark.operators import routing_store

            if routing_store.is_present(self.meta):
                routing_store.append_delta(
                    self.spark.read.parquet(
                        os.path.join(self.path, self.meta.delta_gens[-1])
                    ).select("node_id", "centroid_id"),
                    self.path,
                    self.meta,
                    "centroid_id",
                )
            # label-coverage sidecar upkeep: union the batch's new
            # (label, cell) pairs in (O(batch) distinct + a tiny rewrite).
            # Tombstoned pairs stay as over-approximations — widening may
            # over-probe after deletes, never under-probe.
            if self.meta.has_labels:
                # column-pruned read-back of the delta just written (the
                # same dir append_delta reads) — recomputing the `new`
                # lineage here would re-run the batch x centroids
                # crossJoin a third time (round-13 review finding)
                new_pairs = (
                    self.spark.read.parquet(
                        os.path.join(self.path, self.meta.delta_gens[-1])
                    )
                    .filter(~F.col("deleted"))
                    .select(F.explode("labels").alias("label"), "centroid_id")
                    .distinct()
                    .collect()
                )
                if new_pairs:
                    old_pairs = self._label_coverage.pairs() or set()
                    self._label_coverage.write(old_pairs.union(map(tuple, new_pairs)))
            # exact incremental live count: upserts of live ids +0, fresh or
            # resurrected ids +1 — no O(corpus) merge-view count per batch
            self.meta.num_rows = int(self.meta.num_rows) + n_batch - n_present_live
            # index may now hold rows the SQL-registered table lacks: cost
            # routing must never bypass to an exact table scan again
            self.meta.has_mutations = True
            self.meta.save(self.path)
            self._maybe_fold_deltas()

    def _live_rows_for(
        self, ids_df: DataFrame, cells: "Sequence[int] | None" = None
    ) -> DataFrame:
        """Live merged rows RESTRICTED to the given ids, with the broadcast
        semijoin pushed into the parquet scans: the raw union is id-filtered
        BEFORE the latest-wins window (a join does not push below a window),
        so the dedupe runs over O(ids x generations) rows, never the corpus.
        Identical to live_nodes().join(ids) — the window partitions by
        (node_id, centroid_id), so dropping other ids' rows changes nothing
        for the kept ids (the n_present_live pattern, applied everywhere a
        mutation probes membership).

        ``cells`` (from the id -> cell routing sidecar) additionally
        PARTITION-PRUNES the scans to the cells that can hold the ids'
        rows — the centroid_id isin filter pushes below the union into
        every generation's scan as a PartitionFilter, so a 1-id probe
        opens one cell's files, not every cell's node_id pages. Must be a
        SUPERSET of the ids' cells (the sidecar guarantees it); None = no
        restriction (legacy corpus-wide probe)."""
        u = self._nodes_union()
        if cells is not None:
            if not cells:
                u = u.filter(F.lit(False))  # ids unknown to the index
            else:
                u = u.filter(F.col("centroid_id").isin([int(c) for c in cells]))
        return (
            self._latest(u.join(F.broadcast(ids_df), "node_id"))
            .filter(~F.coalesce(F.col("deleted"), F.lit(False)))
            .drop("_seq")
        )

    def _ensure_id_routing(self) -> bool:
        """Backfill the id -> cell routing sidecar for a pre-sidecar
        index: ONE corpus pass over the distinct (node_id, centroid_id)
        combos present in any generation — the same cost as a single
        legacy membership probe — then every mutation probes the
        rb-pruned sidecar instead. Meta-commits immediately (safe
        standalone under the writer lock). Returns True when usable."""
        from pgvectorscale_spark.operators import routing_store

        if routing_store.is_present(self.meta):
            return True
        pairs = self._nodes_union().select("node_id", "centroid_id").distinct()
        if pairs.isEmpty():
            return False  # empty index: build() writes the sidecar
        routing_store.write_base(pairs, self.path, self.meta, "centroid_id")
        self.meta.save(self.path)
        return True

    def _routing_cells_for(self, ids_df: DataFrame) -> "list[int] | None":
        """Cells that can hold the ids' rows, from the routing sidecar —
        or None when no sidecar exists and the index is empty (probe
        against nothing)."""
        from pgvectorscale_spark.operators import routing_store

        if not self._ensure_id_routing():
            return []
        probe = routing_store.lookup(self.spark, self.path, self.meta, ids_df)
        return sorted(int(r["part"]) for r in probe.select("part").distinct().collect())

    def delete(self, ids: Sequence[int]) -> None:
        """Tombstone rows by id: O(ids) marker rows into a new delta
        generation — cell partitions are never rewritten (fold drops the
        markers later)."""
        with writer_lock(self.path):
            ids_df = self.spark.createDataFrame([(int(i),) for i in ids], "node_id long")
            # id-restricted merge probe (see _live_rows_for), cell-pruned
            # via the routing sidecar: a 1-id delete reads the sidecar's rb
            # partition plus that id's cell(s), not every cell's node_id
            # pages (ambulkdelete touches only affected pages, vacuum.rs)
            gone = (
                self._live_rows_for(ids_df, cells=self._routing_cells_for(ids_df))
                .select(
                    *self._node_cols(with_deleted=False), F.lit(True).alias("deleted")
                )
                .localCheckpoint()  # tiny; avoids re-running the merge scan
            )
            if gone.isEmpty():
                return
            self._write_delta(gone)
            # `gone` holds exactly the live rows being tombstoned (O(ids))
            self.meta.num_rows = int(self.meta.num_rows) - int(
                gone.select("node_id").distinct().count()
            )
            # the registered table may still hold these rows: cost-based
            # SQL routing must keep using the index, not an exact table scan
            self.meta.has_tombstones = True
            self.meta.save(self.path)
            self._maybe_fold_deltas()

    # how many delta generations may accumulate before folding back into
    # the base cell partitions (same policy as DiskannIndex)
    DELTA_FOLD_SEQS = int(os.environ.get("PGVS_DELTA_FOLD_SEQS", 8))

    def _write_delta(self, delta: DataFrame) -> None:
        # the dir number comes from the NEVER-reset counter, so a
        # generation written after a fold can't overwrite a superseded dir
        # an in-flight reader may still be merging (snapshot isolation)
        self.meta.delta_counter = int(self.meta.delta_counter) + 1
        next_rel = f"nodes_delta/seq={self.meta.delta_counter}"
        delta.select(self._node_cols()).write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(os.path.join(self.path, next_rel))
        self.meta.delta_gens = list(self.meta.delta_gens) + [next_rel]

    def _maybe_fold_deltas(self) -> None:
        if int(self.meta.delta_seq) >= self.DELTA_FOLD_SEQS:
            self._fold_deltas()

    def _fold_deltas(self) -> None:
        """Fold the chain back into the base store with SNAPSHOT ISOLATION
        (same protocol as DiskannIndex._fold_deltas): touched cells' merged
        LIVE rows land in a fresh immutable ``nodes_gens/<id>`` dir and the
        per-cell base pointers flip in the meta commit — no dir is ever
        rewritten in place, so an unsynchronized reader sees the pre- or
        post-fold snapshot, never a torn mix. Tombstones are pure merge
        markers here (no traversal state, unlike diskann graph tombstones),
        so folding drops them; a cell whose every row was tombstoned maps
        to the "" sentinel (no rows anywhere). Superseded dirs wait one
        maintenance cycle in meta.trash_dirs before the next fold sweeps
        them, so readers holding the previous meta finish consistently."""
        import uuid

        from pgvectorscale_spark.operators.index_util import sweep_trash

        delta_gens = list(self.meta.delta_gens)
        if not delta_gens:
            return
        sweep_trash(self.path, self.meta)
        touched: set[int] = set()
        for rel in delta_gens:
            # FS-aware listing: os.listdir would silently yield nothing on
            # a remote store and the fold would drop the chain's content
            for name in list_subdirs(os.path.join(self.path, rel), "centroid_id="):
                touched.add(int(name.split("=", 1)[1]))
        # carry entries the sweep retained (lease-pinned / marker-failed)
        new_trash = list(self.meta.trash_dirs) + list(delta_gens)
        if touched:
            merged = self.live_nodes().filter(
                F.col("centroid_id").isin(sorted(touched))
            ).localCheckpoint()  # reused for the gen write AND the survivor probe
            survivors = {
                int(r["centroid_id"])
                for r in merged.select("centroid_id").distinct().collect()
            }
            gen_rel = f"nodes_gens/{uuid.uuid4().hex[:12]}"
            if survivors:
                (
                    merged.select(self._node_cols(with_deleted=False))
                    .write.partitionBy("centroid_id")
                    .parquet(os.path.join(self.path, gen_rel))
                )
            for c in sorted(touched):
                old = self.meta.shard_base.get(str(c))
                if old:
                    new_trash.append(f"{old}/centroid_id={c}")
                elif old is None:
                    new_trash.append(f"{self.meta.base_rel}/centroid_id={c}")
                # old == "": emptied sentinel — nothing on disk to trash
                self.meta.shard_base[str(c)] = gen_rel if c in survivors else ""
            # label-sidecar compaction (round 14): deletes leave stale
            # (label, cell) pairs that only ever OVER-probe, but a
            # long-lived labeled index under churn would widen every
            # labeled query toward full fan-out. Stale pairs can only
            # involve TOUCHED cells (a delete rides the delta chain, so
            # its cell is in `touched` at fold time), so rewrite exactly
            # those cells' pairs from the fold's live survivors and keep
            # the untouched cells' pairs as-is. Live (label, cell)
            # content is identical pre/post fold (tombstones were already
            # invisible to live_nodes), so the atomic sidecar swap is
            # safe at any point relative to the meta flip.
            stored_pairs = self._label_coverage.pairs() if self.meta.has_labels else None
            if stored_pairs is not None:
                live_pairs = (
                    merged.select(F.explode("labels").alias("label"), "centroid_id")
                    .distinct()
                    .collect()
                )
                kept_pairs = {p for p in stored_pairs if p[1] not in touched}
                self._label_coverage.write(kept_pairs.union(map(tuple, live_pairs)))
        self.meta.delta_gens = []
        self.meta.trash_dirs = list(dict.fromkeys(new_trash))
        # id-routing sidecar chain compaction (no-op until the chain
        # passes ROUTING_FOLD_GENS; superseded dirs ride trash_dirs).
        # Entries for (id, cell) combos whose rows the fold dropped stay
        # as over-approximations — probes may read an extra cell for those
        # ids, never miss one; rebuilds rewrite the sidecar fresh.
        from pgvectorscale_spark.operators import routing_store

        routing_store.maybe_compact(self.spark, self.path, self.meta)
        # folds bump the (informational) epoch and stamp it as the trash
        # enqueue point: reader leases older than this pin the sweep
        self.meta.epoch += 1
        self.meta.trash_epoch = int(self.meta.epoch)
        self.meta.save(self.path)
        # probing-recall curve staleness: same contract as
        # DiskannIndex._fold_deltas — the fold is where mutation drift is
        # paid for, so a curve past ROUTING_DRIFT_BOUND re-measures here
        # rather than letting recall_target under/over-probe a corpus the
        # curve was never measured against. Already under the writer lock.
        # An index folded down to <= 1 live row has nothing to measure:
        # DROP the curve (recall_target then degrades to full probing)
        # instead of letting tune_probing raise on the empty corpus.
        if self.meta.routing_recall_curve:
            # one corpus count shared by the staleness check and the
            # drop-vs-retune decision (the tuner re-reads live rows anyway)
            routing.refresh_after_fold(self, self.live_nodes().count(), self.tune_probing)

    def reader_lease(self, ttl_seconds: float | None = None):
        """Context manager pinning this handle's snapshot against trash
        reclamation for long-paused readers (see index_util.reader_lease)."""
        from pgvectorscale_spark.operators.index_util import reader_lease

        return reader_lease(self.path, int(self.meta.epoch), ttl_seconds)

    def search_batch(
        self,
        queries_df: DataFrame,
        k: int = 10,
        nprobe: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        recall_target: float | None = None,
        labels: Sequence[int] | None = None,
    ) -> DataFrame:
        """Batch: union of all probed cells scanned once; each query scores
        only rows of its own probe set (broadcast probe map). ``labels``
        applies the `&&` overlap filter inside the scan and widens every
        query's probe set with the label-coverage cells ([] matches
        nothing) — same semantics as ``search`` and as DiskANN."""
        extra = self._query_front(labels)
        if extra is None:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        nprobe = self._resolve_nprobe(nprobe, recall_target)
        table = self._centroid_table()
        qrows = queries_df.select(query_id_col, query_vec_col).collect()
        probe_pairs = []
        if table is not None:
            qmat = np.array([r[1] for r in qrows], dtype=np.float64)
            lists = routing.probe_lists(table, qmat, self.meta.distance_type, nprobe, extra)
            for r, cells in zip(qrows, lists):
                probe_pairs += [(int(r[0]), c) for c in cells]
        if not probe_pairs:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        probes = self.spark.createDataFrame(probe_pairs, "query_id long, centroid_id int")
        qsel = queries_df.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("_qv")
        )
        all_cells = list({c for _, c in probe_pairs})
        scan = self.live_nodes().filter(
            F.col("centroid_id").isin(all_cells)  # partition pruning
        )
        if labels is not None:
            scan = scan.filter(self._label_filter_expr(labels))
        scored = (
            scan
            .join(F.broadcast(probes), "centroid_id")  # rows only for probing queries
            .join(F.broadcast(qsel), "query_id")
            .withColumn(
                "distance",
                F.round(distance_expr(F.col("vector"), F.col("_qv"), self.meta.distance_type), 6),
            )
        )
        return window_topk(scored, k)

    def ann_join(
        self,
        queries_df: DataFrame,
        k: int = 10,
        nprobe: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        recall_target: float | None = None,
        labels: Sequence[int] | None = None,
        prune_cells: bool = False,
        partitions_per_cell: int = 4,
    ) -> DataFrame:
        """Corpus x corpus IVF join — the distributed twin of
        ``search_batch`` (which collects its query batch driver-side:
        right for serving, wrong for a 100M-row offline join). Queries
        stay a DataFrame end to end: each Arrow batch computes its own
        probe map against the BROADCAST centroid table (a numpy top-p
        per batch — no collect, |Q| x nprobe output rows carrying the
        query vector), the probed rows co-partition with the cells on
        one centroid_id exchange, scoring is the same rounded distance
        expression, and one query_id exchange runs the window top-k.
        Results are identical to search_batch on the same inputs
        (pytest-pinned — same seams, same tie-breaks).

        Scan shape: search_batch partition-prunes to the union of probed
        cells (knowable driver-side); here the probe set is data, so by
        default the cell scan is full — the right trade at true corpus x
        corpus scale, where every cell is probed by someone anyway.
        ``prune_cells=True`` is the MID-SIZE query-table option: the
        routed rows are materialized (localCheckpoint), their distinct
        probed cells collected (bounded by num_centroids — never
        query-sized), and the scan filtered to exactly those cells
        (PartitionFilters, unprobed cell files unread) — pay one
        materialization of |Q| x nprobe routed rows to skip the cells
        nobody probes. Results are identical either way (pytest-pinned).
        ``labels`` follow search_batch semantics (filter inside the scan
        + coverage-cell widening; [] matches nothing).

        ``partitions_per_cell`` (round 14) salts the scoring join
        against hot-cell skew: real corpora cluster, so one popular
        centroid can otherwise serialize |cell| x |probing queries|
        through a single task after the centroid_id exchange. Scan rows
        take a deterministic salt (pmod(hash(node_id), ppc)); routed
        rows replicate across all ppc salts (a JVM-side explode — the
        routed side is the small |Q| x nprobe one); the join key becomes
        (centroid_id, _salt), splitting every cell's work across ppc
        tasks. Each (scan row, query) pair still meets exactly once (the
        scan row's single salt), so results are bit-identical
        (pytest-pinned). Unlike DiskANN's ``partitions_per_shard`` there
        is no per-worker graph cache to multiply cold, so the default is
        >1; the cost is routed-shuffle bytes x ppc — set 1 for tiny
        query tables where the routed side would otherwise broadcast.

        The routed row's vector keeps the QUERY COLUMN'S element type
        (round 14): float32-at-rest vectors ship as ``array<float>``
        through the fan-out exchange — half the bytes of the old
        unconditional array<double> — and the distance math casts each
        element to double exactly as before (lossless for values that
        are float32 at rest), so distances are unchanged."""
        extra = self._query_front(labels)
        if extra is None:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        nprobe = self._resolve_nprobe(nprobe, recall_target)
        table = self._centroid_table()
        if table is None:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        q, vec_t = routing.query_frame(queries_df, query_id_col, query_vec_col)
        routed = routing.route_frame(
            q, table, self.meta.distance_type, nprobe, extra, "centroid_id", "_qv", vec_t
        )
        scan = self.live_nodes()
        if prune_cells:
            routed = routed.localCheckpoint()  # one materialization of |Q| x nprobe
            probed = sorted(
                int(r["centroid_id"])
                for r in routed.select("centroid_id").distinct().collect()
            )
            if not probed:
                return self.spark.createDataFrame([], _RESULT_SCHEMA)
            scan = scan.filter(F.col("centroid_id").isin(probed))
        if labels is not None:
            scan = scan.filter(self._label_filter_expr(labels))
        ppc = max(1, int(partitions_per_cell))
        join_keys = ["centroid_id"]
        if ppc > 1:
            # hot-cell salting: scan rows take ONE deterministic salt,
            # routed rows replicate across all ppc salts (JVM explode on
            # the small side), so each (scan row, query) pair meets in
            # exactly one (centroid_id, _salt) task — bit-identical
            # results, cell work split ppc ways
            scan = scan.withColumn("_salt", F.pmod(F.hash("node_id"), F.lit(ppc)))
            routed = routed.withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.lit(ppc - 1)))
            )
            join_keys = ["centroid_id", "_salt"]
        scored = scan.join(routed, join_keys).withColumn(
            "distance",
            F.round(
                distance_expr(F.col("vector"), F.col("_qv"), self.meta.distance_type), 6
            ),
        )
        return window_topk(scored, k)
