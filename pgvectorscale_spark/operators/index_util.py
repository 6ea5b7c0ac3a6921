"""Shared index-maintenance plumbing: the single-writer lock.

The reference serializes index writers with a transaction-scoped advisory
lock (src/util/ports.rs:160, regression-tested by
tests/test_concurrent_inserts.py). The parquet-backed analog is an
atomically-created lock file per index directory (O_CREAT|O_EXCL — atomic
on local and network POSIX filesystems; swap in a conditional-put on
object stores). Used by every mutable index type.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

__all__ = [
    "ConcurrentWriterError",
    "StaleIndexReadError",
    "delete_dir",
    "dir_exists",
    "dir_exists_strict",
    "file_exists",
    "list_files",
    "list_subdirs",
    "prepare_rebuild",
    "reader_lease",
    "snapshot_base_dirs",
    "sweep_trash",
    "swept_marker_path",
    "touch_file",
    "window_topk",
    "write_sidecar_atomic",
    "writer_lock",
]


def _pa_fs(path: str):
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def dir_exists(path: str) -> bool:
    """Directory-existence probe on the path's OWN filesystem — os.path
    calls silently return False for s3://... / hdfs://... URIs, which would
    make readers skip committed delta generations on remote stores."""
    from pyarrow import fs as pafs

    try:
        fsys, p = _pa_fs(path)
        return fsys.get_file_info(p).type == pafs.FileType.Directory
    except Exception:
        return False


def file_exists(path: str) -> bool:
    """File-existence probe on the path's own filesystem (remote-capable
    twin of os.path.isfile)."""
    from pyarrow import fs as pafs

    try:
        fsys, p = _pa_fs(path)
        return fsys.get_file_info(p).type == pafs.FileType.File
    except Exception:
        return False


def window_topk(cand, k: int):
    """The gather both index families end a query with: per query_id, the
    k candidates of least (distance, node_id), ranked from 1, as
    (query_id, node_id, distance, rank)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("node_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "node_id", "distance", "rank")
    )


def write_sidecar_atomic(final_path: str, table) -> None:
    """Publish a tiny sidecar table as ONE parquet file, atomically for
    readers. Local paths: temp file + os.replace (rename is atomic).
    Remote URIs: a direct single-object write — os.replace cannot span a
    remote filesystem, and object stores make the put itself atomic (the
    object appears complete or not at all)."""
    import pyarrow.parquet as papq

    if "://" in final_path:
        papq.write_table(table, final_path)
        return
    import uuid

    tmp = f"{final_path}.{uuid.uuid4().hex[:8]}.tmp"
    papq.write_table(table, tmp)
    os.replace(tmp, final_path)


def dir_exists_strict(path: str) -> bool:
    """Existence probe that distinguishes DEFINITE not-found from transient
    filesystem errors. ``get_file_info`` reports a missing path as
    ``FileType.NotFound`` without raising, so any exception here is a real
    FS failure (S3/HDFS hiccup) and PROPAGATES instead of being folded into
    ``False``. Callers that turn "dir is gone" into a protocol-level signal
    (``snapshot_base_dirs`` raising StaleIndexReadError) must use this —
    the non-strict ``dir_exists`` would misreport a transient error as
    'reclaimed by a later fold'."""
    from pyarrow import fs as pafs

    fsys, p = _pa_fs(path)
    return fsys.get_file_info(p).type == pafs.FileType.Directory


def swept_marker_path(partition_dir: str) -> str:
    """Marker file recording that a partition subdir (``.../shard=K`` /
    ``.../centroid_id=K``) was SWEPT from a still-live parent dir. Lets a
    reader whose meta predates the fold distinguish 'this shard was never
    populated' (no dir, no marker -> legitimately empty) from 'this shard
    was folded away and its superseded copy reclaimed' (no dir, marker ->
    StaleIndexReadError instead of silently serving an empty shard).

    Markers live in a ``<parent>.swept`` SIBLING dir, never inside the
    parquet dir itself — Spark's scan listing would otherwise try to read
    the marker as a data file and fail the whole scan. They are tiny, at
    most one per partition of the parent, and are reclaimed with the
    parent (prepare_rebuild trashes the sibling alongside it)."""
    parent, name = os.path.split(partition_dir.rstrip("/"))
    return os.path.join(f"{parent}.swept", name)


def delete_dir(path: str) -> None:
    """Recursively delete a directory on its own filesystem; missing is
    fine. The remote-capable sibling of shutil.rmtree(ignore_errors=True)."""
    try:
        fsys, p = _pa_fs(path)
        fsys.delete_dir(p)
    except Exception:
        pass


def _list_entries(path: str, prefix: str, want_dirs: bool, strict: bool) -> list[str]:
    from pyarrow import fs as pafs

    try:
        fsys, p = _pa_fs(path)
        infos = fsys.get_file_info(pafs.FileSelector(p, recursive=False))
    except FileNotFoundError:
        return []
    except Exception:
        if strict and dir_exists_strict(path):
            # the dir exists but cannot be listed: a transient FS error.
            # Strict callers (the snapshot base view) must FAIL, not treat
            # it as empty — an empty answer would drop the base rows from
            # a fold's merge and commit the loss. (dir_exists_strict itself
            # re-raises on a transient probe error, so a flaky FS can't
            # downgrade the failure to an empty listing either.)
            raise
        return []
    want = pafs.FileType.Directory if want_dirs else pafs.FileType.File
    out = []
    for info in infos:
        name = info.path.rstrip("/").rsplit("/", 1)[-1]
        if info.type == want and name.startswith(prefix):
            out.append(name)
    return out


def list_subdirs(path: str, prefix: str, strict: bool = False) -> list[str]:
    """Names of immediate subdirectories starting with ``prefix`` (e.g.
    partition dirs ``shard=``/``centroid_id=``), on any pyarrow-supported
    filesystem. Missing path -> []. ``strict=True`` raises when the path
    EXISTS but listing fails (transient FS error) instead of returning []
    — for callers whose correctness depends on a complete answer."""
    return _list_entries(path, prefix, want_dirs=True, strict=strict)


def list_files(path: str, prefix: str, strict: bool = False) -> list[str]:
    """Names of immediate FILES starting with ``prefix`` (e.g. swept
    markers), remote-capable. Missing path -> []. ``strict=True`` raises
    when the path EXISTS but listing fails — for probes whose ABSENCE of a
    match is itself a signal (the swept-marker staleness checks: silently
    skipping them on a transient error would let a 2+-cycle-stale reader
    serve an empty shard)."""
    return _list_entries(path, prefix, want_dirs=False, strict=strict)


def touch_file(path: str) -> bool:
    """Create an empty file on the path's own filesystem, creating its
    parent dir if needed (remote-capable marker write). Returns ``True`` on
    success, ``False`` on failure — callers for whom the file is a
    correctness signal (swept markers: sweep_trash) must check the result
    and NOT proceed with the action the marker was meant to record."""
    try:
        fsys, p = _pa_fs(path)
        fsys.create_dir(p.rsplit("/", 1)[0], recursive=True)
        fsys.open_output_stream(p).close()
        return True
    except Exception:
        return False


class StaleIndexReadError(RuntimeError):
    """A reader's meta snapshot references index state a later fold/rebuild
    has already reclaimed. Raised instead of silently serving a partial or
    empty view — the caller should reload the index and retry. Can only
    fire for readers more than one maintenance cycle stale (superseded
    dirs wait one full cycle in meta.trash_dirs before deletion)."""


LEASES_DIR = "_leases"
# default lease lifetime: long enough for a slow analytical read, short
# enough that a crashed reader releases reclamation within minutes
DEFAULT_LEASE_TTL = int(os.environ.get("PGVS_READER_LEASE_TTL", 600))


@contextmanager
def reader_lease(index_path: str, epoch: int, ttl_seconds: float | None = None):
    """Pin the index's trash-grace window for a long-running reader.

    The snapshot protocol guarantees one full maintenance cycle of grace:
    a reader loading meta at epoch E reads consistently through the next
    fold, but a reader paused across TWO cycles fail-stops with
    StaleIndexReadError once the sweep reclaims its dirs. A lease extends
    that: while an unexpired lease exists, ``sweep_trash`` retains — for
    another cycle instead of deleting — every trash entry whose enqueue
    stamp (``meta.trash_epochs``; global ``meta.trash_epoch`` fallback)
    exceeds the lease's epoch, i.e. exactly the dirs this reader's
    snapshot could still reference, so the leased reader stays fully
    readable for as long as the lease lives while older trash keeps
    reclaiming on schedule.

    The lease is a tiny JSON file under ``<index>/_leases/`` holding
    (epoch, wall-clock expiry) — remote-capable via the path's own
    filesystem, removed on exit, reaped by sweeps once expired. An EXPIRED
    lease gives no guarantee: the reader degrades to the ordinary
    fail-stop (never wrong data). Writers never block on leases — only
    trash reclamation is deferred, bounded by the TTL.

    Acquire the lease IMMEDIATELY after loading the handle: protection
    begins at acquisition, and the ordinary one-cycle grace window is what
    covers the load-to-acquire gap. Expiry is compared against the
    SWEEPER's wall clock, so clock skew between reader and writer hosts
    shortens or extends the pin by the skew — early expiry degrades to
    the fail-stop (safe), late expiry only defers reclamation.

    The reference needs no analog: Postgres MVCC keeps a scan's pages
    reachable for free; this is the plain-parquet equivalent of holding a
    snapshot reference."""
    import json
    import uuid

    ttl = DEFAULT_LEASE_TTL if ttl_seconds is None else float(ttl_seconds)
    expires = time.time() + ttl
    # the expiry is ALSO encoded in the filename (exp<unix>-<nonce>.lease):
    # if the body ever becomes unreadable, the sweeper's conservative pin
    # stays bounded by the lease's REAL ttl — a custom long-TTL lease no
    # longer loses its pin to the 2x-default-TTL mtime heuristic, and a
    # permanently corrupt file reaps exactly when the lease would have
    # expired anyway
    lease_path = os.path.join(
        index_path, LEASES_DIR, f"exp{int(expires) + 1}-{uuid.uuid4().hex}.lease"
    )
    body = json.dumps({"epoch": int(epoch), "expires": expires}).encode()
    try:
        # ATOMIC publish: write the body to a .tmp name, then move it to
        # the .lease name. A sweeper listing mid-write sees either no
        # lease or a complete one — never a torn JSON it would (before
        # round 8) have treated as absent and reclaimed around. .tmp files
        # are excluded from _live_lease_min_epoch's scan by suffix and
        # reaped by sweep_trash's orphan pass if the writer crashes.
        fsys, p = _pa_fs(lease_path)
        fsys.create_dir(p.rsplit("/", 1)[0], recursive=True)
        with fsys.open_output_stream(f"{p}.tmp") as f:
            f.write(body)
        fsys.move(f"{p}.tmp", p)
    except Exception as exc:
        # no silent no-op: a reader that believes it is pinned but isn't
        # would lose the very guarantee it asked for — fail the acquire
        raise RuntimeError(f"could not acquire reader lease at {lease_path}") from exc
    try:
        yield lease_path
    finally:
        try:
            fsys, p = _pa_fs(lease_path)
            fsys.delete_file(p)
        except Exception:
            pass  # expired/reaped is fine; TTL bounds the pin either way


def _live_lease_min_epoch(path: str) -> int | None:
    """Smallest epoch among unexpired leases, or None. Expired lease files
    are reaped in passing. A published ``.lease`` file that cannot be READ
    (transient FS error — atomic publish rules out torn writes) is treated
    CONSERVATIVELY as pinning (epoch 0 => pins any trash): reclaiming a
    live reader's dirs on a read hiccup would break the lease's guarantee,
    while over-retaining costs one extra cycle. The conservatism is
    TTL-bounded: the filename encodes the lease's own expiry
    (``exp<unix>-...``), so an unreadable lease reaps exactly when it
    would have expired anyway — even a custom long-TTL lease keeps its
    full protection. Legacy unnamed-expiry files fall back to the mtime
    heuristic (reaped past 2x the default TTL; a custom longer TTL
    degrades to the ordinary fail-stop then, never wrong data)."""
    import json
    import re

    leases_dir = os.path.join(path, LEASES_DIR)
    now = time.time()
    best: int | None = None
    for name in list_files(leases_dir, ""):
        if not name.endswith(".lease"):
            continue  # in-flight .tmp publishes are not leases yet
        fpath = os.path.join(leases_dir, name)
        fn_exp = re.match(r"exp(\d+)-", name)
        try:
            fsys, p = _pa_fs(fpath)
            with fsys.open_input_stream(p) as f:
                rec = json.loads(f.read().decode())
            epoch, expires = int(rec["epoch"]), float(rec["expires"])
        except Exception:
            if fn_exp is not None:
                # authoritative bound from the filename: past its own
                # expiry the lease cannot be live, readable or not
                if now > float(fn_exp.group(1)):
                    # re-derive fsys/p: if _pa_fs(fpath) itself raised
                    # above, the loop-carried bindings would point at the
                    # PREVIOUS iteration's (possibly live) lease file
                    try:
                        fsys, p = _pa_fs(fpath)
                        fsys.delete_file(p)
                    except Exception:
                        pass
                    continue
                best = 0  # live but unreadable: pin everything this cycle
                continue
            try:
                fsys, p = _pa_fs(fpath)
                mtime = fsys.get_file_info(p).mtime
                age = now - mtime.timestamp() if mtime is not None else 0.0
            except Exception:
                age = 0.0  # can't even stat it: stay conservative
            if age > 2 * DEFAULT_LEASE_TTL:
                try:
                    fsys.delete_file(p)
                except Exception:
                    pass
                continue
            best = 0  # unknown epoch: pin everything this cycle
            continue
        if expires < now:
            try:
                fsys.delete_file(p)
            except Exception:
                pass
            continue
        best = epoch if best is None else min(best, epoch)
    return best


def sweep_trash(path: str, meta) -> None:
    """Delete data dirs superseded one maintenance cycle ago, plus orphan
    generation dirs from crashed jobs (subdirs of nodes_gens/ or
    nodes_delta/ that no committed meta ever referenced). Called at the
    START of a fold/rebuild while holding the writer lock, so anything
    superseded by the LAST fold has had a full cycle for in-flight readers
    to finish. Clears meta.trash_dirs in place (caller saves the meta)."""
    import glob
    import re
    import shutil

    # reader-lease pin, ENTRY-GRANULAR: an unexpired lease pins exactly the
    # trash its snapshot could reference — entries whose enqueue stamp
    # (meta.trash_epochs, written by the dereferencing commit) exceeds the
    # lease's epoch. Trash enqueued BEFORE the reader acquired was already
    # unreachable from its meta, so it reclaims on schedule even while the
    # lease lives — a busy index with one long-TTL reader no longer defers
    # all reclamation. Unstamped entries fall back to the global
    # trash_epoch; stamp/epoch 0 means unknown and pins on ANY live lease
    # (pre-field metas keep their exact old, fully-conservative behavior).
    # Orphan reconciliation below always runs: orphans were never
    # referenced by any committed meta, so no lease can pin them.
    pin = _live_lease_min_epoch(path)
    te = int(getattr(meta, "trash_epoch", 0) or 0)
    stamps = dict(getattr(meta, "trash_epochs", {}) or {})

    def lease_pins(rel: str) -> bool:
        if pin is None:
            return False
        e = int(stamps.get(rel, te) or 0)
        return e == 0 or pin < e

    retained: list[str] = []
    for rel in meta.trash_dirs:
        if lease_pins(rel):
            retained.append(rel)
            continue
        p = os.path.join(path, rel)
        was_there = os.path.exists(p) or dir_exists(p) or file_exists(p)
        # partition subdir reclaimed from a still-live parent: leave a
        # swept marker so readers with a pre-fold meta fail stop instead
        # of mistaking the gap for a never-populated shard (remote-capable:
        # dir_exists + touch_file go through the path's own filesystem).
        # The marker is written BEFORE the data is deleted: if the marker
        # write fails, the trash entry is RETAINED (reclaimed on a later
        # sweep) — deleting the data without the marker would silently
        # disable the very staleness signal the protocol fail-stops on.
        if was_there and re.search(r"(shard|centroid_id)=\d+/?$", rel):
            # marker goes in the DATA parent's .swept sibling; only while
            # that parent is still live (otherwise the whole dir is gone
            # and readers already fail on the missing parent)
            if dir_exists(os.path.dirname(p.rstrip("/"))) and not touch_file(
                swept_marker_path(p)
            ):
                retained.append(rel)
                continue
        if os.path.isfile(p):
            try:
                os.remove(p)
            except OSError:
                pass
        shutil.rmtree(p, ignore_errors=True)
        delete_dir(p)  # remote-capable twin
    # orphan temp files from crashed atomic writes — meta saves and
    # sidecar publishes (tiny, but unbounded accumulation over crashes
    # would be litter)
    for pat in ("_index_meta.*.tmp", "*.parquet.*.tmp", f"{LEASES_DIR}/*.tmp"):
        for tmp in glob.glob(os.path.join(path, pat)):
            try:
                os.remove(tmp)
            except OSError:
                pass
    meta.trash_dirs = retained
    live = {rel for rel in (meta.shard_base or {}).values() if rel}
    live.add(meta.base_rel)
    # retained trash (lease-pinned or marker-write-failed) must survive the
    # orphan reconciliation: protect each entry and its top-level gen dir
    for rel in meta.trash_dirs:
        bits = rel.strip("/").split("/")
        live.add(rel)
        if len(bits) >= 2:
            live.add("/".join(bits[:2]))
    # swept-marker sibling dirs (<rel>.swept) live and die with their data
    # dir — keep the live ones out of the orphan reconciliation below
    live |= {f"{rel}.swept" for rel in list(live)}
    for name in list_subdirs(os.path.join(path, "nodes_gens"), ""):
        rel = f"nodes_gens/{name}"
        if rel not in live:
            p = os.path.join(path, rel)
            shutil.rmtree(p, ignore_errors=True)
            delete_dir(p)
    live_delta = set(meta.delta_gens) | {
        rel for rel in meta.trash_dirs if rel.startswith("nodes_delta/")
    }
    for name in list_subdirs(os.path.join(path, "nodes_delta"), ""):
        rel = f"nodes_delta/{name}"
        if rel not in live_delta:
            p = os.path.join(path, rel)
            shutil.rmtree(p, ignore_errors=True)
            delete_dir(p)
    # orphan centroid generations from crashed IVF rebuilds (same crash
    # class as nodes_gens orphans: written, never referenced by any meta)
    live_cents = {getattr(meta, "centroids_rel", None)} | {
        rel for rel in meta.trash_dirs if rel.startswith("centroids_gens/")
    }
    for name in list_subdirs(os.path.join(path, "centroids_gens"), ""):
        rel = f"centroids_gens/{name}"
        if rel not in live_cents:
            p = os.path.join(path, rel)
            shutil.rmtree(p, ignore_errors=True)
            delete_dir(p)
    # orphan id-routing sidecar generations from crashed writes/compactions
    # (routing_store.py) — same reconciliation: a dir under id_routing_gens
    # not referenced by the meta (live pointer, delta chain, or queued
    # trash) was never committed and is unreachable
    live_routing = (
        {getattr(meta, "routing_ids_rel", None)}
        | set(getattr(meta, "routing_ids_deltas", []) or [])
        | {rel for rel in meta.trash_dirs if rel.startswith("id_routing_gens/")}
    )
    for name in list_subdirs(os.path.join(path, "id_routing_gens"), ""):
        rel = f"id_routing_gens/{name}"
        if rel not in live_routing:
            p = os.path.join(path, rel)
            shutil.rmtree(p, ignore_errors=True)
            delete_dir(p)


def snapshot_base_dirs(path: str, meta, part_col: str) -> list[tuple[str, list[int] | None]]:
    """The current base snapshot as ``[(absolute dir, partition restriction)]``
    — the protocol-level view both index types' Spark readers build their
    union from (``part_col`` is ``shard`` for DiskANN, ``centroid_id`` for
    IVF). Restriction ``None`` means read the whole dir; a list means read
    ONLY those partitions from it.

    FS-aware: the ``base_rel`` dir is consulted by LISTING its partition
    subdirs, and included only for partitions present on disk and not
    overridden by a fold (``meta.shard_base``). That makes the view correct
    when every populated partition has been folded away and swept — the
    base dir then holds no parquet at all and scanning it would fail schema
    inference — including the never-populated-cell case where
    ``range(num_shards)`` style reasoning over-counts. Superseded copies of
    folded partitions (awaiting their trash grace cycle) are excluded by
    the restriction lists."""
    mapping = getattr(meta, "shard_base", None) or {}
    base_abs = os.path.join(path, meta.base_rel)
    mapped = {int(s) for s in mapping}
    # swept markers: a fold reclaimed these partitions' base copies. A
    # meta that does NOT map such a partition predates that fold by 2+
    # maintenance cycles — fail stop rather than silently serving a view
    # missing the partition (this is the Spark-scan twin of the executor
    # read's _swept_marker_present check)
    swept_unmapped = sorted(
        int(name.split("=", 1)[1])
        for name in list_files(f"{base_abs}.swept", f"{part_col}=", strict=True)
        if int(name.split("=", 1)[1]) not in mapped
    )
    if swept_unmapped:
        raise StaleIndexReadError(
            f"{base_abs} partitions {swept_unmapped} were folded away and "
            "reclaimed: this reader's index meta predates the fold — "
            "reload the index and retry"
        )
    if not mapping:
        return [(base_abs, None)]
    # strict listing: a transient FS error here must raise — an empty
    # answer would drop the base rows from the view (and a fold built on
    # that view would COMMIT the loss)
    present = {
        int(name.split("=", 1)[1])
        for name in list_subdirs(base_abs, f"{part_col}=", strict=True)
    }
    out: list[tuple[str, list[int] | None]] = []
    unmapped_present = sorted(present - mapped)
    if unmapped_present:
        out.append((base_abs, unmapped_present))
    by_dir: dict[str, list[int]] = {}
    for s, rel in mapping.items():
        if rel:  # "" = emptied-by-fold sentinel: no rows anywhere
            by_dir.setdefault(rel, []).append(int(s))
    for rel, ss in sorted(by_dir.items()):
        dir_abs = os.path.join(path, rel)
        # mapped-override staleness probe: a LATER fold may have moved some
        # of these partitions out of this gen dir and (after the grace
        # cycle) reclaimed the superseded copies, while the dir stays live
        # for other partitions. A meta still mapping a partition HERE is
        # 2+ cycles stale for it — fail stop like the unmapped-base check
        # above (and like the executor path's _swept_marker_present), never
        # silently serve zero rows for a populated partition.
        swept_here = sorted(
            int(name.split("=", 1)[1])
            for name in list_files(f"{dir_abs}.swept", f"{part_col}=", strict=True)
            if int(name.split("=", 1)[1]) in set(ss)
        )
        if swept_here:
            raise StaleIndexReadError(
                f"{dir_abs} partitions {swept_here} were folded away and "
                "reclaimed: this reader's index meta predates the fold — "
                "reload the index and retry"
            )
        # a referenced override dir can never be legitimately missing (folds
        # always emit rows): gone means a later cycle reclaimed the WHOLE
        # dir — raise the protocol's typed error instead of letting the
        # Spark scan fail with a generic path-not-found. STRICT probe: a
        # transient remote-FS error must propagate as itself, not be
        # misreported as 'reclaimed — reload and retry'.
        if not dir_exists_strict(dir_abs):
            raise StaleIndexReadError(
                f"{dir_abs} was reclaimed by a later fold/rebuild: this "
                "reader's index meta predates it — reload the index and retry"
            )
        out.append((dir_abs, sorted(ss)))
    return out


def prepare_rebuild(path: str) -> tuple[str, list[str], int, int]:
    """Pick the base dir for a (re)build and collect the prior index's data
    dirs as grace-period trash. A fresh path gets the conventional
    ``nodes`` layout; a path with a readable prior index gets a FRESH
    generation dir (never an in-place overwrite of a dir readers may be
    scanning) and every prior data dir queued for the next sweep. Returns
    ``(dest_rel, trash_dirs, epoch, delta_counter)`` for the new meta —
    epoch stays monotonic and the delta counter carries over so new chain
    dirs can't collide with trashed ones during the grace cycle."""
    import uuid

    from pgvectorscale_spark.types import IndexMeta

    try:
        old = IndexMeta.load(path)
    except (OSError, ValueError, TypeError, KeyError):
        return "nodes", [], 0, 0
    # the prior index's trash has aged a full maintenance cycle — sweep it
    # (with crash orphans) now; its LIVE dirs become the new trash below
    sweep_trash(path, old)
    trash = {old.base_rel}
    trash.update(rel for rel in (old.shard_base or {}).values() if rel)
    trash.update(old.delta_gens)
    # entries the sweep retained (lease-pinned / marker-write-failed) stay
    # queued — dropping them here would leak the dirs forever
    trash.update(old.trash_dirs)
    # prior sidecars: the old meta's centroids generation (IVF) and any
    # legacy fixed-name sidecar DIRS (pre-atomic-file layouts). The new
    # build writes its own generation/file, so these are pure leftovers.
    # each trashed data dir's swept-marker sibling goes with it
    trash |= {
        f"{rel}.swept"
        for rel in list(trash)
        if dir_exists(os.path.join(path, f"{rel}.swept"))
    }
    cr = getattr(old, "centroids_rel", None)
    if cr and dir_exists(os.path.join(path, cr)):
        trash.add(cr)
    # prior id-routing sidecar: the new build writes its own fresh mapping
    rrel = getattr(old, "routing_ids_rel", None)
    if rrel:
        trash.add(rrel)
        trash.update(getattr(old, "routing_ids_deltas", []) or [])
    for legacy in ("centroids", "routing", "label_routing"):
        if legacy != cr and dir_exists(os.path.join(path, legacy)):
            trash.add(legacy)
    dest = f"nodes_gens/{uuid.uuid4().hex[:12]}"
    return dest, sorted(trash), int(old.epoch) + 1, int(old.delta_counter)


class ConcurrentWriterError(RuntimeError):
    """Another writer holds the index's writer lock."""


@contextmanager
def writer_lock(index_path: str, wait: float = 0.0, poll: float = 0.1):
    """Exclusive per-index writer lock.

    ``wait=0`` (default) fails fast with ConcurrentWriterError — the right
    behavior for schedulers that own retry policy. ``wait=N`` blocks up to
    N seconds polling for the lock, matching the reference's advisory-lock
    semantics (ports.rs:160 — a racing INSERT queues on the lock and then
    proceeds, it doesn't error), then raises if still held.
    """
    lock_path = os.path.join(index_path, "_writer.lock")
    os.makedirs(index_path, exist_ok=True)  # build() locks before first write
    deadline = time.monotonic() + max(0.0, float(wait))
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() < deadline:
                time.sleep(poll)
                continue
            try:
                with open(lock_path) as f:
                    holder = f.read().strip()
            except OSError:
                holder = "unknown"
            raise ConcurrentWriterError(
                f"index at {index_path} is locked by another writer ({holder}); "
                f"retry after it finishes, or remove {lock_path} if it crashed"
            ) from None
    try:
        os.write(fd, f"pid={os.getpid()}".encode())
        os.close(fd)
        yield
    finally:
        try:
            os.remove(lock_path)
        except OSError:
            pass
