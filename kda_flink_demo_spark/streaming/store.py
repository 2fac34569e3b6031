"""Crash-safe on-disk protocols of the standing stores the streaming folds
maintain (``streaming/standing_stores.py``). Two protocols, both written
only here. Everything goes through the Hadoop FileSystem API, so the same
code runs on local disk, HDFS or S3A (a driver-local ``os.path`` probe would
silently never find a remote store and reset state every batch). On
filesystems without atomic rename (raw S3) use a transactional table format
instead.

Common rule: a directory is trusted only once its ``_SUCCESS`` marker exists
(Spark commits it last); a partial directory is never read.

Promote (one standing table, rewritten per fold: SCD2, BPE merges, sketch)
--------------------------------------------------------------------------
A new state is materialized at ``<store>.next`` first, then the old store is
deleted and ``.next`` is RENAMED into place (a metadata move, never a second
data write). A crash between the delete and the rename is recovered on the
next fold by promoting the complete ``.next`` (``recover_standing``); a crash
mid-write of ``.next`` leaves the marker absent, so the stale ``.next`` is
ignored and overwritten while the old store stays intact.

Segments (one directory per micro-batch: CMS, drift, PCA stats, span,
aHash and editdist indexes, cumulate; and ``version=`` snapshots)
---------------------------------------------------------------------
* Batch ``b`` overwrites ``<store>/seg=<b>`` (``write_part``): a checkpoint
  replay rewrites its own segment instead of adding to a standing table, so
  merges that are not idempotent (addition) stay exact under any replay
  history. Sink partitions ``batch=<b>`` and snapshot ``version=<b>`` dirs
  are written the same way.
* Readers see the committed segments (``committed_dirs``): ``_SUCCESS``
  present; a replaying batch passes ``exclude_batch`` and never sees its own
  segment; a committed ``cseg=<u>`` stands for every segment with id ≤ u and
  shadows them, so a read in the middle of a compaction stays exact.
* ``compact_segments`` merges the committed segments ≤ ``upto`` into one:
  (1) write the merge to ``cseg=<upto>`` (committed via ``_SUCCESS``);
  (2) delete the covered ``seg=`` dirs; (3) rename ``cseg=<upto>`` →
  ``seg=<upto>``. A crash after (1) or during (2) neither loses nor
  double-counts (the shadow above); the next compaction first finishes every
  pending swap. A delete or rename the file system refuses raises, so a
  covered ``seg=`` dir never outlives its cseg shadow. Compact only batches
  behind the streaming checkpoint's replay horizon: a replay of a compacted
  batch would rewrite its ``seg=`` dir as a fresh segment, and its rows
  would then exist twice.
  ``compact_when_due`` applies that with ``upto = batch_id − 1``, which is
  safe because Structured Streaming commits batch N−1 before starting N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kda_flink_demo_spark.io.sources import read_parquet


def _fs(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def is_complete(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` is a committed write (its ``_SUCCESS`` marker exists)."""
    fs, hpath = _fs(spark, path)
    return fs.exists(hpath(path.rstrip("/") + "/_SUCCESS"))


def _delete(fs, hpath, path: str) -> None:
    """Hadoop's recursive delete, CHECKED: ``fs.delete`` and ``fs.rename``
    report failure by returning False, and every caller here would go on to
    corrupt the store if it ignored that (see ``_swap_in`` and
    ``compact_segments``). Raising instead makes the batch fail and replay."""
    if not fs.delete(hpath(path), True):
        raise IOError(f"standing store: could not delete {path}")


def _rename(fs, hpath, src: str, dst: str) -> None:
    """Hadoop's rename, checked like ``_delete``."""
    if not fs.rename(hpath(src), hpath(dst)):
        raise IOError(
            f"standing store: rename {src} -> {dst} failed "
            "(concurrent writer on the same store_path?)"
        )


def _swap_in(fs, hpath, store: str, nxt: str) -> None:
    """Delete the old store and rename ``.next`` into place. An ignored
    failed delete would make the rename nest ``.next`` INSIDE the
    still-existing store directory (Hadoop rename-into-existing-dir
    semantics) — silent state corruption."""
    if fs.exists(hpath(store)):
        _delete(fs, hpath, store)
    _rename(fs, hpath, nxt, store)


def recover_standing(spark: SparkSession, store_path: str) -> bool:
    """Promote an interrupted ``.next`` if the store is missing or incomplete.
    Returns True iff a complete store exists afterwards (False = first fold)."""
    store = store_path.rstrip("/")
    nxt = store + ".next"
    fs, hpath = _fs(spark, store)
    if not is_complete(spark, store) and is_complete(spark, nxt):
        _swap_in(fs, hpath, store, nxt)
    return is_complete(spark, store)


def promote(df: DataFrame, store_path: str) -> None:
    """Materialize ``df`` at ``<store>.next``, then delete + rename into place."""
    spark = df.sparkSession
    store = store_path.rstrip("/")
    nxt = store + ".next"
    fs, hpath = _fs(spark, store)
    df.write.mode("overwrite").parquet(nxt)
    _swap_in(fs, hpath, store, nxt)


def part_dir(path: str, kind: str, n: int) -> str:
    """``<path>/<kind>=<n>``: a segment, compacted segment, sink partition
    or snapshot version directory."""
    return f"{path.rstrip('/')}/{kind}={int(n)}"


def cseg_dir(store_path: str, upto: int) -> str:
    return part_dir(store_path, "cseg", upto)


def write_part(df: DataFrame, path: str, batch_id: int, kind: str = "seg") -> None:
    """Overwrite ``<path>/<kind>=<batch_id>`` with ``df``."""
    df.write.mode("overwrite").parquet(part_dir(path, kind, batch_id))


def _scan(spark: SparkSession, store_path: str):
    """The only listing of a store directory: ``(fs, hpath, dirs)`` with
    ``dirs[kind][id]`` the path of each COMMITTED ``<kind>=<id>`` child."""
    store = store_path.rstrip("/")
    fs, hpath = _fs(spark, store)
    dirs: dict[str, dict[int, str]] = {}
    if fs.exists(hpath(store)):
        for st in fs.listStatus(hpath(store)):
            name = st.getPath().getName()
            kind, _, n = name.partition("=")
            path = f"{store}/{name}"
            if n.isdigit() and fs.exists(hpath(path + "/_SUCCESS")):
                dirs.setdefault(kind, {})[int(n)] = path
    return fs, hpath, dirs


def committed_dirs(
    spark: SparkSession,
    store_path: str,
    exclude_batch: int | None = None,
    kind: str = "seg",
) -> dict[int, str]:
    """The readable ``<kind>=<id>`` directories by id, ascending: committed
    only, ``exclude_batch``'s own dropped, and every id ≤ u replaced by the
    highest committed ``cseg=<u>`` (keyed u)."""
    _, _, dirs = _scan(spark, store_path)
    segs = dirs.get(kind, {})
    if exclude_batch is not None:
        segs.pop(int(exclude_batch), None)
    csegs = dirs.get("cseg")
    if csegs:
        top = max(csegs)
        segs = {i: p for i, p in segs.items() if i > top}
        segs[top] = csegs[top]
    return dict(sorted(segs.items()))


def read_segments(
    spark: SparkSession, store_path: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Union of the readable segments; None before the first committed fold."""
    segs = committed_dirs(spark, store_path, exclude_batch)
    return read_parquet(spark, *segs.values()) if segs else None


def compact_segments(spark: SparkSession, store_path: str, upto_batch: int, merge) -> None:
    """Merge every committed segment with id ≤ ``upto_batch`` into ONE via
    ``merge`` (a DataFrame → DataFrame reducer whose readout is invariant
    under segment regrouping), in the three crash-safe steps of the module
    docstring. The segment is named after the NEWEST covered id, never a
    not-yet-folded ``upto_batch``: that batch's own overwrite would destroy
    the compacted history."""
    store = store_path.rstrip("/")
    fs, hpath, dirs = _scan(spark, store)
    segs, csegs = dirs.get("seg", {}), dirs.get("cseg", {})
    # FIRST finish every pending swap of an earlier compaction that crashed:
    # its committed cseg holds rows whose seg dirs may already be gone, and
    # a compaction that read only seg= dirs would silently drop them. The
    # HIGHEST committed cseg merged everything a lower one covers, so the
    # lower ones are deleted outright (renaming one into a seg= dir would
    # double-count it) — and deleted BEFORE the highest one's swap: in the
    # reverse order a crash leaves a lower cseg as the read shadow beside the
    # renamed seg that also holds its batches.
    if csegs:
        top = max(csegs)
        for u in csegs:
            if u < top:
                _delete(fs, hpath, csegs[u])
        for i in [i for i in segs if i <= top]:
            _delete(fs, hpath, segs.pop(i))
        segs[top] = part_dir(store, "seg", top)
        _rename(fs, hpath, csegs[top], segs[top])
    covered = {i: p for i, p in segs.items() if i <= upto_batch}
    # one segment is already its own compaction
    if len(covered) < 2:
        return
    upto_batch = max(covered)
    cseg = cseg_dir(store, upto_batch)
    merge(read_parquet(spark, *covered.values())).write.mode("overwrite").parquet(cseg)
    for p in covered.values():
        _delete(fs, hpath, p)
    _rename(fs, hpath, cseg, part_dir(store, "seg", upto_batch))


def compact_when_due(
    spark: SparkSession, store_path: str, batch_id: int, compact_every: int | None, merge
) -> None:
    """Compact the segments before ``batch_id`` once ``compact_every`` of them
    have piled up (``None``: never). Each compaction rewrites the whole
    merged store, so threshold N costs O(store/N) per batch, the fan-in
    choice of any LSM store."""
    if compact_every is None:
        return
    prior = [i for i in committed_dirs(spark, store_path) if i < int(batch_id)]
    if len(prior) >= compact_every:
        compact_segments(spark, store_path, int(batch_id) - 1, merge)
