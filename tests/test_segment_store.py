"""The segment-store protocol of ``streaming/store.py``, tested once against
the protocol rather than per store: the compaction crash windows run over an
additive merge (the count-min store) and a set-union merge (the span-hash
index), as do the file-system refusals compaction must raise on; every
segment reader hides a half-written segment; and a read or a compaction
lists the store directory once."""

from __future__ import annotations

import os
import shutil
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F

from kda_flink_demo_spark.streaming.store import cseg_dir as _cseg_dir
from tests.conftest import SF_DIR, docs_slice, sorted_rows, term_stream


def _seg_names(store):
    return sorted(d for d in os.listdir(store) if d.startswith("seg="))


class SegStore(NamedTuple):
    """One segment store as the protocol tests drive it: ``fold`` writes a
    batch of documents as segment ``bid``, ``read`` is the readout as a
    DataFrame (a set for the set-union store), ``compact`` the store's own
    compaction, ``merge`` the reducer a hand-made cseg is written with."""

    fold: Callable
    read: Callable
    compact: Callable
    merge: Callable


def _cms_kind():
    from kda_flink_demo_spark.streaming.standing_stores import (
        cms_from_store,
        compact_cms_store,
        update_cms_store,
    )

    return SegStore(
        fold=lambda docs, bid, store: update_cms_store(
            term_stream(docs), bid, store, depth=3, width=64
        ),
        read=cms_from_store,
        compact=compact_cms_store,
        merge=lambda df: df.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt")),
    )


def _span_kind():
    from kda_flink_demo_spark.streaming.standing_stores import (
        compact_span_index_store,
        read_span_index,
        update_span_index_store,
    )

    return SegStore(
        fold=lambda docs, bid, store: update_span_index_store(
            docs, bid, store, store + "_sink"
        ),
        read=lambda spark, store: read_span_index(spark, store).distinct(),
        compact=compact_span_index_store,
        merge=lambda df: df.select("h").distinct(),
    )


@pytest.fixture(params=["cms", "span"])
def seg_store(request):
    return {"cms": _cms_kind, "span": _span_kind}[request.param]()


def _fold_store(spark, tmp_path, s, n_batches=4):
    docs = docs_slice(spark, 150)
    store = str(tmp_path / "store")
    for bid in range(n_batches):
        s.fold(docs.filter(F.col("doc_id") % n_batches == bid), bid, store)
    return store, sorted_rows(s.read(spark, store))


def _hand_cseg(spark, store, upto, s):
    """Committed cseg=<upto> exactly as step 1 of the protocol writes it."""
    covered = [
        os.path.join(store, d)
        for d in _seg_names(store)
        if int(d.split("=", 1)[1]) <= upto
    ]
    s.merge(spark.read.parquet(*covered)).write.parquet(_cseg_dir(store, upto))


# ---------------------------------------------------------------------------
# compaction and its crash windows
# ---------------------------------------------------------------------------


def test_compaction_preserves_readout_bit_exact(spark, tmp_path, seg_store):
    s = seg_store
    store, before = _fold_store(spark, tmp_path, s)
    s.compact(spark, store, upto_batch=2)
    assert sorted_rows(s.read(spark, store)) == before
    # segment layout: seg=2 (compacted 0..2) + seg=3
    segs = sorted(
        d for d in os.listdir(store) if d.startswith("seg=")
    )
    assert segs == ["seg=2", "seg=3"]
    # compaction is idempotent on an already-compacted range
    s.compact(spark, store, upto_batch=2)
    assert sorted_rows(s.read(spark, store)) == before


def test_compaction_crash_windows_never_lose_or_double_count(spark, tmp_path, seg_store):
    """Fault injection across the 3-step swap: (a) committed cseg + intact
    segs (crash after step 1) must read exactly once via the cseg shadow;
    (b) committed cseg + partially deleted segs (crash mid step 2) same;
    (c) a HALF-written cseg is invisible and the segs still rule."""
    s = seg_store
    store, before = _fold_store(spark, tmp_path, s, n_batches=3)

    # (c) half-written cseg first: no _SUCCESS → invisible
    fake = _cseg_dir(store, 1)
    os.makedirs(fake)
    with open(os.path.join(fake, "part-0.parquet"), "wb") as fh:
        fh.write(b"garbage")
    assert sorted_rows(s.read(spark, store)) == before
    shutil.rmtree(fake)

    # (a) crash after step 1: build a real committed cseg by hand, keep segs
    seg0 = os.path.join(store, "seg=0")
    seg1 = os.path.join(store, "seg=1")
    cseg = _cseg_dir(store, 1)
    merged = s.merge(spark.read.parquet(seg0, seg1))
    merged.write.parquet(cseg)
    assert sorted_rows(s.read(spark, store)) == before  # shadow, not double

    # (b) crash mid step 2: one covered segment already deleted
    shutil.rmtree(seg0)
    assert sorted_rows(s.read(spark, store)) == before

    # recovery: re-running compact completes deletion + rename
    s.compact(spark, store, upto_batch=1)
    assert sorted_rows(s.read(spark, store)) == before
    segs = sorted(d for d in os.listdir(store) if d.startswith("seg="))
    assert segs == ["seg=1", "seg=2"]
    assert not os.path.exists(cseg)


def test_compaction_orphan_cseg_survives_later_compaction(spark, tmp_path, seg_store):
    """Crash between delete and rename at upto=1, then a LATER compact at
    upto=2: the orphaned committed cseg=1 holds rows whose seg dirs are
    gone — the new compaction must fold them in, not silently drop them."""
    s = seg_store
    store, before = _fold_store(spark, tmp_path, s)
    # hand-craft the crashed state: committed cseg=1 covering segs 0..1,
    # both covered seg dirs already deleted, rename never happened
    seg0, seg1 = os.path.join(store, "seg=0"), os.path.join(store, "seg=1")
    merged = s.merge(spark.read.parquet(seg0, seg1))
    merged.write.parquet(_cseg_dir(store, 1))
    shutil.rmtree(seg0)
    shutil.rmtree(seg1)
    assert sorted_rows(s.read(spark, store)) == before  # shadow read exact
    s.compact(spark, store, upto_batch=2)
    assert sorted_rows(s.read(spark, store)) == before
    segs = sorted(d for d in os.listdir(store) if d.startswith("seg="))
    assert segs == ["seg=2", "seg=3"]
    assert not os.path.exists(_cseg_dir(store, 1))


def test_compaction_clamps_to_newest_covered_segment(spark, tmp_path, seg_store):
    """compact(upto=<future id>) must name the merged segment after the
    NEWEST covered segment, not the future id — else the future batch's own
    seg overwrite would destroy the compacted history."""
    s = seg_store
    store, before = _fold_store(spark, tmp_path, s, n_batches=3)
    s.compact(spark, store, upto_batch=10)  # batch 10 never folded
    assert sorted(d for d in os.listdir(store) if d.startswith("seg=")) == ["seg=2"]
    # the future batch now folds — it must NOT clobber the compacted history
    s.fold(docs_slice(spark, 150).limit(0), 10, store)
    assert sorted_rows(s.read(spark, store)) == before


def test_compaction_retry_same_upto_after_mid_step2_crash(spark, tmp_path, seg_store):
    """Crash mid step 2 (cseg=2 committed, seg=2 already deleted, seg=0/1
    survive), then RETRY with the SAME upto: a recovery that skipped a
    committed cseg whose id equals upto_batch rebuilt a second subsumed
    cseg from the survivors instead of finishing the swap. It must converge
    in one call with a bit-exact readout."""
    s = seg_store
    store, before = _fold_store(spark, tmp_path, s)
    _hand_cseg(spark, store, 2, s)
    shutil.rmtree(os.path.join(store, "seg=2"))  # mid-step-2 crash
    assert sorted_rows(s.read(spark, store)) == before  # shadow read exact

    s.compact(spark, store, upto_batch=2)  # the retry
    assert sorted_rows(s.read(spark, store)) == before
    assert _seg_names(store) == ["seg=2", "seg=3"]
    assert not os.path.exists(_cseg_dir(store, 2))
    assert not os.path.exists(_cseg_dir(store, 1))


def test_compaction_two_committed_csegs_never_double_count(spark, tmp_path, seg_store):
    """Two committed csegs coexist (a retry built a second, subsumed one and
    then crashed before its delete+rename). The next compact must DELETE the
    subsumed cseg — renaming both into seg= dirs double-counts the lower
    one's rows."""
    s = seg_store
    store, before = _fold_store(spark, tmp_path, s)
    _hand_cseg(spark, store, 1, s)  # cseg=1 covers batches 0..1
    _hand_cseg(spark, store, 2, s)  # cseg=2 covers batches 0..2 (subsumes it)
    for d in ("seg=0", "seg=1", "seg=2"):
        shutil.rmtree(os.path.join(store, d))
    assert sorted_rows(s.read(spark, store)) == before  # highest shadows

    s.compact(spark, store, upto_batch=3)
    assert sorted_rows(s.read(spark, store)) == before
    assert not os.path.exists(_cseg_dir(store, 1))
    assert not os.path.exists(_cseg_dir(store, 2))
    # all rows now live in committed seg= dirs only, no cseg residue
    assert all(n.startswith("seg=") or n == "_SUCCESS" or n.startswith(".")
               for n in os.listdir(store) if not n.startswith("_"))


def test_compaction_recovery_crash_windows_stay_exact(spark, tmp_path, seg_store):
    """The recovery order (delete subsumed csegs, THEN swap the highest)
    must leave a read-exact store at its one intermediate crash point —
    {highest cseg, trailing segs} — and converge on rerun. The reverse
    order's intermediate (highest already renamed into seg=, lower cseg
    surviving as the shadow) double-counts the lower cseg's batches and is
    unrecoverable, which is why the order is pinned here."""
    s = seg_store
    store, before = _fold_store(spark, tmp_path, s)
    _hand_cseg(spark, store, 1, s)
    _hand_cseg(spark, store, 2, s)
    for d in ("seg=0", "seg=1", "seg=2"):
        shutil.rmtree(os.path.join(store, d))
    # crash window A: subsumed cseg=1 deleted, swap of cseg=2 not yet done
    shutil.rmtree(_cseg_dir(store, 1))
    assert sorted_rows(s.read(spark, store)) == before
    # rerun converges from window A
    s.compact(spark, store, upto_batch=3)
    assert sorted_rows(s.read(spark, store)) == before
    assert not any(d.startswith("cseg=") for d in os.listdir(store))


def test_compaction_fails_loudly_when_hadoop_refuses(spark, tmp_path, monkeypatch, seg_store):
    """Hadoop's ``delete`` and ``rename`` report failure by returning False.
    A covered ``seg=`` dir whose delete is refused would survive beside the
    renamed merged segment and count twice, so a refused delete (in step 2,
    then in the recovery step of the next compaction) or a refused rename
    must raise, with the committed cseg still shadowing the covered
    segments; a retry on a healthy file system compacts to the same exact
    readout."""
    from kda_flink_demo_spark.streaming import store as protocol

    s = seg_store
    store, before = _fold_store(spark, tmp_path, s)
    refuse = {}
    real_fs = protocol._fs

    class RefusingFs:
        def __init__(self, fs):
            self._fs = fs

        def delete(self, path, recursive):
            if "delete" in refuse and str(path).endswith(refuse["delete"]):
                return False
            return self._fs.delete(path, recursive)

        def rename(self, src, dst):
            if "rename" in refuse:
                return False
            return self._fs.rename(src, dst)

        def __getattr__(self, attr):
            return getattr(self._fs, attr)

    def refusing_fs(spark, path):
        fs, hpath = real_fs(spark, path)
        return RefusingFs(fs), hpath

    monkeypatch.setattr(protocol, "_fs", refusing_fs)

    # a refused delete of one covered segment: step 2, then recovery
    refuse["delete"] = "/seg=1"
    for _ in range(2):
        with pytest.raises(IOError, match="could not delete"):
            s.compact(spark, store, upto_batch=2)
        assert sorted_rows(s.read(spark, store)) == before
    refuse.clear()
    s.compact(spark, store, upto_batch=2)
    assert sorted_rows(s.read(spark, store)) == before
    assert _seg_names(store) == ["seg=2", "seg=3"]
    assert not os.path.exists(_cseg_dir(store, 2))

    # a refused rename: step 3, then recovery
    more = docs_slice(spark, 300).filter(F.col("doc_id") >= 150)
    s.fold(more.filter(F.col("doc_id") % 2 == 0), 4, store)
    s.fold(more.filter(F.col("doc_id") % 2 == 1), 5, store)
    before = sorted_rows(s.read(spark, store))
    refuse["rename"] = True
    for _ in range(2):
        with pytest.raises(IOError, match="rename"):
            s.compact(spark, store, upto_batch=5)
        assert sorted_rows(s.read(spark, store)) == before
    refuse.clear()
    s.compact(spark, store, upto_batch=5)
    assert sorted_rows(s.read(spark, store)) == before
    assert _seg_names(store) == ["seg=5"]
    assert not os.path.exists(_cseg_dir(store, 5))


# ---------------------------------------------------------------------------
# every segment reader applies the same visibility rule
# ---------------------------------------------------------------------------


def _reader_case(spark, name, tmp_path):
    """(fold(bid, store), readout(store)) for one segment store, on inputs
    whose two batches give different readouts."""
    import numpy as np

    from kda_flink_demo_spark.io.sources import load_table
    from kda_flink_demo_spark.streaming import standing_stores as ss

    sink = str(tmp_path / "sink")
    docs = docs_slice(spark, 40)

    def half(df, col, bid):
        return df.filter(F.col(col) % 2 == bid)

    if name == "cms":
        return (lambda bid, st: ss.update_cms_store(
                    term_stream(half(docs, "doc_id", bid)), bid, st, depth=3, width=64),
                lambda st: sorted_rows(ss.cms_from_store(spark, st)))
    if name == "drift":
        dims = {"lang": F.col("lang"), "source": F.col("source")}

        def read_drift(st):
            rep = ss.drift_between(spark, st, [0], [1])
            return None if rep is None else sorted_rows(rep)

        return (lambda bid, st: ss.update_drift_store(half(docs, "doc_id", bid), bid, st, dims),
                read_drift)
    if name == "pca":
        emb = load_table(spark, SF_DIR, "embeddings")

        def read_pca(st):
            mu, _ = ss.pca_model_from_store(spark, st, k=2)
            return np.round(mu, 6).tolist()

        return (lambda bid, st: ss.update_pca_stats_store(half(emb, "vec_id", bid), bid, st),
                read_pca)
    if name == "span":
        return (lambda bid, st: ss.update_span_index_store(
                    half(docs, "doc_id", bid), bid, st, sink),
                lambda st: sorted_rows(ss.read_span_index(spark, st)))
    if name == "ahash":
        from kda_flink_demo_spark.operators.llm import synth_media

        def fold_ahash(bid, st):
            ids = spark.createDataFrame([(bid * 30 + i,) for i in range(3)], "doc_id long")
            ss.update_ahash_index_store(synth_media.synth_images(ids), bid, st, sink)

        return fold_ahash, lambda st: sorted_rows(ss.read_ahash_index(spark, st))
    if name == "editdist":
        return (lambda bid, st: ss.update_editdist_index_store(
                    half(docs, "doc_id", bid), bid, st, sink),
                lambda st: sorted_rows(ss.read_editdist_index(spark, st)))
    assert name == "cumulate"
    rows = [(i, "a" if i % 3 else "b", f"2024-01-01 00:{i:02d}:00") for i in range(40)]
    events = spark.createDataFrame(rows, "_i long, railway_class string, rowtime string")
    events = events.withColumn("rowtime", F.to_timestamp("rowtime"))
    return (lambda bid, st: ss.update_cumulate_store(
                half(events, "_i", bid).drop("_i"), bid, st),
            lambda st: sorted_rows(ss.cumulate_from_store(spark, st)))


@pytest.mark.parametrize(
    "name", ["cms", "drift", "pca", "span", "ahash", "editdist", "cumulate"]
)
def test_segment_readers_hide_half_written_segment(spark, tmp_path, name):
    """A ``seg=`` dir without ``_SUCCESS`` (a batch that crashed mid-write)
    is invisible to every segment reader until its replay commits it."""
    fold, readout = _reader_case(spark, name, tmp_path)
    store = str(tmp_path / "store")
    fold(0, store)
    committed = readout(store)
    fold(1, store)
    marker = os.path.join(store, "seg=1", "_SUCCESS")
    os.rename(marker, marker + ".held")
    assert readout(store) == committed
    # the same directory, once committed, does change the readout
    os.rename(marker + ".held", marker)
    assert readout(store) != committed


# ---------------------------------------------------------------------------
# one listing per read and per compaction
# ---------------------------------------------------------------------------


def test_read_and_compaction_list_the_store_once(spark, tmp_path, monkeypatch):
    """Every store-directory listing goes through ``store._fs``: a readout
    lists the store root once, and so does a compaction with no crashed
    compaction to recover."""
    from kda_flink_demo_spark.streaming import store as protocol
    from kda_flink_demo_spark.streaming.standing_stores import (
        cms_from_store,
        compact_cms_store,
    )

    s = _cms_kind()
    store, before = _fold_store(spark, tmp_path, s)
    listed = []
    real_fs = protocol._fs

    class CountingFs:
        def __init__(self, fs):
            self._fs = fs

        def listStatus(self, path):
            listed.append(str(path))
            return self._fs.listStatus(path)

        def __getattr__(self, attr):
            return getattr(self._fs, attr)

    def counting_fs(spark, path):
        fs, hpath = real_fs(spark, path)
        return CountingFs(fs), hpath

    monkeypatch.setattr(protocol, "_fs", counting_fs)
    assert sorted_rows(cms_from_store(spark, store)) == before
    assert len(listed) == 1
    listed.clear()
    compact_cms_store(spark, store, upto_batch=2)
    assert len(listed) == 1
    assert _seg_names(store) == ["seg=2", "seg=3"]
