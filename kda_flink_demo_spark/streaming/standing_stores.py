"""Standing stores: streaming folds (call from ``foreachBatch``) that keep a
materialized view current across micro-batches and sessions (reference
parity: the upsert-sink family O2–O8, generalized to materialized-view
maintenance). The on-disk protocols — ``_SUCCESS`` visibility, promote,
segments, the cseg shadow and crash-safe compaction — are written once in
``streaming/store.py``; each store here is only what it writes per batch,
how it merges and how it reads out.

Promote stores (one standing table, replaced per fold)
    * SCD2 (``update_scd2_store`` / ``scd2_from_store``): the COMPRESSED
      change log (each key's real transitions, ``operators/cdc.py:
      scd2_compress``). Per batch only the standing rows of keys PRESENT in
      the batch are re-compressed with it — O(batch + affected keys'
      history), never the full store. A replayed batch unions rows that are
      already-kept transitions (compression dedupes them NULL-safely) or were
      compressed away before (compressed away again), so replay is
      idempotent. History (valid_from / valid_to / is_current) is derived at
      read time. Contract (the standard CDC assumption): batches arrive
      per-key in event-time order.
    * BPE merge table (``train_bpe_to_store`` / ``bpe_merges_from_store``).

Segment stores (one ``seg=<batch_id>`` directory per batch)
    * count-min cells (``update_cms_store``), drift profiles
      (``update_drift_store``), PCA sufficient statistics
      (``update_pca_stats_store``) and CUMULATE partials
      (``update_cumulate_store``) merge by ADDITION;
    * span-hash, aHash and editdist indexes (``update_*_index_store``) are
      gates: each batch is cleaned against the index without its own
      segment, then adds its own keys; they merge by set union.
    * snapshot versions (``update_snapshot_version_store``) keep one 16-byte
      ``(id, xxhash64(text))`` projection per ``version=<batch_id>``, so
      ``diff_snapshot_versions`` diffs ANY two retained versions without the
      text.

Sinks (``enrich_batch_with_scd2``, ``update_quarantine_store`` and the index
gates) land each batch under ``batch=<batch_id>`` by overwrite, so a replay
rewrites the same partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kda_flink_demo_spark.io.sources import read_parquet
from kda_flink_demo_spark.operators.cdc import scd2_compress, scd2_history
from kda_flink_demo_spark.streaming.store import (
    committed_dirs,
    compact_segments,
    compact_when_due,
    part_dir,
    promote,
    read_segments,
    recover_standing,
    write_part,
)


def update_scd2_store(
    batch_df: DataFrame,
    store_path: str,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str = "ts",
    tie_col: str | None = None,
) -> None:
    """Fold one micro-batch of change rows into the standing compressed
    transition log."""
    spark = batch_df.sparkSession
    cols = [*keys, *attr_cols, ts_col, *([tie_col] if tie_col else [])]
    batch = batch_df.select(*cols)
    if recover_standing(spark, store_path):
        standing = read_parquet(spark, store_path.rstrip("/"))
        bkeys = batch.select(*keys).distinct()
        untouched = standing.join(bkeys, list(keys), "left_anti")
        affected = standing.join(bkeys, list(keys), "left_semi")
        merged = affected.unionByName(batch)
    else:  # first batch
        untouched = None
        merged = batch
    kept = scd2_compress(merged, keys, attr_cols, ts_col, tie_col)
    new_store = kept if untouched is None else untouched.unionByName(kept)
    promote(new_store, store_path)


def scd2_from_store(
    spark: SparkSession,
    store_path: str,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str = "ts",
    tie_col: str | None = None,
) -> DataFrame:
    """Read the standing transition log as SCD2 history — equal to running
    ``scd2_history`` over everything folded so far (the batch-as-oracle
    equality the streaming tests pin)."""
    return scd2_history(
        read_parquet(spark, store_path.rstrip("/")), keys, attr_cols, ts_col, tie_col
    )


def update_snapshot_version_store(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist one snapshot micro-batch's (id, hash) projection as
    ``version=<batch_id>``; document text is never retained or shuffled."""
    proj = batch_df.select(
        F.col(id_col).alias(id_col), F.xxhash64(F.col(text_col)).alias("text_hash")
    )
    write_part(proj, store_path, batch_id, "version")


def list_snapshot_versions(spark: SparkSession, store_path: str) -> list[int]:
    """Committed versions only, ascending."""
    return list(committed_dirs(spark, store_path, kind="version"))


def enrich_batch_with_scd2(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    sink_path: str,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    fact_ts: str = "ts",
    ts_col: str = "ts",
    tie_col: str | None = None,
    attr_aliases: Sequence[str] | None = None,
    attr_types: Sequence[str] | None = None,
) -> None:
    """Streaming point-in-time enrichment — the full streaming feature-store
    loop: each fact micro-batch joins the STANDING SCD2 store (maintained by
    :func:`update_scd2_store`, possibly by another stream) picking up the
    attributes valid AT each fact's own timestamp, then lands under
    ``sink_path/batch=<id>``. Re-deriving the history from the store inside
    the batch (rather than a stream-static join against a fixed plan)
    guarantees each batch sees the store's LATEST promoted state.
    ``attr_aliases`` renames the picked-up attributes (required when facts
    carry same-named columns). Batches arriving BEFORE the first dimension
    state land with typed NULL attributes: pass ``attr_types`` (Spark SQL
    type strings, default "string") matching the store's real attribute
    types — otherwise a string-NULL batch 0 and a double batch 1 would leave
    the sink with conflicting parquet schemas that whole-sink reads cannot
    merge.

    Leakage note: correctness of "state as of the fact's time" only needs
    the store to CONTAIN each key's transitions up to that time — extra
    future transitions never corrupt a fact's answer (its validity interval
    is unchanged by later splits), so the enrichment is safe to run behind
    the dimension stream."""
    from kda_flink_demo_spark.operators.cdc import temporal_join

    spark = batch_df.sparkSession
    out_names = list(attr_aliases) if attr_aliases is not None else list(attr_cols)
    if recover_standing(spark, store_path):
        hist = scd2_from_store(spark, store_path, keys, attr_cols, ts_col, tie_col)
        for a, alias in zip(attr_cols, out_names):
            if alias != a:
                hist = hist.withColumnRenamed(a, alias)
        out = temporal_join(
            batch_df, hist, keys=keys, fact_ts=fact_ts, attr_cols=out_names
        )
    else:  # no dimension state yet: every fact enriches to a TYPED NULL
        types = list(attr_types) if attr_types is not None else ["string"] * len(out_names)
        out = batch_df
        for alias, t in zip(out_names, types):
            out = out.withColumn(alias, F.lit(None).cast(t))
    write_part(out, sink_path, batch_id, "batch")


def update_quarantine_store(
    batch_df: DataFrame,
    batch_id: int,
    rules,
    good_path: str,
    quarantine_path: str,
) -> None:
    """Streaming data-quality gate (dead-letter pattern): split each
    micro-batch by the rule dictionary (``validation.quarantine_split``),
    landing passing rows under ``good_path/batch=<id>`` and violating rows —
    tagged with the names of every failed rule — under
    ``quarantine_path/batch=<id>``. The split is one map-side projection —
    both branches prune from the same scan; no shuffle enters the gate at
    any scale."""
    from kda_flink_demo_spark.operators.validation import quarantine_split

    good, bad = quarantine_split(batch_df, rules)
    write_part(good, good_path, batch_id, "batch")
    write_part(
        bad.withColumn("violations", F.array_join("violations", ",")),
        quarantine_path,
        batch_id,
        "batch",
    )


def diff_snapshot_versions(
    spark: SparkSession,
    store_path: str,
    old_version: int,
    new_version: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """added / removed / changed ids between two retained versions, computed
    from the 16-byte projections alone (same full-outer-join shape and
    statuses as the batch ``snapshot_diff``)."""

    def side(version: int, h: str) -> DataFrame:
        return read_parquet(spark, part_dir(store_path, "version", version)).select(
            F.col(id_col).alias("_id"), F.col("text_hash").alias(h)
        )

    status = (
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") != F.col("_hn"), F.lit("changed"))
    )
    return (
        side(old_version, "_ho")
        .join(side(new_version, "_hn"), "_id", "full_outer")
        .select(F.col("_id").alias(id_col), status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


# ---------------------------------------------------------------------------
# Standing span-hash index (streaming twin of operators/llm/dedup.py:
# span_dedup_apply)
# ---------------------------------------------------------------------------


def _span_merge(df: DataFrame) -> DataFrame:
    return df.select("h").distinct()


def read_span_index(
    spark: SparkSession, store_path: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The standing span-hash set (column ``h``); None before the first
    fold. A replaying batch passes its own id: a doc must never be cleaned
    against spans it itself introduced."""
    segs = read_segments(spark, store_path, exclude_batch)
    return None if segs is None else segs.select("h")


def update_span_index_store(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    sink_path: str,
    span: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch through the standing span-dedup gate: clean the
    batch against the standing index + within-batch earlier docs
    (``dedup.span_dedup_probe``), land the cleaned rows under
    ``sink_path/batch=<id>``, then commit the batch's own distinct span
    hashes as its segment. Per-batch cost is O(batch), never an index
    rewrite, and the corpus-sized index never shuffles (the probe broadcasts
    batch hashes both ways)."""
    from kda_flink_demo_spark.operators.llm.dedup import (
        span_dedup_probe,
        span_index_hashes,
    )

    spark = batch_df.sparkSession
    idx = read_span_index(spark, store_path, exclude_batch=batch_id)
    cleaned = span_dedup_probe(
        batch_df, idx, text_col=text_col, id_col=id_col, span=span
    )
    write_part(cleaned, sink_path, batch_id, "batch")
    write_part(
        span_index_hashes(batch_df, text_col=text_col, id_col=id_col, span=span),
        store_path,
        batch_id,
    )


def compact_span_index_store(
    spark: SparkSession, store_path: str, upto_batch: int
) -> None:
    """Compact span-index segments ≤ ``upto_batch`` into one distinct hash
    segment; the hash set, and so every later gate decision, is unchanged."""
    compact_segments(spark, store_path, upto_batch, _span_merge)


# ---------------------------------------------------------------------------
# Standing BPE merge-table store (tokenizer trained once, applied in any
# later session)
# ---------------------------------------------------------------------------


def train_bpe_to_store(
    df: DataFrame, store_path: str, steps: int = 4, text_col: str = "text"
) -> None:
    """Train the BPE merge table on ``df`` and promote it, so a tokenizer
    trained in one session encodes in the next."""
    from kda_flink_demo_spark.operators.llm.text import bpe_merge_train

    promote(bpe_merge_train(df, text_col=text_col, steps=steps), store_path)


def bpe_merges_from_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The stored merge table; None when no committed store exists (caller
    trains)."""
    if recover_standing(spark, store_path):
        return read_parquet(spark, store_path.rstrip("/"))
    return None


# ---------------------------------------------------------------------------
# Standing count-min frequency store (streaming twin of
# operators/sketches.py: cms_state / merge_cms_states)
# ---------------------------------------------------------------------------


def _cms_merge(df: DataFrame) -> DataFrame:
    return df.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def update_cms_store(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    item_col: str = "term",
    depth: int = 4,
    width: int = 512,
) -> None:
    """Fold one micro-batch's item stream into a standing count-min frequency
    store — the streaming frequency monitor next to the HLL/Theta distinct
    store (``update_sketch_store``).

    CMS cells merge by ADDITION, which is NOT idempotent — re-merging a
    replayed batch into one standing table would double-count it (the
    HLL/Theta store never has this problem: register-max and set-union
    absorb replays). Hence one cell table per batch, which a replay
    rewrites. A segment is the constant depth×width cells regardless of
    batch size, so even 10⁵ folded batches stay a cheap scan."""
    from kda_flink_demo_spark.operators.sketches import cms_state

    cells = cms_state(batch_df, item_col=item_col, depth=depth, width=width)
    write_part(cells, store_path, batch_id)


def cms_from_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The standing sketch: committed segments summed cell-wise — equals the
    one-pass ``cms_state`` over every row ever folded (bit-exact, pinned by
    tests, including mid-compaction states). None before the first
    committed fold."""
    segs = read_segments(spark, store_path)
    return None if segs is None else _cms_merge(segs)


def compact_cms_store(spark: SparkSession, store_path: str, upto_batch: int) -> None:
    """Compact CMS segments ≤ ``upto_batch`` into one (cell-wise sum — the
    readout is bit-identical before and after, test-pinned)."""
    compact_segments(spark, store_path, upto_batch, _cms_merge)


# ---------------------------------------------------------------------------
# Standing distribution-profile store (streaming twin of
# operators/validation.py: distribution_drift)
# ---------------------------------------------------------------------------


def update_drift_store(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    dims: dict,
) -> None:
    """Fold one micro-batch's distribution PROFILE into a standing drift
    store: the batch's per-(dim, bucket) counts, bucket-count-sized
    regardless of batch size (counts add, so a replay must rewrite, never
    re-add). The store then answers PSI drift between ANY two fold ranges
    after the fact (this week's ingest vs last month's) from the retained
    profiles alone — the batch `distribution_drift` would need both corpora
    rescanned. Drift segments are never compacted: ``drift_between``
    addresses single batches."""
    from kda_flink_demo_spark.operators.validation import dim_bucket_rows

    counts = (
        dim_bucket_rows(batch_df, dims)
        .groupBy("dim", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    write_part(counts, store_path, batch_id)


def drift_between(
    spark: SparkSession,
    store_path: str,
    old_batches: Sequence[int],
    new_batches: Sequence[int],
    psi_micro_threshold: int = 200_000,
) -> DataFrame | None:
    """PSI drift report between two sets of folded batches, computed from
    the stored profiles alone — EXACTLY equal to running the batch
    `distribution_drift` over the concatenated snapshots (pinned by tests:
    the profile aggregation is distributive, so summing per-batch counts ≡
    counting the union). None if any requested batch isn't committed yet."""
    from kda_flink_demo_spark.operators.validation import psi_report

    # a batch id repeated within a list would read the same parquet path
    # twice and silently inflate that side's counts; an id on BOTH sides
    # makes the comparison meaningless — caller error
    old_ids, new_ids = sorted(set(old_batches)), sorted(set(new_batches))
    overlap = set(old_ids) & set(new_ids)
    if overlap:
        raise ValueError(
            f"drift_between: batches {sorted(overlap)} appear in both "
            "old_batches and new_batches"
        )
    need = [*old_ids, *new_ids]
    segs = committed_dirs(spark, store_path)
    if not need or any(b not in segs for b in need):
        return None

    def side(batches: Sequence[int], tag: int) -> DataFrame:
        return read_parquet(spark, *[segs[b] for b in batches]).withColumn(
            "_t", F.lit(tag)
        )

    counted = (
        side(old_ids, 0)
        .unionByName(side(new_ids, 1))
        .groupBy("dim", "bucket")
        .agg(
            F.sum(F.when(F.col("_t") == 0, F.col("cnt")).otherwise(0)).alias("old_cnt"),
            F.sum(F.when(F.col("_t") == 1, F.col("cnt")).otherwise(0)).alias("new_cnt"),
        )
    )
    return psi_report(counted, psi_micro_threshold)


# ---------------------------------------------------------------------------
# Standing PCA sufficient-statistics store (streaming twin of
# operators/llm/embeddings.py: pca_project's fit)
# ---------------------------------------------------------------------------


def update_pca_stats_store(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    vec_col: str = "embedding",
) -> None:
    """Fold one micro-batch's PCA sufficient statistics into a standing
    store: the batch's dim²-bounded ``(i, j, v)`` cell table — model-sized
    regardless of batch size. Stat cells are additive DOUBLE sums, so like
    the CMS store a replay must rewrite, never re-add; unlike the integer
    CMS cells, a rewrite may differ in fold-noise low bits — the replay
    guarantee is numerical, and the det-rounded projections are unaffected.
    The model refits FROM THE RETAINED STATS at read time: embeddings stream
    in all day, the projection model refreshes whenever wanted, and no
    historical vector is ever rescanned."""
    from kda_flink_demo_spark.operators.llm.embeddings import pca_stats_df
    from kda_flink_demo_spark.operators.llm.similarity import _as_double

    # only the vector column is read — requiring an id would crash streams
    # whose rows carry embeddings alone
    base = batch_df.select(_as_double(F.col(vec_col)).alias("_v"))
    write_part(pca_stats_df(base), store_path, batch_id)


def pca_model_from_store(spark: SparkSession, store_path: str, k: int = 8):
    """Fit ``(mu, components)`` from every committed stats segment — the
    cell-wise (i, j)-sum of per-batch statistics. Double sums fold in a
    different order than a one-pass fit, so the model matches the one-shot
    fit to FP fold noise (~1e-15 relative; the det_round-ed projections are
    equal in practice — tests pin allclose on the model and exact equality
    on the rounded projections over the fixture). None before the first
    committed fold."""
    from kda_flink_demo_spark.operators.llm.embeddings import model_from_pca_stats

    segs = read_segments(spark, store_path)
    if segs is None:
        return None
    stats = segs.groupBy("i", "j").agg(F.sum("v").alias("v")).collect()
    return model_from_pca_stats(stats, k)


# ---------------------------------------------------------------------------
# Standing perceptual-image-hash index (streaming twin of
# operators/llm/image_dedup.py: image_dedup_probe — the span-gate pattern
# applied to the multimodal column)
# ---------------------------------------------------------------------------


def _ahash_merge(df: DataFrame) -> DataFrame:
    return df.select("doc_id", "ahash").distinct()


def compact_ahash_index_store(
    spark: SparkSession, store_path: str, upto_batch: int
) -> None:
    """Compact aHash-index segments ≤ ``upto_batch`` into one distinct
    (doc_id, ahash) segment — a billion-image standing index folds one
    segment per micro-batch and would otherwise accumulate unbounded small
    files; the index readout, and so every gate decision, is unchanged."""
    compact_segments(spark, store_path, upto_batch, _ahash_merge)


def read_ahash_index(
    spark: SparkSession, store_path: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The standing ``(doc_id, ahash)`` index; None before the first fold. A
    replaying batch passes its own id, so an image never probes its own
    hash."""
    segs = read_segments(spark, store_path, exclude_batch)
    return None if segs is None else segs.select("doc_id", "ahash")


def update_ahash_index_store(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    sink_path: str,
    max_hamming: int = 5,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    hasher=None,
    compact_every: int | None = None,
) -> None:
    """Fold one micro-batch of media payloads through the standing
    perceptual-dedup gate: clean the batch against the standing fingerprint
    index + earlier within-batch payloads (``image_dedup_probe`` —
    hash-agnostic once given hash tables), land survivors under
    ``sink_path/batch=<id>``, then commit the batch's OWN hashes as its
    segment — including dropped images' hashes, so a later re-crawl of a
    dropped near-dup still gates (the index records everything seen, the
    sink records what survived). ``compact_every`` bounds the segment count
    of a long-running stream (``store.compact_when_due``)."""
    from kda_flink_demo_spark.operators.llm.image_dedup import (
        image_ahash,
        image_dedup_probe,
    )

    spark = batch_df.sparkSession
    idx = read_ahash_index(spark, store_path, exclude_batch=batch_id)
    # hash the batch ONCE: the checkpointed table feeds both the probe's two
    # joins and the index segment write — recomputing would run the
    # per-image decode mapInPandas twice per fold.
    # ``hasher`` defaults to the image aHash; pass ``audio_ahash`` (or any
    # (df, id_col, payload_col) → (doc_id, ahash BIGINT) projection) and the
    # identical gate/store machinery dedups that modality — the probe and the
    # segment format are hash-agnostic. One store holds ONE modality: never
    # mix hashers in a store_path (hashes from different fingerprint spaces
    # are incomparable).
    if hasher is None:
        hasher = image_ahash
    bh = hasher(batch_df, id_col=id_col, payload_col=payload_col).localCheckpoint()
    cleaned = image_dedup_probe(
        batch_df,
        idx,
        max_hamming=max_hamming,
        id_col=id_col,
        payload_col=payload_col,
        batch_hashes=bh,
    )
    write_part(cleaned, sink_path, batch_id, "batch")
    write_part(bh, store_path, batch_id)
    compact_when_due(spark, store_path, batch_id, compact_every, _ahash_merge)


# ---------------------------------------------------------------------------
# Standing edit-distance index (the text twin of the aHash index)
# ---------------------------------------------------------------------------


def _editdist_merge(df: DataFrame) -> DataFrame:
    return df.select("text").distinct()


def compact_editdist_index_store(
    spark: SparkSession, store_path: str, upto_batch: int
) -> None:
    """Compact editdist-index segments ≤ ``upto_batch`` into one distinct
    text segment; every gate decision is unchanged."""
    compact_segments(spark, store_path, upto_batch, _editdist_merge)


def read_editdist_index(
    spark: SparkSession, store_path: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The standing distinct-text index; None before the first fold. A
    replaying batch passes its own id: a doc must never gate against its own
    text."""
    segs = read_segments(spark, store_path, exclude_batch)
    return None if segs is None else _editdist_merge(segs)


def update_editdist_index_store(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    sink_path: str,
    threshold: int = 20,
    prefix_len: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
) -> None:
    """Fold one micro-batch of documents through the standing edit-distance
    gate — the text twin of ``update_ahash_index_store``: clean the batch
    against the standing distinct-text index + earlier within-batch texts
    (``ingest_editdist_gate`` probing a ``build_editdist_ingest_index`` of
    the store's texts), land survivors under ``sink_path/batch=<id>``, then
    commit the batch's OWN distinct texts as its segment — including dropped
    docs' texts, so a later re-crawl of a dropped near-identical doc still
    gates. The store keeps ONLY texts — block keys (prefix, length bucket)
    are derived at read time, so threshold/prefix parametrize the gate, not
    the stored bytes."""
    from kda_flink_demo_spark.operators.llm.dedup import (
        build_editdist_ingest_index,
        ingest_editdist_gate,
    )

    spark = batch_df.sparkSession
    texts = read_editdist_index(spark, store_path, exclude_batch=batch_id)
    if texts is None:
        texts = spark.createDataFrame([], "text string")
    ci = build_editdist_ingest_index(
        texts, text_col="text", threshold=threshold, prefix_len=prefix_len
    )
    cleaned = ingest_editdist_gate(
        batch_df,
        corpus_index=ci,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        prefix_len=prefix_len,
    )
    write_part(cleaned, sink_path, batch_id, "batch")
    write_part(
        batch_df.filter(F.col(text_col).isNotNull())
        .select(F.col(text_col).alias("text"))
        .distinct(),
        store_path,
        batch_id,
    )
    compact_when_due(spark, store_path, batch_id, compact_every, _editdist_merge)


# ---------------------------------------------------------------------------
# Standing CUMULATE windows (streaming twin of operators/windows.py:
# cumulate_counts)
# ---------------------------------------------------------------------------


def update_cumulate_store(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    key: str = "railway_class",
    ts: str = "rowtime",
    step_s: int = 120,
    max_s: int = 600,
) -> None:
    """Streaming CUMULATE maintenance: windowed counts are ADDITIVE, so each
    micro-batch folds its own ``cumulate_counts`` partial as its segment and
    the live result is a grouped sum (``cumulate_from_store``). Every
    early-firing refresh of a growing window is exact because partial counts
    merge by addition regardless of how events split across batches."""
    from kda_flink_demo_spark.operators.windows import cumulate_counts

    part = cumulate_counts(batch_df, key=key, ts=ts, step_s=step_s, max_s=max_s)
    write_part(part, store_path, batch_id)


def cumulate_from_store(
    spark: SparkSession,
    store_path: str,
    count_alias: str = "railway_class_count",
) -> DataFrame | None:
    """Merged CUMULATE read-out: grouped sum of the per-batch partials —
    equal to one-shot ``cumulate_counts`` over everything replayed
    (batch-as-oracle test-pinned). None before the first fold."""
    df = read_segments(spark, store_path)
    if df is None:
        return None
    keys = [c for c in df.columns if c != count_alias]
    return df.groupBy(*keys).agg(
        F.sum(count_alias).cast("long").alias(count_alias)
    ).select(*df.columns)
