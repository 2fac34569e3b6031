"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact dedup,
exact n-gram Jaccard pairs (the correctness oracle), MinHash+LSH (the 100 TB
path), and SimHash. Everything is DataFrame-native JVM expressions — zero
Python in any data path (including the SimHash bit-majority, a getbit/aggregate
fold).

Scale notes:
- Exact pairwise Jaccard via a shingle inverted-index self-join is O(sum of
  per-shingle doc-count²) — fine for correctness testing, quadratic blowup on
  hot shingles at scale. MinHash+LSH replaces it: cost is one explode to
  (band, band_hash) and a shuffle on band_hash; only same-bucket candidates are
  exactly re-verified. Hot-bucket skew is bounded by band width (r rows/band).
- All hash functions are seeded/deterministic (xxhash64 + fixed affine
  permutations) so results are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kda_flink_demo_spark.functions import det_round, spread_for_compute

# Mersenne prime 2^31-1: keeps a*h+b inside int64 for a,b < 2^31.
_MERSENNE = (1 << 31) - 1


def exact_dedup_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the minimum id per identical text, with duplicate count.
    One hash shuffle on the text (Spark shuffles the value itself; at 100 TB
    pre-hash with ``xxhash64(text)`` and group on the 8-byte key instead —
    ``group_on_hash=True`` in ``exact_dedup_keep_first``)."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .select(id_col, "dup_count")
    )


def exact_dedup_keep_first(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", group_on_hash: bool = True
) -> DataFrame:
    """Exact dedup returning surviving full rows. ``group_on_hash`` shuffles an
    8-byte xxhash64 instead of full document text — the difference between
    shuffling ~100 TB and shuffling ~80 GB of keys."""
    from pyspark.sql import Window

    key = F.xxhash64(F.col(text_col)) if group_on_hash else F.col(text_col)
    w = Window.partitionBy(key).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def exact_dedup_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    group_on_hash: bool = True,
) -> DataFrame:
    """Exact dedup keeping the HIGHEST-QUALITY member of each duplicate group
    (ties break to the smallest id) — real pipelines keep the best rendering
    of a re-crawled page, not the first-seen one. Returns
    ``(id, quality, dup_count)`` for the surviving member.

    Same scale shape as ``exact_dedup_keep_first``: one shuffle on the 8-byte
    ``xxhash64(text)`` key (never the text itself), ranking and group count in
    the same window pass."""
    from pyspark.sql import Window

    key = F.xxhash64(F.col(text_col)) if group_on_hash else F.col(text_col)
    w = Window.partitionBy(key).orderBy(F.col(quality_col).desc(), F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(Window.partitionBy(key)))
        .filter(F.col("_rn") == 1)
        .select(id_col, quality_col, "dup_count")
    )


def word_ngrams_with_multiplicity(text: Column, n: int = 3) -> Column:
    """All word n-grams of a text column in positional order (pure built-ins,
    multiplicity preserved — :func:`word_ngrams` adds the distinct).

    Docs with fewer than ``n`` words yield an EMPTY gram list (matching the
    DuckDB oracle's ``range(1, len-1)``): without the guard the slice lengths
    would go negative — a crash under Spark 4's default ANSI mode on any
    real-world corpus with one short row.

    Optimization r13 (guide §2/§4, the lm.py ``_bigram_positions`` shape):
    grams come from ``arrays_zip`` of ``n`` token-array slices — ``n``
    evaluations of the split per ROW. The previous
    ``transform(sequence, i -> concat_ws(element_at(toks, i+j)...))`` lambda
    re-inlined the split ``n`` times PER GRAM (no common-subexpression
    elimination inside higher-order lambdas), measured 1.5×/2×/3× slower at
    n=3/5/10 on the sf0.1 explode→agg kernel with bit-identical output
    arrays (same grams, same order)."""
    toks = F.split(text, " ")
    if n == 1:  # grams ARE the tokens; arrays_zip names a lone field differently
        return F.when(F.size(toks) >= 1, toks).otherwise(
            F.array().cast("array<string>")
        )
    m = F.size(toks) - (n - 1)  # gram count when the doc has >= n tokens
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(n)])
    return F.when(
        F.size(toks) >= n,
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (pure built-ins).
    First-occurrence order, exactly as the pre-r13 element_at spelling."""
    return F.array_distinct(word_ngrams_with_multiplicity(text, n))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact near-dup pairs by word-n-gram Jaccard ≥ threshold.

    Inverted-index formulation: explode (doc, shingle), self-join on shingle to
    count shared shingles per pair, then Jaccard from per-doc shingle counts.
    This is the oracle for the MinHash/LSH approximations; at scale, prefer
    ``minhash_lsh_pairs``.
    """
    # spread the CPU-heavy shingle explode across cores (single-file inputs
    # otherwise pin it to one task; no-op-ish on many-split cluster scans)
    spread = spread_for_compute(df)
    sh = spread.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("shingle")
    )
    cnt = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("c"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = cnt.select(F.col(id_col).alias("doc_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col(id_col).alias("doc_b"), F.col("c").alias("cb"))
    jac = F.col("shared") / (F.col("ca") + F.col("cb") - F.col("shared"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", det_round(jac, 4).alias("jaccard"))
    )


def _editdist_block_cols(text_col: str, threshold: int, prefix_len: int):
    """The editdist block key: (normalized prefix, length bucket). Bucket
    width = ``threshold`` because levenshtein(a, b) ≤ t implies
    |len(a) − len(b)| ≤ t, which implies |floor(len(a)/t) − floor(len(b)/t)|
    ≤ 1 — so joining a row's exact bucket against the other side's
    {lb−1, lb, lb+1} loses NO qualifying pair while splitting a
    prefix-monoculture block by document length."""
    return (
        F.substring(F.lower(F.col(text_col)), 1, prefix_len).alias("_pfx"),
        F.floor(F.length(F.col(text_col)) / F.lit(threshold)).alias("_lb"),
    )


def _editdist_capped_universe(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: int,
    prefix_len: int,
    block_cap: int | None,
) -> DataFrame:
    """DISTINCT texts (per-text minimal id) with block key columns, capped at
    ``block_cap`` candidates per (prefix, length-bucket) block — rank by
    doc_id inside the block so the cap is deterministic and the DuckDB
    oracle replays it exactly. ``editdist_block_stats`` reports how many
    texts a given corpus loses to the cap (zero on non-pathological data).
    ``block_cap=None`` skips the cap but still carries the rank (the chunk
    salt derives from it)."""
    from pyspark.sql import Window

    pfx, lb = _editdist_block_cols(text_col, threshold, prefix_len)
    collapsed = df.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    u = collapsed.select(F.col(id_col), F.col(text_col), pfx, lb)
    w = Window.partitionBy("_pfx", "_lb").orderBy(id_col)
    ranked = u.withColumn("_rk", F.row_number().over(w))
    if block_cap is None:
        return ranked
    return ranked.filter(F.col("_rk") <= block_cap)


def editdist_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: int = 20,
    prefix_len: int = 32,
    block_cap: int | None = 1000,
) -> DataFrame:
    """Near-identical pairs by EDIT DISTANCE with (prefix, length-bucket)
    blocking: docs whose normalized texts share their first ``prefix_len``
    characters AND sit within one ``threshold``-wide length bucket of each
    other are candidates; pairs at 1 ≤ levenshtein ≤ ``threshold`` are
    emitted with the exact distance. The classic record-linkage complement
    to shingle-based dedup: MinHash/Jaccard measures SET overlap and misses
    small in-place edits inside short docs, while edit distance counts the
    edits themselves (and the levenshtein kernel runs JVM-side in both
    engines).

    Scale shape (r13 skew guard — the monoculture probe in
    scripts/skew_probe.py measures it): the corpus collapses to DISTINCT
    texts first (exact dups re-enter via dedup_exact's keep-min, same
    contract as ``_distinct_hash_pairs``); the self-join key is
    (normalized prefix, length bucket), so a boilerplate corpus where every
    doc opens with the same template header — the r12 documented
    O(distinct²) ceiling — is split by document length before any pair
    forms, and the bucket±1 probe side keeps the join LOSSLESS for
    qualifying pairs (|len diff| ≤ threshold ⟹ |bucket diff| ≤ 1).
    Same-length monocultures are bounded by the deterministic per-block
    ``block_cap`` (min-doc_id-first, oracle-replayed); the dropped-text
    count is first-class visible via ``editdist_block_stats``.
    ``minhash_lsh_pairs`` remains the recall path for corpora that saturate
    the cap.

    Output: (doc_a, doc_b, edit_distance), doc_a < doc_b over the per-text
    minimal ids."""
    capped = _editdist_capped_universe(
        df, text_col, id_col, threshold, prefix_len, block_cap
    )
    # WITHIN-block parallelism (probe finding): few blocks means few join
    # partitions, and AQE then coalesces the byte-tiny pair input to ONE
    # task while the levenshtein kernel — the actual cost — serializes. The
    # cap rank already in hand makes a free salt: the a-side keeps chunk
    # _rk % S, the b-side replicates over all S chunks, so the kernel
    # spreads across blocks × S tasks at ANY block count, with no forced
    # broadcast (the join stays a plain equi join at every scale). The
    # b-side shuffle grows 3·S× — but it is the capped DISTINCT-text
    # universe, and pair-kernel compute, not shuffle bytes, dominates this
    # operator by construction.
    chunks = 8
    a = capped.select(
        F.col(id_col).alias("doc_a"),
        F.col(text_col).alias("_ta"),
        "_pfx",
        "_lb",
        (F.col("_rk") % chunks).alias("_chunk"),
    )
    b = capped.select(
        F.col(id_col).alias("doc_b"),
        F.col(text_col).alias("_tb"),
        "_pfx",
        F.explode(
            F.array(F.col("_lb") - 1, F.col("_lb"), F.col("_lb") + 1)
        ).alias("_lb"),
    ).select(
        "doc_b",
        "_tb",
        "_pfx",
        "_lb",
        F.explode(F.array(*[F.lit(c) for c in range(chunks)])).alias("_chunk"),
    )
    # bounded kernel: the 3-arg levenshtein short-circuits to -1 past the
    # threshold (O(len·t) band instead of O(len²), with an O(1) length-diff
    # exit) — the BETWEEN 1..threshold filter excludes the -1 sentinel, so
    # output is identical to the unbounded form the oracle computes
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), threshold)
    # explicit keyed repartitions: AQE would otherwise coalesce the
    # byte-tiny join inputs to one partition and serialize the kernel —
    # user-specified counts are exempt from coalescing, and the count
    # tracks cluster parallelism, not a constant
    para = df.sparkSession.sparkContext.defaultParallelism
    a = a.repartition(para, "_pfx", "_lb", "_chunk")
    b = b.repartition(para, "_pfx", "_lb", "_chunk")
    return (
        a.join(b, ["_pfx", "_lb", "_chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.cast("long").alias("edit_distance"))
        .filter(
            (F.col("edit_distance") >= 1) & (F.col("edit_distance") <= threshold)
        )
    )


def editdist_block_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: int = 20,
    prefix_len: int = 32,
    block_cap: int = 1000,
) -> DataFrame:
    """Block-skew VISIBILITY for ``editdist_pairs`` — the 'log-reported
    dropped count' as a first-class, oracle-checked row instead of a driver
    log line: one row of (n_texts, n_blocks, max_block, capped_blocks,
    dropped_texts) over the (prefix, length-bucket) blocking. A production
    pipeline alerts on dropped_texts > 0 (the cap binding means the corpus
    is a same-length prefix monoculture and minhash_lsh_pairs should carry
    recall there)."""
    pfx, lb = _editdist_block_cols(text_col, threshold, prefix_len)
    collapsed = df.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    blocks = (
        collapsed.select(pfx, lb)
        .groupBy("_pfx", "_lb")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    over = F.greatest(F.col("cnt") - block_cap, F.lit(0))
    return blocks.agg(
        F.sum("cnt").cast("long").alias("n_texts"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.max("cnt").cast("long").alias("max_block"),
        F.sum((F.col("cnt") > block_cap).cast("long")).cast("long").alias("capped_blocks"),
        F.sum(over).cast("long").alias("dropped_texts"),
    )


def editdist_block_stats_oracle_sql(
    threshold: int = 20,
    prefix_len: int = 32,
    block_cap: int = 1000,
    table: str = "documents",
) -> str:
    return f"""
    WITH c AS (SELECT text, min(doc_id) AS doc_id FROM {table} GROUP BY text),
    g AS (
        SELECT substr(lower(text), 1, {prefix_len}) AS pfx,
               CAST(floor(length(text) / {threshold}) AS BIGINT) AS lb,
               count(*) AS cnt
        FROM c GROUP BY 1, 2
    )
    SELECT CAST(sum(cnt) AS BIGINT) AS n_texts,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(max(cnt) AS BIGINT) AS max_block,
           CAST(sum(CASE WHEN cnt > {block_cap} THEN 1 ELSE 0 END) AS BIGINT)
               AS capped_blocks,
           CAST(sum(greatest(cnt - {block_cap}, 0)) AS BIGINT) AS dropped_texts
    FROM g
    """


def build_editdist_ingest_index(
    corpus: DataFrame,
    text_col: str = "text",
    threshold: int = 20,
    prefix_len: int = 32,
) -> DataFrame:
    """Standing corpus artifact for ``ingest_editdist_gate`` (r12 verdict
    directive 2 — the BUILD/consume split every other gate has): the corpus
    collapsed ONCE to DISTINCT non-null texts with their (prefix,
    length-bucket) block keys. Per-batch probes touch only this compact
    (``_ct``, ``_cpfx``, ``_clb``) table — never the raw corpus again — and
    the localCheckpoint gives the probe joins exact size stats. At 100 TB
    this is the parquet-backed index segment; incremental maintenance is a
    distinct-union of each surviving batch's texts (the ahash/span segment
    store convention)."""
    pfx, lb = _editdist_block_cols(text_col, threshold, prefix_len)
    para = corpus.sparkSession.sparkContext.defaultParallelism
    return (
        corpus.filter(F.col(text_col).isNotNull())
        .select(F.col(text_col).alias("_ct"), pfx, lb)
        .distinct()
        .withColumnRenamed("_pfx", "_cpfx")
        .withColumnRenamed("_lb", "_clb")
        # full width BEFORE the checkpoint: the gate's probe join streams the
        # index (batch side broadcasts), so index partitioning IS the
        # levenshtein kernel's parallelism — the r13 8× probe caught the
        # distinct's AQE-coalesced 4 partitions serializing the verify
        .repartition(para)
        .localCheckpoint()
    )


def ingest_editdist_gate(
    incoming: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: int = 20,
    prefix_len: int = 32,
    corpus_index: DataFrame | None = None,
    small_batch_cutover: int = 2000,
) -> DataFrame:
    """Incremental-ingest edit-distance gate — the text twin of
    ``image_dedup_probe``: drop incoming docs whose text is near-IDENTICAL
    (levenshtein ≤ threshold, including exact 0-distance hits) to a standing
    corpus doc OR to an earlier (smaller-id) incoming doc. Returns surviving
    incoming rows, all columns intact. Pass ``corpus_index`` (from
    ``build_editdist_ingest_index``) in the production path so the recurring
    per-batch cost is a probe of the compact standing index, not a re-scan +
    re-collapse of the raw corpus (r12 verdict directive 2); ``corpus`` is
    the build-on-the-fly fallback.

    Scale shape mirrors the perceptual gates: the batch collapses to
    distinct texts + per-text minimal id; the batch's (prefix, length
    bucket±1) keys BROADCAST into the index scan (the index never shuffles,
    and only same-block index rows within one length bucket pay the
    threshold-bounded levenshtein); within-batch pairs run over distinct
    texts in the same (prefix, bucket±1) block; the final anti join
    broadcasts the batch-bounded drop list. Drop semantics per near pair of
    distinct batch texts: the LATER minimal id drops (an earlier in-batch
    near-identical exists) — the image gate's cross_min_drops rule."""
    from pyspark.sql.functions import broadcast

    # NULL text carries no dedup signal and NULL-keyed joins differ subtly
    # across engines — exclude it symmetrically (the oracle filters too)
    incoming = incoming.filter(F.col(text_col).isNotNull())
    if corpus_index is None:
        if corpus is None:
            raise ValueError("pass corpus_index (production) or corpus (fallback)")
        corpus_index = build_editdist_ingest_index(
            corpus, text_col, threshold, prefix_len
        )
    pfx, lb = _editdist_block_cols(text_col, threshold, prefix_len)
    bh = (
        incoming.groupBy(text_col)
        .agg(F.min(id_col).alias("_min_id"))
        .select(F.col(text_col).alias("_bt"), "_min_id", pfx, lb)
        .localCheckpoint()
    ).coalesce(1)
    # batch keys exploded to bucket±1 so every join below stays an equi hash
    # join; |len diff| ≤ threshold ⟹ |bucket diff| ≤ 1, so the prune is
    # lossless for qualifying near-pairs (see _editdist_block_cols)
    bh3 = bh.select(
        "_bt",
        "_min_id",
        "_pfx",
        F.explode(F.array(F.col("_lb") - 1, F.col("_lb"), F.col("_lb") + 1)).alias("_lb"),
    )
    # (1) exact within-batch dups: non-minimal ids of a repeated text
    same_text_drops = (
        incoming.join(
            broadcast(bh), F.col(text_col) == F.col("_bt")
        )
        .filter(F.col(id_col) > F.col("_min_id"))
        .select(F.col(id_col).alias("_drop_id"))
    )
    # (2) batch texts near the corpus: batch (prefix, bucket±1) keys
    #     broadcast-probe the standing index; only same-block index rows pay
    #     the bounded levenshtein
    near_corpus = (
        corpus_index.join(
            broadcast(bh3),
            (F.col("_cpfx") == F.col("_pfx")) & (F.col("_clb") == F.col("_lb")),
        )
        # >= 0 is the single-eval spelling of "within threshold": the 3-arg
        # levenshtein returns -1 iff the bound is exceeded, and between()
        # would evaluate the kernel twice per candidate
        .filter(F.levenshtein(F.col("_bt"), F.col("_ct"), threshold) >= 0)
        .select("_bt")
        .distinct()
    )
    corpus_drops = (
        incoming.join(broadcast(near_corpus), F.col(text_col) == F.col("_bt"))
        .select(F.col(id_col).alias("_drop_id"))
    )
    # (3) among distinct batch texts within threshold, the later min drops.
    # Two physically different, semantically identical plans, picked by the
    # batch's DISTINCT-text count (bh is already checkpointed — the count is
    # a metadata-cheap job): a STREAMING-sized batch self-joins in place
    # (the salted plan's extra window + repartition shuffles are pure stage
    # overhead when the whole pair kernel fits one core), while a
    # BACKFILL-sized batch routes through editdist_pairs, which carries all
    # the skew guards — length-bucket blocking, chunk-salted spreading,
    # explicit repartitions. The r13 8× probe caught the old unconditional
    # self-join serializing a 13k-text batch's kernel into the coalesce(1)
    # partition (0.97 s → 48 s); the unconditional salted plan in turn cost
    # ~0.5 s of fixed shuffle overhead on the 1.7k-text registry batch.
    # Both branches replay the oracle's uncapped rule (3) exactly (the
    # bucket±1 prune is lossless; block_cap=None on the big path).
    if bh.count() <= small_batch_cutover:
        a3 = bh.select(
            F.col("_bt").alias("_ta"), F.col("_min_id").alias("_ma"), "_pfx", "_lb"
        )
        b3 = bh3.select(
            F.col("_bt").alias("_tb"), F.col("_min_id").alias("_mb"), "_pfx", "_lb"
        )
        cross_min_drops = (
            a3.join(b3, ["_pfx", "_lb"])
            .filter(
                (F.col("_ma") < F.col("_mb"))
                & (
                    F.levenshtein(F.col("_ta"), F.col("_tb"), threshold).between(
                        1, threshold
                    )
                )
            )
            .select(F.col("_mb").alias("_drop_id"))
        )
    else:
        cross_min_drops = editdist_pairs(
            incoming,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            prefix_len=prefix_len,
            block_cap=None,
        ).select(F.col("doc_b").alias("_drop_id"))
    drops = same_text_drops.unionByName(corpus_drops).unionByName(cross_min_drops)
    return incoming.join(
        broadcast(drops.distinct()),
        F.col(id_col) == F.col("_drop_id"),
        "left_anti",
    )


def ingest_editdist_gate_oracle_sql(
    threshold: int = 20,
    prefix_len: int = 32,
    table: str = "documents",
    incoming_pred: str = "doc_id % 3 = 1",
) -> str:
    return f"""
    WITH inc AS (
        SELECT text, min(doc_id) AS min_id FROM {table}
        WHERE ({incoming_pred}) AND text IS NOT NULL GROUP BY text
    ),
    i AS (SELECT min_id, text, substr(lower(text), 1, {prefix_len}) AS pfx FROM inc),
    cor AS (
        SELECT DISTINCT text, substr(lower(text), 1, {prefix_len}) AS pfx
        FROM {table} WHERE NOT ({incoming_pred}) AND text IS NOT NULL
    ),
    near_corpus AS (
        SELECT DISTINCT i.text FROM i JOIN cor ON i.pfx = cor.pfx
        WHERE levenshtein(i.text, cor.text) <= {threshold}
    ),
    batch_drop_texts AS (
        SELECT DISTINCT b.text FROM i a JOIN i b
        ON a.pfx = b.pfx AND a.min_id < b.min_id
        WHERE levenshtein(a.text, b.text) BETWEEN 1 AND {threshold}
    )
    SELECT d.doc_id, d.n_chars
    FROM (SELECT * FROM {table} WHERE {incoming_pred}) d
    JOIN inc ON d.text = inc.text
    WHERE d.doc_id = inc.min_id
      AND inc.text NOT IN (SELECT text FROM near_corpus)
      AND inc.text NOT IN (SELECT text FROM batch_drop_texts)
    """


def editdist_pairs_oracle_sql(
    threshold: int = 20,
    prefix_len: int = 32,
    block_cap: int = 1000,
    table: str = "documents",
) -> str:
    return f"""
    WITH c AS (SELECT text, min(doc_id) AS doc_id FROM {table} GROUP BY text),
    u AS (SELECT doc_id, text, substr(lower(text), 1, {prefix_len}) AS pfx,
                 CAST(floor(length(text) / {threshold}) AS BIGINT) AS lb
          FROM c),
    k AS (SELECT doc_id, text, pfx, lb FROM (
            SELECT *, row_number() OVER (
                PARTITION BY pfx, lb ORDER BY doc_id) AS rk
            FROM u
          ) WHERE rk <= {block_cap})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance
    FROM k a JOIN k b
      ON a.pfx = b.pfx AND b.lb BETWEEN a.lb - 1 AND a.lb + 1
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) BETWEEN 1 AND {threshold}
    """


def _minhash_permutations(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num_hashes)]


def shingle_hashes(shingles: Column) -> Column:
    """xxhash64 per shingle folded into [0, 2^31-1) — materialize this ONCE and
    derive all minhash permutations from it (hashing the strings per permutation
    would be num_hashes× redundant work)."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))


def minhash_signature_from_hashes(
    hashes: Column, num_hashes: int = 64, seed: int = 42
) -> Column:
    """MinHash signature (array<long>, length ``num_hashes``) from pre-computed
    shingle hashes. Permutations are fixed affine maps over a Mersenne-prime
    field, so signatures are deterministic everywhere. All JVM-side
    (transform/array_min) — no Python per row."""
    perms = _minhash_permutations(num_hashes, seed)
    mins = [
        F.array_min(F.transform(hashes, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE)))
        for a, b in perms
    ]
    return F.array(*mins)


def minhash_signature_udf(num_hashes: int = 64, seed: int = 42):
    """Vectorized twin of :func:`minhash_signature_from_hashes`: an
    Arrow-batched pandas UDF computing all permutations as one numpy
    ``(num_hashes, total_shingles)`` affine-mod matrix + ``minimum.reduceat``
    per document. Bit-identical to the JVM expression (pure int64 math;
    ``a*h+b < 2^62`` so nothing overflows) — asserted in tests — but ~5× faster:
    Spark's higher-order ``transform``/``array_min`` are interpreted per
    element, while this is one BLAS-shaped pass per Arrow batch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    perms = _minhash_permutations(num_hashes, seed)
    A = np.array([a for a, _ in perms], dtype=np.int64)[:, None]
    B = np.array([b for _, b in perms], dtype=np.int64)[:, None]

    @pandas_udf("array<long>")
    def sig(hashes: pd.Series) -> pd.Series:
        lens = np.fromiter((len(h) for h in hashes), dtype=np.int64, count=len(hashes))
        if lens.sum() == 0:
            return pd.Series([np.full(num_hashes, _MERSENNE - 1)] * len(hashes))
        flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in hashes])
        m = (A * flat[None, :] + B) % _MERSENNE
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        # reduceat misreads zero-length segments (repeated start index reads the
        # NEXT segment's first element) — compute on the nonempty ones and
        # backfill empties with the identity (never produced for real docs: the
        # caller filters docs with < n words before hashing).
        nonempty = lens > 0
        mins = np.minimum.reduceat(m, starts[nonempty], axis=1)
        out = np.full((len(lens), num_hashes), _MERSENNE - 1, dtype=np.int64)
        out[nonempty] = mins.T
        return pd.Series(list(out))

    return sig


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact re-verification — the scale
    path for fuzzy dedup (shingle → minhash → band → bucket-join, per the task
    brief). With r = num_hashes/bands rows per band, a pair with Jaccard j is
    caught with p = 1-(1-j^r)^bands (r=4, b=16: j=0.8 → p≈0.9996, j=0.9 → ~1).
    Candidates are re-checked with exact Jaccard, so precision is exact; output
    equals the exact pairwise result up to that tiny miss probability.
    """
    # shared machinery with the fuzzy-ingest index (_shingle_hashed /
    # _band_buckets — ONE definition of the short-doc predicate, the spread
    # repartition, and the band-bucket hash, so self-dedup buckets and the
    # standing ingest index can never drift apart). Both intermediates are
    # localCheckpoint-ed: the hashed shingle set feeds BOTH the signatures
    # and the exact re-verify (~8 bytes/shingle instead of the n-word
    # strings), and candidate generation is a SELF-join (without the
    # checkpoint the 64-permutation signature pipeline would run twice).
    hashed = _shingle_hashed(df, text_col, id_col, n).localCheckpoint()
    buckets = _band_buckets(hashed, id_col, num_hashes, bands, seed).localCheckpoint()
    a = buckets.alias("a")
    b = buckets.alias("b")
    # candidate pairs are bare (long, long) — dedup them BEFORE fetching shingle
    # arrays, so the distinct is a cheap hash-agg on 16 bytes/row instead of a
    # sort-agg dragging shingle arrays through the shuffle
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    pairs = cand.join(
        hashed.select(F.col(id_col).alias("doc_a"), F.col("hashes").alias("sh_a")), "doc_a"
    ).join(
        hashed.select(F.col(id_col).alias("doc_b"), F.col("hashes").alias("sh_b")), "doc_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return pairs.filter(jac >= threshold).select(
        "doc_a", "doc_b", det_round(jac, 4).alias("jaccard")
    )


def contamination_pairs(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_containment: float = 0.3,
    join_on_hash: bool = False,
) -> DataFrame:
    """Benchmark-decontamination check: for each training document, the
    fraction of its distinct word ``n``-gram shingles that also appear in some
    evaluation document (containment, not Jaccard — a 50-word eval prompt
    verbatim inside a 5000-word train doc is contamination even though Jaccard
    is tiny).

    Scale shape: the eval set (benchmarks) is always small relative to the
    corpus, so its shingle index is BROADCAST — the 100 TB train side never
    shuffles; per-doc shared counts come out of a map-side join + one grouped
    count. ``join_on_hash`` replaces shingle strings with 8-byte xxhash64 keys
    in the broadcast index and the join (smaller broadcast, cheaper compares);
    the ~2⁻⁶⁴-per-pair collision chance is fine for a scale sweep but the
    default stays exact so the oracle-gated query is collision-free. Output:
    (train_id, eval_id, shared_shingles, containment ≥ ``min_containment``).
    """
    grams = (
        (lambda t: F.transform(word_ngrams(t, n), lambda s: F.xxhash64(s)))
        if join_on_hash
        else (lambda t: word_ngrams(t, n))
    )
    spread = spread_for_compute(train)
    # NOTE the per-doc count deliberately re-derives the shingles (two gram
    # builds over the corpus). Both "single-scan" alternatives measure WORSE:
    # retaining the gram array beside the explode trips CollapseProject into
    # inlining the build per retained column (5× slower at sf0.1), and
    # localCheckpointing the exploded table materializes ~5× corpus bytes
    # (slower locally, prohibitive storage at scale). Recompute wins.
    tr = spread.select(
        F.col(id_col).alias("train_id"), F.explode(grams(F.col(text_col))).alias("shingle")
    )
    ev = eval_set.select(
        F.col(id_col).alias("eval_id"), F.explode(grams(F.col(text_col))).alias("shingle")
    )
    cnt = tr.groupBy("train_id").agg(F.count(F.lit(1)).alias("c"))
    shared = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    containment = F.col("shared_shingles") / F.col("c")
    return (
        shared.join(cnt, "train_id")
        .filter(containment >= min_containment)
        .select(
            "train_id",
            "eval_id",
            "shared_shingles",
            det_round(containment, 4).alias("containment"),
        )
    )


def simhash_values(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document, entirely JVM-side: fold token xxhash64 values
    into a per-bit ±1 vote accumulator (aggregate + zip_with + getbit), then pack
    the sign vector into a long via two's-complement weights. Zero Python in the
    data path — an earlier Arrow-batched pandas-UDF version spent ~5 s/50 k docs
    on worker+serialization overhead; this runs inside whole-stage codegen."""
    idx = F.sequence(F.lit(0), F.lit(bits - 1))

    def bitvec(h):
        return F.transform(idx, lambda i: F.getbit(h, i).cast("long") * 2 - 1)

    votes = F.aggregate(
        F.split(F.col(text_col), " "),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, t: F.zip_with(acc, bitvec(F.xxhash64(t)), lambda a, b: a + b),
    )
    # weight for bit i is 2^i, except bit 63 which is -2^63 (two's complement):
    # summing a subset of these is exactly the packed signed 64-bit value
    weights = F.array(
        *[F.lit((1 << i) if i < bits - 1 else -(1 << (bits - 1))).cast("long") for i in range(bits)]
    )
    packed = F.aggregate(
        F.zip_with(votes, weights, lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    # CPU-bound per-row work: spread across cores even on a single-file input
    spread = spread_for_compute(df)
    return spread.select(F.col(id_col), packed.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming. Candidate
    generation blocks on 16-bit quarters (a pair within distance 3 must agree on
    ≥1 of 4 quarters — pigeonhole), then exact Hamming via bit_count(xor).

    The signature table is ``localCheckpoint``-ed before the self-join: the
    broadcast side of the join prevents exchange reuse, so without it the
    CPU-heavy signature fold (and its janino compile) runs TWICE — once per
    join side. Checkpointed (id, simhash) is 16 bytes/doc, so the blocks stay
    tiny even at corpus scale."""
    sh = simhash_values(df, text_col, id_col).localCheckpoint()
    quarters = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(q).alias("q"),
                    F.shiftrightunsigned(F.col("simhash"), 16 * q).bitwiseAND(F.lit(0xFFFF)).alias(
                        "chunk"
                    ),
                )
                for q in range(4)
            ]
        )
    ).alias("qq")
    blocked = sh.select(F.col(id_col), F.col("simhash"), quarters).select(
        id_col, "simhash", "qq.q", "qq.chunk"
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_recall_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_hamming: int = 6,
    recall_tenths: int = 8,
) -> DataFrame:
    """SimHash made externally checkable (the ANN recall-report template):
    SimHash's token hash is engine-seeded, so its pair set can't be
    oracle-reproduced — but its RECALL against the exact Jaccard pair graph
    can be measured in-engine and pinned. Emits one row:
    ``n_exact_pairs`` (the exact ≥``threshold`` pair-graph size — the oracle
    computes it exactly) and ``recall_ok`` asserting SimHash candidates at
    ``max_hamming`` cover ≥ ``recall_tenths``/10 of those pairs (pure integer
    comparison; SimHash is deterministic for a fixed corpus, so the boolean
    cannot flap). Measured floors at hamming≤6: 0.93/0.92/0.88 across
    sf0.001/0.01/0.1 — pinned at 0.8. Empty pair graph passes vacuously
    (0 ≥ 0). Evidence cost is the exact pair graph itself — quadratic on hot
    shingles like its oracle; this is a VERIFICATION query (run at audit SF),
    not the scale path (that's minhash_lsh / simhash buckets)."""
    exact = ngram_jaccard_pairs(df, text_col=text_col, id_col=id_col, threshold=threshold).select(
        "doc_a", "doc_b"
    )
    cand = simhash_pairs(df, text_col=text_col, id_col=id_col, max_hamming=max_hamming).select(
        "doc_a", "doc_b"
    )
    verified = exact.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_ex = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact_pairs"))
    n_ver = verified.agg(F.count(F.lit(1)).cast("long").alias("_n_verified"))
    return n_ex.crossJoin(F.broadcast(n_ver)).select(
        "n_exact_pairs",
        (F.col("_n_verified") * F.lit(10) >= F.lit(int(recall_tenths)) * F.col("n_exact_pairs"))
        .alias("recall_ok"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 10,
    min_docs: int = 2,
    group_on_hash: bool = True,
) -> DataFrame:
    """Exact substring (token-span) duplicate detection: for each document,
    how many of its distinct ``span``-token windows also occur in at least
    ``min_docs`` documents corpus-wide (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the exact-substring
    complement to MinHash whole-document dedup).

    Plan shape: explode distinct spans, ONE shuffle on the span key for the
    corpus-wide occurrence count (window aggregate — no join back), then a
    per-doc grouped count. ``group_on_hash`` hashes each span to its 8-byte
    xxhash64 BEFORE the explode, so at 100 TB the shuffle carries fixed-width
    keys instead of the corpus ~``span`` times over (collisions are ~2⁻⁶⁴ per
    span pair and only perturb a count, never corrupt a row). Docs shorter
    than ``span`` tokens have no spans and are absent from the output (matches
    the oracle's empty range). The repartition before the span build is the
    same move as ``minhash_lsh_pairs``: a single parquet split would pin the
    whole O(tokens·span) string/hash projection on one task (measured 10× at
    sf0.1 on local[32]); on a many-split cluster read AQE makes it a near-no-op.
    """
    from pyspark.sql import Window

    spread = spread_for_compute(df)
    grams = word_ngrams(F.col(text_col), n=span)
    if group_on_hash:
        grams = F.transform(grams, lambda s: F.xxhash64(s))
    sp = spread.select(F.col(id_col), F.explode(grams).alias("span"))
    nd = F.count(F.lit(1)).over(Window.partitionBy(F.col("span")))
    per_doc = (
        sp.select(F.col(id_col), nd.alias("nd"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd") >= min_docs, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    return per_doc.select(
        id_col,
        "n_spans",
        "n_dup_spans",
        det_round(F.col("n_dup_spans") / F.col("n_spans"), 4).alias("dup_span_ratio"),
    )


def duplicate_spans_oracle_sql(
    span: int = 10, min_docs: int = 2, table: str = "documents"
) -> str:
    """DuckDB SQL computing the identical span statistics (kept adjacent so the
    two implementations stay in lockstep)."""
    from kda_flink_demo_spark.functions import det_round_sql

    ratio = det_round_sql("n_dup_spans / n_spans", 4)
    return f"""
    WITH sp AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(w) - {span} + 2),
                   i -> array_to_string(list_slice(w, i, i + {span} - 1), ' ')))) AS span
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {table})
    ),
    cnt AS (SELECT span, count(*) AS nd FROM sp GROUP BY 1),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN nd >= {min_docs} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans
        FROM sp JOIN cnt USING (span) GROUP BY 1
    )
    SELECT doc_id, n_spans, n_dup_spans, {ratio} AS dup_span_ratio FROM per
    """


def _span_occurrences(
    base: DataFrame, id_col: str, span: int
) -> DataFrame:
    """(id, pos, h): every ``span``-token window of every doc, hashed to an
    8-byte xxhash64 key (shared by the span-dedup and decontamination ops)."""
    return (
        base.filter(F.size("toks") >= span)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {span} + 1), "
                    f"i -> struct(i AS pos, "
                    f"xxhash64(concat_ws(' ', slice(toks, i, {span}))) AS h))"
                )
            ).alias("o"),
        )
        .select(id_col, "o.pos", "o.h")
    )


def _apply_span_mask(
    base: DataFrame, starts: DataFrame, id_col: str, span: int
) -> DataFrame:
    """Remove every token position covered by a span starting at any position
    in ``starts`` (per doc): JVM-side exists() mask over the start list —
    O(n_tokens · n_flagged_spans) per doc, no further shuffle."""
    keep_mask = (
        "filter(transform(toks, (t, i) -> struct(t AS t, i + 1 AS p)), "
        f"s -> NOT exists(starts, st -> s.p >= st AND s.p < st + {span}))"
    )
    return (
        base.join(starts, id_col, "left")
        .withColumn("starts", F.coalesce("starts", F.array().cast("array<int>")))
        .select(
            id_col,
            F.size("toks").cast("long").alias("n_tokens"),
            F.expr(f"transform({keep_mask}, s -> s.t)").alias("_kept"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias("n_removed"),
            F.concat_ws(" ", "_kept").alias("cleaned_text"),
        )
    )


def span_dedup_apply(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 10,
) -> DataFrame:
    """Exact-substring dedup APPLIED (Lee et al. 2021): remove long verbatim
    token spans from every document whose span already occurs in an EARLIER
    document (smaller id) — the cross-doc containment complement of
    :func:`duplicate_spans` (which only reports statistics). Whole-document
    dedup misses a boilerplate paragraph pasted into thousands of otherwise
    distinct pages; this removes the paragraph and keeps the pages.

    Rule (deterministic, order-free): a token position is removed iff it is
    covered by at least one ``span``-token window that also occurs in a
    smaller-id document. The earliest document containing a span keeps it;
    within-document repeats are not touched (they are ``duplicate_spans``'
    ``min_docs`` concern). Docs shorter than ``span`` tokens pass through
    whole. Returns ``(id, n_tokens, n_removed, cleaned_text)``.

    Scale shape: spans are hashed to 8-byte xxhash64 keys BEFORE the one
    shuffle (the per-span min-id window — same fixed-width-key move as
    ``duplicate_spans``; a collision is ~2⁻⁶⁴ per span pair and could only
    spuriously remove one span). Only CONTAMINATED occurrences — the
    duplicated tail, not the corpus — flow into the per-doc start-list
    aggregate, and the removal mask is a JVM-side ``exists`` over that
    (short) start list: O(n_tokens · n_dup_spans) per doc, never a
    corpus-wide position explode."""
    spread = spread_for_compute(df)
    base = spread.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    occ = _span_occurrences(base, id_col, span)
    from pyspark.sql import Window

    first_doc = F.min(id_col).over(Window.partitionBy("h"))
    contaminated = occ.select(
        F.col(id_col), F.col("pos"), first_doc.alias("_first")
    ).filter(F.col("_first") < F.col(id_col))
    starts = contaminated.groupBy(id_col).agg(F.collect_list("pos").alias("starts"))
    return _apply_span_mask(base, starts, id_col, span)


def span_dedup_probe(
    batch: DataFrame,
    index_hashes: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 10,
) -> DataFrame:
    """Per-batch exact-substring dedup against a STANDING span-hash index —
    the streaming/ingest twin of :func:`span_dedup_apply` (the
    ``ingest_dedup_fuzzy_probe`` shape): a token position in the incoming
    batch is removed iff covered by a ``span``-token window that occurs in
    the standing index (any earlier batch) OR in a smaller-id document of
    the SAME batch. With batches arriving in id order this equals
    :func:`span_dedup_apply` over everything ingested so far, restricted to
    the batch's docs — the batch-as-oracle equality the streaming tests pin.

    Scale shape: the standing index (corpus-sized) NEVER shuffles — the
    batch's distinct span hashes broadcast into a semi join against the
    index scan, and the (small) hit set broadcasts back to flag batch
    occurrences; within-batch firsts reuse the per-span min-id window on
    batch-sized data only."""
    from pyspark.sql import Window

    base = batch.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    occ = _span_occurrences(base, id_col, span)
    first_doc = F.min(id_col).over(Window.partitionBy("h"))
    within = occ.select(F.col(id_col), F.col("pos"), first_doc.alias("_first")).filter(
        F.col("_first") < F.col(id_col)
    )
    flagged = within.select(id_col, "pos")
    if index_hashes is not None:
        batch_h = occ.select("h").distinct()
        hits = index_hashes.join(F.broadcast(batch_h), "h", "left_semi").distinct()
        cross = occ.join(F.broadcast(hits), "h", "left_semi").select(id_col, "pos")
        flagged = flagged.unionByName(cross).distinct()
    starts = flagged.groupBy(id_col).agg(F.collect_list("pos").alias("starts"))
    return _apply_span_mask(base, starts, id_col, span)


def span_index_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", span: int = 10
) -> DataFrame:
    """A batch's contribution to the standing span index: its DISTINCT 8-byte
    span hashes (column ``h``) — what :func:`span_dedup_probe` probes."""
    base = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    return _span_occurrences(base, id_col, span).select("h").distinct()


def span_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 10,
) -> DataFrame:
    """Benchmark DECONTAMINATION at span granularity: cut from every training
    document each ``span``-token window that appears verbatim anywhere in the
    eval set — the removal complement of :func:`contamination_pairs` (which
    only reports doc-level containment), and the cross-SET sibling of
    :func:`span_dedup_apply`. Frontier pipelines decontaminate exactly this
    way: the train doc survives, the leaked benchmark passage does not.
    Returns ``(id, n_tokens, n_removed, cleaned_text)`` for every train doc.

    Scale shape: the eval side reduces to a DISTINCT 8-byte hashed-span index
    (eval sets are tiny next to the corpus) and is BROADCAST into a semi join
    against the train occurrences — the corpus is scanned, never shuffled for
    candidate detection; only flagged occurrences (the leaked tail) flow into
    the per-doc start-list aggregate, and the mask fold is the shared
    ``_apply_span_mask`` kernel."""
    spread = spread_for_compute(train)
    base = spread.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    eval_base = eval_set.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("toks")
    )
    eval_idx = _span_occurrences(eval_base, id_col, span).select("h").distinct()
    occ = _span_occurrences(base, id_col, span)
    flagged = occ.join(F.broadcast(eval_idx), "h", "left_semi")
    starts = flagged.groupBy(id_col).agg(F.collect_list("pos").alias("starts"))
    return _apply_span_mask(base, starts, id_col, span)


def span_decontaminate_oracle_sql(
    span: int = 10,
    train_filter: str = "doc_id % 10 <> 0",
    eval_filter: str = "doc_id % 10 = 0",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`span_decontaminate` on actual span strings."""
    return f"""
    WITH tb AS (SELECT doc_id, string_split(text, ' ') AS toks
                FROM {table} WHERE {train_filter}),
    eb AS (SELECT string_split(text, ' ') AS toks FROM {table} WHERE {eval_filter}),
    eidx AS (
        SELECT DISTINCT array_to_string(list_slice(toks, i, i + {span} - 1), ' ') AS s
        FROM eb, unnest(range(1, len(toks) - {span} + 2)) AS u(i)
        WHERE len(toks) >= {span}
    ),
    occ AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(toks, i, i + {span} - 1), ' ') AS s
        FROM tb, unnest(range(1, len(toks) - {span} + 2)) AS u(i)
        WHERE len(toks) >= {span}
    ),
    cont AS (
        SELECT o.doc_id, list(o.pos) AS starts
        FROM occ o JOIN eidx USING (s) GROUP BY 1
    ),
    masked AS (
        SELECT b.doc_id,
               CAST(len(b.toks) AS BIGINT) AS n_tokens,
               list_filter(
                   list_transform(range(1, len(b.toks) + 1),
                       i -> CASE WHEN len(list_filter(
                                     coalesce(c.starts, CAST([] AS BIGINT[])),
                                     st -> i >= st AND i < st + {span})) = 0
                            THEN b.toks[i] END),
                   t -> t IS NOT NULL) AS kept
        FROM tb b LEFT JOIN cont c USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
           coalesce(array_to_string(kept, ' '), '') AS cleaned_text
    FROM masked
    """


def span_dedup_apply_oracle_sql(span: int = 10, table: str = "documents") -> str:
    """DuckDB twin of :func:`span_dedup_apply` (kept adjacent, like
    ``duplicate_spans_oracle_sql``): same smaller-id-owns-the-span rule over
    actual span strings (no hashing needed at oracle scale)."""
    return f"""
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {table}),
    occ AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(toks, i, i + {span} - 1), ' ') AS s
        FROM base, unnest(range(1, len(toks) - {span} + 2)) AS u(i)
        WHERE len(toks) >= {span}
    ),
    firstd AS (SELECT s, min(doc_id) AS first_doc FROM occ GROUP BY 1),
    cont AS (
        SELECT o.doc_id, list(o.pos) AS starts
        FROM occ o JOIN firstd f ON o.s = f.s
        WHERE f.first_doc < o.doc_id GROUP BY 1
    ),
    masked AS (
        SELECT b.doc_id,
               CAST(len(b.toks) AS BIGINT) AS n_tokens,
               list_filter(
                   list_transform(range(1, len(b.toks) + 1),
                       i -> CASE WHEN len(list_filter(
                                     coalesce(c.starts, CAST([] AS BIGINT[])),
                                     st -> i >= st AND i < st + {span})) = 0
                            THEN b.toks[i] END),
                   t -> t IS NOT NULL) AS kept
        FROM base b LEFT JOIN cont c USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
           -- DuckDB's array_to_string([]) is NULL; Spark's concat_ws is '' —
           -- a fully-removed doc must read as empty text on both sides
           coalesce(array_to_string(kept, ' '), '') AS cleaned_text
    FROM masked
    """


def ingest_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest exact dedup: drop incoming documents whose text
    already exists in the standing corpus — the continuous-crawl shape, where
    today's batch (or stream) must not re-add what the corpus already holds.

    LEFT ANTI join on ``xxhash64(text)``: the corpus side reduces to a
    distinct 8-byte hash index (at 100 TB: ~8 bytes/doc, shuffled once or
    maintained as a bucketed table; never the corpus text), the incoming side
    is hashed map-side. NULL-text semantics mirror SQL equality (``c.text =
    i.text``): NULL never matches anything, so NULL-text incoming docs always
    survive — Spark's ``xxhash64(NULL)`` collapses to the seed constant and
    would otherwise silently equate all NULLs, so both sides exclude NULL
    text explicitly. The join works identically when ``new_df`` is a
    STREAMING DataFrame (stream-static anti join) — the batch-as-oracle
    streaming test replays the same frames through both paths. Within-stream
    duplicate arrivals are a separate concern (``dropDuplicates`` /
    ``dropDuplicatesWithinWatermark`` upstream); near-dup ingest extends the
    same shape by joining the incoming MinHash band buckets against the
    corpus's standing bucket table instead of the exact-hash index.
    """
    idx = (
        corpus_df.filter(F.col(text_col).isNotNull())
        .select(F.xxhash64(F.col(text_col)).alias("_corpus_h"))
        .distinct()
    )
    return new_df.join(
        idx,
        F.col(text_col).isNotNull() & (F.xxhash64(F.col(text_col)) == F.col("_corpus_h")),
        "left_anti",
    )


def ingest_dedup_fuzzy(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Incremental-ingest NEAR-dup dedup: drop incoming documents whose
    n-gram Jaccard vs ANY standing-corpus document is ≥ ``threshold`` (exact
    re-crawls are J=1 and drop too) — the fuzzy extension of
    :func:`ingest_dedup_against_corpus` promised in its docstring.

    Same banding machinery as :func:`minhash_lsh_pairs`, with candidates
    restricted to CROSS-side (incoming × corpus) bucket collisions; survivors
    come out of one anti join of the incoming batch against the matched-id
    set. Incoming docs with fewer than ``n`` words have no shingles, can
    never be near-dups, and always survive (both engines agree by
    construction). At 100 TB the corpus signature/bucket table is computed
    ONCE offline and reused across ingest batches (the standing index);
    here it is derived in-query so each bench run pays the honest full cost.
    Incoming-vs-incoming duplicates are out of scope (same contract as the
    exact ingest: handle within-batch dups upstream)."""
    buckets, hashes = build_fuzzy_ingest_index(
        corpus_df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
    )
    # hashes is already checkpointed by the index builder (one shingle pass);
    # the bucket table is checkpointed too — materialized it carries exact size
    # stats, so the probe's (band, bucket) join broadcasts it instead of
    # dragging the 64-permutation signature UDF into the join stage (measured
    # ~25% faster at sf0.1 than deriving buckets lazily inside the probe).
    return ingest_dedup_fuzzy_probe(
        new_df,
        buckets.localCheckpoint(),
        hashes,
        text_col=text_col,
        id_col=id_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        seed=seed,
    )


def _shingle_hashed(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, hashes): distinct hashed shingles per doc, short docs dropped,
    hashing spread across cores (single-file inputs otherwise pin it)."""
    spread = spread_for_compute(df.filter(F.size(F.split(F.col(text_col), " ")) >= n))
    return spread.select(
        F.col(id_col), shingle_hashes(word_ngrams(F.col(text_col), n)).alias("hashes")
    )


def _band_buckets(
    hashed: DataFrame, id_col: str, num_hashes: int, bands: int, seed: int
) -> DataFrame:
    """(id, band, bucket): LSH band buckets from per-doc shingle hashes."""
    r = num_hashes // bands
    sigs = hashed.select(
        F.col(id_col),
        minhash_signature_udf(num_hashes, seed)(F.col("hashes")).alias("sig"),
    )
    band_cols = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    # multi-arg xxhash64 over the r longs directly — no per-band
                    # long→string concat in the hot loop
                    F.xxhash64(*[F.col("sig")[i * r + j] for j in range(r)]).alias("bucket"),
                )
                for i in range(bands)
            ]
        )
    ).alias("bb")
    return sigs.select(F.col(id_col), band_cols).select(id_col, "bb.band", "bb.bucket")


def build_fuzzy_ingest_index(
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """The STANDING index for incremental near-dup ingest: ``(buckets,
    hashes)`` for the corpus — ``(id, band, bucket)`` plus ``(id, hashes)``.
    At 100 TB this pair is materialized ONCE (ideally ``write_bucketed`` on
    the bucket key, so probe joins read it co-partitioned with zero index-side
    exchange — asserted in tests/test_bucketed_join.py) and every ingest
    batch probes it via :func:`ingest_dedup_fuzzy_probe`.

    The shingle table is localCheckpoint-ed HERE so the bucket table derives
    from the materialized hashes — without it the corpus shingle pipeline runs
    twice (once under each returned branch)."""
    hashed = _shingle_hashed(corpus_df, text_col, id_col, n).localCheckpoint()
    return _band_buckets(hashed, id_col, num_hashes, bands, seed), hashed


def ingest_dedup_fuzzy_probe(
    new_df: DataFrame,
    corpus_buckets: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Probe an incoming batch against a prebuilt standing index (see
    :func:`build_fuzzy_ingest_index`): band the batch, join cross-side on
    (band, bucket), exactly re-verify candidates at Jaccard ≥ threshold, and
    anti-join the matches. Only the (small) incoming side is banded per
    batch — the corpus index is reused as-is."""
    new_hashed = _shingle_hashed(new_df, text_col, id_col, n).localCheckpoint()
    new_buckets = _band_buckets(new_hashed, id_col, num_hashes, bands, seed)
    i = new_buckets.alias("i")
    c = corpus_buckets.alias("c")
    cand = (
        i.join(
            c,
            (F.col("i.band") == F.col("c.band")) & (F.col("i.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col(f"i.{id_col}").alias("_new_id"), F.col(f"c.{id_col}").alias("_corpus_id")
        )
        .distinct()
    )
    verified = (
        cand.join(
            new_hashed.select(F.col(id_col).alias("_new_id"), F.col("hashes").alias("sh_i")),
            "_new_id",
        )
        .join(
            corpus_hashes.select(
                F.col(id_col).alias("_corpus_id"), F.col("hashes").alias("sh_c")
            ),
            "_corpus_id",
        )
    )
    inter = F.size(F.array_intersect("sh_i", "sh_c"))
    union = F.size("sh_i") + F.size("sh_c") - inter
    matched = (
        verified.filter(inter / union >= threshold)
        .select(F.col("_new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def _with_bloom_positions(
    df: DataFrame, text_col: str, m_bits: int, k: int, keep: list[Column]
) -> DataFrame:
    """``keep`` columns plus a ``pos`` array of k Bloom bit positions, double
    hashing (Kirsch–Mitzenmacher): pos_i = (h1 + i·h2_odd) mod m.

    The two seeded xxhash64 calls live in their OWN projection, multi-
    referenced from the next one — CollapseProject keeps non-cheap aliases
    with >1 use materialized, so the (long) text is hashed exactly twice per
    row. Inlining them into the array elements re-hashes the text 2k times —
    measured 3.6× slower on the build scan (the same CollapseProject trap as
    the shingle build above). Both hashes are reduced mod m BEFORE combining,
    so under ANSI mode no intermediate can overflow int64; the odd stride
    keeps the probe sequence a full cycle over the power-of-two m."""
    hashed = df.select(
        *keep,
        F.pmod(F.xxhash64(F.col(text_col), F.lit(1)), F.lit(m_bits)).alias("_bh1"),
        (F.pmod(F.xxhash64(F.col(text_col), F.lit(2)), F.lit(m_bits)) * 2 + 1).alias(
            "_bh2"
        ),
    )
    pos = F.array(
        *[
            F.pmod(F.col("_bh1") + F.lit(i) * F.col("_bh2"), F.lit(m_bits))
            for i in range(k)
        ]
    )
    carried = [F.col(c) for c in hashed.columns if c not in ("_bh1", "_bh2")]
    return hashed.select(*carried, pos.alias("pos_arr"))


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Distributed Bloom filter over ``xxhash64(text)``: a (word, bits) table
    of ``m_bits / 64`` LONG rows (~``m_bits/8`` bytes total) built in ONE
    map-side pass over the corpus.

    Bit positions use double hashing (see :func:`_bloom_positions`) — all JVM
    expressions. The k (word, mask) rows per doc are fixed-width (16 bytes);
    the ``bit_or`` aggregate combines map-side, so each scan task emits at
    most ``m_bits/64`` rows no matter how many documents it read. At 100 TB
    the standing index this produces is ~128 KB per 2^20 bits — small enough
    to broadcast to every ingest probe, where the exact-hash index of
    `ingest_dedup_against_corpus` would be ~8 B/doc (terabyte-scale keys at
    trillion-doc corpora).
    """
    return (
        _with_bloom_positions(df, text_col, m_bits, k, keep=[])
        .select(F.explode(F.col("pos_arr")).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def ingest_dedup_bloom(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Incremental-ingest exact dedup via a Bloom-filter pre-filter + exact
    verify — the zero-corpus-shuffle twin of
    :func:`ingest_dedup_against_corpus`, with IDENTICAL output (the Bloom
    filter admits false positives, which the exact verify removes, and no
    false negatives).

    Three stages, none of which shuffles the corpus:
    1. Build (or reuse) the broadcast-sized Bloom word table (`bloom_build` —
       map-side ``bit_or``, ≤ m/64 rows of state).
    2. Probe: each incoming doc checks its k bits against the BROADCAST word
       table (explode k fixed-width probes, broadcast hash join, ``bool_and``
       over the k hits). Docs missing any bit are definitively new.
    3. Verify: the surviving candidate hashes (tiny after stage 2 unless the
       batch truly is mostly re-crawls) are BROADCAST against a map-side
       semi-join over the corpus hash projection — the corpus is scanned, never
       shuffled, and only confirmed duplicates are dropped.

    At 100 TB the index is built once offline (like the standing
    fuzzy-ingest index) and stage 3's scan is the only per-batch corpus
    touch; a trillion-row corpus costs each ingest batch one broadcast and
    one scan-side filter instead of an 8-byte-per-doc shuffled hash index.

    The word table and the confirmed-duplicate set are eagerly
    ``localCheckpoint``-ed (same pattern as the fuzzy-ingest index): both are
    broadcast-sized, and truncating their lineage keeps the downstream joins'
    plans shallow — without it each nested BroadcastExchange re-inlines (and
    re-plans, re-codegens) the full upstream scan tree, which dominated wall
    clock on wide-union inputs. The checkpoint jobs ARE the pipeline's
    stages, so the honest cost is unchanged: one corpus scan for the filter,
    one incoming + one corpus scan for candidates→verify, one incoming scan
    for the final anti join.
    """
    corpus = corpus_df.filter(F.col(text_col).isNotNull())  # NULL ≠ NULL (SQL)
    bloom = bloom_build(
        corpus, text_col=text_col, m_bits=m_bits, k=k
    ).localCheckpoint()
    corpus_hashes = corpus.select(F.xxhash64(F.col(text_col)).alias("_h"))
    return ingest_dedup_bloom_probe(
        new_df, bloom, corpus_hashes, text_col=text_col, id_col=id_col,
        m_bits=m_bits, k=k,
    )


def ingest_dedup_bloom_probe(
    new_df: DataFrame,
    bloom: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Probe an incoming batch against a PREBUILT Bloom word table +
    standing corpus hash projection — the per-batch production path
    (`ingest_dedup_bloom` derives both in-query for the honest bench cost;
    a streaming ingest calls this from foreachBatch with the standing
    tables, mirroring `ingest_dedup_fuzzy_probe`). Per-batch probing is
    exact: each batch is checked independently against the same static
    index, so survivors across a replay equal the one-shot batch answer."""
    probes = _with_bloom_positions(
        new_df,
        text_col,
        m_bits,
        k,
        keep=[F.col(id_col), F.xxhash64(F.col(text_col)).alias("_h")],
    ).select(
        F.col(id_col),
        F.col("_h"),
        F.explode(F.col("pos_arr")).alias("pos"),
    ).select(
        id_col,
        "_h",
        F.shiftright(F.col("pos"), 6).alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").alias("mask"),
    )
    hits = probes.join(F.broadcast(bloom), "word", "left").select(
        id_col,
        "_h",
        (F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("mask")) != 0)).alias(
            "hit"
        ),
    )
    candidates = (
        hits.groupBy(id_col, "_h").agg(F.bool_and("hit").alias("maybe"))
        .filter(F.col("maybe"))
        .select(F.col("_h"))
        .distinct()
    )
    confirmed = (
        corpus_hashes.join(F.broadcast(candidates), "_h", "left_semi")
        .distinct()
        .localCheckpoint()
    )
    return new_df.join(
        F.broadcast(confirmed),
        # NULL text never matches (SQL equality semantics — see
        # ingest_dedup_against_corpus); without the guard xxhash64(NULL)'s
        # seed constant could spuriously equate NULL-text docs
        F.col(text_col).isNotNull() & (F.xxhash64(F.col(text_col)) == F.col("_h")),
        "left_anti",
    )
