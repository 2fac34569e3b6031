"""Mergeable sketch state — the approximate twin of
``aggregates.agg_state/merge_agg_states`` and the brief's "novel sketch"
custom-operator category, on Spark's built-in Apache DataSketches bindings.

Why sketches at 100 TB: exact distinct counts need a second shuffle on
(group, value) and exact set intersections need a semi join of the two
member lists; sketch states are constant-size binaries that merge
ASSOCIATIVELY, so daily slices aggregate once, persist a few KB per group,
and any union/rollup of history is a cheap state merge — never a rescan.

Determinism (verified by probe, pinned by tests): HLL (register-max union)
and Theta (k-smallest-hashes union) states are partition- and
merge-order-independent — merged slice states yield BIT-IDENTICAL estimates
to a one-pass sketch. KLL quantile sketches use RANDOMIZED compaction and
are NOT run-to-run deterministic; they are therefore kept out of the
registry contract (which the determinism probe replays) and exposed only
through :func:`kll_quantile_state`, tolerance-tested locally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kda_flink_demo_spark.functions import det_round


def sketch_state(
    df: DataFrame,
    key_col: str = "event_type",
    id_col: str = "user_id",
) -> DataFrame:
    """Per-key mergeable sketch state: an HLL sketch (distinct ids) and a
    Theta sketch (set membership, enabling union/intersection/difference
    ACROSS keys or slices) — one partial→final aggregate, a few KB per key."""
    return df.groupBy(key_col).agg(
        F.hll_sketch_agg(id_col).alias("hll_state"),
        F.theta_sketch_agg(id_col).alias("theta_state"),
    )


def merge_sketch_states(*states: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Combine per-slice sketch states into the state of the union of their
    inputs — same incremental-ETL shape as ``merge_agg_states``; the shuffle
    carries one constant-size binary per (slice, key). ``key_col`` must match
    the one the states were built with."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy(key_col).agg(
        F.hll_union_agg("hll_state").alias("hll_state"),
        F.theta_union_agg("theta_state").alias("theta_state"),
    )


def sketch_report(
    merged: DataFrame,
    key_col: str = "event_type",
    anchor_key: str = "purchase",
) -> DataFrame:
    """Readout: per key, the HLL distinct estimate and the Theta-estimated
    overlap with ``anchor_key``'s id set (e.g. "users of this event type who
    also purchased") — the cross-set intersection that exactly would need a
    semi join of member lists, here a scalar operation on two broadcast-sized
    sketch binaries.

    The anchor is attached with a LEFT join on a constant key (not a
    crossJoin): if ``anchor_key`` is absent from the merged states the per-key
    HLL estimates must still come out, with a 0 overlap — a crossJoin against
    the then-empty anchor side would silently zero-row the whole report."""
    anchor = merged.filter(F.col(key_col) == anchor_key).select(
        F.lit(1).alias("_j"), F.col("theta_state").alias("_anchor_theta")
    )
    return (
        merged.withColumn("_j", F.lit(1))
        .join(F.broadcast(anchor), "_j", "left")
        .select(
            key_col,
            F.hll_sketch_estimate("hll_state").alias("distinct_ids"),
            F.coalesce(
                F.round(
                    F.theta_sketch_estimate(
                        F.theta_intersection("theta_state", "_anchor_theta")
                    )
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("ids_also_in_anchor"),
        )
    )


def kll_quantile_state(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-key KLL quantile sketch state (mergeable with
    ``kll_sketch_merge_double``). Randomized compaction → NOT deterministic;
    local tests bound its rank error vs exact percentiles instead of pinning
    values. Kept out of the registry contract."""
    return df.groupBy(key_col).agg(
        F.kll_sketch_agg_double(value_col).alias("kll_state")
    )


def quantile_sketch_report(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    accuracy: int = 1000,
) -> DataFrame:
    """Hash-checkable quantile-sketch readout (the ``approx_distinct_report``
    template applied to the quantile family): per key, the EXACT p50/p95/p99
    (oracle-verifiable, interpolated — matches DuckDB ``quantile_cont``) plus
    per-percentile booleans asserting the Greenwald–Khanna
    ``percentile_approx`` estimate lands inside the exact quantile envelope
    ``[Q(p − ε), Q(p + ε)]`` with ε = 2/accuracy — twice GK's worst-case rank
    error of 1/accuracy, so the boolean is guaranteed by the algorithm's
    published bound and cannot flap. GK summaries are deterministic (no
    randomized compaction, unlike KLL — see ``kll_quantile_state``'s
    exclusion), so this IS registry-safe.

    The raw approximate values are deliberately NOT emitted: they are
    engine-specific (no oracle can recompute them), which is exactly what
    made ``approx_distinct_users`` rows-only for five rounds. Evidence
    columns + pinned booleans keep the row hash-checkable.

    The accuracy check verifies GK's ACTUAL published guarantee — a RANK
    bound, not a value bound: the returned value's rank interval
    [count(x < v), count(x ≤ v)] must overlap the target rank p·n within
    2n/accuracy + 1 ranks (twice the worst-case ⌈n/accuracy⌉ plus one rank
    of discrete slack, so the boolean cannot flap at any n — a value-
    envelope formulation fails at small n where ±ε spans less than one
    order statistic). The rank of the approx value is computed by a second
    conditional-count pass joined on the broadcast per-key report.

    Scale shape: the sketch itself is ONE partial→final aggregate on the
    key; GK state is O(accuracy · log n) per key and merges associatively,
    so at 100 TB the shuffle carries a bounded summary per (task, key) —
    the same constant-state story as the HLL/Theta states above, for rank
    statistics. The exact companions and the rank-verification rescan are
    the evidence cost (at true 100 TB one ships only the sketch —
    documented tradeoff, same as distinct_users_per_type vs
    approx_distinct_users); the rescan joins against the BROADCAST key-row
    report, no extra shuffle of the data side.
    """
    ps = {"p50": 0.50, "p95": 0.95, "p99": 0.99}
    pcts = ", ".join(str(p) for p in ps.values())
    base = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        # the rank targets must count the values the percentiles actually
        # rank: percentile/percentile_approx and the _lt/_le passes all skip
        # NULLs, so a count(*)-based target would push the booleans FALSE on
        # any NULL-bearing key (review finding; `n` stays count(*) in the
        # output — the oracle emits count(*) too)
        F.count(F.col(value_col)).alias("_nn"),
        *[
            det_round(F.expr(f"percentile({value_col}, {p})"), 6).alias(
                f"{name}_exact"
            )
            for name, p in ps.items()
        ],
        F.expr(f"percentile_approx({value_col}, array({pcts}), {accuracy})").alias(
            "_ap"
        ),
    )
    # base feeds BOTH the broadcast rank pass and the final join — without a
    # materialization point the corpus-wide percentile aggregate runs twice
    # (review finding; the cms_heavy_hitters_report convention)
    base = base.localCheckpoint()
    v = F.col(value_col)
    rank_aggs = []
    for i, name in enumerate(ps):
        ap = F.element_at("_ap", i + 1)
        rank_aggs.append(
            F.sum((v < ap).cast("long")).alias(f"_lt_{name}")
        )
        rank_aggs.append(
            F.sum((v <= ap).cast("long")).alias(f"_le_{name}")
        )
    ranks = (
        df.join(F.broadcast(base.select(key_col, "_ap")), key_col)
        .groupBy(key_col)
        .agg(*rank_aggs)
    )
    slack = 2.0 / accuracy
    cols = [F.col(key_col), F.col("n")]
    for name, p in ps.items():
        target = F.lit(p) * F.col("_nn")
        tol = F.lit(slack) * F.col("_nn") + F.lit(1.0)
        cols.append(F.col(f"{name}_exact"))
        cols.append(
            (
                (F.col(f"_lt_{name}") - tol <= target)
                & (target <= F.col(f"_le_{name}") + tol)
            ).alias(f"{name}_ok")
        )
    return base.join(ranks, key_col).select(*cols)


def _cms_bucket(item: F.Column, d: int, width: int) -> F.Column:
    """Row d's bucket for ``item``: the first 15 hex chars of
    ``md5(d || ':' || item)`` as a 60-bit integer, mod ``width`` — the same
    cross-engine md5-uniform idiom as `llm/sampling.py` (DuckDB recomputes it
    bit-identically, unlike xxhash64/murmur which only Spark has)."""
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{d}:"), item)), 1, 15), 16, 10
    ).cast("long")
    return (u % width).alias("bucket")


def _with_cms_cells(df: DataFrame, item_col: str, depth: int, width: int) -> DataFrame:
    """Expand each row into its ``depth`` (d, bucket) cell coordinates — the
    ONE definition of the cell assignment that the sketch build, the report's
    cell table, and the probe side all share (three hand-copies would let the
    sketch and its probes silently disagree if the bucket idiom ever changed
    — review finding)."""
    return (
        df.select(
            "*",
            F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("d"),
            F.array(
                *[_cms_bucket(F.col(item_col), d, width) for d in range(depth)]
            ).alias("_bs"),
        )
        .withColumn("bucket", F.element_at("_bs", F.col("d") + 1))
        .drop("_bs")
    )


def cms_state(
    df: DataFrame,
    item_col: str = "term",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-min sketch state over an item stream: ``depth × width`` counter
    cells ``(d, bucket, cnt)`` — the mergeable FREQUENCY twin of the HLL/Theta
    distinct states above. Cells are SUMS, so the merge is commutative and
    associative addition: slice states fold in any order to bit-identical
    counters (unlike Misra–Gries summaries, whose merge is order-sensitive —
    the reason CMS is the registry-safe choice here).

    Scale shape: ONE partial→final aggregate on the item key collapses the
    stream to its vocabulary, then the ``depth``-way explode runs over
    distinct items only (vocab-bounded, not stream-bounded) into a second
    aggregate whose key space is the constant ``depth × width``. At 100 TB
    the shuffled state per task is ≤ depth·width longs — a few KB —
    regardless of corpus size."""
    counts = df.groupBy(F.col(item_col).alias("_item")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    return (
        _with_cms_cells(counts, "_item", depth, width)
        .groupBy("d", "bucket")
        .agg(F.sum("_cnt").alias("cnt"))
    )


def merge_cms_states(*states: DataFrame) -> DataFrame:
    """Fold any number of slice CMS states into one: cell-wise SUM. Addition
    commutes, so any merge order (and any replay of the SAME slice exactly
    once) yields bit-identical counters to the one-pass sketch — pinned by
    tests/test_round7_ops.py."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_heavy_hitters_report(
    df: DataFrame,
    text_col: str = "text",
    k: int = 25,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Hash-checkable heavy-hitters readout (the ``quantile_sketch_report``
    template applied to the frequency family), mining the corpus's most
    frequent word TRIGRAMS — the boilerplate-phrase detection pass of a
    training-data pipeline (hot shingles are exactly what span-dedup later
    removes). The fixture corpus has ~16k distinct trigrams vs only 31
    distinct words, so the phrase stream is the one where a 512-bucket
    sketch genuinely collides and the report shows real overcounts.

    Per top-``k`` phrase by EXACT count: the count-min estimate, the integer
    overcount ``err = cms_est − exact_cnt`` (CMS never undercounts — it is
    the min over rows of non-negative collision sums), and a boolean pinning
    the estimate inside the classic εN guarantee with ε = e/width. Because
    the bucket hash is the cross-engine md5 idiom, the ESTIMATES themselves
    are oracle-recomputable integers — the whole row hash-checks, not just
    pinned booleans (the rare sketch that is directly SQL-reproducible,
    unlike ``approx_count_distinct``).

    Scale shape: the phrase aggregate is the one corpus-sized shuffle
    (phrase-keyed, map-side combined); the sketch build rides the SAME
    counts table (vocab-bounded explode → depth·width cells); probes are the
    TakeOrdered top-k joined against the BROADCAST cell table (≤ depth·width
    rows), so the report adds zero corpus-sized work beyond the counts pass
    the exact companions need anyway. At true 100 TB one keeps only the
    constant-size cell table per slice (`cms_state` / `merge_cms_states`)
    and probes candidates against the merged sketch — the exact companions
    here are the evidence cost, same tradeoff as quantile_sketch_report.
    The trigram explode is CPU-heavy per row, so the input spreads across
    cores first — the dedup.py shingle-explode rule (4.6 s → 1.2 s at
    sf0.1 on the single-file fixture)."""
    from kda_flink_demo_spark.functions import spread_for_compute
    from kda_flink_demo_spark.operators.llm.dedup import word_ngrams_with_multiplicity

    df = spread_for_compute(df)
    # multiplicity-preserving trigram stream via the shared arrays_zip builder
    # (optimization r13: the old element_at-per-position lambda re-inlined the
    # split 3× per gram — same fix and same output order as word_ngrams)
    grams = word_ngrams_with_multiplicity(F.col(text_col), 3)
    terms = df.select(F.explode(grams).alias("term")).filter(F.col("term") != "")
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    # counts feeds N, cells, AND probes. A narrow_checkpoint here was tried
    # (r14) and REJECTED by ABAB probe: it cut 8 jobs to 6 but the coalesce
    # serialized the depth-way md5 cell pass onto one core (execute 0.60 ->
    # 0.91 s) - the downstream work per vocab row is CPU (4 md5s), not
    # per-task overhead, so this table must keep its width.
    counts = counts.localCheckpoint()
    # N rides the cells table (optimization r14): every term contributes its
    # exact count to EXACTLY ONE bucket per hash row d, so the per-d total
    # Σ_bucket cnt(d, ·) equals Σ exact_cnt = N — an exact integer identity.
    # A window total per d inside the (depth·width)-row broadcast subtree
    # replaces the separate counts-wide n_total aggregate and its
    # crossJoin(broadcast) (one fewer subtree execution + broadcast job).
    from pyspark.sql import Window as _W

    cells = (
        _with_cms_cells(counts, "term", depth, width)
        .groupBy("d", "bucket")
        .agg(F.sum("exact_cnt").alias("cnt"))
        .withColumn("_n", F.sum("cnt").over(_W.partitionBy("d")))
    )
    from pyspark.sql import Window

    probes = (
        counts.orderBy(F.col("exact_cnt").desc(), "term")
        .limit(k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("exact_cnt").desc(), "term"))
            .cast("long"),
        )
    )
    probed = _with_cms_cells(probes, "term", depth, width)
    est = (
        probed.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("term", "rank", "exact_cnt")
        # every joined cell row carries the same _n (= N for its d, and all
        # per-d totals equal N), so min() reads it back deterministically
        .agg(F.min("cnt").alias("cms_est"), F.min("_n").alias("_n"))
    )
    # ε = e/width; integerized as err · width ≤ 3 · N (3 > e, so the boolean
    # is implied by the published bound whenever the bound holds — and being
    # an observed integer fact, the oracle recomputes it exactly either way)
    return (
        est
        .select(
            "term",
            "rank",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("err"),
            ((F.col("cms_est") - F.col("exact_cnt")) * width <= 3 * F.col("_n")).alias(
                "within_bound"
            ),
        )
        .orderBy("rank")
    )


def _cms_bucket_sql(term_expr: str, d_expr: str, width: int) -> str:
    return (
        f"CAST(concat('0x', substring(md5(concat(CAST({d_expr} AS VARCHAR), "
        f"':', {term_expr})), 1, 15)) AS BIGINT) % {width}"
    )


def cms_heavy_hitters_oracle_sql(
    k: int = 25, depth: int = 4, width: int = 512, table: str = "documents"
) -> str:
    cell_bucket = _cms_bucket_sql("term", "d", width)
    probe_bucket = _cms_bucket_sql("p.term", "dd.d", width)
    return f"""
    WITH terms AS (
        SELECT unnest(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS term
        FROM (SELECT string_split(text, ' ') AS w FROM {table})
    ),
    counts AS (
        SELECT term, count(*) AS exact_cnt FROM terms WHERE term <> '' GROUP BY 1
    ),
    n_total AS (SELECT sum(exact_cnt) AS n FROM counts),
    cells AS (
        SELECT d, {cell_bucket} AS bucket, sum(exact_cnt) AS cnt
        FROM counts CROSS JOIN (SELECT unnest(range({depth})) AS d)
        GROUP BY 1, 2
    ),
    probes AS (
        SELECT term, CAST(row_number() OVER (ORDER BY exact_cnt DESC, term) AS BIGINT) AS rank,
               exact_cnt
        FROM counts ORDER BY exact_cnt DESC, term LIMIT {k}
    ),
    est AS (
        SELECT p.term, p.rank, p.exact_cnt, min(c.cnt) AS cms_est
        FROM probes p CROSS JOIN (SELECT unnest(range({depth})) AS d) dd
        JOIN cells c ON c.d = dd.d AND c.bucket = ({probe_bucket})
        GROUP BY 1, 2, 3
    )
    SELECT term, rank, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS err,
           (cms_est - exact_cnt) * {width} <= 3 * (SELECT n FROM n_total) AS within_bound
    FROM est ORDER BY rank
    """


def update_sketch_store(
    batch_df: DataFrame,
    store_path: str,
    key_col: str = "event_type",
    id_col: str = "user_id",
) -> None:
    """Streaming materialized sketch view: fold one micro-batch into a
    standing per-key sketch table (parquet at ``store_path``) — read the
    stored binaries, union-merge with the batch's fresh state, overwrite.

    Because HLL and Theta unions are associative AND commutative, the stored
    state after any replay order equals the one-pass sketch of all data seen
    — the streaming twin of `merge_sketch_states`, with the same guarantee
    the batch test pins bit-exactly. The store is a few KB per key, so the
    read-merge-overwrite cycle costs O(keys), independent of history size.
    Call from ``foreachBatch``; Spark's checkpoint replays a failed batch,
    and re-merging the same ids is IDEMPOTENT for both sketch types
    (register max / hash-set union), so a replayed batch can't corrupt the
    state.

    Crash safety (every window covered, unit-tested by fault injection) comes
    from the shared standing-store primitives —
    ``streaming/store.py``'s _SUCCESS-validated probe, ``.next`` recovery,
    and delete+rename promote; see that module's contract docstring.
    """
    from kda_flink_demo_spark.io.sources import read_parquet
    from kda_flink_demo_spark.streaming.store import promote, recover_standing

    spark = batch_df.sparkSession
    fresh = sketch_state(batch_df, key_col=key_col, id_col=id_col)
    if recover_standing(spark, store_path):
        standing = read_parquet(spark, store_path.rstrip("/"))
        merged = merge_sketch_states(standing, fresh, key_col=key_col)
    else:  # first batch: no store yet
        merged = fresh
    promote(merged, store_path)
