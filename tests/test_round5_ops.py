"""Bloom-filter ingest dedup, corpus snapshot diff, multi-resolution rollup,
trailing z-score anomaly detection, SCD2 history reconstruction, BPE pair
counts. The oracle sweep (test_registry_oracle) checks the registered queries
end-to-end; these tests pin the operator-level contracts and edge cases the
fixture can't hit."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from kda_flink_demo_spark.io.sources import load_table
from kda_flink_demo_spark.operators.aggregates import multi_resolution_rollup
from kda_flink_demo_spark.operators.llm import dedup, versioning
from kda_flink_demo_spark.operators.over_windows import anomaly_zscore
from tests.conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


# ---------------------------------------------------------------- bloom dedup


def test_bloom_matches_exact_ingest_dedup_even_with_tiny_filter(spark):
    """With m_bits=256 over 400 corpus docs the filter is saturated — nearly
    every incoming doc is a Bloom candidate (false positives guaranteed) —
    yet the exact verify must reduce the output to EXACTLY the anti-join
    answer. No false negatives is structural (a corpus doc's own bits are
    always set)."""
    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    incoming = docs.filter(F.col("doc_id") >= 400).unionByName(
        docs.filter(F.col("doc_id") < 50).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10000)
        )
    )
    exact = {
        r.doc_id
        for r in dedup.ingest_dedup_against_corpus(incoming, corpus)
        .select("doc_id")
        .collect()
    }
    bloom = {
        r.doc_id
        for r in dedup.ingest_dedup_bloom(incoming, corpus, m_bits=256, k=2)
        .select("doc_id")
        .collect()
    }
    assert bloom == exact


def test_bloom_word_table_is_bounded_and_probe_joins_broadcast(spark):
    docs = load_table(spark, SF_DIR, "documents")
    table = dedup.bloom_build(docs, m_bits=1 << 12, k=4)
    assert table.count() <= (1 << 12) // 64
    # every mask bit for a corpus doc must be present (no false negatives)
    plan = (
        dedup.ingest_dedup_bloom(docs.limit(10), docs, m_bits=1 << 12, k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 1, plan
    # the corpus side is never shuffled by a join: the only exchanges belong
    # to the bloom build's bit_or aggregate and the candidate distinct (both
    # over tiny fixed-width keys), and every join is broadcast
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_bloom_empty_corpus_keeps_all_incoming(spark):
    incoming = _docs(spark, [(1, "a b c"), (2, "d e f")])
    corpus = incoming.filter(F.lit(False))
    out = dedup.ingest_dedup_bloom(incoming, corpus)
    assert out.count() == 2


# ------------------------------------------------------------- snapshot diff


def test_snapshot_diff_statuses(spark):
    old = _docs(spark, [(1, "a"), (2, "b"), (3, "c")])
    new = _docs(spark, [(2, "b"), (3, "c2"), (4, "d")])
    got = {r.doc_id: r.status for r in versioning.snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_snapshot_diff_identical_snapshots_is_empty(spark):
    snap = _docs(spark, [(1, "a"), (2, "b")])
    assert versioning.snapshot_diff(snap, snap).count() == 0


def test_snapshot_diff_never_shuffles_text(spark):
    """Both sides must be projected to (id, hash) BEFORE the join — the plan
    can't carry the text column into any exchange."""
    docs = load_table(spark, SF_DIR, "documents")
    df = versioning.snapshot_diff(docs, docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


# ------------------------------------------------------- multi-res rollup


def test_rollup_levels_conserve_totals(spark):
    ev = load_table(spark, SF_DIR, "events")
    out = multi_resolution_rollup(ev).collect()
    total = ev.count()
    by_level = {}
    for r in out:
        by_level.setdefault(r.level, 0)
        by_level[r.level] += r.cnt
    # every resolution partitions the same events
    assert by_level == {0: total, 1: total, 3: total, 7: total}
    grand = [r for r in out if r.level == 7]
    assert len(grand) == 1 and grand[0].day is None and grand[0].minute is None


def test_rollup_is_single_expand_aggregate(spark):
    ev = load_table(spark, SF_DIR, "events")
    plan = multi_resolution_rollup(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial → final


# ---------------------------------------------------------- anomaly z-score


def test_anomaly_zscore_flags_planted_spike(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=i,
            event_type="m",
            ts=base + dt.timedelta(minutes=i),
            value=10.0 + (i % 7) * 0.1,  # tight band, nonzero variance
        )
        for i in range(60)
    ]
    rows[40] = Row(event_id=40, event_type="m", ts=base + dt.timedelta(minutes=40), value=500.0)
    df = spark.createDataFrame(rows)
    out = anomaly_zscore(df).collect()
    assert [r.event_id for r in out] == [40]
    assert out[0].zscore > 3


def test_anomaly_zscore_cold_start_never_flags(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # 10 rows (< min_history) incl. a wild outlier: nothing may be flagged
    rows = [
        Row(event_id=i, event_type="m", ts=base + dt.timedelta(minutes=i), value=float(i))
        for i in range(9)
    ] + [Row(event_id=9, event_type="m", ts=base + dt.timedelta(minutes=9), value=9e9)]
    assert anomaly_zscore(spark.createDataFrame(rows)).count() == 0


def test_anomaly_zscore_constant_history_guard(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # constant history → stddev 0 → the spike row has no defined z; guarded out
    rows = [
        Row(event_id=i, event_type="m", ts=base + dt.timedelta(minutes=i), value=5.0)
        for i in range(30)
    ] + [Row(event_id=30, event_type="m", ts=base + dt.timedelta(minutes=30), value=100.0)]
    assert anomaly_zscore(spark.createDataFrame(rows)).count() == 0


# ------------------------------------------------------------- SCD2 history


def test_scd2_compresses_runs_and_closes_intervals(spark):
    import datetime as dt

    from kda_flink_demo_spark.operators.cdc import scd2_history

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: A A B A  -> three versions (AA compressed)
        Row(user_id=1, v="A", ts=base + dt.timedelta(minutes=0), event_id=0),
        Row(user_id=1, v="A", ts=base + dt.timedelta(minutes=1), event_id=1),
        Row(user_id=1, v="B", ts=base + dt.timedelta(minutes=2), event_id=2),
        Row(user_id=1, v="A", ts=base + dt.timedelta(minutes=3), event_id=3),
        # user 2: NULL NULL C -> NULL run compressed null-safely
        Row(user_id=2, v=None, ts=base + dt.timedelta(minutes=0), event_id=4),
        Row(user_id=2, v=None, ts=base + dt.timedelta(minutes=1), event_id=5),
        Row(user_id=2, v="C", ts=base + dt.timedelta(minutes=2), event_id=6),
    ]
    out = scd2_history(
        spark.createDataFrame(rows),
        keys=["user_id"],
        attr_cols=["v"],
        ts_col="ts",
        tie_col="event_id",
    ).collect()
    hist = {
        (r.user_id, r.valid_from.minute): (
            r.v,
            r.valid_to.minute if r.valid_to else None,
            r.is_current,
        )
        for r in out
    }
    assert hist == {
        (1, 0): ("A", 2, False),
        (1, 2): ("B", 3, False),
        (1, 3): ("A", None, True),
        (2, 0): (None, 2, False),
        (2, 2): ("C", None, True),
    }
    # intervals tile each key's span: every valid_to equals the next valid_from
    assert sum(1 for r in out if r.is_current) == 2  # one open row per key


# --------------------------------------------------------------- BPE pairs


def test_bpe_pair_counts_known_corpus(spark):
    from kda_flink_demo_spark.operators.llm import text as text_mod

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="aba aba ab"), Row(doc_id=1, text="x aba")]
    )
    got = {r.pair: (r.pair_count, r.pair_rank) for r in
           text_mod.bpe_pair_counts(docs, k=10).collect()}
    # vocab: aba×3, ab×1; single-char word x excluded
    # pairs: ab -> 3 (from aba) + 1 (from ab) = 4; ba -> 3
    assert got == {"ab": (4, 1), "ba": (3, 2)}


# ------------------------------------------------------------ z-order layout


def test_zorder_bit_interleave_known_values(spark):
    from kda_flink_demo_spark.io.sinks import zorder_layout

    df = spark.createDataFrame(
        [Row(x=0, y=0), Row(x=1, y=0), Row(x=0, y=1), Row(x=3, y=5), Row(x=1023, y=1023)]
    )
    out = {(r.x, r.y): r.zvalue for r in
           zorder_layout(df, F.col("x"), F.col("y")).collect()}
    # interleave(x@even, y@odd): (3,5)=0b11,0b101 -> 0b100111=39
    assert out == {(0, 0): 0, (1, 0): 1, (0, 1): 2, (3, 5): 39, (1023, 1023): (1 << 20) - 1}


def test_zorder_shards_are_local_in_both_dimensions(spark):
    """The point of z-order: per-shard min/max spans are narrow on BOTH
    interleaved dimensions (footer-stats pruning works for predicates on
    either), where insertion-order sharding leaves ~full-range spans."""
    from kda_flink_demo_spark.io.sinks import zorder_layout

    li = load_table(spark, SF_DIR, "lineitem")
    x, y = F.col("l_partkey"), F.col("l_suppkey")
    z = zorder_layout(li, x, y, bits=10, shard_bits=4).select(
        x.alias("x"), y.alias("y"), "shard"
    )
    spans = z.groupBy("shard").agg(
        (F.max("x") - F.min("x")).alias("sx"), (F.max("y") - F.min("y")).alias("sy")
    ).collect()
    stats = li.agg(
        (F.max(x) - F.min(x)).alias("rx"), (F.max(y) - F.min(y)).alias("ry")
    ).collect()[0]
    avg_sx = sum(r.sx for r in spans) / len(spans)
    avg_sy = sum(r.sy for r in spans) / len(spans)
    # 16 shards = top 4 z bits = a 4x4 grid: each shard spans ~1/4 of each axis
    assert avg_sx <= 0.35 * stats.rx and avg_sy <= 0.35 * stats.ry, (
        avg_sx, avg_sy, stats.rx, stats.ry,
    )

    linear = li.select(
        x.alias("x"), y.alias("y"), (F.col("l_orderkey") % 16).alias("shard")
    )
    lspans = linear.groupBy("shard").agg(
        (F.max("x") - F.min("x")).alias("sx"), (F.max("y") - F.min("y")).alias("sy")
    ).collect()
    lx = sum(r.sx for r in lspans) / len(lspans)
    ly = sum(r.sy for r in lspans) / len(lspans)
    assert lx > 2 * avg_sx and ly > 2 * avg_sy, (lx, ly, avg_sx, avg_sy)


# -------------------------------------------------- incremental agg merge


def test_agg_merge_is_order_insensitive_and_empty_is_identity(spark):
    from kda_flink_demo_spark.operators.aggregates import agg_state, merge_agg_states

    ev = load_table(spark, SF_DIR, "events")
    a = agg_state(ev.filter(F.col("event_id") % 2 == 0))
    b = agg_state(ev.filter(F.col("event_id") % 2 == 1))
    empty = agg_state(ev.filter(F.lit(False)))

    def canon(df):
        return sorted(
            (r.event_type, r.minute, r.cnt, round(r.sum_value, 4), r.min_value, r.max_value)
            for r in df.collect()
        )

    ab = canon(merge_agg_states(a, b))
    ba = canon(merge_agg_states(b, a))
    with_empty = canon(merge_agg_states(a, b, empty))
    assert ab == ba == with_empty
    # and merge ≡ recompute
    assert ab == canon(agg_state(ev))


# --------------------------------------- prefix-sum boundary-consistency


def test_prefix_sum_family_deterministic_and_correct_at_sampling_scale(spark):
    """Regression for a silent-corruption bug the sf0.1 driver-sim spot check
    caught: ``_global_prefix_sum``'s range exchange was materialized once per
    consumer (totals + join), each sampling its OWN partition boundaries —
    consistent only while the sample covers every row, i.e. only at tiny SF.
    At 5000 rows the unpinned version is nondeterministic run-to-run and
    disagrees with the plain-window spec; the lazy localCheckpoint pin must
    hold both properties."""
    from kda_flink_demo_spark.operators.llm import sampling

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "zh", "es", "de", "fr")]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("lang"),
    )

    def run():
        out = sampling.mix_interleave(docs, {"en": 4, "zh": 3, "es": 2}, source_col="lang")
        return sorted(tuple(r) for r in out.collect())

    from pyspark.sql import Window

    first, second = run(), run()
    assert first == second  # deterministic across materializations

    hkey = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
    )
    stride = (
        F.when(F.col("lang") == "en", 3)
        .when(F.col("lang") == "zh", 4)
        .when(F.col("lang") == "es", 6)
        .otherwise(12)
    )
    k = docs.select("doc_id", "lang", hkey.alias("_hkey"))
    r = k.withColumn(
        "src_rank",
        (F.row_number().over(Window.partitionBy("lang").orderBy("_hkey", "doc_id")) - 1).cast(
            "long"
        ),
    ).withColumn("_ikey", (2 * F.col("src_rank") + 1) * stride)
    ref = r.withColumn(
        "interleave_pos",
        (F.row_number().over(Window.orderBy("_ikey", "lang")) - 1).cast("long"),
    ).select("doc_id", "lang", "src_rank", "interleave_pos")
    assert first == sorted(tuple(x) for x in ref.collect())


# --------------------------------------------------- python-reference fuzz


def test_scd2_fuzz_vs_python_reference(spark):
    """Random change logs (few keys, heavy ts ties, NULL states) vs an
    independent pure-python SCD2: same kept transitions, same intervals."""
    import datetime as dt
    import random

    from kda_flink_demo_spark.operators.cdc import scd2_history

    rng = random.Random(1234)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for eid in range(400):
        rows.append(
            Row(
                user_id=rng.randrange(6),
                v=rng.choice(["A", "B", "C", None]),
                ts=base + dt.timedelta(minutes=rng.randrange(50)),
                event_id=eid,
            )
        )
    got = {
        (r.user_id, r.valid_from, r.valid_to): (r.v, r.is_current)
        for r in scd2_history(
            spark.createDataFrame(rows),
            keys=["user_id"],
            attr_cols=["v"],
            ts_col="ts",
            tie_col="event_id",
        ).collect()
    }

    expected = {}
    by_key = {}
    for r in sorted(rows, key=lambda r: (r.ts, r.event_id)):
        by_key.setdefault(r.user_id, []).append(r)
    for uid, evs in by_key.items():
        kept = []
        for r in evs:
            if not kept or kept[-1].v != r.v:
                kept.append(r)
        for i, r in enumerate(kept):
            nxt = kept[i + 1].ts if i + 1 < len(kept) else None
            expected[(uid, r.ts, nxt)] = (r.v, nxt is None)
    assert got == expected


def test_anomaly_zscore_fuzz_vs_numpy_reference(spark):
    """Random per-key series vs an independent numpy trailing-window z-score
    (computed the straightforward way — slice, mean, sample std): the engine's
    running-sum formulation must flag the same events with the same rounded z
    (float-assoc differences live far below the 1e-6 rounding)."""
    import datetime as dt
    import random

    import numpy as np

    rng = random.Random(99)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    series = {}
    for key in ("a", "b", "c"):
        vals = []
        for i in range(300):
            v = rng.gauss(50.0, 5.0)
            if rng.random() < 0.02:
                v += rng.choice((-1, 1)) * rng.uniform(40, 200)  # planted outliers
            vals.append(v)
            rows.append(
                Row(
                    event_id=eid,
                    event_type=key,
                    ts=base + dt.timedelta(minutes=i),
                    value=v,
                )
            )
            eid += 1
        series[key] = (vals, [r.event_id for r in rows[-300:]])

    got = {r.event_id: r.zscore for r in anomaly_zscore(spark.createDataFrame(rows)).collect()}

    expected = {}
    for key, (vals, ids) in series.items():
        arr = np.asarray(vals)
        for i in range(len(arr)):
            window = arr[max(0, i - 50) : i]
            n = len(window)
            if n < 20:
                continue
            std = window.std(ddof=1)
            if std <= 0:
                continue
            z = np.floor((arr[i] - window.mean()) / std * 1e6 + 0.5) / 1e6
            if abs(z) > 3.0:
                expected[ids[i]] = z
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-5, (k, got[k], expected[k])


# ------------------------------------------------------------ sketch states


def test_sketch_merge_equals_one_pass_and_bounds_error(spark):
    from kda_flink_demo_spark.operators.sketches import (
        merge_sketch_states,
        sketch_report,
        sketch_state,
    )

    ev = load_table(spark, SF_DIR, "events")
    slices = [sketch_state(ev.filter(F.col("event_id") % 3 == i)) for i in range(3)]
    merged = sketch_report(merge_sketch_states(*slices))
    one_pass = sketch_report(sketch_state(ev))
    canon = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert canon(merged) == canon(one_pass)  # unions are order/slice-independent

    exact_distinct = {
        r.event_type: r.d
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("d")).collect()
    }
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    exact_overlap = {
        r.event_type: r.d
        for r in ev.join(purchasers, "user_id", "left_semi")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for r in merged.collect():
        assert abs(r.distinct_ids - exact_distinct[r.event_type]) <= max(
            3, 0.05 * exact_distinct[r.event_type]
        )
        assert abs(r.ids_also_in_anchor - exact_overlap.get(r.event_type, 0)) <= max(
            3, 0.05 * exact_overlap.get(r.event_type, 1)
        )


def test_kll_quantile_state_rank_error_bound(spark):
    """KLL is randomized (excluded from the deterministic registry contract);
    its merged quantile must still land within a small rank error of the
    exact per-key median."""
    from kda_flink_demo_spark.operators.sketches import kll_quantile_state

    ev = load_table(spark, SF_DIR, "events")
    s0, s1, s2 = [
        kll_quantile_state(ev.filter(F.col("event_id") % 3 == i)).withColumnRenamed(
            "kll_state", f"k{i}"
        )
        for i in range(3)
    ]
    # kll_sketch_merge_double is a two-sketch scalar merge — fold pairwise
    merged = s0.join(s1, "event_type").join(s2, "event_type").select(
        "event_type",
        F.kll_sketch_merge_double(
            F.col("k0"), F.kll_sketch_merge_double(F.col("k1"), F.col("k2"))
        ).alias("kll_state"),
    )
    est = {
        r.event_type: r.p50
        for r in merged.select(
            "event_type",
            F.kll_sketch_get_quantile_double(F.col("kll_state"), F.lit(0.5)).alias("p50"),
        ).collect()
    }
    for row in (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.45)").alias("lo"),
            F.expr("percentile(value, 0.55)").alias("hi"),
        )
        .collect()
    ):
        assert row.lo <= est[row.event_type] <= row.hi, (row.event_type, est[row.event_type])


def test_snapshot_diff_null_text_semantics(spark):
    """NULL-vs-text is a change, NULL-vs-NULL is not — Spark's hash compare
    and the IS DISTINCT FROM oracle must agree (a plain <> oracle would call
    NULL-vs-text unchanged)."""
    old = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text=None), Row(doc_id=3, text="x")]
    )
    new = spark.createDataFrame(
        [Row(doc_id=1, text="now-set"), Row(doc_id=2, text=None), Row(doc_id=3, text=None)]
    )
    got = {r.doc_id: r.status for r in versioning.snapshot_diff(old, new).collect()}
    assert got == {1: "changed", 3: "changed"}

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE o (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO o VALUES (1, NULL), (2, NULL), (3, 'x')")
    con.execute("CREATE TABLE n (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO n VALUES (1, 'now-set'), (2, NULL), (3, NULL)")
    sql = versioning.snapshot_diff_oracle_sql(
        "SELECT doc_id, text FROM o", "SELECT doc_id, text FROM n"
    )
    oracle = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert oracle == got


def test_anomaly_zscore_nan_is_missing_on_both_engines(spark):
    """NaN values are missing data: they never poison later baselines and are
    never flagged themselves — and the DuckDB oracle (isnan→NULL) agrees."""
    import datetime as dt
    import math

    import duckdb

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=i,
            event_type="m",
            ts=base + dt.timedelta(minutes=i),
            value=(math.nan if i in (10, 35) else 10.0 + (i % 7) * 0.1),
        )
        for i in range(60)
    ]
    rows[40] = Row(event_id=40, event_type="m", ts=base + dt.timedelta(minutes=40), value=500.0)
    got = anomaly_zscore(spark.createDataFrame(rows)).collect()
    assert [r.event_id for r in got] == [40]  # spike still caught, NaNs never

    from kda_flink_demo_spark.operators.over_windows import anomaly_zscore_oracle_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE ev (event_id BIGINT, event_type VARCHAR, ts TIMESTAMP, value DOUBLE)")
    con.executemany(
        "INSERT INTO ev VALUES (?, ?, ?, ?)",
        [(r.event_id, r.event_type, r.ts, r.value) for r in rows],
    )
    oracle = con.execute(anomaly_zscore_oracle_sql(table="ev")).fetchall()
    assert [(r[0], round(r[4], 6)) for r in oracle] == [
        (r.event_id, round(r.zscore, 6)) for r in got
    ]


def test_state_merges_accept_non_default_keys(spark):
    """agg/sketch merge halves must group on the same key columns the state
    builders were given (they previously hardcoded event_type)."""
    from kda_flink_demo_spark.operators.aggregates import agg_state, merge_agg_states
    from kda_flink_demo_spark.operators.sketches import (
        merge_sketch_states,
        sketch_report,
        sketch_state,
    )

    ev = load_table(spark, SF_DIR, "events")
    a = agg_state(ev.filter(F.col("event_id") % 2 == 0), key_col="user_id")
    b = agg_state(ev.filter(F.col("event_id") % 2 == 1), key_col="user_id")
    merged = merge_agg_states(a, b)
    assert "user_id" in merged.columns and merged.count() > 0

    sa = sketch_state(ev.filter(F.col("event_id") % 2 == 0), key_col="event_type", id_col="event_id")
    sb = sketch_state(ev.filter(F.col("event_id") % 2 == 1), key_col="event_type", id_col="event_id")
    rep = sketch_report(merge_sketch_states(sa, sb, key_col="event_type"))
    # event_id is unique per event: distinct estimate ≈ row count per type
    total = {r.event_type: r.c for r in ev.groupBy("event_type").count().withColumnRenamed("count", "c").collect()}
    for r in rep.collect():
        assert abs(r.distinct_ids - total[r.event_type]) <= max(3, 0.05 * total[r.event_type])
