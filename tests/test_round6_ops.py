"""Sketch-store crash recovery (rename promote), sketch_report empty-anchor
survival, merge_agg_states explicit keys, NULL-text ingest-dedup semantics,
BPE merge training and span-level cross-doc dedup."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kda_flink_demo_spark.io.sources import load_table
from tests.conftest import SF_DIR, sorted_rows


# ------------------------------------------------------------- sketch store


def _store_tools():
    from kda_flink_demo_spark.operators.sketches import (
        sketch_report,
        sketch_state,
        update_sketch_store,
    )

    return sketch_report, sketch_state, update_sketch_store


def test_sketch_store_recovers_from_crash_between_delete_and_promote(spark, tmp_path):
    """Fault injection for the promote: after batch A lands, simulate a crash
    that happened AFTER the old store was deleted but BEFORE ``.next`` was
    renamed in (store missing, complete ``.next`` present). The next batch
    must promote ``.next`` and merge on top of it — a read-back probe
    that silently treated this state as 'first batch' and reset all history."""
    sketch_report, sketch_state, update_sketch_store = _store_tools()

    ev = load_table(spark, SF_DIR, "events").select("event_type", "user_id")
    a = ev.filter(F.col("user_id") % 2 == 0)
    b = ev.filter(F.col("user_id") % 2 == 1)
    store = str(tmp_path / "store")

    update_sketch_store(a, store)
    # crash simulation: the promote's delete happened, the rename did not
    os.rename(store, store + ".next")
    assert not os.path.exists(store)

    update_sketch_store(b, store)
    got = sorted_rows(sketch_report(spark.read.parquet(store)))
    expected = sorted_rows(sketch_report(sketch_state(ev)))
    assert got == expected  # batch A's history survived the crash


def test_sketch_store_ignores_partial_next_without_success_marker(spark, tmp_path):
    """A ``.next`` directory with no _SUCCESS marker (crash mid-write) must be
    ignored and overwritten — the intact standing store wins; merging a
    partial directory would silently drop keys."""
    sketch_report, sketch_state, update_sketch_store = _store_tools()

    ev = load_table(spark, SF_DIR, "events").select("event_type", "user_id")
    a = ev.filter(F.col("user_id") % 3 == 0)
    b = ev.filter(F.col("user_id") % 3 != 0)
    store = str(tmp_path / "store")

    update_sketch_store(a, store)
    # crash simulation: a half-written .next (copy of the store, marker removed)
    shutil.copytree(store, store + ".next")
    os.remove(os.path.join(store + ".next", "_SUCCESS"))

    update_sketch_store(b, store)
    got = sorted_rows(sketch_report(spark.read.parquet(store)))
    expected = sorted_rows(sketch_report(sketch_state(ev)))
    assert got == expected
    assert not os.path.exists(store + ".next")  # consumed by the promote


def test_sketch_report_survives_missing_anchor_key(spark):
    """If the anchor key has no state (filtered-out event type), every key's
    HLL distinct estimate must still be reported, with a 0 overlap — a
    crossJoin against the empty anchor side zero-rowed the whole report."""
    from kda_flink_demo_spark.operators.sketches import sketch_report, sketch_state

    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_type") != "purchase")
    rep = sketch_report(sketch_state(ev)).collect()
    assert len(rep) == ev.select("event_type").distinct().count()
    assert all(r.ids_also_in_anchor == 0 for r in rep)
    exact = {
        r.event_type: r.c
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("c"))
        .collect()
    }
    for r in rep:
        assert abs(r.distinct_ids - exact[r.event_type]) / exact[r.event_type] < 0.05


# -------------------------------------------------------- merge_agg_states


def test_merge_agg_states_explicit_keys_match_inference(spark):
    from kda_flink_demo_spark.operators.aggregates import agg_state, merge_agg_states

    ev = load_table(spark, SF_DIR, "events")
    a = agg_state(ev.filter(F.col("event_id") % 2 == 0))
    b = agg_state(ev.filter(F.col("event_id") % 2 == 1))
    inferred = sorted_rows(merge_agg_states(a, b))
    explicit = sorted_rows(merge_agg_states(a, b, key_cols=("event_type", "minute")))
    assert inferred == explicit


def test_merge_agg_states_rejects_measure_named_key(spark):
    """A grouping column named like a measure cannot be silently folded as
    one — explicit key_cols naming it must raise, not corrupt."""
    from kda_flink_demo_spark.operators.aggregates import agg_state, merge_agg_states

    ev = load_table(spark, SF_DIR, "events")
    st = agg_state(ev)
    with pytest.raises(ValueError, match="collide"):
        merge_agg_states(st, st, key_cols=("cnt",))


# ------------------------------------------------------- NULL-text ingest


def _null_fixture(spark):
    corpus = spark.createDataFrame(
        [Row(doc_id=0, text="shared doc text"), Row(doc_id=1, text=None)]
    )
    incoming = spark.createDataFrame(
        [
            Row(doc_id=10, text="shared doc text"),  # exact re-crawl: drop
            Row(doc_id=11, text=None),  # NULL ≠ NULL: must survive
            Row(doc_id=12, text="genuinely new"),  # survive
        ]
    )
    return corpus, incoming


def test_ingest_dedup_null_text_never_matches(spark):
    """SQL equality semantics: a NULL-text incoming doc survives even when the
    corpus holds NULL-text docs (the registered oracle's ``c.text = i.text``
    keeps it; xxhash64(NULL)'s seed constant used to equate all NULLs)."""
    from kda_flink_demo_spark.operators.llm import dedup

    corpus, incoming = _null_fixture(spark)
    got = sorted(
        r.doc_id
        for r in dedup.ingest_dedup_against_corpus(incoming, corpus).collect()
    )
    assert got == [11, 12]


def test_ingest_dedup_bloom_null_text_never_matches(spark):
    from kda_flink_demo_spark.operators.llm import dedup

    corpus, incoming = _null_fixture(spark)
    got = sorted(
        r.doc_id for r in dedup.ingest_dedup_bloom(incoming, corpus).collect()
    )
    assert got == [11, 12]


# ---------------------------------------------------------- trend/forecast


def test_trend_forecast_exact_line_and_degenerate_key(spark):
    """Counts 1,2,3 over minutes 0,1,2 fit slope=1, intercept=1, forecast=4
    EXACTLY (integer sufficient statistics → one closed-form division);
    a single-bucket key yields NULL slope/forecast, never a division error."""
    import datetime as dt

    from kda_flink_demo_spark.operators.trend import trend_forecast

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for m in range(3):
        for i in range(m + 1):
            rows.append(Row(event_type="a", ts=base + dt.timedelta(minutes=m, seconds=i)))
    for i in range(5):
        rows.append(Row(event_type="b", ts=base + dt.timedelta(seconds=i)))
    out = {r.event_type: r for r in trend_forecast(spark.createDataFrame(rows)).collect()}
    assert (out["a"].slope, out["a"].intercept, out["a"].forecast_next) == (1.0, 1.0, 4.0)
    assert out["b"].n_points == 1
    assert out["b"].slope is None and out["b"].forecast_next is None


# ------------------------------------------------- review-finding guards


def _oracle_on_docs(spark_df, rows, sql):
    """Run an oracle SQL against an in-memory documents fixture and compare."""
    import duckdb

    from tests.oracle import compare_to_oracle

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    compare_to_oracle(spark_df, con, sql)


def test_bpe_encode_oracle_parity_when_pairs_exhaust(spark):
    """Training exhausts the pair supply before `steps` rounds: the Spark
    fold identity-degrades and the oracle's LEFT JOIN must too — a comma
    cross-join there zero-rows the encoded vocab."""
    from kda_flink_demo_spark.operators.llm.text import (
        bpe_encode,
        bpe_encode_oracle_sql,
    )

    rows = [(0, "ab ab ab"), (1, "ab cd")]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    _oracle_on_docs(bpe_encode(df, steps=4), rows, bpe_encode_oracle_sql(steps=4))


def test_validation_checks_vacuous_pass_on_empty_table(spark):
    """sum() over zero rows is NULL — an empty partition must report
    0 violations / passed=TRUE, not a NULL verdict no filter can see."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.validation import (
        column_rule_checks,
        uniqueness_check,
    )

    empty = spark.createDataFrame(
        [], T.StructType([T.StructField("v", T.LongType())])
    )
    r = column_rule_checks(empty, {"v_pos": F.col("v") > 0}).collect()[0]
    assert (r.n_checked, r.n_violations, r.passed) == (0, 0, True)
    u = uniqueness_check(empty, ["v"], "v_unique").collect()[0]
    assert (u.n_checked, u.n_violations, u.passed) == (0, 0, True)


def test_temporal_join_rejects_colliding_attr_columns(spark):
    import datetime as dt

    from kda_flink_demo_spark.operators.cdc import temporal_join

    t0 = dt.datetime(2024, 1, 1)
    hist = spark.createDataFrame(
        [(1, "A", t0, None)],
        "user_id long, event_type string, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame([Row(user_id=1, event_type="x", ts=t0)])
    with pytest.raises(ValueError, match="collide"):
        temporal_join(facts, hist, keys=["user_id"], attr_cols=("event_type",))


def test_logreg_null_rows_match_oracle(spark):
    """NULL lang counts as a negative and NULL text as '' in BOTH engines —
    without the explicit coalesces Spark's avg() drops the NULL-label row
    while DuckDB's CASE keeps it, and size(split(NULL)) = −1 feeds a phantom
    feature."""
    import duckdb

    from kda_flink_demo_spark.operators.llm.classifier import (
        logreg_quality_score,
        logreg_quality_score_oracle_sql,
    )
    from tests.oracle import compare_to_oracle

    rows = [
        (0, "the of to a in", "en", 14),
        (1, "scan table join", "de", 15),
        (2, None, "en", 0),  # NULL text
        (3, "the and is", None, 10),  # NULL label
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang=lg, n_chars=n) for i, t, lg, n in rows]
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
    compare_to_oracle(
        logreg_quality_score(df, rounds=3),
        con,
        logreg_quality_score_oracle_sql(rounds=3),
    )


# ------------------------------------------------------ logistic trainer


def test_logreg_learns_separable_fixture_and_matches_reference(spark):
    """On a linearly separable corpus (positives saturated with 'the') the
    distributed trainer must reach perfect training accuracy AND reproduce a
    pure-python reference of the identical det_round-ed GD math exactly."""
    from kda_flink_demo_spark.operators.llm.classifier import logreg_quality_score

    pos = ["the the the of to a in is the and"] * 20
    neg = ["table scan row batch window merge sort hash join query"] * 20
    rows = [
        Row(doc_id=i, text=t, lang=("en" if i < 20 else "de"), n_chars=len(t))
        for i, t in enumerate(pos + neg)
    ]
    df = spark.createDataFrame(rows)
    out = {r.doc_id: r for r in logreg_quality_score(df, rounds=3).collect()}
    acc = sum(1 for r in out.values() if r.predicted == r.label) / len(out)
    assert acc == 1.0

    # pure-python reference of the identical math
    import numpy as np

    def det_round_f(v, d=6):
        return np.floor(v * 10.0**d + 0.5) / 10.0**d

    sw = {"the", "and", "of", "to", "a", "in", "is"}
    X, y = [], []
    for r in rows:
        toks = r.text.split(" ")
        hits = sum(1 for t in toks if t in sw)
        X.append([1.0, r.n_chars / 1000.0, len(toks) / 100.0, hits / len(toks)])
        y.append(1.0 if r.lang == "en" else 0.0)
    X, y = np.array(X), np.array(y)

    def zscore(w):  # sequential left-to-right, matching the Spark expression
        z = w[0] * X[:, 0]
        for j in range(1, 4):
            z = z + w[j] * X[:, j]
        return z

    w = np.zeros(4)
    for _ in range(3):
        z = zscore(w)
        p = 0.5 + z / (2.0 * (1.0 + np.abs(z)))
        g = det_round_f(((p - y)[:, None] * X).mean(axis=0))
        w = det_round_f(w - g)
    z = zscore(w)
    p_ref = det_round_f(0.5 + z / (2.0 * (1.0 + np.abs(z))))
    for r, expected in zip(rows, p_ref):
        assert out[r.doc_id].score == expected


# --------------------------------------------------------- temporal join


def test_temporal_join_point_in_time_semantics(spark):
    """Each fact picks up the attribute valid AT its timestamp: half-open
    [valid_from, valid_to) intervals, NULL before the first state, open-ended
    current state, and the fact count is always preserved (≤1 match)."""
    import datetime as dt

    from kda_flink_demo_spark.operators.cdc import temporal_join

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    hist = spark.createDataFrame(
        [
            Row(user_id=1, state="A", valid_from=t(1), valid_to=t(3)),
            Row(user_id=1, state="B", valid_from=t(3), valid_to=None),
        ]
    )
    facts = spark.createDataFrame(
        [
            Row(fact_id=0, user_id=1, ts=t(0)),  # before any state → NULL
            Row(fact_id=1, user_id=1, ts=t(1)),  # boundary: new state wins
            Row(fact_id=2, user_id=1, ts=t(2)),  # inside [A)
            Row(fact_id=3, user_id=1, ts=t(3)),  # boundary: B from t3
            Row(fact_id=4, user_id=1, ts=t(4)),  # open-ended current
            Row(fact_id=5, user_id=2, ts=t(2)),  # unknown key → NULL
        ]
    )
    out = temporal_join(
        facts, hist, keys=["user_id"], fact_ts="ts", attr_cols=("state",)
    )
    got = {r.fact_id: r.state for r in out.collect()}
    assert got == {0: None, 1: "A", 2: "A", 3: "B", 4: "B", 5: None}
    assert out.count() == facts.count()


# --------------------------------------------------------- data validation


def test_validation_check_semantics(spark):
    """NULL rule results count as violations; uniqueness counts rows beyond
    the first per key (NULL keys group); FK NULLs pass (SQL semantics)."""
    from kda_flink_demo_spark.operators.validation import (
        column_rule_checks,
        referential_check,
        uniqueness_check,
    )

    rows = spark.createDataFrame(
        [
            Row(k=1, v=10, fk=100),
            Row(k=1, v=None, fk=999),  # NULL v → rule violation; orphan fk
            Row(k=2, v=-5, fk=None),  # negative v; NULL fk passes FK
            Row(k=None, v=3, fk=100),
            Row(k=None, v=4, fk=100),  # NULL-key dup → uniqueness violation
        ]
    )
    parent = spark.createDataFrame([Row(pk=100)])

    rule = {r.check_name: r for r in column_rule_checks(
        rows, {"v_positive": F.col("v") > 0}
    ).collect()}
    assert (rule["v_positive"].n_checked, rule["v_positive"].n_violations) == (5, 2)

    uniq = uniqueness_check(rows, ["k"], "k_unique").collect()[0]
    assert (uniq.n_checked, uniq.n_violations, uniq.passed) == (5, 2, False)

    ref = referential_check(rows, parent, "fk", "pk", "fk_ok").collect()[0]
    assert (ref.n_checked, ref.n_violations, ref.passed) == (5, 1, False)


# ----------------------------------------------------------- BPE training


def _merge_once(spark, toks: list[str], left: str, right: str) -> list[str]:
    from kda_flink_demo_spark.operators.llm.text import _bpe_merge_fold

    df = spark.createDataFrame([Row(toks=toks)])
    return df.select(
        _bpe_merge_fold(F.col("toks"), F.lit(left), F.lit(right)).alias("m")
    ).collect()[0].m


def test_bpe_merge_fold_left_to_right_non_overlapping(spark):
    """The scan-with-skip contract real BPE trainers use: in a run of equal
    symbols, merges take positions 0, 2, 4… — never overlapping."""
    assert _merge_once(spark, ["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert _merge_once(spark, ["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]
    assert _merge_once(spark, ["a", "b", "a", "b"], "a", "b") == ["ab", "ab"]
    # a merged symbol must not cascade within the same pass
    assert _merge_once(spark, ["a", "b", "b"], "a", "b") == ["ab", "b"]
    # absent pair leaves tokens unchanged; single-token lists are identity
    assert _merge_once(spark, ["x", "y"], "p", "q") == ["x", "y"]
    assert _merge_once(spark, ["xy"], "x", "y") == ["xy"]


def test_bpe_merge_train_matches_reference_loop(spark):
    """4 training rounds on a tiny corpus vs a pure-Python reference BPE
    trainer (count all adjacent positions, argmax with (count, left, right)
    tie-break, left-to-right non-overlapping merge)."""
    from kda_flink_demo_spark.operators.llm.text import bpe_merge_train

    corpus = ["low lower lowest low low", "new newer newest new lower"]

    def reference(texts, steps):
        from collections import Counter

        vocab = Counter(w for t in texts for w in t.split(" ") if len(w) >= 2)
        words = {w: list(w) for w in vocab}
        out = []
        for s in range(1, steps + 1):
            pc = Counter()
            for w, toks in words.items():
                for i in range(len(toks) - 1):
                    pc[(toks[i], toks[i + 1])] += vocab[w]
            if not pc:
                break
            (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((s, l, r, l + r, c))
            for w, toks in words.items():
                merged, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                        merged.append(l + r)
                        i += 2
                    else:
                        merged.append(toks[i])
                        i += 1
                words[w] = merged
        return out

    df = spark.createDataFrame([Row(text=t) for t in corpus])
    got = sorted(tuple(r) for r in bpe_merge_train(df, steps=4).collect())
    assert got == sorted(reference(corpus, 4))


def test_bpe_encode_matches_reference(spark):
    """Train + apply on a tiny corpus vs the pure-Python trainer above plus a
    straightforward encoder: every distinct word folded through the learned
    merges in step order, docs reassembled in word order; short and
    single-char words (never trained) still encode."""
    from kda_flink_demo_spark.operators.llm.text import bpe_encode

    corpus = ["low lower a lowest low", "new newer newest x new lower"]

    def ref_encode(texts, steps):
        from collections import Counter

        vocab = Counter(w for t in texts for w in t.split(" ") if len(w) >= 2)
        words = {w: list(w) for w in vocab}
        merges = []
        for _ in range(steps):
            pc = Counter()
            for w, toks in words.items():
                for i in range(len(toks) - 1):
                    pc[(toks[i], toks[i + 1])] += vocab[w]
            if not pc:
                break
            (l, r), _c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((l, r))

            def apply(toks, l=l, r=r):
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                return out

            words = {w: apply(t) for w, t in words.items()}
        enc = {}
        for w in {w for t in texts for w in t.split(" ")}:
            toks = list(w)
            for l, r in merges:
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            enc[w] = toks
        res = {}
        for d, t in enumerate(texts):
            ws = t.split(" ")
            res[d] = (
                sum(len(enc[w]) for w in ws),
                "|".join(" ".join(enc[w]) for w in ws),
            )
        return res

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus)]
    )
    got = {
        r.doc_id: (r.n_tokens, r.tokens_text)
        for r in bpe_encode(df, steps=4).collect()
    }
    assert got == ref_encode(corpus, 4)


# ------------------------------------------------------- span-level dedup


def test_span_dedup_apply_semantics(spark):
    """Smaller-id-owns-the-span rule: the earliest doc keeps its text whole;
    later docs lose exactly the positions covered by spans an earlier doc
    contains; short docs pass through; within-doc repeats are NOT removed;
    a fully-duplicated doc becomes empty text (not a dropped row)."""
    from kda_flink_demo_spark.operators.llm.dedup import span_dedup_apply

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d e"),
            Row(doc_id=1, text="x y a b c d z"),  # shares (a b c), (b c d)
            Row(doc_id=2, text="a b c d e"),  # exact copy of doc 0
            Row(doc_id=3, text="p q"),  # shorter than the span
            Row(doc_id=4, text="m n o m n o m n o"),  # only self-repeats
        ]
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in span_dedup_apply(docs, span=3).collect()
    }
    assert got[0] == (5, 0, "a b c d e")
    assert got[1] == (7, 4, "x y z")
    assert got[2] == (5, 5, "")
    assert got[3] == (2, 0, "p q")
    assert got[4] == (9, 0, "m n o m n o m n o")


def test_span_decontaminate_semantics(spark):
    """Only spans appearing verbatim in the eval set are cut from train docs;
    sub-span overlaps (< span tokens) and non-contiguous overlaps survive."""
    from kda_flink_demo_spark.operators.llm.dedup import span_decontaminate

    eval_set = spark.createDataFrame([Row(doc_id=0, text="q r s t u")])
    train = spark.createDataFrame(
        [
            Row(doc_id=10, text="a b q r s c"),  # contains eval span (q r s)
            Row(doc_id=11, text="q r x s t"),  # overlaps but never 3 contiguous
            Row(doc_id=12, text="t u"),  # shorter than the span
        ]
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in span_decontaminate(train, eval_set, span=3).collect()
    }
    assert got[10] == (6, 3, "a b c")
    assert got[11] == (5, 0, "q r x s t")
    assert got[12] == (2, 0, "t u")
