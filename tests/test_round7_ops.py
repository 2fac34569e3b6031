"""Rows-only→hash-checkable conversions (ANN recall
reports, HLL exact+boolean, PCA scalar output), the persistent BPE merge
store, the standing span-dedup index (streaming twin of span_dedup_apply),
and the batch quarantine gate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import (
    SF_DIR,
    docs_slice,
    drain,
    load_embeddings,
    sorted_rows,
    term_stream,
    write_replay,
)


# ---------------------------------------------------------------------------
# PCA scalar output
# ---------------------------------------------------------------------------


def test_pca_scalar_cols_equal_array_elements(spark):
    from kda_flink_demo_spark.operators.llm.embeddings import pca_project

    emb = load_embeddings(spark)
    arr = {r.vec_id: list(r.pca) for r in pca_project(emb, k=3).collect()}
    flat = pca_project(emb, k=3, scalar_cols=True)
    assert flat.columns == ["vec_id", "pc1", "pc2", "pc3"]
    for r in flat.collect():
        assert [r.pc1, r.pc2, r.pc3] == arr[r.vec_id]


def test_pca_scalar_cols_empty_input(spark):
    from kda_flink_demo_spark.operators.llm.embeddings import pca_project

    empty = load_embeddings(spark).limit(0)
    out = pca_project(empty, k=3, scalar_cols=True)
    assert out.columns == ["vec_id", "pc1", "pc2", "pc3"]
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Exact-companion conversions
# ---------------------------------------------------------------------------


def test_approx_distinct_report_exact_and_boolean(spark):
    from kda_flink_demo_spark.io.sources import load_table
    from kda_flink_demo_spark.operators.aggregates import approx_distinct_report

    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.event_type: (r.exact_distinct, r.approx_ok)
        for r in approx_distinct_report(ev, "event_type", "user_id").collect()
    }
    exact = {
        r.event_type: r.c
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("c"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, (ex, ok) in got.items():
        assert ex == exact[et]
        assert ok is True  # rsd=0.01 is far inside the 5% tolerance


def test_ann_recall_report_brute_columns_and_boolean(spark):
    from kda_flink_demo_spark.operators.llm import similarity

    emb = load_embeddings(spark)
    qids = [0, 1, 2, 3, 4]
    brute = similarity.cosine_topk(emb, qids, k=5).collect()
    order = {}
    for r in sorted(brute, key=lambda r: (r.query_id, r.rank)):
        order.setdefault(r.query_id, []).append(str(r.neighbor_id))
    for method, tenths, kw in (
        ("lsh", 6, {"nprobe": 3}),
        ("ivf", 6, {"nprobe": 8}),
        ("pq", 5, {"shortlist": 300}),
    ):
        rep = similarity.ann_recall_report(
            emb, qids, k=5, method=method, recall_tenths=tenths, **kw
        ).collect()
        assert {r.query_id for r in rep} == set(qids)
        for r in rep:
            assert r.brute_neighbors == ",".join(order[r.query_id])
            assert r.brute_cnt == 5
            assert r.recall_ok is True, (
                f"{method} recall fell below {tenths}/10 for {r.query_id}"
            )


def test_ann_recall_report_rejects_unknown_method(spark):
    import pytest

    from kda_flink_demo_spark.operators.llm import similarity

    with pytest.raises(ValueError, match="unknown ANN method"):
        similarity.ann_recall_report(load_embeddings(spark), [0], method="exact")


# ---------------------------------------------------------------------------
# Persistent BPE merge store
# ---------------------------------------------------------------------------


def test_bpe_store_roundtrip_equals_fresh_train(spark, tmp_path):
    from kda_flink_demo_spark.operators.llm.text import bpe_encode, bpe_merge_train
    from kda_flink_demo_spark.streaming.standing_stores import (
        bpe_merges_from_store,
        train_bpe_to_store,
    )

    docs = docs_slice(spark, 200)
    store = str(tmp_path / "bpe_store")
    assert bpe_merges_from_store(spark, store) is None  # no store yet
    train_bpe_to_store(docs, store, steps=3)
    stored = bpe_merges_from_store(spark, store)
    assert stored is not None
    fresh = bpe_merge_train(docs, steps=3)
    assert sorted_rows(stored) == sorted_rows(fresh)
    # and the encode-through-store equals encode-with-fresh-merges
    assert sorted_rows(bpe_encode(docs, steps=3, merges=stored)) == sorted_rows(
        bpe_encode(docs, steps=3, merges=fresh)
    )


def test_bpe_store_recovers_from_crash_between_delete_and_promote(spark, tmp_path):
    from kda_flink_demo_spark.streaming.standing_stores import (
        bpe_merges_from_store,
        train_bpe_to_store,
    )

    docs = docs_slice(spark, 200)
    store = str(tmp_path / "bpe_store")
    train_bpe_to_store(docs, store, steps=3)
    before = sorted_rows(bpe_merges_from_store(spark, store))
    # simulate a crash after the old store was deleted but before .next was
    # renamed into place: the complete .next must be promoted on next read
    os.rename(store, store + ".next")
    recovered = bpe_merges_from_store(spark, store)
    assert recovered is not None
    assert sorted_rows(recovered) == before
    assert os.path.exists(os.path.join(store, "_SUCCESS"))
    assert not os.path.exists(store + ".next")


def test_bpe_store_ignores_partial_next(spark, tmp_path):
    from kda_flink_demo_spark.streaming.standing_stores import (
        bpe_merges_from_store,
        train_bpe_to_store,
    )

    docs = docs_slice(spark, 200)
    store = str(tmp_path / "bpe_store")
    train_bpe_to_store(docs, store, steps=3)
    before = sorted_rows(bpe_merges_from_store(spark, store))
    # a half-written .next (no _SUCCESS) must never shadow the good store
    nxt = store + ".next"
    os.makedirs(nxt)
    with open(os.path.join(nxt, "part-00000.parquet"), "wb") as fh:
        fh.write(b"garbage")
    assert sorted_rows(bpe_merges_from_store(spark, store)) == before


# ---------------------------------------------------------------------------
# Standing span-dedup index
# ---------------------------------------------------------------------------


def _span_batches(spark, span, n_batches=3):
    """documents cut into id-ordered batches (the probe's ordering contract)."""
    docs = docs_slice(spark, 150)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[i * len(ids) // n_batches] for i in range(1, n_batches)] + [
        ids[-1] + 1
    ]
    lo = None
    for hi in cuts:
        b = docs.filter(F.col("doc_id") < hi)
        if lo is not None:
            b = b.filter(F.col("doc_id") >= lo)
        yield b
        lo = hi


def test_span_index_stream_equals_batch(spark, tmp_path):
    from kda_flink_demo_spark.operators.llm.dedup import span_dedup_apply
    from kda_flink_demo_spark.streaming.standing_stores import (
        update_span_index_store,
    )

    span = 5
    store, sink = str(tmp_path / "idx"), str(tmp_path / "clean")
    for bid, batch in enumerate(_span_batches(spark, span)):
        update_span_index_store(batch, bid, store, sink, span=span)
    streamed = spark.read.parquet(sink)
    batch_ref = span_dedup_apply(docs_slice(spark, 150), span=span)
    assert sorted_rows(streamed.select(*batch_ref.columns)) == sorted_rows(batch_ref)


def test_span_index_replay_is_idempotent(spark, tmp_path):
    from kda_flink_demo_spark.streaming.standing_stores import (
        update_span_index_store,
    )

    span = 5
    store, sink = str(tmp_path / "idx"), str(tmp_path / "clean")
    batches = list(_span_batches(spark, span))
    for bid, batch in enumerate(batches):
        update_span_index_store(batch, bid, store, sink, span=span)
    before = sorted_rows(spark.read.parquet(sink))
    # checkpoint replay of the LAST batch (the standard failure-recovery path)
    update_span_index_store(batches[-1], len(batches) - 1, store, sink, span=span)
    assert sorted_rows(spark.read.parquet(sink)) == before


def test_span_index_half_written_segment_is_invisible(spark, tmp_path):
    from kda_flink_demo_spark.streaming.standing_stores import (
        read_span_index,
        update_span_index_store,
    )

    span = 5
    store, sink = str(tmp_path / "idx"), str(tmp_path / "clean")
    batches = list(_span_batches(spark, span))
    update_span_index_store(batches[0], 0, store, sink, span=span)
    n0 = read_span_index(spark, store).count()
    # fake a crash mid-write of segment 1: directory exists, no _SUCCESS
    half = os.path.join(store, "seg=1")
    os.makedirs(half)
    with open(os.path.join(half, "part-00000.parquet"), "wb") as fh:
        fh.write(b"garbage")
    assert read_span_index(spark, store).count() == n0
    # the replay rewrites the half segment and it becomes visible
    update_span_index_store(batches[1], 1, store, sink, span=span)
    assert read_span_index(spark, store).count() >= n0


# ---------------------------------------------------------------------------
# Batch quarantine gate
# ---------------------------------------------------------------------------


def test_quarantine_gate_partitions_and_tags(spark):
    from kda_flink_demo_spark.registry import queries

    out = queries()["quarantine_gate"](spark, SF_DIR).collect()
    from kda_flink_demo_spark.io.sources import load_table

    assert len(out) == load_table(spark, SF_DIR, "orders").count()
    good = [r for r in out if r.split == "good"]
    bad = [r for r in out if r.split == "quarantined"]
    assert good and bad, "fixture must exercise both branches"
    assert all(r.violations == "" for r in good)
    assert all(r.violations for r in bad)
    # the narrow priority domain is the designed violation
    assert all("priority_expected_domain" in r.violations for r in bad)


# ---------------------------------------------------------------------------
# Bench ordering guard
# ---------------------------------------------------------------------------


def test_bench_build_rows_precede_consumers():
    import bench

    for b, consumers in bench._BUILD_BEFORE.items():
        for c in consumers:
            assert bench.BENCH_QUERIES.index(b) < bench.BENCH_QUERIES.index(c)


def test_span_index_real_stream_matches_batch(spark, tmp_path):
    """Drive the span gate through a REAL readStream + foreachBatch +
    checkpoint (not direct fold calls): union of the cleaned micro-batch
    partitions must equal one-shot span_dedup_apply over everything replayed.
    Files are replayed one per trigger in doc_id order (the probe's ordering
    contract — mtimes pin FileStreamSource's ordering)."""
    from kda_flink_demo_spark.io.sources import file_events_stream
    from kda_flink_demo_spark.operators.llm.dedup import span_dedup_apply
    from kda_flink_demo_spark.streaming.standing_stores import (
        update_span_index_store,
    )

    span = 5
    docs = docs_slice(spark, 150).select("doc_id", "text")
    replay = write_replay(
        str(tmp_path / "replay"),
        [batch.select("doc_id", "text") for batch in _span_batches(spark, span)],
    )

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    store, sink_dir = str(tmp_path / "idx"), str(tmp_path / "clean")
    drain(
        file_events_stream(spark, replay, schema),
        lambda df, bid: update_span_index_store(df, bid, store, sink_dir, span=span),
        str(tmp_path / "ckpt"),
    )

    streamed = spark.read.parquet(sink_dir)
    batch_ref = span_dedup_apply(docs, span=span)
    assert sorted_rows(streamed.select(*batch_ref.columns)) == sorted_rows(batch_ref)


# ---------------------------------------------------------------------------
# Hash-checkable companions for the two remaining rows-only ops
# ---------------------------------------------------------------------------


def test_simhash_recall_report_values(spark):
    from kda_flink_demo_spark.operators.llm.dedup import (
        ngram_jaccard_pairs,
        simhash_pairs,
        simhash_recall_report,
    )

    docs = docs_slice(spark, 300)
    rows = simhash_recall_report(docs, threshold=0.8, max_hamming=6).collect()
    assert len(rows) == 1
    exact = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    cand = {(r.doc_a, r.doc_b) for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert rows[0].n_exact_pairs == len(exact)
    expected_ok = len(exact & cand) * 10 >= 8 * len(exact)
    assert rows[0].recall_ok == expected_ok


def test_simhash_recall_report_vacuous_on_no_pairs(spark):
    from kda_flink_demo_spark.operators.llm.dedup import simhash_recall_report

    # two wholly distinct docs: empty exact pair graph → vacuous pass
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    row = simhash_recall_report(docs).collect()[0]
    assert row.n_exact_pairs == 0 and row.recall_ok is True


def test_pca_check_properties(spark):
    import numpy as np

    from kda_flink_demo_spark.operators.llm.embeddings import pca_check

    emb = load_embeddings(spark)
    rows = pca_check(emb, k=8, var_tenths=1).collect()
    assert len(rows) == emb.count()
    assert all(r.bessel_ok for r in rows)
    assert all(r.var_explained_ok for r in rows)
    # centered_norm2 agrees with a direct numpy computation
    data = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    m = np.vstack([data[k] for k in sorted(data)])
    mu = m.mean(axis=0)
    ref = {k: float(((data[k] - mu) ** 2).sum()) for k in data}
    for r in rows:
        assert abs(r.centered_norm2 - ref[r.vec_id]) < 1e-5


def test_pca_check_empty_input(spark):
    from kda_flink_demo_spark.operators.llm.embeddings import pca_check

    out = pca_check(load_embeddings(spark).limit(0), k=4)
    assert out.columns == ["vec_id", "centered_norm2", "bessel_ok", "var_explained_ok"]
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Partition-count invariance (the boundary-sampling bug class): the report
# operators must produce identical results at any input partitioning
# ---------------------------------------------------------------------------


def test_report_operators_invariant_to_partitioning(spark):
    from kda_flink_demo_spark.io.sources import load_table
    from kda_flink_demo_spark.operators.aggregates import approx_distinct_report
    from kda_flink_demo_spark.operators.llm import similarity
    from kda_flink_demo_spark.operators.llm.dedup import (
        simhash_recall_report,
        span_dedup_probe,
        span_index_hashes,
    )
    from kda_flink_demo_spark.operators.llm.embeddings import pca_check
    from kda_flink_demo_spark.operators.llm.text import inverted_index
    from kda_flink_demo_spark.operators.sketches import (
        cms_heavy_hitters_report,
        quantile_sketch_report,
    )

    docs = docs_slice(spark, 150)
    emb = load_embeddings(spark)
    ev = load_table(spark, SF_DIR, "events")
    idx = span_index_hashes(docs.filter(F.col("doc_id") % 2 == 0), span=5)

    builders = {
        "span_probe": lambda d: span_dedup_probe(
            docs.filter(F.col("doc_id") % 2 == 1) if d is None else d, idx, span=5
        ),
        "simhash_report": lambda d: simhash_recall_report(
            docs if d is None else d, threshold=0.8, max_hamming=6
        ),
        "pca_check": lambda d: pca_check(emb if d is None else d, k=4, var_tenths=1),
        "ann_recall": lambda d: similarity.ann_recall_report(
            emb if d is None else d, [0, 1, 2], k=5, method="lsh", nprobe=3
        ),
        "approx_distinct": lambda d: approx_distinct_report(
            ev if d is None else d, "event_type", "user_id"
        ),
        # GK approx values may shift with partitioning, but the OUTPUT (exact
        # quantiles + rank-bound booleans) must not — the bound holds for any
        # merge order, which is exactly why the raw estimates aren't emitted
        "quantile_report": lambda d: quantile_sketch_report(ev if d is None else d),
        "inverted_index": lambda d: inverted_index(docs if d is None else d),
        "cms_report": lambda d: cms_heavy_hitters_report(
            docs if d is None else d, k=10
        ),
    }
    sources = {
        "span_probe": docs.filter(F.col("doc_id") % 2 == 1),
        "simhash_report": docs,
        "pca_check": emb,
        "ann_recall": emb,
        "approx_distinct": ev,
        "quantile_report": ev,
        "inverted_index": docs,
        "cms_report": docs,
    }
    for name, build in builders.items():
        base = sorted_rows(build(None))
        for parts in (1, 13):
            got = sorted_rows(build(sources[name].repartition(parts)))
            assert got == base, f"{name} changed at repartition({parts})"


# ---------------------------------------------------------------------------
# Driver-round recency and other regressions
# ---------------------------------------------------------------------------


def test_latest_driver_round_ignores_failed_rows(tmp_path):
    """A failed/errored CORRECTNESS row must not advance a query's recency —
    it needs re-verification soonest. Run against SYNTHESIZED fixture files
    (asserting on the live committed artifacts goes stale the moment the
    driver rewrites them)."""
    import json

    from kda_flink_demo_spark.registry import _latest_driver_round

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 10, "oracle_rows": 10, "err": None}
    crashed = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": "boom"}
    rows_only_done = {"rows_match": None, "schema_match": None,
                      "hash_match": None, "spark_rows": 500,
                      "oracle_rows": None, "err": "no_oracle"}
    rows_only_crashed = dict(rows_only_done, spark_rows=None)
    hash_red = dict(green, hash_match=False)

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {"q_green": green, "q_crash": green, "q_rowsonly": rows_only_done,
         "q_hashred": green}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {"q_green": green, "q_crash": crashed,
         "q_rowsonly": rows_only_crashed, "q_new_crash": crashed,
         "q_hashred": hash_red}))
    # malformed container + malformed row must be tolerated, not crash
    (tmp_path / "CORRECTNESS_r03.json").write_text("[1, 2]")
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps(
        {"q_green": "not-a-dict"}))

    latest = _latest_driver_round(root=str(tmp_path))
    assert latest.get("q_green") == 2          # green rows advance recency
    assert latest.get("q_crash") == 1          # r02 crash must NOT advance it
    assert latest.get("q_rowsonly") == 1       # completed rows-only counts;
    #                                            r02's null-rows crash doesn't
    assert "q_new_crash" not in latest         # only-ever-failed → no recency
    assert latest.get("q_hashred") == 1        # err-null but hash_match False
    #                                            is a FAILED check


def test_approx_distinct_report_ignores_null_values(spark):
    from kda_flink_demo_spark.operators.aggregates import approx_distinct_report

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", None), ("b", None), ("b", None)],
        "k string, v int",
    )
    got = {r.k: (r.exact_distinct, r.approx_ok) for r in
           approx_distinct_report(df, "k", "v").collect()}
    # SQL count(DISTINCT) semantics: NULLs are not values
    assert got["a"] == (2, True)
    assert got["b"] == (0, True)  # all-NULL group: 0 distinct, vacuous pass


def test_flatten_pca_pads_nulls_when_k_exceeds_dim(spark):
    """k greater than the embedding dimension must yield NULL pc columns, not
    an ANSI INVALID_ARRAY_INDEX crash."""
    from kda_flink_demo_spark.operators.llm.embeddings import pca_project

    df = spark.createDataFrame(
        [(i, [float(i), float(2 * i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = pca_project(df, k=5, scalar_cols=True).collect()
    assert len(out) == 6
    for r in out:
        assert r.pc4 is None and r.pc5 is None  # dim=3 < k=5 → padded
        assert r.pc1 is not None

# ---------------------------------------------------------------------------
# inverted_index + quantile_sketch_report
# ---------------------------------------------------------------------------


def test_inverted_index_caps_postings_but_counts_everything(spark):
    """The posting list must hold exactly the CAP smallest doc ids while
    doc_freq/term_count still count every occurrence — the bounded-state
    property that makes the op stopword-safe at scale."""
    from kda_flink_demo_spark.operators.llm.text import inverted_index

    docs = docs_slice(spark, 300)
    out = {
        r.term: r
        for r in inverted_index(docs, postings_cap=3, min_df=2).collect()
    }
    truth = (
        docs.select(
            F.col("doc_id"), F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tc"),
            F.slice(F.sort_array(F.collect_set("doc_id")), 1, 3).alias("first3"),
        )
        .collect()
    )
    assert any(r.df > 3 for r in truth), "fixture needs a term above the cap"
    for r in truth:
        if r.df < 2:
            assert r.term not in out
            continue
        got = out[r.term]
        assert got.doc_freq == r.df and got.term_count == r.tc
        assert got.postings == ",".join(str(d) for d in r.first3)


def test_inverted_index_reuses_term_exchange(spark):
    """Two logical term-keyed steps (rank window + final aggregate) must ride
    ONE hash Exchange on term — plus the (term, doc) partial→final one; a
    third exchange would mean the window's partitioning wasn't reused."""
    from kda_flink_demo_spark.operators.llm.text import inverted_index

    df = inverted_index(docs_slice(spark, 100))
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_hash = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "BroadcastExchange" not in line
    )
    assert n_hash <= 2, plan


def test_quantile_report_exact_matches_numpy_and_booleans_hold(spark):
    import numpy as np

    from kda_flink_demo_spark.io.sources import load_table
    from kda_flink_demo_spark.operators.sketches import quantile_sketch_report

    ev = load_table(spark, SF_DIR, "events")
    rows = quantile_sketch_report(ev).collect()
    vals = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    assert len(rows) == len(vals)
    for r in rows:
        arr = np.asarray(sorted(vals[r.event_type]))
        assert r.n == len(arr)
        for name, p in (("p50", 0.50), ("p95", 0.95), ("p99", 0.99)):
            exact = float(np.percentile(arr, p * 100, method="linear"))
            import math

            assert getattr(r, f"{name}_exact") == math.floor(exact * 1e6 + 0.5) / 1e6
            assert getattr(r, f"{name}_ok") is True, r


def test_quantile_report_boolean_is_falsifiable(spark):
    """The rank-bound check must actually be able to fail: with accuracy so
    low that GK collapses to a handful of tuples, a deliberately tiny slack
    would flag it — here we just pin that the real slack formula still holds
    at the algorithm's minimum accuracy, and that a single-row key (where
    every percentile is the row itself) comes out TRUE, not NULL."""
    from pyspark.sql import Row

    from kda_flink_demo_spark.operators.sketches import quantile_sketch_report

    one = spark.createDataFrame([Row(event_type="solo", value=42.0)])
    r = quantile_sketch_report(one).collect()[0]
    assert (r.p50_exact, r.p95_exact, r.p99_exact) == (42.0, 42.0, 42.0)
    assert r.p50_ok and r.p95_ok and r.p99_ok


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (frequent-phrase mining)
# ---------------------------------------------------------------------------


def test_cms_merge_equals_one_pass(spark):
    """CMS cells are sums, so slice-state merge must be BIT-IDENTICAL to the
    one-pass sketch, in any merge order — the property that makes the sketch
    registry-safe (cf. Misra–Gries, whose merge is order-sensitive)."""
    from kda_flink_demo_spark.operators.sketches import cms_state, merge_cms_states

    docs = docs_slice(spark, 150)
    terms = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term"), "doc_id"
    ).filter(F.col("term") != "")
    slices = [terms.filter(F.col("doc_id") % 3 == r).drop("doc_id") for r in range(3)]
    one_pass = cms_state(terms.drop("doc_id"), depth=3, width=64)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    base = canon(one_pass)
    states = [cms_state(s, depth=3, width=64) for s in slices]
    assert canon(merge_cms_states(*states)) == base
    assert canon(merge_cms_states(states[2], states[0], states[1])) == base


def test_cms_report_overcounts_only_and_exact_matches_python(spark):
    """CMS never undercounts (min over non-negative collision sums); the
    exact companions must equal a python recount of the trigram stream."""
    from collections import Counter

    from kda_flink_demo_spark.operators.sketches import cms_heavy_hitters_report

    docs = docs_slice(spark, 120)
    rep = cms_heavy_hitters_report(docs, k=15, depth=4, width=128).collect()
    cnt = Counter()
    for r in docs.select("text").collect():
        w = r.text.split(" ")
        for i in range(len(w) - 2):
            g = " ".join(w[i : i + 3])
            if g:
                cnt[g] += 1
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = [(r.term, r.exact_cnt) for r in sorted(rep, key=lambda r: r.rank)]
    assert got == expect
    n = sum(cnt.values())
    for r in rep:
        assert r.err >= 0, r
        assert r.cms_est >= r.exact_cnt, r
        assert r.within_bound == (r.err * 128 <= 3 * n), r


# ---------------------------------------------------------------------------
# Leakage-safe split (group-aware train/val/test over the near-dup graph)
# ---------------------------------------------------------------------------


def _toy_clusters(spark):
    """A hand cluster graph: {1,2,3} canonical 1, {10,11} canonical 10."""
    return spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3), (10, 10, 2), (11, 10, 2)],
        "doc_id long, canonical_id long, cluster_size long",
    )


def test_leakage_safe_split_never_splits_a_cluster(spark):
    from kda_flink_demo_spark.operators.llm.clustering import leakage_safe_split

    docs = docs_slice(spark, 200)
    out = leakage_safe_split(docs, _toy_clusters(spark)).collect()
    by_canon = {}
    for r in out:
        by_canon.setdefault(r.canonical_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_canon.values())
    # the two hand clusters resolved through their canonical ids
    splits = {r.doc_id: r.split for r in out}
    assert splits[1] == splits[2] == splits[3]
    assert splits[10] == splits[11]
    assert {r.doc_id for r in out} == {r.doc_id for r in docs.select("doc_id").collect()}


def test_leakage_safe_split_singletons_match_plain_hash_split(spark):
    """Docs outside any cluster must get exactly the dataset_split assignment
    keyed on their own id (same seed) — the guard changes ONLY cluster
    members."""
    from kda_flink_demo_spark.operators.llm.clustering import leakage_safe_split
    from kda_flink_demo_spark.operators.llm.sampling import dataset_split

    docs = docs_slice(spark, 200)
    clustered = {1, 2, 3, 10, 11}
    out = {r.doc_id: r.split for r in leakage_safe_split(docs, _toy_clusters(spark)).collect()}
    plain = {r.doc_id: r.split for r in dataset_split(docs, seed="leak").collect()}
    for did, split in out.items():
        if did not in clustered:
            assert split == plain[did], did


def test_leakage_safe_split_partition_invariant(spark):
    from kda_flink_demo_spark.operators.llm.clustering import leakage_safe_split

    docs = docs_slice(spark, 200)
    base = sorted_rows(leakage_safe_split(docs, _toy_clusters(spark)))
    for parts in (1, 13):
        got = sorted_rows(leakage_safe_split(docs.repartition(parts), _toy_clusters(spark)))
        assert got == base


# ---------------------------------------------------------------------------
# Distribution drift (PSI monitoring gate)
# ---------------------------------------------------------------------------


def test_drift_identical_snapshots_is_zero(spark):
    from kda_flink_demo_spark.operators.validation import distribution_drift

    docs = docs_slice(spark, 200)
    dims = {"lang": F.col("lang"), "source": F.col("source")}
    out = distribution_drift(docs, docs, dims).collect()
    assert out
    for r in out:
        assert r.old_cnt == r.new_cnt
        assert r.psi_micro == 0
        assert r.dim_psi_micro == 0
        assert r.drifted is False


def test_drift_flags_planted_shift_and_smooths_vanished_bucket(spark):
    from kda_flink_demo_spark.operators.validation import distribution_drift

    old = spark.createDataFrame(
        [(i, "a" if i % 4 else "b") for i in range(400)], "id long, cat string"
    )
    # new: category b vanishes entirely — smoothing must keep PSI finite,
    # and the shift must flag
    new = old.filter(F.col("cat") == "a")
    out = {r.bucket: r for r in distribution_drift(old, new, {"cat": F.col("cat")}).collect()}
    assert out["b"].new_cnt == 0
    assert out["b"].psi_micro > 0  # finite, positive
    assert out["a"].drifted is True and out["b"].drifted is True


def test_drift_partition_invariant(spark):
    from kda_flink_demo_spark.operators.validation import distribution_drift

    docs = docs_slice(spark, 200)
    new = docs.filter(F.col("lang") != "zh")
    dims = {"lang": F.col("lang")}
    base = sorted_rows(distribution_drift(docs, new, dims))
    for parts in (1, 13):
        got = sorted_rows(
            distribution_drift(docs.repartition(parts), new.repartition(parts), dims)
        )
        assert got == base


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------


def test_pq_shape_and_code_range(spark):
    from kda_flink_demo_spark.operators.llm.embeddings import pq_encode

    emb = load_embeddings(spark)
    n = emb.count()
    rows = pq_encode(emb, m=8, subdim=8, k=16, iters=2).collect()
    assert len(rows) == n * 8
    assert {(r.vec_id, r.sub) for r in rows} == {
        (v, s) for v in range(n) for s in range(8)
    }
    for r in rows:
        assert 0 <= r.code < 16
        assert r.dist2 >= 0


def test_pq_lloyd_objective_never_increases(spark):
    """One update+assign round must not increase total reconstruction error
    (Lloyd monotonicity) — the training loop is actually learning."""
    from kda_flink_demo_spark.operators.llm.embeddings import pq_encode

    emb = load_embeddings(spark)
    e1 = pq_encode(emb, iters=1).agg(F.sum("dist2")).collect()[0][0]
    e2 = pq_encode(emb, iters=2).agg(F.sum("dist2")).collect()[0][0]
    assert e2 <= e1 + 1e-9
    assert e2 < e1  # and on this fixture it strictly improves


def test_pq_partition_invariant(spark):
    from kda_flink_demo_spark.operators.llm.embeddings import pq_encode

    emb = load_embeddings(spark)
    base = sorted_rows(pq_encode(emb, iters=2))
    for parts in (1, 13):
        assert sorted_rows(pq_encode(emb.repartition(parts), iters=2)) == base


# ---------------------------------------------------------------------------
# Standing CMS frequency store (streaming twin of cms_state)
# ---------------------------------------------------------------------------


def test_cms_store_folds_equal_one_pass(spark, tmp_path):
    from kda_flink_demo_spark.operators.sketches import cms_state
    from kda_flink_demo_spark.streaming.standing_stores import (
        cms_from_store,
        update_cms_store,
    )

    docs = docs_slice(spark, 150)
    terms = term_stream(docs)
    store = str(tmp_path / "cms")
    assert cms_from_store(spark, store) is None
    for bid in range(3):
        update_cms_store(terms.filter(F.col("doc_id") % 3 == bid), bid, store, depth=3, width=64)
    standing = cms_from_store(spark, store)
    assert sorted_rows(standing) == sorted_rows(cms_state(terms, depth=3, width=64))


def test_cms_store_replay_is_idempotent(spark, tmp_path):
    """CMS merge is addition (NOT idempotent) — the per-batch segment layout
    must make a checkpoint replay rewrite, never re-add."""
    from kda_flink_demo_spark.streaming.standing_stores import (
        cms_from_store,
        update_cms_store,
    )

    docs = docs_slice(spark, 150)
    terms = term_stream(docs)
    store = str(tmp_path / "cms")
    for bid in range(3):
        update_cms_store(terms.filter(F.col("doc_id") % 3 == bid), bid, store, depth=3, width=64)
    before = sorted_rows(cms_from_store(spark, store))
    update_cms_store(terms.filter(F.col("doc_id") % 3 == 1), 1, store, depth=3, width=64)
    assert sorted_rows(cms_from_store(spark, store)) == before


def test_cms_store_ignores_half_written_segment(spark, tmp_path):
    from kda_flink_demo_spark.streaming.standing_stores import (
        cms_from_store,
        update_cms_store,
    )

    docs = docs_slice(spark, 150)
    terms = term_stream(docs)
    store = str(tmp_path / "cms")
    update_cms_store(terms.filter(F.col("doc_id") % 3 == 0), 0, store, depth=3, width=64)
    before = sorted_rows(cms_from_store(spark, store))
    seg = str(tmp_path / "cms" / "seg=99")
    os.makedirs(seg)
    with open(os.path.join(seg, "part-00000.parquet"), "wb") as fh:
        fh.write(b"garbage")  # no _SUCCESS → must stay invisible
    assert sorted_rows(cms_from_store(spark, store)) == before


def test_pq_adc_topk_shape_and_determinism(spark):
    from kda_flink_demo_spark.operators.llm.similarity import pq_adc_topk

    emb = load_embeddings(spark)
    out = pq_adc_topk(emb, [0, 1, 2], k=5, shortlist=50)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    for q in (0, 1, 2):
        ranks = sorted(r.rank for r in rows if r.query_id == q)
        assert ranks == [1, 2, 3, 4, 5]
    for r in rows:
        assert r.neighbor_id != r.query_id
    # fully deterministic (md5 seeds + integer ADC): identical on re-run and
    # under repartitioning
    base = sorted_rows(out)
    assert sorted_rows(pq_adc_topk(emb.repartition(13), [0, 1, 2], k=5, shortlist=50)) == base


# ---------------------------------------------------------------------------
# Standing drift-profile store (streaming twin of distribution_drift)
# ---------------------------------------------------------------------------


def _drift_dims():
    return {"lang": F.col("lang"), "source": F.col("source")}


def test_drift_store_equals_batch_operator(spark, tmp_path):
    """drift_between over folded profiles must EXACTLY equal the batch
    distribution_drift over the corresponding concatenated snapshots."""
    from kda_flink_demo_spark.operators.validation import distribution_drift
    from kda_flink_demo_spark.streaming.standing_stores import (
        drift_between,
        update_drift_store,
    )

    docs = docs_slice(spark, 180)
    store = str(tmp_path / "drift")
    batches = [docs.filter(F.col("doc_id") % 4 == r) for r in range(4)]
    for bid, b in enumerate(batches):
        update_drift_store(b, bid, store, _drift_dims())
    got = drift_between(spark, store, [0, 1], [2, 3])
    old = batches[0].unionByName(batches[1])
    new = batches[2].unionByName(batches[3])
    want = distribution_drift(old, new, _drift_dims())
    assert sorted_rows(got) == sorted_rows(want)


def test_drift_store_replay_rewrites_not_readds(spark, tmp_path):
    from kda_flink_demo_spark.streaming.standing_stores import (
        drift_between,
        update_drift_store,
    )

    docs = docs_slice(spark, 180)
    store = str(tmp_path / "drift")
    for bid in range(3):
        update_drift_store(docs.filter(F.col("doc_id") % 3 == bid), bid, store, _drift_dims())
    before = sorted_rows(drift_between(spark, store, [0], [1, 2]))
    update_drift_store(docs.filter(F.col("doc_id") % 3 == 1), 1, store, _drift_dims())
    assert sorted_rows(drift_between(spark, store, [0], [1, 2])) == before


def test_drift_store_missing_batch_returns_none(spark, tmp_path):
    from kda_flink_demo_spark.streaming.standing_stores import (
        drift_between,
        update_drift_store,
    )

    docs = docs_slice(spark, 60)
    store = str(tmp_path / "drift")
    assert drift_between(spark, store, [0], [1]) is None
    update_drift_store(docs, 0, store, _drift_dims())
    assert drift_between(spark, store, [0], [1]) is None  # batch 1 not folded


# ---------------------------------------------------------------------------
# Trigram novelty vs reference corpus
# ---------------------------------------------------------------------------


def test_novelty_score_matches_python_reference(spark):
    from kda_flink_demo_spark.operators.llm.text import novelty_score

    docs = docs_slice(spark, 120)
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    probe = docs.filter(F.col("doc_id") % 5 != 0)
    got = {r.doc_id: (r.n_grams, r.novel_grams, r.novelty_bp)
           for r in novelty_score(probe, ref).collect()}

    def grams(text):
        w = text.split(" ")
        return {" ".join(w[i:i+3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()

    ref_g = set()
    rows = {r.doc_id: r.text for r in docs.collect()}
    for did, txt in rows.items():
        if did % 5 == 0:
            ref_g |= grams(txt)
    for did, txt in rows.items():
        if did % 5 == 0:
            assert did not in got
            continue
        g = grams(txt)
        if not g:
            assert did not in got
            continue
        novel = len(g - ref_g)
        assert got[did] == (len(g), novel, novel * 10000 // len(g)), did


def test_novelty_full_overlap_is_zero_and_disjoint_is_full(spark):
    from kda_flink_demo_spark.operators.llm.text import novelty_score

    probe = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w")], "doc_id long, text string"
    )
    ref = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    out = {r.doc_id: r for r in novelty_score(probe, ref).collect()}
    assert out[1].novel_grams == 0 and out[1].novelty_bp == 0
    assert out[2].novel_grams == out[2].n_grams and out[2].novelty_bp == 10000


def test_novelty_partition_invariant(spark):
    from kda_flink_demo_spark.operators.llm.text import novelty_score

    docs = docs_slice(spark, 120)
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    probe = docs.filter(F.col("doc_id") % 5 != 0)
    base = sorted_rows(novelty_score(probe, ref))
    for parts in (1, 13):
        assert sorted_rows(novelty_score(probe.repartition(parts), ref.repartition(parts))) == base


def test_cms_store_real_stream_matches_one_pass(spark, tmp_path):
    """Drive the CMS frequency store through a REAL readStream + foreachBatch
    + checkpoint: the standing sketch after availableNow-drain must be
    bit-equal to one-pass cms_state over every replayed row."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.io.sources import file_events_stream
    from kda_flink_demo_spark.operators.sketches import cms_state
    from kda_flink_demo_spark.streaming.standing_stores import (
        cms_from_store,
        update_cms_store,
    )

    docs = docs_slice(spark, 150)
    terms = term_stream(docs).select("term")
    replay = write_replay(
        str(tmp_path / "replay"),
        [term_stream(docs.filter(F.col("doc_id") % 3 == i)).select("term") for i in range(3)],
    )

    schema = T.StructType([T.StructField("term", T.StringType())])
    store = str(tmp_path / "cms")
    drain(
        file_events_stream(spark, replay, schema),
        lambda df, bid: update_cms_store(df, bid, store, depth=3, width=64),
        str(tmp_path / "ckpt"),
    )
    assert sorted_rows(cms_from_store(spark, store)) == sorted_rows(
        cms_state(terms, depth=3, width=64)
    )


def test_quantile_report_booleans_ignore_null_values(spark):
    """The GK rank targets must count only the values the percentiles rank:
    a NULL-heavy key would otherwise push every p*_ok boolean FALSE."""
    from kda_flink_demo_spark.operators.sketches import quantile_sketch_report

    rows = [("k", float(i)) for i in range(100)] + [("k", None)] * 900
    df = spark.createDataFrame(rows, "event_type string, value double")
    r = quantile_sketch_report(df).collect()[0]
    assert r.n == 1000  # output n stays count(*), matching the oracle
    assert r.p50_ok and r.p95_ok and r.p99_ok


def test_latest_driver_round_tolerates_non_dict_container(tmp_path, monkeypatch):
    import json

    from kda_flink_demo_spark import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    bad = os.path.join(root, "CORRECTNESS_r999.json")
    with open(bad, "w") as fh:
        json.dump([], fh)  # malformed container: a list, not a dict
    try:
        latest = registry._latest_driver_round()
        assert isinstance(latest, dict)  # no crash, file treated as no-history
    finally:
        os.remove(bad)


# ---------------------------------------------------------------------------
# Standing PCA sufficient-statistics store
# ---------------------------------------------------------------------------


def test_pca_stats_store_model_matches_one_shot_fit(spark, tmp_path):
    import numpy as np

    from kda_flink_demo_spark.operators.llm.embeddings import (
        _fit_pca,
        pca_project,
        project_with_pca_model,
    )
    from kda_flink_demo_spark.operators.llm.similarity import _as_double
    from kda_flink_demo_spark.streaming.standing_stores import (
        pca_model_from_store,
        update_pca_stats_store,
    )

    emb = load_embeddings(spark)
    store = str(tmp_path / "pca")
    assert pca_model_from_store(spark, store) is None
    for bid in range(3):
        update_pca_stats_store(emb.filter(F.col("vec_id") % 3 == bid), bid, store)
    got = pca_model_from_store(spark, store, k=4)
    base = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("_v"))
    want = _fit_pca(base, k=4)
    assert np.allclose(got[0], want[0], atol=1e-9)
    assert np.allclose(got[1], want[1], atol=1e-6)
    # det-rounded projections through the incremental model equal the
    # one-shot pca_project on the fixture
    via_store = project_with_pca_model(base, got, k=4)
    one_shot = pca_project(emb, k=4)
    assert sorted_rows(via_store) == sorted_rows(one_shot)


def test_pca_stats_store_replay_is_idempotent(spark, tmp_path):
    import numpy as np

    from kda_flink_demo_spark.streaming.standing_stores import (
        pca_model_from_store,
        update_pca_stats_store,
    )

    emb = load_embeddings(spark)
    store = str(tmp_path / "pca")
    for bid in range(3):
        update_pca_stats_store(emb.filter(F.col("vec_id") % 3 == bid), bid, store)
    before = pca_model_from_store(spark, store, k=4)
    update_pca_stats_store(emb.filter(F.col("vec_id") % 3 == 1), 1, store)  # replay
    after = pca_model_from_store(spark, store, k=4)
    # double sums: a replayed segment's bytes can differ in fold-noise low
    # bits (shuffle-fetch order is not guaranteed), so the invariant is
    # numerical equality, not bit equality — unlike the integer CMS cells
    assert np.allclose(before[0], after[0], atol=1e-9)
    assert np.allclose(before[1], after[1], atol=1e-6)
