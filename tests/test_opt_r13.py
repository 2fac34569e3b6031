"""Optimization equivalence pins: every restructure that changed an
operator's internals must produce bit-identical output to the shape it
replaced (the oracle re-checks externally; these tests pin the equivalence
at the operator level, including edge cases the fixtures don't hit)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, sorted_rows


def test_fused_table_checks_equal_separate_builders(spark):
    """fused_table_checks (one scan) emits exactly the rows the separate
    rule/uniqueness/referential builders emit — counts and verdicts
    bit-identical, including a real FK-orphan and a real duplicate key."""
    from kda_flink_demo_spark.operators.validation import (
        check_suite,
        column_rule_checks,
        fused_table_checks,
        referential_check,
        uniqueness_check,
    )

    child = spark.createDataFrame(
        [
            (1, 10, 5.0),
            (1, 11, -2.0),   # duplicate key k=1 + rule violation
            (2, None, 3.0),  # NULL fk passes FK, fails not_null rule
            (3, 99, 0.0),    # orphan fk + boundary rule value
        ],
        "k int, fk int, v double",
    )
    parent = spark.createDataFrame([(10,), (11,), (12,)], "pk int")
    rules = {
        "fk_not_null": F.col("fk").isNotNull(),
        "v_positive": F.col("v") > 0,
    }
    fused = fused_table_checks(
        child, rules, ["k"], "k_unique", fk=(parent, "fk", "pk", "fk_refs_parent")
    )
    separate = check_suite(
        column_rule_checks(child, rules),
        uniqueness_check(child, ["k"], "k_unique"),
        referential_check(child, parent, "fk", "pk", "fk_refs_parent"),
    )
    assert sorted_rows(fused) == sorted_rows(separate)


def test_fused_table_checks_empty_input_vacuous_pass(spark):
    from kda_flink_demo_spark.operators.validation import fused_table_checks

    empty = spark.createDataFrame([], "k int, fk int, v double")
    parent = spark.createDataFrame([(1,)], "pk int")
    out = {
        r["check_name"]: r
        for r in fused_table_checks(
            empty,
            {"v_pos": F.col("v") > 0},
            ["k"],
            "k_unique",
            fk=(parent, "fk", "pk", "fk_ok"),
        ).collect()
    }
    for name in ("v_pos", "k_unique", "fk_ok"):
        assert out[name]["n_checked"] == 0
        assert out[name]["n_violations"] == 0
        assert out[name]["passed"] is True


def test_cc_init_fold_equals_identity_init(spark):
    """The label initialization (min(u, neighbors) folded into node
    discovery) converges to the same components as the transitive closure,
    on shapes that exercise the init: chains (deep), stars (shallow),
    isolated edges, and a graph whose min node sits mid-chain."""
    from kda_flink_demo_spark.operators.llm.clustering import connected_components

    cases = [
        [(1, 2), (2, 3), (3, 4), (4, 5)],          # chain, min at end
        [(5, 2), (2, 9), (9, 1), (1, 7)],          # chain, min mid
        [(10, 11), (10, 12), (10, 13), (20, 21)],  # star + separate edge
        [(i, i + 1) for i in range(30, 60)],       # longer chain
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        # union-find ground truth
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        comps: dict[int, int] = {}
        for n in parent:
            comps[n] = min(m for m in parent if find(m) == find(n))
        assert got == comps


def test_bm25_literal_vocab_prune_matches_broadcast_semantics(spark):
    """The map-side literal vocabulary prune keeps every occurrence of a
    matching term (duplicates included) — same tf, same ranking as the
    documented formula on a corpus with repeated and out-of-vocab terms."""
    from kda_flink_demo_spark.operators.llm.text import bm25_topk

    rows = [
        (1, "alpha alpha beta junk"),
        (2, "alpha junk junk junk"),
        (3, "gamma delta"),
        (4, "beta beta beta alpha"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(docs, queries={7: ["alpha", "beta"]}, k=4).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    assert 3 not in ranks
    assert set(ranks) == {1, 2, 4}
    # doc 4 (beta x3 + alpha) and doc 1 (alpha x2 + beta) must both outrank
    # the single-term doc 2
    assert ranks[2] == 3


def test_word_ngrams_zip_shape_equals_element_at_shape(spark):
    """word_ngrams moved from the element_at-per-position lambda (which
    re-inlines the split n× per gram) to arrays_zip-of-slices. Pin the new
    shape against an inline replica of the OLD shape: same grams, same order,
    same multiplicity semantics — over edge cases (NULL text, empty string,
    shorter-than-n, exactly-n, repeated grams, multi-space artifacts)."""
    from kda_flink_demo_spark.operators.llm.dedup import (
        word_ngrams,
        word_ngrams_with_multiplicity,
    )

    def old_ngrams_all(text, n):
        toks = F.split(text, " ")
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    rows = [
        (0, None),
        (1, ""),
        (2, "one"),
        (3, "a b"),
        (4, "a b c"),                      # exactly n=3
        (5, "a b c d e"),
        (6, "x y x y x y x y"),            # repeated grams (multiplicity)
        (7, "a  b   c d"),                 # consecutive spaces -> empty tokens
        (8, " ".join(f"w{i % 4}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    for n in (1, 2, 3, 5, 10):
        got = df.select(
            "i",
            word_ngrams_with_multiplicity(F.col("t"), n).alias("new_all"),
            word_ngrams(F.col("t"), n).alias("new_distinct"),
            old_ngrams_all(F.col("t"), n).alias("old_all"),
            F.array_distinct(old_ngrams_all(F.col("t"), n)).alias("old_distinct"),
        ).collect()
        for r in got:
            assert r.new_all == r.old_all, (n, r.i, r.new_all, r.old_all)
            assert r.new_distinct == r.old_distinct, (n, r.i)


def test_lm_bigram_window_marginal_equals_two_pass_counts(spark):
    """bigram_lm_score derives c1 as the window-sum marginal of c2
    instead of a second corpus aggregate. Pin (n_bigrams, avg_nll) against an
    inline replica of the OLD two-aggregate two-join shape on a corpus with
    repeated bigrams, a 1-token doc (absent from output) and shared prefixes."""
    from kda_flink_demo_spark.functions import det_round
    from kda_flink_demo_spark.operators.llm import lm

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat ran"),
        (2, "solo"),
        (3, "the cat sat on the mat"),
        (4, "mat the cat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def old_score(d):
        bg = lm._bigram_positions(d, "text", "doc_id")
        c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
        c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
        nll = -F.log(F.col("c2") / F.col("c1"))
        return (
            bg.join(c2, ["w1", "w2"])
            .join(c1, ["w1"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"), F.avg(nll).alias("_avg"))
            .select("doc_id", "n_bigrams", det_round(F.col("_avg"), 4).alias("avg_nll"))
        )

    got = sorted_rows(lm.bigram_lm_score(df))
    want = sorted_rows(old_score(df))
    assert got == want, (got, want)
    assert all(r[0] != 2 for r in got)  # the 1-token doc has no bigrams


def test_pq_checkpoint_codebook_outputs_identical(spark):
    """build_pq_index checkpoints the final codebook BEFORE the last
    assignment round is planned (training subtree runs once, 24 -> 16 jobs).
    Pin codes AND codebook bit-identical to the unflagged shape."""
    from kda_flink_demo_spark.io.sources import load_table
    from kda_flink_demo_spark.operators.llm.embeddings import pq_encode

    nv = load_table(spark, SF_DIR, "embeddings")
    plain_codes, plain_cb = pq_encode(nv, with_codebook=True)
    ck_codes, ck_cb = pq_encode(nv, with_codebook=True, checkpoint_codebook=True)
    assert sorted_rows(ck_codes) == sorted_rows(plain_codes)
    assert sorted_rows(ck_cb) == sorted_rows(plain_cb)


def test_logreg_checkpointed_features_identical_scores(spark):
    """logreg_quality_score materializes the feature table once instead
    of re-featurizing the corpus in every gradient round. Pin scores against
    an inline replica of the OLD unmaterialized shape (NULL text + NULL label
    rows included — the coalesce semantics must survive the checkpoint)."""
    from kda_flink_demo_spark.operators.llm import classifier

    rows = [
        (0, "the cat sat on the mat and the dog ran", "en", 40),
        (1, "abc def", "fr", 7),
        (2, None, "en", None),
        (3, "a of to in is the and", None, 21),
        (4, "x " * 200, "en", 400),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "n_chars"])

    def old_score(d):
        feats = classifier._features(d, "text", F.col("lang") == F.lit("en"))
        k = len(classifier._FEATS)
        from kda_flink_demo_spark.functions import det_round

        w = d.sparkSession.range(1).select(
            *[F.lit(0.0).alias(f"w{i}") for i in range(k)]
        )
        for _ in range(3):
            joined = feats.crossJoin(F.broadcast(w))
            p = classifier._p_col()
            grads = joined.agg(
                *[
                    det_round(F.avg((p - F.col("y")) * F.col(c)), 6).alias(f"g_{c}")
                    for c in classifier._FEATS
                ],
                *[F.first(f"w{i}").alias(f"w{i}") for i in range(k)],
            )
            w = grads.select(
                *[
                    det_round(F.col(f"w{i}") - F.lit(1.0) * F.col(f"g_{c}"), 6).alias(f"w{i}")
                    for i, c in enumerate(classifier._FEATS)
                ]
            )
        scored = feats.crossJoin(F.broadcast(w))
        p = classifier._p_col()
        return scored.select(
            "doc_id",
            det_round(p, 6).alias("score"),
            (det_round(p, 6) >= 0.5).alias("predicted"),
            (F.col("y") == 1.0).alias("label"),
        )

    got = sorted_rows(classifier.logreg_quality_score(df))
    want = sorted_rows(old_score(df))
    assert got == want, (got, want)
