"""Optimization equivalence pins: every restructure that changed an
operator's internals must produce bit-identical output to the shape it
replaced (the oracle re-checks externally; these tests pin the equivalence
at the operator level, including edge cases the fixtures don't hit)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, sorted_rows


def _kmeans_assign_column_api(df, k, iters, id_col, vec_col, round_digits, keep_vec):
    """Inline replica of the Column-object kmeans_assign (the shape
    the selectExpr rewrite replaced) — used to pin bit-identity."""
    from kda_flink_demo_spark.functions import det_round
    from kda_flink_demo_spark.operators.llm.similarity import _as_double, dot

    base = df.select(
        F.col(id_col).cast("long").alias(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_vn2", dot(F.col("_v"), F.col("_v")))
    w0 = Window.orderBy("_h", id_col)
    cent = (
        base.select(id_col, "_v", F.md5(F.col(id_col).cast("string")).alias("_h"))
        .orderBy("_h", id_col)
        .limit(k)
        .withColumn("cluster", (F.row_number().over(w0) - 1).cast("long"))
        .select("cluster", F.col("_v").alias("_c"))
    )
    asg = None
    for i in range(iters):
        cset = (
            cent.withColumn("_cn2", dot(F.col("_c"), F.col("_c")))
            .groupBy()
            .agg(F.collect_list(F.struct("cluster", "_c", "_cn2")).alias("_cs"))
        )
        best = F.array_min(
            F.transform(
                F.col("_cs"),
                lambda s: F.struct(
                    det_round(
                        F.col("_vn2") + s["_cn2"] - F.lit(2.0) * dot(F.col("_v"), s["_c"]),
                        round_digits,
                    ).alias("_d2"),
                    s["cluster"].alias("cluster"),
                ),
            )
        )
        asg = (
            base.crossJoin(F.broadcast(cset))
            .withColumn("_m", best)
            .select(
                id_col,
                F.col("_m.cluster").alias("cluster"),
                F.col("_m._d2").alias("dist2"),
                "_v",
            )
        )
        if i < iters - 1:
            cent = (
                asg.select("cluster", F.posexplode("_v").alias("pos", "x"))
                .groupBy("cluster", "pos")
                .agg(det_round(F.avg("x"), round_digits).alias("m"))
                .groupBy("cluster")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
                .select("cluster", F.transform("_pm", lambda s: s["m"]).alias("_c"))
            )
    return asg if keep_vec else asg.drop("_v")


def test_kmeans_selectexpr_equals_column_api(spark):
    """The selectExpr-built kmeans plan computes the exact doubles and
    cluster ids of the Column-API shape it replaced, at more than one (k,
    iters) and including keep_vec."""
    from kda_flink_demo_spark.operators.llm.kmeans import kmeans_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for k, iters in ((10, 3), (4, 1), (3, 2)):
        new = kmeans_assign(emb, k=k, iters=iters)
        old = _kmeans_assign_column_api(
            emb, k, iters, "vec_id", "embedding", 6, keep_vec=False
        )
        assert sorted_rows(new) == sorted_rows(old), f"kmeans mismatch at k={k}, iters={iters}"
    new_v = kmeans_assign(emb, k=5, iters=2, keep_vec=True)
    old_v = _kmeans_assign_column_api(emb, 5, 2, "vec_id", "embedding", 6, keep_vec=True)
    assert sorted_rows(new_v.select("vec_id", "cluster", "dist2", "_v")) == sorted_rows(
        old_v.select("vec_id", "cluster", "dist2", "_v")
    )


def test_semantic_dedup_pairs_unchanged_by_selectexpr_kmeans(spark):
    """semantic_dedup_pairs (kmeans blocking + within-cluster cosine) yields
    the same pairs through the rewritten kmeans front half."""
    from kda_flink_demo_spark.operators.llm.kmeans import semantic_dedup_pairs
    from kda_flink_demo_spark.operators.llm.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    new = semantic_dedup_pairs(emb, k=6, iters=2, threshold=0.3)
    old_asg = _kmeans_assign_column_api(emb, 6, 2, "vec_id", "embedding", 6, keep_vec=True)
    old = embedding_near_dup_pairs(
        old_asg.select("vec_id", "cluster", F.col("_v").alias("embedding")),
        block_col="cluster",
        threshold=0.3,
    )
    assert sorted_rows(new) == sorted_rows(old)


def test_cc_union_agg_round_equals_ground_truth(spark):
    """The round rewrite (own label rides the neighbor stream as a tagged
    union row; neighbor-min + old-label attach in ONE aggregate, convergence
    via Observation) yields exact component minima on chains, stars, deep
    chains (jump rounds exercised), self-loops, and NULL-id rows — and the
    reported round count keeps its convention (iterations until no label
    changes)."""
    from kda_flink_demo_spark.operators.llm.clustering import connected_components

    cases = [
        [(1, 2), (2, 3), (3, 4), (4, 5)],
        [(5, 2), (2, 9), (9, 1), (1, 7)],
        [(10, 11), (10, 12), (10, 13), (20, 21)],
        [(i, i + 1) for i in range(100, 180)],     # deep chain: jump path
        [(7, 7), (8, 9)],                          # self-loop + edge
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        stats: dict = {}
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, stats=stats).collect()
        }
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        comps = {n: min(m for m in parent if find(m) == find(n)) for n in parent}
        assert got == comps
        assert stats["rounds"] >= 2


def test_cc_union_agg_round_null_ids(spark):
    """NULL-id endpoints keep their own NULL label (the old null-rejecting
    equi-join behavior) and never adopt a neighbor's label through the
    grouped NULL bucket."""
    from kda_flink_demo_spark.operators.llm.clustering import connected_components

    df = spark.createDataFrame(
        [(None, 3), (3, 4), (8, 9)], "doc_a long, doc_b long"
    )
    rows = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert rows[3] == 3 and rows[4] == 3 and rows[8] == 8 and rows[9] == 8
    assert None in rows and rows[None] is None


def test_narrow_checkpoint_values_and_partitions(spark):
    """narrow_checkpoint returns the exact same rows as a plain
    localCheckpoint and coalesces a small wide table to the derived
    partition count (while leaving a big-enough table's width alone)."""
    from kda_flink_demo_spark.functions import narrow_checkpoint

    df = spark.range(0, 1000, 1, 8).selectExpr("id", "id % 7 AS k")
    ck = narrow_checkpoint(df, 500)
    assert sorted_rows(ck) == sorted_rows(df)
    assert ck.rdd.getNumPartitions() == 2  # ceil(1000 / 500)
    wide = narrow_checkpoint(spark.range(0, 100, 1, 4), 10)
    assert wide.rdd.getNumPartitions() == 4  # want 10 parts > current 4: keep


def test_narrow_checkpoint_fails_loudly_when_checkpoint_did_not_run(spark, monkeypatch):
    """If the checkpoint action never runs the observed plan, the row count
    never arrives: narrow_checkpoint must raise a clear error, not block
    forever in Observation.get."""
    from kda_flink_demo_spark.functions import narrow_checkpoint

    df = spark.range(0, 100, 1, 4)
    monkeypatch.setattr(type(df), "localCheckpoint", lambda self, eager=True: self)
    with pytest.raises(RuntimeError, match="narrow_checkpoint: the observed action"):
        narrow_checkpoint(df, 10)


@pytest.mark.parametrize("real_checkpoints", [0, 1], ids=["node_count", "convergence"])
def test_connected_components_fails_loudly_when_checkpoint_did_not_run(
    spark, monkeypatch, real_checkpoints
):
    """The node count and each round's convergence flag ride the label
    checkpoints as Observations: if a checkpoint action never runs the
    observed plan, connected_components must raise a clear error, not block
    forever in Observation.get."""
    from kda_flink_demo_spark.operators.llm import clustering

    df = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    real = type(df).localCheckpoint
    calls = []

    def local_checkpoint(self, eager=True):
        calls.append(1)
        return real(self, eager) if len(calls) <= real_checkpoints else self

    monkeypatch.setattr(clustering, "narrow_checkpoint", lambda d, rows: d)
    monkeypatch.setattr(type(df), "localCheckpoint", local_checkpoint)
    with pytest.raises(RuntimeError, match="connected_components: the observed action"):
        clustering.connected_components(df)


def test_bpe_train_degenerate_corpus_emits_no_step_rows(spark):
    """A corpus whose vocabulary runs out of adjacent pairs mid-training
    emits NO row for the pair-less steps (the lazy-argmax rewrite keeps the
    earlier behavior: the constant columns come back NULL from the left join
    and the step row is filtered, never a NULL-pair row)."""
    from kda_flink_demo_spark.operators.llm.text import bpe_encode, bpe_merge_train

    # one 2-char word: step 1 merges ("a","b"), steps 2..4 have no pairs
    df = spark.createDataFrame([(1, "ab x y z")], "doc_id long, text string")
    merges = bpe_merge_train(df, steps=4)
    rows = sorted(tuple(r) for r in merges.collect())
    assert rows == [(1, "a", "b", "ab", 1)]
    # and the encoder still applies the single learned merge
    enc = {r["doc_id"]: r["tokens_text"] for r in bpe_encode(df, steps=4).collect()}
    assert enc[1] == "ab|x|y|z"


def test_cms_window_total_equals_stream_total(spark):
    """The N-rides-cells identity: for every hash row d, the per-d cell
    total equals the total trigram stream count (each term lands in exactly
    one bucket per d) — and the report's within_bound therefore uses the same
    N the old counts-wide aggregate computed."""
    from kda_flink_demo_spark.operators.sketches import cms_heavy_hitters_report

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * (i % 3 + 1))
         for i in range(40)],
        "doc_id long, text string",
    )
    rep = cms_heavy_hitters_report(df, k=10).collect()
    assert len(rep) == 10
    # CMS never undercounts; the designed corpus stays inside the bound
    assert all(r["err"] >= 0 for r in rep)
    assert all(r["within_bound"] for r in rep)
    assert all(r["cms_est"] >= r["exact_cnt"] for r in rep)
