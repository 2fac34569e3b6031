"""Skew probe: manufacture a hot key (~90% of rows) and compare a naive
group-by against the two-stage salted aggregation (operators pattern in
registry_extra.q_skew_salted). On a real cluster the naive plan leaves one
reducer with 90% of the data; salting spreads it across salt_buckets reducers.

Run: python scripts/skew_probe.py [replicas]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# probes stress beyond fixture scale (1M+-node CC graphs) — give the local
# JVM a realistic driver/executor heap instead of the 1 GB default the
# fixture-scale bench/tests run in (must be set before the JVM launches)
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 8g pyspark-shell")

from pyspark.sql import functions as F  # noqa: E402

from kda_flink_demo_spark.io.sources import load_table  # noqa: E402
from kda_flink_demo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    base = load_table(spark, SF_DIR, "events")
    parts = [base.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000)) for i in range(replicas)]
    ev = parts[0]
    for p in parts[1:]:
        ev = ev.unionByName(p)
    # hot key: ~90% of rows map to key 0
    skewed = ev.select(
        F.when(F.rand(seed=42) < 0.9, F.lit(0))
        .otherwise((F.col("user_id") % 100) + 1)
        .alias("k"),
        "value",
    )

    def bench(df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2)

    naive = skewed.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
    t_naive = bench(naive)

    salt_buckets = 64
    salted = (
        skewed.withColumn("_salt", (F.rand(seed=7) * salt_buckets).cast("int"))
        .groupBy("k", "_salt")
        .agg(F.count(F.lit(1)).alias("_c"), F.sum("value").alias("_s"))
        .groupBy("k")
        .agg(F.sum("_c").alias("cnt"), F.sum("_s").alias("sv"))
    )
    t_salted = bench(salted)

    # per-key top-k under the same 90%-hot key: naive single window vs the
    # two-phase local-prune ranking domain_cap uses (operators/llm/sampling.py)
    from pyspark.sql import Window

    docs = skewed.select(
        F.monotonically_increasing_id().alias("doc_id"), F.col("k").cast("string").alias("source")
    )
    cap = 10
    w_naive = Window.partitionBy("source").orderBy("doc_id")
    naive_cap = (
        docs.withColumn("r", F.row_number().over(w_naive)).filter(F.col("r") <= cap)
    )
    t_cap_naive = bench(naive_cap)

    from kda_flink_demo_spark.operators.llm.sampling import domain_cap

    t_cap_twophase = bench(domain_cap(docs, cap=cap))

    # FULL per-group ranking (not top-k — every row keeps its rank) on the
    # same hot group: naive per-group window sorts 90% of rows in one task;
    # grouped_rank range-partitions the order key so the hot group spreads
    # across the cluster
    w_rank = Window.partitionBy("source").orderBy("doc_id")
    naive_rank = docs.withColumn("r", F.row_number().over(w_rank) - 1)
    t_rank_naive = bench(naive_rank)

    from kda_flink_demo_spark.operators.llm.packing import grouped_rank

    t_rank_prefix = bench(grouped_rank(docs, "source", ["doc_id"], out_col="r"))

    # HOT-TERM corpus for the round-7 text ops: one stopword ("the") is ~50%
    # of all term occurrences — the worst-case posting list / heavy-hitter
    # key. inverted_index must stay bounded (rank-filter BEFORE collect_list
    # caps the hot term's state at postings_cap) and cms_heavy_hitters is
    # constant-state by construction (partial→final sketch cells); the naive
    # baseline collects the hot term's FULL posting list into one reducer row.
    from kda_flink_demo_spark.functions import spread_for_compute
    from kda_flink_demo_spark.operators.llm.text import inverted_index
    from kda_flink_demo_spark.operators.sketches import cms_heavy_hitters_report

    docs0 = spread_for_compute(load_table(spark, SF_DIR, "documents"))
    dparts = [
        docs0.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        for i in range(max(replicas // 2, 1))
    ]
    docs_rep = dparts[0]
    for p in dparts[1:]:
        docs_rep = docs_rep.unionByName(p)
    # prefix ~40 copies of the hot term: fixture docs average ~40 tokens, so
    # the hot term lands near 50% of term rows
    hot_docs = docs_rep.withColumn(
        "text", F.concat(F.expr("repeat('the ', 40)"), F.col("text"))
    ).localCheckpoint()
    n_docs = hot_docs.count()
    term_rows = hot_docs.select(
        F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    hot_share = (
        term_rows.agg(
            F.avg((F.col("term") == "the").cast("double")).alias("s")
        ).first()["s"]
    )

    t_inverted_hot = bench(inverted_index(hot_docs, postings_cap=20, min_df=2))
    # sanity: the hot term's STATE is bounded at cap while its doc_freq still
    # counts every document
    hot_row = (
        inverted_index(hot_docs, postings_cap=20, min_df=2)
        .filter(F.col("term") == "the")
        .select(
            F.size(F.split("postings", ",")).alias("p"),  # CSV posting list
            "doc_freq",
        )
        .first()
    )
    assert hot_row["p"] == 20 and hot_row["doc_freq"] == n_docs

    naive_index = (
        hot_docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.collect_list("doc_id").alias("postings"),  # UNBOUNDED hot state
            F.countDistinct("doc_id").alias("doc_freq"),
        )
    )
    t_inverted_naive = bench(naive_index)

    t_cms_hot = bench(cms_heavy_hitters_report(hot_docs, k=10))

    # MONOCULTURE perceptual-hash corpus (r08 verdict directive 7): 90% of a
    # screenshot-farm corpus hashes to a handful of near-identical aHash
    # values, so ALL its quarter blocks collapse onto the same (q, qv) keys.
    # A doc-level blocked self-join pays O(hot²)·4 candidate pairs inside
    # that block — AQE can split the straggler task but cannot shrink the
    # quadratic work. The shipped gate (image_dedup_probe) collapses to
    # DISTINCT hash values first, so the blocked join is O(distinct²) and
    # doc-level rows only reappear in output-sized expansions.
    from kda_flink_demo_spark.operators.llm.image_dedup import (
        _quartered,
        image_dedup_probe,
    )
    from kda_flink_demo_spark.operators.llm.synth_media import image_pattern

    n_mono = 24_000  # naive is O(hot²): 21.6k hot docs ≈ 10⁹ candidate pairs
    # (at 8k docs both plans time alike — 2·10⁸ codegen'd integer comparisons
    # hide inside scan noise on 32 cores; the quadratic needs room to bite)
    # the 4 VARIANTS of ONE group: within hamming ≤ 3 of each other, so the
    # hot 90% shares (most) quarter buckets — the true monoculture block shape
    sat = [image_pattern(v * 20) for v in range(4)]

    def _signed(w):
        return w - (1 << 64) if w >= 1 << 63 else w

    ids = spark.range(n_mono).withColumnRenamed("id", "doc_id")
    mono = ids.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 < 9,  # 90%: one of 4 near-identical hashes
            F.element_at(
                F.array(*[F.lit(_signed(s)) for s in sat]),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ),
        )
        .otherwise(F.xxhash64(F.col("doc_id")))  # 10%: diverse
        .alias("ahash"),
    ).localCheckpoint()
    incoming = mono.withColumn("payload", F.lit(b""))  # probe works on hashes

    t_gate_collapsed = bench(
        image_dedup_probe(incoming, None, max_hamming=5, batch_hashes=mono)
    )
    survivors_collapsed = image_dedup_probe(
        incoming, None, max_hamming=5, batch_hashes=mono
    ).count()

    # naive doc-level baseline: the pre-r09 within-batch join shape
    bq = _quartered(
        mono.select(F.col("doc_id").alias("b_id"), F.col("ahash").alias("b_h")),
        "b_h",
        ["b_id", "b_h"],
    )
    naive_drops = (
        bq.join(
            bq.select(
                "q", "qv", F.col("b_id").alias("a_id"), F.col("b_h").alias("a_h")
            ),
            ["q", "qv"],
        )
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.bit_count(F.col("a_h").bitwiseXOR(F.col("b_h"))) <= 5)
        )
        .select(F.col("b_id").alias("_drop_id"))
        .distinct()
    )
    naive_gate = incoming.join(
        naive_drops, F.col("doc_id") == F.col("_drop_id"), "left_anti"
    )
    t_gate_naive = bench(naive_gate)
    survivors_naive = naive_gate.count()
    assert survivors_naive == survivors_collapsed, (
        f"gate parity broke: {survivors_naive} vs {survivors_collapsed}"
    )

    # CHAINED-VARIANT near-dup corpus (r09 verdict directive 5): a chain of
    # variants v0~v1~…~vK (each adjacent pair within the dedup radius, ends
    # far apart) feeds connected_components a PATH graph — the depth-worst
    # case for label propagation. Measured against a same-size STAR corpus
    # (diameter 2 — the shape hash_near_dup_edges emits for a monoculture
    # cluster) to isolate iteration depth from per-round cost, plus a
    # diameter-100 chain that plain one-hop propagation could not finish at
    # all within max_iter=20 (101 rounds needed). The shipped loop's pointer
    # jumping (label-of-label, r10) makes rounds ≈ log2(diameter) + 2.
    from kda_flink_demo_spark.operators.llm.clustering import connected_components

    def time_cc(edges_df, expect_comps):
        st: dict = {}
        t0 = time.time()
        cc = connected_components(edges_df, stats=st)
        n_comp = cc.select("component").distinct().count()
        assert n_comp == expect_comps
        return st.get("rounds"), round(time.time() - t0, 2)

    def chain_edges_of(n_chains_, chain_len_):
        b = spark.range(n_chains_ * chain_len_).withColumnRenamed("id", "nid")
        return (
            b.filter((F.col("nid") % chain_len_) != chain_len_ - 1)
            .select(F.col("nid").alias("doc_a"), (F.col("nid") + 1).alias("doc_b"))
            .localCheckpoint()
        )

    chain_len, n_chains = 11, 100_000
    cc_chain_rounds, t_cc_chain = time_cc(chain_edges_of(n_chains, chain_len), n_chains)

    base_ids = spark.range(n_chains * chain_len).withColumnRenamed("id", "nid")
    star_edges = (
        base_ids.filter((F.col("nid") % chain_len) != 0)
        .select(
            (F.col("nid") - F.col("nid") % chain_len).alias("doc_a"),
            F.col("nid").alias("doc_b"),
        )
        .localCheckpoint()
    )
    cc_star_rounds, t_cc_star = time_cc(star_edges, n_chains)

    cc_deep_rounds, t_cc_deep = time_cc(chain_edges_of(10_000, 101), 10_000)

    n = ev.count()
    print(
        json.dumps(
            {
                "rows": n,
                "cc_nodes": n_chains * chain_len,
                "cc_chain_diameter": chain_len - 1,
                "cc_chain_rounds": cc_chain_rounds,
                "cc_chain_sec": t_cc_chain,
                "cc_star_rounds": cc_star_rounds,
                "cc_star_sec": t_cc_star,
                "cc_deep_chain_diameter": 100,
                "cc_deep_chain_rounds": cc_deep_rounds,
                "cc_deep_chain_sec": t_cc_deep,
                "naive_sec": t_naive,
                "salted_sec": t_salted,
                "topk_naive_sec": t_cap_naive,
                "topk_twophase_sec": t_cap_twophase,
                "rank_naive_sec": t_rank_naive,
                "rank_prefix_sec": t_rank_prefix,
                "hot_term_docs": n_docs,
                "hot_term_share": round(hot_share, 3),
                "inverted_index_hot_sec": t_inverted_hot,
                "inverted_naive_hot_sec": t_inverted_naive,
                "cms_hot_sec": t_cms_hot,
                "mono_docs": n_mono,
                "mono_survivors": survivors_collapsed,
                "ahash_gate_collapsed_sec": t_gate_collapsed,
                "ahash_gate_doc_level_sec": t_gate_naive,
            }
        )
    )


if __name__ == "__main__":
    main()
