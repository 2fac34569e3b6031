"""Validation for the approximation operators that have no SQL oracle: MinHash
LSH and SimHash against exact n-gram Jaccard, ANN-LSH recall against brute
force."""

from __future__ import annotations

import pytest

from kda_flink_demo_spark.io.sources import load_table
from kda_flink_demo_spark.operators.llm import dedup, similarity
from tests.conftest import SF_DIR, drain, write_replay


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def test_minhash_lsh_equals_exact_at_high_threshold(documents):
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(documents, threshold=0.8).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(documents, threshold=0.8).collect()}
    assert exact, "fixture should contain planted near-dups"
    # precision is exact (candidates re-verified); recall ~1 at these params
    assert lsh == exact


def test_minhash_udf_signature_bit_identical_to_jvm(documents):
    """The vectorized pandas-UDF signature must equal the JVM expression
    element-for-element (pure int64 math on both paths)."""
    from pyspark.sql import functions as F

    hashes = documents.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", dedup.shingle_hashes(dedup.word_ngrams(F.col("text"), 3)).alias("hashes")
    )
    jvm = hashes.select(
        "doc_id", dedup.minhash_signature_from_hashes(F.col("hashes"), 64, 42).alias("sig")
    )
    udf = hashes.select("doc_id", dedup.minhash_signature_udf(64, 42)(F.col("hashes")).alias("sig"))
    got = {r.doc_id: list(r.sig) for r in udf.collect()}
    want = {r.doc_id: list(r.sig) for r in jvm.collect()}
    assert got == want


def test_simhash_finds_planted_near_dups(documents):
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(documents, threshold=0.9).collect()
    }
    sim = {(r.doc_a, r.doc_b) for r in dedup.simhash_pairs(documents, max_hamming=8).collect()}
    assert exact
    found = len(exact & sim) / len(exact)
    assert found >= 0.8, f"simhash recall {found} on near-identical docs"


def test_lsh_ann_recall_vs_brute_force(embeddings):
    qids = [0, 1, 2, 3, 4]
    brute = similarity.cosine_topk(embeddings, qids, k=5).collect()
    ann = similarity.lsh_ann_topk(embeddings, qids, k=5).collect()
    brute_set = {(r.query_id, r.neighbor_id) for r in brute}
    ann_set = {(r.query_id, r.neighbor_id) for r in ann}
    recall = len(brute_set & ann_set) / len(brute_set)
    # deterministic (fixed planes + data): measured 0.72 at sf0.001, 0.56 at sf0.01
    assert recall >= 0.5, f"ANN recall {recall} too low (got {len(ann_set)} pairs)"


def test_ivf_ann_recall_vs_brute_force(embeddings):
    qids = [0, 1, 2, 3, 4]
    brute = {(r.query_id, r.neighbor_id) for r in similarity.cosine_topk(embeddings, qids, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in similarity.ivf_ann_topk(embeddings, qids, k=5).collect()}
    recall = len(brute & ivf) / len(brute)
    # near-random embeddings: nprobe=5 of 10 lists scans ~half the corpus;
    # measured 0.4 at sf0.001, 0.76 at sf0.01 (deterministic)
    assert recall >= 0.35, f"IVF recall {recall}"
    assert all(r.rank <= 5 for r in similarity.ivf_ann_topk(embeddings, qids, k=5).collect())


def test_exact_dedup_keep_first(documents):
    kept = dedup.exact_dedup_keep_first(documents)
    assert kept.count() == documents.select("text").distinct().count()


def test_connected_components_long_chain(spark):
    """A 12-node chain (diameter 11) needs 11 propagation rounds — exercises the
    localCheckpoint lineage truncation path and full convergence."""
    from kda_flink_demo_spark.operators.llm import clustering

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
    )
    comp = clustering.connected_components(pairs, max_iter=20)
    rows = comp.collect()
    assert len(rows) == 12
    assert {r.component for r in rows} == {0}


def test_connected_components_raises_without_convergence(spark):
    """Exiting by max_iter without convergence must raise, not silently return
    partial labels (ADVICE r01)."""
    from kda_flink_demo_spark.operators.llm import clustering

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        clustering.connected_components(pairs, max_iter=5)


def test_connected_components_two_components(spark):
    from kda_flink_demo_spark.operators.llm import clustering

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13)], "doc_a long, doc_b long"
    )
    rows = clustering.connected_components(pairs).collect()
    bynode = {r.node: r.component for r in rows}
    assert bynode == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_lsh_multiprobe_improves_recall(embeddings):
    """nprobe>1 probes flip-1-bit buckets too: candidate sets strictly grow, so
    recall vs brute force is monotonically non-decreasing in nprobe."""
    qids = [0, 1, 2, 3, 4]
    brute = {(r.query_id, r.neighbor_id) for r in similarity.cosine_topk(embeddings, qids, k=5).collect()}

    def recall(nprobe):
        ann = {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_ann_topk(embeddings, qids, k=5, nprobe=nprobe).collect()
        }
        return len(brute & ann) / len(brute)

    r1, r3, r5 = recall(1), recall(3), recall(5)
    assert r1 <= r3 <= r5, (r1, r3, r5)
    assert r5 > r1, "multi-probe should add candidates on this fixture"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        similarity.lsh_ann_topk(embeddings, qids, k=5, nprobe=9)


def test_embedding_near_dup_chunked_matmul_matches_unchunked(embeddings):
    """The per-block matmul row-chunks to bound memory; a tiny chunk size must
    produce the identical pair set (exercises the multi-chunk triangle logic
    that a big block would hit at scale)."""
    full = similarity.embedding_near_dup_pairs(embeddings, block_col="label", threshold=0.35)
    chunked = similarity.embedding_near_dup_pairs(
        embeddings, block_col="label", threshold=0.35, chunk_rows=7
    )
    as_set = lambda df: {(r.vec_a, r.vec_b, r.cosine) for r in df.collect()}
    assert as_set(full) == as_set(chunked)
    assert len(as_set(full)) > 0


def test_pack_sequences_distributed_prefix_sum_is_exact(documents):
    """chunk_id/chunk_offset must reconstruct the exact global running token
    offset in doc_id order, and offsets stay inside the budget."""
    from kda_flink_demo_spark.operators.llm import packing

    budget = 100
    rows = sorted(
        packing.pack_sequences(documents, budget=budget).collect(), key=lambda r: r.doc_id
    )
    running = 0
    for r in rows:
        assert 0 <= r.chunk_offset < budget
        assert r.chunk_id * budget + r.chunk_offset == running
        running += r.n_tokens


def test_contamination_hash_join_matches_exact(documents):
    """join_on_hash=True (8-byte broadcast keys) must produce the identical
    pair set on real data — collisions are a 2^-64 tail, not a fixture event."""
    from pyspark.sql import functions as F

    tr = documents.filter(F.col("doc_id") % 10 != 0)
    ev = documents.filter(F.col("doc_id") % 10 == 0)
    as_set = lambda df: {(r.train_id, r.eval_id, r.shared_shingles) for r in df.collect()}
    assert as_set(dedup.contamination_pairs(tr, ev)) == as_set(
        dedup.contamination_pairs(tr, ev, join_on_hash=True)
    )


def test_lsh_multiprobe_recall_monotone(embeddings):
    """Flip-1-bit multi-probe must only ADD candidates: recall at nprobe=3 is
    >= recall at nprobe=1 (and the nprobe=1 candidate set is a subset)."""
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(embeddings, qids, k=5).collect()
    }
    one = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_ann_topk(embeddings, qids, k=5, nprobe=1).collect()
    }
    three = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_ann_topk(embeddings, qids, k=5, nprobe=3).collect()
    }
    assert len(brute & three) >= len(brute & one)
    with pytest.raises(ValueError):
        similarity.lsh_ann_topk(embeddings, qids, k=5, nprobe=99)


def test_quantize_roundtrip_error_bound(embeddings):
    """int8 quantization reconstruction error must respect the half-step bound:
    mse <= (scale/2)^2 for every vector."""
    from kda_flink_demo_spark.operators.llm import embeddings as emb

    rows = emb.quantize_embeddings(embeddings).collect()
    assert rows
    for r in rows:
        assert r.mse <= (r.scale / 2.0) ** 2 + 1e-12, (r.vec_id, r.mse, r.scale)
        assert len(r.q_head.split(",")) == 8


def test_apply_dedup_drops_exactly_noncanonical(documents):
    """Survivor count = corpus − Σ(cluster_size − 1); every canonical survives,
    no non-canonical does."""
    from kda_flink_demo_spark.operators.llm import clustering

    pairs = dedup.minhash_lsh_pairs(documents, threshold=0.8)
    clusters = clustering.dedup_clusters(documents, pairs)
    survivors = clustering.apply_dedup(documents, clusters)
    n_docs = documents.count()
    cl = clusters.collect()
    n_noncanon = sum(1 for r in cl if r.doc_id != r.canonical_id)
    assert n_noncanon > 0, "fixture should contain planted near-dups"
    assert survivors.count() == n_docs - n_noncanon
    surv_ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    for r in cl:
        assert (r.doc_id in surv_ids) == (r.doc_id == r.canonical_id)


def test_chunk_documents_reconstructs_and_overlaps(documents):
    """Stride-wise slices must tile each document: chunk k starts at k*stride,
    consecutive chunks overlap by size − stride, and concatenating each chunk's
    non-overlapping head reconstructs the document exactly."""
    from kda_flink_demo_spark.operators.llm import text as t

    size, stride = 64, 48
    doc = documents.orderBy("doc_id").limit(5)
    texts = {r.doc_id: r.text for r in doc.collect()}
    chunks = t.chunk_documents(doc, size=size, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for did, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        toks = texts[did].split(" ")
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        rebuilt: list[str] = []
        for r in rows:
            ctoks = r.chunk_text.split(" ") if r.chunk_text else []
            start = r.chunk_idx * stride
            assert ctoks == toks[start : start + size]
            assert r.n_chunk_tokens == len(ctoks)
            rebuilt.extend(ctoks[: stride] if r.chunk_idx < len(rows) - 1 else ctoks)
        # heads of all but the last chunk + the whole last chunk = the document
        assert rebuilt == toks


def test_global_shuffle_order_is_permutation(documents):
    """Positions are exactly 0..N-1 (a permutation), stable across reruns, and
    different from the identity order."""
    from kda_flink_demo_spark.operators.llm import packing

    out = packing.global_shuffle_order(documents).collect()
    pos = sorted(r.shuffle_pos for r in out)
    assert pos == list(range(len(out)))
    again = {r.doc_id: r.shuffle_pos for r in packing.global_shuffle_order(documents).collect()}
    assert {r.doc_id: r.shuffle_pos for r in out} == again
    ids_in_order = [r.doc_id for r in sorted(out, key=lambda r: r.shuffle_pos)]
    assert ids_in_order != sorted(ids_in_order)


def test_prefix_sum_ops_invariant_to_input_partitioning(documents):
    """pack_sequences and global_shuffle_order range-partition internally, so
    the result must not depend on how the input arrives partitioned."""
    from kda_flink_demo_spark.operators.llm import packing

    def key(df):
        return sorted(tuple(r) for r in df.collect())

    base_pack = key(packing.pack_sequences(documents))
    base_shuf = key(packing.global_shuffle_order(documents))
    for n in (1, 7):
        repart = documents.repartition(n)
        assert key(packing.pack_sequences(repart)) == base_pack, n
        assert key(packing.global_shuffle_order(repart)) == base_shuf, n


def test_duplicate_spans_matches_brute_force(spark):
    """Constructed corpus with a planted shared 10-token span: stats must equal
    the brute-force python computation."""
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"  # 12 toks → 3 spans
    b = "x0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 y0"  # shares span w1..w10
    c = "z1 z2 z3 z4 z5 z6 z7 z8 z9"  # 9 toks → no spans
    df = spark.createDataFrame([(0, a), (1, b), (2, c)], "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_span_ratio)
        for r in dedup.duplicate_spans(df, span=10).collect()
    }
    # brute force
    docs = {0: a, 1: b, 2: c}
    spans = {
        i: {" ".join(t.split()[j : j + 10]) for j in range(len(t.split()) - 9)}
        for i, t in docs.items()
    }
    from collections import Counter

    cnt = Counter(s for ss in spans.values() for s in ss)
    exp = {}
    for i, ss in spans.items():
        if not ss:
            continue
        dup = sum(1 for s in ss if cnt[s] >= 2)
        exp[i] = (len(ss), dup, round(dup / len(ss), 4))
    assert got == exp
    assert got[0][1] == 1 and got[1][1] == 1  # the planted span counted once each
    assert 2 not in got  # sub-span-length doc absent


def test_temperature_resample_properties(documents):
    """Smallest group survives in full; larger groups are thinned toward
    sqrt-proportional counts; the decision is deterministic."""
    from kda_flink_demo_spark.operators.llm import sampling

    before = {r["lang"]: r["count"] for r in documents.groupBy("lang").count().collect()}
    out = sampling.temperature_resample(documents, source_col="lang", alpha=0.5)
    after = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    n_min = min(before.values())
    for lang, n in before.items():
        if n == n_min:
            assert after[lang] == n  # p=1: smallest source fully kept
        else:
            assert after[lang] <= n
    # deterministic: same rows on a second run
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(
        r.doc_id
        for r in sampling.temperature_resample(documents, source_col="lang", alpha=0.5).collect()
    )
    assert ids1 == ids2


def test_filter_pipeline_first_failure_precedence(spark):
    """A doc failing several gates reports the FIRST (too_short ≻
    duplicated_spans ≻ low_quality); clean docs are kept."""
    from kda_flink_demo_spark.operators.llm import pipeline

    stop = "the and of to a in is"
    dup = " ".join(f"d{i}" for i in range(30))  # identical pair → ratio 1.0
    kept = " ".join(f"{stop} u{i}" for i in range(8))  # 64 toks, stopword-rich
    junk = " ".join(["%%%"] * 30)  # punct-heavy, no stopwords
    df = spark.createDataFrame(
        [(0, "tiny %%% " + dup), (1, dup), (2, dup), (3, kept), (4, junk)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.verdict for r in pipeline.filter_pipeline(df, min_tokens=25).collect()}
    assert got[0] != "too_short"  # 32 tokens: length gate passes...
    assert got[1] == "duplicated_spans" and got[2] == "duplicated_spans"
    assert got[3] == "kept"
    assert got[4] == "low_quality"
    # and a genuinely short doc reports too_short even though it also fails quality
    short = spark.createDataFrame([(9, "%% %%")], "doc_id long, text string")
    assert pipeline.filter_pipeline(short, min_tokens=25).collect()[0].verdict == "too_short"


def test_length_buckets_powers_of_two(spark):
    from kda_flink_demo_spark.operators.llm import text as text_ops

    rows = [(i, " ".join(["t"] * n)) for i, n in enumerate([1, 2, 3, 4, 7, 8])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.bucket: (r.bucket_min_tokens, r.n_docs) for r in text_ops.length_buckets(df).collect()}
    assert got == {0: (1, 1), 1: (2, 2), 2: (4, 2), 3: (8, 1)}


def test_domain_cap_invariant_to_partitioning(documents):
    """The two-phase skew-proof top-k must equal the single-window spec for
    ANY physical partitioning of the input (the local prune is rank-order
    preserving)."""
    from kda_flink_demo_spark.operators.llm import sampling

    base = sorted(
        (r.doc_id, r.source, r.cap_rank)
        for r in sampling.domain_cap(documents, cap=7).collect()
    )
    assert base and max(r[2] for r in base) <= 7
    for n in (1, 3, 64):
        got = sorted(
            (r.doc_id, r.source, r.cap_rank)
            for r in sampling.domain_cap(documents.repartition(n), cap=7).collect()
        )
        assert got == base, n


def test_token_budget_select_invariant_and_within_budget(documents):
    from kda_flink_demo_spark.operators.llm import sampling

    out = sampling.token_budget_select(documents, budget=4096).collect()
    assert out, "budget should admit some docs"
    assert max(r.cum_tokens for r in out) <= 4096
    base = sorted((r.doc_id, r.cum_tokens) for r in out)
    for n in (1, 5):
        got = sorted(
            (r.doc_id, r.cum_tokens)
            for r in sampling.token_budget_select(documents.repartition(n), budget=4096).collect()
        )
        assert got == base, n
    # greedy order: every selected doc has quality >= any unselected doc that
    # would have fit in the remaining gap at its position — spot-check the
    # simplest invariant: the selected set is a prefix of the quality order
    # truncated only by overflowing docs.


def test_bigram_lm_score_prefers_predictable_text(spark):
    """A doc made of one repeated bigram chain must score lower avg-NLL than a
    doc of corpus-unique bigrams."""
    from kda_flink_demo_spark.operators.llm import lm

    # Context `x` is followed by `y` most of the time corpus-wide, so doc 0's
    # (x,y) bigrams are high-probability; doc 1 pairs the SAME context with 20
    # one-off successors → P(v_i|x) = 1/c(x) each. (A doc of corpus-unique
    # bigrams would score 0: MLE gives unseen contexts probability 1.)
    predictable = " ".join(["x y"] * 20)
    unpredictable = " ".join(f"x v{i}" for i in range(20))
    filler = [(10 + i, " ".join(["x y"] * 5)) for i in range(5)]
    df = spark.createDataFrame(
        [(0, predictable), (1, unpredictable)] + filler, "doc_id long, text string"
    )
    got = {r.doc_id: r.avg_nll for r in lm.bigram_lm_score(df).collect()}
    assert got[0] < got[1]
    # hash-join variant computes identical scores (collision-free here)
    hashed = {r.doc_id: r.avg_nll for r in lm.bigram_lm_score(df, join_on_hash=True).collect()}
    assert hashed == got


def test_assign_shards_balanced_and_invariant(documents):
    """Every shard's token mass is within one max-document of the ideal
    total/n slice, and assignments don't depend on input partitioning."""
    from kda_flink_demo_spark.operators.llm import packing

    n = 8
    out = packing.assign_shards(documents, n_shards=n).collect()
    total = sum(r.n_tokens for r in out)
    max_doc = max(r.n_tokens for r in out)
    per_shard = {}
    for r in out:
        per_shard[r.shard] = per_shard.get(r.shard, 0) + r.n_tokens
    assert set(per_shard) == set(range(n))
    for mass in per_shard.values():
        assert mass <= total / n + max_doc
    base = sorted((r.doc_id, r.shard) for r in out)
    for parts in (1, 5):
        got = sorted(
            (r.doc_id, r.shard)
            for r in packing.assign_shards(documents.repartition(parts), n_shards=n).collect()
        )
        assert got == base, parts


def test_duplicate_spans_fuzz_vs_brute_force(spark):
    """Seeded-random tiny corpora with a small vocabulary (forcing shared
    spans): operator output must equal the python brute force every time."""
    import random
    from collections import Counter

    rng = random.Random(1234)
    for trial in range(5):
        span = rng.choice([2, 3, 5])
        docs = {
            i: " ".join(rng.choice("abcdef") for _ in range(rng.randint(0, 12)))
            for i in range(12)
        }
        df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
        got = {
            r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_span_ratio)
            for r in dedup.duplicate_spans(df, span=span).collect()
        }
        spans = {
            i: {
                " ".join(t.split(" ")[j : j + span])
                for j in range(len(t.split(" ")) - span + 1)
            }
            for i, t in docs.items()
        }
        import math

        cnt = Counter(s for ss in spans.values() for s in ss)
        exp = {}
        for i, ss in spans.items():
            if not ss:
                continue
            dup = sum(1 for s in ss if cnt[s] >= 2)
            exp[i] = (len(ss), dup, math.floor(dup / len(ss) * 10000 + 0.5) / 10000)
        assert got == exp, (trial, span)


def test_kmeans_objective_nonincreasing_and_partition_invariant(embeddings):
    """Lloyd's guarantee: the mean squared distance to the assigned centroid
    is non-increasing in the number of assignment rounds (the synthetic
    embeddings have no recoverable label structure — supervised
    label-centroid assignment only reaches ~0.41 purity — so the objective,
    not purity, is the testable property). Assignments must also be invariant
    to input partitioning: seeding is a global hash top-k and the argmin is
    per-row map-side."""
    from pyspark.sql import functions as F

    from kda_flink_demo_spark.operators.llm import kmeans

    means = [
        kmeans.kmeans_assign(embeddings, k=10, iters=i)
        .agg(F.avg("dist2"))
        .collect()[0][0]
        for i in (1, 2, 3)
    ]
    assert means[0] >= means[1] >= means[2]
    assert means[0] > means[2]  # three rounds actually move the centroids

    a = {
        (r.vec_id, r.cluster, r.dist2)
        for r in kmeans.kmeans_assign(embeddings.repartition(1), k=10, iters=3).collect()
    }
    b = {
        (r.vec_id, r.cluster, r.dist2)
        for r in kmeans.kmeans_assign(embeddings.repartition(13), k=10, iters=3).collect()
    }
    assert a == b


def test_kmeans_empty_input_and_k_exceeding_n(spark):
    """Zero-row corpora must plan to empty results; with k > n every row seeds
    its own cluster and sits at distance 0 from it."""
    from kda_flink_demo_spark.operators.llm import kmeans

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kmeans.kmeans_assign(empty).count() == 0
    assert kmeans.semantic_dedup_pairs(empty).count() == 0

    three = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)], "vec_id long, embedding array<float>"
    )
    out = kmeans.kmeans_assign(three, k=10, iters=2).collect()
    assert len(out) == 3
    assert all(r.dist2 == 0.0 for r in out)
    assert len({r.cluster for r in out}) == 3


def test_kmeans_and_pq_accept_column_names_with_spaces(embeddings):
    """Column names are spliced into selectExpr strings backtick-quoted: an id
    and a vector column whose names hold a space give the same assignments
    and codes as the bare names."""
    from kda_flink_demo_spark.operators.llm import kmeans
    from kda_flink_demo_spark.operators.llm.embeddings import pq_encode

    spaced = embeddings.withColumnRenamed("vec_id", "vec id").withColumnRenamed(
        "embedding", "the vector"
    )
    kw = {"id_col": "vec id", "vec_col": "the vector"}

    got = kmeans.kmeans_assign(spaced, k=5, iters=2, **kw)
    assert got.columns == ["vec id", "cluster", "dist2"]
    want = kmeans.kmeans_assign(embeddings, k=5, iters=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    got = pq_encode(spaced, m=4, subdim=4, k=4, iters=2, **kw)
    assert got.columns == ["vec id", "sub", "code", "dist2"]
    want = pq_encode(embeddings, m=4, subdim=4, k=4, iters=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_semantic_dedup_pairs_within_clusters_only(embeddings):
    """Every emitted pair must share a k-means cluster (blocking soundness)
    and carry a cosine at/above the threshold."""
    from kda_flink_demo_spark.operators.llm import kmeans

    asg = {
        r.vec_id: r.cluster
        for r in kmeans.kmeans_assign(embeddings, k=10, iters=3).collect()
    }
    pairs = kmeans.semantic_dedup_pairs(embeddings, k=10, iters=3, threshold=0.35).collect()
    assert pairs, "fixture should contain within-cluster near-dups"
    for r in pairs:
        assert asg[r.vec_a] == asg[r.vec_b]
        assert r.cosine >= 0.35
        assert r.vec_a < r.vec_b


def test_dataset_split_deterministic_proportioned_partition_invariant(documents):
    """The split must be a total assignment, roughly proportioned to the
    weights, identical across partitioning, and stable doc-by-doc (train/val/
    test membership must not move when the corpus is recomputed)."""
    from kda_flink_demo_spark.operators.llm import sampling

    a = {r.doc_id: r.split for r in sampling.dataset_split(documents).collect()}
    b = {
        r.doc_id: r.split
        for r in sampling.dataset_split(documents.repartition(13)).collect()
    }
    assert a == b
    assert len(a) == documents.count()
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.8 * n <= c["train"] <= 0.97 * n  # 90% ± sampling noise at n=500
    # custom weights route through the same integer-threshold path
    d = {
        r.doc_id: r.split
        for r in sampling.dataset_split(documents, weights=(1, 1), names=("a", "b")).collect()
    }
    cd = Counter(d.values())
    assert abs(cd["a"] - cd["b"]) < 0.2 * n


def test_dedup_keep_best_keeps_longest_member(spark):
    from kda_flink_demo_spark.operators.llm import dedup

    df = spark.createDataFrame(
        [
            (1, "same text", 10),
            (2, "same text", 30),  # longest duplicate -> survives
            (3, "same text", 30),  # tie -> loses to smaller id 2
            (4, "unique", 7),
        ],
        "doc_id long, text string, n_chars long",
    )
    got = {
        r.doc_id: (r.n_chars, r.dup_count)
        for r in dedup.exact_dedup_keep_best(df).collect()
    }
    assert got == {2: (30, 3), 4: (7, 1)}
    # hash-grouped and text-grouped paths agree
    got_text = {
        r.doc_id: (r.n_chars, r.dup_count)
        for r in dedup.exact_dedup_keep_best(df, group_on_hash=False).collect()
    }
    assert got_text == got


def test_kmeans_fuzz_vs_python_reference(spark):
    """Seeded-random tiny corpora vs a pure-Python reference implementing the
    documented spec exactly (md5-ordered seeding, left-fold dot products,
    det_round(6) distances with ties to the smallest cluster, det_round(6)
    centroid means). Catches tie-break / fold-order / seeding drift the
    structural DuckDB oracle shares with the Spark side by construction.
    Values are multiples of 1/64 so parallel-sum reassociation cannot sit on
    a rounding boundary."""
    import hashlib
    import math
    import random

    from kda_flink_demo_spark.operators.llm import kmeans

    def rnd6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def ref_kmeans(vecs, k, iters):
        def dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        seeds = sorted(vecs, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))[:k]
        cent = {c: list(v) for c, (_i, v) in enumerate(seeds)}
        asg = {}
        for it in range(iters):
            cn2 = {c: dot(v, v) for c, v in cent.items()}
            asg = {}
            for i, v in vecs:
                vn2 = dot(v, v)
                best = min(
                    (rnd6(vn2 + cn2[c] - 2.0 * dot(v, cent[c])), c) for c in cent
                )
                asg[i] = best[1]
            if it < iters - 1:
                dim = len(vecs[0][1])
                new = {}
                for c in set(asg.values()):
                    members = [v for i, v in vecs if asg[i] == c]
                    new[c] = [
                        rnd6(sum(m[p] for m in members) / len(members))
                        for p in range(dim)
                    ]
                cent = new
        return asg

    rng = random.Random(99)
    for trial in range(4):
        n, dim, k, iters = rng.choice([(20, 4, 3, 2), (30, 3, 5, 3), (12, 6, 4, 2)])
        vecs = [
            (i, [rng.randrange(-64, 65) / 64.0 for _ in range(dim)]) for i in range(n)
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs], "vec_id long, embedding array<float>"
        )
        # float32 storage: the reference must see the same float64 values the
        # engine casts to — multiples of 1/64 are exact in float32
        got = {
            r.vec_id: r.cluster
            for r in kmeans.kmeans_assign(df, k=k, iters=iters).collect()
        }
        want = ref_kmeans(vecs, k, iters)
        assert got == want, (trial, n, dim, k, iters)


def test_interval_dedup_matches_brute_force_and_partitioning(spark):
    """Dense synthetic arrivals: the greedy anchor chain must equal a python
    walk exactly (boundary case ts == anchor + interval is a DROP; strictly
    beyond is a KEEP), for every partitioning of the input."""
    import datetime as dt

    from kda_flink_demo_spark.operators.event_dedup import interval_dedup

    base = dt.datetime(2024, 1, 1)
    rows = []
    # key A: arrivals at 0,100,200,300,301,601,901 sec -> keep 0,301,901 @ gap 300
    for i, s in enumerate([0, 100, 200, 300, 301, 601, 901]):
        rows.append((i, 1, "A", base + dt.timedelta(seconds=s)))
    # key B: tie on ts -> smaller id anchors, other dropped
    rows.append((100, 1, "B", base))
    rows.append((99, 1, "B", base))
    rows.append((101, 1, "B", base + dt.timedelta(seconds=300)))  # == anchor+300: drop
    rows.append((102, 1, "B", base + dt.timedelta(seconds=300, microseconds=1)))  # keep
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )

    def brute(rows, gap=300.0):
        from collections import defaultdict

        bykey = defaultdict(list)
        for eid, uid, et, ts in rows:
            bykey[(uid, et)].append((ts, eid))
        kept = set()
        for arr in bykey.values():
            anchor = None
            for ts, eid in sorted(arr):
                if anchor is None or (ts - anchor).total_seconds() > gap:
                    kept.add(eid)
                    anchor = ts
        return kept

    want = brute(rows)
    assert want == {0, 4, 6, 99, 102}  # sanity of the spec itself
    for parts in (1, 7):
        got = {
            r.event_id
            for r in interval_dedup(df.repartition(parts), interval_sec=300).collect()
        }
        assert got == want, parts


def test_interval_dedup_empty_and_single(spark):
    from kda_flink_demo_spark.operators.event_dedup import interval_dedup

    empty = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, ts timestamp"
    )
    assert interval_dedup(empty).count() == 0


def test_ingest_dedup_fuzzy_drops_edited_recrawls_keeps_fresh(spark):
    """A re-crawl with a tiny edit (high but non-1.0 Jaccard) must drop; a
    genuinely new doc and a short (<n words) doc must survive; within-batch
    duplicates are out of scope and both survive."""
    # long enough that a one-word edit keeps trigram Jaccard >= 0.8:
    # c trigrams, 3 lost -> J=(c-3)/(c+3) >= 0.8 needs c >= 27 (>= 29 words)
    base = " ".join(
        f"w{i} token{i} filler{i}" for i in range(12)
    ) + " the quick brown fox jumps over the lazy dog"
    corpus = spark.createDataFrame(
        [(0, base), (1, "completely different corpus text about spark engines at scale ok")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (100, base),                                   # exact re-crawl -> drop
            (101, base.replace("lazy", "sleepy")),         # near-dup edit  -> drop
            (102, "a wholly new document about training data pipelines and dedup"),
            (103, "too short"),                            # no shingles    -> keep
            (104, "another fresh doc"),
            (105, "another fresh doc"),                    # within-batch dup: kept (out of scope)
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in dedup.ingest_dedup_fuzzy(incoming, corpus).select("doc_id").collect()}
    assert got == {102, 103, 104, 105}


def test_dynamic_gap_session_merge_semantics(spark):
    """Hand-built chains: a purchase's 10-min gap keeps a session open where
    a click's 5-min gap would have closed it; the session end is the max
    member window end (not the last event + its gap when an earlier long-gap
    window reaches further)."""
    import datetime as dt

    from kda_flink_demo_spark.operators.windows import session_counts_dynamic_gap

    base = dt.datetime(2024, 1, 1)
    rows = [
        # key 1: click@0 (5m) then event at +7m -> separate sessions
        (1, "click", base),
        (1, "click", base + dt.timedelta(minutes=7)),
        # key 2: purchase@0 (10m) then event at +7m -> ONE session;
        # end = max(0+10m, 7m+5m) = 12m
        (2, "purchase", base),
        (2, "click", base + dt.timedelta(minutes=7)),
        # key 3: purchase@0 (10m), click@+9m (5m->14m), click@+13m -> one session, end 18m
        (3, "purchase", base),
        (3, "click", base + dt.timedelta(minutes=9)),
        (3, "click", base + dt.timedelta(minutes=13)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_counts_dynamic_gap(df).collect()
    }
    m = dt.timedelta
    assert got == {
        (1, base, base + m(minutes=5), 1),
        (1, base + m(minutes=7), base + m(minutes=12), 1),
        (2, base, base + m(minutes=12), 2),
        (3, base, base + m(minutes=18), 3),
    }


def test_resample_interp_exact_linear_values_and_edges(spark):
    """Hand fixture: observed 10.0@t0 and 40.0@t0+3min -> gaps at +1m/+2m
    interpolate to exactly 20.0/30.0; cells before the first and after the
    last observation stay NULL (no extrapolation); observed buckets keep
    their aggregate."""
    import datetime as dt

    from kda_flink_demo_spark.operators.over_windows import resample_interp

    t0 = dt.datetime(2024, 1, 1, 0, 2)
    rows = [
        ("a", t0, 10.0),
        ("a", t0 + dt.timedelta(minutes=3), 40.0),
        # key b spans the full grid so the overall bounds include t0-2m..t0+4m
        ("b", t0 - dt.timedelta(minutes=2), 1.0),
        ("b", t0 + dt.timedelta(minutes=4), 2.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    got = {
        (r.event_type, r.minute): (r.interp_sum, r.had_data)
        for r in resample_interp(df).collect()
    }
    m = dt.timedelta
    assert got[("a", t0)] == (10.0, True)
    assert got[("a", t0 + m(minutes=1))] == (20.0, False)
    assert got[("a", t0 + m(minutes=2))] == (30.0, False)
    assert got[("a", t0 + m(minutes=3))] == (40.0, True)
    assert got[("a", t0 - m(minutes=1))] == (None, False)  # before first obs
    assert got[("a", t0 + m(minutes=4))] == (None, False)  # after last obs
    # key b: 6 one-minute gaps between 1.0 and 2.0 -> 1/6 steps, rounded to 4
    assert got[("b", t0)] == (1.3333, False)


def test_pca_project_matches_numpy_on_separated_spectrum(spark):
    """Synthetic data with well-separated eigenvalues (so the axes are
    stable): the distributed projection must match a pure-numpy PCA of the
    same rows to float tolerance, be partitioning-invariant, and have
    variance concentrated in the leading component."""
    import numpy as np

    from kda_flink_demo_spark.operators.llm.embeddings import pca_project

    rng = np.random.RandomState(7)
    scales = np.array([10.0, 5.0, 2.0, 1.0, 0.5, 0.25])
    X = rng.randn(400, 6) * scales + np.array([1, -2, 3, 0, 0.5, -1.0])
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {r.vec_id: np.array(r.pca) for r in pca_project(df, k=3).collect()}
    got2 = {
        r.vec_id: np.array(r.pca)
        for r in pca_project(df.repartition(13), k=3).collect()
    }
    # numpy reference with the same sign canonicalization
    mu = X.mean(axis=0)
    cov = np.cov(X.T, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:3]
    comp = vecs[:, order]
    for c in range(comp.shape[1]):
        j = int(np.argmax(np.abs(comp[:, c])))
        if comp[j, c] < 0:
            comp[:, c] = -comp[:, c]
    want = (X - mu) @ comp

    G = np.vstack([got[i] for i in range(len(X))])
    G2 = np.vstack([got2[i] for i in range(len(X))])
    assert np.allclose(G, want, atol=1e-4)
    assert np.allclose(G, G2, atol=1e-4)  # partitioning-invariant to rounding
    v = G.var(axis=0)
    assert v[0] > v[1] > v[2]  # spectrum ordering survives the pipeline


def test_connected_components_fuzz_vs_union_find(spark):
    """Seeded-random graphs vs a pure-python union-find: min-label
    propagation must produce the identical (node -> min reachable id) map on
    chains, cliques, stars, and sparse random graphs alike."""
    import random

    from kda_flink_demo_spark.operators.llm import clustering

    def uf_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(321)
    for trial in range(4):
        n_nodes, n_edges = rng.choice([(30, 20), (40, 60), (25, 12)])
        edges = list(
            {
                tuple(sorted((rng.randrange(n_nodes), rng.randrange(n_nodes))))
                for _ in range(n_edges)
            }
        )
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.node: r.component
            for r in clustering.connected_components(df, max_iter=50).collect()
        }
        assert got == uf_components(edges), (trial, sorted(edges)[:10])


def test_dynamic_gap_session_with_constant_gap_equals_fixed(spark):
    """Internal consistency: the dynamic-gap session operator with a CONSTANT
    gap expression must group exactly like the fixed-gap built-in."""
    from pyspark.sql import functions as F

    from kda_flink_demo_spark.operators.windows import (
        session_counts,
        session_counts_dynamic_gap,
    )

    ev = load_table(spark, SF_DIR, "events")
    fixed = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in session_counts(
            ev.select(F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")),
            gap="5 minutes",
        ).collect()
    }
    dyn = {
        (r.event_type, r.session_start, r.session_end): r.n_events
        for r in session_counts_dynamic_gap(
            ev, key="event_type", ts="ts", gap_col=F.lit("5 minutes")
        ).collect()
    }
    assert dyn == fixed and len(fixed) > 0


def test_pca_project_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    from kda_flink_demo_spark.operators.llm.embeddings import pca_project

    out = pca_project(empty, k=3)
    assert out.count() == 0
    assert out.columns == ["vec_id", "pca"]


def test_prefix_sum_family_fuzz_vs_python(spark):
    """Seeded-random corpora (ragged token counts incl. empty and one-word
    docs): pack_sequences, assign_shards, and global_shuffle_order must equal
    pure-python references exactly — the distributed prefix sum has no
    allowed deviation — at any partitioning."""
    import hashlib
    import random

    from kda_flink_demo_spark.operators.llm import packing

    rng = random.Random(555)
    for trial in range(3):
        n_docs = rng.choice([17, 40])
        docs = [
            (i, " ".join("w" for _ in range(rng.randrange(0, 9))) or "x")
            for i in range(n_docs)
        ]
        budget = rng.choice([5, 16])
        n_shards = rng.choice([3, 4])
        df = spark.createDataFrame(docs, "doc_id long, text string").repartition(
            rng.choice([1, 7])
        )
        ntok = {i: len(t.split(" ")) for i, t in docs}
        total = sum(ntok.values())

        # pack_sequences reference
        run = 0
        want_pack = {}
        for i in sorted(ntok):
            want_pack[i] = (ntok[i], run // budget, run % budget)
            run += ntok[i]
        got_pack = {
            r.doc_id: (r.n_tokens, r.chunk_id, r.chunk_offset)
            for r in packing.pack_sequences(df, budget=budget).collect()
        }
        assert got_pack == want_pack, trial

        # assign_shards reference: shard = start*n // total, clamped
        run = 0
        want_shard = {}
        for i in sorted(ntok):
            want_shard[i] = (ntok[i], min(run * n_shards // total, n_shards - 1))
            run += ntok[i]
        got_shard = {
            r.doc_id: (r.n_tokens, r.shard)
            for r in packing.assign_shards(df, n_shards=n_shards).collect()
        }
        assert got_shard == want_shard, trial

        # global_shuffle_order reference: rank in md5-hash order
        def hkey(i):
            return int(hashlib.md5(f"42:{i}".encode()).hexdigest()[:15], 16)

        order = sorted(ntok, key=lambda i: (hkey(i), i))
        want_pos = {i: p for p, i in enumerate(order)}
        got_pos = {
            r.doc_id: r.shuffle_pos
            for r in packing.global_shuffle_order(df).collect()
        }
        assert got_pos == want_pos, trial

        # grouped_rank reference: 0-based rank within group, ordered by
        # (n_tokens, doc_id) — random skewed groups incl. a singleton group
        groups = {i: ["g0", "g0", "g1", "g2"][rng.randrange(4)] for i in ntok}
        gdf = spark.createDataFrame(
            [(i, groups[i], ntok[i]) for i in ntok], "doc_id long, grp string, n long"
        ).repartition(rng.choice([1, 5]))
        want_rank = {}
        for g in set(groups.values()):
            members = sorted(
                (i for i in ntok if groups[i] == g), key=lambda i: (ntok[i], i)
            )
            for r, i in enumerate(members):
                want_rank[i] = r
        got_rank = {
            r.doc_id: r.rk
            for r in packing.grouped_rank(gdf, "grp", ["n", "doc_id"], out_col="rk").collect()
        }
        assert got_rank == want_rank, trial


def test_source_upsample_matches_python_reference(spark):
    """Every (doc, epoch) copy — including the fractional extra epoch, the
    subsample path (w<100), the dropped source (w=0), and the default — must
    equal a direct python md5 reference, and be partitioning-invariant."""
    import hashlib

    from kda_flink_demo_spark.operators.llm import sampling

    rows = [(i, f"s{i % 5}") for i in range(200)]
    weights = {"s0": 250, "s1": 130, "s2": 60, "s3": 0}
    df = spark.createDataFrame(rows, "doc_id long, source string")
    space = 2**32
    expect = {}
    for i, s in rows:
        w = weights.get(s, 100)
        u = int(hashlib.md5(f"epochs:{i}".encode()).hexdigest()[:8], 16)
        c = w // 100 + (1 if u < space * (w % 100) // 100 else 0)
        for e in range(c):
            expect[(i, e)] = (s, c)
    for part in (None, 7):
        d = df if part is None else df.repartition(part)
        got = {
            (r.doc_id, r.epoch): (r.source, r.n_copies)
            for r in sampling.source_upsample(d, weights).collect()
        }
        assert got == expect, part
    # aggregate sanity: ~2.5 epochs for s0, exact zero for s3
    from collections import Counter

    per_src = Counter(s for (_, _), (s, _) in expect.items())
    assert "s3" not in per_src
    assert 2 * 40 <= per_src["s0"] <= 3 * 40  # 40 docs in s0


def test_mix_interleave_matches_python_reference(spark):
    """src_rank and interleave_pos must equal the virtual-time scheduler spec
    (integer stride keys over per-source md5 ranks), form a permutation of
    0..N-1, and be partitioning-invariant."""
    import hashlib
    import math

    from kda_flink_demo_spark.operators.llm import sampling

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(197)]
    parts = {"a": 4, "b": 2, "c": 1}
    df = spark.createDataFrame(rows, "doc_id long, source string")
    lcm = math.lcm(1, *parts.values())

    def hk(i: int) -> int:
        return int(hashlib.md5(f"mix:{i}".encode()).hexdigest()[:15], 16)

    by_src: dict[str, list[int]] = {}
    for i, s in rows:
        by_src.setdefault(s, []).append(i)
    ranks: dict[int, int] = {}
    for s, ids in by_src.items():
        for r, i in enumerate(sorted(ids, key=lambda j: (hk(j), j))):
            ranks[i] = r
    keyed = sorted(
        ((2 * ranks[i] + 1) * (lcm // parts.get(s, 1)), s, i) for i, s in rows
    )
    expect = {i: (ranks[i], p) for p, (_, _, i) in enumerate(keyed)}
    for part in (None, 11):
        d = df if part is None else df.repartition(part)
        got = {
            r.doc_id: (r.src_rank, r.interleave_pos)
            for r in sampling.mix_interleave(d, parts).collect()
        }
        assert got == expect, part
    assert sorted(p for _, p in expect.values()) == list(range(len(rows)))
    # stride evenness: consecutive docs of the heaviest source (rate 4/8) are
    # never more than ~lcm/w positions apart in the interleaved stream
    a_pos = sorted(p for i, (_, p) in expect.items() if rows[i][1] == "a")
    gaps = [b - a for a, b in zip(a_pos, a_pos[1:])]
    assert max(gaps) <= 2 * (sum(parts.values()) + 1) // parts["a"] + 1


def test_vocab_top_terms_matches_python_reference(spark):
    """Global counts, doc frequencies, and the (count desc, term) ranking —
    including ties at the k boundary — must equal a python Counter reference."""
    from collections import Counter

    from kda_flink_demo_spark.operators.llm import text as text_ops

    rows = [
        (0, "a b b c"),
        (1, "b c c d"),
        (2, "a a e"),
        (3, ""),
        (4, "e e e b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tc: Counter = Counter()
    dfreq: Counter = Counter()
    for _i, t in rows:
        ws = [w for w in t.split(" ") if w]
        tc.update(ws)
        dfreq.update(set(ws))
    ranked = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))
    for k in (3, 100):
        got = {
            r.term: (r.term_count, r.doc_freq, r.vocab_rank)
            for r in text_ops.vocab_top_terms(df, k=k).collect()
        }
        want = {
            t: (c, dfreq[t], i + 1) for i, (t, c) in enumerate(ranked[:k])
        }
        assert got == want, k


def test_quality_top_fraction_matches_python_reference(spark):
    """Per-group keep-counts (integer ceil), rank ordering incl. quality ties,
    and group isolation must equal a python reference; partitioning-invariant."""
    from kda_flink_demo_spark.operators.llm import sampling

    # crafted texts: quality depends on token count / stopwords / punctuation;
    # identical texts create exact quality ties broken by doc_id
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",  # tie with previous
        "a b",
        "!!! ??? ...",
        " ".join(["word"] * 80),
        "the of to a in is and " * 4,
    ]
    rows = [
        (i, texts[i % len(texts)], ["g1", "g2", "g3"][i % 3]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    # python reference for the quality composite (mirrors quality_columns)
    import math
    import re

    stop = {"the", "and", "of", "to", "a", "in", "is"}

    def quality(t: str) -> float:
        toks = t.split(" ")
        n_toks = len(toks)
        n_chars = len(t)
        stop_hits = sum(1 for w in t.lower().split(" ") if w in stop)
        punct = len(re.findall(r"[^\w\s]", t, flags=re.UNICODE))
        q = (
            0.4 * min(n_toks / 64.0, 1.0)
            + 0.3 * min((stop_hits / n_toks) * 4, 1.0)
            + 0.3 * (1 - min((punct / max(n_chars, 1)) * 10, 1.0))
        )
        return math.floor(q * 10000.0 + 0.5) / 10000.0

    num, den = 1, 4
    by_group: dict[str, list] = {}
    for i, t, g in rows:
        by_group.setdefault(g, []).append((i, quality(t)))
    expect = {}
    for g, members in by_group.items():
        k = (len(members) * num + den - 1) // den
        ordered = sorted(members, key=lambda iq: (-iq[1], iq[0]))
        for r, (i, q) in enumerate(ordered[:k]):
            expect[i] = (g, q, r)
    for part in (None, 9):
        d = df if part is None else df.repartition(part)
        got = {
            r.doc_id: (r.lang, r.quality, r.q_rank)
            for r in sampling.quality_top_fraction(d, fraction=(num, den)).collect()
        }
        assert got == expect, part


def test_grouped_rank_ops_keep_null_group(spark):
    """A NULL group is a real group (SQL PARTITION BY semantics): mix_interleave
    must still emit a permutation of 0..N-1 and rank the NULL-source docs as
    their own stream (at the default weight); quality_top_fraction must apply
    its fraction to the NULL group instead of silently dropping it."""
    from kda_flink_demo_spark.operators.llm import sampling

    rows = [(i, ["a", "b", None][i % 3]) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.mix_interleave(df, {"a": 2}).collect()
    assert sorted(r.interleave_pos for r in out) == list(range(30))
    null_ranks = sorted(r.src_rank for r in out if r.source is None)
    assert null_ranks == list(range(10))

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog", ["en", None][i % 2]) for i in range(20)],
        "doc_id long, text string, lang string",
    )
    kept = sampling.quality_top_fraction(docs, fraction=(1, 2)).collect()
    by_grp = {}
    for r in kept:
        by_grp.setdefault(r.lang, []).append(r.q_rank)
    assert sorted(by_grp[None]) == list(range(5))  # ceil(10 * 1/2) = 5
    assert sorted(by_grp["en"]) == list(range(5))


def test_connected_components_survives_null_edge_ids(spark):
    """A NULL endpoint must not delete its partner node: (3, NULL) leaves node
    3 labelled with itself (the pre-fusion union+groupBy-min behavior)."""
    from kda_flink_demo_spark.operators.llm import clustering

    pairs = spark.createDataFrame(
        [(1, 2), (3, None)], "doc_a long, doc_b long"
    )
    got = {
        r.node: r.component
        for r in clustering.connected_components(pairs).collect()
        if r.node is not None
    }
    assert got[1] == 1 and got[2] == 1 and got[3] == 3


def test_editdist_pairs_semantics(spark):
    """Prefix-blocked edit-distance dedup (r12): exact distances on designed
    edits, exact-dup collapse (identical texts never pair with themselves),
    and the blocking contract (a same-distance pair with a DIFFERENT prefix
    is not a candidate)."""
    from kda_flink_demo_spark.operators.llm.dedup import editdist_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base),
        (2, base),                      # exact dup of 1 -> collapses, no pair
        (3, base[:-4] + "dock"),        # same prefix, 3 substitutions at the tail
        (4, base + " again"),           # same prefix, 6 insertions
        (5, "zzz " + base),             # prefix differs -> blocked out
        (6, "completely unrelated text about database query optimizers"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in editdist_pairs(docs, threshold=20).collect()
    }
    assert got[(1, 3)] == 3
    assert got[(1, 4)] == 6
    assert got[(3, 4)] == 9  # tail rewrite (dock -> dog) + the 6-token suffix
    assert all(5 not in p and 2 not in p and 6 not in p for p in got), got


def test_editdist_length_bucket_guard(spark):
    """R13 skew guard: (a) the length-bucket block key is LOSSLESS — a
    qualifying pair whose lengths straddle a bucket boundary is still found
    (the ±1 probe side); (b) the per-block candidate cap binds
    deterministically on min-doc_id order; (c) editdist_block_stats reports
    exactly the texts the cap drops."""
    from kda_flink_demo_spark.operators.llm.dedup import (
        editdist_block_stats,
        editdist_pairs,
    )

    pfx = "shared template header padding!!"  # 32 chars -> one prefix block
    assert len(pfx) == 32
    # lengths straddle a bucket boundary (floor(len/20) differs) at
    # distance 3 -> the ±1 probe must still find the pair
    t_a = pfx + " body body body body body xx"         # len 61 -> bucket 3
    t_b = pfx + " body body body body body"            # len 57 -> bucket 2
    assert len(t_a) // 20 != len(t_b) // 20
    docs = spark.createDataFrame(
        [(1, t_a), (2, t_b)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in editdist_pairs(docs, threshold=20).collect()
    }
    assert got == {(1, 2): 3}, got

    # cap: 4 same-length docs in one block, cap 2 -> only (min, 2nd-min) pair
    mono = spark.createDataFrame(
        [(i, pfx + f" same length body variant {i}") for i in range(4)],
        "doc_id long, text string",
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in editdist_pairs(mono, threshold=20, block_cap=2).collect()
    }
    assert capped == {(0, 1)}, capped
    stats = editdist_block_stats(mono, threshold=20, block_cap=2).collect()[0]
    assert stats["n_texts"] == 4 and stats["n_blocks"] == 1
    assert stats["max_block"] == 4
    assert stats["capped_blocks"] == 1 and stats["dropped_texts"] == 2


def test_ingest_editdist_gate_semantics(spark):
    """Drop rules of the edit-distance ingest gate, each pinned: exact
    within-batch dup, near-corpus hit (including exact corpus dup), earlier
    in-batch near-identical wins, different-prefix docs pass."""
    from kda_flink_demo_spark.operators.llm.dedup import ingest_editdist_gate

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    corpus = spark.createDataFrame(
        [(100, base), (101, "standing corpus doc about query planners only")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (1, base),                  # exact corpus dup -> drop
            (2, base[:-4] + "dock"),    # near corpus (3 edits) -> drop
            (3, "zzz " + base),         # different prefix -> survives
            (4, "zzz " + base + " yo"), # near doc 3 (in-batch, later) -> drop
            (4000, "zzz " + base),      # exact dup of 3 (later id) -> drop
            (5, "fresh unrelated content with no neighbors at all"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"] for r in ingest_editdist_gate(incoming, corpus).collect()
    )
    assert got == [3, 5], got


def test_ingest_editdist_gate_standing_index_parity(spark):
    """R13 BUILD/consume split: the gate probing a PREBUILT standing index
    must pass identical survivors to the build-on-the-fly fallback, and the
    bucket±1 index prune must not lose a corpus hit whose length straddles a
    bucket boundary."""
    from kda_flink_demo_spark.operators.llm.dedup import (
        build_editdist_ingest_index,
        ingest_editdist_gate,
    )

    pfx = "shared template header padding!!"
    corpus = spark.createDataFrame(
        [
            (100, pfx + " corpus body kept around for a while"),  # len 69
            (101, "standing corpus doc about query planners only"),
        ],
        "doc_id long, text string",
    )
    near = pfx + " corpus body kept around for a while padded out abc"
    base = pfx + " corpus body kept around for a while"
    # a corpus hit whose length-bucket differs from the batch text's by 1:
    # the ±1 probe must still find it
    assert len(base) // 20 != len(near) // 20
    assert len(near) - len(base) <= 20
    incoming = spark.createDataFrame(
        [
            (1, near),
            (2, "zzz fresh unrelated content with no neighbors"),
        ],
        "doc_id long, text string",
    )
    assert len(pfx) == 32
    idx = build_editdist_ingest_index(corpus)
    via_index = sorted(
        r["doc_id"]
        for r in ingest_editdist_gate(incoming, corpus_index=idx).collect()
    )
    via_corpus = sorted(
        r["doc_id"] for r in ingest_editdist_gate(incoming, corpus).collect()
    )
    assert via_index == via_corpus == [2], (via_index, via_corpus)


def test_ingest_editdist_gate_corpus_never_shuffles(spark):
    """Plan shape: every join in the gate is broadcast (batch-bounded sides
    broadcast into the corpus scan) — no SortMergeJoin, no corpus-side
    exchange-for-join."""
    from pyspark.sql import functions as F

    from kda_flink_demo_spark.operators.llm.dedup import ingest_editdist_gate

    docs = load_table(spark, SF_DIR, "documents")
    plan = ingest_editdist_gate(
        docs.filter(F.col("doc_id") % 3 == 1), docs.filter(F.col("doc_id") % 3 != 1)
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_rrf_fusion_semantics(spark):
    """R13 hybrid fusion: a doc present in BOTH lists outranks any
    single-list doc at comparable ranks; equal fused scores tie-break on
    doc_id; output is capped at k."""
    from kda_flink_demo_spark.operators.llm.similarity import rrf_fuse

    sparse = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank long",
    )
    dense = spark.createDataFrame(
        [(1, 13, 1), (1, 10, 2), (1, 14, 3)],
        "query_id long, doc_id long, rank long",
    )
    rows = sorted(
        rrf_fuse([sparse, dense], k=4).collect(), key=lambda r: r["rank"]
    )
    assert [r["doc_id"] for r in rows] == [10, 13, 11, 12], rows
    # doc 12 and doc 14 both score 1/63: doc_id tie-break kept 12, k=4 cut 14
    assert rows[0]["rrf_score"] > rows[1]["rrf_score"]

def test_editdist_standing_store_fold_replay_and_compaction(spark, tmp_path):
    """R13 streaming twin of the editdist gate (the ahash-store convention):
    batch 1's near-identical of a batch-0 text drops against the standing
    index, within-batch later-min drops, new texts survive; checkpoint
    REPLAY rewrites identical survivors; a re-crawl of a DROPPED text still
    gates (the index records everything seen); compaction folds segments
    with identical gate decisions after."""
    from kda_flink_demo_spark.streaming.standing_stores import (
        compact_editdist_index_store,
        read_editdist_index,
        update_editdist_index_store,
    )

    store = str(tmp_path / "ed_idx")
    sink = str(tmp_path / "ed_clean")
    pfx = "shared template header padding!!"

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = pfx + " original corpus body kept intact"
    update_ahead = docs([(0, base), (1, "totally different first doc here")])
    update_editdist_index_store(update_ahead, 0, store, sink)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=0").collect()} == {0, 1}

    batch1 = docs(
        [
            (10, base + " ok"),                      # near batch-0 text -> drop
            (11, "zzz genuinely brand new content block here"),   # new -> keep
            (12, "zzz genuinely brand new content block here!!"),  # near 11 in-batch -> drop
        ]
    )
    update_editdist_index_store(batch1, 1, store, sink)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=1").collect()} == {11}
    # index records everything SEEN (3 distinct batch-1 texts + 2 from batch 0)
    assert read_editdist_index(spark, store).count() == 5

    # checkpoint replay of batch 1: identical survivors, identical index
    update_editdist_index_store(batch1, 1, store, sink)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=1").collect()} == {11}
    assert read_editdist_index(spark, store).count() == 5

    # a re-crawl of the DROPPED near-dup text still gates
    update_editdist_index_store(docs([(20, base + " ok")]), 2, store, sink)
    assert spark.read.parquet(f"{sink}/batch=2").count() == 0

    # compaction: fold segments 0..2 into one; decisions identical after
    before = {r.text for r in read_editdist_index(spark, store).collect()}
    compact_editdist_index_store(spark, store, 2)
    after = {r.text for r in read_editdist_index(spark, store).collect()}
    assert before == after
    update_editdist_index_store(docs([(30, base + " okay"), (31, "brand new unseen doc never indexed anywhere")]), 3, store, sink)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=3").collect()} == {31}

def test_editdist_store_real_stream_matches_one_shot_gate(spark, tmp_path):
    """Drive the editdist store through a REAL readStream + foreachBatch +
    checkpoint (not direct fold calls). Because the gate drops against all
    SEEN texts (not just survivors), the streamed fold over batch-ordered
    ids is exactly equivalent to ONE ingest_editdist_gate over everything
    with an empty corpus — the batch-as-oracle identity this test pins."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.io.sources import file_events_stream
    from kda_flink_demo_spark.operators.llm.dedup import ingest_editdist_gate
    from kda_flink_demo_spark.streaming.standing_stores import (
        update_editdist_index_store,
    )

    pfx_a = "family aaa template header pad!!!"
    pfx_b = "family bbb template header pad!!!"
    batches = [
        [
            (1, pfx_a + " body one kept as the family anchor"),
            (2, "unique first-batch doc with nothing near it"),
            (3, pfx_a + " body one kept as the family anchor ok"),  # near 1 -> drop
        ],
        [
            (11, pfx_a + " body one kept as the family anchor !!"),  # near 1 -> drop
            (12, pfx_b + " second family anchor appears here"),
            (13, "another unique doc in the middle batch"),
        ],
        [
            (21, pfx_b + " second family anchor appears here yo"),  # near 12 -> drop
            (22, "unique first-batch doc with nothing near it"),    # exact dup of 2 -> drop
            (23, "a closing unique document nothing matches"),
        ],
    ]
    replay = write_replay(
        str(tmp_path / "replay"),
        [spark.createDataFrame(rows, "doc_id long, text string") for rows in batches],
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    store, sink = str(tmp_path / "ed_idx"), str(tmp_path / "ed_clean")
    drain(
        file_events_stream(spark, replay, schema),
        lambda df, bid: update_editdist_index_store(df, bid, store, sink),
        str(tmp_path / "ckpt"),
    )

    streamed = {r.doc_id for r in spark.read.parquet(sink).collect()}
    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    one_shot = {
        r.doc_id for r in ingest_editdist_gate(all_docs, empty).collect()
    }
    assert streamed == one_shot == {1, 2, 12, 13, 23}, (streamed, one_shot)

def test_editdist_gate_batch_size_branches_agree(spark):
    """R13: the gate's two rule-(3) plans (in-place small-batch self-join vs
    the salted editdist_pairs path) must pass identical survivors — forced
    onto each branch via the cutover parameter on the same input."""
    from pyspark.sql import functions as F

    from kda_flink_demo_spark.operators.llm.dedup import ingest_editdist_gate

    docs = load_table(spark, SF_DIR, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 1)
    corpus = docs.filter(F.col("doc_id") % 3 != 1)
    small = sorted(
        r.doc_id
        for r in ingest_editdist_gate(
            batch, corpus, small_batch_cutover=10**9
        ).collect()
    )
    big = sorted(
        r.doc_id
        for r in ingest_editdist_gate(batch, corpus, small_batch_cutover=0).collect()
    )
    assert small == big and len(small) > 0
