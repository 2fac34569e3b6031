"""Edge-case parity between the Spark operators and their DuckDB oracles on
inputs the driver fixtures don't contain: short documents (< n words, where an
unguarded n-gram build crashes under Spark 4 ANSI mode) and multi-byte UTF-8
documents (where byte-indexed stubs diverge from the oracles' character-domain
ord()). Both classes are common in real corpora, so the operators must agree
with the oracles here too — not just on the ASCII word-soup fixtures."""

from __future__ import annotations

import duckdb
import pytest

from kda_flink_demo_spark.operators.llm import dedup, multimodal, text
from tests.oracle import compare_to_oracle

# short docs (0/1/2 words) + a planted near-dup pair of full-length docs
EDGE_DOCS = [
    (0, ""),
    (1, "hello"),
    (2, "hello world"),
    (3, "the quick brown fox jumps over the lazy dog again and again today"),
    (4, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (5, "one two three four"),
]

# multi-byte UTF-8: 2-byte (é/ö), 3-byte (CJK, em-dash), 4-byte (emoji)
UNICODE_DOCS = [
    (0, "héllo wörld ünïcode naïve café résumé déjà vu"),
    (1, "你好 世界 这是 一个 测试 文档 谢谢 再见"),
    (2, "ascii only plain words here nothing fancy at all"),
    (3, "🎉 party 🎉 time — emoji and dashes mixed in ascii"),
    (4, "mixed ascii então ação über straße κόσμος мир"),
]


def _write_docs(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["edge"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    return str(tmp_path), con


@pytest.fixture(scope="module")
def edge_docs(spark, tmp_path_factory):
    sf_dir, con = _write_docs(tmp_path_factory.mktemp("edge"), EDGE_DOCS)
    from kda_flink_demo_spark.io.sources import load_table

    return load_table(spark, sf_dir, "documents"), sf_dir, con


@pytest.fixture(scope="module")
def unicode_docs(spark, tmp_path_factory):
    sf_dir, con = _write_docs(tmp_path_factory.mktemp("uni"), UNICODE_DOCS)
    from kda_flink_demo_spark.io.sources import load_table

    return load_table(spark, sf_dir, "documents"), sf_dir, con


def test_word_ngrams_short_docs_empty_not_crash(spark, edge_docs):
    from pyspark.sql import functions as F

    df, _, _ = edge_docs
    out = {
        r.doc_id: r.grams
        for r in df.select("doc_id", dedup.word_ngrams(F.col("text")).alias("grams")).collect()
    }
    assert out[0] == [] and out[1] == [] and out[2] == []
    assert len(out[3]) > 0


def test_ngram_jaccard_matches_oracle_with_short_docs(edge_docs):
    from kda_flink_demo_spark.registry_llm import _NGRAM_ORACLE

    df, sf_dir, con = edge_docs
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.5)
    compare_to_oracle(pairs, con, _NGRAM_ORACLE.format(threshold=0.5))
    assert pairs.count() >= 1  # the planted 3↔4 pair survives


def test_minhash_lsh_survives_short_docs(edge_docs):
    df, _, _ = edge_docs
    exact = {(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(df, threshold=0.8).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(df, threshold=0.8).collect()}
    assert lsh == exact


def test_fingerprint_matches_oracle_with_short_docs(edge_docs):
    df, _, con = edge_docs
    compare_to_oracle(text.doc_fingerprint(df), con, text.FINGERPRINT_ORACLE_SQL)


def test_fingerprint_matches_oracle_on_unicode(unicode_docs):
    df, _, con = unicode_docs
    compare_to_oracle(text.doc_fingerprint(df), con, text.FINGERPRINT_ORACLE_SQL)


def test_multimodal_decode_matches_oracle_on_unicode(unicode_docs):
    df, _, con = unicode_docs
    feats = multimodal.decode_image_features(multimodal.attach_binary_payload(df))
    compare_to_oracle(feats, con, multimodal.DECODE_ORACLE_SQL)


def test_multimodal_audio_matches_oracle_on_unicode(unicode_docs):
    df, _, con = unicode_docs
    feats = multimodal.decode_audio_features(multimodal.attach_binary_payload(df))
    compare_to_oracle(feats, con, multimodal.AUDIO_ORACLE_SQL)


def test_multimodal_frames_match_oracle_on_unicode(unicode_docs):
    df, _, con = unicode_docs
    frames = multimodal.sample_video_frames(multimodal.attach_binary_payload(df))
    compare_to_oracle(frames, con, multimodal.FRAME_ORACLE_SQL)


def test_real_decode_requires_pil_or_runs(spark):
    """real_decode=True is an honest gate: payloads the pure PPM/PGM/BMP
    codec can't parse raise NotImplementedError naming PIL at DECODE time
    (the gate fires at decode, not at construction — the pure codecs make the
    real path runnable on supported formats; tests/test_round8_ops.py covers
    those); with PIL present any format decodes through the same mapInPandas
    contract."""
    try:
        import PIL  # noqa: F401

        has_pil = True
    except Exception:
        has_pil = False

    if not has_pil:
        import pytest as _pytest

        # an explicitly non-image, non-magic payload — NOT the fixture text,
        # whose first two bytes could accidentally spell a codec magic
        # ("BM"/"P6") and route into a different error;
        # the honest gate fires inside the executor (Spark wraps the
        # worker's NotImplementedError)
        blob = spark.createDataFrame(
            [(1, bytearray(b"definitely not an image"))], "doc_id long, payload binary"
        )
        with _pytest.raises(Exception, match="PIL"):
            multimodal.decode_image_features(blob, real_decode=True).collect()
        with _pytest.raises(Exception, match="PIL"):
            multimodal.resize_images(blob, real_decode=True).collect()
        with _pytest.raises(Exception, match="librosa"):
            multimodal.decode_audio_features(blob, real_decode=True).collect()
        return

    # PIL present (not in this container, but the path must work where it is):
    # build 1-pixel PNGs as payloads and decode for real
    import io as _io

    from PIL import Image

    buf = _io.BytesIO()
    Image.new("RGB", (2, 3), color=(10, 20, 30)).save(buf, format="PNG")
    png = buf.getvalue()
    pdf = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    out = multimodal.decode_image_features(pdf, real_decode=True).collect()
    assert out[0].width == 2 and out[0].height == 3 and out[0].channels == 3


def test_normalize_matches_oracle_on_unicode(unicode_docs):
    df, _, con = unicode_docs
    compare_to_oracle(text.normalize_text(df), con, text.NORMALIZE_ORACLE_SQL)


def test_normalize_matches_oracle_on_messy_whitespace_and_case(spark, tmp_path_factory):
    """NFD input (decomposes é), uppercase, repeated/tab/newline whitespace:
    the Spark pandas-NFC path and DuckDB's nfc_normalize+lower must agree."""
    rows = [
        (0, "Café  RÉSUMÉ \t tabs\nand  newlines"),
        (1, "ALL CAPS   AND   RUNS    OF SPACES"),
        (2, " leading and trailing "),
        (3, "ÜBERMAß Ärger FRANÇAIS ЯЗЫК"),
        (4, ""),
    ]
    # known, documented divergence (normalize_text docstring): Python str.lower
    # applies FULL case mapping (contextual final sigma, İ → i+U+0307) while
    # DuckDB/utf8proc applies SIMPLE per-codepoint mapping — Σ-final and İ
    # diverge by design and are excluded here.
    sf_dir, con = _write_docs(tmp_path_factory.mktemp("norm"), rows)
    from kda_flink_demo_spark.io.sources import load_table

    df = load_table(spark, sf_dir, "documents")
    compare_to_oracle(text.normalize_text(df), con, text.NORMALIZE_ORACLE_SQL)


def test_llm_ops_survive_empty_input(spark, tmp_path_factory):
    """Zero-row corpus: every LLM scale op must plan and execute to an empty
    (or well-defined) result, never crash — real pipelines hit empty partitions
    and empty date-slices constantly."""
    from pyspark.sql import functions as F

    from kda_flink_demo_spark.operators.llm import packing

    sf_dir, con = _write_docs(tmp_path_factory.mktemp("empty"), [])
    from kda_flink_demo_spark.io.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert dedup.exact_dedup_stats(docs).count() == 0
    assert dedup.ngram_jaccard_pairs(docs).count() == 0
    assert dedup.minhash_lsh_pairs(docs).count() == 0
    assert dedup.simhash_pairs(docs).count() == 0
    assert (
        dedup.contamination_pairs(
            docs.filter(F.col("doc_id") % 10 != 0), docs.filter(F.col("doc_id") % 10 == 0)
        ).count()
        == 0
    )
    assert packing.pack_sequences(docs).count() == 0
    assert text.normalize_text(docs).count() == 0
    assert text.doc_fingerprint(docs).count() == 0
    from kda_flink_demo_spark.operators.llm import lm, pipeline, sampling

    assert dedup.duplicate_spans(docs).count() == 0
    assert text.length_buckets(docs).count() == 0
    assert sampling.temperature_resample(docs, source_col="lang").count() == 0
    assert sampling.domain_cap(docs).count() == 0
    assert sampling.token_budget_select(docs).count() == 0
    assert pipeline.filter_pipeline(docs).count() == 0
    assert lm.bigram_lm_score(docs).count() == 0
    from kda_flink_demo_spark.operators.llm import versioning

    assert text.bpe_pair_counts(docs).count() == 0
    assert versioning.snapshot_diff(docs, docs).count() == 0
    # span removal, decontamination, BPE training + encode
    assert dedup.span_dedup_apply(docs).count() == 0
    assert dedup.span_decontaminate(docs, docs).count() == 0
    assert text.bpe_merge_train(docs, steps=2).count() == 0
    assert text.bpe_encode(docs, steps=2).count() == 0
    assert text.inverted_index(docs).count() == 0


def test_multimodal_all_match_oracle_with_empty_and_short_docs(edge_docs):
    """EDGE_DOCS plants an empty-text doc: both sides must agree there too —
    empty payloads yield NULL height/brightness/rate/duration/rms/frame_score
    (the oracles' ord('')/x-by-0 expressions are NULL-propagating and the stubs
    mirror that, not a 0 sentinel)."""
    df, _, con = edge_docs
    payloads = multimodal.attach_binary_payload(df)
    compare_to_oracle(
        multimodal.decode_image_features(payloads), con, multimodal.DECODE_ORACLE_SQL
    )
    compare_to_oracle(
        multimodal.decode_audio_features(payloads), con, multimodal.AUDIO_ORACLE_SQL
    )
    compare_to_oracle(
        multimodal.sample_video_frames(payloads), con, multimodal.FRAME_ORACLE_SQL
    )
    # resize: empty payload keeps 0 bytes → md5('') on both sides, no NULLs
    compare_to_oracle(
        multimodal.resize_images(payloads), con, multimodal.RESIZE_ORACLE_SQL
    )


def test_doc_fingerprint_kernel_matches_pure_python_spec(spark):
    """The vectorized prefix-hash kernel must equal the character-fold spec
    (acc = (acc*31 + codepoint) mod 1e9+7; grams = 5-word slices rejoined with
    single spaces) on adversarial inputs: space runs / empty words, <5 words,
    exactly 5, multi-byte unicode, long repetitive text."""
    import random

    from kda_flink_demo_spark.operators.llm.text import doc_fingerprint

    P = 1_000_000_007

    def ph(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    def spec(s: str) -> tuple[int, int]:
        ws = s.split(" ")
        k = max(len(ws) - 5, 0) + 1
        grams = [" ".join(ws[i : i + 5]) for i in range(k)]
        return ph(s), min(ph(g) for g in grams)

    rng = random.Random(7)
    words = ["a", "bb", "", "héllo", "жёлтый", "中文词", "x" * 50, "1.5", "—"]
    texts = [
        "",
        " ",
        "   ",
        "one",
        "one two three four",
        "one two three four five",
        "one two three four five six",
        "a  b   c    d",
        ("tok " * 500).strip(),
    ] + [" ".join(rng.choices(words, k=rng.randrange(1, 40))) for _ in range(40)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: (r.fingerprint, r.min_gram_fp) for r in doc_fingerprint(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == spec(t), (i, repr(t), got[i], spec(t))


def test_chunk_documents_matches_pure_python_spec(spark):
    """Chunk windows (size 64 / stride 48) against the direct Python spec on
    adversarial token counts: empty text, 1 token, size-1, size, size+1,
    multiples of stride, and random lengths."""
    import random

    from kda_flink_demo_spark.operators.llm.text import chunk_documents

    size, stride = 64, 48

    def spec(s: str):
        ws = s.split(" ")
        n_chunks = 1 + max(0, -(-max(len(ws) - size, 0) // stride))
        return [
            (k, " ".join(ws[k * stride : k * stride + size]), min(size, max(len(ws) - k * stride, 0)))
            for k in range(n_chunks)
        ]

    rng = random.Random(11)
    lengths = [1, 2, size - 1, size, size + 1, stride, 2 * stride, 3 * stride + 1] + [
        rng.randrange(1, 400) for _ in range(20)
    ]
    texts = [""] + [" ".join(f"w{i}" for i in range(n)) for n in lengths]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got: dict[int, list] = {}
    for r in chunk_documents(df, size=size, stride=stride).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text, r.n_chunk_tokens))
    for i, t in enumerate(texts):
        assert sorted(got[i]) == spec(t), (i, len(t.split(" ")))


@pytest.mark.parametrize("fixture_name", ["edge_docs", "unicode_docs"])
def test_document_operators_match_oracle_on_edge_docs(request, fixture_name):
    """The span/LM/mixing/pipeline operators must agree with their oracles on
    short, empty, and multi-byte-UTF-8 documents too — every guard (empty
    span range, <2-token LM docs, 1-token 'empty' split semantics, null span
    ratio) has an engine-specific failure mode this pins down."""
    from kda_flink_demo_spark.operators.llm import lm, pipeline, sampling

    df, _sf, con = request.getfixturevalue(fixture_name)
    compare_to_oracle(
        dedup.duplicate_spans(df, span=10), con, dedup.duplicate_spans_oracle_sql(span=10)
    )
    compare_to_oracle(lm.bigram_lm_score(df), con, lm.bigram_lm_score_oracle_sql())
    compare_to_oracle(text.length_buckets(df), con, text.length_buckets_oracle_sql())
    compare_to_oracle(
        sampling.temperature_resample(df, source_col="lang"),
        con,
        sampling.temperature_resample_oracle_sql(source_col="lang"),
    )
    compare_to_oracle(
        sampling.domain_cap(df, cap=3), con, sampling.domain_cap_oracle_sql(cap=3)
    )
    compare_to_oracle(
        sampling.token_budget_select(df, budget=30),
        con,
        sampling.token_budget_select_oracle_sql(budget=30),
    )
    compare_to_oracle(pipeline.filter_pipeline(df), con, pipeline.filter_pipeline_oracle_sql())


# Every oracle-backed registry query that reads ONLY the documents table: the
# unicode fixture must produce engine-identical results for all of them, not
# just the handful with dedicated edge tests — this sweep is what surfaced the
# Java-vs-RE2 \b divergence in stopword counting.
_DOCS_ONLY_ORACLE_QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_apply_fuzzy",
    "dedup_span_stats",
    "contamination_check",
    "pack_sequences",
    "chunk_documents",
    "corpus_shuffle_order",
    "deterministic_sample",
    "text_tfidf_top_terms",
    "vocab_top_terms",
    "text_language_id",
    "text_quality",
    "text_token_stats",
    "text_normalize",
    "text_pii_redact",
    "text_repetition",
    "url_domain_stats",
    "doc_fingerprint",
    "length_buckets",
    "temperature_resample",
    "source_upsample",
    "mix_interleave",
    "quality_top_fraction",
    "domain_cap",
    "token_budget_select",
    "corpus_filter_pipeline",
    "lm_bigram_score",
    "ingest_dedup",
    "ingest_dedup_bloom",
    "corpus_snapshot_diff",
    "bpe_pair_counts",
    "shard_assignment",
    "dedup_keep_best",
    "dataset_split",
    "multimodal_resize",
    "span_dedup_apply",
    "span_decontaminate",
    "bpe_merge_steps",
    "bpe_encode",
    "fuzzy_ingest_index_build",
    "bpe_encode_stored",
    "dedup_simhash_report",
    "inverted_index",
]


@pytest.mark.parametrize("name", _DOCS_ONLY_ORACLE_QUERIES)
def test_registry_documents_queries_match_oracle_on_unicode(spark, unicode_docs, name):
    from kda_flink_demo_spark import registry

    _df, sf_dir, con = unicode_docs
    oracles = registry.oracle_sql()
    compare_to_oracle(registry.queries()[name](spark, sf_dir), con, oracles[name])


@pytest.mark.parametrize("name", _DOCS_ONLY_ORACLE_QUERIES)
def test_registry_documents_queries_match_oracle_on_short_docs(spark, edge_docs, name):
    """Same sweep on the short/empty-doc fixture: empty strings, 1-2 token
    docs, and a planted near-dup pair — every guard for sub-n-gram docs and
    zero-token division must agree across engines."""
    from kda_flink_demo_spark import registry

    _df, sf_dir, con = edge_docs
    oracles = registry.oracle_sql()
    compare_to_oracle(registry.queries()[name](spark, sf_dir), con, oracles[name])
