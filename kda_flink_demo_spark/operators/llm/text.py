"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All pure ``pyspark.sql.functions`` — zero Python in
the data path, so everything stays inside whole-stage codegen and the same
logic is expressible as the DuckDB oracle SQL.

Scale notes: every operator here is a narrow per-row projection — no shuffle,
no state. On 100 TB these run at scan speed; the only cost lever is column
pruning (select text only) and parquet scan parallelism.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kda_flink_demo_spark.functions import det_round, det_round_sql, spread_for_compute

# Tiny per-language stopword sets for the n-gram/stopword heuristic. Counted
# by exact token equality (see _stopword_count): Java regex ``\b`` is
# Unicode-aware while RE2's is ASCII-only, so boundary-regex counting diverges
# on any non-ASCII neighbour character.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "la", "los", "y", "es", "una"],
    "zh": ["的", "是", "了", "在", "我"],
}
_LANG_ORDER = ["en", "de", "fr", "es", "zh"]  # deterministic tie-break preference


def _stopword_count(text: Column, words: list[str]) -> Column:
    """Stopword hits by EXACT token equality, not ``\\b``-bounded regex: Java's
    ``\\b`` is Unicode-aware (``ç``/CJK count as word chars) while DuckDB's RE2
    ``\\b`` is ASCII-only, so ``\\ba\\b`` matches inside "ação" in one engine
    and not the other. Token equality has one cross-engine semantics (and is
    the cheaper plan: one split shared by every stopword set).
    """
    toks = F.split(F.lower(text), " ")
    # cast: DuckDB len() is BIGINT, Spark size() is int — align schemas
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def _stopword_count_sql(words: list[str], text_expr: str = "text") -> str:
    """DuckDB twin of :func:`_stopword_count` (kept adjacent — one semantics)."""
    quoted = ", ".join("'" + w + "'" for w in words)
    return (
        f"len(list_filter(string_split(lower({text_expr}), ' '), t -> t IN ({quoted})))"
    )


def language_scores(text: Column) -> dict[str, Column]:
    return {lang: _stopword_count(text, words) for lang, words in LANG_STOPWORDS.items()}


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language ID: count per-language stopword matches, predict the
    argmax with a fixed preference order on ties. (The synthetic corpus's text is
    language-independent word soup, so this measures the mechanism; on real data
    swap in real stopword tables or a char-n-gram model — the plan shape is the
    same narrow projection.)"""
    scores = language_scores(F.col(text_col))
    pred = None
    # build argmax with preference order: lang wins if its score >= all later langs
    # and > all earlier langs (earlier = higher preference, so >= earlier is enough
    # when evaluated in order via CASE WHEN chain).
    expr = None
    for lang in reversed(_LANG_ORDER):
        cond = None
        for other in _LANG_ORDER:
            if other == lang:
                continue
            c = (
                scores[lang] > scores[other]
                if _LANG_ORDER.index(other) < _LANG_ORDER.index(lang)
                else scores[lang] >= scores[other]
            )
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(
            expr if expr is not None else F.lit(_LANG_ORDER[0])
        )
    out = df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in _LANG_ORDER],
        expr.alias("pred_lang"),
    )
    return out


def language_id_oracle_sql(table: str = "documents") -> str:
    """DuckDB SQL computing the identical heuristic (kept adjacent to the Spark
    implementation so the two stay in lockstep)."""
    score_exprs = []
    for lang in _LANG_ORDER:
        score_exprs.append(
            f"{_stopword_count_sql(LANG_STOPWORDS[lang])} AS score_{lang}"
        )
    case_parts = []
    for lang in _LANG_ORDER:
        conds = []
        for other in _LANG_ORDER:
            if other == lang:
                continue
            op = ">" if _LANG_ORDER.index(other) < _LANG_ORDER.index(lang) else ">="
            conds.append(f"score_{lang} {op} score_{other}")
        case_parts.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(case_parts) + f" ELSE '{_LANG_ORDER[0]}' END"
    cols = ", ".join(f"score_{lang}" for lang in _LANG_ORDER)
    return f"""
    SELECT doc_id, {cols}, {case_sql} AS pred_lang
    FROM (SELECT doc_id, {', '.join(score_exprs)} FROM {table})
    """


# BPE-ish token regex: word runs or single non-space punctuation — identical
# semantics in Java regex and RE2.
TOKEN_REGEX = r"\w+|[^\w\s]"
_EN_STOPWORDS = LANG_STOPWORDS["en"]


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens + regex (BPE-ish) tokens + char length."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), F.lit(0)))
        .cast("long")
        .alias("re_tokens"),
        F.length(F.col(text_col)).cast("long").alias("char_len"),
    )


def quality_columns(text: Column) -> dict[str, Column]:
    """The quality-heuristic component expressions as named Columns — shared by
    ``quality_score`` and the composed corpus filter pipeline so the two can
    never drift. All raw (un-rounded); callers apply ``det_round``."""
    toks = F.split(text, " ")
    n_toks = F.size(toks)
    n_chars = F.length(text)
    avg_tok_len = (n_chars - (n_toks - 1)) / n_toks  # chars net of separators
    stop_hits = _stopword_count(text, _EN_STOPWORDS)
    stop_ratio = stop_hits / n_toks
    punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), F.lit(0)))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    length_score = F.least(n_toks / F.lit(64.0), F.lit(1.0))
    score = (
        F.lit(0.4) * length_score
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.3) * (1 - F.least(punct_ratio * 10, F.lit(1.0)))
    )
    return {
        "n_tokens": n_toks.cast("long"),
        "avg_token_len": avg_tok_len,
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality": score,
    }


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length, mean token length, stopword ratio,
    punctuation ratio → composite in [0,1]-ish, rounded for cross-engine
    comparison. Mirrors common pretraining-corpus filters (length bounds,
    symbol-to-word ratio, stopword presence)."""
    qc = quality_columns(F.col(text_col))
    return df.select(
        F.col(id_col),
        qc["n_tokens"].alias("n_tokens"),
        det_round(qc["avg_token_len"], 4).alias("avg_token_len"),
        det_round(qc["stopword_ratio"], 4).alias("stopword_ratio"),
        det_round(qc["punct_ratio"], 4).alias("punct_ratio"),
        det_round(qc["quality"], 4).alias("quality"),
    )


QUALITY_ORACLE_SQL = rf"""
    SELECT doc_id,
           n_toks AS n_tokens,
           {det_round_sql('(n_chars - (n_toks - 1)) / n_toks', 4)} AS avg_token_len,
           {det_round_sql('stop_hits / n_toks', 4)} AS stopword_ratio,
           {det_round_sql('punct / greatest(n_chars, 1)', 4)} AS punct_ratio,
           {det_round_sql('''0.4 * least(n_toks / 64.0, 1.0)
               + 0.3 * least((stop_hits / n_toks) * 4, 1.0)
               + 0.3 * (1 - least((punct / greatest(n_chars, 1)) * 10, 1.0))''', 4)} AS quality
    FROM (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(list_filter(string_split(lower(text), ' '),
                    t -> t IN ('the', 'and', 'of', 'to', 'a', 'in', 'is'))) AS BIGINT) AS stop_hits,
               CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS punct
        FROM documents
    )
"""

def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-k terms per document by TF-IDF (tf × ln(N/df)).

    Fully distributed: explode to (doc, term), two grouped aggregations (term
    frequency per doc; document frequency per term), broadcast the corpus size,
    per-doc top-k via row_number with (score desc, term) tie-break. At 100 TB
    the df table is the only corpus-wide aggregate — a (term → count) table that
    broadcast-joins back onto the exploded stream."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    from kda_flink_demo_spark.functions import det_round as _r

    terms = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = terms.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(n_docs))
        # rank on the ROUNDED score: JVM and C++ ln() can differ in the last ulp,
        # and mathematically-equal scores (2·ln5 vs ln25) computed differently
        # could order differently across engines — rounding + term tie-break
        # makes the top-k deterministic
        .withColumn("tfidf", _r(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "term_rank")
    )


def vocab_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 500
) -> DataFrame:
    """Corpus-level vocabulary building — the tokenizer-training precursor:
    global term count + document frequency for the top-``k`` terms, ranked by
    (count desc, term).

    Scale shape: explode → ONE partial→final hash aggregate on the term key
    (map-side combine collapses each task's term stream before the shuffle;
    the shuffled width is the vocabulary, ≪ corpus), then
    TakeOrderedAndProject for the top-k (per-partition heaps + a k-row driver
    merge — never a global sort). The final row_number window runs over the k
    surviving rows only. Output: (term, term_count, doc_freq, vocab_rank).
    """
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.col("term") != "")
    counts = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("term_count"),
        F.countDistinct(id_col).alias("doc_freq"),
    )
    topk = counts.orderBy(F.col("term_count").desc(), "term").limit(k)
    w = Window.orderBy(F.col("term_count").desc(), "term")
    return topk.withColumn("vocab_rank", F.row_number().over(w).cast("long"))


def vocab_top_terms_oracle_sql(k: int = 500, table: str = "documents") -> str:
    return f"""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
    ),
    t AS (
        SELECT term, count(*) AS term_count, count(DISTINCT doc_id) AS doc_freq
        FROM terms WHERE term <> '' GROUP BY 1
    )
    SELECT term, term_count, doc_freq, vocab_rank FROM (
        SELECT term, CAST(term_count AS BIGINT) AS term_count,
               CAST(doc_freq AS BIGINT) AS doc_freq,
               CAST(row_number() OVER (ORDER BY term_count DESC, term) AS BIGINT)
                   AS vocab_rank
        FROM t
    ) WHERE vocab_rank <= {k}
    """


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    postings_cap: int = 20,
    min_df: int = 2,
) -> DataFrame:
    """Search-infrastructure posting lists — the retrieval-side twin of
    :func:`vocab_top_terms`: per term, its document frequency, total term
    count, and the FIRST ``postings_cap`` doc ids (ascending) as a CSV
    posting list. Terms below ``min_df`` are pruned (hapax legomena dominate
    the vocabulary but serve no retrieval purpose).

    Scale shape: explode → partial→final aggregate on (term, doc) → ONE
    hash shuffle on term that both the row_number window and the final
    aggregate ride (same partitioning, Catalyst reuses the exchange — plan
    shows a single Exchange on term after the (term, doc) one). The
    posting-list state is BOUNDED: the rank filter runs before collect_list,
    so no aggregate buffer ever holds more than ``postings_cap`` ids, no
    matter how many documents contain a stopword — the property that makes
    this safe at 100 TB where df("the") is billions. doc_freq/term_count
    still count every row (computed in the same aggregate, not the capped
    list).
    """
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    td = terms.groupBy("term", "doc").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("term").orderBy("doc")
    ranked = td.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
            F.sum("tf").cast("long").alias("term_count"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("rn") <= postings_cap, F.col("doc"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("doc_freq") >= min_df)
    )


def inverted_index_oracle_sql(
    postings_cap: int = 20, min_df: int = 2, table: str = "documents"
) -> str:
    return f"""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
    ),
    td AS (
        SELECT term, doc_id, count(*) AS tf
        FROM terms WHERE term <> '' GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        FROM td
    )
    SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
           CAST(sum(tf) AS BIGINT) AS term_count,
           string_agg(CASE WHEN rn <= {postings_cap}
                           THEN CAST(doc_id AS VARCHAR) END,
                      ',' ORDER BY doc_id) AS postings
    FROM ranked GROUP BY term HAVING count(*) >= {min_df}
    """


TFIDF_ORACLE_SQL = """
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               floor(tf.tf * ln(n.n_docs / dfreq.df) * 1000000.0 + 0.5) / 1000000.0 AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, term_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS term_rank
        FROM scored
    ) WHERE term_rank <= 3
"""

# Fixed BM25 query set (terms from the synthetic corpus vocabulary): the
# retrieval twin of the inverted index / tfidf rows — an LLM data pipeline
# uses exactly this shape for eval-set mining and RAG-corpus selection.
BM25_QUERIES: dict[int, list[str]] = {
    1: ["hash", "join"],
    2: ["scan", "filter", "batch"],
    3: ["customer", "order", "data"],
    4: ["vector", "merge", "sort"],
}


def bm25_topk(
    df: DataFrame,
    queries: dict[int, list[str]] | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 top-k retrieval: for each query (a bag of terms), score
    every matching document with the Lucene-variant BM25
    (idf = ln((N − df + ½)/(df + ½) + 1), tf-saturation k1, length
    normalization b against the corpus mean doc length) and keep the top-k
    by (score desc, doc_id).

    Scale shape: the corpus explodes to (doc, term) ONCE and is immediately
    semi-joined against the BROADCAST query vocabulary — only query-term
    postings survive into the tf aggregate, so the shuffled volume is the
    posting lists, never the corpus. Document length is a map-side
    projection (no explode) aggregated to one broadcast (N, avgdl) row; df
    aggregates the same pruned postings. The final per-query top-k is a
    row_number window over candidate rows (bounded by the postings of the
    query's rarest... union of terms), ranked on the det_round(6)-ed score
    with a doc_id tie-break so JVM/C++ ln() ulp differences can't flip an
    order across engines. Output: (query_id, doc_id, score, rank).

    ``stats``: a standing ``bm25_stats_state`` table (r13). When passed, the
    formula's corpus reads — df per term, N, avgdl — come from the mergeable
    artifact instead of live corpus aggregates, so an ingest deployment
    scores against stats maintained incrementally (merge_bm25_stats) with no
    corpus pass beyond the candidate postings themselves. Output is
    unchanged: the live df aggregate over vocabulary-pruned postings already
    equals the full-corpus per-term df."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    from kda_flink_demo_spark.functions import det_round as _r

    spark = df.sparkSession
    queries = queries or BM25_QUERIES
    qrows = [(qid, t) for qid, terms in queries.items() for t in terms]
    qterms = spark.createDataFrame(qrows, "query_id int, term string")
    vocab = sorted({t for _, t in qrows})

    toks = F.split(F.col(text_col), " ")
    # doc length rides the exploded posting rows (first() under the tf
    # aggregate), so the corpus-wide (doc, dl) projection never enters a
    # shuffle — only query-term postings do. The vocabulary prune happens
    # INSIDE the projection feeding the explode (optimization r13): the query
    # vocabulary is a plan-time constant (queries are a per-request bag of
    # terms, small by nature), so a map-side higher-order `filter` on the
    # token array replaces the old broadcast semi-join — the Generate emits
    # candidate postings only and the broadcast exchange disappears. Output
    # is unchanged: `filter` keeps every occurrence of a matching term,
    # exactly the rows the semi-join kept.
    vocab_lit = F.array(*[F.lit(t) for t in vocab])
    terms = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("dl"),
        F.explode(F.filter(toks, lambda t: F.array_contains(vocab_lit, t))).alias(
            "term"
        ),
    )
    tf = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    if stats is not None:
        # plan-time literal prune on the standing stats too: an IN over the
        # fixed vocabulary is a pushable scan predicate where the old
        # broadcast semi-join was an exchange + join
        dfreq = (
            stats.filter(F.col("term").isNotNull() & F.col("term").isin(vocab))
            .select("term", "df")
        )
        cstats = stats.filter(F.col("term").isNull()).select(
            "n_docs", (F.col("dl_sum") / F.col("n_docs")).alias("avgdl")
        )
    else:
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        # corpus stats: one map-side partial aggregate to a single broadcast row
        cstats = df.select(F.size(toks).cast("long").alias("_dl")).agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("_dl").alias("avgdl")
        )

    contrib = (
        tf.join(broadcast(qterms), "term")
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(cstats))
        .select(
            "query_id",
            F.col(id_col),
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("_c"),
        )
    )
    scored = contrib.groupBy("query_id", id_col).agg(
        _r(F.sum("_c"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def bm25_oracle_sql(
    queries: dict[int, list[str]] | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
) -> str:
    queries = queries or BM25_QUERIES
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in queries.items() for t in terms
    )
    return f"""
    WITH q(query_id, term) AS (VALUES {qvals}),
    terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
    ),
    pruned AS (
        SELECT doc_id, term FROM terms
        WHERE term IN (SELECT DISTINCT term FROM q)
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM pruned GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM {table}),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               floor(sum(
                   ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                   * (tf.tf * {k1 + 1.0})
                   / (tf.tf + {k1} * ({1.0 - b} + {b} * dl.dl / stats.avgdl))
               ) * 1000000.0 + 0.5) / 1000000.0 AS score
        FROM tf
        JOIN q USING (term)
        JOIN dl USING (doc_id)
        JOIN dfreq USING (term)
        CROSS JOIN stats
        GROUP BY 1, 2
    )
    SELECT CAST(query_id AS INTEGER) AS query_id, doc_id, score,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id
        ) AS rank FROM scored
    ) WHERE rank <= {k}
    """


def bm25_stats_state(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MERGEABLE BM25 corpus statistics for one data slice (r12 verdict
    directive 7): everything the scoring formula reads from the corpus —
    per-term document frequency, document count, total token count — as one
    algebraic state table that merges by ADDITION, so an ingest world keeps
    retrieval stats standing without ever re-scanning old slices (the
    agg_state / sketch-state convention).

    Shape: one row per distinct term (term, df, 0, 0) plus ONE global row
    (NULL, 0, n_docs, dl_sum); ``merge_bm25_stats`` is a single NULL-safe
    grouped sum. avgdl is derived at read time as dl_sum / n_docs — stored
    sums stay integer-exact under any merge tree. Scale: the state is
    vocabulary-sized (≪ corpus), built with one explode + map-side partial
    aggregation per slice."""
    toks = F.split(F.col(text_col), " ")
    per_term = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.countDistinct(id_col).cast("long").alias("df"))
        .select(
            "term",
            "df",
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("dl_sum"),
        )
    )
    globals_row = df.select(F.size(toks).cast("long").alias("_dl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_dl").cast("long").alias("dl_sum"),
    ).select(
        F.lit(None).cast("string").alias("term"),
        F.lit(0).cast("long").alias("df"),
        "n_docs",
        "dl_sum",
    )
    return per_term.unionByName(globals_row)


def merge_bm25_stats(*states: DataFrame) -> DataFrame:
    """Merge per-slice BM25 stats states into the state of the union of
    their inputs WITHOUT rescanning any slice: df adds per term, the
    NULL-term global row's (n_docs, dl_sum) add — all algebraic, so any
    merge tree (per-batch → daily → total) yields the identical state."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("dl_sum").cast("long").alias("dl_sum"),
    )


def bm25_stats_oracle_sql(table: str = "documents", pred: str = "TRUE") -> str:
    return f"""
    SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(0 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS dl_sum
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM {table} WHERE {pred}
    ) GROUP BY term
    UNION ALL
    SELECT NULL AS term, CAST(0 AS BIGINT) AS df,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS dl_sum
    FROM {table} WHERE {pred}
    """


_FP_MOD = 1_000_000_007


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: full-text rolling hash + a winnowing-style minimum
    over word-5-gram hashes (robust to local edits — standard near-dup
    fingerprinting building block).

    Runs as an Arrow-batched ``mapInPandas`` kernel — map-only, no shuffle,
    scan speed at any scale. The math: a word 5-gram rejoined with single
    spaces reproduces the original text substring EXACTLY (split-on-space
    keeps empty words, so runs of spaces round-trip), which means every gram
    hash is a modular prefix-hash difference of the one full-text hash pass:
    h[a,b) = 31^(b-1) · (T[b] − T[a]) mod p with T[k] = Σ c_j·31^(−j). One
    O(chars) numpy pass per document replaces the per-character interpreted
    Catalyst fold and the per-gram re-hash (O(5·chars)) — same values,
    bit-for-bit (the oracle asserts it). Repartitions first: CPU-bound work on
    a single-file local input would otherwise pin on one task."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    p = _FP_MOD
    inv31 = pow(31, p - 2, p)

    in_schema = df.select(F.col(id_col), F.col(text_col)).schema
    out_schema = StructType(
        [in_schema[0], StructField("fingerprint", LongType()), StructField("min_gram_fp", LongType())]
    )

    def fp_kernel(batches):
        import pandas as pd

        pw = np.array([1], dtype=np.int64)  # 31^k mod p, grown on demand
        ipw = np.array([1], dtype=np.int64)  # 31^-k mod p

        def grow(m: int):
            nonlocal pw, ipw
            while len(pw) <= m:
                k = len(pw)
                n = max(2 * k, m + 1)
                pw2 = np.empty(n, dtype=np.int64)
                ipw2 = np.empty(n, dtype=np.int64)
                pw2[:k], ipw2[:k] = pw, ipw
                for j in range(k, n):
                    pw2[j] = (pw2[j - 1] * 31) % p
                    ipw2[j] = (ipw2[j - 1] * inv31) % p
                pw, ipw = pw2, ipw2

        def one(text: str) -> tuple[int, int]:
            c = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            m = len(c)
            if m == 0:
                return 0, 0  # empty reduce → 0 on both sides
            grow(m)
            # T[k] = Σ_{j<k} (c_j · 31^-j mod p); terms < p, cumsum safe in
            # int64 for documents up to ~9e9 chars
            T = np.concatenate(([0], np.cumsum((c * ipw[:m]) % p)))
            fingerprint = int((pw[m - 1] * (T[m] % p)) % p)
            # word starts; O_ext[W] = m+1 so clamped grams end at m
            starts = np.concatenate(([0], np.flatnonzero(c == 32) + 1))
            W = len(starts)
            ends_ext = np.concatenate((starts, [m + 1]))
            K = max(W - 5, 0) + 1
            i = np.arange(K)
            a = starts[i]
            b = ends_ext[np.minimum(i + 5, W)] - 1
            h = np.zeros(K, dtype=np.int64)
            ne = b > a  # empty gram hashes to 0 (empty reduce)
            h[ne] = (pw[b[ne] - 1] * ((T[b[ne]] - T[a[ne]]) % p)) % p
            return fingerprint, int(h.min())

        for pdf in batches:
            ids, fps, mins = [], [], []
            for did, text in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                if text is None:
                    continue
                f, g = one(text)
                ids.append(did)
                fps.append(f)
                mins.append(g)
            yield pd.DataFrame(
                {out_schema[0].name: ids, "fingerprint": fps, "min_gram_fp": mins}
            )

    spread = spread_for_compute(df)
    return spread.select(F.col(id_col), F.col(text_col)).mapInPandas(fp_kernel, out_schema)


FINGERPRINT_ORACLE_SQL = """
    WITH base AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(w) - 5, 0) + 2),
                              i -> array_to_string(w[i:i+4], ' ')) AS gs
        FROM base
    )
    SELECT b.doc_id,
           list_reduce(list_prepend(0::BIGINT,
               list_transform(range(1, length(b.text) + 1), i -> ord(b.text[i]))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint,
           list_min(list_transform(g.gs, s ->
               list_reduce(list_prepend(0::BIGINT,
                   list_transform(range(1, length(s) + 1), i -> ord(s[i]))),
                   (acc, c) -> (acc * 31 + c) % 1000000007))) AS min_gram_fp
    FROM base b JOIN grams g ON b.doc_id = g.doc_id
"""


def nfc_lower_udf():
    """Arrow-batched NFC + lowercase (pandas ``.str.normalize('NFC').str.lower()``).
    The one Python step in this module: Spark has no unicode-normalize builtin.
    DuckDB twin: ``lower(nfc_normalize(text))``. Known divergence, asserted in
    tests: Python applies FULL Unicode case mapping (contextual final sigma,
    İ → i + U+0307) where utf8proc applies the SIMPLE per-codepoint map — the
    two differ on a handful of codepoints (Σ at word end, İ); everything else
    (Latin accents, ß, Cyrillic, CJK, emoji) agrees."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc_lower(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC").str.lower()

    return nfc_lower


def normalize_text(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Training-corpus text normalization: NFC unicode normalization +
    lowercase + whitespace collapse + trim, with a change flag and the
    normalized codepoint length. Narrow per-row projection — scan-speed at
    scale; the NFC step is the lone Arrow-batched Python hop."""
    norm = F.trim(F.regexp_replace(nfc_lower_udf()(F.col(text_col)), r"\s+", " "))
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        (norm != F.col(text_col)).alias("changed"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


NORMALIZE_ORACLE_SQL = """
    SELECT doc_id,
           norm_text,
           norm_text <> text AS changed,
           CAST(length(norm_text) AS BIGINT) AS n_chars_norm
    FROM (
        SELECT doc_id, text,
               trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS norm_text
        FROM documents
    )
"""


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-window document chunking with overlap — the RAG / context-window
    preprocessing primitive: split each document into chunks of ``size``
    whitespace tokens starting every ``stride`` tokens (overlap = size −
    stride), so no span longer than the overlap is ever cut without appearing
    whole in some chunk.

    Chunk count is ``1 + ceil(max(0, n_tokens − size) / stride)`` — the final
    chunk is the only short one and no chunk is wholly contained in another.
    Row-expanding map (~size/stride × rows), still a NARROW transform: no
    shuffle, no state, scan-speed at 100 TB. All JVM built-ins
    (sequence/transform/slice + one explode).
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = (
        F.lit(1)
        + F.floor((F.greatest(n - F.lit(size), F.lit(0)) + F.lit(stride - 1)) / F.lit(stride))
    ).cast("int")
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda k: F.struct(
                k.cast("long").alias("chunk_idx"),
                F.slice(toks, k * stride + 1, size).alias("ctoks"),
            ),
        )
    )
    return (
        df.select(F.col(id_col), chunk.alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx"),
            F.concat_ws(" ", F.col("c.ctoks")).alias("chunk_text"),
            F.size("c.ctoks").cast("long").alias("n_chunk_tokens"),
        )
    )


def chunk_documents_oracle_sql(size: int = 64, stride: int = 48) -> str:
    """DuckDB twin of :func:`chunk_documents` (1-based inclusive list slice
    clamps exactly like Spark's ``slice``)."""
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
        SELECT doc_id, w,
               unnest(range(0, 1 + (greatest(len(w) - {size}, 0) + {stride - 1}) // {stride})) AS k
        FROM t
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_idx,
           array_to_string(w[k * {stride} + 1 : k * {stride} + {size}], ' ') AS chunk_text,
           CAST(len(w[k * {stride} + 1 : k * {stride} + {size}]) AS BIGINT) AS n_chunk_tokens
    FROM c
    """


def length_buckets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Power-of-two token-length histogram (docs + token mass per bucket) — the
    planning input for sequence packing and batch-shape selection: bucket
    ``k`` holds docs with ``2^k ≤ ws_tokens < 2^(k+1)``.

    The bucket index is computed on the INTEGER path (bit-length of the token
    count, ``length(bin(n)) - 1``), never ``floor(log2(n))`` — float log would
    invite cross-engine ULP flips exactly at the power-of-two boundaries the
    histogram cares about. One partial→final grouped aggregate over ≤64
    buckets; at 100 TB the map-side combine reduces each task to a handful of
    rows before the (tiny) shuffle.
    """
    n = F.size(F.split(F.col(text_col), " ")).cast("long")
    bucket = (F.length(F.bin(n)) - 1).cast("long")
    return (
        df.select(bucket.alias("bucket"), n.alias("n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            det_round(F.avg("n"), 4).alias("avg_tokens"),
        )
        .select(
            "bucket",
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) AS BIGINT)").alias(
                "bucket_min_tokens"
            ),
            "n_docs",
            "total_tokens",
            "avg_tokens",
        )
    )


def length_buckets_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin: bit-length via binary formatting — same integer-exact path."""
    avg = det_round_sql("CAST(total_tokens AS DOUBLE) / n_docs", 4)
    return f"""
    WITH b AS (
        SELECT CAST(length(format('{{:b}}', n)) - 1 AS BIGINT) AS bucket, n
        FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM {table})
    ),
    g AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS total_tokens
        FROM b GROUP BY 1
    )
    SELECT bucket, (CAST(1 AS BIGINT) << bucket) AS bucket_min_tokens,
           n_docs, total_tokens, {avg} AS avg_tokens
    FROM g
    """


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Byte-pair-encoding merge candidates — the inner loop of tokenizer
    training: count adjacent character pairs across the corpus and rank the
    top-``k`` (each iteration of BPE merges the most frequent pair; this
    computes the full candidate table for one iteration).

    Scale shape: the corpus collapses to its VOCABULARY first (one
    partial→final word count — the same shuffle bound as
    :func:`vocab_top_terms`), and pairs are then generated from each distinct
    word ONCE, weighted by its count — pair generation cost is vocabulary-
    not corpus-sized, exactly how production BPE trainers iterate. The pair
    aggregate map-side-combines to the pair alphabet (≤ |chars|²), and the
    top-k is TakeOrderedAndProject.
    """
    from pyspark.sql import Window

    words = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.char_length("w") >= 2)
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    pairs = vocab.select(
        F.col("wc"),
        F.explode(
            F.expr("transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("wc").alias("pair_count"))
    topk = counts.orderBy(F.col("pair_count").desc(), "pair").limit(k)
    w = Window.orderBy(F.col("pair_count").desc(), "pair")
    return topk.withColumn("pair_rank", F.row_number().over(w).cast("long"))


def _bpe_merge_fold(toks: Column, left: Column, right: Column) -> Column:
    """Left-to-right non-overlapping merge of adjacent ``(left, right)`` token
    pairs — the BPE apply step — as a JVM-side ``aggregate`` fold: walk the
    token list with an array accumulator; when the accumulator's last token is
    ``left`` and the incoming token is ``right``, replace the last token with
    the merged symbol, else append. A freshly merged symbol can never re-merge
    as ``left`` within the pass (``left ≠ left+right`` for nonempty pairs), so
    the fold is exactly the scan-with-skip real BPE trainers use — e.g. pair
    (a,a) on "aaa" yields [aa, a], never the overlapping double-merge. When
    ``left``/``right`` are NULL (no pair available this step) every WHEN
    predicate is NULL and the fold degrades to the identity append."""
    init = F.slice(toks, 1, 1)
    rest = F.slice(toks, F.lit(2), F.size(toks) - 1)
    return F.aggregate(
        rest,
        init,
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == left) & (x == right),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(left, right)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merge_train(
    df: DataFrame, text_col: str = "text", steps: int = 4
) -> DataFrame:
    """Iterative BPE tokenizer TRAINING (Sennrich et al. 2016): ``steps``
    rounds of count-adjacent-pairs → pick the most frequent → merge it
    everywhere — the loop that ``bpe_pair_counts`` computes one iteration of.
    Returns the learned merge table: one row per round with
    ``(step, pair_left, pair_right, merged, pair_count)``; ties break
    deterministically on (count DESC, left, right) in both engines.

    Scale shape (the production trainer's): the corpus collapses to its
    VOCABULARY once (one word-count shuffle — corpus-sized work happens
    exactly once), and every round then runs over the vocab table only:
    one vocabulary-bounded pair aggregate, a TakeOrdered(1) for the argmax,
    and a map-side fold applying the merge. Each round's vocab state is
    ``localCheckpoint``-ed — rounds are data-dependent (the argmax feeds the
    next round's plan) so the lineage must not re-derive all prior rounds,
    same hygiene as ``connected_components``. The argmax row reaches the
    merge step by BROADCAST (left join on a constant key, NULL-safe when a
    degenerate corpus runs out of pairs) — never a driver collect.
    """
    words = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.char_length("w") >= 2)
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    cur = vocab.select(
        "wc",
        F.expr(
            "transform(sequence(1, char_length(w)), i -> substring(w, i, 1))"
        ).alias("toks"),
    ).localCheckpoint()
    out: DataFrame | None = None
    for s in range(1, steps + 1):
        adj = cur.filter(F.size("toks") >= 2).select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(element_at(toks, i) AS l, "
                    "element_at(toks, CAST(i + 1 AS INT)) AS r))"
                )
            ).alias("p"),
        )
        pairs = adj.groupBy(
            F.col("p.l").alias("l"), F.col("p.r").alias("r")
        ).agg(F.sum("wc").alias("cnt"))
        # argmax stays LAZY (optimization r14): the round's one materialization
        # is the merged-vocab checkpoint below, which already executes the
        # pair aggregate + TakeOrdered exactly once inside its broadcast —
        # checkpointing `best` separately was a second job per round for a
        # 1-row table. The step's report row is read back from the constant
        # columns the broadcast left on the checkpointed vocab (limit(1) over
        # materialized data; all rows carry the same values by construction),
        # so every pair aggregate still runs exactly once at any scale. The
        # LAST round has no merged vocab; its lazy argmax has a single
        # consumer (the output union) and executes inside the final action.
        best = pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(1)
        if s < steps:
            b = best.select(
                F.lit(1).alias("_j"),
                F.col("l").alias("_l"),
                F.col("r").alias("_r"),
                F.col("cnt").alias("_cnt"),
            )
            merged = (
                cur.withColumn("_j", F.lit(1))
                .join(F.broadcast(b), "_j", "left")
                .select(
                    "wc",
                    _bpe_merge_fold(
                        F.col("toks"), F.col("_l"), F.col("_r")
                    ).alias("toks"),
                    "_l",
                    "_r",
                    "_cnt",
                )
                .localCheckpoint()
            )
            # a degenerate corpus with no pair this round leaves NULL
            # constants (left join against an empty argmax) — the old shape
            # emitted NO step row then, so filter the NULL row out
            step_out = (
                merged.limit(1)
                .where(F.col("_l").isNotNull())
                .select(
                    F.lit(s).cast("long").alias("step"),
                    F.col("_l").alias("pair_left"),
                    F.col("_r").alias("pair_right"),
                    F.concat("_l", "_r").alias("merged"),
                    F.col("_cnt").cast("long").alias("pair_count"),
                )
            )
            cur = merged.select("wc", "toks")
        else:
            step_out = best.select(
                F.lit(s).cast("long").alias("step"),
                F.col("l").alias("pair_left"),
                F.col("r").alias("pair_right"),
                F.concat("l", "r").alias("merged"),
                F.col("cnt").cast("long").alias("pair_count"),
            )
        out = step_out if out is None else out.unionByName(step_out)
    assert out is not None
    return out


def _bpe_fold_sql(toks_expr: str, best_cte: str) -> str:
    """The DuckDB merge fold: ``list_reduce`` over a ``chr(31)``-joined
    accumulator string (DuckDB's reduce carries the element type, so the
    token list rides a separator no corpus token can contain — the fixture
    alphabet is [a-z ]); ``regexp_extract/_replace`` on ``[^\\x1f]*$``
    address the accumulator's last token. Matches the Spark fold exactly —
    validated on the overlapping-run cases in tests."""
    return f"""string_split(list_reduce({toks_expr},
                   (acc, x) -> CASE WHEN regexp_extract(acc, '[^\\x1f]*$') = {best_cte}.l
                                         AND x = {best_cte}.r
                               THEN regexp_replace(acc, '[^\\x1f]*$', {best_cte}.l || {best_cte}.r)
                               ELSE acc || chr(31) || x END), chr(31))"""


def _bpe_train_ctes(steps: int, table: str) -> str:
    """Shared training CTE chain: vocab → per-round pair counts (p{s}),
    argmax (b{s}), merged vocab state (t{s+1})."""
    parts = [
        f"""
    WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM {table}),
    vocab AS (SELECT w, count(*) AS wc FROM words WHERE length(w) >= 2 GROUP BY 1),
    t1 AS (SELECT wc, list_transform(range(1, length(w) + 1),
                                     i -> substr(w, i, 1)) AS toks
           FROM vocab)"""
    ]
    for s in range(1, steps + 1):
        parts.append(
            f""",
    p{s} AS (SELECT toks[i] AS l, toks[i + 1] AS r, sum(wc) AS cnt
             FROM t{s}, unnest(range(1, len(toks))) AS u(i) GROUP BY 1, 2),
    b{s} AS (SELECT l, r, cnt FROM p{s} ORDER BY cnt DESC, l, r LIMIT 1)"""
        )
        if s < steps:
            parts.append(
                f""",
    t{s + 1} AS (SELECT wc, {_bpe_fold_sql("toks", "b")} AS toks
             FROM t{s}, b{s} b)"""
            )
    return "".join(parts)


def bpe_merge_train_oracle_sql(steps: int = 4, table: str = "documents") -> str:
    """DuckDB twin of :func:`bpe_merge_train`, the rounds unrolled as chained
    CTEs (the kmeans-oracle pattern); see :func:`_bpe_fold_sql` for the merge
    fold mechanics."""
    selects = [
        f"""
    SELECT CAST({s} AS BIGINT) AS step, l AS pair_left, r AS pair_right,
           l || r AS merged, CAST(cnt AS BIGINT) AS pair_count
    FROM b{s}"""
        for s in range(1, steps + 1)
    ]
    return _bpe_train_ctes(steps, table) + " UNION ALL ".join(selects)


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    steps: int = 4,
    merges: DataFrame | None = None,
) -> DataFrame:
    """BPE tokenizer APPLY: encode every document with the merge table
    :func:`bpe_merge_train` learns (or a supplied one) — train + encode
    closes the tokenizer loop. Returns ``(id, n_tokens, tokens_text)`` where
    ``tokens_text`` renders each word's token list space-joined, words joined
    by ``|`` (fully sensitive to merge placement, so the oracle catches any
    mis-applied merge).

    Scale shape: merges are applied to the corpus's DISTINCT words (the
    vocabulary — encoding is vocab-bounded exactly like training; every word
    is folded once no matter how often it occurs), each merge round joining
    its single argmax row by BROADCAST. Documents then join their words
    against the encoded vocabulary (one hash join on the word) and reassemble
    in word order with a per-doc sorted collect — per-doc work is bounded by
    document length. Words shorter than 2 chars never trained but still
    encode (a single char is its own token); an empty-string word encodes to
    zero tokens."""
    if merges is None:
        merges = bpe_merge_train(df, text_col=text_col, steps=steps)
    words = df.select(F.explode(F.split(F.col(text_col), " ")).alias("w")).distinct()
    enc = words.select(
        "w",
        F.expr(
            "CASE WHEN char_length(w) >= 1 THEN "
            "transform(sequence(1, char_length(w)), i -> substring(w, i, 1)) "
            "ELSE CAST(array() AS array<string>) END"
        ).alias("toks"),
    )
    for s in range(1, steps + 1):
        b = merges.filter(F.col("step") == s).select(
            F.lit(1).alias("_j"),
            F.col("pair_left").alias("_l"),
            F.col("pair_right").alias("_r"),
        )
        enc = (
            enc.withColumn("_j", F.lit(1))
            .join(F.broadcast(b), "_j", "left")
            .select(
                "w",
                F.when(F.size("toks") >= 2, _bpe_merge_fold(F.col("toks"), F.col("_l"), F.col("_r")))
                .otherwise(F.col("toks"))
                .alias("toks"),
            )
        )
    enc = enc.select(
        "w",
        F.concat_ws(" ", "toks").alias("_wtoks"),
        F.size("toks").alias("_wn"),
    )
    positions = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("_pos", "w")
    )
    return (
        positions.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_wn").cast("long").alias("n_tokens"),
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_wtoks"))),
                    lambda x: x["_wtoks"],
                ),
            ).alias("tokens_text"),
        )
    )


def bpe_encode_oracle_sql(steps: int = 4, table: str = "documents") -> str:
    """DuckDB twin of :func:`bpe_encode`: the training CTEs of
    :func:`bpe_merge_train_oracle_sql` plus the same folds applied to the
    full (unfiltered) vocabulary and a word-order string_agg reassembly."""
    parts = [_bpe_train_ctes(steps, table)]
    parts.append(
        f""",
    allw AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM {table}),
    e1 AS (SELECT w, list_transform(range(1, length(w) + 1),
                                    i -> substr(w, i, 1)) AS toks
           FROM allw)"""
    )
    for s in range(1, steps + 1):
        # LEFT JOIN ON TRUE, not a comma cross-join: when training exhausts
        # the pair supply before `steps` rounds, b{s} is EMPTY — a cross join
        # would zero-row the encoded vocabulary while the Spark side
        # identity-degrades (NULL pair → fold appends unchanged). The CASE's
        # b.l IS NULL arm mirrors that identity exactly.
        parts.append(
            f""",
    e{s + 1} AS (SELECT w, CASE WHEN b.l IS NULL OR len(toks) < 2 THEN toks ELSE
                 {_bpe_fold_sql("toks", "b")} END AS toks
             FROM e{s} LEFT JOIN b{s} b ON TRUE)"""
        )
    parts.append(
        f""",
    wt AS (SELECT w, coalesce(array_to_string(toks, ' '), '') AS wtoks,
                  CAST(len(toks) AS BIGINT) AS wn
           FROM e{steps + 1}),
    pos AS (SELECT doc_id, i, ws[i] AS w
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM {table}),
                 unnest(range(1, len(ws) + 1)) AS u(i))
    SELECT doc_id, CAST(sum(wn) AS BIGINT) AS n_tokens,
           string_agg(wtoks, '|' ORDER BY i) AS tokens_text
    FROM pos JOIN wt USING (w) GROUP BY doc_id"""
    )
    return "".join(parts)


def bpe_pair_counts_oracle_sql(k: int = 50, table: str = "documents") -> str:
    return f"""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM {table}
    ),
    vocab AS (
        SELECT w, count(*) AS wc FROM words WHERE length(w) >= 2 GROUP BY 1
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair,
               wc
        FROM vocab
    ),
    counts AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count FROM pairs GROUP BY 1)
    SELECT pair, pair_count, pair_rank FROM (
        SELECT pair, pair_count,
               CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
                   AS pair_rank
        FROM counts
    ) WHERE pair_rank <= {k}
    """


def novelty_score(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY vs a reference corpus — contamination's
    inverse: the fraction of a doc's DISTINCT n-grams never seen anywhere in
    the reference (``dedup.word_ngrams`` shingles, so <n-word docs emit no
    rows — they have no n-gram evidence either way). High-novelty documents
    are what a curriculum upweights; near-zero novelty flags regurgitation
    of the reference set. Output: (doc_id, n_grams, novel_grams,
    novelty_bp) with novelty in integer basis points (floor), so the ratio
    is exact in both engines.

    Scale shape: the reference collapses ONCE to distinct 8-byte gram hashes
    (vocabulary-sized at 100 TB — broadcast- or bucket-joinable; the oracle
    joins on the gram string, so a hash collision would surface as a
    mismatch); the probe side explodes each doc's distinct grams, marks them
    against the broadcast index, and one grouped count per doc closes it.
    Document text never shuffles — only hashes move."""
    from kda_flink_demo_spark.functions import spread_for_compute
    from kda_flink_demo_spark.operators.llm.dedup import word_ngrams

    ref_idx = (
        spread_for_compute(reference)
        .select(F.explode(word_ngrams(F.col(text_col), n)).alias("_g"))
        .select(F.xxhash64("_g").alias("_h"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    probe = spread_for_compute(df).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    ).select(id_col, F.xxhash64("_g").alias("_h"))
    return (
        probe.join(F.broadcast(ref_idx), "_h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0)).alias(
                "novel_grams"
            ),
        )
        .select(
            id_col,
            "n_grams",
            "novel_grams",
            F.floor(F.col("novel_grams") * 10000 / F.col("n_grams"))
            .cast("long")
            .alias("novelty_bp"),
        )
    )


def novelty_score_oracle_sql(
    ref_pred: str, probe_pred: str, n: int = 3, table: str = "documents"
) -> str:
    """DuckDB twin joining on the gram STRING (hash-free — a Spark-side
    xxhash64 collision would therefore show up as a mismatch)."""
    gram = "w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
    if n != 3:
        raise ValueError("oracle builder fixed at n=3")
    return f"""
    WITH ref AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(w)-1),
               i -> {gram}))) AS g
        FROM (SELECT string_split(text, ' ') AS w FROM {table} WHERE {ref_pred})
    ),
    probe AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
               i -> {gram}))) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {table}
              WHERE {probe_pred})
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
           CAST(floor(sum(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) * 10000
                / count(*)) AS BIGINT) AS novelty_bp
    FROM probe p LEFT JOIN ref r ON p.g = r.g
    GROUP BY 1
    """


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 16,
) -> DataFrame:
    """Hashing-trick featurizer (the HashingVectorizer shape): each document
    maps to a fixed ``n_features``-dim term-count vector via the cross-engine
    md5 bucket hash — the featurizer that needs NO vocabulary artifact, so
    every slice of a 100 TB corpus featurizes identically with zero
    coordination (the natural input to the distributed quality classifier
    next to `classifier.logreg_quality_score`'s handcrafted features).

    Output: one row per (doc, bucket) with cnt > 0 — sparse COO form (dense
    fixed-width columns waste storage once n_features grows past a demo).

    Scale shape: explode → ONE partial→final (doc, bucket) aggregate; bucket
    cardinality is fixed, so map-side combine collapses each task to
    ≤ docs×n_features rows before the shuffle. Fully oracle-checkable — the
    md5 bucket is the same idiom as `sketches._cms_bucket`."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("_t")
    ).filter(F.col("_t") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("_t")), 1, 15), 16, 10).cast("long")
        % n_features
    )
    return (
        toks.select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hashed_features_oracle_sql(n_features: int = 16, table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           CAST(concat('0x', substring(md5(term), 1, 15)) AS BIGINT) % {n_features}
               AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table})
    WHERE term <> '' GROUP BY 1, 2
    """
