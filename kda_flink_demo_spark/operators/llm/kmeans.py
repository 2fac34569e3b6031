"""Distributed Lloyd k-means over an embedding column, DataFrame-native.

The reference engine has no clustering operator; this is part of the
training-data-pipeline surface (SemDeDup-style semantic curation: cluster the
corpus by embedding, then dedup / rebalance within clusters). Like the
connected-components operator (`clustering.py`), it is iterative — but with a
FIXED, small iteration count, so the whole computation stays one declarative
plan the driver never touches:

- **Seeding** — the k rows with the smallest `md5(id)` become centroids
  0..k-1 (in hash order). Deterministic at any parallelism, and
  `orderBy(...).limit(k)` compiles to TakeOrdered (per-partition top-k +
  driver merge of k rows), never a global sort.
- **Assignment** — the k centroids are folded into ONE array-of-structs row
  and broadcast (k · dim doubles), so the per-round assignment is a purely
  map-side `array_min(transform(...))` argmin over the array — zero corpus
  shuffle. Squared L2 is computed as ``|v|² + |c|² − 2·v·c`` from
  sequential-fold dot products (JVM-side `zip_with`/`aggregate`, the same
  fold DuckDB's `list_dot_product` uses, so distances are bit-identical
  across engines before rounding); ties on the rounded distance break to the
  smallest cluster id in both engines via the struct ordering.
- **Update** — new centroids via `posexplode` + grouped avg on
  (cluster, pos): one shuffle of k·dim cells with map-side partial
  aggregation. Averages are `det_round(6)`-ed so parallel-sum fold-order
  noise (~1e-15 relative) cannot leak into the next round's distances.

Scale notes: per iteration the corpus is scanned once map-side (broadcast
centroids — no corpus shuffle) plus one k·dim-sized aggregate; state between
iterations is the k×dim centroid table only. Memory per task is O(k·dim).
For large iteration counts, localCheckpoint the centroid table every few
rounds (as `clustering.py` does) to bound lineage; at the fixed iters=3 used
here the single plan is the faster choice. Empty clusters simply drop out of
the centroid table (identically in both engines).

Reference parity: none (reference has no clustering; cited as an LLM-pipeline
extension per the build brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from kda_flink_demo_spark.functions import det_round_sql, quote_ident
from kda_flink_demo_spark.operators.llm.similarity import embedding_near_dup_pairs


def kmeans_assign(
    df: DataFrame,
    k: int = 10,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    keep_vec: bool = False,
) -> DataFrame:
    """Lloyd k-means: returns ``(id, cluster, dist2)`` after ``iters``
    assignment rounds (centroids are recomputed between rounds, so ``iters=3``
    means assign → update → assign → update → assign).

    ``keep_vec=True`` retains the double-cast vector as ``_v`` for downstream
    within-cluster work (e.g. :func:`semantic_dedup_pairs`).

    Construction note (optimization r14, guide §4 — shrink the Python↔JVM
    boundary): the per-round expressions are built as SQL strings
    (selectExpr / F.expr), not Column-object trees. Each higher-order-function
    lambda built through the Column API costs a cascade of py4j round-trips,
    and the 3-round unrolled plan paid ~0.5 s of pure driver-side
    construction before any job ran; one SQL parse per round replaces
    hundreds of round-trips. The parsed expressions are the SAME resolved
    trees the Column API produced (same literals — `0.0D`/`2.0D` doubles,
    same operator order, same struct field order), so every computed value is
    bit-identical; pinned by test_opt_r14's old-shape replica."""
    scale = f"{float(10 ** round_digits)!r}D"

    def rnd(e: str) -> str:
        # det_round as SQL: floor((e) * scale + 0.5) / scale, double literals
        return f"floor(({e}) * {scale} + 0.5D) / {scale}"

    def dot_sql(a: str, b: str) -> str:
        # similarity.dot as SQL: the same sequential fold
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"

    qid = quote_ident(id_col)
    base = df.selectExpr(
        f"CAST({qid} AS LONG) AS {qid}",
        f"transform({quote_ident(vec_col)}, x -> CAST(x AS DOUBLE)) AS _v",
    ).selectExpr("*", f"{dot_sql('_v', '_v')} AS _vn2")

    # deterministic seeds: k smallest md5(id); TakeOrdered, not a global sort
    cent = (
        base.selectExpr(qid, "_v", f"md5(CAST({qid} AS STRING)) AS _h")
        .orderBy("_h", id_col)
        .limit(k)
        .selectExpr(
            f"CAST(row_number() OVER (ORDER BY _h, {qid}) - 1 AS LONG) AS cluster",
            "_v AS _c",
        )
    )

    asg = None
    for i in range(iters):
        # fold the k centroids into ONE array-of-structs row: the assignment
        # becomes a broadcast of k·dim doubles + a map-side array_min argmin —
        # ZERO corpus shuffle per round (a groupBy-argmin over the k-way cross
        # join would shuffle N·k vector-carrying rows instead)
        cset = (
            cent.selectExpr("cluster", "_c", f"{dot_sql('_c', '_c')} AS _cn2")
            .groupBy()
            .agg(F.expr("collect_list(struct(cluster, _c, _cn2))").alias("_cs"))
        )
        d2 = rnd(f"_vn2 + s._cn2 - 2.0D * {dot_sql('_v', 's._c')}")
        best = (
            f"array_min(transform(_cs, s -> named_struct("
            f"'_d2', {d2}, 'cluster', s.cluster)))"
        )
        asg = (
            base.crossJoin(broadcast(cset))
            .selectExpr("*", f"{best} AS _m")
            .selectExpr(qid, "_m.cluster AS cluster", "_m._d2 AS dist2", "_v")
        )
        if i < iters - 1:
            cent = (
                asg.selectExpr("cluster", "posexplode(_v) AS (pos, x)")
                .groupBy("cluster", "pos")
                .agg(F.expr(rnd("avg(x)")).alias("m"))
                .groupBy("cluster")
                .agg(F.expr("array_sort(collect_list(struct(pos, m)))").alias("_pm"))
                .selectExpr("cluster", "transform(_pm, s -> s.m) AS _c")
            )
    out = asg
    if not keep_vec:
        out = out.drop("_v")
    return out


def semantic_dedup_pairs(
    df: DataFrame,
    k: int = 10,
    iters: int = 3,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-shaped semantic near-dup pairs: k-means clusters as the
    blocking key, then exact within-cluster cosine ≥ threshold via the
    chunked-BLAS block kernel (`embedding_near_dup_pairs`).

    This is the unsupervised twin of `dedup_embedding_cosine` (which blocks on
    the provided label column): at 100 TB there is no label — the corpus is
    clustered first and the quadratic pairwise work is bounded within
    clusters. Pair cost is O(Σ b_c²·dim) BLAS; the cluster sizes are bounded
    in practice by k (raise k to shrink blocks)."""
    asg = kmeans_assign(
        df,
        k=k,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
        keep_vec=True,
    )
    return embedding_near_dup_pairs(
        asg.select(id_col, "cluster", F.col("_v").alias(vec_col)),
        block_col="cluster",
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
    )


def _kmeans_cte_sql(k: int, iters: int, digits: int) -> tuple[str, str]:
    """DuckDB oracle CTE chain for :func:`kmeans_assign` (iterations unrolled
    — same seeding, same rounded dot-product distances, same tie-breaks).
    Returns (cte_block, final_assignment_cte_name)."""
    d2 = det_round_sql("b.vn2 + c.cn2 - 2 * list_dot_product(b.v, c.c)", digits)
    m = det_round_sql("avg(x)", digits)
    parts = [
        """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vn2
        FROM embeddings
    ),
    c0 AS (
        SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1) AS cluster,
               v AS c, vn2 AS cn2
        FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {k}
    )""".format(k=k)
    ]
    for i in range(1, iters + 1):
        parts.append(
            """,
    a{i} AS (
        SELECT vec_id, v, vn2, cluster, d2 FROM (
            SELECT b.vec_id, b.v, b.vn2, c.cluster, {d2} AS d2
            FROM base b CROSS JOIN c{prev} c
        )
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) = 1
    )""".format(i=i, prev=i - 1, d2=d2)
        )
        if i < iters:
            parts.append(
                """,
    c{i} AS (
        SELECT cluster, list(m ORDER BY pos) AS c,
               list_dot_product(list(m ORDER BY pos), list(m ORDER BY pos)) AS cn2
        FROM (
            SELECT cluster, pos, {m} AS m
            FROM (
                SELECT cluster, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS x
                FROM a{i}
            )
            GROUP BY cluster, pos
        )
        GROUP BY cluster
    )""".format(i=i, m=m)
            )
    return "".join(parts), f"a{iters}"


def kmeans_oracle_sql(k: int = 10, iters: int = 3, digits: int = 6) -> str:
    ctes, final = _kmeans_cte_sql(k, iters, digits)
    return f"{ctes}\n    SELECT vec_id, cluster, d2 AS dist2 FROM {final}"


def semantic_dedup_oracle_sql(
    k: int = 10, iters: int = 3, threshold: float = 0.35, digits: int = 6
) -> str:
    ctes, final = _kmeans_cte_sql(k, iters, digits)
    cos = det_round_sql(
        "list_dot_product(a.v, b.v) / (sqrt(a.vn2) * sqrt(b.vn2))", digits
    )
    return f"""{ctes}
    SELECT vec_a, vec_b, cosine FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
        FROM {final} a JOIN {final} b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE a.vn2 > 0 AND b.vn2 > 0
    ) WHERE cosine >= {threshold}"""
