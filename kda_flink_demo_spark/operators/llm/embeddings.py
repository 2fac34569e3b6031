"""Embedding storage/compression operators.

``quantize_embeddings`` — symmetric int8 scalar quantization, the standard
4× storage compression for ANN indexes (FAISS ``SQ8``-style): per-vector
scale = max|v| / 127, codes = round-half-up(v / scale), reconstruction
error reported as per-vector MSE.

All JVM-side array expressions (transform / zip_with / aggregate) — no
Python in the data path, no shuffle: a narrow per-row projection that runs at
scan speed at any scale. The same arithmetic is expressible in DuckDB list
functions, so the operator is fully oracle-checked (sequential-fold MSE sum on
both sides; det_round absorbs nothing here beyond display width, but keeps the
hash comparison stable).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kda_flink_demo_spark.functions import det_round, det_round_sql


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    head: int = 8,
) -> DataFrame:
    """Per-vector symmetric int8 quantization + reconstruction MSE.

    codes = floor(v/scale + 0.5) — explicit half-up so Spark and the oracle
    round identically (no banker's rounding); |v| ≤ max|v| ⇒ codes already lie
    in [-127, 127], no clamp needed. All-zero vectors get scale 0 and all-zero
    codes (guarded — 0/0 would be NaN and ANSI would reject the cast).

    Output: (id, scale, mse, q_head) with ``q_head`` the first ``head`` codes
    as a comma string (raw array columns break hash comparators; the full code
    array is an internal column callers can re-derive).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col), v.alias("_v")).withColumn(
        "_scale", F.array_max(F.transform("_v", F.abs)) / F.lit(127.0)
    )
    qc = F.when(
        F.col("_scale") > 0,
        F.transform("_v", lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("long")),
    ).otherwise(F.transform("_v", lambda x: F.lit(0).cast("long")))
    base = base.withColumn("_qc", qc)
    err_terms = F.zip_with(
        "_v", "_qc", lambda x, q: (x - q * F.col("_scale")) * (x - q * F.col("_scale"))
    )
    mse = F.aggregate(err_terms, F.lit(0.0), lambda acc, e: acc + e) / F.size("_v")
    return base.select(
        F.col(id_col),
        det_round(F.col("_scale"), 9).alias("scale"),
        det_round(mse, 12).alias("mse"),
        F.concat_ws(
            ",", F.transform(F.slice("_qc", 1, head), lambda x: x.cast("string"))
        ).alias("q_head"),
    )


QUANTIZE_ORACLE_SQL = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v),
    q AS (SELECT vec_id, v, scale,
            CASE WHEN scale > 0
                 THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                 ELSE list_transform(v, x -> 0::BIGINT) END AS qc
          FROM s)
    SELECT vec_id,
           {det_round_sql('scale', 9)} AS scale,
           {det_round_sql(
               '''list_reduce(
                      list_prepend(0.0::DOUBLE,
                          list_transform(list_zip(v, qc),
                              p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale))),
                      (acc, e) -> acc + e) / len(v)''',
               12,
           )} AS mse,
           array_to_string(qc[1:8], ',') AS q_head
    FROM q
"""


def pca_project(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    scalar_cols: bool = False,
) -> DataFrame:
    """Distributed PCA projection: reduce the embedding column to its top-k
    principal components — the dimension-reduction step before ANN/clustering
    on high-dimensional embeddings.

    Scale shape (the "small-model fit + broadcast apply" pattern):
    1. the sufficient statistics (XᵀX upper triangle, column sums, count)
       come out of ONE corpus scan — per-partition BLAS outer products in a
       `mapInPandas` pass, then a dim²-bounded grouped sum; the result is
       metadata-sized no matter how large the corpus;
    2. the eigendecomposition runs on the driver over that tiny matrix (this
       is model fitting on a 64×64 array, not a data collect — the same class
       as broadcasting LSH hyperplanes);
    3. the projection is a purely map-side pandas-UDF matmul with the
       components broadcast.

    Eigenvector signs are canonicalized (largest-|loading| coordinate made
    positive) so output is deterministic; projections are det_round-ed. No
    SQL oracle (eigendecomposition is not SQL-expressible) — validated
    against a pure-numpy reference in tests and registered rows-only, like
    the other linear-algebra/approximate operators.

    ``scalar_cols=True`` flattens the projection into det-rounded scalar
    columns ``pc1..pck`` instead of one ``array<double>`` column — the shape
    external row-comparators can sort/count (plain doubles, no nested
    arrays)."""
    from kda_flink_demo_spark.operators.llm.similarity import _as_double

    base = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    fit = _fit_pca(base, k)
    return project_with_pca_model(
        base, fit, k, id_col=id_col, round_digits=round_digits, scalar_cols=scalar_cols
    )


def project_with_pca_model(
    base,
    model,
    k: int,
    id_col: str = "vec_id",
    round_digits: int = 6,
    scalar_cols: bool = False,
):
    """Apply a fitted ``(mu, components)`` model to a ``(_v array<double>)``
    frame — the broadcast map-side matmul, shared by the one-shot
    `pca_project` and the streaming stats store's reader (a model trained
    incrementally projects any later batch)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from kda_flink_demo_spark.functions import det_round_np

    if model is None:  # empty corpus: nothing to fit, empty projection
        empty = base.select(
            F.col(id_col), F.lit(None).cast("array<double>").alias("pca")
        ).limit(0)
        return _flatten_pca(empty, k, id_col) if scalar_cols else empty
    mu_b, comp_b = model

    @pandas_udf("array<double>")
    def _project(vecs_s: pd.Series) -> pd.Series:
        m = np.vstack(vecs_s.to_numpy()).astype(np.float64)
        proj = det_round_np((m - mu_b) @ comp_b, round_digits)
        return pd.Series(list(proj))

    out = base.select(F.col(id_col), _project(F.col("_v")).alias("pca"))
    return _flatten_pca(out, k, id_col) if scalar_cols else out


def pca_stats_df(base) -> "DataFrame":
    """The PCA sufficient statistics as a dim²-bounded DataFrame of
    ``(i, j, v)`` cells (XᵀX upper triangle; ``j = -1`` rows carry column
    sums; the ``(-1, -1)`` row carries the count) — ONE mapInPandas corpus
    pass with per-partition BLAS outer products, then a grouped sum. The
    cells are ADDITIVE, so slice stats merge by (i, j)-sum — the property
    the streaming stats store (`streaming/standing_stores.py:
    update_pca_stats_store`) folds on."""
    import numpy as np

    def _partials(batches):
        S = sm = None
        cnt = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            if S is None:
                S = m.T @ m
                sm = m.sum(axis=0)
            else:
                S += m.T @ m
                sm += m.sum(axis=0)
            cnt += len(pdf)
        if cnt == 0:
            return
        iu, ju = np.triu_indices(S.shape[0])
        out_i = np.concatenate([iu, np.arange(S.shape[0]), [-1]])
        out_j = np.concatenate([ju, np.full(S.shape[0], -1), [-1]])
        out_v = np.concatenate([S[iu, ju], sm, [float(cnt)]])
        yield pd.DataFrame({"i": out_i.astype("int32"), "j": out_j.astype("int32"), "v": out_v})

    return (
        base.select("_v")
        .mapInPandas(_partials, "i int, j int, v double")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
    )


def _fit_pca(base, k: int):
    """Fit the top-``k`` principal components from one distributed pass over
    ``base`` (a DataFrame with an ``_v`` array<double> column): returns
    ``(mu, components)`` as numpy arrays with canonical signs, or None on an
    empty corpus. The sufficient statistics (XᵀX upper triangle, column sums,
    count) are dim²-bounded — the collect is model-sized, never data-sized.
    NOT a per-row posexplode self-join (that would shuffle N·dim²/2 rows —
    the corpus times 2080 for dim=64)."""
    # dim²/2 + dim + 1 rows — model-sized, not a data collect
    return model_from_pca_stats(pca_stats_df(base).collect(), k)


def model_from_pca_stats(stats, k: int):
    """Build ``(mu, components)`` from collected ``(i, j, v)`` stat rows
    (shared by the one-shot fit and the streaming stats store); None on
    empty stats."""
    import numpy as np

    if not stats:
        return None
    n = next(r["v"] for r in stats if r["i"] == -1 and r["j"] == -1)
    dim = max(r["i"] for r in stats) + 1
    mu = np.zeros(dim)
    S = np.zeros((dim, dim))
    for r in stats:
        if r["j"] == -1 and r["i"] >= 0:
            mu[r["i"]] = r["v"] / n
        elif r["i"] >= 0:
            S[r["i"], r["j"]] = r["v"]
            S[r["j"], r["i"]] = r["v"]
    cov = S / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comp = vecs[:, order]  # (dim, k)
    # canonical signs: the largest-|loading| coordinate of each component > 0
    for c in range(comp.shape[1]):
        j = int(np.argmax(np.abs(comp[:, c])))
        if comp[j, c] < 0:
            comp[:, c] = -comp[:, c]
    return mu.copy(), comp.copy()


def pca_check(
    df: DataFrame,
    k: int = 8,
    var_tenths: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Hash-checkable companion to :func:`pca_project` (the
    sketch_incremental_pack template — eigendecomposition itself is not
    SQL-expressible, but its defining PROPERTIES are assertable): per vector,
    emit

    - ``centered_norm2`` — ‖v − μ‖², det-rounded: the oracle computes it
      exactly (per-dim means + per-row fold), anchoring that both engines see
      the same centering;
    - ``bessel_ok`` — ‖proj‖² ≤ ‖centered‖² (+1e-9 slack): an orthogonal
      projection can never grow a norm (Bessel's inequality); any fit/apply
      bug that breaks orthonormality trips it;
    - ``var_explained_ok`` — the GLOBAL Σ‖proj‖²/Σ‖centered‖² clears
      ``var_tenths``/10, computed with integer-free float arithmetic on two
      det-rounded global sums; deterministic because the fit is (canonical
      signs, fixed fold shapes). The oracle pins both booleans TRUE.

    One fit (the shared dim²-bounded stats pass) + ONE map-side norms pass
    (checkpointed as a 24-byte/row projection so the global-sum aggregate and
    the per-row output don't re-scan the corpus) + a 2-cell global
    aggregate."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from kda_flink_demo_spark.functions import det_round
    from kda_flink_demo_spark.operators.llm.similarity import _as_double

    base = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    fit = _fit_pca(base, k)
    if fit is None:
        return base.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("centered_norm2"),
            F.lit(None).cast("boolean").alias("bessel_ok"),
            F.lit(None).cast("boolean").alias("var_explained_ok"),
        ).limit(0)
    mu_b, comp_b = fit

    @pandas_udf("struct<cn2: double, pn2: double>")
    def _norms(vecs_s: pd.Series) -> pd.DataFrame:
        m = np.vstack(vecs_s.to_numpy()).astype(np.float64)
        c = m - mu_b
        cn2 = np.einsum("ij,ij->i", c, c)
        p = c @ comp_b
        pn2 = np.einsum("ij,ij->i", p, p)
        return pd.DataFrame({"cn2": cn2, "pn2": pn2})

    per = (
        base.select(F.col(id_col), _norms(F.col("_v")).alias("_n"))
        .select(
            F.col(id_col),
            F.col("_n.cn2").alias("_cn2"),
            F.col("_n.pn2").alias("_pn2"),
        )
        # checkpoint the 24-byte/row norm projection: `per` feeds BOTH the
        # global-sum aggregate and the final select, and without a
        # materialization point the corpus scan + Arrow norms pass would run
        # twice (the simhash signature-table move)
        .localCheckpoint()
    )
    tot = per.agg(
        det_round(F.sum("_cn2"), round_digits).alias("_tc"),
        det_round(F.sum("_pn2"), round_digits).alias("_tp"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col(id_col),
        det_round(F.col("_cn2"), round_digits).alias("centered_norm2"),
        (F.col("_pn2") <= F.col("_cn2") + F.lit(1e-9)).alias("bessel_ok"),
        (F.col("_tp") * F.lit(10.0) >= F.col("_tc") * F.lit(float(var_tenths)))
        .alias("var_explained_ok"),
    )


def _flatten_pca(df: DataFrame, k: int, id_col: str) -> DataFrame:
    """``pca array<double>`` → scalar columns ``pc1..pck`` (already rounded).
    ``F.get`` (0-based), not ``element_at``: when ``k`` exceeds the embedding
    dimension the fit yields only ``dim`` components, and under Spark 4's
    default ANSI mode an out-of-bounds ``element_at`` would throw instead of
    padding the extra columns with NULL."""
    return df.select(
        F.col(id_col),
        *[F.get(F.col("pca"), i).alias(f"pc{i + 1}") for i in range(k)],
    )


def pq_encode(
    df: DataFrame,
    m: int = 8,
    subdim: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    with_codebook: bool = False,
    checkpoint_codebook: bool = False,
) -> DataFrame:
    """Product quantization (codebook train + encode) — the ANN memory-scale
    path between int8 scalar quantization (`quantize_embeddings`) and the IVF
    index (`similarity.ivf_ann_topk`): each vector is cut into ``m``
    ``subdim``-dim subvectors, a ``k``-centroid Lloyd codebook is trained PER
    SUBSPACE, and every vector compresses to ``m`` byte-sized codes
    (64 doubles → 8 bytes here, 64× memory reduction for in-RAM candidate
    scoring). Output: one row per (vector, subspace) with the assigned
    ``code`` and that subspace's exact squared reconstruction error
    ``dist2`` (det-rounded).

    The per-subspace k-means reuses `kmeans.kmeans_assign`'s deterministic
    recipe with ``sub`` carried as a key column, so ALL subspaces train in
    the same plan — no per-subspace driver loop:

    - seeds: the k globally-smallest ``md5(id)`` vectors (TakeOrdered), their
      slices seeding every subspace's codebook identically;
    - assignment: the m codebooks fold into m array-of-structs rows broadcast
      and joined on ``sub`` — a purely map-side argmin, zero corpus shuffle;
    - update: posexplode → grouped avg on (sub, cluster, pos), det-rounded so
      fold-order noise can't leak into the next round's distances.

    Scale shape: per iteration the sliced corpus scans once map-side plus one
    m·k·subdim-sized aggregate; inter-round state is the m·k×subdim codebook
    only. Oracle: the same rounds unrolled as DuckDB CTEs with ``sub`` as a
    grouping column (`pq_oracle_sql`).

    ``checkpoint_codebook=True`` (optimization r13, `build_pq_index` only)
    eagerly localCheckpoints the FINAL codebook before the last assignment
    round is planned, so the returned ``codes`` plan reads the materialized
    codebook instead of embedding the whole training chain — a caller that
    materializes BOTH outputs (the standing-index build) otherwise executes
    the training subtree twice (once under codes, once under codebook). The
    checkpointed values are the identical det-rounded doubles, so codes are
    bit-identical either way (pinned in tests/test_opt_r13.py).
    """
    from pyspark.sql.functions import broadcast

    from kda_flink_demo_spark.functions import quote_ident, spread_for_compute

    # Construction note (optimization r14, same rationale as kmeans_assign):
    # per-round expressions are SQL strings, not Column-object lambda trees —
    # one parse per round instead of hundreds of py4j round-trips; the parsed
    # expressions are the same resolved trees (double literals, operator
    # order, struct field order), so codes/dist2/codebook are bit-identical
    # (oracle hash-checks recompute the exact doubles; pq tests unchanged).
    scale = f"{float(10 ** round_digits)!r}D"

    def rnd(e: str) -> str:
        return f"floor(({e}) * {scale} + 0.5D) / {scale}"

    def dot_sql(a: str, b: str) -> str:
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"

    # the per-row argmin is a k-struct fold over subdim-length dot products —
    # CPU-heavy enough that a single-file input (1 scan partition) pins every
    # Lloyd round to one core; spread first (the dedup.py shingle rule)
    df = spread_for_compute(df)
    qid = quote_ident(id_col)
    base = (
        df.selectExpr(
            f"CAST({qid} AS LONG) AS {qid}",
            f"transform({quote_ident(vec_col)}, x -> CAST(x AS DOUBLE)) AS _v",
        )
        .selectExpr(qid, f"explode(sequence(0, {m - 1})) AS sub", "_v")
        .selectExpr(qid, "sub", f"slice(_v, sub * {subdim} + 1, {subdim}) AS _sv")
        .selectExpr("*", f"{dot_sql('_sv', '_sv')} AS _svn2")
    )

    seeds = (
        df.selectExpr(
            f"CAST({qid} AS LONG) AS {qid}",
            f"md5(CAST({qid} AS STRING)) AS _h",
        )
        .orderBy("_h", id_col)
        .limit(k)
        .selectExpr(
            qid,
            f"CAST(row_number() OVER (ORDER BY _h, {qid}) - 1 AS LONG) AS cluster",
        )
    )
    cent = base.join(broadcast(seeds), id_col).select(
        "sub", "cluster", F.col("_sv").alias("_c")
    )

    asg = None
    for i in range(iters):
        if checkpoint_codebook and i == iters - 1:
            # materialize the final codebook ONCE; the last assignment round
            # (the returned codes) and the returned codebook both read it
            cent = cent.localCheckpoint()
        cset = (
            cent.selectExpr("sub", "cluster", "_c", f"{dot_sql('_c', '_c')} AS _cn2")
            .groupBy("sub")
            .agg(F.expr("collect_list(struct(cluster, _c, _cn2))").alias("_cs"))
        )
        d2 = rnd(f"_svn2 + s._cn2 - 2.0D * {dot_sql('_sv', 's._c')}")
        best = (
            f"array_min(transform(_cs, s -> named_struct("
            f"'_d2', {d2}, 'cluster', s.cluster)))"
        )
        asg = (
            base.join(broadcast(cset), "sub")
            .selectExpr("*", f"{best} AS _m")
            .selectExpr(
                qid, "sub", "_m.cluster AS code", "_m._d2 AS dist2", "_sv", "_svn2"
            )
        )
        if i < iters - 1:
            cent = (
                asg.selectExpr("sub", "code AS cluster", "posexplode(_sv) AS (pos, x)")
                .groupBy("sub", "cluster", "pos")
                .agg(F.expr(rnd("avg(x)")).alias("mn"))
                .groupBy("sub", "cluster")
                .agg(F.expr("array_sort(collect_list(struct(pos, mn)))").alias("_pm"))
                .selectExpr("sub", "cluster", "transform(_pm, s -> s.mn) AS _c")
            )
    codes = asg.select(id_col, F.col("sub").cast("long").alias("sub"), "code", "dist2")
    if with_codebook:
        # the codebook the FINAL assignment used (cluster vectors per subspace)
        return codes, cent.select(
            F.col("sub").cast("long").alias("sub"), "cluster", F.col("_c").alias("cvec")
        )
    return codes


def pq_oracle_sql(
    m: int = 8,
    subdim: int = 8,
    k: int = 16,
    iters: int = 2,
    digits: int = 6,
    table: str = "embeddings",
    normalized: bool = False,
) -> str:
    """DuckDB twin of :func:`pq_encode`: iterations unrolled, ``sub`` carried
    as a grouping column — same seeding, same rounded distances, same
    smallest-cluster tie-break. ``normalized=True`` trains on L2-normalized
    vectors (the `pq_adc_topk` / `pq_index_build` variant; division by the
    sequential-fold norm is the identical IEEE op in both engines)."""
    d2 = det_round_sql("b.svn2 + c.cn2 - 2 * list_dot_product(b.sv, c.c)", digits)
    mn = det_round_sql("avg(x)", digits)
    vexpr = "embedding::DOUBLE[]"
    if normalized:
        vexpr = (
            "CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0 "
            "THEN list_transform(embedding::DOUBLE[], "
            "x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) "
            "ELSE embedding::DOUBLE[] END"
        )
    parts = [
        f"""
    WITH base AS (
        SELECT vec_id, t.sub,
               v[t.sub * {subdim} + 1 : t.sub * {subdim} + {subdim}] AS sv,
               list_dot_product(v[t.sub * {subdim} + 1 : t.sub * {subdim} + {subdim}],
                                v[t.sub * {subdim} + 1 : t.sub * {subdim} + {subdim}]) AS svn2
        FROM (SELECT vec_id, {vexpr} AS v FROM {table}),
             (SELECT unnest(range({m})) AS sub) t
    ),
    seeds AS (
        SELECT vec_id,
               (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1) AS cluster
        FROM {table}
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {k}
    ),
    c0 AS (
        SELECT b.sub, s.cluster, b.sv AS c, b.svn2 AS cn2
        FROM base b JOIN seeds s USING (vec_id)
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    a{i} AS (
        SELECT vec_id, sub, sv, svn2, cluster, d2 FROM (
            SELECT b.vec_id, b.sub, b.sv, b.svn2, c.cluster, {d2} AS d2
            FROM base b JOIN c{i - 1} c ON b.sub = c.sub
        )
        QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cluster) = 1
    )"""
        )
        if i < iters:
            parts.append(
                f""",
    c{i} AS (
        SELECT sub, cluster, list(mn ORDER BY pos) AS c,
               list_dot_product(list(mn ORDER BY pos), list(mn ORDER BY pos)) AS cn2
        FROM (
            SELECT sub, cluster, pos, {mn} AS mn
            FROM (
                SELECT sub, cluster AS cluster, unnest(range(1, len(sv) + 1)) AS pos,
                       unnest(sv) AS x
                FROM a{i}
            )
            GROUP BY sub, cluster, pos
        )
        GROUP BY sub, cluster
    )"""
            )
    ctes = "".join(parts)
    return f"""{ctes}
    SELECT vec_id, CAST(sub AS BIGINT) AS sub, cluster AS code, d2 AS dist2
    FROM a{iters}"""
