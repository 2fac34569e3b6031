"""Shared scalar helpers.

``det_round``: deterministic cross-engine rounding. Spark's ``round(double, n)``
converts through ``BigDecimal.valueOf`` (shortest decimal repr, HALF_UP) while
DuckDB rounds the true binary value — e.g. the double nearest 0.60025 rounds to
0.6003 in Spark but 0.6002 in DuckDB. ``floor(x*10^n + 0.5)/10^n`` evaluates
bit-identically in both engines (and in numpy) as long as the input doubles are
bit-identical, which holds when both sides perform the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, for column names spliced
    into ``selectExpr``/``F.expr`` strings (spaces, dots, keywords)."""
    return "`" + name.replace("`", "``") + "`"


def det_round(col: Column, digits: int) -> Column:
    scale = 10**digits
    return F.floor(col * F.lit(float(scale)) + F.lit(0.5)) / F.lit(float(scale))


def det_round_sql(expr: str, digits: int) -> str:
    scale = float(10**digits)
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def det_round_np(arr, digits: int):
    import numpy as np

    scale = float(10**digits)
    return np.floor(np.asarray(arr, dtype="float64") * scale + 0.5) / scale


def narrow_checkpoint(df, rows_per_partition: int):
    """``localCheckpoint`` + size-adaptive ``coalesce`` — the INVERSE of
    ``spread_for_compute`` for the small derived tables the big-corpus
    kernels produce (hash/signature/edge tables: a few bytes per row after a
    CPU-heavy decode or shingle pass).

    The producing stage is deliberately wide (decode parallelism == scan
    parallelism), so the checkpointed result inherits ~defaultParallelism
    partitions; every downstream micro-stage over the (tiny at fixture scale)
    table then launches that many near-empty tasks — measured ~2× the
    per-batch wall on the quarter-block join pipelines at sf0.1. The row
    count rides the checkpoint's own job (Observation — zero extra jobs) and
    the partition target derives from it, so a corpus-scale table keeps its
    width: scale-adaptive, no local-mode constant. ``coalesce`` on a
    checkpointed table is a narrow re-bucketing of materialized partitions —
    values, order within partitions, and every downstream result are
    unchanged.

    Rule of thumb (r14, ABAB-measured): narrow ONLY tables whose downstream
    work is per-task overhead (equality joins, bit_count verifies). When the
    downstream is CPU-per-row, the coalesce serializes it and loses — the cms
    md5 cell pass went 0.60 → 0.91 s and the minhash signature pandas-UDF
    1.10 → 1.62 s under a narrow; both were reverted."""
    from pyspark.sql import Observation

    obs = Observation()
    ck = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    n = _observed(obs, ck.sparkSession, "narrow_checkpoint")["n"]
    want = max(1, -(-n // rows_per_partition))
    if want < ck.rdd.getNumPartitions():
        return ck.coalesce(want)
    return ck


def _observed(obs, spark, what: str) -> dict:
    """``obs.get`` for an Observation whose action has returned, or a clear
    error if that action produced no metrics. ``Observation.get`` alone blocks
    forever when the observed plan never ran. The metrics arrive through the
    listener bus after the action returns, so the bus is drained (for at most
    a minute) before the verdict."""
    from py4j.protocol import Py4JJavaError

    done = obs._jo.future().isCompleted
    if not done():
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        except Py4JJavaError:
            pass  # timed out: the check below decides
    if not done():
        raise RuntimeError(
            f"{what}: the observed action produced no metrics, so it did not run "
            "the observed plan"
        )
    return obs.get


def spread_for_compute(df):
    """Ensure enough partitions for CPU-bound per-row kernels (shingle
    explodes, Arrow UDFs) WITHOUT paying a full-row shuffle when the source is
    already parallel: the test fixtures are single parquet files (1–2 input
    splits) that would pin the work to one or two cores, but a 100 TB table
    arrives with ~10⁵ splits and must NOT be shuffled wholesale just to spread
    work. Repartitions only when the incoming parallelism is below
    defaultParallelism; streaming DataFrames (whose partitioning can't be
    inspected) keep the unconditional repartition.

    The probe is ``df.rdd.getNumPartitions()`` — an extra physical-planning
    pass per construction, but the only probe that answers the actual
    question. A file-count shortcut (``inputFiles()``) is wrong in BOTH
    directions: a few large files split into many 128 MB scan partitions
    (file count undercounts parallelism → needless full-row shuffle), and
    many tiny files bin-pack into few scan partitions via
    maxPartitionBytes/openCostInBytes (file count overcounts → the CPU
    pinning this helper exists to fix). Planning cost stays a per-query
    constant; correctness of the shuffle decision is worth it."""
    para = df.sparkSession.sparkContext.defaultParallelism
    if df.isStreaming or df.rdd.getNumPartitions() < para:
        return df.repartition(para)
    return df
