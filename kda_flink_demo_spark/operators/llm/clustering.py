"""Near-dup clustering: connected components over a similarity-pair graph.

Dedup pipelines need CLUSTERS, not just pairs: if A~B and B~C, all three are one
duplicate group even when A~C was never emitted. Components come from iterative
min-label propagation WITH POINTER JUMPING — each round, every node adopts the
minimum of its own label, its neighbors' labels, and its label's label
(label-of-label shortcutting); converge when no label changes. Near-dup graphs
have tiny diameters (2–3 rounds); the jump term makes deep chains cost
O(log diameter) rounds instead of O(diameter) (r10 probe: a diameter-100 chain
converges in 9 rounds where plain propagation needs 101).

Scale notes: each round is one shuffle (groupBy node over the edge list).
The loop is over DataFrame TRANSFORMATIONS (lazy plans) with a single tiny
``.agg().first()`` convergence check per round — no data ever lands on the
driver. For billion-edge graphs, the same loop runs with checkpointing every
few rounds to truncate lineage (``spark.sparkContext.setCheckpointDir``).

This is the engine's demonstration of the "iterative algorithm" capability
class (driver contract: genuinely non-SQL-expressible ops may omit the oracle;
here a DuckDB recursive CTE CAN serve as the oracle at test scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from kda_flink_demo_spark.functions import _observed, narrow_checkpoint

# target edge rows per partition for the size-adaptive narrow (see
# connected_components: ~25 bytes/edge → ~5 MB partitions; a fixture-scale
# graph collapses to one task per stage, a 100 TB graph stays wide)
_EDGES_PER_PARTITION = 200_000


def _loop_join_big(n_nodes: int, threshold: int = 100_000) -> bool:
    """Join-strategy switch for the per-round CC joins. Catalyst happily
    broadcasts a small label table — and at fixture scale that IS fastest
    (measured: sort-merge rounds cost ~3× on a 5k-node graph, pure per-stage
    overhead) — but the broadcast repeats EVERY round and builds on the
    driver, so past ~100k nodes (a few MB per round, 10× headroom below the
    1.1M-node probe that OOMed a 1 GB driver) both joins are pinned to
    sort-merge: spill-safe (shuffle-hash's build side is not — the same probe
    OOMed executor-side with it), executor-only at any label size, rounds
    co-partitioned on the node key. At 100 TB labels are corpus-sized and a
    driver-routed broadcast is not slow, it is impossible."""
    return n_nodes > threshold


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 24,
    stats: dict | None = None,
) -> DataFrame:
    """(a, b) undirected edges → (node, component) where component is the
    minimum node id reachable. Nodes not in any pair are absent (singletons are
    implicit).

    Min-label propagation with pointer jumping from round 4: rounds ≈
    log2(diameter) + 4 on deep graphs, while near-dup graphs — near-cliques
    converging in 2–3 rounds — stay entirely on the cheap one-hop path (the
    jump join is measurable pure overhead there, see the loop comment).
    Round 1 is FREE (optimization r13): initial labels are computed as
    min(u, neighbors) directly by the node-discovery aggregate over the edge
    list — one groupBy where identity-init + a first full propagation round
    (join + groupBy + checkpoint + probe) used to run. Labels after the init
    equal the old round-1 labels exactly, so every graph converges one
    executed pass earlier with identical output. If
    ``max_iter`` rounds pass without convergence this RAISES instead of
    silently returning partial labels (which would diverge from any
    transitive-closure oracle with no signal) — the default 24 covers
    diameters up to ~2^17.

    Lineage hygiene for big graphs: the edge list is ``localCheckpoint``-ed once
    (it is re-joined every round), and each round's labels are eagerly
    ``localCheckpoint``-ed with a ``_changed`` flag computed in the SAME pass
    (neighbor-min < own label) — the round's one shuffle executes exactly once
    and the convergence probe is a bare filter scan of that checkpoint, not an
    old-vs-new join (which itself replaced re-executing the lazy plan; labels
    are (node, label) pairs, so the materialization is ~17 bytes/node). Only a
    ``limit(1).count()`` (zero or one row) ever reaches the driver.

    Pass ``stats={}`` to receive ``stats["rounds"]`` — the number of
    propagation rounds actually run (≈ graph diameter; the r10 chain-depth
    probe records it against designed long-chain corpora)."""
    # Job hygiene (optimization r14, guide §1.2 — the loop was job-floor-bound:
    # 29 Spark jobs / 2.1 s for a 3-round fixture graph): every count the loop
    # needs now rides the checkpoint action it follows as an Observation
    # (CollectMetrics — computed during the SAME job, exact, task-retry-safe),
    # so the per-round convergence probe job, the node-count job, and the
    # edge-count job all disappear. The edge list is additionally COALESCED to
    # a size-derived partition count (~200k edges/partition): a fixture-scale
    # graph otherwise launches 32 near-empty map tasks per round per stage,
    # while a billion-edge graph keeps its width — scale-adaptive, no
    # local-mode constant.
    edges = narrow_checkpoint(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct(),
        _EDGES_PER_PARTITION,
    )
    # Initial labels fold the FIRST propagation round into the node-discovery
    # aggregate (optimization r13): label₀(u) = min(u, min over neighbors v) —
    # exactly what round 1 of the old identity-initialized loop computed, but
    # as ONE groupBy over the edge list instead of a distinct + a full
    # join+groupBy round. Every graph now converges one round earlier with
    # identical labels (a fixpoint is unchanged; the first loop iteration
    # below sees precisely the old round-1 output). NULL nodes keep their own
    # NULL label (the old LEFT-join behavior): least() would skip the NULL.
    n_obs = Observation()
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("_nmin0"))
        .select(
            "u",
            F.when(F.col("u").isNull(), F.lit(None).cast(edges.schema["u"].dataType))
            .otherwise(F.least("u", "_nmin0"))
            .alias("label"),
        )
        .observe(n_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # loop-aware join strategy: at fixture scale Catalyst broadcasts the tiny
    # label table and that IS fastest — but the broadcast repeats EVERY round
    # and builds on the driver, so past the node threshold both per-round
    # joins are pinned to spill-safe sort-merge (see _loop_join_big). The
    # node count rides the init checkpoint's own job (Observation).
    n_nodes = _observed(n_obs, labels.sparkSession, "connected_components")["n"]
    hinted = (lambda df: df.hint("merge")) if _loop_join_big(n_nodes) else (lambda df: df)
    converged = False
    for it in range(max_iter):
        # every node adopts min(own label, neighbors' labels); the convergence
        # flag rides the SAME pass (nmin < own label), so the probe is a bare
        # scan of the round's checkpoint — no old-vs-new join per round. The
        # neighbor min aggregates the neighbor stream only (own label enters
        # via least() after the join). LEFT join + null-skipping least():
        # bidirectional edges give every non-null node a neighbor, but a
        # degenerate graph with NULL ids must keep such nodes on their own
        # label (as the previous union+groupBy-min formulation did), not drop
        # them through an inner equi-join.
        # Neighbor-min AND the old-vs-new comparison in ONE aggregate
        # (optimization r14): the node's own label rides the neighbor stream
        # as a tagged union row, so the old `labels LEFT JOIN neighbor_min`
        # attach disappears — one join + one groupBy per round instead of
        # two joins + one groupBy. `_nmin` (min over the untagged rows) and
        # `_old` (the single tagged row) are exactly the old join's columns,
        # so labels and the convergence flag are bit-identical; NULL nodes
        # are forced to keep their own label below, which reproduces the old
        # null-rejecting equi-join behavior.
        contrib = (
            edges.join(hinted(labels.withColumnRenamed("u", "v")), "v")
            .select("u", "label", F.lit(False).alias("_own"))
            .union(labels.select("u", "label", F.lit(True).alias("_own")))
        )
        half = (
            contrib.groupBy("u")
            .agg(
                F.max(F.when(F.col("_own"), F.col("label"))).alias("label"),
                F.min(F.when(~F.col("_own"), F.col("label"))).alias("_nmin"),
            )
            .select(
                "u",
                "label",
                # a NULL node's neighbor-min never attached through the old
                # equi-join (NULL ≠ NULL); reproduce that exactly
                F.when(F.col("u").isNull(), F.lit(None))
                .otherwise(F.col("_nmin"))
                .alias("_nmin"),
            )
        )
        # pointer jumping (label-of-label through the PREVIOUS round's
        # checkpointed mapping): new[u] = min(prev[u], neighbor min,
        # prev[prev[u]]). One-hop propagation alone needs ~diameter rounds —
        # the r10 chained-variant probe measured 11 rounds / 17.0 s on 100k
        # diameter-10 chains (1.1M nodes) where the jump variant converges in
        # O(log d); a fixpoint of the jumped update is also a fixpoint of
        # plain propagation, so converged labels are still exact component
        # minima (property-tested against the DuckDB transitive closure).
        c_obs = Observation()
        any_changed = F.sum(F.col("_changed").cast("long")).alias("n_changed")
        if it < 2:
            # the jump join only pays off on DEEP graphs: early rounds'
            # label-of-label shortcuts at most one hop the next neighbor-min
            # reaches anyway, and near-clique graphs (the common dedup case)
            # converge in 2–3 one-hop rounds where every jump join is pure
            # overhead — an r11 A/B probe (SCALE.md) measured the old it==1
            # start costing +22% wall on the sf0.1 image graph for ZERO round
            # savings. The label initialization above already IS round 1, so
            # loop iteration i equals propagation round i+2: `it < 2` keeps
            # the jump starting at effective round 4 exactly as before —
            # shallow graphs stay on the cheap path, deep chains still get
            # O(log d) doubling (max_iter keeps ~2^17 headroom)
            new_labels = (
                half.select(
                    "u",
                    F.least("label", "_nmin").alias("label"),
                    F.coalesce(F.col("_nmin") < F.col("label"), F.lit(False)).alias(
                        "_changed"
                    ),
                )
                .observe(c_obs, any_changed)
                .localCheckpoint()
            )
        else:
            jump = labels.select(F.col("u").alias("_j_from"), F.col("label").alias("_j_to"))
            new_labels = (
                half.join(hinted(jump), F.col("label") == F.col("_j_from"), "left")
                .select(
                    "u",
                    F.least("label", "_nmin", "_j_to").alias("label"),
                    F.coalesce(
                        F.least("_nmin", "_j_to") < F.col("label"), F.lit(False)
                    ).alias("_changed"),
                )
                .observe(c_obs, any_changed)
                .localCheckpoint()  # eager: the round's shuffles run exactly once
            )
        # the convergence probe rides the checkpoint job above (Observation);
        # sum-of-changed == 0 is exactly the old "no _changed row exists"
        changed = (
            _observed(c_obs, new_labels.sparkSession, "connected_components")["n_changed"]
            or 0
        )
        labels = new_labels.drop("_changed")
        if changed == 0:
            converged = True
            if stats is not None:
                # +2: the label initialization is propagation round 1, loop
                # iteration i is round i+2 — the count stays comparable with
                # the pre-r13 probes (same graph → same reported rounds,
                # executed with one fewer join+groupBy pass). One stats-only
                # edge case (ADVICE r13): a graph of ONLY self-loop pairs
                # converges at init, so this reports 2 where the pre-r13 code
                # reported 1 — labels are identical either way.
                stats["rounds"] = it + 2
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds — the pair graph has diameter > {max_iter}; rerun with a "
            "larger max_iter (labels would otherwise be silently wrong)"
        )
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def dedup_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup groups: every document in a component keeps the component's
    minimum doc_id as the canonical representative; cluster_size counts its
    members. Singletons (no near-dup) are excluded — they keep themselves."""
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("canonical_id"),
            F.col("cluster_size"),
        )
    )


def apply_dedup(
    documents: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("source", "n_chars"),
) -> DataFrame:
    """The dedup pipeline's OUTPUT: the surviving corpus — every document
    except non-canonical near-dup cluster members (each cluster keeps its
    minimum-id representative; singletons were never in a cluster and always
    survive).

    Shape: one LEFT ANTI join of the corpus against the (tiny relative to the
    corpus) drop-list of non-canonical members. At 100 TB the drop-list —
    duplicates only, not the corpus — is usually broadcastable; otherwise it
    is an 8-byte-key shuffle join on the id. The corpus is scanned once.
    """
    drop = clusters.filter(F.col(id_col) != F.col("canonical_id")).select(id_col)
    return documents.join(drop, id_col, "left_anti").select(id_col, *keep_cols)


def leakage_safe_split(
    documents: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, ...] = (90, 5, 5),
    names: tuple[str, ...] = ("train", "val", "test"),
    seed: str = "leak",
) -> DataFrame:
    """Group-aware train/val/test split — `sampling.dataset_split` hardened
    against near-duplicate LEAKAGE: the md5 threshold hashes each document's
    near-dup COMPONENT canonical id (itself for singletons), so an entire
    near-dup cluster lands in one split and no pair of the dedup graph can
    straddle the train/eval boundary. A doc-id-hashed split (dataset_split)
    leaks: two near-identical documents hash independently and ~2·p·(1−p) of
    dup pairs cross splits, contaminating eval — the canonical-id hash makes
    that probability 0 BY CONSTRUCTION (asserted in tests over the fixture's
    real cluster graph).

    Scale shape: `clusters` holds near-dup members only (≪ corpus), so the
    left join is broadcast-able; the hash + CASE are map-side. One corpus
    scan, no shuffle of the corpus — the same stable-at-any-parallelism
    property as dataset_split, with the leakage guarantee on top.
    """
    from kda_flink_demo_spark.operators.llm.sampling import _HASH_SPACE

    if len(weights) != len(names) or len(names) < 2:
        raise ValueError("weights and names must align, with >= 2 buckets")
    total = sum(weights)
    bounds = []
    acc = 0
    for wgt in weights[:-1]:
        acc += wgt
        bounds.append(_HASH_SPACE * acc // total)
    canon = documents.select(id_col).join(
        F.broadcast(clusters.select(id_col, "canonical_id")), id_col, "left"
    )
    key = F.coalesce(F.col("canonical_id"), F.col(id_col)).alias("canonical_id")
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":"), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    expr = F.lit(names[-1])
    for b, name in zip(reversed(bounds), reversed(names[:-1])):
        expr = F.when(u < F.lit(b), F.lit(name)).otherwise(expr)
    return canon.select(F.col(id_col), key, expr.alias("split"))


def leakage_safe_split_case_sql(
    key_expr: str,
    weights: tuple[int, ...] = (90, 5, 5),
    names: tuple[str, ...] = ("train", "val", "test"),
    seed: str = "leak",
) -> str:
    """The DuckDB CASE expression matching :func:`leakage_safe_split`'s
    thresholds on an arbitrary canonical-id SQL expression."""
    from kda_flink_demo_spark.operators.llm.sampling import _HASH_SPACE

    total = sum(weights)
    bounds = []
    acc = 0
    for wgt in weights[:-1]:
        acc += wgt
        bounds.append(_HASH_SPACE * acc // total)
    u = (
        f"CAST(concat('0x', substring(md5(concat('{seed}:', "
        f"CAST({key_expr} AS VARCHAR))), 1, 8)) AS BIGINT)"
    )
    return (
        "CASE "
        + " ".join(f"WHEN {u} < {b} THEN '{n}'" for b, n in zip(bounds, names[:-1]))
        + f" ELSE '{names[-1]}' END"
    )
