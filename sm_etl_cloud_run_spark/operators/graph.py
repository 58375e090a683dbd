"""Graph analytics over similarity graphs (scale layer; not in the
reference — the companion of operators/dedup.py's transitive
components: once a near-duplicate graph exists, centrality ranks the
canonical representative and surfaces hub documents).

Determinism for oracle parity: PageRank mass is integer micro-units
(1e12 scale) and every division is integer `DIV`, so each iteration is
exact and partition-order-free on both engines — iterating IEEE
doubles would drift across engines after one round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000_000   # 1e12 micro-pagerank units
_DAMP_NUM = 85                 # damping 0.85 as an integer percentage
# min-label propagation rounds before `min_label_components` gives up
_COMPONENT_MAX_ROUNDS = 20


def pagerank_undirected(
    pairs: DataFrame,
    *,
    iterations: int = 2,
) -> DataFrame:
    """Integer-exact PageRank over an undirected edge list.

    `pairs` holds each undirected edge once, as (id_a, id_b) with
    id_a < id_b by convention; nodes are the edge participants (every node therefore
    has degree ≥ 1 — no dangling-mass term). Returns
    (id, deg, pr_micro): PageRank mass in 1e12 micro-units after
    `iterations` rounds from the uniform start.

    All arithmetic is BIGINT: pr₀ = SCALE DIV n, each node's
    per-neighbor contribution is pr DIV deg, and
    prₜ₊₁ = (15·(SCALE DIV n)) DIV 100 + (85·Σ contribs) DIV 100.
    Truncating division loses < 1 micro-unit per op — invisible at the
    1e12 scale, and identically invisible on both engines.

    Scale shape: one groupBy for degrees, then per iteration one
    src-keyed hash join (edges × parameter-free contribs) and one
    dst-keyed map-side-combined aggregate — Pregel's message pass as
    two shuffles on the node key, which AQE co-locates across
    iterations. No driver sync: a fixed iteration count keeps the
    whole chain one lazy plan (convergence-tested variants add the
    1-row counter collect, as dedup_lsh_components does).
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # Edge discovery (e.g. an all-pairs or LSH-candidate cosine join) is
    # the expensive stage, and every iteration re-reads the edge list —
    # checkpoint it so discovery runs ONCE, not deg+2·iterations times
    # (lazy: materializes at the first action, same pattern as
    # dedup_lsh_components' per-round checkpoint). 3.7× at sf0.1.
    edges = edges.localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    base = deg.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.expr(f"{PR_SCALE} DIV n").alias("pr0"),
        F.expr(f"(15 * ({PR_SCALE} DIV n)) DIV 100").alias("teleport"),
    )
    cur = deg.crossJoin(F.broadcast(base)).select(
        "id", "deg", F.col("pr0").alias("pr"), "teleport"
    )
    for _ in range(iterations):
        contribs = cur.select(
            F.col("id").alias("src"), F.expr("pr DIV deg").alias("c")
        )
        inbox = (
            edges.join(contribs, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("c").cast("long").alias("s"))
        )
        cur = (
            deg.join(inbox, "id", "left")
            .crossJoin(F.broadcast(base))
            .select(
                "id",
                "deg",
                (
                    F.col("teleport")
                    + F.expr(f"({_DAMP_NUM} * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
                ).cast("long").alias("pr"),
                "teleport",
            )
        )
    return cur.select("id", "deg", F.col("pr").alias("pr_micro"))


def min_label_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
) -> DataFrame:
    """Connected components over an explicit edge list by min-label
    propagation (Pregel-style fixpoint; the general-graph sibling of
    `dedup.lsh_dedup_components`, which is specialized to the bipartite
    doc↔bucket graph).

    `edges` holds (src, dst) pairs. `nodes` seeds every vertex — including isolated ones, which come
    back as their own singleton component (an entity-resolution
    requirement: an unmatched record is still an entity). Labels must
    be orderable; the component representative is the minimum label
    reachable. Each round is two keyed shuffles + a 1-row convergence
    read; `localCheckpoint` truncates lineage so plans stay linear.
    Converges in O(component diameter) rounds, and raises past
    `_COMPONENT_MAX_ROUNDS`.

    Returns (node_col, component_rep).
    """
    sym = (
        edges.select(F.col("src").alias("__a"), F.col("dst").alias("__b"))
        .unionByName(
            edges.select(F.col("dst").alias("__a"), F.col("src").alias("__b"))
        )
        .distinct()
        .localCheckpoint(eager=True)  # scanned every round
    )
    labels = nodes.select(F.col(node_col)).distinct().withColumn(
        "__label", F.col(node_col)
    )
    for _ in range(_COMPONENT_MAX_ROUNDS):
        nbr_min = (
            sym.join(labels, sym["__a"] == labels[node_col])
            .groupBy("__b")
            .agg(F.min("__label").alias("__new"))
        )
        nxt = (
            labels.join(nbr_min, labels[node_col] == nbr_min["__b"], "left")
            .select(
                F.col(node_col),
                F.least(F.col("__label"), F.coalesce("__new", "__label")).alias("__label"),
                (F.coalesce("__new", "__label") < F.col("__label")).cast("int").alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = nxt.agg(F.sum("__chg")).collect()[0][0]
        labels = nxt.drop("__chg")
        if not changed:
            break
    else:
        raise RuntimeError(
            f"min_label_components did not converge in {_COMPONENT_MAX_ROUNDS} "
            "rounds (a component's diameter exceeds the round cap)"
        )
    return labels.withColumnRenamed("__label", "component_rep")


def bfs_levels(
    edges: DataFrame,
    seed,
    *,
    max_iter: int = 10,
) -> DataFrame:
    """Single-source BFS distances over an undirected (src, dst) edge list —
    min-distance label propagation (the components operator's metric
    sibling; same Pregel shape: per round two keyed shuffles, a 1-row
    convergence read, localCheckpoint lineage truncation).

    Returns (node, dist) for nodes REACHABLE within `max_iter` hops
    (the unreached are absent, matching a depth-capped recursive-CTE
    oracle). Converges in eccentricity(seed) rounds; raises if the
    frontier is still moving at the bound, so a silent truncation
    can't masquerade as a result.
    """
    sym = (
        edges.select(F.col("src").alias("__a"), F.col("dst").alias("__b"))
        .unionByName(
            edges.select(F.col("dst").alias("__a"), F.col("src").alias("__b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = sym.sparkSession.createDataFrame(
        [(seed, 0)], f"node {'long' if isinstance(seed, int) else 'string'}, dist int"
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(dist, sym["__a"] == dist["node"])
            .groupBy(F.col("__b").alias("node"))
            .agg((F.min("dist") + 1).alias("__nd"))
        )
        nxt = (
            dist.join(nbr, "node", "full_outer")
            .select(
                "node",
                F.least(
                    F.coalesce("dist", F.lit(2**31 - 1)),
                    F.coalesce("__nd", F.lit(2**31 - 1)),
                ).cast("int").alias("dist"),
                (
                    F.coalesce("__nd", F.lit(2**31 - 1))
                    < F.coalesce("dist", F.lit(2**31 - 1))
                ).cast("int").alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = nxt.agg(F.sum("__chg")).collect()[0][0]
        dist = nxt.drop("__chg")
        if not changed:
            break
    else:
        raise RuntimeError(
            f"bfs_levels still expanding after {max_iter} rounds; raise max_iter"
        )
    return dist
