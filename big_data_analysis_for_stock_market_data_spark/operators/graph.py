"""Graph analytics on edge DataFrames (engine extension; the reference has
no graph surface). Companions live elsewhere for historical reasons:
connected components in ``operators/dedup.py`` (duplicate clusters),
the co-purchase edge build (``_copurchase_edges``) and transitive
closure (``h1_ancestor_closure``) in ``queries.py``.

Design rule shared by all of them: iteration count is part of the spec
(fixed, small), each round is pure joins + aggregates on the edge list,
and per-round ``localCheckpoint`` truncates lineage so the plan doesn't
grow with the iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_nano(
    edges: DataFrame,
    n_iters: int = 3,
    damping_pct: int = 85,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER nano-units — deterministic and
    engine-portable by construction, unlike float PageRank whose
    per-node in-neighbor sums depend on aggregation order:

    - ranks live as ``pr_nano`` BIGINT (1.0 == 1e9);
    - a node's contribution is ``pr_nano div outdeg`` (integer floor
      division — exact, no rounding mode to disagree on);
    - the damped update is ``base + (damping_pct * Σcontrib) div 100``
      with ``base = ((100 - damping_pct) * 1e9) div (100 * n)`` — all
      integers, so the cross-engine result is bit-identical and the
      in-neighbor sum is order-free.

    Each quantity differs from real (double) PageRank by < 1e-9 per
    operation — quantization noise, not ranking error, at any realistic
    graph size. Nodes with no out-edges contribute nothing (classic
    dangling-mass drop; feed an undirected graph both ways to avoid it);
    nodes with no IN-edges still receive ``base``.

    Plan shape per iteration: edges ⋈ outdeg ⋈ ranks (all key-equi),
    one grouped integer sum, one left join back to the node set — shuffle
    keys stay (node) throughout, so at scale the whole loop co-partitions.
    Graph size enters the plan as a broadcast 1-row count (no driver
    scalar); ``localCheckpoint`` per round keeps the lineage flat."""
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # materialized once like nodes: every iteration's eager checkpoint
    # would otherwise re-run this shuffle (and the caller's whole edges
    # lineage) per round
    outdeg = (
        edges.groupBy(src)
        .agg(F.count(F.lit(1)).alias("__outdeg"))
        .localCheckpoint(eager=True)
    )
    edges = edges.localCheckpoint(eager=True)
    n_df = nodes.agg(F.count(F.lit(1)).alias("__n"))
    base = F.expr(
        f"CAST({(100 - damping_pct) * 1_000_000_000} AS BIGINT)"
        " div (100 * __n)"
    )
    pr = (
        nodes.crossJoin(F.broadcast(n_df))
        .select(
            "node",
            F.expr("CAST(1000000000 AS BIGINT) div __n").alias("pr_nano"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(n_iters):
        contrib = (
            edges.join(outdeg, src)
            .join(pr, F.col(src) == F.col("node"))
            .select(
                F.col(dst).alias("node"),
                F.expr("pr_nano div __outdeg").alias("__c"),
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        pr = (
            nodes.crossJoin(F.broadcast(n_df))
            .join(summed, "node", "left")
            .select(
                "node",
                (
                    base
                    + F.expr(
                        f"({damping_pct} * coalesce(__s, 0)) div 100"
                    )
                ).alias("pr_nano"),
            )
            .localCheckpoint(eager=True)
        )
    return pr


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "u",
    dst: str = "v",
    node_col: str = "node",
) -> DataFrame:
    """Level-synchronous BFS: minimum hop distance from any seed node,
    bounded at ``max_hops`` (fixed, part of the spec — same convention as
    ``pagerank_nano``'s iteration count). Returns (node, hops) for every
    node reachable within the bound; seeds report 0.

    Each level is one key-equi join (frontier ⋈ edges on the source),
    one distinct, and one left-anti join against the visited set — all
    shuffling on the node key, so at scale the loop co-partitions;
    ``localCheckpoint`` per level keeps the lineage flat. The visited set
    carries FIRST-discovery level, which for level-synchronous expansion
    IS the minimum distance — no min-aggregate needed. No driver
    scalars: the level loop is a fixed unroll, not a convergence test."""
    visited = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for level in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges[src])
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(level))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def ordered_triangles(edges: DataFrame) -> DataFrame:
    """Every triangle a < b < c of an ordered edge list (keys…, u, v) with
    u < v, once, as (keys…, a, b, c); the keys are the columns other than
    u and v (a ``copy_id`` keeps replicas apart). Two key-equi hash joins
    — (a, b) ⋈ (b, c) on b, then ⋈ (a, c) on both ends — so each triangle
    is found from its smallest corner only. Callers pass a checkpointed
    edge list: all three legs read it."""
    keys = [c for c in edges.columns if c not in ("u", "v")]

    def leg(x: str, y: str) -> DataFrame:
        return edges.select(*keys, F.col("u").alias(x), F.col("v").alias(y))

    return leg("a", "b").join(leg("b", "c"), [*keys, "b"]).join(
        leg("a", "c"), [*keys, "a", "c"]
    )
