"""Weighted shortest paths (bounded-hop Bellman-Ford), root-keyed.

Additive scope like algo.wcc — the reference registry ships only
BFS/pageRank (``/root/reference/src/procedures/procedure.c:27-42``);
weighted SSSP is the natural companion to algo.BFS for property graphs
whose edges carry costs (here: any numeric edge property).

Algorithm: breadth-synchronous relaxation. ``dist`` holds the best
known distance per node; each round joins the improved frontier with
the edge list, min-aggregates candidate distances per destination, and
keeps only strict improvements — exactly Bellman-Ford with the frontier
optimization, which on non-negative weights converges within
``max_hops`` rounds to the shortest distance using ≤ ``max_hops`` edges.
Fixed round count (not data-dependent) when ``max_hops`` is given, so a
fixed-unroll SQL oracle replays the identical arithmetic.

Scale shape per round: one equi-join of the frontier against the edge
list (keyed shuffle on the join key, same partitioning every round so
AQE reuses exchanges) + one min-aggregate keyed by destination. State
is one (node, dist) row per reached node; the frontier-only join means
converged regions drop out of later rounds. No driver-side loops over
rows; convergence early-exit is a 1-row ``take(1)`` probe.

``sssp_multi`` holds the one relaxation loop, keyed by ``__root``;
``sssp`` runs it over a one-row root frame. A node's distance can still
improve after its first reach, so this loop is not the first-reach BFS
loop ``bfs.levels`` that algo.BFS, closeness, betweenness and
shortestPath share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_HOPS = 64


def sssp(edges: DataFrame, source_id: int, weight_col: str | None,
         max_hops: int = MAX_HOPS) -> DataFrame:
    """``edges``: ``_src``/``_dst`` (+ ``weight_col`` if given; null or
    missing weights count 1.0). Returns ``(node, distance, hops)`` for
    every node reachable from ``source_id`` within ``max_hops`` edges —
    source included at distance 0.0 — where ``distance`` is the minimum
    total weight and ``hops`` the edge count of that minimal path
    (min hops among equal-weight paths: deterministic tie-break).
    ``sssp_multi`` over a one-row root frame.
    """
    roots = edges.sparkSession.createDataFrame([(int(source_id),)],
                                               "__root long")
    return sssp_multi(edges, roots, weight_col, max_hops).drop("__root")


def sssp_multi(edges: DataFrame, roots: DataFrame,
               weight_col: str | None,
               max_hops: int = MAX_HOPS) -> DataFrame:
    """Multi-source SSSP: one distributed Bellman-Ford keyed by
    ``__root`` — the vectorized shape for correlated
    ``CALL algo.SSSP(n, …)`` fan-outs (round-7 advice #6: per-row
    sources must never become a driver-side loop; same design as
    ``bfs.levels``' root-keyed frontier). ``roots``: one
    ``__root`` column. Returns ``(__root, node, distance, hops)`` —
    each source included at distance 0."""
    w = (F.coalesce(F.col(weight_col).cast("double"), F.lit(1.0))
         if weight_col else F.lit(1.0))
    # materialize the slim (src, dst, w) projection once — every
    # relaxation round joins it, and without the checkpoint each round
    # would re-scan the source parquet + re-union the relation tables
    e = edges.select(F.col("_src").alias("__u"),
                     F.col("_dst").alias("__v"),
                     w.alias("__w")) \
        .localCheckpoint(eager=True)
    dist = roots.select(
        F.col("__root"), F.col("__root").alias("node"),
        F.lit(0.0).alias("distance"), F.lit(0).alias("hops")) \
        .localCheckpoint(eager=True)
    frontier = dist
    for _ in range(max_hops):
        cand = frontier.join(e, frontier["node"] == e["__u"]) \
            .select("__root", F.col("__v").alias("node"),
                    (F.col("distance") + F.col("__w")).alias("distance"),
                    (F.col("hops") + 1).alias("hops")) \
            .groupBy("__root", "node").agg(
                F.min(F.struct("distance", "hops")).alias("__b")) \
            .select("__root", "node",
                    F.col("__b.distance").alias("distance"),
                    F.col("__b.hops").alias("hops"))
        improved = cand.join(
            dist.select("__root", "node",
                        F.col("distance").alias("__od"),
                        F.col("hops").alias("__oh")),
            ["__root", "node"], "left") \
            .filter(F.col("__od").isNull()
                    | (F.col("distance") < F.col("__od"))
                    | ((F.col("distance") == F.col("__od"))
                       & (F.col("hops") < F.col("__oh")))) \
            .select("__root", "node", "distance", "hops") \
            .localCheckpoint(eager=True)
        if not improved.take(1):
            break
        dist = dist.join(improved.select("__root", "node"),
                         ["__root", "node"], "left_anti") \
            .unionByName(improved).localCheckpoint(eager=True)
        frontier = improved
    return dist
