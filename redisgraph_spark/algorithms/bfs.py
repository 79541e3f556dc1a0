"""``CALL algo.BFS(source, max_level, reltype)`` — single-source BFS.

Reference: ``/root/reference/src/procedures/proc_bfs.c`` (invoke :82-160,
step :163-230). Per input record: BFS from the bound source node over
*outgoing* edges of one relationship type (NULL ⇒ all types), up to
``max_level`` hops (0 ⇒ unlimited). Yields

- ``nodes`` — reachable nodes (source excluded), in node-id order
  (the reference iterates its result vector in index order);
- ``edges`` — the BFS-tree edge that discovered ``nodes[i]``, aligned.

Records whose source reaches nothing emit no row (step returns NULL when
``n == 0``), i.e. the CALL behaves as an inner join.

Spark shape: breadth-synchronous frontier joins keyed by BFS root, so one
CALL with many input records is ONE distributed multi-source BFS — each
hop is a single equi-join + anti-join against the visited set, with
``localCheckpoint`` cutting lineage. The per-node parent edge is the
min-edge-id discovery (deterministic under Spark's unordered execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# edge-count bound exists via visited-set monotonicity; this caps runaway
# unlimited BFS in local tests only
MAX_LEVELS = 64


def bfs_call(planner, args) -> DataFrame:
    """``CALL algo.BFS`` over ``args``: the source nodes' ``__root``
    ids (one per input record), the max level and the reltype.
    Returns ``(__root, nodes, edges)``, one row per root that reaches
    anything."""
    from redisgraph_spark.planner.planner import PlanError

    if len(args) != 3:
        raise PlanError("algo.BFS expects (source, max_level, reltype)")
    roots, depth, rel = args
    if not isinstance(roots, DataFrame):
        raise PlanError("algo.BFS source must be a bound node variable")
    if depth is not None and (not isinstance(depth, int)
                              or isinstance(depth, bool)):
        raise PlanError("algo.BFS max_level must be an integer")
    depth = depth or 0
    if rel is not None and not isinstance(rel, str):
        raise PlanError("algo.BFS reltype must be a string or NULL")

    g = planner.graph
    edges_flat = g.edges([rel] if rel is not None else None)
    edges = edges_flat.select(
        F.col("_src").alias("__p"), F.col("_dst").alias("__c"),
        F.col("_id").alias("__e"))

    roots = roots.dropDuplicates().localCheckpoint(eager=True)

    # visited: (root, nid); tree: (root, nid, eid) — the discovery edge
    visited = roots.select("__root", F.col("__root").alias("__nid"))
    frontier = visited
    tree: DataFrame | None = None
    max_levels = depth if depth > 0 else MAX_LEVELS
    for _ in range(max_levels):
        nxt = frontier.join(
            edges, frontier["__nid"] == edges["__p"], "inner") \
            .select("__root", F.col("__c").alias("__nid"), "__e")
        nxt = nxt.join(visited, ["__root", "__nid"], "left_anti")
        # one discovery edge per (root, node): min edge id
        nxt = nxt.groupBy("__root", "__nid").agg(F.min("__e").alias("__e"))
        nxt = nxt.localCheckpoint(eager=True)
        if not nxt.take(1):
            break
        tree = nxt if tree is None else tree.unionByName(nxt)
        visited = visited.unionByName(nxt.select("__root", "__nid")) \
            .localCheckpoint(eager=True)
        frontier = nxt.select("__root", "__nid")
    else:
        if depth <= 0:
            # "unlimited" BFS (reference proc_bfs.c) hit the safety cap
            # with a live frontier — say so instead of silently
            # truncating the reachable set
            import warnings
            warnings.warn(
                f"algo.BFS(depth=0) stopped at {MAX_LEVELS} levels "
                "with a live frontier; deeper nodes are not reported",
                RuntimeWarning, stacklevel=2)

    node_flat = g.nodes(None)
    node_struct = F.struct(*[F.col(c) for c in node_flat.columns])
    edge_struct = F.struct(*[F.col(c) for c in edges_flat.columns])

    if tree is None:
        # nothing reachable from any source: empty tree with the right
        # schema keeps the inner-join semantics (zero output rows) and
        # the yield column types identical to the populated case
        tree = roots.limit(0).select(
            "__root", F.col("__root").alias("__nid"),
            F.col("__root").alias("__e"))

    enriched = tree \
        .join(node_flat.select(F.col("_id").alias("__nid"),
                               node_struct.alias("__node")),
              "__nid", "inner") \
        .join(edges_flat.select(F.col("_id").alias("__e"),
                                edge_struct.alias("__edge")),
              "__e", "inner")
    # sort by discovered-node id (struct sort on leading __nid field)
    packed = enriched.groupBy("__root").agg(
        F.array_sort(F.collect_list(
            F.struct("__nid", "__node", "__edge"))).alias("__res"))
    return packed.select(
        "__root",
        F.transform("__res", lambda x: x["__node"]).alias("nodes"),
        F.transform("__res", lambda x: x["__edge"]).alias("edges"))
