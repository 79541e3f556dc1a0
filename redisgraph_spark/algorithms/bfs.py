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

Spark shape: ``levels`` below is the one root-keyed, first-reach BFS
loop of the engine; algo.BFS, closeness, betweenness' forward pass and
shortestPath/allShortestPaths all run on it. One CALL with many input
records is ONE distributed multi-source BFS: each level is a single
equi-join of the frontier with the edges, an anti-join against the
(root, node) keys already reached, and a per-(root, node) combine,
with ``localCheckpoint`` cutting lineage. algo.BFS's per-node parent
edge is the min-edge-id discovery (deterministic under Spark's
unordered execution).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# edge-count bound exists via visited-set monotonicity; this caps runaway
# unlimited BFS in local tests only
MAX_LEVELS = 64


def root_frame(spark, ids) -> DataFrame:
    """One ``__root`` row per distinct non-null source: ``ids`` is a
    list of node ids or a DataFrame whose first column holds them (a
    correlated CALL's per-row sources stay distributed)."""
    if isinstance(ids, DataFrame):
        roots = ids.select(F.col(ids.columns[0]).cast("long")
                           .alias("__root")) \
            .filter(F.col("__root").isNotNull())
    else:
        roots = spark.createDataFrame([(int(i),) for i in ids],
                                      "__root long")
    return roots.dropDuplicates().localCheckpoint(eager=True)


def levels(start: DataFrame, edges: DataFrame, max_hops: int,
           carry: Sequence[Column] = (),
           combine: Sequence[Column] | None = None
           ) -> tuple[list[DataFrame], bool]:
    """Advance every root of ``start`` (``__root``, ``__nid``, carried
    columns: depth 0, a select over a ``root_frame``, as every level
    reads it) one level per round over ``edges`` (``__u``, ``__v``,
    ...), keeping each (root, node)'s first reach only.

    A level joins the frontier to the edges on ``__nid = __u``, selects
    ``__root``, ``__v`` as ``__nid`` and the ``carry`` columns (over
    the joined frontier and edge row), drops the (root, node) keys
    already reached, and then aggregates each (root, node)'s rows with
    ``combine`` or, when it is None, keeps the distinct rows. Returns
    (levels, capped): ``levels[d]`` is depth ``d``'s frame (``levels[0]``
    is ``start``), and ``capped`` says that ``max_hops`` levels ran
    with a live frontier."""
    found = [start]
    frontier = start
    for _ in range(max_hops):
        # the reached keys: the union of the levels, each a checkpoint
        # or a select over one, so it needs no checkpoint of its own
        reached = reduce(DataFrame.unionByName,
                         [lvl.select("__root", "__nid") for lvl in found])
        nxt = frontier.join(edges, frontier["__nid"] == edges["__u"]) \
            .select("__root", F.col("__v").alias("__nid"), *carry) \
            .join(reached, ["__root", "__nid"], "left_anti")
        nxt = nxt.dropDuplicates() if combine is None \
            else nxt.groupBy("__root", "__nid").agg(*combine)
        nxt = nxt.localCheckpoint(eager=True)
        if not nxt.take(1):
            return found, False
        found.append(nxt)
        frontier = nxt
    return found, True


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
        F.col("_src").alias("__u"), F.col("_dst").alias("__v"),
        F.col("_id").alias("__eid"))
    roots = root_frame(g.spark, roots)
    # each level's (root, node) keeps its min-id discovery edge
    found, capped = levels(
        roots.select("__root", F.col("__root").alias("__nid")), edges,
        depth if depth > 0 else MAX_LEVELS,
        carry=[F.col("__eid").alias("__e")],
        combine=[F.min("__e").alias("__e")])
    if capped and depth <= 0:
        # "unlimited" BFS (reference proc_bfs.c) hit the safety cap
        # with a live frontier — say so instead of silently
        # truncating the reachable set
        import warnings
        warnings.warn(
            f"algo.BFS(depth=0) stopped at {MAX_LEVELS} levels "
            "with a live frontier; deeper nodes are not reported",
            RuntimeWarning, stacklevel=2)
    # nothing reachable from any source: the empty tree keeps the
    # inner-join semantics (zero output rows)
    tree = reduce(DataFrame.unionByName, found[1:],
                  found[0].withColumn("__e", F.col("__root")).limit(0))

    node_flat = g.nodes(None)
    node_struct = F.struct(*[F.col(c) for c in node_flat.columns])
    edge_struct = F.struct(*[F.col(c) for c in edges_flat.columns])

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
