"""Closeness / harmonic centrality by multi-source frontier BFS.

Additive scope like algo.wcc (the reference registry ships only
BFS/pageRank, ``/root/reference/src/procedures/procedure.c:27-42``).
Computed for an explicit SOURCE SET bounded to ``max_hops`` — the
scale-sane contract: all-nodes closeness is O(V·E) and never the right
cluster job, while k-bounded closeness for a candidate set (the usual
"how central are these accounts/pages" ask) is one multi-source BFS.

Definitions over nodes reached within ``max_hops`` directed hops
(self excluded): ``closeness = reached / Σ dist`` and
``harmonic = Σ 1/dist`` (harmonic is the variant that stays
well-defined on disconnected graphs — Boldi & Vigna 2014). Sources
reaching nothing report 0 for both.

Scale shape: closeness and betweenness' forward pass run on
``bfs.levels``, the engine's one root-keyed first-reach BFS loop: one
equi-join + one anti-join against the reached keys per hop, all roots
advanced together; the final centrality is one root-keyed
aggregation. Nothing driver-side.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.algorithms.bfs import levels, root_frame

MAX_HOPS = 16


def closeness(edges: DataFrame, source_ids, max_hops: int = MAX_HOPS,
              grid: float = 1e6) -> DataFrame:
    """``edges``: ``_src``/``_dst``. ``source_ids``: list of ids OR a
    one-column DataFrame of ids (the correlated-CALL path — sources
    stay distributed, never collected).  Returns one row per source:
    ``(node, reached, closeness, harmonic)`` — reached/centralities
    over nodes at directed distance 1..max_hops, grid-rounded."""
    e = edges.select(F.col("_src").alias("__u"),
                     F.col("_dst").alias("__v")).distinct() \
        .localCheckpoint(eager=True)
    roots = root_frame(edges.sparkSession, source_ids)
    found, _ = levels(
        roots.select("__root", F.col("__root").alias("__nid")), e,
        max_hops)
    dist = reduce(DataFrame.unionByName,
                  [lvl.withColumn("__d", F.lit(d))
                   for d, lvl in enumerate(found)])
    stats = dist.filter(F.col("__d") > 0).groupBy("__root").agg(
        F.count(F.lit(1)).alias("reached"),
        F.sum("__d").alias("__sumd"),
        F.sum(F.try_divide(F.lit(1.0), F.col("__d"))).alias("__harm"))
    # try_divide everywhere: when no source reaches anything the stats
    # side is EMPTY and AQE's empty-relation propagation constant-folds
    # the joined columns — under ANSI mode a folded 0-divisor then
    # throws where per-row null/null would not (found driving
    # correlated closeness on a zero-out-degree source)
    return roots.join(stats, "__root", "left").select(
        F.col("__root").alias("node"),
        F.coalesce("reached", F.lit(0)).cast("long").alias("reached"),
        F.coalesce(F.round(F.try_divide(F.col("reached"),
                                        F.col("__sumd")) * grid)
                   / grid, F.lit(0.0)).alias("closeness"),
        F.coalesce(F.round(F.col("__harm") * grid) / grid, F.lit(0.0))
        .alias("harmonic"))


def betweenness(edges: DataFrame, source_ids: list[int] | None = None,
                max_hops: int = MAX_HOPS, directed: bool = False,
                grid: float = 1e6) -> DataFrame:
    """Brandes betweenness contributions from a source set (Brandes
    2001 — "A faster algorithm for betweenness centrality"), as two
    layered join passes:

    - forward: multi-source BFS keyed by (root, node) carrying σ, the
      shortest-path count, accumulated by summing predecessor σ per
      newly-reached node — one equi-join + one anti-join + one keyed
      aggregation per level, all roots advanced together;
    - backward: dependency accumulation per level, deepest first —
      δ(v) = Σ_{w : v→w on the SP DAG} σ(v)/σ(w) · (1 + δ(w)); the SP
      DAG needs no stored predecessor lists, it is recovered per level
      by joining the edge set between consecutive BFS layers.

    ``source_ids=None`` uses every endpoint in the edge set — EXACT
    betweenness, O(V·E): right for label-bounded subgraphs, never for
    the full 100 TB graph (pass an explicit candidate set there; the
    k-source sum is the standard estimator, Brandes & Pich 2007).
    Undirected graphs (``directed=False``) symmetrize the edge set and
    halve the final sums (each unordered pair counted from both ends).

    Returns ``(node, score)`` for every non-root-only node reached,
    grid-rounded for cross-engine determinism.
    """
    e = edges.select(F.col("_src").alias("__u"),
                     F.col("_dst").alias("__v"))
    if not directed:
        e = e.unionByName(e.select(F.col("__v").alias("__u"),
                                   F.col("__u").alias("__v")))
    e = e.filter(F.col("__u") != F.col("__v")).distinct() \
        .localCheckpoint(eager=True)
    roots = root_frame(
        edges.sparkSession, source_ids if source_ids is not None
        else e.select("__u").union(e.select("__v")))
    # σ, the shortest-path count, sums over each node's predecessors
    found, _ = levels(
        roots.select("__root", F.col("__root").alias("__nid"),
                     F.lit(1.0).alias("__sigma")), e, max_hops,
        carry=[F.col("__sigma")],
        combine=[F.sum("__sigma").alias("__sigma")])
    # backward dependency accumulation (nothing to do with depth-0-only
    # BFS trees: no intermediates exist)
    contributions = []
    deepest = len(found) - 1
    delta_below = found[deepest].withColumn("__delta", F.lit(0.0))
    for d in range(deepest - 1, 0, -1):
        cur = found[d]
        down = cur.select(F.col("__root").alias("__r"),
                          F.col("__nid").alias("__a"),
                          F.col("__sigma").alias("__sa")) \
            .join(e, F.col("__a") == e["__u"]) \
            .join(delta_below,
                  (F.col("__r") == delta_below["__root"])
                  & (e["__v"] == delta_below["__nid"])) \
            .groupBy(F.col("__r"), F.col("__a")) \
            .agg(F.sum(F.col("__sa") / F.col("__sigma")
                       * (F.lit(1.0) + F.col("__delta"))).alias("__dl"))
        delta_below = cur.join(
            down, (cur["__root"] == down["__r"])
            & (cur["__nid"] == down["__a"]), "left") \
            .select("__root", "__nid", "__sigma",
                    F.coalesce(F.col("__dl"), F.lit(0.0))
                    .alias("__delta")) \
            .localCheckpoint(eager=True)
        contributions.append(
            delta_below.select("__nid", "__delta"))
    if not contributions:
        return roots.select(F.col("__root").alias("node")).limit(0) \
            .select("node", F.lit(0.0).alias("score"))
    allc = reduce(DataFrame.unionByName, contributions)
    half = 2.0 if not directed else 1.0
    return allc.groupBy(F.col("__nid").alias("node")).agg(
        (F.round(F.sum("__delta") / half * grid) / grid).alias("score"))


def node_similarity(edges: DataFrame, direction: str = "out",
                    threshold: float = 0.3, top_k: int = 100,
                    max_neighbor_degree: int | None = 10_000,
                    grid: float = 1e6) -> DataFrame:
    """Neighbor-set Jaccard node similarity (the GDS nodeSimilarity
    staple): sim(a, b) = |N(a)∩N(b)| / |N(a)∪N(b)| over ``direction``
    neighbors ('out' = _dst sets keyed by _src, 'in' = the transpose).
    The co-occurrence recommender primitive — e.g. parts similar
    because the same orders contain them.

    Scale shape: candidate pairs come from a self-join on the SHARED
    NEIGHBOR key (only pairs with intersection > 0 ever materialize —
    never all-pairs), intersections from one (a, b) count, set sizes
    from a degree table. ``max_neighbor_degree`` drops hub neighbors
    whose pair fan-out is quadratic (the max_fp_freq stop-shingle
    lever): a neighbor shared by d nodes contributes d² pairs, so one
    celebrity hub would dominate the shuffle. Set sizes are computed
    BEFORE the drop, so capped similarities are biased DOWN, never up
    (a capped pair can miss the threshold, not fake it). Callers pass
    None for exact semantics — the contract entry does.

    Returns unordered pairs (node_a < node_b): (node_a, node_b,
    intersection, jaccard), top_k by (jaccard desc, node_a, node_b).
    """
    if direction not in ("out", "in"):
        raise ValueError("node_similarity: direction must be 'out' or 'in'")
    key, nbr = (("_src", "_dst") if direction == "out"
                else ("_dst", "_src"))
    adj = edges.select(F.col(key).alias("__n"),
                       F.col(nbr).alias("__nb")).distinct()
    sizes = adj.groupBy("__n").agg(F.count(F.lit(1)).alias("__sz"))
    if max_neighbor_degree is not None:
        hot = adj.groupBy("__nb").agg(F.count(F.lit(1)).alias("__d")) \
            .filter(F.col("__d") > max_neighbor_degree).select("__nb")
        adj = adj.join(hot, "__nb", "left_anti")
    a = adj.select(F.col("__n").alias("node_a"), "__nb")
    b = adj.select(F.col("__n").alias("node_b"), "__nb")
    inter = a.join(b, "__nb") \
        .filter(F.col("node_a") < F.col("node_b")) \
        .groupBy("node_a", "node_b").agg(
            F.count(F.lit(1)).alias("intersection"))
    jac = (F.round(F.col("intersection")
                   / (F.col("__sa") + F.col("__sb")
                      - F.col("intersection")) * grid) / grid)
    return inter \
        .join(sizes.select(F.col("__n").alias("node_a"),
                           F.col("__sz").alias("__sa")), "node_a") \
        .join(sizes.select(F.col("__n").alias("node_b"),
                           F.col("__sz").alias("__sb")), "node_b") \
        .select("node_a", "node_b", "intersection",
                jac.alias("jaccard")) \
        .filter(F.col("jaccard") >= threshold) \
        .orderBy(F.col("jaccard").desc(), "node_a", "node_b") \
        .limit(top_k)
