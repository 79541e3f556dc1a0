"""PageRank as iterative DataFrame joins.

Reference: ``algo.pageRank`` (``/root/reference/src/procedures/
proc_pagerank.c:202``, backed by LAGraph's matrix pagerank). Spark-native:
the classic power-iteration with out-degree normalization; each iteration
is one join + one aggregation, both on the node-id key, so at cluster
scale the shuffle is stable across iterations and AQE can reuse the
exchange partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(nodes: DataFrame, edges: DataFrame, iterations: int = 20,
             damping: float = 0.85, tol: float = 1e-9,
             restart_ids: list[int] | None = None) -> DataFrame:
    """nodes: (_id), edges: (_src,_dst) → (_id, score).

    Converges early when the L1 delta between iterations drops below
    `tol` (LAGraph's pagerank stops on the same criterion). The state
    carries the previous score and a dangling flag so the per-round
    delta + dangling mass are ONE zero-join single-stage scan of the
    cached checkpoint (measured faster than both the old two-join
    stats job and a fully in-lineage broadcast-crossJoin fold).

    ``restart_ids`` switches to PERSONALIZED PageRank: the teleport
    (and dangling-mass) distribution becomes uniform over the given
    source set instead of over all nodes, and scores initialize to
    that distribution — the standard relatedness/recommendation
    variant. The restart column rides the same per-node join key, so
    the iteration's shuffle shape is unchanged."""
    n_count = nodes.count()
    if n_count == 0:
        return nodes.select(F.col("_id"), F.lit(0.0).alias("score"))
    base = 1.0 / n_count
    if restart_ids is not None:
        return _pagerank_personalized(nodes, edges, iterations, damping,
                                      tol, [int(i) for i in restart_ids])
    # restrict to the node-induced subgraph (the reference runs on the
    # label-restricted submatrix): an edge to/from a node outside
    # `nodes` must neither inflate out-degrees (leaking rank mass out
    # of the graph) nor mask a node's dangling status
    ids = nodes.select("_id")
    edges = edges.join(ids.withColumnRenamed("_id", "_src"),
                       "_src", "left_semi") \
                 .join(ids.withColumnRenamed("_id", "_dst"),
                       "_dst", "left_semi")
    deg = edges.groupBy("_src").agg(F.count("*").alias("__deg"))
    ranks = nodes.select(F.col("_id"), F.lit(base).alias("score"))
    # deg/e/dangling are static across iterations — materialize once
    # instead of re-aggregating the full edge table every round
    e = edges.select("_src", "_dst").join(deg, "_src") \
        .localCheckpoint(eager=True)
    dangling = nodes.select("_id").join(
        deg, nodes["_id"] == deg["_src"], "left_anti") \
        .withColumn("__dang", F.lit(1)) \
        .localCheckpoint(eager=True)
    # dangling-node mass is teleported uniformly (LAGraph-style).
    # Iteration-stats shape (round-7 advice, then measured): the state
    # carries the previous score and a dangling flag, so the per-round
    # dangling mass + convergence delta are ONE single-stage scan of
    # the cached checkpoint — no joins, no recompute. (The fully
    # in-lineage variant — 1-row broadcast crossJoins — was built and
    # MEASURED SLOWER: two nested broadcast-exchange builds per
    # iteration cost 8-28s over 20 rounds vs ~0.1s/round for a cached
    # single-stage collect; see COVERAGE.md r8 notes.)
    ranks = nodes.select("_id") \
        .join(dangling.select("_id", "__dang"), "_id", "left") \
        .select("_id", F.lit(base).alias("score"),
                F.lit(None).cast("double").alias("__prev"),
                (F.col("__dang") == 1).alias("__dang"))
    d_mass = base * (dangling.count())
    for _ in range(iterations):
        contrib = e.join(ranks, e["_src"] == ranks["_id"], "inner") \
            .select(F.col("_dst").alias("_id"),
                    (F.col("score") / F.col("__deg")).alias("c"))
        sums = contrib.groupBy("_id").agg(F.sum("c").alias("s"))
        ranks = ranks.select("_id", F.col("score").alias("__old"),
                             "__dang") \
            .join(sums, "_id", "left") \
            .select(
                "_id",
                (F.lit((1 - damping) * base)
                 + F.lit(damping) * (F.coalesce(F.col("s"), F.lit(0.0))
                                     + F.lit(d_mass * base))
                 ).alias("score"),
                F.col("__old").alias("__prev"),
                "__dang") \
            .localCheckpoint(eager=True)
        stats = ranks.agg(
            F.sum(F.abs(F.col("score") - F.col("__prev")))
            .alias("delta"),
            F.coalesce(F.sum(F.when(F.col("__dang"), F.col("score"))),
                       F.lit(0.0)).alias("dmass")).collect()[0]
        d_mass = stats["dmass"]
        if stats["delta"] is not None and stats["delta"] < tol:
            break
    return ranks.select("_id", "score")


def _pagerank_personalized(nodes: DataFrame, edges: DataFrame,
                           iterations: int, damping: float, tol: float,
                           restart_ids: list[int]) -> DataFrame:
    """Power iteration with a restart vector r (uniform over the source
    set): score ← (1−d)·r + d·(in-contributions + dangling_mass·r).
    Same two-jobs-per-iteration shape as the uniform path; r is one
    extra per-node column carried through the same join key."""
    spark = nodes.sparkSession
    srcs = spark.createDataFrame([(int(i),) for i in restart_ids],
                                 "_id long").dropDuplicates()
    n_src = nodes.join(srcs, "_id", "left_semi").count()
    if n_src == 0:
        raise ValueError(
            "personalized pageRank: no restart node is in the ranked "
            "node set")
    r0 = 1.0 / n_src
    rv = nodes.select("_id").join(
        srcs.withColumn("__in", F.lit(1)), "_id", "left") \
        .select("_id", F.when(F.col("__in") == 1, F.lit(r0))
                .otherwise(F.lit(0.0)).alias("__r")) \
        .localCheckpoint(eager=True)
    ids = nodes.select("_id")
    edges = edges.join(ids.withColumnRenamed("_id", "_src"),
                       "_src", "left_semi") \
                 .join(ids.withColumnRenamed("_id", "_dst"),
                       "_dst", "left_semi")
    deg = edges.groupBy("_src").agg(F.count("*").alias("__deg"))
    ranks = rv.select("_id", F.col("__r").alias("score"))
    e = edges.select("_src", "_dst").join(deg, "_src") \
        .localCheckpoint(eager=True)
    dangling = rv.select("_id").join(
        deg, rv["_id"] == deg["_src"], "left_anti") \
        .withColumn("__dang", F.lit(1)) \
        .localCheckpoint(eager=True)
    # same iteration-stats shape as the uniform path (see the measured
    # note there): state carries (score, prev, restart, dangling flag);
    # per-round stats are ONE single-stage cached scan, no joins
    one_minus_d = 1.0 - damping
    ranks = rv.join(dangling.select("_id", "__dang"), "_id", "left") \
        .select("_id", F.col("__r").alias("score"), "__r",
                F.lit(None).cast("double").alias("__prev"),
                (F.col("__dang") == 1).alias("__dang"))
    d_mass = ranks.agg(F.coalesce(
        F.sum(F.when(F.col("__dang"), F.col("score"))),
        F.lit(0.0))).collect()[0][0]
    for _ in range(iterations):
        contrib = e.join(ranks, e["_src"] == ranks["_id"], "inner") \
            .select(F.col("_dst").alias("_id"),
                    (F.col("score") / F.col("__deg")).alias("c"))
        sums = contrib.groupBy("_id").agg(F.sum("c").alias("s"))
        ranks = ranks.select("_id", F.col("score").alias("__old"),
                             "__r", "__dang") \
            .join(sums, "_id", "left") \
            .select(
                "_id",
                (F.lit(one_minus_d) * F.col("__r")
                 + F.lit(damping) * (F.coalesce(F.col("s"), F.lit(0.0))
                                     + F.lit(float(d_mass))
                                     * F.col("__r"))
                 ).alias("score"),
                F.col("__old").alias("__prev"),
                "__r", "__dang") \
            .localCheckpoint(eager=True)
        stats = ranks.agg(
            F.sum(F.abs(F.col("score") - F.col("__prev")))
            .alias("delta"),
            F.coalesce(F.sum(F.when(F.col("__dang"), F.col("score"))),
                       F.lit(0.0)).alias("dmass")).collect()[0]
        d_mass = stats["dmass"]
        if stats["delta"] is not None and stats["delta"] < tol:
            break
    return ranks.select("_id", "score")
