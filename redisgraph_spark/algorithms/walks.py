"""Deterministic random walks — the node2vec / DeepWalk corpus
primitive (additive scope; the reference registry has no walk
procedure, ``/root/reference/src/procedures/procedure.c:27-42``).

Walk generation for embedding pipelines must be REPRODUCIBLE across
engines and retries, so the "random" next-neighbor choice is a seeded
arithmetic mix over (walk id, step, current node) reduced modulo the
node's out-degree against a canonically sorted adjacency — pure BIGINT
arithmetic that any SQL engine reproduces bit-for-bit (no dependence
on a shared hash built-in), which is what lets the DuckDB oracle
replay the exact same walks.

Scale shape: adjacency is ranked once (row_number over _src sorted by
_dst — one shuffle), then each step is ONE equi-join of the frontier
against (node, index): cost ∝ walks × length, never degree. Sinks end
their walks early.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# mix constants: Knuth multiplicative (2654435761) + two odd primes;
# all intermediates bounded < 2^62 for node ids < ~1e15
_P = 1_000_000_007


def _choice(walk: F.Column, step: int, node: F.Column,
            deg: F.Column, seed: int) -> F.Column:
    h = ((node % _P) * 2654435761
         + F.lit(step).cast("long") * 40503
         + (walk % _P) * 97
         + F.lit(int(seed)).cast("long"))
    return F.pmod(h, deg)


def random_walks(edges: DataFrame, start_ids, length: int = 5,
                 seed: int = 7) -> DataFrame:
    """One walk per start id (a list, or a one-column DataFrame of ids
    for the correlated-CALL path — starts stay distributed). Returns
    ``(walk, step, node)`` rows, step 0 = the start node; a walk stops
    early at a sink (node with no out-edges)."""
    spark = edges.sparkSession
    adj = edges.select(F.col("_src").alias("__n"),
                       F.col("_dst").alias("__m")).distinct()
    w = Window.partitionBy("__n").orderBy("__m")
    adj = adj.select("__n", "__m",
                     (F.row_number().over(w) - 1).alias("__idx"))
    deg = adj.groupBy("__n").agg(F.count(F.lit(1)).alias("__deg"))
    adj = adj.join(deg, "__n").localCheckpoint(eager=True)
    if isinstance(start_ids, DataFrame):
        frontier = start_ids.select(
            F.col(start_ids.columns[0]).cast("long").alias("__walk"),
            F.col(start_ids.columns[0]).cast("long").alias("__node")) \
            .filter(F.col("__walk").isNotNull()) \
            .dropDuplicates(["__walk"]).localCheckpoint(eager=True)
    else:
        frontier = spark.createDataFrame(
            [(int(s), int(s)) for s in start_ids],
            "__walk long, __node long").dropDuplicates(["__walk"])
    out = frontier.select("__walk", F.lit(0).alias("__step"),
                          F.col("__node"))
    steps = [out]
    for t in range(1, length + 1):
        nxt = frontier.join(
            adj, frontier["__node"] == adj["__n"], "inner")
        pick = _choice(F.col("__walk"), t, F.col("__node"),
                       F.col("__deg"), seed)
        nxt = nxt.filter(F.col("__idx") == pick) \
            .select("__walk", F.col("__m").alias("__node"))
        nxt = nxt.localCheckpoint(eager=True)
        if not nxt.take(1):
            break
        steps.append(nxt.select(
            "__walk", F.lit(t).alias("__step"), "__node"))
        frontier = nxt
    allsteps = steps[0]
    for s in steps[1:]:
        allsteps = allsteps.unionByName(s)
    return allsteps.select(F.col("__walk").alias("walk"),
                           F.col("__step").alias("step"),
                           F.col("__node").alias("node"))
