"""CALL procedures — the reference's UDTF-shaped extension point.

``PROCS`` is the one registry of built-in procedures, as the
reference's ``src/procedures/procedure.c:27-42`` is: each name maps to
its default yield columns, its mode, its handler and whether it takes
a bound node source per input row. The catalog procedures
(``db.labels``, ``db.relationshipTypes``, ``db.propertyKeys``,
``db.indexes``, ``dbms.procedures``) answer from Graph metadata (no
scan). The fulltext ones (``db.idx.fulltext.createNodeIndex``,
``db.idx.fulltext.drop``, ``db.idx.fulltext.queryNodes``) use
``functions/fulltext.py``. The ``algo.*`` ones (BFS, pageRank, wcc,
triangleCount, labelPropagation, kCore, SSSP, HITS, closeness,
betweenness, randomWalk, nodeSimilarity) run the DataFrame-iterative
kernels of ``redisgraph_spark.algorithms``.

``run_procedure`` binds a call's arguments (``bind``) and runs the
handler; a handler returns its DataFrame, each yielded node as the
node struct (``_with_nodes``), and ``yields_of`` names its default
yield columns. ``Graph.register_procedure`` adds lookup-table
procedures beside these (``_run_custom``).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.algorithms.bfs import bfs_call, root_frame
from redisgraph_spark.algorithms.centrality import (MAX_HOPS, betweenness,
                                                    closeness,
                                                    node_similarity)
from redisgraph_spark.algorithms.components import (
    k_core, label_propagation, triangle_count, weakly_connected_components,
    weakly_connected_components_star)
from redisgraph_spark.algorithms.hits import hits
from redisgraph_spark.algorithms.pagerank import pagerank
from redisgraph_spark.algorithms.sssp import MAX_HOPS as SSSP_MAX_HOPS
from redisgraph_spark.algorithms.sssp import sssp, sssp_multi
from redisgraph_spark.algorithms.walks import random_walks
from redisgraph_spark.cypher import ast as A
from redisgraph_spark.session import inline_df


class Proc(NamedTuple):
    yields: tuple[str, ...]      # default YIELD columns, in order
    mode: str                    # WRITE: mutates catalog state at plan time
    handler: Callable            # (planner, bound args) -> DataFrame
    per_row: bool = False        # takes a bound node source per input row


def _cypher_type_ok(t: str, v) -> bool:
    """Nullable openCypher procedure argument typing (Call2/3): NUMBER
    takes int|float, FLOAT additionally coerces int, INTEGER is exact."""
    if v is None:
        return True
    base = t.rstrip("?").strip().upper()
    if base == "INTEGER":
        return isinstance(v, int) and not isinstance(v, bool)
    if base == "FLOAT":
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if base == "NUMBER":
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if base == "STRING":
        return isinstance(v, str)
    if base == "BOOLEAN":
        return isinstance(v, bool)
    return True   # ANY / LIST / MAP — permissive


def _coerce(t: str, v):
    base = t.rstrip("?").strip().upper()
    if base == "FLOAT" and isinstance(v, int) and not isinstance(v, bool):
        return float(v)
    return v


def _out_sql_type(t: str, values) -> str:
    base = t.rstrip("?").strip().upper()
    fixed = {"STRING": "string", "INTEGER": "bigint",
             "FLOAT": "double", "BOOLEAN": "boolean"}
    if base in fixed:
        return fixed[base]
    if base == "NUMBER":
        return "double" if any(isinstance(v, float) for v in values) \
            else "bigint"
    from redisgraph_spark.session import _lit_sql_type
    for v in values:
        if v is not None:
            return _lit_sql_type(v) or "string"
    return "string"


def bind(planner, proc: str, e: A.Expr):
    """The value of a procedure argument: a literal, a parameter, a
    list of these or a negated number. A parameter is read through
    ``planner.params[name]``, so a plan template that reads it plans
    per request."""
    from redisgraph_spark.planner.planner import PlanError
    if isinstance(e, A.Literal):
        return e.value
    if isinstance(e, A.Parameter):
        if e.name not in planner.params:
            raise PlanError(f"Missing parameter `{e.name}` for call to "
                            f"{proc} (ParameterMissing)")
        return planner.params[e.name]
    if isinstance(e, A.ListLiteral):
        return [bind(planner, proc, x) for x in e.items]
    if isinstance(e, A.Unary) and e.op == "-" \
            and isinstance(e.operand, A.Literal) \
            and isinstance(e.operand.value, (int, float)):
        return -e.operand.value
    raise PlanError(f"Procedure {proc} arguments must be literals or "
                    f"parameters")


def _with_nodes(g, df: DataFrame, col: str,
                nodes: DataFrame | None = None) -> DataFrame:
    """``df`` with its node-id column ``col`` replaced by the node's
    struct in ``nodes`` (default: every node, as the unified struct);
    an id with no node drops its row."""
    nodes = g.nodes() if nodes is None else nodes
    packed = nodes.select(
        F.col("_id").alias("__nid"),
        F.struct(*[F.col(c) for c in nodes.columns]).alias("__node"))
    return df.join(packed, F.col(col) == F.col("__nid")).select(
        *[F.col("__node").alias(c) if c == col else F.col(c)
          for c in df.columns])


def _run_custom(planner, clause: A.CallClause, spec: dict) -> DataFrame:
    """Execute a Graph.register_procedure lookup-table procedure."""
    from redisgraph_spark.planner.planner import PlanError
    g = planner.graph
    decl_args = spec["args"]
    if clause.implicit:
        # `CALL proc` without parens: arguments by name from the
        # query parameters (openCypher Call1 [11], Call2 [3])
        vals = []
        for an, _t in decl_args:
            if an not in planner.params:
                raise PlanError(
                    f"Missing parameter `{an}` for implicit call to "
                    f"{spec['name']} (ParameterMissing)")
            vals.append(planner.params[an])
    else:
        if len(clause.args) != len(decl_args):
            raise PlanError(
                f"Procedure {spec['name']} expects {len(decl_args)} "
                f"arguments, got {len(clause.args)} "
                f"(InvalidNumberOfArguments)")
        vals = [bind(planner, spec["name"], a) for a in clause.args]
    for (an, t), v in zip(decl_args, vals):
        if not _cypher_type_ok(t, v):
            raise PlanError(
                f"Procedure {spec['name']} argument `{an}` expects "
                f"{t}, got {type(v).__name__} (InvalidArgumentType)")
    vals = [_coerce(t, v) for (_n, t), v in zip(decl_args, vals)]
    n_args = len(decl_args)
    outs = spec["outputs"]
    matched = [r[n_args:] for r in spec["rows"]
               if list(r[:n_args]) == list(vals)]
    if not outs:
        # yields-nothing procedure: standalone → empty result;
        # in-query → pass-through (planner drops the unit column)
        return inline_df(g.spark, [], [("__unit", "string")])
    schema = [(n, _out_sql_type(t, [r[i] for r in matched]))
              for i, (n, t) in enumerate(outs)]
    return inline_df(g.spark, [tuple(r) for r in matched], schema)


def yields_of(graph, name: str) -> list[str]:
    """The default yield columns of procedure ``name``."""
    custom = graph._custom_procs.get(name)
    if custom is not None:
        return [n for n, _t in custom["outputs"]]
    if name not in PROCS:
        raise ValueError(f"Unknown procedure {name}")
    return list(PROCS[name].yields)


def run_procedure(planner, clause: A.CallClause,
                  roots: DataFrame | None = None) -> DataFrame:
    """The procedure's result: its default yield columns, in order.
    For a per-row procedure, ``roots`` (the ``__root`` ids of the bound
    source node) stands in for the first argument, and the result
    keeps ``__root`` to join back on."""
    custom = planner.graph._custom_procs.get(clause.proc)
    if custom is not None:
        return _run_custom(planner, clause, custom)
    proc = PROCS.get(clause.proc)
    if proc is None:
        raise ValueError(f"Unknown procedure {clause.proc}")
    exprs = clause.args if roots is None else clause.args[1:]
    args = [bind(planner, clause.proc, e) for e in exprs]
    keep = []
    if roots is not None:
        args.insert(0, roots)
        keep = ["__root"]
    out = proc.handler(planner, args)
    return out.select(*keep, *proc.yields)


# ---------------------------------------------------------- catalog

def _labels(planner, args) -> DataFrame:
    return inline_df(planner.graph.spark,
                     [(l,) for l in planner.graph.labels],
                     [("label", "string")])


def _relationship_types(planner, args) -> DataFrame:
    return inline_df(planner.graph.spark,
                     [(r,) for r in planner.graph.relationship_types],
                     [("relationshipType", "string")])


def _property_keys(planner, args) -> DataFrame:
    return inline_df(planner.graph.spark,
                     [(k,) for k in planner.graph.property_keys()],
                     [("propertyKey", "string")])


def _indexes(planner, args) -> DataFrame:
    # explicitly created exact-match indexes (CREATE INDEX ON
    # :L(p) → sorted-layout re-partition) + fulltext indexes; note
    # every property column is *also* index-equivalent under parquet
    # pushdown/data-skipping (reference: ops/op_index_scan.c →
    # our §2 IndexScan mapping)
    g = planner.graph
    rows = [("exact-match", l, list(props))
            for l, props in sorted(g.indexes.items()) if props]
    if g._fulltext is not None:
        ft: dict[str, list[str]] = {}
        for (l, p) in g._fulltext.indexes:
            ft.setdefault(l, []).append(p)
        rows += [("fulltext", l, sorted(ps))
                 for l, ps in sorted(ft.items())]
    return inline_df(g.spark, rows, [("type", "string"),
                                     ("label", "string"),
                                     ("properties", "array<string>")])


def _procedures(planner, args) -> DataFrame:
    return inline_df(planner.graph.spark,
                     [(n, p.mode) for n, p in sorted(PROCS.items())],
                     [("name", "string"), ("mode", "string")])


# --------------------------------------------------------- fulltext

def _fulltext_create(planner, args) -> DataFrame:
    planner.graph.fulltext.create(*[str(a) for a in args])
    return inline_df(planner.graph.spark, [(True,)], [("ok", "boolean")])


def _fulltext_drop(planner, args) -> DataFrame:
    planner.graph.fulltext.drop(str(args[0]))
    return inline_df(planner.graph.spark, [(True,)], [("ok", "boolean")])


def _query_nodes(planner, args) -> DataFrame:
    # ``Params.fulltext`` parses the query; a plan template's holds its
    # skeleton with sentinel words, so its plan rebinds
    # (graph/templates.py)
    label, query = args[0], args[1]
    hits_df = planner.graph.fulltext.query(
        str(label), planner.params.fulltext(query))
    node_cols = [c for c in hits_df.columns if c != "score"]
    return hits_df.select(
        F.struct(*[F.col(c) for c in node_cols]).alias("node"),
        F.col("score"))


# ------------------------------------------------------- algorithms

def _edges(g, rel):
    """``_src``/``_dst`` of relation ``rel`` (None: every edge)."""
    return g.edges([rel] if rel else None).select("_src", "_dst")


def _pagerank(planner, args) -> DataFrame:
    """``algo.pageRank(label, relType[, sources])`` — signature parity
    with proc_pagerank.c. Additive extension: the label argument also
    accepts a LIST of labels (the reference's single-label submatrix
    generalized to a label-set-induced subgraph — cross-label
    relations like Nation→Region are otherwise unrankable, every edge
    leaving the single label's node set); a source id or id list
    selects personalized PageRank."""
    g = planner.graph
    label = args[0] if args else None
    rel = args[1] if len(args) > 1 else None
    sources = args[2] if len(args) > 2 else None
    if sources is not None:
        if isinstance(sources, int):
            sources = [sources]
        if (not isinstance(sources, list) or not sources
                or not all(isinstance(s, int) for s in sources)):
            raise ValueError(
                "algo.pageRank: the optional third argument is a "
                "non-empty source-node id (or list of ids) selecting "
                "personalized PageRank")
    if isinstance(label, list):
        nodes = g.nodes(label)
    else:
        nodes = g.nodes([label] if label else None)
    pr = pagerank(nodes.select("_id"), _edges(g, rel), restart_ids=sources)
    return _with_nodes(g, pr.withColumnRenamed("_id", "node"), "node",
                       nodes)


def _wcc(planner, args) -> DataFrame:
    # optional arg 'star' picks the large-star/small-star
    # contraction (O(log² n) rounds, diameter-independent — the
    # 100 TB path); default is min-label propagation (one round
    # per diameter hop, fastest on the low-diameter common case)
    g = planner.graph
    algo = weakly_connected_components
    variant = args[0] if args else None
    if variant == "star":
        algo = weakly_connected_components_star
    elif variant is not None:
        # a typo must not silently run the default algorithm
        raise ValueError(
            f"algo.wcc: unknown variant {variant!r} (expected 'star')")
    comp = algo(g.nodes().select("_id"), _edges(g, None))
    return _with_nodes(g, comp, "node")


def _triangle_count(planner, args) -> DataFrame:
    return triangle_count(_edges(planner.graph, None))


def _label_propagation(planner, args) -> DataFrame:
    # additive (like algo.wcc): deterministic synchronous LPA.
    # args: optional relation type (induces the subgraph of that
    # relation's endpoints; default all edges), optional iteration
    # count (default 3, fixed synchronous rounds)
    g = planner.graph
    rel = None
    iters = 3
    for val in args:
        if isinstance(val, str):
            rel = val
        elif isinstance(val, int):
            iters = val
        else:
            raise ValueError(
                "algo.labelPropagation: args are an optional "
                "relation-type string and an optional int "
                "iteration count")
    edges = _edges(g, rel)
    if rel:
        ids = edges.select(F.col("_src").alias("_id")).unionByName(
            edges.select(F.col("_dst").alias("_id"))).distinct()
    else:
        ids = g.nodes().select("_id")
    return _with_nodes(g, label_propagation(ids, edges, iters=iters),
                       "node")


def _kcore(planner, args) -> DataFrame:
    # additive (like algo.wcc): k-core membership by synchronous
    # peeling. args: required int k, optional relation-type string
    # (induces that relation's subgraph; default all edges),
    # optional int round count (default: peel to fixpoint).
    k = None
    rel = None
    iters = None
    for val in args:
        if isinstance(val, bool):
            raise ValueError("algo.kCore: unexpected boolean arg")
        if isinstance(val, str):
            rel = val
        elif isinstance(val, int):
            if k is None:
                k = val
            else:
                iters = val
        else:
            raise ValueError(
                "algo.kCore: args are an int k, an optional "
                "relation-type string and an optional int round count")
    if k is None or k < 1:
        raise ValueError("algo.kCore requires an integer k >= 1")
    g = planner.graph
    return _with_nodes(g, k_core(_edges(g, rel), k, iters=iters), "node")


def _node_similarity(planner, args) -> DataFrame:
    # additive: neighbor-set Jaccard similarity (GDS nodeSimilarity
    # analog). args: optional relation-type string, optional
    # direction 'out'/'in', optional float threshold, optional int
    # top-k. Exact semantics (no hub cap) through this surface.
    rel = None
    direction = "out"
    thr = 0.3
    topk = 100
    for val in args:
        if isinstance(val, str):
            if val in ("out", "in"):
                direction = val
            else:
                rel = val
        elif isinstance(val, bool):
            raise ValueError(
                "algo.nodeSimilarity: unexpected boolean arg")
        elif isinstance(val, int):
            topk = val
        elif isinstance(val, float):
            thr = val
        elif val is not None:
            raise ValueError(
                "algo.nodeSimilarity: args are an optional relation "
                "type, direction 'out'/'in', float threshold and "
                "int top-k")
    g = planner.graph
    sim = node_similarity(_edges(g, rel), direction=direction,
                          threshold=thr, top_k=topk,
                          max_neighbor_degree=None)
    pairs = _with_nodes(g, _with_nodes(g, sim, "node_a"), "node_b")
    return pairs.withColumnRenamed("node_a", "node1") \
        .withColumnRenamed("node_b", "node2")


def _closeness(planner, args) -> DataFrame:
    # additive: k-bounded closeness/harmonic centrality for an
    # explicit source set (all-nodes closeness is O(V·E) — never
    # the right cluster job; a bounded candidate set is). args:
    # required source-id list (or the bound source node), optional
    # relation-type string, optional int max hop count.
    srcs = None
    rel = None
    hops = MAX_HOPS
    for val in args:
        if isinstance(val, (list, DataFrame)):
            srcs = val
        elif isinstance(val, str):
            rel = val
        elif isinstance(val, int) and not isinstance(val, bool):
            hops = val
        elif val is not None:
            raise ValueError(
                "algo.closeness: args are a source-id list, an "
                "optional relation-type string and an optional "
                "int max hop count")
    if not isinstance(srcs, DataFrame) and (
            not srcs or not all(isinstance(s, int) for s in srcs)):
        raise ValueError(
            "algo.closeness requires a non-empty source-node id list")
    if hops < 1:
        raise ValueError("algo.closeness max hops must be >= 1")
    g = planner.graph
    cl = closeness(_edges(g, rel), srcs, max_hops=hops)
    if isinstance(srcs, DataFrame):
        cl = cl.withColumn("__root", F.col("node"))
    return _with_nodes(g, cl, "node")


def _random_walk(planner, args) -> DataFrame:
    # additive: deterministic seeded walks (node2vec/DeepWalk
    # corpus generation). args: source-id list (or the bound start
    # node), optional relation type, optional int walk length,
    # optional int seed.
    srcs = None
    rel = None
    ints: list[int] = []
    for val in args:
        if isinstance(val, (list, DataFrame)):
            srcs = val
        elif isinstance(val, str):
            rel = val
        elif isinstance(val, int) and not isinstance(val, bool):
            ints.append(val)
        elif val is not None:
            raise ValueError(
                "algo.randomWalk: args are a source-id list, an "
                "optional relation type, an optional int length "
                "and an optional int seed")
    if not isinstance(srcs, DataFrame) and (
            not srcs or not all(isinstance(s, int)
                                and not isinstance(s, bool)
                                for s in srcs)):
        raise ValueError(
            "algo.randomWalk requires a non-empty source-node id list")
    length = ints[0] if ints else 5
    seed = ints[1] if len(ints) > 1 else 7
    if length < 1:
        raise ValueError("algo.randomWalk length must be >= 1")
    g = planner.graph
    walks = random_walks(_edges(g, rel), srcs, length=length, seed=seed)
    if isinstance(srcs, DataFrame):
        walks = walks.withColumn("__root", F.col("walk"))
    return _with_nodes(g, walks, "node")


def _betweenness(planner, args) -> DataFrame:
    # additive: Brandes betweenness on a label-set-induced subgraph
    # (exact when no source list is given — right for bounded
    # subgraphs; k-source estimator otherwise, Brandes & Pich
    # 2007). args: label | [labels], relType, optional source-id
    # list, optional int max hops, optional bool directed
    # (default false: classic undirected betweenness with halved
    # pair counts).
    label = args[0] if args else None
    rel = args[1] if len(args) > 1 else None
    srcs = None
    hops = MAX_HOPS
    directed = False
    for v in args[2:]:
        if isinstance(v, bool):
            directed = v
        elif isinstance(v, list):
            srcs = v
        elif isinstance(v, int):
            hops = v
        elif v is not None:
            raise ValueError(
                "algo.betweenness: optional args are a source-id "
                "list, an int max hop count and a directed flag")
    if srcs is not None and (
            not srcs or not all(isinstance(s, int)
                                and not isinstance(s, bool)
                                for s in srcs)):
        raise ValueError(
            "algo.betweenness source list must be non-empty ints")
    if hops < 1:
        raise ValueError("algo.betweenness max hops must be >= 1")
    g = planner.graph
    if isinstance(label, list):
        nodes = g.nodes(label)
    else:
        nodes = g.nodes([label] if label else None)
    # label-induced subgraph: both endpoints inside the node set
    ids = nodes.select("_id")
    edges = _edges(g, rel) \
        .join(ids.withColumnRenamed("_id", "_src"), "_src", "left_semi") \
        .join(ids.withColumnRenamed("_id", "_dst"), "_dst", "left_semi")
    bc = betweenness(edges, source_ids=srcs, max_hops=hops,
                     directed=directed)
    # every node of the subgraph scores, 0 when no path crosses it
    node_struct = F.struct(*[F.col(c) for c in nodes.columns])
    return nodes.join(bc.withColumnRenamed("node", "__bcid"),
                      nodes["_id"] == F.col("__bcid"), "left") \
        .select(node_struct.alias("node"),
                F.coalesce("score", F.lit(0.0)).alias("score"))


def _hits(planner, args) -> DataFrame:
    # additive: Kleinberg hubs & authorities, fixed synchronous
    # power-iteration rounds with grid-rounded normalization (the
    # semdedup determinism pattern). args: optional relation-type
    # string, optional int iteration count (default 3).
    rel = None
    iters = 3
    for val in args:
        if isinstance(val, str):
            rel = val
        elif isinstance(val, int) and not isinstance(val, bool):
            iters = val
        else:
            raise ValueError(
                "algo.HITS: args are an optional relation-type "
                "string and an optional int iteration count")
    if iters < 1:
        raise ValueError("algo.HITS iteration count must be >= 1")
    g = planner.graph
    return _with_nodes(g, hits(_edges(g, rel), iters=iters), "node")


def _sssp(planner, args) -> DataFrame:
    # additive: bounded-hop weighted shortest paths (Bellman-Ford
    # frontier relaxation). args: source node id (or the bound source
    # node), optional relation-type string or NULL (default all
    # edges), optional weight-property string or NULL (default weight
    # 1.0), optional int max hop count.
    source = args[0] if args else None
    rel = args[1] if len(args) > 1 else None
    weight = args[2] if len(args) > 2 else None
    hops = args[3] if len(args) > 3 else SSSP_MAX_HOPS
    if not isinstance(source, (int, DataFrame)):
        raise ValueError("algo.sssp requires an integer source id")
    if rel is not None and not isinstance(rel, str):
        raise ValueError("algo.sssp reltype must be a string or NULL")
    if weight is not None and not isinstance(weight, str):
        raise ValueError(
            "algo.sssp weight property must be a string or NULL")
    if not isinstance(hops, int) or isinstance(hops, bool) or hops < 1:
        raise ValueError("algo.sssp max hops must be a positive int")
    g = planner.graph
    edges = g.edges([rel] if rel else None)
    if weight is not None and weight not in edges.columns:
        raise ValueError(
            f"algo.sssp: no edge property {weight!r} on the "
            "selected relation(s)")
    if isinstance(source, DataFrame):
        # per-row sources: ONE keyed multi-source Bellman-Ford
        dist = sssp_multi(edges, root_frame(g.spark, source), weight,
                          max_hops=hops)
    else:
        dist = sssp(edges, source, weight, max_hops=hops)
    return _with_nodes(g, dist, "node")


# name → (default yields, mode, handler, per-row node source). A
# per-row procedure called with a bound node variable as its first
# argument runs once for all input rows: the handler gets the rows'
# source ids as a ``__root`` DataFrame and keys its result by them.
PROCS = {
    "db.labels": Proc(("label",), "READ", _labels),
    "db.relationshiptypes": Proc(("relationshipType",), "READ",
                                 _relationship_types),
    "db.propertykeys": Proc(("propertyKey",), "READ", _property_keys),
    "db.indexes": Proc(("type", "label", "properties"), "READ", _indexes),
    "dbms.procedures": Proc(("name", "mode"), "READ", _procedures),
    "algo.pagerank": Proc(("node", "score"), "READ", _pagerank),
    "algo.bfs": Proc(("nodes", "edges"), "READ", bfs_call, True),
    "algo.wcc": Proc(("node", "component"), "READ", _wcc),
    "algo.trianglecount": Proc(("triangles",), "READ", _triangle_count),
    "algo.labelpropagation": Proc(("node", "label"), "READ",
                                  _label_propagation),
    "algo.kcore": Proc(("node",), "READ", _kcore),
    "algo.sssp": Proc(("node", "distance", "hops"), "READ", _sssp, True),
    "algo.hits": Proc(("node", "hub", "authority"), "READ", _hits),
    "algo.closeness": Proc(("node", "reached", "closeness", "harmonic"),
                           "READ", _closeness, True),
    "algo.betweenness": Proc(("node", "score"), "READ", _betweenness),
    "algo.randomwalk": Proc(("walk", "step", "node"), "READ",
                            _random_walk, True),
    "algo.nodesimilarity": Proc(
        ("node1", "node2", "intersection", "jaccard"), "READ",
        _node_similarity),
    "db.idx.fulltext.querynodes": Proc(("node", "score"), "READ",
                                       _query_nodes),
    "db.idx.fulltext.createnodeindex": Proc(("ok",), "WRITE",
                                            _fulltext_create),
    "db.idx.fulltext.drop": Proc(("ok",), "WRITE", _fulltext_drop),
}

# callers that must know a CALL writes (Graph.query's version bump,
# Graph.explain's rollback, GRAPH.RO_QUERY's rejection) read this set
WRITE_PROCS = frozenset(n for n, p in PROCS.items() if p.mode == "WRITE")
