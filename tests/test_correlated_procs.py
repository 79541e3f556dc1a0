"""Correlated CALL vectorization (VERDICT r8 #2), custom
table-valued procedures (Graph.register_procedure, the reference's
Proc_Register analog — src/procedures/procedure.h) and the built-in
procedure registry (functions/procedures.py PROCS).

The per-row-source procedures must run as ONE keyed multi-source job
(algo.BFS/algo.SSSP precedent), never the driver distinct-tuple loop;
per-row personalized pageRank is a STATIC PlanError naming the
vectorized alternative."""

import pytest

from redisgraph_spark import Graph


@pytest.fixture(scope="module")
def chain_graph(spark):
    g = Graph(spark, {}, {})
    g.query("CREATE (a:P {k:1}),(b:P {k:2}),(c:P {k:3}),(d:P {k:4}), "
            "(a)-[:R]->(b),(b)-[:R]->(c),(c)-[:R]->(d),(a)-[:R]->(c)")
    return g


def test_correlated_closeness_vectorized(chain_graph):
    rows = chain_graph.query(
        "MATCH (n:P) CALL algo.closeness(n) YIELD reached, closeness "
        "RETURN n.k AS k, reached, closeness ORDER BY k").collect()
    got = [(r.k, r.reached, r.closeness) for r in rows]
    # a→{b,c,d} dist 1,1,2 → closeness 3/4; b→{c,d}; c→{d}; d→{}
    assert got == [(1, 3, 0.75), (2, 2, 0.666667), (3, 1, 1.0),
                   (4, 0, 0.0)]


def test_correlated_closeness_no_driver_loop(chain_graph, monkeypatch):
    """The vectorized branch must claim these calls — the generic
    distinct-tuple loop would raise through this poisoned hook."""
    import redisgraph_spark.planner.planner as P

    def boom(self, ctx, clause):  # pragma: no cover
        raise AssertionError("correlated driver loop used")

    monkeypatch.setattr(P.CypherPlanner, "_correlated_call", boom)
    rows = chain_graph.query(
        "MATCH (n:P) WHERE n.k <= 2 CALL algo.closeness(n) "
        "YIELD reached RETURN sum(reached) AS s").collect()
    assert rows[0].s == 5


def test_correlated_randomwalk(chain_graph):
    rows = chain_graph.query(
        "MATCH (n:P) CALL algo.randomWalk(n, 3) YIELD walk, step, node "
        "RETURN n.k AS k, step, node ORDER BY k, step").collect()
    # every node starts exactly one walk; step 0 is the start itself
    by_k = {}
    for r in rows:
        by_k.setdefault(r.k, []).append((r.step, r.node))
    assert set(by_k) == {1, 2, 3, 4}
    for k, steps in by_k.items():
        assert steps[0][0] == 0
        assert [s for s, _ in steps] == list(range(len(steps)))
    # d (k=4) is a sink: its walk is just the start node
    assert len(by_k[4]) == 1
    # determinism: same seed → same walks
    again = chain_graph.query(
        "MATCH (n:P) CALL algo.randomWalk(n, 3) YIELD walk, step, node "
        "RETURN n.k AS k, step, node ORDER BY k, step").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_correlated_pagerank_static_error(chain_graph):
    with pytest.raises(Exception) as ei:
        chain_graph.query(
            "MATCH (n:P) CALL algo.pageRank(5, 0.85, n) "
            "YIELD node, score RETURN score")
    msg = str(ei.value)
    assert "per-row bound sources" in msg
    assert "algo.SSSP" in msg      # names the vectorized alternatives


# ------------------------------------------------- custom procedures

@pytest.fixture(scope="module")
def proc_graph(spark):
    g = Graph(spark, {}, {})
    g.query("CREATE (:A {name: 'a'}), (:B {name: 'b'})")
    g.register_procedure(
        "test.my.proc",
        [("name", "STRING?"), ("id", "INTEGER?")],
        [("city", "STRING?"), ("country_code", "INTEGER?")],
        [("Andres", 1, "Malmö", 46), ("Tobias", 1, "Malmö", 46),
         ("Stefan", 1, "Berlin", 49), ("Stefan", 2, "York", 44)])
    g.register_procedure("test.labels", [],
                         [("label", "STRING?")],
                         [("A",), ("B",), ("C",)])
    g.register_procedure("test.doNothing", [], [], [])
    return g


def test_custom_proc_standalone(proc_graph):
    rows = proc_graph.query("CALL test.my.proc('Stefan', 1)").collect()
    assert [tuple(r) for r in rows] == [("Berlin", 49)]


def test_custom_proc_in_query(proc_graph):
    rows = proc_graph.query(
        "CALL test.labels() YIELD label RETURN label ORDER BY label"
    ).collect()
    assert [r.label for r in rows] == ["A", "B", "C"]


def test_custom_proc_implicit_args(proc_graph):
    rows = proc_graph.query("CALL test.my.proc",
                            {"name": "Stefan", "id": 1}).collect()
    assert [tuple(r) for r in rows] == [("Berlin", 49)]


def test_custom_proc_arg_validation(proc_graph):
    with pytest.raises(Exception, match="InvalidNumberOfArguments"):
        proc_graph.query("CALL test.my.proc('Dobby')")
    with pytest.raises(Exception, match="InvalidArgumentType"):
        proc_graph.query("CALL test.my.proc(true, 1)")
    with pytest.raises(Exception, match="YIELD"):
        proc_graph.query(
            "MATCH (n) CALL test.my.proc('Stefan', 1) RETURN n")
    with pytest.raises(Exception, match="already declared"):
        proc_graph.query(
            "WITH 'Hi' AS label CALL test.labels() YIELD label "
            "RETURN *")


def test_custom_proc_yields_nothing(proc_graph):
    assert proc_graph.query("CALL test.doNothing()").collect() == []
    rows = proc_graph.query(
        "MATCH (n) CALL test.doNothing() RETURN n.name AS name "
        "ORDER BY name").collect()
    assert [r.name for r in rows] == ["a", "b"]


def test_custom_proc_float_coercion(proc_graph):
    proc_graph.register_procedure(
        "test.num", [("in", "FLOAT?")], [("out", "STRING?")],
        [(42.0, "close enough")])
    rows = proc_graph.query("CALL test.num(42)").collect()
    assert [r.out for r in rows] == ["close enough"]


# --------------------------------------------------- built-in registry

@pytest.fixture(scope="module")
def named_graph(spark):
    g = Graph(spark, {}, {})
    g.query("CREATE (a:P {k:1, name:'red bolt'}), (b:P {k:2, name:'nut'}), "
            "(c:P {k:3, name:'red nut'}), "
            "(a)-[:R]->(b), (b)-[:R]->(c), (c)-[:R]->(a)")
    return g


def test_registry_lists_every_procedure(named_graph):
    from redisgraph_spark.functions.procedures import PROCS
    rows = named_graph.query("CALL dbms.procedures()").collect()
    assert {(r.name, r.mode) for r in rows} == \
        {(n, p.mode) for n, p in PROCS.items()}
    assert len(rows) == len(PROCS) == 20


def test_registry_default_yields(named_graph):
    """Each built-in's result columns, called without YIELD, are the
    registry's default yields (one round or hop each: the R cycle
    keeps pageRank's power iteration short)."""
    from redisgraph_spark.functions.procedures import PROCS
    a = named_graph.query("MATCH (n:P {k: 1}) RETURN id(n) AS i") \
        .collect()[0].i
    calls = {
        "algo.bfs": "MATCH (n:P) CALL algo.BFS(n, 1, 'R')",
        "algo.sssp": "CALL algo.SSSP($a, 'R', null, 1)",
        "algo.closeness": "CALL algo.closeness([$a], 'R', 1)",
        "algo.randomwalk": "CALL algo.randomWalk([$a], 'R', 1)",
        "algo.kcore": "CALL algo.kCore(1, 1)",
        "algo.hits": "CALL algo.HITS(1)",
        "algo.labelpropagation": "CALL algo.labelPropagation(1)",
        "algo.pagerank": "CALL algo.pageRank('P', 'R')",
        "algo.betweenness": "CALL algo.betweenness('P', 'R')",
        "db.idx.fulltext.createnodeindex":
            "CALL db.idx.fulltext.createNodeIndex('P', 'name')",
        "db.idx.fulltext.querynodes":
            "CALL db.idx.fulltext.queryNodes('P', 'red')",
        "db.idx.fulltext.drop": "CALL db.idx.fulltext.drop('P')",
    }
    order = [n for n in calls if n.startswith("db.idx")]
    for name in [n for n in PROCS if n not in order] + order:
        df = named_graph.query(calls.get(name, f"CALL {name}()"),
                               {"a": a})
        cols = df.columns[1:] if name == "algo.bfs" else df.columns
        assert tuple(cols) == PROCS[name].yields, name


def test_correlated_randomwalk_yields_node_struct(named_graph):
    corr = named_graph.query(
        "MATCH (n:P {k: 1}) CALL algo.randomWalk(n, 2) "
        "YIELD walk, step, node RETURN step, node, node.k AS k")
    a = named_graph.query("MATCH (n:P {k: 1}) RETURN id(n) AS i") \
        .collect()[0].i
    alone = named_graph.query(
        "CALL algo.randomWalk([$a], null, 2) YIELD walk, step, node "
        "RETURN step, node, node.k AS k", {"a": a})
    assert corr.schema == alone.schema
    assert sorted(map(tuple, corr.collect())) == \
        sorted(map(tuple, alone.collect()))


@pytest.mark.parametrize("literal,param,params", [
    ("algo.kCore(1)", "algo.kCore($k)", {"k": 1}),
    ("algo.HITS('R', 1)", "algo.HITS($r, 1)", {"r": "R"}),
    ("algo.labelPropagation('R', 1)", "algo.labelPropagation($r, 1)",
     {"r": "R"}),
    ("algo.wcc('star')", "algo.wcc($m)", {"m": "star"}),
])
def test_param_args_match_literals(named_graph, literal, param, params):
    def rows(call, p):
        return sorted(map(tuple, named_graph.query(
            f"CALL {call}", p).collect()))
    assert rows(param, params) == rows(literal, {})


@pytest.mark.parametrize("q", [
    "WITH 'x' AS label CALL db.labels() YIELD label RETURN label",
    "MATCH (n:P) WITH n AS node CALL algo.pageRank('P', 'R') "
    "YIELD node, score RETURN node, score",
    "UNWIND ['red', 'nut'] AS node "
    "CALL db.idx.fulltext.queryNodes('P', node) YIELD node RETURN node",
])
def test_yield_of_bound_name_refused(named_graph, q):
    with pytest.raises(Exception, match="VariableAlreadyBound"):
        named_graph.query(q)


def test_correlated_call_over_no_rows_yields_empty_columns(named_graph):
    """A correlated CALL over zero input rows runs no procedure and
    yields its (aliased) columns with no rows."""
    df = named_graph.query(
        "UNWIND [] AS t CALL db.idx.fulltext.queryNodes('P', t) "
        "YIELD node AS n, score RETURN n, score")
    assert df.columns == ["n", "score"]
    assert df.collect() == []
