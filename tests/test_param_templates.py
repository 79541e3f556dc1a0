"""Plan templates (graph/templates.py) against the planner.

A read that misses the exact-value plan cache is planned once per
parameter shape with sentinel literals, and each request rebinds them.
Part 1: every rebound answer must equal a fresh plan of the same query
with the same values, rows and schema. Part 2: a query whose plan
depends on a parameter's value (or that contains a sentinel) must
store no template and answer as before.
"""

import pytest

from redisgraph_spark import Graph
from redisgraph_spark.cypher.parser import parse
from redisgraph_spark.graph.templates import (PlanTemplate, _sentinel,
                                              param_shape)
from redisgraph_spark.planner.planner import CypherPlanner

from conftest import SF_DIR

TEMPLATED = {
    "node": ("MATCH (c:Customer {c_custkey: $k}) "
             "RETURN c.c_name AS name, c.c_acctbal AS bal, "
             "c.c_mktsegment AS seg",
             [{"k": 1}, {"k": 7}, {"k": 987654}, {"k": 1 << 40}]),
    "hop1": ("MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) "
             "RETURN o.o_orderkey AS ok, o.o_totalprice AS tp",
             [{"k": 1}, {"k": 7}, {"k": 987654}]),
    "hop2": ("MATCH (c:Customer)-[:PLACED]->(o:Order {o_orderkey: $k})"
             "-[l:CONTAINS]->(p:Part) "
             "RETURN c.c_custkey AS ck, p.p_partkey AS pk, "
             "l.l_linenumber AS ln, l.l_quantity AS q, "
             "l.l_extendedprice AS ep",
             [{"k": 1}, {"k": 7}, {"k": 98765432}]),
    "exists": ("MATCH (c:Customer) WHERE c.c_mktsegment = $seg "
               "AND c.c_acctbal > $bal AND (c)-[:PLACED]->(:Order) "
               "RETURN count(*) AS n",
               [{"seg": "BUILDING", "bal": 100.0},
                {"seg": "MACHINERY", "bal": -500.5},
                {"seg": "NO SUCH SEGMENT", "bal": 0.0}]),
}

VALUE_DEPENDENT = [
    ("UNWIND $list AS x RETURN x", {"list": [3, 1, 2]}),
    ("MATCH (c:Customer) RETURN c.c_custkey AS k ORDER BY k SKIP $n",
     {"n": 140}),
    ("MATCH (c:Customer) RETURN c.c_custkey AS k ORDER BY k "
     "LIMIT $n + 1", {"n": 2}),
    ("MATCH (c:Customer) WHERE c.c_name =~ $re RETURN count(*) AS n",
     {"re": ".*00001.*"}),
    ("MATCH (c:Customer) RETURN percentileCont(c.c_acctbal, $p) AS p",
     {"p": 0.5}),
    ("RETURN date($d).year AS y", {"d": "1995-01-01"}),
    ("MATCH ({c_custkey: $k})-[*1..2]->() RETURN count(*) AS n",
     {"k": 1}),
    # the query spells $k's sentinel: rebinding would rewrite it too
    (f"MATCH (c:Customer {{c_custkey: $k}}) "
     f"WHERE c.c_custkey <> {_sentinel('i32', 0)} RETURN c.c_name AS n",
     {"k": 1}),
]
FULLTEXT = ("CALL db.idx.fulltext.queryNodes('Part', $q) YIELD node "
            "RETURN node.p_partkey AS k", {"q": "widget"})


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _fresh(g, text, params):
    return CypherPlanner(g, params).plan(parse(text))


def _templates(g, text):
    """What the template cache holds for ``text`` at g's state."""
    return [t for k, t in g._plan_cache.templates.items()
            if k[0] == text and k[2:] == (g._version, g._epoch)]


@pytest.mark.parametrize("shape", sorted(TEMPLATED))
def test_rebind_matches_fresh_plan(graph, shape):
    text, values = TEMPLATED[shape]
    built = set()
    for params in values:
        df, outcome = graph._query(text, params)
        first = param_shape(params) not in built
        built.add(param_shape(params))
        assert outcome == ("plan" if first else "rebind"), (shape, params)
        ref = _fresh(graph, text, params)
        assert df.schema == ref.schema, (shape, params)
        assert _rows(df) == _rows(ref), (shape, params)
    # one template per shape (32-bit and 64-bit ints are two shapes)
    got = _templates(graph, text)
    assert len(got) == len(built)
    assert all(isinstance(t, PlanTemplate) for t in got)


@pytest.mark.parametrize("text,params", VALUE_DEPENDENT)
def test_value_dependent_plans_per_request(graph, text, params):
    df, outcome = graph._query(text, params)
    assert outcome == "plan"
    assert not any(isinstance(t, PlanTemplate)
                   for t in _templates(graph, text))
    ref = _fresh(graph, text, params)
    assert df.schema == ref.schema
    assert _rows(df) == _rows(ref)


def test_fulltext_plans_per_request(spark):
    g = Graph.from_tpch(spark, SF_DIR)   # the index is this instance's
    g.query("CALL db.idx.fulltext.createNodeIndex('Part', 'p_name')")
    text, params = FULLTEXT
    df, outcome = g._query(text, params)
    assert outcome == "plan" and _templates(g, text) == [None]
    assert _rows(df) == _rows(_fresh(g, text, params)) != []
