"""Mutation semantics: CREATE / SET / DELETE / MERGE as table rewrites
(reference buffered-commit discipline, ops/op_create.c, op_update.c,
op_delete.c, op_merge.c)."""

import itertools

import pytest

from tests.conftest import SF_DIR, rows


@pytest.fixture()
def g(spark):
    from redisgraph_spark import Graph
    nodes = {
        "L": spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], ["_id", "name", "v"]),
    }
    edges = {
        "R": spark.createDataFrame([(100, 1, 2)], ["_id", "_src", "_dst"]),
    }
    return Graph(spark, nodes, edges)


def test_create_standalone(g):
    g.query("CREATE (:L {name: 'c', v: 30})")
    got = rows(g.query("MATCH (n:L) RETURN n.name AS n, n.v AS v"))
    assert ("c", 30) in got and len(got) == 3


@pytest.mark.slow
def test_create_edge_between_matched(g):
    g.query("MATCH (a:L {name: 'a'}), (b:L {name: 'b'}) "
            "CREATE (b)-[:R {w: 5}]->(a)")
    got = rows(g.query(
        "MATCH (x)-[r:R]->(y) RETURN x.name AS x, y.name AS y"))
    assert ("a", "b") in got and ("b", "a") in got


def test_create_edge_between_matched_returns_edge(g):
    # both endpoints bound by one connected MATCH: the comma form above
    # plans a CartesianProduct that is too slow for the default run
    got = rows(g.query(
        "MATCH (a:L {name: 'a'})-[:R]->(b:L {name: 'b'}) "
        "CREATE (b)-[r:R {w: 5}]->(a) RETURN r.w AS w"))
    assert got == [(5,)]
    got = rows(g.query(
        "MATCH (x)-[r:R]->(y) RETURN x.name AS x, y.name AS y, r.w AS w"))
    assert got == [("a", "b", None), ("b", "a", 5)]


def test_set_property(g):
    g.query("MATCH (n:L {name: 'a'}) SET n.v = 99")
    got = dict(rows(g.query("MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    assert got["a"] == 99 and got["b"] == 20


def test_set_new_property(g):
    g.query("MATCH (n:L {name: 'b'}) SET n.extra = 'x'")
    got = rows(g.query(
        "MATCH (n:L) RETURN n.name AS n, n.extra AS e"))
    assert ("a", None) in got and ("b", "x") in got


def test_set_increments(g):
    g.query("MATCH (n:L) SET n.v = n.v + 1")
    got = dict(rows(g.query("MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    assert got == {"a": 11, "b": 21}


def test_delete_edge(g):
    g.query("MATCH ()-[r:R]->() DELETE r")
    assert g.query("MATCH ()-[r:R]->() RETURN count(*) AS c") \
        .collect()[0]["c"] == 0


def test_delete_node_cascades(g):
    g.query("MATCH (n:L {name: 'a'}) DETACH DELETE n")
    assert g.query("MATCH (n:L) RETURN count(*) AS c") \
        .collect()[0]["c"] == 1
    # incident edge must be gone (Graph_BulkDelete cascade semantics)
    assert g.query("MATCH ()-[r:R]->() RETURN count(*) AS c") \
        .collect()[0]["c"] == 0


def test_merge_creates_when_absent(g):
    g.query("MERGE (n:L {name: 'new'}) ON CREATE SET n.v = 1")
    got = dict(rows(g.query("MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    assert got["new"] == 1


def test_merge_matches_when_present(g):
    g.query("MERGE (n:L {name: 'a'}) ON MATCH SET n.v = 42")
    got = dict(rows(g.query("MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    assert got["a"] == 42
    assert len(got) == 2  # no duplicate created


def test_mutation_statistics(g):
    df = g.query("CREATE (:L {name: 'z'})")
    assert df.count() == 0  # empty reply; stats out-of-band
    assert g.last_stats.get("nodes_created") == 1


def test_merge_path_standalone(g):
    # full pattern absent -> creates both nodes and the edge
    g.query("MERGE (x:L {name: 'p'})-[:R2]->(y:L {name: 'q'})")
    got = rows(g.query(
        "MATCH (x:L)-[:R2]->(y:L) RETURN x.name AS a, y.name AS b"))
    assert got == [("p", "q")]
    # second merge matches -> no duplicates
    g.query("MERGE (x:L {name: 'p'})-[:R2]->(y:L {name: 'q'})")
    assert g.query("MATCH (:L)-[:R2]->(:L) RETURN count(*) AS c") \
        .collect()[0]["c"] == 1


def test_merge_keyed_rows(g, spark):
    # rows drive per-row merge; duplicate keys dedup (MergeCreate)
    g.query("UNWIND ['a', 'new1', 'new1', 'new2'] AS nm "
            "MERGE (n:L {name: nm})")
    names = sorted(r["n"] for r in g.query(
        "MATCH (n:L) RETURN n.name AS n").collect())
    assert names == ["a", "b", "new1", "new2"]


def test_merge_keyed_rows_on_create_match(g):
    g.query("UNWIND ['a', 'fresh'] AS nm MERGE (n:L {name: nm}) "
            "ON CREATE SET n.src = 'created' ON MATCH SET n.src = 'matched'")
    got = dict(rows(g.query("MATCH (n:L) RETURN n.name AS n, n.src AS s")))
    assert got["a"] == "matched"
    assert got["fresh"] == "created"
    assert got["b"] is None


# ------------------------------------------------------- SET/REMOVE label
def test_set_label_adds_membership(g):
    g.query("MATCH (n:L {name: 'a'}) SET n:Extra")
    got = rows(g.query("MATCH (n:Extra) RETURN n.name AS n"))
    assert got == [("a",)]
    # still matches original label, and unified scan dedups by id
    assert g.query("MATCH (n) RETURN count(*) AS c").collect()[0]["c"] == 2


def test_set_label_labels_fn(g):
    g.query("MATCH (n:L {name: 'a'}) SET n:Extra:More")
    got = dict(rows(g.query(
        "MATCH (n) RETURN n.name AS n, labels(n) AS ls")))
    # labels() reports DECLARATION order (original label first, then
    # SET-added ones — openCypher Merge1[10] semantics)
    assert got["a"] == ["L", "Extra", "More"]
    assert got["b"] == ["L"]


def test_set_label_idempotent(g):
    g.query("MATCH (n:L {name: 'a'}) SET n:Extra")
    g.query("MATCH (n:L {name: 'a'}) SET n:Extra")
    assert g.query("MATCH (n:Extra) RETURN count(*) AS c") \
        .collect()[0]["c"] == 1


def test_remove_label(g):
    g.query("MATCH (n:L {name: 'a'}) SET n:Extra")
    g.query("MATCH (n:L {name: 'a'}) REMOVE n:Extra")
    assert g.query("MATCH (n:Extra) RETURN count(*) AS c") \
        .collect()[0]["c"] == 0
    assert g.query("MATCH (n:L) RETURN count(*) AS c") \
        .collect()[0]["c"] == 2


def test_remove_last_label_keeps_node(g):
    g.query("MATCH (n:L {name: 'a'}) REMOVE n:L")
    # node survives label-less; total node count unchanged
    assert g.query("MATCH (n) RETURN count(*) AS c").collect()[0]["c"] == 2
    assert g.query("MATCH (n:L) RETURN count(*) AS c") \
        .collect()[0]["c"] == 1


def test_remove_property(g):
    g.query("MATCH (n:L {name: 'a'}) REMOVE n.v")
    got = dict(rows(g.query("MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    assert got["a"] is None and got["b"] == 20


# ------------------------------------------------- per-row MERGE on paths
@pytest.mark.slow
def test_merge_path_per_row_partial_exists(g):
    # a->b exists (edge 100); second row must create only a->b2... i.e.
    # whole-pattern semantics per row
    g.query("CREATE (:L {name: 'b2', v: 40})")
    g.query("UNWIND ['b', 'b2'] AS nm "
            "MATCH (a:L {name: 'a'}), (t:L {name: nm}) "
            "MERGE (a)-[:R]->(t)")
    got = rows(g.query(
        "MATCH (:L {name: 'a'})-[:R]->(t) RETURN t.name AS n"))
    assert got == [("b",), ("b2",)]
    # idempotent re-run
    g.query("UNWIND ['b', 'b2'] AS nm "
            "MATCH (a:L {name: 'a'}), (t:L {name: nm}) "
            "MERGE (a)-[:R]->(t)")
    assert g.query("MATCH ()-[r:R]->() RETURN count(*) AS c") \
        .collect()[0]["c"] == 2


def test_merge_path_creates_unbound_node(g):
    g.query("MATCH (a:L {name: 'a'}) MERGE (a)-[:OWNS]->(d:Pet {pname: 'rex'})")
    g.query("MATCH (a:L {name: 'a'}) MERGE (a)-[:OWNS]->(d:Pet {pname: 'rex'})")
    assert g.query("MATCH (:Pet) RETURN count(*) AS c").collect()[0]["c"] == 1
    got = rows(g.query(
        "MATCH (a:L)-[:OWNS]->(d:Pet) RETURN a.name AS a, d.pname AS d"))
    assert got == [("a", "rex")]


@pytest.mark.slow
def test_merge_path_on_create_on_match(g):
    g.query("MATCH (a:L {name: 'a'}), (b:L {name: 'b'}) "
            "MERGE (a)-[r:R2 {w: 1}]->(b) ON CREATE SET r.made = 'yes'")
    got = rows(g.query("MATCH ()-[r:R2]->() RETURN r.w AS w, r.made AS m"))
    assert got == [(1, "yes")]
    g.query("MATCH (a:L {name: 'a'}), (b:L {name: 'b'}) "
            "MERGE (a)-[r:R2 {w: 1}]->(b) ON MATCH SET r.made = 'again'")
    got = rows(g.query("MATCH ()-[r:R2]->() RETURN r.w AS w, r.made AS m"))
    assert got == [(1, "again")]


def test_merge_path_dedups_identical_rows(g):
    g.query("UNWIND [1, 1, 1] AS i MATCH (a:L {name: 'a'}) "
            "MERGE (a)-[:LIKES]->(t:Thing {tid: 7})")
    assert g.query("MATCH (t:Thing) RETURN count(*) AS c") \
        .collect()[0]["c"] == 1
    assert g.query("MATCH ()-[r:LIKES]->() RETURN count(*) AS c") \
        .collect()[0]["c"] == 1


def test_merge_path_read_your_writes(g):
    got = rows(g.query(
        "MATCH (a:L {name: 'a'}) MERGE (a)-[:TAG]->(m:M {k: 1}) "
        "ON CREATE SET m.fresh = true RETURN m.k AS k, m.fresh AS f"))
    assert got == [(1, True)]


def test_create_path_unbound_endpoint(g):
    g.query("MATCH (a:L) CREATE (a)-[:HAS]->(p:Prof {owner: a.name})")
    got = rows(g.query(
        "MATCH (a:L)-[:HAS]->(p:Prof) RETURN a.name AS a, p.owner AS o"))
    assert got == [("a", "a"), ("b", "b")]


def test_create_per_row_no_dedup(g):
    g.query("UNWIND [1, 1] AS i MATCH (a:L {name: 'a'}) "
            "CREATE (a)-[:X2]->(:T9 {k: 9})")
    assert g.query("MATCH (t:T9) RETURN count(*) AS c") \
        .collect()[0]["c"] == 2


def test_set_read_your_writes(spark):
    """RETURN after SET sees the updated property — the reference
    streams records through Update already modified
    (op_update.c:66-100)."""
    from redisgraph_spark import Graph
    g = Graph(spark, {"P": spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], ["_id", "name", "v"])}, {})
    r = g.query("MATCH (p:P {name: 'a'}) SET p.v = p.v + 1 "
                "RETURN p.v AS v").collect()
    assert r[0]["v"] == 11
    # persisted too
    r = g.query("MATCH (p:P {name: 'a'}) RETURN p.v AS v").collect()
    assert r[0]["v"] == 11
    # new property visible downstream, and in a WITH pipeline
    g2 = Graph(spark, {"P": spark.createDataFrame(
        [(1, "a", 10)], ["_id", "name", "v"])}, {})
    r = g2.query("MATCH (p:P) SET p.extra = 'x' "
                 "WITH p WHERE p.extra = 'x' RETURN count(*) AS c"
                 ).collect()
    assert r[0]["c"] == 1


def test_create_constant_list_props(spark):
    """Standalone CREATE accepts constant list literals and signed
    numbers (constant-folding subset)."""
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    g.query("CREATE (:P {name: 'ann', tags: ['x','y'], score: -2.5})"
            ).collect()
    r = g.query("MATCH (p:P) RETURN p.tags AS t, p.score AS s").collect()
    assert list(r[0]["t"]) == ["x", "y"] and r[0]["s"] == -2.5


def test_set_replace_all_properties(g):
    # SET n = {map} clears every other property (UPDATE_REPLACE,
    # reference ast_build_op_contexts.c:59-72, update_functions.c:167)
    g.query("MATCH (n:L {name: 'a'}) SET n = {name: 'a2', w: 7}")
    got = rows(g.query(
        "MATCH (n:L) RETURN n.name AS n, n.v AS v, n.w AS w"))
    assert ("a2", None, 7) in got and ("b", 20, None) in got


def test_set_merge_properties_keeps_others(g):
    g.query("MATCH (n:L {name: 'a'}) SET n += {w: 7}")
    got = rows(g.query(
        "MATCH (n:L) RETURN n.name AS n, n.v AS v, n.w AS w"))
    assert ("a", 10, 7) in got


def test_create_multi_path_no_duplication(spark):
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    g.query("CREATE (:A {x: 1}), (:B {y: 2})")
    assert g.node_tables["A"].count() == 1
    assert g.node_tables["B"].count() == 1


def test_create_cross_path_var_reuse(spark):
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    g.query("CREATE (a:A)-[:T]->(b:B), (b)-[:T]->(c:C)")
    assert sorted((k, v.count()) for k, v in g.node_tables.items()) == \
        [("A", 1), ("B", 1), ("C", 1)]
    # b is one node: the two edges share its id
    rows = [tuple(r) for r in g.edge_tables["T"].select("_src", "_dst").collect()]
    mids = {rows[0][1]} & {rows[1][0]} | {rows[1][1]} & {rows[0][0]}
    assert mids, f"chain not wired through shared b: {rows}"


def test_create_anonymous_endpoints_wired(spark):
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    g.query("CREATE (:A {x: 1})-[:T {w: 2}]->(:B)")
    got = g.query("MATCH (a)-[e]->(b) RETURN a.x AS ax, e.w AS w, "
                  "labels(b)[0] AS bl").collect()
    assert [tuple(r) for r in got] == [(1, 2, "B")]


def test_create_reversed_direction(spark):
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    g.query("CREATE (a:A)<-[:T]-(b:B)")
    got = g.query("MATCH (x)-[:T]->(y) RETURN labels(x)[0] AS f, "
                  "labels(y)[0] AS t").collect()
    assert [tuple(r) for r in got] == [("B", "A")]


def test_create_conflicting_property_types_builds_variant(spark):
    """One CREATE giving the same property key different types on
    different entities builds the per-value variant union (schemaless
    SIValue semantics) — and WHERE dispatches per type like the
    reference's filter tree (DISJOINT comparisons filter the row)."""
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    g.query("CREATE (:C {v: 0}), (:C {v: 'xx'}), (:C), (:C {v: 2.5})")
    got = {r["x"] for r in g.query(
        "MATCH (c:C) WHERE c.v > 1 OR c.v STARTS WITH 'x' "
        "RETURN c.v AS x").collect()}
    assert got == {"xx", "2.5"}
    # numeric widen inside a later CREATE onto an int column
    g.query("CREATE (:C {v: 7})")
    n = g.query("MATCH (c:C) WHERE c.v >= 7 RETURN count(*) AS n") \
        .collect()[0]["n"]
    assert n == 1


def test_merge_probe_disjoint_type_is_no_match(spark):
    """MERGE {k: v} where v's type class differs from the column's is
    FALSE (DISJOINT), so MERGE creates — never a runtime cast failure
    (found by mutation-chain fuzzing)."""
    from redisgraph_spark import Graph
    g = Graph(spark, {"T": spark.createDataFrame(
        [(1, "a", 10)], ["_id", "nm", "v"])}, {})
    g.query("MERGE (t:T {nm: true}) ON CREATE SET t.v = 99")
    got = g.query("MATCH (t:T) RETURN count(*) AS n").collect()[0]["n"]
    assert got == 2  # no string row matched boolean true -> created
    # WHERE with a disjoint literal filters to no rows, cast-free
    n = g.query("MATCH (t:T) WHERE t.nm = 5 RETURN count(*) AS n") \
        .collect()[0]["n"]
    assert n == 0


def test_unwind_map_batch_create(spark):
    """The client bulk-insert idiom: UNWIND a parameter list of maps,
    CREATE per row; missing keys are NULL properties."""
    from redisgraph_spark import Graph
    g = Graph.from_tpch(spark, "/root/testdata/sf0.001")
    g.query("UNWIND $rows AS r "
            "CREATE (:Widget {w_id: r.id, w_name: r.name})",
            {"rows": [{"id": 1, "name": "a"}, {"id": 2, "name": "b"},
                      {"id": 3}]})
    got = g.query("MATCH (w:Widget) RETURN count(*) AS n, "
                  "count(w.w_name) AS named").collect()[0]
    assert (got["n"], got["named"]) == (3, 2)
    # map parameter field access
    row = g.query("RETURN $m.x AS x, $m.y AS y",
                  {"m": {"x": 5, "y": "z"}}).collect()[0]
    assert (row["x"], row["y"]) == (5, "z")


def test_unwind_large_param_batch_relation_path(spark):
    """>1024-row parameter batches plan as a local relation (constant
    plan depth), not a literal array — results identical."""
    from redisgraph_spark import Graph
    g = Graph.from_tpch(spark, "/root/testdata/sf0.001")
    rows = [{"id": i, "name": f"n{i}"} for i in range(1500)]
    g.query("UNWIND $rows AS r "
            "CREATE (:Bulk {b_id: r.id, b_name: r.name})",
            {"rows": rows})
    got = g.query("MATCH (b:Bulk) RETURN count(*) AS n, "
                  "min(b.b_id) AS lo, max(b.b_id) AS hi").collect()[0]
    assert (got["n"], got["lo"], got["hi"]) == (1500, 0, 1499)
    # scalar large batch too
    tot = g.query("UNWIND $xs AS x RETURN sum(x) AS s",
                  {"xs": list(range(2000))}).collect()[0]["s"]
    assert tot == sum(range(2000))


def test_unwind_param_batch_cutover_parity(spark):
    """Behavior must be identical either side of the 1024-row cutover
    between the literal-array and local-relation UNWIND plans: a key
    that is None in EVERY row null-fills instead of raising, and
    node-shaped maps classify as entities (labels() works) in both."""
    from redisgraph_spark import Graph
    g = Graph.from_tpch(spark, "/root/testdata/sf0.001")
    for n in (5, 1500):
        rows = [{"id": i, "ghost": None} for i in range(n)]
        got = g.query(
            "UNWIND $rows AS r "
            "RETURN count(*) AS n, count(r.ghost) AS ghosts, "
            "sum(r.id) AS s", {"rows": rows}).collect()[0]
        assert (got["n"], got["ghosts"], got["s"]) == \
            (n, 0, n * (n - 1) // 2), n
        nodes = [{"_id": i, "_label": "X", "p": i * 2} for i in range(n)]
        got = g.query(
            "UNWIND $rows AS m RETURN count(*) AS n, "
            "max(labels(m)[0]) AS lbl, sum(m.p) AS sp",
            {"rows": nodes}).collect()[0]
        assert (got["n"], got["lbl"], got["sp"]) == \
            (n, "X", n * (n - 1)), n


# ---------------------------------------------------------------- r8: ADVICE
# regression tests for _tail_refs under-collection (round-7 advice, high):
# star expansion, map projections and SET-label items reference variables
# without producing A.Variable nodes, so the read-your-writes refresh was
# wrongly skipped.

def test_set_then_return_star(g):
    got = g.query("MATCH (n:L {name: 'a'}) SET n.v = 99 RETURN *") \
        .collect()
    assert len(got) == 1 and got[0]["n"]["v"] == 99


def test_set_then_with_star(g):
    got = rows(g.query(
        "MATCH (n:L {name: 'a'}) SET n.v = 77 WITH * RETURN n.v AS v"))
    assert got == [(77,)]


def test_set_then_map_projection(g):
    got = g.query(
        "MATCH (n:L {name: 'a'}) SET n.v = 55 RETURN n {.name, .v} AS m") \
        .collect()
    assert got[0]["m"]["v"] == 55


def test_set_prop_then_set_label_persists_new_value(g):
    # 'SET n.v=.. SET n:Foo' copies the row into the Foo label table via
    # _matched_rows — it must see the POST-update row
    g.query("MATCH (n:L {name: 'a'}) SET n.v = 123 SET n:Foo")
    got = rows(g.query("MATCH (m:Foo) RETURN m.v AS v"))
    assert got == [(123,)]


def test_delete_map_literal_with_id_key_raises(g):
    # round-7 advice (low): {_id: 1} is a map, not an entity — must be a
    # type error, not a deletion of node 1
    with pytest.raises(Exception, match="node, relationship or path"):
        g.query("WITH 1 AS x DELETE {_id: 1}")
    with pytest.raises(Exception, match="node, relationship or path"):
        g.query("MATCH (n:L) DELETE {_id: n._id, _src: 0}")
    assert g.query("MATCH (n:L) RETURN count(*) AS c") \
        .collect()[0]["c"] == 2


def test_delete_map_literal_entity_value_still_works(g):
    g.query("MATCH (n:L {name: 'a'}) WITH {key: n} AS m "
            "DETACH DELETE m.key")
    got = rows(g.query("MATCH (n:L) RETURN n.name AS n"))
    assert got == [("b",)]


# ------------------------------------------- tiny count-hinted tables
@pytest.fixture()
def gt(spark):
    """Graph whose tables all carry count hints of a few rows, the shape
    of a TPC-H dimension table: SET/DELETE/aggregates over it take the
    same DataFrame-rewrite path as any other table."""
    from redisgraph_spark import Graph
    nodes = {
        "L": spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            ["_id", "name", "v"]),
        "M": spark.createDataFrame([(9, "z")], ["_id", "name"]),
    }
    edges = {
        "R": spark.createDataFrame(
            [(100, 1, 2), (101, 2, 3), (102, 3, 9)],
            ["_id", "_src", "_dst"]),
    }
    return Graph(spark, nodes, edges,
                 count_hints={("n", "L"): 3, ("n", "M"): 1, ("e", "R"): 3})


def test_tiny_set_fast_path(gt):
    gt.query("MATCH (n:L {name: 'a'}) SET n.v = 99")
    assert gt.last_stats.get("properties_set") == 1
    got = dict(rows(gt.query("MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    assert got == {"a": 99, "b": 20, "c": 30}
    # widening: int column takes a float value → whole column double
    gt.query("MATCH (n:L {name: 'b'}) SET n.v = 1.5")
    got = dict(rows(gt.query("MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    assert got == {"a": 99.0, "b": 1.5, "c": 30.0}
    # new property: others read NULL
    gt.query("MATCH (n:L {name: 'c'}) SET n.extra = 'x'")
    got = dict(rows(gt.query("MATCH (n:L) RETURN n.name AS n, n.extra AS e")))
    assert got == {"a": None, "b": None, "c": "x"}
    # SET NULL removes the value, keeps the column
    gt.query("MATCH (n:L {name: 'a'}) SET n.v = NULL")
    got = dict(rows(gt.query("MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    assert got == {"a": None, "b": 1.5, "c": 30.0}


def test_tiny_set_variant_mixture_falls_back(gt, spark):
    # str value into int column → heterogeneous-type semantics; behavior
    # must match a graph with no count hints at all
    from redisgraph_spark import Graph
    plain = Graph(spark, {"L": spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        ["_id", "name", "v"])}, {})
    for g_ in (gt, plain):
        g_.query("MATCH (n:L {name: 'a'}) SET n.v = 'str'")
    got = dict(rows(gt.query("MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    want = dict(rows(plain.query(
        "MATCH (n:L) RETURN n.name AS n, n.v AS v")))
    assert got["a"] == "str" and got == want


def test_tiny_delete_node_cascades(gt):
    gt.query("MATCH (n:L {name: 'b'}) DETACH DELETE n")
    assert gt.last_stats.get("nodes_deleted") == 1
    assert gt.last_stats.get("relationships_deleted") == 2
    got = rows(gt.query("MATCH (x)-[r:R]->(y) RETURN x.name AS x, y.name AS y"))
    assert got == [("c", "z")]


def test_tiny_delete_edge(gt):
    gt.query("MATCH (:L {name: 'a'})-[r:R]->() DELETE r")
    assert gt.last_stats.get("relationships_deleted") == 1
    assert gt.query("MATCH ()-[r:R]->() RETURN count(*) AS c") \
        .collect()[0]["c"] == 2


def test_tiny_set_read_your_writes(gt):
    got = rows(gt.query(
        "MATCH (n:L {name: 'a'}) SET n.v = 7 RETURN n.v AS v"))
    assert got == [(7,)]


def test_tiny_agg_fast_path_parity(gt, spark):
    # aggregate-only RETURN over a count-hinted single-label scan must
    # match a graph with no count hints exactly
    from redisgraph_spark import Graph
    plain = Graph(spark, {"L": spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        ["_id", "name", "v"])}, {})
    q = ("MATCH (n:L) RETURN count(*) AS c, count(n.v) AS cv, "
         "min(n.v) AS mn, max(n.name) AS mx, sum(n.v) AS s")
    want = [tuple(r) for r in plain.query(q).collect()]
    got = [tuple(r) for r in gt.query(q).collect()]
    assert got == want == [(3, 3, 10, "c", 60)]
    # stays correct through mutations (read-your-writes)
    gt.query("MATCH (n:L {name: 'a'}) SET n.v = 99")
    got = gt.query("MATCH (n:L) RETURN max(n.v) AS m, count(*) AS c") \
        .collect()
    assert tuple(got[0]) == (99, 3)
    gt.query("MATCH (n:L {name: 'c'}) DETACH DELETE n")
    got = gt.query("MATCH (n:L) RETURN count(*) AS c, sum(n.v) AS s") \
        .collect()
    assert tuple(got[0]) == (2, 119)


def test_roundtrip_result_unchanged(spark):
    # the Region CREATE/SET/CREATE/DELETE script of q_mutation_roundtrip
    # on a fresh TPC-H graph (5 base regions)
    from redisgraph_spark import Graph
    g = Graph.from_tpch(spark, SF_DIR)
    g.query("CREATE (:Region {r_regionkey: 990, r_name: 'ATLANTIS'})")
    g.query("MATCH (r:Region {r_name: 'ATLANTIS'}) "
            "SET r.r_regionkey = 991")
    g.query("CREATE (:Region {r_regionkey: 992, r_name: 'LEMURIA'})")
    g.query("MATCH (r:Region {r_name: 'LEMURIA'}) DELETE r")
    out = g.query("MATCH (r:Region) RETURN count(*) AS n, "
                  "max(r.r_regionkey) AS mk").collect()
    assert (out[0]["n"], out[0]["mk"]) == (6, 991)


# ------------------------------------------ one per-row creator for all
@pytest.mark.parametrize("q, n", [
    ("MATCH (c:L {name: 'a'}) CREATE (c)-[:R]->(x:A:B {k: 1})", 1),
    ("UNWIND [1, 2] AS i MERGE (x:A:B {k: i})", 2),
    ("MATCH (c:L {name: 'a'}) MERGE (c)-[:R]->(x:A:B {k: 7})", 1),
    ("UNWIND [1, 2] AS i CREATE (x:A:B {k: i})", 2),
], ids=["create-path", "merge-keyed", "merge-path", "create-node"])
def test_per_row_multilabel_node_in_every_label(g, q, n):
    g.query(q)
    for label in ("A", "B"):
        assert g.query(f"MATCH (x:{label}) RETURN count(*) AS c") \
            .collect()[0]["c"] == n, label
    got = rows(g.query("MATCH (x:A:B) RETURN labels(x) AS ls"))
    assert got == [(["A", "B"],)] * n


def test_create_path_binds_new_node(g):
    got = rows(g.query(
        "MATCH (c:L {name: 'a'}) CREATE (c)-[:R]->(x:A {k: 1}) "
        "RETURN x.k AS k, labels(x) AS ls"))
    assert got == [(1, ["A"])]


def test_create_later_path_reuses_new_node(g):
    # x is created once, by the first path; the second path reuses it
    g.query("MATCH (c:L {name: 'a'}) "
            "CREATE (c)-[:R2]->(x:A {k: 1}), (x)-[:R3]->(c)")
    assert g.query("MATCH (x:A) RETURN count(*) AS c") \
        .collect()[0]["c"] == 1
    got = rows(g.query(
        "MATCH (c:L)-[:R2]->(x:A)-[:R3]->(d:L) "
        "RETURN c.name AS c, x.k AS k, d.name AS d"))
    assert got == [("a", 1, "a")]
    with pytest.raises(Exception, match="already bound"):
        g.query("MATCH (c:L {name: 'a'}) "
                "CREATE (c)-[:R2]->(y:A {k: 2}), (y:A)-[:R3]->(c)")


@pytest.mark.parametrize("q", [
    "UNWIND [1, 2] AS i MERGE (w:W {k: i})",
    "UNWIND [1, 2] AS i MERGE (w:W {k: i})-[:R]->(:V)",
], ids=["keyed", "path"])
def test_per_row_merge_onto_string_key_column(spark, q):
    # int keys merged onto a string-typed key column build the variant
    # column, as UNWIND ... CREATE of the same rows does
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    g.query("CREATE (:W {k: 'a'})")
    g.query(q)
    assert g.query("MATCH (w:W {k: 1}) RETURN count(*) AS c") \
        .collect()[0]["c"] == 1
    assert g.query("MATCH (w:W) RETURN count(*) AS c") \
        .collect()[0]["c"] == 3


@pytest.mark.parametrize("q", [
    "CREATE (:Order {o_orderkey: -1, o_orderdate: date('1990-01-02')})",
    "UNWIND [1] AS i "
    "CREATE (:Order {o_orderkey: -i, o_orderdate: date('1990-01-02')})",
], ids=["standalone", "per-row"])
def test_create_date_into_native_date_column(spark, q):
    # the native DATE column lifts to the temporal struct, as SET does
    from redisgraph_spark import Graph
    g = Graph.from_tpch(spark, SF_DIR)
    n = g.node_tables["Order"].filter("o_orderdate < '1994-01-01'").count()
    g.query(q)
    assert g.query(
        "MATCH (o:Order) WHERE o.o_orderdate < date('1994-01-01') "
        "RETURN count(*) AS c").collect()[0]["c"] == n + 1
    got = rows(g.query("MATCH (o:Order {o_orderkey: -1}) "
                       "RETURN o.o_orderdate.year AS y"))
    assert got == [(1990,)]


# ------------------------------ one key set per DELETE and per SET run
def _six_nodes(spark):
    """Six P nodes p1..p6 (v = 10 * i) and seven R edges."""
    from redisgraph_spark import Graph
    nodes = {"P": spark.createDataFrame(
        [(i, f"p{i}", i * 10) for i in range(1, 7)], ["_id", "name", "v"])}
    edges = {"R": spark.createDataFrame(
        [(100, 1, 2), (101, 2, 3), (102, 3, 4), (103, 4, 5), (104, 5, 6),
         (105, 1, 3), (106, 6, 1)], ["_id", "_src", "_dst"])}
    return Graph(spark, nodes, edges)


@pytest.fixture()
def gp(spark):
    return _six_nodes(spark)


def _left(g):
    return (g.query("MATCH (n) RETURN count(*) AS c").collect()[0]["c"],
            g.query("MATCH ()-[r]->() RETURN count(*) AS c")
            .collect()[0]["c"])


@pytest.mark.parametrize("q, deleted, left", [
    ("MATCH (a:P {name: 'p2'}) DETACH DELETE a, a", (1, 2), (5, 5)),
    ("MATCH p = (a:P {name: 'p2'})-[:R]->(b:P) DETACH DELETE p, a",
     (2, 4), (4, 3)),
    ("OPTIONAL MATCH (a:Missing) DETACH DELETE a", (0, 0), (6, 7)),
], ids=["same-node-twice", "path-and-its-node", "optional-null"])
def test_delete_stats_count_each_entity_once(gp, q, deleted, left):
    gp.query(q)
    st = gp.last_stats
    assert (st.get("nodes_deleted", 0),
            st.get("relationships_deleted", 0)) == deleted
    assert _left(gp) == left


@pytest.mark.parametrize("first, second", [
    ("'s'", "1"), ("'s'", "date('2020-01-01')"), ("1.5", "1"),
], ids=["string-int", "string-date", "float-int"])
def test_remove_last_label_conforms_orphan_column(spark, first, second):
    # the orphaned node joins the unlabeled table through the one
    # column-type rule: it reads as if both nodes were created there
    from redisgraph_spark import Graph
    g, want = Graph(spark, {}, {}), Graph(spark, {}, {})
    g.query(f"CREATE ({{k: {first}}})")
    g.query(f"CREATE (:A {{k: {second}}})")
    g.query("MATCH (n:A) REMOVE n:A")
    want.query(f"CREATE ({{k: {first}}})")
    want.query(f"CREATE ({{k: {second}}})")
    q = "MATCH (n) RETURN n.k AS k"
    got = rows(g.query(q))
    assert len(got) == 2 and got == rows(want.query(q))


@pytest.mark.parametrize("q, returned, stored", [
    ("MATCH (a:P {name: 'p1'})-[:R]->(b:P {name: 'p2'}) "
     "SET a.v = b.v, b.v = a.v RETURN a.v AS x, b.v AS y",
     (20, 10), [("p1", 20, None), ("p2", 10, None)]),
    ("MATCH (a:P {name: 'p1'}) SET a.v = a.v + 1, a.w = a.v "
     "RETURN a.v AS x, a.w AS y",
     (11, 10), [("p1", 11, 10), ("p2", 20, None)]),
], ids=["swap", "same-variable"])
def test_set_values_read_pre_update_record(gp, q, returned, stored):
    # every SET value reads the record as it was before the clause, in
    # the returned row as in the stored table
    assert rows(gp.query(q)) == [returned]
    assert rows(gp.query("MATCH (n:P) WHERE n.name IN ['p1', 'p2'] "
                         "RETURN n.name AS n, n.v AS v, n.w AS w")) == stored


_TAGS = itertools.count()


def _jobs(spark, g, q, collect=False):
    """Spark jobs one query runs (and, with ``collect``, its collect),
    found by a job tag after the listener bus drains (the way plan
    templates prove a plan ran no job)."""
    sc = spark.sparkContext
    tag = f"rg-test-jobs-{next(_TAGS)}"
    sc.addJobTag(tag)
    try:
        res = g.query(q)
        if collect:
            res.collect()
    finally:
        sc.removeJobTag(tag)
    ctx = sc._jsc.sc()
    ctx.listenerBus().waitUntilEmpty(30_000)
    return len(ctx.statusTracker().getJobIdsForTag(tag))


def test_one_pin_per_set_run_and_per_delete_clause(spark):
    def fresh():
        g = _six_nodes(spark)
        g.query("MATCH (n) RETURN count(*) AS c").collect()
        return g

    one = "MATCH (n:P {name: 'p2'}) SET n.v = 1"
    five = "MATCH (n:P {name: 'p2'}) SET n += {v: 1, a: 2, b: 3, c: 4, d: 5}"
    assert _jobs(spark, fresh(), five) == _jobs(spark, fresh(), one)
    match = "MATCH (a:P {name: 'p2'}), (b:P {name: 'p5'}) DETACH DELETE "
    g = fresh()
    assert _jobs(spark, g, match + "a, b") == \
        _jobs(spark, fresh(), match + "a")
    assert g.last_stats["nodes_deleted"] == 2


@pytest.fixture()
def gp_serial(spark):
    """``_six_nodes``, read once, with adaptive execution off as under
    the adaptive gate: with it on, each query stage is a job of its own
    (and a graph built by createDataFrame turns it on for the session)."""
    g = _six_nodes(spark)
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        g.query("MATCH (n) RETURN count(*) AS c").collect()
        yield g
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("q, most, stat", [
    ("MATCH (n:P {name: 'p2'}) SET n.v = 1", 1, ("properties_set", 1)),
    ("MERGE (n:P {name: 'p2'}) ON MATCH SET n.v = 1", 2,
     ("properties_set", 1)),
    ("MATCH (n:P {name: 'p2'}) DETACH DELETE n", 2,
     ("relationships_deleted", 2)),
], ids=["set", "merge-on-match", "detach-delete"])
def test_keyed_write_job_counts(spark, gp_serial, q, most, stat):
    # a keyed write runs its key-set collect, plus a MERGE's existence
    # probe or a DETACH DELETE's cascade count, and no broadcast job
    assert _jobs(spark, gp_serial, q) <= most
    assert gp_serial.last_stats[stat[0]] == stat[1]


def test_keyed_read_after_set_runs_no_more_jobs(spark, gp_serial):
    # the rewritten table reads as a projection in its scan's stage
    read = "MATCH (n:P {name: 'p2'}) RETURN n.v AS v"
    before = _jobs(spark, gp_serial, read, collect=True)
    gp_serial.query("MATCH (n:P {name: 'p2'}) SET n.v = 1")
    assert _jobs(spark, gp_serial, read, collect=True) <= before
    assert rows(gp_serial.query(read)) == [(1,)]


@pytest.mark.parametrize("cap", [0, 1024], ids=["join-path", "literal-path"])
def test_cascade_probe_plans_no_nested_loop_join(gp, monkeypatch, cap):
    # the incident-edge count is an equi join on the scale path (cap 0)
    # and a literal filter below the cap, never a join on an OR
    from redisgraph_spark.planner import mutations
    monkeypatch.setattr(mutations, "_KEY_CAP", cap)
    probes, real = [], mutations._cascade_probe

    def spy(*args):
        probes.append(real(*args))
        return probes[-1]
    monkeypatch.setattr(mutations, "_cascade_probe", spy)
    gp.query("MATCH (n:P {name: 'p2'}) DETACH DELETE n")
    assert gp.last_stats["relationships_deleted"] == 2
    assert _left(gp) == (5, 5)
    plan = probes[0]._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoopJoin" not in plan
    assert ("Join" in plan) == (cap == 0)
