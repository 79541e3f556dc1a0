"""Edge-case semantics from the reference's flow tests (FIXTURES.md §5):
multi-edges, self-loops, cycles + var-len uniqueness, null handling,
type demotion."""

import pytest

from tests.conftest import rows


@pytest.fixture()
def multi(spark):
    """Two nodes with 3 parallel edges (tests/flow/test_multiple_edges.py)."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame([(1, "a"), (2, "b")],
                                        ["_id", "name"])}
    edges = {"R": spark.createDataFrame(
        [(10, 1, 2, 1.0), (11, 1, 2, 2.0), (12, 1, 2, 3.0)],
        ["_id", "_src", "_dst", "w"])}
    return Graph(spark, nodes, edges)


@pytest.fixture()
def loop(spark):
    """Self-pointing node (tests/flow/test_self_pointing_node.py)."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame([(1, "a")], ["_id", "name"])}
    edges = {"R": spark.createDataFrame([(10, 1, 1)],
                                        ["_id", "_src", "_dst"])}
    return Graph(spark, nodes, edges)


@pytest.fixture()
def cycle(spark):
    """3-cycle a→b→c→a (tests/flow/test_variable_length_traversals.py)."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["_id", "name"])}
    edges = {"R": spark.createDataFrame(
        [(10, 1, 2), (11, 2, 3), (12, 3, 1)], ["_id", "_src", "_dst"])}
    return Graph(spark, nodes, edges)


def test_multi_edge_enumeration(multi):
    # each parallel edge is a distinct match
    got = rows(multi.query(
        "MATCH (a)-[e:R]->(b) RETURN a.name AS a, e.w AS w, b.name AS b"))
    assert got == [("a", 1.0, "b"), ("a", 2.0, "b"), ("a", 3.0, "b")]


def test_multi_edge_two_hop_uniqueness(multi):
    # (a)-[e1]->(x)<-[e2]-(a): e1 != e2 → 3*2 ordered pairs
    got = multi.query(
        "MATCH (a)-[e1:R]->(x)<-[e2:R]-(c) RETURN count(*) AS n")
    assert got.collect()[0]["n"] == 6


def test_self_loop_single_hop(loop):
    got = rows(loop.query(
        "MATCH (a)-[:R]->(b) RETURN a.name AS a, b.name AS b"))
    assert got == [("a", "a")]


def test_self_loop_undirected_once(loop):
    # undirected match of a self-loop must not double-count
    got = loop.query("MATCH (a)-[e:R]-(b) RETURN count(*) AS n")
    assert got.collect()[0]["n"] == 1


def test_cycle_var_len_terminates(cycle):
    # unbounded var-len on a cycle terminates via edge-uniqueness
    got = rows(cycle.query(
        "MATCH (a {name: 'a'})-[:R*]->(b) RETURN b.name AS n"))
    # paths: a→b, a→b→c, a→b→c→a
    assert got == [("a",), ("b",), ("c",)]


def test_cycle_var_len_path_count(cycle):
    # from every node, paths of length 1..3 → 3 per start node
    got = cycle.query("MATCH (a)-[:R*1..3]->(b) RETURN count(*) AS n")
    assert got.collect()[0]["n"] == 9


def test_var_len_relaxed_uniqueness_unreferenced(loop):
    # bounded + anonymous edge: reference semantics relax the edge-
    # uniqueness check (docs/known_limitations.md:3-24) — the self-loop
    # may be traversed twice
    got = loop.query("MATCH (a)-[:R*2..2]->(b) RETURN count(*) AS n")
    assert got.collect()[0]["n"] == 1


def test_var_len_strict_uniqueness_referenced(loop):
    # referenced edge variable: uniqueness enforced — no edge reuse
    got = loop.query("MATCH (a)-[e:R*2..2]->(b) RETURN count(*) AS n")
    assert got.collect()[0]["n"] == 0


def test_var_len_negative_ids_fallback(spark):
    """Negative node ids disable the cascade's ⊥-encoding (⊥v = -v-1
    would collide with live ids); the expansion must detect this and
    fall back to the prefix-union plan with identical results."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(-1, "a"), (-2, "b"), (-3, "c"), (0, "d")], ["_id", "name"])}
    # chain a→b→c→d with negative ids; -(-2)-1 = 1 etc. would be fake
    edges = {"R": spark.createDataFrame(
        [(10, -1, -2), (11, -2, -3), (12, -3, 0)],
        ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges)
    got = sorted(r["n"] for r in g.query(
        "MATCH (a {name: 'a'})-[:R*1..3]->(b) "
        "RETURN b.name AS n").collect())
    assert got == ["b", "c", "d"]
    got2 = g.query("MATCH (a)-[:R*1..2]->(b) RETURN count(*) AS n")
    assert got2.collect()[0]["n"] == 5   # 3 one-hop + 2 two-hop


def test_null_property_comparisons(spark):
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(1, "a", 5), (2, "b", None), (3, "c", 7)],
        ["_id", "name", "v"])}
    g = Graph(spark, nodes, {})
    # null comparisons are ternary: b is filtered by both v>4 and NOT v>4
    assert rows(g.query(
        "MATCH (n:N) WHERE n.v > 4 RETURN n.name AS m")) \
        == [("a",), ("c",)]
    assert rows(g.query(
        "MATCH (n:N) WHERE NOT n.v > 4 RETURN n.name AS m")) == []
    assert rows(g.query(
        "MATCH (n:N) WHERE n.v IS NULL RETURN n.name AS m")) == [("b",)]
    # missing property on SOME label
    assert rows(g.query(
        "MATCH (n:N) RETURN n.name AS m, n.nosuch AS x LIMIT 1")) \
        == [("a", None)]


def test_type_demotion_across_labels(spark):
    """Same property name, different types per label → numeric widening
    or string demotion (SURVEY §7.3 heterogeneous properties)."""
    from redisgraph_spark import Graph
    nodes = {
        "A": spark.createDataFrame([(1, 5)], ["_id", "v"]),
        "B": spark.createDataFrame([(2, 2.5)], ["_id", "v"]),
        "C": spark.createDataFrame([(3, "x")], ["_id", "v"]),
    }
    g = Graph(spark, nodes, {})
    got = rows(g.query("MATCH (n) RETURN n.v AS v"))
    # all demoted to string in the unified scan
    assert got == [("2.5",), ("5",), ("x",)]
    # label-pruned scan keeps native numeric type
    got_a = rows(g.query("MATCH (n:A) RETURN n.v AS v"))
    assert got_a == [(5,)]


def test_zero_hop_binds_same_node(cycle):
    got = rows(cycle.query(
        "MATCH (a {name: 'a'})-[:R*0..0]->(b) RETURN b.name AS n"))
    assert got == [("a",)]


def test_undirected_var_len(cycle):
    # 1-hop undirected from 'a': neighbors b (out) and c (in)
    got = rows(cycle.query(
        "MATCH (a {name: 'a'})-[:R*1..1]-(b) RETURN b.name AS n"))
    assert got == [("b",), ("c",)]


def test_two_var_len_hops_one_pattern(cycle):
    # two var-len segments in a single pattern path
    got = cycle.query(
        "MATCH (a {name: 'a'})-[:R*1..1]->(b)-[:R*1..1]->(c) "
        "RETURN count(*) AS n")
    assert got.collect()[0]["n"] == 1   # a->b->c only


def test_deep_with_chain(social):
    got = social.query(
        "MATCH (p:person)-[:friend]->(f) "
        "WITH p, count(f) AS deg "
        "WITH p.name AS name, deg WHERE deg > 1 "
        "WITH name, deg * 10 AS score ORDER BY score DESC "
        "RETURN name, score LIMIT 1").collect()
    assert got[0]["name"] == "Roi" and got[0]["score"] == 40


def test_set_plus_equals_map(spark):
    from redisgraph_spark import Graph
    nodes = {"L": spark.createDataFrame([(1, "a")], ["_id", "name"])}
    g = Graph(spark, nodes, {})
    g.query("MATCH (n:L) SET n += {v: 9, tag: 'x'}")
    r = g.query("MATCH (n:L) RETURN n.v AS v, n.tag AS t").collect()[0]
    assert r["v"] == 9 and r["t"] == "x"


def test_keys_function(spark):
    from redisgraph_spark import Graph
    nodes = {"L": spark.createDataFrame(
        [(1, "a", None)], "_id long, name string, v long")}
    g = Graph(spark, nodes, {})
    r = g.query("MATCH (n:L) RETURN keys(n) AS k").collect()[0]
    assert r["k"] == ["name"]


def test_variant_typed_semantics(spark):
    """SET type conflict → per-value variant union column: comparisons
    stay typed per value (cross-type `=` false, `<` null — DISJOINT,
    src/value.h:58-77,189-192); final RETURN renders to string."""
    from redisgraph_spark import Graph
    nodes = {"L": spark.createDataFrame(
        [(1, "a", 5), (2, "b", 7), (3, "c", 2)],
        "_id long, name string, v long")}
    g = Graph(spark, nodes, {})
    g.query("MATCH (n:L {name: 'a'}) SET n.v = 'text'")
    from redisgraph_spark.planner.variant import is_variant_type
    assert is_variant_type(g.node_tables["L"].schema["v"].dataType)
    # typed comparison: only the ints participate
    assert rows(g.query(
        "MATCH (n:L) WHERE n.v > 3 RETURN n.name AS m")) == [("b",)]
    # cross-type equality is false, same-type matches
    assert rows(g.query(
        "MATCH (n:L) WHERE n.v = 'text' RETURN n.name AS m")) == [("a",)]
    # pattern-prop filter on a variant column
    assert rows(g.query("MATCH (n:L {v: 7}) RETURN n.name AS m")) == [("b",)]
    # + dispatches per row: string payloads concat, ints stay int
    # (rendered at RETURN); -/*// use the numeric view
    got = dict(rows(g.query("MATCH (n:L) RETURN n.name AS m, n.v + 1 AS x")))
    assert got == {"a": "text1", "b": "8", "c": "3"}
    got = dict(rows(g.query("MATCH (n:L) RETURN n.name AS m, n.v * 2 AS x")))
    assert got == {"a": None, "b": 14.0, "c": 4.0}
    # global type order: string < numeric; numerics by value
    assert [r["v"] for r in g.query(
        "MATCH (n:L) RETURN n.v AS v ORDER BY n.v").collect()] \
        == ["text", "2", "7"]
    # aggregates: sum numeric-view, min/max global order, count all
    r = g.query("MATCH (n:L) RETURN sum(n.v) AS s, min(n.v) AS mn, "
                "max(n.v) AS mx, count(n.v) AS c").collect()[0]
    assert (r["s"], r["mn"], r["mx"], r["c"]) == (9.0, "text", "7", 3)
    # casts dispatch on the tag
    got = sorted(rows(g.query(
        "MATCH (n:L) RETURN tostring(n.v) AS s, tointeger(n.v) AS i")),
        key=str)
    assert got == [("2", 2), ("7", 7), ("text", None)]
    # CREATE into a table with a variant column conforms the new row
    g.query("CREATE (:L {name: 'd', v: 9})")
    assert rows(g.query(
        "MATCH (n:L) WHERE n.v >= 7 RETURN n.v AS v")) == [("7",), ("9",)]


def test_variant_cross_label_scan(spark):
    """Cross-label type conflicts variant-encode in the unified scan —
    WHERE sees typed values even though RETURN renders strings."""
    from redisgraph_spark import Graph
    nodes = {
        "A": spark.createDataFrame([(1, 5)], ["_id", "v"]),
        "B": spark.createDataFrame([(2, 2.5)], ["_id", "v"]),
        "C": spark.createDataFrame([(3, "x")], ["_id", "v"]),
    }
    g = Graph(spark, nodes, {})
    assert rows(g.query("MATCH (n) WHERE n.v > 3 RETURN n.v AS v")) \
        == [("5",)]
    assert rows(g.query("MATCH (n) WHERE n.v < 3 RETURN n.v AS v")) \
        == [("2.5",)]


def test_reduce_count_fast_path(spark):
    """MATCH (n[:L]) RETURN count(n) / ()-[e:R]->() count answered from
    cached statistics (reduceCount, optimizations/reduce_count.c) —
    value must agree with the scan path and invalidate on mutation."""
    from redisgraph_spark import Graph
    nodes = {"A": spark.createDataFrame([(1,), (2,), (3,)], ["_id"]),
             "B": spark.createDataFrame([(10,)], ["_id"])}
    edges = {"R": spark.createDataFrame([(100, 1, 2), (101, 2, 3)],
                                        ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges)
    assert g.query("MATCH (n) RETURN count(n) AS c").collect()[0]["c"] == 4
    assert g.query("MATCH (n:A) RETURN count(*) AS c").collect()[0]["c"] == 3
    assert g.query("MATCH ()-[e:R]->() RETURN count(e) AS c") \
        .collect()[0]["c"] == 2
    assert g.query("MATCH ()-[e]->() RETURN count(*) AS c") \
        .collect()[0]["c"] == 2
    # ineligible shapes fall through to the scan path, same answers
    assert g.query("MATCH (n) WHERE true RETURN count(n) AS c") \
        .collect()[0]["c"] == 4
    assert g.query("MATCH (x)-[e]->(x) RETURN count(e) AS c") \
        .collect()[0]["c"] == 0   # self-loops only: not the fast path
    # undirected must NOT fast-path: each non-loop edge matches in
    # both orientations (TCK CountingSubgraphMatches1 [3])
    assert g.query("MATCH ()-[e]-() RETURN count(e) AS c") \
        .collect()[0]["c"] == 4
    # mutation invalidates the cached counter
    g.query("CREATE (:A {p: 1})")
    assert g.query("MATCH (n:A) RETURN count(n) AS c").collect()[0]["c"] == 4


def test_out_of_bounds_and_missing_key_null(spark):
    """Cypher null semantics where ANSI Spark would throw: subscript
    past either end, head/last of empty list, missing map key."""
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    r = g.query(
        "RETURN ([1,2])[9] AS a, ([1,2])[-9] AS b, head(tail([7])) AS c, "
        "last(tail([7])) AS d, {a: 1}['b'] AS e, ({a: 1}).b AS f, "
        "{a: 1}['a'] AS g").collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"], r["e"], r["f"], r["g"]) \
        == (None, None, None, None, None, None, 1)
    # unparseable casts → null (reference toInteger semantics)
    r = g.query("RETURN tointeger('abc') AS a, tofloat('x') AS b, "
                "toboolean('x') AS c, tointeger('42') AS d, "
                "tointeger(2.9) AS e").collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) \
        == (None, None, None, 42, 2)


def test_cross_type_comparison_semantics(spark):
    """Cypher type-class comparison rules (boolean_funcs.c:77-163):
    = / <> across disjoint type classes → false / true (null
    operands stay null); ordering across classes → type-mismatch
    error; int/double stay cross-comparable."""
    from redisgraph_spark import Graph
    from redisgraph_spark.planner.expressions import CompileError
    import pytest
    g = Graph(spark, {}, {})
    r = g.query(
        "RETURN 1 = '1' AS a, 1 <> '1' AS b, true = 1 AS c, "
        "null = '1' AS d, 1 = 1.0 AS e, 1 < 2.5 AS f").collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"], r["e"], r["f"]) \
        == (False, True, False, None, True, True)
    with pytest.raises(CompileError, match="Type mismatch"):
        g.query("RETURN 1 < 'a' AS x").collect()


def test_list_equality_ternary(spark):
    """List equality is ternary over elements: definite mismatch or
    length mismatch → false; unresolved null pair → null."""
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    r = g.query(
        "RETURN [1,2] = [1,null] AS a, [1,2] = [1,3] AS b, "
        "[1,2] = [1,2] AS c, [1] = [1,null] AS d, "
        "[1,2] <> [1,null] AS e, [null] = [null] AS f").collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"], r["e"], r["f"]) \
        == (None, False, True, False, None, None)


def test_division_ieee_semantics(spark):
    """Division is always floating point with IEEE zero-divisor results
    (SIValue_Divide, value.c:438-441): x/0 → ±inf, 0/0 → nan, null
    propagates; float modulo follows fmod (x % 0.0 → nan)."""
    import math
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    r = g.query("RETURN 1/0 AS a, -1/0 AS b, 0.0/0.0 AS c, 10/4 AS d, "
                "null/0 AS e, 5.5 % 0 AS f, 7 % 3 AS g").collect()[0]
    assert r["a"] == float("inf") and r["b"] == float("-inf")
    assert math.isnan(r["c"]) and r["d"] == 2.5 and r["e"] is None
    assert math.isnan(r["f"]) and r["g"] == 1


def test_tomap_varargs_and_keys(spark):
    """tomap(k1, v1, k2, v2, …) builds a map from alternating pairs
    (AR_TOMAP, map_funcs.c:14-41); keys() of a map literal lists its
    keys."""
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    r = g.query("RETURN tomap('k1', 1, 'k2', 'v').k2 AS v2, "
                "keys({a: 1, b: 2}) AS ks").collect()[0]
    assert r["v2"] == "v" and list(r["ks"]) == ["a", "b"]


def test_unwind_heterogeneous_list(spark):
    """UNWIND of a mixed-type list literal works via the variant
    encoding even on graphs with no variant columns."""
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    rows = g.query("UNWIND [3, 'a', null, 1.5, true] AS x "
                   "RETURN x ORDER BY x").collect()
    assert len(rows) == 5 and rows[-1]["x"] is None


def test_unwind_null_zero_rows(graph):
    # UNWIND null expands to no rows (null list is empty, op_unwind.c)
    assert graph.query("UNWIND null AS x RETURN x").count() == 0
    got = graph.query(
        "MATCH (r:Region) UNWIND null AS x RETURN count(*) AS c").collect()
    assert got[0][0] == 0


def test_symbolic_heterogeneous_list_binding(spark, social):
    """Lists mixing struct values (maps, entities) with scalars bind
    symbolically: constant-index access resolves to the item, property
    access and type() work on entity items (SIArray holds any SIValue,
    src/datatypes/array.c)."""
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    r = g.query("WITH [{num: 7}, 1] AS list "
                "RETURN (list[0]).num AS n, list[1] AS one, "
                "list[5] AS oob").collect()[0]
    assert r["n"] == 7 and r["one"] == 1 and r["oob"] is None
    r = social.query(
        "MATCH (a)-[r:friend]->() WITH [r, 1] AS list "
        "RETURN type(list[0]) AS t LIMIT 1").collect()[0]
    assert r["t"] == "friend"
    # dynamic index into a symbolic list is a compile error
    import pytest as _pt
    with _pt.raises(Exception, match="constant-index"):
        g.query("WITH [{num: 0}, 1] AS l UNWIND [0] AS i "
                "RETURN l[i]").collect()


def test_map_literal_keeps_null_values(spark):
    """{k: null} keeps the key (unlike property maps, which omit
    absent keys); the internal __maplit marker never reaches users."""
    from redisgraph_spark import Graph
    g = Graph(spark, {}, {})
    row = g.query("RETURN {k: null, j: 1} AS m").collect()[0]
    d = row["m"].asDict()
    assert d == {"k": None, "j": 1}
    # map equality stays ternary with the marker present on one side
    r = g.query("RETURN {k: 1} = {k: null} AS a, "
                "{} = {k: null} AS b, "
                "keys({k: null}) AS ks").collect()[0]
    assert r["a"] is None and r["b"] is False and list(r["ks"]) == ["k"]


def test_var_len_endpoint_type_conflict(social):
    """A var-len hop ending at a variable bound as an edge is a
    compile-time type conflict (Match1 [9] #24)."""
    import pytest as _pt
    with _pt.raises(Exception, match="not a node"):
        social.query("MATCH ()-[*]-()-[r]-(), (), ()-[*]-(r) RETURN r")


def test_tostring_rejects_lists(spark):
    """toString() accepts scalars only; list arguments raise like the
    reference (InvalidArgumentValue)."""
    from redisgraph_spark import Graph
    import pytest as _pt
    g = Graph(spark, {}, {})
    with _pt.raises(Exception, match="(?i)tostring"):
        g.query("WITH [1, '', []] AS l "
                "RETURN [x IN l | tostring(x)] AS r").collect()


@pytest.mark.slow
def test_unbounded_hops_cap_and_exhaustion(spark):
    """[*] deeper than MAX_UNBOUNDED_HOPS: default cap truncates with a
    warning; config -1 iterates the frontier to exhaustion."""
    import warnings

    from redisgraph_spark import Graph
    n = 40  # > default cap of 32
    nodes = {"N": spark.createDataFrame(
        [(i, i) for i in range(1, n + 1)], ["_id", "v"])}
    edges = {"NEXT": spark.createDataFrame(
        [(i, i, i + 1) for i in range(1, n)], ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges, name="chain")

    q = "MATCH (a:N {v: 1})-[*]->(x) RETURN count(x) AS c"
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        capped = g.query(q).collect()[0]["c"]
    assert capped == 32
    assert any("MAX_UNBOUNDED_HOPS" in str(w.message) for w in caught)

    g.config_set("MAX_UNBOUNDED_HOPS", -1)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        full = g.query(q).collect()[0]["c"]
    assert full == n - 1
    assert not any("MAX_UNBOUNDED_HOPS" in str(w.message) for w in caught)


def test_resultset_max_size(social):
    """RESULTSET_MAX_SIZE truncates emitted rows when set ≥ 0
    (reference ops/op_results.c:32-47) and round-trips via config."""
    assert social.config_get("RESULTSET_MAX_SIZE") == -1
    assert len(social.query("MATCH (p:person) RETURN p.name").collect()) \
        == 10
    social.config_set("RESULTSET_MAX_SIZE", 3)
    assert social.config_get("RESULTSET_MAX_SIZE") == 3
    assert len(social.query("MATCH (p:person) RETURN p.name").collect()) \
        == 3
    social.config_set("RESULTSET_MAX_SIZE", -1)
    assert len(social.query("MATCH (p:person) RETURN p.name").collect()) \
        == 10


@pytest.mark.parametrize("rows,schema,want", [
    # an int in a double column collects as a float
    ([(5,), (2.5,)], [("x", "double")], [(5.0,), (2.5,)]),
    # an int in a string column renders through a CAST
    ([(7,)], [("s", "string")], [("7",)]),
    ([], [("k", "bigint")], []),
    ([(1, "a", 2.5, True), (2, None, -0.0, None)],
     [("k", "bigint"), ("s", "string"), ("d", "double"), ("b", "boolean")],
     [(1, "a", 2.5, True), (2, None, -0.0, None)]),
], ids=["int-in-double", "int-in-string", "empty", "scalars"])
def test_inline_df_collect_round_trip(spark, rows, schema, want):
    from redisgraph_spark.session import inline_df
    got = [tuple(r) for r in inline_df(spark, rows, schema).collect()]
    assert got == want
    assert [type(v) for r in got for v in r] == \
        [type(v) for r in want for v in r]


def test_inline_df_escaped_string_literals_conf(spark):
    # round-7 advice (low): _values_sql must not backslash-escape when
    # spark.sql.parser.escapedStringLiterals=true (user sessions may
    # set it) — data would round-trip corrupted
    from redisgraph_spark.session import inline_df
    rows = [(r"a\b", "it's"), (r"c:\d\\e", "x''y")]
    schema = [("a", "string"), ("b", "string")]
    old = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    try:
        for conf in ("true", "false"):
            spark.conf.set("spark.sql.parser.escapedStringLiterals", conf)
            spark._rg_escaped_literals = None  # drop memo
            got = sorted(tuple(r) for r in inline_df(
                spark, rows, schema).collect())
            assert got == sorted(rows), conf
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", old)
        spark._rg_escaped_literals = None
