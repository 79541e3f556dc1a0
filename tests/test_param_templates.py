"""Plan templates (graph/templates.py) against the planner.

A read that misses the exact-value plan cache is planned once per
parameter shape with sentinel literals, and each request rebinds them.
Part 1: every rebound answer must equal a fresh plan of the same query
with the same values, rows and schema. Part 2: a query whose plan
depends on a parameter's value (or that contains a sentinel) must
store no template and answer as before. Part 3: the first rebind
promotes a template, and later binds run its executed plan; each such
answer must equal a fresh plan too, a shape the guard refuses must stay
analysed-only, and the promoted run must compose, explain, profile and
time out like the plan it stands for. Part 4: a fulltext query
parameter is keyed by its RediSearch skeleton and its words rebind;
each bind must equal a fresh plan too.
"""

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from redisgraph_spark.cypher.parser import parse
from redisgraph_spark.functions.fulltext import (FtAnd, FtNot, FtOptional,
                                                FtOr, FtPhrase, FtTerm,
                                                fill, parse_query, skeleton)
from redisgraph_spark.graph.templates import (PlanTemplate, _sentinel,
                                              param_shape)
from redisgraph_spark.planner.planner import CypherPlanner

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


# ------------------------------------------------------------ promotion
# per shape, one run of binds per parameter shape (32- and 64-bit ints
# are two); the second bind of a run promotes and runs the promoted
# plan, as the rest do
INT_RUNS = ([1, 7, 5, -3, 987654], [1 << 40, -(1 << 40), (1 << 40) + 7])
ORDER_RUNS = ([1, 7, 32, -3, 98765432], [1 << 40, -(1 << 40), 7 + (1 << 40)])
VAR_LEN = ("MATCH (c:Customer {c_custkey: $k})-[*1..2]->(x) "
           "RETURN labels(x)[0] AS lbl, count(*) AS cnt")
PROMOTED = {
    "node": [[{"k": k} for k in run] for run in INT_RUNS],
    "hop1": [[{"k": k} for k in run] for run in INT_RUNS],
    "hop2": [[{"k": k} for k in run] for run in ORDER_RUNS],
    # its frontier broadcast depends on the key; the adjacency does not
    "var_len": [[{"k": k} for k in INT_RUNS[0]]],
    "exists": [
        [{"seg": "BUILDING", "bal": 100.0},
         {"seg": "MACHINERY", "bal": -500.5},
         {"seg": "HOUSEHOLD", "bal": 2500.25},
         {"seg": "NO SUCH SEGMENT", "bal": 0.0},
         # isnan is constant over the float kind: inf binds like any
         {"seg": "BUILDING", "bal": math.inf}],
        [{"seg": "AUTOMOBILE", "bal": 0}, {"seg": "BUILDING", "bal": 500},
         {"seg": "FURNITURE", "bal": -100}]],
}
EXISTS = TEMPLATED["exists"][0]
REFUSED = [
    # the other side of `>` is foldable: the optimizer folds it with
    # the sentinel
    ("MATCH (c:Customer) WHERE $k > 5 AND c.c_custkey = $k "
     "RETURN c.c_name AS n", [{"k": k} for k in (3, 7, 4, 9)]),
    ("MATCH (c:Customer) WHERE c.c_mktsegment = toUpper($seg) "
     "RETURN count(*) AS n",
     [{"seg": s} for s in ("building", "machinery", "household")]),
    # Nation is inline VALUES: its scan folds at optimize time
    ("MATCH (n:Nation {n_nationkey: $k}) RETURN n.n_name AS name",
     [{"k": k} for k in (1, 2, 3)]),
    # an int column compared with a float: the column side is a Cast
    ("MATCH (p:Part) WHERE p.p_size > $f RETURN count(*) AS n",
     [{"f": f} for f in (10.5, 20.5, 30.0)]),
    # NaN is keyed by value, so the plan folds it
    (EXISTS, [{"seg": s, "bal": math.nan}
              for s in ("BUILDING", "MACHINERY", "HOUSEHOLD")]),
]


def _ran(df) -> bool:
    """Whether ``df`` scans the RDD of a promoted template's run."""
    return df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"


def _promoted(g, text, params):
    """Bind ``text`` with two other values of ``params``' shape, which
    builds and promotes its template; returns that template."""
    for k in (1, 2):
        g.query(text, {n: v + (str(k) if type(v) is str else k)
                       for n, v in params.items()})
    shape = param_shape(params)
    t = [t for k, t in g._plan_cache.templates.items()
         if k == (text, shape, g._version, g._epoch)][0]
    assert t.physical, "not promoted"
    return t


@pytest.mark.parametrize("shape", sorted(PROMOTED))
def test_promoted_binds_match_fresh_plan(cached_graph, shape):
    g = cached_graph
    text = VAR_LEN if shape == "var_len" else TEMPLATED[shape][0]
    g._invalidate_plans()
    answers = []
    for run in PROMOTED[shape]:
        for i, params in enumerate(run):
            df, outcome = g._query(text, params)
            assert outcome == ("plan" if i == 0 else "rebind"), params
            assert _ran(df) == (i >= 1), params
            ref = _fresh(g, text, params)
            assert df.schema == ref.schema, params
            assert _rows(df) == _rows(ref), params
            answers.append(_rows(df))
    got = _templates(g, text)
    assert len(got) == len(PROMOTED[shape]) and all(t.physical for t in got)
    assert any(answers)


@pytest.mark.parametrize("text,runs", REFUSED)
def test_refused_shapes_stay_analyzed(cached_graph, text, runs):
    g = cached_graph
    g._invalidate_plans()
    for params in runs:
        df, outcome = g._query(text, params)
        assert not _ran(df)
        ref = _fresh(g, text, params)
        assert df.schema == ref.schema
        assert _rows(df) == _rows(ref), params
    got = _templates(g, text)
    assert got and all(t.physical is False for t in got)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, found by a job tag once the listener bus
    drains."""
    sc = spark.sparkContext
    tag = f"rg-test-promoted-{id(fn)}"
    sc.addJobTag(tag)
    try:
        fn()
    finally:
        sc.removeJobTag(tag)
    ctx = sc._jsc.sc()
    ctx.listenerBus().waitUntilEmpty(30_000)
    return len(ctx.statusTracker().getJobIdsForTag(tag))


@pytest.mark.parametrize("shape,params,jobs", [
    # PLACED and Order are held; the filtered Customer side streams
    ("hop1", {"k": 10}, 1),
    # the distinct PLACED sources are held: only the count job is left
    ("exists", {"seg": "BUILDING", "bal": 250.0}, 1),
    # Customer-PLACED, CONTAINS and Part are held; the Order row streams
    ("hop2", {"k": 32}, 1)])
def test_promoted_bind_job_count(spark, cached_graph, shape, params, jobs):
    g, text = cached_graph, TEMPLATED[shape][0]
    g._invalidate_plans()
    _promoted(g, text, params)
    assert _jobs(spark, lambda: g.query(text, params).collect()) == jobs


@pytest.mark.parametrize("shape", ["hop2", "var_len"])
def test_promoting_bind_runs_promoted_plan(spark, cached_graph, shape):
    """The bind that promotes a template runs the plan it promoted, not
    its analyzed plan too: its collect is the one job of a promoted
    bind (var_len's key-dependent frontier broadcast runs inside
    query)."""
    g = cached_graph
    text = VAR_LEN if shape == "var_len" else TEMPLATED[shape][0]
    first, params = PROMOTED[shape][0][:2]
    g._invalidate_plans()
    g.query(text, first)
    df, outcome = g._query(text, params)
    assert outcome == "rebind" and _ran(df)
    assert _templates(g, text)[0].physical
    assert _jobs(spark, df.collect) == 1
    assert _rows(df) == _rows(_fresh(g, text, params))


def test_promoted_result_composes(cached_graph):
    g, text = cached_graph, TEMPLATED["hop1"][0]
    g._invalidate_plans()
    t = _promoted(g, text, {"k": 4})
    df = g.query(text, {"k": 4})
    ref = t.bind(g.spark, {"k": 4})
    assert _ran(df) and not _ran(ref)
    assert df.count() == ref.count() > 0
    big = F.col("tp") > 100000
    assert _rows(df.filter(big)) == _rows(ref.filter(big))
    orders = g.node_tables["Order"].select(
        F.col("o_orderkey").alias("ok"), "o_orderstatus")
    assert _rows(df.join(orders, "ok")) == _rows(ref.join(orders, "ok"))


def test_explain_and_profile_of_promoted_shape(cached_graph):
    g, text = cached_graph, TEMPLATED["hop1"][0]
    g._invalidate_plans()
    _promoted(g, text, {"k": 4})
    assert _ran(g.query(text, {"k": 4}))
    plan = g.explain(text, {"k": 4})
    assert "BroadcastHashJoin" in plan and "InMemoryTableScan" in plan
    assert "ExistingRDD" not in plan
    for k in (4, 7):
        want = g.query(text, {"k": k}).count()
        prof = g.profile(text, {"k": k})
        assert prof["rows"] == want > 0 and prof["plan_cache"] == "rebind"
        joins = [o for o in prof["ops"] if o["op"] == "BroadcastHashJoin"]
        assert joins and want in {o["rows"] for o in joins}
        assert not any("ExistingRDD" in o["op"] for o in prof["ops"])


def test_timeout_in_promoted_bind(spark, fulltext_graph):
    """A TIMEOUT during a promoted run fails that query; the template
    keeps serving. A lookup's promoted run starts no job inside query,
    so this uses a fulltext NOT, whose promoted run still builds its
    key-dependent anti-join side there."""
    from redisgraph_spark.graph.graph import QueryTimeoutError
    g = fulltext_graph
    for q in ("widget -small", "plate -red"):
        g.query(FT_QUERY, {"q": q})
    assert _jobs(spark, lambda: g.query(FT_QUERY, {"q": "ring -hot"})) >= 1
    g.config_set("TIMEOUT", 1)
    try:
        with pytest.raises(QueryTimeoutError):
            g.query(FT_QUERY, {"q": "rod -old"})
    finally:
        g.config_set("TIMEOUT", 0)
    df, outcome = g._query(FT_QUERY, {"q": "rod -old"})
    assert outcome == "rebind" and _ran(df)
    assert _rows(df) == _rows(_fresh(g, FT_QUERY, {"q": "rod -old"})) != []


def _compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


FRESH = {
    "node": [{"k": k} for k in (1, 2, 3, 11, 12, 13)],
    "hop1": [{"k": k} for k in (1, 2, 3, 11, 12, 13)],
    "hop2": [{"k": k} for k in (1, 2, 3, 33, 34, 35)],
    "exists": [{"seg": s, "bal": b} for s, b in (
        ("BUILDING", 1.5), ("MACHINERY", 2.5), ("HOUSEHOLD", 3.5),
        ("AUTOMOBILE", 10.25), ("FURNITURE", -20.75), ("BUILDING", 99.0))],
}


@pytest.mark.parametrize("shape", sorted(FRESH))
def test_promoted_binds_compile_nothing(spark, cached_graph, shape):
    """A promoted bind swaps each number in as a cast of its string,
    which generated code reads from the plan's references: every fresh
    key's code is the code of the last one, so nothing compiles."""
    g, text = cached_graph, TEMPLATED[shape][0]
    g._invalidate_plans()
    binds = FRESH[shape]
    # plan, then promote and run, then run again
    for params in binds[:3]:
        g.query(text, params).collect()
    before = _compiles(spark)
    for params in binds[3:]:
        df = g.query(text, params)
        assert _ran(df), params
        df.collect()
    assert _compiles(spark) == before


def test_class_cache_holds_working_set(spark):
    """``get_spark`` sizes Spark's generated-class cache past its
    default of 100: a plan shape compiled before 150 others still runs
    on a fresh physical plan without compiling."""
    from redisgraph_spark.session import CODEGEN_CACHE_ENTRIES
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == \
        str(CODEGEN_CACHE_ENTRIES) and CODEGEN_CACHE_ENTRIES > 150
    df = spark.range(3).selectExpr("id * 1000 AS x")
    df.collect()
    for i in range(150):
        spark.range(3).selectExpr(f"id * {i} AS x").collect()
    before = _compiles(spark)
    assert df.filter(F.lit(True)).collect() == [(0,), (1000,), (2000,)]
    assert _compiles(spark) == before


BAL = "MATCH (c:Customer) WHERE c.c_acctbal >= $b RETURN count(*) AS n"
# per kind and form: query, parameter, two promoting values, the
# boundary values bound on the promoted plan
BOUNDARY = {
    "i32": (TEMPLATED["node"][0], "k", [1, 2],
            [-(1 << 31), (1 << 31) - 1, -7, 0]),
    "i64": (TEMPLATED["node"][0], "k", [1 << 40, 1 << 41],
            [1 << 31, -(1 << 31) - 1, (1 << 63) - 1, -(1 << 63)]),
    "i32_double": (BAL, "b", [100, 200], [-(1 << 31), (1 << 31) - 1, -7, 0]),
    "float": (BAL, "b", [1.5, 2.5],
              [-0.0, 0.0, 1e-300, -1e-300, 5e-324, -500.25,
               math.inf, -math.inf]),
}


@pytest.mark.parametrize("name", sorted(BOUNDARY))
def test_promoted_boundary_values_match_fresh_plan(cached_graph, name):
    g = cached_graph
    text, n, promoting, values = BOUNDARY[name]
    g._invalidate_plans()
    for v in promoting:
        g.query(text, {n: v})
    for v in values:
        df = g.query(text, {n: v})
        assert _ran(df), v
        ref = _fresh(g, text, {n: v})
        assert df.schema == ref.schema, v
        assert _rows(df) == _rows(ref), v


def test_flip_past_budget_keeps_spark_build_sides(spark, cached_graph):
    """Held bytes past what the budget has left undo the flip: Spark's
    build sides stand (hop1 broadcasts its keyed Customer side per
    request again) and the template stays promoted."""
    from redisgraph_spark.graph import templates as TPL
    g, text = cached_graph, TEMPLATED["hop1"][0]
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    g._plan_cache.clear()
    t = _promoted(g, text, {"k": 4})
    unflipped = TPL._promote(spark, t, None).nbytes
    assert 0 < unflipped < t.physical.nbytes
    g._plan_cache.clear()
    spark.conf.set(key, str(unflipped))
    try:
        t = _promoted(g, text, {"k": 4})
        assert t.physical.nbytes == unflipped
        assert _jobs(spark, lambda: g.query(text, {"k": 10}).collect()) == 2
        df = g.query(text, {"k": 9})
        assert _ran(df) and t.physical
        assert _rows(df) == _rows(_fresh(g, text, {"k": 9})) != []
    finally:
        spark.conf.set(key, before)
        g._plan_cache.clear()


def test_free_sides_sized_as_held(spark, cached_graph, monkeypatch):
    """Promotion sizes each free side as the hash relation its broadcast
    holds, not by a cached table's compressed bytes, 3-4x under: the
    estimates of the flipped sides (hop2's dense keys, var_len's sparse
    ones) are not under the broadcasts built, and at most a quarter
    over."""
    from redisgraph_spark.graph import templates as TPL
    g, h = cached_graph, TPL._jvm(spark)
    seen = []
    real = TPL._sides_fit

    def spy(h, jss, sides, room):
        seen.extend(sides)
        return real(h, jss, sides, room)
    monkeypatch.setattr(TPL, "_sides_fit", spy)
    for text in (TEMPLATED["hop2"][0], VAR_LEN):
        g._invalidate_plans()
        seen.clear()
        held = _promoted(g, text, {"k": 32}).physical.nbytes
        sizes = TPL._sides_bytes(h, spark._jsparkSession, seen)
        assert len(sizes) == 3, text
        assert held <= sum(sizes) <= held * 1.25, text


def _plan_nodes(plan, name: str) -> list:
    """The nodes of a JVM plan named ``name``."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        if node.nodeName() == name:
            out.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


# per key kind, the key columns of a side: a long (dense range, a
# sparse one, repeated keys), two ints packed into one long, and keys
# a long cannot hold (a string, two longs)
SIDE_KEYS = {"dense": ["a"], "sparse": ["sp"], "repeated": ["r"],
             "two_ints": ["i", "j"], "string": ["s"],
             "two_longs": ["a", "sp"]}


@pytest.mark.parametrize("kind", sorted(SIDE_KEYS))
def test_side_bytes_match_built_broadcast(spark, cached_graph, kind):
    """``_sides_bytes`` of a join side is the ``dataSize`` of the
    broadcast Spark builds of it, for the long-keyed map (dense or
    sparse) and the bytes-keyed one (``cached_graph``: adaptive
    execution off, so the broadcast is planned statically), and
    ``_sides_fit`` holds it in exactly that many bytes."""
    from redisgraph_spark.graph import templates as TPL
    keys = SIDE_KEYS[kind]
    cols = ["id AS a", "id * 1000003 AS sp", "id % 500 AS r",
            "CAST(id AS INT) AS i", "CAST(id % 7 AS INT) AS j",
            "CAST(id AS STRING) AS s"]
    side = spark.range(3000).selectExpr(*cols, "id * 2 AS v") \
        .select(*keys, "v")
    df = spark.range(10).selectExpr(*cols).select(*keys) \
        .join(F.broadcast(side), keys)
    qe = df._jdf.queryExecution()
    join, = _plan_nodes(qe.optimizedPlan(), "Join")
    h, jss = TPL._jvm(spark), spark._jsparkSession
    estimate, = TPL._sides_bytes(h, jss, [(join, 1)])
    df.collect()
    held = [b.metrics().apply("dataSize").value()
            for b in _plan_nodes(qe.executedPlan(), "BroadcastExchange")]
    assert held == [estimate]
    # with Catalyst's row count, every key distinct bounds it with no job
    side_plan, side_keys, packed = TPL._side_keys(h, join, 1)
    rows = TPL._side_rows(side_plan)
    assert rows == 3000
    assert TPL._relation_bytes(h, side_plan, side_keys, packed, rows,
                               rows) >= estimate
    assert TPL._sides_fit(h, jss, [(join, 1)], estimate)
    assert not TPL._sides_fit(h, jss, [(join, 1)], estimate - 1)


def test_second_sentinel_set_is_planned_on_its_own(cached_graph,
                                                   monkeypatch):
    """The guard's B plan is flipped on B's own optimized plan, not
    copied from A's: each plan the flip sees holds its own sentinels
    only."""
    from redisgraph_spark.graph import templates as TPL
    g, text = cached_graph, TEMPLATED["hop1"][0]
    g._invalidate_plans()
    seen = []
    real = TPL._flipped

    def spy(h, jss, plan, swap, room):
        out = real(h, jss, plan, swap, room)
        seen.append((plan.toString(), out is not None))
        return out
    monkeypatch.setattr(TPL, "_flipped", spy)
    _promoted(g, text, {"k": 4})
    a, b = (str(_sentinel("i32", i)) for i in (0, TPL._SECOND_SET))
    assert [(a in p, b in p, flipped) for p, flipped in seen] == [
        (True, False, True), (False, True, True)]


def test_fulltext_ddl_keeps_warm_state(spark, cached_graph):
    """Creating or dropping a fulltext index replaces no table: the
    graph's version, and with it the warm adjacency and counts, stay,
    so a var-length shape still gets a template."""
    g = cached_graph
    version = g._version
    g.query("CALL db.idx.fulltext.createNodeIndex('Customer', 'c_name')")
    try:
        assert g._version == version
        assert ("e", None, version) in g._count_cache
        assert _jobs(spark, g.edge_count) == 0
        g.query(VAR_LEN, {"k": 1})
        assert any(isinstance(t, PlanTemplate)
                   for t in _templates(g, VAR_LEN))
    finally:
        g.query("CALL db.idx.fulltext.drop('Customer')")
    assert g._version == version


def test_lowering_plan_cache_size_shrinks_both_lrus(social):
    for i in range(8):
        social.query(f"MATCH (p:person) WHERE p.age > {i} "
                     "AND p.name <> $n RETURN count(*) AS c", {"n": "x"})
    cache = social._plan_cache
    assert len(cache) == len(cache.templates) == 8
    social.config_set("PLAN_CACHE_SIZE", 2)
    social.query("MATCH (p:person {age: $a}) RETURN count(*) AS c",
                 {"a": 30})
    assert len(cache) <= 2 and len(cache.templates) <= 2


# ------------------------------------------------------------- fulltext
# per grammar shape, queries of one skeleton with other words; Part
# names are "adjective noun" pairs over a 16-word vocabulary
FT_QUERY = ("CALL db.idx.fulltext.queryNodes('Part', $q) YIELD node, score "
            "RETURN node.p_partkey AS k, score")
FT_SHAPES = {
    "term": ["widget", "gear", "bolt", "nosuchword"],
    "and": ["small widget", "red plate", "hot ring", "old rod"],
    "or": ["widget|gear", "red|blue", "rod|ring", "plate|nosuchword"],
    "not": ["widget -small", "plate -red", "ring -hot", "rod -old"],
    "phrase": ['"small widget"', '"red plate"', '"hot ring"',
               '"widget small"'],
    "prefix": ["wid*", "gea*", "pl*", "r*"],
    "fuzzy": ["%widgit%", "%bolz%", "%gaer%", "%rong%"],
    "optional": ["bolt ~red", "widget ~small", "ring ~hot", "rod ~old"],
    "field": ["@p_name:widget", "@p_name:gear", "@p_name:bolt",
              "@p_name:rod"],
    "hyphen": ["small-widget", "red-plate", "hot-ring", "old-rod"],
    "repeat": ["widget widget", "red red", "gear gear", "hot hot"],
}
# levenshtein wraps the fuzzy word: the guard keeps it analyzed-only
FT_REFUSED = {"fuzzy"}
FT_PER_REQUEST = [
    # $q is used outside queryNodes too
    ("CALL db.idx.fulltext.queryNodes('Part', $q) YIELD node "
     "RETURN node.p_partkey AS k, $q AS q", {"q": "small widget"}),
    ("CALL db.idx.fulltext.queryNodes('Part', $q) YIELD node "
     "WHERE node.p_name <> $q RETURN node.p_partkey AS k",
     {"q": "widget"}),
    # no words: nothing to rebind
    (FT_QUERY, {"q": ""}),
    (FT_QUERY, {"q": "!! ,"}),
    (FT_QUERY, {"q": None}),
]


@pytest.mark.parametrize("text", sorted(
    {q for qs in FT_SHAPES.values() for q in qs}
    | {"", "!! ,", "a|b c -(d e)", '@f:"x y" ~z* -%w%'}))
def test_fill_of_skeleton_is_the_parse(text):
    shape, words = skeleton(text)
    assert fill(shape, words) == parse_query(text)


@pytest.mark.parametrize("shape", sorted(FT_SHAPES))
def test_fulltext_binds_match_fresh_plan(fulltext_graph, shape):
    g, queries = fulltext_graph, FT_SHAPES[shape]
    assert len({repr(skeleton(q)[0]) for q in queries}) == 1
    answers = []
    for i, q in enumerate(queries):
        df, outcome = g._query(FT_QUERY, {"q": q})
        assert outcome == ("plan" if i == 0 else "rebind"), q
        assert _ran(df) == (i >= 1 and shape not in FT_REFUSED), q
        ref = _fresh(g, FT_QUERY, {"q": q})
        assert df.schema == ref.schema, q
        assert _rows(df) == _rows(ref), q
        answers.append(_rows(df))
    got = _templates(g, FT_QUERY)
    assert len(got) == 1 and isinstance(got[0], PlanTemplate)
    assert got[0].physical is not (shape in FT_REFUSED)
    assert any(answers)


def test_fulltext_skeletons_key_templates(fulltext_graph):
    g = fulltext_graph
    for q in ("small widget", "red plate", "widget|gear", "red|blue"):
        assert _rows(g.query(FT_QUERY, {"q": q})) == \
            _rows(_fresh(g, FT_QUERY, {"q": q}))
    got = _templates(g, FT_QUERY)
    assert len(got) == 2 and all(isinstance(t, PlanTemplate) for t in got)


def test_fulltext_plans_per_request(fulltext_graph):
    """A query parameter used elsewhere too, or one without words,
    stores no template and answers as a fresh plan does."""
    g = fulltext_graph
    for text, params in FT_PER_REQUEST:
        df, outcome = g._query(text, params)
        assert outcome == "plan", params
        assert not any(isinstance(t, PlanTemplate)
                       for t in _templates(g, text)), params
        ref = _fresh(g, text, params)
        assert df.schema == ref.schema, params
        assert _rows(df) == _rows(ref), params
        # the queries without words match nothing
        assert bool(_rows(df)) == (text != FT_QUERY), params


def test_fulltext_bind_job_count(spark, fulltext_graph):
    """Promoted, an "adjective noun" query runs 1 job, at collect: its
    terms are one aggregate, the Part broadcast is held and the hits
    sort in one partition, with no range sample."""
    g = fulltext_graph
    for q in ("small widget", "red plate"):
        g.query(FT_QUERY, {"q": q})
    assert _jobs(spark, lambda: g.query(FT_QUERY, {"q": "hot ring"})) == 0
    assert _jobs(spark, lambda: g.query(
        FT_QUERY, {"q": "old rod"}).collect()) == 1


def test_explain_and_profile_of_fulltext_template(fulltext_graph):
    g = fulltext_graph
    for q in ("small widget", "red plate"):
        g.query(FT_QUERY, {"q": q})
    assert _ran(g.query(FT_QUERY, {"q": "hot ring"}))
    plan = g.explain(FT_QUERY, {"q": "hot ring"})
    assert "BroadcastHashJoin" in plan and "HashAggregate" in plan
    assert "hot" in plan and "rg-param" not in plan
    want = g.query(FT_QUERY, {"q": "old rod"}).count()
    prof = g.profile(FT_QUERY, {"q": "old rod"})
    assert prof["rows"] == want > 0 and prof["plan_cache"] == "rebind"
    ops = {o["op"] for o in prof["ops"]}
    assert {"BroadcastHashJoin", "HashAggregate"} <= ops


def test_timeout_in_fulltext_bind(spark, fulltext_graph):
    """As ``test_timeout_in_promoted_bind``, over a phrase: both sides
    of its position join hold a word, so its promoted run builds a
    broadcast inside query."""
    from redisgraph_spark.graph.graph import QueryTimeoutError
    g = fulltext_graph
    for q in ('"small widget"', '"red plate"'):
        g.query(FT_QUERY, {"q": q})
    assert _jobs(spark, lambda: g.query(FT_QUERY, {"q": '"old rod"'})) >= 1
    g.config_set("TIMEOUT", 1)
    try:
        with pytest.raises(QueryTimeoutError):
            g.query(FT_QUERY, {"q": '"hot ring"'})
    finally:
        g.config_set("TIMEOUT", 0)
    df, outcome = g._query(FT_QUERY, {"q": '"hot ring"'})
    assert outcome == "rebind" and _ran(df)
    assert _rows(df) == _rows(_fresh(g, FT_QUERY, {"q": '"hot ring"'})) != []


# ------------------------------------------------ fulltext differential
# seeded random two-field documents scored by a pure-Python reading of
# the grammar: Σ tf over the matched terms, a phrase scores its
# occurrences (adjacent positions), NOT scores 0, best first and ties
# by id; each case's queries share one skeleton, so through a template
# the first plans, and the second promotes and runs promoted, as the
# rest do
FT_VOCAB = ["red", "redo", "blue", "small", "widget", "wide", "gear",
            "bolt"]
FT_FIELDS = ("title", "body")
FT_CASES = {
    "term": "{a}",
    "and": "{a} {b}",
    "and3": "{a} {b} {c}",
    "repeat": "{a} {a}",
    "field": "@title:{a} {b}",
    "field_or": "@body:({a}|{b})",
    "prefix": "{p}* {b}",
    "or": "{a}|{b}",
    "or_and": "{a}|{b} {c}",
    "not": "{a} -{b}",
    "not_only": "-{a}",
    "phrase": '"{a} {b}"',
    "field_phrase": '@title:"{a} {b}"',
    "optional": "{a} ~{b}",
    "optional_only": "~{a}",
    "punct": "{a} !! {b} :)",
}


def _ft_docs(seed: int, n: int = 60) -> list[tuple]:
    rng = random.Random(seed)

    def text():
        if rng.random() < 0.1:
            return None
        words = [w.upper() if rng.random() < 0.2 else w
                 for w in rng.choices(FT_VOCAB, k=rng.randint(0, 6))]
        return rng.choice([" ", ", ", "-", " !! "]).join(words)
    return [(i, text(), text()) for i in rng.sample(range(1000), n)]


def _ft_reference(docs: list[tuple], node) -> list[tuple]:
    """``(_id, score)`` of the docs ``node`` (a parsed query) matches,
    best first."""
    post: dict = {}          # (field, token) -> {_id: [positions]}
    for i, *texts in docs:
        for f, text in zip(FT_FIELDS, texts):
            toks = re.split(r"[^a-z0-9]+", (text or "").lower())
            for pos, tok in enumerate(toks):
                if tok:
                    post.setdefault((f, tok), {}).setdefault(i, []) \
                        .append(pos)
    universe = {d[0] for d in docs}

    def add(out, i, s):
        out[i] = out.get(i, 0) + s

    def term(t):
        out = {}
        for (f, tok), ids in post.items():
            if t.field in (None, f) and (
                    tok.startswith(t.word) if t.prefix else tok == t.word):
                for i, ps in ids.items():
                    add(out, i, len(ps))
        return out

    def phrase(p):
        out = {}
        for f in FT_FIELDS:
            if p.field not in (None, f):
                continue
            for i in universe:
                hits = set(post.get((f, p.words[0]), {}).get(i, []))
                for k, w in enumerate(p.words[1:], start=1):
                    hits &= {x - k for x in
                             post.get((f, w), {}).get(i, [])}
                if hits:
                    add(out, i, len(hits))
        return out

    def ev(n):
        if isinstance(n, FtTerm):
            return term(n)
        if isinstance(n, FtPhrase):
            return phrase(n)
        if isinstance(n, FtOr):
            out = {}
            for c in n.children:
                for i, s in ev(c).items():
                    add(out, i, s)
            return out
        if isinstance(n, FtNot):
            return {i: 0 for i in universe - set(ev(n.child))}
        if isinstance(n, FtOptional):
            return ev(n.child)
        kids = [c for c in n.children
                if not (isinstance(c, FtAnd) and not c.children)]
        if not kids:
            return {}
        pos = [c for c in kids if not isinstance(c, (FtNot, FtOptional))]
        opt = [c.child for c in kids if isinstance(c, FtOptional)]
        if pos:
            out = ev(pos[0])
            for c in pos[1:]:
                s = ev(c)
                out = {i: v + s[i] for i, v in out.items() if i in s}
        elif opt:
            out, opt = ev(FtOr(opt)), []
        else:
            out = dict.fromkeys(universe, 0)
        for o in opt:
            for i, s in ev(o).items():
                if i in out:
                    add(out, i, s)
        for c in kids:
            if isinstance(c, FtNot):
                for i in ev(c.child):
                    out.pop(i, None)
        return out
    got = ev(parse_query(node) if isinstance(node, str) else node)
    return sorted(((i, float(s)) for i, s in got.items()),
                  key=lambda r: (-r[1], r[0]))


def _ft_queries(case: str, seed: int, n: int = 4) -> list[str]:
    """``n`` distinct queries of ``case`` (a repeat would hit the
    exact-value cache)."""
    rng = random.Random(f"{case}-{seed}")
    out: dict = {}
    while len(out) < n:
        a, b, c = (rng.choice(FT_VOCAB + ["nosuch"]) for _ in range(3))
        p = rng.choice(FT_VOCAB)[:rng.randint(1, 3)]
        out[FT_CASES[case].format(a=a, b=b, c=c, p=p)] = None
    return list(out)


@pytest.fixture(scope="module")
def ft_docs(spark):
    """Seeded random documents as a cached node table, and their
    index."""
    from redisgraph_spark.functions.fulltext import build_index
    docs = _ft_docs(7)
    df = spark.createDataFrame(
        docs, "_id long, title string, body string").persist()
    return docs, df, build_index(df, list(FT_FIELDS)).localCheckpoint()


@pytest.mark.parametrize("case", sorted(FT_CASES))
def test_fulltext_matches_python_reference(spark, cached_graph, ft_docs,
                                           case):
    """Through ``query_index`` and through a promoted template, each
    query matches the reference: ids, scores and their order."""
    from redisgraph_spark import Graph
    from redisgraph_spark.functions.fulltext import query_index
    docs, df, index = ft_docs
    queries = _ft_queries(case, 7)
    assert len({repr(skeleton(q)[0]) for q in queries}) == 1
    for q in queries:
        got = query_index(index, df, q).select("_id", "score").collect()
        assert [tuple(r) for r in got] == _ft_reference(docs, q), q
    # a small graph of known size: adaptive execution stays off
    g = Graph(spark, {"Doc": df}, {}, input_bytes=1)
    g.query("CALL db.idx.fulltext.createNodeIndex('Doc', 'title', 'body')")
    text = ("CALL db.idx.fulltext.queryNodes('Doc', $q) YIELD node, score "
            "RETURN node._id AS id, score")
    for i, q in enumerate(queries):
        df_q, outcome = g._query(text, {"q": q})
        assert outcome == ("plan" if i == 0 else "rebind"), q
        assert _ran(df_q) == (i >= 1), q
        got = [tuple(r) for r in df_q.collect()]
        assert got == _ft_reference(docs, q), q


@pytest.mark.parametrize("text", ["", "!! ,", "()"])
def test_fulltext_without_words_matches_nothing(ft_docs, text):
    from redisgraph_spark.functions.fulltext import query_index
    docs, df, index = ft_docs
    assert _ft_reference(docs, text) == []
    assert query_index(index, df, text).collect() == []
