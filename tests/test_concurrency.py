"""N-readers / 1-writer discipline per graph — the reference acquires
a per-graph RW lock around mutations (``src/graph/graph.h:85-101``)
and stress-tests it in ``tests/flow/test_concurrent_query.py``.

Here: concurrent reader threads must always observe a CONSISTENT
graph — the writer creates a node AND its edge in one query (one
atomic commit), so a reader may never count more components of one
than the other in contradictory directions; an aborted mutation
(simulated via a failing query) must leave state untouched while
readers run.  Reads planned before a write see the pre-write tables
(Spark DataFrames are immutable lineage — snapshot-isolation reads,
strictly stronger than the reference's blocking reads)."""

import threading

import pytest

from redisgraph_spark import Graph
from redisgraph_spark.graph.graph import _RWLock


def test_rwlock_excludes_writer():
    lock = _RWLock()
    state = {"readers": 0, "writers": 0, "max_readers": 0, "bad": 0}
    mu = threading.Lock()

    def reader():
        import time
        for _ in range(50):
            with lock.read():
                with mu:
                    state["readers"] += 1
                    state["max_readers"] = max(state["max_readers"],
                                               state["readers"])
                    if state["writers"]:
                        state["bad"] += 1
                time.sleep(0.001)   # hold the shared lock → overlap
                with mu:
                    state["readers"] -= 1

    def writer():
        for _ in range(30):
            with lock.write():
                with mu:
                    state["writers"] += 1
                    if state["readers"] or state["writers"] > 1:
                        state["bad"] += 1
                with mu:
                    state["writers"] -= 1

    threads = [threading.Thread(target=reader) for _ in range(4)] + \
        [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert state["bad"] == 0
    assert state["max_readers"] >= 2   # readers actually overlapped


@pytest.mark.timeout(600)
def test_concurrent_readers_one_writer(spark):
    g = Graph(spark, {}, {})
    g.query("CREATE (:Hub {k: 0})")
    errors: list[str] = []
    stop = threading.Event()

    def writer():
        try:
            for i in range(1, 13):
                # node + edge created in ONE query = one atomic commit
                g.query(f"MATCH (h:Hub) CREATE (s:Spoke {{k: {i}}}), "
                        f"(h)-[:LINK {{k: {i}}}]->(s)")
        except Exception as ex:  # pragma: no cover
            errors.append(f"writer: {ex}")
        finally:
            stop.set()

    def reader():
        try:
            while not stop.is_set():
                rows = g.query(
                    " MATCH (:Hub)-[l:LINK]->(s:Spoke) "
                    "RETURN count(l) AS links, count(s) AS spokes"
                ).collect()
                links, spokes = rows[0].links, rows[0].spokes
                if links != spokes:
                    errors.append(
                        f"torn read: {links} links vs {spokes} spokes")
                    return
        except Exception as ex:  # pragma: no cover
            errors.append(f"reader: {ex}")

    readers = [threading.Thread(target=reader) for _ in range(3)]
    w = threading.Thread(target=writer)
    for t in readers:
        t.start()
    w.start()
    w.join()
    for t in readers:
        t.join()
    assert not errors, errors[:3]
    rows = g.query("MATCH (s:Spoke) RETURN count(s) AS n").collect()
    assert rows[0].n == 12


def test_aborted_write_under_readers(spark):
    g = Graph(spark, {}, {})
    g.query("CREATE (:N {k: 1}), (:N {k: 2})")
    before = g.query("MATCH (n:N) RETURN count(n) AS c").collect()[0].c
    with pytest.raises(Exception):
        # var-length CREATE is rejected → whole-query abort under the
        # writer lock (snapshot/restore window)
        g.query("MATCH (n:N) CREATE (:N {k: 3})-[:R*2]->()")
    after = g.query("MATCH (n:N) RETURN count(n) AS c").collect()[0].c
    assert before == after == 2


def test_template_binds_concurrently(graph):
    """More threads than cores rebind one plan template, each with its
    own keys; each must get its own answer (the template's JVM plan is
    shared)."""
    import sys

    from conftest import rows
    from redisgraph_spark.cypher.parser import parse
    from redisgraph_spark.planner.planner import CypherPlanner
    q = ("MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) "
         "RETURN o.o_orderkey AS ok")
    graph.query(q, {"k": 100})               # builds the template
    keys = [[1 + t + 6 * i for i in range(2)] for t in range(6)]
    want = {k: rows(CypherPlanner(graph, {"k": k}).plan(parse(q)))
            for ks in keys for k in ks}
    got: dict = {}
    errors: list[str] = []

    def client(ks):
        try:
            for k in ks:
                df, outcome = graph._query(q, {"k": k})
                got[k] = (outcome, rows(df))
        except Exception as ex:  # pragma: no cover
            errors.append(repr(ex))

    threads = [threading.Thread(target=client, args=(ks,)) for ks in keys]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert got == {k: ("rebind", r) for k, r in want.items()}
    assert any(want.values())


def test_write_drops_templates(spark):
    """A SET between two binds of one shape shows in the second: the
    version bump retires the template, so the read after it plans
    against the new tables."""
    g = Graph(spark, {}, {})
    g.query("CREATE (:N {k: 1, v: 10}), (:N {k: 2, v: 20})")
    q = "MATCH (n:N {k: $k}) RETURN n.v AS v"
    assert g.query(q, {"k": 1}).collect()[0].v == 10
    assert g._query(q, {"k": 2})[1] == "rebind"
    g.query("MATCH (n:N) SET n.v = n.v + 1")
    df, outcome = g._query(q, {"k": 2})
    assert outcome == "plan" and df.collect()[0].v == 21
    assert g._query(q, {"k": 1})[0].collect()[0].v == 11


def test_timeout_in_template_build_stores_nothing(social):
    """A TIMEOUT while the template is planned fails the query as a
    TIMEOUT does without templates, and leaves no template behind."""
    from redisgraph_spark.graph.graph import QueryTimeoutError
    q = "MATCH (p:person {name: $n})-[*1..8]->(q) RETURN count(*) AS c"
    social.config_set("TIMEOUT", 1)
    try:
        with pytest.raises(QueryTimeoutError):
            social.query(q, {"n": "Roi"})
        assert not [k for k in social._plan_cache.templates
                    if k[0] == q]
    finally:
        social.config_set("TIMEOUT", 0)


def _node_ids(spark, plan, held=None) -> set:
    """JVM identities of every node in an executed plan, following each
    ReusedExchange to the exchange it reuses; ``held`` collects those
    exchanges."""
    ident = spark._jvm.java.lang.System.identityHashCode
    out = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        out.add(ident(node))
        if node.nodeName() == "ReusedExchange":
            if held is not None:
                held.append(node.child())
            stack.append(node.child())
            continue
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_promoted_binds_share_only_held_broadcasts(spark, cached_graph):
    """Two binds of one promoted template share JVM plan nodes only
    inside the held broadcasts; every other node, each one that takes
    part in code generation included, is the request's own."""
    q = ("MATCH (c:Customer)-[:PLACED]->(o:Order {o_orderkey: $k})"
         "-[l:CONTAINS]->(p:Part) RETURN p.p_partkey AS pk")
    g = cached_graph
    g._invalidate_plans()
    for k in (1, 2):
        g.query(q, {"k": k})
    t = [t for key, t in g._plan_cache.templates.items()
         if key[0] == q and key[3] == g._epoch][0]
    held: list = []
    a = _node_ids(spark, t.physical.instance(spark, {"k": 3}), held)
    b = _node_ids(spark, t.physical.instance(spark, {"k": 4}))
    assert held and all(h.nodeName() == "BroadcastExchange" for h in held)
    inside = set().union(*(_node_ids(spark, h) for h in held))
    assert a & b == inside


def test_threads_race_first_promotion(cached_graph):
    """Six threads rebind a fresh hop2 template at once: one promotes
    it while the others rebind the analyzed plan, then all run the
    promoted plan; every answer is the planner's."""
    import sys

    from conftest import rows
    from redisgraph_spark.cypher.parser import parse
    from redisgraph_spark.planner.planner import CypherPlanner
    q = ("MATCH (c:Customer)-[:PLACED]->(o:Order {o_orderkey: $k})"
         "-[l:CONTAINS]->(p:Part) "
         "RETURN c.c_custkey AS ck, p.p_partkey AS pk")
    g = cached_graph
    g._invalidate_plans()
    g.query(q, {"k": 1})                     # builds the template
    keys = [[2 + t + 6 * i for i in range(3)] for t in range(6)]
    want = {k: rows(CypherPlanner(g, {"k": k}).plan(parse(q)))
            for ks in keys for k in ks}
    got: dict = {}
    errors: list[str] = []

    def client(ks):
        try:
            for k in ks:
                got[k] = rows(g.query(q, {"k": k}))
        except Exception as ex:  # pragma: no cover
            errors.append(repr(ex))

    threads = [threading.Thread(target=client, args=(ks,)) for ks in keys]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert got == want and any(want.values())
    assert [t.physical for key, t in g._plan_cache.templates.items()
            if key[0] == q and key[3] == g._epoch][0]


def test_threads_race_first_fulltext_promotion(fulltext_graph):
    """Four threads bind fresh words into one fulltext skeleton at
    once: one promotes its template while the others rebind the
    analyzed plan; every answer is the planner's."""
    import sys

    from conftest import rows
    from redisgraph_spark.cypher.parser import parse
    from redisgraph_spark.planner.planner import CypherPlanner
    q = ("CALL db.idx.fulltext.queryNodes('Part', $q) YIELD node, score "
         "RETURN node.p_partkey AS k, score")
    g = fulltext_graph
    g.query(q, {"q": "small widget"})        # builds the template
    adjs = ["red", "hot", "large", "blue"]
    nouns = ["plate", "ring", "rod"]
    words = [[f"{a} {n}" for n in nouns] for a in adjs]
    want = {w: rows(CypherPlanner(g, {"q": w}).plan(parse(q)))
            for ws in words for w in ws}
    got: dict = {}
    errors: list[str] = []

    def client(ws):
        try:
            for w in ws:
                got[w] = rows(g.query(q, {"q": w}))
        except Exception as ex:  # pragma: no cover
            errors.append(repr(ex))

    threads = [threading.Thread(target=client, args=(ws,)) for ws in words]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert got == want and sum(map(bool, want.values())) > 6
    assert [t.physical for key, t in g._plan_cache.templates.items()
            if key[0] == q and key[3] == g._epoch][0]
