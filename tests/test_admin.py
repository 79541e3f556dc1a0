"""Admin surface: plan cache, slow log, explain/profile, fulltext,
bulk loader, persistence."""

import tempfile

import pytest

from conftest import SF_DIR


def test_plan_cache_hits(social):
    q = "MATCH (p:person) RETURN count(*) AS c"
    social.query(q)
    social.query(q)
    hits = [r for r in social._slow_log if r["query"] == q]
    assert len(hits) == 2 and hits[1]["cache_hit"]
    assert [r["plan_cache"] for r in hits] == ["plan", "hit"]
    # the first value plans the shape's template, a new value rebinds
    # it, and the same value again is an exact-value hit
    q = "MATCH (p:person {age: $a}) RETURN count(*) AS c"
    assert [social.query(q, {"a": a}).collect()[0]["c"]
            for a in (32, 33, 33)] == [4, 1, 1]
    log = [r for r in social._slow_log if r["query"] == q]
    assert [r["plan_cache"] for r in log] == ["plan", "rebind", "hit"]
    assert [r["cache_hit"] for r in log] == [False, False, True]


def test_mutation_invalidates_cache(social):
    q = "MATCH (p:person) RETURN count(*) AS c"
    n0 = social.query(q).collect()[0]["c"]
    social.query("CREATE (:person {name: 'Zed', age: 50})")
    n1 = social.query(q).collect()[0]["c"]
    assert n1 == n0 + 1


def test_explain_contains_physical_plan(social):
    plan = social.explain(
        "MATCH (p:person)-[:friend]->(f) RETURN count(*) AS c")
    assert "Physical Plan" in plan
    assert "Join" in plan or "BroadcastHashJoin" in plan


def test_explain_write_is_side_effect_free(social):
    """GRAPH.EXPLAIN builds the plan without executing
    (cmd_explain.c) — EXPLAIN of a CREATE must not create."""
    plan = social.explain("CREATE (:person {name: 'Ghost'})")
    assert "Physical Plan" in plan
    assert social.query(
        "MATCH (p:person) RETURN count(*) AS n").collect()[0]["n"] == 10


def test_explain_ddl_procedure_is_side_effect_free(social):
    """CALLs to catalog-mutating procedures (fulltext create/drop) are
    writes too — EXPLAIN must roll them back, including the
    no-catalog → first-index transition."""
    plan = social.explain(
        "CALL db.idx.fulltext.createNodeIndex('person', 'name')")
    assert "Physical Plan" in plan
    assert social.fulltext.fields == {}      # nothing persisted
    # and EXPLAIN of a drop must not drop
    social.query("CALL db.idx.fulltext.createNodeIndex('person', 'name')")
    social.explain("CALL db.idx.fulltext.drop('person')")
    assert "person" in social.fulltext.fields


def test_profile(social):
    prof = social.profile("MATCH (p:person) RETURN p.name AS n")
    assert prof["rows"] == 10 and prof["wall_sec"] >= 0
    # r10: driver-side plan-construction wall is part of the profile
    # (the round-9 temporal blowup lived there, invisible to
    # executor-side metrics); second profile of the same text rides
    # the plan cache and reports it
    assert prof["planning_ms"] >= 0 and prof["plan_cache"] == "plan"
    prof2 = social.profile("MATCH (p:person) RETURN p.name AS n")
    assert prof2["plan_cache"] == "hit"
    # a parameterised read plans its template once, then rebinds it
    q = "MATCH (p:person) WHERE p.age > $a RETURN p.name AS n"
    assert social.profile(q, {"a": 32})["plan_cache"] == "plan"
    prof3 = social.profile(q, {"a": 30})
    assert prof3["plan_cache"] == "rebind" and prof3["rows"] == 7


def test_profile_per_op_stats(social):
    """PROFILE reports per-operator rows (the reference's per-op
    'Records produced', execution_plan.c:435-463): a filter + scan
    query must show the scan's full row count AND the filter's reduced
    count on distinct ops."""
    prof = social.profile(
        "MATCH (p:person) WHERE p.age > 30 RETURN p.name AS n")
    ops = prof["ops"]
    assert len(ops) >= 2 and all("op" in o and "depth" in o for o in ops)
    rows_seen = {o["rows"] for o in ops if o["rows"] is not None}
    assert 10 in rows_seen            # scan: all 10 persons
    assert prof["rows"] in rows_seen  # filtered count surfaces too
    assert any(o["time_ms"] > 0 for o in ops)  # timing metrics wired


def test_query_timeout(social):
    """TIMEOUT config (reference Config_TIMEOUT): a 1 ms budget kills
    the eager var-len traversal loop cleanly; the graph stays usable
    and the config is round-trippable."""
    import pytest as _pytest

    from redisgraph_spark.graph.graph import QueryTimeoutError
    assert social.config_get("TIMEOUT") == 0
    social.config_set("TIMEOUT", 1)
    try:
        with _pytest.raises(QueryTimeoutError, match="timed out"):
            social.query(
                "MATCH (p:person)-[*1..8]->(q) RETURN count(*) AS n")
    finally:
        social.config_set("TIMEOUT", 0)
    assert social.query("MATCH (p:person) RETURN count(*) AS n") \
        .collect()[0]["n"] == 10


def test_query_timeout_keeps_callers_job_group(social):
    """A query under TIMEOUT cancels by its own job tag: the caller's
    job group, its other local properties and its tags survive."""
    sc = social.spark.sparkContext
    sc.setJobGroup("caller-group", "caller", interruptOnCancel=False)
    sc.addJobTag("caller-tag")
    social.config_set("TIMEOUT", 60000)
    try:
        assert social.query(
            "MATCH (p:person)-[*1..3]->(q) RETURN count(*) AS n") \
            .collect()[0]["n"] > 0
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") \
            == "false"
        assert set(sc.getJobTags()) == {"caller-tag"}
    finally:
        social.config_set("TIMEOUT", 0)
        sc.removeJobTag("caller-tag")
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def _table_rows(g) -> dict:
    return {(kind, name): sorted(tuple(r) for r in df.collect())
            for kind, tables in (("node", g.node_tables),
                                 ("edge", g.edge_tables))
            for name, df in tables.items()}


@pytest.mark.parametrize("write", [
    "MATCH (p:person) SET p.zzz = 1",
    "MATCH (p:person {name: 'Roi'}) SET p.age = 99",
    "MERGE (p:person {name: 'Roi'}) ON MATCH SET p.age = 99",
    "MATCH (p:person {name: 'Roi'}) DETACH DELETE p",
], ids=["whole-table-set", "keyed-set", "merge-on-match",
        "keyed-detach-delete"])
def test_query_timeout_mutation_atomic(social, write):
    """A TIMEOUT firing mid-mutation must leave every node and edge
    table exactly as it was (whole-query abort, like the reference's
    single-writer commit discipline), for each kind of keyed write.
    `Graph._with_timeout` raises once the deadline has passed whether
    or not it cancelled a job, so this shows the rollback, not that a
    running job is cancelled."""
    from redisgraph_spark.graph.graph import QueryTimeoutError
    before = _table_rows(social)
    social.config_set("TIMEOUT", 1)
    try:
        with pytest.raises(QueryTimeoutError):
            social.query(write)
    finally:
        social.config_set("TIMEOUT", 0)
    assert _table_rows(social) == before


def test_fulltext_index(social):
    res = social.query(
        "CALL db.idx.fulltext.createNodeIndex('person', 'name')")
    res.collect()
    hits = social.query(
        "CALL db.idx.fulltext.queryNodes('person', 'roi') "
        "YIELD node, score RETURN node.name AS n, score")
    got = [(r["n"], r["score"]) for r in hits.collect()]
    assert got == [("Roi", 1.0)]


FT_KEYS = ("CALL db.idx.fulltext.queryNodes('Part', $q) YIELD node "
           "RETURN node.p_partkey AS k")


def _ft_keys(g, q: str) -> list:
    return sorted(r["k"] for r in g.query(FT_KEYS, {"q": q}).collect())


@pytest.fixture()
def ft_tpch(spark):
    """A TPC-H graph of its own, with a fulltext index on Part names,
    and the key and first word of one part."""
    from redisgraph_spark import Graph
    g = Graph.from_tpch(spark, SF_DIR)
    g.query("CALL db.idx.fulltext.createNodeIndex('Part', 'p_name')")
    part = g.query("MATCH (p:Part) RETURN p.p_partkey AS k, "
                   "p.p_name AS name ORDER BY k LIMIT 1").collect()[0]
    return g, part["k"], part["name"].split()[0].lower()


@pytest.mark.parametrize("write", [
    "MATCH (p:Part {p_partkey: $k}) SET p.p_name = 'yakety'",
    "MATCH (p:Part {p_partkey: $k}) REMOVE p:Part",
    "MATCH (p:Part {p_partkey: $k}) DETACH DELETE p"])
def test_fulltext_index_follows_node_writes(ft_tpch, write):
    """A write that replaces an indexed label's node table rebuilds its
    index, as RedisGraph keeps its RediSearch indexes current."""
    g, k, word = ft_tpch
    assert k in _ft_keys(g, word)
    g.query(write, {"k": k})
    assert k not in _ft_keys(g, word)
    assert _ft_keys(g, "yakety") == ([k] if "yakety" in write else [])


def test_fulltext_index_follows_create(ft_tpch):
    g = ft_tpch[0]
    assert _ft_keys(g, "zebra") == []
    g.query("CREATE (:Part {p_partkey: 999999, p_name: 'zebra quux'})")
    assert _ft_keys(g, "zebra") == _ft_keys(g, "zebra quux") == [999999]


def test_fulltext_index_timed_out_write_keeps_old_index(ft_tpch):
    """A TIMEOUT rolls the rebuilt index back with the tables."""
    from redisgraph_spark.graph.graph import QueryTimeoutError
    g, k, word = ft_tpch
    index = g.fulltext._index["Part"]
    g.config_set("TIMEOUT", 1)
    try:
        with pytest.raises(QueryTimeoutError):
            g.query("MATCH (p:Part {p_partkey: $k}) "
                    "SET p.p_name = 'yakety'", {"k": k})
    finally:
        g.config_set("TIMEOUT", 0)
    assert g.fulltext._index["Part"] is index
    assert k in _ft_keys(g, word) and _ft_keys(g, "yakety") == []


def _ft_fixture(spark):
    """Small two-field corpus for the RediSearch grammar tests."""
    from redisgraph_spark.functions.fulltext import build_index
    docs = spark.createDataFrame(
        [(1, "red bolt", "a shiny red bolt of steel"),
         (2, "blue bolt", "a blue bolt"),
         (3, "red widget", "widget with red paint"),
         (4, "bolt red", "reversed words here"),
         (5, "green gear", "totally unrelated")],
        ["_id", "title", "body"])
    return docs, build_index(docs, ["title", "body"])


def test_fulltext_parser():
    from redisgraph_spark.functions.fulltext import (
        FtAnd, FtNot, FtOr, FtPhrase, FtTerm, parse_query)
    ast = parse_query('"red bolt" | lavender -@title:widget ste*')
    assert isinstance(ast, FtAnd) and len(ast.children) == 3
    alt, neg, pre = ast.children
    assert isinstance(alt, FtOr)
    assert isinstance(alt.children[0], FtPhrase)
    assert alt.children[0].words == ["red", "bolt"]
    assert isinstance(alt.children[1], FtTerm)
    assert isinstance(neg, FtNot)
    assert neg.child.field == "title" and neg.child.word == "widget"
    assert pre.prefix and pre.word == "ste"


def test_fulltext_and_default(spark):
    from redisgraph_spark.functions.fulltext import query_index
    docs, idx = _ft_fixture(spark)
    # RediSearch default: terms intersect — docs with red AND bolt
    got = sorted(r["_id"] for r in
                 query_index(idx, docs, "red bolt").collect())
    assert got == [1, 4]


def test_fulltext_phrase_positional(spark):
    from redisgraph_spark.functions.fulltext import query_index
    docs, idx = _ft_fixture(spark)
    # phrase requires adjacency in order: excludes doc 4 ("bolt red")
    got = sorted(r["_id"] for r in
                 query_index(idx, docs, '"red bolt"').collect())
    assert got == [1]


@pytest.mark.slow
def test_fulltext_or_not_field(spark):
    from redisgraph_spark.functions.fulltext import query_index
    docs, idx = _ft_fixture(spark)
    got = sorted(r["_id"] for r in
                 query_index(idx, docs, "red|blue -widget").collect())
    assert got == [1, 2, 4]
    # field restriction: red in title only
    got = sorted(r["_id"] for r in
                 query_index(idx, docs, "@title:red").collect())
    assert got == [1, 3, 4]


def test_fulltext_stray_punctuation_ignored(spark):
    """Punctuation-only tokens must not zero out the conjunction
    (RediSearch ignores them); a query of ONLY punctuation matches
    nothing."""
    from redisgraph_spark.functions.fulltext import query_index
    docs, idx = _ft_fixture(spark)
    with_junk = sorted(r["_id"] for r in
                       query_index(idx, docs, "red !!").collect())
    plain = sorted(r["_id"] for r in
                   query_index(idx, docs, "red").collect())
    assert with_junk == plain and plain
    assert query_index(idx, docs, "!! ,").count() == 0


def test_fulltext_prefix_fuzzy(spark):
    from redisgraph_spark.functions.fulltext import query_index
    docs, idx = _ft_fixture(spark)
    got = sorted(r["_id"] for r in
                 query_index(idx, docs, "wid*").collect())
    assert got == [3]
    # %bolz% matches 'bolt' at edit distance 1
    got = sorted(r["_id"] for r in
                 query_index(idx, docs, "%bolz%").collect())
    assert got == [1, 2, 4]


def test_correlated_procedure_call(social):
    # generic correlated CALL: argument is an expression over a bound
    # variable (not just the algo.BFS special case)
    social.query(
        "CALL db.idx.fulltext.createNodeIndex('person', 'name')")
    got = social.query(
        "MATCH (p:person) WHERE p.name IN ['Roi', 'Tal'] "
        "CALL db.idx.fulltext.queryNodes('person', toLower(p.name)) "
        "YIELD node, score "
        "RETURN p.name AS q, node.name AS hit ORDER BY q").collect()
    assert [(r["q"], r["hit"]) for r in got] == \
        [("Roi", "Roi"), ("Tal", "Tal")]


def test_correlated_call_no_match_drops_row(social):
    social.query(
        "CALL db.idx.fulltext.createNodeIndex('person', 'name')")
    got = social.query(
        "UNWIND ['roi', 'zzz'] AS w "
        "CALL db.idx.fulltext.queryNodes('person', w) YIELD node "
        "RETURN w, node.name AS hit").collect()
    # 'zzz' yields no rows -> its input record produces no output
    assert [(r["w"], r["hit"]) for r in got] == [("roi", "Roi")]


def test_correlated_call_null_arg(social):
    """A null CALL argument must not break planning: the null tuple
    runs the procedure (empty result for fulltext) and the join back is
    null-safe, so non-null rows are unaffected."""
    social.query(
        "CALL db.idx.fulltext.createNodeIndex('person', 'name')")
    got = social.query(
        "UNWIND ['roi', null] AS w "
        "CALL db.idx.fulltext.queryNodes('person', w) YIELD node "
        "RETURN w, node.name AS hit").collect()
    assert [(r["w"], r["hit"]) for r in got] == [("roi", "Roi")]


def test_correlated_call_over_1000_tuples(social):
    """The former hard 1000-distinct-tuple ceiling is gone. Simple
    single-token terms take the vectorized path: ONE equi-join of the
    term set against the inverted index, no per-tuple plans."""
    social.query(
        "CALL db.idx.fulltext.createNodeIndex('person', 'name')")
    got = social.query(
        "UNWIND range(0, 1050) AS i "
        "CALL db.idx.fulltext.queryNodes('person', toString(i)) "
        "YIELD node RETURN count(*) AS n").collect()
    assert got[0]["n"] == 0


@pytest.mark.slow
def test_correlated_call_chunked_loop(social):
    """Non-simple terms (prefix search) force the generic per-tuple
    loop, which past 256 tuples runs in checkpointed chunks — bounded
    plan depth, correct results."""
    social.query(
        "CALL db.idx.fulltext.createNodeIndex('person', 'name')")
    got = social.query(
        "UNWIND range(0, 299) AS i "
        "CALL db.idx.fulltext.queryNodes('person', "
        "CASE WHEN i = 0 THEN 'ro*' ELSE toString(i) + '*' END) "
        "YIELD node RETURN i, node.name AS hit").collect()
    # only the 'ro*' tuple matches (Roi); the 299 numeric prefixes don't
    assert [(r["i"], r["hit"]) for r in got] == [(0, "Roi")]


def test_correlated_call_vectorized_matches_loop(social):
    """Batch scoring through the vectorized path must equal per-term
    execution (which a single-tuple UNWIND still uses)."""
    social.query(
        "CALL db.idx.fulltext.createNodeIndex('person', 'name')")
    vec = sorted(tuple(r) for r in social.query(
        "UNWIND ['roi', 'alon', 'tal'] AS w "
        "CALL db.idx.fulltext.queryNodes('person', w) "
        "YIELD node, score "
        "RETURN w, node.name AS hit, score").collect())
    loop = []
    for w in ("roi", "alon", "tal"):
        loop.extend(tuple(r) for r in social.query(
            f"UNWIND ['{w}'] AS w "
            "CALL db.idx.fulltext.queryNodes('person', w) "
            "YIELD node, score "
            "RETURN w, node.name AS hit, score").collect())
    assert vec == sorted(loop) and len(vec) == 3


def test_fulltext_multifield_create(social):
    social.query(
        "CALL db.idx.fulltext.createNodeIndex('person', 'name', 'status')")
    hits = social.query(
        "CALL db.idx.fulltext.queryNodes('person', 'married') "
        "YIELD node, score RETURN node.name AS n ORDER BY n")
    got = [r["n"] for r in hits.collect()]
    assert got == ["Ailon", "Alon", "Boaz", "Jane", "Roi"]


def test_bulk_load_csv(spark):
    from redisgraph_spark.sources.bulk import bulk_load
    d = tempfile.mkdtemp(prefix="rgbulk")
    with open(f"{d}/people.csv", "w") as f:
        f.write("pid,name\n1,ann\n2,bob\n3,cy\n")
    with open(f"{d}/knows.csv", "w") as f:
        f.write("a,b\n1,2\n2,3\n")
    g = bulk_load(
        spark,
        [{"label": "P", "path": f"{d}/people.csv", "format": "csv",
          "id_col": "pid", "offset": 0}],
        [{"rel": "KNOWS", "path": f"{d}/knows.csv", "format": "csv",
          "src_col": "a", "dst_col": "b"}])
    got = g.query("MATCH (x:P)-[:KNOWS]->(y:P) "
                  "RETURN x.name AS a, y.name AS b ORDER BY a").collect()
    assert [(r["a"], r["b"]) for r in got] == [("ann", "bob"),
                                              ("bob", "cy")]


def test_save_load_roundtrip(spark, social):
    from redisgraph_spark import Graph
    d = tempfile.mkdtemp(prefix="rgsave")
    social.save(d)
    g2 = Graph.load(spark, d)
    n = g2.query("MATCH (p:person)-[:friend]->() RETURN count(*) AS c") \
        .collect()[0]["c"]
    assert n == 10


@pytest.mark.slow
def test_pagerank_procedure(social):
    got = social.query(
        "CALL algo.pageRank('person', 'friend') YIELD node, score "
        "RETURN node.name AS n, score ORDER BY score DESC LIMIT 3"
    ).collect()
    names = [r["n"] for r in got]
    # friend edges all flow outward from Roi; hubs receive rank
    assert len(names) == 3 and got[0]["score"] > 0


def test_bucketed_layout_exchange_free_join(spark, social):
    """Bucketed node/edge tables joined on the bucket key must not
    shuffle either side (the 100 TB traversal layout)."""
    import contextlib
    import io
    from redisgraph_spark import Graph
    social.save_bucketed("rgtest", buckets=4)
    g2 = Graph.load_bucketed(spark, "rgtest")
    assert sorted(g2.labels) == ["country", "person"]
    # correctness through the full engine
    n = g2.query("MATCH (p:person)-[:friend]->(f:person) "
                 "RETURN count(*) AS c").collect()[0]["c"]
    assert n == 10
    # plan shape: join edges._src = nodes._id without broadcast must
    # show at most zero exchanges before the join
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        nodes = spark.table("rgtest.nodes_person")
        edges = spark.table("rgtest.edges_friend")
        j = edges.join(nodes, edges["_src"] == nodes["_id"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucket_count_scale_derived(spark, social, monkeypatch):
    """save_bucketed(buckets=None) derives ONE power-of-two count from
    the graph's input bytes (floor 8 — a tiny graph must not write 64
    near-empty files per table) and every table shares it so the
    exchange-free join property survives; SPARK_GRAFT_BUCKETS
    overrides (r10: count was a fixed 64, ~3 s of file+metastore churn
    per table at test scale and far too few buckets at 100 TB)."""
    monkeypatch.setenv("SPARK_GRAFT_BUCKETS", "32")
    assert social._derive_bucket_count() == 32
    monkeypatch.delenv("SPARK_GRAFT_BUCKETS", raising=False)
    # in-memory tables carry no footer stats (LogicalRDD → unknown):
    # keep the pre-derivation default rather than guessing from 2^62
    assert social._derive_bucket_count() == 64
    from redisgraph_spark import Graph
    import tempfile
    with tempfile.TemporaryDirectory() as tmp:
        social.save(tmp)                 # parquet → footer-known stats
        g1 = Graph.load(spark, tmp)
        assert g1._derive_bucket_count() == 8
        g1.save_bucketed("rgtest_derived")
        try:
            g2 = Graph.load_bucketed(spark, "rgtest_derived")
            n = g2.query("MATCH (p:person)-[:friend]->(f:person) "
                         "RETURN count(*) AS c").collect()[0]["c"]
            assert n == 10
            ddl = spark.sql(
                "SHOW CREATE TABLE rgtest_derived.nodes_person"
            ).collect()[0][0]
            assert "8 BUCKETS" in ddl, ddl
        finally:
            spark.sql("DROP DATABASE IF EXISTS rgtest_derived CASCADE")


def test_bucket_count_mixed_stats_and_env_validation(
        spark, social, monkeypatch):
    """A graph MIXING parquet-backed and statless tables falls back to
    the default 64 — deriving from the partial byte total would
    undersize the count (ADVICE r10). A non-numeric SPARK_GRAFT_BUCKETS
    raises a clear error instead of an opaque int() traceback."""
    import tempfile

    from redisgraph_spark import Graph
    monkeypatch.delenv("SPARK_GRAFT_BUCKETS", raising=False)
    with tempfile.TemporaryDirectory() as tmp:
        social.save(tmp)
        g1 = Graph.load(spark, tmp)             # all footer-known
        assert g1._derive_bucket_count() == 8
        # swap one table for an in-memory (statless) one → mixed
        g1.node_tables["extra"] = spark.createDataFrame(
            [(999,)], ["_id"])
        assert g1._derive_bucket_count() == 64
    monkeypatch.setenv("SPARK_GRAFT_BUCKETS", "not-a-number")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="SPARK_GRAFT_BUCKETS"):
        social._derive_bucket_count()


def test_cypher_prefix_inline_params(social):
    got = social.query(
        "CYPHER min_age=30 nm='Roi' "
        "MATCH (p:person) WHERE p.age > $min_age AND p.name <> $nm "
        "RETURN count(*) AS n").collect()
    # age>30 minus Roi(32): Alon/Ailon/Tal(32), Omri(33), Noam(34), Boaz(31)
    assert got[0]["n"] == 6


@pytest.mark.slow
def test_set_type_conflict_demotes(spark):
    from redisgraph_spark import Graph
    nodes = {"L": spark.createDataFrame(
        [(1, "a", 5), (2, "b", 7)], "_id long, name string, v long")}
    g = Graph(spark, nodes, {})
    g.query("MATCH (n:L {name: 'a'}) SET n.v = 'text'")
    got = dict((r["n"], r["v"]) for r in g.query(
        "MATCH (n:L) RETURN n.name AS n, n.v AS v").collect())
    assert got == {"a": "text", "b": "7"}
    # numeric widening instead of string demotion
    g2 = Graph(spark, {"L": spark.createDataFrame(
        [(1, "a", 5)], "_id long, name string, v long")}, {})
    g2.query("MATCH (n:L) SET n.v = 2.5")
    assert g2.query("MATCH (n:L) RETURN n.v AS v").collect()[0]["v"] == 2.5


@pytest.mark.slow
def test_create_index_ddl(social):
    """CREATE INDEX ON :L(p) — reference cmd_query.c:60-75; the index
    re-lays the label table sorted on the key and is cataloged."""
    social.query("CREATE INDEX ON :person(age)").collect()
    assert social.last_stats.get("indices_created") == 1
    assert social.indexes["person"] == ["age"]
    rows = social.query("CALL db.indexes() YIELD type, label, properties "
                        "RETURN type, label, properties").collect()
    assert ("exact-match", "person", ["age"]) in \
        [(r["type"], r["label"], list(r["properties"])) for r in rows]
    # indexed scans still answer correctly after the re-layout
    got = social.query("MATCH (p:person) WHERE p.age > 32 "
                       "RETURN p.name AS n ORDER BY n").collect()
    assert [r["n"] for r in got] == ["Noam", "Omri"]
    # duplicate create is a no-op
    social.query("CREATE INDEX ON :person(age)").collect()
    assert social.last_stats.get("indices_created", 0) == 0


def test_drop_index_ddl(social):
    social.query("CREATE INDEX ON :person(age)")
    social.query("DROP INDEX ON :person(age)").collect()
    assert social.last_stats.get("indices_deleted") == 1
    import pytest
    with pytest.raises(ValueError, match="no such index"):
        social.query("DROP INDEX ON :person(age)")


def test_labels_subscript_stays_in_codegen(social):
    """labels(n)[k] folds to the label field: try_element_at over an
    inline-built array trips a Spark codegen bug (the generated CASE
    references an undeclared isNull variable) and silently drops the
    stage to interpreted mode. The fold keeps whole-stage codegen
    alive AND is cheaper."""
    df = social.query("MATCH (p:person)-[:friend]->(x) "
                      "RETURN labels(x)[0] AS l, count(*) AS c")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "element_at" not in plan          # folded away
    assert [r["l"] for r in df.collect()] == ["person"]
    # out-of-range constant index is null, negative wraps
    r = social.query("MATCH (p:person) RETURN labels(p)[-1] AS a, "
                     "labels(p)[3] AS b LIMIT 1").collect()[0]
    assert r["a"] == "person" and r["b"] is None


def test_graph_catalog_registry(spark, social):
    """GRAPH.LIST / GRAPH.DELETE / auto-create semantics
    (module.c:142-176)."""
    import pytest as _pt

    from redisgraph_spark import GraphCatalog
    cat = GraphCatalog(spark)
    cat.register("social", social)
    # GRAPH.QUERY auto-creates an unknown key
    cat.query("scratch", "CREATE (:T {x: 1})")
    assert cat.list() == ["scratch", "social"]
    n = cat.query("scratch", "MATCH (t:T) RETURN count(*) AS c") \
        .collect()[0]["c"]
    assert n == 1
    # RO_QUERY rejects writes and unknown keys
    with _pt.raises(PermissionError):
        cat.ro_query("scratch", "CREATE (:T)")
    with _pt.raises(KeyError):
        cat.ro_query("nope", "MATCH (n) RETURN n")
    assert cat.ro_query(
        "social", "MATCH (p:person) RETURN count(*) AS c") \
        .collect()[0]["c"] == 10
    cat.delete("scratch")
    assert cat.list() == ["social"]
    with _pt.raises(KeyError):
        cat.delete("scratch")


@pytest.mark.slow
def test_fulltext_metamorphic_laws(spark):
    """Algebraic laws of the query grammar: AND = intersection,
    OR = union, phrase ⊆ AND of its words, negation = set minus."""
    from redisgraph_spark.functions.fulltext import query_index
    docs, idx = _ft_fixture(spark)

    def ids(q):
        return {r["_id"] for r in query_index(idx, docs, q).collect()}

    red, bolt = ids("red"), ids("bolt")
    assert ids("red bolt") == red & bolt
    assert ids("red|bolt") == red | bolt
    assert ids('"red bolt"') <= red & bolt
    assert ids("red -bolt") == red - bolt
    # field restriction narrows
    assert ids("@title:red") <= red


def test_fulltext_optional_term(spark):
    """~term boosts score without restricting the match set."""
    from redisgraph_spark.functions.fulltext import query_index
    docs, idx = _ft_fixture(spark)
    got = {r["_id"]: r["score"] for r in
           query_index(idx, docs, "bolt ~red").collect()}
    plain = {r["_id"]: r["score"] for r in
             query_index(idx, docs, "bolt").collect()}
    assert set(got) == set(plain)            # same match set
    assert got[1] > plain[1] and got[4] > plain[4]  # red docs boosted
    assert got[2] == plain[2]                # no red, no boost
    # optional-only query matches the union
    u = {r["_id"] for r in query_index(idx, docs, "~red ~gear").collect()}
    assert u == {1, 3, 4, 5}


def test_fulltext_parser_fuzz():
    """The query parser must never crash — arbitrary junk parses to
    some AST (possibly empty match)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from redisgraph_spark.functions.fulltext import parse_query

    @given(st.text(max_size=60))
    @settings(max_examples=300, deadline=None)
    def check(q):
        parse_query(q)

    check()


def test_warm_statistics_seeds_all_counts(spark):
    from redisgraph_spark import Graph
    g = Graph.from_tpch(spark, "/root/testdata/sf0.001")
    direct = {("n", nm): df.count() for nm, df in g.node_tables.items()}
    direct.update(
        {("e", nm): df.count() for nm, df in g.edge_tables.items()})
    g2 = Graph.from_tpch(spark, "/root/testdata/sf0.001")
    g2.warm_statistics()
    # every per-table count and both rollups are cache hits now
    for (kind, nm), want in direct.items():
        key = (kind, nm, g2._version)
        assert g2._count_cache.get(key) == want
    assert ("n", None, g2._version) in g2._count_cache
    assert ("e", None, g2._version) in g2._count_cache
    assert g2.node_count(None) == sum(
        v for (k, _), v in direct.items() if k == "n")
    # idempotent and version-aware: a second call is a no-op
    g2.warm_statistics()
    assert g2.edge_count(None) == sum(
        v for (k, _), v in direct.items() if k == "e")
