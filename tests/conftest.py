import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Leave slow tests out of a default run (see pytest.ini). A run
    with -m, or one that names a test by node id, gets what it asked
    for."""
    if config.getoption("markexpr") or \
            any("::" in arg for arg in config.args):
        return
    slow = [it for it in items if it.get_closest_marker("slow")]
    if slow:
        config.hook.pytest_deselected(items=slow)
        items[:] = [it for it in items if not it.get_closest_marker("slow")]


@pytest.fixture(scope="session")
def spark():
    from redisgraph_spark import get_spark
    s = get_spark("redisgraph-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def graph(spark):
    from redisgraph_spark import Graph
    return Graph.from_tpch(spark, SF_DIR)


@pytest.fixture(scope="session")
def _cached_tpch(spark):
    from redisgraph_spark import Graph
    # warm, as a served graph is: a var-length plan reads the counts
    # and the adjacency these build
    return Graph.from_tpch(
        spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    ).warm_traversal().warm_statistics()


@pytest.fixture()
def cached_graph(spark, _cached_tpch):
    """TPC-H sf0.01 beside SF_DIR: its fact tables pass the 512-row
    inline bound of ``tpch_graph``, so they are cached scans, not VALUES
    the optimizer folds. Plan templates promote only over the former,
    and only with adaptive execution off, as under the adaptive gate; a
    graph of unknown size earlier in the session may have ratcheted it
    on, so the test runs with it off."""
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield _cached_tpch
    finally:
        spark.conf.set(key, before)


@pytest.fixture()
def fulltext_graph(cached_graph):
    """``cached_graph`` with a fulltext index on Part names and no plan
    cached. Creating the index replaces no table, so the warm caches
    stay."""
    g = cached_graph
    if "Part" not in g.fulltext.fields:
        g.query("CALL db.idx.fulltext.createNodeIndex('Part', 'p_name')")
    g._invalidate_plans()
    return g


@pytest.fixture()
def social(spark):
    """The reference's social demo graph
    (demo/social/social_utils.py:13-62) in miniature."""
    from redisgraph_spark import Graph
    people = [
        # (_id, name, age, gender, status)
        (1, "Roi", 32, "male", "married"),
        (2, "Alon", 32, "male", "married"),
        (3, "Ailon", 32, "male", "married"),
        (4, "Boaz", 31, "male", "married"),
        (5, "Tal", 32, "male", "single"),
        (6, "Omri", 33, "male", "single"),
        (7, "Ori", 28, "male", "single"),
        (8, "Shelly", 26, "female", "single"),
        (9, "Noam", 34, "male", "single"),
        (10, "Jane", 29, "female", "married"),
    ]
    countries = [
        (101, "USA"), (102, "Israel"), (103, "Japan"), (104, "Prague"),
        (105, "Greece"), (106, "Canada"),
    ]
    friends = [
        (201, 1, 2), (202, 1, 3), (203, 1, 4), (204, 1, 5),
        (205, 2, 6), (206, 2, 7), (207, 3, 8), (208, 4, 9),
        (209, 5, 10), (210, 6, 7),
    ]
    visited = [
        (301, 1, 101, "business"), (302, 1, 104, "business"),
        (303, 2, 102, "pleasure"), (304, 3, 103, "pleasure"),
        (305, 4, 105, "none"), (306, 5, 101, "pleasure"),
        (307, 6, 106, "business"), (308, 8, 103, "pleasure"),
    ]
    nodes = {
        "person": spark.createDataFrame(
            people, ["_id", "name", "age", "gender", "status"]),
        "country": spark.createDataFrame(countries, ["_id", "name"]),
    }
    edges = {
        "friend": spark.createDataFrame(friends, ["_id", "_src", "_dst"]),
        "visited": spark.createDataFrame(
            visited, ["_id", "_src", "_dst", "purpose"]),
    }
    return Graph(spark, nodes, edges, name="social")


def rows(df):
    """Collect to plain sorted tuples for assertion."""
    return sorted(tuple(r) for r in df.collect())
