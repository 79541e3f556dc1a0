"""Differential mutation fuzzing against DuckDB: seeded random
CREATE / SET / REMOVE / DELETE / MERGE scripts run on a fresh graph
AND as the equivalent SQL DML on DuckDB tables; the full table state
must match after every script.

Complements the TCK (fixed scenarios) with op INTERACTIONS: long
rewrite chains exercise the deferred-pin lineage bound
(planner/mutations.py::_defer_pin pins every 4th chained rewrite),
read-your-writes across statements, the fused DELETE probe, and the
MERGE match-else-create paths, none of which a single-statement test
can stress. The graph scripts add an edge table: DETACH DELETE by
predicate, edge and path deletes, clauses whose targets overlap
(``DELETE r, a``, adjacent ``DETACH DELETE a, b``), ``SET n += {…}``
and a swap ``SET a.v = b.v, b.v = a.v``, mirrored with the cascade
written out in SQL; node table, edge table and the deleted / set
counts must match after every clause.
"""

import random

import duckdb
import pytest


def _apply(rng: random.Random, g, con, next_k: list[int]) -> None:
    op = rng.randrange(6)
    if op in (0, 1):                                       # CREATE
        k = next_k[0]
        next_k[0] += 1
        v = rng.randrange(100)
        s = rng.choice(["red", "blue", "green"])
        g.query(f"CREATE (:Item {{k: {k}, v: {v}, s: '{s}'}})")
        con.execute(f"INSERT INTO items VALUES ({k}, {v}, '{s}')")
    elif op == 2:                                          # SET
        a = rng.randrange(max(next_k[0], 1))
        b = rng.randrange(100)
        g.query(f"MATCH (i:Item {{k: {a}}}) SET i.v = {b}")
        con.execute(f"UPDATE items SET v = {b} WHERE k = {a}")
    elif op == 3:                                          # REMOVE
        a = rng.randrange(max(next_k[0], 1))
        g.query(f"MATCH (i:Item {{k: {a}}}) REMOVE i.s")
        con.execute(f"UPDATE items SET s = NULL WHERE k = {a}")
    elif op == 4:                                          # DELETE
        c = rng.randrange(100)
        g.query(f"MATCH (i:Item) WHERE i.v > {c} DELETE i")
        con.execute(f"DELETE FROM items WHERE v > {c}")
    else:                                                  # MERGE
        a = rng.randrange(max(next_k[0] + 2, 1))
        next_k[0] = max(next_k[0], a + 1)
        g.query(f"MERGE (i:Item {{k: {a}}}) "
                "ON CREATE SET i.v = 1 ON MATCH SET i.v = i.v + 1")
        n = con.execute(
            f"SELECT count(*) FROM items WHERE k = {a}").fetchone()[0]
        if n:
            con.execute(f"UPDATE items SET v = v + 1 WHERE k = {a}")
        else:
            con.execute(f"INSERT INTO items VALUES ({a}, 1, NULL)")


def _state_graph(g):
    rows = g.query(
        "MATCH (i:Item) RETURN i.k AS k, i.v AS v, i.s AS s").collect()
    return sorted((r["k"], r["v"], r["s"]) for r in rows)


@pytest.mark.parametrize("seed", [
    11, pytest.param(22, marks=pytest.mark.slow), 33])
def test_mutation_scripts_match_duckdb(spark, seed):
    from redisgraph_spark import Graph
    rng = random.Random(seed)
    g = Graph(spark, {}, {})
    con = duckdb.connect()
    con.execute("CREATE TABLE items (k BIGINT, v BIGINT, s VARCHAR)")
    next_k = [0]
    for step in range(18):
        _apply(rng, g, con, next_k)
        # compare full state EVERY step so a divergence is localized
        # to the op that introduced it, not the end of the script
        got = _state_graph(g)
        want = sorted(map(tuple, con.execute(
            "SELECT k, v, s FROM items").fetchall()))
        assert got == want, f"seed {seed} diverged at step {step}"
    assert next_k[0] > 0 and len(_state_graph(g)) >= 0


def _apply_batch(rng: random.Random, g, con, next_k: list[int]) -> None:
    """One per-row batch: UNWIND ... CREATE of fresh keys, or UNWIND ...
    MERGE of keys drawn from existing, new and repeated ones."""
    if rng.random() < 0.5:
        batch = [{"k": next_k[0] + i, "v": rng.randrange(100)}
                 for i in range(rng.randint(1, 4))]
        next_k[0] += len(batch)
        g.query("UNWIND $rows AS r CREATE (:Item {k: r.k, v: r.v})",
                {"rows": batch})
        con.executemany("INSERT INTO items VALUES (?, ?)",
                        [(r["k"], r["v"]) for r in batch])
    else:
        ks = [rng.randrange(next_k[0] + 3) for _ in range(rng.randint(1, 4))]
        next_k[0] = max(next_k[0], max(ks) + 1)
        g.query("UNWIND $ks AS k MERGE (i:Item {k: k}) ON CREATE SET i.v = 1",
                {"ks": ks})
        con.execute("INSERT INTO items SELECT k, 1 FROM "
                    "(SELECT DISTINCT unnest(?::BIGINT[]) AS k) "
                    "WHERE k NOT IN (SELECT k FROM items)", [ks])


@pytest.mark.parametrize("seed", [5, 17])
def test_per_row_batches_match_duckdb(spark, seed):
    from redisgraph_spark import Graph
    rng = random.Random(seed)
    g = Graph(spark, {}, {})
    con = duckdb.connect()
    con.execute("CREATE TABLE items (k BIGINT, v BIGINT)")
    next_k = [0]
    for step in range(10):
        _apply_batch(rng, g, con, next_k)
        got = sorted(tuple(r) for r in g.query(
            "MATCH (i:Item) RETURN i.k AS k, i.v AS v").collect())
        want = sorted(map(tuple, con.execute(
            "SELECT k, v FROM items").fetchall()))
        assert got == want, f"seed {seed} diverged at step {step}"


def _graph_step(rng: random.Random, g, con, op: int) -> dict:
    """DELETE or multi-item SET clause number ``op`` on the N/E graph,
    with random operands, mirrored as DuckDB DML with the cascade
    written out; returns the stats the clause must report."""
    ks = [k for (k,) in con.execute("SELECT k FROM nodes").fetchall()]
    x = rng.choice(ks) if ks else -1
    c = rng.randrange(100)
    if op == 0:                                   # DETACH DELETE by predicate
        q = f"MATCH (n:N) WHERE n.v > {c} DETACH DELETE n"
        doomed = f"SELECT k FROM nodes WHERE v > {c}"
        edges = None
    elif op == 1:                                 # DELETE edges by predicate
        q = f"MATCH ()-[r:E]->() WHERE r.w > {c} DELETE r"
        doomed, edges = None, f"SELECT e FROM edges WHERE w > {c}"
    elif op == 2:                                 # DELETE a 1-hop path
        q = f"MATCH p = (a:N {{k: {x}}})-[:E]->(b:N) DELETE p"
        doomed = (f"SELECT s FROM edges WHERE s = {x} "
                  f"UNION SELECT d FROM edges WHERE s = {x}")
        edges = f"SELECT e FROM edges WHERE s = {x}"
    elif op == 3:                                 # an edge and its node
        q = f"MATCH (a:N {{k: {x}}})-[r:E]->(b:N) DELETE r, a"
        doomed = f"SELECT s FROM edges WHERE s = {x}"
        edges = f"SELECT e FROM edges WHERE s = {x}"
    elif op == 4:                                 # two adjacent nodes
        q = f"MATCH (a:N {{k: {x}}})-[:E]->(b:N) DETACH DELETE a, b"
        doomed = (f"SELECT s FROM edges WHERE s = {x} "
                  f"UNION SELECT d FROM edges WHERE s = {x}")
        edges = None
    elif op == 5:                                 # SET n += {map}
        q = (f"MATCH (n:N) WHERE n.v < {c} "
             f"SET n += {{v: n.v + 1, t: {c}, u: n.t}}")
        n = con.execute(
            f"SELECT count(*) FROM nodes WHERE v < {c}").fetchone()[0]
        con.execute(f"UPDATE nodes SET v = v + 1, t = {c}, u = t "
                    f"WHERE v < {c}")
        g.query(q)
        return {"properties_set": 3 * n}
    else:                                         # swap along an edge
        e = rng.choice(con.execute("SELECT e FROM edges").fetchall()
                       or [(-1,)])[0]
        q = (f"MATCH (a:N)-[r:E]->(b:N) WHERE r.e = {e} "
             "SET a.v = b.v, b.v = a.v")
        pair = con.execute(f"SELECT s, d FROM edges WHERE e = {e}").fetchone()
        if pair is None:
            g.query(q)
            return {}
        con.execute(
            "UPDATE nodes SET v = CASE WHEN k = $s "
            "THEN (SELECT v FROM nodes WHERE k = $d) "
            "ELSE (SELECT v FROM nodes WHERE k = $s) END "
            "WHERE k IN ($s, $d)", {"s": pair[0], "d": pair[1]})
        g.query(q)
        return {"properties_set": 2}
    dn = set(con.execute(doomed).fetchall()) if doomed else set()
    de = set(con.execute(edges).fetchall()) if edges else set()
    if dn:
        ids = ", ".join(str(k) for (k,) in dn)
        de |= set(con.execute(f"SELECT e FROM edges WHERE s IN ({ids}) "
                              f"OR d IN ({ids})").fetchall())
        con.execute(f"DELETE FROM nodes WHERE k IN ({ids})")
    if de:
        con.execute("DELETE FROM edges WHERE e IN ({})".format(
            ", ".join(str(e) for (e,) in de)))
    g.query(q)
    return {"nodes_deleted": len(dn), "relationships_deleted": len(de)}


@pytest.mark.parametrize("seed", [3, 8])
def test_graph_deletes_and_set_runs_match_duckdb(spark, seed):
    from redisgraph_spark import Graph
    rng = random.Random(seed)
    nodes = [(k, rng.randrange(100)) for k in range(12)]
    edges = []
    for e in range(100, 118):
        s, d = rng.sample(range(12), 2)
        edges.append((e, s, d, rng.randrange(100)))
    g = Graph(spark, {"N": spark.createDataFrame(
        [(k, k, v) for k, v in nodes], "_id long, k long, v long")},
        {"E": spark.createDataFrame(
            [(e, s, d, e, w) for e, s, d, w in edges],
            "_id long, _src long, _dst long, e long, w long")})
    con = duckdb.connect()
    con.execute("CREATE TABLE nodes (k BIGINT, v BIGINT, t BIGINT, "
                "u BIGINT)")
    con.executemany("INSERT INTO nodes VALUES (?, ?, NULL, NULL)", nodes)
    con.execute("CREATE TABLE edges (e BIGINT, s BIGINT, d BIGINT, "
                "w BIGINT)")
    con.executemany("INSERT INTO edges VALUES (?, ?, ?, ?)", edges)
    stat_keys = ("nodes_deleted", "relationships_deleted", "properties_set")
    # every clause shape once in random order, then three more
    for step, op in enumerate(rng.sample(range(7), 7)
                              + rng.sample(range(7), 3)):
        want_stats = _graph_step(rng, g, con, op)
        got_stats = {k: g.last_stats.get(k, 0) for k in stat_keys}
        assert got_stats == {k: want_stats.get(k, 0) for k in stat_keys}, \
            f"seed {seed} stats diverged at step {step}"
        got = sorted(tuple(r) for r in g.query(
            "MATCH (n:N) RETURN n.k, n.v, n.t, n.u").collect())
        want = sorted(map(tuple, con.execute(
            "SELECT k, v, t, u FROM nodes").fetchall()))
        assert got == want, f"seed {seed} nodes diverged at step {step}"
        # the raw edge table: a missed cascade leaves a dangling row
        got = sorted(tuple(r) for r in g.edge_tables["E"].select(
            "_id", "_src", "_dst", "w").collect())
        want = sorted(map(tuple, con.execute(
            "SELECT e, s, d, w FROM edges").fetchall()))
        assert got == want, f"seed {seed} edges diverged at step {step}"
