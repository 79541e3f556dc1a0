"""Differential mutation fuzzing against DuckDB: seeded random
CREATE / SET / REMOVE / DELETE / MERGE scripts run on a fresh graph
AND as the equivalent SQL DML on a DuckDB table; the full table state
must match after every script.

Complements the TCK (fixed scenarios) with op INTERACTIONS: long
rewrite chains exercise the deferred-pin lineage bound
(planner/mutations.py::_defer_pin pins every 4th chained rewrite),
read-your-writes across statements, the fused DELETE probe, and the
MERGE match-else-create paths, none of which a single-statement test
can stress.
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
