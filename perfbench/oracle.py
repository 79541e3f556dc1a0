"""Expected answers from DuckDB over the same parquet files.

Every check runs after the timed window has closed and outside
``setup_s``.  Results from both engines are compared as order-insensitive
row sets: columns sorted by name, numbers rounded to 9 significant
digits, rows sorted.
"""

from __future__ import annotations

import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings", "events"]

# Expected rows of each parameterised request, by its parameters.
PARAM_SQL = {
    "node": "SELECT c_name AS name, c_acctbal AS bal, c_mktsegment AS seg "
            "FROM customer WHERE c_custkey = $k",
    "hop1": "SELECT o_orderkey AS ok, o_totalprice AS tp FROM orders "
            "WHERE o_custkey = $k",
    "hop2": "SELECT o_custkey AS ck, l_partkey AS pk, l_linenumber AS ln, "
            "l_quantity AS q, l_extendedprice AS ep "
            "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
            "WHERE o_orderkey = $k",
    "exists": "SELECT count(*) AS n FROM customer "
              "WHERE c_mktsegment = $seg AND c_acctbal > $bal AND EXISTS "
              "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "fulltext": "WITH tok AS (SELECT p_partkey, string_split_regex("
                "lower(p_name), '[^a-z0-9]+') AS tk FROM part), "
                "q AS (SELECT string_split($q, ' ') AS qt) "
                "SELECT p_partkey AS k, CAST(sum(len(list_filter(tk, "
                "t -> t = w))) AS DOUBLE) AS score "
                "FROM tok, q, unnest(qt) AS u(w) GROUP BY p_partkey "
                "HAVING bool_and(list_contains(tk, w))",
    "var_len": "SELECT lbl, count(*) AS cnt FROM ("
               "SELECT 'Nation' AS lbl FROM customer WHERE c_custkey = $k "
               "UNION ALL SELECT 'Region' FROM customer WHERE c_custkey = $k "
               "UNION ALL SELECT 'Order' FROM orders WHERE o_custkey = $k "
               "UNION ALL SELECT 'Part' FROM orders JOIN lineitem "
               "ON l_orderkey = o_orderkey WHERE o_custkey = $k) "
               "GROUP BY lbl",
}


def _cell(v):
    if hasattr(v, "item") and not isinstance(v, (list, tuple)):
        v = v.item()                       # numpy scalar → python
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(f"{float(v):.9g}") + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def normalize(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def pandas_rows(pdf) -> tuple[list[str], list[tuple]]:
    return list(pdf.columns), [tuple(r) for r in
                               pdf.itertuples(index=False, name=None)]


class Oracle:
    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        for t in TABLES:
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def rows(self, sql: str, params: dict | None = None):
        cur = self.con.execute(sql, params or {})
        return [d[0] for d in cur.description], cur.fetchall()

    def expected(self, sql: str, params: dict | None = None) -> list[tuple]:
        return normalize(*self.rows(sql, params))

    def close(self) -> None:
        self.con.close()
