"""The workloads: request streams, closed-loop clients and answer checks.

point_lookup    nproc clients send parameterised Cypher lookups; one in
                four re-sends an earlier request (a hot key, served by the
                plan cache), the rest carry fresh keys; answers are
                checked against DuckDB.
analytic_write  one batch client runs whole-graph Cypher entries,
                traversals from fresh keys and the pipeline entries, in a
                fixed cycle; answers are checked against DuckDB and
                ``__spark_entry__.oracle_sql()``.  Beside it one writer
                cycles SET / CREATE / MERGE / DELETE on its own graph
                instance over the same base tables and reads each write
                back.

A client issues its next request only after the previous one returned
(closed loop).  Every parameter comes from the run's seed.
"""

from __future__ import annotations

import copy
import threading
import time
import weakref
from dataclasses import dataclass, field

import numpy as np

from datagen import PART_ADJ, PART_NOUN, SEGMENTS, SIZES
from oracle import PARAM_SQL, normalize, pandas_rows

POINT_CYPHER = {
    "node": "MATCH (c:Customer {c_custkey: $k}) "
            "RETURN c.c_name AS name, c.c_acctbal AS bal, "
            "c.c_mktsegment AS seg",
    "hop1": "MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) "
            "RETURN o.o_orderkey AS ok, o.o_totalprice AS tp",
    "hop2": "MATCH (c:Customer)-[:PLACED]->(o:Order {o_orderkey: $k})"
            "-[l:CONTAINS]->(p:Part) "
            "RETURN c.c_custkey AS ck, p.p_partkey AS pk, "
            "l.l_linenumber AS ln, l.l_quantity AS q, "
            "l.l_extendedprice AS ep",
    "exists": "MATCH (c:Customer) WHERE c.c_mktsegment = $seg "
              "AND c.c_acctbal > $bal AND (c)-[:PLACED]->(:Order) "
              "RETURN count(*) AS n",
    "fulltext": "CALL db.idx.fulltext.queryNodes('Part', $q) "
                "YIELD node, score "
                "RETURN node.p_partkey AS k, tofloat(score) AS score",
}
# the fresh requests of a point_lookup client, in this fixed order (4
# node, 7 hop1, 4 hop2, 3 exists, 2 fulltext in 20), each client starting
# at its own offset: the whole run's mix then barely depends on how many
# requests fit in the window, and the median falls in the middle of the
# hop1 cluster rather than on the edge between two shapes
POINT_CYCLE = ["node", "hop1", "hop2", "exists", "hop1",
               "fulltext", "node", "hop1", "hop2", "hop1",
               "exists", "node", "hop1", "hop2", "fulltext",
               "hop1", "node", "hop2", "exists", "hop1"]

WRITE_CYPHER = {
    "set": "MATCH (c:Customer {c_custkey: $k}) SET c.c_acctbal = $v",
    "create": "CREATE (c:Customer {c_custkey: $k, c_name: $name, "
              "c_acctbal: $v, c_mktsegment: 'BUILDING'})-[:PLACED]->"
              "(o:Order {o_orderkey: $ok, o_totalprice: $v})",
    "merge": "MERGE (c:Customer {c_custkey: $k}) "
             "ON MATCH SET c.c_acctbal = $v ON CREATE SET c.c_acctbal = -1.0",
    # the customer only: deleting its order too rewrites CONTAINS and
    # costs 2-4 s, a third of the run's window
    "delete": "MATCH (c:Customer {c_custkey: $k}) DETACH DELETE c",
}
# read-your-writes reads that follow each write
READ_BACK = {
    "bal": "MATCH (c:Customer {c_custkey: $k}) RETURN c.c_acctbal AS bal",
    "orders": POINT_CYPHER["hop1"],
    "count": "MATCH (c:Customer {c_custkey: $k}) RETURN count(c) AS n",
}
READ_BACK_COLS = {"bal": ["bal"], "orders": ["ok", "tp"], "count": ["n"]}

# fixed-text whole-graph entries of __spark_entry__: plan-cache hits
# after the warm-up, re-executed on a fresh physical plan
ANALYTIC = ["q_two_hop_revenue", "q_single_hop_agg", "q_var_len",
            "q_optional_match", "q_anti_semi_apply", "q_with_having"]
PIPELINE = ["p_dedup_exact", "p_minhash_lsh", "p_cosine_topk_np",
            "p_events_rollup", "p_sessions"]
# traversals from a fresh customer each time: plan-cache misses, so the
# frontier loops run inside Graph.query() on every request
ALGORITHM_CYPHER = {
    "var_len": "MATCH (c:Customer {c_custkey: $k})-[*1..2]->(x) "
               "RETURN labels(x)[0] AS lbl, count(*) AS cnt",
}
ALGORITHM_KINDS = set(ALGORITHM_CYPHER)
FULLTEXT_INDEX = "CALL db.idx.fulltext.createNodeIndex('Part', 'p_name')"
REPEAT_EVERY = 4           # 1 in 4 point lookups is a plan-cache hit


@dataclass
class Record:
    kind: str
    rid: int
    latency: float = 0.0
    write: bool = False
    cypher: bool = True        # goes through Graph.query
    ryw: bool = False          # read-your-writes read
    ok: bool | None = None     # None until checked
    error: str | None = None
    params: dict = field(default_factory=dict)
    rows: list | None = None   # normalised answer
    hit: bool = False
    query_s: float = 0.0
    collect_s: float = 0.0
    parse_s: float = 0.0
    jobs_q: int = 0
    jobs_c: int = 0
    tasks: int = 0


class Run:
    """What every request of one run shares."""

    def __init__(self, spark, graph, sf_dir: str, tracer, ids) -> None:
        self.spark, self.graph, self.sf_dir = spark, graph, sf_dir
        self.tracer, self.ids = tracer, ids
        # weak: holding every returned DataFrame would keep its JVM plan
        # alive and fill the driver heap within a few hundred requests
        self._dfs: weakref.WeakValueDictionary = weakref.WeakValueDictionary()
        self._mu = threading.Lock()

    def seen(self, df) -> bool:
        """Whether ``df`` is the very object an earlier call returned."""
        with self._mu:
            hit = self._dfs.get(id(df)) is df
            self._dfs[id(df)] = df
        return hit

    def cypher(self, kind: str, params: dict, write: bool = False,
               ryw: bool = False, text: str | None = None) -> Record:
        rec = Record(kind if not ryw else f"ryw_{kind}", self.ids(),
                     write=write, ryw=ryw, params=params)
        text = text or (WRITE_CYPHER if write else POINT_CYPHER)[kind]
        tr = self.tracer
        try:
            if tr.enabled:
                from redisgraph_spark.cypher.parser import parse
                t = time.perf_counter()
                with tr.span("cypher.parse", rec.rid):
                    parse(text)
                rec.parse_s = time.perf_counter() - t
            t0 = time.perf_counter()
            tr.job_group(rec.rid, "q")
            with tr.span("graph.query", rec.rid):
                df = self.graph.query(text, params)
            t1 = time.perf_counter()
            tr.job_group(rec.rid, "c")
            with tr.span("session.collect", rec.rid):
                rows = df.collect()
            t2 = time.perf_counter()
            rec.latency, rec.query_s, rec.collect_s = t2 - t0, t1 - t0, \
                t2 - t1
            rec.hit = self.seen(df)
            rec.rows = normalize(list(rows[0].__fields__) if rows else [],
                                 rows)
        except Exception as exc:          # counted as a failed request
            rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"[:300]
        self._count_jobs(rec)
        return rec

    def entry(self, name: str, fn) -> Record:
        """One ``__spark_entry__`` entry on a fresh physical plan: the
        wrapper's re-optimisation runs before the collect, untimed."""
        from pyspark.sql import functions as F
        rec = Record(name, self.ids(), cypher=name.startswith("q_"))
        tr = self.tracer
        try:
            t0 = time.perf_counter()
            tr.job_group(rec.rid, "q")
            with tr.span("graph.query" if rec.cypher else "pipeline.build",
                         rec.rid):
                df = fn(self.spark, self.sf_dir)
            rec.query_s = time.perf_counter() - t0
            rec.hit = self.seen(df)
            fresh = df.filter(F.lit(True))
            fresh._jdf.queryExecution().executedPlan()
            tr.job_group(rec.rid, "c")
            t1 = time.perf_counter()
            with tr.span("session.collect", rec.rid):
                pdf = fresh.toPandas()
            rec.collect_s = time.perf_counter() - t1
            rec.latency = rec.query_s + rec.collect_s
            rec.rows = normalize(*pandas_rows(pdf))
        except Exception as exc:
            rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"[:300]
        self._count_jobs(rec)
        return rec

    def _count_jobs(self, rec: Record) -> None:
        if self.tracer.enabled:
            rec.jobs_q, tq = self.tracer.jobs(rec.rid, "q")
            rec.jobs_c, tc = self.tracer.jobs(rec.rid, "c")
            rec.tasks = tq + tc


class Hand:
    """One client's share of each key space: every value in a seeded
    order, dealt round-robin to the clients, so no fresh request of a run
    repeats another one's parameters by chance."""

    def __init__(self, rng: np.random.Generator, client: int,
                 n_clients: int) -> None:
        spaces = {
            "customer": [{"k": k} for k in range(SIZES["customer"])],
            "order": [{"k": k} for k in range(SIZES["orders"])],
            "exists": [{"seg": s, "bal": b} for s in SEGMENTS
                       for b in range(0, 10_000, 500)],
            "fulltext": [{"q": f"{a} {n}"} for a in PART_ADJ
                         for n in PART_NOUN],
        }
        self.values = {}
        for name, vals in spaces.items():
            order = rng.permutation(len(vals))[client::n_clients]
            self.values[name] = [vals[i] for i in order]
        self.used = dict.fromkeys(spaces, 0)

    def __call__(self, space: str) -> dict:
        vals = self.values[space]
        i = self.used[space]
        self.used[space] += 1
        return vals[i % len(vals)]


class PointClient:
    """One closed-loop client sending point lookups: shapes follow
    ``POINT_CYCLE`` from ``start``; every ``REPEAT_EVERY``-th request
    re-sends one this client sent before (a hot key), the rest carry
    fresh parameters."""

    SPACE = {"node": "customer", "hop1": "customer", "hop2": "order",
             "exists": "exists", "fulltext": "fulltext"}

    def __init__(self, run: Run, hand: Hand, start: int) -> None:
        self.run, self.hand, self.next = run, hand, start
        self.sent: list[tuple[str, dict]] = []

    def fresh(self, shape: str) -> tuple[str, dict]:
        return shape, self.hand(self.SPACE[shape])

    def warmup(self) -> list[Record]:
        return [self.run.cypher(*self.fresh(s)) for s in self.SPACE]

    def __call__(self) -> list[Record]:
        j = len(self.sent)
        if j % REPEAT_EVERY == REPEAT_EVERY - 1:
            req = self.sent[j - REPEAT_EVERY + 1]
        else:
            req = self.fresh(POINT_CYCLE[self.next % len(POINT_CYCLE)])
            self.next += 1
        self.sent.append(req)
        return [self.run.cypher(*req)]


class Writer:
    """SET a customer's balance, CREATE a customer with an order, MERGE
    onto it, DELETE both; every write is followed by a read that must
    see it."""

    def __init__(self, run: Run, rng) -> None:
        self.run, self.rng, self.step = run, rng, 0
        self.new_key = 0

    def _write(self, op: str, params: dict, read: str, key: int,
               expect: list[tuple]) -> list[Record]:
        w = self.run.cypher(op, params, write=True)
        if w.ok is None:                  # judged by the read that follows
            w.ok = True
        r = self.run.cypher(read, {"k": key}, ryw=True, text=READ_BACK[read])
        if r.ok is None:
            r.ok = r.rows == normalize(READ_BACK_COLS[read], expect)
        return [w, r]

    def __call__(self) -> list[Record]:
        op = ("set", "create", "merge", "delete")[self.step % 4]
        self.step += 1
        v = round(float(self.rng.uniform(-999, 9999)), 2)
        if op == "set":
            k = int(self.rng.integers(SIZES["customer"]))
            return self._write(op, {"k": k, "v": v}, "bal", k, [(v,)])
        if op == "create":
            self.new_key = SIZES["customer"] + 1_000_000 + self.step
            order = SIZES["orders"] + 1_000_000 + self.step
            return self._write(op, {"k": self.new_key, "ok": order, "v": v,
                                    "name": f"new#{self.step}"},
                               "orders", self.new_key, [(order, v)])
        if op == "merge":
            return self._write(op, {"k": self.new_key, "v": v}, "bal",
                               self.new_key, [(v,)])
        return self._write(op, {"k": self.new_key}, "count", self.new_key,
                           [(0,)])

    def warmup(self) -> list[Record]:
        return [r for _ in range(4) for r in self()]


class BatchClient:
    """Runs the analytic entries, algorithm requests and pipeline
    entries one per call, each once per cycle, in a fixed order: every
    seed's window covers the same entries."""

    def __init__(self, run: Run, rng, queries: dict) -> None:
        self.run, self.rng = run, rng
        self.items = [(n, queries[n]) for n in ANALYTIC + PIPELINE] + \
            [(s, None) for s in ALGORITHM_CYPHER]
        self.next = 0

    def _request(self, name: str, fn) -> Record:
        if fn is not None:
            return self.run.entry(name, fn)
        k = int(self.rng.integers(SIZES["customer"]))
        return self.run.cypher(name, {"k": k},
                               text=ALGORITHM_CYPHER[name])

    def warmup(self) -> list[Record]:
        """Every item once, two thirds of them on helper threads: the
        window measures one client, the warm-up need not take as long."""
        helpers = [threading.Thread(target=lambda i=i: [
            self._request(n, fn) for n, fn in self.items[i::3]])
            for i in (1, 2)]
        for t in helpers:
            t.start()
        out = [self._request(n, fn) for n, fn in self.items[::3]]
        for t in helpers:
            t.join()
        return out

    def __call__(self) -> list[Record]:
        item = self.items[self.next % len(self.items)]
        self.next += 1
        return [self._request(*item)]


def closed_loop(clients, seconds: float) -> tuple[list[list[Record]],
                                                   list[float]]:
    """Run each client in its own thread until ``seconds`` have passed;
    a client finishes the call in progress.  Returns each client's
    records and the wall time from start until it stopped."""
    out: list[list[Record]] = [[] for _ in clients]
    ends = [0.0] * len(clients)
    errors: list[BaseException] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def loop(i: int) -> None:
        try:
            while time.perf_counter() < deadline:
                out[i].extend(clients[i]())
        except BaseException as exc:     # surfaced after the join
            errors.append(exc)
        ends[i] = time.perf_counter() - t0

    threads = [threading.Thread(target=loop, args=(i,), daemon=True)
               for i in range(len(clients))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return out, ends


def warmup(clients) -> None:
    """Untimed fixed-count warm-up, every client concurrently."""
    threads = [threading.Thread(target=c.warmup, daemon=True)
               for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def check(records: list[Record], oracle, entry_sql: dict) -> None:
    """Set ``ok`` on every record not yet judged."""
    expected: dict[tuple, list] = {}
    for rec in records:
        if rec.ok is not None:
            continue
        if rec.kind in PARAM_SQL:
            key = (rec.kind, tuple(sorted(rec.params.items())))
            sql = PARAM_SQL[rec.kind]
        else:
            key, sql = (rec.kind,), entry_sql[rec.kind]
        if key not in expected:
            expected[key] = oracle.expected(
                sql, rec.params if rec.kind in PARAM_SQL else None)
        rec.ok = rec.rows == expected[key]


def make_clients(name: str, run: Run, seed: int, n_cpus: int,
                 queries: dict) -> list:
    """The workload's clients.  The analytic_write writer gets its own
    ``Graph`` over the same persisted base tables, so its writes change
    neither the batch answers nor the batch clients' cached plans."""
    if name == "point_lookup":
        # one permutation per key space, dealt to all clients alike
        step = len(POINT_CYCLE) // n_cpus
        return [PointClient(run, Hand(np.random.default_rng([seed, n_cpus]),
                                      i, n_cpus), i * step)
                for i in range(n_cpus)]
    return [BatchClient(run, np.random.default_rng([seed, 0]), queries),
            Writer(own_graph(run), np.random.default_rng([seed, 1]))]


def own_graph(run: Run) -> Run:
    """``run`` on a new ``Graph`` over the same persisted base tables: its
    writes leave the other graph's answers and cached plans alone."""
    from redisgraph_spark import Graph
    out = copy.copy(run)
    out.graph = Graph.from_tpch(run.spark, run.sf_dir)
    return out


def probe(run: Run, seed: int, queries: dict,
          window: list[Record]) -> list[Record]:
    """Traced runs only, after the window: a few requests into each layer
    the window did not call (writes on a graph of their own, pipeline
    entries, var-length traversals, fulltext), so every per-layer metric
    is measured on every workload."""
    called = {r.kind for r in window if r.error is None}
    rng = np.random.default_rng([seed, 2])
    out: list[Record] = []
    if not called & set(WRITE_CYPHER):
        writer = Writer(own_graph(run), rng)
        out += [r for _ in range(4) for r in writer()]
    batch = BatchClient(run, rng, queries)
    out += [batch._request(n, fn) for n, fn in batch.items
            if n not in called and n not in ANALYTIC]
    if "fulltext" not in called:
        run.graph.query(FULLTEXT_INDEX).collect()
        hand = Hand(rng, 0, 1)
        out += [run.cypher("fulltext", hand("fulltext")) for _ in range(4)]
    return out
