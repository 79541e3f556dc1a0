"""Property-graph storage on DataFrames.

Reference data model (``/root/reference/src/graph/graph.h:69-83``): one
boolean sparse matrix per relation type + one diagonal matrix per label +
DataBlock entity stores. Spark-native re-expression:

- one DataFrame per **label** holding ``(_id, <properties…>)`` — the
  per-label matrix becomes partition pruning: a labeled scan touches only
  that label's table;
- one DataFrame per **relation type** holding
  ``(_id, _src, _dst, <properties…>)`` — the per-relation matrix becomes a
  pruned edge table; traversal is an equi-join on ``_src``/``_dst``
  instead of ``GrB_mxm`` (``ops/op_conditional_traverse.c:43-71``);
- transposed matrices (``graph.h:73,76``) need no storage: right-to-left
  traversal just joins on the other endpoint column.

Nodes have at most one label, edges exactly one relation type — the
reference's own restriction (``src/graph/entities/node.h:13-18``,
``docs/cypher_support.md:11-12``), which is what makes per-label tables a
complete partitioning.

At 100 TB the node/edge tables are parquet, bucketed by ``_id`` (nodes)
and ``_src`` (edges, plus a ``_dst``-sorted copy only if benchmarks
demand it); every single-hop expansion is then a co-partitioned join.
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Internal (non-property) column names on node / edge tables.
NODE_ID = "_id"
EDGE_ID = "_id"
EDGE_SRC = "_src"
EDGE_DST = "_dst"
LABEL_COL = "_label"
REL_COL = "_rel"

_INTERNAL_NODE = {NODE_ID}
_INTERNAL_EDGE = {EDGE_ID, EDGE_SRC, EDGE_DST}

# Process-unique plan-cache epochs (see Graph._invalidate_plans); starts
# at 1 so a fresh instance's epoch 0 is never produced by a bump.
import itertools as _itertools
import threading
from collections import OrderedDict
from contextlib import contextmanager

_EPOCH_COUNTER = _itertools.count(1)


class PlanCache(OrderedDict):
    """The exact-value plan LRU ((text, params, version, epoch) →
    DataFrame) and, beside it, the plan templates (graph/templates.py):
    (text, parameter shape, version, epoch) → PlanTemplate, or None for
    a shape that plans per request. Each is bounded by PLAN_CACHE_SIZE
    on its own, so a template's rebinds never evict it. ``held`` maps
    each promoted template to the bytes of the broadcasts it holds,
    least recently run first."""

    def __init__(self) -> None:
        super().__init__()
        self.templates: OrderedDict = OrderedDict()
        self.held: OrderedDict = OrderedDict()
        self.mu = threading.Lock()      # guards ``held``

    def trim(self, size: int) -> None:
        """Evict least recently used entries down to ``size`` in each
        LRU; an evicted template lets go of its held broadcasts."""
        while len(self) > size:
            self.popitem(last=False)
        while len(self.templates) > size:
            _, old = self.templates.popitem(last=False)
            if old is not None:
                old.demote(self)

    def clear(self) -> None:
        super().clear()
        self.trim(0)


class _RWLock:
    """Readers-writer lock: N concurrent readers XOR 1 writer — the
    reference's per-graph locking discipline (``src/graph/graph.h:
    85-101``, tested by ``tests/flow/test_concurrent_query.py``).
    Writer-preferring: a waiting writer blocks new readers, so a
    mutation stream cannot be starved by a read stream."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    @contextmanager
    def read(self):
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                if self._readers == 0:
                    self._cond.notify_all()

    @contextmanager
    def write(self):
        with self._cond:
            self._writers_waiting += 1
            try:
                while self._writer or self._readers:
                    self._cond.wait()
                self._writer = True
            finally:
                self._writers_waiting -= 1
        try:
            yield
        finally:
            with self._cond:
                self._writer = False
                self._cond.notify_all()


class QueryTimeoutError(RuntimeError):
    """Raised when a query exceeds the TIMEOUT config (reference
    ``Config_TIMEOUT``, ``src/configuration/config.h:14-18``; enforced
    on the drain path ``src/commands/cmd_query.c:100-118``)."""


def is_write_ast(ast) -> bool:
    """True when the query mutates graph or catalog state: mutation
    clauses, index DDL, or CALLs to catalog-mutating procedures
    (fulltext create/drop). One definition shared by Graph.query's
    version bump, Graph.explain's rollback, and GRAPH.RO_QUERY's
    rejection."""
    from redisgraph_spark.cypher import ast as A
    from redisgraph_spark.functions.procedures import WRITE_PROCS
    return any(
        isinstance(c, (A.CreateClause, A.MergeClause, A.SetClause,
                       A.DeleteClause, A.RemoveClause, A.IndexDDL))
        or (isinstance(c, A.CallClause)
            and c.proc.lower() in WRITE_PROCS)
        for part in ast.parts for c in part.clauses)


def _replaced(before: tuple, after: tuple) -> bool:
    """Whether any table dict in ``after`` differs from its snapshot in
    ``before``: an entry added, dropped or swapped for another
    DataFrame."""
    return any(a.keys() != b.keys()
               or any(a[k] is not v for k, v in b.items())
               for b, a in zip(before, after))


def _merge_schemas(tables: Mapping[str, DataFrame],
                   internal: set[str]) -> list[tuple[str, T.DataType]]:
    """Union of property columns across tables, first-seen order.

    Mirrors the reference's global attribute interning
    (``src/graph/entities/graph_entity.h:26-29``): one global namespace of
    property keys. Type conflicts demote to string (the reference is
    schemaless — ``src/schema/schema.h:20-28``; we keep typed columns and
    demote only on actual conflict).
    """
    out: list[tuple[str, T.DataType]] = []
    seen: dict[str, T.DataType] = {}
    for df in tables.values():
        for f in df.schema.fields:
            if f.name in internal:
                continue
            if f.name not in seen:
                seen[f.name] = f.dataType
                out.append((f.name, f.dataType))
            elif seen[f.name] != f.dataType:
                # numeric widening where possible; same-element-type
                # array conflicts widen like scalars; other conflicting
                # scalar / array-of-scalar types → per-value variant
                # encoding (planner/variant.py); conflicts involving
                # nested/complex arrays demote to string
                a, b = seen[f.name], f.dataType
                numeric = (T.LongType(), T.IntegerType(), T.ShortType(),
                           T.DoubleType(), T.FloatType())
                from ..planner.variant import VARIANT_TYPE, variantable
                if a in numeric and b in numeric:
                    widened = T.DoubleType() if T.DoubleType() in (a, b) \
                        or T.FloatType() in (a, b) else T.LongType()
                elif variantable(a) and variantable(b):
                    widened = VARIANT_TYPE
                else:
                    widened = T.StringType()
                seen[f.name] = widened
                out = [(n, widened if n == f.name else t) for n, t in out]
    return out


def _parse_cypher_prefix(text: str) -> tuple[str, dict]:
    """``CYPHER k=v k2=v2 MATCH …`` inline-parameter prefix
    (reference ``src/commands/execution_ctx.c:72``). Values parse as
    int/float/quoted-string/bool, else raw string."""
    import re
    stripped = text.lstrip()
    if not stripped[:7].lower().startswith("cypher "):
        return text, {}
    rest = stripped[7:]
    params: dict = {}
    pat = re.compile(
        r"\s*([A-Za-z_][A-Za-z0-9_]*)=("
        r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|\S+)")
    pos = 0
    while True:
        m = pat.match(rest, pos)
        if m is None:
            break
        k, v = m.group(1), m.group(2)
        if v[:1] in "'\"":
            params[k] = v[1:-1]
        elif v.lower() in ("true", "false"):
            params[k] = v.lower() == "true"
        else:
            try:
                params[k] = int(v)
            except ValueError:
                try:
                    params[k] = float(v)
                except ValueError:
                    params[k] = v
        pos = m.end()
    return rest[pos:].lstrip(), params


def _conform_col(name: str, src_t: T.DataType, dst_t: T.DataType):
    """Column expression conforming a table column to the merged scan
    type — plain cast, or variant encoding when the merged type is the
    variant union struct (a cast cannot build that)."""
    if src_t == dst_t:
        return name  # skip no-op casts: each Column op is a JVM round trip
    from ..planner.variant import is_variant_type, to_variant
    if is_variant_type(dst_t):
        return to_variant(F.col(name), src_t).alias(name)
    return F.col(name).cast(dst_t).alias(name)


class Graph:
    """A property graph = {label → node table} + {rel type → edge table}."""

    def __init__(self, spark: SparkSession,
                 node_tables: Mapping[str, DataFrame],
                 edge_tables: Mapping[str, DataFrame],
                 name: str = "g",
                 rel_endpoints: Mapping[str, tuple] | None = None,
                 count_hints: Mapping[tuple[str, str], int] | None = None,
                 plan_cache: PlanCache | None = None,
                 input_bytes: int | None = None) -> None:
        self.spark = spark
        self.name = name
        self.node_tables: dict[str, DataFrame] = dict(node_tables)
        self.edge_tables: dict[str, DataFrame] = dict(edge_tables)
        # optional schema hint: rel type -> (src labels, dst labels); lets
        # the planner elide node-existence joins for unreferenced pattern
        # endpoints whose label is guaranteed by the edge type (no analog
        # in the reference — it has no per-edge label metadata either, but
        # its matrices make the existence check free; a join is not).
        # Cleared by any topology/label mutation.
        self.rel_endpoints: dict[str, tuple[set, set]] | None = None
        if rel_endpoints:
            self.rel_endpoints = {
                r: (set([s] if isinstance(s, str) else s),
                    set([d] if isinstance(d, str) else d))
                for r, (s, d) in rel_endpoints.items()}
        # The plan cache may be SHARED across Graph instances built
        # from the same immutable base tables (the reference caches
        # compiled plans per graph keyed by query text,
        # execution_ctx.c:79-88 — tpch_graph passes one cache for all
        # instances it hands out, so a fresh Graph still hits warm
        # plans).  Isolation across instances after divergence is by
        # key: every key carries (version, epoch) and any local
        # invalidation bumps this instance's epoch to a process-unique
        # nonce instead of clearing the dict, so one instance's
        # mutation never evicts another's still-valid version-0 plans.
        self._plan_cache = plan_cache if plan_cache is not None \
            else PlanCache()
        self._epoch = 0
        self._version = 0
        self._count_cache: dict[tuple, int] = {}
        # Metadata-known row counts ((kind, name) -> rows, kind in "n"/"e")
        # seed the version-0 cache — the Delta/parquet-footer statistics
        # analog of the reference's running counters
        # (src/graph/graph_statistics.h:14-37). Any mutation bumps
        # _version, which invalidates these keys automatically.
        if count_hints:
            for (kind, nm), cnt in count_hints.items():
                self._count_cache[(kind, nm, 0)] = int(cnt)
        self._slow_log: list[dict] = []
        self._fulltext = None
        # user-registered table-valued procedures (register_procedure)
        self._custom_procs: dict[str, dict] = {}
        # N-readers / 1-writer discipline per graph (reference acquires
        # _Graph_AcquireWriteLock around mutations, src/graph/graph.h:
        # 85-101): writes plan+commit exclusively, reads run
        # concurrently; the snapshot/restore undo window in
        # _with_timeout is therefore single-writer-atomic
        self._rw = _RWLock()
        self._cache_mu = threading.Lock()   # LRU bookkeeping only
        self._scan_cache: dict[tuple, DataFrame] = {}
        # chained-rewrite depth per (kind, name) — mutations swap in
        # un-checkpointed lazy rewrites (a small key set's literal
        # filter or projection, a large one's join) and pin every 4th
        # to bound lineage growth (planner/mutations.py:_defer_pin)
        self._rewrite_depth: dict[tuple[str, str], int] = {}
        # flips on the first SET n:Label — a node id may then live in
        # several label tables, so unified scans dedup by id and carry a
        # `_labels` array (reference multi-label nodes,
        # src/graph/entities/node.h)
        self._multilabel = False
        # statistics-gated execution tuning: size the session's shuffle
        # plan to this graph's footer-known input bytes (AQE off +
        # data-proportional partitions under 256MB, cluster defaults
        # above — see session.tune_for_input; per-session ratchet, so
        # one big graph keeps cluster-scale settings for good)
        from redisgraph_spark.session import (plan_input_bytes,
                                              tune_for_input)
        if input_bytes is not None:
            # precomputed by the caller's build cache (from_tpch):
            # skips ~1 py4j statistics probe per table per instance
            total = int(input_bytes)
        else:
            total = 0
            for df in list(self.node_tables.values()) + \
                    list(self.edge_tables.values()):
                total += plan_input_bytes(df)
                if total >= (1 << 62):
                    break
        tune_for_input(spark, total)
        # with adaptive off (small input) the planner supplies the
        # broadcast hints AQE would have discovered at runtime: any
        # subplan whose output is bounded by the graph itself (semi-join
        # key sets, optional-match branches, degree aggregates) is safe
        # to broadcast when ALL graph input is under the gate threshold
        from redisgraph_spark.session import _ADAPTIVE_MIN_BYTES
        self._small_input = total < _ADAPTIVE_MIN_BYTES

    # ---------------------------------------------------------------- indexes
    @property
    def indexes(self) -> dict[str, list[str]]:
        """Exact-match index catalog: label → indexed property names
        (≈ reference ``GraphContext_AddIndex``, ``cmd_query.c:60-90``)."""
        if not hasattr(self, "_indexes"):
            self._indexes: dict[str, list[str]] = {}
        return self._indexes

    def create_index(self, label: str, props: list[str]) -> int:
        """``CREATE INDEX ON :Label(p)``. In Spark the exact-match index
        IS the storage layout: range-repartition + sort the label table
        on the key so min/max stats (parquet row groups / in-memory
        batches) skip non-matching partitions, and filter pushdown does
        the rest — SURVEY.md §2.1 IndexScan mapping. Returns the number
        of indexes newly added (reference counts per property,
        ``cmd_query.c:66-75``)."""
        if label not in self.node_tables:
            return 0
        existing = self.indexes.setdefault(label, [])
        added = 0
        for p in props:
            if p in existing:
                continue
            existing.append(p)
            added += 1
        if added:
            df = self.node_tables[label]
            keys = [p for p in existing if p in df.columns]
            if keys:
                self.node_tables[label] = df.repartitionByRange(
                    *[F.col(k) for k in keys]).sortWithinPartitions(*keys)
            self._version += 1
            self._invalidate_plans()
        return added

    def drop_index(self, label: str, props: list[str]) -> int:
        """``DROP INDEX ON :Label(p)`` — errors when absent, matching
        ``cmd_query.c:86``."""
        dropped = 0
        for p in props:
            if p not in self.indexes.get(label, []):
                raise ValueError(
                    f"Unable to drop index on :{label}({p}): no such index.")
            self.indexes[label].remove(p)
            dropped += 1
        if dropped:
            self._version += 1
            self._invalidate_plans()
        return dropped

    @property
    def fulltext(self):
        """Fulltext index catalog (reference RediSearch procedures,
        ``src/procedures/proc_fulltext_*``)."""
        if self._fulltext is None:
            from redisgraph_spark.functions.fulltext import FulltextCatalog
            self._fulltext = FulltextCatalog(self)
        return self._fulltext

    # ---------------------------------------------------------------- catalog
    @property
    def labels(self) -> list[str]:
        """≈ ``db.labels`` (reference ``src/procedures/proc_labels.c:71``)."""
        return list(self.node_tables)

    @property
    def relationship_types(self) -> list[str]:
        """≈ ``db.relationshipTypes`` (``proc_relations.c:70``)."""
        return list(self.edge_tables)

    def property_keys(self) -> list[str]:
        """≈ ``db.propertyKeys`` (``proc_property_keys.c:69``)."""
        keys: list[str] = []
        for n, _ in _merge_schemas(self.node_tables, _INTERNAL_NODE):
            keys.append(n)
        for n, _ in _merge_schemas(self.edge_tables, _INTERNAL_EDGE):
            if n not in keys:
                keys.append(n)
        return keys

    # ---------------------------------------------------------------- scans
    def variants_possible(self) -> bool:
        """True when any table holds a variant union column, or two
        tables type-conflict on a property name so the unified scan
        would merge one. Lets the expression compiler skip per-node
        variant probes (py4j round trips) on the typed-only fast path.
        Conservative: numeric-pair conflicts (widened, never variant)
        count as False; everything else True."""
        from ..planner.variant import is_variant_type
        numeric = (T.LongType(), T.IntegerType(), T.ShortType(),
                   T.DoubleType(), T.FloatType())
        seen: dict[str, T.DataType] = {}
        import itertools as _it
        for df in _it.chain(self.node_tables.values(),
                            self.edge_tables.values()):
            for f in df.schema.fields:
                if is_variant_type(f.dataType):
                    return True
                prev = seen.setdefault(f.name, f.dataType)
                if prev != f.dataType and \
                        not (prev in numeric and f.dataType in numeric):
                    return True
        return False

    def nodes(self, labels: Iterable[str] | None = None) -> DataFrame:
        """Unified node scan ``(_id, _label, <all property columns>)``.

        With ``labels`` given this is the NodeByLabelScan analog
        (``ops/op_node_by_label_scan.c:57-81``): only the named tables are
        read — no union-then-filter, so Catalyst sees just the pruned
        scans. Without labels it is AllNodeScan
        (``ops/op_all_node_scan.c``).
        """
        names = list(labels) if labels is not None else list(self.node_tables)
        key = ("n", tuple(sorted(names)), self._version)
        cached = self._scan_cache.get(key)
        if cached is not None:
            return cached
        tables = {l: self.node_tables[l] for l in names if l in self.node_tables}
        if not tables:
            schema = T.StructType([
                T.StructField(NODE_ID, T.LongType()),
                T.StructField(LABEL_COL, T.StringType()),
            ])
            return self.spark.createDataFrame([], schema)
        merged = _merge_schemas(tables, _INTERNAL_NODE)
        parts = []
        for label, df in tables.items():
            have = {f.name: f.dataType for f in df.schema.fields}
            cols = [F.col(NODE_ID).cast("long").alias(NODE_ID)
                    if have.get(NODE_ID) != T.LongType() else NODE_ID,
                    F.lit(label).alias(LABEL_COL)]
            for n, t in merged:
                if n in have:
                    cols.append(_conform_col(n, have[n], t))
                else:
                    cols.append(F.lit(None).cast(t).alias(n))
            parts.append(df.select(cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if self._multilabel:
            # id → label array over ALL tables (a node may carry labels
            # outside the scanned subset) in DECLARATION order — label
            # tables are created in first-CREATE order, which is the
            # order openCypher's labels() reports (Merge1[10]:
            # MERGE (:L:B) yields ['L', 'B'], not alphabetical);
            # broadcast — label mutations are interactive-scale, never
            # the 100 TB path
            pairs = [t.select(F.col(NODE_ID).cast("long").alias(NODE_ID),
                              F.lit(i).alias("__lpos"),
                              F.lit(l).alias(LABEL_COL))
                     for i, (l, t) in enumerate(self.node_tables.items())]
            idx = pairs[0]
            for p in pairs[1:]:
                idx = idx.unionByName(p)
            idx = idx.groupBy(NODE_ID).agg(
                F.transform(
                    F.array_sort(F.collect_set(
                        F.struct(F.col("__lpos"), F.col(LABEL_COL)))),
                    lambda s: s.getField(LABEL_COL)).alias("_labels"))
            out = out.join(F.broadcast(idx), NODE_ID, "left")
            if len(parts) > 1:
                out = out.dropDuplicates([NODE_ID])
        self._scan_cache[key] = out
        return out

    def edges(self, rels: Iterable[str] | None = None) -> DataFrame:
        """Unified edge scan ``(_id, _src, _dst, _rel, <properties>)``.

        With ``rels`` given, only those relation tables are scanned — the
        per-relation-matrix pruning of ``graph.h:74-76``.
        """
        names = list(rels) if rels is not None else list(self.edge_tables)
        key = ("e", tuple(sorted(names)), self._version)
        cached = self._scan_cache.get(key)
        if cached is not None:
            return cached
        tables = {r: self.edge_tables[r] for r in names if r in self.edge_tables}
        if not tables:
            schema = T.StructType([
                T.StructField(EDGE_ID, T.LongType()),
                T.StructField(EDGE_SRC, T.LongType()),
                T.StructField(EDGE_DST, T.LongType()),
                T.StructField(REL_COL, T.StringType()),
            ])
            return self.spark.createDataFrame([], schema)
        merged = _merge_schemas(tables, _INTERNAL_EDGE)
        parts = []
        for rel, df in tables.items():
            have = {f.name: f.dataType for f in df.schema.fields}
            cols = []
            for ic in (EDGE_ID, EDGE_SRC, EDGE_DST):
                cols.append(ic if have.get(ic) == T.LongType()
                            else F.col(ic).cast("long").alias(ic))
            cols.append(F.lit(rel).alias(REL_COL))
            for n, t in merged:
                if n in have:
                    cols.append(_conform_col(n, have[n], t))
                else:
                    cols.append(F.lit(None).cast(t).alias(n))
            parts.append(df.select(cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        self._scan_cache[key] = out
        return out

    # ------------------------------------------------------------- warm-up
    def warm_traversal(self, direction: str = "out") -> "Graph":
        """Materialize the slim all-relations oriented-edge projection
        that anonymous bounded var-len traversals join per hop — the
        analog of the reference building its relation matrices at graph
        load (``src/graph/graph.h:72-77``) rather than at query time.
        Mutations bump ``_version``/clear the cache, so the projection
        is rebuilt lazily after any topology change. Call it from the
        bulk-load phase; queries then never pay the one-time
        materialization."""
        from redisgraph_spark.algorithms import traversal as TRAV
        key = TRAV.slim_cache_key((), direction, False, False,
                                  self._version)
        if key not in self._scan_cache:
            oriented = TRAV.oriented_edges(
                self.edges(None), direction, "__vlf", "__vlt")
            e = TRAV.slim_projection(
                oriented, "__vlf", "__vlt", need_uniq=False, track=False,
                edge_struct=None).localCheckpoint(eager=True)
            self._scan_cache[key] = e
        # the absorbing stop-state table the single-cascade [*min..max]
        # plan unions past min_hops — same build-at-load treatment
        TRAV._stop_augmented(self._scan_cache[key], "__vlf",
                             self._scan_cache, key)
        return self

    def warm_statistics(self) -> "Graph":
        """Populate the per-label/per-type count caches in ONE Spark
        job — the analog of the reference maintaining running entity
        counters from load time (``src/graph/graph_statistics.h:14-37``)
        instead of counting on first use. The var-len frontier cost
        model reads every edge-type count on its first query; without
        this, that first query pays one count job per table."""
        from functools import reduce
        parts = []
        for kind, tables in (("n", self.node_tables),
                             ("e", self.edge_tables)):
            for nm, df in tables.items():
                if (kind, nm, self._version) in self._count_cache:
                    continue
                parts.append(df.groupBy().agg(
                    F.count(F.lit(1)).alias("__c")).select(
                        F.lit(kind).alias("__k"), F.lit(nm).alias("__n"),
                        "__c"))
        if parts:
            for row in reduce(lambda a, b: a.unionByName(b),
                              parts).collect():
                self._count_cache[(row["__k"], row["__n"],
                                   self._version)] = row["__c"]
        for kind, tables in (("n", self.node_tables),
                             ("e", self.edge_tables)):
            self._counted(kind, None, tables)
        return self

    # ---------------------------------------------------------------- stats
    def node_count(self, label: str | None = None) -> int:
        """Metadata-answerable count — the ``reduceCount`` optimization
        (reference ``optimizations/reduce_count.c:52-190``; running
        counters ``src/graph/graph_statistics.h:14-37``). Counts cache
        per graph version, so repeat count queries are job-free."""
        return self._counted("n", label, self.node_tables)

    def edge_count(self, rel: str | None = None) -> int:
        return self._counted("e", rel, self.edge_tables)

    def _counted(self, kind: str, name: str | None,
                 tables: dict[str, DataFrame]) -> int:
        key = (kind, name, self._version)
        cached = self._count_cache.get(key)
        if cached is not None:
            return cached
        if name is not None:
            cnt = tables[name].count() if name in tables else 0
        else:
            # sum per-table counts through the cache so footer-seeded
            # hints (count_hints) make the all-entities count cheap too
            cnt = sum(self._counted(kind, nm, tables) for nm in tables)
        self._count_cache[key] = cnt
        return cnt

    # ---------------------------------------------------------------- query
    def query(self, cypher: str, params: Mapping[str, object] | None = None
              ) -> DataFrame:
        """Execute an openCypher query, returning a DataFrame.

        ≈ ``GRAPH.QUERY`` (reference ``src/module.c:132-140``); the
        parse → plan → DataFrame pipeline replaces
        parse → AST → algebraic expression → Volcano ops
        (``src/commands/execution_ctx.c:64-119``).

        Read-only plans are cached per (query, parameter values) — the
        reference's per-graph LRU plan cache of 25
        (``src/commands/execution_ctx.c:79-88``, ``CACHE_SIZE_DEFAULT``
        ``src/configuration/config.c:53``). A read that misses it is
        planned once per (query, parameter shape) into a plan template
        whose literals each request rebinds (graph/templates.py); a
        read whose plan depends on a parameter's value plans per
        request. From a template's second rebind on, the request runs
        the template's executed plan with its own literals: the
        broadcasts that do not depend on a parameter are built once,
        and each join with a parameter on one side only broadcasts the
        other side, so a lookup is one job at collect. A broadcast that
        still depends on a parameter (its join has parameters on both
        sides, or its other side does not fit the held budget) runs
        here, inside ``query`` and under TIMEOUT. The DataFrame returned then scans that run's
        RDD; it composes like any other, and ``explain``/``profile``
        show the real plan. Any write invalidates both; one that
        replaced a table also bumps ``_version``, which retires the
        warm adjacency and counts.
        """
        return self._query(cypher, params)[0]

    def _query(self, cypher: str, params: Mapping[str, object] | None,
               physical: bool = True) -> tuple[DataFrame, str]:
        """``query`` plus what the plan cache did: ``"hit"`` (the
        exact-value cache), ``"rebind"`` (a plan template) or
        ``"plan"`` (the planner ran, maybe to build a template).
        ``physical=False`` keeps the real plan in the DataFrame, for
        ``explain`` and ``profile``: a rebind then binds the analyzed
        plan, and the exact-value cache, which may hold a run of a
        promoted template, is left alone."""
        import time as _time
        from redisgraph_spark.graph.templates import expand, param_shape
        from redisgraph_spark.planner.planner import CypherPlanner
        from redisgraph_spark.cypher.parser import parse

        t0 = _time.time()
        cypher, inline = _parse_cypher_prefix(cypher)
        params = {**inline, **(params or {})}
        key = (cypher, repr(sorted(params.items())),
               self._version, self._epoch)
        exact = physical or param_shape(params) is None
        cached = self._plan_cache.get(key) if exact else None
        if cached is not None:
            with self._cache_mu:
                if key in self._plan_cache:
                    self._plan_cache.move_to_end(key)
            self._log_query(cypher, _time.time() - t0, "hit")
            return cached, "hit"
        ast = parse(cypher)
        # write CALLs (fulltext DDL) count as writes: they must retire
        # the cached queryNodes plans on the old index
        is_write = is_write_ast(ast)
        # N-readers/1-writer per graph (reference
        # _Graph_AcquireWriteLock, src/graph/graph.h:85-101): planning
        # IS commit for mutations (table swaps + snapshot/restore on
        # abort), so the whole plan runs under the write lock; reads
        # plan concurrently under the shared lock
        lock = self._rw.write() if is_write else self._rw.read()
        run = None
        with lock:
            tables = is_write and (dict(self.node_tables),
                                   dict(self.edge_tables))
            # a template binds each fulltext query's words (expand)
            bound = params if is_write else expand(ast, params)
            template, built = (None, False) if is_write else \
                self._template(ast, cypher, bound)
            if template is not None:
                stats = template.stats
                if physical and not built:
                    run = template.runner(self.spark, bound,
                                          self._plan_cache)
                df = None if run else template.bind(self.spark, bound)
            else:
                planner = CypherPlanner(self, params)
                df, stats = self._plan(planner, ast, cypher,
                                       is_write), planner.stats
            outcome = "rebind" if template is not None and not built \
                else "plan"
            # mutation statistics for the last executed query
            # (≈ resultset_statistics.h:12-20, returned out-of-band)
            self.last_stats = dict(stats)
            if is_write:
                # the warm adjacency and the counts are keyed by
                # _version: a write that replaced no table (fulltext
                # DDL) keeps them and retires only the cached plans
                if _replaced(tables, (self.node_tables, self.edge_tables)):
                    self._version += 1
                self._invalidate_plans()
        if run is not None:
            # any key-dependent broadcast job the plan kept runs here,
            # outside the read lock, over the tables it was planned on
            # (as a returned DataFrame's own collect always has)
            df = self._timed(run, undo=False)
        if not is_write and exact:
            with self._cache_mu:
                self._plan_cache[key] = df
                self._plan_cache.trim(self.PLAN_CACHE_SIZE)
        self._log_query(cypher, _time.time() - t0, outcome)
        return df, outcome

    def _plan(self, planner, ast, cypher: str,
              is_write: bool = False) -> DataFrame:
        """Run the planner under the TIMEOUT and RESULTSET_MAX_SIZE
        configs. After a write, the fulltext index of each label whose
        node table it replaced is rebuilt inside the same TIMEOUT
        bound, so a timed-out write restores the old index too."""
        # TIMEOUT (reference Config_TIMEOUT, src/configuration/
        # config.h:14-18; drain cmd_query.c:100-118): bound the
        # engine-side work that runs INSIDE query() — planning plus
        # every eager materialization (var-len frontier loops,
        # mutation rewrites, iterative algorithms). A runaway [*]
        # traversal otherwise has no kill switch. Jobs the USER
        # later triggers on the returned (lazy) DataFrame are
        # outside this bound, like any Spark job.
        def write() -> DataFrame:
            before = dict(self.node_tables)
            df = planner.plan(ast)
            if self._fulltext is not None:
                self._fulltext.refresh(before)
            return df
        df = self._timed(write if is_write else lambda: planner.plan(ast))
        # RESULTSET_MAX_SIZE: truncate emitted rows when configured
        # ≥ 0 (reference enforces in ops/op_results.c:32-47)
        max_rows = self.config_get("RESULTSET_MAX_SIZE")
        if isinstance(max_rows, int) and max_rows >= 0:
            df = df.limit(max_rows)
        return df

    def _template(self, ast, cypher: str, params: dict) -> tuple:
        """(template, built): the plan template for this read's
        parameter shape, built on first use (built True); None when
        the shape plans per request."""
        from redisgraph_spark.graph import templates as TPL
        from redisgraph_spark.planner.planner import CypherPlanner
        shape = TPL.param_shape(params)
        if shape is None:
            return None, False
        key = (cypher, shape, self._version, self._epoch)
        templates = self._plan_cache.templates
        with self._cache_mu:
            if key in templates:
                templates.move_to_end(key)
                return templates[key], False

        def plan(sentinels):
            planner = CypherPlanner(self, sentinels)
            return self._plan(planner, ast, cypher), planner.stats

        template, keep = TPL.build(self.spark, ast, params, plan)
        if keep:
            with self._cache_mu:
                templates[key] = template
                self._plan_cache.trim(self.PLAN_CACHE_SIZE)
        return template, True

    def _timed(self, fn, undo: bool = True):
        """``fn()`` under the TIMEOUT config (see ``_with_timeout``)."""
        timeout_ms = self.config_get("TIMEOUT")
        if isinstance(timeout_ms, int) and timeout_ms > 0:
            return self._with_timeout(fn, timeout_ms, undo)
        return fn()

    def _with_timeout(self, fn, timeout_ms: int, undo: bool):
        """Run ``fn`` (planning, or a promoted template's run) under a
        cancellation deadline: a timer cancels this query's Spark jobs
        (a per-query job tag, which leaves the caller's job group and
        local properties as they were) after ``timeout_ms``, so any
        in-flight eager job (frontier hop, mutation rewrite,
        key-dependent broadcast) aborts and ``fn`` raises a clean
        QueryTimeoutError — the ``CommandCtx`` drain path of
        ``cmd_query.c:100-118``. ``undo`` rolls graph state back on a
        timeout; a run outside the graph lock passes False, since it
        changes no state and a writer may hold the lock."""
        import threading
        import time as _time

        from redisgraph_spark.session import job_tag
        sc = self.spark.sparkContext
        fired = threading.Event()

        # snapshot mutable graph state so an aborted mutation leaves
        # the graph exactly as it was (the reference's whole-query
        # abort is atomic under its single-writer lock) — mutations
        # replace dict entries during planning, so shallow copies of
        # the dicts are a complete undo log
        snap = self._state_snapshot() if undo else None

        def _restore() -> None:
            if snap is not None:
                self._state_restore(snap)

        interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
        sc.setInterruptOnCancel(True)
        with job_tag(self.spark, "rg-query") as tag:
            def _cancel():
                fired.set()
                sc.cancelJobsWithTag(tag)

            timer = threading.Timer(timeout_ms / 1000.0, _cancel)
            timer.start()
            deadline = _time.time() + timeout_ms / 1000.0
            try:
                df = fn()
                if fired.is_set() or _time.time() > deadline:
                    _restore()
                    raise QueryTimeoutError(
                        f"Query timed out (TIMEOUT={timeout_ms}ms)")
                return df
            except QueryTimeoutError:
                raise
            except Exception as exc:
                if fired.is_set():
                    _restore()
                    raise QueryTimeoutError(
                        f"Query timed out (TIMEOUT={timeout_ms}ms)"
                    ) from exc
                raise
            finally:
                timer.cancel()
                sc.setLocalProperty("spark.job.interruptOnCancel",
                                    interrupt)

    def _invalidate_plans(self) -> None:
        """Invalidate this instance's cached plans without touching the
        (possibly shared) dict: bump the epoch to a process-unique
        nonce — old keys become unreachable for this instance and age
        out of the LRU, while other instances sharing the dict keep
        their still-valid entries."""
        self._epoch = next(_EPOCH_COUNTER)

    def _state_snapshot(self) -> tuple:
        """Shallow-copy every mutable piece of graph state (mutations
        replace dict ENTRIES, so dict copies are a complete undo log)."""
        ft = self._fulltext
        return (dict(self.node_tables), dict(self.edge_tables),
                dict(getattr(self, "_indexes", {})),
                None if self.rel_endpoints is None
                else dict(self.rel_endpoints),
                self._multilabel, self._version,
                (dict(ft.fields), dict(ft._index)) if ft else None,
                dict(self._count_cache), self._epoch)

    def _state_restore(self, snap: tuple) -> None:
        (self.node_tables, self.edge_tables, self._indexes,
         self.rel_endpoints, self._multilabel, self._version,
         ft_snap, counts, self._epoch) = \
            (dict(snap[0]), dict(snap[1]), dict(snap[2]),
             None if snap[3] is None else dict(snap[3]),
             snap[4], snap[5], snap[6], snap[7], snap[8])
        if ft_snap is None:
            # the aborted query may have created the FIRST fulltext
            # index — drop the whole catalog back to its absent state
            self._fulltext = None
        elif self._fulltext is not None:
            self._fulltext.fields = dict(ft_snap[0])
            self._fulltext._index = dict(ft_snap[1])
        # count-store entries computed against the rolled-back state
        # would answer count(*) wrongly afterwards
        self._count_cache = dict(counts)
        self._scan_cache.clear()

    # reference: CACHE_SIZE_DEFAULT 25 (src/configuration/config.c:53)
    PLAN_CACHE_SIZE = 25

    def _log_query(self, cypher: str, plan_sec: float,
                   outcome: str) -> None:
        """≈ GRAPH.SLOWLOG (``src/slow_log/slow_log.h:18-37``) — keeps the
        most recent queries with planning wall time and what the plan
        cache did (``Graph._query``)."""
        self._slow_log.append(
            {"query": cypher, "plan_sec": round(plan_sec, 4),
             "cache_hit": outcome == "hit", "plan_cache": outcome})
        if len(self._slow_log) > 128:
            self._slow_log = self._slow_log[-128:]

    def slow_log(self) -> list[dict]:
        return sorted(self._slow_log, key=lambda r: -r["plan_sec"])[:10]

    # ≈ GRAPH.CONFIG GET/SET (reference ``src/module.c:142-173``,
    # ``src/configuration/config.h``). Engine-level knobs only; Spark
    # execution knobs live on spark.conf.
    DEFAULT_CONFIG = {
        "PLAN_CACHE_SIZE": 25,          # config.c:53
        "MAX_UNBOUNDED_HOPS": 32,       # traversal safety valve
        "RESULTSET_MAX_SIZE": -1,       # unlimited, as reference default
        # ms; 0 = unlimited (reference TIMEOUT_DEFAULT, config.h:14-18).
        # Bounds engine-side execution inside query() via job-group
        # cancellation — see _with_timeout.
        "TIMEOUT": 0,
    }

    def config_get(self, key: str):
        if not hasattr(self, "_config"):
            self._config = dict(self.DEFAULT_CONFIG)
        return self._config[key]

    def config_set(self, key: str, value) -> None:
        if not hasattr(self, "_config"):
            self._config = dict(self.DEFAULT_CONFIG)
        if key not in self._config:
            raise KeyError(f"Unknown config {key}")
        self._config[key] = value
        if key == "PLAN_CACHE_SIZE":
            self.PLAN_CACHE_SIZE = int(value)
        elif key != "TIMEOUT":
            # cached plans bake in config-dependent operators (row
            # limit, hop cap) — drop them so the new value takes effect
            self._invalidate_plans()

    def explain(self, cypher: str,
                params: Mapping[str, object] | None = None) -> str:
        """≈ ``GRAPH.EXPLAIN`` (``src/commands/cmd_explain.c:54``) — the
        Catalyst formatted physical plan. Like the reference, EXPLAIN
        of a write query must NOT apply the write (``cmd_explain.c``
        builds the plan without executing): mutation side effects made
        while planning are rolled back afterwards."""
        import contextlib
        import io
        from redisgraph_spark.cypher.parser import parse

        stripped, _ = _parse_cypher_prefix(cypher)
        is_write = is_write_ast(parse(stripped))
        snap = self._state_snapshot() if is_write else None
        try:
            df = self._query(cypher, params, physical=False)[0]
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            return buf.getvalue()
        finally:
            if snap is not None:
                # restores (version, epoch) too — write queries never
                # insert plan-cache entries, so reachability rolls back
                self._state_restore(snap)

    def profile(self, cypher: str,
                params: Mapping[str, object] | None = None) -> dict:
        """≈ ``GRAPH.PROFILE`` (``src/execution_plan/execution_plan.c:
        435-463``): executes the query and reports, per physical
        operator, rows produced and operator time — the reference's
        ``Records produced / Execution time`` per op (``ops/op.h:
        75-78``) read out of Spark's SQLMetrics on the executed plan.

        Returns ``{rows, wall_sec, planning_ms, plan_cache,
        ops: [{op, depth, rows, time_ms, metrics}], plan}`` — ``ops``
        in pre-order (parents first), so indentation by depth
        reproduces the reference's profile tree.  ``planning_ms`` is
        the driver-side plan-construction wall (parse + Cypher planner
        + Catalyst analysis); the round-9 temporal blowup hid exactly
        there, invisible to executor-side metrics. ``plan_cache`` is
        what the plan cache did: ``"hit"``, ``"rebind"`` or
        ``"plan"``."""
        import time as _time
        t0 = _time.time()
        built, outcome = self._query(cypher, params, physical=False)
        planning_ms = (_time.time() - t0) * 1000.0
        # .select("*") forces a FRESH physical plan: SQLMetrics are
        # accumulators per plan instance, so profiling a plan-cached
        # DataFrame twice would otherwise double-count
        df = built.select("*")
        t0 = _time.time()
        # drain through toLocalIterator: executes df's OWN plan (the
        # one whose metrics we read — count() would build a different
        # plan) without materializing the whole result on the driver
        n = sum(1 for _ in df.toLocalIterator())
        wall = _time.time() - t0
        return {"rows": n, "wall_sec": round(wall, 4),
                "planning_ms": round(planning_ms, 1),
                "plan_cache": outcome,
                "ops": self._executed_plan_metrics(df),
                "plan": self.explain(cypher, params)}

    @staticmethod
    def _executed_plan_metrics(df: DataFrame) -> list[dict]:
        """Walk the executed SparkPlan (through AQE's final plan) and
        extract each operator's SQLMetric values. Time-like metrics
        (nanosecond ``metricType='timing'`` / ``'nsTiming'``) are summed
        into ``time_ms``; ``numOutputRows`` becomes ``rows``."""
        plan = df._jdf.queryExecution().executedPlan()
        out: list[dict] = []

        def walk(node, depth: int) -> None:
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                walk(node.executedPlan(), depth)
                return
            if name.endswith("QueryStage"):
                # AQE materialization point: the executed subtree lives
                # in .plan(), not children()
                walk(node.plan(), depth)
                return
            if name.startswith("ReusedExchange"):
                walk(node.child(), depth)
                return
            metrics: dict[str, int] = {}
            time_ms = 0.0
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                key, metric = kv._1(), kv._2()
                try:
                    val = metric.value()
                except Exception:
                    continue
                metrics[key] = val
                mtype = metric.metricType()
                if mtype == "timing":
                    time_ms += val            # already ms
                elif mtype == "nsTiming":
                    time_ms += val / 1e6
            out.append({"op": name, "depth": depth,
                        "rows": metrics.get("numOutputRows"),
                        "time_ms": round(time_ms, 3),
                        "metrics": metrics})
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i), depth + 1)

        walk(plan, 0)
        return out

    # ------------------------------------------------------ custom procs
    def register_procedure(self, name: str,
                           args: list[tuple[str, str]],
                           outputs: list[tuple[str, str]],
                           rows: list[tuple]) -> None:
        """Register a table-valued procedure callable via
        ``CALL name(...)`` — the UDTF extension point the reference
        exposes through its C module API (``src/procedures/procedure.h``
        Proc_Register).  ``args``/``outputs`` are (name, cypher_type)
        pairs (types like ``'INTEGER?'``, ``'STRING?'``, ``'NUMBER?'``,
        ``'ANY?'``); ``rows`` is the lookup table: each row has
        ``len(args)`` argument cells followed by ``len(outputs)``
        output cells, and a call yields the output cells of every row
        whose argument cells equal the call's arguments.  This is also
        the openCypher TCK's test-procedure fixture model (Call1-6)."""
        key = name.lower()
        for r in rows:
            if len(r) != len(args) + len(outputs):
                raise ValueError(
                    f"procedure {name}: row arity {len(r)} != "
                    f"{len(args)} args + {len(outputs)} outputs")
        self._custom_procs[key] = {
            "name": name, "args": list(args), "outputs": list(outputs),
            "rows": [tuple(r) for r in rows]}

    # ---------------------------------------------------------------- io
    @classmethod
    def from_tpch(cls, spark: SparkSession, sf_dir: str) -> "Graph":
        from redisgraph_spark.graph.tpch import tpch_graph
        return tpch_graph(spark, sf_dir)

    def save(self, path: str) -> None:
        """Persist as parquet — replaces RDB serialization v9
        (``src/serializers/encoder/v9/encode_graph.c``)."""
        for label, df in self.node_tables.items():
            df.write.mode("overwrite").parquet(f"{path}/nodes/{label}")
        for rel, df in self.edge_tables.items():
            df.write.mode("overwrite").parquet(f"{path}/edges/{rel}")

    def save_bucketed(self, database: str,
                      buckets: int | None = None) -> None:
        """Persist as bucketed tables — the 100 TB layout.

        Nodes bucket+sort on ``_id``; edges bucket+sort on ``_src``.
        A traversal join (edges._src = nodes._id) between tables with
        the same bucket count then requires NO shuffle exchange on
        either side — the cluster-scale analog of the reference keeping
        adjacency matrices resident per graph. A ``_dst``-bucketed edge
        copy is the transpose analog (``graph.h:73``); write it only if
        reverse-heavy workloads show up in benchmarks.

        ``buckets=None`` derives the count from the graph's
        footer-known input bytes (one ~128 MB bucket per input
        partition's worth of data, power-of-two, floor 8) so the layout
        is scale-adaptive rather than a constant tuned for one
        deployment; a single count serves every table because the
        exchange-free join property requires both sides to agree.
        ``SPARK_GRAFT_BUCKETS`` overrides for explicit cluster sizing.
        """
        import shutil
        if buckets is None:
            buckets = self._derive_bucket_count()
        self.spark.sql(f"DROP DATABASE IF EXISTS {database} CASCADE")
        # clear an orphaned location left by a previous session (managed
        # tables refuse to overwrite an unregistered directory)
        wh = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse")
        shutil.rmtree(f"{wh.removeprefix('file:')}/{database}.db",
                      ignore_errors=True)
        self.spark.sql(f"CREATE DATABASE {database}")
        meta = []
        for label, df in self.node_tables.items():
            df.write.mode("overwrite") \
                .bucketBy(buckets, "_id").sortBy("_id") \
                .saveAsTable(f"{database}.nodes_{label.lower()}")
            meta.append(("node", label.lower(), label))
        for rel, df in self.edge_tables.items():
            df.write.mode("overwrite") \
                .bucketBy(buckets, "_src").sortBy("_src") \
                .saveAsTable(f"{database}.edges_{rel.lower()}")
            meta.append(("edge", rel.lower(), rel))
        self.spark.createDataFrame(
            meta, ["kind", "table_key", "name"]) \
            .write.mode("overwrite").saveAsTable(f"{database}.graph_meta")

    def _derive_bucket_count(self) -> int:
        """Scale-adaptive bucket count: one per ~128 MB of footer-known
        input, snapped up to a power of two, floor 8 (env
        ``SPARK_GRAFT_BUCKETS`` wins when set). Computed over the WHOLE
        graph so every table shares the count — a traversal join
        between tables bucketed with different counts would reintroduce
        the exchange this layout exists to remove."""
        import os
        env = os.environ.get("SPARK_GRAFT_BUCKETS")
        if env:
            try:
                return max(1, int(env))
            except ValueError:
                raise ValueError(
                    f"SPARK_GRAFT_BUCKETS must be an integer, "
                    f"got {env!r}") from None
        from redisgraph_spark.session import plan_input_bytes
        total = 0
        for df in list(self.node_tables.values()) + \
                list(self.edge_tables.values()):
            b = plan_input_bytes(df)
            if b >= (1 << 62):      # sentinel = stats unknown (e.g. a
                                    # LogicalRDD from createDataFrame):
                return 64           # ANY statless table makes the byte
                                    # total partial, so deriving from it
                                    # would undersize the count — keep
                                    # the pre-derivation default
            total += b
        if total == 0:
            return 64               # empty graph / no tables
        n = 8
        while n < (1 << 20) and n * (128 << 20) < total:
            n <<= 1
        return n

    @classmethod
    def load_bucketed(cls, spark: SparkSession, database: str,
                      rel_endpoints: Mapping[str, tuple] | None = None
                      ) -> "Graph":
        """Load a bucketed graph; bucket metadata keeps traversal joins
        exchange-free. ``rel_endpoints`` passes the same endpoint-label
        hints the original graph carried so the planner elides the same
        existence joins."""
        nodes = {}
        edges = {}
        meta = {(r["kind"], r["table_key"]): r["name"]
                for r in spark.table(f"{database}.graph_meta").collect()}
        for (kind, key), name in meta.items():
            if kind == "node":
                nodes[name] = spark.table(f"{database}.nodes_{key}")
            else:
                edges[name] = spark.table(f"{database}.edges_{key}")
        g = cls(spark, nodes, edges, rel_endpoints=rel_endpoints)
        if g._small_input:
            # RAM-resident under the small gate (InMemoryTableScan
            # keeps the bucketed child's partitioning, so exchange-free
            # joins survive); lazy — materialized by the load phase
            for df in list(nodes.values()) + list(edges.values()):
                df.persist()
        return g

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Graph":
        import os
        nodes = {}
        edges = {}
        ndir = os.path.join(path, "nodes")
        edir = os.path.join(path, "edges")
        if os.path.isdir(ndir):
            for label in sorted(os.listdir(ndir)):
                nodes[label] = spark.read.parquet(os.path.join(ndir, label))
        if os.path.isdir(edir):
            for rel in sorted(os.listdir(edir)):
                edges[rel] = spark.read.parquet(os.path.join(edir, rel))
        return cls(spark, nodes, edges)
