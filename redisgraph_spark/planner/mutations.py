"""Graph mutations: CREATE / MERGE / SET / DELETE as table rewrites.

Reference semantics: mutations buffer during consume and commit atomically
under the single writer lock (``/root/reference/src/execution_plan/ops/
op_create.c:21,49-116``, ``op_update.c:66-100``, ``op_delete.c``,
``op_merge.c:24-64``; lock discipline ``src/commands/cmd_query.c:214-233``).
Spark-native: each mutation derives new node/edge DataFrames and swaps
them into the Graph atomically at the end of the query — the DataFrame
immutability gives us the buffered-commit semantics for free; at cluster
scale the swap would be a Delta/Iceberg transactional commit.

Mutation statistics mirror ``src/resultset/resultset_statistics.h:12-20``.
"""

from __future__ import annotations

import itertools
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.cypher import ast as A
from redisgraph_spark.planner.expressions import VarInfo

_id_counter = itertools.count(10_000_000_000_000_000)


def _fresh_ids(n: int) -> list[int]:
    return [next(_id_counter) for _ in range(n)]


# Distributed id allocation for per-row CREATE/MERGE: each created
# element gets a driver-reserved block, and rows take
# block + monotonically_increasing_id() (partition_id * 2^33 + row).
# Collision-free (unlike content hashes, which repeat for identical
# rows) and overflow-free (unlike abs(hash)+offset, which wraps past
# 2^63 under ANSI mode).  Stride 2^46 supports up to 2^13 partitions
# per created batch.  Mono ids are pinned by the eager localCheckpoint
# of the batch before any table union, so they never recompute.
_BLOCK_BASE = 4_600_000_000_000_000_000
_BLOCK_STRIDE = 1 << 46
_block_counter = itertools.count(0)


def _alloc_block() -> int:
    return _BLOCK_BASE + next(_block_counter) * _BLOCK_STRIDE


# the most rows of a keyed SET or DELETE set held as literals
# (`_KeySet`); a larger set is pinned on the executors
_KEY_CAP = 1024


def _bounded_collect(df: DataFrame, n: int) -> list:
    """At most ``n`` rows of ``df`` in one Spark job. ``limit(n).collect()``
    and ``take``/``isEmpty`` go through ``executeTake``, which scans one
    partition first and the rest in later jobs; coalescing the limit to
    one partition gathers every partition's share in the same job."""
    return df.limit(n).coalesce(1).collect()


class _KeySet:
    """A keyed SET or DELETE set, pinned once for every table it
    rewrites. Its first column is the key (an entity id), deduped;
    further columns are values (a SET's new property values).

    A set of at most ``_KEY_CAP`` rows whose cells render as SQL
    literals is held as those literals: a rewrite tests ``key IN (…)``
    and looks values up in a map literal, a Filter or Project in the
    table's own scan stage that runs no broadcast job when the table is
    read. Any other set is pinned by ``localCheckpoint`` and a rewrite
    joins its broadcast (the cluster-scale form)."""

    def __init__(self, plan: DataFrame, rows: list | None):
        """``rows``: the plan's collected rows, or None; None or more
        than ``_KEY_CAP`` rows pin the plan on the executors."""
        from redisgraph_spark.session import _escaped_literals, sql_cells
        self.key = plan.columns[0]
        self.types = {f.name: f.dataType for f in plan.schema.fields}
        self.lits, self.df = None, None
        if rows is not None and len(rows) <= _KEY_CAP:
            first: dict = {}
            for r in rows:
                first.setdefault(r[0], r)
            self.lits = sql_cells(
                list(first.values()),
                [t.simpleString() for t in self.types.values()],
                _escaped_literals(plan.sparkSession))
        if self.lits is not None:
            self.n = len(self.lits)
        else:
            self.df = plan.dropDuplicates([self.key]) \
                .localCheckpoint(eager=True)
            self.n = self.df.count()

    def _member(self, *cols: str):
        """Whether any of ``cols`` holds a key: false, never null, so a
        Filter keeps the rows an anti join keeps."""
        if not self.lits:
            return F.lit(False)
        keys = ", ".join(r[0] for r in self.lits)
        return F.expr(" OR ".join(
            f"coalesce(`{c}` IN ({keys}), false)" for c in cols))

    def drop_from(self, tbl: DataFrame, *cols: str) -> DataFrame:
        """``tbl`` without the rows whose ``cols`` hold a key."""
        if self.lits is not None:
            return tbl.filter(~self._member(*cols))
        for c in cols:
            tbl = tbl.join(F.broadcast(self.df),
                           tbl[c] == self.df[self.key], "left_anti")
        return tbl

    def keep_in(self, tbl: DataFrame, *cols: str) -> DataFrame:
        """The rows of ``tbl`` whose ``cols`` hold a key; on the scale
        path one equi semi join per column, each row once."""
        if self.lits is not None:
            return tbl.filter(self._member(*cols))
        parts, rest = [], tbl
        for c in cols:
            # a row an earlier column matched is left out of later ones
            k = F.broadcast(self.df.select(F.col(self.key).alias(c)))
            parts.append(rest.join(k, c, "left_semi"))
            rest = rest.join(k, c, "left_anti")
        return reduce(DataFrame.unionByName, parts)

    def update(self, tbl: DataFrame, cols) -> DataFrame:
        """``tbl`` with ``cols(hit, value)`` set: ``hit`` is whether a
        row's ``_id`` is a key and ``value(name)`` that key's value in
        column ``name``."""
        if self.lits is not None:
            at = {c: i for i, c in enumerate(self.types) if i}

            def value(c):
                pairs = ", ".join(f"{r[0]}, {r[at[c]]}" for r in self.lits)
                return F.expr(f"try_element_at(map({pairs}), `_id`)")
            return tbl.withColumns(cols(self._member("_id"), value))
        out = tbl.join(F.broadcast(self.df),
                       tbl["_id"] == self.df[self.key], "left")
        return out.withColumns(cols(F.col(self.key).isNotNull(), F.col)) \
            .drop(*self.types)


def _key_sets(plans: dict[str, DataFrame]) -> dict[str, _KeySet]:
    """Pin each keyed plan (its first column non-null) as a `_KeySet`.
    Every plan whose types render as literals collects up to
    ``_KEY_CAP + 1`` rows, all in ONE job (plans of one schema share a
    union); a plan over the cap is pinned on the executors."""
    from redisgraph_spark.session import LITERAL_TYPES
    small = {k: p for k, p in plans.items()
             if all(f.dataType.simpleString() in LITERAL_TYPES
                    for f in p.schema.fields)}
    rows: dict[str, list] = {k: [] for k in small}
    same = len({p.schema.simpleString() for p in small.values()}) == 1
    for batch in ([small] if same else [{k: p} for k, p in small.items()]):
        tagged = [p.limit(_KEY_CAP + 1).select(F.lit(k).alias("__k"), "*")
                  for k, p in batch.items()]
        # each branch is bounded already; one partition makes it 1 job
        for r in reduce(DataFrame.union, tagged).coalesce(1).collect():
            rows[r[0]].append(r[1:])
    return {k: _KeySet(p, rows.get(k)) for k, p in plans.items()}


def _defer_pin(g, kind: str, name: str, df: DataFrame) -> DataFrame:
    """Swap a rewritten table in WITHOUT checkpointing it.

    Even a lazy ``localCheckpoint`` forces full physical planning
    (DataFrame->RDD) at mutation time — ~0.2s of pure Catalyst analysis
    per rewritten table on a warm session.  The rewrite plan itself is
    deterministic (the previous pinned table under a `_KeySet`'s
    literal filter or projection, or joined with its pinned set), so it
    is safe to store the plain lazy plan and let the next action that
    reads the table fuse the rewrite into its own job.  To bound
    lineage growth under long mutation scripts, every 4th chained
    rewrite of the same table gets a (lazy) checkpoint, which resets
    the chain."""
    key = (kind, name)
    depth = g._rewrite_depth.get(key, 0) + 1
    if depth >= 4:
        g._rewrite_depth[key] = 0
        return df.localCheckpoint(eager=False)
    g._rewrite_depth[key] = depth
    return df


def apply_mutation(planner, ctx, clause) -> DataFrame | None:
    # mutated tables invalidate the graph's unified-scan cache so later
    # clauses in this same query see the new state (read-your-writes)
    planner.graph._scan_cache.clear()
    try:
        if isinstance(clause, A.CreateClause):
            return _create(planner, ctx, clause)
        if isinstance(clause, A.SetClause):
            return _set(planner, ctx, clause)
        if isinstance(clause, A.RemoveClause):
            return _remove(planner, ctx, clause)
        if isinstance(clause, A.DeleteClause):
            return _delete(planner, ctx, clause)
        if isinstance(clause, A.MergeClause):
            return _merge(planner, ctx, clause)
        raise ValueError(type(clause).__name__)
    finally:
        planner.graph._scan_cache.clear()


# ---------------------------------------------------------------- CREATE
def _const_eval(planner, e: A.Expr, pending: dict | None = None):
    """Driver-side evaluation of a constant expression (literals,
    parameters, list/neg compositions) — the constant-folding subset a
    standalone CREATE can use. ``pending`` resolves property references
    to nodes declared EARLIER in the same CREATE
    (``CREATE (a {id: 0}), ({num: a.id})`` — the reference evaluates
    the second pattern with `a`'s record already pending)."""
    if isinstance(e, A.Literal):
        return e.value
    if isinstance(e, A.Parameter):
        return planner.params[e.name]
    if isinstance(e, A.ListLiteral):
        return [_const_eval(planner, x, pending) for x in e.items]
    if isinstance(e, A.Unary) and e.op in ("-", "+"):
        v = _const_eval(planner, e.operand, pending)
        return -v if e.op == "-" else v
    if pending is not None and isinstance(e, A.Property) \
            and isinstance(e.subject, A.Variable) \
            and e.subject.name in pending:
        return pending[e.subject.name][1].get(e.key)
    # temporal constructors/arithmetic fold through the expression
    # compiler's kernel-backed const_eval (CREATE ({d: date('…')}))
    from .expressions import ExprCompiler, _NotConst
    from ..functions.temporal_kernel import TemporalError
    try:
        comp = ExprCompiler(None, {}, planner.params,
                            getattr(planner, "query_time_ms", None))
        return comp.const_eval(e)
    except TemporalError:
        raise
    except (_NotConst, Exception):
        pass
    raise ValueError(
        "CREATE property values must be constant (literals, parameters, "
        "lists) when creating outside a MATCH context")


def _eval_props(planner, ctx, props: list[tuple[str, A.Expr]],
                pending: dict | None = None) -> dict:
    return {k: _const_eval(planner, v, pending) for k, v in props}


def _widen_numeric(a, b) -> str:
    """SQL type for a numeric-vs-numeric column conflict: two integral
    types widen to LONG (reference integers are int64 SIValues —
    widening 991 to 991.0 corrupts max()/sum() results); anything
    fractional widens to double. The numeric step of `_conform`."""
    import pyspark.sql.types as T
    integral = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    return "bigint" if isinstance(a, integral) \
        and isinstance(b, integral) else "double"


def _conform(cur, cur_t, new, new_t):
    """The one rule for a property column whose stored type ``cur_t``
    differs from an incoming value type ``new_t`` — SET onto a column
    and created rows appended to a table both use it. Returns
    ``(cur, new)`` re-typed to one shared type; a side that needs no
    change comes back as the same object. Schemaless reference
    semantics: one property key holds any SIValue type
    (graph_entity.h:48-58). In order:

    - a null side takes the other side's type (``SET p = NULL`` keeps
      the column type);
    - numerics widen (`_widen_numeric`);
    - temporal structs and native DATE/TIMESTAMP columns all lift to
      the canonical temporal struct (a string demotion would store the
      struct's rendering and later temporal ops would error);
    - a variant side, or two scalar / scalar-array types, become the
      per-value variant encoding (variants pass through);
    - anything else demotes both sides to string."""
    import pyspark.sql.types as T
    from .temporal_cols import TEMPORAL_TYPE, from_native, is_temporal_type
    from .variant import is_variant_type, to_variant, variantable
    numeric = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
               T.DoubleType, T.FloatType, T.DecimalType)
    native = (T.DateType, T.TimestampType, T.TimestampNTZType)
    if cur_t == new_t:
        return cur, new
    if isinstance(new_t, T.NullType):
        return cur, new.cast(cur_t)
    if isinstance(cur_t, T.NullType):
        return cur.cast(new_t), new
    if isinstance(cur_t, numeric) and isinstance(new_t, numeric):
        wide = _widen_numeric(cur_t, new_t)
        return (cur if cur_t.simpleString() == wide else cur.cast(wide),
                new.cast(wide))
    if all(is_temporal_type(t) or isinstance(t, native)
           for t in (cur_t, new_t)):
        def lift(c, t):
            return c.cast(TEMPORAL_TYPE) if is_temporal_type(t) \
                else from_native(c, t)
        return lift(cur, cur_t), lift(new, new_t)
    if is_variant_type(cur_t) or is_variant_type(new_t) or \
            (variantable(cur_t) and variantable(new_t)):
        return to_variant(cur, cur_t), to_variant(new, new_t)
    return cur.cast("string"), new.cast("string")


def _union_into(tbl: DataFrame | None, rows: DataFrame) -> DataFrame:
    """Append created rows to a node or edge table — the one way new
    rows reach a table. A column both sides carry with different types
    is re-typed on both sides by `_conform` (CREATE (:L {p: 1}) after
    (:L {p: 'x'}) builds a variant column; a date() into a native DATE
    column lifts the column to the temporal struct); a column only one
    side carries null-fills."""
    if tbl is None:
        return rows
    tt = {f.name: f.dataType for f in tbl.schema.fields}
    tbl_cols = {name: F.col(name) for name in tt}
    row_cols = []
    conflict = tbl_changed = False
    for f in rows.schema.fields:
        t, rc = tt.get(f.name), F.col(f.name)
        if t is not None and t != f.dataType:
            cur, rc = _conform(tbl_cols[f.name], t, rc, f.dataType)
            if cur is not tbl_cols[f.name]:
                tbl_cols[f.name] = cur.alias(f.name)
                tbl_changed = True
            rc = rc.alias(f.name)
            conflict = True
        row_cols.append(rc)
    if tbl_changed:
        tbl = tbl.select(list(tbl_cols.values()))
    if conflict:
        rows = rows.select(row_cols)
    return tbl.unionByName(rows, allowMissingColumns=True)


def _invalidate_rels(g, rtypes) -> None:
    """Creating edges of a type can break that type's endpoint-label
    guarantee — drop just those hint entries. Node creation and ALL
    deletions are monotone w.r.t. the `src/dst labels ⊆ S` invariants
    and keep the hints."""
    if g.rel_endpoints is None:
        return
    for r in rtypes:
        g.rel_endpoints.pop(r, None)


def _type_groups(rows: list[dict]) -> list[list[dict]]:
    """Split pending-creation row dicts so that within a group every
    key holds ONE scalar type class (long+double may mix — the inline
    builder widens them). One CREATE may give the same property key
    different types on different entities (schemaless, SIValue); each
    homogeneous group unions separately and `_union_into` reconciles
    the table column to a variant."""
    from redisgraph_spark.session import _lit_sql_type

    def cls(v):
        t = _lit_sql_type(v)
        return "num" if t in ("long", "double") else t

    groups: list[tuple[dict, list[dict]]] = []   # (key→class, rows)
    for r in rows:
        sig = {k: cls(v) for k, v in r.items() if v is not None}
        for known, members in groups:
            if all(known.get(k, c) == c for k, c in sig.items()):
                known.update(sig)
                members.append(r)
                break
        else:
            groups.append((sig, [r]))
    return [members for _, members in groups]


def _create(planner, ctx, clause: A.CreateClause) -> DataFrame | None:
    g = planner.graph
    from redisgraph_spark.planner.planner import PlanError
    for path in clause.paths:
        for el in path.elements[1::2]:
            if el.min_hops is not None:
                raise PlanError(
                    "CREATE cannot contain variable-length patterns")
            if not el.types or len(el.types) != 1:
                # NoSingleRelationshipType
                raise PlanError(
                    "CREATE requires exactly one relationship type")
            if el.direction == "both":
                # RequiresDirectedRelationship
                raise PlanError(
                    "CREATE requires a directed relationship")
            if el.var and el.var in ctx.vars:
                raise PlanError(f"Variable `{el.var}` already bound")
        for el in path.elements[::2]:
            # a bound node may be referenced bare INSIDE a longer
            # path, never re-declared — and a standalone CREATE (n)
            # of a bound variable is a redeclaration too
            # (VariableAlreadyBound, Create1[11])
            if el.var and el.var in ctx.vars and (
                    el.labels or el.props
                    or getattr(el, "has_props", False)
                    or len(path.elements) == 1):
                raise PlanError(f"Variable `{el.var}` already bound")
    _invalidate_rels(g, {(els[i].types[0] if els[i].types else "RELATED")
                         for path in clause.paths
                         for els in [path.elements]
                         for i in range(1, len(els), 2)})
    spark = g.spark
    if ctx.df is not None and not _driver_creatable(planner, ctx, clause):
        for path in clause.paths:
            _create_path_rows(planner, ctx, path, per_row=True)
        return None
    nodes_created = 0
    edges_created = 0
    from redisgraph_spark.session import inline_rows_df
    # pass 1: collect every node element across ALL paths — a variable
    # shared between paths in one CREATE is the same node (first
    # occurrence declares label/props; later occurrences are bare refs);
    # anonymous elements get positional symbols so edges can wire to
    # them (reference buffers pending creations keyed by alias,
    # ops/shared/create_functions.c)
    pending_nodes: dict[str, tuple[str, dict]] = {}  # var -> (label, props)
    path_vars: list[list[str]] = []
    for path in clause.paths:
        vars_: list[str] = []
        for el in path.elements[::2]:
            var = el.var or planner.sym("cn")
            vars_.append(var)
            if var not in pending_nodes:
                labels = tuple(el.labels) if el.labels else ("",)
                pending_nodes[var] = (
                    labels,
                    _eval_props(planner, ctx, el.props, pending_nodes))
            elif el.labels or el.props or getattr(el, "has_props",
                                                  False):
                # later occurrences must be bare references
                raise PlanError(f"Variable `{var}` already declared")
        path_vars.append(vars_)
    ids = dict(zip(pending_nodes, _fresh_ids(len(pending_nodes))))
    by_label: dict[str, list[dict]] = {}
    for var, (labels, props) in pending_nodes.items():
        # a multi-label node (CREATE (:A:B)) is ONE node whose row
        # lives in every labeled table (reference multi-label nodes,
        # src/graph/entities/node.h); unified scans then dedup by id
        # and carry a _labels array (Graph._multilabel)
        for label in labels:
            by_label.setdefault(label, []).append(
                {"_id": ids[var], **props})
        if len(labels) > 1:
            g._multilabel = True
    for label, rows in by_label.items():
        for group in _type_groups(rows):
            df = inline_rows_df(spark, group)
            if df is None:
                df = spark.createDataFrame(group)
            g.node_tables[label] = _union_into(
                g.node_tables.get(label), df)
    nodes_created += len(pending_nodes)
    # pass 2: edges, batched per relation type
    edge_rows: dict[str, list[dict]] = {}
    named_edges: dict[str, tuple[str, dict]] = {}
    for path, vars_ in zip(clause.paths, path_vars):
        els = path.elements
        i = 1
        while i < len(els):
            rel: A.RelPattern = els[i]
            rtype = rel.types[0] if rel.types else "RELATED"
            props = _eval_props(planner, ctx, rel.props)
            src_id = ids[vars_[(i - 1) // 2]]
            dst_id = ids[vars_[(i + 1) // 2]]
            if rel.direction == "in":
                src_id, dst_id = dst_id, src_id
            row = {"_id": _fresh_ids(1)[0], "_src": src_id, "_dst": dst_id,
                   **props}
            edge_rows.setdefault(rtype, []).append(row)
            if rel.var:
                named_edges[rel.var] = (rtype, row)
            i += 2
    for rtype, rows in edge_rows.items():
        for group in _type_groups(rows):
            df = inline_rows_df(spark, group)
            if df is None:
                df = spark.createDataFrame(group)
            g.edge_tables[rtype] = _union_into(
                g.edge_tables.get(rtype), df)
        edges_created += len(rows)
    # bind explicitly-named created entities so a following RETURN/SET
    # can reference them (CREATE (n) RETURN n — the reference streams
    # the created record onward, op_create.c consume)
    _bind_created(planner, ctx, clause, pending_nodes, ids, named_edges)
    planner.stats["nodes_created"] = \
        planner.stats.get("nodes_created", 0) + nodes_created
    planner.stats["relationships_created"] = \
        planner.stats.get("relationships_created", 0) + edges_created
    planner.graph._scan_cache.clear()
    return None


def _driver_creatable(planner, ctx, clause: A.CreateClause) -> bool:
    """A CREATE in a pipeline can use the cheap driver-side path when it
    references nothing from the pipeline, every property is constant,
    and the input is a single row (the chained standalone-CREATE shape —
    dozens of CREATE clauses in one query would otherwise pay a
    checkpoint per clause)."""
    for path in clause.paths:
        for el in path.elements:
            if el.var and el.var in ctx.vars:
                return False
            for _k, v in el.props:
                try:
                    _const_eval(planner, v)
                except Exception:
                    return False
    try:
        return len(ctx.df.take(2)) == 1
    except Exception:
        return False


def _lit_col(v):
    """A constant value as a typed Column (None → string-typed null so
    the struct field stays addressable)."""
    if v is None:
        return F.lit(None).cast("string")
    if isinstance(v, (list, tuple)):
        if not v:
            return F.array().cast("array<string>")
        return F.array(*[_lit_col(x) for x in v])
    return F.lit(v)


def _bind_created(planner, ctx, clause, pending_nodes, ids,
                  named_edges) -> None:
    """After a standalone CREATE, bind the explicitly-named entities as
    one-row struct columns so later clauses (RETURN/SET/DELETE in the
    same query) can reference them (the reference streams the created
    record onward — op_create.c consume)."""
    explicit = {el.var for path in clause.paths
                for el in path.elements[::2] if el.var}
    cols = []
    infos: dict[str, VarInfo] = {}
    for var in explicit:
        labels, props = pending_nodes[var]
        first = labels[0]
        fields = [F.lit(ids[var]).alias("_id"),
                  F.lit(first if first else None).alias("_label")]
        if len(labels) > 1:
            # labels()/label predicates read the _labels array when
            # present — creation order preserved (Graph3[2])
            fields.append(F.array(*[F.lit(l) for l in labels])
                          .alias("_labels"))
        fields += [_lit_col(v).alias(k) for k, v in props.items()]
        cols.append(F.struct(*fields).alias(var))
        info = VarInfo("node", tuple(props))
        if first:
            info.labels = tuple(l for l in labels if l)
        infos[var] = info
    for var, (rtype, row) in named_edges.items():
        fields = [F.lit(row["_id"]).alias("_id"),
                  F.lit(row["_src"]).alias("_src"),
                  F.lit(row["_dst"]).alias("_dst"),
                  F.lit(rtype).alias("_rel")]
        fields += [_lit_col(v).alias(k) for k, v in row.items()
                   if k not in ("_id", "_src", "_dst")]
        cols.append(F.struct(*fields).alias(var))
        info = VarInfo("edge", tuple(k for k in row
                                     if k not in ("_id", "_src", "_dst")))
        info.labels = (rtype,)
        infos[var] = info
    if not cols:
        return
    base = planner._unit_df().select(cols)
    if ctx.df is None:
        ctx.df = base
    else:
        ctx.df = ctx.df.crossJoin(base)
    ctx.vars.update(infos)


# ------------------------------------------------------------------- SET
def _candidate_tables(g, info, tables) -> list:
    """Tables a bound variable's entities can live in — label/rel-type
    hints recorded at pattern-bind time restrict mutation rewrites to
    the affected tables (multilabel graphs keep the conservative
    all-tables path: one id may live in several label tables)."""
    cand = getattr(info, "labels", None)
    if not cand or (info.kind == "node" and g._multilabel):
        return list(tables.items())
    return [(n, tables[n]) for n in cand if n in tables]


def _set(planner, ctx, clause: A.SetClause) -> DataFrame | None:
    """SET n.prop = expr — rewrite the affected label tables: matched rows
    get the new value, others keep theirs (reference buffers then commits
    all-at-once: ``ops/op_update.c:66-100``). ``SET p = NULL`` removes the
    property (``docs/cypher_support.md:66-68``).

    Map and entity items expand to one ``n.key = value`` item per key.
    Every item is validated before the first write; SET-label items
    apply first. Each run of consecutive items on one variable
    (``SET n += {…}``, ``SET n.a = …, n.b = …``) pins ONE update set,
    one value column per key, and rewrites each candidate table once;
    runs apply in clause order, so a later item wins on the same entity
    and key. Every value is evaluated against the pre-update record."""
    g = planner.graph
    comp = planner.compiler(ctx)
    props_set = 0
    labels = []
    expanded = []
    for item in clause.items:
        if isinstance(item, A.LabelItem):
            labels.append(item)
            continue
        if isinstance(item.target, A.Variable) and \
                isinstance(item.value, A.MapLiteral):
            # SET n += {k: v, …} merges (MERGE_PROPERTIES); SET n = {…}
            # replaces — clear every other existing property first
            # (UPDATE_REPLACE, ast_build_op_contexts.c:59-72,
            # update_functions.c:167-177)
            if item.op == "=":
                map_keys = {k for k, _ in item.value.items}
                info = ctx.vars.get(item.target.name)
                for k in (info.fields if info is not None else ()):
                    if k not in map_keys:
                        expanded.append(A.SetItem(
                            A.Property(item.target, k), A.Literal(None), "="))
            for k, v in item.value.items:
                expanded.append(A.SetItem(
                    A.Property(item.target, k), v, "="))
        elif isinstance(item.target, A.Variable) and \
                isinstance(item.value, A.Variable) and \
                ctx.vars.get(item.value.name) is not None and \
                ctx.vars[item.value.name].kind in ("node", "edge"):
            # SET n = m / SET n += m copies the source ENTITY's
            # properties (update_functions.c:167-196 — openCypher
            # Merge6/7 "Copying properties from node"): per-row, a
            # null source property clears/stays-absent on the target
            src = item.value.name
            src_fields = ctx.vars[src].fields
            if item.op == "=":
                tinfo = ctx.vars.get(item.target.name)
                for k in (tinfo.fields if tinfo is not None else ()):
                    if k not in src_fields:
                        expanded.append(A.SetItem(
                            A.Property(item.target, k),
                            A.Literal(None), "="))
            for k in src_fields:
                expanded.append(A.SetItem(
                    A.Property(item.target, k),
                    A.Property(A.Variable(src), k), "="))
        else:
            expanded.append(item)
    for item in expanded:
        if not isinstance(item.target, A.Property) or \
                not isinstance(item.target.subject, A.Variable):
            raise ValueError("SET supports n.prop = expr and n += {map}")
        var = item.target.subject.name
        if var not in ctx.vars:
            raise ValueError(f"'{var}' not defined")
        if isinstance(item.value, A.ListLiteral) and any(
                isinstance(x, A.MapLiteral) for x in item.value.items):
            # a list of maps is not a storable property type
            # (openCypher Set1[10] InvalidPropertyType)
            raise ValueError(
                "Cannot set a list containing maps as a property "
                "(InvalidPropertyType)")
    for item in labels:
        _add_labels(planner, ctx, item)
    refresh: dict[str, dict[str, object]] = {}   # var -> key -> value
    for var, run in itertools.groupby(
            expanded, key=lambda it: it.target.subject.name):
        run = list(run)
        vals = {it.target.key: comp.compile(it.value) for it in run}
        refresh.setdefault(var, {}).update(vals)
        ucols = {key: f"__u{i}" for i, key in enumerate(vals)}
        # the update set keyed by entity id, pinned once: every
        # candidate-table rewrite then reads it instead of re-running
        # the whole match pipeline per consumer
        upd = _key_sets({"u": ctx.df.select(
            F.col(f"{var}._id").alias("__uid"),
            *[vals[key].alias(c) for key, c in ucols.items()])
            .filter(F.col("__uid").isNotNull())})["u"]
        info = ctx.vars[var]
        kind = "node" if info.kind == "node" else "edge"
        tables = g.node_tables if kind == "node" else g.edge_tables
        for name, tbl in (_candidate_tables(g, info, tables)
                          if upd.n else []):
            def cols(hit, value, tbl=tbl):
                out = {}
                for key, c in ucols.items():
                    uval = value(c)
                    if key in tbl.columns:
                        # heterogeneous-type SET: the append rule
                        # (SURVEY §7.3)
                        cur, uval = _conform(
                            F.col(key), tbl.schema[key].dataType,
                            uval, upd.types[c])
                        out[key] = F.when(hit, uval).otherwise(cur)
                    else:
                        out[key] = F.when(hit, uval)
                return out
            # deterministic rewrite: swap in the lazy plan; _defer_pin
            # bounds lineage depth (VERDICT r6 #3 — a 5-query mutation
            # script schedules ~half the jobs this way)
            tables[name] = _defer_pin(g, kind, name, upd.update(tbl, cols))
        props_set += upd.n * len(run)
    # read-your-writes: later clauses (RETURN a.age after SET) must see
    # the update — rebuild the bound struct columns in the pipeline
    # (the reference streams records through Update with the entity
    # already modified, op_update.c:66-100). One projection rebuilds
    # every variable, so each value still reads the PRE-update record,
    # matching the reference's buffer-then-commit evaluation order.
    tail = getattr(planner, "_tail_refs", None)
    structs = {}
    for var, vals in refresh.items():
        if tail is not None and var not in tail:
            # nothing after this clause reads the variable — the
            # struct rebuild would be dead plan weight
            continue
        names = [f.name for f in ctx.df.schema[var].dataType.fields]
        cols = [vals.get(fn, F.col(var).getField(fn)).alias(fn)
                for fn in names]
        cols += [v.alias(k) for k, v in vals.items() if k not in names]
        # a null entity (failed OPTIONAL MATCH) is not updated — SET on
        # null is a no-op and the variable stays null
        structs[var] = F.when(F.col(f"{var}._id").isNotNull(),
                              F.struct(*cols)).otherwise(F.lit(None))
        info = ctx.vars[var]
        info.fields = info.fields + tuple(k for k in vals
                                          if k not in info.fields)
    if structs:
        ctx.df = ctx.df.withColumns(structs)
    planner.stats["properties_set"] = \
        planner.stats.get("properties_set", 0) + props_set
    planner.graph._scan_cache.clear()
    return None


# ---------------------------------------------------------- SET/REMOVE label
def _matched_rows(planner, ctx, var: str) -> DataFrame:
    """Matched entities as flat rows ``(_id, <props>)`` from the bound
    struct column."""
    info = ctx.vars[var]
    cols = [F.col(f"{var}._id").alias("_id")] + [
        F.col(var).getField(f).alias(f) for f in info.fields]
    return ctx.df.select(cols).dropDuplicates(["_id"])


def _refresh_label_struct(ctx, var: str, add: list[str] | None = None,
                          remove: list[str] | None = None) -> None:
    """Read-your-writes for SET/REMOVE label: rebuild the bound struct
    so a later RETURN in the same query sees the new label set (the
    reference streams the record through op_update with labels already
    applied). The struct gains a ``_labels`` array if it had none."""
    if ctx.df is None or var not in ctx.df.columns:
        return
    dt = ctx.df.schema[var].dataType
    names = [f.name for f in dt.fields]
    if "_labels" in names:
        old = F.col(f"{var}._labels")
    else:
        old = F.filter(
            F.array(F.coalesce(F.col(f"{var}._label"), F.lit(""))),
            lambda x: x != F.lit(""))
    arr = old
    if add:
        arr = F.array_union(arr, F.array(*[F.lit(l) for l in add]))
    if remove:
        arr = F.array_except(arr, F.array(*[F.lit(l) for l in remove]))
    cols = []
    inserted = False
    for fn in names:
        if fn == "_labels":
            cols.append(arr.alias("_labels"))
            inserted = True
        else:
            cols.append(F.col(var).getField(fn).alias(fn))
        if fn == "_label" and "_labels" not in names:
            cols.append(arr.alias("_labels"))
            inserted = True
    if not inserted:
        cols.append(arr.alias("_labels"))
    ctx.df = ctx.df.withColumn(
        var, F.when(F.col(f"{var}._id").isNotNull(),
                    F.struct(*cols)).otherwise(F.lit(None)))


def _add_labels(planner, ctx, item: A.LabelItem) -> None:
    """``SET n:Label`` — the node's row is copied into each target label
    table (multi-label nodes, reference ``src/graph/entities/node.h``;
    ``GraphContext_AddNodeToLabel``). Flips the graph into multilabel
    mode: unified scans dedup by id and expose a ``_labels`` array."""
    g = planner.graph
    g.rel_endpoints = None  # topology changed: hints invalid
    rows = _matched_rows(planner, ctx, item.var)
    added = 0
    for label in item.labels:
        tbl = g.node_tables.get(label)
        if tbl is None:
            g.node_tables[label] = rows.localCheckpoint(eager=True)
            added += g.node_tables[label].count()
            continue
        new = rows.join(F.broadcast(tbl.select("_id")), "_id", "left_anti")
        n = new.count()
        if n:
            g.node_tables[label] = _union_into(
                tbl, new).localCheckpoint(eager=True)
            added += n
    if added:
        g._multilabel = True
        planner.stats["labels_added"] = \
            planner.stats.get("labels_added", 0) + added
    g._scan_cache.clear()
    _refresh_label_struct(ctx, item.var, add=item.labels)


def _remove_labels(planner, ctx, item: A.LabelItem) -> None:
    """``REMOVE n:Label`` — drop the node's row from the label table; a
    node left with no label at all moves to the unlabeled ("") table so
    it keeps existing (reference zero-label nodes)."""
    g = planner.graph
    g.rel_endpoints = None  # topology changed: hints invalid
    rows = _matched_rows(planner, ctx, item.var)
    ids = rows.select("_id")
    removed = 0
    for label in item.labels:
        tbl = g.node_tables.get(label)
        if tbl is None:
            continue
        before = tbl.count()
        kept = tbl.join(F.broadcast(ids), tbl["_id"] == ids["_id"],
                        "left_anti").localCheckpoint(eager=True)
        removed += before - kept.count()
        g.node_tables[label] = kept
    # orphaned ids (in no table any more) → unlabeled table
    still = None
    for name, tbl in g.node_tables.items():
        s = tbl.select("_id")
        still = s if still is None else still.unionByName(s)
    orphans = rows if still is None else rows.join(
        F.broadcast(still.dropDuplicates()), "_id", "left_anti")
    n_orph = orphans.count()
    if n_orph:
        g.node_tables[""] = _union_into(
            g.node_tables.get(""), orphans).localCheckpoint(eager=True)
    if removed:
        planner.stats["labels_removed"] = \
            planner.stats.get("labels_removed", 0) + removed
    g._scan_cache.clear()
    _refresh_label_struct(ctx, item.var, remove=item.labels)


def _remove(planner, ctx, clause: A.RemoveClause) -> DataFrame | None:
    """REMOVE n.prop ≡ SET n.prop = NULL (the reference's only removal
    spelling, ``docs/cypher_support.md:66-68``); REMOVE n:Label drops
    label membership."""
    set_items = []
    for item in clause.items:
        if isinstance(item, A.LabelItem):
            _remove_labels(planner, ctx, item)
        else:
            set_items.append(A.SetItem(item, A.Literal(None), "="))
    if set_items:
        _set(planner, ctx, A.SetClause(set_items))
    return None


# ----------------------------------------------------------------- DELETE
def _delete_kind(ctx, e) -> str | None:
    """Structural entity-kind proof for a DELETE target expression:
    ``'node'|'edge'|'path'`` when provably an entity, ``'other'`` when
    provably NOT (e.g. a map literal that merely carries an ``_id``
    key — round-7 advice: shape-only sniffing deleted real rows),
    ``None`` when provenance is unknown (e.g. ``WITH {k: n} AS m``
    erases the kind — caller falls back to struct-shape sniffing,
    which keeps TCK Delete5[3-7] working)."""
    if isinstance(e, A.Variable):
        info = ctx.vars.get(e.name)
        if info is not None and info.kind in ("node", "edge", "path"):
            return info.kind
        return None
    if isinstance(e, A.Literal):
        return "other"
    if isinstance(e, (A.MapLiteral, A.ListLiteral)):
        # the container itself is never a deletable entity
        return "other"
    if isinstance(e, A.Property):
        if isinstance(e.subject, A.MapLiteral):
            for k, v in e.subject.items:
                if k == e.key:
                    return _delete_kind(ctx, v)
            return "other"          # missing key → null, but never entity
        return None
    if isinstance(e, A.Subscript):
        return _elem_kind(ctx, e.subject)
    if isinstance(e, A.CaseExpr):
        kinds = {_delete_kind(ctx, v) for _, v in e.whens}
        if e.default is not None:
            kinds.add(_delete_kind(ctx, e.default))
        return kinds.pop() if len(kinds) == 1 else None
    if isinstance(e, A.FuncCall):
        n = e.name.lower()
        if n in ("startnode", "endnode"):
            return "node"
        if n in ("head", "last") and e.args:
            return _elem_kind(ctx, e.args[0])
        return None
    return None


def _elem_kind(ctx, e) -> str | None:
    """Entity kind of the ELEMENTS of a list-valued expression (for
    ``DELETE list[i]``); same tri-state contract as _delete_kind."""
    if isinstance(e, A.FuncCall):
        n = e.name.lower()
        if n == "nodes":
            return "node"
        if n in ("relationships", "rels"):
            return "edge"
        if n == "collect" and e.args:
            return _delete_kind(ctx, e.args[0])
        return None
    if isinstance(e, A.ListLiteral):
        kinds = {_delete_kind(ctx, x) for x in e.items}
        return kinds.pop() if len(kinds) == 1 else None
    if isinstance(e, A.Property) and isinstance(e.subject, A.MapLiteral):
        for k, v in e.subject.items:
            if k == e.key:
                return _elem_kind(ctx, v)
        return "other"
    if isinstance(e, A.Subscript):
        # nested list-of-lists: element kind of the inner extraction
        return None
    return None


def _delete_target(planner, ctx, e) -> tuple[str, str] | None:
    """Type one DELETE target: ``(column, kind)`` with kind ``'node'``,
    ``'edge'`` or ``'path'`` and the column bound in ``ctx.df``, or None
    when the target is null (DELETE null is a no-op). Any expression
    that evaluates to an entity works (DELETE list[0] / map.nodes /
    nested extractions, openCypher Delete5): it is bound as a hidden
    column, typed by `_delete_kind` or, when provenance is unknown, by
    its struct shape."""
    from pyspark.sql import types as T
    bad = "DELETE expects a node, relationship or path"
    if isinstance(e, A.Variable):
        info = ctx.vars.get(e.name)
        if info is None:
            raise ValueError(f"'{e.name}' not defined")
        if info.kind != "scalar":
            return e.name, info.kind if info.kind in ("edge", "path") \
                else "node"
        try:
            if isinstance(planner.compiler(ctx).dtype(F.col(e.name)),
                          T.NullType):
                return None
        except Exception:
            pass
        raise ValueError(bad)
    comp = planner.compiler(ctx)
    col = comp.compile(e)
    try:
        dt = comp.dtype(col)
    except Exception:
        dt = None
    if isinstance(dt, T.NullType):
        return None
    if not isinstance(dt, T.StructType):
        raise ValueError(bad)
    kind = _delete_kind(ctx, e)
    if kind == "other":
        # provably not an entity (a map literal carrying an _id key
        # must not delete rows — round-7 advice)
        raise ValueError(bad)
    if kind is None:
        names = set(dt.fieldNames())
        if {"nodes", "edges"} <= names:
            kind = "path"
        elif "_src" in names:
            kind = "edge"
        elif "_id" in names:
            kind = "node"
        else:
            raise ValueError(bad)
    hidden = planner.sym("del")
    ctx.df = ctx.df.withColumn(hidden, col)
    ctx.vars[hidden] = VarInfo(kind)
    return hidden, kind


def _delete(planner, ctx, clause: A.DeleteClause) -> DataFrame | None:
    """DETACH DELETE semantics: every target of the clause is deleted at
    once, like the reference's one ``Graph_BulkDelete`` of all the
    entities a clause names (``ops/op_delete.c``,
    ``src/graph/graph.h:172-181``). Each target reduces to node ids and
    edge ids (a path gives both); each set is deduped across targets
    and pinned once as a `_KeySet` (one job pins both), a deleted node
    cascades to its incident edges (one job counts them), and each
    affected table is rewritten once. Deletion preserves the
    rel-endpoint hint invariants (monotone removal)."""
    g = planner.graph
    nodes, edges = [], []           # (id plan, VarInfo) per target
    for e in clause.exprs:
        bound = _delete_target(planner, ctx, e)
        if bound is None:
            continue
        var, kind = bound
        info = ctx.vars[var]
        if kind == "path":
            for field, out in (("nodes", nodes), ("edges", edges)):
                out.append((ctx.df.select(F.explode(
                    F.col(f"{var}.{field}._id")).alias("__did")), info))
        else:
            (nodes if kind == "node" else edges).append(
                (ctx.df.select(F.col(f"{var}._id").alias("__did")), info))
    plans = {k: reduce(DataFrame.union, [p for p, _ in parts])
             .filter(F.col("__did").isNotNull())
             for k, parts in (("n", nodes), ("e", edges)) if parts}
    keys = _key_sets(plans)
    nids, eids = keys.get("n"), keys.get("e")
    counts = {"n": 0, "e": 0, **{k: ks.n for k, ks in keys.items()}}
    # cascade candidates: rel-endpoint hints prove most relations can't
    # touch a label-bound node at all
    hints = None if g._multilabel else g.rel_endpoints

    def may_touch(name, info):
        labels = set(getattr(info, "labels", None) or ())
        h = hints.get(name) if hints and labels else None
        return h is None or bool((h[0] | h[1]) & labels)

    cascade = {name: tbl for name, tbl in g.edge_tables.items()
               if any(may_touch(name, info) for _, info in nodes)} \
        if counts["n"] else {}
    probe = _cascade_probe(cascade, nids, eids)
    doomed_by = {r["__t"]: r["__v"] for r in probe.collect()} \
        if probe is not None else {}
    if counts["n"]:
        node_tabs = dict(t for _, info in nodes
                         for t in _candidate_tables(g, info, g.node_tables))
        for name, tbl in node_tabs.items():
            g.node_tables[name] = _defer_pin(
                g, "node", name, nids.drop_from(tbl, "_id"))
    edge_tabs = dict(t for _, info in edges
                     for t in _candidate_tables(g, info, g.edge_tables)) \
        if counts["e"] else {}
    for name, tbl in list(g.edge_tables.items()):
        kept = tbl
        if name in edge_tabs:
            kept = eids.drop_from(kept, "_id")
        if doomed_by.get(name):
            kept = nids.drop_from(kept, "_src", "_dst")
        if kept is not tbl:
            # deterministic rewrite: the lazy swap-in fuses it into the
            # next action that reads the table
            g.edge_tables[name] = _defer_pin(g, "edge", name, kept)
    planner.stats["nodes_deleted"] = \
        planner.stats.get("nodes_deleted", 0) + counts["n"]
    planner.stats["relationships_deleted"] = \
        planner.stats.get("relationships_deleted", 0) + counts["e"] \
        + sum(doomed_by.values())
    planner.graph._scan_cache.clear()
    return None


def _cascade_probe(cascade: dict, nids: _KeySet | None,
                   eids: _KeySet | None) -> DataFrame | None:
    """One plan counting, per table of ``cascade``, the edges that touch
    a deleted node and are not deleted by id: rows ``(__t, __v)``,
    collected in one job. The incident test is a literal ``IN`` filter
    or equi semi joins, never a join on an OR condition (that plans a
    nested-loop join broadcasting every piece of the edge table)."""
    parts = []
    for name, tbl in cascade.items():
        hit = nids.keep_in(tbl, "_src", "_dst")
        if eids is not None:
            hit = eids.drop_from(hit, "_id")
        parts.append(hit.agg(F.count(F.lit(1)).alias("__v"))
                     .select(F.lit(name).alias("__t"), "__v"))
    return reduce(DataFrame.union, parts) if parts else None


# ------------------------------------------------------------------ MERGE
def _merge(planner, ctx, clause: A.MergeClause) -> DataFrame | None:
    """MERGE = match-else-create with ON MATCH / ON CREATE hooks
    (reference 3-stream bound/match/create design
    ``ops/op_merge.c:24-64``).

    - standalone (no input rows): match the WHOLE pattern; if absent,
      create every element (standard Cypher whole-pattern semantics);
    - after MATCH/WITH/UNWIND (per-row), whatever the pattern's shape:
      `_merge_path_per_row` matches the whole pattern per row and hands
      the unmatched rows to the one per-row creator,
      `_create_path_rows`, which dedups identical pending creations
      like MergeCreate (``ops/op_merge_create.c``).
    """
    from redisgraph_spark.planner.planner import Ctx, PlanError

    els = clause.path.elements
    for el in els[1::2]:
        if el.min_hops is not None:
            raise PlanError("MERGE cannot contain variable-length patterns")
        if not el.types or len(el.types) != 1:
            # NoSingleRelationshipType (TCK Merge5 [23]-[25])
            raise PlanError(
                "MERGE requires exactly one relationship type")
    if len(els) == 1 and els[0].var and els[0].var in ctx.vars:
        # MERGE (a) of an already-bound variable is a redeclaration
        # (VariableAlreadyBound, Merge1[15])
        raise PlanError(f"Variable `{els[0].var}` already bound")
    for el in els:
        for k, v in el.props:
            if (isinstance(v, A.Literal) and v.value is None) or \
                    (isinstance(v, A.Parameter)
                     and planner.params.get(v.name, object()) is None):
                # merging on a null property can never match nor create
                raise PlanError(
                    f"Cannot merge using null property value for `{k}`")
    # ON MATCH / ON CREATE variables must be in scope even when the
    # branch never runs (UndefinedVariable at compile time)
    from redisgraph_spark.planner.planner import _walk
    in_scope = set(ctx.vars) | {clause.path.var} | {
        getattr(el, "var", None) for el in els}
    for item in (clause.on_match or []) + (clause.on_create or []):
        target = getattr(item, "target", None)
        if target is None:
            continue
        for n in _walk(target):
            if isinstance(n, A.Variable) and n.name not in in_scope:
                raise PlanError(f"Unknown variable `{n.name}`")
    if ctx.df is None:
        probe = Ctx()
        planner._compile_path(probe, clause.path, [])
        exists = bool(_bounded_collect(probe.df.select(F.lit(1)), 1))
        if exists:
            planner._compile_path(ctx, clause.path, [])
            if clause.on_match:
                _set(planner, ctx, A.SetClause(clause.on_match))
        else:
            _create(planner, Ctx(), A.CreateClause([clause.path]))
            planner._compile_path(ctx, clause.path, [])
            if clause.on_create:
                _set(planner, ctx, A.SetClause(clause.on_create))
        return None

    # a bound variable may re-appear bare (the pattern reuses the
    # entity) but may NOT carry new labels/types/props
    # (VariableAlreadyBound, TCK Merge5 [22]); relationship variables
    # can never be rebound
    for el in els:
        if isinstance(el, A.NodePattern):
            if el.var and el.var in ctx.vars and (el.labels or el.props):
                raise PlanError(f"Variable `{el.var}` already bound")
        elif el.var and el.var in ctx.vars:
            raise PlanError(f"Variable `{el.var}` already bound")
    return _merge_path_per_row(planner, ctx, clause)


def _merge_path_per_row(planner, ctx, clause: A.MergeClause) -> None:
    """Per-input-row MERGE of any pattern, one node or a path: match the
    WHOLE pattern per row; rows without a match create every unbound
    element through `_create_path_rows` (bound variables are reused,
    standard openCypher whole-pattern semantics; identical pending
    creations dedup per ``ops/op_merge_create.c``)."""
    from redisgraph_spark.planner.planner import Ctx

    row = planner.sym("mrow")
    base = ctx.df.withColumn(row, F.monotonically_increasing_id()) \
        .localCheckpoint(eager=True)
    probe = Ctx(df=base, vars=dict(ctx.vars))
    planner._compile_path(probe, clause.path, [])
    matched_rows = probe.df.select(row).dropDuplicates() \
        .localCheckpoint(eager=True)
    unmatched = base.join(matched_rows, row, "left_anti") \
        .localCheckpoint(eager=True)
    had_unmatched = bool(_bounded_collect(unmatched, 1))
    if had_unmatched:
        _create_path_rows(planner, Ctx(df=unmatched, vars=dict(ctx.vars)),
                          clause.path)

    def rematch() -> Ctx:
        c = Ctx(df=base, vars=dict(ctx.vars))
        planner._compile_path(c, clause.path, [])
        c.df = c.df.localCheckpoint(eager=True)
        return c

    bind = rematch()
    did_set = False
    if clause.on_create and had_unmatched:
        sub = Ctx(df=bind.df.join(matched_rows, row, "left_anti"),
                  vars=dict(bind.vars))
        if _bounded_collect(sub.df, 1):
            _set(planner, sub, A.SetClause(clause.on_create))
            did_set = True
    if clause.on_match and _bounded_collect(matched_rows, 1):
        sub = Ctx(df=bind.df.join(matched_rows, row, "left_semi"),
                  vars=dict(bind.vars))
        _set(planner, sub, A.SetClause(clause.on_match))
        did_set = True
    if did_set:
        bind = rematch()  # read-your-writes for downstream clauses
    ctx.df = bind.df.drop(row)
    ctx.vars = bind.vars


def _create_path_rows(planner, ctx, path: A.PatternPath,
                      per_row: bool = False) -> None:
    """Create whole-pattern instances from ``ctx.df`` rows — the one
    per-row creator behind CREATE and MERGE (the reference's Create and
    MergeCreate ops, ``op_create.c``, ``op_merge_create.c``). Bound
    nodes are reused; every other node and edge of the pattern is
    created, a node in each of its labels, and appended through
    `_union_into`.

    With ``per_row=False`` (MERGE semantics) one instance per DISTINCT
    creation content (bound endpoint ids + unbound property values);
    MERGE then binds the result by matching again. With
    ``per_row=True`` (CREATE semantics) one instance per input row, and
    each named new node and edge is bound in ``ctx`` per row so later
    clauses (RETURN, SET, a later path of the same CREATE) can use it.
    Fresh ids are a driver-reserved block plus the pinned row index,
    which the table rows and the bound structs share; separate batches
    never collide."""
    g = planner.graph
    _invalidate_rels(g, {(el.types[0] if el.types else "RELATED")
                         for el in path.elements
                         if isinstance(el, A.RelPattern)})
    els = path.elements
    comp = planner.compiler(ctx)
    row = planner.sym("crow")
    ded: list = []                  # creation-content columns (aliased)
    bound: dict[int, str] = {}      # el idx -> alias of a bound node's id
    first: dict[str, int] = {}      # new node var -> idx declaring it
    new: list[tuple[int, object, list]] = []   # (idx, el, [(key, alias)])
    for idx, el in enumerate(els):
        if isinstance(el, A.NodePattern) and el.var:
            if el.var in ctx.vars:
                if el.labels or el.props:
                    from redisgraph_spark.planner.planner import PlanError
                    raise PlanError(f"Variable `{el.var}` already bound")
                bound[idx] = f"__mb{idx}"
                ded.append(F.col(f"{el.var}._id").alias(bound[idx]))
                continue
            if el.var in first:
                continue            # a later bare reference in the path
            first[el.var] = idx
        props = []
        for k, v in el.props:
            a = f"__mp{idx}_{k}"
            ded.append(comp.compile(v).alias(a))
            props.append((k, a))
        new.append((idx, el, props))
    mono = F.monotonically_increasing_id().alias(row)
    if per_row:
        dd = ctx.df.select("*", *ded, mono)
    else:
        dd = ctx.df.select(ded or [F.lit(1).alias("__m_one")]) \
            .dropDuplicates().select("*", mono)
    dd = dd.localCheckpoint(eager=True)
    n_rows = dd.count()
    ids = {idx: F.col(row) + F.lit(_alloc_block()) for idx, _, _ in new}

    def node_id(i: int):
        if i in bound:
            return F.col(bound[i])
        return ids[first.get(els[i].var, i)]

    structs = []
    n_created = e_created = 0
    for idx, el, props in new:
        cols = [F.col(a).alias(k) for k, a in props]
        if isinstance(el, A.NodePattern):
            labels = el.labels or [""]
            head = [ids[idx].alias("_id")]
            rows = dd.select(*head, *cols)
            for label in labels:
                g.node_tables[label] = _union_into(
                    g.node_tables.get(label), rows)
            meta = [F.lit(labels[0]).alias("_label")]
            if len(labels) > 1:
                # one node, a row in every label table (Graph._multilabel)
                g._multilabel = True
                meta.append(F.array(*map(F.lit, labels)).alias("_labels"))
            info = VarInfo("node", tuple(k for k, _ in props))
            info.labels = tuple(el.labels) or None
            n_created += n_rows
        else:
            s_i, d_i = idx - 1, idx + 1
            if el.direction == "in":
                s_i, d_i = d_i, s_i
            rtype = el.types[0] if el.types else "RELATED"
            head = [ids[idx].alias("_id"), node_id(s_i).alias("_src"),
                    node_id(d_i).alias("_dst")]
            rows = dd.select(*head, *cols)
            g.edge_tables[rtype] = _union_into(
                g.edge_tables.get(rtype), rows)
            meta = [F.lit(rtype).alias("_rel")]
            info = VarInfo("edge", tuple(k for k, _ in props))
            info.labels = (rtype,)
            e_created += n_rows
        if per_row and el.var and not planner._unreferenced(el.var):
            structs.append(F.struct(*head, *meta, *cols).alias(el.var))
            ctx.vars[el.var] = info
    if structs:
        ctx.df = dd.select("*", *structs).drop(
            row, *bound.values(), *(a for _, _, ps in new for _, a in ps))
    if n_created:
        planner.stats["nodes_created"] = \
            planner.stats.get("nodes_created", 0) + n_created
    if e_created:
        planner.stats["relationships_created"] = \
            planner.stats.get("relationships_created", 0) + e_created
    g._scan_cache.clear()
