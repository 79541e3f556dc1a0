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


from redisgraph_spark.session import INLINE_TYPES as _INLINE_TYPES


def _materialize_small(spark, df: DataFrame, cap: int = 1024
                       ) -> tuple[DataFrame, int]:
    """Pin a keyed update/delete set, returning (pinned_df, row_count).

    Typical SET/DELETE key sets are tiny (the matched entities); pulling
    them to the driver as a ONE-task literal plan replaces the
    checkpoint job + count job with a single limit-collect, and every
    downstream rewrite joins against a broadcast literal. Sets larger
    than `cap` (or with non-atomic columns) keep the scale-safe
    localCheckpoint path — nothing is ever collected unbounded."""
    if all(f.dataType.simpleString() in _INLINE_TYPES
           for f in df.schema.fields):
        rows = df.limit(cap + 1).collect()
        if len(rows) <= cap:
            from redisgraph_spark.session import inline_df
            schema = [(f.name, f.dataType.simpleString())
                      for f in df.schema.fields]
            return inline_df(spark, [tuple(r) for r in rows],
                             schema), len(rows)
    ck = df.localCheckpoint(eager=True)
    return ck, ck.count()


def _defer_pin(g, kind: str, name: str, df: DataFrame) -> DataFrame:
    """Swap a rewritten table in WITHOUT checkpointing it.

    Even a lazy ``localCheckpoint`` forces full physical planning
    (DataFrame->RDD) at mutation time — ~0.2s of pure Catalyst analysis
    per rewritten table on a warm session.  The rewrite plan itself is
    deterministic (a join of the previous pinned table with an inline
    literal key set), so it is safe to store the plain lazy plan and let
    the next action that reads the table fuse the rewrite into its own
    job.  To bound lineage growth under long mutation scripts, every
    4th chained rewrite of the same table gets a (lazy) checkpoint,
    which resets the chain."""
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
    fractional widens to double. Single source of truth for the
    CREATE-union and SET paths."""
    import pyspark.sql.types as T
    integral = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    return "bigint" if isinstance(a, integral) \
        and isinstance(b, integral) else "double"


def _union_into(tbl: DataFrame | None, rows: DataFrame) -> DataFrame:
    """Append new rows to a table, reconciling per-column type
    conflicts: plain columns conform to the table's variant unions, and
    a plain-vs-plain conflict (CREATE (:L {p: 1}) after (:L {p: 'x'}))
    widens mixed numerics or converts BOTH sides to the per-value
    variant encoding (schemaless reference semantics — one property key
    holds any SIValue type, graph_entity.h:48-58)."""
    if tbl is None:
        return rows
    import pyspark.sql.types as T
    from .variant import is_variant_type, to_variant, variantable
    numeric = (T.LongType, T.IntegerType, T.ShortType, T.DoubleType,
               T.FloatType, T.DecimalType)
    tt = {f.name: f.dataType for f in tbl.schema.fields}
    row_cols, tbl_cols = [], []
    row_changed = tbl_changed = False
    for f in rows.schema.fields:
        t, rc = tt.get(f.name), F.col(f.name)
        if t is None or t == f.dataType:
            row_cols.append(rc)
            continue
        if isinstance(f.dataType, T.NullType):
            row_cols.append(rc.cast(t).alias(f.name))
        elif is_variant_type(t) and not is_variant_type(f.dataType):
            row_cols.append(to_variant(rc, f.dataType).alias(f.name))
        elif is_variant_type(f.dataType) and not is_variant_type(t):
            tt[f.name] = ("to_variant", t)
            row_cols.append(rc)
            tbl_changed = True
            continue
        elif isinstance(t, numeric) and isinstance(f.dataType, numeric):
            if isinstance(t, (T.DoubleType, T.FloatType)):
                # table already wide — conform the rows only
                row_cols.append(rc.cast(t).alias(f.name))
            else:
                wide = _widen_numeric(t, f.dataType)
                tt[f.name] = ("cast", wide)
                row_cols.append(rc.cast(wide).alias(f.name))
                tbl_changed = True
                continue
        elif variantable(t) and variantable(f.dataType):
            tt[f.name] = ("to_variant", t)
            row_cols.append(to_variant(rc, f.dataType).alias(f.name))
            tbl_changed = True
            continue
        else:
            tt[f.name] = ("cast_str", t)
            row_cols.append(rc.cast("string").alias(f.name))
            tbl_changed = True
            continue
        row_changed = True
    if tbl_changed:
        for f in tbl.schema.fields:
            action = tt.get(f.name)
            if isinstance(action, tuple):
                if action[0] == "to_variant":
                    tbl_cols.append(
                        to_variant(F.col(f.name), action[1]).alias(f.name))
                elif action[0] == "cast":
                    tbl_cols.append(
                        F.col(f.name).cast(action[1]).alias(f.name))
                else:
                    tbl_cols.append(
                        F.col(f.name).cast("string").alias(f.name))
            else:
                tbl_cols.append(F.col(f.name))
        tbl = tbl.select(tbl_cols)
        row_changed = True
    if row_changed:
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
        return _create_bound(planner, ctx, clause)
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


def _create_bound(planner, ctx, clause: A.CreateClause) -> DataFrame | None:
    """CREATE after MATCH: new edges between matched nodes, or new nodes
    per input row."""
    g = planner.graph
    _invalidate_rels(g, {(els[i].types[0] if els[i].types else "RELATED")
                         for path in clause.paths
                         for els in [path.elements]
                         for i in range(1, len(els), 2)})
    comp = planner.compiler(ctx)
    edges_created = 0
    for path in clause.paths:
        els = path.elements
        if len(els) == 1:
            np = els[0]
            label = np.labels[0] if np.labels else ""
            comp = planner.compiler(ctx)
            prop_cols = [comp.compile(v).alias(k) for k, v in np.props]
            bind = np.var and np.var not in ctx.vars \
                and not planner._unreferenced(np.var)
            if bind:
                # bind the created node per row so later clauses in
                # this query (CREATE edges, SET, RETURN) can reference
                # it — the checkpoint pins the mono ids shared by the
                # table row and the binding
                rk = planner.sym("cbrow")
                base = ctx.df.withColumn(
                    rk,
                    F.monotonically_increasing_id() + F.lit(_alloc_block())
                ).localCheckpoint(eager=True)
                rows = base.select(F.col(rk).alias("_id"), *prop_cols) \
                    .localCheckpoint(eager=True)
                struct = F.struct(
                    F.col(rk).alias("_id"),
                    F.lit(label).alias("_label"),
                    *prop_cols).alias(np.var)
                ctx.df = base.select("*", struct).drop(rk)
                ctx.vars[np.var] = VarInfo(
                    "node", tuple(k for k, _ in np.props))
            else:
                rows = ctx.df.select(
                    (F.monotonically_increasing_id()
                     + F.lit(_alloc_block())).alias("_id"), *prop_cols) \
                    .localCheckpoint(eager=True)
            for lbl in (np.labels if len(np.labels or []) > 1
                        else [label]):
                g.node_tables[lbl] = _union_into(
                    g.node_tables.get(lbl), rows)
            if np.labels and len(np.labels) > 1:
                g._multilabel = True
            planner.stats["nodes_created"] = \
                planner.stats.get("nodes_created", 0) + rows.count()
            continue
        unbound = any(
            isinstance(el, A.NodePattern)
            and (el.var is None or el.var not in ctx.vars)
            for el in els)
        if unbound:
            # mixed bound/new path: per-row whole-pattern creation (no
            # dedup — CREATE makes one instance per input row)
            _create_path_rows(planner, ctx, path, per_row=True)
            continue
        i = 1
        while i < len(els):
            rel: A.RelPattern = els[i]
            src_np, dst_np = els[i - 1], els[i + 1]
            if src_np.var is None or src_np.var not in ctx.vars or \
                    dst_np.var is None or dst_np.var not in ctx.vars:
                raise ValueError(
                    "CREATE edges require both endpoints bound by MATCH")
            rtype = rel.types[0] if rel.types else "RELATED"
            src_c = F.col(f"{src_np.var}._id")
            dst_c = F.col(f"{dst_np.var}._id")
            if rel.direction == "in":
                src_c, dst_c = dst_c, src_c
            comp = planner.compiler(ctx)
            prop_cols = [comp.compile(v).alias(k) for k, v in rel.props]
            bind = rel.var and rel.var not in ctx.vars \
                and not planner._unreferenced(rel.var)
            if bind:
                # bind the created edge per row (CREATE ()-[r:T]->()
                # ... RETURN r / SET r.p) — checkpoint pins the shared
                # mono ids
                rk = planner.sym("cberow")
                base = ctx.df.withColumn(
                    rk,
                    F.monotonically_increasing_id() + F.lit(_alloc_block())
                ).localCheckpoint(eager=True)
                rows = base.select(
                    F.col(rk).alias("_id"), src_c.alias("_src"),
                    dst_c.alias("_dst"), *prop_cols) \
                    .localCheckpoint(eager=True)
                struct = F.struct(
                    F.col(rk).alias("_id"), src_c.alias("_src"),
                    dst_c.alias("_dst"), F.lit(rtype).alias("_rel"),
                    *prop_cols).alias(rel.var)
                ctx.df = base.select("*", struct).drop(rk)
                ctx.vars[rel.var] = VarInfo(
                    "edge", tuple(k for k, _ in rel.props))
            else:
                rows = ctx.df.select(
                    (F.monotonically_increasing_id()
                     + F.lit(_alloc_block())).alias("_id"),
                    src_c.alias("_src"), dst_c.alias("_dst"),
                    *prop_cols).localCheckpoint(eager=True)
            cnt = rows.count()
            g.edge_tables[rtype] = _union_into(
                g.edge_tables.get(rtype), rows)
            edges_created += cnt
            i += 2
    if edges_created:
        planner.stats["relationships_created"] = \
            planner.stats.get("relationships_created", 0) + edges_created
    planner.graph._scan_cache.clear()
    return None


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
    property (``docs/cypher_support.md:66-68``)."""
    g = planner.graph
    comp = planner.compiler(ctx)
    props_set = 0
    expanded = []
    for item in clause.items:
        if isinstance(item, A.LabelItem):
            _add_labels(planner, ctx, item)
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
    pending_refresh: list[tuple[str, str, object]] = []
    for item in expanded:
        if not isinstance(item.target, A.Property) or \
                not isinstance(item.target.subject, A.Variable):
            raise ValueError("SET supports n.prop = expr and n += {map}")
        var = item.target.subject.name
        key = item.target.key
        if var not in ctx.vars:
            raise ValueError(f"'{var}' not defined")
        if isinstance(item.value, A.ListLiteral) and any(
                isinstance(x, A.MapLiteral) for x in item.value.items):
            # a list of maps is not a storable property type
            # (openCypher Set1[10] InvalidPropertyType)
            raise ValueError(
                "Cannot set a list containing maps as a property "
                "(InvalidPropertyType)")
        info = ctx.vars[var]
        pending_refresh.append((var, key, comp.compile(item.value)))
        # updates keyed by entity id
        upd_plan = ctx.df.select(
            F.col(f"{var}._id").alias("__uid"),
            comp.compile(item.value).alias("__uval")) \
            .filter(F.col("__uid").isNotNull())
        if info.kind == "node":
            tables = g.node_tables
        else:
            tables = g.edge_tables
        upd = upd_plan.dropDuplicates(["__uid"])
        # materialize the (small) update set once: the count below and
        # every candidate-table rewrite join then reuse it instead of
        # re-running the whole match pipeline per consumer
        upd, upd_cnt = _materialize_small(g.spark, upd)
        from pyspark.sql import types as T
        val_t = upd.schema["__uval"].dataType
        numeric = (T.LongType, T.IntegerType, T.ShortType, T.DoubleType,
                   T.FloatType, T.DecimalType)
        for name, tbl in (_candidate_tables(g, info, tables)
                          if upd_cnt else []):
            joined = tbl.join(
                F.broadcast(upd), tbl["_id"] == upd["__uid"], "left")
            if key in tbl.columns:
                # heterogeneous-type SET: widen numerics, else demote the
                # column to string (schemaless reference semantics,
                # SURVEY §7.3)
                col_t = tbl.schema[key].dataType
                uval = F.col("__uval")
                cur = F.col(key)
                from .temporal_cols import (TEMPORAL_TYPE, from_native,
                                            is_temporal_type)
                native_temporal = (T.DateType, T.TimestampType,
                                   T.TimestampNTZType)
                if col_t != val_t:
                    if isinstance(val_t, T.NullType):
                        # SET p = NULL deletes the property
                        # (docs/cypher_support.md:66-68) — keep column type
                        uval = uval.cast(col_t)
                    elif isinstance(col_t, numeric) and \
                            isinstance(val_t, numeric):
                        wide = _widen_numeric(col_t, val_t)
                        uval = uval.cast(wide)
                        cur = cur.cast(wide)
                    elif is_temporal_type(col_t) and is_temporal_type(val_t):
                        # same logical temporal type, differing only in
                        # nested nullability — align both to the
                        # canonical struct instead of demoting to string
                        uval = uval.cast(TEMPORAL_TYPE)
                        cur = cur.cast(TEMPORAL_TYPE)
                    elif is_temporal_type(val_t) and \
                            isinstance(col_t, native_temporal):
                        # storing a temporal value into a native
                        # date/timestamp column: lift the column to the
                        # packed temporal struct (r10 latent bug — the
                        # string demotion below stored the struct's
                        # rendering and later temporal ops errored)
                        cur = from_native(cur, col_t)
                        uval = uval.cast(TEMPORAL_TYPE)
                    elif is_temporal_type(col_t) and \
                            isinstance(val_t, native_temporal):
                        uval = from_native(uval, val_t)
                        cur = cur.cast(TEMPORAL_TYPE)
                    else:
                        # heterogeneous scalar / array-of-scalar types →
                        # per-value variant encoding (schemaless
                        # reference semantics, SURVEY §7.3); passes
                        # existing variants through; non-variantable
                        # (nested/complex) conflicts demote to string
                        from .variant import to_variant, variantable
                        if variantable(col_t) and variantable(val_t):
                            uval = to_variant(uval, val_t)
                            cur = to_variant(cur, col_t)
                        else:
                            uval = uval.cast("string")
                            cur = cur.cast("string")
                newcol = F.when(F.col("__uid").isNotNull(), uval) \
                    .otherwise(cur)
            else:
                newcol = F.when(F.col("__uid").isNotNull(), F.col("__uval"))
            out = joined.withColumn(key, newcol).drop("__uid", "__uval")
            # deterministic rewrite: swap in the lazy plan; _defer_pin
            # bounds lineage depth (VERDICT r6 #3 — a 5-query mutation
            # script schedules ~half the jobs this way)
            kind = "node" if tables is g.node_tables else "edge"
            tables[name] = _defer_pin(g, kind, name, out)
        props_set += upd_cnt
    # read-your-writes: later clauses (RETURN a.age after SET) must see
    # the update — rebuild the bound struct columns in the pipeline
    # (the reference streams records through Update with the entity
    # already modified, op_update.c:66-100). Value expressions were
    # compiled against the PRE-update record, matching the reference's
    # buffer-then-commit evaluation order.
    tail = getattr(planner, "_tail_refs", None)
    for var, key, val in pending_refresh:
        if tail is not None and var not in tail:
            # nothing after this clause reads the variable — the
            # struct rebuild would be dead plan weight
            continue
        dt = ctx.df.schema[var].dataType
        names = [f.name for f in dt.fields]
        cols = [(val if fn == key else F.col(var).getField(fn)).alias(fn)
                for fn in names]
        if key not in names:
            cols.append(val.alias(key))
        # a null entity (failed OPTIONAL MATCH) is not updated — SET on
        # null is a no-op and the variable stays null
        ctx.df = ctx.df.withColumn(
            var, F.when(F.col(f"{var}._id").isNotNull(),
                        F.struct(*cols)).otherwise(F.lit(None)))
        info = ctx.vars[var]
        if key not in info.fields:
            info.fields = tuple(list(info.fields) + [key])
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
        base = g.node_tables.get("")
        g.node_tables[""] = (
            base.unionByName(orphans, allowMissingColumns=True)
            if base is not None else orphans).localCheckpoint(eager=True)
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


def _delete(planner, ctx, clause: A.DeleteClause) -> DataFrame | None:
    """DETACH DELETE semantics: node deletion cascades to incident edges
    (reference ``ops/op_delete.c``, ``Graph_BulkDelete``
    ``src/graph/graph.h:172-181``) — expressed as anti-joins; deletion
    preserves the rel-endpoint hint invariants (monotone removal)."""
    g = planner.graph
    nodes_deleted = 0
    edges_deleted = 0
    for e in clause.exprs:
        if not isinstance(e, A.Variable):
            # DELETE list[0] / map.nodes / nested extractions
            # (openCypher Delete5): any expression evaluating to an
            # entity works — bind it as a hidden column and classify
            # the entity kind from its struct shape
            from pyspark.sql import types as T
            comp = planner.compiler(ctx)
            col = comp.compile(e)
            try:
                dt = comp.dtype(col)
            except Exception:
                dt = None
            if isinstance(dt, T.NullType):
                continue                 # DELETE null is a no-op
            if not isinstance(dt, T.StructType):
                raise ValueError(
                    "DELETE expects a node, relationship or path")
            proved = _delete_kind(ctx, e)
            if proved == "other":
                # provably not an entity (a map literal carrying an
                # _id key must not delete rows — round-7 advice)
                raise ValueError(
                    "DELETE expects a node, relationship or path")
            if proved is not None:
                kind = proved
            else:
                names = set(dt.fieldNames())
                if {"nodes", "edges"} <= names:
                    kind = "path"
                elif "_src" in names:
                    kind = "edge"
                elif "_id" in names:
                    kind = "node"
                else:
                    raise ValueError(
                        "DELETE expects a node, relationship or path")
            hidden = planner.sym("del")
            ctx.df = ctx.df.withColumn(hidden, col)
            ctx.vars[hidden] = VarInfo(kind)
            e = A.Variable(hidden)
        var = e.name
        if var not in ctx.vars:
            raise ValueError(f"'{var}' not defined")
        info = ctx.vars[var]
        if info.kind == "path":
            # deleting a path deletes its relationships and nodes
            # (cascade included); a null path contributes nothing
            eids = ctx.df.select(
                F.explode(F.col(f"{var}.edges")).alias("__e")) \
                .select(F.col("__e._id").alias("__did")).dropDuplicates()
            eids, n = _materialize_small(g.spark, eids)
            if n:
                for name, tbl in list(g.edge_tables.items()):
                    # deterministic anti-join rewrite: lazy swap-in
                    g.edge_tables[name] = _defer_pin(
                        g, "edge", name, tbl.join(
                            F.broadcast(eids),
                            tbl["_id"] == eids["__did"], "left_anti"))
                edges_deleted += n
            nids = ctx.df.select(
                F.explode(F.col(f"{var}.nodes")).alias("__n")) \
                .select(F.col("__n._id").alias("__did")).dropDuplicates()
            nids, n = _materialize_small(g.spark, nids)
            if n:
                for name, tbl in list(g.node_tables.items()):
                    g.node_tables[name] = _defer_pin(
                        g, "node", name, tbl.join(
                            F.broadcast(nids),
                            tbl["_id"] == nids["__did"], "left_anti"))
                for name, tbl in list(g.edge_tables.items()):
                    doomed = tbl.join(
                        F.broadcast(nids),
                        (tbl["_src"] == nids["__did"])
                        | (tbl["_dst"] == nids["__did"]),
                        "left_semi").count()
                    if not doomed:
                        continue
                    kept = tbl.join(
                        F.broadcast(nids),
                        tbl["_src"] == nids["__did"], "left_anti")
                    kept = kept.join(
                        F.broadcast(nids),
                        kept["_dst"] == nids["__did"], "left_anti")
                    g.edge_tables[name] = _defer_pin(g, "edge", name,
                                                     kept)
                    edges_deleted += doomed
                nodes_deleted += n
            continue
        if info.kind == "scalar":
            comp = planner.compiler(ctx)
            try:
                from pyspark.sql import types as T
                if isinstance(comp.dtype(F.col(var)), T.NullType):
                    continue      # DELETE null is a no-op
            except Exception:
                pass
            raise ValueError("DELETE expects a node, relationship or path")
        ids_plan = ctx.df.select(
            F.col(f"{var}._id").alias("__did")).dropDuplicates()
        if info.kind == "edge":
            ids, idc = _materialize_small(g.spark, ids_plan)
            for name, tbl in list(g.edge_tables.items()):
                # deterministic anti-join rewrites: lazy swap-in fuses
                # the materialization into the next action that reads
                # the table (the cascade probe or the script's next
                # query) instead of scheduling a job per table
                g.edge_tables[name] = _defer_pin(
                    g, "edge", name, tbl.join(
                        F.broadcast(ids), tbl["_id"] == ids["__did"],
                        "left_anti"))
            edges_deleted += idc
        else:
            # cascade candidates: rel-endpoint hints prove most
            # relations can't touch a label-bound variable at all
            cand_labels = set(getattr(info, "labels", None) or ())
            hints = g.rel_endpoints
            cands = []
            for name, tbl in list(g.edge_tables.items()):
                if cand_labels and hints and not g._multilabel:
                    h = hints.get(name)
                    if h is not None and not ((h[0] | h[1]) & cand_labels):
                        continue
                cands.append((name, tbl))
            # ONE job returns both the matched ids (capped) and every
            # candidate table's incident-edge count: the id rows carry
            # __t NULL, each probe count carries its table name. The
            # probe branches recompute the match subtree inside the
            # job (bounded by len(cands), usually 0-1 — a constant
            # factor on data the probe join must scan anyway), which
            # replaces the collect-then-probe TWO-job sequence.
            ids = idc = None
            from pyspark.sql import types as T
            if cands and isinstance(ids_plan.schema["__did"].dataType,
                                    (T.LongType, T.IntegerType)):
                cap = 1024
                parts = [ids_plan.limit(cap + 1).select(
                    F.lit(None).cast("string").alias("__t"),
                    F.col("__did").cast("long").alias("__v"))]
                for name, tbl in cands:
                    parts.append(
                        tbl.join(ids_plan,
                                 (tbl["_src"] == ids_plan["__did"])
                                 | (tbl["_dst"] == ids_plan["__did"]),
                                 "left_semi")
                        .agg(F.count(F.lit(1)).alias("__v"))
                        .select(F.lit(name).alias("__t"), F.col("__v")))
                fused = parts[0]
                for pdf in parts[1:]:
                    fused = fused.unionByName(pdf)
                rows = fused.collect()
                id_vals = [r["__v"] for r in rows if r["__t"] is None]
                doomed_by = {r["__t"]: r["__v"] for r in rows
                             if r["__t"] is not None}
                if len(id_vals) <= cap:
                    from redisgraph_spark.session import inline_df
                    ids = inline_df(g.spark, [(v,) for v in id_vals],
                                    [("__did", "bigint")])
                    idc = len(id_vals)
            else:
                doomed_by = None
            if ids is None:
                # non-integral ids or cap overflow: pin the id set the
                # scale-safe way (the exact probe counts, if computed,
                # are still valid)
                ids, idc = _materialize_small(g.spark, ids_plan)
                if doomed_by is None:
                    doomed_by = {}
                    for name, tbl in cands:
                        doomed_by[name] = tbl.join(
                            F.broadcast(ids),
                            (tbl["_src"] == ids["__did"])
                            | (tbl["_dst"] == ids["__did"]),
                            "left_semi").count()
            for name, tbl in _candidate_tables(g, info, g.node_tables):
                g.node_tables[name] = _defer_pin(
                    g, "node", name, tbl.join(
                        F.broadcast(ids), tbl["_id"] == ids["__did"],
                        "left_anti"))
            for name, tbl in cands:
                doomed = doomed_by.get(name, 0)
                if not doomed:
                    continue
                kept = tbl.join(F.broadcast(ids),
                                tbl["_src"] == ids["__did"], "left_anti")
                kept = kept.join(F.broadcast(ids),
                                 kept["_dst"] == ids["__did"], "left_anti")
                edges_deleted += doomed
                g.edge_tables[name] = _defer_pin(g, "edge", name, kept)
            nodes_deleted += idc
    planner.stats["nodes_deleted"] = \
        planner.stats.get("nodes_deleted", 0) + nodes_deleted
    planner.stats["relationships_deleted"] = \
        planner.stats.get("relationships_deleted", 0) + edges_deleted
    planner.graph._scan_cache.clear()
    return None


# ------------------------------------------------------------------ MERGE
def _merge(planner, ctx, clause: A.MergeClause) -> DataFrame | None:
    """MERGE = match-else-create with ON MATCH / ON CREATE hooks
    (reference 3-stream bound/match/create design
    ``ops/op_merge.c:24-64``).

    - standalone (no input rows): match the WHOLE pattern; if absent,
      create every element (standard Cypher whole-pattern semantics);
    - after MATCH/WITH (per-row): single-node merge keyed on the
      pattern's property expressions, with MergeCreate-style dedup of
      identical pending creations (``ops/op_merge_create.c``).
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
        exists = not probe.df.isEmpty()
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
    np = els[0]
    if len(els) == 1 and np.labels and np.props and \
            not (np.var and np.var in ctx.vars):
        # keyed single-node fast path (the entity-resolution shape)
        return _merge_per_row(planner, ctx, clause)
    return _merge_path_per_row(planner, ctx, clause)


def _merge_path_per_row(planner, ctx, clause: A.MergeClause) -> None:
    """Per-input-row MERGE of a multi-element pattern: match the WHOLE
    pattern per row; rows without a match create every unbound element
    (bound variables are reused, standard openCypher whole-pattern
    semantics; identical pending creations dedup per
    ``ops/op_merge_create.c``)."""
    from redisgraph_spark.planner.planner import Ctx

    for el in clause.path.elements:
        if isinstance(el, A.RelPattern) and el.min_hops is not None:
            raise ValueError("MERGE cannot contain variable-length patterns")

    row = planner.sym("mrow")
    base = ctx.df.withColumn(row, F.monotonically_increasing_id()) \
        .localCheckpoint(eager=True)
    probe = Ctx(df=base, vars=dict(ctx.vars))
    planner._compile_path(probe, clause.path, [])
    matched_rows = probe.df.select(row).dropDuplicates() \
        .localCheckpoint(eager=True)
    unmatched = base.join(matched_rows, row, "left_anti") \
        .localCheckpoint(eager=True)
    had_unmatched = bool(unmatched.take(1))
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
        if sub.df.take(1):
            _set(planner, sub, A.SetClause(clause.on_create))
            did_set = True
    if clause.on_match and bool(matched_rows.take(1)):
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
    """Create whole-pattern instances from ``ctx.df`` rows. With
    ``per_row=False`` (MERGE semantics) one instance per DISTINCT
    creation content (bound endpoint ids + unbound property values);
    with ``per_row=True`` (CREATE semantics) one instance per input row.
    Fresh ids are a driver-reserved block plus the pinned row index,
    so separate batches never collide."""
    g = planner.graph
    _invalidate_rels(g, {(el.types[0] if el.types else "RELATED")
                         for el in path.elements
                         if isinstance(el, A.RelPattern)})
    els = path.elements
    comp = planner.compiler(ctx)

    ded: list = []            # dedup-key columns (aliased)
    node_ref: dict[int, str | None] = {}   # el idx -> bound alias | None
    new_nodes: list[tuple[int, str, list]] = []  # (idx, label, [(k, alias)])
    rels: list[tuple[int, A.RelPattern, list]] = []
    for idx, el in enumerate(els):
        if isinstance(el, A.NodePattern):
            if el.var and el.var in ctx.vars:
                a = f"__mb{idx}"
                ded.append(F.col(f"{el.var}._id").alias(a))
                node_ref[idx] = a
            else:
                props = []
                for k, v in el.props:
                    a = f"__mp{idx}_{k}"
                    ded.append(comp.compile(v).alias(a))
                    props.append((k, a))
                node_ref[idx] = None
                new_nodes.append((idx, el.labels[0] if el.labels else "",
                                  props))
        else:
            props = []
            for k, v in el.props:
                a = f"__mp{idx}_{k}"
                ded.append(comp.compile(v).alias(a))
                props.append((k, a))
            rels.append((idx, el, props))
    if not ded:
        ded = [F.lit(1).alias("__m_one")]
    if per_row:
        ded.append(F.monotonically_increasing_id().alias("__m_row"))
        dd = ctx.df.select(ded).localCheckpoint(eager=True)
    else:
        dd = ctx.df.select(ded).dropDuplicates() \
            .withColumn("__m_row", F.monotonically_increasing_id()) \
            .localCheckpoint(eager=True)

    # block + pinned row index: collision-free ids per created element
    # (content hashes repeat for identical rows; abs(hash)+offset
    # overflows under ANSI)
    _blocks: dict[int, int] = {}

    def fresh(idx: int, ns: int):
        if idx not in _blocks:
            _blocks[idx] = _alloc_block()
        return F.col("__m_row") + F.lit(_blocks[idx])

    node_id_expr: dict[int, object] = {}
    n_created = 0
    for idx, label, props in new_nodes:
        node_id_expr[idx] = fresh(idx, 23_000_000_000_000_000)
        rows = dd.select(node_id_expr[idx].alias("_id"),
                         *[F.col(a).alias(k) for k, a in props])
        n_created += rows.count()
        g.node_tables[label] = (
            g.node_tables[label].unionByName(rows, allowMissingColumns=True)
            if label in g.node_tables else rows).localCheckpoint(eager=True)
    e_created = 0
    for idx, rel, props in rels:
        s_i, d_i = idx - 1, idx + 1
        if rel.direction == "in":
            s_i, d_i = d_i, s_i
        def end(i):
            a = node_ref.get(i)
            return F.col(a) if a is not None else \
                node_id_expr[i].cast("long")
        rtype = rel.types[0] if rel.types else "RELATED"
        rows = dd.select(fresh(idx, 24_000_000_000_000_000).alias("_id"),
                         end(s_i).alias("_src"), end(d_i).alias("_dst"),
                         *[F.col(a).alias(k) for k, a in props])
        e_created += rows.count()
        g.edge_tables[rtype] = (
            g.edge_tables[rtype].unionByName(rows, allowMissingColumns=True)
            if rtype in g.edge_tables else rows).localCheckpoint(eager=True)
    if n_created:
        planner.stats["nodes_created"] = \
            planner.stats.get("nodes_created", 0) + n_created
    if e_created:
        planner.stats["relationships_created"] = \
            planner.stats.get("relationships_created", 0) + e_created
    g._scan_cache.clear()


def _merge_per_row(planner, ctx, clause: A.MergeClause) -> None:
    """Per-input-row single-node MERGE (the entity-resolution shape:
    ``MATCH ... MERGE (n:L {key: row.val})``)."""
    g = planner.graph
    np: A.NodePattern = clause.path.elements[0]
    if not np.labels:
        raise ValueError("per-row MERGE requires a label")
    label = np.labels[0]
    var = np.var or planner.sym("mg")
    comp = planner.compiler(ctx)
    keys = [(k, comp.compile(v)) for k, v in np.props]
    if not keys:
        raise ValueError("per-row MERGE requires key properties")

    key_cols = [c.alias(f"__mk_{k}") for k, c in keys]
    want = ctx.df.select(key_cols).dropDuplicates()

    tbl = g.node_tables.get(label)
    if tbl is None:
        tbl = g.spark.createDataFrame(
            [], "_id long, " + ", ".join(f"{k} string" for k, _ in keys))
        g.node_tables[label] = tbl
    cond = None
    for k, _ in keys:
        c = tbl[k] == F.col(f"__mk_{k}") if k in tbl.columns else F.lit(False)
        cond = c if cond is None else (cond & c)
    missing = want.join(tbl, cond, "left_anti")
    # MergeCreate dedup (keys are distinct here) + block-unique ids
    created = missing.select(
        (F.monotonically_increasing_id()
         + F.lit(_alloc_block())).alias("_id"),
        *[F.col(f"__mk_{k}").alias(k) for k, _ in keys]
    ).localCheckpoint(eager=True)
    n_created = created.count()
    if n_created:
        g.node_tables[label] = tbl.unionByName(
            created, allowMissingColumns=True).localCheckpoint(eager=True)
        g._scan_cache.clear()
        planner.stats["nodes_created"] = \
            planner.stats.get("nodes_created", 0) + n_created
    # bind: join the (now complete) table back per row
    tbl2 = g.node_tables[label]
    flat = tbl2.select(
        F.struct(*[F.col(c) for c in tbl2.columns]).alias(var))
    jcond = None
    for k, c in keys:
        cc = F.col(var).getField(k) == c
        jcond = cc if jcond is None else (jcond & cc)
    ctx.df = ctx.df.join(flat, jcond, "inner")
    from redisgraph_spark.planner.expressions import VarInfo
    ctx.vars[var] = VarInfo(
        "node", tuple(c for c in tbl2.columns if c != "_id"))
    created_ids = created.select(F.col("_id").alias("__cid"))
    if clause.on_create and n_created:
        sub = Ctx_like(ctx, ctx.df.join(
            F.broadcast(created_ids),
            F.col(var).getField("_id") == F.col("__cid"), "left_semi"))
        _set(planner, sub, A.SetClause(clause.on_create))
    if clause.on_match:
        sub = Ctx_like(ctx, ctx.df.join(
            F.broadcast(created_ids),
            F.col(var).getField("_id") == F.col("__cid"), "left_anti"))
        _set(planner, sub, A.SetClause(clause.on_match))


def Ctx_like(ctx, df):
    from redisgraph_spark.planner.planner import Ctx
    out = Ctx(df=df, vars=dict(ctx.vars))
    return out
