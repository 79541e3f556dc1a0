"""Cypher AST → DataFrame plan compiler.

The Spark-first replacement for the reference's execution-plan builder
(``/root/reference/src/execution_plan/execution_plan.c:280-304`` and
``execution_plan_build/``):

- node/edge pattern → pruned table scan + equi-joins
  (ConditionalTraverse ``ops/op_conditional_traverse.c`` ⇒ hash join on
  ``_src``/``_dst``; ExpandInto ``ops/op_expand_into.c`` ⇒ join + endpoint
  filter),
- WHERE ⇒ ``df.filter`` (Catalyst pushes it down — the reference's
  filter-placement pass ``execution_plan.c:258`` is free),
- pattern predicates ⇒ semi/anti joins (SemiApply family,
  ``ops/op_semi_apply.h:13-31``; ``reduce_to_apply.c:64-110``),
- WITH/RETURN ⇒ project / groupBy-agg / sort / limit chain
  (``build_projection_ops.c:160-231``),
- OPTIONAL MATCH ⇒ left outer join (``ops/op_optional.h:12-30``),
- UNWIND ⇒ ``explode`` (``ops/op_unwind.c:39-49``),
- UNION ⇒ ``unionByName`` (+ ``dropDuplicates``) (``ops/op_join.c:12-18``),
- var-len patterns ⇒ iterative frontier joins
  (``redisgraph_spark.algorithms.traversal``).

Catalyst supplies what the reference implements by hand in
``src/execution_plan/optimizations/`` (filter compaction, index usage ⇒
parquet pushdown, join selection, limit pushdown, top-k sort).
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.cypher import ast as A
from redisgraph_spark.planner.expressions import (_UNSET, CompileError,
                                                  ExprCompiler, Params,
                                                  VarInfo)


def _field_dt(frame, field):
    """DataType of a scanned frame's column from its (py-side cached)
    schema — a free plan-time type hint for prop_eq; _UNSET when the
    frame/field can't resolve without a probe."""
    try:
        return frame.schema[field].dataType
    except Exception:
        return _UNSET
from redisgraph_spark.algorithms import traversal as TRAV

AGG_FUNCS = {"count", "sum", "avg", "min", "max", "collect", "stdev",
             "stdevp", "percentiledisc", "percentilecont"}


@dataclass
class Ctx:
    df: DataFrame | None = None
    vars: dict[str, VarInfo] = field(default_factory=dict)
    # variables bound before the MATCH clause currently being compiled;
    # edge reuse inside one clause is VariableAlreadyBound, reuse of an
    # earlier-clause binding is an identity constraint
    clause_bound: frozenset = frozenset()
    # variables whose entities a DELETE clause removed — later property
    # or labels() access errors (openCypher Return2[15-17]; type() and
    # the bare variable remain legal, Return2[14])
    deleted_vars: set = field(default_factory=set)
    # statistics breadcrumbs, both keyed by id(df) so ANY later operator
    # that replaces df invalidates them automatically:
    # (id(df), metadata row count) when df is a pristine label scan —
    # lets the var-len expansion cost its frontier with graph statistics
    # (the reference costs traversals with matrix nvals, graph.h:72-77)
    scan_info: tuple | None = None
    # (id(df), paths_df, end_id_col, n_sel, nid_col, target_var) set by
    # the var-len node bind; _project_agg uses it to push a partial
    # count below the bind join when only the target is referenced
    vl_bind: tuple | None = None


def _walk(e):
    """Yield every AST node under `e` (incl. itself)."""
    yield e
    if hasattr(e, "__dataclass_fields__"):
        for f in e.__dataclass_fields__:
            v = getattr(e, f)
            if isinstance(v, A.Expr) or hasattr(v, "__dataclass_fields__"):
                yield from _walk(v)
            elif isinstance(v, list):
                for item in v:
                    if hasattr(item, "__dataclass_fields__"):
                        yield from _walk(item)
                    elif isinstance(item, tuple):
                        for x in item:
                            if hasattr(x, "__dataclass_fields__"):
                                yield from _walk(x)


def _tail_ref_names(clauses) -> set | None:
    """Variables referenced by the given (later) clauses, used to decide
    whether a SET's read-your-writes struct rebuild can be skipped.
    Returns ``None`` (= "assume everything is referenced") when any
    clause star-expands (``RETURN *`` / ``WITH *`` carry no Variable
    nodes). Besides ``A.Variable`` nodes, every string-typed ``var``
    field counts: ``MapProjection.var`` (``n {.x}``), ``LabelItem.var``
    (``SET n:Foo`` reads n's row via _matched_rows), and pattern vars
    (a later MATCH re-binding ``n`` reads the bound struct). Binder
    vars (list comprehension / reduce / quantifier) are included too —
    a harmless over-approximation that only keeps a refresh alive."""
    refs: set = set()
    for cl in clauses:
        for n in _walk(cl):
            if getattr(n, "star", False):
                return None
            if isinstance(n, A.Variable):
                refs.add(n.name)
            v = getattr(n, "var", None)
            if isinstance(v, str):
                refs.add(v)
            acc = getattr(n, "acc", None)
            if isinstance(acc, str):
                refs.add(acc)
    return refs


def _check_deleted_access(e: A.Expr, deleted: set) -> None:
    """Property / labels() / properties() access on a DELETE-d variable
    is an error (openCypher Return2[15-17]); type(), id(), and the
    bare variable remain legal (Return2[14])."""
    for n in _walk(e):
        if isinstance(n, A.Property) \
                and isinstance(n.subject, A.Variable) \
                and n.subject.name in deleted:
            raise PlanError(
                f"Cannot access property `{n.key}` of a deleted "
                f"entity `{n.subject.name}` (EntityDeleted)")
        if isinstance(n, A.FuncCall) \
                and n.name in ("labels", "properties") and n.args \
                and isinstance(n.args[0], A.Variable) \
                and n.args[0].name in deleted:
            raise PlanError(
                f"Cannot access {n.name}() of a deleted entity "
                f"(EntityDeleted)")


def _outside_agg_var_exprs(e: A.Expr) -> list:
    """Maximal variable-referencing subtrees OUTSIDE any aggregate —
    the implicit grouping keys of a mixed expression.  Lambda-scoped
    variables (comprehensions, quantifiers, reduce) are NOT grouping
    keys — they bind per element."""
    out: list[A.Expr] = []

    def go(n, bound: frozenset) -> None:
        if isinstance(n, A.CountStar):
            return
        if isinstance(n, A.FuncCall) and n.name in AGG_FUNCS:
            return
        if isinstance(n, A.Variable):
            if n.name not in bound:
                out.append(n)
            return
        if isinstance(n, A.Property) \
                and isinstance(n.subject, A.Variable):
            if n.subject.name not in bound:
                out.append(n)
            return
        scope_var = getattr(n, "var", None)
        if isinstance(n, (A.ListComprehension, A.Quantifier)) \
                and isinstance(scope_var, str):
            bound = bound | {scope_var}
        if isinstance(n, A.Reduce):
            bound = bound | {n.acc, n.var}
        if not hasattr(n, "__dataclass_fields__"):
            return
        import dataclasses
        for f in dataclasses.fields(n):
            v = getattr(n, f.name)
            if isinstance(v, A.Expr):
                go(v, bound)
            elif isinstance(v, (list, tuple)):
                for x in v:
                    if isinstance(x, A.Expr):
                        go(x, bound)
                    elif isinstance(x, tuple):
                        for y in x:
                            if isinstance(y, A.Expr):
                                go(y, bound)

    go(e, frozenset())
    return out


def _has_agg(e: A.Expr) -> bool:
    for n in _walk(e):
        if isinstance(n, A.CountStar):
            return True
        if isinstance(n, A.FuncCall) and n.name in AGG_FUNCS:
            return True
    return False


def _deparse(e: A.Expr) -> str:
    if isinstance(e, A.Variable):
        return e.name
    if isinstance(e, A.Property):
        return f"{_deparse(e.subject)}.{e.key}"
    if isinstance(e, A.CountStar):
        return "count(*)"
    if isinstance(e, A.LabelPred):
        return _deparse(e.subject) + "".join(f":{l}" for l in e.labels)
    if isinstance(e, A.FuncCall):
        inner = ", ".join(_deparse(a) for a in e.args)
        d = "DISTINCT " if e.distinct else ""
        return f"{e.name}({d}{inner})"
    if isinstance(e, A.Literal):
        return repr(e.value)
    return "expr"


class PlanError(ValueError):
    pass


def _colref(name: str) -> Column:
    """Column reference that survives dots in generated aliases."""
    return F.col("`" + name + "`") if ("." in name or "(" in name) \
        else F.col(name)


class CypherPlanner:
    def __init__(self, graph, params: dict | None = None) -> None:
        self.graph = graph
        # a Params instance (the template planner's SentinelParams)
        # is kept as given: its value reads must stay observable
        self.params = params if isinstance(params, Params) \
            else Params(params or {})
        self._gensym = itertools.count()
        # ONE statement clock per query: every compiler this planner
        # creates shares it, so datetime.statement()/date() evaluated
        # in different clauses of one statement agree exactly
        self.query_time_ms = int(time.time() * 1000)
        self.stats: dict[str, int] = {}
        # conservative defaults for _compile_path calls outside
        # plan_single: everything counts as referenced, no light paths
        self._referenced: set[str] | None = None
        self._light_paths: set[str] = set()
        # node vars that only need an id-shaped struct in the current
        # sub-pattern compile (OPTIONAL MATCH shared endpoints: the
        # branch joins back to the outer row on _id, so binding the
        # full node struct — a join against the all-labels union — is
        # wasted work; see _optional_match)
        self._id_only_vars: set[str] = set()
        self._variants_flag: bool | None = None

    # ---------------------------------------------------------------- helpers
    def sym(self, prefix: str) -> str:
        return f"__{prefix}{next(self._gensym)}"

    def _stat_peek(self, kind: str, names: list[str] | None) -> int | None:
        """Cached entity count at the CURRENT graph version, or None —
        never schedules a job (plan-time cost model must stay free,
        like the reference's running counters, graph_statistics.h)."""
        g = self.graph
        tabs = g.node_tables if kind == "n" else g.edge_tables
        total = 0
        for nm in (names if names is not None else list(tabs)):
            c = g._count_cache.get((kind, nm, g._version))
            if c is None:
                return None
            total += c
        return total

    def _hint_small(self, df: DataFrame) -> DataFrame:
        """Cost-based broadcast hint: when the whole graph's
        footer-known input is under the adaptive gate threshold
        (session.tune_for_input runs the session AQE-off there), any
        subplan whose OUTPUT is bounded by the graph itself fits an
        executor, so hint the broadcast the runtime re-planner would
        have discovered. At scale the gate never fires and join
        strategy stays with Catalyst/AQE. Callers must only pass
        bounded subplans (key sets, per-node aggregates, single-hop
        branches) — never var-len expansions."""
        if getattr(self.graph, "_small_input", False):
            return F.broadcast(df)
        return df

    def compiler(self, ctx: Ctx) -> ExprCompiler:
        df = ctx.df if ctx.df is not None else self._unit_df()
        c = ExprCompiler(df, ctx.vars, self.params, self.query_time_ms)
        c.variants_possible = self._variants_possible() \
            or getattr(self, "_variant_made", False)
        c._planner = self   # lets literal-built variants flip the flag
        return c

    def _variants_possible(self) -> bool:
        # cached per planner; mutations can flip False→True mid-query,
        # so recompute after any mutation (cheap: schemas are cached)
        v = self._variants_flag
        if v is None or self.stats:  # stats non-empty ⇔ a mutation ran
            v = self.graph.variants_possible()
            if not self.stats:
                self._variants_flag = v
        return v

    def _unit_df(self) -> DataFrame:
        # single-partition range: a 1-row unit plan must not schedule
        # defaultParallelism empty tasks
        return self.graph.spark.range(0, 1, 1, 1) \
            .select(F.lit(0).alias("__unit"))

    def _node_scan(self, labels: list[str] | None) -> tuple[DataFrame, tuple[str, ...]]:
        # (n:A:A) is the same constraint as (n:A) — dedupe before the
        # conjunction check so a repeated label on a single-label graph
        # doesn't collapse to lit(False) (round-7 advice)
        if labels:
            labels = list(dict.fromkeys(labels))
        flat = self.graph.nodes(labels if labels else None)
        if labels and len(labels) > 1:
            # (n:A:B) is a CONJUNCTION — the node must carry every
            # label (openCypher Match1[3]); the union scan above is
            # the candidate set, membership in ALL label tables is the
            # filter (single-label graphs can never satisfy it)
            if "_labels" in flat.columns:
                for l in labels:
                    flat = flat.filter(
                        F.array_contains(F.col("_labels"), l))
            else:
                flat = flat.filter(F.lit(False))
        props = tuple(c for c in flat.columns
                      if c not in ("_id", "_label", "_labels"))
        return flat, props

    def _edge_flat(self, types: list[str] | None) -> tuple[DataFrame, tuple[str, ...]]:
        flat = self.graph.edges(types if types else None)
        props = tuple(c for c in flat.columns
                      if c not in ("_id", "_src", "_dst", "_rel"))
        return flat, props

    def _const_int(self, e: A.Expr | None) -> int | None:
        if e is None:
            return None
        if isinstance(e, A.Literal) and isinstance(e.value, int) \
                and not isinstance(e.value, bool):
            return e.value
        if isinstance(e, A.Parameter):
            v = self.params[e.name]
            if isinstance(v, bool) or not isinstance(v, int):
                # a float parameter is InvalidArgumentType, not a
                # silent truncation (ReturnSkipLimit1[8])
                raise PlanError(
                    f"SKIP/LIMIT expects an integer, got {v!r}")
            return int(v)
        # a variable-free expression (SKIP toInteger(rand()*9)) is
        # evaluated ONCE at plan time over the unit row — referencing
        # a variable fails compile and stays an error
        try:
            comp = ExprCompiler(self._unit_df(), {}, self.params,
                                self.query_time_ms)
            val = self._unit_df().select(
                comp.compile(e).alias("__v")).take(1)[0]["__v"]
        except PlanError:
            raise
        except Exception:
            raise PlanError(
                "SKIP/LIMIT must be an integer literal, parameter or "
                "variable-free integer expression")
        if isinstance(val, bool) or not isinstance(val, int):
            raise PlanError(
                f"SKIP/LIMIT expects an integer, got {val!r}")
        return int(val)

    # ------------------------------------------------------------------ plan
    def plan(self, q: A.Query) -> DataFrame:
        if len(set(q.union_all)) > 1:
            # InvalidClauseComposition (TCK Union3)
            raise PlanError("cannot mix UNION and UNION ALL")
        dfs = [self.plan_single(p) for p in q.parts]
        out = dfs[0]
        for df in dfs[1:]:
            if out.columns != df.columns:
                raise PlanError("UNION parts must project the same columns")
            out = out.unionByName(df)
        if len(dfs) > 1 and not all(q.union_all):
            out = out.dropDuplicates()
        return out

    def _light_path_vars(self, q: A.SingleQuery) -> set[str]:
        """Path variables used ONLY as ``length(p)``/``size(p)`` — their
        values never need entity structs, so shortestPath can skip the
        id→struct materialization joins."""
        pvars = {p.var for c in q.clauses if isinstance(c, A.MatchClause)
                 for p in c.paths if p.var}
        if not pvars:
            return set()
        heavy: set[str] = set()

        def visit(n):
            if isinstance(n, A.FuncCall) and n.name in ("length", "size") \
                    and len(n.args) == 1 \
                    and isinstance(n.args[0], A.Variable):
                return
            if isinstance(n, A.Variable) and n.name in pvars:
                heavy.add(n.name)
            if hasattr(n, "__dataclass_fields__"):
                for fname in n.__dataclass_fields__:
                    v = getattr(n, fname)
                    for item in (v if isinstance(v, list) else [v]):
                        if isinstance(item, tuple):
                            for x in item:
                                if hasattr(x, "__dataclass_fields__"):
                                    visit(x)
                        elif hasattr(item, "__dataclass_fields__"):
                            visit(item)

        for c in q.clauses:
            visit(c)
        return pvars - heavy

    def _referenced_vars(self, q: A.SingleQuery) -> set[str] | None:
        """Names a pattern variable must stay bound for: appears in any
        expression, in 2+ pattern elements (shared endpoint), or under a
        named path. Returns None when RETURN/WITH * forces everything."""
        from collections import Counter
        refs: set[str] = set()
        pat_count: Counter = Counter()
        ep_edges: set[str] = set()
        star = False
        for n in _walk(q):
            if isinstance(n, A.Variable):
                refs.add(n.name)
            elif isinstance(n, A.NodePattern):
                if n.var:
                    pat_count[n.var] += 1
            elif isinstance(n, A.FuncCall) \
                    and n.name in ("startnode", "endnode") \
                    and n.args and isinstance(n.args[0], A.Variable):
                ep_edges.add(n.args[0].name)
            elif isinstance(n, (A.ReturnClause, A.WithClause)) \
                    and getattr(n, "star", False):
                star = True
            elif isinstance(n, A.PatternPath) and n.var:
                for el in n.elements:
                    if isinstance(el, A.NodePattern) and el.var:
                        refs.add(el.var)
        if star:
            return None
        if ep_edges:
            # startNode(e)/endNode(e) reference e's pattern endpoints:
            # keep (and if anonymous, name) them so the full node struct
            # is available to the entity functions
            for n in _walk(q):
                if isinstance(n, A.PatternPath):
                    els = n.elements
                    for i, el in enumerate(els):
                        if isinstance(el, A.RelPattern) \
                                and el.var in ep_edges \
                                and el.min_hops is None:
                            for j in (i - 1, i + 1):
                                if els[j].var is None:
                                    els[j].var = self.sym("n")
                                refs.add(els[j].var)
        refs.update(v for v, c in pat_count.items() if c >= 2)
        return refs

    def _unreferenced(self, var: str | None) -> bool:
        if var is None:
            return True
        return self._referenced is not None and var not in self._referenced

    def _endpoint_guaranteed(self, rel: A.RelPattern,
                             labels: list[str] | None,
                             target: bool) -> bool:
        """True when the rel type's endpoint-label hints prove the node
        pattern's label filter is a no-op, so the node-existence join can
        be elided (no reference analog — GraphBLAS existence checks are
        free there, a distributed join is not)."""
        if not labels:
            return True
        if len(labels) > 1:
            # a conjunction of labels can never be guaranteed by
            # single-label endpoint hints
            return False
        hints = self.graph.rel_endpoints
        if not hints:
            return False
        types = rel.types or list(self.graph.edge_tables)
        want = set(labels)
        for t in types:
            h = hints.get(t)
            if h is None:
                return False
            s, d = h
            if rel.direction == "out":
                g = d if target else s
            elif rel.direction == "in":
                g = s if target else d
            else:
                g = s | d
            if not g <= want:
                return False
        return True

    def plan_single(self, q: A.SingleQuery) -> DataFrame:
        fast = self._try_reduce_count(q)
        if fast is not None:
            return fast
        ctx = Ctx()
        self._light_paths = self._light_path_vars(q)
        self._referenced = self._referenced_vars(q)
        result: DataFrame | None = None
        merged = _merge_creates(q.clauses)
        for ci, clause in enumerate(merged):
            # variables referenced by LATER clauses: a SET's
            # read-your-writes struct rebuild is only needed for these
            # (a trailing SET with no RETURN skips it entirely)
            self._tail_refs = _tail_ref_names(merged[ci + 1:])
            if isinstance(clause, A.MatchClause):
                self._clause_match(ctx, clause)
            elif isinstance(clause, A.UnwindClause):
                self._clause_unwind(ctx, clause)
            elif isinstance(clause, A.WithClause):
                self._clause_with(ctx, clause)
            elif isinstance(clause, A.ReturnClause):
                result = self._clause_return(ctx, clause)
            elif isinstance(clause, A.CallClause):
                self._clause_call(ctx, clause,
                                  standalone=(len(merged) == 1))
                if ci == len(merged) - 1:
                    # standalone CALL (no RETURN): the procedure's
                    # yielded columns ARE the result set
                    result = ctx.df
            elif isinstance(clause, (A.CreateClause, A.MergeClause,
                                     A.SetClause, A.DeleteClause,
                                     A.RemoveClause)):
                from redisgraph_spark.planner.mutations import apply_mutation
                result = apply_mutation(self, ctx, clause)
                if isinstance(clause, A.DeleteClause):
                    for de in clause.exprs:
                        if isinstance(de, A.Variable):
                            ctx.deleted_vars.add(de.name)
            elif isinstance(clause, A.IndexDDL):
                g = self.graph
                if clause.create:
                    n = g.create_index(clause.label, clause.props)
                    self.stats["indices_created"] = \
                        self.stats.get("indices_created", 0) + n
                else:
                    n = g.drop_index(clause.label, clause.props)
                    self.stats["indices_deleted"] = \
                        self.stats.get("indices_deleted", 0) + n
            else:
                raise PlanError(f"Unsupported clause {type(clause).__name__}")
        if result is None:
            # mutation-only query: empty result set — statistics travel
            # out-of-band (Graph.last_stats), matching the reference's
            # empty reply + statistics footer
            # (src/resultset/resultset_statistics.h:12-20)
            result = self.graph.spark.range(0, 0, 1, 1).select()
        return result

    def _try_reduce_count(self, q: A.SingleQuery) -> DataFrame | None:
        """``MATCH (n[:L]) RETURN count(n)`` / ``MATCH ()-[e[:R]]->()
        RETURN count(e)`` answered from cached graph statistics instead
        of a scan — the ``reduceCount`` pass
        (reference ``optimizations/reduce_count.c:52-190``; counters
        ``src/graph/graph_statistics.h:14-37``)."""
        if len(q.clauses) != 2:
            return None
        m, r = q.clauses
        if not (isinstance(m, A.MatchClause) and not m.optional
                and m.where is None and len(m.paths) == 1
                and isinstance(r, A.ReturnClause) and not r.star
                and not r.distinct and not r.order_by
                and r.skip is None and r.limit is None
                and len(r.items) == 1):
            return None
        els = m.paths[0].elements
        if m.paths[0].var is not None:
            return None
        expr = r.items[0].expr
        alias = r.items[0].alias or r.items[0].text or _deparse(expr)
        counted = None  # variable the count must target, None = count(*)
        if isinstance(expr, A.FuncCall) and expr.name == "count" \
                and not expr.distinct and len(expr.args) == 1 \
                and isinstance(expr.args[0], A.Variable):
            counted = expr.args[0].name
        elif not isinstance(expr, A.CountStar):
            return None
        g = self.graph
        if len(els) == 1:
            n = els[0]
            if n.props or (counted is not None and counted != n.var):
                return None
            if n.labels and len(n.labels) > 1:
                return None
            if g._multilabel:
                return None  # multilabel scans dedup; counters would lie
            cnt = g.node_count(n.labels[0] if n.labels else None)
        elif len(els) == 3:
            a, e, b = els
            if a.labels or a.props or b.labels or b.props or e.props:
                return None
            if e.min_hops is not None or e.direction == "both":
                # undirected counts each edge in both orientations
                # (minus self-loops) — no counter holds that
                return None
            if a.var is not None and a.var == b.var:
                return None  # (x)-[e]->(x) counts self-loops only
            if counted is not None and counted != e.var:
                return None
            if e.types and len(e.types) > 1:
                return None
            cnt = g.edge_count(e.types[0] if e.types else None)
        else:
            return None
        from redisgraph_spark.session import inline_df
        return inline_df(g.spark, [(cnt,)], [(alias, "long")])

    def _stats_df(self) -> DataFrame:
        from redisgraph_spark.session import inline_df
        items = list(self.stats.items()) or [("noop", 0)]
        return inline_df(self.graph.spark, items,
                         [("stat", "string"), ("value", "long")])

    # ----------------------------------------------------------------- MATCH
    def _check_pattern_kinds(self, ctx: Ctx,
                             paths: list[A.PatternPath],
                             optional: bool = False) -> None:
        """Variable-kind conflicts are provable from the pattern AST
        alone — check the WHOLE clause before building any traversal
        (the reference validates patterns in a pre-pass,
        ast_validations.c). Planning left-to-right only hit the
        conflict after constructing every preceding traversal: a
        clause like `()-[*]-()-[r]-(), (), ()-[*]-(r)` spent ~19 min
        of driver-side unbounded-var-len plan construction before
        raising the error this pre-pass finds in microseconds. Raises
        the SAME errors the per-element binders raise (planner.py
        `_bind_node`/`_single_hop`/`_var_len_hop` kind checks), only
        earlier; the reused-edge and every other validation stay with
        the binders. OPTIONAL MATCH compiles its paths into a FRESH
        sub-context (outer variables join back by equality and
        null-extend — TCK Path1 `nodes()` on null path binds a scalar
        in node position legally), so there the check covers only
        within-clause conflicts."""
        kinds = {} if optional else \
            {n: v.kind for n, v in ctx.vars.items()}
        for path in paths:
            for el in path.elements:
                var = getattr(el, "var", None)
                if var is None:
                    continue
                if isinstance(el, A.NodePattern):
                    if kinds.setdefault(var, "node") != "node":
                        raise PlanError(f"Variable `{var}` is not a node")
                elif isinstance(el, A.RelPattern):
                    if el.min_hops is None:
                        if kinds.setdefault(var, "edge") != "edge":
                            raise PlanError(
                                f"Variable `{var}` is not an edge")
                    else:
                        # var-len var binds a hop list, which later
                        # clauses see as a scalar. `_var_len_hop` has
                        # its own reuse checks (same-clause reuse is
                        # "already declared"; a list bound by an
                        # earlier clause is matched through a fresh
                        # symbol), so an invalid reuse may raise a
                        # different error here than there — but it
                        # raises either way
                        kinds[var] = "scalar"

    def _clause_match(self, ctx: Ctx, clause: A.MatchClause) -> None:
        self._check_pattern_kinds(ctx, clause.paths, clause.optional)
        if clause.optional:
            self._optional_match(ctx, clause)
            return
        edge_uniq: list[str] = []
        ctx.clause_bound = frozenset(ctx.vars)
        for path in clause.paths:
            self._compile_path(ctx, path, edge_uniq)
        if clause.where is not None:
            self._apply_where(ctx, clause.where)

    def _apply_where(self, ctx: Ctx, where: A.Expr) -> None:
        """Split top-level conjuncts; pure pattern predicates become
        semi/anti joins (SemiApply / AntiSemiApply); everything else is a
        filter, with embedded pattern predicates turned into boolean flag
        columns via left joins (ApplyMultiplexer analog,
        ``ops/op_apply_multiplexer.c:11-33``)."""
        conjuncts = self._split_and(where)
        residual: list[A.Expr] = []
        for c in conjuncts:
            if isinstance(c, A.PatternPredicate):
                self._pattern_join(ctx, c.pattern, anti=False)
            elif isinstance(c, A.Unary) and c.op == "NOT" and \
                    isinstance(c.operand, A.PatternPredicate):
                self._pattern_join(ctx, c.operand.pattern, anti=True)
            else:
                residual.append(c)
        if residual:
            rewritten = [
                self._rewrite_graph_funcs(
                    ctx, self._rewrite_pattern_flags(ctx, r))
                for r in residual]
            comp = self.compiler(ctx)
            comp.allow_bindings = True
            cond = None        # conjuncts without let-bound temporals
            bcond = None       # conjuncts referencing let bindings
            for r in rewritten:
                n_binds = len(comp.let_bindings)
                col = comp.compile(r)
                if comp._is_variant(col):
                    from redisgraph_spark.planner.variant import bool_view
                    col = bool_view(col)
                else:
                    # statically non-boolean-castable predicate: clean
                    # type mismatch instead of a runtime cast failure
                    # (reference filter-tree type checking; numeric/null
                    # keep the permissive cast — unchanged behavior)
                    if comp._cmp_class(col) in ("str", "array", "map",
                                                "temporal"):
                        raise CompileError(
                            "Type mismatch: WHERE expects a Boolean "
                            "predicate")
                    col = col.cast("boolean")
                if len(comp.let_bindings) > n_binds:
                    bcond = col if bcond is None else (bcond & col)
                else:
                    cond = col if cond is None else (cond & col)
            if cond is not None:
                ctx.df = ctx.df.filter(cond)
            if bcond is not None:
                # barrier=True: a deterministic binding projection
                # under a Filter would be substituted back into the
                # pushed-down condition, re-inflating the temporal
                # expression tree multiplicatively (the round-9
                # codegen blowup)
                base, names = comp.flush_bindings(ctx.df, barrier=True)
                ctx.df = base.filter(bcond).drop(*names)

    def _split_and(self, e: A.Expr) -> list[A.Expr]:
        if isinstance(e, A.Binary) and e.op == "AND":
            return self._split_and(e.left) + self._split_and(e.right)
        return [e]

    def _pattern_subplan(self, ctx: Ctx, pattern: A.PatternPath
                         ) -> tuple[DataFrame, list[str], Ctx]:
        """Compile a pattern standalone; return (df, shared_vars, subctx)."""
        fast = self._simple_exists_subplan(ctx, pattern)
        if fast is not None:
            return fast
        sub = Ctx()
        self._compile_path(sub, pattern, [])
        shared = [v for v in sub.vars
                  if v in ctx.vars and not v.startswith("__")
                  and ctx.vars[v].kind in ("node", "edge")
                  and sub.vars[v].kind == ctx.vars[v].kind]
        if not shared:
            raise PlanError(
                "pattern predicate must share at least one bound variable")
        return sub.df, shared, sub

    def _simple_exists_subplan(self, ctx: Ctx, pattern: A.PatternPath):
        """Key-only subplan for the common pattern-predicate shape
        `(bound)-[:T]->(anon)` (either direction / undirected): the
        semi/anti/flag join only consumes the shared end's id, and the
        outer side already proves that node exists, so the keys come
        straight off the edge table — no node-union scan, no broadcast
        of all labels. The anonymous end joins its label table only
        when the rel-endpoint hints can't guarantee the label (same
        rule as reduceScans in the main pattern compiler). Returns
        (df with column <var> = struct(_id), [var], None), or None when
        the shape doesn't apply (var-len, edge var/props, both ends
        bound, labels/props on the shared end)."""
        if pattern.var is not None or pattern.shortest is not None:
            return None
        els = pattern.elements
        if len(els) != 3:
            return None
        n1, rel, n2 = els
        if not isinstance(rel, A.RelPattern):
            return None
        if rel.min_hops is not None or rel.var is not None or rel.props:
            return None

        def outer_node(nd):
            return (nd.var is not None and nd.var in ctx.vars
                    and ctx.vars[nd.var].kind == "node")

        b1, b2 = outer_node(n1), outer_node(n2)
        if b1 == b2:
            return None
        shared, other = (n1, n2) if b1 else (n2, n1)
        if shared.labels or shared.props or other.props:
            return None
        oriented, _ = self._oriented_edge_sel(rel, "__pf", "__pt")
        shared_col = "__pf" if shared is n1 else "__pt"
        other_col = "__pt" if shared is n1 else "__pf"
        if other.labels:
            target = other is n2
            if not self._endpoint_guaranteed(rel, list(other.labels),
                                             target=target):
                lbl_ids = self.graph.nodes(list(other.labels)) \
                    .select(F.col("_id").alias(other_col))
                oriented = oriented.join(lbl_ids, other_col, "left_semi")
        var = shared.var
        df = oriented.select(
            F.struct(F.col(shared_col).alias("_id")).alias(var))
        return df, [var], None

    def _pattern_join(self, ctx: Ctx, pattern: A.PatternPath,
                      anti: bool) -> None:
        sub_df, shared, _ = self._pattern_subplan(ctx, pattern)
        keys = [self.sym("pk") for _ in shared]
        key_df = sub_df.select(
            *[F.col(f"{v}._id").alias(k) for v, k in zip(shared, keys)]
        ).dropDuplicates()
        cond = None
        for v, k in zip(shared, keys):
            c = F.col(f"{v}._id") == F.col(k)
            cond = c if cond is None else (cond & c)
        how = "left_anti" if anti else "left_semi"
        # deduped id keys: bounded by the node set → small-mode hint
        ctx.df = ctx.df.join(self._hint_small(key_df), cond, how)

    def _rewrite_graph_funcs(self, ctx: Ctx, e: A.Expr) -> A.Expr:
        """Replace indegree(n)/outdegree(n) with degree columns joined
        from an edge aggregation (reference entity funcs
        ``src/arithmetic/entity_funcs/entity_funcs.c:186-230``)."""
        e = self._rewrite_pattern_comprehensions(ctx, e)
        e = self._rewrite_shortest_paths(ctx, e)
        calls = [n for n in _walk(e)
                 if isinstance(n, A.FuncCall)
                 and n.name in ("indegree", "outdegree")
                 and n.args and isinstance(n.args[0], A.Variable)]
        if not calls:
            return e
        mapping: dict[int, A.Expr] = {}
        for call in calls:
            var = call.args[0].name
            if var not in ctx.vars or ctx.vars[var].kind != "node":
                raise PlanError(f"{call.name}() expects a bound node")
            rels = []
            for extra in call.args[1:]:
                if isinstance(extra, A.Literal):
                    rels.append(str(extra.value))
            key = "_dst" if call.name == "indegree" else "_src"
            if not rels:
                # rel-endpoint hints prune relation types that cannot
                # touch the variable's label on the counted side —
                # indegree(n:Nation) aggregates the IN_NATION table,
                # not the union of every edge table (entity_funcs.c
                # iterates per-relation matrices; unioning 600k
                # CONTAINS rows to count Nation in-edges is pure waste)
                lbls = getattr(ctx.vars[var], "labels", None)
                hints = self.graph.rel_endpoints
                if lbls and hints and not self.graph._multilabel:
                    want = set(lbls)
                    side = 1 if call.name == "indegree" else 0
                    rels = [r for r in self.graph.edge_tables
                            if hints.get(r) is None
                            or (hints[r][side] & want)]
                    if not rels:
                        # no relation can reach this label: degree 0
                        mapping[id(call)] = A.Literal(0)
                        continue
                    if set(rels) == set(self.graph.edge_tables):
                        rels = []
            edge_df = self.graph.edges(rels or None)
            hidden = self.sym("deg")
            kc = self.sym("degk")
            deg = edge_df.groupBy(F.col(key).alias(kc)) \
                .agg(F.count(F.lit(1)).alias(hidden))
            ctx.df = ctx.df.join(           # per-node counts: bounded
                self._hint_small(deg),
                F.col(f"{var}._id") == F.col(kc), "left").drop(kc)
            ctx.vars[hidden] = VarInfo("scalar")
            mapping[id(call)] = A.FuncCall(
                "coalesce", [A.Variable(hidden), A.Literal(0)])
        return _substitute(e, mapping)

    def _rewrite_pattern_comprehensions(self, ctx: Ctx,
                                        e: A.Expr) -> A.Expr:
        """``[p = (a)-[:R]->(b) WHERE pred | proj]`` in expression
        position: pin a row key, re-match the pattern with the outer
        row's bindings live (the sub-compile starts from the CURRENT
        DataFrame, so bound endpoints filter exactly like a correlated
        Apply), collect the projection per row key, left-join the list
        back — no match is [] (openCypher Pattern3)."""
        pcs = [n for n in _walk(e)
               if isinstance(n, A.PatternComprehension)]
        if not pcs:
            return e
        mapping: dict[int, A.Expr] = {}
        for pc in pcs:
            hidden = self.sym("pc")
            if ctx.df is None:
                ctx.df = self._unit_df()
            rk = self.sym("pcr")
            ctx.df = ctx.df.withColumn(
                rk, F.monotonically_increasing_id()) \
                .localCheckpoint(eager=True)
            sub = Ctx(df=ctx.df, vars=dict(ctx.vars))
            edge_uniq: list = []
            self._compile_path(sub, pc.path, edge_uniq)
            if pc.where is not None:
                self._apply_where(sub, pc.where)
            comp = self.compiler(sub)
            proj = comp.compile(pc.proj)
            # deterministic list order: descending edge ids = newest
            # relationship first, Neo4j's documented adjacency
            # iteration order (openCypher leaves it unspecified; a
            # distributed collect would otherwise be run-dependent)
            ekeys = [F.col(f"{nm}._id")
                     for kind, nm in edge_uniq
                     if kind == "e" and nm in sub.df.columns]
            if not ekeys and pc.path.var \
                    and pc.path.var in sub.df.columns:
                # named path: hidden edge binds are dropped after the
                # path value is built — key on its first edge instead
                ekeys = [F.element_at(
                    F.col(f"{pc.path.var}.edges"), 1).getField("_id")]
            if ekeys:
                pair = F.struct(
                    *[k.alias(f"k{i}") for i, k in enumerate(ekeys)],
                    proj.alias("__v"))

                def _cmp(l, r):
                    out = F.lit(0)
                    for i in reversed(range(len(ekeys))):
                        ki = f"k{i}"
                        out = F.when(l[ki] < r[ki], F.lit(1)) \
                            .when(l[ki] > r[ki], F.lit(-1)) \
                            .otherwise(out)
                    return out
                lists = sub.df.select(F.col(rk), pair.alias("__pcp")) \
                    .groupBy(rk) \
                    .agg(F.transform(
                        F.array_sort(F.collect_list("__pcp"), _cmp),
                        lambda x: x["__v"]).alias(hidden))
            else:
                lists = sub.df.select(F.col(rk), proj.alias("__pcv")) \
                    .groupBy(rk) \
                    .agg(F.collect_list("__pcv").alias(hidden))
            ctx.df = ctx.df.join(lists, rk, "left")
            arr_t = lists.schema[hidden].dataType
            ctx.df = ctx.df.withColumn(
                hidden, F.coalesce(F.col(hidden),
                                   F.array().cast(arr_t))).drop(rk)
            ctx.vars[hidden] = VarInfo("scalar")
            mapping[id(pc)] = A.Variable(hidden)
        return _substitute(e, mapping)

    def _rewrite_shortest_paths(self, ctx: Ctx, e: A.Expr) -> A.Expr:
        """shortestPath() in expression position (RETURN / WITH / WHERE):
        evaluate the BFS once over the distinct bound endpoint pairs and
        left-join the path value back, so rows with no path get NULL
        (reference ``src/arithmetic/path_funcs/path_funcs.c:119-179`` —
        AR_ShortestPath requires both endpoints resolved and yields NULL
        when the destination is unreachable)."""
        sps = [n for n in _walk(e) if isinstance(n, A.ShortestPathExpr)]
        if not sps:
            return e
        import dataclasses
        from redisgraph_spark.algorithms.shortest_path import \
            compile_shortest_path
        # length(shortestPath(..)) / size(..) never needs entity structs
        light_ids = {id(n.args[0]) for n in _walk(e)
                     if isinstance(n, A.FuncCall)
                     and n.name in ("length", "size") and n.args}
        mapping: dict[int, A.Expr] = {}
        for sp in sps:
            path = sp.pattern
            if sp.all_paths:
                raise PlanError(
                    "allShortestPaths() is only allowed inside MATCH")
            if len(path.elements) != 3:
                raise PlanError(
                    "shortestPath() expects a single-hop pattern "
                    "(a)-[*..]->(b)")
            s_np, _rel, t_np = path.elements
            s, t = s_np.var, t_np.var
            for np in (s_np, t_np):
                if np.var is None or np.var not in ctx.vars \
                        or ctx.vars[np.var].kind != "node":
                    raise PlanError(
                        "shortestPath() in an expression requires both "
                        "endpoints to be bound nodes")
                if np.labels or np.props:
                    raise PlanError(
                        "shortestPath() endpoints in an expression must "
                        "be bare bound variables")
            pvar = self.sym("sp")
            if id(sp) in light_ids:
                self._light_paths.add(pvar)
            sk, tk = self.sym("spsrc"), self.sym("spdst")
            pairs = ctx.df.select(
                F.col(f"{s}._id").alias(sk),
                F.col(f"{t}._id").alias(tk)).dropDuplicates()
            sub = Ctx()
            sub.df = pairs.select(
                F.struct(F.col(sk).alias("_id")).alias(s),
                F.struct(F.col(tk).alias("_id")).alias(t))
            sub.vars[s] = VarInfo("node", ())
            sub.vars[t] = VarInfo("node", ())
            compile_shortest_path(
                self, sub, dataclasses.replace(path, var=pvar))
            res = sub.df.select(
                F.col(f"{s}._id").alias(sk),
                F.col(f"{t}._id").alias(tk), F.col(pvar))
            ctx.df = ctx.df.join(
                res,
                (F.col(f"{s}._id") == F.col(sk))
                & (F.col(f"{t}._id") == F.col(tk)),
                "left").drop(sk, tk)
            ctx.vars[pvar] = VarInfo("path")
            mapping[id(sp)] = A.Variable(pvar)
        return _substitute(e, mapping)

    def _rewrite_pattern_flags(self, ctx: Ctx, e: A.Expr) -> A.Expr:
        """Replace embedded PatternPredicate nodes with boolean flag
        columns computed by distinct-key left joins."""
        preds = [n for n in _walk(e) if isinstance(n, A.PatternPredicate)]
        if not preds:
            return e
        mapping: dict[int, A.Expr] = {}
        for p in preds:
            sub_df, shared, _ = self._pattern_subplan(ctx, p.pattern)
            keys = [self.sym("pk") for _ in shared]
            flag = self.sym("ppflag")
            key_df = sub_df.select(
                *[F.col(f"{v}._id").alias(k) for v, k in zip(shared, keys)]
            ).dropDuplicates().withColumn(flag, F.lit(True))
            cond = None
            for v, k in zip(shared, keys):
                c = F.col(f"{v}._id") == F.col(k)
                cond = c if cond is None else (cond & c)
            ctx.df = ctx.df.join(key_df, cond, "left") \
                           .drop(*keys)
            ctx.vars[flag] = VarInfo("scalar")
            mapping[id(p)] = A.FuncCall(
                "coalesce", [A.Variable(flag), A.Literal(False)])
        return _substitute(e, mapping)

    # ------------------------------------------------------ pattern compile
    def _compile_path(self, ctx: Ctx, path: A.PatternPath,
                      edge_uniq: list[str]) -> None:
        if path.shortest is not None:
            from redisgraph_spark.algorithms.shortest_path import \
                compile_shortest_path
            compile_shortest_path(self, ctx, path)
            return
        elements = path.elements
        if path.var is not None:
            # a path variable can never be rebound — not by a later
            # MATCH, not in the same pattern, and not shared with a
            # node/edge in its own pattern (openCypher
            # VariableAlreadyBound; the TCK "Fail when a path has the
            # same variable ..." scenarios)
            own = {getattr(el, "var", None) for el in path.elements}
            if path.var in ctx.vars or path.var in own:
                raise PlanError(
                    f"Variable `{path.var}` already declared")
        need_ids = path.var is not None
        hidden_edges: list[str] = []
        if need_ids:
            # a named path references EVERY edge (relationships(p)), so
            # anonymous rel patterns get hidden bindings — this also opts
            # them out of the unreferenced-edge uniqueness relaxation,
            # matching the reference (docs/known_limitations.md:3-24)
            for el in elements:
                if isinstance(el, A.RelPattern) and el.var is None:
                    el.var = self.sym("e")
                    hidden_edges.append(el.var)
        first: A.NodePattern = elements[0]
        fresh_start = ctx.df is None or (
            "__unit" in ctx.df.columns and len(ctx.df.columns) == 1)
        # reduceScans analog (optimizations/reduce_scans.c): an endpoint
        # that is unreferenced and unconstrained — or whose label filter
        # the rel-endpoint hints prove redundant — needs no node-table
        # scan: the edge endpoint column IS the node
        if (self._unreferenced(first.var) and not first.props
                and len(elements) > 1 and not need_ids
                and elements[1].min_hops is None
                and first.var not in ctx.vars
                and self._endpoint_guaranteed(elements[1], first.labels,
                                              target=False)):
            prev: tuple[str, str | None] = ("free", None)
        else:
            prev = ("var", self._bind_node(ctx, first))
        # statistics-tracked frontier row bound along this chain, for
        # small-mode build-side hints (Catalyst cannot size a join
        # OUTPUT statically, so left-deep hop joins otherwise broadcast
        # the big new edge table instead of the small accumulated
        # frontier). Exact after the first hop off a unique scan;
        # accumulated additively after — an overestimate only makes the
        # hint rarer. Reset on anything untrackable.
        chain_bound: int | None = None
        if fresh_start and not first.props:
            if prev[0] == "free":
                chain_bound = 0
            else:
                chain_bound = self._stat_peek(
                    "n", list(first.labels) if first.labels else None)
        chain_hops = 0
        path_node_vars: list[str] = []
        if need_ids and prev[0] == "var":
            path_node_vars.append(prev[1])
        i = 1
        while i < len(elements):
            rel: A.RelPattern = elements[i]
            node: A.NodePattern = elements[i + 1]
            skippable = (
                self._unreferenced(node.var) and not node.props
                and not need_ids and node.var not in ctx.vars
                and self._endpoint_guaranteed(rel, node.labels, target=True)
                # a 0-min var-len target can BE the source node, whose
                # label the rel hints say nothing about
                and (rel.min_hops is None or rel.min_hops >= 1
                     or not node.labels))
            # id-only endpoint (OPTIONAL MATCH shared var): compile the
            # hop as skippable — no node-table join — then rebind the
            # dangling endpoint column as an id-shaped node struct; the
            # caller's join back to the outer row supplies existence
            # (edge endpoints are node ids by construction) and the
            # rel-endpoint hints proved any label filter redundant
            id_only = (node.var is not None
                       and node.var in self._id_only_vars
                       and not node.props and not need_ids
                       and node.var not in ctx.vars
                       and rel.min_hops is None
                       and self._endpoint_guaranteed(
                           rel, node.labels, target=True))
            if rel.min_hops is not None:
                chain_bound = None
                prev = self._var_len_hop(ctx, prev, rel, node, edge_uniq,
                                         skippable)
            else:
                if chain_bound is not None and chain_hops < 2 \
                        and getattr(self.graph, "_small_input", False):
                    E = self._stat_peek(
                        "e", list(rel.types) if rel.types else None)
                    def _leaves(dt) -> int:
                        fields = getattr(dt, "fields", None)
                        if fields is None:
                            return 1
                        return sum(_leaves(f.dataType) for f in fields)
                    if E is not None and ctx.df is not None \
                            and chain_bound * 2 <= E \
                            and chain_bound * 12 * _leaves(ctx.df.schema) \
                            <= 64 * 1024 * 1024:
                        # frontier provably smaller than the edge table
                        # it is about to meet (and its hash relation
                        # fits the broadcast budget even unpruned):
                        # make IT the build side
                        ctx.df = F.broadcast(ctx.df)
                    chain_bound = None if E is None else chain_bound + E
                else:
                    chain_bound = None
                chain_hops += 1
                prev = self._single_hop(ctx, prev, rel, node, edge_uniq,
                                        skippable or id_only)
                if id_only and prev[0] == "col":
                    ctx.df = ctx.df.withColumn(
                        node.var,
                        F.struct(F.col(prev[1]).alias("_id"))) \
                        .drop(prev[1])
                    ctx.vars[node.var] = VarInfo("node")
                    prev = ("var", node.var)
            if need_ids:
                path_node_vars.append(prev[1])
            i += 2
        # drop dangling endpoint columns left by skipped node binds
        if prev[0] == "col":
            ctx.df = ctx.df.drop(prev[1])
        if path.var is not None:
            self._build_path_value(ctx, path, path_node_vars)
            for h in hidden_edges:
                ctx.df = ctx.df.drop(h)
                ctx.vars.pop(h, None)

    def _build_path_value(self, ctx: Ctx, path: A.PatternPath,
                          node_vars: list[str]) -> None:
        """Materialize a path variable as ``{nodes: array<node-struct>,
        edges: array<edge-struct>}`` — first-class SIPath values
        (``src/datatypes/path/sipath.h:19-40``). Every node/edge struct is
        normalized to the graph-wide unified schema so heterogeneous
        labels/types fit one array element type."""
        comp = self.compiler(ctx)
        import pyspark.sql.types as T

        def norm(col: Column, full: T.StructType) -> Column:
            t = comp.dtype(col)
            have = {f.name: f.dataType for f in t.fields}
            parts = []
            for f in full.fields:
                if f.name in have:
                    c = col.getField(f.name)
                    if have[f.name] != f.dataType:
                        c = c.cast(f.dataType)
                    parts.append(c.alias(f.name))
                else:
                    parts.append(F.lit(None).cast(f.dataType).alias(f.name))
            return F.struct(*parts)

        full_n = self.graph.nodes(None).schema
        has_vl = any(isinstance(el, A.RelPattern) and el.min_hops is not None
                     for el in path.elements[1::2])
        if not has_vl:
            nodes_arr = F.array(*[norm(F.col(v), full_n) for v in node_vars])
        else:
            # a var-len hop contributes INTERMEDIATE nodes: walk the
            # matched edge array from the start id (undirected hops pick
            # the far endpoint per edge), then join the id sequence back
            # to node structs position-ordered
            ids = F.array(F.col(f"{node_vars[0]}._id"))
            vi, i = 1, 1
            els = path.elements
            while i < len(els):
                rel = els[i]
                if rel.min_hops is None:
                    ids = F.array_append(
                        ids, F.col(f"{node_vars[vi]}._id"))
                else:
                    ids = F.aggregate(
                        F.col(rel.var), ids,
                        lambda acc, x: F.array_append(
                            acc,
                            F.when(x["_src"] == F.element_at(
                                acc, F.lit(-1)), x["_dst"])
                            .otherwise(x["_src"])))
                vi += 1
                i += 2
            rk = self.sym("prow")
            ctx.df = ctx.df.withColumn("__pnids", ids) \
                .withColumn(rk, F.monotonically_increasing_id()) \
                .localCheckpoint(eager=True)
            flat = self.graph.nodes(None)
            ns = F.struct(*[F.col(c) for c in flat.columns])
            pos = ctx.df.select(
                F.col(rk), F.posexplode("__pnids").alias("__pos", "__nid"))
            pos = pos.join(
                flat.select(F.col("_id").alias("__nid"), ns.alias("__ns")),
                "__nid")
            packed = pos.groupBy(rk).agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__ns"))),
                    lambda x: x["__ns"]).alias("__pnodes"))
            ctx.df = ctx.df.join(packed, rk, "left") \
                .drop("__pnids", rk)
            nodes_arr = F.coalesce(
                F.col("__pnodes"),
                F.array().cast(T.ArrayType(full_n)))

        full_e = self.graph.edges(None).schema
        edge_cols = []
        for el in path.elements:
            if isinstance(el, A.RelPattern) and el.var is not None:
                col = F.col(el.var)
                if el.min_hops is not None:
                    # var-len: array of edge structs — normalize elements
                    et = comp.dtype(col)
                    have = {f.name: f.dataType for f in et.elementType.fields}
                    def make_mk(have):
                        # single-arg lambda: F.transform dispatches on
                        # arity, a second parameter would become the index
                        def mk(x):
                            parts = []
                            for f in full_e.fields:
                                if f.name in have:
                                    c = x[f.name]
                                    if have[f.name] != f.dataType:
                                        c = c.cast(f.dataType)
                                    parts.append(c.alias(f.name))
                                else:
                                    parts.append(
                                        F.lit(None).cast(f.dataType)
                                        .alias(f.name))
                            return F.struct(*parts)
                        return mk
                    edge_cols.append(F.transform(col, make_mk(have)))
                else:
                    edge_cols.append(F.array(norm(col, full_e)))
        if edge_cols:
            edges_arr = F.concat(*edge_cols) if len(edge_cols) > 1 \
                else edge_cols[0]
        else:
            edges_arr = F.array().cast(T.ArrayType(full_e))
        ctx.df = ctx.df.withColumn(
            path.var, F.struct(nodes_arr.alias("nodes"),
                               edges_arr.alias("edges")))
        if "__pnodes" in ctx.df.columns:
            ctx.df = ctx.df.drop("__pnodes")
        ctx.vars[path.var] = VarInfo("path")

    def _bind_node(self, ctx: Ctx, np: A.NodePattern) -> str:
        name = np.var or self.sym("n")
        if name in ctx.vars:
            # already bound: add label / property constraints
            if ctx.vars[name].kind != "node":
                raise PlanError(f"Variable `{name}` is not a node")
            comp = self.compiler(ctx)
            if np.labels:
                if self.graph._multilabel:
                    ctx.df = ctx.df.filter(F.arrays_overlap(
                        F.col(f"{name}._labels"),
                        F.array(*[F.lit(l) for l in np.labels])))
                else:
                    ctx.df = ctx.df.filter(
                        F.col(f"{name}._label").isin(list(np.labels)))
            for k, v in np.props:
                if k in ctx.vars[name].fields:
                    ctx.df = ctx.df.filter(comp.prop_eq(
                        F.col(name).getField(k), comp.compile(v),
                        value_dt=comp.static_dtype(v)))
                else:
                    ctx.df = ctx.df.filter(F.lit(False))
            return name
        flat, props = self._node_scan(np.labels or None)
        struct = F.struct(*[F.col(c) for c in flat.columns]).alias(name)
        sdf = flat.select(struct)
        if ctx.df is None:
            ctx.df = sdf
            # pristine-scan label set; a var-len hop resolves it to a
            # metadata row count (reduceCount counters) to cost its
            # frontier. Invalidated by identity once anything rewrites df.
            ctx.scan_info = (id(ctx.df), tuple(np.labels or ()))
        else:
            ctx.df = ctx.df.crossJoin(sdf)
        ctx.vars[name] = VarInfo("node", props)
        if np.labels and not self.graph._multilabel:
            ctx.vars[name].labels = tuple(np.labels)
        if np.props:
            comp = self.compiler(ctx)
            for k, v in np.props:
                if k in props:
                    ctx.df = ctx.df.filter(comp.prop_eq(
                        F.col(name).getField(k), comp.compile(v),
                        field_dt=_field_dt(flat, k),
                        value_dt=comp.static_dtype(v)))
                else:
                    ctx.df = ctx.df.filter(F.lit(False))
        return name

    def _oriented_edge_sel(self, rel: A.RelPattern,
                           from_c: str, to_c: str
                           ) -> tuple[DataFrame, tuple[str, ...]]:
        flat, props = self._edge_flat(rel.types or None)
        oriented = TRAV.oriented_edges(flat, rel.direction, from_c, to_c)
        return oriented, props

    def _single_hop(self, ctx: Ctx, prev: tuple[str, str | None],
                    rel: A.RelPattern, node: A.NodePattern,
                    edge_uniq: list[str],
                    skippable: bool = False) -> tuple[str, str | None]:
        e_name = rel.var or self.sym("e")
        left_var = prev[1] if prev[0] == "var" else None

        def set_endpoints(right_var: str | None) -> None:
            # record which bound node structs are the edge's actual
            # _src/_dst (direction-aware); 'both' records the pattern
            # sides and defers src/dst to a per-row _src comparison
            if rel.direction == "out":
                ctx.vars[e_name].endpoints = (left_var, right_var)
            elif rel.direction == "in":
                ctx.vars[e_name].endpoints = (right_var, left_var)
            else:
                ctx.vars[e_name].endpoints = (left_var, right_var)
                ctx.vars[e_name].undirected = True
        rebound: str | None = None
        if e_name in ctx.vars:
            # a bound edge variable in a later pattern is a constraint,
            # not a redeclaration: match the hop with a hidden edge and
            # require identity with the bound one (the reference resolves
            # the shared alias to the same record entry)
            if ctx.vars[e_name].kind != "edge":
                raise PlanError(f"Variable `{e_name}` is not an edge")
            if e_name not in ctx.clause_bound:
                # same-clause reuse of a relationship variable is a
                # syntax error (ast_validations.c edge-alias checks)
                raise PlanError(f"Edge variable `{e_name}` reused")
            rebound = e_name
            e_name = self.sym("re")
        from_c, to_c = self.sym("from"), self.sym("to")
        oriented, props = self._oriented_edge_sel(rel, from_c, to_c)
        base_cols = [c for c in oriented.columns if c not in (from_c, to_c)]
        e_sel = oriented.select(
            F.struct(*[F.col(c) for c in base_cols]).alias(e_name),
            F.col(from_c), F.col(to_c))
        if prev[0] == "free":
            ctx.df = e_sel if ctx.df is None else ctx.df.crossJoin(e_sel)
            ctx.df = ctx.df.drop(from_c)
        elif prev[0] == "col":
            ctx.df = ctx.df.join(
                e_sel, F.col(prev[1]) == F.col(from_c), "inner") \
                .drop(prev[1], from_c)
        else:
            ctx.df = ctx.df.join(
                e_sel, F.col(f"{prev[1]}._id") == F.col(from_c), "inner") \
                .drop(from_c)
        ctx.vars[e_name] = VarInfo("edge", props)
        if rel.types:
            ctx.vars[e_name].labels = tuple(rel.types)
        if rebound is not None:
            ctx.df = ctx.df.filter(
                F.col(f"{e_name}._id") == F.col(f"{rebound}._id"))
        comp = self.compiler(ctx)
        for k, v in rel.props:
            if k in props:
                ctx.df = ctx.df.filter(comp.prop_eq(
                    F.col(e_name).getField(k), comp.compile(v),
                    field_dt=_field_dt(oriented, k),
                    value_dt=comp.static_dtype(v)))
            else:
                ctx.df = ctx.df.filter(F.lit(False))
        # edge-uniqueness within one MATCH (relationship isomorphism;
        # reference: docs/known_limitations.md:3-24) — against earlier
        # fixed edges AND earlier named var-len edge arrays
        for kind, other in edge_uniq:
            if kind == "e":
                # two edges with disjoint known rel-type sets can never
                # be the same edge — skip the id inequality (edge ids
                # are globally unique across rel tables, which the
                # check itself already relies on)
                mine = ctx.vars[e_name].labels
                theirs = ctx.vars[other].labels
                if mine is not None and theirs is not None and \
                        not (set(mine) & set(theirs)):
                    continue
                ctx.df = ctx.df.filter(
                    F.col(f"{e_name}._id") != F.col(f"{other}._id"))
            else:
                ctx.df = ctx.df.filter(~F.array_contains(
                    F.transform(F.col(other), lambda x: x["_id"]),
                    F.col(f"{e_name}._id")))
        edge_uniq.append(("e", e_name))

        # target node
        if skippable and (node.var is None or node.var not in ctx.vars):
            # no scan: the edge's endpoint column stands in for the node
            set_endpoints(None)
            return ("col", to_c)
        tgt = node.var or self.sym("n")
        if tgt in ctx.vars:
            if ctx.vars[tgt].kind != "node":
                raise PlanError(f"Variable `{tgt}` is not a node")
            ctx.df = ctx.df.filter(
                F.col(to_c) == F.col(f"{tgt}._id")).drop(to_c)
            comp = self.compiler(ctx)
            if node.labels:
                dt = ctx.df.schema[tgt].dataType
                if len(node.labels) > 1 or "_labels" in dt.fieldNames():
                    lbls = F.col(f"{tgt}._labels") \
                        if "_labels" in dt.fieldNames() \
                        else F.array(F.col(f"{tgt}._label"))
                    cond = None
                    for l in node.labels:
                        t = F.array_contains(lbls, l)
                        cond = t if cond is None else (cond & t)
                    ctx.df = ctx.df.filter(cond)
                else:
                    ctx.df = ctx.df.filter(
                        F.col(f"{tgt}._label").isin(list(node.labels)))
            for k, v in node.props:
                if k in ctx.vars[tgt].fields:
                    ctx.df = ctx.df.filter(comp.prop_eq(
                        F.col(tgt).getField(k), comp.compile(v),
                        value_dt=comp.static_dtype(v)))
                else:
                    ctx.df = ctx.df.filter(F.lit(False))
            set_endpoints(tgt)
            return ("var", tgt)
        flat, nprops = self._node_scan(node.labels or None)
        nid = self.sym("nid")
        n_sel = flat.select(
            F.struct(*[F.col(c) for c in flat.columns]).alias(tgt),
            F.col("_id").alias(nid))
        ctx.df = ctx.df.join(n_sel, F.col(to_c) == F.col(nid), "inner") \
                       .drop(to_c, nid)
        ctx.vars[tgt] = VarInfo("node", nprops)
        if node.labels and not self.graph._multilabel:
            ctx.vars[tgt].labels = tuple(node.labels)
        comp = self.compiler(ctx)
        for k, v in node.props:
            if k in nprops:
                ctx.df = ctx.df.filter(comp.prop_eq(
                    F.col(tgt).getField(k), comp.compile(v),
                    field_dt=_field_dt(flat, k),
                    value_dt=comp.static_dtype(v)))
            else:
                ctx.df = ctx.df.filter(F.lit(False))
        set_endpoints(tgt)
        return ("var", tgt)

    def _var_len_hop(self, ctx: Ctx, prev: tuple[str, str | None],
                     rel: A.RelPattern, node: A.NodePattern,
                     edge_uniq: list | None = None,
                     skippable: bool = False) -> tuple[str, str | None]:
        vl_rebound: str | None = None
        if rel.var is not None and rel.var in ctx.vars:
            if rel.var not in ctx.clause_bound:
                # same-clause reuse of a var-len variable is
                # VariableAlreadyBound
                raise PlanError(
                    f"Variable `{rel.var}` already declared")
            # deprecated openCypher form: a bound relationship LIST in
            # var-len position constrains the matched edge list to it
            import dataclasses
            vl_rebound = rel.var
            rel = dataclasses.replace(rel, var=self.sym("rvl"))
        from_c, to_c = "__vlf", "__vlt"
        oriented, props = self._oriented_edge_sel(rel, from_c, to_c)
        comp = self.compiler(ctx)
        # push edge-property constraints inside the loop
        # (filterVariableLengthEdges,
        #  optimizations/filter_variable_length_edges.c)
        for k, v in rel.props:
            if k in props:
                oriented = oriented.filter(F.col(k) == comp.compile(v))
            else:
                oriented = oriented.filter(F.lit(False))
        out_id = self.sym("vlid")
        out_edges = rel.var  # carry full edge structs only if named
        base_cols = [c for c in oriented.columns if c not in (from_c, to_c)]
        struct = F.struct(*[F.col(c) for c in base_cols])
        if prev[0] == "free":
            # seed from every edge source (no start scan needed)
            seed = oriented.select(F.col(from_c).alias("__vseed")) \
                .dropDuplicates()
            base = seed if ctx.df is None else ctx.df.crossJoin(seed)
            start_col = F.col("__vseed")
        elif prev[0] == "col":
            base = ctx.df
            start_col = F.col(prev[1])
        else:
            base = ctx.df
            start_col = F.col(f"{prev[1]}._id")
        # graph-scoped checkpoint reuse: repeated var-len queries over
        # the same relation set share one slim-edge materialization
        # (only when no dynamic edge-prop filters narrowed it)
        cache_key = None
        if not rel.props:
            cache_key = TRAV.slim_cache_key(
                rel.types, rel.direction, out_edges is not None,
                rel.max_hops is None, self.graph._version)
        # frontier cost model from graph statistics (reduceCount
        # counters — the analog of the reference costing traversals by
        # matrix nvals): |frontier at hop k| ≈ start_rows · avg_degree^k.
        # Known only when the base is a pristine label scan (or the
        # free-seed case, bounded by the node count); lets the expansion
        # broadcast small frontiers instead of the edge table.
        start_rows = None
        avg_degree = None
        try:
            if prev[0] == "free" and ctx.df is None:
                start_rows = self.graph.node_count(None)
            elif ctx.scan_info is not None and ctx.df is not None \
                    and ctx.scan_info[0] == id(ctx.df):
                labels = ctx.scan_info[1] or (None,)
                start_rows = sum(self.graph.node_count(l) for l in labels)
            if start_rows is not None:
                types = rel.types or (None,)
                n_edges = sum(self.graph.edge_count(t) for t in types)
                if rel.direction == "both":
                    n_edges *= 2
                avg_degree = n_edges / max(1, self.graph.node_count(None))
        except Exception:
            start_rows = avg_degree = None
        ctx.df = TRAV.var_len_expand(
            base, start_col, oriented,
            rel.min_hops, rel.max_hops, out_id, out_edges,
            from_col=from_c, to_col=to_c, edge_struct=struct,
            ckpt_cache=self.graph._scan_cache, cache_key=cache_key,
            hop_cap=int(self.graph.config_get("MAX_UNBOUNDED_HOPS")),
            start_rows=start_rows, avg_degree=avg_degree)
        if prev[0] == "free":
            ctx.df = ctx.df.drop("__vseed")
        elif prev[0] == "col":
            ctx.df = ctx.df.drop(prev[1])
        if rel.var is not None:
            ctx.vars[rel.var] = VarInfo("scalar")
            if edge_uniq is not None:
                # cross-pattern uniqueness for the NAMED edge array vs
                # earlier fixed edges / var-len arrays in this MATCH
                ids = F.transform(F.col(rel.var), lambda x: x["_id"])
                for kind, other in edge_uniq:
                    if kind == "e":
                        ctx.df = ctx.df.filter(~F.array_contains(
                            ids, F.col(f"{other}._id")))
                    else:
                        ctx.df = ctx.df.filter(~F.arrays_overlap(
                            ids, F.transform(F.col(other),
                                             lambda x: x["_id"])))
                edge_uniq.append(("vl", rel.var))
        if vl_rebound is not None:
            # identity constraint: matched edge-id list must equal the
            # bound list's ids
            ctx.df = ctx.df.filter(
                F.transform(F.col(rel.var), lambda x: x["_id"]) ==
                F.transform(F.col(vl_rebound), lambda x: x["_id"]))
        if skippable and (node.var is None or node.var not in ctx.vars):
            return ("col", out_id)
        tgt = node.var or self.sym("n")
        if tgt in ctx.vars:
            if ctx.vars[tgt].kind != "node":
                raise PlanError(f"Variable `{tgt}` is not a node")
            ctx.df = ctx.df.filter(
                F.col(out_id) == F.col(f"{tgt}._id")).drop(out_id)
            if node.labels:
                ctx.df = ctx.df.filter(
                    F.col(f"{tgt}._label").isin(list(node.labels)))
            return ("var", tgt)
        flat, nprops = self._node_scan(node.labels or None)
        nid = self.sym("nid")
        n_sel = flat.select(
            F.struct(*[F.col(c) for c in flat.columns]).alias(tgt),
            F.col("_id").alias(nid))
        paths_df = ctx.df
        ctx.df = ctx.df.join(n_sel, F.col(out_id) == F.col(nid), "inner") \
                       .drop(out_id, nid)
        # breadcrumb for _project_agg's partial-count pushdown; valid
        # only while ctx.df IS this exact join result (identity check) —
        # any later filter/join/projection replaces df and voids it
        ctx.vl_bind = (id(ctx.df), paths_df, out_id, n_sel, nid, tgt)
        ctx.vars[tgt] = VarInfo("node", nprops)
        comp = self.compiler(ctx)
        for k, v in node.props:
            if k in nprops:
                ctx.df = ctx.df.filter(comp.prop_eq(
                    F.col(tgt).getField(k), comp.compile(v),
                    field_dt=_field_dt(flat, k),
                    value_dt=comp.static_dtype(v)))
            else:
                ctx.df = ctx.df.filter(F.lit(False))
        return ("var", tgt)

    # -------------------------------------------------------- OPTIONAL MATCH
    def _optional_match(self, ctx: Ctx, clause: A.MatchClause) -> None:
        if ctx.df is None:
            # leading OPTIONAL MATCH: one all-null record when the
            # pattern is empty (Optional op, ops/op_optional.h:12-30) —
            # a true-conditioned left join from the unit row
            ctx.df = self._unit_df()
        sub = Ctx()
        edge_uniq: list[str] = []
        # shared node endpoints appearing EXACTLY ONCE in the branch,
        # with no props and no reference from the branch WHERE, only
        # need their _id for the join back to the outer row — compile
        # them id-only (skips the node-existence join against the
        # all-labels union, the dominant cost of small optional hops)
        from collections import Counter
        occur: Counter = Counter()
        for path in clause.paths:
            for el in path.elements:
                if isinstance(el, A.NodePattern) and el.var:
                    occur[el.var] += 1
        id_only = {v for v, c in occur.items()
                   if c == 1 and v in ctx.vars
                   and ctx.vars[v].kind == "node"}
        if clause.where is not None:
            id_only -= {n.name for n in _walk(clause.where)
                        if isinstance(n, A.Variable)}
        saved_id_only = self._id_only_vars
        self._id_only_vars = id_only
        try:
            for path in clause.paths:
                self._compile_path(sub, path, edge_uniq)
        finally:
            self._id_only_vars = saved_id_only
        mixed: list[A.Expr] = []
        if clause.where is not None:
            # the WHERE of an OPTIONAL MATCH is part of the match: a
            # conjunct referencing outer-scope variables becomes part
            # of the LEFT JOIN condition (rows failing it null-extend,
            # they are not dropped)
            local: list[A.Expr] = []
            outer_only = set(ctx.vars) - set(sub.vars)
            for cj in self._split_and(clause.where):
                refs = {n.name for n in _walk(cj)
                        if isinstance(n, A.Variable)}
                (mixed if refs & outer_only else local).append(cj)
            if local:
                w = local[0]
                for x in local[1:]:
                    w = A.Binary("AND", w, x)
                self._apply_where(sub, w)
        shared = [v for v in sub.vars if v in ctx.vars
                  and not v.startswith("__")]
        public = [v for v in sub.vars
                  if not v.startswith("__") and v in sub.df.columns]
        sub_df = sub.df.select([F.col(v) for v in public])
        renames = {v: self.sym("opt") for v in shared}
        for v, r in renames.items():
            sub_df = sub_df.withColumnRenamed(v, r)
        cond = None
        for v, r in renames.items():
            if ctx.vars[v].kind in ("node", "edge"):
                c = F.col(f"{v}._id") == F.col(f"{r}._id")
            else:
                c = F.col(v) == F.col(r)
            cond = c if cond is None else (cond & c)
        if cond is None:
            # disconnected OPTIONAL MATCH: optional cartesian product
            cond = F.lit(True)
        if mixed:
            mvars = dict(ctx.vars)
            for v, i in sub.vars.items():
                mvars.setdefault(v, i)
            probe = ctx.df.crossJoin(
                sub_df.drop(*[c for c in renames.values()]).limit(0))
            mctx = Ctx(df=probe, vars=mvars)
            mcomp = self.compiler(mctx)
            for cj in mixed:
                cond = cond & mcomp.compile(cj).cast("boolean")
        # bounded branch → small-mode broadcast hint; with AQE gated
        # off nothing else upgrades this left join from sort-merge (the
        # branch's static size estimate is join-output-sized, far past
        # any broadcast threshold). A multi-hop branch's OUTPUT is NOT
        # bounded by graph input size (round-7 advice: 256MB input can
        # join out to a multi-GB branch and broadcast hints bypass size
        # thresholds) — so the hint requires a provable row bound:
        # 0 hops ⇒ ≤ node count of the scanned labels; 1 fixed hop off
        # a unique scan ⇒ ≤ edge count of the hop's types (each output
        # row consumes a distinct edge); ≥2 hops or var-len or missing
        # statistics ⇒ no hint.
        rels = [el for path in clause.paths for el in path.elements
                if isinstance(el, A.RelPattern)]
        bound: int | None = None
        if not rels:
            first_nodes = [path.elements[0] for path in clause.paths
                           if path.elements]
            if len(first_nodes) == 1:
                labels = first_nodes[0].labels or None
                bound = self._stat_peek("n", list(labels) if labels
                                        else None)
        elif len(rels) == 1 and rels[0].min_hops is None:
            bound = self._stat_peek(
                "e", list(rels[0].types) if rels[0].types else None)
        if bound is not None:
            def _leaves(dt) -> int:
                fields = getattr(dt, "fields", None)
                if fields is None:
                    return 1
                return sum(_leaves(f.dataType) for f in fields)
            if bound * 12 * _leaves(sub_df.schema) <= 64 * 1024 * 1024:
                sub_df = self._hint_small(sub_df)
        ctx.df = ctx.df.join(sub_df, cond, "left").drop(*renames.values())
        if "__unit" in ctx.df.columns:
            ctx.df = ctx.df.drop("__unit")
        for v, info in sub.vars.items():
            if v not in ctx.vars:
                ctx.vars[v] = info

    # ---------------------------------------------------------------- UNWIND
    def _clause_unwind(self, ctx: Ctx, clause: A.UnwindClause) -> None:
        if ctx.df is None:
            ctx.df = self._unit_df()
        # bulk-insert idiom (UNWIND $rows AS r CREATE ...): a LARGE
        # parameter batch becomes a real local relation instead of a
        # plan-inflating array literal — the parameter is query-constant
        # so the cross join is exact
        if isinstance(clause.expr, A.Parameter):
            val = self.params.get(clause.expr.name)
            if isinstance(val, (list, tuple)) and len(val) > 1024:
                from pyspark.sql import Row
                spark = self.graph.spark
                if all(isinstance(x, dict) for x in val):
                    keys = sorted({k for d in val for k in d})
                    # explicit per-key types from the first non-null
                    # occurrence (the literal path's rule) — inference
                    # alone raises on a key that is None in EVERY row,
                    # so behavior would differ across the 1024 cutover
                    from redisgraph_spark.session import _lit_sql_type
                    types = {}
                    for k in keys:
                        for d in val:
                            if d.get(k) is not None:
                                types[k] = _lit_sql_type(d[k])
                                break
                    if all(types.get(k) for k in keys):
                        schema = ", ".join(
                            f"`{k}` {types[k]}" for k in keys)
                        rel = spark.createDataFrame(
                            [tuple(d.get(k) for k in keys)
                             for d in val], schema)
                    else:
                        # all-None or non-scalar key: null-fill as
                        # string where unknown, infer the rest
                        rel = spark.createDataFrame(
                            [Row(**{k: d.get(k) for k in keys})
                             for d in val],
                            ", ".join(
                                f"`{k}` {types.get(k) or 'string'}"
                                for k in keys))
                    rel = rel.select(F.struct(*[
                        F.col(k) for k in rel.columns])
                        .alias(clause.alias))
                else:
                    rel = spark.createDataFrame(
                        [(x,) for x in val], [clause.alias])
                ctx.df = ctx.df.crossJoin(rel)
                if "__unit" in ctx.df.columns:
                    ctx.df = ctx.df.drop("__unit")
                # same node/edge struct classification as the literal
                # path below — an UNWIND $rows batch of node-shaped
                # maps must stay usable as graph entities either side
                # of the 1024 cutover
                self._classify_unwound(ctx, clause.alias)
                return
        comp = self.compiler(ctx)
        col = comp.compile(clause.expr)
        from .expressions import _could_be_variant
        if _could_be_variant(clause.expr) and comp._is_variant(col):
            # variant array payload: explode the element structs, widen
            # each back to a variant scalar
            from .variant import arr_view, elem_to_variant
            ctx.df = ctx.df.select(
                "*", F.explode(arr_view(col)).alias("__uw_elem"))
            ctx.df = ctx.df.withColumn(
                clause.alias, elem_to_variant(F.col("__uw_elem"))) \
                .drop("__uw_elem")
        else:
            try:
                dt = comp.dtype(col)
            except Exception:
                dt = None
            from pyspark.sql import types as T
            if isinstance(dt, T.NullType):
                # UNWIND null produces zero rows (op_unwind.c: null list
                # is empty); explode() of an untyped NULL won't analyze
                col = col.cast("array<string>")
            ctx.df = ctx.df.select("*", F.explode(col).alias(clause.alias))
        if "__unit" in ctx.df.columns:
            ctx.df = ctx.df.drop("__unit")
        self._classify_unwound(ctx, clause.alias)

    def _classify_unwound(self, ctx: Ctx, alias: str) -> None:
        """An exploded node/edge struct stays usable as a graph entity
        in later patterns (UNWIND collect(n) AS m MATCH (m)-[:R]->() …);
        shared by the literal and >1024-row bulk UNWIND paths."""
        from pyspark.sql import types as T
        dt = ctx.df.schema[alias].dataType
        if isinstance(dt, T.StructType):
            names = set(dt.fieldNames())
            props = tuple(f for f in dt.fieldNames()
                          if f not in ("_id", "_label", "_labels",
                                       "_src", "_dst", "_rel"))
            if "_id" in names and ("_src" in names and "_dst" in names):
                ctx.vars[alias] = VarInfo("edge", props)
            elif "_id" in names and ("_label" in names
                                     or "_labels" in names):
                ctx.vars[alias] = VarInfo("node", props)
            else:
                ctx.vars[alias] = VarInfo("scalar")
        else:
            ctx.vars[alias] = VarInfo("scalar")

    # ------------------------------------------------------------------ CALL
    def _clause_call(self, ctx: Ctx, clause: A.CallClause,
                     standalone: bool = True) -> None:
        from redisgraph_spark.functions.procedures import run_procedure
        if clause.proc == "algo.bfs":
            # correlated procedure: consumes the bound source variable per
            # input record (ProcedureCall `ops/op_procedure_call.c` runs
            # per-record; our plan is one multi-source BFS join)
            from redisgraph_spark.algorithms.bfs import bfs_call
            proc_df, default_cols = bfs_call(self, ctx, clause)
            sel = clause.yields or [(c, None) for c in default_cols]
            for col_name, alias in sel:
                if col_name not in default_cols:
                    raise PlanError(
                        f"Procedure {clause.proc} has no column {col_name}")
                name = alias or col_name
                if name != col_name:
                    proc_df = proc_df.withColumnRenamed(col_name, name)
                ctx.vars[name] = VarInfo("scalar")
            drop = [c for c in default_cols
                    if c not in {a or c for c, a in sel}]
            ctx.df = proc_df.drop(*drop) if drop else proc_df
            if clause.where is not None:
                self._apply_where(ctx, clause.where)
            return
        if clause.proc == "algo.sssp" and ctx.df is not None \
                and clause.args and isinstance(clause.args[0], A.Variable) \
                and ctx.vars.get(clause.args[0].name) is not None \
                and ctx.vars[clause.args[0].name].kind == "node":
            # correlated SSSP: per-row sources become ONE keyed
            # multi-source Bellman-Ford (never a driver loop — the
            # same vectorized shape as algo.BFS above)
            from redisgraph_spark.algorithms.sssp import sssp_call
            proc_df, default_cols = sssp_call(self, ctx, clause)
            sel = clause.yields or [(c, None) for c in default_cols]
            for col_name, alias in sel:
                if col_name not in default_cols:
                    raise PlanError(
                        f"Procedure {clause.proc} has no column "
                        f"{col_name}")
                name = alias or col_name
                if name != col_name:
                    proc_df = proc_df.withColumnRenamed(col_name, name)
                ctx.vars[name] = VarInfo("scalar")
            drop = [c for c in default_cols
                    if c not in {a or c for c, a in sel}]
            ctx.df = proc_df.drop(*drop) if drop else proc_df
            if clause.where is not None:
                self._apply_where(ctx, clause.where)
            return
        if clause.proc in ("algo.closeness", "algo.randomwalk") \
                and ctx.df is not None and clause.args \
                and isinstance(clause.args[0], A.Variable) \
                and ctx.vars.get(clause.args[0].name) is not None \
                and ctx.vars[clause.args[0].name].kind == "node":
            # correlated closeness / randomWalk: per-row node sources
            # feed ONE root-keyed multi-source job (the algo.BFS /
            # algo.SSSP vectorized shape — never a driver loop)
            if clause.proc == "algo.closeness":
                from redisgraph_spark.algorithms.centrality import \
                    closeness_call
                proc_df, default_cols = closeness_call(self, ctx, clause)
            else:
                from redisgraph_spark.algorithms.walks import walks_call
                proc_df, default_cols = walks_call(self, ctx, clause)
            sel = clause.yields or [(c, None) for c in default_cols]
            for col_name, alias in sel:
                if col_name not in default_cols:
                    raise PlanError(
                        f"Procedure {clause.proc} has no column "
                        f"{col_name}")
                name = alias or col_name
                if name != col_name:
                    proc_df = proc_df.withColumnRenamed(col_name, name)
                ctx.vars[name] = VarInfo("scalar")
            drop = [c for c in default_cols
                    if c not in {a or c for c, a in sel}]
            ctx.df = proc_df.drop(*drop) if drop else proc_df
            if clause.where is not None:
                self._apply_where(ctx, clause.where)
            return
        if clause.proc == "algo.pagerank" and ctx.df is not None \
                and clause.args and any(
                    not isinstance(a, (A.Literal, A.Parameter,
                                       A.ListLiteral))
                    for a in clause.args):
            # personalized pageRank restarts over a SET — a per-row
            # bound source would silently mean N separate power
            # iterations. Reject statically and name the vectorized
            # form (one personalized run over the collected set).
            raise PlanError(
                "algo.pageRank: per-row bound sources are not "
                "supported — pass an explicit source-id list "
                "(CALL algo.pageRank(20, 0.85, [id1, id2, …])) for one "
                "personalized run over the set, or use algo.SSSP / "
                "algo.BFS / algo.closeness for per-source reachability "
                "(those vectorize as one keyed multi-source job)")
        if ctx.df is not None and clause.args and any(
                not isinstance(a, (A.Literal, A.Parameter))
                for a in clause.args):
            # generic correlated CALL (reference ops/op_procedure_call.c
            # runs the procedure per input record): evaluate the distinct
            # argument tuples, run the procedure once per tuple, union the
            # results keyed by tuple, equi-join back to the input rows —
            # per-record semantics without a per-row driver loop
            self._correlated_call(ctx, clause)
            return
        custom = getattr(self.graph, "_custom_procs", {}) \
            .get(clause.proc)
        if custom is not None:
            for a in clause.args:
                if _has_agg(a):
                    raise PlanError(
                        f"Invalid use of aggregating function in "
                        f"procedure argument (InvalidAggregation)")
            if not standalone and custom["outputs"] and \
                    not clause.yields:
                raise PlanError(
                    f"In-query call to {clause.proc} requires YIELD "
                    f"(explicit output binding)")
            for col_name, alias in clause.yields or []:
                bound = alias or col_name
                if bound in ctx.vars:
                    raise PlanError(
                        f"Variable `{bound}` already declared "
                        f"(VariableAlreadyBound)")
        proc_df, default_cols = run_procedure(self, clause)
        if custom is not None and not default_cols:
            # yields-nothing procedure: in-query is a pass-through,
            # standalone returns the empty result
            if ctx.df is None and standalone:
                ctx.df = proc_df     # zero rows: the empty result
                ctx.vars.clear()
            return
        if clause.yields:
            sel = []
            for col_name, alias in clause.yields:
                if col_name not in proc_df.columns:
                    raise PlanError(
                        f"Procedure {clause.proc} has no column {col_name}")
                sel.append(F.col(col_name).alias(alias or col_name))
            proc_df = proc_df.select(sel)
            out_names = [alias or c for c, alias in clause.yields]
        else:
            out_names = default_cols
        if ctx.df is None:
            ctx.df = proc_df
        else:
            ctx.df = ctx.df.crossJoin(proc_df)
        for n in out_names:
            ctx.vars[n] = VarInfo("scalar")
        if clause.where is not None:
            self._apply_where(ctx, clause.where)

    def _correlated_call(self, ctx: Ctx, clause: A.CallClause) -> None:
        """CALL proc(expr-over-bound-vars): fan out over the DISTINCT
        argument tuples (each tuple's procedure result computed once),
        attach the tuple as join keys, equi-join back to the input.
        Cardinality note: the driver-side loop is over distinct argument
        combinations — typically a handful for catalog/fulltext/algo
        procedures — never over input rows."""
        from redisgraph_spark.functions.procedures import run_procedure
        comp = self.compiler(ctx)
        keys = [f"_parg{i}" for i in range(len(clause.args))]
        keyed = ctx.df
        for i, arg in enumerate(clause.args):
            keyed = keyed.withColumn(keys[i], comp.compile(arg))
        tuples = [tuple(r) for r in
                  keyed.select(*keys).distinct().collect()]
        # hard guard only against driver OOM — large fan-outs run in
        # checkpointed chunks below, so plan depth stays bounded
        if len(tuples) > 100_000:
            raise PlanError(
                f"correlated CALL {clause.proc}: {len(tuples)} distinct "
                "argument tuples (limit 100000)")
        key_types = dict(zip(keys,
                             [keyed.schema[k].dataType for k in keys]))
        union_df = None
        chunk_df = None
        chunk_n = 0
        default_cols: list[str] = []
        vec = self._vectorized_fulltext_call(clause, keys, tuples)
        if vec is not None:
            union_df, default_cols = vec
            tuples = []
        for tup in tuples:
            for v in tup:
                if not isinstance(v, (str, int, float, bool,
                                      type(None))):
                    raise PlanError(
                        f"correlated CALL {clause.proc}: argument value "
                        f"{v!r} is not a scalar")
            lit_clause = A.CallClause(
                proc=clause.proc,
                args=[A.Literal(v) for v in tup],
                yields=None, where=None)
            proc_df, default_cols = run_procedure(self, lit_clause)
            for k, v in zip(keys, tup):
                lit = F.lit(v) if v is not None \
                    else F.lit(None).cast(key_types[k])
                proc_df = proc_df.withColumn(k, lit)
            chunk_df = proc_df if chunk_df is None \
                else chunk_df.unionByName(proc_df)
            chunk_n += 1
            if chunk_n >= 256:
                # bound the union's plan depth: materialize each chunk
                # (procedure results are small — catalog rows, scored
                # matches) so a many-thousand-tuple fan-out never
                # builds a many-thousand-way plan tree
                chunk = chunk_df.localCheckpoint(eager=True)
                union_df = chunk if union_df is None \
                    else union_df.unionByName(chunk)
                chunk_df, chunk_n = None, 0
        if chunk_df is not None:
            union_df = chunk_df if union_df is None \
                else union_df.unionByName(chunk_df)
        sel = clause.yields or [(c, None) for c in default_cols]
        out_names = []
        for col_name, alias in sel:
            if col_name not in default_cols:
                raise PlanError(
                    f"Procedure {clause.proc} has no column {col_name}")
            name = alias or col_name
            if union_df is not None and name != col_name:
                union_df = union_df.withColumnRenamed(col_name, name)
            out_names.append(name)
        if union_df is None:
            # no input rows: empty result with the yielded columns
            ctx.df = ctx.df.limit(0)
            for n in out_names:
                ctx.df = ctx.df.withColumn(n, F.lit(None))
        else:
            drop = [c for c in default_cols if c not in set(out_names)]
            if drop:
                union_df = union_df.drop(*drop)
            # NULL-SAFE equi-join: a row whose CALL argument evaluates
            # to null must still match its (null-keyed) procedure
            # result — a plain equi-join would silently drop it
            rkeys = [f"__r{k}" for k in keys]
            for k, rk in zip(keys, rkeys):
                union_df = union_df.withColumnRenamed(k, rk)
            cond = None
            for k, rk in zip(keys, rkeys):
                c = keyed[k].eqNullSafe(union_df[rk])
                cond = c if cond is None else cond & c
            ctx.df = keyed.join(F.broadcast(union_df), cond) \
                .drop(*keys).drop(*rkeys)
        for n in out_names:
            ctx.vars[n] = VarInfo("scalar")
        if clause.where is not None:
            self._apply_where(ctx, clause.where)

    def _vectorized_fulltext_call(self, clause: A.CallClause,
                                  keys: list[str], tuples: list[tuple]):
        """``db.idx.fulltext.queryNodes(<one label>, <simple term>)``
        over many distinct argument tuples collapses to ONE equi-join
        of the term set against the inverted index (FulltextCatalog.
        query_many) instead of one query plan per tuple — the 100 TB
        path for UNWIND-terms fan-outs. Applies only when every term
        is a bare single token (lowered ``[a-z0-9]+``), where batch
        scoring is provably identical to per-term FtTerm compilation;
        anything fancier (phrases, prefix, fuzzy, OR/NOT) falls back
        to the generic per-tuple loop. Returns (union_df,
        default_cols) or None."""
        import re as _re
        if clause.proc.lower() != "db.idx.fulltext.querynodes" \
                or len(keys) != 2 or len(tuples) < 2:
            return None
        labels = {t[0] for t in tuples}
        if len(labels) != 1 or not isinstance(next(iter(labels)), str):
            return None
        simple = _re.compile(r"[a-z0-9]+\Z")
        terms = []
        for t in tuples:
            v = t[1]
            if not isinstance(v, str) \
                    or not simple.fullmatch(v.strip().lower()):
                return None
            terms.append(v)
        label = next(iter(labels))
        g = self.graph
        if label not in getattr(g.fulltext, "fields", {}):
            return None      # per-tuple path raises the catalog error
        hits = g.fulltext.query_many(label, terms)
        node_cols = [c for c in hits.columns
                     if c not in ("score", "__ft_term")]
        out = hits.select(
            F.struct(*[F.col(c) for c in node_cols]).alias("node"),
            F.col("score"), F.col("__ft_term")) \
            .withColumn(keys[0], F.lit(label)) \
            .withColumnRenamed("__ft_term", keys[1])
        return out, ["node", "score"]

    # ----------------------------------------------------------- WITH/RETURN
    def _clause_with(self, ctx: Ctx, clause: A.WithClause) -> None:
        where = clause.where
        if where is not None and ctx.df is not None \
                and not any(_has_agg(it.expr) for it in clause.items):
            # WHERE attached to a non-aggregating WITH sees the
            # pre-projection scope too (openCypher extended scope:
            # `WITH a.x AS name WHERE a.y = ...`); when it references a
            # variable the projection drops, filter the input rows first
            refs = {n.name for n in _walk(where)
                    if isinstance(n, A.Variable)}
            aliases = {it.alias for it in clause.items if it.alias}
            outside = refs - aliases - {None}
            if outside and outside <= set(ctx.vars):
                ext = Ctx(df=ctx.df, vars=dict(ctx.vars))
                comp = self.compiler(ext)
                for it in clause.items:
                    if it.alias and it.alias not in ext.vars:
                        ext.df = ext.df.withColumn(
                            it.alias, comp.compile(it.expr))
                        ext.vars[it.alias] = VarInfo("scalar")
                self._apply_where(ext, where)
                ctx.df = ext.df.drop(
                    *[a for a in aliases if a not in ctx.vars])
                where = None
        out_df, out_vars = self._project(
            ctx, clause.items, clause.star, clause.distinct,
            clause.order_by, clause.skip, clause.limit,
            allow_empty_star=True)
        ctx.df = out_df
        ctx.vars = out_vars
        if where is not None:
            self._apply_where(ctx, where)

    def _clause_return(self, ctx: Ctx, clause: A.ReturnClause) -> DataFrame:
        out_df, _ = self._project(
            ctx, clause.items, clause.star, clause.distinct,
            clause.order_by, clause.skip, clause.limit)
        if not getattr(self.graph, "render_variants", True):
            # conformance harnesses decode the typed union themselves
            return out_df
        return self._render_variants(out_df)

    @staticmethod
    def _render_variants(df: DataFrame) -> DataFrame:
        """Final RETURN surface: top-level variant union columns render to
        strings (a result column must have ONE type; WHERE/ORDER BY have
        already used the typed payloads)."""
        import pyspark.sql.types as T
        from .temporal_cols import (is_temporal_array_type,
                                    is_temporal_type)
        from .temporal_cols import render as trender
        from .variant import is_variant_type, render
        out_cols = []
        changed = False
        for f in df.schema.fields:
            if is_variant_type(f.dataType):
                out_cols.append(render(_colref(f.name)).alias(f.name))
                changed = True
            elif is_temporal_type(f.dataType):
                # user surface: temporal values read as ISO strings
                out_cols.append(trender(_colref(f.name)).alias(f.name))
                changed = True
            elif is_temporal_array_type(f.dataType):
                out_cols.append(F.transform(
                    _colref(f.name), trender).alias(f.name))
                changed = True
            elif isinstance(f.dataType, T.StructType) \
                    and "__maplit" in f.dataType.fieldNames():
                # internal literal-map marker never reaches users
                out_cols.append(
                    _colref(f.name).dropFields("__maplit").alias(f.name))
                changed = True
            else:
                out_cols.append(_colref(f.name))
        return df.select(out_cols) if changed else df

    def _project(self, ctx: Ctx, items: list[A.ProjectionItem], star: bool,
                 distinct: bool, order_by: list[A.OrderItem],
                 skip: A.Expr | None, limit: A.Expr | None,
                 allow_empty_star: bool = False
                 ) -> tuple[DataFrame, dict[str, VarInfo]]:
        if ctx.df is None:
            ctx.df = self._unit_df()
        all_items: list[A.ProjectionItem] = []
        if star:
            # star expansion is alphabetical (openCypher RETURN *
            # column order, per the TCK)
            for v in sorted(ctx.vars):
                if not v.startswith("__"):
                    all_items.append(A.ProjectionItem(A.Variable(v), v))
        all_items.extend(items)
        if not all_items:
            if star and allow_empty_star:
                # WITH * over an empty scope (e.g. CREATE () WITH *
                # CREATE ...): pass the rows through unchanged
                unit = self.sym("unit")
                df = ctx.df.select(F.lit(0).alias(unit))
                return df, {}
            raise PlanError("empty projection")
        all_items = [
            A.ProjectionItem(self._rewrite_graph_funcs(ctx, it.expr),
                             it.alias, it.text)
            for it in all_items]

        if ctx.deleted_vars:
            for it in all_items:
                _check_deleted_access(it.expr, ctx.deleted_vars)
        aliases: list[str] = []
        for it in all_items:
            aliases.append(it.alias or it.text or _deparse(it.expr))
        dupes = {a for a in aliases if aliases.count(a) > 1}
        if dupes:
            # two projection columns with one name is a compile error
            # (ColumnNameConflict, openCypher Return4[10])
            raise PlanError(
                f"Multiple result columns with the same name "
                f"are not supported: {sorted(dupes)[0]!r}")

        has_agg = any(_has_agg(it.expr) for it in all_items)
        comp = self.compiler(ctx)
        comp.allow_bindings = True

        out_vars: dict[str, VarInfo] = {}
        for it, alias in zip(all_items, aliases):
            out_vars[alias] = self._infer_kind(ctx, it.expr)

        # temporal constant propagation: a projection that folds to a
        # temporal constant (WITH date({...}) AS d) records its value
        # so downstream clauses keep constant-folding through the
        # Python kernel instead of emitting columnar when-cascades
        from ..functions.temporal_kernel import TEMPORAL_CLASSES
        for it, alias in zip(all_items, aliases):
            try:
                v = comp.const_eval(it.expr)
            except Exception:
                continue
            if isinstance(v, TEMPORAL_CLASSES):
                info = out_vars[alias]
                if info.const_value is not v:
                    # never mutate a VarInfo shared with the inbound
                    # scope — rebind a fresh scalar-kind info
                    fresh = VarInfo("scalar")
                    fresh.const_value = v
                    out_vars[alias] = fresh

        if not has_agg:
            cols = []
            for it, a in zip(all_items, aliases):
                sym = self._symlist_items(ctx, it.expr)
                if sym is not None:
                    # [{num: 0}, 1] / [r, 1] — a list literal mixing
                    # struct values (maps, entities) with scalars has no
                    # single Spark element type; bind it SYMBOLICALLY:
                    # each item becomes a hidden column and constant-
                    # index subscripts resolve to that column directly
                    # (SIArray holds any SIValue — src/datatypes/array.c)
                    names = []
                    for i, item in enumerate(sym):
                        hn = f"__sym_{a}_{i}"
                        cols.append(comp.compile(item).alias(hn))
                        out_vars[hn] = self._infer_kind(ctx, item)
                        names.append(hn)
                    info = VarInfo("symlist")
                    info.sym_names = tuple(names)
                    out_vars[a] = info
                    continue
                cols.append(comp.compile(it.expr).alias(a))
            base = ctx.df
            if comp.let_bindings:
                base, _ = comp.flush_bindings(base)
            out_df = base.select(cols)
        else:
            out_df = self._project_agg(ctx, all_items, aliases, comp)

        if distinct:
            out_df = out_df.dropDuplicates()

        if order_by:
            out_df = self._order(ctx, out_df, out_vars, order_by, has_agg,
                                 all_items, aliases, distinct)

        n_skip = self._const_int(skip)
        n_limit = self._const_int(limit)
        if n_skip:
            out_df = out_df.offset(n_skip)
        if n_limit is not None:
            out_df = out_df.limit(n_limit)
        return out_df, out_vars

    def _symlist_items(self, ctx: Ctx, e: A.Expr) -> list[A.Expr] | None:
        """Items of a list literal that mixes struct values (map
        literals, bound entities) with non-struct values — a shape with
        no single Spark element type (SIArray holds any SIValue,
        src/datatypes/array.c). None when representable normally."""
        if not isinstance(e, A.ListLiteral) or not e.items:
            return None

        def structish(x: A.Expr) -> bool:
            if isinstance(x, A.MapLiteral):
                return True
            return (isinstance(x, A.Variable) and x.name in ctx.vars
                    and ctx.vars[x.name].kind in ("node", "edge", "path"))

        def is_null(x: A.Expr) -> bool:
            return isinstance(x, A.Literal) and x.value is None

        flags = [structish(x) for x in e.items]
        if any(flags) and not all(f or is_null(x)
                                  for f, x in zip(flags, e.items)):
            return list(e.items)
        return None

    def _infer_kind(self, ctx: Ctx, e: A.Expr) -> VarInfo:
        if isinstance(e, A.Variable) and e.name in ctx.vars:
            return ctx.vars[e.name]
        if isinstance(e, A.FuncCall) and e.name == "coalesce" and e.args:
            # coalesce over same-kind entities stays that kind
            # (WITH coalesce(b, c) AS x MATCH (x)--> …)
            infos = [self._infer_kind(ctx, a) for a in e.args]
            kinds = {i.kind for i in infos}
            if kinds == {"node"} or kinds == {"edge"}:
                fields: list[str] = []
                for i in infos:
                    for f in i.fields:
                        if f not in fields:
                            fields.append(f)
                return VarInfo(infos[0].kind, tuple(fields))
        return VarInfo("scalar")

    def _project_agg(self, ctx: Ctx, items: list[A.ProjectionItem],
                     aliases: list[str], comp: ExprCompiler) -> DataFrame:
        """Implicit Cypher grouping: non-aggregate projection items are the
        group key (reference hash-aggregate ``ops/op_aggregate.c:53-137``);
        Spark does partial/final aggregation automatically."""
        key_items = [(it, a) for it, a in zip(items, aliases)
                     if not _has_agg(it.expr)]
        agg_items = [(it, a) for it, a in zip(items, aliases)
                     if _has_agg(it.expr)]

        key_cols = [comp.compile(it.expr).alias(a) for it, a in key_items]

        # implicit grouping keys hiding INSIDE mixed expressions:
        # non-aggregate variable/property subtrees of an item that also
        # contains an aggregate group implicitly (openCypher Return6[6]
        # `{foo: a.name, kids: collect(…)}`, Match4[4]
        # `[a] + collect(n) + [b]`) — projected as hidden key columns
        # the post-aggregation compiler maps those subtrees onto
        hidden_keys: list[tuple[A.Expr, Column]] = []
        cand: list[A.Expr] = []
        for it, _a in agg_items:
            cand.extend(_outside_agg_var_exprs(it.expr))
        uniq: list[A.Expr] = []
        for c in cand:
            if any(c == u for u in uniq) \
                    or any(c == it.expr for it, _a in key_items):
                continue
            uniq.append(c)
        for i, cexp in enumerate(uniq):
            name = f"__gk{i}"
            key_cols.append(comp.compile(cexp).alias(name))
            hidden_keys.append((cexp, _colref(name)))

        # collect distinct aggregate subexpressions
        agg_nodes: list[A.Expr] = []
        for it, _ in agg_items:
            for n in _walk(it.expr):
                if isinstance(n, A.CountStar) or (
                        isinstance(n, A.FuncCall) and n.name in AGG_FUNCS):
                    agg_nodes.append(n)
        agg_aliases: dict[int, str] = {}
        agg_pairs: list[tuple[A.Expr, str]] = []
        agg_cols = []
        for i, n in enumerate(agg_nodes):
            name = f"__agg{i}"
            agg_aliases[id(n)] = name
            agg_pairs.append((n, name))
            agg_cols.append(self._compile_agg(n, comp).alias(name))

        # Partial-count pushdown below the var-len node-bind join: when
        # the aggregate-RETURN immediately follows a var-len expansion's
        # endpoint bind (ctx.vl_bind identity holds), references ONLY the
        # bound endpoint, and every aggregate is count(*), group the path
        # rows by endpoint id FIRST and join the (much smaller) per-node
        # counts to the node table — count(*) then becomes sum(partial).
        # The reference gets this for free from its matrix formulation
        # (a frontier vector of multiplicities); in Spark it turns a
        # |paths|-row join probe into a ≤|V|-row one.
        agg_input = ctx.df
        bound_names: list[str] = []
        if comp.let_bindings:
            # temporal let-bound intermediates referenced by the key /
            # aggregate expressions must exist on the aggregation input
            agg_input, bound_names = comp.flush_bindings(agg_input)
        count_star_col = None
        if ctx.vl_bind is not None and ctx.vl_bind[0] == id(ctx.df) \
                and not bound_names \
                and agg_nodes and not hidden_keys \
                and all(isinstance(n, A.CountStar) for n in agg_nodes):
            _, paths_df, end_id, n_sel, nid, tgt = ctx.vl_bind
            refs_ok = all(
                v.name == tgt
                for it in items for v in _walk(it.expr)
                if isinstance(v, A.Variable))
            if refs_ok:
                pre = paths_df.groupBy(end_id).agg(
                    F.count(F.lit(1)).alias("__vl_precnt"))
                agg_input = pre.join(
                    n_sel, F.col(end_id) == F.col(nid), "inner") \
                    .drop(end_id, nid)
                count_star_col = F.sum("__vl_precnt")
                agg_cols = [(count_star_col if key_cols else
                             F.coalesce(count_star_col, F.lit(0)))
                            .alias(name) for _, name in agg_pairs]

        if key_cols:
            gdf = agg_input.groupBy(*key_cols).agg(*agg_cols)
        else:
            gdf = agg_input.agg(*agg_cols)

        post = _PostAggCompiler(
            gdf, {a: VarInfo("scalar") for _, a in key_items},
            self.params, key_exprs=[(it.expr, _colref(a))
                                    for it, a in key_items]
            + hidden_keys,
            agg_map=agg_aliases, agg_pairs=agg_pairs)
        post.variants_possible = self._variants_possible()
        post.query_time_ms = comp.query_time_ms
        post.allow_bindings = True
        out_cols: list[Column] = []
        for it, a in zip(items, aliases):
            if (it, a) in key_items:
                out_cols.append(_colref(a))
            else:
                out_cols.append(post.compile(it.expr).alias(a))
        if post.let_bindings:
            gdf, _ = post.flush_bindings(gdf)
        return gdf.select(out_cols)

    def _compile_agg(self, n: A.Expr, comp: ExprCompiler) -> Column:
        if isinstance(n, A.CountStar):
            return F.count(F.lit(1))
        assert isinstance(n, A.FuncCall)
        args = [comp.compile(a) for a in n.args]
        name = n.name
        if name in ("percentilecont", "percentiledisc") and len(n.args) > 1:
            # percentile must lie in [0, 1] (ArgumentError
            # NumberOutOfRange, agg_funcs.c percentile validation)
            p = n.args[1]
            pv = None
            if isinstance(p, A.Literal):
                pv = p.value
            elif isinstance(p, A.Parameter):
                pv = self.params.get(p.name)
            if isinstance(pv, (int, float)) and not isinstance(pv, bool) \
                    and not (0 <= pv <= 1):
                raise PlanError(
                    f"Invalid input '{pv}' is not a valid argument, "
                    "must be a number in the range 0.0 to 1.0")
        if args and comp._is_variant(args[0]):
            from . import variant as V
            if name in ("min", "max"):
                # global-type-order min/max over mixed types
                # (src/value.h:19-21); returns the variant, rendered at
                # the final projection
                key = V.sort_key(args[0])
                return F.min_by(args[0], key) if name == "min" \
                    else F.max_by(args[0], key)
            if name in ("sum", "avg", "stdev", "stdevp",
                        "percentilecont", "percentiledisc"):
                args[0] = V.num_view(args[0])
        if name == "count":
            # count(entity) observes only null-ness, and an entity
            # struct is null exactly when its _id is (ids are never
            # null) — counting the _id instead lets Catalyst's nested
            # column pruning drop every other struct field from the
            # scan (count over the whole struct forces reading ALL
            # properties). count(DISTINCT entity) ≡ DISTINCT _id: the
            # id uniquely identifies the entity within a graph version.
            a = n.args[0]
            if isinstance(a, A.Variable) and a.name in comp.vars \
                    and comp.vars[a.name].kind in ("node", "edge"):
                idc = F.col(f"{a.name}._id")
                return F.countDistinct(idc) if n.distinct else F.count(idc)
            return F.countDistinct(args[0]) if n.distinct else F.count(args[0])
        if name == "sum":
            return F.sum_distinct(args[0]) if n.distinct else F.sum(args[0])
        if name == "avg":
            if n.distinct:
                raise PlanError("avg(DISTINCT) not supported")
            return F.avg(args[0])
        if name == "min":
            return F.min(args[0])
        if name == "max":
            return F.max(args[0])
        if name == "collect":
            return F.collect_set(args[0]) if n.distinct \
                else F.collect_list(args[0])
        if name == "stdev":
            return F.stddev_samp(args[0])
        if name == "stdevp":
            return F.stddev_pop(args[0])
        if name == "percentilecont":
            return F.percentile(args[0], args[1])
        if name == "percentiledisc":
            # discrete percentile: element at ceil(p·n) of the sorted list
            # (src/arithmetic/aggregate_funcs/agg_funcs.c:442). A
            # non-literal p is range-checked at runtime (ArgumentError
            # NumberOutOfRange — literal/parameter forms were already
            # validated at compile above)
            p = args[1]
            p = F.when(
                (p < 0) | (p > 1),
                F.raise_error(F.format_string(
                    "Invalid input '%s' is not a valid argument, "
                    "must be a number in the range 0.0 to 1.0",
                    p.cast("string"))).cast("double")) \
                .otherwise(p.cast("double"))
            lst = F.sort_array(F.collect_list(args[0]))
            idx = F.greatest(
                F.ceil(p * F.size(lst)).cast("int"), F.lit(1))
            return F.try_element_at(lst, idx)
        raise PlanError(f"Unknown aggregate {name}")

    def _order(self, ctx: Ctx, out_df: DataFrame,
               out_vars: dict[str, VarInfo], order_by: list[A.OrderItem],
               has_agg: bool, items, aliases, distinct: bool) -> DataFrame:
        post = ExprCompiler(out_df, out_vars, self.params,
                            self.query_time_ms)
        post.variants_possible = self._variants_possible()
        post.allow_bindings = True
        # literal-made variants (heterogeneous list literals) exist in
        # the projected schema even on graphs with no variant table
        # columns — let the probes see them
        from .variant import is_variant_type as _ivt
        post._made_variant = any(_ivt(f.dataType)
                                 for f in out_df.schema.fields)
        sort_cols: list[Column] = []
        pre_needed: list[A.OrderItem] = []
        for oi in order_by:
            # ORDER BY <expr> where <expr> is structurally one of the
            # projection items (e.g. ORDER BY count(*)) sorts by that
            # output column
            matched = None
            for it, a in zip(items, aliases):
                if oi.expr == it.expr:
                    matched = _colref(a)
                    break
            if matched is not None:
                if post._is_variant(matched):
                    from .variant import sort_key
                    matched = sort_key(matched)  # global type order
                elif post._is_temporal(matched):
                    from .temporal_cols import sort_key as tkey
                    matched = tkey(matched)      # per-kind timeline
                sort_cols.append(matched.asc_nulls_last() if oi.ascending
                                 else matched.desc_nulls_first())
                continue
            try:
                c = post.compile(oi.expr)
                if post._is_variant(c):
                    from .variant import sort_key
                    c = sort_key(c)  # global type order (src/value.h:19-21)
                elif post._is_temporal(c):
                    from .temporal_cols import sort_key as tkey
                    c = tkey(post.bind_temporal(c))  # timeline order
                # Cypher null ordering: nulls sort last ascending
                sort_cols.append(c.asc_nulls_last() if oi.ascending
                                 else c.desc_nulls_first())
            except CompileError:
                pre_needed.append(oi)
        if not pre_needed:
            if post.let_bindings:
                keep = out_df.columns
                wide, _ = post.flush_bindings(out_df)
                return wide.orderBy(sort_cols).select(keep)
            return out_df.orderBy(sort_cols)
        if has_agg or distinct:
            raise PlanError(
                "ORDER BY references non-projected variables after "
                "aggregation/DISTINCT")
        # recompute projection carrying hidden sort columns
        post.let_bindings = []      # branch-1 attempts are discarded
        post.allow_bindings = False
        comp = self.compiler(ctx)
        comp.allow_bindings = True
        hidden = []
        sort_cols = []
        for k, oi in enumerate(order_by):
            name = self.sym("ord")
            try:
                hc = comp.compile(oi.expr)
                is_var = comp._is_variant(hc)
            except CompileError:
                # item references a projection alias, not a source
                # variable (ORDER BY mixing aliases with source exprs);
                # the alias column exists on the recomputed projection
                hc = post.compile(oi.expr)
                is_var = post._is_variant(hc)
            if is_var:
                from .variant import sort_key
                hc = sort_key(hc)  # global type order
            hidden.append(hc.alias(name))
            c = F.col(name)
            sort_cols.append(c.asc_nulls_last() if oi.ascending
                             else c.desc_nulls_first())
        cols = [comp.compile(it.expr).alias(a)
                for it, a in zip(items, aliases)]
        base = ctx.df
        if comp.let_bindings:
            base, _ = comp.flush_bindings(base)
        wide = base.select(cols + hidden)
        return wide.orderBy(sort_cols).select([_colref(a) for a in aliases])


class _PostAggCompiler(ExprCompiler):
    """Compiles mixed items after groupBy: aggregate subtrees map to their
    agg output columns, group-key subtrees map to key columns."""

    def __init__(self, df, variables, params, key_exprs, agg_map,
                 agg_pairs) -> None:
        super().__init__(df, variables, params)
        self.key_exprs = key_exprs
        self.agg_map = agg_map
        self.agg_pairs = agg_pairs

    def compile(self, e: A.Expr) -> Column:
        if id(e) in self.agg_map:
            return F.col(self.agg_map[id(e)])
        for k_ast, k_col in self.key_exprs:
            if e == k_ast:
                return k_col
        for a_ast, name in self.agg_pairs:
            if e == a_ast:
                return F.col(name)
        return super().compile(e)

    def _c_Variable(self, e: A.Variable) -> Column:
        if e.name in self.vars:
            return F.col(e.name)
        raise CompileError(
            f"Variable `{e.name}` must be a grouping key to appear here")


def _merge_creates(clauses: list) -> list:
    """Fuse runs of consecutive CREATE clauses into one (their paths
    concatenate; variables bound by an earlier clause in the run are
    cross-path references, which standalone CREATE already supports).
    A 380-clause CREATE script (TCK Create4) then costs one batched
    driver-side creation instead of one pipeline checkpoint per clause.
    Redeclaration (a later clause re-declaring a var with labels/props)
    is validated by the CREATE compiler itself."""
    out: list = []
    for c in clauses:
        if isinstance(c, A.CreateClause) and out \
                and isinstance(out[-1], A.CreateClause):
            out[-1] = A.CreateClause(out[-1].paths + c.paths)
        else:
            out.append(c)
    return out


def _substitute(e: A.Expr, mapping: dict[int, A.Expr]) -> A.Expr:
    """Rebuild expression tree with id-based node substitutions."""
    if id(e) in mapping:
        return mapping[id(e)]
    if not hasattr(e, "__dataclass_fields__"):
        return e
    import dataclasses
    kwargs = {}
    changed = False
    for f in dataclasses.fields(e):
        v = getattr(e, f.name)
        if isinstance(v, A.Expr):
            nv = _substitute(v, mapping)
            changed |= nv is not v
            kwargs[f.name] = nv
        elif isinstance(v, list):
            nl = []
            for item in v:
                if isinstance(item, A.Expr):
                    ni = _substitute(item, mapping)
                    changed |= ni is not item
                    nl.append(ni)
                elif isinstance(item, tuple) and len(item) == 2 and \
                        isinstance(item[1], A.Expr):
                    ni = _substitute(item[1], mapping)
                    changed |= ni is not item[1]
                    nl.append((item[0], ni))
                else:
                    nl.append(item)
            kwargs[f.name] = nl
        else:
            kwargs[f.name] = v
    if not changed:
        return e
    return type(e)(**kwargs)
