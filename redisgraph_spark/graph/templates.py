"""Plan templates: plan a parameterised read once per parameter shape,
rebind its literals per request, and run a reused shape's executed plan.

The reference caches one execution plan per query text and binds
``$params`` each time the plan runs (``src/commands/execution_ctx.c:
79-88``). Here, a read that misses the exact-value plan cache plans once
with a sentinel in place of every int, float and string parameter. The
analyzed Catalyst plan is kept as the template. A request then swaps the
sentinel literals for its own values on the JVM, in one
``transformAllExpressionsWithSubqueries`` call, without running the
Python planner.

A fulltext query parameter is parsed in Python, so its value shapes the
plan. ``expand`` splits it first: the query's RediSearch skeleton (the
parsed query with its words taken out) is keyed by value, and each word
becomes a string parameter, which the plan holds as a literal like any
other.

A plan becomes a template only if planning
- read no sentinel's value: reads go through ``SentinelParams``, where
  only the type, literal and fulltext accessors are free;
- ran no Spark job, since a job's answer could depend on a sentinel;
- did not fail.
Any other shape is remembered as one that plans per request, as if
templates did not exist.

The first rebind promotes the template (``_promote``): it keeps an
executed ``SparkPlan`` of the sentinel plan too. That request and each
later one swap the sentinels in that plan, clone it (no code-generating
node may serve two requests) and run it, so Catalyst, physical planning,
code generation and every broadcast whose subtree holds no sentinel are
paid once per shape. Those key-independent broadcasts are built at
promotion and shared by every request, as Pregelix keeps the static
relation resident and streams only what changes. Promotion applies that
rule to every join with sentinels on one side only: it plans the join to
broadcast the other side and stream the keyed one (``_flipped``), so a
lookup runs as one job. A request swaps each number in as
``CAST('<value>' AS <type>)``: generated code reads that string from the
plan's references, not from its source, so the classes compiled for one
key serve every key. The held bytes count against one budget per plan
cache, ``spark.sql.autoBroadcastJoinThreshold``: a flip is made only
while the free sides, sized as the hash relations Spark builds of them
(``_sides_fit``), fit in what is left of it, and past the budget the
least recently run promoted template goes back to rebinding its analyzed
plan. A template is promoted only if ``_promote``'s guard shows that the
swap gives the plan the optimizer would build for the request's values;
otherwise it stays analyzed-only.
"""

from __future__ import annotations

import dataclasses
import json
import math
import threading
import weakref
from collections import Counter
from types import SimpleNamespace

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

from redisgraph_spark.cypher import ast as A
from redisgraph_spark.functions.fulltext import Skeleton, skeleton
from redisgraph_spark.graph.graph import QueryTimeoutError
from redisgraph_spark.planner.expressions import SentinelParams
from redisgraph_spark.session import job_tag

# how long a template build waits for the listener bus to drain before
# it gives up proving that planning ran no Spark job
_DRAIN_MS = 2000
_HANDLES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
# promotion's second sentinel set starts this many indexes on
_SECOND_SET = 0x100
# where the guard lets a sentinel stand in the analyzed plan: an
# operand of a comparison whose other operand is a column expression,
# or of a null/NaN test (constant within a kind)
_COMPARISONS = frozenset(
    ["EqualTo", "EqualNullSafe", "LessThan", "LessThanOrEqual",
     "GreaterThan", "GreaterThanOrEqual", "StartsWith", "EndsWith",
     "Contains"])
_NULL_TESTS = frozenset(["IsNull", "IsNotNull", "IsNaN"])
# the numeric widenings the swap covers (see ``_forms``)
_WIDER = {"integer": ("long", "double"), "long": ("double",)}
# per numeric kind, the SQL types of its forms, in ``_forms`` order
_SQL_TYPES = {"i32": ("INT", "BIGINT", "DOUBLE"), "i64": ("BIGINT", "DOUBLE"),
              "float": ("DOUBLE",)}
# join types that may build (broadcast) their left / right child
_BUILDS = (frozenset(["Inner", "Cross", "RightOuter"]),
           frozenset(["Inner", "Cross", "LeftOuter", "LeftSemi", "LeftAnti",
                      "ExistenceJoin"]))
# executed-plan nodes a per-request swap cannot reach or must not
# share: folded inline VALUES, and exchanges reused across the plan
_UNSWAPPABLE = frozenset(["LocalTableScan", "ReusedExchange"])
# optimized logical nodes that output at most their children's rows
_NO_MORE_ROWS = frozenset(["Project", "Filter", "Aggregate", "Sort",
                           "Repartition", "RepartitionByExpression", "Union"])
_FULLTEXT = "db.idx.fulltext.querynodes"


def _kind(v) -> str | None:
    """Rebindable kind of a parameter value. Ints split at 32 bits
    because ``F.lit`` types them IntegerType or LongType by size. A NaN
    is keyed by value: ``isnan`` of a float parameter then folds the
    same way for every value of the kind."""
    t = type(v)
    if t is int:
        if -(1 << 31) <= v < (1 << 31):
            return "i32"
        return "i64" if -(1 << 63) <= v < (1 << 63) else None
    if t is float:
        return "float" if v == v else None
    return "str" if t is str else None


def _sentinel(kind: str, i: int):
    """The i-th parameter's stand-in: a value no query writes by
    accident (and ``_sentinel_params`` checks that this one does not)."""
    if kind == "i32":
        return 0x7A5E0000 + i
    if kind == "i64":
        return (0x2A5E << 48) + i
    if kind == "float":
        return float.fromhex("0x1.5e5e5e5e5%04xp-1000" % i)
    return f"\0rg-param-{i}\0"


def param_shape(params: dict) -> tuple | None:
    """The template key's parameter part: each rebindable parameter's
    kind, every other parameter (bool, None, list, map, ...) by value.
    None when no parameter is rebindable: the text then keys the
    exact-value cache alone."""
    kinds = {n: _kind(v) for n, v in params.items()}
    if not any(kinds.values()):
        return None
    return tuple((n, kinds[n] or ("=", repr(params[n])))
                 for n in sorted(params))


def _nodes(node):
    """Every AST node under ``node``, pre-order."""
    if dataclasses.is_dataclass(node):
        yield node
        node = [getattr(node, f.name) for f in dataclasses.fields(node)]
    if isinstance(node, (list, tuple)):
        for x in node:
            yield from _nodes(x)


def expand(ast, params: dict) -> dict:
    """``params`` with each fulltext query parameter split in two: its
    ``Skeleton``, keyed by value, and one string parameter per word,
    which templates rebind like any other. A parameter expands only if
    it is a string with a word in it and each of its uses is the query
    argument of a ``queryNodes`` call over literals and parameters; no
    implicit call may read parameters by name."""
    if str not in map(type, params.values()):
        return params
    nodes = list(_nodes(ast))
    if any(isinstance(n, A.CallClause) and n.implicit for n in nodes):
        return params
    uses = Counter(n.name for n in nodes if isinstance(n, A.Parameter))
    queries = Counter(
        n.args[1].name for n in nodes
        if isinstance(n, A.CallClause) and n.proc == _FULLTEXT
        and len(n.args) == 2 and isinstance(n.args[1], A.Parameter)
        and all(isinstance(a, (A.Literal, A.Parameter)) for a in n.args))
    out = dict(params)
    for name, n in queries.items():
        if n != uses[name] or type(params.get(name)) is not str:
            continue
        shape, words = skeleton(params[name])
        leaves = tuple(f"{name}#{i}" for i in range(len(words)))
        if words and not any(w in params for w in leaves):
            out[name] = Skeleton(shape, leaves)
            out.update(zip(leaves, words))
    return out


def _leaves(node):
    """Every scalar in an AST: literal values, names, labels."""
    if dataclasses.is_dataclass(node):
        for f in dataclasses.fields(node):
            yield from _leaves(getattr(node, f.name))
    elif isinstance(node, (list, tuple)):
        for x in node:
            yield from _leaves(x)
    else:
        yield node


def _sentinel_params(ast, params: dict) -> SentinelParams | None:
    """``params`` with each rebindable value replaced by its sentinel;
    None when a sentinel equals a constant in the query (its literal
    would be rebound too)."""
    names = [n for n in sorted(params) if _kind(params[n])]
    values = dict(params)
    for i, n in enumerate(names):
        values[n] = _sentinel(_kind(params[n]), i)
    used = {(type(v), v) for v in _leaves(ast)
            if type(v) in (int, float, str)}
    if any((type(values[n]), values[n]) in used for n in names):
        return None
    return SentinelParams(values, names)


def _module(package, name: str):
    """A Scala object: the MODULE$ of class ``name`` in ``package``."""
    return getattr(getattr(package, name), "MODULE$")


def _jvm(spark) -> SimpleNamespace:
    """JVM entry points, resolved once per JVM: every py4j attribute
    lookup is a blocking round trip."""
    jvm = spark._jvm
    h = _HANDLES.get(jvm)
    if h is None:
        sql = jvm.org.apache.spark.sql
        logical = sql.catalyst.plans.logical
        h = _HANDLES[jvm] = SimpleNamespace(
            literal=_module(sql.catalyst.expressions, "Literal$").apply,
            parse=_module(sql.catalyst.parser,
                          "CatalystSqlParser$").parseExpression,
            to_scala_map=jvm.org.apache.spark.api.python.PythonUtils
            .toScalaMap,
            of_rows=sql.classic.Dataset.ofRows,
            set_active=sql.classic.SparkSession.setActiveSession,
            reused=sql.execution.exchange.ReusedExchangeExec,
            join=logical.Join, join_hint=logical.JoinHint,
            broadcast=jvm.scala.Some(logical.HintInfo(jvm.scala.Some(
                _module(logical, "BROADCAST$")))),
            no_hint=_module(jvm.scala, "None$"),
            physical=_module(sql.execution, "QueryExecution$")
            .prepareExecutedPlan,
            fixed_length=sql.catalyst.expressions.UnsafeRow.isFixedLength,
            equi_keys=_module(sql.catalyst.planning,
                              "ExtractEquiJoinKeys$").unapply,
            hash_keys=_module(sql.execution.joins, "HashJoin$")
            .rewriteKeyExpr,
            column=_module(sql.classic, "ExpressionUtils$").column,
            fn=sql.functions,
            to_seq=jvm.org.apache.spark.api.python.PythonUtils.toSeq,
            page_bytes=jvm.org.apache.spark.SparkEnv.get().memoryManager()
            .pageSizeBytes())
    return h


def _forms(h, kind: str, v, cast: bool = False) -> list:
    """The literals type coercion makes of a parameter value in an
    optimized plan: its own, and for an int also the bigint and the
    double it widens to (``_WIDER``). With ``cast``, each finite
    numeric form is ``CAST('<repr>' AS <type>)`` instead, the same
    value: generated code reads a string literal from the plan's
    references rather than from its source, so one compiled class
    serves every value."""
    if kind == "str":
        return [h.literal(v)]
    forms = []
    for typ in _SQL_TYPES[kind]:
        x = float(v) if typ == "DOUBLE" else v
        if cast and x not in (math.inf, -math.inf):
            forms.append(h.parse(f"CAST('{x!r}' AS {typ})"))
        elif typ == "BIGINT" and kind == "i32":
            forms.append(h.parse(f"{x}L"))
        else:
            forms.append(h.literal(x))
    return forms


class PlanTemplate:
    """An analyzed plan over sentinel literals, one per rebindable
    parameter, and the planner's stats for the query. ``physical`` is
    None until the first rebind promotes it, then a ``_Physical`` (which
    that rebind already runs), or False for a template that stays
    analyzed-only."""

    def __init__(self, spark, df: DataFrame, params: SentinelParams,
                 stats: dict) -> None:
        lit = _jvm(spark).literal
        self.plan = df._jdf.queryExecution().analyzed()
        self.values = {n: params.literal(n) for n in params.rebindable}
        self.sentinels = {n: lit(v) for n, v in self.values.items()}
        self.stats = dict(stats)
        self.physical: _Physical | bool | None = None
        self._promoting = threading.Lock()

    def bind(self, spark, params: dict) -> DataFrame:
        """The template with each sentinel replaced by the parameter's
        value (a Scala Map is the PartialFunction the transform takes)."""
        h = _jvm(spark)
        return DataFrame(h.of_rows(spark._jsparkSession,
                                   self._bound(h, params)), spark)

    def _bound(self, h, params: dict):
        swap = h.to_scala_map({s: h.literal(params[n])
                               for n, s in self.sentinels.items()})
        return self.plan.transformAllExpressionsWithSubqueries(swap)

    def runner(self, spark, params: dict, cache):
        """This rebind on the promoted plan: a thunk that runs it and
        returns its DataFrame, or None when the request rebinds the
        analyzed plan instead. The first rebind promotes (one thread
        does; the others meanwhile rebind the analyzed plan) and runs
        the plan it promoted, unless the held budget demoted it at
        once: the shape's optimizing, planning and code generation are
        paid once, not once more for that request's analyzed plan."""
        phys = self.physical
        if phys is None and self._promoting.acquire(blocking=False):
            try:
                if self.physical is None:
                    self.physical = _promote(spark, self,
                                             _room(cache, spark)) or False
                    if self.physical:
                        _hold(cache, self, spark)
                phys = self.physical
            finally:
                self._promoting.release()
        if not phys:
            return None
        with cache.mu:
            if self in cache.held:
                cache.held.move_to_end(self)
        return phys.runner(spark, params)

    def demote(self, cache) -> None:
        """Back to rebinding the analyzed plan; the held broadcasts are
        released with the executed plan."""
        self.physical = False
        with cache.mu:
            cache.held.pop(self, None)


def _swap(h, forms: dict, kinds: dict, values: dict, cast: bool = False):
    """Scala Map from each sentinel form in ``forms`` to the same form
    of the parameter's value in ``values`` (``_forms``' cast form with
    ``cast``)."""
    return h.to_scala_map({
        s: v for n, fs in forms.items()
        for s, v in zip(fs, _forms(h, kinds[n], values[n], cast))})


class _Physical:
    """A promoted template's executed plan. Each key-independent
    broadcast is built and sits behind a ``ReusedExchangeExec``, which
    neither the swap nor ``clone`` enters, so every request shares it."""

    def __init__(self, plan, forms: dict, kinds: dict, schema,
                 nbytes: int) -> None:
        self.plan, self.forms, self.kinds = plan, forms, kinds
        self.schema, self.nbytes = schema, nbytes

    def instance(self, spark, params: dict):
        """This request's own copy of the plan, with its literals."""
        h = _jvm(spark)
        # plan nodes capture the thread's active session when built
        h.set_active(spark._jsparkSession)
        return self.plan.transformAllExpressions(
            _swap(h, self.forms, self.kinds, params, cast=True)).clone()

    def runner(self, spark, params: dict):
        """Swap and clone now (under the caller's read lock); the thunk
        runs the plan: its key-dependent broadcast jobs, then the wrap
        of its RDD as a DataFrame."""
        plan = self.instance(spark, params)
        jss = spark._jsparkSession

        def run() -> DataFrame:
            return DataFrame(jss.internalCreateDataFrame(
                plan.execute(), self.schema, False), spark)
        return run


def _trees(x):
    """Every pre-order node list in a plan's JSON: the plan itself, each
    expression, and each expression nested inside a node's fields."""
    if isinstance(x, dict):
        for v in x.values():
            yield from _trees(v)
    elif isinstance(x, list):
        if x and all(isinstance(e, dict) and "num-children" in e
                     for e in x):
            yield x
        for v in x:
            yield from _trees(v)


def _contexts_ok(plan_json: str, values: dict) -> bool:
    """Guard 3: every sentinel in the analyzed plan, under numeric
    widening casts, is an operand of a null/NaN test, or of a
    comparison whose other operand is neither foldable nor a Cast
    (``UnwrapCastInBinaryComparison`` rewrites a cast column by the
    literal's value, and a foldable side folds with the sentinel)."""
    strs = {v for v in values.values() if type(v) is str}
    nums = {float(v) for v in values.values() if type(v) is not str}

    def is_sentinel(node) -> bool:
        v = node.get("value")
        if v is None or not node["class"].endswith(".Literal"):
            return False
        if node.get("dataType") == "string":
            return v in strs
        try:
            return float(v) in nums
        except (TypeError, ValueError):
            return False

    for nodes in _trees(json.loads(plan_json)):
        name = [n["class"].rsplit(".", 1)[-1] for n in nodes]
        parent, kids, open_ = [None] * len(nodes), [[] for _ in nodes], []
        for i, n in enumerate(nodes):
            while open_ and open_[-1][1] == 0:
                open_.pop()
            if open_:
                open_[-1][1] -= 1
                parent[i] = open_[-1][0]
                kids[parent[i]].append(i)
            open_.append([i, n["num-children"]])

        def foldable(i) -> bool:
            return all(map(foldable, kids[i])) if kids[i] \
                else name[i] == "Literal"

        for i, n in enumerate(nodes):
            if not is_sentinel(n):
                continue
            cur, typ, p = i, n.get("dataType"), parent[i]
            while p is not None and name[p] == "Cast" and \
                    nodes[p].get("dataType") in _WIDER.get(typ, ()):
                cur, typ, p = p, nodes[p]["dataType"], parent[p]
            if p is not None and name[p] in _NULL_TESTS:
                continue
            if p is None or name[p] not in _COMPARISONS:
                return False
            other = [k for k in kids[p] if k != cur]
            if len(other) != 1 or name[other[0]] == "Cast" or \
                    foldable(other[0]):
                return False
    return True


def _walk(node, held: list, swap) -> bool:
    """Collect into ``held`` the outermost broadcasts under ``node``
    whose subtree the swap leaves unchanged; False when the subtree has
    a node the swap cannot serve (``_UNSWAPPABLE``)."""
    name = node.nodeName()
    if name in _UNSWAPPABLE:
        return False
    if name == "BroadcastExchange" and \
            node.transformAllExpressions(swap).fastEquals(node):
        held.append(node)
        return True
    kids = node.children()
    return all(_walk(kids.apply(i), held, swap)
               for i in range(kids.size()))


def _row_bytes(h, types) -> int:
    """Bytes of an UnsafeRow of ``types``: null bits, 8 bytes a field,
    and each variable-length value at its default size, word-aligned."""
    types = list(types)
    return 8 * ((len(types) + 63) // 64) + sum(
        8 if h.fixed_length(t) else 8 + -(-t.defaultSize() // 8) * 8
        for t in types)


def _pow2(n: int) -> int:
    """The least power of two >= n (1 for n <= 1)."""
    return 1 << max(0, n - 1).bit_length()


def _side_rows(side) -> int | None:
    """Rows of ``side`` at most: what Catalyst counts of it or, through
    ``_NO_MORE_ROWS`` nodes, of what it reads (a materialized cached
    table has a row count); None when Catalyst does not count them."""
    rows = side.stats().rowCount()
    if rows.isDefined():
        return int(str(rows.get()))
    if side.nodeName() not in _NO_MORE_ROWS:
        return None
    kids = side.children()
    kids = [_side_rows(kids.apply(i)) for i in range(kids.size())]
    return None if None in kids else sum(kids)


def _side_keys(h, join, free: int) -> tuple:
    """The ``free`` side of ``join``, the keys its hash relation is
    built on (``HashJoin.rewriteKeyExpr``) and whether they pack into
    one long."""
    eq = h.equi_keys(join).get()
    keys = h.hash_keys((eq._2(), eq._3())[free])
    keys = [keys.apply(i) for i in range(keys.size())]
    return ((join.left(), join.right())[free], keys,
            len(keys) == 1 and keys[0].dataType().typeName() == "long")


def _relation_bytes(h, side, keys: list, packed: bool, rows: int,
                    distinct: int, span: int | None = None) -> int:
    """Bytes of the hash relation Spark builds of ``side``
    (``HashedRelation.apply``) from its rows, distinct keys and, for a
    packed key, the keys' range (``span``, max - min; None: unknown). A
    key that packs into one long makes a ``LongToUnsafeRowMap``: rows,
    each an UnsafeRow and a next pointer, in a page that starts at
    1 MiB and doubles, and a key array of 2 slots a row rounded up to a
    power of two, doubled while the keys fill over a quarter of it, or
    one slot per key value when the keys' range is narrower (dense).
    Any other key makes a ``BytesToBytesMap``: key and value rows in
    pages of the memory manager's page size, and 2 slots per
    power-of-two capacity from 1.5 a row, doubled while the keys fill
    half of it."""
    row = _row_bytes(h, (f.dataType() for f in side.schema().fields()))
    if packed:
        slots = 2 * _pow2(rows)
        while distinct * 4 > slots:
            slots *= 2
        if distinct and span is None:      # either array, the larger
            slots = max(slots, 1024)
        elif distinct and span < max(slots, 1024):
            slots = span + 1
        page = 1 << 20
        while page < rows * (row + 8):
            page *= 2
        return page + 8 * slots
    slots = max(_pow2(int(rows * 1.5 + 1)), 64)
    while distinct >= slots // 2:
        slots *= 2
    record = 16 + _row_bytes(h, (k.dataType() for k in keys)) + row
    per_page = max(1, (h.page_bytes - 4) // record)
    return -(-rows // per_page) * h.page_bytes + 16 * slots


def _sides_bytes(h, jss, sides: list) -> list[int]:
    """Bytes a broadcast of each ``(join, free)`` side holds
    (``_relation_bytes``), all sides' rows, distinct keys and key
    ranges counted in one aggregate job. Catalyst's ``sizeInBytes``
    will not do: for a cached table it is the compressed columnar size,
    3-4x under what the broadcast holds."""
    fn, null = h.fn, h.fn.lit(None).cast("bigint")
    shapes, aggs = [_side_keys(h, j, free) for j, free in sides], None
    for side, keys, packed in shapes:
        cols = [h.column(k) for k in keys]
        agg = h.of_rows(jss, side).agg(fn.count(fn.lit(1)), h.to_seq([
            fn.count_distinct(cols[0], h.to_seq(cols[1:])),
            fn.min(cols[0]) if packed else null,
            fn.max(cols[0]) if packed else null]))
        aggs = agg if aggs is None else aggs.union(agg)
    # a union's partitions, and so its rows, keep the order of its inputs
    return [_relation_bytes(h, side, keys, packed, r.getLong(0),
                            r.getLong(1),
                            None if r.isNullAt(2)
                            else r.getLong(3) - r.getLong(2))
            for (side, keys, packed), r in zip(shapes,
                                               aggs.collectAsList())]


def _sides_fit(h, jss, sides: list, room: int) -> bool:
    """Whether broadcasts of the ``(join, free)`` sides fit in ``room``
    bytes. A side whose rows Catalyst counts is taken at the most a
    hash relation of those rows holds (every key distinct, the larger
    key array), with no job; the others are sized by ``_sides_bytes``
    (one job). Past ``room``, the counted sides are sized so too (one
    more job)."""
    shapes = [_side_keys(h, j, free) for j, free in sides]
    rows = [_side_rows(side) for side, _, _ in shapes]
    most = sum(_relation_bytes(h, *shape, n, n)
               for shape, n in zip(shapes, rows) if n is not None)
    counted = [s for s, n in zip(sides, rows) if n is not None]
    uncounted = [s for s, n in zip(sides, rows) if n is None]
    held = sum(_sides_bytes(h, jss, uncounted)) if uncounted else 0
    if held + most <= room:
        return True
    return bool(counted) and \
        held + sum(_sides_bytes(h, jss, counted)) <= room


def _flipped(h, jss, plan, swap, room: int | None):
    """The optimized ``plan`` with each join that has sentinels (what
    ``swap`` changes) on exactly one side hinted to broadcast its other,
    key-free side and to stream the keyed one; a hint on the keyed side
    is dropped. None when no join can be flipped so, or when the free
    sides together may take more than ``room`` bytes (None: unsized),
    so Spark's build sides stand."""
    flips, todo = {}, [plan]
    while todo:
        node = todo.pop()
        kids = node.children()
        kids = [kids.apply(i) for i in range(kids.size())]
        if node.nodeName() == "Join":
            keyed = [not k.transformAllExpressions(swap).fastEquals(k)
                     for k in kids]
            free = keyed.index(False) if sum(keyed) == 1 else None
            if free is not None and \
                    node.joinType().toString().split("(")[0] in _BUILDS[free]:
                flips[node] = free
                kids = [kids[1 - free]]
        todo.extend(kids)
    if not flips or (room is not None and
                     not _sides_fit(h, jss, list(flips.items()), room)):
        return None
    hints = (h.broadcast, h.no_hint)
    return plan.transformDown(h.to_scala_map({
        j: h.join(j.left(), j.right(), j.joinType(), j.condition(),
                  h.join_hint(hints[free], hints[1 - free]))
        for j, free in flips.items()}))


def _promote(spark, t: PlanTemplate, room: int | None) -> _Physical | None:
    """The template's executed plan ready to run per request, with its
    key-independent broadcasts built, or None when the guard fails.
    While the free sides fit in ``room`` bytes (None: keep Spark's
    build sides), each join with sentinels on one side only broadcasts
    the other (``_flipped``), so a request builds nothing and streams
    its keyed side; held bytes past ``room`` once built undo that. The
    guard, besides ``_contexts_ok``: the plan is not adaptive (above
    the adaptive gate nothing changes); a sentinel set A (the
    template's) and a second set B both survive into their executed
    plans, each planned from its own optimized plan; A's executed plan
    swapped to B ``sameResult``s B's, so no literal was derived from a
    sentinel and none became a plan field; and no node the swap cannot
    serve."""
    h = _jvm(spark)
    jss = spark._jsparkSession
    h.set_active(jss)
    kinds = {n: _kind(v) for n, v in t.values.items()}
    second = {n: _sentinel(kinds[n], i + _SECOND_SET)
              for i, n in enumerate(sorted(t.values))}
    try:
        if not _contexts_ok(t.plan.toJSON(), t.values):
            return None
        forms = {n: _forms(h, kinds[n], v) for n, v in t.values.items()}
        flat = [f for fs in forms.values() for f in fs]
        if len(dict.fromkeys(flat)) != len(flat):
            return None            # two sentinels share a widened form
        to_second = _swap(h, forms, kinds, second)
        qe = h.of_rows(jss, t.plan).queryExecution()
        b_qe = h.of_rows(jss, t._bound(h, second)).queryExecution()
        hinted = b_hinted = None
        # an adaptive plan stays as Spark plans it
        if room is not None and \
                not jss.sessionState().conf().adaptiveExecutionEnabled():
            hinted = _flipped(h, jss, qe.optimizedPlan(), to_second, room)
        if hinted is not None:
            to_first = _swap(h, {n: _forms(h, kinds[n], v)
                                 for n, v in second.items()}, kinds, t.values)
            b_hinted = _flipped(h, jss, b_qe.optimizedPlan(), to_first, None)
        flip = b_hinted is not None
        plan = h.physical(jss, hinted) if flip else qe.executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan" or \
                not plan.subqueriesAll().isEmpty():
            return None
        b_plan = h.physical(jss, b_hinted) if flip else b_qe.executedPlan()
        for n in forms:            # every sentinel reaches the plan
            if plan.transformAllExpressions(_swap(
                    h, {n: forms[n]}, kinds, second)).fastEquals(plan):
                return None
        if not plan.transformAllExpressions(to_second).sameResult(b_plan):
            return None
        held: list = []
        if not _walk(plan, held, to_second):
            return None
        # built once, outside any TIMEOUT group: preparing starts every
        # build at once, then each is awaited
        for b in held:
            b.prepare()
        for b in held:
            b.executeBroadcast()
        nbytes = sum(b.metrics().apply("dataSize").value() for b in held)
        if flip and nbytes > room:
            return _promote(spark, t, None)
        return _Physical(
            plan.transformDown(h.to_scala_map(
                {b: h.reused(b.output(), b) for b in held})),
            forms, kinds, t.plan.schema(), nbytes)
    except Py4JJavaError:
        return None


def _budget(spark) -> int:
    """The held-bytes budget of one plan cache."""
    return max(0, spark._jsparkSession.sessionState().conf()
               .autoBroadcastJoinThreshold())


def _room(cache, spark) -> int:
    """What the cache's held-bytes budget has left."""
    with cache.mu:
        return _budget(spark) - sum(cache.held.values())


def _hold(cache, t: PlanTemplate, spark) -> None:
    """Count a newly promoted template's held broadcasts against the
    cache's budget; past it, demote the least recently run ones (the
    new one last: alone over budget, it is demoted too)."""
    budget = _budget(spark)
    with cache.mu:
        cache.held[t] = t.physical.nbytes
        over = []
        total = sum(cache.held.values())
        for old, nbytes in list(cache.held.items()):
            if total <= budget:
                break
            over.append(old)
            total -= nbytes
    for old in over:
        old.demote(cache)


def build(spark, ast, params: dict, plan) -> tuple[PlanTemplate | None,
                                                   bool]:
    """Plan with sentinels through ``plan(params) -> (df, stats)``.
    Returns (template, keep): template None when this shape must plan
    per request; keep False when that verdict should not be cached
    (a TIMEOUT, or a listener bus too busy to prove that no job ran)."""
    sp = _sentinel_params(ast, params)
    if sp is None:
        return None, True
    try:
        with job_tag(spark, "rg-template") as tag:
            df, stats = plan(sp)
    except Exception as exc:
        return None, sp.value_read or not isinstance(exc,
                                                     QueryTimeoutError)
    if sp.value_read:
        return None, True
    ctx = spark.sparkContext._jsc.sc()
    try:
        # job events reach the status store through the listener bus
        ctx.listenerBus().waitUntilEmpty(_DRAIN_MS)
    except Py4JJavaError:          # TimeoutException: still draining
        return None, False
    if len(ctx.statusTracker().getJobIdsForTag(tag)):
        return None, True
    return PlanTemplate(spark, df, sp, stats), True
