"""Plan templates: plan a parameterised read once per parameter shape,
then rebind its literals per request.

The reference caches one execution plan per query text and binds
``$params`` each time the plan runs (``src/commands/execution_ctx.c:
79-88``). Here, a read that misses the exact-value plan cache plans once
with a sentinel in place of every int, float and string parameter. The
analyzed Catalyst plan is kept as the template. Each request then swaps
the sentinel literals for its own values on the JVM, in one
``transformAllExpressionsWithSubqueries`` call, without running the
Python planner.

A plan becomes a template only if planning
- read no sentinel's value: reads go through ``SentinelParams``, where
  only the type accessor and the literal accessor are free;
- ran no Spark job, since a job's answer could depend on a sentinel;
- did not fail.
Any other shape is remembered as one that plans per request, as if
templates did not exist.
"""

from __future__ import annotations

import dataclasses
import itertools
import weakref
from types import SimpleNamespace

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

from redisgraph_spark.graph.graph import QueryTimeoutError
from redisgraph_spark.planner.expressions import SentinelParams

# how long a template build waits for the listener bus to drain before
# it gives up proving that planning ran no Spark job
_DRAIN_MS = 2000
_TAGS = itertools.count()
_HANDLES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _kind(v) -> str | None:
    """Rebindable kind of a parameter value. Ints split at 32 bits
    because ``F.lit`` types them IntegerType or LongType by size."""
    t = type(v)
    if t is int:
        if -(1 << 31) <= v < (1 << 31):
            return "i32"
        return "i64" if -(1 << 63) <= v < (1 << 63) else None
    if t is float:
        return "float"
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


def _jvm(spark) -> SimpleNamespace:
    """JVM entry points, resolved once per JVM: every py4j attribute
    lookup is a blocking round trip."""
    jvm = spark._jvm
    h = _HANDLES.get(jvm)
    if h is None:
        sql = jvm.org.apache.spark.sql
        h = _HANDLES[jvm] = SimpleNamespace(
            literal=getattr(getattr(sql.catalyst.expressions, "Literal$"),
                            "MODULE$").apply,
            to_scala_map=jvm.org.apache.spark.api.python.PythonUtils
            .toScalaMap,
            of_rows=sql.classic.Dataset.ofRows)
    return h


class PlanTemplate:
    """An analyzed plan over sentinel literals, one per rebindable
    parameter, and the planner's stats for the query."""

    def __init__(self, spark, df: DataFrame, params: SentinelParams,
                 stats: dict) -> None:
        lit = _jvm(spark).literal
        self.plan = df._jdf.queryExecution().analyzed()
        self.sentinels = {n: lit(params.literal(n))
                          for n in params.rebindable}
        self.stats = dict(stats)

    def bind(self, spark, params: dict) -> DataFrame:
        """The template with each sentinel replaced by the parameter's
        value (a Scala Map is the PartialFunction the transform takes)."""
        h = _jvm(spark)
        swap = h.to_scala_map({s: h.literal(params[n])
                               for n, s in self.sentinels.items()})
        plan = self.plan.transformAllExpressionsWithSubqueries(swap)
        return DataFrame(h.of_rows(spark._jsparkSession, plan), spark)


def build(spark, ast, params: dict, plan) -> tuple[PlanTemplate | None,
                                                   bool]:
    """Plan with sentinels through ``plan(params) -> (df, stats)``.
    Returns (template, keep): template None when this shape must plan
    per request; keep False when that verdict should not be cached
    (a TIMEOUT, or a listener bus too busy to prove that no job ran)."""
    sp = _sentinel_params(ast, params)
    if sp is None:
        return None, True
    sc = spark.sparkContext
    tag = f"rg-template-{next(_TAGS)}"
    sc.addJobTag(tag)
    try:
        df, stats = plan(sp)
    except Exception as exc:
        return None, sp.value_read or not isinstance(exc,
                                                     QueryTimeoutError)
    finally:
        sc.removeJobTag(tag)
    if sp.value_read:
        return None, True
    ctx = sc._jsc.sc()
    try:
        # job events reach the status store through the listener bus
        ctx.listenerBus().waitUntilEmpty(_DRAIN_MS)
    except Py4JJavaError:          # TimeoutException: still draining
        return None, False
    if len(ctx.statusTracker().getJobIdsForTag(tag)):
        return None, True
    return PlanTemplate(spark, df, sp, stats), True
