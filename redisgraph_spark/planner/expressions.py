"""Cypher expression → Spark Column compiler.

Implements the semantics of the reference's arithmetic-expression tree
(``/root/reference/src/arithmetic/arithmetic_expression.c``) and its
function registry (``src/arithmetic/funcs.c``; per-family files cited in
the registry below) on top of ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen-friendly; no Python UDFs anywhere in this module.

Type-dependent dispatch (``+`` is addition / string concat / list concat;
``x[i]`` is list index / map lookup) resolves operand types by probing the
analyzed schema of the current DataFrame — the planner-time analog of
``SIValue`` tag dispatch (``src/value.h:81-96``).
"""

from __future__ import annotations

import datetime as _pydt
import itertools
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from redisgraph_spark.cypher import ast as A
from redisgraph_spark.functions.fulltext import Skeleton, fill, parse_query

_NUMERIC_INT = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)

# sentinel for "type not statically known — probe the JVM"
_UNSET = object()
# (applicationId, empty probe frame) per schema JSON — shared across
# compiler instances so repeated queries don't re-pay createDataFrame
_PROBE_DFS: dict[str, tuple] = {}
# process-wide unique suffix for let-bound intermediate columns
_BIND_SEQ = itertools.count()


class VarInfo:
    """What a bound Cypher variable is: node/edge struct, path struct, or
    plain scalar column (≈ the Record entry kinds of
    ``src/execution_plan/record.h:34-41``)."""

    def __init__(self, kind: str, fields: tuple[str, ...] = ()) -> None:
        self.kind = kind  # 'node' | 'edge' | 'path' | 'scalar'
        self.fields = fields
        # for edges: (src node var, dst node var) when the pattern bound
        # them as structs — lets startNode()/endNode() return the full
        # node instead of a bare id reference
        self.endpoints: tuple[str | None, str | None] | None = None
        # undirected hop: endpoints are (left, right) pattern-side vars;
        # which one is the edge's _src depends on the matched row
        self.undirected = False
        # candidate label tables (nodes) / relation tables (edges) this
        # variable can live in; None = unknown (all tables). Mutations
        # use it to rewrite only the affected tables.
        self.labels: tuple[str, ...] | None = None
        # plan-time constant value of this variable when the projection
        # that bound it folded (temporal kernel values: WITH date(...)
        # AS d) — lets downstream clauses keep constant-folding
        self.const_value = None

    def __repr__(self) -> str:  # pragma: no cover
        return f"VarInfo({self.kind})"


class CompileError(ValueError):
    pass


class _NotConst(Exception):
    """Expression is not a plan-time constant (const_eval)."""


class ValueDependent(Exception):
    """Template planning read the value of a rebindable parameter."""


class Params(dict):
    """Query parameters as the planner sees them. ``params[name]`` and
    ``params.get(name)`` read a value. The reads a plan template can
    rebind (graph/templates.py) have their own accessors: ``type_of``
    (the Python type alone), ``literal`` (the value, embedded as a
    Spark literal) and ``fulltext`` (a fulltext query, whose words
    are embedded as Spark literals)."""

    def type_of(self, name: str) -> type:
        return type(dict.get(self, name))

    def literal(self, name: str):
        return dict.__getitem__(self, name)

    def fulltext(self, v):
        """The parsed RediSearch query of a query argument's value
        (null: the empty query). A template's parameter holds its
        ``Skeleton``, filled with the literals of its word parameters,
        so no word's value is read."""
        if isinstance(v, Skeleton):
            return fill(v.shape, [self.literal(w) for w in v.leaves])
        return parse_query("" if v is None else str(v))


class SentinelParams(Params):
    """Parameters while a plan template is built: each rebindable
    parameter holds a sentinel, and reading its value raises
    ValueDependent. ``value_read`` stays set even when a planner
    ``except`` swallows the raise, so the template is refused."""

    def __init__(self, values: dict, rebindable) -> None:
        super().__init__(values)
        self.rebindable = frozenset(rebindable)
        self.value_read = False

    def _read(self, names) -> None:
        if self.rebindable.intersection(names):
            self.value_read = True
            raise ValueDependent(", ".join(sorted(names)))

    def __getitem__(self, name):
        self._read((name,))
        return dict.__getitem__(self, name)

    def get(self, name, default=None):
        self._read((name,))
        return dict.get(self, name, default)

    def __iter__(self):
        # overriding it sends dict(p) / {**p} through __getitem__
        return dict.__iter__(self)

    def items(self):
        self._read(self.keys())
        return dict.items(self)

    def values(self):
        self._read(self.keys())
        return dict.values(self)

    def copy(self):
        self._read(self.keys())
        return dict.copy(self)


# the openCypher temporal function surface (beyond-reference: the
# reference declares the types but never implements them,
# src/value.h:28-33, docs/cypher_support.md:20-22)
_TEMPORAL_CTORS = frozenset(
    ["date", "time", "localtime", "datetime", "localdatetime",
     "duration"])
_TEMPORAL_TRUNCATES = frozenset(
    f"{k}.truncate" for k in _TEMPORAL_CTORS if k != "duration")
_TEMPORAL_BETWEENS = frozenset(
    ["duration.between", "duration.inmonths", "duration.indays",
     "duration.inseconds"])
# clock constructors: statement/transaction are one statement-fixed
# clock here (single-statement transactions); realtime is the same
# wall clock read
_TEMPORAL_CLOCKS = frozenset(
    f"{k}.{v}" for k in _TEMPORAL_CTORS if k != "duration"
    for v in ("statement", "transaction", "realtime"))
_TEMPORAL_FNS = (_TEMPORAL_CTORS | _TEMPORAL_TRUNCATES
                 | _TEMPORAL_BETWEENS | _TEMPORAL_CLOCKS
                 | {"datetime.fromepoch", "datetime.fromepochmillis"})
# function-style component accessors that keep working on BOTH Spark
# native date/timestamp columns (parquet data) and temporal structs
_TEMPORAL_ACCESSOR_FNS = frozenset(
    ["year", "month", "day", "hour", "minute", "second", "dayofweek",
     "epochmillis"])


def _could_be_variant(e: A.Expr) -> bool:
    """Static pre-filter: can this AST node compile to a variant union
    column? Literals/parameters/arithmetic never can — skipping the
    dtype probe (a py4j round trip) for them keeps planning fast."""
    return isinstance(e, (A.Property, A.Variable, A.Subscript,
                          A.CaseExpr, A.FuncCall, A.ListLiteral))


def _could_be_temporal(e: A.Expr) -> bool:
    """Static pre-filter for temporal struct columns (same probe-saving
    idea as _could_be_variant; temporal values additionally flow
    through arithmetic and unary minus)."""
    return isinstance(e, (A.Property, A.Variable, A.Subscript,
                          A.CaseExpr, A.FuncCall, A.Unary, A.Binary))


_PY_SQL_TYPES = {bool: "boolean", int: "bigint", float: "double",
                 str: "string"}


def _py_dtype(t: type) -> "T.DataType | object":
    """Plan-time DataType of a scalar constant of Python type ``t``;
    ``_UNSET`` for anything else."""
    if t is type(None):
        return T.NullType()
    if issubclass(t, bool):
        return T.BooleanType()
    if issubclass(t, int):
        return T.LongType()
    if issubclass(t, float):
        return T.DoubleType()
    if issubclass(t, str):
        return T.StringType()
    return _UNSET


def param_literal(v) -> Column:
    """A parameter value as a literal Column. Beyond the scalar/flat
    cases F.lit handles, supports the bulk-insert idiom every client
    library uses — ``UNWIND $rows`` with a list of MAPS — by building
    struct literals: dict → struct (fields sorted, missing keys across
    a list of dicts null-filled with the type of the first non-null
    occurrence so the array elements share one schema); lists recurse.
    """
    if isinstance(v, dict):
        return F.struct(*[param_literal(v[k]).alias(k)
                          for k in sorted(v)])
    if isinstance(v, (list, tuple)):
        if any(isinstance(x, dict) for x in v):
            if not all(isinstance(x, dict) for x in v):
                raise CompileError(
                    "parameter lists may not mix maps and scalars")
            keys = sorted({k for d in v for k in d})
            types = {}
            for k in keys:
                for d in v:
                    if d.get(k) is not None:
                        types[k] = _PY_SQL_TYPES.get(type(d[k]))
                        break
            elems = []
            for d in v:
                fields = []
                for k in keys:
                    lit = param_literal(d.get(k))
                    if d.get(k) is None and types.get(k):
                        lit = lit.cast(types[k])
                    fields.append(lit.alias(k))
                elems.append(F.struct(*fields))
            return F.array(*elems)
        return F.array(*[param_literal(x) for x in v])
    return F.lit(v)


class ExprCompiler:
    def __init__(self, df: DataFrame | None,
                 variables: dict[str, VarInfo],
                 params: dict[str, object],
                 query_time_ms: int | None = None) -> None:
        self.df = df
        self.vars = variables
        self.params = params
        self.query_time_ms = query_time_ms or int(time.time() * 1000)
        self._probe_df = None
        # planner sets this False when no graph table has (or can merge
        # into) a variant union column — then every variant probe is a
        # free constant instead of a py4j round trip
        self.variants_possible = True
        # let-bound intermediate projections (temporal struct CSE):
        # composed temporal expressions re-reference their input struct
        # many times per operation, so nesting grows the Catalyst tree
        # multiplicatively (round-9 verdict: 10-33s analysis + a
        # whole-stage-codegen failure on fresh temporal plans). Binding
        # each intermediate to a named column keeps the tree linear in
        # the number of operations. Opt-in: only planner call sites
        # that flush the bindings onto the DataFrame enable it.
        self.let_bindings: list[tuple[str, Column]] = []
        self.allow_bindings = False
        self._no_hoist = 0  # >0 inside CASE branches (hoisting a
        #                      guarded error-raising branch would fire
        #                      it unconditionally)

    # ------------------------------------------------------------ type probe
    def dtype(self, col: Column) -> T.DataType:
        """Resolve a Column's type by analyzing it against an EMPTY
        DataFrame with the in-scope schema — the accumulated join plan
        is analyzed once (df.schema is cached by Spark); each probe then
        costs a one-node plan analysis instead of re-analyzing the whole
        query subtree. Probe frames are cached per schema across
        compiler instances (one createDataFrame is ~30ms of py4j — a
        5-query mutation script builds a compiler per clause)."""
        df = self.df
        if df is None:
            raise CompileError("no DataFrame in scope for type probing")
        if self._probe_df is None:
            key = df.schema.json()
            cached = _PROBE_DFS.get(key)
            if cached is None or cached[0] != \
                    df.sparkSession.sparkContext.applicationId:
                cached = (df.sparkSession.sparkContext.applicationId,
                          df.sparkSession.createDataFrame([], df.schema))
                _PROBE_DFS[key] = cached
                if len(_PROBE_DFS) > 256:
                    _PROBE_DFS.pop(next(iter(_PROBE_DFS)))
            self._probe_df = cached[1]
        return self._probe_df.select(col.alias("_t")).schema[0].dataType

    # ------------------------------------------------- let-bound CSE
    def bind_temporal(self, col: Column, dt: T.DataType | None = None
                      ) -> Column:
        """Alias a non-trivial temporal-struct subexpression as a named
        intermediate column (the planner flushes bindings as
        ``withColumn`` projections before the consuming select/filter).
        Catalyst then sees ONE attribute reference per use instead of a
        re-inlined subtree, so composed temporal expressions stay
        linear in plan size.  Returns ``col`` unchanged when bindings
        are unavailable (mutation compilers, lambda scopes, CASE
        branches) — the inline composition is always correct, just
        bigger."""
        if not self.allow_bindings or self._no_hoist or self.df is None:
            return col
        try:
            # plain refs / field accesses / small literals: aliasing
            # would only add projection noise
            if len(str(col)) < 160:
                return col
        except Exception:
            return col
        name = f"__tb{next(_BIND_SEQ)}"
        self.let_bindings.append((name, col))
        if dt is None:
            from .temporal_cols import TEMPORAL_TYPE
            dt = TEMPORAL_TYPE
        try:
            if self._probe_df is None:
                self.dtype(F.lit(0))  # initialize the probe frame
            self._probe_df = self._probe_df.withColumn(
                name, F.lit(None).cast(dt))
        except Exception:
            pass
        return F.col(name)

    def flush_bindings(self, df: DataFrame, barrier: bool = False
                       ) -> tuple[DataFrame, list[str]]:
        """Apply accumulated bindings as sequential projections
        (in-order: later bindings may reference earlier ones); returns
        the widened frame and the binding column names so the caller
        can drop them after its select/filter.

        ``barrier=True`` wraps each binding in a nondeterministic
        identity (``CASE WHEN rand()+1 > 0 THEN col END``) — required
        when the consumer is a FILTER: ``PushPredicateThroughNonJoin``
        substitutes deterministic project aliases back into the pushed
        condition (re-inflating the expression tree multiplicatively),
        but refuses to push through a projection with any
        nondeterministic field.  Project/Aggregate consumers don't
        need it (``CollapseProject`` is reference-count-aware)."""
        names: list[str] = []
        for name, col in self.let_bindings:
            if barrier:
                col = F.when((F.rand() + F.lit(1.0)) > F.lit(0.0), col)
            df = df.withColumn(name, col)
            names.append(name)
        self.let_bindings = []
        return df, names

    def static_dtype(self, e) -> "T.DataType | object":
        """Plan-time type of a literal/parameter AST node without a JVM
        probe; ``_UNSET`` = unknown (caller falls back to probing)."""
        if isinstance(e, A.Literal):
            return _py_dtype(type(e.value))
        if isinstance(e, A.Parameter) and e.name in self.params:
            return _py_dtype(self.params.type_of(e.name))
        return _UNSET

    def _static_is_string(self, e) -> bool:
        """AST-level proof that an expression is string-typed — used
        where the JVM type probe cannot run (lambda scopes)."""
        if isinstance(e, A.Literal):
            return isinstance(e.value, str)
        if isinstance(e, A.Parameter):
            return issubclass(self.params.type_of(e.name), str)
        if isinstance(e, A.Binary) and e.op == "+":
            return self._static_is_string(e.left) \
                or self._static_is_string(e.right)
        if isinstance(e, A.FuncCall) and e.name in (
                "tostring", "toupper", "tolower", "trim", "ltrim",
                "rtrim", "substring", "replace", "leftpad"):
            return True
        return False

    def _static_is_numeric(self, e) -> bool:
        """AST-level proof that an expression is numeric-typed (or
        null). Used to elide string-parse fallback branches from
        numeric conversions — ``toInteger(round(x))`` must not pay a
        second ``try_cast`` per row for a string case that cannot
        occur. Conservative: anything unproven returns False."""
        if isinstance(e, A.Literal):
            return isinstance(e.value, (int, float)) \
                and not isinstance(e.value, bool)
        if isinstance(e, A.Parameter):
            t = self.params.type_of(e.name)
            return issubclass(t, (int, float)) and t is not bool
        if isinstance(e, A.FuncCall) and e.name in (
                "round", "floor", "ceil", "abs", "sign",
                "tofloat", "tointeger", "size", "length", "id",
                "timestamp", "tofloatornull", "tointegerornull"):
            return True
        if isinstance(e, A.Binary) and e.op in ("-", "*", "/", "%", "^"):
            # '+' excluded: it doubles as string/list concatenation
            return self._static_is_numeric(e.left) \
                and self._static_is_numeric(e.right)
        if isinstance(e, A.Unary) and e.op == "-":
            return self._static_is_numeric(e.operand)
        return False

    def _is_string(self, col: Column) -> bool:
        try:
            return isinstance(self.dtype(col), T.StringType)
        except Exception:
            return False

    def _dtype_or_none(self, col: Column) -> "T.DataType | None":
        """dtype probe that degrades to None instead of raising (lambda
        scopes) — lets a call site probe an operand ONCE and derive
        every class check from the result instead of paying one JVM
        analysis per helper (`_is_array` + `_is_string` on both sides
        of a '+' was up to 6 analyses per node)."""
        try:
            return self.dtype(col)
        except Exception:
            return None

    _ARITH_MISMATCH = ("str", "bool", "array", "map", "temporal",
                       "tstruct")

    def _numeric_operand(self, node, col: Column, op: str,
                         need_width: bool) -> tuple:
        """Resolve one arithmetic operand's type with at most ONE JVM
        probe (guide §1.2 step 2: the old path probed each side up to
        twice per '/' node — class mismatch check, then integer-ness —
        and re-probed subtrees the temporal trial had already probed;
        measured 43 probes / 11 unique on q_two_hop_revenue's fresh
        build). Constant operands resolve from their plan-time Python
        value, statically-provable numerics skip the probe when only
        the class is needed.

        Returns (dt, probe_failed): ``dt`` None = unknown;
        ``probe_failed`` True preserves the old "un-probe-able →
        integer rules" default for '/' and '%'. Raises the same
        CompileError as the old per-side check for a known
        non-numeric class."""
        from ..functions import temporal_kernel as TK

        def _mismatch():
            raise CompileError(
                f"Type mismatch: expected Integer or Float as "
                f"operand of '{op}'")

        if isinstance(node, A.Parameter) and node.name in self.params:
            t = self.params.type_of(node.name)
        else:
            try:
                t = type(self.const_eval(node))
            except Exception:
                t = None
        if t is not None:
            if t is type(None):
                return T.NullType(), False
            if issubclass(t, (bool, str, list, tuple, dict)
                          + TK.TEMPORAL_CLASSES):
                _mismatch()
            if issubclass(t, int):
                return T.LongType(), False
            if issubclass(t, float):
                return T.DoubleType(), False
            # unexpected constant type — fall through to the probe
        elif self._static_is_numeric(node) and not need_width:
            return None, False      # provably numeric; width unneeded
        try:
            dt = self.dtype(col)
        except Exception:
            return None, True
        if self._class_of_dt(dt) in self._ARITH_MISMATCH:
            _mismatch()
        return dt, False

    def _is_array(self, col: Column) -> bool:
        try:
            return isinstance(self.dtype(col), T.ArrayType)
        except Exception:
            return False

    def _static_cmp_dt(self, node):
        """Plan-time DataType of a SCALAR-constant comparison operand
        (null literal → NullType); ``_UNSET`` when unknown — non-scalar
        constants (lists/maps/temporals) keep the probe, whose
        element/struct types the typed-equality paths need."""
        if isinstance(node, A.Parameter):
            return self.static_dtype(node)
        try:
            v = self.const_eval(node)
        except Exception:
            return _UNSET
        return _py_dtype(type(v))

    @staticmethod
    def _variant_of_dt(dt) -> bool:
        """is_variant_type over a statically-known DataType (no probe)."""
        from .variant import is_variant_type
        try:
            return is_variant_type(dt)
        except Exception:
            return False

    def _is_variant(self, col: Column) -> bool:
        """Column is a per-value variant union struct (planner/variant.py
        — heterogeneous property types, SURVEY §7.3)."""
        if not self.variants_possible \
                and not getattr(self, "_made_variant", False):
            return False
        from .variant import is_variant_type
        try:
            return is_variant_type(self.dtype(col))
        except Exception:
            return False

    def _is_temporal(self, col: Column) -> bool:
        """Column is a temporal struct (planner/temporal_cols.py)."""
        from .temporal_cols import is_temporal_type
        try:
            return is_temporal_type(self.dtype(col))
        except Exception:
            return False

    # -------------------------------------------------------------- dispatch
    def compile(self, e: A.Expr) -> Column:
        m = getattr(self, "_c_" + type(e).__name__, None)
        if m is None:
            raise CompileError(f"Unsupported expression {type(e).__name__}")
        return m(e)

    # -------------------------------------------------- temporal const-fold
    def const_eval(self, e: A.Expr):
        """Plan-time evaluation of a constant (sub)expression into a
        Python value — the temporal constant-folding engine.  Temporal
        constructors/arithmetic/truncation over literals, parameters,
        and const-propagated WITH aliases evaluate exactly (nanosecond
        precision, full zone database) in the Python kernel; the
        result compiles to ONE struct literal, so the executed plan
        carries no per-row work at all.  Raises _NotConst when any
        input is a genuine per-row column (the columnar fallback in
        temporal_cols.py takes over)."""
        from ..functions import temporal_kernel as TK
        if isinstance(e, A.Literal):
            return e.value
        if isinstance(e, A.Parameter):
            if e.name in self.params:
                v = self.params[e.name]
                if isinstance(v, (type(None), bool, int, float, str,
                                  dict, list, tuple)) \
                        or isinstance(v, TK.TEMPORAL_CLASSES):
                    return v
            raise _NotConst
        if isinstance(e, A.ListLiteral):
            return [self.const_eval(x) for x in e.items]
        if isinstance(e, A.MapLiteral):
            return {k: self.const_eval(v) for k, v in e.items}
        if isinstance(e, A.Variable):
            info = self.vars.get(e.name)
            cv = getattr(info, "const_value", None)
            if cv is not None:
                return cv
            raise _NotConst
        if isinstance(e, A.Property):
            v = self.const_eval(e.subject)
            if isinstance(v, TK.TEMPORAL_CLASSES):
                return TK.get_component(v, e.key)
            if isinstance(v, dict):
                return v.get(e.key)
            raise _NotConst
        if isinstance(e, A.FuncCall):
            return self._const_call(e)
        if isinstance(e, A.Unary) and e.op == "-":
            v = self.const_eval(e.operand)
            if isinstance(v, TK.KDuration):
                return TK.dur_neg(v)
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                return -v
            raise _NotConst
        if isinstance(e, A.Binary):
            return self._const_binary(e)
        raise _NotConst

    def _const_call(self, e: A.FuncCall):
        from ..functions import temporal_kernel as TK
        name = e.name
        if name in _TEMPORAL_CLOCKS or \
                (name in _TEMPORAL_CTORS and not e.args):
            kind = name.split(".", 1)[0]
            args = [self.const_eval(a) for a in e.args]
            if args and args[0] is None:
                return None
            return TK.now_value(kind, self.query_time_ms,
                                args[0] if args else None)
        if name in _TEMPORAL_CTORS:
            args = [self.const_eval(a) for a in e.args]
            if args[0] is None:
                return None
            return TK.construct(name, args[0])
        if name in _TEMPORAL_TRUNCATES:
            kind = name.split(".", 1)[0]
            if len(e.args) < 2:
                raise CompileError(
                    f"{name}() expects (unit, temporal[, components])")
            args = [self.const_eval(a) for a in e.args]
            if args[0] is None or args[1] is None:
                return None
            if not isinstance(args[0], str):
                raise TK.TemporalError(
                    f"{name}() unit must be a string")
            if not isinstance(args[1], TK.TEMPORAL_CLASSES):
                raise TK.TemporalError(
                    f"{name}() expects a temporal value")
            ov = args[2] if len(e.args) > 2 else None
            return TK.truncate(kind, args[0], args[1], ov)
        if name in _TEMPORAL_BETWEENS:
            mode = {"duration.between": None,
                    "duration.inmonths": "months",
                    "duration.indays": "days",
                    "duration.inseconds": "seconds"}[name]
            args = [self.const_eval(a) for a in e.args]
            if len(args) != 2:
                raise CompileError(f"{name}() expects two temporal "
                                   f"values")
            if args[0] is None or args[1] is None:
                return None
            return TK.duration_between(args[0], args[1], mode)
        if name in ("datetime.fromepoch", "datetime.fromepochmillis"):
            args = [self.const_eval(a) for a in e.args]
            if any(a is None for a in args):
                return None
            if name.endswith("millis"):
                return TK.datetime_from_map({"epochMillis": args[0]})
            mp = {"epochSeconds": args[0]}
            if len(args) > 1:
                mp["nanosecond"] = args[1]
            return TK.datetime_from_map(mp)
        if name == "tostring" and len(e.args) == 1:
            v = self.const_eval(e.args[0])
            if isinstance(v, TK.TEMPORAL_CLASSES):
                return str(v)
            raise _NotConst
        raise _NotConst

    def _const_binary(self, e: A.Binary):
        from ..functions import temporal_kernel as TK
        op = e.op
        if op not in ("+", "-", "*", "/"):
            raise _NotConst
        lv = self.const_eval(e.left)
        rv = self.const_eval(e.right)
        l_t = isinstance(lv, TK.TEMPORAL_CLASSES)
        r_t = isinstance(rv, TK.TEMPORAL_CLASSES)
        if not (l_t or r_t):
            raise _NotConst          # plain arithmetic: Catalyst folds it
        if lv is None or rv is None:
            return None
        l_dur = isinstance(lv, TK.KDuration)
        r_dur = isinstance(rv, TK.KDuration)
        if op == "+":
            if l_dur and r_dur:
                return TK.dur_add(lv, rv)
            if l_t and r_dur:
                return TK.add_duration(lv, rv)
            if r_t and l_dur:
                return TK.add_duration(rv, lv)
            raise TK.TemporalError(
                "Type mismatch: cannot add these temporal values")
        if op == "-":
            if l_dur and r_dur:
                return TK.dur_add(lv, rv, -1)
            if l_t and r_dur:
                return TK.add_duration(lv, rv, -1)
            raise TK.TemporalError(
                "Type mismatch: cannot subtract these values "
                "(use duration.between for instant differences)")
        if op == "*":
            if l_dur and isinstance(rv, (int, float)):
                return TK.dur_scale(lv, rv)
            if r_dur and isinstance(lv, (int, float)):
                return TK.dur_scale(rv, lv)
            raise TK.TemporalError(
                "Type mismatch: a duration can only be multiplied by "
                "a number")
        if l_dur and isinstance(rv, (int, float)):
            return TK.dur_divide(lv, rv)
        raise TK.TemporalError(
            "Type mismatch: a duration can only be divided by a number")

    def _temporal_binary(self, e: A.Binary) -> Column:
        """Columnar temporal arithmetic (raises _NotConst when neither
        operand is actually a temporal struct column)."""
        from ..functions import temporal_kernel as TK
        from . import temporal_cols as TC
        # whole-subtree constant fold first: literal temporal
        # arithmetic becomes ONE struct literal through the kernel
        # (exact zone-database semantics), never a when-cascade
        try:
            v = self._const_binary(e)
            if v is None:
                return F.lit(None).cast(TC.TEMPORAL_TYPE)
            if isinstance(v, TK.TEMPORAL_CLASSES):
                return TC.temporal_lit(v)
            return F.lit(v)
        except _NotConst:
            pass
        except TK.TemporalError as ex:
            raise CompileError(str(ex))
        op = e.op
        # one-side-constant fast paths: when an operand const-folds to
        # a kernel duration, the runtime tag dispatch (and its second
        # full add_duration tree) is unnecessary — and a native DATE
        # column ± a literal duration compiles to add_months/date_add
        # directly (plan stays in a handful of Catalyst nodes)
        lv = rv = None
        try:
            lv = self.const_eval(e.left)
        except Exception:
            lv = None
        try:
            rv = self.const_eval(e.right)
        except Exception:
            rv = None
        if op in ("+", "-") and isinstance(rv, TK.KDuration):
            sign = 1 if op == "+" else -1
            native = self._native_date_plus_dur(e.left, rv, sign)
            if native is not None:
                return native
            l = self.compile(e.left)
            if self._is_temporal(l):
                return TC.add_duration(self.bind_temporal(l),
                                       TC.temporal_lit(rv), sign)
        if op == "+" and isinstance(lv, TK.KDuration):
            native = self._native_date_plus_dur(e.right, lv, 1)
            if native is not None:
                return native
            r = self.compile(e.right)
            if self._is_temporal(r):
                return TC.add_duration(self.bind_temporal(r),
                                       TC.temporal_lit(lv))
        l = self.compile(e.left)
        r = self.compile(e.right)
        # a statically-numeric side can't be a temporal struct — skip
        # its JVM type probe (fresh-plan probe dedup, guide §1.2)
        l_ts = (not self._static_is_numeric(e.left)) \
            and self._is_temporal(l)
        r_ts = (not self._static_is_numeric(e.right)) \
            and self._is_temporal(r)
        if not (l_ts or r_ts):
            raise _NotConst
        if l_ts:
            l = self.bind_temporal(l)
        if r_ts:
            r = self.bind_temporal(r)
        null_out = F.lit(None).cast(TC.TEMPORAL_TYPE)
        if op == "+":
            if l_ts and r_ts:
                # temporal + duration / duration + temporal / dur + dur
                return F.when(TC.is_duration(r),
                              TC.add_duration(l, r)) \
                    .when(TC.is_duration(l), TC.add_duration(r, l)) \
                    .otherwise(null_out)
            raise CompileError(
                "Type mismatch: can only add a duration to a temporal "
                "value")
        if op == "-":
            if l_ts and r_ts:
                # non-duration right operand is an error at runtime,
                # matching the constant-folded path's compile error
                # (silent-null vs error must not depend on whether the
                # operands are literals)
                return F.when(l.isNull() | r.isNull(), null_out) \
                    .when(TC.is_duration(r),
                          TC.add_duration(l, r, -1)) \
                    .otherwise(F.raise_error(F.lit(
                        "Type mismatch: cannot subtract these values "
                        "(use duration.between for instant "
                        "differences)")).cast(TC.TEMPORAL_TYPE))
            raise CompileError(
                "Type mismatch: can only subtract a duration from a "
                "temporal value")
        if op == "*":
            dur, num = (l, r) if l_ts else (r, l)
            if l_ts and r_ts:
                raise CompileError(
                    "Type mismatch: a duration can only be multiplied "
                    "by a number")
            return F.when(TC.is_duration(dur),
                          TC.dur_scale(dur, num)).otherwise(null_out)
        if op == "/":
            if not l_ts or r_ts:
                raise CompileError(
                    "Type mismatch: a duration can only be divided by "
                    "a number")
            return F.when(TC.is_duration(l),
                          TC.dur_scale(l, r, divide=True)) \
                .otherwise(null_out)
        raise _NotConst

    def _native_date_plus_dur(self, node, dur, sign: int
                              ) -> "Column | None":
        """``date(<native DATE/TIMESTAMP column>) ± <literal duration>``
        → ``add_months``/``date_add`` directly on the native column
        (typed fast path: a handful of Catalyst nodes instead of the
        generic packed-struct arithmetic).  The duration's sub-day
        nanos contribute whole days truncated toward zero, exactly like
        ``add_duration``'s date branch.  None = shape doesn't match."""
        from ..functions import temporal_kernel as TK
        from . import temporal_cols as TC
        if not (isinstance(node, A.FuncCall) and node.name == "date"
                and len(node.args) == 1):
            return None
        try:
            col = self.compile(node.args[0])
            dt = self.dtype(col)
        except Exception:
            return None
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            col = F.to_date(col)
        elif not isinstance(dt, T.DateType):
            return None
        months = sign * dur.months
        nn = sign * dur.nanos
        days = sign * dur.days \
            + (abs(nn) // TK.NS_PER_DAY) * (1 if nn >= 0 else -1)
        out = col
        if months:
            out = F.add_months(out, months)
        if days:
            out = F.date_add(out, days)
        return TC.from_native(out, T.DateType())

    def _as_native_date(self, node) -> "Column | None":
        """AST shape that compiles to a native DATE column: the date()
        ctor over a native date/timestamp column, or a constant date.
        None when the shape doesn't match (caller uses the generic
        packed-struct path)."""
        from ..functions import temporal_kernel as TK
        try:
            v = self.const_eval(node)
        except Exception:
            v = None
        if isinstance(v, TK.KDate):
            return F.lit(_pydt.date(1970, 1, 1)
                         + _pydt.timedelta(days=v.days))
        if isinstance(node, A.FuncCall) and node.name == "date" \
                and len(node.args) == 1:
            try:
                col = self.compile(node.args[0])
                dt = self.dtype(col)
            except Exception:
                return None
            if isinstance(dt, T.DateType):
                return col
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                return F.to_date(col)
        return None

    def _temporal_call(self, e: A.FuncCall) -> Column:
        """Compile one of the temporal functions: constant-fold when
        possible, else the columnar fallback."""
        from ..functions import temporal_kernel as TK
        from . import temporal_cols as TC
        name = e.name
        try:
            v = self._const_call(e)
            if v is None:
                return F.lit(None).cast(TC.TEMPORAL_TYPE)
            if isinstance(v, TK.TEMPORAL_CLASSES):
                return TC.temporal_lit(v)
            return F.lit(v)
        except _NotConst:
            pass
        except TK.TemporalError as ex:
            raise CompileError(str(ex))
        # ---- columnar fallbacks (non-constant arguments) ----
        if name in _TEMPORAL_CTORS:
            if len(e.args) != 1:
                raise CompileError(
                    f"{name}() with non-constant arguments expects "
                    f"exactly one argument")
            col = self.compile(e.args[0])
            if self._is_temporal(col):
                return self._temporal_convert_col(
                    name, self.bind_temporal(col))
            try:
                dt = self.dtype(col)
            except Exception:
                dt = None
            if isinstance(dt, T.NullType):
                return F.lit(None).cast(TC.TEMPORAL_TYPE)
            if isinstance(dt, T.StringType):
                return self._temporal_parse_col(
                    name, self.bind_temporal(col, dt))
            if isinstance(dt, (T.DateType, T.TimestampType,
                               T.TimestampNTZType)):
                # native parquet date/timestamp column → temporal
                # struct (pure column arithmetic, stays in codegen).
                # Typed fast paths (r10): the ctor's kind is already
                # what from_native produces, so the runtime tag
                # dispatch of _temporal_convert_col is redundant
                if name == "date":
                    d = col if isinstance(dt, T.DateType) \
                        else F.to_date(col)
                    return TC.from_native(self.bind_temporal(
                        d, T.DateType()), T.DateType())
                if name == "localdatetime" and not isinstance(
                        dt, T.DateType):
                    return TC.from_native(
                        self.bind_temporal(col, dt), dt)
                return self._temporal_convert_col(
                    name, self.bind_temporal(
                        TC.from_native(self.bind_temporal(col, dt),
                                       dt)))
            raise CompileError(
                f"{name}() over a non-constant argument of this type "
                f"is not supported — store temporal values, not "
                f"component maps")
        if name in _TEMPORAL_TRUNCATES and len(e.args) >= 2:
            # constant unit/overrides but a per-row temporal value
            try:
                unit = self.const_eval(e.args[0])
                ov = self.const_eval(e.args[2]) if len(e.args) > 2 \
                    else None
            except _NotConst:
                raise CompileError(
                    f"{name}() unit and components must be constants")
            col = self.compile(e.args[1])
            if not self._is_temporal(col):
                raise CompileError(f"{name}() expects a temporal value")
            if ov:
                raise CompileError(
                    f"{name}() with component overrides requires a "
                    f"constant temporal value")
            kind = name.split(".", 1)[0]
            return TC.truncate_col(kind, str(unit),
                                   self.bind_temporal(col))
        if name in _TEMPORAL_BETWEENS and len(e.args) == 2:
            mode = {"duration.between": None,
                    "duration.inmonths": "months",
                    "duration.indays": "days",
                    "duration.inseconds": "seconds"}[name]
            if mode == "days":
                # typed fast path: both operands are native DATE
                # columns (date(parquet_col) / constant dates) — whole
                # days between pure dates IS datediff, no packed-struct
                # guess-and-adjust machinery needed
                la = self._as_native_date(e.args[0])
                rb = self._as_native_date(e.args[1])
                if la is not None and rb is not None:
                    la = self.bind_temporal(la, T.DateType())
                    rb = self.bind_temporal(rb, T.DateType())
                    zero = F.lit(0)
                    out = TC.pack(
                        F.lit(TK.TT_DURATION),
                        F.datediff(rb, la).cast("long"), zero, zero,
                        F.lit(None).cast("int"),
                        F.lit(None).cast("string"))
                    return F.when(la.isNull() | rb.isNull(),
                                  F.lit(None).cast(TC.TEMPORAL_TYPE)) \
                        .otherwise(out)
            l = self.compile(e.args[0])
            r = self.compile(e.args[1])
            if not (self._is_temporal(l) and self._is_temporal(r)):
                raise CompileError(
                    f"{name}() expects two temporal values")
            return TC.between_col(
                self.bind_temporal(l), self.bind_temporal(r), mode,
                binder=lambda c, dts: self.bind_temporal(
                    c, T.LongType()))
        if name == "datetime.fromepoch":
            sec = self.compile(e.args[0]).cast("long")
            ns = self.compile(e.args[1]).cast("long") if len(e.args) > 1 \
                else F.lit(0)
            return TC.from_epoch_col(sec, ns)
        if name == "datetime.fromepochmillis":
            ms = self.compile(e.args[0]).cast("long")
            return TC.from_epoch_col(F.floor(ms / 1000).cast("long"),
                                     F.pmod(ms, F.lit(1000)) * 1_000_000)
        raise CompileError(f"Unknown temporal function {name}()")

    @staticmethod
    def _temporal_convert_col(kind: str, col: Column) -> Column:
        """date(x) / localtime(x) / … over a temporal struct column —
        runtime-tag-dispatched projection (Temporal3 [1]-[5])."""
        from ..functions import temporal_kernel as TK
        from . import temporal_cols as TC
        tt = col.getField("_tt")
        days, nanos = col.getField("_days"), col.getField("_nanos")
        offset, zone = col.getField("_offset"), col.getField("_zone")
        zero = F.lit(0)
        inull = F.lit(None).cast("int")
        snull = F.lit(None).cast("string")
        null_out = F.lit(None).cast(TC.TEMPORAL_TYPE)
        has_date = tt.isin(TK.TT_DATE, TK.TT_LOCALDATETIME,
                           TK.TT_DATETIME)
        has_time = tt.isin(TK.TT_LOCALTIME, TK.TT_TIME,
                           TK.TT_LOCALDATETIME, TK.TT_DATETIME)
        if kind == "date":
            out = TC.pack(F.lit(TK.TT_DATE), days, zero, zero, inull,
                          snull)
            return F.when(col.isNull() | ~has_date, null_out) \
                .otherwise(out)
        if kind == "localtime":
            out = TC.pack(F.lit(TK.TT_LOCALTIME), zero, nanos, zero,
                          inull, snull)
            return F.when(col.isNull() | ~has_time, null_out) \
                .otherwise(out)
        if kind == "time":
            out = TC.pack(F.lit(TK.TT_TIME), zero, nanos, zero,
                          F.coalesce(offset, F.lit(0)), snull)
            return F.when(col.isNull() | ~has_time, null_out) \
                .otherwise(out)
        if kind == "localdatetime":
            ok = tt.isin(TK.TT_LOCALDATETIME, TK.TT_DATETIME)
            out = TC.pack(F.lit(TK.TT_LOCALDATETIME), days, nanos, zero,
                          inull, snull)
            return F.when(col.isNull() | ~ok, null_out).otherwise(out)
        if kind == "datetime":
            out = F.when(tt == TK.TT_DATETIME, col).otherwise(
                TC.pack(F.lit(TK.TT_DATETIME), days, nanos, zero,
                        F.coalesce(offset, F.lit(0)), snull))
            ok = tt.isin(TK.TT_LOCALDATETIME, TK.TT_DATETIME)
            return F.when(col.isNull() | ~ok, null_out).otherwise(out)
        # duration(x)
        return F.when(col.isNull() | (tt != TK.TT_DURATION),
                      F.lit(None).cast(TC.TEMPORAL_TYPE)) \
            .otherwise(col)

    @staticmethod
    def _temporal_parse_col(kind: str, col: Column) -> Column:
        """Constructor over a per-row STRING column — full-ISO forms
        only (the truncated/exotic forms are literal territory and
        constant-fold through the kernel)."""
        from ..functions import temporal_kernel as TK
        from . import temporal_cols as TC
        if kind == "date":
            d = F.to_date(col, "yyyy-MM-dd")
            return F.when(col.isNull(),
                          F.lit(None).cast(TC.TEMPORAL_TYPE)) \
                .otherwise(TC.pack(
                    F.lit(TK.TT_DATE),
                    F.datediff(d, F.lit("1970-01-01")).cast("long"),
                    F.lit(0), F.lit(0), F.lit(None).cast("int"),
                    F.lit(None).cast("string")))
        raise CompileError(
            f"{kind}() over a non-constant string column is not "
            f"supported (store temporal values instead)")

    # ---------------------------------------------------------------- leaves
    def _c_Literal(self, e: A.Literal) -> Column:
        if e.value is None:
            return F.lit(None)
        return F.lit(e.value)

    def _c_Parameter(self, e: A.Parameter) -> Column:
        if e.name not in self.params:
            raise CompileError(f"Missing parameter ${e.name}")
        return param_literal(self.params.literal(e.name))

    def _c_Variable(self, e: A.Variable) -> Column:
        if e.name not in self.vars:
            raise CompileError(f"Unknown variable `{e.name}`")
        if self.vars[e.name].kind == "symlist":
            raise CompileError(
                f"`{e.name}` is a heterogeneous struct/scalar list; "
                "only constant-index access is supported")
        return F.col(e.name)

    def _c_ListLiteral(self, e: A.ListLiteral) -> Column:
        cols = [self.compile(x) for x in e.items]
        # mixed scalar-type literal lists (reference lists are
        # heterogeneous, SIArray holds any SIValue) can't be a plain
        # Spark array — Spark coerces to one type and ANSI-fails;
        # encode them as a variant array payload instead
        def scalar_cat(x):
            if not isinstance(x, A.Literal):
                return "?"
            if x.value is None:
                return None       # null literal: joins any category
            if isinstance(x.value, bool):
                return "b"
            if isinstance(x.value, (int, float)):
                return "n"
            if isinstance(x.value, str):
                return "s"
            return "?"

        cats = []
        inner_union: set = set()
        inner_mixed = False
        for x in e.items:
            if isinstance(x, A.ListLiteral):
                # nested list of scalar literals: encodable one level
                # deep as an array payload element
                inner = {scalar_cat(y) for y in x.items}
                cats.append("a" if "?" not in inner else "?")
                inner_known = {c for c in inner if c}
                inner_union |= inner_known
                if len(inner_known) > 1:
                    inner_mixed = True
            else:
                cats.append(scalar_cat(x))
        known = {c for c in cats if c in ("b", "n", "s", "a")}
        # variant-encode when the top level mixes categories, OR when
        # every item is a list but their element types differ (a plain
        # array<array<T>> has no single T — openCypher
        # ReturnOrderBy1[9]: [[], ['a'], ['a', 1], [1], [1, null]])
        if "?" not in cats and (
                len(known) > 1
                or (known == {"a"}
                    and (inner_mixed or len(inner_union) > 1))):
            from . import variant as V
            dts = {"b": T.BooleanType(), "n": None, "s": T.StringType()}
            elems = []
            for x, c, cat in zip(e.items, cols, cats):
                if cat == "a":
                    try:
                        adt = self.dtype(c)
                    except Exception:
                        adt = None
                    if V.is_variant_type(adt):
                        # nested heterogeneous list compiled to a
                        # variant: take its MID form
                        elems.append(V.elem_of(c))
                    else:
                        elems.append(V._mid_encode(
                            c, adt if isinstance(adt, T.ArrayType)
                            else T.ArrayType(T.StringType())))
                    continue
                if cat == "n":
                    dt = T.DoubleType() if isinstance(x.value, float) \
                        else T.LongType()
                else:
                    dt = dts.get(cat) or T.NullType()
                elems.append(V._mid_encode(c, dt))
            # downstream variant checks must fire even on graphs with no
            # variant table columns (variants_possible False) — including
            # in LATER clauses' compilers (UNWIND/WITH pipelines)
            self._made_variant = True
            p = getattr(self, "_planner", None)
            if p is not None:
                p._variant_made = True
            return V._pack(V.TAG_ARRAY, a=F.array(*elems))
        # [n, r, m] / [{a: 1}, {b: 2}] — structs of different schemas
        # (entities, map literals) normalize to one field-union element
        # type
        if e.items and all(
                (isinstance(x, A.Variable) and x.name in self.vars
                 and self.vars[x.name].kind in ("node", "edge"))
                or isinstance(x, A.MapLiteral)
                for x in e.items):
            try:
                dts = [self.dtype(c) for c in cols]
            except Exception:
                dts = None
            if dts and len({d.simpleString() for d in dts}) > 1:
                union: dict[str, T.DataType] = {}
                for d in dts:
                    for f in d.fields:
                        union.setdefault(f.name, f.dataType)
                norm = []
                for c, d in zip(cols, dts):
                    have = {f.name: f.dataType for f in d.fields}
                    parts = []
                    for fn, ft in union.items():
                        if fn in have:
                            cc = c.getField(fn)
                            if have[fn] != ft:
                                cc = cc.cast(ft)
                            parts.append(cc.alias(fn))
                        else:
                            parts.append(
                                F.lit(None).cast(ft).alias(fn))
                    norm.append(F.struct(*parts))
                return F.array(*norm)
        return F.array(*cols)

    def _c_MapLiteral(self, e: A.MapLiteral) -> Column:
        parts = [self.compile(v).alias(k) for k, v in e.items]
        if any(isinstance(v, A.Literal) and v.value is None
               for _, v in e.items):
            # literal maps KEEP null values ({k: null} renders with the
            # key — unlike property maps, which omit absent keys);
            # marker field tells the result decoder which rule applies,
            # and is stripped at the final RETURN surface
            parts.append(F.lit(True).alias("__maplit"))
        return F.struct(*parts)

    # ------------------------------------------------------------- accessors
    def _c_Property(self, e: A.Property) -> Column:
        if isinstance(e.subject, A.Variable) and e.subject.name in self.vars:
            info = self.vars[e.subject.name]
            if info.kind == "path":
                # property access on a PATH is a type error
                # (openCypher MatchWhere1[14] InvalidArgumentType)
                raise CompileError(
                    f"Type mismatch: `{e.subject.name}` is a path — "
                    f"expected a node, relationship, or map")
            if info.kind in ("node", "edge"):
                if e.key in info.fields:
                    return F.col(e.subject.name).getField(e.key)
                # missing property → null (schemaless semantics,
                # src/graph/entities/graph_entity.h:48-58)
                return F.lit(None)
        subject = self.compile(e.subject)
        try:
            dt = self.dtype(subject)
        except Exception:  # unprobe-able (e.g. lambda var) → plain access
            dt = None
        from .temporal_cols import component, is_temporal_type
        if dt is not None and is_temporal_type(dt):
            c = component(self.bind_temporal(subject), e.key)
            if c is None:
                raise CompileError(
                    f"unknown temporal component: {e.key}")
            return c
        if isinstance(dt, T.StructType) and e.key not in dt.fieldNames():
            return F.lit(None)  # missing map key → null (schemaless)
        if isinstance(dt, T.MapType):
            return F.try_element_at(subject, F.lit(e.key))
        return subject.getField(e.key)

    def _c_Subscript(self, e: A.Subscript) -> Column:
        if isinstance(e.subject, A.ListLiteral) \
                and isinstance(e.index, A.Literal) \
                and isinstance(e.index.value, int) \
                and not isinstance(e.index.value, bool):
            # static index into a literal list: compile the selected item
            # directly (works for heterogeneous literals too)
            i = e.index.value
            items = e.subject.items
            if -len(items) <= i < len(items):
                return self.compile(items[i])
            return F.lit(None)
        if isinstance(e.subject, A.Variable) \
                and e.subject.name in self.vars \
                and self.vars[e.subject.name].kind == "symlist":
            # symbolically-bound heterogeneous list (planner projected
            # each item as a hidden column): constant index → column
            info = self.vars[e.subject.name]
            names = getattr(info, "sym_names", ())
            if isinstance(e.index, A.Literal) \
                    and isinstance(e.index.value, int) \
                    and not isinstance(e.index.value, bool):
                i = e.index.value
                if -len(names) <= i < len(names):
                    name = names[i]
                    return self._c_Variable(A.Variable(name))
                return F.lit(None)
            raise CompileError(
                f"`{e.subject.name}` is a heterogeneous struct/scalar "
                "list; only constant-index access is supported")
        if isinstance(e.subject, A.Variable) \
                and e.subject.name in self.vars \
                and self.vars[e.subject.name].kind in ("node", "edge"):
            # n['name'] — dynamic property access on an entity
            # (cmd_query GRAPH7; same dispatch as property())
            return self._fn_property(
                A.FuncCall("property", [e.subject, e.index]))
        if isinstance(e.index, A.Literal) and (
                isinstance(e.index.value, bool)
                or isinstance(e.index.value, (float,))):
            # list[1.5] / list[true] — ListElementAccessByNonInteger
            raise CompileError(
                "list index must be an integer, not "
                f"{type(e.index.value).__name__}")
        if isinstance(e.subject, A.FuncCall) \
                and e.subject.name == "labels" \
                and isinstance(e.index, A.Literal) \
                and isinstance(e.index.value, int) \
                and not isinstance(e.index.value, bool):
            # labels(n)[0] on a single-label node is just the label
            # field. Besides being cheaper, this avoids Spark's
            # try_element_at-over-inline-array codegen bug (the
            # generated CASE references an undeclared isNull variable,
            # Janino rejects it, and the stage silently runs
            # interpreted).
            ent = self.compile(e.subject.args[0])
            try:
                dt = self.dtype(ent)
            except Exception:
                dt = None
            if isinstance(dt, T.StructType) \
                    and "_labels" not in dt.fieldNames() \
                    and "_label" in dt.fieldNames():
                if e.index.value in (0, -1):
                    return ent.getField("_label")
                return F.lit(None).cast("string")
        subject = self.compile(e.subject)
        idx = self.compile(e.index)
        if _could_be_variant(e.subject) and self._is_variant(subject):
            # variant array payload: subscript into _a, result widens
            # back to a variant scalar
            from .variant import arr_view, elem_to_variant
            arr = arr_view(subject)
            elem = F.when(idx >= 0,
                          F.try_element_at(arr, (idx + 1).cast("int"))) \
                    .otherwise(F.try_element_at(arr, idx.cast("int")))
            return elem_to_variant(elem)
        if self._is_array(subject):
            try:
                idt = self.dtype(idx)
            except Exception:
                idt = None
            if isinstance(idt, (T.DoubleType, T.FloatType, T.DecimalType,
                                T.BooleanType, T.StringType)):
                raise CompileError(
                    "list index must be an integer, not "
                    f"{idt.simpleString()}")
            # Cypher is 0-based with negative wrap; element_at is 1-based
            # with negative-from-end. Out-of-bounds → null (Cypher), so
            # try_element_at, not the ANSI-throwing element_at.
            if isinstance(e.index, A.Literal) \
                    and isinstance(e.index.value, int) \
                    and not isinstance(e.index.value, bool):
                # constant index: pick the branch statically — cheaper,
                # and the CASE-around-CASE shape this avoids makes
                # Janino reject the generated code ("isNull_N is not an
                # rvalue") for expressions like labels(x)[0], silently
                # dropping the whole stage to interpreted mode
                i = e.index.value
                return F.try_element_at(
                    subject, F.lit(i + 1 if i >= 0 else i).cast("int"))
            return F.when(idx >= 0,
                          F.try_element_at(subject, (idx + 1).cast("int"))) \
                    .otherwise(F.try_element_at(subject, idx.cast("int")))
        try:
            dt = self.dtype(subject)
        except Exception:
            dt = None
        if isinstance(dt, T.MapType):
            # missing key → null (Cypher), not the ANSI error
            return F.try_element_at(subject, idx)
        if isinstance(dt, T.StructType) and isinstance(e.index, A.Literal) \
                and isinstance(e.index.value, str):
            if e.index.value not in dt.fieldNames():
                return F.lit(None)  # missing map key → null
            return subject.getField(e.index.value)
        if isinstance(dt, T.StructType):
            try:
                idx_dt = self.dtype(idx)
            except Exception:
                idx_dt = None
        else:
            idx_dt = None
        if isinstance(dt, T.StructType) and (
                isinstance(idx_dt, T.StringType)
                or self._static_is_string(e.index)
                or isinstance(self.static_dtype(e.index), T.StringType)):
            # dynamic STRING key into a struct-backed map (openCypher
            # Map2 [1][2]: `$expr[$idx]`): CASE over the fields — only
            # when the key is provably a string (a non-string key must
            # keep raising MapElementAccessByNonString, Map2 [3][4]).
            # Homogeneous field types keep their type; mixed demote to
            # string.
            fields = dt.fields
            same = len({f.dataType.simpleString() for f in fields}) <= 1
            out = F.lit(None).cast(
                fields[0].dataType if same and fields else "string")
            for f in fields:
                v = subject.getField(f.name)
                if not same:
                    v = v.cast("string")
                out = F.when(idx.cast("string") == F.lit(f.name), v) \
                    .otherwise(out)
            return out
        return F.try_element_at(subject, idx)

    def _c_Slice(self, e: A.Slice) -> Column:
        subject = self.compile(e.subject)
        start = self.compile(e.start) if e.start is not None else F.lit(0)
        if e.end is not None:
            end = self.compile(e.end)
        else:
            end = F.size(subject)
        # negative bounds wrap from the end and clamp to the list,
        # Cypher-style; a null bound nulls the whole slice (check BEFORE
        # clamping: least/greatest skip nulls)
        bound_null = start.isNull() | end.isNull()
        n = F.size(subject)
        start = F.when(start < 0, F.greatest(start + n, F.lit(0))) \
            .otherwise(F.least(start, n))
        end = F.when(end < 0, F.greatest(end + n, F.lit(0))) \
            .otherwise(F.least(end, n))
        length = F.greatest(end - start, F.lit(0))
        sliced = F.slice(subject, (start + 1).cast("int"),
                         length.cast("int"))
        return F.when(bound_null, F.lit(None)).otherwise(sliced)

    # ------------------------------------------------------------- operators
    def _c_Unary(self, e: A.Unary) -> Column:
        operand = self.compile(e.operand)
        if e.op == "-":
            if self._is_variant(operand):
                # runtime-typed: negate int/float payloads tag-preserving;
                # non-numeric payloads become null (filter-tree DISJOINT)
                from .variant import TAG_FLOAT, TAG_INT, _pack
                return F.when(
                    operand.getField("_vt") == TAG_INT,
                    _pack(TAG_INT, i=-operand.getField("_i"))) \
                    .when(operand.getField("_vt") == TAG_FLOAT,
                          _pack(TAG_FLOAT, d=-operand.getField("_d"))) \
                    .otherwise(F.lit(None))
            cls = self._cmp_class(operand)
            if cls == "tstruct":
                # -duration negates; minus on other temporals → null
                from . import temporal_cols as TC
                return F.when(TC.is_duration(operand),
                              TC.dur_neg(operand)) \
                    .otherwise(F.lit(None).cast(TC.TEMPORAL_TYPE))
            # statically non-numeric operand: clean type-mismatch like
            # the reference (AR_EXP type checking), not a runtime
            # Spark cast failure (fuzz finding)
            if cls in ("str", "array", "map", "bool", "temporal"):
                raise CompileError(
                    "Type mismatch: expected Integer or Float for "
                    "unary minus")
            return -operand
        if e.op == "NOT":
            if self._is_variant(operand):
                from .variant import bool_view
                return ~bool_view(operand)
            if self._cmp_class(operand) in ("num", "str", "array",
                                            "map", "temporal",
                                            "tstruct"):
                raise CompileError("NOT expects a boolean")
            return ~operand.cast("boolean")
        return operand

    def _c_Binary(self, e: A.Binary) -> Column:
        op = e.op
        if op in ("AND", "OR", "XOR"):
            l, r = self.compile(e.left), self.compile(e.right)
            for side in (l, r):
                if self._is_variant(side):
                    continue      # bool payloads view below
                if self._cmp_class(side) in ("str", "array", "map",
                                             "temporal", "tstruct"):
                    raise CompileError(
                        f"Type mismatch: expected Boolean as operand "
                        f"of {op}")
            if self._is_variant(l):
                from .variant import bool_view as _bv
                l = _bv(l)
            if self._is_variant(r):
                from .variant import bool_view as _bv
                r = _bv(r)
            l, r = l.cast("boolean"), r.cast("boolean")
            if op == "AND":
                return l & r
            if op == "OR":
                return l | r
            return (l & ~r) | (~l & r)
        # temporal arithmetic first: date/time ± duration, duration
        # scaling — constant operands were already folded by
        # const_eval; here at least one side is a per-row column
        if op in ("+", "-", "*", "/") and (
                _could_be_temporal(e.left)
                or _could_be_temporal(e.right)):
            try:
                return self._temporal_binary(e)
            except _NotConst:
                pass
        l = self.compile(e.left)
        r = self.compile(e.right)
        lv = _could_be_variant(e.left) and self._is_variant(l)
        rv = _could_be_variant(e.right) and self._is_variant(r)
        if lv or rv:
            from . import variant as V
            if op == "+":
                # per-row dispatch, variant result: array payloads
                # concatenate/append, string payloads concatenate,
                # numeric payloads add (SIValue_Add, src/value.c:408-418)
                if not lv:
                    l = V.to_variant(l, self.dtype(l))
                if not rv:
                    r = V.to_variant(r, self.dtype(r))
                return V.add(l, r)
            # -, *, /, %, ^ are numeric-only: use the numeric view
            # (non-numeric payloads → null)
            if lv:
                l = V.num_view(l)
            if rv:
                r = V.num_view(r)
        if op == "+":
            # addition / string concat / list concat, by operand type
            # (reference: SIValue_Add, src/value.h:176-187 + string
            # concat). ONE probe per operand — statically-numeric sides
            # skip it (numeric is never array/string)
            ldt = None if self._static_is_numeric(e.left) \
                else self._dtype_or_none(l)
            rdt = None if self._static_is_numeric(e.right) \
                else self._dtype_or_none(r)
            l_arr = isinstance(ldt, T.ArrayType)
            r_arr = isinstance(rdt, T.ArrayType)
            if l_arr or r_arr:
                if not l_arr:
                    l = F.array(l)
                if not r_arr:
                    r = F.array(r)
                return F.concat(l, r)
            # inside lambda scopes the type probe fails (unresolved
            # lambda variables), so also consult the AST: a side that
            # is STATICALLY a string ('x' + key + m[key] in a
            # comprehension) forces concat (openCypher Merge6/7)
            if isinstance(ldt, T.StringType) \
                    or isinstance(rdt, T.StringType) \
                    or self._static_is_string(e.left) \
                    or self._static_is_string(e.right):
                return F.concat(l.cast("string"), r.cast("string"))
            return l + r
        if op in ("-", "*", "/", "%", "^"):
            # numeric-only operators: a statically non-numeric side is a
            # compile-time type mismatch like the reference's AR_EXP
            # checking (string * int would otherwise surface as a raw
            # Spark cast failure at runtime — fuzz finding). Type
            # resolution is ONE probe per operand at most, shared with
            # the '/'/'%' integer-ness decision below
            need_w = op in ("/", "%")
            lt, lfail = self._numeric_operand(e.left, l, op, need_w)
            rt, rfail = self._numeric_operand(e.right, r, op, need_w)
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            # division is always floating point in the reference
            # (src/value.h:181-187, SIValue_Divide value.c:438-441) with
            # IEEE semantics: x/0 → ±inf, 0/0 → nan. Spark's ANSI mode
            # would error instead — guard the zero divisor explicitly
            # (try_divide in the live branch so constant folding of a
            # literal /0 can't throw at plan time).
            if lfail or rfail:  # un-probe-able (lambda var) → int rules
                both_int = True
            else:
                both_int = isinstance(lt, _NUMERIC_INT) \
                    and isinstance(rt, _NUMERIC_INT)
            if both_int:
                l, r = l.cast("double"), r.cast("double")
            ieee = F.when(l > 0, F.lit(float("inf"))) \
                    .when(l < 0, F.lit(float("-inf"))) \
                    .otherwise(F.lit(float("nan")))
            return F.when(l.isNull() | r.isNull(),
                          F.lit(None).cast("double")) \
                    .when(r == 0, ieee).otherwise(F.try_divide(l, r))
        if op == "%":
            # int % 0 errors (the reference's machine-mod would trap,
            # value.c:444-453); float mod follows fmod → nan
            if lfail or rfail:  # un-probe-able (lambda var) → int rules
                both_int = True
            else:
                both_int = isinstance(lt, _NUMERIC_INT) \
                    and isinstance(rt, _NUMERIC_INT)
            if both_int:
                return l % r
            return F.when(l.isNull() | r.isNull(),
                          F.lit(None).cast("double")) \
                    .when(r == 0, F.lit(float("nan"))) \
                    .otherwise(F.try_mod(l, r))
        if op == "^":
            return F.pow(l, r)
        raise CompileError(f"Unknown binary op {op}")

    def _cmp_class(self, col: Column) -> str | None:
        """Coarse Cypher type class for cross-type comparison dispatch
        (SIValue type groups, src/value.h:16-41). None = unknown/null —
        no cross-type special-casing."""
        try:
            dt = self.dtype(col)
        except Exception:
            return None
        return self._class_of_dt(dt)

    @staticmethod
    def _class_of_dt(dt: T.DataType) -> str | None:
        if isinstance(dt, T.NullType):
            return None
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType, T.FloatType, T.DoubleType,
                           T.DecimalType)):
            return "num"       # int/double cross-comparable (value.h:58-60)
        if isinstance(dt, T.StringType):
            return "str"
        if isinstance(dt, T.BooleanType):
            return "bool"
        if isinstance(dt, T.ArrayType):
            return "array"
        if isinstance(dt, (T.DateType, T.TimestampType,
                           T.TimestampNTZType)):
            return "temporal"
        from .temporal_cols import is_temporal_type
        if is_temporal_type(dt):
            return "tstruct"   # openCypher temporal struct values
        if isinstance(dt, T.StructType):
            return "map"       # map literals / entities compile to structs
        return None

    def _elem_eq_for(self, lin: T.DataType, rin: T.DataType):
        """Element-equality lambda for typed array comparison: disjoint
        type classes are definitively unequal (never a Spark cast),
        nested arrays recurse."""
        lcls, rcls = self._class_of_dt(lin), self._class_of_dt(rin)
        nullb = F.lit(None).cast("boolean")
        if lcls is not None and rcls is not None and lcls != rcls:
            return lambda x, y: F.when(x.isNull() | y.isNull(), nullb) \
                .otherwise(F.lit(False))
        if lcls == "array" and rcls == "array":
            inner = self._elem_eq_for(lin.elementType, rin.elementType)
            return lambda x, y: self._array_eq2(x, y, inner)
        if lcls == "map" and rcls == "map":
            return lambda x, y: self._map_eq_typed(x, y, lin, rin)
        return lambda x, y: x == y

    def _array_eq_typed(self, l: Column, r: Column,
                        ldt: T.ArrayType, rdt: T.ArrayType) -> Column:
        return self._array_eq2(
            l, r, self._elem_eq_for(ldt.elementType, rdt.elementType))

    def _map_eq_typed(self, l: Column, r: Column,
                      ldt: T.StructType, rdt: T.StructType) -> Column:
        """Ternary map equality (openCypher): different key sets →
        false; same keys → Kleene AND over per-key value equality."""
        nullb = F.lit(None).cast("boolean")
        lf = set(ldt.fieldNames()) - {"__maplit"}
        rf = set(rdt.fieldNames()) - {"__maplit"}
        if "_id" in lf and "_id" in rf:
            # graph entities compare by identity (SIValue entity compare)
            return l.getField("_id") == r.getField("_id")
        if lf != rf:
            return F.when(l.isNull() | r.isNull(), nullb) \
                .otherwise(F.lit(False))
        if not lf:
            return F.when(l.isNull() | r.isNull(), nullb) \
                .otherwise(F.lit(True))
        out: Column | None = None
        for k in sorted(lf):
            eq = self._elem_eq_for(ldt[k].dataType, rdt[k].dataType)(
                l.getField(k), r.getField(k))
            out = eq if out is None else (out & eq)
        return F.when(l.isNull() | r.isNull(), nullb).otherwise(out)

    @classmethod
    def _array_eq2(cls, l: Column, r: Column, elem_eq) -> Column:
        """Ternary list equality with a custom element comparator:
        length mismatch or a definite element mismatch → false;
        otherwise any null pair → null; else true (openCypher list
        equality; reference SIArray compare)."""
        pair = F.zip_with(l, r, elem_eq)
        any_false = F.exists(pair, lambda b: ~F.coalesce(b, F.lit(True)))
        any_null = F.exists(pair, lambda b: b.isNull())
        nullb = F.lit(None).cast("boolean")
        return F.when(l.isNull() | r.isNull(), nullb) \
                .when(F.size(l) != F.size(r), F.lit(False)) \
                .when(any_false, F.lit(False)) \
                .when(any_null, nullb) \
                .otherwise(F.lit(True))

    @staticmethod
    def _array_cmp3(l: Column, r: Column) -> Column:
        """Lexicographic ternary list ordering: −1/0/1, or null when the
        first non-equal pair involves null (openCypher list ordering)."""
        nulli = F.lit(None).cast("int")
        n = F.least(F.size(l), F.size(r))
        pair = F.zip_with(
            F.slice(l, 1, n), F.slice(r, 1, n),
            lambda x, y: F.struct((x < y).alias("lt"),
                                  (x == y).alias("eq")))
        decided = F.filter(pair, lambda p: ~F.coalesce(p["eq"],
                                                       F.lit(False)))
        first = F.element_at(decided, 1)
        return F.when(l.isNull() | r.isNull(), nulli) \
            .when(F.size(decided) == 0,
                  F.signum(F.size(l) - F.size(r)).cast("int")) \
            .when(first["eq"].isNull() | first["lt"].isNull(), nulli) \
            .when(first["lt"], F.lit(-1)).otherwise(F.lit(1))

    def _lit_list_eq(self, la: A.ListLiteral, ra: A.ListLiteral) -> Column:
        """Structural equality of two list literals — item-by-item Kleene
        AND of compiled ``=``, so heterogeneous/nested literals never
        need a single Spark array type."""
        if len(la.items) != len(ra.items):
            return F.lit(False)
        if not la.items:
            return F.lit(True)
        out: Column | None = None
        for x, y in zip(la.items, ra.items):
            c = self._c_Comparison(A.Comparison(x, [("=", y)]))
            out = c if out is None else (out & c)
        return out

    @staticmethod
    def _het_list(ast) -> bool:
        """A list literal mixing type categories (incl. nested lists
        beside scalars) — unbuildable as one Spark array type."""
        if not isinstance(ast, A.ListLiteral):
            return False
        cats = set()
        for x in ast.items:
            if isinstance(x, A.ListLiteral):
                cats.add("a")
            elif isinstance(x, A.Literal):
                v = x.value
                if v is None:
                    continue
                cats.add("b" if isinstance(v, bool)
                         else "n" if isinstance(v, (int, float))
                         else "s" if isinstance(v, str) else "?")
            else:
                cats.add("?")
        return "?" not in cats and len(cats) > 1

    def _c_Comparison(self, e: A.Comparison) -> Column:
        out: Column | None = None
        left: Column | None = None   # compiled lazily: a heterogeneous
        left_ast = e.first           # list literal may be uncompilable
        nullb = F.lit(None).cast("boolean")
        for op, right_ast in e.rest:
            if op in ("=", "<>"):
                if isinstance(left_ast, A.ListLiteral) and \
                        isinstance(right_ast, A.ListLiteral):
                    c = self._lit_list_eq(left_ast, right_ast)
                    if op == "<>":
                        c = ~c     # Kleene NOT
                    out = c if out is None else (out & c)
                    left, left_ast = None, right_ast
                    continue
                if self._het_list(left_ast) or self._het_list(right_ast):
                    # mixed-type list literal vs non-list expression
                    lit_ast = left_ast if self._het_list(left_ast) \
                        else right_ast
                    other_ast = right_ast if self._het_list(left_ast) \
                        else left_ast
                    if isinstance(other_ast, A.Literal) and \
                            other_ast.value is None:
                        c = nullb
                    else:
                        oc = self.compile(other_ast)
                        c = None
                        if _could_be_variant(other_ast) \
                                and self._is_variant(oc):
                            # a variant property CAN hold a list —
                            # compare through the typed union
                            # (r.tag = [1, 'a'] after SET)
                            try:
                                c = self._variant_cmp(
                                    oc, self.compile(lit_ast), op)
                            except CompileError:
                                c = None
                        if c is None:
                            # plain non-list side: never equal
                            c = F.when(oc.isNull(), nullb) \
                                .otherwise(F.lit(op == "<>"))
                    out = c if out is None else (out & c)
                    left, left_ast = None, right_ast
                    continue
            if left is None:
                left = self.compile(left_ast)
            right = self.compile(right_ast)
            # dtype probes are py4j round trips — only pay them for
            # expressions that can structurally BE a variant column
            if (_could_be_variant(left_ast) and self._is_variant(left)) or \
                    (_could_be_variant(right_ast) and self._is_variant(right)):
                c = self._variant_cmp(left, right, op)
            else:
                # scalar-constant sides carry their plan-time type —
                # skips the JVM probe for the common `prop <op> literal`
                c = self._typed_cmp(left, right, op,
                                    ldt=self._static_cmp_dt(left_ast),
                                    rdt=self._static_cmp_dt(right_ast))
            out = c if out is None else (out & c)
            left = right
            left_ast = right_ast
        assert out is not None
        return out

    def _typed_cmp(self, left: Column, right: Column, op: str,
                   ldt=_UNSET, rdt=_UNSET) -> Column:
        """Comparison with Cypher cross-type semantics: disjoint type
        classes are allowed for = / <> (never equal — AR_EQ/AR_NE,
        boolean_funcs.c:143-163) but a type-mismatch error for ordering
        (AR_LT et al., boolean_funcs.c:77-136); null operands stay
        null-propagating. ``ldt``/``rdt``: statically-known operand
        DataTypes — each one supplied skips a JVM type probe. Types not
        supplied are probed ONCE here and reused by every later branch
        (the num branch and the typed array/map equality used to
        re-probe each side — 4 analyses per float comparison)."""
        if ldt is _UNSET:
            ldt = self._dtype_or_none(left)
        if rdt is _UNSET:
            rdt = self._dtype_or_none(right)
        lc = self._class_of_dt(ldt) if ldt is not None else None
        rc = self._class_of_dt(rdt) if rdt is not None else None
        nullb = F.lit(None).cast("boolean")
        if lc is not None and rc is not None and lc != rc:
            if op == "=":
                return F.when(left.isNull() | right.isNull(), nullb) \
                        .otherwise(F.lit(False))
            if op == "<>":
                return F.when(left.isNull() | right.isNull(), nullb) \
                        .otherwise(F.lit(True))
            raise CompileError(
                f"Type mismatch: cannot compare {lc} with {rc}")
        if lc == "tstruct" and rc == "tstruct":
            from .temporal_cols import cmp as _tcmp
            return _tcmp(self.bind_temporal(left),
                         self.bind_temporal(right), op)
        if lc == "array" and rc == "array" and op in ("=", "<>"):
            try:
                eq = self._array_eq_typed(left, right, ldt, rdt)
            except Exception:
                eq = self._array_eq2(left, right, lambda x, y: x == y)
            return eq if op == "=" else \
                F.when(eq.isNull(), nullb).otherwise(~eq)
        if lc == "array" and rc == "array" and op in ("<", "<=",
                                                      ">", ">="):
            c3 = self._array_cmp3(left, right)
            return {"<": c3 < 0, "<=": c3 <= 0,
                    ">": c3 > 0, ">=": c3 >= 0}[op]
        if lc == "map" and rc == "map" and op in ("=", "<>"):
            try:
                eq = self._map_eq_typed(left, right, ldt, rdt)
            except Exception:
                eq = left == right
            return eq if op == "=" else \
                F.when(eq.isNull(), nullb).otherwise(~eq)
        if lc == "num" or (lc is None and rc == "num") \
                or (lc == "num" and rc is None):
            # IEEE 754 NaN semantics (openCypher Comparison1/2; the
            # reference compares through C doubles and gets these for
            # free): NaN is not equal to anything INCLUDING itself,
            # <> with NaN is true, and every ordering against NaN is
            # false. Spark's native comparisons instead treat NaN as
            # equal-to-itself and greater-than-everything (its
            # sort/join convention), so float-typed operands take an
            # isnan-guarded path. Null keeps ternary behavior.
            nan_terms = []
            for side, sdt in ((left, ldt), (right, rdt)):
                if isinstance(sdt, (T.DoubleType, T.FloatType)):
                    nan_terms.append(F.isnan(side))
            if nan_terms:
                any_nan = nan_terms[0]
                for t in nan_terms[1:]:
                    any_nan = any_nan | t
                nullb = F.lit(None).cast("boolean")
                base = {"=": left == right, "<>": left != right,
                        "<": left < right, "<=": left <= right,
                        ">": left > right, ">=": left >= right}[op]
                # expressed as a CONJUNCTION (base AND nan-guard), not
                # a when-cascade: Catalyst splits top-level conjuncts,
                # so the plain base comparison reaches the parquet
                # scan as a PushedFilter — the former CASE WHEN wrapper
                # made every float predicate unpushable (r10 finding).
                # Ternary semantics are preserved: isnan(null)=false in
                # Spark, so the guard is explicitly null when either
                # operand is null.
                guard_null = left.isNull() | right.isNull()
                if op == "<>":
                    return base | F.when(guard_null, nullb) \
                        .otherwise(any_nan)
                return base & F.when(guard_null, nullb) \
                    .otherwise(~any_nan)
        if op == "=":
            return left == right
        if op == "<>":
            return left != right
        if op == "<":
            return left < right
        if op == "<=":
            return left <= right
        if op == ">":
            return left > right
        return left >= right

    def prop_eq(self, field_col: Column, value_col: Column,
                field_dt=_UNSET, value_dt=_UNSET) -> Column:
        """Pattern-property equality ``{k: v}`` — variant union columns
        dispatch per value; plain columns use the cross-type ternary
        rules (a disjoint-class probe like {nm: true} against a string
        column is FALSE, never a runtime cast — fuzz finding).
        ``field_dt``/``value_dt``: statically-known DataTypes (from the
        scanned table's schema / a literal AST) — each skips the JVM
        type probes entirely on the plan-construction hot path."""
        fv = self._variant_of_dt(field_dt) if field_dt is not _UNSET \
            else self._is_variant(field_col)
        vv = self._variant_of_dt(value_dt) if value_dt is not _UNSET \
            else self._is_variant(value_col)
        if fv or vv:
            return self._variant_cmp(field_col, value_col, "=")
        return self._typed_cmp(field_col, value_col, "=",
                               ldt=field_dt, rdt=value_dt)

    def _variant_cmp(self, l: Column, r: Column, op: str) -> Column:
        """Comparison with at least one variant side: same-type payloads
        compare by value (int/double cross-compare), cross-type ``=`` is
        false and cross-type ordering is null (DISJOINT,
        src/value.h:58-77,189-192)."""
        from . import variant as V
        lv, rv = self._is_variant(l), self._is_variant(r)
        if not lv:  # normalize: l is the variant
            l, r = r, l
            lv, rv = rv, lv
            op = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}.get(op, op)
        arr_c3 = None   # ordering over array payloads: ternary
        arr_eq = None   # equality over array payloads: ternary
        both_arr = None
        if rv:
            pairs = [(V.num_view(l), V.num_view(r)),
                     (V.str_view(l), V.str_view(r)),
                     (V.bool_view(l), V.bool_view(r)),
                     (V.arr_canon(l), V.arr_canon(r))]
            if op in ("<", "<=", ">", ">="):
                arr_c3 = V.arr_cmp3(V.arr_view(l), V.arr_view(r))
                pairs = pairs[:3]
            elif op in ("=", "<>"):
                arr_eq = V.arr_eq3(V.arr_view(l), V.arr_view(r))
                both_arr = (l["_vt"] == V.TAG_ARRAY) \
                    & (r["_vt"] == V.TAG_ARRAY)
                pairs = pairs[:3]
        else:
            try:
                rt = self.dtype(r)
            except CompileError:
                rt = T.StringType()
            if isinstance(rt, (T.LongType, T.IntegerType, T.ShortType,
                               T.ByteType, T.DoubleType, T.FloatType,
                               T.DecimalType)):
                pairs = [(V.num_view(l), r.cast("double"))]
            elif isinstance(rt, T.BooleanType):
                pairs = [(V.bool_view(l), r)]
            elif isinstance(rt, (T.StringType, T.NullType)):
                pairs = [(V.str_view(l), r.cast("string"))]
            elif isinstance(rt, T.ArrayType) and \
                    (isinstance(rt.elementType, V._SCALAR_TYPES)
                     or (isinstance(rt.elementType, T.ArrayType)
                         and isinstance(rt.elementType.elementType,
                                        V._SCALAR_TYPES))):
                pairs = [(V.arr_canon(l), V.arr_canon_plain(r, rt))]
                r_mid = F.transform(
                    r, lambda x: V._mid_encode(x, rt.elementType))
                if op in ("<", "<=", ">", ">="):
                    arr_c3 = V.arr_cmp3(V.arr_view(l), r_mid)
                    pairs = []
                elif op in ("=", "<>"):
                    arr_eq = V.arr_eq3(V.arr_view(l), r_mid)
                    both_arr = (l["_vt"] == V.TAG_ARRAY) & r.isNotNull()
                    pairs = []
            else:
                pairs = []  # variant vs nested-array/struct: disjoint
        mk = {"=": lambda a, b: a == b, "<>": lambda a, b: a == b,
              "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
              ">": lambda a, b: a > b, ">=": lambda a, b: a >= b}[op]
        cs = [mk(a, b) for a, b in pairs]
        if arr_c3 is not None:
            zero = F.lit(0)
            cs.append({"<": arr_c3 < zero, "<=": arr_c3 <= zero,
                       ">": arr_c3 > zero, ">=": arr_c3 >= zero}[op])
        null_b = F.lit(None).cast("boolean")
        if op in ("=", "<>"):
            inner = F.coalesce(*cs, F.lit(False)) if cs else F.lit(False)
            if arr_eq is not None:
                # array payloads: ternary elementwise equality (a null
                # element pair → null, not Spark's canonical
                # nulls-compare-equal) — gate on the tags so the
                # coalesce of scalar views keeps its "first matching
                # type wins" semantics
                inner = F.when(both_arr, arr_eq).otherwise(inner)
            if op == "<>":
                inner = ~inner
            return F.when(l.isNull() | r.isNull(), null_b).otherwise(inner)
        if not cs:
            return null_b
        return F.coalesce(*cs) if len(cs) > 1 else cs[0]

    def _c_IsNull(self, e: A.IsNull) -> Column:
        c = self.compile(e.operand)
        return c.isNotNull() if e.negated else c.isNull()

    def _c_In(self, e: A.In) -> Column:
        """``x IN list`` — ternary membership (Kleene OR over the
        element equalities, openCypher semantics; reference
        ``src/arithmetic/boolean_funcs`` op_in). A literal haystack
        unrolls into compiled ``=`` comparisons per element, which
        covers heterogeneous and nested lists that a single Spark
        array type cannot hold."""
        nullb = F.lit(None).cast("boolean")
        if isinstance(e.haystack, A.ListLiteral):
            items = e.haystack.items
            if not items:
                return F.lit(False)
            cats = {("b" if isinstance(x.value, bool)
                     else "n" if isinstance(x.value, (int, float))
                     else "s") for x in items
                    if isinstance(x, A.Literal) and x.value is not None}
            homogeneous = len(cats) <= 1 and all(
                isinstance(x, A.Literal) for x in items)
            if not homogeneous:
                # heterogeneous/nested literals: unroll into compiled
                # per-element equality (no common Spark array type)
                out: Column | None = None
                for it in items:
                    c = self._c_Comparison(
                        A.Comparison(e.needle, [("=", it)]))
                    out = c if out is None else (out | c)   # Kleene OR
                return out
            # homogeneous literal list (the common `x IN [..]` filter):
            # stay vectorized — fall through to the typed column path
        needle = self.compile(e.needle)
        hay = self.compile(e.haystack)
        try:
            hdt = self.dtype(hay)
            ndt = self.dtype(needle)
        except Exception:
            # lambda-scoped columns can't be type-probed
            return F.array_contains(hay, needle)
        from . import variant as V
        if V.is_variant_type(hdt):
            if V.is_variant_type(ndt):
                scalar = None  # variant needle: compare views below
            else:
                scalar = self._class_of_dt(ndt)
            nv = needle

            def eq(el):
                # el: MID struct {_vt,_i,_d,_s,_b,_a}
                num = F.when(el.getField("_vt") == V.TAG_INT,
                             el.getField("_i").cast("double")) \
                    .when(el.getField("_vt") == V.TAG_FLOAT,
                          el.getField("_d"))
                el_arr = F.when(
                    el.getField("_vt") == V.TAG_ARRAY,
                    F.transform(el.getField("_a"), V._scalar_canon))
                if V.is_variant_type(ndt):
                    cands = [(num, V.num_view(nv)),
                             (el.getField("_s"), V.str_view(nv)),
                             (el.getField("_b"), V.bool_view(nv)),
                             (el_arr, V.arr_canon(nv))]
                elif scalar == "num":
                    cands = [(num, nv.cast("double"))]
                elif scalar == "str":
                    cands = [(el.getField("_s"), nv)]
                elif scalar == "bool":
                    cands = [(el.getField("_b"), nv)]
                elif scalar == "array" and isinstance(ndt, T.ArrayType):
                    cands = [(el_arr, V.arr_canon_plain(nv, ndt))]
                else:
                    cands = []
                inner = F.coalesce(
                    *[a == b for a, b in cands], F.lit(False)) \
                    if cands else F.lit(False)
                return F.when(el.isNull() | needle.isNull(), nullb) \
                    .otherwise(inner)
            elems = hay.getField("_a")
            lead = hay.isNull() | (hay.getField("_vt") != V.TAG_ARRAY)
        elif isinstance(hdt, T.ArrayType):
            ecls = self._class_of_dt(hdt.elementType)
            ncls = self._class_of_dt(ndt)

            def eq(el):
                if ecls is not None and ncls is not None and ecls != ncls:
                    return F.when(el.isNull() | needle.isNull(), nullb) \
                        .otherwise(F.lit(False))
                if ecls == "array" and ncls == "array":
                    return self._array_eq_typed(
                        el, needle, hdt.elementType, ndt)
                return el == needle
            elems = hay
            lead = hay.isNull()
        elif isinstance(hdt, T.NullType):
            # `x IN null` is null, not an error (openCypher Null3[7] —
            # ternary logic treats the missing list like any null)
            return nullb
        else:
            raise CompileError("IN expects a list on the right-hand side")
        eqs = F.transform(elems, eq)
        any_true = F.exists(eqs, lambda b: F.coalesce(b, F.lit(False)))
        any_null = F.exists(eqs, lambda b: b.isNull())
        return F.when(lead, nullb) \
            .when(any_true, F.lit(True)) \
            .when(any_null, nullb) \
            .otherwise(F.lit(False))

    def _c_StringOp(self, e: A.StringOp) -> Column:
        l = self.compile(e.left)
        r = self.compile(e.right)
        if _could_be_variant(e.left) and self._is_variant(l):
            from .variant import str_view
            l = str_view(l)  # only string payloads match (DISJOINT → null)
        if _could_be_variant(e.right) and self._is_variant(r):
            from .variant import str_view
            r = str_view(r)
        if e.op == "STARTS WITH":
            return l.startswith(r)
        if e.op == "ENDS WITH":
            return l.endswith(r)
        if e.op == "CONTAINS":
            return l.contains(r)
        if e.op == "=~":
            return l.rlike(self._literal_str(e.right))
        raise CompileError(e.op)

    def _literal_str(self, e: A.Expr) -> str:
        if isinstance(e, A.Literal) and isinstance(e.value, str):
            return e.value
        if isinstance(e, A.Parameter):
            return str(self.params[e.name])
        raise CompileError("regex pattern must be a literal or parameter")

    def _c_CaseExpr(self, e: A.CaseExpr) -> Column:
        # no let-binding inside CASE: hoisting a branch's subexpression
        # out of its condition guard would evaluate it unconditionally
        # (wrong if the branch can raise, e.g. temporal '-' type checks)
        self._no_hoist += 1
        try:
            out = None
            for cond_ast, val_ast in e.whens:
                if e.test is not None:
                    cond = self.compile(e.test) == self.compile(cond_ast)
                else:
                    cond = self.compile(cond_ast).cast("boolean")
                val = self.compile(val_ast)
                out = F.when(cond, val) if out is None \
                    else out.when(cond, val)
            if out is None:
                raise CompileError("CASE with no WHEN branches")
            if e.default is not None:
                out = out.otherwise(self.compile(e.default))
            return out
        finally:
            self._no_hoist -= 1

    # --------------------------------------------- higher-order list support
    def _lambda1(self, var: str, body: A.Expr,
                 elem_dtype: T.DataType | None = None):
        """Compile a 1-arg lambda body where `var` is the lambda variable.

        Spark higher-order functions give us a Column for the element; we
        temporarily map the variable onto it via a nested compiler.
        ``elem_dtype`` lets the nested compiler answer dtype probes for
        the lambda variable (they can't be analyzed against the plan).
        """
        outer = self

        def fn(elem: Column) -> Column:
            sub = _LambdaCompiler(outer, {var: elem})
            if elem_dtype is not None:
                sub._binding_types[var] = elem_dtype
            return sub.compile(body)

        return fn

    def _as_list(self, col: Column) -> tuple[Column, T.DataType | None]:
        """Normalize a list-valued expression for higher-order functions:
        a variant whose payload is an array widens each element back to
        a full variant. Returns (array column, element dtype hint)."""
        if self._is_variant(col):
            from .variant import VARIANT_TYPE, arr_view, elem_to_variant
            return F.transform(arr_view(col), elem_to_variant), VARIANT_TYPE
        try:
            dt = self.dtype(col)
        except Exception:
            return col, None
        return col, dt.elementType if isinstance(dt, T.ArrayType) else None

    def _c_ListComprehension(self, e: A.ListComprehension) -> Column:
        source, hint = self._as_list(self.compile(e.source))
        if e.where is not None:
            pred = self._lambda1(e.var, e.where, hint)
            source = F.filter(source, lambda x: pred(x).cast("boolean"))
        if e.projection is not None:
            proj = self._lambda1(e.var, e.projection, hint)
            source = F.transform(source, proj)
        return source

    def _c_Quantifier(self, e: A.Quantifier) -> Column:
        source, hint = self._as_list(self.compile(e.source))
        pred = self._lambda1(e.var, e.where, hint)
        wrapped = lambda x: pred(x).cast("boolean")  # noqa: E731
        if e.kind == "any":
            return F.exists(source, wrapped)
        if e.kind == "all":
            return F.forall(source, wrapped)
        if e.kind == "none":
            return ~F.exists(source, wrapped)
        # single: exactly one element satisfies
        return F.size(F.filter(source, wrapped)) == 1

    def _c_Reduce(self, e: A.Reduce) -> Column:
        source = self.compile(e.source)
        init = self.compile(e.init)
        # Spark's aggregate() requires the accumulator type to match the
        # merge result exactly — align a numeric init with the list's
        # element type (e.g. literal 0 is INT, range() elements BIGINT)
        try:
            st = self.dtype(source)
            it = self.dtype(init)
            rank = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2,
                    T.LongType: 3, T.FloatType: 4, T.DoubleType: 5}
            if isinstance(st, T.ArrayType) \
                    and type(st.elementType) in rank \
                    and type(it) in rank \
                    and rank[type(it)] < rank[type(st.elementType)]:
                init = init.cast(st.elementType)  # widen only, never narrow
        except CompileError:
            pass
        outer = self

        def merge(acc: Column, x: Column) -> Column:
            sub = _LambdaCompiler(outer, {e.acc: acc, e.var: x})
            return sub.compile(e.expr)

        return F.aggregate(source, init, merge)

    # ------------------------------------------------------------- functions
    def _c_MapProjection(self, e: A.MapProjection) -> Column:
        """``n {.a, .*, k: expr}`` → struct of selected fields."""
        if e.var not in self.vars:
            raise CompileError(f"Unknown variable `{e.var}`")
        info = self.vars[e.var]
        fields: list[Column] = []
        seen: set[str] = set()
        if e.star and info.kind in ("node", "edge"):
            for f in info.fields:
                fields.append(F.col(e.var).getField(f).alias(f))
                seen.add(f)
        for key, expr in e.items:
            if key in seen:
                continue
            if expr is None:  # .key
                if info.kind in ("node", "edge") and key in info.fields:
                    fields.append(F.col(e.var).getField(key).alias(key))
                else:
                    fields.append(F.lit(None).alias(key))
            else:
                fields.append(self.compile(expr).alias(key))
            seen.add(key)
        if not fields:
            raise CompileError("empty map projection")
        return F.struct(*fields)

    def _c_CountStar(self, e: A.CountStar) -> Column:  # handled by planner
        raise CompileError("count(*) outside aggregation context")

    def _c_FuncCall(self, e: A.FuncCall) -> Column:
        name = e.name
        if name in _TEMPORAL_FNS:
            return self._temporal_call(e)
        if name in _TEMPORAL_ACCESSOR_FNS and len(e.args) == 1:
            arg = self.compile(e.args[0])
            if self._is_temporal(arg):
                from .temporal_cols import component
                return component(arg, name)
            # fall through: Spark-native date/timestamp accessor
        fn = getattr(self, "_fn_" + name, None)
        if fn is not None:
            self._check_arity(name, len(e.args), _FN_ARITY.get(name))
            return fn(e)
        builder = _SIMPLE_FUNCS.get(name)
        if builder is None:
            raise CompileError(f"Unknown function {name}()")
        # explicit arity check BEFORE calling — converting a stray
        # IndexError/TypeError raised from a correct-arity call into a
        # "wrong arity" message mislabels genuine bugs (and swallows
        # their tracebacks)
        bounds = _ARITY_CACHE.get(name)
        if bounds is None:
            bounds = _ARITY_CACHE[name] = _builder_arity(builder)
        self._check_arity(name, len(e.args), bounds)
        args = [self.compile(a) for a in e.args]
        return builder(*args)

    @staticmethod
    def _check_arity(name: str, n: int,
                     bounds: tuple[int, int | None] | None) -> None:
        if bounds is None:
            return
        lo, hi = bounds
        if n < lo:
            raise CompileError(
                f"Received {n} arguments to function "
                f"'{name}', expected more")
        if hi is not None and n > hi:
            raise CompileError(
                f"Received {n} arguments to function "
                f"'{name}': wrong arity")

    # function implementations that need type info or special handling ------
    def _fn_substring(self, e: A.FuncCall) -> Column:
        # Cypher substring(str, start, [len]) is 0-based
        # (src/arithmetic/string_funcs/string_funcs.c)
        s = self.compile(e.args[0])
        start = self.compile(e.args[1]) + 1
        if len(e.args) > 2:
            return s.substr(start.cast("int"), self.compile(e.args[2]).cast("int"))
        return s.substr(start.cast("int"), F.length(s))

    def _fn_size(self, e: A.FuncCall) -> Column:
        c = self.compile(e.args[0])
        if self._is_string(c):
            return F.length(c).cast("long")
        if _could_be_variant(e.args[0]) and self._is_variant(c):
            from .variant import arr_view, str_view
            return F.coalesce(F.size(arr_view(c)),
                              F.length(str_view(c))).cast("long")
        return F.size(c).cast("long")

    def _fn_length(self, e: A.FuncCall) -> Column:
        # length() of a path = number of edges (src/arithmetic/path_funcs/
        # path_funcs.c:266-289); of a string = chars.
        if isinstance(e.args[0], A.Variable):
            info = self.vars.get(e.args[0].name)
            if info is not None and info.kind == "path":
                return F.size(F.col(e.args[0].name).getField("edges")).cast("long")
        c = self.compile(e.args[0])
        if self._is_string(c):
            return F.length(c).cast("long")
        return F.size(c).cast("long")

    def _fn_id(self, e: A.FuncCall) -> Column:
        c = self.compile(e.args[0])
        # startNode()/endNode() yield node *references* (the edge's
        # _src/_dst id, already a long) — id() of a reference is itself
        if not isinstance(self.dtype(c), T.StructType):
            return c
        return c.getField("_id")

    def _fn_labels(self, e: A.FuncCall) -> Column:
        c = self.compile(e.args[0])
        t = self.dtype(c)
        if isinstance(t, T.NullType):
            return F.lit(None)             # labels(null) → null
        if isinstance(t, T.StructType) and "_labels" in t.fieldNames():
            # multi-label graph (SET n:L); drop the unlabeled marker
            return F.filter(c.getField("_labels"),
                            lambda x: x != F.lit(""))
        # a null entity (failed OPTIONAL MATCH) yields null, not [null];
        # typed null branch — an untyped NULL literal here makes Janino
        # reject the generated CASE code ("isNull_0 is not an rvalue")
        # and the whole stage silently falls back to interpreted mode.
        # An UNLABELED node (CREATE ()) has an empty label list, not
        # [''] (Graph3[1]/[5]).
        return F.when(c.isNull(),
                      F.lit(None).cast("array<string>")) \
            .when(F.coalesce(c.getField("_label"), F.lit("")) == "",
                  F.array().cast("array<string>")) \
            .otherwise(F.array(c.getField("_label")))

    def _fn_type(self, e: A.FuncCall) -> Column:
        c = self.compile(e.args[0])
        try:
            if isinstance(self.dtype(c), T.NullType):
                return F.lit(None)   # type(null) → null
        except Exception:
            pass
        return c.getField("_rel")

    def _endpoint(self, e: A.FuncCall, side: int, field: str) -> Column:
        # when the pattern bound the edge's endpoint as a node struct,
        # startNode/endNode IS that node (entity_funcs.c:186-230);
        # otherwise fall back to the id reference (edge's _src/_dst)
        if isinstance(e.args[0], A.Variable):
            name = e.args[0].name
            info = self.vars.get(name)
            if info is not None and info.kind == "edge" and info.endpoints:
                left, right = info.endpoints
                if info.undirected and left is not None \
                        and right is not None and \
                        all(self.vars.get(v) is not None
                            and self.vars[v].kind == "node"
                            for v in (left, right)):
                    # undirected hop: the edge's _src decides per row
                    # which bound endpoint is the start node
                    a, b = (left, right) if side == 0 else (right, left)
                    return F.when(
                        F.col(f"{name}._src") == F.col(f"{left}._id"),
                        F.col(a)).otherwise(F.col(b))
                ep = (left, right)[side]
                if ep is not None:
                    ep_info = self.vars.get(ep)
                    if ep_info is not None and ep_info.kind == "node":
                        return F.col(ep)
        return self.compile(e.args[0]).getField(field)

    def _fn_startnode(self, e: A.FuncCall) -> Column:
        return self._endpoint(e, 0, "_src")

    def _fn_endnode(self, e: A.FuncCall) -> Column:
        return self._endpoint(e, 1, "_dst")

    def _c_LabelPred(self, e: A.LabelPred) -> Column:
        """``expr:Label1:Label2`` — true iff the node carries ALL the
        labels (multi-label graphs check the _labels array, single-
        label the _label field); a relationship tests its type; a null
        subject yields null (openCypher Graph5)."""
        c = self.compile(e.subject)
        nullb = F.lit(None).cast("boolean")
        try:
            dt = self.dtype(c)
        except Exception:
            dt = None
        if isinstance(dt, T.NullType):
            return nullb
        if not isinstance(dt, T.StructType):
            raise CompileError(
                "Type mismatch: label expression expects a node or "
                "relationship")
        names = set(dt.fieldNames())
        if "_labels" in names:
            cond = None
            for l in e.labels:
                t = F.array_contains(c.getField("_labels"), F.lit(l))
                cond = t if cond is None else (cond & t)
        elif "_label" in names:
            cond = None
            for l in e.labels:
                t = c.getField("_label") == F.lit(l)
                cond = t if cond is None else (cond & t)
        elif "_rel" in names:
            cond = None
            for l in e.labels:
                t = c.getField("_rel") == F.lit(l)
                cond = t if cond is None else (cond & t)
        else:
            raise CompileError(
                "Type mismatch: label expression expects a node or "
                "relationship")
        return F.when(c.isNull(), nullb).otherwise(cond)

    def _fn_exists(self, e: A.FuncCall) -> Column:
        # exists(map.key) on a MAP value is a KEY-PRESENCE check — a
        # key bound to null still exists (openCypher Map4); node/edge
        # properties keep value-null semantics (the reference is
        # schemaless: absent property ≡ null, attribute_set.c). The
        # subject's kind decides which world we are in.
        a = e.args[0]
        if not isinstance(a, (A.Property, A.Variable, A.Subscript)):
            # exists() accepts a property access or a pattern (patterns
            # were rewritten to semi-join flags before compile); an
            # arbitrary expression is a compile-time error
            # (InvalidArgumentExpression, Graph9[6])
            raise CompileError(
                "exists() expects a property access or a pattern")
        if isinstance(a, A.Property):
            subj = a.subject
            is_entity = (isinstance(subj, A.Variable)
                         and self.vars.get(subj.name) is not None
                         and self.vars[subj.name].kind in ("node",
                                                           "edge"))
            if is_entity:
                # a null entity (failed OPTIONAL MATCH) yields null,
                # not false (Graph9[5])
                ent = F.col(subj.name)
                return F.when(ent.isNull(),
                              F.lit(None).cast("boolean")) \
                    .otherwise(self.compile(a).isNotNull())
            if not is_entity:
                sc = self.compile(subj)
                dt = None
                try:
                    dt = self.dtype(sc)
                except Exception:
                    pass
                if isinstance(dt, T.StructType):
                    present = a.key in {f.name for f in dt.fields}
                    return F.when(sc.isNull(),
                                  F.lit(None).cast("boolean")) \
                        .otherwise(F.lit(present))
                if isinstance(dt, T.MapType):
                    return F.when(sc.isNull(),
                                  F.lit(None).cast("boolean")) \
                        .otherwise(F.array_contains(F.map_keys(sc),
                                                    F.lit(a.key)))
                if isinstance(dt, T.NullType):
                    return F.lit(None).cast("boolean")
        return self.compile(e.args[0]).isNotNull()

    def _fn_properties(self, e: A.FuncCall) -> Column:
        if isinstance(e.args[0], A.Variable):
            info = self.vars.get(e.args[0].name)
            if info is not None and info.kind in ("node", "edge"):
                c = F.col(e.args[0].name)
                props = F.struct(*[c.getField(f).alias(f)
                                   for f in info.fields])
                # properties(null entity) is null, not an empty map
                # (Graph10[3]); the otherwise-branch types the null
                return F.when(c.isNull(), F.lit(None)).otherwise(props)
        inner = self.compile(e.args[0])
        try:
            dt = self.dtype(inner)
        except Exception:
            dt = None
        if dt is not None and not isinstance(
                dt, (T.StructType, T.MapType, T.NullType)):
            # properties() on a scalar/list is a compile-time error
            # (InvalidArgumentType, Graph10[5-7])
            raise CompileError(
                "properties(): invalid argument type")
        return inner

    def _fn_property(self, e: A.FuncCall) -> Column:
        """``property(entity, name)`` — dynamic property access
        (src/arithmetic/entity_funcs/entity_funcs.c:186-230). A literal
        key compiles to a plain field access; a runtime key becomes a
        CASE over the entity's property fields."""
        if isinstance(e.args[1], A.Literal) and \
                isinstance(e.args[1].value, str):
            return self._c_Property(A.Property(e.args[0], e.args[1].value))
        if not (isinstance(e.args[0], A.Variable)
                and e.args[0].name in self.vars
                and self.vars[e.args[0].name].kind in ("node", "edge")):
            raise CompileError("property() needs a node/edge first argument")
        info = self.vars[e.args[0].name]
        key = self.compile(e.args[1])
        c = F.col(e.args[0].name)
        out = F.lit(None).cast("string")
        for f in info.fields:
            out = F.when(key == F.lit(f),
                         c.getField(f).cast("string")).otherwise(out)
        return out

    def _fn_range(self, e: A.FuncCall) -> Column:
        """``range(start, end[, step])`` — inclusive; empty when the
        step cannot reach the bound (list_funcs.c range); non-integer
        arguments are a type error."""
        for x in e.args:
            while isinstance(x, A.Unary) and x.op in ("-", "+"):
                x = x.operand
            if isinstance(x, A.Literal) and (
                    isinstance(x.value, bool)
                    or not isinstance(x.value, (int, type(None)))):
                raise CompileError("range() expects integer arguments")
        args = [self.compile(x) for x in e.args]
        a = args[0].cast("long")
        b = args[1].cast("long")
        step = args[2].cast("long") if len(args) > 2 \
            else F.lit(1).cast("long")
        empty = F.array().cast("array<bigint>")
        return F.when((step > 0) & (a > b), empty) \
                .when((step < 0) & (a < b), empty) \
                .otherwise(F.sequence(a, b, step))

    def _fn_tomap(self, e: A.FuncCall) -> Column:
        """``tomap(k1, v1, k2, v2, …)`` — alternating string keys and
        values (AR_TOMAP, map_funcs.c:14-41). Literal keys build a
        struct (per-value types preserved); runtime keys fall back to a
        string-valued map."""
        if len(e.args) == 1:
            return self.compile(e.args[0])   # passthrough of a map value
        if len(e.args) % 2 != 0:
            raise CompileError("map expects even number of elements")
        if not e.args:
            return F.create_map()
        pairs = list(zip(e.args[::2], e.args[1::2]))
        if all(isinstance(k, A.Literal) and isinstance(k.value, str)
               for k, _ in pairs):
            return F.struct(*[
                self.compile(v).alias(k.value) for k, v in pairs])
        kvs: list[Column] = []
        for k, v in pairs:
            kvs.append(self.compile(k).cast("string"))
            kvs.append(self.compile(v).cast("string"))
        return F.create_map(*kvs)

    def _fn_keys(self, e: A.FuncCall) -> Column:
        """keys(entity) = names of present (non-null) properties;
        keys(map) = map_keys."""
        if isinstance(e.args[0], A.Variable):
            info = self.vars.get(e.args[0].name)
            if info is not None and info.kind in ("node", "edge"):
                c = F.col(e.args[0].name)
                pairs = [F.when(c.getField(f).isNotNull(), F.lit(f))
                         for f in info.fields]
                if not pairs:
                    return F.array().cast("array<string>")
                return F.filter(F.array(*pairs),
                                lambda x: x.isNotNull())
        c = self.compile(e.args[0])
        try:
            dt = self.dtype(c)
        except Exception:
            dt = None
        if isinstance(dt, T.StructType):
            # map literals compile to structs — keys are the field names
            return F.array(*[F.lit(f) for f in dt.fieldNames()
                             if f != "__maplit"])
        return F.map_keys(c)

    def _fn_datetrunc(self, e: A.FuncCall) -> Column:
        if not isinstance(e.args[0], A.Literal):
            raise CompileError("dateTrunc unit must be a string literal")
        return F.date_trunc(str(e.args[0].value),
                            self.compile(e.args[1]))

    def _fn_timestamp(self, e: A.FuncCall) -> Column:
        # fixed per query via QueryCtx (src/arithmetic/time_funcs/
        # time_funcs.c:22)
        return F.lit(self.query_time_ms)

    def _path_field(self, e: A.FuncCall, field: str) -> Column:
        c = self.compile(e.args[0])
        try:
            if isinstance(self.dtype(c), T.NullType):
                return F.lit(None)   # nodes(null) / relationships(null)
        except Exception:
            pass
        return c.getField(field)

    def _fn_nodes(self, e: A.FuncCall) -> Column:
        return self._path_field(e, "nodes")

    def _fn_relationships(self, e: A.FuncCall) -> Column:
        return self._path_field(e, "edges")

    def _fn_point(self, e: A.FuncCall) -> Column:
        m = self.compile(e.args[0])
        return F.struct(m.getField("latitude").cast("double").alias("latitude"),
                        m.getField("longitude").cast("double").alias("longitude"))

    def _fn_distance(self, e: A.FuncCall) -> Column:
        # haversine, matching src/arithmetic/point_funcs/point_funcs.c
        p1 = self.compile(e.args[0])
        p2 = self.compile(e.args[1])
        lat1 = F.radians(p1.getField("latitude"))
        lat2 = F.radians(p2.getField("latitude"))
        dlat = lat2 - lat1
        dlon = F.radians(p2.getField("longitude")) - F.radians(p1.getField("longitude"))
        a = F.sin(dlat / 2) ** 2 + F.cos(lat1) * F.cos(lat2) * F.sin(dlon / 2) ** 2
        return F.lit(2 * 6378140.0) * F.asin(F.sqrt(a))

    def _fn_tointeger(self, e: A.FuncCall) -> Column:
        c = self.compile(e.args[0])
        if self._is_variant(c):
            # bool/list payloads raise like the reference
            # (InvalidArgumentValue, TypeConversion2[8])
            from .variant import TAG_ARRAY, TAG_BOOL, num_view, str_view
            tag = c.getField("_vt")
            ok = F.coalesce(
                num_view(c).cast("long"),
                str_view(c).try_cast("long"),
                str_view(c).try_cast("double").cast("long"))
            return F.when(
                tag.isin(TAG_BOOL, TAG_ARRAY),
                F.raise_error(F.lit(
                    "toInteger(): invalid argument type"
                )).cast("long")).otherwise(ok)
        if self._static_is_numeric(e.args[0]):
            # provably numeric input: the string-parse fallback branch
            # can never fire — one try_cast instead of the coalesce of
            # two (identical for every numeric: long/int pass through,
            # float/double truncate, NaN/±inf/overflow → null either
            # way). Halves the per-row cast work in fixed-point
            # aggregates like tointeger(round(x*100)).
            return c.try_cast("long")
        # unparseable → null, not ANSI error; toInteger('2.9')
        # truncates through the float parse
        return F.coalesce(c.try_cast("long"),
                          c.try_cast("double").try_cast("long"))

    def _fn_tofloat(self, e: A.FuncCall) -> Column:
        c = self.compile(e.args[0])
        if self._is_variant(c):
            from .variant import TAG_ARRAY, TAG_BOOL, num_view, str_view
            tag = c.getField("_vt")
            ok = F.coalesce(num_view(c),
                            str_view(c).try_cast("double"))
            return F.when(
                tag.isin(TAG_BOOL, TAG_ARRAY),
                F.raise_error(F.lit(
                    "toFloat(): invalid argument type"
                )).cast("double")).otherwise(ok)
        return c.try_cast("double")

    def _fn_toboolean(self, e: A.FuncCall) -> Column:
        c = self.compile(e.args[0])
        if self._is_variant(c):
            from .variant import TAG_BOOL, TAG_STRING, bool_view, str_view
            tag = c.getField("_vt")
            ok = F.coalesce(bool_view(c), str_view(c).try_cast("boolean"))
            return F.when(
                tag.isNotNull() & ~tag.isin(TAG_BOOL, TAG_STRING),
                F.raise_error(
                    F.lit("toBoolean(): invalid argument type")
                ).cast("boolean")).otherwise(ok)
        cls = self._cmp_class(c)
        if cls in ("num", "array", "map", "temporal", "tstruct"):
            raise CompileError(
                "toBoolean() expects a boolean or string")
        return c.try_cast("boolean")

    def _fn_tostring(self, e: A.FuncCall) -> Column:
        c = self.compile(e.args[0])
        if self._is_variant(c):
            # toString accepts scalars only; list/map/entity payloads
            # raise like the reference (string_funcs.c toString arg
            # validation → InvalidArgumentValue)
            from .variant import TAG_ARRAY, render
            tag = c.getField("_vt")
            return F.when(
                tag == TAG_ARRAY,
                F.raise_error(F.lit(
                    "toString(): invalid argument type"
                )).cast("string")).otherwise(render(c))
        cls = self._cmp_class(c)
        if cls == "tstruct":
            from .temporal_cols import render
            return render(self.bind_temporal(c))
        if cls in ("array", "map"):
            raise CompileError("toString(): invalid argument type")
        return c.cast("string")

    def _fn_todecimal(self, e: A.FuncCall) -> Column:
        """Engine extension (not in the reference): exact decimal cast,
        `todecimal(x, scale)` — lets aggregate sums be order-independent
        so distributed results are bit-identical to any oracle."""
        scale = 4
        if len(e.args) > 1 and isinstance(e.args[1], A.Literal):
            scale = int(e.args[1].value)
        return self.compile(e.args[0]).cast(f"decimal(18,{scale})")


class _LambdaCompiler(ExprCompiler):
    """ExprCompiler with extra lambda-bound variables mapped to Columns."""

    def __init__(self, parent: ExprCompiler,
                 bindings: dict[str, Column]) -> None:
        super().__init__(parent.df, parent.vars, parent.params,
                         parent.query_time_ms)
        self.variants_possible = parent.variants_possible
        self._made_variant = getattr(parent, "_made_variant", False)
        self._planner = getattr(parent, "_planner", None)
        self.bindings = dict(bindings)
        self._binding_types: dict[str, T.DataType] = {}
        if isinstance(parent, _LambdaCompiler):
            for k, v in parent.bindings.items():
                self.bindings.setdefault(k, v)
            for k, v in parent._binding_types.items():
                self._binding_types.setdefault(k, v)

    def _c_Variable(self, e: A.Variable) -> Column:
        if e.name in self.bindings:
            return self.bindings[e.name]
        return super()._c_Variable(e)

    def dtype(self, col: Column) -> T.DataType:
        # lambda-bound columns can't be analyzed against the plan; use
        # the element dtype hint when the column IS a binding
        for k, v in self.bindings.items():
            if col is v and k in self._binding_types:
                return self._binding_types[k]
        return super().dtype(col)


# Registry of functions that are a direct pyspark.sql.functions mapping.
# Reference registrations: string_funcs.c:249-324, numeric_funcs.c:144-203,
# list_funcs.c:222-263, conditional_funcs.c:83-88, map_funcs.c:49.
_SIMPLE_FUNCS = {
    "abs": F.abs,
    "ceil": lambda c: F.ceil(c).cast("double"),
    "floor": lambda c: F.floor(c).cast("double"),
    "rand": lambda: F.rand(),
    "round": lambda c: F.round(c, 0),
    "sign": lambda c: F.signum(c).cast("long"),
    "sqrt": F.sqrt,
    "e": lambda: F.lit(2.718281828459045),
    "exp": F.exp,
    "log": F.log,
    "log10": F.log10,
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "cot": lambda c: F.lit(1.0) / F.tan(c),
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "atan2": F.atan2,
    "pi": lambda: F.lit(3.141592653589793),
    "degrees": F.degrees,
    "radians": F.radians,
    "haversin": lambda c: (F.lit(1.0) - F.cos(c)) / 2,
    "left": lambda s, n: s.substr(F.lit(1), n.cast("int")),
    "right": lambda s, n: s.substr(F.length(s) - n.cast("int") + 1, n.cast("int")),
    "ltrim": F.ltrim,
    "rtrim": F.rtrim,
    "trim": F.trim,
    "reverse": F.reverse,
    "tolower": F.lower,
    "toupper": F.upper,
    "tojson": F.to_json,
    "split": F.split,
    "replace": lambda s, a, b: F.replace(s, a, b),
    "randomuuid": lambda: F.expr("uuid()"),
    "coalesce": F.coalesce,
    "head": lambda c: F.try_element_at(c, F.lit(1)),   # head([]) = null
    "last": lambda c: F.try_element_at(c, F.lit(-1)),
    "tail": lambda c: F.slice(c, 2, F.greatest(F.size(c) - 1, F.lit(0))),
    # range() is a method (_fn_range): literal type validation + empty
    # result when the step direction cannot reach the bound
    "keys": lambda c: F.map_keys(c),
    "tomap": lambda c: c,
    # tolist: wrap the arguments as a list (list_funcs.c:222-263)
    "tolist": lambda *cs: F.array(*cs),
    # engine extension: deterministic list ordering (for stable collect()
    # results in distributed execution; not in the reference registry)
    "sort": F.sort_array,
    # temporal COMPONENT accessors on Spark-native date/timestamp
    # columns (parquet data); the full openCypher temporal API (date()
    # etc. constructors and struct values) lives in _temporal_call /
    # functions/temporal_kernel.py — the reference declares temporal
    # types but never implements them (docs/cypher_support.md:20-22,
    # value.h:28-33 'declared but NOT implemented')
    "year": F.year,
    "month": F.month,
    "day": F.dayofmonth,
    "hour": F.hour,
    "minute": F.minute,
    "second": F.second,
    "dayofweek": F.dayofweek,
    "epochmillis": lambda c: (F.unix_timestamp(c) * 1000
                              + (F.date_format(c, "SSS")).cast("long")),
}


def _builder_arity(fn) -> tuple[int, int | None]:
    """(min, max) positional arity of a _SIMPLE_FUNCS builder from its
    signature; max None = unbounded (*args)."""
    import inspect
    try:
        sig = inspect.signature(fn)
    except (TypeError, ValueError):   # C-level callable — don't guess
        return (0, None)
    lo = 0
    hi: int | None = 0
    for p in sig.parameters.values():
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD):
            if hi is not None:
                hi += 1
            if p.default is p.empty:
                lo += 1
        elif p.kind == p.VAR_POSITIONAL:
            hi = None
    return (lo, hi)


_ARITY_CACHE: dict[str, tuple[int, int | None]] = {}

# explicit arity for the _fn_* handlers (they index e.args directly, so
# they are validated BEFORE dispatch — see _c_FuncCall)
_FN_ARITY: dict[str, tuple[int, int | None]] = {
    "substring": (2, 3),
    "size": (1, 1),
    "length": (1, 1),
    "id": (1, 1),
    "labels": (1, 1),
    "type": (1, 1),
    "startnode": (1, 1),
    "endnode": (1, 1),
    "exists": (1, 1),
    "properties": (1, 1),
    "property": (2, 2),
    "range": (2, 3),
    "tomap": (0, None),
    "keys": (1, 1),
    "datetrunc": (2, 2),
    "timestamp": (0, 0),
    "nodes": (1, 1),
    "relationships": (1, 1),
    "point": (1, 1),
    "distance": (2, 2),
    "tointeger": (1, 1),
    "tofloat": (1, 1),
    "toboolean": (1, 1),
    "tostring": (1, 1),
    "todecimal": (1, 2),
}

# _FN_ARITY is a hand-maintained parallel table; a handler added without
# an entry would skip arity validation and leak raw IndexErrors to
# users. Fail at import time instead.
_missing_arity = [n[4:] for n in dir(ExprCompiler)
                  if n.startswith("_fn_") and n[4:] not in _FN_ARITY]
assert not _missing_arity, \
    f"_fn_* handlers missing _FN_ARITY entries: {_missing_arity}"
del _missing_arity
