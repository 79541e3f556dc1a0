"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, adaptive skew-join,
broadcast threshold sized for dimension tables) while remaining correct
on local[N] test runs.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_JOB_TAGS = itertools.count()


@contextmanager
def job_tag(spark: SparkSession, prefix: str):
    """Tag the Spark jobs this thread starts inside the block with a
    fresh tag, and yield the tag: ``cancelJobsWithTag`` cancels them
    and ``statusTracker().getJobIdsForTag`` lists them. A tag adds to
    the caller's job group, local properties and tags; it replaces
    none of them."""
    sc = spark.sparkContext
    tag = f"{prefix}-{next(_JOB_TAGS)}"
    sc.addJobTag(tag)
    try:
        yield tag
    finally:
        sc.removeJobTag(tag)


def inline_df(spark: SparkSession, rows: list[tuple],
              schema: list[tuple[str, str]]):
    """Small driver-side rows (a mutation's pinned key set, a tiny
    dimension table inlined at build time) as a plan with no shuffle.

    ``spark.createDataFrame(small_list)`` parallelizes into
    defaultParallelism (32) mostly-empty tasks — ~1-3 s of scheduling
    per collect for a handful of rows. Rows whose cells render as SQL
    literals become one VALUES relation (a LocalRelation); anything
    else is an exploded array of struct literals over a single-partition
    range, which keeps the whole thing one task (~0.1 s). ``schema`` is
    [(name, sql_type)].
    """
    from pyspark.sql import functions as F
    ddl = ", ".join(f"`{n}` {t}" for n, t in schema)
    if not rows:
        return spark.createDataFrame([], ddl)
    sql = _values_sql(rows, schema, _escaped_literals(spark))
    if sql is not None:
        # one py4j round-trip and a LocalRelation (zero tasks on
        # collect) — the Column-builder below costs ~3 JVM calls per
        # CELL, which adds up in mutation scripts that inline several
        # small key sets per query
        return spark.sql(sql)
    structs = [
        F.struct(*[_cell_lit(v, t).alias(n)
                   for v, (n, t) in zip(row, schema)])
        for row in rows]
    return (spark.range(0, 1, 1, 1)
            .select(F.explode(F.array(*structs)).alias("__r"))
            .select("__r.*"))


# column types `inline_df` builds a one-task plan for (the tpch
# build-time inliner)
INLINE_TYPES = {"bigint", "int", "smallint", "tinyint", "double",
                "float", "string", "boolean", "date", "timestamp"}


def _escaped_literals(spark: SparkSession) -> bool:
    """Whether ``spark.sql.parser.escapedStringLiterals`` is on for this
    session (user-provided sessions may flip it — round-7 advice: the
    backslash-escaped rendering silently corrupts data under that conf).
    Memoized on the session object: inline_df sits on the mutation hot
    path and a conf read is a py4j round-trip."""
    cached = getattr(spark, "_rg_escaped_literals", None)
    if cached is None:
        cached = str(spark.conf.get(
            "spark.sql.parser.escapedStringLiterals", "false")) \
            .lower() == "true"
        try:
            spark._rg_escaped_literals = cached
        except Exception:
            pass
    return cached


def _cell_lit(v, t: str):
    """Literal Column for one inline cell — temporal kernel values
    become typed struct literals (planner/temporal_cols)."""
    from pyspark.sql import functions as F

    from .functions.temporal_kernel import TEMPORAL_CLASSES
    if isinstance(v, TEMPORAL_CLASSES):
        from .planner.temporal_cols import temporal_lit
        return temporal_lit(v)
    if isinstance(v, (list, tuple)) and any(
            isinstance(x, TEMPORAL_CLASSES) for x in v):
        from .planner.temporal_cols import TEMPORAL_TYPE, temporal_lit
        return F.array(*[
            temporal_lit(x) if x is not None
            else F.lit(None).cast(TEMPORAL_TYPE) for x in v])
    return F.lit(v).cast(t)


def _sql_literal(v, escaped_literals: bool) -> str | None:
    """One plain-scalar value as an SQL literal; None when it needs
    more than literal rendering."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{v}' AS DOUBLE)"
        return repr(v)
    if isinstance(v, str):
        if "\x00" in v:
            return None              # NUL breaks the SQL literal
        if escaped_literals:
            # NO escape sequence exists under this conf (backslash
            # AND quote-doubling are both literal) — pick the quote
            # style the data doesn't use; both kinds present →
            # Column-builder fallback
            if "'" not in v:
                return "'" + v + "'"
            if '"' not in v:
                return '"' + v + '"'
            return None
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return None


# column types whose values render as SQL literals (`sql_cells`); a
# `void` column is a bare NULL (a SET to null)
LITERAL_TYPES = {"boolean", "int", "integer", "bigint", "long", "double",
                 "float", "string", "void"}


def sql_cells(rows: list[tuple], types: list[str],
              escaped_literals: bool = False) -> list[list[str]] | None:
    """Each cell of ``rows`` as a typed SQL literal ``CAST(v AS t)``,
    ``types`` holding one SQL type per column; None when a type or a
    value needs more than literal rendering."""
    if not all(t.lower() in LITERAL_TYPES for t in types):
        return None
    out = []
    for row in rows:
        cells = []
        for v, t in zip(row, types):
            r = _sql_literal(v, escaped_literals)
            if r is None:
                return None
            cells.append(f"CAST({r} AS {t})")
        out.append(cells)
    return out


def _values_sql(rows: list[tuple],
                schema: list[tuple[str, str]],
                escaped_literals: bool = False) -> str | None:
    """Render ``SELECT ... FROM VALUES`` for plain-scalar rows; None
    when a value needs more than literal rendering (caller falls back
    to the Column builder)."""
    cells = sql_cells(rows, [t for _, t in schema], escaped_literals)
    if cells is None:
        return None
    out = ", ".join("(" + ", ".join(c) + ")" for c in cells)
    cols = ", ".join(f"`{n}`" for n, _ in schema)
    return f"SELECT * FROM VALUES {out} AS __v({cols})"


TEMPORAL_DDL = ("struct<_tt:tinyint,_days:bigint,_nanos:bigint,"
                "_months:bigint,_offset:int,_zone:string>")


def _lit_sql_type(v) -> str | None:
    """SQL type for a python literal, mirroring createDataFrame's
    inference; None = unsupported here (caller falls back)."""
    import datetime
    from .functions.temporal_kernel import TEMPORAL_CLASSES
    if isinstance(v, TEMPORAL_CLASSES):
        return TEMPORAL_DDL
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, list):
        inner = None
        for x in v:
            t = _lit_sql_type(x) if x is not None else None
            if isinstance(x, TEMPORAL_CLASSES):
                inner = t
                continue
            if isinstance(x, (list, dict)):
                return None
            if t is not None:
                if inner is not None and inner != t:
                    return None
                inner = t
        return f"array<{inner or 'string'}>"
    return None


def inline_rows_df(spark: SparkSession, rows: list[dict]):
    """``inline_df`` for row-dicts with inferred types (the CREATE/MERGE
    pending-row path). Returns None when a value needs full
    createDataFrame inference (structs, decimals, mixed-type lists)."""
    cols: list[str] = []
    types: dict[str, str | None] = {}
    for r in rows:
        for k, v in r.items():
            if k not in types:
                types[k] = None
                cols.append(k)
            if v is not None:
                t = _lit_sql_type(v)
                if t is None:
                    return None
                prev = types[k]
                if prev is None or prev == t:
                    types[k] = t
                elif {prev, t} == {"long", "double"}:
                    types[k] = "double"   # widen mixed numerics
                else:
                    # heterogeneous scalar types for one key — the
                    # caller must split rows into homogeneous groups
                    # (variant encoding happens at the table union)
                    return None
    schema = [(k, types[k] or "string") for k in cols]
    data = [tuple(r.get(k) for k in cols) for r in rows]
    return inline_df(spark, data, schema)


# ---------------------------------------------------------- adaptive gate
# Per-application tuning state: baseline shuffle partitions captured the
# first time the gate runs, and the largest input seen so far (ratchet —
# one big graph in the session keeps cluster-scale settings for good).
_TUNE_STATE: dict[str, dict] = {}

# Below this footer-known total input size, adaptive execution is pure
# overhead: every ShuffleQueryStage / BroadcastQueryStage materializes
# as its own scheduled job, and on a sub-256MB working set the job
# floor dominates the data work AQE would re-plan (measured on the
# sf0.1 headline set: 16 entries, AQE on/32 partitions 6.25 s vs
# AQE off/8 partitions 4.8-5.2 s — every shuffle already fits in a
# handful of partitions, so there is nothing for runtime re-planning
# to fix). At the 100 TB design point the gate NEVER fires — footer
# bytes exceed any threshold — and AQE + skew-join + coalescing stay
# on exactly as before.
_ADAPTIVE_MIN_BYTES = int(os.environ.get(
    "SPARK_GRAFT_ADAPTIVE_MIN_BYTES", str(256 * 1024 * 1024)))


def tune_for_input(spark: SparkSession, total_bytes: int) -> None:
    """Statistics-gated execution tuning (the engine's cost-model knob).

    The reference sizes its traversal batching from graph statistics
    (graph_statistics.h); the Spark analog is sizing the SHUFFLE plan
    from footer-known input bytes:

    - small input (< ``SPARK_GRAFT_ADAPTIVE_MIN_BYTES``, default 256MB
      compressed): adaptive execution off + shuffle partitions sized to
      the data (~1 partition per 2MB compressed input, floor 8 so
      frontier joins keep enough parallelism) — one scheduled job per
      query instead of one per query stage.
    - large input: adaptive on, baseline partitions — the cluster-scale
      path (runtime coalescing, skew-join splitting) is untouched.

    Ratchet: once any input in the session crosses the threshold the
    cluster-scale settings stick — a later small graph must not degrade
    a session that also serves a big one.
    """
    app = spark.sparkContext.applicationId
    st = _TUNE_STATE.setdefault(app, {
        "baseline_sp": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "max_bytes": -1})
    if total_bytes <= st["max_bytes"]:
        return                      # a smaller graph never re-tunes down
    st["max_bytes"] = total_bytes
    if total_bytes >= _ADAPTIVE_MIN_BYTES:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(st["baseline_sp"]))
    else:
        sp = min(st["baseline_sp"],
                 max(8, int(total_bytes // (2 * 1024 * 1024)) + 1))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(sp))


def plan_input_bytes(df) -> int:
    """Footer-known size of a DataFrame's input (no jobs scheduled):
    the optimized plan's statistics, which for parquet scans come from
    file footers and for literal relations from the rows themselves."""
    try:
        n = df._jdf.queryExecution().optimizedPlan().stats() \
            .sizeInBytes()
        return int(min(n, 1 << 62))
    except Exception:
        return 1 << 62              # unknown → assume big (keep AQE)


def _install_jvm_function_cache() -> None:
    """Memoize PySpark's per-call JVM function lookup (r11, guide §4:
    shrink the Python↔JVM boundary).

    Every ``F.<fn>(...)`` goes through
    ``pyspark.sql.functions.builtin._get_jvm_function``, which does
    ``getattr(getattr(sc._jvm, "org.apache.spark.sql.functions"), name)``
    — py4j resolves BOTH attributes with a blocking reflection round
    trip each time, so a fresh plan build pays 2 extra JVM round trips
    per function call (measured: 346 of 1136 py4j messages building
    q_two_hop_revenue's plan were reflection). The resolved JavaMember
    handle is a stable (class, method-name) pair, so cache it per JVM
    view; the WeakKeyDictionary drops the cache with the gateway, and
    a restarted JVM gets a fresh view object (never a stale handle)."""
    import weakref

    try:
        from pyspark.sql.functions import builtin as _fb
    except ImportError:      # layout changed: keep the stock path
        return
    orig = getattr(_fb, "_get_jvm_function", None)
    if orig is None or getattr(orig, "_rg_cached", False):
        return
    caches: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

    def cached(name, sc):
        jvm = sc._jvm
        try:
            cache = caches.get(jvm)
            if cache is None:
                cache = caches[jvm] = {}
        except TypeError:            # un-weakref-able view: stock path
            return orig(name, sc)
        jf = cache.get(name)
        if jf is None:
            jf = cache[name] = orig(name, sc)
        return jf

    cached._rg_cached = True
    _fb._get_jvm_function = cached

    # Same disease in the column/seq helpers: _to_seq/_to_list resolve
    # sc._jvm.PythonUtils.<fn> per call (2 reflection round trips: an
    # unqualified JVMView search + a member lookup) and
    # _create_column_from_name resolves sc._jvm.functions.col per
    # name-ref (measured: 66 + 44 reflection messages on one fresh
    # q_two_hop_revenue build). Cache the JavaMember handles per JVM.
    try:
        import pyspark.sql.classic.column as _cc
        import pyspark.sql.classic.dataframe as _cdf
    except ImportError:
        return
    pu_caches: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

    def _py_utils(sc, member):
        jvm = sc._jvm
        try:
            cache = pu_caches.get(jvm)
            if cache is None:
                cache = pu_caches[jvm] = {}
        except TypeError:
            return getattr(jvm.PythonUtils, member)
        jf = cache.get(member)
        if jf is None:
            jf = cache[member] = getattr(jvm.PythonUtils, member)
        return jf

    def _to_seq(sc, cols, converter=None):
        if converter:
            cols = [converter(c) for c in cols]
        assert sc._jvm is not None
        return _py_utils(sc, "toSeq")(cols)

    def _to_list(sc, cols, converter=None):
        if converter:
            cols = [converter(c) for c in cols]
        assert sc._jvm is not None
        return _py_utils(sc, "toList")(cols)

    def _create_column_from_name(name):
        from pyspark.sql.utils import get_active_spark_context
        sc = get_active_spark_context()
        return cached("col", sc)(name)

    # classic.dataframe from-imports these at module load, so rebind
    # there too; every other pyspark call site imports them lazily
    # inside the calling function and picks up the column-module attrs
    for _mod in (_cc, _cdf):
        _mod._to_seq = _to_seq
        _mod._to_list = _to_list
    _cc._create_column_from_name = _create_column_from_name


def get_spark(app_name: str = "redisgraph-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE enabled: runtime coalescing of shuffle partitions and skew-join
      splitting replace the reference's fixed 16-row traversal batches
      (reference ``ops/op_conditional_traverse.c:13``) with adaptive,
      cluster-scale batching.
    - ``autoBroadcastJoinThreshold`` generous: graph traversals against
      small label tables (Region/Nation-sized dims) become broadcast
      hash joins — no shuffle of the big side.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64MB static: any side whose FOOTER-KNOWN size is <64MB is
        # safe to broadcast at any scale (it fits in executor memory);
        # TB-scale tables never pass the footer check, so this does
        # not invert at 100TB. Statically-broadcast plans also run as
        # ONE job locally where the AQE shuffle-then-upgrade path runs
        # 6 stage-jobs (measured: 1.6s vs 0.6s on the two-hop at
        # sf0.1). The adaptive threshold additionally upgrades
        # shuffle joins to broadcast at runtime from REAL sizes when
        # the static estimate was unavailable.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 wraps every DataFrame/Column API call to capture
        # the user's call site for error query-contexts; measured on
        # the mutation path that is 5 extra JVM round trips per call
        # (~30% of all planner py4j traffic). This engine builds plans
        # programmatically — the captured frames would all point at
        # the planner itself — and maps errors through its own layer,
        # so the context is pure overhead. Public conf, process-cached
        # by pyspark.errors.utils.is_debugging_enabled at first use.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # limit().collect() probes (mutation key sets, merge match
        # probes) otherwise run Spark's incremental take — 1 partition,
        # then 4x more, then 16x: three scheduled jobs to read a 5-row
        # match. Scanning 64 partitions in the first take job turns
        # them into ONE job; a LIMIT k over a 100TB table probes 64
        # partitions up front, which the scaleUpFactor loop would have
        # reached by its third round anyway.
        .config("spark.sql.limit.initialNumPartitions", "64")
        # testdata events.parquet uses TIMESTAMP(NANOS); read as long
        # and convert (Spark has no native nanos timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode driver IS the executor: size the heap for 32
        # threads of shuffle + localCheckpoint blocks (8g heap showed
        # GC-driven 3-4x tail latencies on long sessions)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    _install_jvm_function_cache()
    active = SparkSession.getActiveSession()
    if active is not None:
        _quiet_probe_logger(active)
        return active
    spark = builder.master(master).getOrCreate()
    _quiet_probe_logger(spark)
    return spark


def _quiet_probe_logger(spark: SparkSession) -> None:
    """The planner's recoverable type probes (planner/expressions.py
    ``dtype``) analyze candidate expressions against an empty frame and
    catch the AnalysisException — but Spark's DataFrameQueryContextLogger
    logs each one at ERROR before raising, flooding driver logs with
    scary UNRESOLVED_COLUMN noise. Turn that one logger off; real
    failures still surface as Python exceptions."""
    import logging
    logging.getLogger("DataFrameQueryContextLogger").setLevel(
        logging.CRITICAL + 1)
