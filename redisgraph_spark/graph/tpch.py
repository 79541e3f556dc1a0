"""Graph projection of the driver's TPC-H-ish tables (FIXTURES.md §4).

Builds the ``tpch-graph`` property graph from ``/root/testdata/sf*/``:

Nodes: Region, Nation, Customer, Supplier, Part, Order — one label per
source table, properties keep their TPC-H column names (so DuckDB oracle
SQL stays a plain join over the raw tables).

Edges: IN_REGION (Nation→Region), IN_NATION (Customer→Nation,
Supplier→Nation), PLACED (Customer→Order), CONTAINS (Order→Part,
properties from lineitem), SUPPLIED_BY (Part→Supplier, distinct pairs
derived from lineitem).

Node ids are namespaced per label (offset + natural key) — deterministic
and collision-free; the analog of the reference's DataBlock entity ids
(``src/graph/graph.h:70-71``) while preserving joinability back to the
natural keys.

Scale note: every projection below is a pure column-level ``select`` over
one parquet scan (plus one ``distinct`` for SUPPLIED_BY), so predicate
pushdown and column pruning reach the files; nothing is collected to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Per-label id namespaces. 1e12 gap leaves room for ~1e12 entities per
# label — far beyond 100 TB scale for these tables.
OFF = {
    "Region": 1_000_000_000_000,
    "Nation": 2_000_000_000_000,
    "Customer": 3_000_000_000_000,
    "Supplier": 4_000_000_000_000,
    "Part": 5_000_000_000_000,
    "Order": 6_000_000_000_000,
}
# Per-relation edge-id namespaces, 1e16 apart: CONTAINS ids are dense
# (orderkey*8 + linenumber ≤ 1.2e13 even at SF 100k ≈ 100 TB), so a
# 1e16 gap keeps every relation's range disjoint with ~1000× headroom.
EOFF = {
    "IN_REGION": 10_000_000_000_000_000,
    "IN_NATION": 20_000_000_000_000_000,
    "PLACED": 30_000_000_000_000_000,
    "CONTAINS": 40_000_000_000_000_000,
    # SUPPLIED_BY ids are hash-derived (see below): the (partkey,
    # suppkey) pair can't be densely packed into 64 bits at 100 TB
    # (partkey ≤ 2e10 × suppkey ≤ 1e9 overflows int64)
    "SUPPLIED_BY": 1_000_000_000_000_000_000,
}


def _nid(label: str, key):
    return (F.col(key).cast("long") + F.lit(OFF[label])).alias("_id")


# Constructed projections per (session, sf_dir): the parquet listing /
# schema-inference / footer-statistics work is identical for every
# Graph over the same files, and the DataFrames are immutable — only
# the per-Graph table DICTS must be fresh (mutations replace entries).
# ~0.9 s per Graph.from_tpch call saved on repeated loads.
_BUILD_CACHE: dict = {}


def tpch_graph(spark: SparkSession, sf_dir: str):
    from redisgraph_spark.graph.graph import Graph

    # applicationId (not id(spark)): a new session reusing a freed
    # session object's address must not hit stale DataFrames bound to
    # a stopped SparkContext
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _BUILD_CACHE.get(key)
    if cached is not None:
        nodes, edges, count_hints, plans, total_bytes = cached
        # every instance starts from the SAME immutable base tables, so
        # version-0 plans are valid across instances — share one plan
        # cache (the reference's per-graph compiled-plan cache,
        # execution_ctx.c:79-88); post-mutation plans are isolated by
        # the per-instance epoch in the cache key
        return Graph(spark, nodes, edges, name="tpch",
                     rel_endpoints=_REL_ENDPOINTS, count_hints=count_hints,
                     plan_cache=plans, input_bytes=total_bytes)

    def rd(name: str) -> DataFrame:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    region, nation, customer = rd("region"), rd("nation"), rd("customer")
    supplier, part, orders = rd("supplier"), rd("part"), rd("orders")
    lineitem = rd("lineitem")

    nodes = {
        "Region": region.select(_nid("Region", "r_regionkey"),
                                "r_regionkey", "r_name"),
        "Nation": nation.select(_nid("Nation", "n_nationkey"),
                                "n_nationkey", "n_name"),
        "Customer": customer.select(_nid("Customer", "c_custkey"),
                                    "c_custkey", "c_name", "c_acctbal",
                                    "c_mktsegment"),
        "Supplier": supplier.select(_nid("Supplier", "s_suppkey"),
                                    "s_suppkey", "s_name", "s_acctbal"),
        "Part": part.select(_nid("Part", "p_partkey"),
                            "p_partkey", "p_name", "p_brand", "p_type",
                            "p_size", "p_retailprice"),
        "Order": orders.select(_nid("Order", "o_orderkey"),
                               "o_orderkey", "o_orderstatus", "o_totalprice",
                               "o_orderdate", "o_orderpriority"),
    }

    in_region = nation.select(
        (F.col("n_nationkey").cast("long") + EOFF["IN_REGION"]).alias("_id"),
        (F.col("n_nationkey").cast("long") + OFF["Nation"]).alias("_src"),
        (F.col("n_regionkey").cast("long") + OFF["Region"]).alias("_dst"),
    )
    # Customers and suppliers share IN_NATION; offset suppliers' edge ids
    # by 5e11 within the relation namespace to avoid collisions.
    in_nation = customer.select(
        (F.col("c_custkey").cast("long") + EOFF["IN_NATION"]).alias("_id"),
        (F.col("c_custkey").cast("long") + OFF["Customer"]).alias("_src"),
        (F.col("c_nationkey").cast("long") + OFF["Nation"]).alias("_dst"),
    ).unionByName(supplier.select(
        (F.col("s_suppkey").cast("long") + EOFF["IN_NATION"]
         + 500_000_000_000).alias("_id"),
        (F.col("s_suppkey").cast("long") + OFF["Supplier"]).alias("_src"),
        (F.col("s_nationkey").cast("long") + OFF["Nation"]).alias("_dst"),
    ))
    placed = orders.select(
        (F.col("o_orderkey").cast("long") + EOFF["PLACED"]).alias("_id"),
        (F.col("o_custkey").cast("long") + OFF["Customer"]).alias("_src"),
        (F.col("o_orderkey").cast("long") + OFF["Order"]).alias("_dst"),
    )
    # TPC-H linenumber ≤ 7, so orderkey*8 + linenumber is unique.
    contains = lineitem.select(
        (F.col("l_orderkey").cast("long") * 8
         + F.col("l_linenumber").cast("long")
         + EOFF["CONTAINS"]).alias("_id"),
        (F.col("l_orderkey").cast("long") + OFF["Order"]).alias("_src"),
        (F.col("l_partkey").cast("long") + OFF["Part"]).alias("_dst"),
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        "l_suppkey",
    )
    # hash-derived ids in [1e18, 9e18): deterministic and coordination-
    # free; collision odds ~(n_pairs)²/2/8e18 ≈ 4e-16 per pair — at SF
    # 1e5 (~8e10 pairs) a few hundred expected collisions, which only
    # soften edge-identity dedup for this derived relation (the old
    # dense partkey*1e6+suppkey encoding COLLIDED deterministically
    # once suppkey exceeded 1e6, i.e. beyond SF 100)
    supplied_by = (
        lineitem.select("l_partkey", "l_suppkey").distinct().select(
            (F.abs(F.xxhash64(F.col("l_partkey"), F.col("l_suppkey")))
             % F.lit(8_000_000_000_000_000_000)
             + F.lit(EOFF["SUPPLIED_BY"])).alias("_id"),
            (F.col("l_partkey").cast("long") + OFF["Part"]).alias("_src"),
            (F.col("l_suppkey").cast("long") + OFF["Supplier"]).alias("_dst"),
        ))

    edges = {
        "IN_REGION": in_region,
        "IN_NATION": in_nation,
        "PLACED": placed,
        "CONTAINS": contains,
        "SUPPLIED_BY": supplied_by,
    }
    # Seed entity counters from parquet footer metadata — zero Spark
    # jobs (the Delta/parquet-statistics analog of the reference's
    # running counters, src/graph/graph_statistics.h:14-37). Every
    # projection above is 1 row : 1 entity except SUPPLIED_BY
    # (distinct-derived → left to lazy counting).
    count_hints: dict[tuple[str, str], int] = {}
    try:
        import pyarrow.parquet as _pq

        def _rows(name: str) -> int:
            return _pq.ParquetFile(f"{sf_dir}/{name}.parquet") \
                .metadata.num_rows
        tab_rows = {t: _rows(t) for t in (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem")}
        count_hints = {
            ("n", "Region"): tab_rows["region"],
            ("n", "Nation"): tab_rows["nation"],
            ("n", "Customer"): tab_rows["customer"],
            ("n", "Supplier"): tab_rows["supplier"],
            ("n", "Part"): tab_rows["part"],
            ("n", "Order"): tab_rows["orders"],
            ("e", "IN_REGION"): tab_rows["nation"],
            ("e", "IN_NATION"): tab_rows["customer"] + tab_rows["supplier"],
            ("e", "PLACED"): tab_rows["orders"],
            ("e", "CONTAINS"): tab_rows["lineitem"],
        }
    except Exception:
        pass
    # RAM-resident graph under the small-input gate: persist the
    # projections so every equivalent scan in every plan (including
    # fresh Graph instances and mutation-rewrite lineage over the same
    # base) substitutes the in-memory columnar relation via Spark's
    # CacheManager — the reference keeps its matrices RAM-resident
    # unconditionally (graph.h:72-77); at cluster scale the gate stays
    # open and parquet scans + executor block cache take over.
    # Lazy persist: the first action materializes (perfbench bills it to
    # the load phase via warm_traversal/node_count).
    from redisgraph_spark.session import (_ADAPTIVE_MIN_BYTES,
                                          plan_input_bytes)
    total = sum(plan_input_bytes(df)
                for df in list(nodes.values()) + list(edges.values()))
    if total < _ADAPTIVE_MIN_BYTES:
        # tiny dimension tables (footer-known ≤512 plain-scalar rows)
        # become inline VALUES relations at build time, so every scan
        # of them folds to a LocalTableScan (zero scheduled jobs); one
        # capped collect per table per PROCESS (the build cache shares
        # the result across Graph instances). At cluster scale the gate
        # is open and this block never runs.
        from redisgraph_spark.session import INLINE_TYPES, inline_df
        inlined: set = set()
        for tabs, kind in ((nodes, "n"), (edges, "e")):
            for nm, df in list(tabs.items()):
                cnt = count_hints.get((kind, nm))
                if cnt is None or cnt > 512:
                    continue
                if any(f.dataType.simpleString() not in INLINE_TYPES
                       or f.dataType.simpleString() in ("date",
                                                        "timestamp")
                       for f in df.schema.fields):
                    continue
                rows = df.limit(513).collect()
                if len(rows) <= 512:
                    schema = [(f.name, f.dataType.simpleString())
                              for f in df.schema.fields]
                    tabs[nm] = inline_df(
                        spark, [tuple(r) for r in rows], schema)
                    inlined.add((kind, nm))
        for tabs, kind in ((nodes, "n"), (edges, "e")):
            for nm, df in tabs.items():
                # persisting an inline relation would wrap it in an
                # InMemoryRelation and break the LocalTableScan fold
                if (kind, nm) not in inlined:
                    df.persist()
    from redisgraph_spark.graph.graph import PlanCache
    plans = PlanCache()
    _BUILD_CACHE[key] = (nodes, edges, count_hints, plans, total)
    return Graph(spark, nodes, edges, name="tpch",
                 rel_endpoints=_REL_ENDPOINTS, count_hints=count_hints,
                 plan_cache=plans, input_bytes=total)


_REL_ENDPOINTS = {
    "IN_REGION": ("Nation", "Region"),
    "IN_NATION": ({"Customer", "Supplier"}, "Nation"),
    "PLACED": ("Customer", "Order"),
    "CONTAINS": ("Order", "Part"),
    "SUPPLIED_BY": ("Part", "Supplier"),
}
