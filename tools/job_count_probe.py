"""Per-entry Spark job-count probe (guide §1: measure first).

Warm totals at sf0.1 are floor-bound: each scheduled job costs the
box's per-job floor (~0.02 s idle), so an entry's warm wall is roughly
jobs x floor + data time. Job COUNTS are load-independent, which makes
this probe valid even on a busy box. For each named entry it runs the
query once cold, then once warm (fresh plan, .toPandas() like the
bench) inside a job group and reports how many jobs the warm run
scheduled.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/job_count_probe.py \
      q_two_hop_revenue q_var_len ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from redisgraph_spark import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job-count-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    if not names:
        sys.exit(__doc__)

    # warm the engine like the bench's load phase
    g = entrymod._graph(spark, sf_dir)
    g.query("MATCH (r:Region) RETURN count(r) AS n").collect()

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = {}
    for name in names:
        fn = qs[name]
        # cold pass (plan cache fill, codegen, JIT)
        fn(spark, sf_dir).toPandas()
        # bench-warm pass: fresh physical plan (no broadcast/shuffle
        # reuse), prep outside the count, then count jobs of toPandas
        df = fn(spark, sf_dir)
        fresh = df.filter(F.lit(True))
        fresh._jdf.queryExecution().executedPlan()
        group = f"jcpw-{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        fresh.toPandas()
        wwall = time.time() - t0
        sc.setJobGroup(None, None)
        wjobs = len(tracker.getJobIdsForGroup(group))
        # steady pass: same cached handle
        group = f"jcps-{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        fn(spark, sf_dir).toPandas()
        swall = time.time() - t0
        sc.setJobGroup(None, None)
        sjobs = len(tracker.getJobIdsForGroup(group))
        out[name] = {"warm_jobs": wjobs, "warm_s": round(wwall, 3),
                     "steady_jobs": sjobs, "steady_s": round(swall, 3)}
        print(f"{name:24s} warm_jobs={wjobs:3d} warm={wwall:6.3f}s  "
              f"steady_jobs={sjobs:3d} steady={swall:6.3f}s",
              flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
