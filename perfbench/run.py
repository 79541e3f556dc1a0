"""The repository's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload point_lookup --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  The run generates its input tables from
the seed, starts the engine, sets the graph up several times (reporting
the median), warms up, drives the workload in a closed loop for
``--seconds``, checks every answer and stops the engine.  The last line
of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from a traced run (see perfbench/README.md).  Lines before it,
starting with ``#``, record the machine, the versions and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import engine  # noqa: E402
import workloads as W  # noqa: E402
from spans import RequestIds, Tracer  # noqa: E402

WORKLOADS = ("point_lookup", "analytic_write")
SETUP_REPEATS = 2
RUN_LIMIT_S = 175        # hard stop: never outlive the caller's budget


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int) -> float:
    """Highest percentile (capped at 90) with at least 10 samples beyond
    it."""
    return max(0.5, min(0.9, 1 - 10 / n)) if n else 0.9


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def throughput(per_client, ends) -> float:
    """Correct requests per second, each client over its own window (the
    deadline plus the call it finished after it), summed."""
    return sum(sum(1 for r in recs if r.ok) / end
               for recs, end in zip(per_client, ends) if end > 0)


def program_present() -> bool:
    return (os.path.isdir(os.path.join(ROOT, "redisgraph_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def build_graph(spark, entrymod, sf_dir: str, workload: str,
                tracer: Tracer) -> tuple[object, dict]:
    """Load, materialise and warm one graph, plus the workload's own
    set-up (fulltext index or MinHash signatures).  Returns the graph and
    the seconds each step took."""
    steps = {}

    def step(name: str, fn):
        t = time.perf_counter()
        with tracer.span(name):
            out = fn()
        steps[name] = time.perf_counter() - t
        return out

    g = step("graph.load", lambda: entrymod._graph(spark, sf_dir))
    step("graph.materialize", lambda: [
        df.count() for df in list(g.node_tables.values())
        + list(g.edge_tables.values())])
    step("graph.warm", lambda: g.warm_traversal().warm_statistics())
    if workload == "analytic_write":
        step("setup.workload", lambda: entrymod._minhash_sig(spark, sf_dir))
    else:
        step("setup.workload", lambda: g.query(W.FULLTEXT_INDEX).collect())
    return g, steps


def release(g) -> None:
    for df in list(g.node_tables.values()) + list(g.edge_tables.values()):
        df.unpersist()


def end_to_end(recs, qps: float, setup_s: float, rss_mb: float) -> dict:
    lat = [r.latency * 1e3 for r in recs if r.ok]
    return {
        "setup_s": (setup_s, "s"),
        "throughput_qps": (qps, "1/s"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_p90_ms": (percentile(lat, tail_level(len(lat)))
                           if lat else 0.0, "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(recs, extra, qps: float, setup: dict, tracer: Tracer) -> dict:
    """Per-layer metrics from the window's records; a layer the window
    did not call is measured on the probe's records (``extra``)."""
    ms = 1e3
    ok = [r for r in recs if r.ok]
    called = {r.kind for r in ok}
    layered = ok + [r for r in extra if r.ok and r.kind not in called]
    reads = [r for r in ok if r.cypher and not r.write]
    misses = [r for r in reads if not r.hit]
    writes = [r for r in layered if r.write]
    write_lat = [r.latency * ms for r in writes]

    def by_kind(kinds) -> list[float]:
        return [r.latency * ms for r in layered if r.kind in kinds]

    lat = [r.latency * ms for r in ok]
    out = {
        "cypher.parse_ms": (median(tracer.durations("cypher.parse")) * ms,
                            "ms"),
        "planner.plan_ms": (median((r.query_s - r.parse_s) * ms
                                   for r in misses), "ms"),
        "graph.plan_cache_hit_ratio": (
            (len(reads) - len(misses)) / len(reads) if reads else 0.0,
            "ratio"),
        "graph.query_hit_ms": (median(r.query_s * ms for r in reads
                                      if r.hit), "ms"),
        "graph.load_s": (setup["graph.load"], "s"),
        "graph.materialize_s": (setup["graph.materialize"], "s"),
        "graph.warm_s": (setup["graph.warm"], "s"),
        "setup.workload_s": (setup["setup.workload"], "s"),
        "session.start_s": (setup["session.start"], "s"),
        "session.collect_ms": (median(r.collect_s * ms for r in ok
                                      if not r.write), "ms"),
        "session.jobs_per_request": (mean(r.jobs_q + r.jobs_c for r in ok),
                                     "count"),
        "session.tasks_per_request": (mean(r.tasks for r in ok), "count"),
        "session.query_jobs_per_request": (mean(r.jobs_q for r in ok),
                                           "count"),
        "session.collect_jobs_per_request": (mean(r.jobs_c for r in ok),
                                             "count"),
        "mutations.write_ms": (median(r.query_s * ms for r in writes),
                               "ms"),
        "mutations.write_p50_ms": (median(write_lat), "ms"),
        "mutations.write_p90_ms": (
            percentile(write_lat, tail_level(len(write_lat)))
            if write_lat else 0.0, "ms"),
        "mutations.jobs_per_write": (mean(r.jobs_q + r.jobs_c
                                          for r in writes), "count"),
        "mutations.read_after_write_ms": (
            median(r.latency * ms for r in layered if r.ryw), "ms"),
        "algorithms.query_ms": (median(by_kind(W.ALGORITHM_KINDS)), "ms"),
        "functions.fulltext_ms": (median(by_kind({"fulltext"})), "ms"),
        "trace.latency_p50_ms": (median(lat), "ms"),
        "trace.throughput_qps": (qps, "1/s"),
    }
    for name in W.PIPELINE:
        short = name[2:].replace("_np", "")
        out[f"pipeline.{short}_ms"] = (median(by_kind({name})), "ms")
    return out


def run(args) -> int:
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    engine.pin_environment(work)
    os.chdir(work)
    sys.path.insert(0, ROOT)
    import datagen
    from oracle import Oracle

    t = time.perf_counter()
    dirs = [os.path.join(work, f"data{i}") for i in range(SETUP_REPEATS)]
    datagen.generate(dirs[0], args.seed)
    for d in dirs[1:]:
        shutil.copytree(dirs[0], d)
    engine.log(f"inputs generated in {time.perf_counter() - t:.1f}s")

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        with tracer.span("session.start"):
            spark = engine.start_session()
        session_s = time.perf_counter() - t
        engine.log(f"session started in {session_s:.1f}s")
        tracer.attach(spark.sparkContext)
        import __spark_entry__ as entrymod

        builds = []
        g = None
        for d in dirs:
            if g is not None:
                release(g)
            g, steps = build_graph(spark, entrymod, d, args.workload, tracer)
            builds.append(steps)
            engine.log(f"set-up {sum(steps.values()):.2f}s "
                       + json.dumps({k: round(v, 2) for k, v in
                                     steps.items()}))
        setup = {k: median(b[k] for b in builds) for k in builds[0]}
        setup["session.start"] = session_s
        setup_s = session_s + median(sum(b.values()) for b in builds)

        ctx = W.Run(spark, g, dirs[-1], tracer, RequestIds())
        clients = W.make_clients(args.workload, ctx, args.seed,
                                 engine.cpus(), entrymod.queries())
        t = time.perf_counter()
        W.warmup(clients)
        engine.log(f"warm-up {time.perf_counter() - t:.1f}s")
        per_client, ends = W.closed_loop(clients, args.seconds)
        engine.log("window closed")
        rss = engine.peak_rss_mb()
        recs = [r for rs in per_client for r in rs]
        extra = (W.probe(ctx, args.seed, entrymod.queries(), recs)
                 if args.trace else [])
        env = engine.describe(spark)
    finally:
        if spark is not None:
            engine.stop_session(spark)

    oracle = Oracle(dirs[0])
    W.check(recs + extra, oracle, entrymod.oracle_sql())
    oracle.close()
    engine.log("answers checked")
    shutil.rmtree(work, ignore_errors=True)

    failed = [r for r in recs + extra if not r.ok]
    for r in failed[:5]:
        engine.log(f"failed {r.kind} {r.params}: {r.error or 'wrong answer'}")
    qps = throughput(per_client, ends)
    metrics = (per_layer(recs, extra, qps, setup, tracer) if args.trace
               else end_to_end(recs, qps, setup_s, rss))
    kinds: dict[str, list[float]] = {}
    for r in recs:
        kinds.setdefault(r.kind, []).append(r.latency * 1e3)
    n = sum(1 for r in recs if r.ok)
    print("# env " + json.dumps(env))
    print("# run " + json.dumps({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "window_s": round(max(ends), 3),
        "clients": len(clients), "requests": len(recs),
        "probe_requests": len(extra),
        "writes": sum(r.write for r in recs),
        "tail_percentile": round(100 * tail_level(n), 1),
        "error_rate": len(failed) / max(len(recs) + len(extra), 1),
        "setup_repeats": SETUP_REPEATS}))
    print("# kinds " + json.dumps({k: {"n": len(v), "p50_ms": round(median(v))}
                                   for k, v in sorted(kinds.items())}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(recs) + len(extra),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not program_present():
        engine.log(f"the engine is not under {ROOT}: nothing to measure")
        return 2
    # last resort against a hung Spark call; the JVM exits with us
    watchdog = threading.Timer(RUN_LIMIT_S, os._exit, (3,))
    watchdog.daemon = True
    watchdog.start()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
