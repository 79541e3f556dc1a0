"""Steadiness check: is the benchmark steady enough to judge a change by?

Runs each workload once per seed, one run at a time, and reports for
every metric the median, the quartiles and the spread (the distance
between the quartiles as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them).  A metric whose
spread exceeds its bound in BENCHMARK.json is flagged, except
``setup_s``, whose bound limits only the drift of its median.  With
``--trace`` it also runs every seed traced, reports the per-layer
metrics and the tracing overhead (traced minus untraced median of
``latency_p50_ms``).

    python3 perfbench/tests/steadiness.py --seeds 1-10
    python3 perfbench/tests/steadiness.py --workloads point_lookup \
        --seeds 1-5 --trace

Exit status 1 if any metric is flagged or any run was not correct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    t = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=200)
    wall = time.time() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    return result


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)
            if statistics.median(values) else float("inf")}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default=None,
                   help="comma-separated; default: all in BENCHMARK.json")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", action="store_true")
    p.add_argument("--out", default=None, help="write the runs as JSON")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs: dict = {}
    bad = False
    for w in names:
        for trace in ((0, 1) if args.trace else (0,)):
            for s in seeds(args.seeds):
                r = run_once(bench, w, s, trace)
                runs.setdefault(w, {}).setdefault(trace, []).append(r)
                ok = r["correct"] and r["failed"] == 0
                bad |= not ok
                print(f"{w} seed={s} trace={trace} wall={r['wall_s']:.0f}s "
                      f"attempted={r['attempted']} failed={r['failed']}"
                      + ("" if ok else "  NOT CORRECT"), flush=True)
    for w, by_trace in runs.items():
        print(f"\n== {w}")
        for trace, rs in sorted(by_trace.items()):
            for name in rs[0]["metrics"]:
                vals = [r["metrics"][name]["value"] for r in rs]
                if len(vals) < 2:
                    continue
                st = summary(vals)
                bound = bounds.get(name)
                flag = ""
                if bound is not None and name != "setup_s" \
                        and st["spread"] > bound:
                    flag, bad = "  SPREAD ABOVE BOUND", True
                elif bound is not None and st["spread"] > bound / 3:
                    flag = "  spread above bound/3"
                print(f"  {name:34s} median={st['median']:12.4f} "
                      f"q1={st['q1']:12.4f} q3={st['q3']:12.4f} "
                      f"spread={st['spread']:.3f}"
                      + (f" bound={bound}" if bound is not None else "")
                      + flag)
            print(f"  {'wall_s':34s} median="
                  f"{statistics.median(r['wall_s'] for r in rs):12.1f}")
        if 0 in by_trace and 1 in by_trace:
            untraced = statistics.median(
                r["metrics"]["latency_p50_ms"]["value"] for r in by_trace[0])
            traced = statistics.median(
                r["metrics"]["trace.latency_p50_ms"]["value"]
                for r in by_trace[1])
            print(f"  tracing overhead on latency_p50_ms: "
                  f"{traced - untraced:+.2f} ms "
                  f"({(traced - untraced) / untraced:+.1%})")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
