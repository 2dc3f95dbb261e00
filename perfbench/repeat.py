#!/usr/bin/env python3
"""Repeat-run tool: run one workload N times, each with another seed, and
report for every metric its median, quartiles and spread, where spread is
(q3 - q1) / median with the quartiles of `statistics.quantiles(n=4)`. It is
the tool that sets the bounds in BENCHMARK.json and shows the benchmark
is steady: a metric is steady when its spread is under a third of its
bound.

    python3 perfbench/repeat.py --workload dml_trickle --runs 10
    python3 perfbench/repeat.py --workload corpus_ann --runs 5 --overhead

--overhead runs every seed twice, untraced and traced, and also reports
the tracing overhead of each end-to-end metric: traced minus untraced.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    print(f"seed {seed}: {time.monotonic() - t0:.1f} s wall", file=sys.stderr)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"seed {seed} failed ({r.returncode}): {r.stderr[-2000:]}{r.stdout[-1000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else float("inf"), "n": len(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-start", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values, overhead = {}, {}
    for i in range(a.runs):
        seed = a.seed_start + i
        ctx, res = run_once(a.workload, seed, seconds, a.trace)
        if not res["correct"]:
            print(f"seed {seed}: INCORRECT {ctx['errors']}", file=sys.stderr)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        line = {k: round(m["value"], 4) for k, m in res["metrics"].items()}
        print(f"seed {seed}: load1m {ctx['load1m_start']:.2f}->{ctx['load1m_end']:.2f} {line}",
              file=sys.stderr)
        if a.overhead and not a.trace:
            tctx, _ = run_once(a.workload, seed, seconds, 1)
            for k, v in tctx["traced_end_to_end"].items():
                if v is not None and k in res["metrics"]:
                    overhead.setdefault(k, []).append(v - res["metrics"][k]["value"])

    report = {"workload": a.workload, "runs": a.runs, "trace": a.trace, "metrics": {}}
    for k, vs in values.items():
        s = summarize(vs)
        if bounds.get(k) is not None and not a.trace:
            s["bound"] = bounds[k]
            s["steady"] = s["spread"] < bounds[k] / 3
        report["metrics"][k] = s
    if overhead:
        report["tracing_overhead"] = {k: summarize(v) for k, v in overhead.items()}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
