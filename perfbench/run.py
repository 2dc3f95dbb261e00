#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (see build.py), runs the
workload in its own JVM at local[<nproc>], checks the program's outputs,
and prints as its LAST stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the run records spans around every layer call and the
metrics are the per-layer metrics (the spans are kept under
.bench_work/traces/). The line before it carries the run's context: load
average at start and end, nproc, set-up repetitions and any errors.
Exits non-zero when a correctness check fails or the run cannot complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("analyst_mix", "dml_replicated")
# the generated test tables TESTDATA.md describes (sf0.001 … sf0.1)
DATA = Path(os.environ.get("GRAFTBENCH_DATA", Path.home() / "testdata"))
JVM_TIMEOUT_S = 160
# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def run_jvm(classes, args, work, log):
    env = dict(os.environ, SPARK_GRAFT_TMP=str(work / "graft-tmp"))
    # no perf-data file: the JVM would write it outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.classpath()}", "graftbench.Main"] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: smallest inputs, for the benchmark's own tests")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="test hook: perturb one expected answer; the run must fail")
    a = ap.parse_args()

    load_start = os.getloadavg()[0]
    try:
        bench = spec()
        classes = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"cannot run: {e}", file=sys.stderr)
        return 2
    needed = ["sf0.001"] if a.size == "smoke" else ["sf0.01"]
    if not all((DATA / sf / "orders.parquet").exists() for sf in needed):
        print(f"cannot run: test data not found under {DATA}", file=sys.stderr)
        return 2
    sf_dir = DATA / needed[0]

    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(result_file),
            "--data", str(DATA), "--size", a.size]
    if a.corrupt_expected:
        args += ["--corrupt", "1"]
    rc = run_jvm(classes, args, work, work / "jvm.log")
    try:
        if rc != 0 or not result_file.exists():
            log = (work / "jvm.log").read_text(errors="replace")
            shutil.copy(work / "jvm.log", ROOT / ".bench_work" / "last-failure.log")
            first = [ln for ln in log.splitlines() if "Exception" in ln or "Error" in ln][:5]
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"benchmark JVM {why} (log: .bench_work/last-failure.log):\n" + "\n".join(first),
                  file=sys.stderr)
            return 3
        res = json.loads(result_file.read_text())
        errors = list(res["errors"])
        failed = res["failed"]
        if (work / "results" / "oracle_sql.json").exists():
            bad = checks.oracle_compare(sf_dir, work / "results", a.corrupt_expected)
            errors += bad
            failed += len(bad)
        if a.trace:
            traces = ROOT / ".bench_work" / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", traces / f"{a.workload}-{a.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    key = "per_layer" if a.trace else "end_to_end"
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in bench[key]:
        v = source.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    missing = [m["name"] for m in bench["end_to_end"] if not a.trace and res["e2e"].get(m["name"]) is None]
    if missing:
        errors.append(f"no samples for {missing}")
        failed += 1
    correct = not errors
    context = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": os.cpu_count(),
               "load1m_start": load_start, "load1m_end": os.getloadavg()[0],
               "ops": res["ops"], "wall_s": res["wall_s"], "session_s": res["session_s"],
               "setup_reps_s": res["setup_reps_s"], "warm_s": res["warm_s"],
               "prepare_s": res["prepare_s"], "errors": errors}
    if a.trace:
        context["traced_end_to_end"] = res["e2e"]
    print(json.dumps(context))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
