#!/usr/bin/env python3
"""Benchmark command: builds the library from source (first run only),
runs one seeded workload in a fresh JVM on local[4], and prints one JSON
result as the last line of standard output.

    python3 perfbench/run.py --workload serve --seed 3 --seconds 4 --trace 0

Workloads: serve, store_churn (see perfbench/README.md).
--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1
prints its per-layer metrics, including the tracing overhead (traced
minus untraced end-to-end numbers). Everything the run writes stays under
the build directory (.bench_build).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build as bench_build  # noqa: E402

ROOT = bench_build.ROOT
BENCH = bench_build.BENCH
RUN_LIMIT_S = 170  # per invocation, after the build
RESULT_TAG = "PERFBENCH_RESULT "


class RunError(Exception):
    pass


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def run_jvm(out, workload, seed, seconds, trace, deadline):
    """One workload run in its own JVM; returns the parsed result."""
    work = out / "work" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = out / "logs"
    logs.mkdir(exist_ok=True)
    cds = out / "classes.jsa"
    cmd = bench_build.java_cmd(
        out, work, "perfbench.Main",
        ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace), "--work", str(work), "--goldens", str(BENCH / "goldens")],
        [f"-XX:SharedArchiveFile={cds}"] if cds.exists() else [])
    log_path = logs / f"{workload}-{seed}-{trace}.log"
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=ROOT,
                                    text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise RunError(f"{workload} seed {seed} ran out of time; see {log_path}")
        for trace_file in work.glob("trace-*.jsonl"):
            (out / "traces").mkdir(exist_ok=True)
            shutil.move(str(trace_file), out / "traces" / trace_file.name)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith(RESULT_TAG)]
    if proc.returncode != 0 or not lines:
        raise RunError(f"{workload} seed {seed} exited {proc.returncode}; see {log_path}")
    return json.loads(lines[-1][len(RESULT_TAG):])


def cached_untraced(out, workload, seed):
    """Untraced end-to-end values for the overhead: this seed's if run
    before, else the medians of this workload's earlier untraced runs."""
    results = out / "results"
    same = results / f"{workload}-{seed}.json"
    if same.exists():
        return json.loads(same.read_text()), 1
    runs = [json.loads(p.read_text()) for p in sorted(results.glob(f"{workload}-*.json"))]
    if not runs:
        return None, 0
    names = runs[0]["metrics"].keys()
    return {"metrics": {n: {"value": statistics.median(r["metrics"][n]["value"] for r in runs)}
                        for n in names}}, len(runs)


def remember(out, workload, seed, result):
    (out / "results").mkdir(exist_ok=True)
    (out / "results" / f"{workload}-{seed}.json").write_text(json.dumps(result))


def select(result, wanted, extra):
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in extra:
            metrics[name] = extra[name]
            continue
        got = result["metrics"].get(name)
        if got is None or got["value"] is None:
            raise RunError(f"metric {name} missing from the run")
        if got["unit"] != m["unit"]:
            raise RunError(f"metric {name} in {got['unit']}, expected {m['unit']}")
        metrics[name] = got
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        s = spec()
        if a.workload not in {w["name"] for w in s["workloads"]}:
            raise RunError(f"unknown workload {a.workload}")
        out = bench_build.build()
        deadline = time.time() + RUN_LIMIT_S
        e2e = s["end_to_end"]
        if a.trace == 0:
            result = run_jvm(out, a.workload, a.seed, a.seconds, 0, deadline)
            remember(out, a.workload, a.seed, result)
            final = select(result, e2e, {})
        else:
            base, base_runs = cached_untraced(out, a.workload, a.seed)
            if base is None:
                base = run_jvm(out, a.workload, a.seed, a.seconds, 0, deadline)
                remember(out, a.workload, a.seed, base)
                base_runs = 1
            traced = run_jvm(out, a.workload, a.seed, a.seconds, 1, deadline)
            extra = {f"trace.overhead.{m['name']}": {
                "value": traced["metrics"][m["name"]]["value"] - base["metrics"][m["name"]]["value"],
                "unit": m["unit"]} for m in e2e}
            extra["trace.overhead_base_runs"] = {"value": base_runs, "unit": "count"}
            final = select(traced, s["per_layer"], extra)
    except (bench_build.BuildError, RunError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps(final))


if __name__ == "__main__":
    main()
