#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, parent against change.

    python3 tools/bench_pairs.py --parent ../parent --change . \\
        --workload store_churn --workload serve --seeds 11-20

For every seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, alternating which side
goes first (even-indexed seeds run the parent first). N is the
`run_seconds` of the change's BENCHMARK.json, so both sides run equally
long. Each run builds and runs from its own checkout.

For every end-to-end metric of BENCHMARK.json it prints both medians,
each side's quartiles and IQR, the per-pair ratios (change / parent),
the number of pairs the change won (ties count for neither side), and
whether the change's median is worse than the parent's by more than the
metric's bound. It also prints the failed and attempted operations and
any incorrect run. With --out, every run's result is appended to a JSON
lines file as it finishes.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seed_list(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One trace-0 run in `checkout`; its final JSON line, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = proc.stderr.strip().splitlines()[-1:] or ["no output"]
        print(f"  {checkout.name} {workload} seed {seed}: exit {proc.returncode}: {tail[0]}",
              file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    result["wall_s"] = round(time.time() - t0, 1)
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def report(workload, pairs, seeds, metrics):
    print(f"\n== {workload}: {len(pairs)} complete pairs of {seeds} seeds")
    if not pairs:
        return
    for side in ("parent", "change"):
        runs = [p[side] for p in pairs]
        print(f"{side}: {sum(r['failed'] for r in runs)} failed of "
              f"{sum(r['attempted'] for r in runs)} attempted; "
              f"{sum(not r['correct'] for r in runs)} incorrect runs")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["metrics"][name]["value"] for p in pairs]
        pm, cm = statistics.median(par), statistics.median(chg)
        (pq1, pq3), (cq1, cq3) = quartiles(par), quartiles(chg)
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        ratios = [c / p if p else float("nan") for p, c in zip(par, chg)]
        worse = (cm - pm) / pm if lower else (pm - cm) / pm
        verdict = "OUT OF BOUND" if worse > m["bound"] else "within bound"
        print(f"{name} [{m['unit']}, {m['better']} is better, bound {m['bound']:.0%}]")
        print(f"  parent median {pm:.4g}  q1-q3 {pq1:.4g}-{pq3:.4g}  IQR {pq3 - pq1:.4g}")
        print(f"  change median {cm:.4g}  q1-q3 {cq1:.4g}-{cq3:.4g}  IQR {cq3 - cq1:.4g}")
        print(f"  pair ratios change/parent: {' '.join(f'{r:.3f}' for r in ratios)}")
        print(f"  change better in {wins}/{len(pairs)} pairs; median regression "
              f"{worse:+.1%}, negative is better ({verdict})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path, help="parent checkout")
    ap.add_argument("--change", required=True, type=Path, help="changed checkout")
    ap.add_argument("--workload", required=True, action="append", help="repeatable")
    ap.add_argument("--seeds", required=True, type=seed_list, help="e.g. 11-20 or 1,3,5")
    ap.add_argument("--out", type=Path, help="append each run's result here (JSON lines)")
    a = ap.parse_args()
    parent, change = a.parent.resolve(), a.change.resolve()
    spec = json.loads((change / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    for workload in a.workload:
        pairs = []
        for i, seed in enumerate(a.seeds):
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            pair = {}
            for side, checkout in order:
                r = run_once(checkout, workload, seed, seconds)
                if r is not None:
                    pair[side] = r
                    if a.out:
                        with open(a.out, "a") as f:
                            f.write(json.dumps({"workload": workload, "seed": seed, "side": side,
                                                "first": order[0][0], **r}) + "\n")
                print(f"  {workload} seed {seed} {side}: "
                      + (json.dumps({k: v["value"] for k, v in r["metrics"].items()})
                         if r else "FAILED"), flush=True)
            if len(pair) == 2:
                pairs.append(pair)
        report(workload, pairs, len(a.seeds), spec["end_to_end"])


if __name__ == "__main__":
    main()
