#!/usr/bin/env python3
"""Steadiness check: run sets of benchmark runs and compare them with the
bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--seed 100]

Each set runs every workload `--runs` times with `--trace 0`, each run on its
own seed. For every end-to-end metric it prints the median, the spread (the
distance between the first and third quartile as a share of the median) and,
with two sets, how much worse the second median is than the first. It exits 1
if a spread other than setup_s exceeds its bound, a median worsens by more than
its bound, or the share of failed operations differs between sets. The per-run
results, with run context and wall time, go to .bench_runs/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload, seed, seconds):
    t = time.time()
    r = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    context = json.loads(lines[-2])["context"] if len(lines) > 1 else {}
    return json.loads(lines[-1]), context, time.time() - t


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed", type=int, default=100)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    os.makedirs(os.path.join(ROOT, ".bench_runs"), exist_ok=True)
    log = open(os.path.join(ROOT, ".bench_runs", "steady.jsonl"), "a")
    ok = True
    for w in workloads:
        sets = []
        for s in range(a.sets):
            runs = []
            for i in range(a.runs):
                seed = a.seed + 1000 * s + i
                result, context, wall = run_once(w, seed, bench["run_seconds"])
                log.write(json.dumps({"workload": w, "set": s, "seed": seed, "wall_s": wall,
                                      "context": context, "result": result}) + "\n")
                log.flush()
                runs.append((result, wall, context.get("steal_cpu_s")))
            sets.append(runs)
        print(f"== {w}: {a.runs} runs x {a.sets} sets, mean wall per run "
              f"{statistics.mean(x[1] for r in sets for x in r):.1f} s, steal per run "
              f"{[x[2] for x in sets[0]]} CPU-s")
        shares = [sum(x[0]["failed"] for x in r) / sum(x[0]["attempted"] for x in r) for r in sets]
        if len(set(shares)) > 1:
            ok = False
        print(f"   failed share per set: {shares}")
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            per_set = [[x[0]["metrics"][name]["value"] for x in r] for r in sets]
            meds = [statistics.median(v) for v in per_set]
            spreads = [spread(v) for v in per_set]
            line = f"   {name:16s} median {meds} spread {[round(x, 4) for x in spreads]} bound {bound}"
            if name != "setup_s" and max(spreads) > bound:
                ok = False
                line += "  SPREAD OVER BOUND"
            if len(meds) > 1:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if lower else -1)
                line += f" second-set change {worse:+.4f}"
                if worse > bound:
                    ok = False
                    line += "  WORSE THAN BOUND"
            print(line)
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
