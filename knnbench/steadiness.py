#!/usr/bin/env python3
"""Measure how steady the benchmark is on one commit.

    python3 knnbench/steadiness.py

Runs every workload of BENCHMARK.json in two sets of ten runs, each run
with its own seed (101-110 in the first set, 111-120 in the second) and
BENCHMARK.json's run_seconds, workloads interleaved within a set. For each
end-to-end metric it prints, per set, the median, the quartiles and the
spread (interquartile distance over the median), then the agreement
between the sets (how much worse the second set's median is than the
first's). A spread over a third of the metric's bound, or a spread or
disagreement over the bound, is flagged. Run it from the root of a
checkout; the summary is also written to knnbench/out/steadiness.json.
"""
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SETS = 2
RUNS = 10
FIRST_SEED = 101


def run(workload, seed, seconds):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        sys.exit(f"{workload} seed {seed} failed (exit {proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    results = {w: [[] for _ in range(SETS)] for w in workloads}
    walls = {w: [] for w in workloads}
    seed = FIRST_SEED
    for s in range(SETS):
        for _ in range(RUNS):
            for w in workloads:
                r, wall = run(w, seed, bench["run_seconds"])
                walls[w].append(wall)
                results[w][s].append(r)
                print(f"set {s + 1} {w} seed {seed}: {wall:.0f} s, attempted {r['attempted']}, "
                      f"failed {r['failed']}, correct {r['correct']}, "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
            seed += 1

    summary = {}
    print()
    for w in workloads:
        print(f"{w}: run wall median {statistics.median(walls[w]):.0f} s, max {max(walls[w]):.0f} s")
        shares = sorted({r["failed"] / r["attempted"] for rs in results[w] for r in rs})
        print(f"  failed share per run: {shares}")
        summary[w] = {"run_wall_s": walls[w], "failed_shares": shares, "metrics": {}}
        for name, m in metrics.items():
            sets = [[r["metrics"][name]["value"] for r in rs] for rs in results[w]]
            stats = [spread(v) for v in sets]
            medians = [st[1] for st in stats]
            worse = (medians[-1] - medians[0]) / medians[0]
            if m["better"] == "higher":
                worse = -worse
            flags = []
            for st in stats:
                if st[3] > m["bound"]:
                    flags.append("SPREAD OVER BOUND")
                elif st[3] > m["bound"] / 3:
                    flags.append("spread over a third of bound")
            if worse > m["bound"]:
                flags.append("SETS DISAGREE BEYOND BOUND")
            line = "  ".join(f"set{i + 1} med {st[1]:.4g} q1 {st[0]:.4g} q3 {st[2]:.4g} spread {st[3]:.3f}"
                             for i, st in enumerate(stats))
            print(f"  {name:18s} {line}  worse {worse:+.3f} (bound {m['bound']}) {' '.join(sorted(set(flags)))}")
            summary[w]["metrics"][name] = {"sets": sets, "medians": medians,
                                           "spreads": [st[3] for st in stats], "worse": worse}
    os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
    with open(os.path.join(BENCH, "out", "steadiness.json"), "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
