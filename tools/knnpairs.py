#!/usr/bin/env python3
"""Interleaved knnbench pairs: this checkout against a parent commit.

    python3 tools/knnpairs.py --parent HEAD~1 --workload har_knn_request \\
        --seeds 811-820 [--seconds 10] [--workdir DIR] [--keep] [--out FILE]

The parent commit is checked out into a fresh `git worktree` and built
there from its own sources, with the same sbt build `knnbench/run.py`
uses. Nothing is copied from this checkout's `target/` or
`knnbench/.build/`: sbt's incremental analysis in a copied build directory
points at the original tree and can rebuild the wrong sources.

Then, for each seed, `knnbench/run.py` runs once on each tree; the order
alternates from pair to pair (current first on even pairs, parent first
on odd ones), so that a host drifting during the session hits both sides
alike. Each result line is checked with `tools/benchline.py`'s rules; a
run whose line fails is reported and left out of its metric's pairs.

For every end-to-end metric of BENCHMARK.json it prints the median and
quartiles on each side, the number of pairs the current tree wins, and
whether a gain claim holds: the current tree better in at least 9 of
every 10 pairs, and its median better than the parent's by more than the
parent's interquartile range. It changes nothing under `knnbench/`; the
worktree is removed at the end unless `--keep` is given.
"""
import argparse
import importlib.util
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# loading knnbench/run.py as a module must leave no bytecode under knnbench/
sys.dont_write_bytecode = True


def load(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


benchline = load(os.path.join(ROOT, "tools", "benchline.py"), "benchline")


def seeds(text):
    """'811-820' or '1,5,9' -> list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def build(tree):
    """Build `tree`'s library and benchmark with its own run.py, so that
    compile time never lands inside a measured run."""
    load(os.path.join(tree, "knnbench", "run.py"), f"run_{abs(hash(tree))}").build()


def run(tree, workload, seed, seconds, names):
    """One run; returns (metrics dict, problems list)."""
    cmd = [sys.executable, os.path.join("knnbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return None, [f"run.py exit {p.returncode}: {p.stderr.strip()[-300:]}"]
    problems = benchline.check(lines[-1], names)
    if problems:
        return None, problems
    return {n: m["value"] for n, m in json.loads(lines[-1])["metrics"].items()}, []


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(metric, pairs):
    """Medians, quartiles, wins and the claim rule for one metric."""
    lower = metric["better"] == "lower"
    cur = [c for c, _ in pairs]
    par = [p for _, p in pairs]
    wins = sum(1 for c, p in pairs if (c < p if lower else c > p))
    pm, cm = statistics.median(par), statistics.median(cur)
    pq1, pq3 = quartiles(par)
    cq1, cq3 = quartiles(cur)
    gap = (pm - cm) if lower else (cm - pm)
    return {"metric": metric["name"], "unit": metric["unit"], "better": metric["better"],
            "pairs": len(pairs), "parent_median": pm, "parent_q1": pq1, "parent_q3": pq3,
            "current_median": cm, "current_q1": cq1, "current_q3": cq3,
            "change": (cm - pm) / pm if pm else math.nan, "wins": wins,
            "claim_holds": bool(pairs) and wins >= math.ceil(0.9 * len(pairs))
            and gap > pq3 - pq1}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="the commit to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds, help="e.g. 811-820 or 1,2,3")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--workdir", help="where the parent worktree goes (default: a temp dir)")
    ap.add_argument("--keep", action="store_true", help="keep the parent worktree")
    ap.add_argument("--out", help="also write every run and the summary as JSON")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    names = [m["name"] for m in metrics]
    seconds = a.seconds or bench.get("run_seconds", 10)
    rev = subprocess.run(["git", "rev-parse", "--verify", a.parent + "^{commit}"], cwd=ROOT,
                         check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    base = a.workdir or tempfile.mkdtemp(prefix="knnpairs-")
    parent = os.path.join(base, f"parent-{rev[:10]}")
    subprocess.run(["git", "worktree", "add", "--detach", parent, rev], cwd=ROOT, check=True,
                   stdout=subprocess.DEVNULL)
    runs = []
    try:
        print(f"[knnpairs] building {rev[:10]} in {parent}", file=sys.stderr, flush=True)
        build(parent)
        print("[knnpairs] building the current tree", file=sys.stderr, flush=True)
        build(ROOT)
        for i, seed in enumerate(a.seeds):
            order = [("current", ROOT), ("parent", parent)]
            if i % 2:
                order.reverse()
            pair = {"seed": seed}
            for side, tree in order:
                values, problems = run(tree, a.workload, seed, seconds, names)
                pair[side] = values
                if problems:
                    pair[side + "_problems"] = problems
                shown = " ".join(f"{n}={values[n]:.4g}" for n in names) if values else problems
                print(f"[knnpairs] seed {seed} {side}: {shown}", file=sys.stderr, flush=True)
            runs.append(pair)
    finally:
        if not a.keep:
            subprocess.run(["git", "worktree", "remove", "--force", parent], cwd=ROOT)

    ok = [r for r in runs if r["current"] and r["parent"]]
    if not ok:
        print(f"{a.workload}: no pair passed the result-line check", file=sys.stderr)
        return 1
    summary = [summarize(m, [(r["current"][m["name"]], r["parent"][m["name"]]) for r in ok])
               for m in metrics]
    print(f"{a.workload}: {len(ok)} of {len(runs)} pairs passed the result-line check "
          f"(parent {rev[:10]})")
    print(f"{'metric':18} {'parent median [q1, q3]':>32} {'current median [q1, q3]':>32} "
          f"{'change':>8} {'wins':>6}  claim")
    for s in summary:
        print(f"{s['metric']:18} {s['parent_median']:>12.4g} [{s['parent_q1']:.4g}, {s['parent_q3']:.4g}]"
              f"{'':>4}{s['current_median']:>12.4g} [{s['current_q1']:.4g}, {s['current_q3']:.4g}]"
              f"{'':>4}{s['change']:>+8.1%} {s['wins']:>3}/{s['pairs']:<2}  "
              f"{'holds' if s['claim_holds'] else 'no'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"parent": rev, "workload": a.workload, "seconds": seconds,
                       "runs": runs, "summary": summary}, f, indent=1)
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
