#!/usr/bin/env python3
"""Check one knnbench result line the way the benchmark's consumer reads it.

    python3 knnbench/run.py --workload har_1nn_batch --seed 1 --seconds 10 \\
        | python3 tools/benchline.py [--traced] [--benchmark BENCHMARK.json]

Reads stdin and takes its last non-empty line as the result. The line must
parse as strict JSON: `NaN`, `Infinity` and `-Infinity` are rejected, since
they are not JSON and a strict reader refuses the whole line. Then it
checks `correct: true`, `failed: 0`, and that every `end_to_end` metric
named in BENCHMARK.json (with `--traced`, every `per_layer` metric) is
present with a finite numeric value. Exits 1 on any miss, listing each;
prints the checked line's metric values on success.
"""
import argparse
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def reject_constant(name):
    raise ValueError(f"non-JSON constant {name}")


def check(line, names):
    """The list of problems with one result line (empty when it passes)."""
    try:
        res = json.loads(line, parse_constant=reject_constant)
    except ValueError as e:
        return [f"not strict JSON: {e}"]
    if not isinstance(res, dict):
        return ["not a JSON object"]
    problems = []
    if res.get("correct") is not True:
        problems.append(f"correct is {res.get('correct')!r}, not true")
    if res.get("failed") != 0:
        problems.append(f"failed is {res.get('failed')!r}, not 0")
    metrics = res.get("metrics")
    if not isinstance(metrics, dict):
        return problems + ["no metrics object"]
    for name in names:
        m = metrics.get(name)
        v = m.get("value") if isinstance(m, dict) else None
        if m is None:
            problems.append(f"missing metric {name}")
        elif isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"metric {name} has no finite value: {v!r}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--traced", action="store_true",
                    help="require the per_layer metrics instead of the end_to_end ones")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["per_layer" if a.traced else "end_to_end"]]
    lines = [l for l in sys.stdin.read().splitlines() if l.strip()]
    if not lines:
        print("benchline: no input", file=sys.stderr)
        return 1
    problems = check(lines[-1], names)
    if problems:
        for p in problems:
            print(f"benchline: {p}", file=sys.stderr)
        return 1
    metrics = json.loads(lines[-1])["metrics"]
    print(" ".join(f"{n}={metrics[n]['value']:.6g}" for n in names))
    return 0


if __name__ == "__main__":
    sys.exit(main())
