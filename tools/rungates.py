#!/usr/bin/env python3
"""One-command standing-gate chain for a round's final tree.

Runs, in order, the per-round gates that are not already wrapped by
their own tool, recording artifacts in the repo root:

  1. datacheck  -> DATACHECK_r{N}.json   (testdata contract preflight)
  2. census     -> BYTESCHECK_r{N}.json  (ShuffleCensus sf0.01 vs sf0.1,
                   then bytesdiff vs the previous round when present)
  3. faultcheck -> FAULTCHECK_r{N}.json
  4. minicluster-> MINICLUSTER_r{N}.json (+ MlClusterProbe)
  5. planner-config Verify matrix at sf0.01 (AQE off; NO_CODEGEN;
     oversize: broadcast caps lowered to 1k so every size-driven
     decision takes its oversize branch), each checked against the
     DuckDB oracle.

SCALECHECK is NOT chained here — it synthesizes multi-GB tiers and has
its own resumable tool (tools/scalecheck.py --round N); run it
separately. Each step's full output lands under /tmp/rungates_r{N}/;
the chain stops at the first failing step (a later gate must not bury
an earlier failure).

Usage: python3 tools/rungates.py --round N [--skip-census]
       [--skip-fault] [--skip-minicluster] [--skip-planner]
"""

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd, log, env=None, timeout=7200, split_stderr=False):
    """Run a step with output captured to `log`. By default stderr is
    merged (a failing step's log should read top-to-bottom); census
    parsing wants stdout CLEAN, so split_stderr sends stderr to
    `log`.err instead (a log4j WARN interleaved mid-pipe must not be
    able to corrupt the rows block)."""
    with open(log, "w") as f:
        if split_stderr:
            with open(log + ".err", "w") as e:
                p = subprocess.run(cmd, cwd=REPO, env=env, timeout=timeout,
                                   stdout=f, stderr=e)
        else:
            p = subprocess.run(cmd, cwd=REPO, env=env, timeout=timeout,
                               stdout=f, stderr=subprocess.STDOUT)
    return p.returncode


def fail(step, log):
    sys.exit(f"[rungates] {step} FAILED — see {log}")


def tail(log):
    """Last line of a step's log, tolerant of an empty file (a tool
    that crashed before any output must surface the fail() diagnostic,
    not an IndexError traceback — r19 advisory)."""
    lines = open(log).read().strip().splitlines()
    return lines[-1] if lines else f"(empty log {log})"


def parse_census(out_path, artifact):
    """ShuffleCensus prints one JSON object per row line between '['
    and ']' lines, then a one-line summary. Parse per LINE and only
    accept objects with the expected keys — tolerant of any stray
    harness line, and immune to the summary's own brackets (the naive
    rindex slice broke on the summary's problem_names list)."""
    rows, summary = [], {}
    for line in open(out_path):
        line = line.strip().rstrip(",")
        if line.startswith('{"q":'):
            rows.append(json.loads(line))
        elif line.startswith('{"census"'):
            summary = json.loads(line)
    if not rows:
        raise ValueError(f"no census rows found in {out_path}")
    out = {"rows": rows}
    out.update(summary)
    with open(artifact, "w") as f:
        json.dump(out, f, indent=1)
    return len(rows), out.get("problems")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--skip-census", action="store_true")
    ap.add_argument("--skip-fault", action="store_true")
    ap.add_argument("--skip-minicluster", action="store_true")
    ap.add_argument("--skip-planner", action="store_true")
    args = ap.parse_args()
    n = args.round
    tmp = f"/tmp/rungates_r{n}"
    os.makedirs(tmp, exist_ok=True)

    print(f"[rungates] 1/5 datacheck", flush=True)
    log = f"{tmp}/datacheck.log"
    # --repo pinned to THIS tree: datacheck/faultcheck default to
    # /root/repo, which is wrong when rungates runs from a worktree
    if run(["python3", "tools/datacheck.py", "--round", str(n),
            "--repo", REPO], log):
        fail("datacheck", log)
    print(tail(log))

    if not args.skip_census:
        print(f"[rungates] 2/5 byte census", flush=True)
        log = f"{tmp}/census.log"
        # ShuffleCensus itself exits 1 on problems — AFTER printing the
        # full rows table — so on a nonzero rc the artifact is still
        # recoverable and must be written BEFORE the chain fails:
        # a problem census with no artifact is undiagnosable.
        rc = run(["sbt", "-batch", "runMain graft.ShuffleCensus"], log,
                 split_stderr=True)
        artifact = f"BYTESCHECK_r{n}.json"
        try:
            rows, problems = parse_census(log, os.path.join(REPO, artifact))
        except ValueError:
            fail("census (no rows in output)", log)
        print(f"[rungates] {artifact}: {rows} rows, problems={problems}")
        if rc or problems:
            fail("census (problems — artifact written for diagnosis)", log)
        prev = os.path.join(REPO, f"BYTESCHECK_r{n - 1}.json")
        if os.path.exists(prev):
            difflog = f"{tmp}/bytesdiff.log"
            rc = run(["python3", "tools/bytesdiff.py", prev,
                      os.path.join(REPO, artifact)], difflog)
            print(tail(difflog))
            if rc:
                fail("bytesdiff", difflog)

    if not args.skip_fault:
        print(f"[rungates] 3/5 faultcheck", flush=True)
        log = f"{tmp}/faultcheck.log"
        if run(["python3", "tools/faultcheck.py", "--round", str(n),
                "--repo", REPO], log):
            fail("faultcheck", log)
        print(tail(log))

    if not args.skip_minicluster:
        print(f"[rungates] 4/5 minicluster + MlClusterProbe", flush=True)
        log = f"{tmp}/minicluster.log"
        if run(["python3", "tools/minicluster_gate.py", "--round", str(n)],
               log):
            fail("minicluster", log)
        print(tail(log))
        log = f"{tmp}/mlprobe.log"
        env = dict(os.environ, SPARK_DRIVER_MEM="16g")
        if run(["sbt", "-batch", "Test/runMain graft.tools.MlClusterProbe"],
               log, env=env):
            fail("MlClusterProbe", log)
        probes = open(log).read().count(": PASS")
        print(f"[rungates] MlClusterProbe: {probes} PASS lines")

    if not args.skip_planner:
        for tag, conf in (
                ("noaqe", "spark.sql.adaptive.enabled=false"),
                ("nocodegen", "spark.sql.codegen.wholeStage=false;"
                              "spark.sql.codegen.factoryMode=NO_CODEGEN"),
                ("oversize", "spark.graft.knn.broadcastFloor=1k;"
                             "spark.sql.autoBroadcastJoinThreshold=1k")):
            print(f"[rungates] 5/5 planner-config Verify ({tag})", flush=True)
            out = f"{tmp}/verify_{tag}"
            log = f"{tmp}/verify_{tag}.log"
            env = dict(os.environ, SPARK_GRAFT_CPUS="8",
                       SPARK_GRAFT_CONF=conf)
            if run(["sbt", "-batch",
                    f"runMain graft.Verify /root/testdata/sf0.01 {out}"],
                   log, env=env):
                fail(f"verify-{tag}", log)
            log = f"{tmp}/oracle_{tag}.log"
            rc = run(["python3", "tools/check_oracle.py",
                      "/root/testdata/sf0.01", out], log)
            print(tail(log))
            if rc:
                fail(f"oracle-{tag}", log)

    print(f"[rungates] all chained gates green for r{n} "
          "(run tools/scalecheck.py separately)")


if __name__ == "__main__":
    main()
