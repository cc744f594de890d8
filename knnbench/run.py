#!/usr/bin/env python3
"""Run one workload of the KNN/DTW benchmark and print its result line.

    python3 knnbench/run.py --workload har_1nn_batch --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the repository. The first run builds
the library and the benchmark with sbt (knnbench/build.sbt loads the
repository's own build unchanged); later runs reuse the build until a
source file changes. Each run is one JVM on local[n], n = min(4, CPUs),
with a fixed heap. Inputs, Spark's scratch files and temporary files go to
knnbench/work/ and are removed when the run ends; a traced run writes its
spans and per-layer metrics to knnbench/out/.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
CLASSPATH = os.path.join(BUILD, "classpath")
WORKLOADS = ("har_1nn_batch", "har_knn_request")
HEAP = "3g"
RUN_TIMEOUT_S = 170

# what `java` needs to run Spark 4 outside spark-submit (the same list the
# repository's build.sbt passes to forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[knnbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")


def build():
    """Compile with sbt unless the recorded classpath is newer than every
    source; returns the runtime classpath."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            with open(CLASSPATH) as f:
                return f.read().strip()
    log("building the library and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"[knnbench] build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("[knnbench] the library's sources are not here: "
                 "run from the root of a checkout of the repository")
    cp = build()

    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    argfile = os.path.join(work, "jvm.args")
    with open(argfile, "w") as f:
        f.write(f'-cp "{cp}"\n')
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dfile.encoding=UTF-8",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"@{argfile}", "knnbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores()), "--work", work])
    if a.trace:
        out = os.path.join(BENCH, "out", f"trace-{a.workload}-seed{a.seed}.json")
        cmd += ["--trace-out", out]
    env = dict(os.environ)
    env["LC_ALL"] = "C.UTF-8"
    # Spark's scratch space stays in the work directory
    env.pop("SPARK_LOCAL_DIRS", None)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[knnbench] terminated"))
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"[knnbench] run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    lines = [ln for ln in stdout.splitlines() if ln.startswith('{"correct"')]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout[-2000:])
        sys.exit(f"[knnbench] run failed (java exit {proc.returncode})")
    if a.trace:
        log(f"trace written to {os.path.relpath(out, ROOT)}")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
