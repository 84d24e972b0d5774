#!/usr/bin/env python3
"""Layer-traced benchmark of the engine's contract queries.

Usage (from the repository root):
    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (sbt, offline) on first use,
then runs one JVM that sets up a session, checks every query of the
workload against its DuckDB oracle, and times passes over the workload in a
seed-shuffled order. `--trace 1` also attaches Spark listeners on every
second pass and reports per-layer metrics. The last line of stdout is the
result JSON; the full record and the spans go to perfbench/results/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = {
    # read-only star-schema SQL: Catalyst planning, scans, joins and
    # aggregation, few jobs per query; no loops, kernels or writes. Eight of
    # the 22 TPC-H queries, one per plan shape, so a run fits its budget
    "tpch": [f"q_tpch_q{i}" for i in (1, 3, 5, 6, 13, 14, 16, 22)],
    # one query per layer that tpch leaves idle: the fixed-point loop of
    # many small jobs (driver gap) that checkpoints to, and leaks, a temp
    # dir; a stateful micro-batch stream; and a sink round trip
    "pipeline": ["q_connected_components", "q_stream_dedup", "q_csv_roundtrip"],
}

# the read-only bench-scale tables (TESTDATA.md)
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
HEAP = "4g"
# Compile hot methods after a tenth of the default invocation counts, so
# the timed passes run on compiled code after one warm-up pass instead of
# depending on which driver-side methods the JIT had reached by then.
JVM_FLAGS = ["-XX:CompileThresholdScaling=0.1"]
TIME_LIMIT_S = 175

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every source the build compiles, to skip a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and harness; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, text=True)
    sys.stderr.write(r.stdout)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return open(cp_file).read()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"]:
        if not os.path.exists(os.path.join(REPO, need)):
            fail(f"{need} not found: run from a checkout of the repository")
    if not os.path.isdir(SF_DIR):
        fail(f"data directory {SF_DIR} not found")

    classpath = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(HERE, "results", tag)
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    cmd = ["java", f"-Xmx{HEAP}", *JVM_FLAGS,
           *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
           "-cp", classpath, "perfbench.Bench",
           "--workload", a.workload, "--queries", ",".join(WORKLOADS[a.workload]),
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--sf", SF_DIR,
           "--repo", REPO, "--work", work, "--out", out_dir]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = -1
        print(f"[perfbench] error: run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
