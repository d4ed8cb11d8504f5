#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 graftbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

It builds the library and the benchmark from source with sbt (once; later
runs reuse the build while the sources are unchanged), runs one workload
in a single JVM on local[nproc] with a fixed heap, checks that the JVM's
result names exactly the metrics BENCHMARK.json declares, and prints that
result as the last line of standard output. Everything it writes stays
under the checkout: the sbt outputs, and .graftbench_work/ for Spark
scratch space and saved indexes (removed after the run) and the full
record of each run (records/<workload>-seed<n>-trace<t>.json: generator
parameters, data fingerprint, sample counts, metrics, first failures and,
traced, every span).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".graftbench_work")
CLASSPATH = os.path.join(HERE, "target", "bench.classpath")
STAMP = os.path.join(HERE, "target", "bench.stamp")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (the list the root
# build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: library and benchmark sources and
    both build definitions."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library sources (build.sbt, src/main/scala/graft) are not in this checkout")

    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    record = os.path.join(WORK, "records",
                          f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(run_dir, "indexes"), "--out", record])
    t0 = time.time()
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir, env=env,
                              stdout=subprocess.PIPE, text=True)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if code != 0 or not lines:
            fail(f"benchmark JVM failed (exit {code})")
        result = json.loads(lines[-1])
        want = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
        if sorted(result.get("metrics", {})) != sorted(want):
            fail("the JVM's metric names differ from BENCHMARK.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"graftbench: {args.workload} seed {args.seed} took {time.time() - t0:.1f} s",
          file=sys.stderr)
    with open(record) as fh:
        rec = json.load(fh)
    print(json.dumps({k: rec[k] for k in ("workload", "seed", "generator", "fingerprint",
                                          "samples")}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
