#!/usr/bin/env python3
"""Run one workload of the hash-db benchmark and print its metrics.

    python3 perfbench/run.py --workload facade_mixed --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source with sbt on first use (or
whenever a source file changed), then runs the harness on a fresh JVM. The
last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. The run reads its tables from
perfbench/data/ and writes only under perfbench/work/ and perfbench/target/.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("facade_mixed", "analytic_sf01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# A run lasts well under a minute, while the JIT keeps speeding up Catalyst
# and the engine for longer than that at its default thresholds; compiling
# hot methods with C2 sooner shortens the drift the warm-up has to absorb.
JIT = ["-XX:Tier4InvocationThreshold=1000", "-XX:Tier4MinInvocationThreshold=200",
       "-XX:Tier4CompileThreshold=1500", "-XX:Tier4BackEdgeThreshold=8000"]

# Spark on JDK 17 needs these when it is started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd`, killing it (and waiting for it) if it outlives `timeout`."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out, err


def build():
    """Compile with sbt if the sources changed; return the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    code, out, err = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime / fullClasspath"], BUILD_TIMEOUT_S, cwd=HERE, env=env)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny: smallest inputs, for the benchmark's own tests")
    ap.add_argument("--inject-wrong", default=0, type=int,
                    help="replace this many recorded results with wrong ones")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail("engine sources not found at " + ENGINE_SRC)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = build()

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")] + JIT
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--size", a.size, "--inject-wrong", str(a.inject_wrong),
            "--data", DATA, "--work", WORK]
    code, out, err = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines:
        sys.stderr.write(err[-6000:])
        fail(f"harness exited with code {code}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(out[-2000:])
        fail("harness did not end with a JSON result")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("unexpected result keys: " + ", ".join(sorted(result)))
    sys.stderr.write("".join(l + "\n" for l in err.splitlines() if l.startswith("perfbench:")))
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
