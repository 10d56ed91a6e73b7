#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload <convert|dedup|knn> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark program from source with sbt when the
sources changed since the last build, then runs perfbench.Main in one JVM.
Everything the run writes goes under perfbench/.work. The last line of
standard output is the result object; the exit code is 0 only when every
output passed its checks. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit; the same list as the root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt and returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources missing: {need} not found next to perfbench/")
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as s, open(cp_file) as c:
            if s.read() == digest:
                return c.read(), digest
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        out.write(proc.stdout)
    cps = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed; see {log}")
    with open(cp_file, "w") as c:
        c.write(cps[-1].strip())
    with open(stamp, "w") as s:
        s.write(digest)
    return cps[-1].strip(), digest


def commit_id(digest):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            return sha.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-" + digest[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None):
        ap.error("--workload and --seed are required")

    cp, digest = build()
    tmp = os.path.join(WORK, "tmp")
    logs = os.path.join(WORK, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    java = [
        # the heap grows as the program needs it, so the VmHWM in the record
        # follows the program; the throughput collector leaves the four
        # cores to Spark's tasks (runs took ~8% less wall than with G1); no
        # perf-data file, so nothing is written outside the work dir
        "java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
        "-cp", cp, "perfbench.Main", "--work", WORK,
    ]
    if a.selftest:
        java += ["--selftest", "1"]
        name = "selftest"
    else:
        java += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--commit", commit_id(digest)]
        name = f"{a.workload}-s{a.seed}-t{a.trace}"
    log = os.path.join(logs, f"{name}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    sys.stdout.write(out)
    if proc.returncode != 0:
        print(f"perfbench: perfbench.Main exited {proc.returncode}; see {log}", file=sys.stderr)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
