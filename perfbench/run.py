#!/usr/bin/env python3
"""Medallion benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill|trickle|lookups \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt (offline) the
first time, then runs one workload in one JVM and prints its JSON result as
the last line of standard output. Everything it writes stays under
perfbench/target and perfbench/work.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "run-classpath.txt")
WORK = os.path.join(HERE, "work")
TMP = os.path.join(WORK, "tmp")
WORKLOADS = ("backfill", "trickle", "lookups")
JVM_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (the root build's list).
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
    """Digest of every build input, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(TMP, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=TMP)
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-Djava.io.tmpdir=" + TMP, "-XX:-UsePerfData", "-Xmx2g"])
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        errors = [l for l in lines if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[-40:] or lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a full checkout")
    cp = build()

    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           # Serial GC with a fixed young generation and a 2 GB initial heap:
           # the heap does not grow at run-dependent moments, so peak RSS
           # follows the data the program keeps, and repeats across runs.
           ["-XX:+UseSerialGC", "-Xms2g", "-Xmn512m", "-Xmx4g",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + TMP,
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(WORK, args.workload)])
    os.makedirs(TMP, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=dict(os.environ, TMPDIR=TMP),
                            stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {JVM_TIMEOUT_S} s")
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = line[len("RESULT "):]
        else:
            print(line)
    if result is None:
        fail(f"no result (exit code {proc.returncode})")
    print(result, flush=True)
    sys.exit(0 if proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
