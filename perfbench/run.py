#!/usr/bin/env python3
"""Skyline benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the engine and the runner from the sources of the checkout it sits
in (sbt, offline; skipped when no source changed since the last build),
then runs one workload in a fresh JVM. The runner's last stdout line is
the result JSON, and this script prints it as its own last line. Every
file it writes stays under perfbench/target, perfbench/.work and the
engine's own target directories.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("thin_scan", "frontier_heavy", "stream_drain")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the engine build passes the same list to forked runs).
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change calls for a rebuild, in a stable order."""
    roots = [
        (ROOT, ["build.sbt"]),
        (os.path.join(ROOT, "project"), None),
        (os.path.join(ROOT, "src", "main"), None),
        (HERE, ["build.sbt"]),
        (os.path.join(HERE, "project"), None),
        (os.path.join(HERE, "src"), None),
    ]
    files = []
    for base, names in roots:
        if names is not None:
            files += [os.path.join(base, n) for n in names]
            continue
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, f) for f in sorted(filenames)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def source_stamp():
    h = hashlib.sha256()
    for path in build_inputs():
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + runner; returns the runtime classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            log(f"engine sources not found: {os.path.relpath(need, ROOT)} is missing")
            sys.exit(2)
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    if shutil.which("sbt") is None:
        log("sbt is not on PATH")
        sys.exit(2)
    log("building engine and runner (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
            stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(2)
    if proc.returncode != 0 or not os.path.isfile(CLASSPATH):
        log(f"build failed (exit {proc.returncode})")
        sys.exit(2)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    with open(CLASSPATH) as c:
        return c.read().strip()


def run_jvm(cp, main, args):
    """Run one JVM; relay its stdout, return (exit code, last stdout line)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, main] + args
    proc = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 1, None
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    return proc.returncode, (lines[-1] if lines else None)


def valid_result(line):
    try:
        r = json.loads(line)
    except (TypeError, ValueError):
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        if a.selftest:
            code, last = run_jvm(cp, "graftbench.SelfTest", ["--work", WORK])
            if last is not None:
                print(last)
            return code
        code, last = run_jvm(cp, "graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK])
        result = valid_result(last)
        if code != 0 or result is None:
            log(f"runner failed (exit {code})")
            return code or 1
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
