#!/usr/bin/env python3
"""Runs one benchmark workload of the graft engine and prints its result.

    python3 perfbench/run.py --workload sql-mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call compiles the engine's
sources together with the benchmark (sbt, offline) and caches the
classpath; later calls start the JVM directly. Each run works in its own
temporary directory under .perfbench_work/ and deletes it afterwards.
The last line of stdout is the result JSON; the line before it carries
the run's context (versions, sizes, tail percentile, failures).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
WORKLOADS = ["sql-mix", "matmul", "tx-ops", "llm-index"]
HEAP = "3g"
YOUNG = "1g"  # a fixed young generation keeps peak RSS from following GC sizing
MAX_CORES = 4
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources at src/main/scala; run from a full checkout")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    log("building the engine and the benchmark with sbt")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_command(work, main_args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Duser.timezone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(main_args, timeout):
    """Runs the benchmark JVM in a fresh work dir; returns its stdout lines."""
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        proc = subprocess.Popen(java_command(work, main_args + ["--work", work]), cwd=ROOT,
                                stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run exceeded {timeout} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            sys.exit(f"perfbench: JVM exited with {proc.returncode}")
        return [l for l in out.splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    # A terminated run still stops its JVM and deletes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build()
    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    lines = run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--cores", str(cores), "--bench-dir", HERE,
                     "--commit", commit()], RUN_TIMEOUT_S)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.exit("perfbench: the JVM printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
