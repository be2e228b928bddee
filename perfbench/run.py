#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_paper --seed 0 --seconds 30 --trace 0

Run it from the root of a checkout. The first run builds the program and the
harness (sbt, into perfbench/target) and keeps the classpath in
perfbench/.build; later runs rebuild only when a source file changed. Each
run generates its inputs from --seed under perfbench/.work, runs the
workload in one JVM, and deletes the inputs and outputs again. Every line
the JVM prints is passed through; the last line is the JSON result. Traced
runs (--trace 1) also leave a span file and a per-layer ledger in
perfbench/out. `--record` (default seed only) rewrites the committed result
hashes in perfbench/expected.json.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, ".build")
WORKLOADS = ("etl_paper", "read_side")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is not made by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Fixed, so every recorded number was measured with the same heap and GC.
HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".properties", ".sbt"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out


def build():
    """Compile program + harness; return the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "digest")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    t = time.time()
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t:.1f} s", flush=True)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}; "
             "run from the root of a full checkout")
    if a.record and a.seed != 0:
        fail("--record needs the default seed 0")

    cp = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", HEAP, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out_dir,
              "--expected", os.path.join(HERE, "expected.json")]
           + (["--record"] if a.record else []))
    os.makedirs(out_dir, exist_ok=True)
    log_path = os.path.join(out_dir, f"jvm-{a.workload}-seed{a.seed}.log")
    t0 = time.time()
    try:
        with open(log_path, "w") as log:
            code, out = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                    stderr=log, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1]:
        print(line)
    if code != 0 or not isinstance(result, dict):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the benchmark JVM exited with code {code} and no result")
    print(f"[perfbench] jvm wall {time.time() - t0:.1f} s", flush=True)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
