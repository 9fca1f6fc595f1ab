#!/usr/bin/env python3
"""Fuzzy-join benchmark entry point.

    python3 perfbench/run.py --workload exact_names --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine sources
(src/main) together with the benchmark (perfbench/src/main) with sbt into
perfbench/target and records the runtime classpath under .bench_build/;
later runs reuse it while the sources are unchanged. The benchmark itself
runs in one JVM (Spark local[nproc]) and prints its JSON result as the
last line of standard output. Exit code 0 means every output was correct.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SPEC = HERE / "workloads.json"
ENGINE_SRC = ROOT / "src" / "main"
BUILD_TIMEOUT_S = 840
# session start, set-ups, warm-up and the traced run, on top of --seconds
RUN_OVERHEAD_S = 150
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
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
    """Digest of every input of the build."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ENGINE_SRC, HERE / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"[perfbench] {cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile with sbt unless the recorded classpath matches the sources."""
    stamp = source_stamp()
    stamp_file = BUILD / "stamp"
    cp_file = BUILD / "classpath.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}", f"-Dsbt.ivy.home={BUILD / 'ivy'}",
           f"-Djava.io.tmpdir={BUILD / 'tmp'}", "writeClasspath"]
    log("building the engine and the benchmark with sbt")
    t0 = time.time()
    code = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if code != 0 or not cp_file.exists():
        sys.exit(f"[perfbench] build failed (exit {code})")
    stamp_file.write_text(stamp)
    log(f"build finished in {time.time() - t0:.0f} s")
    return cp_file.read_text().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    workloads = json.loads(SPEC.read_text())["workloads"]
    if a.workload not in workloads:
        sys.exit(f"[perfbench] unknown workload {a.workload}; expected one of {sorted(workloads)}")
    if not ENGINE_SRC.is_dir():
        sys.exit(f"[perfbench] engine sources not found at {ENGINE_SRC.relative_to(ROOT)}; "
                 "run from the root of a full checkout")
    classpath = build()

    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:+UseG1GC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--spec", str(SPEC), "--out", str(BUILD / "runs")])
    sys.stdout.flush()
    code = run_bounded(cmd, RUN_OVERHEAD_S + a.seconds, cwd=ROOT, stdin=subprocess.DEVNULL)
    sys.exit(code)


if __name__ == "__main__":
    main()
