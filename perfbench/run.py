#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the program and the
benchmark with sbt (perfbench/build.sbt) and records the runtime
classpath; later calls rebuild only when a source file changed. Each run
gets a fresh JVM and an empty scratch directory (also its java.io.tmpdir),
which is deleted afterwards. The last line of stdout is the result object.
Traced runs (--trace 1) keep their span file in perfbench/target/traces/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import uuid
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "build.stamp"
RUNS = ROOT / ".perfbench_runs"
TIME_LIMIT_S = 170  # the whole run, build excluded
HEAP = "3g"

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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src" / "main",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for root in roots:
        files = [root] if root.is_file() else sorted(p for p in root.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    digest = source_digest()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    # build output goes to stderr: stdout carries only the result
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                           "compile", "writeClasspath"],
                          cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0 or not CLASSPATH.is_file():
        fail("build failed")
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}; "
             "run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()

    run_dir = RUNS / f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--dir", str(run_dir)])
    proc = subprocess.Popen(cmd, cwd=run_dir, start_new_session=True)
    try:
        code = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for trace in run_dir.glob("trace-*.json"):
            (TARGET / "traces").mkdir(parents=True, exist_ok=True)
            shutil.move(str(trace), TARGET / "traces" / trace.name)
        shutil.rmtree(run_dir, ignore_errors=True)
        if RUNS.is_dir() and not any(RUNS.iterdir()):
            RUNS.rmdir()
    sys.exit(1 if code is None else code)


if __name__ == "__main__":
    main()
