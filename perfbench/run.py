#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine's sources together with the
harness (sbt, offline, this directory's build.sbt) and keeps the classpath;
every run then starts one JVM that sets up, measures for --seconds, checks
every result and prints the report. Working files live under
$CARGO_TARGET_DIR (default .bench_build) in the checkout and the per-run
part is removed when the run ends.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("refine_at_rest", "serve_mutating")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, HERE / "src"):
        for p in sorted(base.rglob("*.scala")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    for p in (HERE / "build.sbt", HERE / "project" / "build.properties"):
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(bench_build):
    """Compile once per source digest; return the runtime classpath."""
    stamp = bench_build / "build" / source_digest()
    cp_file = stamp / "classpath.txt"
    if cp_file.exists():
        return cp_file.read_text().strip()
    stamp.mkdir(parents=True, exist_ok=True)
    with open(bench_build / "build" / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if cp_file.exists():
            return cp_file.read_text().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = Path.home() / ".sbt" / "repositories"
        cmd = ["sbt", "--batch", "-J-XX:-UsePerfData",
               "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               "-Dsbt.server.autostart=false",
               f"-Dsbt.global.base={bench_build / 'sbt-global'}"]
        boot = Path.home() / ".sbt" / "boot"
        if boot.is_dir():
            # the launcher's own jars ship with the toolchain
            cmd.append(f"-Dsbt.boot.directory={boot}")
        if repos.exists():
            cmd += ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"]
        cmd.append("writeClasspath")
        log = stamp / "build.log"
        with open(log, "w") as out:
            rc = run_child(cmd, HERE, env, out, out, BUILD_TIMEOUT_S)
        produced = HERE / "target" / "classpath.txt"
        if rc != 0 or not produced.exists():
            sys.stderr.write(log.read_text()[-4000:])
            die(f"build failed (exit {rc}); log: {log}")
        shutil.copy(produced, cp_file)
    return cp_file.read_text().strip()


def run_child(cmd, cwd, env, out, err, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                             start_new_session=True)
    try:
        return child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        return -1
    except BaseException:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        raise


def heap_size():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        gib = kb // (2 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{max(2, min(4, gib))}g"


def run_jvm(cp, bench_build, args):
    """One JVM run; returns (stdout lines, parsed result)."""
    work = bench_build / "work" / f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", f"-Xmx{heap_size()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work / "data")]
    logs = bench_build / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    out_path = work / "stdout.txt"
    try:
        with open(out_path, "w") as out, open(log, "w") as err:
            rc = run_child(cmd, ROOT, os.environ.copy(), out, err,
                           JVM_TIMEOUT_S)
        lines = out_path.read_text().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(log.read_text().splitlines()[-40:]) + "\n")
        die(f"benchmark JVM exited with {rc}; log: {log}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        die(f"no result line; log: {log}")
    return lines, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not ENGINE_SRC.is_dir():
        die(f"engine sources not found at {ENGINE_SRC}")
    bench_build = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    bench_build.mkdir(parents=True, exist_ok=True)
    cp = build(bench_build)

    lines, result = run_jvm(cp, bench_build, args)
    print("\n".join(lines[:-1]))
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
