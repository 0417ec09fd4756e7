#!/usr/bin/env python3
"""Benchmark for the sifterspark validation engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload validate_scan --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source with sbt on first use
(into .bench_build/ and the sbt target directories), then runs one JVM at
local[4] that generates the workload's input from the seed, warms up,
measures for --seconds and checks every output against a plain-Scala
tally. The last line of stdout is the result as one JSON object. With
--trace 1 the run instead writes the per-layer metrics, and a JSON file of
spans under .bench_build/traces/.
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

WORKLOADS = ("validate_scan", "snapshot_commit", "playbook_graph")
BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
# one run, build excluded, must end well inside three minutes
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("src", "main"), os.path.join(BENCH_DIR, "build.sbt"),
            os.path.join(BENCH_DIR, "project", "build.properties"),
            os.path.join(BENCH_DIR, "src")]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    h.update(os.path.abspath(root).encode())
    return h.hexdigest()


def build(root):
    """Compile with sbt unless the classpath for this exact tree exists."""
    build_dir = os.path.join(root, BUILD_DIR)
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "writeClasspath"],
        cwd=os.path.join(root, BENCH_DIR), env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.exit(f"[perfbench] build failed (sbt exit {proc.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as g:
        return g.read().strip()


def run_jvm(root, classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_file = os.path.join(root, BUILD_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Parquet's vectored reads run on a separate thread pool on the local
    # file system, where Spark's task input metrics cannot see them; read
    # on the task threads so that read_mb counts parquet bytes
    cmd += ["-Dspark.hadoop.parquet.hadoop.vectored.io.enabled=false"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dfile.encoding=UTF-8", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--workdir", work, "--trace-file", trace_file]
    env = dict(os.environ, LANG="C.utf8")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        sys.exit(f"[perfbench] benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        sys.exit("[perfbench] benchmark JVM printed no result")
    result = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    if args.trace:
        log(f"trace written to {os.path.relpath(trace_file, root)}")
    return result


def main():
    # a terminated run still stops its JVM: SystemExit unwinds through the
    # finally blocks that kill the child process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[perfbench] terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join(BENCH_DIR, "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"[perfbench] {need} not found: run from the root of a sifterspark checkout")

    classpath = build(root)
    work = os.path.join(root, BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = run_jvm(root, classpath, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
