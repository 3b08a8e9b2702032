#!/usr/bin/env python3
"""Benchmark entry point.

Usage, from the repository root:

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, into
e2ebench/target; the classpath is cached in .bench_build/), then runs one
workload in a fresh JVM with a fresh work directory under .bench_work/,
which is deleted on exit. The last line of standard output is the result
object: correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("stream_backfill", "batch_pass")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every source and build file that goes into the build."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath and
    the source stamp it was built from."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "e2ebench.classpath")
    stamp_file = os.path.join(BUILD, "e2ebench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building engine + harness with sbt")
    t = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True, timeout=840)
    sys.stderr.write("".join(l + "\n" for l in p.stdout.splitlines()[-40:] if l.startswith("[")))
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not lines:
        log(f"build failed (exit {p.returncode})")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.1f}s")
    return cp, stamp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no engine sources under {ROOT}/src/main/scala; run from the repository root")
        sys.exit(2)
    cp, stamp = build()
    start_ms = int(time.time() * 1000)

    work = os.path.join(WORK, f"run-{os.getpid()}-{start_ms}")
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap: no resizing while a run measures
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "bench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--root", ROOT, "--start-ms", str(start_ms),
            "--guard", os.path.join(BUILD, f"guard-{stamp[:16]}")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S}s; killed")
        out = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if out is None or proc.returncode != 0:
        log(f"workload failed (exit {proc.returncode})")
        sys.exit(1)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 1 or not lines[-1].startswith('{"correct"'):
        log("no result line from the workload")
        sys.exit(1)
    for l in lines[:-1]:
        print(l)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
