#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the engine and the
runner from source with sbt (outputs under perfbench/target and
.bench_build); later calls reuse the build while the sources are unchanged.
Then one JVM runs the workload as a closed loop at local[4] and the last
line of stdout is the result JSON.

    python3 perfbench/run.py --pin WORKLOAD [--sf sf0.01]

rewrites the pinned outputs of one workload's keys (see README.md).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# Spark on JDK 17 outside spark-submit (see the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    or on any exit from here, and waits for it. Returns (code, stdout)."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {timeout} s; killing it")
        return -1, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def build():
    """Compile once per source state; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as errs:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=errs, text=True)
        errs.write(out or "")
    if code != 0:
        raise SystemExit(f"sbt build failed ({code}); see .bench_build/build.log")
    lines = [l.strip() for l in out.splitlines() if "/classes" in l and not l.startswith("[")]
    if not lines:
        raise SystemExit("sbt printed no classpath; see .bench_build/build.log")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, jvm_args, stdout):
    work = jvm_args[jvm_args.index("--work") + 1]
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + jvm_args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    return run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=stdout, env=env)


def main():
    # a terminated run still stops and reaps its JVM (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default="sf0.01")
    ap.add_argument("--pin", metavar="WORKLOAD")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("engine sources not found: run from the root of a checkout")
    data = os.path.join(HERE, "data", a.sf)
    pins = os.path.join(HERE, "pins", f"{a.sf}.tsv")
    if not os.path.isdir(data):
        raise SystemExit(f"no input tables at {data}")
    workload = a.pin or a.workload
    if not workload:
        raise SystemExit("--workload is required")
    cp = build()
    work = os.path.join(BUILD, "runs", f"{workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_args = ["--workload", workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--work", work, "--pins", pins,
                "--trace-out", os.path.join(BUILD, "traces", f"{workload}-seed{a.seed}.json")]
    try:
        if a.pin:
            code, _ = run_jvm(cp, jvm_args + ["--mode", "pin"], None)
            raise SystemExit(code)
        launch_ms = time.time() * 1000.0
        code, out = run_jvm(cp, jvm_args + ["--launch-ms", f"{launch_ms:.3f}"],
                            subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = (out or b"").decode("utf-8", "replace").rstrip("\n").split("\n")
    if code != 0 or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
