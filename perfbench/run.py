#!/usr/bin/env python3
"""Benchmark entry point: build the engine with the benchmark, run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload curate|lake|ann --seed N \
        --seconds S --trace 0|1 [--scale X] [--plant 1]

The first call compiles `src/main/scala` together with `perfbench/src` using
the standalone sbt build in `perfbench/` (output under `.bench_build/`, or
`$CARGO_TARGET_DIR` when set); later calls reuse the build while the sources
are unchanged. Each run gets a private work directory under `.bench_work/`,
which is removed afterwards; traced runs leave their span file in
`.bench_work/traces/`. The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir, digest):
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_TARGET"] = os.path.join(build_dir, "sbt-target")
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cps[-1]


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "tree-" + digest[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["curate", "lake", "ann"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--plant", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    digest = source_digest()
    classpath = build(build_dir, digest)

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    jvm = [java, "-Xmx3g",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", classpath, "perfbench.Main",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--scale", str(args.scale), "--plant", str(args.plant),
                 "--work", work, "--out", os.path.join(work_root, "traces"),
                 "--commit", commit_id(digest)]
    # Spark's scratch space stays inside the run's work directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(RUN_TIMEOUT_S, child.kill)
    timer.start()
    result = None
    try:
        for ln in child.stdout:
            if ln.startswith('{"correct"'):
                result = ln.strip()
            else:
                sys.stdout.write(ln)
                sys.stdout.flush()
        rc = child.wait()
    finally:
        timer.cancel()
        if child.poll() is None:
            child.kill()
            child.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        fail(f"run failed (exit code {rc})", 4)
    print(result)


if __name__ == "__main__":
    main()
