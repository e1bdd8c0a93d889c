#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from source.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive|ingest|batch \\
        --seed N --seconds S --trace 0|1 [--tiny] [--corrupt]

The first run builds the engine and the benchmark with sbt (offline) and
caches the classpath under perfbench/target; later runs start the JVM
directly. Everything a run writes stays under perfbench/target (generated
data, Spark local dirs) and perfbench/out (one JSON artifact per run).
The last line of stdout is the result JSON; any failure before it exits
non-zero without printing a result.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "classpath.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark once per source state; return classpath."""
    for need in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources here ({need} missing); run from the "
                 "repository root")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = next((l.strip() for l in reversed(lines)
               if l.startswith(os.sep) and ".jar" in l), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def main():
    # a terminating signal unwinds through the blocks that stop the children
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "ingest", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001-sized inputs (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt each result before its check (self-test)")
    ap.add_argument("--dump", help="also write each batch result as parquet "
                    "under this directory and print its PIN line")
    a = ap.parse_args()

    cp = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + \
        ("-tiny" if a.tiny else "") + ("-corrupt" if a.corrupt else "")
    work = os.path.join(TARGET, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(BENCH, "out", f"{tag}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    for d in ["tmp", "spark-local", "warehouse"]:
        os.makedirs(os.path.join(work, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", out,
            "--pins", os.path.join(BENCH, "pins.txt")]
    if a.tiny:
        cmd.append("--tiny")
    if a.corrupt:
        cmd.append("--corrupt")
    if a.dump:
        cmd += ["--dump", os.path.abspath(a.dump)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark JVM printed no result line")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
