#!/usr/bin/env python3
"""Run one benchmark workload and print its JSON result as the last line.

    python3 perfbench/run.py --workload vc_remote --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark program from the sources in this
checkout (once; rebuilt when any source changes), then runs the program
in a fresh JVM. Exits non-zero, printing no result, if the build or the
run fails or a result check fails to produce a result.
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
BUILD = os.path.join(HERE, "target", "perfbench")
WORKLOADS = ["vc_remote", "tensor_pipeline"]
# JVM options per workload. vc_remote shrinks the chunk cache so its
# 64 MiB of remote chunks exceed the cache as the full-size layout (1 GiB)
# exceeds the default 256 MiB.
CACHE = {"vc_remote": str(16 << 20)}
HEAP = "3g"
# The JVM's time limit: set-up (Spark start, three repo builds, a warm-up
# cycle), a loop of at most three times --seconds, and the traced run's
# once-per-run ops and wind-down.
SETUP_ALLOWANCE_S = 80
EXTRAS_ALLOWANCE_S = 45
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def spark_home():
    """SPARK_HOME, else the first spark-submit on PATH whose install has jars."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        jars = os.path.join(h, "jars")
        if h and os.path.isdir(jars) and any(j.startswith("spark-core") for j in os.listdir(jars)):
            return h
    raise SystemExit("no Spark install found (set SPARK_HOME)")


def build():
    """Compile once per source state; returns the runtime classpath."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and benchmark program")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    code, out = run_bounded(cmd, HERE, 840, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build failed")
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        raise SystemExit("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no engine sources beside the benchmark (src/main/scala/graft)")
    cp = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    if a.workload in CACHE:
        cmd.append(f"-Dgraft.chunkCache.bytes={CACHE[a.workload]}")
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    errlog = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}.log")
    timeout = SETUP_ALLOWANCE_S + 3 * a.seconds + EXTRAS_ALLOWANCE_S
    t0 = time.time()
    try:
        with open(errlog, "w") as err:
            code, out = run_bounded(cmd, work, timeout, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
    except subprocess.TimeoutExpired:
        code, out = -1, ""
        log(f"run exceeded {timeout:.0f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(errlog) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"run failed (exit {code}) after {time.time() - t0:.1f} s")
    os.remove(errlog)
    for l in lines:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
