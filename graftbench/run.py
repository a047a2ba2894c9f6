#!/usr/bin/env python3
"""graft's end-to-end benchmark: builds the checkout's library with the
benchmark (sbt, offline, cached by a hash of the sources), then runs one
workload in its own JVM and relays its one-line JSON result.

Usage (from the root of a checkout):
    python3 graftbench/run.py --workload cdc_live --seed 1 --seconds 10 --trace 0

Workloads: cdc_live, analytics_mix. `--trace 1` adds a traced
region and prints the per-layer metrics instead of the end-to-end ones;
its spans land in graftbench/.work/traces/. Exit code is non-zero when an
operation failed, an output was wrong, or the build did not succeed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "graftbench.stamp")
CLASSPATH = os.path.join(TARGET, "graftbench.classpath")
WORK = os.path.join(BENCH, ".work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_hash():
    h = hashlib.sha256()
    for base in (LIB, os.path.join(BENCH, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    return p.returncode, out


def build(env):
    stamp = sources_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    sbt_env = dict(env)
    sbt_env.setdefault("COURSIER_MODE", "offline")
    # no JVM perf-data files outside the checkout
    opts = sbt_env.get("SBT_OPTS", "") + " -XX:-UsePerfData"
    if "sbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts += (" -Dsbt.override.build.repos=true -Dsbt.offline=true"
                 f" -Dsbt.repository.config={repos}")
    sbt_env["SBT_OPTS"] = opts
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail(f"build failed (exit {code})")
    cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cdc_live", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(LIB, "scala", "graft", "SparkEntry.scala")):
        fail(f"graft's library sources are missing (expected {LIB}); "
             "run from the root of a full checkout")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    cp = build(env)

    work = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--lake", os.path.join(BENCH, "lake"),
            "--expected", os.path.join(BENCH, "expected", "analytics.tsv"),
            "--work", os.path.join(work, "w"), "--traces", os.path.join(WORK, "traces")])
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                              stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"{a.workload} did not finish in {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    for l in lines[:-1] if result else lines:
        print(l)
    if result is None:
        fail(f"{a.workload} printed no result (exit {code})")
    print(result)
    sys.exit(code)


if __name__ == "__main__":
    main()
