#!/usr/bin/env python3
"""Run one workload of the CDC benchmark and print its result.

Usage, from the repository root:

    python3 cdcbench/run.py --workload poll_apply --seed 1 --seconds 5 --trace 0

The first run builds the engine and the benchmark with sbt (offline) and
caches the runtime classpath under .bench_build/ with a hash of the sources
it built; later runs with the same sources start the JVM straight away. Every line the benchmark
prints goes to stdout; the last line is one JSON object with the keys
correct, attempted, failed and metrics. Spark's own log goes to
.bench_build/logs/. Any other argument (--inject, --digest-only,
--record-hashes, --dump-canonical) is passed to the benchmark's main.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("poll_apply", "replay_apply", "snapdiff_apply", "query_suite")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Files whose change forces a rebuild, relative to the repository root.
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "cdcbench/build.sbt", "cdcbench/project/build.properties", "cdcbench/src")


def fail(msg, code=2):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds the engine and the benchmark once per source state."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the engine's sources (build.sbt, src/main) are not in this checkout")
    # the classpath names the build's class directories, so it is reused only
    # while the sources are the ones the last build compiled
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cp:
                    return cp.read().strip()
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    args, extra = ap.parse_known_args()

    cp = classpath()
    started = time.monotonic()
    for d in ("tmp", "logs", "spark-local", "derby"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{args.workload}-{args.seed}-trace{args.trace}.log")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
        f"-Dderby.system.home={os.path.join(BUILD, 'derby')}",
        "-cp", cp, "cdcbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace] + extra)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    result = None
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        watchdog = threading.Timer(RUN_TIMEOUT_S - (time.monotonic() - started), proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("[cdcbench-result] "):
                    result = json.loads(line[len("[cdcbench-result] "):])
                elif line.startswith("[cdcbench]"):
                    print(line.rstrip("\n"), flush=True)
        finally:
            proc.wait()
            watchdog.cancel()
    if "--digest-only" in extra:
        sys.exit(proc.returncode)
    if proc.returncode != 0 or result is None:
        fail(f"the benchmark exited with {proc.returncode} and no result (log: {log})", 1)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result {result}", 1)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
