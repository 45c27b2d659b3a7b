#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source with the benchmark's own sbt
build (once per source state, into $CARGO_TARGET_DIR or .bench_build), then
runs one workload in a single JVM at local[<cores>] with a fixed heap and a
WARN-level log config. The last line of stdout is the JSON result. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["pipeline_batch", "query_battery"]
# Heap of the benchmark JVM: fixed, so every run has the same shape whatever
# SPARK_DRIVER_MEM the caller's shell carries.
DRIVER_MEM = "4g"
RUN_TIMEOUT_S = 170
ARCHIVE = "classes.jsa"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build compiles, to reuse a build of the same sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp, work, cds, args):
    """The benchmark JVM: fixed heap, JDK 17 module opens, WARN logging,
    temp files inside the run's work directory."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java", f"-Xmx{DRIVER_MEM}", cds, "-Xlog:disable", "-Xlog:all=warning:stderr"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.timezone=UTC",
               "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main", "--work", work]
            + args)


def build(build_dir):
    """Compile with sbt (offline) and return the runtime classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("[") or "spark-core" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    archive = os.path.join(build_dir, ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="query_battery only: rewrite battery_digests.tsv and keep the "
                         "work dir with the results and oracle SQL for a DuckDB check")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from a full checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    # Class-data sharing: the first run after a build dumps the classes it
    # loaded, later runs map them. It only shortens JVM and Spark start-up
    # (class loading, before anything is timed); the JVM ignores an archive
    # that does not match the classpath.
    archive = os.path.join(build_dir, ARCHIVE)
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cmd = java_cmd(cp, work, cds,
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--digests", os.path.join(HERE, "battery_digests.tsv")]
                   + (["--record-digests"] if a.record_digests else []))
    env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM)
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if not a.record_digests:
            shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("result line has unexpected keys")
    want = expected_metrics(a.trace)
    if set(result["metrics"]) != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ want)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
