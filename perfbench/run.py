#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) and caches the build
under perfbench/target, keyed by a digest of the sources; later runs start
the JVM directly. Everything else a run writes, sbt's own state included,
stays under perfbench/.work.

The test tables are read from $PERFBENCH_DATA, by default ~/testdata (see
TESTDATA.md). Spark comes from $SPARK_HOME.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end_to_end metrics of
BENCHMARK.json, with --trace 1 its per_layer metrics (0 where a workload
does not touch the layer). Traced runs also write their spans to
perfbench/.work/traces/<workload>-seed<n>.jsonl.

--pin 1 rewrites the pinned expected outputs under perfbench/pins from
this run instead of checking against them.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("etl_convert", "etl_validate", "dashboard_session", "catalog_sf001")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as the root build sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads from this checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the cached build matches the sources; returns
    the runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "sources.sha256")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    try:
        # sbt's own state and temp files go under .work, not the home directory
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true",
                            f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
                            "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}",
                            "-J-XX:-UsePerfData", "writeClasspath"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(digest + "\n")
    with open(cp_file) as fh:
        return fh.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--pin", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    data = os.environ.get("PERFBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata"))
    if not os.path.isdir(data):
        fail(f"test tables not found at {data}; set PERFBENCH_DATA")

    classpath = build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.work={run_dir}/files",
            f"-Dperfbench.data={data}", f"-Dperfbench.pins={os.path.join(HERE, 'pins')}",
            f"-Dperfbench.traces={os.path.join(WORK, 'traces')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--pin", str(a.pin)]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch files in run_dir
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"{a.workload} exited with code {proc.returncode}", 5)
    for line in lines[:-1]:
        print(line)
    res = json.loads(lines[-1])
    attempted, failed = res["attempted"], res["failed"]

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            if not a.trace:
                fail(f"{a.workload} did not report {m['name']}", 6)
            v = 0.0
        if not math.isfinite(v):
            fail(f"{a.workload} reported {m['name']} = {v}", 6)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"{name:34s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_share':34s} {failed / max(1, attempted):.6g} ratio")
    print(json.dumps({
        "correct": failed == 0 and attempted >= 1,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
