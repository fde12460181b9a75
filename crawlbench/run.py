#!/usr/bin/env python3
"""Run one crawl-benchmark workload and print its result.

    python3 crawlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. The first run builds
the engine and the benchmark from source with sbt (into .bench_build/ and the
sbt target directories); later runs reuse the build while the sources are
unchanged. The run itself is one JVM, with all its scratch files under
.bench_build/, which it removes when it ends. Its report goes to stdout; the
last stdout line is the JSON result, holding the metrics BENCHMARK.json
declares (end-to-end ones without tracing, per-layer ones with it). Exit
status is 0 only when every correctness check passed.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared_metrics(trace):
    """Names of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace == "1" else "end_to_end"]]


def fail(msg):
    print(f"crawlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(stamp):
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(OUT, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            # no sbt server, and sbt's temp files under the build directory
            sbt_tmp = os.path.join(OUT, "sbt-tmp")
            os.makedirs(sbt_tmp, exist_ok=True)
            _, rc = run_bounded(["sbt", "-batch", "--no-server", f"-Djava.io.tmpdir={sbt_tmp}",
                                 "-Dsbt.log.noformat=true", "compile", "printClasspath"],
                                BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                                stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log_path}")
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    cps = [l[len("CLASSPATH="):] for l in lines if l.startswith("CLASSPATH=")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); see {log_path}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"crawlbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def main():
    # on SIGTERM, unwind: run_bounded kills the JVM, finally removes scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; it must name the Spark install to build and run against")
    names = declared_metrics(a.trace)

    cp = build(source_stamp())
    # a killed earlier run may have left its scratch directory behind
    for stale in os.listdir(OUT):
        if stale.startswith("run-"):
            shutil.rmtree(os.path.join(OUT, stale), ignore_errors=True)
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "crawlbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--dir", run_dir,
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    out_path = os.path.join(run_dir, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            _, rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=run_dir, env=env,
                                stdin=subprocess.DEVNULL, stdout=out)
        with open(out_path) as fh:
            lines = fh.read().splitlines()
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    results = [l for l in lines if l.startswith("result ")]
    for l in lines:
        if not l.startswith("result "):
            print(l)
    if rc not in (0, 1) or not results:
        fail(f"{a.workload} ended with exit status {rc} and no result")
    result = json.loads(results[-1][len("result "):])
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        fail(f"{a.workload} does not measure {', '.join(missing)}")
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(json.dumps(result), flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
