#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 perfbench/run.py --workload fleet_dense --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The program (src/main/scala) and the
benchmark (perfbench/src) are compiled together with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, or the one next
to `spark-submit` on PATH) into $CARGO_TARGET_DIR (default
.bench_build), and rebuilt only when a source changes. The last line
of standard output is the run's result as one JSON object. The exit
code is 0 only when the run finished and every output was correct.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
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
WORKLOADS = ("fleet_dense", "fleet_wide", "catalog_mix")
DATA = os.path.join(HERE, "data", "sf0.01")
HASHES = os.path.join(ROOT, "bench", "verify_snapshots", "sf0.01", "HASHES.tsv")
# a run must end within 180 s of its start, build included
DEADLINE_S = 175
# Spark 4 on JDK 17 outside spark-submit needs these opened (the list
# org.apache.spark.launcher.JavaModuleOptions gives)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not program:
        fail("no program sources under src/main/scala: run from a checkout of the repository")
    return program + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(jars, build_dir, deadline):
    """Compile into build_dir/classes unless the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\0".join(sorted(os.listdir(jars))).encode())
    stamp = os.path.join(build_dir, "classes.sha256")
    classes = os.path.join(build_dir, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail(f"Scala compiler jars not found in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*")] + srcs
    t0 = time.time()
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                             timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed", 1)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def jvm(jars, classes, build_dir, main, args, deadline):
    """Run a JVM main to completion; returns (exit code, stdout lines)."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(build_dir, d), exist_ok=True)
    opens = [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xms4g", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(build_dir, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(build_dir, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(build_dir, 'warehouse')}",
           f"-Dderby.system.home={build_dir}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main, *args]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("run timed out", 1)
    finally:
        # on a timeout or a signal to this script, the JVM goes too
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def expected_metrics(trace):
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return None
    with open(spec) as f:
        bench = json.load(f)
    return {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="test the benchmark's own helpers")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    deadline = time.time() + DEADLINE_S
    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(jars, build_dir, deadline)

    if a.self_test:
        code, lines = jvm(jars, classes, build_dir, "graft.perfbench.SelfTest",
                          ["--hashes", HASHES, "--data", DATA], deadline)
        print("\n".join(lines))
        sys.exit(code)

    trace_out = os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.json")
    code, lines = jvm(jars, classes, build_dir, "graft.perfbench.Main",
                      ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--data", DATA, "--hashes", HASHES,
                       "--trace-out", trace_out], deadline)
    if code != 0 or not lines:
        print("\n".join(lines))
        fail(f"benchmark JVM exited with code {code}", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("the benchmark JVM printed no result line", 1)
    want = expected_metrics(a.trace)
    if want is not None and set(result["metrics"]) != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(want - set(result['metrics']))}, "
             f"extra {sorted(set(result['metrics']) - want)}", 1)
    print("\n".join(lines[:-1]))
    print(lines[-1])
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
