#!/usr/bin/env python3
"""Lakehouse workload benchmark.

Builds the engine (src/main/scala) and the benchmark (perfbench/src) from
source with the Scala compiler that ships in the Spark distribution, then
runs one seeded workload in one JVM and prints its result object as the
last line of standard output.

    python3 perfbench/run.py --workload upsert_lookup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest            # every check must catch its corruption

Build outputs, logs, traces and the per-run scratch directory live under
.bench_build/perfbench in the checkout; the scratch directory is removed
when the run ends.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["serving", "ingest", "medallion_cdc", "upsert_lookup", "view_refresh", "curation_ingest"]
PARTS = WORKLOADS[2:]
SCALA_VERSION = "2.13.17"
RUN_TIMEOUT_S = 170
HEAP = "3g"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

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


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {engine}")
    srcs = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return srcs


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory the sbt build declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME to a Spark 4 distribution")
    return m.group(1)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        fail(f"no Spark jars in {spark_jars_dir()}")
    return jars


def build():
    """Compiles engine + benchmark into BUILD/classes unless the sources
    are unchanged since the last build."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes, jars
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-d", tmp, "-classpath", ":".join(jars), "-nowarn"] + srcs))
    compiler = ":".join(os.path.join(spark_jars_dir(), f"scala-{m}-{SCALA_VERSION}.jar")
                        for m in ("compiler", "library", "reflect"))
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
                        "@" + args_file], capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 3)
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes, jars


def run_jvm(classes, jars, jvm_args, tag):
    """Runs perfbench.Main; returns (exit code, stdout lines). Stderr
    goes to a log file; the whole process group is killed on timeout."""
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    out_dir = os.path.join(BUILD, "traces")
    os.makedirs(out_dir, exist_ok=True)
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = ":".join([classes, resources] + jars)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            "-cp", cp, "perfbench.Main"] + jvm_args + [
            "--t0-ms", str(int(time.time() * 1000)), "--run-dir", run_dir, "--out-dir", out_dir]
    log_path = os.path.join(logs, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                 cwd=run_dir, start_new_session=True)
            # SIGTERM to this script exits through the finally below, which kills the JVM
            signal.signal(signal.SIGTERM, lambda *_: sys.exit(5))
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"run timed out after {RUN_TIMEOUT_S}s (log: {log_path})", 4)
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that every correctness check catches a corrupted result")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    classes, jars = build()

    if a.selftest:
        ok = True
        for w in [a.workload] if a.workload else PARTS:
            code, lines = run_jvm(classes, jars, ["--workload", w, "--seed", str(a.seed), "--seconds", "0",
                                                  "--trace", "0", "--selftest", "1"], f"selftest-{w}")
            print("\n".join(l for l in lines if l.startswith("[selftest]")))
            ok = ok and code == 0
        print(f"[selftest] {'PASS' if ok else 'FAIL'}")
        sys.exit(0 if ok else 1)

    code, lines = run_jvm(classes, jars, ["--workload", a.workload, "--seed", str(a.seed),
                                          "--seconds", str(a.seconds), "--trace", str(a.trace)],
                          f"{a.workload}-seed{a.seed}-trace{a.trace}")
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    for l in lines:
        if not l.startswith("PERFBENCH_RESULT "):
            print(l)
    if code != 0 or not results:
        fail(f"workload {a.workload} ended with exit code {code} and no result", 1)
    result = json.loads(results[-1][len("PERFBENCH_RESULT "):])
    missing = [k for k, m in result["metrics"].items() if m["value"] is None]
    if missing:
        fail(f"no samples for {', '.join(missing)}", 1)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
