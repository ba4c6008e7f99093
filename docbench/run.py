#!/usr/bin/env python3
"""Document-pipeline benchmark: run one workload and print its metrics.

    python3 docbench/run.py --workload doc_interactive --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the benchmark (its
own sbt project in docbench/, compiled together with the library
sources under src/main/scala) into docbench/target; later runs reuse the
build while no source changed. Work files go to .bench_run/ and are
deleted when the run ends; span dumps go to .bench_out/.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The exit code is non-zero when the run fails or an output check fails.
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(ROOT, ".bench_build", "docbench.stamp")
RUN_LIMIT_S = 165
WORKLOADS = ("doc_interactive", "doc_bulk", "operator_suite")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[docbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """The Spark installation whose jars the build and the run use:
    SPARK_HOME, else the first `spark-submit` on PATH that sits next to
    a jars/ directory (a pip-installed launcher does not)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def source_digest():
    h = hashlib.sha256()
    for top in (LIB_SRC, BENCH_SRC, os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.autostart=false", "compile"],
                   cwd=HERE, env=env, check=True, stdout=sys.stderr, timeout=840)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest)


def fixture_dir():
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import fixture
    out = os.path.join(ROOT, ".bench_build", f"fixture-v{fixture.FIXTURE_VERSION}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        fixture.generate(out)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke test")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected", "operator_suite.json"),
                    help="recorded operator-suite result hashes")
    ap.add_argument("--record", help="write the operator-suite hashes seen to this file")
    args = ap.parse_args()

    home = spark_home()
    if home is None:
        log("no Spark installation found: set SPARK_HOME")
        return 2
    os.environ["SPARK_HOME"] = home
    if not os.path.isdir(LIB_SRC):
        log(f"library sources not found at {os.path.relpath(LIB_SRC, ROOT)}; "
            "run from a checkout of the repository")
        return 2
    try:
        build()
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired, OSError) as e:
        log(f"build failed: {e}")
        return 1
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    spark_jars = os.path.join(home, "jars", "*")
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j.configurationFile={HERE}/log4j2.properties"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{spark_jars}", "docbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    if args.workload == "operator_suite":
        cmd += ["--fixture", fixture_dir(), "--expected", args.expected]
        if args.record:
            cmd += ["--record", os.path.abspath(args.record)]
    if args.tiny:
        cmd.append("--tiny")
    result = None
    try:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        # a run that hangs is killed, so the benchmark always ends in bounded time
        watchdog = threading.Timer(RUN_LIMIT_S, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("{") and '"metrics"' in line:
                    result = line.strip()
                else:
                    sys.stderr.write(line)
            code = proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None or code < 0:
        log(f"no result (exit code {code})")
        return 1
    print(result)
    return code


if __name__ == "__main__":
    sys.exit(main())
