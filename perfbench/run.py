#!/usr/bin/env python3
"""Repository benchmark: interactive search and live ingest over the Spark
fulltext engine, timed from outside through its public APIs.

Run from the repository root:

    python3 perfbench/run.py --workload search_interactive --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/METRICS.md):
  search_interactive  closed loop of single-query requests, 2 client threads,
                      over an index bulk-built in set-up
  ingest_live         one writer appending seeded batches (with upserts and
                      deletes, merge policy after each append) beside two
                      readers

The first run builds the engine and the benchmark from source with sbt
(perfbench/build.sbt) and caches the classpath; later runs start the JVM
directly. Each run generates its inputs from --seed, measures for --seconds,
checks every answer, and prints as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (which also writes the span
file perfbench/out/spans-<workload>-<seed>.jsonl). The line before it
describes the machine (cpus, load average) for information only.
"""
import argparse
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "bench-classpath.txt")
WORKLOADS = ("search_interactive", "ingest_live")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala") or f.endswith(".sbt"):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def spark_home():
    """SPARK_HOME, else the Spark whose jars the repository build compiles
    against."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        home = os.path.dirname(m.group(1).rstrip("/")) if m else ""
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot locate Spark's jars; set SPARK_HOME")
    return home


def classpath():
    """Compile engine + benchmark if any source is newer than the cached
    classpath, and return the runtime classpath."""
    sources = [ENGINE_SRC, BENCH_SRC, os.path.join(HERE, "build.sbt")]
    if os.path.exists(CLASSPATH_FILE) and \
            os.path.getmtime(CLASSPATH_FILE) >= newest_mtime(sources):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    default_opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        default_opts = ("-Dsbt.override.build.repos=true "
                        f"-Dsbt.repository.config={repos} " + default_opts)
    env.setdefault("SBT_OPTS", default_opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(proc.stdout)
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; "
             "run from a checkout of the repository")
    cp = classpath()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(work, "result.jsonl")
    spans = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result, "--spans", spans]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise
    if code != 0 or not os.path.exists(result):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exited with code {code}")
    with open(result) as f:
        lines = f.read().splitlines()
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
