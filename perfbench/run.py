#!/usr/bin/env python3
"""Benchmark of the weekly immo pipeline and the operator library.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload scrape_week --seed 1 --seconds 10 --trace 0

Builds the program (src/main/scala) together with the benchmark sources
(perfbench/src) with the Scala compiler shipped in Spark's jars, caches the
classes under .bench_build/, then runs one workload in a fresh JVM and prints
its result as the last line of stdout. See perfbench/BENCHMARK.md.

    python3 perfbench/run.py --record-mix perfbench/mix_expected.tsv

re-records the operator mix's expected results.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("scrape_week", "operator_mix")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
# A fixed heap and young generation make peak memory repeatable.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn512m",
             # JVM warnings (e.g. from writing the archive) go to stderr
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             # no perf-data file under /tmp: runs write only inside the checkout
             "-XX:-UsePerfData"]
# The weekly scrape runs in C1-compiled code only. Under the full tiered JIT
# its iterations kept getting faster for more than 60 s (from 6.3 s to 2.9 s
# on 4 cores), so a run measured wherever C2 happened to be; with C1 they
# level off after the first. The weekly jobs run in short-lived JVMs too.
WORKLOAD_JVM_FLAGS = {"scrape_week": ["-XX:TieredStopAtLevel=1"]}
# The weekly scrape gives Spark's task threads half the usable cores. With one
# task thread per core the driver, compiler and collector threads compete with
# the tasks; its iterations then varied by 9% within a run, against 6%, and
# were no faster.
CORE_SHARE = {"scrape_week": 2}
# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt's javaOptions)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(ROOT, "perfbench", "src")
    found = []
    for top in (program, bench):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(f.startswith(program) for f in found):
        fail(f"no program sources under {program}")
    return sorted(found)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt compiles
    against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            fail("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not os.path.isdir(jars) or not any(
            f.startswith("scala-compiler") for f in os.listdir(jars)):
        fail(f"no Spark jars with a Scala compiler at {jars}")
    return jars


def build(srcs, jars):
    """Compile once per source state into a jar; returns the build directory."""
    key = hashlib.sha256()
    for f in srcs:
        key.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            key.update(fh.read())
    key.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + key.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    t0 = time.time()
    if run_child(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr) != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed")
    # one jar rather than a class directory: the JVM's class-data sharing
    # archive (see java_cmd) only covers classes loaded from jars
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w") as jar:
        for d, _, files in os.walk(tmp):
            for f in files:
                if f.endswith(".class"):
                    path = os.path.join(d, f)
                    jar.write(path, os.path.relpath(path, tmp))
    for entry in os.listdir(tmp):
        path = os.path.join(tmp, entry)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif entry != "perfbench.jar":
            os.remove(path)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {cmd[-1]}", 3)


def java_cmd(build_dir, jars, work, main, args, flags=()):
    """The JVM command line. The first run of a build records the classes it
    loads in a class-data sharing archive; later runs map it instead of
    loading and verifying the same few thousand classes again."""
    cp = os.pathsep.join([os.path.join(build_dir, "perfbench.jar")] + sorted(
        os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar")))
    archive = os.path.join(build_dir, "classes.jsa")
    cds = ([f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive)
           else [f"-XX:ArchiveClassesAtExit={archive}.tmp"])
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp", "hadoop"),
        "derby.system.home": work,
        "log4j2.configurationFile": os.path.join(ROOT, "perfbench", "log4j2.properties"),
    }
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
            + cds + JVM_FLAGS + list(flags) + [f"-D{k}={v}" for k, v in props.items()]
            + ["-cp", cp, main] + args)


def child_env(work, workload=None):
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    cores = len(os.sched_getaffinity(0))
    env["SPARK_GRAFT_CPUS"] = str(max(1, cores // CORE_SHARE.get(workload, 1)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def expected_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except OSError:
        return None
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-mix", metavar="FILE")
    a = ap.parse_args()
    if not a.workload and not a.record_mix:
        ap.error("--workload or --record-mix is required")

    jars = spark_jars()
    build_dir = build(sources(), jars)
    tag = a.workload or "record"
    work = os.path.join(BUILD, "work", f"{tag}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.record_mix:
            cmd = java_cmd(build_dir, jars, work, "perfbench.RecordMix",
                           [work, os.path.abspath(a.record_mix)])
            sys.exit(run_child(cmd, 900, env=child_env(work)))
        spawn_ms = int(time.time() * 1000)
        cmd = java_cmd(build_dir, jars, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", ROOT, "--work", work,
            "--spawn-ms", str(spawn_ms)], WORKLOAD_JVM_FLAGS.get(a.workload, ()))
        out_path = os.path.join(work, "stdout.txt")
        with open(out_path, "w") as out:
            code = run_child(cmd, RUN_TIMEOUT_S, env=child_env(work, a.workload), stdout=out)
        with open(out_path) as fh:
            lines = fh.read().splitlines()
        archive = os.path.join(build_dir, "classes.jsa")
        if code == 0 and os.path.exists(archive + ".tmp"):
            os.rename(archive + ".tmp", archive)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [i for i, line in enumerate(lines) if line.startswith('{"correct"')]
    for i, line in enumerate(lines):
        if i not in results:
            print(line)
    if code != 0 or not results:
        fail(f"benchmark JVM exited with {code} and {len(results)} result lines", 1)
    try:
        result = json.loads(lines[results[-1]])
    except ValueError:
        fail(f"unreadable result line: {lines[results[-1]][:200]}", 1)
    want = expected_metrics(a.trace)
    if want is not None and set(result["metrics"]) != want:
        fail(f"metrics {sorted(set(result['metrics']) ^ want)} differ from BENCHMARK.json", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
