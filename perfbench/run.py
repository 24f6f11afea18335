#!/usr/bin/env python3
"""Run one workload of the CDC pipeline benchmark.

    python3 perfbench/run.py --workload cdc_replay --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call compiles the program
(src/main/scala) together with the benchmark (perfbench/src) with the Scala
compiler that ships in Spark's jars, into a jar plus a JVM class-data-sharing
archive under .bench_build/; later calls reuse that build while the sources
are unchanged. Each run gets a fresh scratch
root under .bench_build/runs/, removed when the run ends; span traces of
traced runs are kept in .bench_build/traces/.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
BENCHMARK.json at the root declares the metrics: their names and units
come from there, and a metric it does not declare is an error. The exit
code is 0 only when every output was correct.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def declared():
    """The (end-to-end, per-layer) metrics of BENCHMARK.json, each a map
    from name to unit."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        return tuple({m["name"]: m["unit"] for m in b[k]}
                     for k in ("end_to_end", "per_layer"))
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read the metrics from BENCHMARK.json: {e}")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found "
             "(set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    return main + bench


def build(jars):
    """Compile once per source tree into a jar, with a class-data-sharing
    archive that cuts JVM and Spark start-up. Returns (jar, archive or
    None, source hash)."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    out = os.path.join(BUILD, "build-" + digest[:16])
    jar = os.path.join(out, "perfbench.jar")
    jsa = os.path.join(out, "perfbench.jsa")
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return jar, jsa if os.path.exists(jsa) else None, digest
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    # the archive records the classes the self-test loads (Spark, SQL,
    # parquet); a failed dump only leaves start-up unaccelerated
    java(jar, None, jars, os.path.join(out, "cds"), ["--selftest", "1"],
         ["-XX:ArchiveClassesAtExit=" + jsa + ".tmp"])
    if os.path.exists(jsa + ".tmp"):
        os.rename(jsa + ".tmp", jsa)
    shutil.rmtree(os.path.join(out, "cds"), ignore_errors=True)
    open(os.path.join(out, "BUILD_OK"), "w").close()
    return jar, jsa if os.path.exists(jsa) else None, digest


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def java(jar, jsa, jars, scratch, args, extra=()):
    """Run perfbench.Main; returns (exit code, stdout lines, peak RSS MB)."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
            "-Xlog:disable", "-Xlog:all=error:stderr"] + list(extra) +
           (["-XX:SharedArchiveFile=" + jsa] if jsa else []) +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
            "-cp", jar + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "tmp"))
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         env=env)
    timer = threading.Timer(RUN_TIMEOUT_S, p.kill)
    timer.start()
    try:
        lines = [line.rstrip("\n") for line in p.stdout]
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, lines, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")

    end_to_end, per_layer = declared()
    jars = spark_jars()
    jar, jsa, digest = build(jars)
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}"
    scratch = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        if a.selftest:
            code, lines, _ = java(jar, jsa, jars, scratch, ["--selftest", "1"])
            print("\n".join(lines))
            sys.exit(1 if code else 0)
        code, lines, rss = java(jar, jsa, jars, scratch, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", os.path.join(scratch, "work"),
            "--trace-dir", os.path.join(BUILD, "traces"),
            "--git-sha", git_sha(), "--source-sha", digest])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    result = None
    for line in lines:
        if line.startswith("PERFBENCH_PROVENANCE "):
            print(line[len("PERFBENCH_PROVENANCE "):])
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if result is None:
        print(f"perfbench: the run ended with exit code {code} and no result",
              file=sys.stderr)
        sys.exit(1)
    values = result["metrics"]
    if a.trace == 0:
        values["peak_rss_mb"] = rss
    want = per_layer if a.trace else end_to_end
    unknown = sorted(set(values) - set(want))
    if unknown:
        fail(f"metrics not declared in BENCHMARK.json: {unknown}")
    missing = sorted(set(want) - set(values))
    if a.trace == 0 and missing:
        fail(f"end-to-end metrics not reported: {missing}")
    # a layer the workload does not run reports 0
    result["metrics"] = {k: {"value": values.get(k, 0.0), "unit": u}
                         for k, u in want.items()}
    print(json.dumps(result, sort_keys=True))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
