#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,analytics,table} --seed N \
        --seconds S --trace {0,1} [--keep]

Run from the repository root. Unless the build in `.bench_build/` is
current, it compiles the program (`src/main/scala`) and the benchmark
(`perfbench/src`) with the Scala compiler of the Spark distribution and
packs the classes into `.bench_build/bench.jar`. Then it runs one
workload in one JVM, checks its outputs,
and prints, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`).
The line before it, prefixed `details: `, holds every figure the run
produced. A traced run also leaves its spans in `.bench_build/out/`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

T_START = time.time()
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "bench.jar")
STAMP = os.path.join(BUILD, "BUILD_STAMP")
JVM_TIMEOUT_S = 160
CHECK_TIMEOUT_S = 15
# The analytics tables: a copy of the repository's sf0.001 test fixtures.
FIXTURE = os.path.join(HERE, "data", "sf0.001")
JVM_OPTS = ["-Xmx2g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution: `$SPARK_HOME/jars`, else the
    directory build.sbt names as `unmanagedBase`."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    die("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def inputs():
    """Scala sources of program and benchmark, and program resources."""
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        die(f"program sources not found under {prog}; run from the repository root")
    walk = lambda top, ext: sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                                   for f in fs if f.endswith(ext))
    sources = walk(prog, ".scala") + walk(os.path.join(HERE, "src"), ".scala")
    return sources, walk(os.path.join(ROOT, "src", "main", "resources"), "")


def java_cmd(jars, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + args


def run_jvm(cmd, run_dir, timeout):
    """Run the JVM with its output in `run_dir/jvm.log`; returns its exit
    code, or "timeout" after killing it."""
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "timeout"


def build(jars):
    """Compile and pack into .bench_build unless the stamp (a hash of
    every source, resource and this file) says the build is current."""
    sources, resources = inputs()
    h = hashlib.sha256()
    for p in sources + resources + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and os.path.exists(JAR) and open(STAMP).read() == stamp:
        return
    t0 = time.time()
    for p in (STAMP, JAR):
        if os.path.exists(p):
            os.remove(p)
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        die("build failed:\n" + r.stdout[-4000:])
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
        for p in resources:
            z.write(p, os.path.relpath(p, res_dir))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes)
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def check_analytics(dump, data_dir):
    """Compare every dumped query result with its DuckDB oracle over the
    same parquet, with the repository's correctness tool `tools/check.py`;
    returns the problems it reports. A query without an oracle is one."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), dump, data_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=CHECK_TIMEOUT_S)
    lines = r.stdout.splitlines()
    problems = [l.strip() for l in lines
                if l.lstrip().startswith(("X ", "!!")) or "rows-only" in l]
    if r.returncode != 0 or not lines or not lines[-1].startswith("PASS"):
        problems.append("analytics oracle check: " + (lines[-1] if lines else "no output"))
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "analytics", "table"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    t_build = time.time()
    build(jars)
    # Set-up is timed from this process's start, leaving out a build.
    t0_ms = int((T_START + time.time() - t_build) * 1000)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        if a.workload == "analytics":
            shutil.copytree(FIXTURE, data_dir)
        args = ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir, str(t0_ms)]
        rc = run_jvm(java_cmd(jars, args, run_dir), run_dir, JVM_TIMEOUT_S)
        result_file = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
            die(f"benchmark JVM exited with {rc}:\n{tail}")
        with open(result_file) as f:
            res = json.load(f)
        errors = list(res["errors"])
        if a.workload == "analytics":
            errors += check_analytics(os.path.join(run_dir, "dump"), data_dir)
        out_dir = os.path.join(BUILD, "out")
        os.makedirs(out_dir, exist_ok=True)
        if a.trace:
            shutil.copyfile(os.path.join(run_dir, "spans.json"),
                            os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.json"))
        # A per-layer metric of a layer this workload never calls reads 0.
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        got = res["metrics"]
        if not a.trace:
            missing = [m["name"] for m in wanted if m["name"] not in got]
            if missing:
                die(f"metrics missing from the run: {missing}")
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
        details = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "rounds": res["rounds"], "round_times_s": res["round_times_s"],
                   "errors": errors[:20], "all_metrics": got}
        with open(os.path.join(out_dir, f"result-{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump(details, f, indent=1)
        print("details: " + json.dumps(details))
        print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
