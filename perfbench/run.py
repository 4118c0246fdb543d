#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload, print
one JSON result line.

    python3 perfbench/run.py --workload <ingest|lookup> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine (src/main/scala) and the
benchmark (perfbench/src) are compiled with the Scala compiler that ships
with Spark into <build dir>/perfbench/classes-<source hash>, where the build
dir is $CARGO_TARGET_DIR or .bench_build; a later run with the same sources
reuses the classes. Stores, Spark scratch space and the span file of a
traced run are written under the same build dir.

The last stdout line is {"correct", "attempted", "failed", "metrics"}; the
metric names and units come from BENCHMARK.json (`end_to_end` untraced,
`per_layer` traced). Exits nonzero without a result when the sources are
missing or the build fails, and with the result when a check failed.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LIMIT_S = 170
HEAP = "2g"
MAIN = "graft.perfbench.PerfBench"
# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
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


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase the sbt build compiles against."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def build(build_dir, jars):
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))
    resources = os.path.join(ROOT, "src/main/resources")
    if not engine:
        fail("engine sources (src/main/scala) are missing")
    h = hashlib.sha256()
    for f in engine + bench + sorted(glob.glob(resources + "/**", recursive=True)):
        if os.path.isdir(f):
            continue
        h.update(f[len(ROOT):].encode())
        h.update(open(f, "rb").read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):  # superseded builds
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", j)]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + engine + bench
    print(f"perfbench: compiling {len(engine)} engine + {len(bench)} benchmark files",
          file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("build failed")
    if os.path.isdir(resources):  # the data source registration
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(build_dir, jars)

    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap size, so that the collector's young-generation sizing,
    # and with it the heap in use after each collection, does not follow
    # how fast the heap happened to grow
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), MAIN,
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result (exit code {proc.returncode})")
    got = res["metrics"]
    names = [m["name"] for m in wanted]
    if sorted(got) != sorted(names):
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(got) ^ set(names))}")
    res["metrics"] = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps(res))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
