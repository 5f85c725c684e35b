#!/usr/bin/env python3
"""Benchmark of the graft vector-search engine (duckdb-vss on Spark).

Run from the repository root:

    python3 vssbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads: serve, curate (or `all`, one after another).
The first run in a checkout compiles the program (src/main/scala) and the
benchmark (vssbench/scala) with the Scala compiler shipped in Spark's jar
directory ($SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt
names) into the build directory ($CARGO_TARGET_DIR or .bench_build); later
runs reuse the classes while the sources are unchanged.

Each run starts one JVM with Spark on local[<cores>], sets up the workload
three times, runs its closed loop for --seconds, checks every operation's
output, and prints the workload's named metrics, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 they are the
per-layer ones, and the run also writes its spans to
<build dir>/vssbench/work/<workload>/spans.jsonl.
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

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve", "curate")
# The run limit is 180 s; a run that also compiles may take 900 s.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
JVM_OPTS = [
    "-Xmx2g", "-Xms2g", "-Xss8m",
    "-Dspark.ui.enabled=false",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg):
    print(f"vssbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir(root):
    return os.path.join(os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))),
                        "vssbench")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        # The sbt build compiles against the jars in its `unmanagedBase`.
        try:
            with open("build.sbt") as fh:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)
        except (OSError, AttributeError):
            die("no Spark jar directory: set SPARK_HOME or run from the repository root")
    found = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in found):
        die(f"no Spark jars with a Scala compiler in {jars}; set SPARK_HOME")
    return jars, found


def source_files(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        die("program sources (src/main/scala) not found; run from the repository root")
    files = []
    for top in (main, os.path.join(HERE, "scala")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    resources = []
    res = os.path.join(root, "src", "main", "resources")
    for d, _, names in os.walk(res):
        resources += [os.path.join(d, n) for n in names]
    return sorted(files), sorted(resources), res


def build(root):
    """Compile when the sources changed; returns (classes dir, compiled now)."""
    files, resources, res_root = source_files(root)
    jars_dir, jars = spark_jars()
    h = hashlib.sha256()
    for f in files + resources + jars:
        h.update(os.path.relpath(f, root).encode())
        if f in jars:
            h.update(str(os.path.getsize(f)).encode())
        else:
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes, False
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + files))
    print(f"vssbench: compiling {len(files)} sources", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars_dir, "*"),
                        "scala.tools.nsc.Main", "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("compilation failed")
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"vssbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, True


def run_jvm(root, classes, workload, seed, seconds, trace, scale, steps, limit_s):
    """One benchmark process; returns its result record."""
    jars_dir, _ = spark_jars()
    work = os.path.join(build_dir(root), "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classes + os.pathsep + os.path.join(jars_dir, "*"),
        "vssbench.Main", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--scale", scale, "--steps", str(steps)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{workload} did not finish within {limit_s:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.isfile(result):
        die(f"{workload} exited with code {code} and no result")
    with open(result) as fh:
        return json.load(fh)


def fmt(v):
    return "null" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the self-test")
    ap.add_argument("--steps", type=int, default=0,
                    help="run exactly this many loop steps instead of --seconds")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "BENCHMARK.json")):
        die("BENCHMARK.json not found; run from the repository root")
    t0 = time.time()
    classes, compiled = build(root)
    limit = (BUILD_LIMIT_S if compiled else RUN_LIMIT_S) - (time.time() - t0)
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in names:
        t1 = time.time()
        results[w] = run_jvm(root, classes, w, a.seed, a.seconds, a.trace, a.scale, a.steps, limit)
        limit -= time.time() - t1
        r = results[w]
        print(f"[{w}] attempted={r['attempted']} failed={r['failed']} correct={r['correct']}")
        for k, m in r["detail"].items():
            print(f"[{w}]   {k:<28} {fmt(m['value']):>14} {m['unit']}")
        label = "per-layer" if a.trace else "end-to-end"
        for k, m in r["metrics"].items():
            print(f"[{w}] {label} {k:<36} {fmt(m['value']):>14} {m['unit']}")
    if len(names) == 1:
        r = results[names[0]]
        out = {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{w}.{k}": m for w, r in results.items() for k, m in r["metrics"].items()}}
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
