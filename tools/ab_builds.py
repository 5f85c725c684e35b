#!/usr/bin/env python3
"""Cross-build ABBA for Bench gates: run `graft.Bench` from two source trees
in alternating order and compare them gate by gate.

`graft.AbBench` flips confs inside one build; a code change (a fold, a new
kernel) needs two builds. This tool compiles each tree once (sbt
`export Runtime/fullClasspath`), then runs N pairs of Bench JVMs, A then B on
even pairs and B then A on odd ones, so drift on the box hits both arms
alike. Each run is a fresh JVM in its own tree's directory (its own
spark-warehouse), with the JVM options of build.sbt's forked `run`.

Usage:
  SPARK_GRAFT_ONLY=q2_join_agg,q7_ship_volume SPARK_GRAFT_SF_DIR=<sf dir> \\
  SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEM=4g \\
    python3 tools/ab_builds.py <tree A> <tree B> [--pairs N] [--out FILE] [--plans]

Every SPARK_GRAFT_* variable is passed through to Bench unchanged. Output:
per gate, each arm's q1/median/q3 seconds (Bench's min of two timed runs),
B's wins (pairs where B was faster), and each arm's jobs/stages/tasks
counters (flagged when they vary across runs). --out writes the raw runs
and the summary as JSON.

--plans runs no Bench: it dumps each tree's `explain("formatted")` of the
gates in SPARK_GRAFT_ONLY (every gate when unset) at SPARK_GRAFT_SF_DIR with
`graft.tools.PlanDump`, and lists the gates whose plans differ once
expression ids (`#123`) and array identity hashes (`[F@6b5dc4bb`) are
stripped, with the first differing lines. It exits 1 when any plan differs.
"""
import difflib
import argparse
import json
import os
import pathlib
import re
import statistics
import subprocess
import sys
import tempfile

# build.sbt's javaOptions for forked `run` (JDK 17 module opens for Spark).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_options():
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + ["-Dspark.ui.enabled=false",
                   "-Dspark.sql.session.timeZone=UTC",
                   f"-Xmx{mem}", f"-Xms{mem}"]


def classpath(tree):
    """Compile `tree` and return its runtime classpath."""
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=tree, capture_output=True, text=True, check=True).stdout
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        sys.exit(f"no classpath from sbt in {tree}:\n{out[-2000:]}")
    return lines[-1].strip()


def run_bench(tree, cp, scratch, tag):
    """One Bench JVM; returns its record (queries and counters)."""
    out = pathlib.Path(scratch) / f"bench_{tag}.json"
    env = dict(os.environ, BENCH_OUT=str(out))
    proc = subprocess.run(["java", *jvm_options(), "-cp", cp, "graft.Bench"],
                          cwd=tree, env=env, capture_output=True, text=True)
    if not out.exists():
        sys.exit(f"Bench in {tree} wrote no record (exit {proc.returncode}):\n"
                 f"{proc.stderr[-3000:]}")
    return json.loads(out.read_text())


# Expression ids (`#123`) and the identity hashes of arrays printed without
# a toString (`[F@6b5dc4bb`) differ from one JVM to the next.
EXPR_ID = re.compile(r"#\d+|(?<=\[[A-Z])@[0-9a-f]+")


def dump_plans(tree, cp, out_dir):
    """Each gate's formatted plan from `tree`, expression ids stripped."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf:
        sys.exit("--plans needs SPARK_GRAFT_SF_DIR")
    gates = os.environ.get("SPARK_GRAFT_ONLY", "all")
    proc = subprocess.run(["java", *jvm_options(), "-cp", cp, "graft.tools.PlanDump",
                           sf, str(out_dir), "plan", gates],
                          cwd=tree, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.exit(f"PlanDump in {tree} failed (exit {proc.returncode}):\n{proc.stderr[-3000:]}")
    return {f.name[:-len("_plan.txt")]: EXPR_ID.sub("", f.read_text())
            for f in sorted(pathlib.Path(out_dir).glob("*_plan.txt"))}


def compare_plans(trees, cps):
    """Print the gates whose plans differ between the trees; 1 if any do."""
    with tempfile.TemporaryDirectory(prefix="ab_plans_") as scratch:
        plans = {arm: dump_plans(trees[arm], cps[arm], pathlib.Path(scratch) / arm)
                 for arm in ("A", "B")}
    gates = sorted(set(plans["A"]) | set(plans["B"]))
    differ = [g for g in gates if plans["A"].get(g) != plans["B"].get(g)]
    for g in differ:
        print(f"== {g}: plans differ")
        diff = difflib.unified_diff((plans["A"].get(g) or "").splitlines(),
                                    (plans["B"].get(g) or "").splitlines(),
                                    "A", "B", lineterm="", n=1)
        print("\n".join(list(diff)[:40]))
    print(f"plans: {len(gates)} gates, {len(differ)} differ"
          + (f": {', '.join(differ)}" if differ else ""))
    return 1 if differ else 0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(runs):
    gates = sorted({g for r in runs for g in r["A"]["queries"]})
    summary = {}
    for g in gates:
        arms = {}
        for arm in ("A", "B"):
            secs = [r[arm]["queries"].get(g) for r in runs]
            ok = [s for s in secs if isinstance(s, (int, float))]
            counters = [json.dumps(r[arm].get("counters", {}).get(g), sort_keys=True)
                        for r in runs]
            q1, med, q3 = quartiles(ok) if ok else (None, None, None)
            arms[arm] = {"secs": secs, "q1": q1, "median": med, "q3": q3,
                         "errors": len(secs) - len(ok),
                         "counters": json.loads(counters[-1]),
                         "counters_vary": len(set(counters)) > 1}
        wins = sum(1 for r in runs
                   if isinstance(r["A"]["queries"].get(g), (int, float))
                   and isinstance(r["B"]["queries"].get(g), (int, float))
                   and r["B"]["queries"][g] < r["A"]["queries"][g])
        summary[g] = {"A": arms["A"], "B": arms["B"], "b_wins": wins,
                      "pairs": len(runs)}
    return summary


def fmt(x):
    return "-" if x is None else f"{x:.3f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a", help="source tree A (the baseline)")
    ap.add_argument("b", help="source tree B (the change)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", help="write runs and summary as JSON here")
    ap.add_argument("--plans", action="store_true",
                    help="compare the gates' formatted plans instead of timing them")
    args = ap.parse_args()
    trees = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    cps = {arm: classpath(t) for arm, t in trees.items()}
    if args.plans:
        sys.exit(compare_plans(trees, cps))
    runs = []
    with tempfile.TemporaryDirectory(prefix="ab_builds_") as scratch:
        for i in range(args.pairs):
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            rec = {}
            for arm in order:
                rec[arm] = run_bench(trees[arm], cps[arm], scratch, f"{i}{arm}")
            runs.append(rec)
            print(f"pair {i + 1}/{args.pairs} ({''.join(order)}): " + ", ".join(
                f"{g} A={rec['A']['queries'].get(g)} B={rec['B']['queries'].get(g)}"
                for g in sorted(rec["A"]["queries"])), flush=True)
    summary = summarize(runs)
    print(f"\n{'gate':28} {'A q1/med/q3 (s)':>24} {'B q1/med/q3 (s)':>24} "
          f"{'B wins':>7}  counters A | B (jobs/stages/tasks)")
    for g, s in summary.items():
        a, b = s["A"], s["B"]
        def cnt(x):
            c = x["counters"] or {}
            v = "*" if x["counters_vary"] else ""
            return f"{c.get('jobs')}/{c.get('stages')}/{c.get('tasks')}{v}"
        print(f"{g:28} {fmt(a['q1']):>7} {fmt(a['median']):>7} {fmt(a['q3']):>7}  "
              f"{fmt(b['q1']):>7} {fmt(b['median']):>7} {fmt(b['q3']):>7}  "
              f"{s['b_wins']:>3}/{s['pairs']:<3}  {cnt(a)} | {cnt(b)}")
    print("(* = counters varied across runs; the last run's are shown)")
    if args.out:
        pathlib.Path(args.out).write_text(json.dumps(
            {"trees": trees, "env": {k: v for k, v in os.environ.items()
                                     if k.startswith("SPARK_GRAFT_")},
             "runs": runs, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
