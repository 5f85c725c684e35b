#!/usr/bin/env python3
"""Cross-build ABBA for vssbench: run `vssbench/run.py` from two source trees
in alternating order and compare their end-to-end metrics.

`tools/ab_builds.py` compares `graft.Bench` gates; this tool compares the
workloads of BENCHMARK.json. Each tree first compiles its own benchmark (one
tiny run, not recorded). Then pair i runs both trees with seed `--seed0 + i`,
A then B on even pairs and B then A on odd ones, so drift on the box hits
both arms alike. Every run is a fresh `run.py` process in its own tree.

Usage:
  python3 tools/ab_vssbench.py <tree A> <tree B> --workload serve \\
      --pairs 10 --seed0 401 [--seconds 20] [--out FILE]

Output: per end-to-end metric, each arm's q1/median/q3 of the scaled values
run.py reports and B's wins (pairs where B is better in the metric's
direction, from BENCHMARK.json); then, for every run, the raw `setup_s`,
`warmup_s` and `reference_ms` the run printed. --out writes the runs and the
summary as JSON.
"""
import argparse
import json
import os
import pathlib
import re
import statistics
import subprocess
import sys

DETAIL = re.compile(r"^\[(\w+)\]\s{3}(\S+)\s+(\S+)\s+\S+$")
RAW = ("setup_s", "warmup_s", "reference_ms")


def run(tree, workload, seed, seconds, extra=()):
    """One run.py process in `tree`; returns (scaled metrics, raw detail)."""
    cmd = [sys.executable, "vssbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0", *extra]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run.py failed in {tree} (exit {proc.returncode}):\n{proc.stderr[-3000:]}")
    record = json.loads(lines[-1])
    detail = {}
    for line in lines:
        m = DETAIL.match(line)
        if m and m.group(1) == workload:
            detail[m.group(2)] = None if m.group(3) == "null" else float(m.group(3))
    return {"correct": record["correct"], "attempted": record["attempted"],
            "failed": record["failed"],
            "metrics": {k: v["value"] for k, v in record["metrics"].items()},
            "raw": {k: detail.get(k) for k in RAW}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def directions(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as fh:
        return {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}


def summarize(runs, better):
    summary = {}
    for name, direction in better.items():
        arms = {}
        for arm in ("A", "B"):
            xs = [r[arm]["metrics"].get(name) for r in runs]
            ok = [x for x in xs if isinstance(x, (int, float))]
            q1, med, q3 = quartiles(ok) if ok else (None, None, None)
            arms[arm] = {"values": xs, "q1": q1, "median": med, "q3": q3}
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for r in runs
                   if isinstance(r["A"]["metrics"].get(name), (int, float))
                   and isinstance(r["B"]["metrics"].get(name), (int, float))
                   and sign * (r["B"]["metrics"][name] - r["A"]["metrics"][name]) > 0)
        summary[name] = {"better": direction, "A": arms["A"], "B": arms["B"],
                         "b_wins": wins, "pairs": len(runs)}
    return summary


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a", help="source tree A (the baseline)")
    ap.add_argument("b", help="source tree B (the change)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", help="write runs and summary as JSON here")
    args = ap.parse_args()
    trees = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    for arm, tree in trees.items():
        # Compiles the tree's benchmark; the tiny run itself is not recorded.
        run(tree, args.workload, args.seed0, 1, ("--scale", "tiny", "--steps", "1"))
        print(f"{arm}: built {tree}", flush=True)
    runs = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        rec = {"seed": seed, "order": "".join(order)}
        for arm in order:
            rec[arm] = run(trees[arm], args.workload, seed, args.seconds)
        runs.append(rec)
        print(f"pair {i + 1}/{args.pairs} seed {seed} ({rec['order']}): " + ", ".join(
            f"{k} A={fmt(rec['A']['metrics'].get(k))} B={fmt(rec['B']['metrics'].get(k))}"
            for k in sorted(rec["A"]["metrics"])), flush=True)
    summary = summarize(runs, directions(trees["A"]))
    print(f"\n{args.workload}: {'metric':12} {'A q1/med/q3 (scaled)':>30} "
          f"{'B q1/med/q3 (scaled)':>30} {'B wins':>7}")
    for name, s in summary.items():
        a, b = s["A"], s["B"]
        print(f"{args.workload}: {name:12} {fmt(a['q1']):>10}{fmt(a['median']):>10}{fmt(a['q3']):>10} "
              f"{fmt(b['q1']):>10}{fmt(b['median']):>10}{fmt(b['q3']):>10} "
              f"{s['b_wins']:>3}/{s['pairs']:<3} ({s['better']} is better)")
    print(f"\nraw, per run: seed arm {' '.join(f'{k:>12}' for k in RAW)}  failed/attempted")
    for r in runs:
        for arm in r["order"]:
            x = r[arm]
            print(f"{r['seed']:>4} {arm:>3} " + " ".join(f"{fmt(x['raw'][k]):>12}" for k in RAW) +
                  f"  {x['failed']}/{x['attempted']}")
    if args.out:
        pathlib.Path(args.out).write_text(json.dumps(
            {"trees": trees, "workload": args.workload, "seconds": args.seconds,
             "runs": runs, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
