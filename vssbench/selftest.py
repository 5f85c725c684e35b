#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes. Run from the repository root:

    python3 vssbench/selftest.py

For every workload it checks that
  * a run passes all of its output checks and reports every end-to-end
    metric of BENCHMARK.json with its unit, and a traced run every
    per-layer metric;
  * two runs with the same seed and the same number of steps give
    identical deterministic counts (jobs and tasks per operation type,
    rows answered, kept documents, planted-duplicate results) and the
    same inputs;
  * a different seed changes the generated inputs.
Exits non-zero when any check fails.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# Loop steps per workload: two whole passes through the mix, so every
# operation type runs traced and untraced.
STEPS = {"serve": 24, "curate": 2}


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classes, _ = run.build(root)
    failures = []

    def check(ok, what):
        print(("ok    " if ok else "FAIL  ") + what)
        if not ok:
            failures.append(what)

    def metrics_ok(r, wanted, label):
        got = r["metrics"]
        missing = [m["name"] for m in wanted
                   if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]
                   or got[m["name"]]["value"] is None]
        check(not missing, f"{label}: every metric present with its unit and a value"
              + (f" (missing or null: {missing})" if missing else ""))

    for w in run.WORKLOADS:
        def once(seed, trace):
            return run.run_jvm(root, classes, w, seed, 0, trace, "tiny", STEPS[w], run.BUILD_LIMIT_S)
        a, b, c, t = once(1, 0), once(1, 0), once(2, 0), once(1, 1)
        for label, r in (("run", a), ("repeat", b), ("other seed", c), ("traced run", t)):
            check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                  f"{w} {label}: all {r['attempted']} operations pass their checks")
        metrics_ok(a, spec["end_to_end"], f"{w} end-to-end")
        metrics_ok(t, spec["per_layer"], f"{w} per-layer")
        diff = {k: (a["counts"].get(k), b["counts"].get(k))
                for k in set(a["counts"]) | set(b["counts"]) if a["counts"].get(k) != b["counts"].get(k)}
        check(a["counters_complete"] and b["counters_complete"] and not diff,
              f"{w}: same seed gives identical counts {sorted(a['counts'].items())}"
              + (f" (differ: {diff})" if diff else ""))
        check(a["input_hash"] == b["input_hash"], f"{w}: same seed gives the same inputs")
        check(a["input_hash"] != c["input_hash"], f"{w}: another seed gives other inputs")
    print(f"{len(failures)} failed checks" if failures else "self-test passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
