#!/usr/bin/env python3
"""Time the DuckDB oracle SQL (the reference engine) against a graft.Bench record.

duckdb-vss IS duckdb, so running each gate's oracle SQL in DuckDB over the
same sf0.1 parquet measures the reference engine on identical queries +
data. Only apples-to-apples entries are timed: the relational/vector/text
queries whose oracle is the same algorithm. Deliberately-brute-force
oracles (all-pairs dedup verifies, recursive-CTE connected components) are
excluded — there the oracle is a correctness spec, not the reference's
algorithm. Writes PERF_LOCAL.md (PERF_OUT overrides).

Usage: python3 tools/bench_duckdb.py [sf_dir] [verify_dump_dir] [bench_record]

bench_record defaults to graft.Bench's default BENCH_OUT:
BENCH_LOCAL_<basename of sf_dir>_c<SPARK_GRAFT_CPUS, default 32>.json.
"""
import json, os, sys, time, pathlib

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DUMP = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
RECORD = sys.argv[3] if len(sys.argv) > 3 else (
    f"BENCH_LOCAL_{os.path.basename(os.path.normpath(SF))}"
    f"_c{os.environ.get('SPARK_GRAFT_CPUS', '32')}.json")

# Fair comparisons: same algorithm on both engines.
FAIR = [k for k in json.load(open(f"{DUMP}/oracle_sql.json"))
        if k.startswith(("q", "vss_"))] + [
    "doc_text_stats", "doc_exact_dedup", "doc_lang_quality",
    "doc_quality_filter", "doc_det_sample",
    # round-7 continuation gates: kernel-vs-SQL same-spec comparisons
    "doc_repetition", "doc_chunks", "doc_decontam",
    # round-7 late gates: PII scrub, mix sampling, corpus ngram stats
    "doc_pii_redact", "doc_source_mix", "doc_top_ngrams", "doc_token_freq",
    "doc_pipeline_e2e", "doc_source_rates", "doc_url_domains",
    "doc_stopword_filter", "doc_split_assign", "doc_domain_caps",
    "doc_chunk_dedup",
    # round-16 retrieval gates (same fit + score both sides; see campaign.py)
    "doc_bm25_score", "doc_bm25_topk", "hybrid_rrf_topk"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    oracle = json.load(open(f"{DUMP}/oracle_sql.json"))
    # One connection per preserve_insertion_order setting: the flag cuts
    # both ways on unordered queries (=true serializes heavy projection
    # pipelines, =false regresses some wide-output shapes), so each gate
    # is timed under BOTH and the minimum kept — generous to the baseline
    # (mirrors tools/campaign.py).
    cons = []
    for preserve in ("false", "true"):
        con = duckdb.connect()
        con.execute(f"SET threads TO 32")
        con.execute(f"SET preserve_insertion_order={preserve}")
        for t in TABLES:
            p = pathlib.Path(SF) / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        cons.append(con)
    spark = json.load(open(RECORD))["queries"]
    rows = []
    for name in sorted(FAIR):
        if name not in oracle:
            continue
        sql = oracle[name]
        times = []
        for con in cons:
            for _ in range(2):
                t0 = time.time()
                con.execute(sql).fetchall()
                times.append(time.time() - t0)
        # Bench writes {"err": ...} for a failed query — treat as missing.
        sp = spark.get(name)
        if not isinstance(sp, (int, float)):
            sp = None
        rows.append((name, min(times), sp))
        print(f"{name}: duckdb={min(times):.3f}s spark={sp}s")
    # Totals over the SAME query set on both sides: a row whose Spark time
    # is missing must not count toward the DuckDB total either.
    both = [r for r in rows if r[2] is not None]
    duck_total = sum(r[1] for r in both)
    spark_total = sum(r[2] for r in both)
    # Default changed r13: PERF_VS_DUCKDB.md is a curated multi-round
    # document now — never clobber it from a tool run.
    with open(os.environ.get("PERF_OUT", "PERF_LOCAL.md"), "w") as f:
        f.write("# Spark engine vs DuckDB (the reference's engine) at sf0.1\n\n")
        f.write(f"Same queries (each gate's oracle SQL), same parquet inputs\n")
        f.write(f"(`{SF}`), both engines at 32 threads; DuckDB takes the min\n")
        f.write("of 2 runs under each preserve_insertion_order setting.\n")
        f.write("Only apples-to-apples entries timed (same algorithm both\n")
        f.write("sides); brute-force correctness oracles excluded.\n\n")
        f.write("| query | DuckDB s | Spark s | ratio (duck/spark) |\n|---|---|---|---|\n")
        for name, d, s in rows:
            ratio = f"{d / s:.2f}" if s else "—"
            s_str = f"{s:.3f}" if s is not None else "—"
            f.write(f"| {name} | {d:.3f} | {s_str} | {ratio} |\n")
        ratio = f"{duck_total / spark_total:.2f}" if spark_total else "—"
        f.write(f"| **total** | **{duck_total:.2f}** | **{spark_total:.2f}** | "
                f"**{ratio}** |\n")
    print(f"\ntotal: duckdb={duck_total:.2f}s spark={spark_total:.2f}s "
          f"ratio={duck_total / spark_total:.2f}" if spark_total else
          f"\ntotal: duckdb={duck_total:.2f}s spark=— (no overlapping queries)")


if __name__ == "__main__":
    main()
