#!/usr/bin/env python3
"""Produce CROSSOVER.md: the q2/q3 star-join Spark-vs-DuckDB ratio as a
function of scale factor, to test BENCHNOTES_HEAVY's claim that the
single-node constant-factor gap closes as the fact tables grow.

Per tier it reads Spark timings from target/bench_star_<label>.json
(written by graft.tools.BenchStar) and times DuckDB on the identical
oracle SQL (median of 3, same host). Hand-written analysis lives in
tools/bench_analysis.json under the "CROSSOVER.md" key and is re-rendered
on every regeneration, matching bench_compare.py's convention.

Usage:
  python3 tools/crossover.py <oracleJson> sf1=<dir> sf5=<dir> sf25=<dir> \
      [--out=CROSSOVER.md]
"""
import json
import os
import statistics
import sys
import time

import duckdb

ANALYSIS_PATH = os.path.join(os.path.dirname(__file__), "bench_analysis.json")
TABLES = ["region", "nation", "customer", "orders", "lineitem"]
QUERIES = ["q2_shipping_priority", "q3_revenue_by_nation"]
# queries swept per tier that have no bucketed variant (rendered without
# the bucketed columns); missing from a tier JSON -> row skipped
SOLO_QUERIES = ["q1_pricing_summary", "a13_exact_percentiles"]
RUNS = 3


# persistent DuckDB-timing cache (--duck-cache=path.json): keyed by
# (sf_dir, source fingerprint, md5(sql)) so an edited oracle, a moved
# tier, OR a regenerated fixture at the same path self-invalidates (the
# r12-advice hole: this repo regenerates tiers in place, and a
# path-only key silently replayed stale timings as fresh measurements);
# lets a notes-only regen skip the ~2-min a13 sf50 re-measure
_DUCK_CACHE_PATH = None
_DUCK_CACHE = {}
_FP_MEMO = {}


def source_fp(sf_dir):
    """Parquet sizes+mtimes under the tier, AnnIndex.sourceFingerprint's
    recipe: cheap (stat only) and changes whenever any table is
    rewritten."""
    import hashlib
    if sf_dir in _FP_MEMO:
        return _FP_MEMO[sf_dir]
    parts = []
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        files = (sorted(os.path.join(p, f) for f in os.listdir(p)
                        if f.endswith(".parquet"))
                 if os.path.isdir(p) else ([p] if os.path.exists(p) else []))
        for fp in files:
            st = os.stat(fp)
            parts.append(f"{fp}:{st.st_size}:{st.st_mtime_ns}")
    fp = hashlib.md5("\n".join(parts).encode()).hexdigest()
    _FP_MEMO[sf_dir] = fp
    return fp


def duck_time(sf_dir, sql):
    import hashlib
    key = f"{sf_dir}|{source_fp(sf_dir)}|{hashlib.md5(sql.encode()).hexdigest()}"
    if key in _DUCK_CACHE:
        return _DUCK_CACHE[key]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p += "/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    con.sql(sql).fetchall()  # warmup: page cache + plan
    times = []
    for _ in range(RUNS):
        t0 = time.time()
        con.sql(sql).fetchall()
        times.append(time.time() - t0)
    con.close()
    med = statistics.median(times)
    _DUCK_CACHE[key] = med
    if _DUCK_CACHE_PATH:
        json.dump(_DUCK_CACHE, open(_DUCK_CACHE_PATH, "w"))
    return med


def main():
    global _DUCK_CACHE_PATH, _DUCK_CACHE
    out_path = next((a.split("=", 1)[1] for a in sys.argv[1:]
                     if a.startswith("--out=")), "CROSSOVER.md")
    _DUCK_CACHE_PATH = next((a.split("=", 1)[1] for a in sys.argv[1:]
                             if a.startswith("--duck-cache=")), None)
    if _DUCK_CACHE_PATH and os.path.exists(_DUCK_CACHE_PATH):
        _DUCK_CACHE = json.load(open(_DUCK_CACHE_PATH))
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    oracle = json.load(open(args[0]))
    tiers = [a.split("=", 1) for a in args[1:]]

    rows = []  # (label, lineitem_rows, {q: (spark_wall, spark_stage, duck)})
    for label, sf_dir in tiers:
        bench = json.load(open(f"target/bench_star_{label}.json"))
        con = duckdb.connect()
        li = f"{sf_dir}/lineitem.parquet"
        if os.path.isdir(li):
            li += "/*.parquet"
        n_li = con.sql(f"SELECT count(*) FROM '{li}'").fetchone()[0]
        con.close()
        per = {}
        for q in QUERIES:
            b = q.split("_", 1)[0] + "_bucketed"  # q2_bucketed / q3_bucketed
            duck = duck_time(sf_dir, oracle[q])
            per[q] = (bench["queries"][q], bench["stage_compute"][q], duck,
                      bench["queries"][b], bench["stage_compute"][b])
        for q in SOLO_QUERIES:
            if q in bench["queries"]:
                duck = duck_time(sf_dir, oracle[q])
                per[q] = (bench["queries"][q], bench["stage_compute"][q], duck)
        rows.append((label, n_li, per))

    analysis = {}
    if os.path.exists(ANALYSIS_PATH):
        analysis = json.load(open(ANALYSIS_PATH)).get("CROSSOVER.md", {})

    with open(out_path, "w") as f:
        f.write("# CROSSOVER — star-join ratio vs scale factor\n\n")
        f.write("Spark `local[32]` (BenchStar: 3 interleaved sweeps, lower-median, "
                f"post-warmup) vs DuckDB {duckdb.__version__} (median of {RUNS}, "
                "post-warmup) on the identical oracle SQL; `stage` is executor "
                "stage-compute seconds (wall minus the fixed driver/AQE floor). "
                "Regenerate: `python3 tools/crossover.py <oracleJson> "
                "sf1=<dir> ...` after `graft.tools.MakeHeavy <src> <out> "
                "<copies> orders customer lineitem region nation` + `BenchStar` "
                "per tier."
                + (" " + analysis["_header_note"] if "_header_note" in analysis else "")
                + "\n\n")
        for q in QUERIES:
            f.write(f"## {q}\n\n")
            f.write("| tier | lineitem rows | spark wall s | spark stage s | "
                    "bucketed wall s | bucketed stage s | duckdb s | "
                    "wall ratio | stage ratio | bucketed stage ratio |\n")
            f.write("|---|---|---|---|---|---|---|---|---|---|\n")
            for label, n_li, per in rows:
                w, s, d, bw, bs = per[q]
                f.write(f"| {label} | {n_li:,} | {w:.2f} | {s:.2f} | {bw:.2f} | "
                        f"{bs:.2f} | {d:.2f} | {w / d:.1f}x | {s / d:.1f}x | "
                        f"{bs / d:.1f}x |\n")
            f.write("\n")
            if q in analysis:
                f.write(analysis[q] + "\n\n")
        for q in SOLO_QUERIES:
            present = [(label, n_li, per[q]) for label, n_li, per in rows
                       if q in per]
            if not present:
                continue
            f.write(f"## {q}\n\n")
            f.write("| tier | lineitem rows | spark wall s | spark stage s | "
                    "duckdb s | wall ratio | stage ratio |\n")
            f.write("|---|---|---|---|---|---|---|\n")
            for label, n_li, (w, s, d) in present:
                f.write(f"| {label} | {n_li:,} | {w:.2f} | {s:.2f} | "
                        f"{d:.2f} | {w / d:.1f}x | {s / d:.1f}x |\n")
            f.write("\n")
            if q in analysis:
                f.write(analysis[q] + "\n\n")
        if "summary" in analysis:
            f.write("## Reading the trend\n\n" + analysis["summary"] + "\n")
        if "beyond" in analysis:
            f.write("\n## Beyond the star joins — the other families' "
                    "scale points\n\n" + analysis["beyond"] + "\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
