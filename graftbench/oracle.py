"""DuckDB oracle check for the query workloads.

Each op's SQL from `SparkEntry.oracleSql` runs in DuckDB over the same
generated input; both sides go through the canonicalisation of the
repository's `tools/compare.py` (columns sorted by name, rows sorted,
doubles compared bit-exactly) and are compared by digest. Expected digests
are cached per (workload, seed, input fingerprint, SQL).
"""
import hashlib
import importlib.util
import json
import os

import duckdb

from gen import TABLES


def load_canon(repo_root):
    """`canon` from tools/compare.py, imported read-only."""
    path = os.path.join(repo_root, "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("graft_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def digest(canon, cols, rows):
    c, r = canon(rows, cols)
    h = hashlib.sha256(repr(c).encode())
    for row in r:
        h.update(repr(row).encode())
    return h.hexdigest(), len(r)


def _connect(input_dir):
    con = duckdb.connect(config={"threads": os.cpu_count() or 1})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    return con


def expected(canon, input_dir, fingerprint, sqls, cache_dir, workload, seed):
    """{op: (digest, rows) or ('error', message)} for every op's oracle SQL."""
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{workload}-s{seed}-{fingerprint[:16]}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return {k: tuple(v) for k, v in json.load(f).items()}
    con = _connect(input_dir)
    out = {}
    for name, sql in sorted(sqls.items()):
        try:
            rel = con.sql(sql)
            out[name] = digest(canon, [d[0] for d in rel.description], rel.fetchall())
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = ("error", str(e)[:300])
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def check(canon, check_dir, want):
    """Compare each op's dumped output with its oracle digest; returns
    {op: reason} for every mismatch."""
    con = duckdb.connect(config={"threads": os.cpu_count() or 1})
    bad = {}
    for name, exp in sorted(want.items()):
        if exp[0] == "error":
            bad[name] = f"oracle error: {exp[1]}"
            continue
        try:
            rel = con.sql(f"SELECT * FROM '{check_dir}/{name}/*.parquet'")
            got = digest(canon, [d[0] for d in rel.description], rel.fetchall())
        except Exception as e:
            bad[name] = f"output unreadable: {str(e)[:200]}"
            continue
        if got != exp:
            bad[name] = f"result differs from the oracle ({got[1]} rows vs {exp[1]})"
    con.close()
    return bad
