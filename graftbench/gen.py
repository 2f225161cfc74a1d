"""Seeded input generator for the graft benchmark.

Every workload reads one directory of single-file Parquet tables with the
schemas of the engine's fixture tables (a TPC-H-like star schema plus
`events`, `documents` and `embeddings`). The same (workload, seed) always
gives byte-identical files; `fingerprint` hashes them so a cached copy is
checked before it is reused.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row counts per workload. `etl_mix` is a 0.01-scale star schema (the
# per-job floor dominates its ETL rows at this size, as it does at 0.1)
# with the text and vector tables replicated `replicas` times for its
# compute-bound corpus rows; `lake_churn` only needs the events table that
# seeds its lake.
SIZES = {
    "etl_mix": dict(customer=1500, supplier=100, part=2000, orders=15000,
                    events=10000, documents=500, embeddings=500, replicas=4),
    "lake_churn": dict(customer=150, supplier=10, part=200, orders=1500,
                       events=6000, documents=100, embeddings=100, replicas=1),
}

# Share of dimension rows kept in `etl_mix`: the facts keep every key, so
# the null-tolerant enrichment joins see real misses.
DIM_KEEP = 0.9

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.13, 0.14, 0.15, 0.14]
NEAR_DUP_RATE = 0.5   # share of replicas that are light edits of the base doc
EXACT_DUP_RATE = 0.05  # share of replicas copied verbatim
EDIT_RATE = 0.06       # share of words rewritten in a near-duplicate

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000


def size_tag(workload):
    s = SIZES[workload]
    return "r{replicas}-o{orders}-e{events}-d{documents}".format(**s)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _star(rng, s, sample):
    keep = (lambda n: rng.random(n) < DIM_KEEP) if sample else (lambda n: np.ones(n, bool))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_, no = s["customer"], s["supplier"], s["part"], s["orders"]
    ck = np.arange(nc)
    m = keep(nc)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck[m], pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck[m]],
        "c_nationkey": pa.array(rng.integers(0, 25, nc)[m], pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc)[m],
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, nc)][m]})
    sk = np.arange(ns)
    m = keep(ns)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk[m], pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk[m]],
        "s_nationkey": pa.array(rng.integers(0, 25, ns)[m], pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)[m]})
    pk = np.arange(np_)
    m = keep(np_)
    adj = np.array(["small", "large", "red", "blue", "hot", "old", "new", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"])
    out["part"] = pa.table({
        "p_partkey": pa.array(pk[m], pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, np_)], " "),
                              noun[rng.integers(0, 8, np_)])[m],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str))[m],
        "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
                            "MEDIUM"])[rng.integers(0, 6, np_)][m],
        "p_size": pa.array(rng.integers(1, 51, np_)[m], pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)[m]})
    ok = np.arange(no)
    odate = EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)]})
    lines = rng.integers(1, 8, no)
    lo = np.repeat(ok, lines)
    nl = len(lo)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 122, nl) * DAY_US, pa.timestamp("us"))})
    return out


def _events(rng, n):
    users = max(150, n // 66)
    gaps = rng.integers(1, max(2, 2 * 30 * DAY_US // n), n)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(60.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, base, replicas):
    texts = [_text(rng, int(rng.integers(10, 100))) for _ in range(base)]
    for i in range(0, base, 20):  # planted repeated-line runs
        texts[i] = texts[i] + " dup dup dup dup"
    rows = []
    for r in range(replicas):
        for i, t in enumerate(texts):
            if r == 0:
                txt = t
            else:
                u = rng.random()
                if u < EXACT_DUP_RATE:
                    txt = t
                elif u < EXACT_DUP_RATE + NEAR_DUP_RATE:
                    words = t.split(" ")
                    for j in np.nonzero(rng.random(len(words)) < EDIT_RATE)[0]:
                        words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                    txt = " ".join(words)
                else:
                    txt = _text(rng, int(rng.integers(10, 100)))
            rows.append(txt)
    n = len(rows)
    ids = np.arange(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": rows,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in rows], pa.int64())})


def _embeddings(rng, base, replicas, dim=64):
    cent = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, base)
    vecs = cent[labels] + rng.normal(0.0, 1.2, (base, dim))
    allv = [vecs] + [vecs + rng.normal(0.0, 0.15, vecs.shape) for _ in range(replicas - 1)]
    v = np.concatenate(allv)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    lab = np.tile(labels, replicas)
    return pa.table({
        "vec_id": pa.array(np.arange(len(v)), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})


def generate(workload, seed, out_dir):
    """Write every table for (workload, seed) into out_dir."""
    s = SIZES[workload]
    rng = np.random.default_rng([seed, TABLES.index("lineitem"), len(workload)])
    tables = _star(rng, s, sample=(workload == "etl_mix"))
    tables["events"] = _events(rng, s["events"])
    tables["documents"] = _documents(rng, s["documents"], s["replicas"])
    tables["embeddings"] = _embeddings(rng, s["embeddings"], s["replicas"])
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


def fingerprint(d):
    h = hashlib.sha256()
    for name in TABLES:
        h.update(name.encode())
        with open(os.path.join(d, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


KEEP = 6  # cached input sets kept per checkout


def ensure(workload, seed, cache_root):
    """Return (dir, fingerprint, generated?) for the cached inputs of
    (workload, seed, size), generating them when the cache misses or its
    fingerprint no longer matches. Only the KEEP newest sets are kept."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-{size_tag(workload)}")
    fp_file = os.path.join(d, "FINGERPRINT")
    if os.path.exists(fp_file):
        try:
            want = open(fp_file).read().strip()
            if fingerprint(d) == want:
                os.utime(d)
                return d, want, False
        except OSError:
            pass
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(workload, seed, tmp)
    fp = fingerprint(tmp)
    with open(os.path.join(tmp, "FINGERPRINT"), "w") as f:
        f.write(fp + "\n")
    os.rename(tmp, d)
    sets = sorted((os.path.join(cache_root, x) for x in os.listdir(cache_root)
                   if not x.endswith(".tmp")), key=os.path.getmtime)
    for old in sets[:-KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return d, fp, True
