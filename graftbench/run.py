#!/usr/bin/env python3
"""graft benchmark runner.

    python3 graftbench/run.py --workload etl_mix --seed 1 --seconds 6 --trace 0

Builds the engine and the benchmark driver from source (once per source
state), generates the seeded inputs (cached by fingerprint), runs the
driver JVM in a fresh per-run directory, checks every op's output, and
prints each metric by name with its unit; the last stdout line is the JSON
result. `--trace 1` prints the per-layer metrics instead and keeps the
spans under graftbench/.cache/trace/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

JVM_HEAP = "2g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840


T_START = time.perf_counter()


def phase(name):
    """Log a phase boundary to stderr (seconds since start)."""
    print(f"graftbench: {time.perf_counter() - T_START:7.1f}s {name}", file=sys.stderr)


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile engine + driver when the sources changed; returns the
    driver's classpath and JVM options."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    path = os.path.join(CACHE, "build.json")
    if os.path.exists(path):
        with open(path) as f:
            b = json.load(f)
        if b["stamp"] == stamp and all(os.path.exists(p) for p in b["classpath"].split(":")):
            return b["classpath"], b["java_options"]
    os.makedirs(CACHE, exist_ok=True)
    log = os.path.join(CACHE, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export graftbench/Runtime/fullClasspath", "show graftbench/javaOptions"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.splitlines()
    with open(log, "a") as lf:
        lf.write(p.stdout)
    cps = [l for l in lines if not l.startswith("[") and os.sep in l and ":" in l]
    if p.returncode != 0 or not cps:
        die(f"build failed (see {log})")
    opts = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    opts = [o for o in opts if not o.startswith("-Xmx")]
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1], "java_options": opts}, f)
    return cps[-1], opts


def run_driver(cp, opts, args, input_dir, run_dir):
    cores = len(os.sched_getaffinity(0))
    sysprops = {
        "java.io.tmpdir": os.path.join(run_dir, "tmp"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.graft.scratchDir": os.path.join(run_dir, "scratch"),
        "spark.graft.ann.indexDir": os.path.join(run_dir, "ann_index"),
    }
    for k in ("java.io.tmpdir", "spark.local.dir"):
        os.makedirs(sysprops[k], exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = ([java, f"-Xmx{JVM_HEAP}"] + opts + [f"-D{k}={v}" for k, v in sysprops.items()]
           + ["-cp", cp, "graft.perfbench.Driver", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), input_dir, run_dir, str(cores)])
    log_path = os.path.join(run_dir, "driver.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        die(f"driver exited with {code}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def check_outputs(res, args, input_dir, fp, run_dir):
    """{op: reason} for every op whose output is wrong."""
    bad = dict(res["check_failures"])
    if args.workload == "lake_churn":
        return bad
    import oracle
    canon = oracle.load_canon(ROOT)
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    sqls = {k: v for k, v in sqls.items() if k not in bad}
    want = oracle.expected(canon, input_dir, fp, sqls, os.path.join(CACHE, "oracle"),
                           args.workload, args.seed)
    bad.update(oracle.check(canon, os.path.join(run_dir, "check"), want))
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(gen.SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the graft sources (build.sbt, src/main/scala/graft) are not next to graftbench/")
    cp, opts = build()
    phase("built")

    t0 = time.perf_counter()
    input_dir, fp, _ = gen.ensure(args.workload, args.seed, os.path.join(CACHE, "inputs"))
    input_gen_s = time.perf_counter() - t0

    run_dir = os.path.join(CACHE, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    phase("inputs ready")
    res = run_driver(cp, opts, args, input_dir, run_dir)
    phase("driver done")
    bad = check_outputs(res, args, input_dir, fp, run_dir)
    phase("outputs checked")

    samples = res["samples"]
    attempted = len(samples)
    failed = sum(1 for s in samples if "error" in s or s["op"] in bad)
    for op, why in sorted(bad.items()):
        print(f"FAILED {op}: {why}")
    for s in samples:
        if "error" in s and s["op"] not in bad:
            print(f"FAILED {s['op']} (pass {s['pass']}): {s['error']}")

    if args.trace:
        values = metrics.per_layer(res, input_gen_s)
        spec = metrics.per_layer_spec()
        notes = {}
        tdir = os.path.join(CACHE, "trace", f"{args.workload}-s{args.seed}")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "spans.json"), "w") as f:
            json.dump({"spans": metrics.span_tree(res), "jobs": res["jobs"]}, f)
        with open(os.path.join(tdir, "per_layer.json"), "w") as f:
            json.dump(values, f, indent=1, sort_keys=True)
    else:
        values, notes = metrics.end_to_end(res)
        spec = [(n, u, b) for n, u, b, _ in metrics.END_TO_END]
    print(f"{args.workload} seed={args.seed} passes={res['passes']} "
          f"attempted={attempted} failed={failed} fail_frac={failed / attempted:.4f}")
    for name, unit, _ in spec:
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{name} = {values[name]:.6g} {unit}{note}")
    if not args.trace:
        for name, unit in metrics.REPORTED:
            print(f"{name} = {values[name]:.6g} {unit}  ({notes[name]}; not gated)")
    print(f"peak_rss_mb = {res['peak_rss_mb']:.6g} MB  (driver VmHWM; not gated)")
    for name, value in sorted(res["lake"].items()):
        print(f"{name} = {value:.6g}")
    keep = os.path.join(CACHE, "results")
    os.makedirs(keep, exist_ok=True)
    shutil.copy(os.path.join(run_dir, "result.json"),
                os.path.join(keep, f"{args.workload}-s{args.seed}-t{args.trace}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in spec},
    }))


if __name__ == "__main__":
    main()
