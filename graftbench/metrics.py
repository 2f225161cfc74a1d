"""Turn the driver's raw records (op samples, spans, jobs) into metrics.

Pure functions over the parsed `result.json`, so they are unit-testable
without a JVM.
"""
import bisect
import math
import statistics

LAYERS = ["operators", "functions", "streaming", "sources", "llm", "TableLog", "Lakehouse"]
LAYER_METRICS = [
    ("calls", "count"), ("call_s", "s"), ("drain_s", "s"), ("jobs", "count"),
    ("tasks", "count"), ("task_cpu_s", "s"), ("sched_delay_s", "s"),
    ("driver_gap_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("input_bytes", "bytes"), ("written_bytes", "bytes"),
]
JOB_FIELDS = ["tasks", "task_cpu_s", "sched_delay_s", "shuffle_bytes", "spill_bytes",
              "input_bytes", "written_bytes"]

# (name, unit, better, bound). Only metrics whose run-to-run spread stays
# inside their bound on a shared host are gated; the wall-clock ones
# (REPORTED) are printed beside them.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
]
REPORTED = [
    ("ops_per_s", "1/s"),
    ("read_mean_s", "s"),
    ("write_mean_s", "s"),
]

LAKE_OPS = [
    ("Lakehouse.morMerge_s", ["morMerge"]),
    ("Lakehouse.morDelete_s", ["morDelete"]),
    ("Lakehouse.relay_s", ["relay"]),
    ("Lakehouse.cdfRead_s", ["cdfRead"]),
    ("Lakehouse.maybeOptimize_s", ["maybeOptimize"]),
    ("TableLog.commitBatch_s", ["commitBatch"]),
    ("TableLog.checkpointLog_s", ["checkpointLog"]),
    ("TableLog.readAsOf_s", ["readLatest", "readAsOf"]),
]
LAKE_COUNTS = ["TableLog.log_files", "TableLog.live_files", "TableLog.dv_files",
               "TableLog.ckpt_files", "Lakehouse.optimize_commits"]
LAKE_AMPS = ["Lakehouse.write_amp", "Lakehouse.space_amp"]
COMMIT_OPS = {"commitBatch", "morMerge", "morDelete"}
KERNELS = [
    "plans.ShingleHashes.evalHashes.ns_per_byte",
    "plans.ShingleHashes.evalMinhash.ns_per_byte",
    "plans.SimHashSig.ns_per_byte",
    "plans.WinnowHashes.ns_per_byte",
    "plans.RollingFp.ns_per_byte",
    "plans.Md5Prefix48.ns_per_byte",
    "plans.JsonGetLong.ns_per_byte",
]


def per_layer_spec():
    """(name, unit, better) of every per-layer metric, in output order."""
    out = []
    for layer in LAYERS:
        for m, unit in LAYER_METRICS:
            better = "higher" if m == "calls" else "lower"
            out.append((f"{layer}.{m}", unit, better))
    out += [("GraftSession.build_s", "s", "lower"), ("GraftSession.warmup_s", "s", "lower"),
            ("Tables.input_gen_s", "s", "lower")]
    out += [(name, "s", "lower") for name, _ in LAKE_OPS]
    out.append(("TableLog.jobs_per_commit", "count", "lower"))
    out += [(name, "count", "higher" if name == "Lakehouse.optimize_commits" else "lower")
            for name in LAKE_COUNTS]
    out += [(name, "ratio", "lower") for name in LAKE_AMPS]
    out += [(name, "ns/byte", "lower") for name in KERNELS]
    out += [("trace.overhead_pct", "%", "lower"), ("trace.reconcile_err_max", "ratio", "lower")]
    return out


def tail(values):
    """The highest percentile with at least ten samples beyond it: the
    11th-largest value. Returns (value, percentile, n) or None when there
    are fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return None
    xs = sorted(values)
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n, n


def median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(res):
    """End-to-end metrics of an untraced run, and the latency percentiles
    printed beside them."""
    samples = res["samples"]
    reads = [s["wall_s"] for s in samples if not s["write"]]
    writes = [s["wall_s"] for s in samples if s["write"]]
    if not reads or not writes:
        raise ValueError(f"{len(reads)} read and {len(writes)} write samples; need both")
    values = {
        "setup_s": res["setup_s"],
        "ops_per_s": len(samples) / sum(s["wall_s"] for s in samples),
        "read_mean_s": statistics.fmean(reads),
        "write_mean_s": statistics.fmean(writes),
        "cpu_s": sum(s["cpu_s"] for s in samples) / res["passes"],
    }
    notes = {"ops_per_s": f"{len(samples)} ops in {res['passes']} passes",
             "cpu_s": "per pass", "read_mean_s": latency(reads), "write_mean_s": latency(writes)}
    return values, notes


def latency(walls):
    """Median and tail of a latency sample, as printed beside its mean."""
    t = tail(walls)
    tl = f"tail {t[0]:.4g} s at p{t[1]:.1f}" if t else "tail n/a (<11 samples)"
    return f"p50 {median(walls):.4g} s, {tl}, n={len(walls)}"


def union_length(intervals, lo, hi):
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur = 0.0, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def self_time(span, children):
    return (span["end_ms"] - span["start_ms"]) - union_length(
        [(c["start_ms"], c["end_ms"]) for c in children], span["start_ms"], span["end_ms"])


def attribute_jobs(samples, spans, jobs):
    """Map each traced op sample to the jobs that started inside its span
    (job times are whole milliseconds, so the span is widened by 1 ms)."""
    by_id = {s["id"]: s for s in spans}
    ops = sorted(((by_id[s["span"]], s) for s in samples if s["traced"]),
                 key=lambda x: x[0]["start_ms"])
    out = {id(s): [] for _, s in ops}
    starts = [sp["start_ms"] for sp, _ in ops]
    for j in jobs:
        i = bisect.bisect_right(starts, j["start_ms"] + 1.0) - 1
        if i >= 0:
            sp, s = ops[i]
            if j["start_ms"] <= sp["end_ms"] + 1.0:
                out[id(s)].append(j)
    return [(sp, s, out[id(s)]) for sp, s in ops]


def per_layer(res, input_gen_s):
    """Per-layer metrics of a traced run, each module total per traced pass."""
    samples, spans, jobs = res["samples"], res.get("spans", []), res.get("jobs", [])
    traced_passes = len({s["pass"] for s in samples if s["traced"]}) or 1
    values = {name: 0.0 for name, _, _ in per_layer_spec()}
    reconcile = 0.0
    commit_jobs = commits = 0
    for sp, s, js in attribute_jobs(samples, spans, jobs):
        pre = s["layer"] + "."
        wall_ms = s["wall_s"] * 1000.0
        covered = union_length([(j["start_ms"], j["end_ms"]) for j in js],
                               sp["start_ms"], sp["end_ms"])
        gap_ms = wall_ms - covered
        values[pre + "calls"] += 1
        values[pre + "call_s"] += s["call_s"]
        values[pre + "drain_s"] += s["drain_s"]
        values[pre + "jobs"] += len(js)
        values[pre + "driver_gap_s"] += gap_ms / 1000.0
        for f in JOB_FIELDS:
            values[pre + f] += sum(j[f] for j in js)
        if wall_ms > 0:
            unclipped = union_length([(j["start_ms"], j["end_ms"]) for j in js],
                                     float("-inf"), float("inf"))
            reconcile = max(reconcile,
                            abs(s["call_s"] + s["drain_s"] - s["wall_s"]) / s["wall_s"],
                            abs(unclipped + gap_ms - wall_ms) / wall_ms)
        if s["op"] in COMMIT_OPS:
            commit_jobs += len(js)
            commits += 1
    for layer in LAYERS:
        for m, _ in LAYER_METRICS:
            values[f"{layer}.{m}"] /= traced_passes
    values["GraftSession.build_s"] = res["build_s"]
    values["GraftSession.warmup_s"] = res["warmup_s"]
    values["Tables.input_gen_s"] = input_gen_s
    for name, ops in LAKE_OPS:
        values[name] = median([s["wall_s"] for s in samples if s["op"] in ops])
    values["TableLog.jobs_per_commit"] = commit_jobs / commits if commits else 0.0
    for name in LAKE_COUNTS + LAKE_AMPS:
        values[name] = float(res["lake"].get(name, 0.0))
    for name in KERNELS:
        values[name] = float(res["kernels"].get(name, 0.0))
    values["trace.overhead_pct"] = overhead_pct(samples)
    values["trace.reconcile_err_max"] = reconcile
    return values


def overhead_pct(samples):
    """Tracing overhead: the geometric mean over ops of traced vs untraced
    median wall (passes alternate traced/untraced), as a percentage."""
    ratios = []
    for op in sorted({s["op"] for s in samples}):
        on = [s["wall_s"] for s in samples if s["op"] == op and s["traced"]]
        off = [s["wall_s"] for s in samples if s["op"] == op and not s["traced"]]
        if on and off and median(off) > 0:
            ratios.append(median(on) / median(off))
    if not ratios:
        return 0.0
    return 100.0 * (math.exp(sum(math.log(r) for r in ratios) / len(ratios)) - 1.0)


def span_tree(res):
    """The run's spans (op -> call / drain) plus one span per traced job,
    parented to the call or drain span it started in; each carries its
    self time (duration minus the part its children cover)."""
    spans = [dict(s) for s in res.get("spans", [])]
    leaves = [s for s in spans if s["kind"] in ("call", "drain")]
    leaves.sort(key=lambda s: s["start_ms"])
    starts = [s["start_ms"] for s in leaves]
    run = spans[0]["run"] if spans else ""
    next_id = max((s["id"] for s in spans), default=0) + 1
    for j in res.get("jobs", []):
        i = bisect.bisect_right(starts, j["start_ms"] + 1.0) - 1
        parent = leaves[i]["id"] if i >= 0 and j["start_ms"] <= leaves[i]["end_ms"] + 1.0 else 0
        spans.append({"id": next_id, "parent": parent, "name": f"job {j['id']}", "kind": "job",
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"], "run": run})
        next_id += 1
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        s["self_ms"] = self_time(s, kids.get(s["id"], []))
    return spans
