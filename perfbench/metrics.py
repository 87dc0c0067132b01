"""Turns one run record of the harness into the benchmark's metrics.

The record holds raw facts: every timed op (an API call, a query or a store
step) with its nanosecond start and end, and, in a traced run, the harness's
spans, the Spark jobs and the Catalyst phase times the listeners saw. The
metrics are computed here, so the arithmetic is testable without a JVM.
"""
import math
import statistics

CORES = 4
QUERIES = ("q_tpch_q1", "q_tpch_q5", "q_groupby_agg", "q_dedup_minhash", "q_pagerank",
           "q_median", "q_mode", "q_value_counts", "q_iloc_slice")
CALL_KINDS = ("len", "count", "min", "max", "sum", "avg", "median", "mode", "unique",
              "value_counts", "describe", "filter_head", "sort_limit", "iloc_int",
              "iloc_slice", "iloc_ids", "groupby_agg", "value_counts_hc", "open",
              "filtered_sum")

END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "ops_per_s": "1/s",
    "retained_heap_mb": "MB",
}


def per_layer_units():
    units = {
        "trace_overhead_frac": "ratio",
        "api.cache.hit_ratio": "ratio", "api.cache.hit_ms_p50": "ms",
        "api.cache.miss_ms_p50": "ms", "api.keyof_ms_p50": "ms",
        "api.cache.entries": "count", "api.cache.mb": "MB", "api.cache.repeat_miss": "count",
        "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.task_run_ms": "ms", "exec.gc_ms": "ms", "exec.spill_mb": "MB",
        "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
        "exec.input_records": "count", "exec.busy_frac": "ratio", "exec.driver_gap_ms": "ms",
        "sources.open_ms": "ms", "sources.first_scan_ms": "ms", "sources.decode_mb_per_s": "MB/s",
        "store.commit_ms_p50": "ms", "store.commit_ms_p90": "ms", "store.bytes_per_row": "B",
        "store.files_per_commit": "count", "store.live_files": "count",
        "store.write_bytes_per_row": "B", "store.read_files": "count",
        "store.compact_ms": "ms", "store.compact_bytes_rewritten": "B",
        "query.pass_s": "s",
        "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    }
    for k in CALL_KINDS:
        units[f"api.call_ms_p50.{k}"] = "ms"
        units[f"api.jobs_per_call.{k}"] = "count"
    for q in QUERIES:
        for m, u in ((".s", "s"), (".jobs", "count"), (".shuffle_mb", "MB"),
                     (".planning_ms", "ms"), (".driver_gap_ms", "ms")):
            units[f"query.{q}{m}"] = u
    return units


PER_LAYER = per_layer_units()
# per-layer metrics where a larger value is the better one
HIGHER_IS_BETTER = {"api.cache.hit_ratio", "sources.decode_mb_per_s", "exec.busy_frac"}


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, -(-len(xs) * p // 100) - 1))
    return float(xs[int(k)])


def median(values):
    return float(statistics.median(values)) if values else 0.0


def geomean(values):
    return math.exp(mean([math.log(v) for v in values])) if values else 0.0


def mean(values):
    return float(sum(values)) / len(values) if values else 0.0


def dur_ms(x):
    return (x["t1"] - x["t0"]) / 1e6


def covered(t0, t1, intervals):
    """Length of [t0, t1) covered by the union of `intervals`."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, end = 0, t0
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_time_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["t1"] - span["t0"] - covered(span["t0"], span["t1"],
                                              [(c["t0"], c["t1"]) for c in children])) / 1e6


def classify_calls(ops, jobs):
    """Tag each traced API call with its job count and, for a repeated
    cacheable call, whether it was a hit: a hit runs zero Spark jobs."""
    per_op = {}
    for j in jobs:
        per_op[j["op"]] = per_op.get(j["op"], 0) + 1
    out = []
    for o in ops:
        if o["name"] != "api.call" or not o["traced"]:
            continue
        n = per_op.get(o["id"], 0)
        hit = bool(o.get("repeat")) and bool(o.get("cacheable")) and n == 0
        out.append(dict(o, jobs=n, hit=hit))
    return out


def passes(ops):
    """The workload's unit ops (API calls, queries or store cycles), grouped by
    the pass they ran in."""
    by = {}
    for o in ops:
        if o.get("unit"):
            by.setdefault(o["pass"], []).append(o)
    return [by[p] for p in sorted(by)]


def trace_overhead(ps):
    """Mean unit-op time of each traced pass over that of the untraced passes
    on either side of it, minus 1; the neighbours' mean cancels the warming
    from pass to pass."""
    ratios = []
    for i in range(1, len(ps) - 1):
        before, p, after = ps[i - 1], ps[i], ps[i + 1]
        if p[0]["traced"] and not before[0]["traced"] and not after[0]["traced"]:
            ratios.append(mean([dur_ms(o) for o in p]) /
                          mean([dur_ms(o) for o in before + after]))
    return mean(ratios) - 1 if ratios else 0.0


def end_to_end(rec):
    """Each latency and rate is taken per pass and reported as the median over
    passes, so one pass slowed by the host does not move it. The geometric
    mean weighs a 2 ms cache hit and a 2 s miss alike, as the TPC-H power
    metric weighs its queries."""
    ps = passes(rec["ops"])
    return {
        "setup_s": rec["session_s"] + median(rec["setup_open_s"]) + rec["warm_s"],
        "op_geomean_ms": median([geomean([dur_ms(o) for o in p]) for p in ps]),
        "ops_per_s": median([len(p) * 1e9 / (max(o["t1"] for o in p) - min(o["t0"] for o in p))
                             for p in ps]),
        "retained_heap_mb": rec["retained_heap_mb"],
    }


def per_layer(rec):
    m = {k: 0.0 for k in PER_LAYER}
    ops, jobs, phases, spans = rec["ops"], rec["jobs"], rec["phases"], rec["spans"]
    m["trace_overhead_frac"] = trace_overhead(passes(ops))
    # the ops that run Spark jobs themselves: a store cycle only contains ops
    traced = [o for o in ops if o["traced"] and o["kind"] != "cycle"]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["op"], []).append(j)
    phases_of = {}
    for p in phases:
        for o in traced:
            if o["t0"] <= p["t"] <= o["t1"]:
                phases_of.setdefault(o["id"], []).append(p)
                break

    # graft.api
    calls = classify_calls(ops, jobs)
    repeats = [c for c in calls if c.get("repeat") and c.get("cacheable")]
    hits = [c for c in calls if c["hit"]]
    misses = [c for c in calls if c.get("cacheable") and c["jobs"] > 0]
    n_passes = len({c.get("pass") for c in calls}) or 1
    if repeats:
        m["api.cache.hit_ratio"] = len(hits) / len(repeats)
    m["api.cache.hit_ms_p50"] = median([dur_ms(c) for c in hits])
    m["api.cache.miss_ms_p50"] = median([dur_ms(c) for c in misses])
    m["api.cache.repeat_miss"] = sum(
        1 for c in calls if c.get("repeat") and c["jobs"] > 0) / n_passes
    m["api.keyof_ms_p50"] = median([dur_ms(s) for s in spans if s["name"] == "api.keyof"])
    if rec["cache_samples"]:
        m["api.cache.entries"] = median([s[0] for s in rec["cache_samples"]])
        m["api.cache.mb"] = median([s[1] for s in rec["cache_samples"]])
    for k in CALL_KINDS:
        of_kind = [c for c in calls if c["kind"] == k]
        m[f"api.call_ms_p50.{k}"] = median([dur_ms(c) for c in of_kind])
        m[f"api.jobs_per_call.{k}"] = mean([c["jobs"] for c in of_kind])

    # Catalyst and execution, per traced op
    if traced:
        n = len(traced)
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_ms"] = sum(p[f"{ph}_ms"] for o in traced
                                         for p in phases_of.get(o["id"], [])) / n
        tj = [j for o in traced for j in jobs_of.get(o["id"], [])]
        m["exec.jobs"] = len(tj) / n
        for key, name, scale in (("stages", "stages", 1), ("tasks", "tasks", 1),
                                 ("run_ms", "task_run_ms", 1), ("gc_ms", "gc_ms", 1),
                                 ("spill_bytes", "spill_mb", 1e-6),
                                 ("shuffle_write_bytes", "shuffle_write_mb", 1e-6),
                                 ("shuffle_read_bytes", "shuffle_read_mb", 1e-6),
                                 ("input_records", "input_records", 1)):
            m[f"exec.{name}"] = sum(j[key] for j in tj) * scale / n
        wall = sum(dur_ms(o) for o in traced)
        if wall > 0:
            m["exec.busy_frac"] = sum(j["run_ms"] for j in tj) / (wall * CORES)
        m["exec.driver_gap_ms"] = mean([self_time_ms(o, jobs_of.get(o["id"], []))
                                        for o in traced])

    # graft.sources: the workload's open and first scan, as set up measured them
    m["sources.open_ms"] = median(rec["source_open_ms"])
    m["sources.first_scan_ms"] = median(rec["source_scan_ms"])
    secs = (m["sources.open_ms"] + m["sources.first_scan_ms"]) / 1e3
    if secs > 0:
        m["sources.decode_mb_per_s"] = rec["source_bytes"] / 1e6 / secs

    # graft.ops storage
    ex = rec["extra"]
    commits = [dur_ms(o) for o in ops if o["name"] == "store.commit"]
    m["store.commit_ms_p50"] = percentile(commits, 50)
    m["store.commit_ms_p90"] = percentile(commits, 90)
    if ex.get("rows_committed"):
        m["store.bytes_per_row"] = ex["store_bytes"] / ex["rows_committed"]
        m["store.live_files"] = ex["live_files"]
    m["store.files_per_commit"] = mean(ex.get("commit_files", []))
    if sum(ex.get("commit_rows", [])) > 0:
        m["store.write_bytes_per_row"] = sum(ex["commit_write_bytes"]) / sum(ex["commit_rows"])
    m["store.read_files"] = median(ex.get("read_files", []))
    m["store.compact_ms"] = median([dur_ms(o) for o in ops if o["name"] == "store.compact"])
    m["store.compact_bytes_rewritten"] = median(ex.get("compact_bytes_rewritten", []))

    # graft.queries
    pass_s = {}
    for o in ops:
        if o["kind"] == "query":
            pass_s[o["pass"]] = pass_s.get(o["pass"], 0.0) + dur_ms(o) / 1e3
    m["query.pass_s"] = median(list(pass_s.values()))
    for q in QUERIES:
        mine = [o for o in ops if o["name"] == f"query.{q}"]
        mine_t = [o for o in mine if o["traced"]]
        m[f"query.{q}.s"] = median([dur_ms(o) / 1e3 for o in mine])
        if mine_t:
            qj = [jobs_of.get(o["id"], []) for o in mine_t]
            m[f"query.{q}.jobs"] = mean([len(x) for x in qj])
            m[f"query.{q}.shuffle_mb"] = mean([sum(j["shuffle_write_bytes"] for j in x) / 1e6
                                               for x in qj])
            m[f"query.{q}.planning_ms"] = mean([
                sum(p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"]
                    for p in phases_of.get(o["id"], [])) for o in mine_t])
            m[f"query.{q}.driver_gap_ms"] = mean([self_time_ms(o, jobs_of.get(o["id"], []))
                                                  for o in mine_t])

    m["jvm.gc_ms"] = rec["jvm_gc_ms"]
    m["jvm.heap_peak_mb"] = rec["jvm_heap_peak_mb"]
    return m


def result_line(rec, trace):
    """The benchmark's result object for one run record."""
    failed = int(rec["failed"])
    attempted = max(int(rec["attempted"]), 1)
    if trace:
        values, units = per_layer(rec), PER_LAYER
    else:
        values, units = end_to_end(rec), END_TO_END
    return {
        "correct": failed == 0 and rec["fatal"] is None and int(rec["attempted"]) > 0,
        "attempted": attempted + int(rec["checked"]),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
