"""Metric arithmetic for the graft benchmark: percentiles, span self time,
per-layer aggregation and error counting. Pure functions over the JSON a
harness run writes, so each can be tested without a JVM.
"""
import math
import statistics

MB = 1024.0 * 1024.0

# the layers the workloads call into, as span prefixes
LAYERS = ["pipeline", "ops", "plans", "ext.WebOps", "ext.Dedup", "ext.TextOps",
          "ext.Curation", "ext.Multimodal", "ext.Similarity"]
# counter kinds every layer reports
BASE_KINDS = ["busy_s", "calls", "jobs", "tasks", "task_cpu_s", "driver_gap_s",
              "shuffle_mb", "spill_mb", "scan_mb"]
# write counters only for the layers whose calls write files
WRITE_LAYERS = ["pipeline", "ext.TextOps", "ext.Similarity"]
# ext.WebOps only builds lazy columns; its work runs inside the caller's span
WEBOPS_KINDS = ["busy_s", "calls", "jobs", "task_cpu_s", "shuffle_mb", "spill_mb"]
SPARK_KINDS = ["busy_s", "driver_gap_s", "jobs", "stages", "tasks", "task_cpu_s",
               "queue_s", "gc_s", "shuffle_mb", "spill_mb", "scan_mb", "write_mb",
               "files_written"]
STORE_WRITES = ["append", "stream_day", "tombstone"]


def percentile(values, q, beyond=10):
    """The q-quantile (0 < q < 1) of `values`, or None unless at least
    `beyond` samples lie above it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = q * (n - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, n - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)
    return v if sum(1 for x in xs if x > v) >= beyond else None


def median(values):
    return statistics.median(values) if values else None


def union(intervals):
    """Merge (start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def subtract(intervals, holes):
    """`intervals` minus the union of `holes`."""
    holes = union(holes)
    out = []
    for s, e in union(intervals):
        cur = s
        for hs, he in holes:
            if he <= cur or hs >= e:
                continue
            if hs > cur:
                out.append((cur, hs))
            cur = max(cur, he)
        if cur < e:
            out.append((cur, e))
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def self_intervals(spans):
    """span id -> the parts of its interval no child span covers."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: subtract([(s["start_us"], s["end_us"])], kids.get(s["id"], []))
            for s in spans}


def per_layer(trace, store_ops=()):
    """Per-layer metrics of a traced phase, keyed `<layer>.<kind>`."""
    spans = [s for s in trace["spans"] if s["end_us"] >= 0]
    stats = trace["stats"]
    selfs = self_intervals(spans)
    jobs_us = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in trace["jobs"] if j["end_ms"] >= 0]
    acc = {}

    def add(layer, kind, v):
        acc[(layer, kind)] = acc.get((layer, kind), 0.0) + v

    for s in spans:
        layer, st = s["layer"], stats.get(str(s["id"]), {})
        busy = length(selfs[s["id"]])
        add(layer, "busy_s", busy / 1e6)
        add(layer, "calls", 1)
        add(layer, "driver_gap_s", length(subtract(selfs[s["id"]], jobs_us)) / 1e6)
        for kind, key, scale in (("jobs", "jobs", 1), ("stages", "stages", 1), ("tasks", "tasks", 1),
                                 ("task_cpu_s", "task_cpu_ns", 1e-9), ("queue_s", "queue_ms", 1e-3),
                                 ("gc_s", "gc_ms", 1e-3),
                                 ("shuffle_mb", "shuffle_write_bytes", 1 / MB),
                                 ("spill_mb", "spill_bytes", 1 / MB), ("scan_mb", "scan_bytes", 1 / MB),
                                 ("write_mb", "write_bytes", 1 / MB),
                                 ("files_written", "files_written", 1),
                                 ("input_records", "input_records", 1),
                                 ("shuffle_records", "shuffle_write_records", 1)):
            add(layer, kind, st.get(key, 0) * scale)
        if layer == "ext.Curation":
            acc[(layer, "persisted_mb")] = max(acc.get((layer, "persisted_mb"), 0.0),
                                               st.get("cache_peak_bytes", 0) / MB)

    out = {}
    for layer in LAYERS:
        kinds = WEBOPS_KINDS if layer == "ext.WebOps" else list(BASE_KINDS)
        if layer in WRITE_LAYERS:
            kinds = kinds + ["write_mb", "files_written"]
        for k in kinds:
            out[f"{layer}.{k}"] = acc.get((layer, k), 0.0)
    out["ext.Curation.persisted_mb"] = acc.get(("ext.Curation", "persisted_mb"), 0.0)

    # the runtime beneath every layer: totals over all spans, and time
    # inside the traced steps when no job ran at all
    roots = [(s["start_us"], s["end_us"]) for s in spans if s["parent"] == 0]
    spark = {k: sum(v for (l, kk), v in acc.items() if kk == k) for k in SPARK_KINDS}
    spark["busy_s"] = length(jobs_us) / 1e6
    spark["driver_gap_s"] = length(subtract(roots, jobs_us)) / 1e6
    for k in SPARK_KINDS:
        out[f"spark.{k}"] = spark[k]

    # useful outcomes per attempt
    results = {}
    for op in store_ops:
        if op["kind"] == "read" and op["ok"]:
            layer = op["name"].rsplit(".", 1)[0]
            results[layer] = results.get(layer, 0) + op["results"]
    for layer in ("ext.Similarity", "ext.TextOps"):
        rows = acc.get((layer, "input_records"), 0.0)
        out[f"{layer}.rows_scanned_per_result"] = rows / results[layer] if results.get(layer) else 0.0
    plans_in = acc.get(("plans", "input_records"), 0.0)
    out["plans.shuffle_reduction"] = (acc.get(("plans", "shuffle_records"), 0.0) / plans_in
                                      if plans_in else 0.0)
    return out


def write_amp(trace, user_bytes):
    """Bytes written per user byte, per store write op type, for the
    Similarity and TextOps stores. `user_bytes[op]` is the payload of one
    batch of that op type, per store."""
    spans = {s["id"]: s for s in trace["spans"]}
    stats = trace["stats"]
    written, batches = {}, {}
    for s in trace["spans"]:
        parent = spans.get(s["parent"])
        if parent is None or not parent["name"].startswith("store."):
            continue
        op = parent["name"].split(".", 1)[1]
        if op not in STORE_WRITES:
            continue
        key = (s["layer"], op)
        written[key] = written.get(key, 0) + stats.get(str(s["id"]), {}).get("write_bytes", 0)
        batches[key] = batches.get(key, 0) + 1
    out = {}
    for layer in ("ext.Similarity", "ext.TextOps"):
        store = "vec" if layer == "ext.Similarity" else "doc"
        for op in STORE_WRITES:
            n = batches.get((layer, op), 0)
            ub = user_bytes.get((store, op), 0)
            out[f"{layer}.write_amp.{op}"] = written.get((layer, op), 0) / (n * ub) if n and ub else 0.0
    return out


def error_counts(ops, checks):
    """(attempted, failed): every op is an attempt; a failed op and a
    failed correctness check each count as one failure."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed


def error_rate(ops, checks):
    attempted, failed = error_counts(ops, checks)
    return failed / attempted if attempted else 1.0


def union_find_groups(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return find


def group_recall(groups, pairs):
    """Share of planted groups (each a list of ids) whose members the
    reported pairs connect into one component."""
    if not groups:
        return None
    find = union_find_groups(pairs)
    found = sum(1 for g in groups if len({find(x) for x in g}) == 1)
    return found / len(groups)
