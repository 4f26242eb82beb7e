"""Arithmetic of the benchmark: percentiles, span self time, and the
end-to-end and per-layer metrics computed from a harness result.

Pure functions over the JSON the harness writes (see
harness/src/main/scala/perfbench/Harness.scala); no Spark, no I/O.
"""
import statistics

# A percentile is reported only with this many samples, so that at
# least ten of them lie beyond the 90th.
P90_MIN_SAMPLES = 100

MB = 1024 * 1024


def p90(values):
    """90th percentile of `values`, or None below P90_MIN_SAMPLES."""
    if len(values) < P90_MIN_SAMPLES:
        return None
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def spread(values):
    """Interquartile distance as a share of the median."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span in ms: its duration minus the part of its
    interval that its children cover. `spans` are dicts with id, parent,
    start_ms and end_ms; returns {id: self_ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        covered = union_ms(kids, s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def failed_queries(result, gate_failures):
    """Names of the queries that threw in the timed pass or failed the
    correctness gate."""
    return {q["name"] for q in result["queries"] if q["error"]} | set(gate_failures)


def wall_s(result):
    return (result["pass_end_ms"] - result["pass_start_ms"]) / 1000


def end_to_end(result, setup_s):
    """The end-to-end metrics of an untraced run, in the units
    BENCHMARK.json declares."""
    lat = [q["total_ms"] / 1000 for q in result["queries"]]
    m = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s(result), "s"),
    }
    # never with the frozen workloads (a few queries a pass); a run of a
    # whole query family through --queries reaches it
    if p90(lat) is not None:
        m["query_p90_s"] = (p90(lat), "s")
    return m


CALLS = ("ops.build", "plans.plan", "exec.run")


def attribute(result):
    """Builds the traced run's span tree: the harness spans (a query and
    its ops.build / plans.plan / exec.run calls) plus one span per Spark
    job and streaming batch. A job belongs to the query running when it
    started, else to the query whose job group it carries; inside the
    query it hangs under the streaming batch or the call during which it
    started. Returns the full span list."""
    spans = [dict(s) for s in result["spans"]]
    roots = [s for s in spans if s["parent"] == -1]
    calls = {}
    for s in spans:
        if s["parent"] != -1:
            calls.setdefault(s["parent"], []).append(s)

    def root_at(t):
        return next((r for r in roots if r["start_ms"] <= t <= r["end_ms"]), None)

    def call_at(root, t):
        return next((c for c in calls.get(root["id"], [])
                     if c["start_ms"] <= t <= c["end_ms"]), root)

    def add(parent, name, start, end, **extra):
        span = {"id": len(spans), "parent": parent["id"], "name": name,
                "query": parent["query"], "start_ms": start, "end_ms": end}
        span.update(extra)
        spans.append(span)
        return span

    batches = []
    for b in result.get("batches", []):
        root = root_at(b["start_ms"])
        if root is not None:
            batches.append(add(call_at(root, b["start_ms"]), "streaming.batch",
                               b["start_ms"], b["start_ms"] + b["trigger_ms"]))
    by_group = {f"perfbench:{r['query']}": r for r in roots}
    for j in result.get("jobs", []):
        if j["end_ms"] < 0:
            continue
        root = root_at(j["start_ms"])
        if root is None:
            root = by_group.get(j["group"])
        if root is None:
            continue
        parent = next((b for b in batches if b["query"] == root["query"]
                       and b["start_ms"] <= j["start_ms"] <= b["end_ms"]), None)
        add(parent or call_at(root, j["start_ms"]), "spark.job",
            j["start_ms"], j["end_ms"], job=j["id"])
    return spans


def layer_of(span_by_id, span):
    """The harness call (ops.build, plans.plan, exec.run) a span sits
    under, or "query" for a query root."""
    s = span
    while s["parent"] != -1 and s["name"] not in CALLS:
        s = span_by_id[s["parent"]]
    return s["name"]


def per_layer(result, cpus):
    """Per-layer totals of the traced run's pass."""
    spans = attribute(result)
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    start, end = result["pass_start_ms"], result["pass_end_ms"]
    wall = (end - start) / 1000
    job_spans = [s for s in spans if s["name"] == "spark.job"]
    job_ids = {s["job"] for s in job_spans}
    jobs = [j for j in result["jobs"] if j["id"] in job_ids]
    batches = [b for b in result["batches"] if start <= b["start_ms"] <= end]
    queries = result["queries"]

    def tot(key):
        return sum(j[key] for j in jobs)

    def span_s(name):
        return sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name) / 1000

    def self_s(name):
        return sum(selfs[s["id"]] for s in spans if s["name"] == name) / 1000

    task_run_s = tot("task_run_ms") / 1000
    return {
        "trace.wall_s": (wall, "s"),
        "ops.build_s": (span_s("ops.build"), "s"),
        "ops.build_jobs": (sum(layer_of(by_id, s) == "ops.build" for s in job_spans),
                           "count"),
        "plans.plan_s": (span_s("plans.plan"), "s"),
        "plans.exchanges": (sum(q["exchanges"] for q in queries), "count"),
        "plans.graft_nodes": (sum(q["graft_nodes"] for q in queries), "count"),
        "exec.exec_s": (span_s("exec.run"), "s"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (tot("stages"), "count"),
        "exec.tasks": (tot("tasks"), "count"),
        "exec.driver_gap_s": (wall - union_ms(
            [(j["start_ms"], j["end_ms"]) for j in jobs], start, end) / 1000, "s"),
        "exec.task_run_s": (task_run_s, "s"),
        "exec.task_wait_s": (tot("task_wait_ms") / 1000, "s"),
        "exec.busy_frac": (task_run_s / (wall * cpus), "ratio"),
        "exec.failed_tasks": (tot("failed_tasks"), "count"),
        "scan.bytes_read": (tot("input_bytes"), "bytes"),
        "scan.rows_read": (tot("input_rows"), "count"),
        "shuffle.write_bytes": (tot("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (tot("shuffle_read_bytes"), "bytes"),
        "shuffle.fetch_wait_s": (tot("fetch_wait_ms") / 1000, "s"),
        "shuffle.spill_bytes": (tot("spill_bytes"), "bytes"),
        "opcache.persisted_rdds": (result["persisted_rdds"], "count"),
        "opcache.blocks_mb": (result["block_bytes"] / MB, "MB"),
        "opcache.peak_mb": (result["cache_peak_bytes"] / MB, "MB"),
        "sources.bytes_written": (tot("output_bytes"), "bytes"),
        "sources.rows_written": (tot("output_rows"), "count"),
        "sources.files_written": (result["files_written"], "count"),
        "sources.stored_mb": (result["stored_bytes"] / MB, "MB"),
        "streaming.batches": (len(batches), "count"),
        "streaming.trigger_s": (sum(b["trigger_ms"] for b in batches) / 1000, "s"),
        "streaming.plan_s": (sum(b["plan_ms"] for b in batches) / 1000, "s"),
        "streaming.wal_s": (sum(b["wal_ms"] for b in batches) / 1000, "s"),
        "codegen.compile_s": (result["codegen_ns"] / 1e9, "s"),
        "codegen.classes": (result["codegen_classes"], "count"),
        "jvm.gc_s": (result["gc_ms"] / 1000, "s"),
        "self.query_s": (self_s("query"), "s"),
        "self.ops.build_s": (self_s("ops.build"), "s"),
        "self.plans.plan_s": (self_s("plans.plan"), "s"),
        "self.exec.run_s": (self_s("exec.run"), "s"),
        "self.streaming.batch_s": (self_s("streaming.batch"), "s"),
        "self.spark.job_s": (self_s("spark.job"), "s"),
    }
