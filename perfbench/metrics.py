"""The benchmark's arithmetic: operation order, percentiles, failure
counting, span self time and the metrics built from them.

Everything here is a pure function of the harness's raw record so that
test_metrics.py can check it without a JVM.
"""
import math
import random

FAILED = ("error", "timeout", "mismatch")


def plan(mix, seed, passes):
    """The operation order for a run: `passes` permutations of `mix`,
    fixed by `seed`. The first passes are the warm-up passes."""
    return [random.Random(f"{seed}:{k}").sample(list(mix), len(mix))
            for k in range(passes)]


def percentile(samples, q, min_beyond=10):
    """Nearest-rank q-quantile of `samples`, or None when fewer than
    `min_beyond` samples lie beyond it (the rank is then not supported
    by the sample)."""
    xs = sorted(samples)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def median(samples):
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def failed_ratio(statuses):
    """Operations that threw, timed out or returned a wrong output, over
    operations attempted."""
    statuses = list(statuses)
    if not statuses:
        return None
    return sum(s in FAILED for s in statuses) / len(statuses)


def union_length(intervals, lo=None, hi=None):
    """Length covered by `intervals` ([start, end] pairs), clipped to
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
    total, cur_s, cur_e = 0, None, None
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end_ns"] - span["start_ns"]) - union_length(
        [(c["start_ns"], c["end_ns"]) for c in children],
        span["start_ns"], span["end_ns"])


def nest_jobs(spans):
    """Move each listener job span of a batch operation from the
    operation to the phase span it overlaps most, so an operation's
    direct children are its sequential phases. (A stream trigger's jobs
    stay under the trigger: its phase spans are laid out from durations
    only.)"""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    ops = {s["id"] for s in spans if s["name"] == "op"}
    for s in spans:
        if s["name"] != "exec.job" or s["parent"] not in ops:
            continue
        phases = [p for p in by_parent.get(s["parent"], [])
                  if p["name"] != "exec.job"]
        if not phases:
            continue
        best = max(phases, key=lambda p: union_length(
            [(s["start_ns"], s["end_ns"])], p["start_ns"], p["end_ns"]))
        s["parent"] = best["id"]
    return spans


# spans timed from Spark's millisecond event times; a child of these
# kinds may stick out of its parent by up to CLOCK_TOL_NS
LISTENER_SPANS = ("exec.job", "exec.stage")
CLOCK_TOL_NS = 2_000_000
# children that may run at the same time as each other
CONCURRENT_SPANS = LISTENER_SPANS


def reconcile(spans):
    """Check every span that has children, at every level (operation ->
    phases, trigger -> phases and jobs, phase -> jobs, job -> stages).

    Returns one tuple per such span: (name, wall_ns, children_ns,
    self_ns, ok). children_ns is the summed length of the children and
    self_ns the span's time no child covers. ok holds when every child
    lies inside the span, within CLOCK_TOL_NS for listener spans, and
    the children that run one after another (phases) do not overlap, so
    that their time plus self time equals the span's wall."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        ch = kids.get(s["id"], [])
        if not ch:
            continue
        wall = s["end_ns"] - s["start_ns"]
        total = sum(c["end_ns"] - c["start_ns"] for c in ch)
        own = self_time(s, ch)
        inside = all(
            c["start_ns"] >= s["start_ns"] - tol and c["end_ns"] <= s["end_ns"] + tol
            for c in ch
            for tol in [CLOCK_TOL_NS if c["name"] in LISTENER_SPANS else 0])
        seq = [c for c in ch if c["name"] not in CONCURRENT_SPANS]
        seq_total = sum(c["end_ns"] - c["start_ns"] for c in seq)
        disjoint = seq_total == union_length(
            [(c["start_ns"], c["end_ns"]) for c in seq])
        out.append((s["name"], wall, total, own, inside and disjoint))
    return out


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def timed(record):
    """The raw record's timed operations (batch entries) or replays
    (streams); warm-up ones are pass 0."""
    return [o for o in record["ops"] if o["pass"] > 0]


def operations(record):
    """Timed operations of a raw record: batch entries, or stream
    triggers (each carrying its replay's status)."""
    if record["workload"] != "stream_replay":
        return timed(record)
    ops = []
    for r in timed(record):
        for t in r["triggers"]:
            ops.append(dict(t, status=r["status"], entry=r["entry"]))
        if not r["triggers"]:
            ops.append({"status": r["status"], "entry": r["entry"],
                        "wall_ms": (r["end_ns"] - r["start_ns"]) / 1e6,
                        "exec": {}, "spans": []})
    return ops


def end_to_end(record):
    """End-to-end metrics of an untraced run, keyed by name; a value of
    None means the sample does not support the metric."""
    ops = operations(record)
    walls = [o["wall_ms"] for o in ops]
    timed_s = (record["timed_end_ns"] - record["timed_start_ns"]) / 1e9 \
        - record["check_ms"] / 1e3
    m = {
        "setup_s": (record["first_op_ns"] - record["t0_ns"]) / 1e9,
        "op_p50_ms": median(walls),
        "op_p90_ms": percentile(walls, 0.9),
        "throughput_ops_s": len(ops) / timed_s if timed_s > 0 else None,
        "failed_ratio": failed_ratio(o["status"] for o in ops),
        "rss_peak_mb": record["rss_peak_kb"] / 1024.0,
    }
    if record["workload"] == "stream_replay":
        rows = sum(o.get("input_rows", 0) for o in ops)
    else:
        rows = sum(o.get("exec", {}).get("scan_rows", 0) for o in ops)
    m["stream_rows_s"] = rows / (sum(walls) / 1e3) if sum(walls) > 0 else None
    return m


EXEC_KEYS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
             "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "scan_bytes", "scan_rows")
STREAM_PHASES = (("latest_offset_ms", "latestOffset"),
                 ("get_batch_ms", "getBatch"),
                 ("query_planning_ms", "queryPlanning"),
                 ("add_batch_ms", "addBatch"),
                 ("wal_commit_ms", "walCommit"),
                 ("commit_offsets_ms", "commitOffsets"))

STREAM_METRICS = tuple(n for n, _ in STREAM_PHASES) + (
    "fixed_ms", "state_commit_ms", "state_rows", "state_memory_bytes",
    "input_rows", "checkpoint_bytes")

# layer -> workloads whose operations do that layer's work
LAYERS = {
    "engine": ("sql_interactive", "pipeline_batch", "stream_replay"),
    "catalyst": ("sql_interactive", "pipeline_batch", "stream_replay"),
    "codegen": ("sql_interactive", "pipeline_batch", "stream_replay"),
    "exec": ("sql_interactive", "pipeline_batch", "stream_replay"),
    "materialize": ("sql_interactive", "pipeline_batch", "stream_replay"),
    "streaming": ("stream_replay",),
    "jvm": ("sql_interactive", "pipeline_batch", "stream_replay"),
}


def per_layer(record):
    """Per-layer metrics of a traced run, each a mean per operation
    unless its name says otherwise."""
    ops = operations(record)
    n = len(ops)
    if n == 0:
        return {}
    stream = record["workload"] == "stream_replay"
    spans = []
    for o in ops:
        spans.extend(o.get("spans", []))
    spans = nest_jobs(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    m = {}

    # counters recorded per batch operation or per stream replay
    holders = timed(record)
    cnt = lambda k: sum(h.get("counters", {}).get(k, 0) for h in holders) / n
    if stream:
        m["engine.build_ms"] = sum(r["build_ms"] for r in holders) / n
        m["engine.build_self_ms"] = sum(
            r["build_ms"] - union_length(r.get("build_jobs", []), r["start_ns"],
                                         r["start_ns"] + r["build_ms"] * 1e6) / 1e6
            for r in holders) / n
    else:
        b = [s for s in spans if s["name"] == "engine.build"]
        m["engine.build_ms"] = sum(s["end_ns"] - s["start_ns"] for s in b) / 1e6 / n
        m["engine.build_self_ms"] = sum(
            self_time(s, [c for c in kids.get(s["id"], []) if c["name"] == "exec.job"])
            for s in b) / 1e6 / n
    m["catalyst.analysis_ms"] = cnt("analysis_ms")
    m["catalyst.optimize_ms"] = cnt("optimize_ms")
    m["catalyst.plan_ms"] = cnt("plan_ms")
    m["catalyst.graft_rules_ms"] = cnt("graft_rules_ms")
    m["catalyst.aqe_replans"] = cnt("aqe_updates")
    m["codegen.compiles"] = cnt("codegen_compiles")
    m["codegen.compile_ms"] = cnt("codegen_compile_ms")

    for k in EXEC_KEYS:
        m["exec." + k] = sum(o.get("exec", {}).get(k, 0) for o in ops) / n
    wall_ms = sum(o["wall_ms"] for o in ops)
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s is not None and s["name"] != "op":
            s = by_id.get(s["parent"])
        return s["id"] if s else None

    jobs_of = {}
    for j in spans:
        if j["name"] == "exec.job":
            jobs_of.setdefault(root(j), []).append((j["start_ns"], j["end_ns"]))
    gaps = [(s["end_ns"] - s["start_ns"])
            - union_length(jobs_of.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans if s["name"] == "op"]
    m["exec.driver_gap_ms"] = sum(gaps) / 1e6 / n
    cores = record["cores"]
    m["exec.core_busy_ratio"] = (sum(o.get("exec", {}).get("task_run_ms", 0) for o in ops)
                                 / (wall_ms * cores)) if wall_ms > 0 else 0.0

    m["materialize.checkpoints"] = cnt("block_rdds")
    m["materialize.block_bytes"] = cnt("block_bytes")
    m["materialize.retained_bytes"] = cnt("retained_bytes")

    if stream:
        for name, key in STREAM_PHASES:
            m["streaming." + name] = _mean(o.get("durations_ms", {}).get(key, 0) for o in ops)
        m["streaming.fixed_ms"] = _mean(
            o["wall_ms"] - o.get("durations_ms", {}).get("addBatch", 0) for o in ops)
        for k in ("state_commit_ms", "state_rows", "state_memory_bytes", "input_rows"):
            m["streaming." + k] = _mean(o.get(k, 0) for o in ops)
        m["streaming.checkpoint_bytes"] = sum(r["checkpoint_bytes"] for r in holders) / n
    else:
        # a batch operation runs no trigger: the layer is not exercised
        for name in STREAM_METRICS:
            m["streaming." + name] = 0.0

    m["jvm.gc_ms"] = cnt("jvm_gc_ms")
    m["jvm.heap_used_mb"] = sum(h.get("counters", {}).get("heap_used_mb", 0)
                                for h in holders) / len(holders)
    return m


def exercised(workload, metric):
    """Whether a workload's operations do the work a metric measures."""
    return workload in LAYERS[metric.split(".")[0]]
