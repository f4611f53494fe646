"""Reductions from a run's raw observations to metrics.

Pure functions over plain lists and dicts, so the arithmetic is unit-tested
without a JVM: percentiles with their sample counts, failure accounting,
interval unions and span self time, and the per-layer rollups of the trace.
"""
from collections import defaultdict

MB = 1024.0 * 1024.0


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default):
    p in [0, 100]. Returns (value, sample count); value is None when empty.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0
    pos = (n - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0]


def account(ops):
    """Failure accounting over op records ({"ok": bool, "seconds": s}).
    Returns (attempted, failed, timings of the ops that succeeded); a failed
    op counts against `attempted` and adds no timing.
    """
    timings = [op["seconds"] for op in ops if op.get("ok")]
    return len(ops), len(ops) - len(timings), timings


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - union_length(clipped)


def trace_overhead(seconds, traced):
    """Tracing overhead from ops that alternate untraced and traced: each
    traced op against the mean of its two untraced neighbours, so a steady
    warm-up drift cancels. The median ratio minus one, or None."""
    ratios = [seconds[i] / ((seconds[i - 1] + seconds[i + 1]) / 2)
              for i in range(1, len(seconds) - 1)
              if traced[i] and not traced[i - 1] and not traced[i + 1]
              and seconds[i - 1] and seconds[i + 1] and seconds[i]]
    return median(ratios) - 1.0 if ratios else None


class Tree:
    """Span tree with child lookup and subtree collection by kind."""

    def __init__(self, spans):
        self.spans = [s for s in spans if s["end"] >= s["start"]]
        self.children = defaultdict(list)
        for s in self.spans:
            self.children[s["parent"]].append(s)

    def below(self, span_id, kind):
        """Every span of `kind` in the subtree under `span_id`."""
        out, stack = [], [span_id]
        while stack:
            for c in self.children.get(stack.pop(), ()):
                if c["kind"] == kind:
                    out.append(c)
                stack.append(c["id"])
        return out


def spark_counters(tree, span_id):
    """Spark runtime counters for everything under one span."""
    tasks = tree.below(span_id, "task")
    a = [t["attrs"] for t in tasks]

    def total(k):
        return sum(x.get(k, 0) for x in a)

    wait_ms = sum(max(0, (t["end"] - t["start"]) / 1e3 - t["attrs"].get("run_ms", 0)
                      - t["attrs"].get("deser_ms", 0)) for t in tasks)
    return {
        "spark.jobs": len(tree.below(span_id, "job")),
        "spark.stages": len(tree.below(span_id, "stage")),
        "spark.tasks": len(tasks),
        "spark.task_failures": sum(1 for x in a if not x.get("ok", True)),
        "spark.executor_run_s": total("run_ms") / 1e3,
        "spark.executor_cpu_s": total("cpu_ns") / 1e9,
        "spark.task_wait_s": wait_ms / 1e3,
        "spark.gc_s": total("gc_ms") / 1e3,
        "spark.shuffle_write_mb": total("shuffle_write_b") / MB,
        "spark.shuffle_read_mb": total("shuffle_read_b") / MB,
        "spark.shuffle_fetch_wait_s": total("fetch_wait_ms") / 1e3,
        "spark.spill_mb": total("spill_b") / MB,
        "spark.input_mb": total("input_b") / MB,
        "spark.result_mb": total("result_b") / MB,
        "spark.peak_exec_mem_mb": max([x.get("peak_mem_b", 0) for x in a] or [0]) / MB,
    }


def lloyd_layers(tree, op_span, op):
    """Per-call K-Means layer numbers from one traced Lloyd.run call, and
    the wall time of each iteration. Jobs up to the last one whose call site
    is the init (the input read and the init itself) are init; the rest
    split evenly into the call's iterations, each ending when its last job
    ends. When they do not split evenly, the loop is one chunk and its
    numbers are averaged over the iterations.
    """
    jobs = sorted((j for j in tree.children.get(op_span["id"], []) if j["kind"] == "job"),
                  key=lambda j: j["start"])
    marked = [i for i, j in enumerate(jobs) if j["attrs"].get("init")]
    init, loop = (jobs[:marked[-1] + 1], jobs[marked[-1] + 1:]) if marked else ([], jobs)
    iters = max(1, op.get("iterations", 1))
    init_end = max([j["end"] for j in init] or [op_span["start"]])
    if loop and len(loop) % iters == 0:
        per = len(loop) // iters
        chunks = [loop[i * per:(i + 1) * per] for i in range(iters)]
    else:
        chunks = [loop]
    walls, driver, stages, tasks, cpu, scan, shuffle = [], 0.0, 0, 0, 0.0, 0, 0
    prev = init_end
    for chunk in chunks:
        end = max([j["end"] for j in chunk] or [prev])
        ts = [t for j in chunk for t in tree.below(j["id"], "task")]
        stages += sum(len(tree.below(j["id"], "stage")) for j in chunk)
        tasks += len(ts)
        cpu += sum(t["attrs"].get("cpu_ns", 0) for t in ts
                   if t["attrs"].get("type") == "ShuffleMapTask") / 1e9
        scan += sum(t["attrs"].get("input_b", 0) for t in ts)
        shuffle += sum(t["attrs"].get("shuffle_write_b", 0) for t in ts)
        walls.append((end - prev) / 1e6)
        driver += self_time({"start": prev, "end": end}, ts) / 1e6
        prev = end
    if len(chunks) != iters:
        walls = [walls[0] / iters]
    return {
        "kmeans.iterations": op.get("iterations", 0),
        "kmeans.jobs_per_iter": len(loop) / iters,
        "kmeans.stages_per_iter": stages / iters,
        "kmeans.tasks_per_iter": tasks / iters,
        "kmeans.driver_s_per_iter": driver / iters,
        "kmeans.init_s": (init_end - op_span["start"]) / 1e6,
        "kmeans.map_cpu_s_per_iter": cpu / iters,
        "kmeans.cache_scan_mb_per_iter": scan / iters / MB,
        "kmeans.shuffle_write_bytes_per_iter": shuffle / iters,
        "kmeans.cached_mb": op.get("rdd_peak_bytes", 0) / MB,
    }, walls


STREAM_FIELDS = [("streaming.add_batch_s", "addBatch_ms"), ("streaming.planning_s", "queryPlanning_ms"),
                 ("streaming.wal_commit_s", "walCommit_ms"), ("streaming.trigger_s", "triggerExecution_ms")]


def streaming_counters(batches, start, end):
    """Micro-batch numbers for the batches that ended inside [start, end]."""
    inside = [b for b in batches if start <= b["end"] <= end]
    out = {"streaming.batches": len(inside),
           "streaming.state_rows": sum(b["attrs"].get("state_rows", 0) for b in inside)}
    for name, field in STREAM_FIELDS:
        out[name] = sum(b["attrs"].get(field, 0) for b in inside) / 1e3
    return out


MODULES = ["kmeans", "queries", "streaming", "text", "sim", "multimodal", "ml", "core", "sources"]

QUERY_PHASES = [("query.build_s", "build_s"), ("query.analysis_s", "analysis_s"),
                ("query.optimization_s", "optimization_s"), ("query.planning_s", "planning_s"),
                ("query.exec_s", "exec_s")]


def suite_pass_layers(tree, pass_span, key_ops, modules, prev_rdd, pass_rec):
    """Per-pass query, memo, streaming and module numbers of a traced pass."""
    ok = [op for op in key_ops if op.get("ok")]
    out = {name: sum(op.get(field, 0.0) for op in ok) for name, field in QUERY_PHASES}
    n = max(1, len(key_ops))
    for name, kind in [("query.jobs", "job"), ("query.stages", "stage"), ("query.tasks", "task")]:
        out[name] = len(tree.below(pass_span["id"], kind)) / n
    out["memo.cold_builds"] = sum(op.get("memo_builds", 0) for op in key_ops)
    out["memo.build_s"] = sum(op.get("memo_s", 0.0) for op in key_ops)
    out["memo.pinned_mb"] = (pass_rec.get("rdd_bytes", 0) - prev_rdd[0]) / MB
    out["memo.pinned_blocks"] = pass_rec.get("rdd_blocks", 0) - prev_rdd[1]
    for m in MODULES:
        out[f"module.{m}_s"] = sum(op["seconds"] for op in ok if modules.get(op["key"]) == m)
    return out
