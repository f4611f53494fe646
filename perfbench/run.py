#!/usr/bin/env python3
"""The repository benchmark: one command per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark
from source (once per source state), generates the workload's inputs from
the seed (cached per seed), runs one JVM on local[4] for the time budget,
checks every output against an independent reference, and prints one JSON
line last: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Everything it writes stays under `.bench_work/` in the checkout.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 150

# `warmup_s` is untimed work before measuring, while the JIT settles. The
# suite's checked pass counts toward it and takes ~12 s; its passes kept
# getting faster for ~30 s of work, so it gets one more untimed pass.
WORKLOADS = {
    "kmeans_small": {"kind": "kmeans", "n": 2000, "d": 64, "k": 5, "max_iter": 10, "warmup_s": 10},
    "query_suite": {"kind": "suite", "sf": 0.001, "warmup_s": 16},
}

# Suite keys, run in file order: a seed-permuted order moved single keys by
# up to 2x between runs (which key pays a shared memo, what ran just
# before), so the seed varies only the data.
SUITE_KEYS_FILE = os.path.join(HERE, "suite_keys.txt")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "pass_p50_s": "s", "op_p50_s": "s", "op_p95_s": "s",
              "items_per_s": "1/s", "heap_live_mb": "MiB"}
PER_LAYER_UNITS = {
    "kmeans.iterations": "count", "kmeans.jobs_per_iter": "count",
    "kmeans.stages_per_iter": "count", "kmeans.tasks_per_iter": "count",
    "kmeans.iter_p50_s": "s", "kmeans.driver_s_per_iter": "s", "kmeans.init_s": "s",
    "kmeans.map_cpu_s_per_iter": "s", "kmeans.cache_scan_mb_per_iter": "MiB",
    "kmeans.shuffle_write_bytes_per_iter": "bytes", "kmeans.cached_mb": "MiB",
    "query.build_s": "s", "query.analysis_s": "s", "query.optimization_s": "s",
    "query.planning_s": "s", "query.exec_s": "s", "query.jobs": "count",
    "query.stages": "count", "query.tasks": "count",
    "memo.cold_builds": "count", "memo.build_s": "s", "memo.pinned_mb": "MiB",
    "memo.pinned_blocks": "count",
    "streaming.batches": "count", "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.trigger_s": "s", "streaming.state_rows": "count",
    **{f"module.{m}_s": "s" for m in stats.MODULES},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.task_wait_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB", "spark.shuffle_fetch_wait_s": "s", "spark.spill_mb": "MiB",
    "spark.input_mb": "MiB", "spark.result_mb": "MiB", "spark.peak_exec_mem_mb": "MiB",
    "trace.overhead_pct": "%",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_cmd(cmd, cwd, timeout, out_path, env=None):
    """Runs a command in its own process group, output to a file; kills the
    whole group on timeout and waits for it to end."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the engine and the benchmark; returns the runtime classpath."""
    stamp_dir = os.path.join(WORK, "build")
    os.makedirs(stamp_dir, exist_ok=True)
    cp_file = os.path.join(stamp_dir, f"classpath-{source_stamp()}.txt")
    if os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    log("building engine and benchmark (sbt)")
    out = os.path.join(stamp_dir, "sbt.log")
    rc = run_cmd(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                  "compile", "export Runtime/fullClasspath"], HERE, 850, out)
    lines = [ln.strip() for ln in open(out) if ln.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        raise SystemExit(f"build failed (rc={rc}); see {out}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def cached(path, make):
    """Builds `path` once with make(tmp_dir); a DONE marker makes it reusable."""
    if os.path.isfile(os.path.join(path, "DONE")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def kmeans_inputs(w, seed):
    import gen
    import oracle
    name = f"points-n{w['n']}-d{w['d']}-k{w['k']}-s{seed}"

    def make(dest):
        x, label = gen.points(seed, w["n"], w["d"])
        gen.write_embeddings(os.path.join(dest, "embeddings.parquet"), x, label)
        cents, iters = oracle.lloyd_reference(x, w["k"], w["max_iter"])
        with open(os.path.join(dest, "reference.json"), "w") as f:
            json.dump({"centroids": cents, "iterations": iters}, f)
    return cached(os.path.join(WORK, "data", name), make)


def suite_inputs(w, seed):
    import gen
    return cached(os.path.join(WORK, "data", f"fixture-sf{w['sf']}-s{seed}"),
                  lambda dest: gen.fixture(dest, seed, w["sf"]))


def check_kmeans(raw, data, w):
    """Marks every Lloyd call whose centroids or iteration count differ from
    the reference as failed. Returns a list of problems with the input."""
    ref = json.load(open(os.path.join(data, "reference.json")))
    problems = []
    if ref["iterations"] != w["max_iter"]:
        problems.append(f"input converges after {ref['iterations']} < {w['max_iter']} iterations")
    for op in raw["ops"]:
        if not op.get("ok"):
            continue
        if op["iterations"] != ref["iterations"]:
            op.update(ok=False, error=f"iterations {op['iterations']} != reference {ref['iterations']}")
        elif op["centroids"] != ref["centroids"]:
            op.update(ok=False, error="centroids differ from the reference")
    return problems


def check_suite(raw, data, run_dir):
    """Fails every execution of a key that threw in the checked pass or whose
    result differs from its DuckDB oracle. Returns the unverified keys."""
    import oracle
    keys = [c["key"] for c in raw["checks"]]
    bad = {c["key"]: c["error"] for c in raw["checks"] if not c["ok"]}
    verdicts = oracle.compare_suite(data, os.path.join(run_dir, "results"), raw["oracle_sql"],
                                    [k for k in keys if k not in bad])
    bad.update({k: f"oracle mismatch: {v}" for k, v in verdicts.items() if v})
    for op in raw["ops"]:
        if op.get("ok") and op["key"] in bad:
            op.update(ok=False, error=bad[op["key"]])
    return sorted(k for k in keys if k not in raw["oracle_sql"] and k not in bad)


def end_to_end(w, raw):
    untraced = [op for op in raw["ops"] if not op["traced"]]
    setup = stats.median(raw["setup_s"])
    if w["kind"] == "kmeans":
        _, _, calls = stats.account(untraced)
        ok = [op for op in untraced if op.get("ok")]
        passes, ops = calls, calls
        items = w["n"] * sum(op["iterations"] for op in ok) / max(sum(calls), 1e-9)
        heap = [op["heap_mb"] for op in untraced]
    else:
        _, _, ops = stats.account(untraced)
        by_pass = {}
        for op in untraced:
            if op.get("ok"):
                by_pass[op["pass"]] = by_pass.get(op["pass"], 0.0) + op["seconds"]
        passes = list(by_pass.values())
        items = len(ops) / max(sum(ops), 1e-9)
        heap = [p["heap_mb"] for p in raw["passes"] if not p["traced"]]
    p95, n95 = stats.percentile(ops, 95)
    values = {"setup_s": setup, "pass_p50_s": stats.median(passes), "op_p50_s": stats.median(ops),
              "op_p95_s": p95, "items_per_s": items, "heap_live_mb": stats.median(heap)}
    counts = {"setup_s": len(raw["setup_s"]), "pass_p50_s": len(passes), "op_p50_s": len(ops),
              "op_p95_s": n95, "items_per_s": len(ops), "heap_live_mb": len(heap)}
    return values, counts


def per_layer(w, raw):
    tree = stats.Tree(raw["spans"])
    values = {name: 0.0 for name in PER_LAYER_UNITS}
    rows = []
    if w["kind"] == "kmeans":
        spans = {s["name"]: s for s in tree.spans if s["kind"] == "op"}
        walls = []
        for op in raw["ops"]:
            span = spans.get(f"lloyd {op['index']}")
            if op["traced"] and op.get("ok") and span:
                layer, iter_walls = stats.lloyd_layers(tree, span, op)
                layer.update(stats.spark_counters(tree, span["id"]))
                rows.append(layer)
                walls += iter_walls
        values["kmeans.iter_p50_s"] = stats.median(walls) or 0.0
        timed = raw["ops"]
    else:
        spans = {s["name"]: s for s in tree.spans if s["kind"] == "pass"}
        batches = [s for s in tree.spans if s["kind"] == "batch"]
        prev = (0, 0)
        for p in raw["passes"]:
            span = spans.get(f"pass {p['pass']}")
            if not (p["traced"] and span):
                continue
            key_ops = [op for op in raw["ops"] if op["pass"] == p["pass"]]
            layer = stats.suite_pass_layers(tree, span, key_ops, raw["modules"], prev, p)
            layer.update(stats.streaming_counters(batches, span["start"], span["end"]))
            layer.update(stats.spark_counters(tree, span["id"]))
            rows.append(layer)
            prev = (p.get("rdd_bytes", 0), p.get("rdd_blocks", 0))
        timed = raw["passes"]
    for name in PER_LAYER_UNITS:
        xs = [r[name] for r in rows if name in r]
        if xs:
            values[name] = stats.median(xs)
    overhead = stats.trace_overhead([op.get("seconds", 0.0) for op in timed],
                                    [op["traced"] for op in timed])
    if overhead is not None:
        values["trace.overhead_pct"] = overhead * 100.0
    return values, len(rows)


def key_table(raw, path):
    cols = ["key", "module", "pass", "traced", "ok", "seconds", "build_s", "plan_s", "exec_s",
            "analysis_s", "optimization_s", "planning_s", "memo_builds", "memo_s", "error"]
    with open(path, "w") as f:
        f.write("\t".join(cols) + "\n")
        for op in raw["ops"]:
            row = dict(op, module=raw["modules"].get(op["key"], ""))
            f.write("\t".join("" if row.get(c) is None else str(row.get(c, "")) for c in cols) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no engine sources next to perfbench/: run from a full checkout")
    w = WORKLOADS[a.workload]
    meta = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": os.cpu_count(), "loadavg_before": os.getloadavg()}
    cp = build()
    data = kmeans_inputs(w, a.seed) if w["kind"] == "kmeans" else suite_inputs(w, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = ["--kind", w["kind"], "--data", data, "--work", run_dir, "--seconds", str(a.seconds),
            "--warmup", str(w["warmup_s"]), "--trace", str(a.trace), "--out", os.path.join(run_dir, "raw.json")]
    if w["kind"] == "kmeans":
        args += ["--k", str(w["k"]), "--max-iter", str(w["max_iter"]), "--warm-table", "embeddings"]
    else:
        args += ["--keys", SUITE_KEYS_FILE, "--warm-table", "region"]
    java = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp, "perfbench.Main", *args]
    t0 = time.time()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    rc = run_cmd(java, ROOT, JVM_TIMEOUT_S, os.path.join(run_dir, "jvm.log"), env)
    if rc != 0:
        raise SystemExit(f"benchmark JVM failed (rc={rc}); see {run_dir}/jvm.log")
    log(f"jvm finished in {time.time() - t0:.1f} s")
    raw = json.load(open(os.path.join(run_dir, "raw.json")))
    if w["kind"] == "kmeans":
        problems, unverified = check_kmeans(raw, data, w), []
    else:
        problems, unverified = [], check_suite(raw, data, run_dir)
    attempted, failed, _ = stats.account(raw["ops"])
    failures = sorted({f"{op.get('key', 'lloyd')}: {op['error']}" for op in raw["ops"] if not op.get("ok")})
    if a.trace:
        values, samples = per_layer(w, raw)
        units, counts = PER_LAYER_UNITS, {"traced_ops": samples}
    else:
        values, counts = end_to_end(w, raw)
        units = END_TO_END
    meta.update(loadavg_after=os.getloadavg(), calib_before_s=raw["calib_before_s"],
                calib_after_s=raw["calib_after_s"], setup_runs_s=raw["setup_s"],
                jvm_to_ready_s=raw["jvm_to_ready_s"], samples=counts,
                failed_frac=failed / max(attempted, 1), failures=failures,
                unverified=unverified, input_problems=problems)
    result = {"correct": failed == 0 and not problems, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"result": result, "meta": meta}, f, indent=1)
    if w["kind"] == "suite":
        key_table(raw, os.path.join(run_dir, "keys.tsv"))
    # keep only the records; inputs, results and Spark scratch go
    for d in os.listdir(run_dir):
        if os.path.isdir(os.path.join(run_dir, d)):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    log(f"meta: {json.dumps(meta)}")
    log(f"sidecar: {run_dir}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
