#!/usr/bin/env python3
"""The repository's benchmark: one named workload, one seed, every metric
by name with its unit, and a check of the outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program from source
(`build.py`), runs the workload in a fresh JVM at `local[<cores>]`, prints
one line per metric, and as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. It exits non-zero if
the workload could not run. Everything it writes goes under `.bench_build/`.

Workloads (see README.md for why each exists):
  demo1_etl_stream           Demo1 ETL stream, open loop
  demo2_window_count_stream  Demo2 window counts on RocksDB state, open loop
  demo2_late_panes_stream    Demo2 late panes on RocksDB state, open loop
  curation_batch             LLM-curation heads plus an as-of join, closed loop
  sql_batch                  relational, Beam-parity, temporal heads, closed loop
"""
import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fixture  # noqa: E402
import stream  # noqa: E402

CORES = len(os.sched_getaffinity(0))  # what `nproc` reports
HEAP = "3g"
RUN_TIMEOUT_S = 170

CURATION = ["dedup_soft_weights", "pq_adc_rerank_topk", "ngram_top_per_source",
            "text_edit_distance", "asof_join_native"]
SQL = ["q6_filter_agg", "q5_nation_revenue", "session_window_count", "asof_join_native",
       "gap_fill_resample", "constraint_audit"]
BATCH = {"curation_batch": CURATION, "sql_batch": SQL}
STREAMS = ("demo1_etl_stream", "demo2_window_count_stream", "demo2_late_panes_stream")

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _BENCH["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _BENCH["per_layer"]]
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


class Jvm:
    """One harness process. `ready_ns` is when it finished set-up."""

    def __init__(self, classes, work, args, stdin=False):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        cmd = (["java", f"-Xmx{HEAP}", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
               [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
               ["-cp", f"{classes}:{build.classpath()}", "perfbench.Harness",
                "--work", work] + [str(a) for a in args])
        self.err_path = os.path.join(work, "jvm.log")
        self.err = open(self.err_path, "w")
        self.start_ns = time.time_ns()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE if stdin else subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=self.err, text=True)
        self.ready_ns = None
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH_READY"):
                self.ready_ns = int(line.split()[1])
                break
        if self.ready_ns is None:
            self.finish(0)
            raise RuntimeError("harness exited before set-up finished:\n" + self.tail())

    @property
    def setup_s(self):
        return (self.ready_ns - self.start_ns) / 1e9

    def finish(self, timeout):
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.stdout.read()
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.err.close()
        return self.proc.returncode

    def tail(self):
        with open(self.err_path) as f:
            lines = f.readlines()
        first = [l for l in lines if "Exception" in l or "Error" in l][:3]
        return "".join(first + ["...\n"] + lines[-10:])


def read_json(path):
    with open(path) as f:
        return json.load(f)


# ------------------------------------------------------------------ batch

def run_batch(args, classes, work, cores, order, cold_only=False):
    fx = fixture.ensure(os.path.join(build.BUILD_DIR, "data"))
    out = os.path.join(work, "out.json")
    jvm = Jvm(classes, work, ["--mode", "batch", "--cores", cores, "--fixture", fx,
                              "--queries", ",".join(order), "--seconds", args.seconds,
                              "--trace", args.trace, "--run_id", run_id(args),
                              "--cold_only", int(cold_only), "--out", out])
    if jvm.finish(RUN_TIMEOUT_S) != 0:
        raise RuntimeError("batch harness failed:\n" + jvm.tail())
    return jvm, read_json(out)


def batch_workload(args, classes, work):
    order = list(BATCH[args.workload])
    random.Random(args.seed).shuffle(order)
    jvm, res = run_batch(args, classes, work, CORES, order)
    expected = read_json(os.path.join(HERE, "expected.json"))
    passes = [res["cold"]] + ([res["warmup"]] if res["warmup"] else []) + res["warm"]
    attempted = failed = 0
    problems = []
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            want = expected.get(q["name"])
            got = {"rows": q["rows"], "hash": q["hash"]}
            if q["error"] or want != got:
                failed += 1
                problems.append(f"{p['label']}/{q['name']}: " +
                                (q["error"] or f"digest {got} != recorded {want}"))
    warm = [p for p in res["warm"] if p["traced"] == (args.trace == 1)]
    # each query's latency is its median over the warm passes
    lat = [statistics.median(p["queries"][i]["call_ms"] + p["queries"][i]["plan_ms"] +
                             p["queries"][i]["action_ms"] for p in warm)
           for i in range(len(order))]
    rows_per_pass = sum(q["rows"] for q in warm[0]["queries"])
    e2e = {
        "latency_p50_ms": stream.pct(lat, 50),
        "throughput_rows_per_s": rows_per_pass / statistics.median(p["wall_s"] for p in warm),
        "wall_s": statistics.median(p["wall_s"] for p in warm),
        "cold_wall_s": res["cold"]["wall_s"],
        "setup_s": jvm.setup_s,
    }
    info = {"warm_passes": len(warm), "latency_samples": len(lat), "order": ",".join(order),
            "pass_walls_s": " ".join(f"{p['wall_s']:.3f}" for p in passes)}
    per_layer = {"latency_p99_ms": stream.pct(lat, 99),
                 "live_heap_peak_mb": res["live_heap_peak_mb"]}
    if args.trace == 1:
        per_layer.update(batch_layers(res, warm, cores=CORES))
        untraced = [p["wall_s"] for p in res["warm"] if not p["traced"]]
        info["tracing_overhead"] = f"{e2e['wall_s'] / statistics.median(untraced) - 1:+.1%}"
        w1 = os.path.join(work, "local1")
        _, one = run_batch(args, classes, w1, 1, order, cold_only=True)
        per_layer["exec.parallel_speedup"] = one["cold"]["wall_s"] / res["cold"]["wall_s"]
    return e2e, per_layer, attempted, failed, problems, info


def batch_layers(res, warm, cores):
    phases = res["phases"]
    n = len(warm)
    labels = {p["label"] for p in warm}
    topk = {q["name"] for q in warm[0]["queries"] if q["shape"].get("topk_aggs", 0) > 0}

    def total(key, keep=lambda label, name, layer: True, agg=sum):
        vals = [v[key] for k, v in phases.items()
                for label, name, layer in [k.split("\t")] if label in labels and
                keep(label, name, layer)]
        return agg(vals) if vals else 0

    def per_pass(key, **kw):
        return total(key, **kw) / n

    def shape(k):
        return sum(q["shape"].get(k, 0) for q in warm[0]["queries"])

    task_ms = per_pass("task_ms")
    wall_ms = statistics.mean(p["wall_s"] for p in warm) * 1000
    return {
        "operators.call_ms": statistics.mean(sum(q["call_ms"] for q in p["queries"]) for p in warm),
        "operators.eager_jobs": per_pass("jobs", keep=lambda l, q, layer: layer == "call"),
        "plans.plan_ms": statistics.mean(sum(q["plan_ms"] for q in p["queries"]) for p in warm),
        "exec.action_ms": statistics.mean(sum(q["action_ms"] for q in p["queries"]) for p in warm),
        "plans.exchanges": shape("exchanges"), "plans.sorts": shape("sorts"),
        "plans.windows": shape("windows"), "plans.asof_execs": shape("asof_execs"),
        "exec.jobs": per_pass("jobs"), "exec.stages": per_pass("stages"),
        "exec.tasks": per_pass("tasks"), "exec.task_ms": task_ms,
        "exec.task_cpu_ms": per_pass("task_cpu_ms"),
        "exec.utilization": task_ms / (wall_ms * cores),
        "exec.shuffle_write_bytes": per_pass("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": per_pass("shuffle_read_bytes"),
        "exec.spill_bytes": per_pass("spill_bytes"),
        "exec.peak_exec_memory_bytes": total("peak_exec_memory_bytes", agg=max),
        "exec.gc_ms": res["gc_ms_run"],
        "functions.topk_task_ms": per_pass("task_ms", keep=lambda l, q, layer: q in topk),
        "functions.topk_queries": len(topk),
    }


# ----------------------------------------------------------------- stream

def run_stream(args, classes, work, cores, steady_s, overload_s):
    plan = stream.Plan(args.workload, args.seed, steady_s, overload_s)
    dirs = {k: os.path.join(work, k) for k in ("in", "sink", "ckpt")}
    os.makedirs(dirs["in"])
    out = os.path.join(work, "out.json")
    jvm = Jvm(classes, work, ["--mode", "stream", "--workload", args.workload,
                              "--cores", cores, "--trace", args.trace,
                              "--run_id", run_id(args), "--out", out] +
              [a for k, v in dirs.items() for a in ("--" + k, v)], stdin=True)
    try:
        gen = stream.generate(plan, dirs["in"], dirs["ckpt"], log)
    finally:
        code = jvm.finish(60)
    if code != 0:
        raise RuntimeError("stream harness failed:\n" + jvm.tail())
    res = read_json(out)
    return plan, gen, jvm, res, dirs


def stream_workload(args, classes, work):
    plan, gen, jvm, res, dirs = run_stream(args, classes, work, CORES,
                                           args.seconds / 2, args.seconds / 2)
    e2e, per_layer, checks, info = stream.analyse(plan, gen, dirs["ckpt"], dirs["sink"],
                                                  res["progress"])
    e2e["setup_s"] = jvm.setup_s
    per_layer["latency_p99_ms"] = e2e.pop("latency_p99_ms")
    per_layer["live_heap_peak_mb"] = res["live_heap_peak_mb"]
    checks["generator_drained"] = (gen["drained"], "every written file committed")
    checks["query_alive"] = (res["exception"] is None, str(res["exception"]))
    problems = [f"{k}: {msg}" for k, (ok, msg) in checks.items() if not ok]
    attempted = info["triggers"] + len(checks)
    failed = len(problems)
    if args.trace == 1:
        per_layer.update(stream_exec_layers(res))
        w1 = os.path.join(work, "local1")
        # the overload phase alone on one core: warm-up, then one measured burst
        p1, g1, _, r1, d1 = run_stream(args, classes, w1, 1, 0, 0)
        one = stream.analyse(p1, g1, d1["ckpt"], d1["sink"], r1["progress"])[0]
        per_layer["exec.parallel_speedup"] = (e2e["throughput_rows_per_s"] /
                                              one["throughput_rows_per_s"])
    return e2e, per_layer, attempted, failed, problems, info


def stream_exec_layers(res):
    s = res["phases"].get("stream", {})
    return {
        "exec.jobs": s.get("jobs", 0), "exec.stages": s.get("stages", 0),
        "exec.tasks": s.get("tasks", 0), "exec.task_ms": s.get("task_ms", 0),
        "exec.task_cpu_ms": s.get("task_cpu_ms", 0),
        "exec.shuffle_write_bytes": s.get("shuffle_write_bytes", 0),
        "exec.shuffle_read_bytes": s.get("shuffle_read_bytes", 0),
        "exec.spill_bytes": s.get("spill_bytes", 0),
        "exec.peak_exec_memory_bytes": s.get("peak_exec_memory_bytes", 0),
        "exec.gc_ms": res["gc_ms_run"],
    }


# ------------------------------------------------------------------- main

def run_id(args):
    return f"{args.workload}-s{args.seed}-t{args.trace}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(list(BATCH) + list(STREAMS)))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    classes = build.build(root, log)
    work = os.path.join(root, build.BUILD_DIR, "runs", run_id(args))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runner = stream_workload if args.workload in STREAMS else batch_workload
    e2e, per_layer, attempted, failed, problems, info = runner(args, classes, work)
    for k, v in e2e.items():
        if not math.isfinite(v):
            problems.append(f"{k}: not measured")
            failed += 1
            e2e[k] = 0.0
    per_layer["error_rate"] = failed / attempted
    if args.trace == 1:
        traces = os.path.join(root, build.BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = read_json(os.path.join(work, "out.json"))["spans"]
        with open(os.path.join(traces, run_id(args) + ".json"), "w") as f:
            json.dump(spans, f)
        info["spans"] = len(spans)
    shutil.rmtree(work, ignore_errors=True)
    for k, v in sorted(info.items()):
        print(f"# {k}: {v}")
    for p in problems[:20]:
        print(f"# FAILED {p}")
    wanted = PER_LAYER if args.trace == 1 else END_TO_END
    values = per_layer if args.trace == 1 else e2e
    units = dict(END_TO_END + PER_LAYER)
    for k, v in list(e2e.items()) + list(per_layer.items()):
        print(f"{k:40s} {v:16.6g} {units[k]}")
    # a layer a workload does not use reads 0, and so does one it could not measure
    metrics = {k: {"value": float(values.get(k, 0)) if math.isfinite(values.get(k, 0)) else 0.0,
                   "unit": u} for k, u in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
