#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as a JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source when they changed, runs
the workload's closed loop in one JVM at local[nproc], checks every
operation's output (DuckDB oracle, reference digests, LIME invariants) and
prints the metrics. Exits nonzero, without a result line, when it cannot
run, and with a result line but nonzero when any check failed.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from harness import build, jvm, oracle, spans, stats  # noqa: E402

WORKLOADS = ("lime_batch", "curation", "sql_mix", "scale_rounds")
OUT = ".bench_build/perfbench"
JVM_TIMEOUT_S = 170


def run_jvm(classpath, args, work, raw, deadline):
    cmd = jvm.command(classpath, work, "graft.perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores()), "--work", work, "--out", raw])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: benchmark JVM timed out")
    if code != 0 or not os.path.exists(raw):
        raise SystemExit(f"perfbench: benchmark JVM exited with code {code}")
    with open(raw) as fh:
        return json.load(fh)


def cores():
    return len(os.sched_getaffinity(0))


def verdicts(r, data_dir):
    """Marks every operation failed whose output check failed, including
    the oracle comparison of the references; returns run-level errors."""
    errors = []
    con = None
    names = {op["name"] for op in r["ops"]}
    for ref in r["refs"]:
        if ref["oracle"] is None:
            continue
        con = con or oracle.connect(data_dir)
        why = oracle.check(con, ref["path"], ref["oracle"])
        if why is None:
            continue
        errors.append(f"oracle {ref['name']}: {why}")
        for op in r["ops"] + r.get("traced_ops", []):
            if op["name"] == ref["name"] or ref["name"] not in names:
                op["error"] = op["error"] or "WrongOutput"
                op["detail"] = op["detail"] or f"{ref['name']} differs from the oracle"
    if len(set(r["input_digests"])) != 1:
        errors.append("set-up repetitions generated different inputs: "
                      + ", ".join(r["input_digests"]))
    errors += r["finish_errors"]
    return errors


def latencies(ops):
    return [math.inf if op["error"] else op["latency_s"] for op in ops]


def end_to_end(r):
    ops = r["ops"]
    lat = latencies(ops)
    p, tail = stats.tail(lat)
    n = len(ops)
    wall = sum(op["latency_s"] for op in ops)
    print(f"perfbench: op_tail_s is p{p:g} of {n} operations "
          f"({stats.beyond(n, p)} beyond it); throughput counts {r['unit']}")
    m = {
        "setup_s": (statistics.median(r["input_s"]) + r["warmup_s"], "s"),
        "op_p50_s": (stats.percentile(lat, 50), "s"),
        "op_tail_s": (tail, "s"),
        # work units: instances (lime_batch), operator runs (scale_rounds),
        # documents (curation), queries (sql_mix)
        "throughput": (sum(op["units"] for op in ops) / wall, "units/s"),
        "cpu_s_per_op": (r["cpu_s"] / n, "s"),
        "peak_heap_mb": (r["peak_heap_mb"], "MB"),
    }
    return m


SQL_QUERIES = ("q_tpch_q3", "q_tpch_q5", "q_tpch_q9", "q_tpch_q13", "q_tpch_q18", "q_tpch_q21",
               "q_ev_session", "q_ev_funnel", "q_ev_retention", "q_join_asof",
               "q_win_ntile_pctrank")
# Layer metrics by workload family: every traced run reports the lime and
# scale layers (those of BENCHMARK.json); curation and sql_mix add theirs.
LAYER_METRICS = {
    "lime": [("lime.stats_s", "s"), ("lime.perturb_s", "s"), ("lime.score_s", "s"), ("lime.fit_topk_s", "s"),
             ("lime.splime_s", "s"), ("lime.perturbed_rows", "count"),
             ("lime.rows_per_s", "1/s")],
    "scale": [("scale.pagerank_s", "s"), ("scale.splime_s", "s"), ("scale.mmr_s", "s"),
              ("scale.rank_s", "s")],
    "curation": [("llm.text_pairs_s", "s"), ("llm.embed_pairs_s", "s"), ("llm.apply_s", "s"),
                 ("llm.multimodal_s", "s"), ("llm.mix_s", "s"), ("llm.text_pairs", "count"),
                 ("llm.embed_pairs", "count")],
    "sql_mix": [("sql.plan_s", "s"), ("sql.exec_s", "s")] + [(f"sql.{q}_s", "s")
                                                             for q in SQL_QUERIES],
}


def per_layer(r):
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    e = r["exec"]
    n = e["ops"]
    m = {
        "exec.jobs": (e["jobs"] / n, "count/op"),
        "exec.stages": (e["stages"] / n, "count/op"),
        "exec.tasks": (e["tasks"] / n, "count/op"),
        "exec.executor_run_s": (e["executor_run_s"] / n, "s/op"),
        "exec.core_util": (e["executor_run_s"] / (e["wall_s"] * r["cores"]), "ratio"),
        "exec.driver_idle_s": (e["driver_idle_s"] / n, "s/op"),
        "exec.shuffle_write_bytes": (e["shuffle_write_bytes"] / n, "B/op"),
        "exec.shuffle_read_bytes": (e["shuffle_read_bytes"] / n, "B/op"),
        "exec.spill_bytes": (e["spill_bytes"] / n, "B/op"),
        "exec.gc_s": (e["gc_s"] / n, "s/op"),
        "exec.peak_exec_mem_bytes": (e["peak_exec_mem_bytes"], "B"),
    }
    layer = r["layer"]
    for name, unit in (LAYER_METRICS["lime"] + LAYER_METRICS["scale"]
                       + LAYER_METRICS.get(r["workload"], [])):
        m[name] = (layer.get(name, 0.0), unit)
    m["scale.jobs_per_op"] = (e["scale_jobs"] / e["scale_ops"] if e["scale_ops"] else 0.0,
                              "count/op")
    m["trace.overhead"] = (stats.percentile(latencies(r["traced_ops"]), 50)
                           / stats.percentile(latencies(r["ops"]), 50), "ratio")
    return m


def write_trace(r, path):
    out = spans.self_times(r["spans"])
    with open(path, "w") as fh:
        json.dump({"workload": r["workload"], "seed": r["seed"], "spans": out}, fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + JVM_TIMEOUT_S
    root = os.getcwd()
    out = os.path.join(root, OUT)
    os.makedirs(out, exist_ok=True)
    t0 = time.monotonic()
    classpath = build.ensure(root, out)
    t_build = time.monotonic() - t0
    deadline = max(deadline, time.monotonic() + JVM_TIMEOUT_S - 20)
    work = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        r = run_jvm(classpath, args, work, os.path.join(work, "raw.json"), deadline)
        t_jvm = time.monotonic() - t0
        t0 = time.monotonic()
        errors = verdicts(r, os.path.join(work, "data"))
        print(f"perfbench: build {t_build:.1f} s, benchmark JVM {t_jvm:.1f} s, "
              f"oracle checks {time.monotonic() - t0:.1f} s", file=sys.stderr)
        metrics = per_layer(r) if args.trace else end_to_end(r)
        if args.trace:
            os.makedirs(os.path.join(out, "traces"), exist_ok=True)
            write_trace(r, os.path.join(out, "traces", f"{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = r["ops"] + r.get("traced_ops", [])
    failed = [op for op in ops if op["error"]]
    for op in failed[:5]:
        print(f"perfbench: op {op['i']} {op['name']} failed: {op['error']}: {op['detail']}")
    for e in errors:
        print(f"perfbench: {e}")
    print(f"perfbench: inputs {json.dumps(r['input_sizes'], sort_keys=True)} "
          f"digest {r['input_digests'][0][:16]}")
    correct = not failed and not errors
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
