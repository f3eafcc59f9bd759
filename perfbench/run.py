#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness into `.bench_build/` (see harness/build.py). Each run starts one JVM
with Spark in local mode on half of the `nproc` cores, runs the workload,
checks its outputs outside the timed region, and prints
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The full record (host
shape, inputs, samples, per-layer figures, spans' self time per layer and
the tracing overhead) goes to
`.bench_build/runs/<workload>-s<seed>-t<trace>/report.json`.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "harness"))

import stats  # noqa: E402

# `ingest` and `dashboard` are the workloads BENCHMARK.json names; `batch`
# and `live` run the same way but take too long to repeat in its time budget.
WORKLOADS = ("ingest", "dashboard", "batch", "live")

END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "footprint_mb": "MB",
}

PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.input_mb": "MB",
    "spark.input_rows": "count",
    "spark.busy_frac": "fraction",
    "op.count": "count",
    "op.plan_s": "s",
    "op.exec_s": "s",
    "op.exchanges": "count",
    "trace.spans": "count",
}

# An ingest run whose generator dropped a file later than this after its
# scheduled time did not offer the stated load; it is not reported.
MAX_GENERATOR_LAG_S = 0.5

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """The host's aggregate CPU tick counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def end_to_end(r):
    return {
        "setup_s": stats.median(r["setup_s"]),
        "op_cpu_ms": r["op_cpu_ms"],
        "footprint_mb": r["footprint_mb"],
    }


def per_layer(r, spans):
    sub = r["substrate"]
    ops = r["ops_detail"]
    out = {f"spark.{k}": sub[k] for k in (
        "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
        "shuffle_write_mb", "shuffle_read_mb", "input_mb", "input_rows")}
    out["spark.busy_frac"] = sub["task_s"] / (r["cores"] * r["measured_s"])
    out["op.count"] = len(ops)
    for k in ("plan_s", "exec_s", "exchanges"):
        out[f"op.{k}"] = sum(o[k] for o in ops) / len(ops)
    out["trace.spans"] = len(spans)
    return out


def summarize(r, oracle, trace, spans):
    """The result line and the report for one run. `r` is the JVM's
    result.json, `oracle` maps each query checked by DuckDB to None or the
    reason it differs."""
    mismatches = list(r["mismatches"]) + [f"{q}: {why}" for q, why in sorted(oracle.items()) if why]
    checked = r["checked"] + len(oracle)
    failed = r["failed"] + sum(1 for why in oracle.values() if why)
    correct, reason = stats.verdict(r["attempted"], checked, mismatches)
    e2e = end_to_end(r) if r["setup_s"] and r["op_cpu_ms"] > 0 else {}
    layers = per_layer(r, spans) if trace and r["ops_detail"] else {}
    wanted, values = (PER_LAYER, layers) if trace else (END_TO_END, e2e)
    metrics = {k: {"value": values[k], "unit": u} for k, u in wanted.items() if k in values}
    if len(metrics) != len(wanted):
        correct, reason = False, reason if not correct else "metrics missing"
    line = {"correct": correct, "attempted": r["attempted"], "failed": failed, "metrics": metrics}
    report = {"verdict": reason, "checked": checked, "mismatches": mismatches,
              "end_to_end": e2e, "per_layer": layers}
    return line, report


def run_jvm(args, build, classes, out, cores, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-XX:ParallelGCThreads={cores}", "-XX:ConcGCThreads=1",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "harness", "log4j2.properties")]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
           + ["-cp", classes + os.pathsep + jars, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--data", os.path.join(HERE, "data"), "--out", out])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=out)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("the workload did not finish in time")
    if proc.returncode != 0:
        raise RuntimeError(f"the workload JVM exited with code {proc.returncode}")


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import build
    try:
        classes = build.build()
    except Exception as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + 170
    runs = os.path.join(build.BUILD, "runs")
    out = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    nproc = len(os.sched_getaffinity(0))
    # half the cores for Spark's tasks; the rest serve the JIT compiler, the
    # collector and the driver, so the host's scheduler is not measured
    cores = max(1, nproc // 2)
    load_before, ticks_before = loadavg(), cpu_ticks()
    try:
        run_jvm(args, build, classes, out, cores, deadline - 20)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 2
    load_after = loadavg()
    ticks = [a - b for a, b in zip(cpu_ticks(), ticks_before)]
    with open(os.path.join(out, "result.json")) as f:
        r = json.load(f)
    oracle = {}
    if r["oracle"]:
        import oracle as oracle_check
        oracle = oracle_check.check(r["oracle"], r["oracle_tables"])
    spans = []
    spans_path = os.path.join(out, "spans.jsonl")
    if os.path.exists(spans_path):
        with open(spans_path) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    line, report = summarize(r, oracle, args.trace, spans)

    report.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "cores": cores,
        "load_avg_1m": {"before": load_before, "after": load_after},
        # CPU time the hypervisor gave to other guests while this run wanted it
        "steal_share": ticks[7] / max(1, sum(ticks)),
        "ops_per_s": r["ops_per_s"], "info": r["info"],
        "attempted": r["attempted"], "failed": line["failed"],
        "errors": r["errors"], "oracle": oracle, "layers": r["layers"], "substrate": r["substrate"],
        "latency_percentiles_s": {q: stats.percentile([tuple(x) for x in r["latency"]], q)
                                  for q in (50, 75, 90, 99)} if r["latency"] else {},
        "samples": {"setup_s": r["setup_s"], "latency": len(r["latency"]),
                    "cpu": {k: len(v) for k, v in r["cpu_samples"].items()},
                    "ops_detail": len(r["ops_detail"])},
    })
    if args.trace:
        report["self_s"] = stats.self_times(spans)
        # against the untraced run of the same seed, else the latest one
        same = os.path.join(runs, f"{args.workload}-s{args.seed}-t0", "report.json")
        others = glob.glob(os.path.join(runs, f"{args.workload}-s*-t0", "report.json"))
        untraced = same if os.path.exists(same) else max(others, key=os.path.getmtime, default=None)
        if untraced and report["end_to_end"]:
            with open(untraced) as f:
                base = json.load(f)
            report["trace_overhead"] = {"untraced_seed": base["seed"], **{
                k: v / base["end_to_end"][k] - 1 for k, v in report["end_to_end"].items()
                if base["end_to_end"].get(k)}}
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({k: report.get(k) for k in (
        "workload", "seed", "nproc", "load_avg_1m", "steal_share", "info", "verdict", "checked",
        "mismatches", "errors", "trace_overhead")}), file=sys.stderr)

    lag = r["info"].get("gen_lag_max_s", 0.0)
    if lag > MAX_GENERATOR_LAG_S:
        print(f"invalid run: the generator fell {lag:.3f} s behind its schedule", file=sys.stderr)
        return 3
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
