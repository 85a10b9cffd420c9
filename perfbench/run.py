#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload vector_arrow --seed 1 --seconds 10 --trace 0

One closed-loop client drives one workload against ``local[nproc]``:
set-up (session, inputs, a warm-up pass), then whole passes over the
workload's operations until ``--seconds`` have passed, then the
correctness check. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; an earlier line holds
the full record (environment, every pass, plan fingerprints).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run that reports per-layer metrics: it alternates traced and
untraced passes, records spans around every call into the engine's
modules, logs Spark events, and attributes them to the spans. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from procstat import TICK, ProcessTree, descendants, steal_s  # noqa: E402
from stats import percentile  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import FIXTURE, WORKLOADS  # noqa: E402

ENGINE = "stock_data_pipeline_spark"
BASELINE_PLANS = os.path.join(HERE, "plans.json")
DRIVER_MEMORY = "4g"  # the data are small; keeps the JVM's footprint small too
# C1 only: with C2 the JIT was still compiling after five passes and
# its background compilation was a third of a pass's CPU, so a run of
# about a minute measured mostly compilation (see README.md). C1 alone
# gets the 48 MB code cache of a non-tiered JVM, which daily_etl's
# generated code filled ("CodeCache is full. Compiler has been
# disabled."); 240 MB is the tiered default.
JIT = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's record."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(") ", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / TICK


AGE_AT_T0 = process_age_s()


def tree_sha256(path: str, suffix: str) -> str:
    h = hashlib.sha256()
    for root, dirs, names in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(names):
            if name.endswith(suffix):
                p = os.path.join(root, name)
                h.update(os.path.relpath(p, path).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def prepare_environment(work: str) -> None:
    """Environment the JVM and the Python workers inherit: the engine on
    the workers' import path wherever the command runs from, and every
    scratch file inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the launcher's included: no perf-data file, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY


def start_session(app: str, cpus: int, event_dir: str | None):
    from stock_data_pipeline_spark.session import ensure_engine_confs, get_session

    confs = {
        # the carriage-return progress bars swallow stdout lines
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": JIT,
    }
    if event_dir:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return ensure_engine_confs(get_session(app, cpus=cpus, extra_confs=confs))


def stop_session(spark, jvm_pid: int) -> None:
    """Stop Spark, then the JVM (it exits when its stdin closes), then
    wait for every process it left behind."""
    from pyspark import SparkContext

    leftovers = descendants(jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 30
    for pid in [jvm_pid, *leftovers]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def run_passes(workload, tracer, tree, seconds: float, traced: bool) -> tuple[list[dict], list[dict]]:
    """Whole passes until ``seconds`` have passed and the workload's
    ``min_passes`` are done. A traced run alternates traced and untraced
    passes and makes at least one of each."""
    passes, ops = [], []
    begin = time.perf_counter()
    while True:
        index = len(passes)
        tracer.enabled = traced and index % 2 == 0
        steal0, cpu0, epoch0, t0 = steal_s(), tree.cpu(), time.time(), time.perf_counter()
        with tracer.span("pass", index=index) as pass_span:
            for label, fn in workload.pass_ops():
                start = time.perf_counter()
                ok = True
                try:
                    with tracer.span("op", what=label):
                        fn()
                except Exception:
                    traceback.print_exc()
                    ok = False
                ops.append({"pass": index, "op": label, "s": time.perf_counter() - start, "ok": ok})
        wall = time.perf_counter() - t0
        cpu = tree.cpu() - cpu0
        passes.append(
            {
                "index": index,
                "traced": tracer.enabled,
                "span": pass_span.id if pass_span else None,
                "epoch": [epoch0, time.time()],
                "wall_s": wall,
                "cpu_s": cpu.total,
                "jvm_cpu_s": cpu.jvm,
                "jit_cpu_s": cpu.jit,
                "python_cpu_s": cpu.python_workers,
                "driver_cpu_s": cpu.driver,
                "steal_s": steal_s() - steal0,
                "loadavg_1m": os.getloadavg()[0],
                "counters": workload.counters(),
            }
        )
        enough = time.perf_counter() - begin >= seconds
        if enough and len(passes) >= max(workload.min_passes, 2 if traced else 1):
            break
    tracer.enabled = False
    return passes, ops


def fingerprint_diff(fingerprints: dict) -> dict:
    """{query: {counter: [baseline, now]}} for every counter that moved
    against the committed baseline; empty when every plan is unchanged."""
    with open(BASELINE_PLANS) as f:
        baseline = json.load(f)
    diff = {}
    for q, counts in fingerprints.items():
        moved = {k: [baseline.get(q, {}).get(k), v] for k, v in counts.items() if baseline.get(q, {}).get(k) != v}
        if moved:
            diff[q] = moved
    return diff


def end_to_end(setup_cpu_s: float, passes: list[dict]) -> dict:
    """The gated metrics: process-tree CPU, which hypervisor steal
    leaves nearly alone (see README.md for the wall-time figures)."""
    return {
        "setup_s": (setup_cpu_s, "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
    }


def latency(setup_wall_s: float, passes: list[dict], ops: list[dict]) -> dict:
    """Wall-clock figures, reported beside the gated metrics."""
    return {
        "setup_wall_s": setup_wall_s,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(o["s"] for o in ops),
        "op_p90_s": percentile([o["s"] for o in ops], 0.9),  # None: too few samples
    }


LAYER_UNITS = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "queries.plan.exchanges": "count",
    "queries.plan.codegen_stages": "count",
    "queries.plan.python_nodes": "count",
    "queries.plan.hof_exprs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_retries": "count",
    "spark.driver_gap_s": "s",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.util": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "catalog.input_mb": "MB",
    "catalog.input_rows": "count",
    "python.worker_cpu_s": "s",
    "python.share": "ratio",
    "jvm.cpu_s": "s",
    "jvm.jit_cpu_s": "s",
    "driver.cpu_s": "s",
    "pipeline.build_s": "s",
    "io.overwrite_partitions_s": "s",
    "io.publish_version_s": "s",
    "io.write_csv_export_s": "s",
    "io.compact_s": "s",
    "io.bytes_written_mb": "MB",
    "io.files_written": "count",
    "io.state_files": "count",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
SPAN_LAYERS = {
    "queries.build": "queries.build_s",
    "queries.plan": "queries.plan_s",
    "pipeline.run_daily_pipeline": "pipeline.build_s",
    "io.overwrite_partitions": "io.overwrite_partitions_s",
    "io.publish_version": "io.publish_version_s",
    "io.write_csv_export": "io.write_csv_export_s",
    "io.compact_parquet_table": "io.compact_s",
}
EVENT_LAYERS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.task_retries": "task_retries",
    "exec.cpu_s": "cpu_s",
    "exec.run_s": "run_s",
    "exec.gc_s": "gc_s",
    "shuffle.write_mb": "shuffle_write_mb",
    "shuffle.read_mb": "shuffle_read_mb",
    "shuffle.fetch_wait_s": "fetch_wait_s",
    "shuffle.spill_mb": "spill_mb",
    "catalog.input_mb": "input_mb",
    "catalog.input_rows": "input_rows",
}


def per_layer(tracer, passes, groups, fingerprints, nproc, prev_counters) -> dict:
    """Per-layer figures of one traced pass, median over traced passes."""
    from eventlog import covered_s

    rows = []
    for p in passes:
        if not p["traced"]:
            continue
        row = dict.fromkeys(LAYER_UNITS, 0.0)
        op_spans = [s for s in tracer.spans if s.name == "op" and s.parent == p["span"]]
        for op in op_spans:
            g = groups.get(str(op.id))
            if g is not None:
                for layer, attr in EVENT_LAYERS.items():
                    row[layer] += getattr(g, attr)
                row["spark.driver_gap_s"] += op.duration - covered_s(g.job_intervals, op.start, op.end)
            else:
                row["spark.driver_gap_s"] += op.duration
            for child in tracer.children(op.id):
                if child.name in SPAN_LAYERS:
                    row[SPAN_LAYERS[child.name]] += child.duration
        for counts in fingerprints.values():
            for k, v in counts.items():
                row[f"queries.plan.{k}"] += v
        row["exec.util"] = p["cpu_s"] / (p["wall_s"] * nproc)
        row["python.worker_cpu_s"] = p["python_cpu_s"]
        row["python.share"] = p["python_cpu_s"] / p["cpu_s"]
        row["jvm.cpu_s"] = p["jvm_cpu_s"]
        row["jvm.jit_cpu_s"] = p["jit_cpu_s"]
        row["driver.cpu_s"] = p["driver_cpu_s"]
        before = prev_counters[p["index"]]
        delta = {k: v - before.get(k, 0) for k, v in p["counters"].items()}
        for k in ("io.bytes_written_mb", "io.files_written", "io.state_files"):
            row[k] = delta.get(k, 0.0)
        if delta.get("input_mb"):
            row["write_amp"] = delta["io.bytes_written_mb"] / delta["input_mb"]
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in LAYER_UNITS}
    traced = [p["wall_s"] for p in passes if p["traced"]]
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return {k: (v, LAYER_UNITS[k]) for k, v in out.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    traced = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isdir(FIXTURE):
        print(f"perfbench: {ENGINE}/ or the fixture is missing under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{os.getpid()}")
    event_dir = os.path.join(run_dir, "events") if traced else None
    os.makedirs(event_dir or run_dir)
    prepare_environment(run_dir)
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer()

    tracer.enabled = traced
    with tracer.span("setup"):
        with tracer.span("session.start") as session_span:
            spark = start_session(f"perfbench-{args.workload}", nproc, event_dir)
        tracer.sc = spark.sparkContext
        jvm_pid = int(spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid())
        tree = ProcessTree(jvm_pid)
        try:
            with tracer.span("workload.prepare"):
                workload = WORKLOADS[args.workload](spark, tracer, run_dir, args.seed)
            with tracer.span("warm_up"):
                failures = workload.warm_up()
        except Exception:
            stop_session(spark, jvm_pid)
            raise
    setup_wall_s = AGE_AT_T0 + time.perf_counter() - T0
    # the warm-up's correctness check is the benchmark's CPU, not the engine's
    setup_cpu_s = tree.cpu().total - workload.check_cpu_s
    tracer.enabled = False

    try:
        prev = workload.counters()
        passes, ops = run_passes(workload, tracer, tree, args.seconds, traced)
        failures += workload.check()
        fingerprints = workload.fingerprints() if traced else {}
        peak_rss_mb = tree.peak_rss_mb()
        java_version = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    finally:
        stop_session(spark, jvm_pid)

    import pyspark

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg": os.getloadavg(),
            "fixture_sha256": tree_sha256(FIXTURE, ".parquet"),
            "engine_sha256": tree_sha256(os.path.join(ROOT, ENGINE), ".py"),
            "git_commit": git_commit(),
            "pyspark": pyspark.__version__,
            "java": java_version,
        },
        "failures": failures,
        "check_cpu_s": workload.check_cpu_s,
        "passes": passes,
        "ops": ops,
        **latency(setup_wall_s, passes, ops),
        "fingerprints": fingerprints,
        "fingerprint_diff": fingerprint_diff(fingerprints) if traced else None,
    }
    if traced:
        from eventlog import parse_dir

        prev_counters = [prev] + [p["counters"] for p in passes[:-1]]
        metrics = per_layer(tracer, passes, parse_dir(event_dir), fingerprints, nproc, prev_counters)
        metrics["session.start_s"] = (session_span.duration, "s")
        metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
        tracer.dump(os.path.join(work, f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = end_to_end(setup_cpu_s, passes)
    record["metrics"] = metrics
    with open(os.path.join(work, f"record-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    # a failure names the operation it concerns, or else concerns them all
    labels = {o["op"] for o in ops}
    named = {f.split(":", 1)[0] for f in failures}
    fail_all = bool(named - labels)
    failed = sum(1 for o in ops if not o["ok"] or fail_all or o["op"] in named)
    correct = not failures and all(o["ok"] for o in ops)
    shown = ("env", "failures", "setup_wall_s", "wall_s", "op_p50_s", "op_p90_s", "fingerprint_diff")
    print(json.dumps({"record": {k: record[k] for k in shown}}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
