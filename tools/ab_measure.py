"""Interleaved A/B measurement harness for optimization work on a
co-tenant box.

Absolute bench numbers on this sandbox move 3-10x with neighbor load
(loadavg spikes to 10+ mid-run at byte-identical plans — see
BENCH_NOISE.json history), so before/after measured in separate runs is
noise. This harness runs VARIANTS INTERLEAVED (A,B,A,B,...) in one JVM
and reports per-variant min/median wall and process-tree CPU: drifting
load hits both variants equally, so the per-round delta is signal.
CPU is the whole tree (``perfbench.procstat.ProcessTree``): the JVM,
the PySpark daemon and workers behind every Arrow/Python boundary, and
this driver, reported as a total and split by component.

Usage: python tools/ab_measure.py <module:function> [rounds]
where function(spark, sf_dir) -> dict[str, callable] mapping variant
name -> zero-arg callable that builds-and-executes (noop sink) one
variant, e.g.::

    def variants(spark, sf_dir):
        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()
        return {"A": noop(build_a(spark, sf_dir)), "B": noop(build_b(spark, sf_dir))}
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.procstat import ProcessTree  # noqa: E402

_PARTS = ("jvm", "python_workers", "driver")


def main() -> None:
    spec = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    mod_name, fn_name = spec.split(":")
    mod = importlib.import_module(mod_name)
    build = getattr(mod, fn_name)

    from stock_data_pipeline_spark.session import ensure_engine_confs, get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = ensure_engine_confs(get_session("ab"))
    tree = ProcessTree(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getPid()
    )
    variants = build(spark, sf_dir)

    # warmup each variant once (JIT)
    for name, run in variants.items():
        run()

    results: dict[str, dict[str, list[float]]] = {
        n: {"wall": [], "cpu": [], **{p: [] for p in _PARTS}} for n in variants
    }
    for r in range(rounds):
        for name, run in variants.items():
            c0 = tree.cpu()
            t0 = time.perf_counter()
            run()
            t1 = time.perf_counter()
            d = tree.cpu() - c0
            results[name]["wall"].append(t1 - t0)
            results[name]["cpu"].append(d.total)
            for p in _PARTS:
                results[name][p].append(getattr(d, p))
        la = os.getloadavg()[0]
        line = " | ".join(
            f"{n}: wall {results[n]['wall'][-1]:6.2f} cpu {results[n]['cpu'][-1]:7.2f}"
            for n in variants
        )
        print(f"round {r}: {line}  (load {la:.1f})", flush=True)

    print("\nsummary (min / median over rounds; CPU split is median):")
    for n in variants:
        w = sorted(results[n]["wall"])
        c = sorted(results[n]["cpu"])
        split = " ".join(f"{p} {statistics.median(results[n][p]):6.2f}" for p in _PARTS)
        print(
            f"  {n:12s} wall min {w[0]:6.2f} med {w[len(w) // 2]:6.2f}"
            f" | cpu min {c[0]:7.2f} med {c[len(c) // 2]:7.2f} ({split})"
        )


if __name__ == "__main__":
    main()
