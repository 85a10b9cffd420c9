"""The benchmark's workloads. Each one prepares its inputs, warms up,
yields the operations of one pass, and checks its outputs afterwards.

- ``vector_arrow``: registry queries that cross the Arrow/Python
  boundary (``mapInPandas``, one ``applyInPandas`` cogroup) or
  evaluate interpreted higher-order functions (the cosine and IVF
  distances), on the committed sf0.01 fixture, noop sink. The seed
  permutes the query order of each pass; the program sees only the
  fixture path.
- ``daily_etl``: the reference's daily job over a world generated from
  the seed (see ``daily_etl.py``); one operation is one trading day.
"""

from __future__ import annotations

import os
import random

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")

VECTOR_ARROW = [
    "q28_ann_cosine_topk",       # interpreted HOF distance (ArrayAggregate/ZipWith)
    "q53_ann_ivf_topk",          # interpreted IVF distance
    "q68_ema",                   # mapInPandas per-partition numpy scan
    "q193_pq_codes",             # PQ assignment: applyInPandas cogroup
    "q394_gif_lzw_decode",       # mapInPandas codec, Python-bound
    "q35_multimodal_decode",     # mapInPandas codec
    "q301_pixel_decode",         # mapInPandas codec
]


class VectorArrow:
    """Registry queries; one operation is one query forced with the noop sink."""

    name = "vector_arrow"
    # a steal burst can hit a single pass: the median of three excludes it
    min_passes = 3

    def __init__(self, spark, tracer, run_dir: str, seed: int):
        from stock_data_pipeline_spark.queries._p1_parity_corpus import REGISTRY

        self.spark, self.tracer = spark, tracer
        self.queries = {q: REGISTRY[q].fn for q in VECTOR_ARROW}
        self.rng = random.Random(seed)
        self.check_cpu_s = 0.0

    def warm_up(self) -> list[str]:
        """One pass that collects every query's rows, instead of
        discarding them, and compares them with the signature pinned
        from the DuckDB oracle (``pinned.py``), then one pass as measured.
        Returns the queries that did not match. The driver CPU of
        collecting and hashing the rows is the check's, not the engine's:
        it is added to ``check_cpu_s``.

        The second pass is there because the first noop pass after the
        checked one used 15-40 % more CPU than the passes after it (the
        JIT compiling the noop plans' code)."""
        import pinned

        want = pinned.load()
        failures = []
        for q, fn in self.queries.items():
            try:
                df = fn(self.spark, FIXTURE)
                t0 = os.times()
                got = pinned.signature(df.columns, [tuple(r) for r in df.collect()])
                t1 = os.times()
                self.check_cpu_s += (t1.user + t1.system) - (t0.user + t0.system)
            except Exception as exc:  # a crash is a failed check, not a dead run
                got = f"ERROR {type(exc).__name__}: {exc}"[:300]
            if got != want.get(q):
                failures.append(f"{q}: got {got}, pinned {want.get(q)}")
        for label, op in self.pass_ops():
            try:
                op()
            except Exception as exc:
                failures.append(f"{label}: warm-up pass {type(exc).__name__}: {exc}"[:300])
        return failures

    def pass_ops(self) -> list[tuple[str, callable]]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return [(q, lambda q=q: self._run(q)) for q in order]

    def _run(self, q: str) -> None:
        t = self.tracer
        with t.span("queries.build"):
            df = self.queries[q](self.spark, FIXTURE)
        if t.enabled:
            with t.span("queries.plan"):
                df._jdf.queryExecution().executedPlan()
        with t.span("exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self) -> list[str]:
        return []  # checked in warm_up: the noop passes return no rows

    def fingerprints(self) -> dict[str, dict[str, int]]:
        """Plan fingerprint of every query, from a run of the query's own
        plan (the noop write plans a separate command)."""
        import plan

        out = {}
        jvm = self.spark.sparkContext._jvm
        for q, fn in self.queries.items():
            qe = fn(self.spark, FIXTURE)._jdf.queryExecution()
            qe.toRdd().count()
            out[q] = plan.fingerprint(qe.executedPlan(), jvm)
        return out

    def counters(self) -> dict[str, float]:
        return {}


class DailyEtlWorkload:
    """One pass is two trading days; the second ends with a compaction."""

    name = "daily_etl"
    min_passes = 1

    def __init__(self, spark, tracer, run_dir: str, seed: int):
        from daily_etl import DailyEtl

        self.etl = DailyEtl(spark, os.path.join(run_dir, "etl"), seed, tracer.span)
        self.check_cpu_s = 0.0

    def warm_up(self) -> list[str]:
        # one day: a whole pass as warm-up made the measured days no
        # steadier and the run 20 s longer
        self.etl.run_day()
        return []

    def pass_ops(self) -> list[tuple[str, callable]]:
        def day_and_compact():
            self.etl.run_day()
            self.etl.compact()

        return [("day", self.etl.run_day), ("day+compact", day_and_compact)]

    def check(self) -> list[str]:
        return self.etl.check()

    def fingerprints(self) -> dict[str, dict[str, int]]:
        return {}

    def counters(self) -> dict[str, float]:
        e = self.etl
        return {
            "io.bytes_written_mb": e.bytes_written / 2**20,
            "io.files_written": e.files_written,
            "io.state_files": e.state_files_read,
            "input_mb": e.input_bytes / 2**20,
        }


WORKLOADS = {w.name: w for w in (VectorArrow, DailyEtlWorkload)}
