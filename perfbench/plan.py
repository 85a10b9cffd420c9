"""Structural fingerprint of one executed physical plan.

Counts come from a walk of the plan tree (including subqueries and the
plan inside ``AdaptiveSparkPlan``) and of every node's expressions:

- ``exchanges``: shuffle and broadcast exchanges;
- ``codegen_stages``: whole-stage-codegen units;
- ``python_nodes``: every physical node of Spark's
  ``org.apache.spark.sql.execution.python`` package — ``MapInPandas``,
  ``(Python)MapInArrow``, ``FlatMapGroupsInPandas``/``InArrow``,
  ``FlatMapCoGroupsInPandas``/``InArrow``, ``ArrowEvalPython``,
  ``BatchEvalPython``, ``FlatMapGroupsInPandasWithState`` and the rest —
  so a new kind of Python boundary cannot be missed by a name list;
- ``hof_exprs``: interpreted higher-order functions (lambda-taking
  array/map expressions such as ``ArrayAggregate``, ``ArrayTransform``,
  ``ZipWith``, ``ArrayFilter``), which Spark evaluates without codegen.

Two runs with equal fingerprints and different times differ by load;
a changed fingerprint means the plan changed.
"""

from __future__ import annotations

PYTHON_PACKAGE = "org.apache.spark.sql.execution.python."
HOF_CLASSES = frozenset(
    {
        "ArrayAggregate",
        "ArrayTransform",
        "ZipWith",
        "ArrayFilter",
        "ArrayExists",
        "ArrayForAll",
        "ArraySort",
        "MapFilter",
        "MapZipWith",
        "TransformKeys",
        "TransformValues",
    }
)
KEYS = ("exchanges", "codegen_stages", "python_nodes", "hof_exprs")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _count_hofs(expr) -> int:
    n = 1 if expr.getClass().getSimpleName() in HOF_CLASSES else 0
    return n + sum(_count_hofs(c) for c in _seq(expr.children()))


def fingerprint(jplan, jvm) -> dict[str, int]:
    """Fingerprint of a JVM ``SparkPlan`` (``df._jdf.queryExecution().executedPlan()``)
    after the query ran, so that adaptive execution has fixed its plan."""
    counts = dict.fromkeys(KEYS, 0)
    stack = [jplan]
    cached: set[int] = set()
    while stack:
        node = stack.pop()
        name = node.nodeName()
        cls = node.getClass()
        # leaves that wrap the plan that really runs
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if cls.getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "InMemoryTableScan":
            # a cached relation is computed once, however often it is scanned
            inner = node.relation().cachedPlan()
            key = jvm.System.identityHashCode(inner)
            if key not in cached:
                cached.add(key)
                stack.append(inner)
        if name in ("Exchange", "BroadcastExchange"):
            counts["exchanges"] += 1
        elif name.startswith("WholeStageCodegen"):
            counts["codegen_stages"] += 1
        if cls.getName().startswith(PYTHON_PACKAGE):
            counts["python_nodes"] += 1
        counts["hof_exprs"] += sum(_count_hofs(e) for e in _seq(node.expressions()))
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return counts
