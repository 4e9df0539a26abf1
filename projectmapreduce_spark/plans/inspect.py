"""Physical-plan predicates over ``df.explain`` output.

These string-level checks are deliberately coarse — they pin the
*strategy class* (broadcast vs shuffle, pushed vs residual filter,
codegen vs interpreted), which is what survives a 100× scale-up, not
exact operator trees, which don't.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def has_cartesian(df: DataFrame) -> bool:
    s = explain_str(df)
    return "CartesianProduct" in s or "BroadcastNestedLoopJoin" in s


def has_pushed_filters(df: DataFrame) -> bool:
    s = explain_str(df)
    return "PushedFilters: [" in s and "PushedFilters: []" not in s


def has_partition_filters(df: DataFrame) -> bool:
    s = explain_str(df)
    return "PartitionFilters: [" in s and "PartitionFilters: []" not in s


def _walk_physical(node):
    """Yield every node of a physical plan tree, descending through the
    AQE wrapper (the initial plan — AQE neither adds nor removes
    Window/Sort/Join *logic*, it only re-plans exchanges, so the
    initial plan is the right place to assert operator strategy) AND
    into subquery-expression plans (a scalar/IN subquery carries its
    own physical subtree that `children()` does not reach — a
    partition-less window hiding there must still fail the gate)."""
    name = node.getClass().getSimpleName()
    yield name, node
    try:
        subs = node.subqueries()
        for i in range(subs.size()):
            yield from _walk_physical(subs.apply(i))
    except Exception:  # pragma: no cover - node without subqueries()
        pass
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_physical(node.initialPlan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _walk_physical(children.apply(i))


def physical_node_names(df: DataFrame) -> list[str]:
    """Class names of every physical-plan node (pre-execution)."""
    root = df._jdf.queryExecution().executedPlan()
    return [name for name, _ in _walk_physical(root)]


def interpreted_expressions(df: DataFrame) -> list[str]:
    """Sorted distinct class names of the expressions in the physical
    plan (pre-execution, subqueries included) that implement
    ``CodegenFallback`` — the ones whole-stage codegen cannot compile
    and evaluates interpreted, per row or, for a higher-order function
    such as ``ArrayTransform`` with its ``LambdaFunction``, per array
    element."""
    jvm = df._sc._jvm  # type: ignore[attr-defined]
    fallback = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback"
    )
    found: set[str] = set()

    def visit(expr) -> None:
        if fallback.isInstance(expr):
            found.add(expr.getClass().getSimpleName())
        children = expr.children()
        for i in range(children.size()):
            visit(children.apply(i))

    root = df._jdf.queryExecution().executedPlan()
    for _, node in _walk_physical(root):
        exprs = node.expressions()
        for i in range(exprs.size()):
            visit(exprs.apply(i))
    return sorted(found)


def has_partitionless_window(df: DataFrame) -> bool:
    """True if any WindowExec / WindowGroupLimitExec has an EMPTY
    partition spec — the single-partition exchange that moves the
    whole input to one task, the canonical 100×-scale-killer.  Checked
    on the exact JVM plan tree, not the rendered string."""
    root = df._jdf.queryExecution().executedPlan()
    for name, node in _walk_physical(root):
        if "Window" in name:
            try:
                if node.partitionSpec().isEmpty():
                    return True
            except Exception:  # pragma: no cover - node without partitionSpec
                continue
    return False


def count_shuffle_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes (broadcast exchanges excluded)
    in the pre-execution plan — the structural shuffle budget of the
    query, robust to explain-string format drift."""
    return sum(
        1 for n in physical_node_names(df) if n == "ShuffleExchangeExec"
    )


def has_dynamic_partition_pruning(df: DataFrame) -> bool:
    """True if a scan carries a LIVE dynamic-partition-pruning filter.

    DPP renders as ``dynamicpruningexpression(<col> IN dynamicpruning#n
    / subquery#n)`` in the scan's PartitionFilters.  When the planner
    cannot reuse the dim-side broadcast it degrades the filter to the
    literal ``dynamicpruningexpression(true)`` — syntactically present
    but pruning NOTHING — so that form is explicitly rejected."""
    s = explain_str(df)
    return "dynamicpruning" in s and "dynamicpruningexpression(true)" not in s


def _walk_executed(node):
    """Yield every node of an EXECUTED plan, descending through AQE's
    final plan and materialized query stages — where runtime scan
    metrics (numPartitions, pruningTime, numOutputRows) live.  Only
    valid after the DataFrame has executed."""
    name = node.getClass().getSimpleName()
    yield name, node
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_executed(node.finalPhysicalPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _walk_executed(node.plan())
        return
    if name == "ReusedExchangeExec":
        yield from _walk_executed(node.child())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _walk_executed(children.apply(i))


def executed_scan_metrics(df: DataFrame, location_substr: str) -> dict[str, int]:
    """Runtime metrics of the FileSourceScanExec whose file-index
    location contains ``location_substr``, read from the executed plan
    (call after an action).  For a hive-partitioned scan the keys
    include ``numPartitions`` (partitions actually read — the
    ground-truth proof that dynamic partition pruning fired) and
    ``pruningTime``."""
    root = df._jdf.queryExecution().executedPlan()
    for name, node in _walk_executed(root):
        if name == "FileSourceScanExec":
            loc = node.metadata().get("Location").get()
            if location_substr in loc:
                m = node.metrics()
                it = m.iterator()
                out: dict[str, int] = {}
                while it.hasNext():
                    kv = it.next()
                    out[kv._1()] = kv._2().value()
                return out
    raise AssertionError(f"no FileSourceScanExec matching {location_substr!r}")


def has_wholestage_codegen(df: DataFrame) -> bool:
    # Under AQE the codegen spans only exist in the FINAL plan, which
    # materializes when THIS DataFrame executes (a derived .count()
    # builds its own plan and leaves this one non-final).  In simple
    # mode codegen spans render as "*(n) Operator".
    df.collect()
    s = explain_str(df, "simple")
    return "WholeStageCodegen" in s or re.search(r"\*\(\d+\)", s) is not None
