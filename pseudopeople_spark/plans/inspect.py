"""Physical-plan inspection helpers — the plan IS the product at
100 TB, so plan shape is asserted in tests, not just eyeballed:

  * filters must reach the parquet scan (PushedFilters),
  * dimension joins must be broadcast (no shuffle of the fact side),
  * Python must enter the plan at most once per noising stage
    (one ArrowEvalPython node — the batched token kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.org.apache.spark.sql.execution.ExplainUtils.processPlan(  # pragma: no cover
        df._jdf.queryExecution().executedPlan(), None
    )


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert the scan carries pushed filters mentioning each fragment."""
    plan = physical_plan(df)
    assert "PushedFilters" in plan, f"no pushed filters in plan:\n{plan[:2000]}"
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    blob = "\n".join(pushed)
    for frag in fragments:
        assert frag in blob, f"filter on {frag!r} not pushed; PushedFilters: {blob[:800]}"


def assert_broadcast_join(df: DataFrame, at_least: int = 1) -> None:
    plan = physical_plan(df)
    n = plan.count("BroadcastHashJoin")
    assert n >= at_least, f"expected >= {at_least} BroadcastHashJoin, found {n}:\n{plan[:2000]}"


def codegen_method_bytes(df: DataFrame) -> "list[tuple[str, int]]":
    """Largest method bytecode of every whole-stage-codegen subtree in
    ``df``'s physical plan (the final adaptive plan once ``df`` has
    run), as ``(subtree, bytes)`` pairs, largest first. ``subtree``
    names the stage's operators top-down.

    HotSpot never JIT-compiles a method over 8,000 bytes
    (``-XX:+DontCompileHugeMethods``, the default), so a stage whose
    ``processNext`` is larger runs every row in the bytecode
    interpreter even though Janino compiled it. Each subtree's code is
    generated and compiled again here (Spark caches compiled classes by
    their source, so a stage that already ran costs a lookup)."""
    jvm = df._sc._jvm
    compile_ = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile
    out = []
    pending = [df._jdf.queryExecution().executedPlan()]
    while pending:
        node = pending.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            pending.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            pending.append(node.plan())
        elif kind == "WholeStageCodegenExec":
            stats = compile_(node.doCodeGen()._2())._2()
            out.append((_codegen_subtree(node.child()), int(stats.maxMethodCodeSize())))
        children = node.children()
        pending.extend(children.apply(i) for i in range(children.size()))
    return sorted(out, key=lambda kv: -kv[1])


def _codegen_subtree(node) -> str:
    """The operators of one codegen stage, top-down, up to its inputs."""
    names = []
    pending = [node]
    while pending:
        node = pending.pop(0)
        kind = node.getClass().getSimpleName()
        if kind == "InputAdapter":
            continue
        names.append(node.nodeName())
        children = node.children()
        pending.extend(children.apply(i) for i in range(children.size()))
    return " -> ".join(names)


def count_python_eval_nodes(df: DataFrame) -> int:
    """Number of Python/Arrow evaluation operators in the physical plan
    (each one is a full Arrow ser/de round-trip of the stream)."""
    plan = physical_plan(df)
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
