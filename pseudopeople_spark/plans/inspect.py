"""Physical-plan inspection helpers — the plan IS the product at
100 TB, so plan shape is asserted in tests, not just eyeballed:

  * filters must reach the parquet scan (PushedFilters),
  * dimension joins must be broadcast (no shuffle of the fact side),
  * a noise plan must not enter Python at all (no ArrowEvalPython,
    BatchEvalPython or MapInArrow node);
  * every generated method must fit HotSpot's JIT limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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
    names the stage's operators top-down. A projection that runs
    outside whole-stage codegen (one holding a higher-order function,
    such as the token noise) is listed too, as ``Project (unsafe
    projection)``: its rows go through a generated ``UnsafeProjection``
    whose methods face the same limit.

    HotSpot never JIT-compiles a method over 8,000 bytes
    (``-XX:+DontCompileHugeMethods``, the default), so a stage whose
    ``processNext`` is larger runs every row in the bytecode
    interpreter even though Janino compiled it. Each subtree's code is
    generated and compiled again here (Spark caches compiled classes by
    their source, so a stage that already ran costs a lookup)."""
    jvm = df._sc._jvm
    compile_ = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile
    out = []
    pending = [(df._jdf.queryExecution().executedPlan(), False)]
    while pending:
        node, in_stage = pending.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            pending.append((node.executedPlan(), in_stage))
        elif kind.endswith("QueryStageExec"):
            pending.append((node.plan(), False))
        elif kind == "WholeStageCodegenExec":
            stats = compile_(node.doCodeGen()._2())._2()
            out.append((_codegen_subtree(node.child()), int(stats.maxMethodCodeSize())))
            in_stage = True
        elif kind == "InputAdapter":
            in_stage = False
        elif kind == "ProjectExec" and not in_stage:
            stats = compile_(_unsafe_projection_code(jvm, node))._2()
            out.append(("Project (unsafe projection)", int(stats.maxMethodCodeSize())))
        children = node.children()
        pending.extend((children.apply(i), in_stage) for i in range(children.size()))
    return sorted(out, key=lambda kv: -kv[1])


def _unsafe_projection_code(jvm, project):
    """The source ``GenerateUnsafeProjection`` compiles for a
    ``ProjectExec`` that runs outside whole-stage codegen, assembled as
    Spark assembles it (subexpression elimination on, the default)."""
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
    gen = getattr(getattr(codegen, "GenerateUnsafeProjection$"), "MODULE$")
    exprs = gen.canonicalize(gen.bind(project.projectList(), project.child().output()))
    ctx = gen.newCodeGenContext()
    ev = gen.createCode(ctx, exprs, True)
    body = f"""
public java.lang.Object generate(Object[] references) {{
  return new SpecificUnsafeProjection(references);
}}

class SpecificUnsafeProjection extends org.apache.spark.sql.catalyst.expressions.UnsafeProjection {{
  private Object[] references;
  {ctx.declareMutableStates()}

  public SpecificUnsafeProjection(Object[] references) {{
    this.references = references;
    {ctx.initMutableStates()}
  }}

  public void initialize(int partitionIndex) {{
    {ctx.initPartition()}
  }}

  public java.lang.Object apply(java.lang.Object row) {{
    return apply((InternalRow) row);
  }}

  public UnsafeRow apply(InternalRow {ctx.INPUT_ROW()}) {{
    {ev.code().toString()}
    return {ev.value().toString()};
  }}

  {ctx.declareAddedFunctions()}
}}
"""
    return codegen.CodeFormatter.stripOverlappingComments(
        codegen.CodeAndComment(body, ctx.getPlaceHolderToComments())
    )


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


PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas")


def count_python_eval_nodes(df: DataFrame) -> int:
    """Number of Python evaluation operators in the physical plan (each
    one ships the rows it sees through a Python worker and back)."""
    plan = physical_plan(df)
    return sum(plan.count(name) for name in PYTHON_NODES)
