from pseudopeople_spark.plans.inspect import (  # noqa: F401
    assert_broadcast_join,
    assert_pushed_filters,
    codegen_method_bytes,
    count_python_eval_nodes,
    physical_plan,
)
