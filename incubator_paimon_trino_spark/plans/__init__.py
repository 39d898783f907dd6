from incubator_paimon_trino_spark.plans.explain import (
    codegen_compile_count,
    codegen_stage_count,
    count_shuffles,
    partition_filters,
    physical_plan,
    pushed_filters,
    read_schema_columns,
    uses_broadcast_join,
)

__all__ = [
    "codegen_compile_count",
    "codegen_stage_count",
    "count_shuffles",
    "partition_filters",
    "physical_plan",
    "pushed_filters",
    "read_schema_columns",
    "uses_broadcast_join",
]
