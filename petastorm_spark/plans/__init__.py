from petastorm_spark.plans.checks import (  # noqa: F401
    codegen_stage_count,
    count_broadcast_joins,
    exchanges,
    formatted_plan,
    has_pushed_filters,
    read_schema_columns,
)
