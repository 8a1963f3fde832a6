from feature_generation_benchmark_spark.plans.case_when import compile_case_when
from feature_generation_benchmark_spark.plans.bucket_pivot import compile_bucket_pivot
from feature_generation_benchmark_spark.plans.grouped_map import compile_grouped_map
from feature_generation_benchmark_spark.plans.planner import (
    choose_strategy,
    compile_features,
)
from feature_generation_benchmark_spark.plans.oracle import oracle_sql_for_spec

__all__ = [
    "compile_case_when",
    "compile_bucket_pivot",
    "compile_grouped_map",
    "compile_features",
    "choose_strategy",
    "oracle_sql_for_spec",
]
