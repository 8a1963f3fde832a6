"""Physical strategy A1 — single-pass conditional aggregation.

One hash aggregation computes every feature as a filtered aggregate
(reference ``impl/pyspark-case-when.py:46-56,102-130``; SQL twin
``impl/duckdb_case-when.py:48-56``). This is the *correctness-canonical*
plan: its semantics ARE the spec's semantics.

Physical shape (what Catalyst produces):

    Parquet scan (pruned to spec.input_columns(), predicate
    ``time_col <= max(window)`` pushed down)
      → HashAggregate(partial, per input partition)   -- map-side combine
      → Exchange hashpartitioning(key)                -- the ONE shuffle
      → HashAggregate(final)

Scale posture: shuffle volume is one partial-agg row per (input partition ×
key) — bounded by keys, not input rows; no driver-side state; plan size grows
with feature count (the known cost of this strategy — see bucket_pivot for
the at-scale alternative).

Defined semantics note: rows with ``time_col > max(windows)`` are filtered
before the aggregation, so a key with *no* in-scope rows is absent from the
output (rather than present with all-empty features). All strategies and the
SQL oracle share this rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from feature_generation_benchmark_spark.functions.exprs import agg_expr_sql
from feature_generation_benchmark_spark.spec import FeatureSpec
from pyspark.sql import functions as F


def compile_case_when(spec: FeatureSpec, df: DataFrame) -> DataFrame:
    """Compile ``spec`` over ``df`` (the long transactions-shaped frame)
    into the single-pass conditional-aggregation plan."""
    pruned = df.select(*spec.input_columns())
    # Rows beyond the largest window contribute to no feature; filtering
    # early lets Parquet row-group stats skip them entirely at scale.
    in_scope = pruned.filter(F.col(spec.time_col) <= F.lit(max(spec.windows)))
    # Expressions are built as SQL strings (exprs.agg_expr_sql) — one JVM
    # parse per feature instead of ~a dozen Py4J calls; same Catalyst tree.
    exprs = [F.expr(agg_expr_sql(spec, feat)) for feat in spec.features()]
    return in_scope.groupBy(*spec.keys).agg(*exprs)
