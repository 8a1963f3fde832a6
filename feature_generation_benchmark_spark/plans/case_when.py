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

from feature_generation_benchmark_spark.functions.exprs import (
    agg_expr_sql,
    feature_condition_sql,
    quote_ident,
)
from feature_generation_benchmark_spark.spec import Agg, FeatureSpec
from pyspark.sql import functions as F


def compile_case_when(
    spec: FeatureSpec, df: DataFrame, premask: bool = False
) -> DataFrame:
    """Compile ``spec`` over ``df`` (the long transactions-shaped frame)
    into the single-pass conditional-aggregation plan.

    ``premask=True`` applies the reference's A10 physical rewrite
    (``impl/pyspark-comet-case-when.py:48-64,142``): materialize the
    ``when(cond, x)`` masks in a projection BEFORE the aggregation so the
    agg itself sees only plain ``sum/avg/min/max(col)`` — the shape
    columnar accelerators (Comet et al.) can offload wholesale. Catalyst
    produces equivalent results either way; the knob exists for plan-shape
    parity and for plugging native engines.
    """
    pruned = df.select(*spec.input_columns())
    # Rows beyond the largest window contribute to no feature; filtering
    # early lets Parquet row-group stats skip them entirely at scale.
    in_scope = pruned.filter(F.col(spec.time_col) <= F.lit(max(spec.windows)))
    # Expressions are built as SQL strings (exprs.agg_expr_sql) — one JVM
    # parse per feature instead of ~a dozen Py4J calls; same Catalyst tree.
    if not premask:
        exprs = [F.expr(agg_expr_sql(spec, feat)) for feat in spec.features()]
        return in_scope.groupBy(*spec.keys).agg(*exprs)

    mask_exprs = []
    agg_cols = []
    for i, feat in enumerate(spec.features()):
        cond = feature_condition_sql(spec, feat)
        name = f"__m_{i}"
        qname = quote_ident(name)
        if feat.agg is Agg.COUNT:
            mask_exprs.append(
                f"CASE WHEN {cond} THEN 1 ELSE 0 END AS {qname}"
            )
            expr = f"CAST(sum({qname}) AS BIGINT)"
        else:
            mask_exprs.append(
                f"CASE WHEN {cond} THEN {quote_ident(feat.measure)} "
                f"END AS {qname}"
            )
            if feat.agg is Agg.SUM:
                expr = f"coalesce(sum({qname}), CAST(0 AS DOUBLE))"
            else:
                expr = f"{feat.agg.value}({qname})"
            if spec.round_decimals is not None:
                expr = f"round({expr}, {spec.round_decimals})"
        agg_cols.append(F.expr(f"{expr} AS {quote_ident(feat.name)}"))
    masked = in_scope.selectExpr(
        *[quote_ident(k) for k in spec.keys], *mask_exprs
    )
    return masked.groupBy(*spec.keys).agg(*agg_cols)
