"""Column-expression builders shared by the physical strategies.

These correspond to the reference's scalar-expression surface (SURVEY §2.2):
window-membership predicates (P1), category equality (P2), conjunction (P3),
conditional masking (P4). All are plain Catalyst ``Column`` trees — JVM-side,
whole-stage-codegen friendly; no Python executes at run time. First-match
window bucketing (P5) is ``plans/bucket_pivot.py::_bucket_idx_case``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.spec import Agg, Feature, FeatureSpec


def window_predicate(time_col: str, window: int) -> Column:
    """Cumulative trailing-window membership: ``time_col <= window``
    (inclusive, reference ``docs/index.md:143-151``)."""
    return F.col(time_col) <= F.lit(window)


def combo_predicate(cols: tuple[str, ...], values: tuple[str, ...]) -> Column:
    """AND of category equalities (reference
    ``impl/pyspark-case-when.py:107-110`` starts from ``lit(True)``; we fold
    directly — Catalyst folds the literal anyway)."""
    preds = [F.col(c) == F.lit(v) for c, v in zip(cols, values)]
    return reduce(lambda a, b: a & b, preds)


def feature_condition(spec: FeatureSpec, feat: Feature) -> Column:
    return window_predicate(spec.time_col, feat.window) & combo_predicate(
        feat.grouping.cols, feat.combo
    )


def agg_expr(spec: FeatureSpec, feat: Feature) -> Column:
    """One conditional-aggregate cell with canonical empty-group semantics
    (count=0, sum=0.0, avg/min/max=NULL — SURVEY §2.7.4; expression shape
    mirrors reference ``impl/pyspark-case-when.py:46-56``)."""
    cond = feature_condition(spec, feat)
    measure = F.col(feat.measure)
    if feat.agg is Agg.COUNT:
        expr = F.count(F.when(cond, F.lit(1)))
    elif feat.agg is Agg.SUM:
        expr = F.coalesce(F.sum(F.when(cond, measure)), F.lit(0.0))
    elif feat.agg is Agg.AVG:
        expr = F.avg(F.when(cond, measure))
    elif feat.agg is Agg.MIN:
        expr = F.min(F.when(cond, measure))
    elif feat.agg is Agg.MAX:
        expr = F.max(F.when(cond, measure))
    else:  # pragma: no cover
        raise ValueError(f"unknown agg {feat.agg}")
    if feat.agg is not Agg.COUNT and spec.round_decimals is not None:
        expr = F.round(expr, spec.round_decimals)
    return expr.alias(feat.name)


# ---------------------------------------------------------------------------
# Spark-SQL string twins of the builders above. Semantically identical
# Catalyst trees; each feature costs ONE driver→JVM call (F.expr parse)
# instead of ~a dozen Py4J round-trips — at 2,080 features that is the
# difference between a sub-second and a multi-second plan build.
# ---------------------------------------------------------------------------


def quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def quote_str(value: str) -> str:
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def feature_condition_sql(spec: FeatureSpec, feat: Feature) -> str:
    parts = [f"{quote_ident(spec.time_col)} <= {feat.window}"]
    parts += [
        f"{quote_ident(c)} = {quote_str(v)}"
        for c, v in zip(feat.grouping.cols, feat.combo)
    ]
    return " AND ".join(parts)


def agg_expr_sql(spec: FeatureSpec, feat: Feature) -> str:
    """String twin of :func:`agg_expr` (same canonical semantics)."""
    cond = feature_condition_sql(spec, feat)
    m = quote_ident(feat.measure)
    if feat.agg is Agg.COUNT:
        expr = f"count(CASE WHEN {cond} THEN 1 END)"
    elif feat.agg is Agg.SUM:
        expr = f"coalesce(sum(CASE WHEN {cond} THEN {m} END), CAST(0 AS DOUBLE))"
    elif feat.agg is Agg.AVG:
        expr = f"avg(CASE WHEN {cond} THEN {m} END)"
    elif feat.agg is Agg.MIN:
        expr = f"min(CASE WHEN {cond} THEN {m} END)"
    elif feat.agg is Agg.MAX:
        expr = f"max(CASE WHEN {cond} THEN {m} END)"
    else:  # pragma: no cover
        raise ValueError(f"unknown agg {feat.agg}")
    if feat.agg is not Agg.COUNT and spec.round_decimals is not None:
        expr = f"round({expr}, {spec.round_decimals})"
    return f"{expr} AS {quote_ident(feat.name)}"
