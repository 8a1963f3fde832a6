"""Strategy selection — the engine's (tiny) query planner.

The reference's four physical strategies are hand-picked per script; the
benchmark numbers (BASELINE.md) show plan *shape* dominates engine speed
(39× between case-when and bucket+rollup at 1.7B rows). We encode that
knowledge as a plan-construction heuristic — idiomatic for a
DataFrame-building library; no Catalyst extension needed (SURVEY §7.4):
``case_when`` for narrow specs, ``bucket_pivot`` for every wide one whose
cells fit a BIGINT id.
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import DataFrame

from feature_generation_benchmark_spark.plans.bucket_pivot import (
    CELL_ID_LIMIT,
    compile_bucket_pivot,
    n_union_cells,
)
from feature_generation_benchmark_spark.plans.case_when import compile_case_when
from feature_generation_benchmark_spark.plans.grouped_map import compile_grouped_map
from feature_generation_benchmark_spark.spec import FeatureSpec

Strategy = Literal["auto", "case_when", "bucket_pivot", "grouped_map"]

#: Rough threshold: below this many feature cells the single-pass
#: conditional agg is cheaper (no second shuffle, smaller plan); above it,
#: per-row CASE WHEN evaluation cost dominates the scan and the bucketed
#: partial aggregation wins (reference medium-scale evidence, BASELINE.md).
CASE_WHEN_MAX_FEATURES = 64


#: Layout crossover for ``bucket_pivot`` (see ``choose_bucket_pivot_layout``):
#: switch to the single-exchange key-partitioned layout once the default
#: layout's second exchange (|keys|×|cells| partial rows, on the key)
#: exceeds this fraction of the input rows. Calibrated on same-session
#: A/Bs: big_keys ratio 0.34 → keypart 2.31× faster; medium ratio 0.024 →
#: default faster. The partial rows carry up to 4 aggregate slots per
#: cell, so they are heavier than raw rows — a ratio ≳ 0.1 means the
#: default's two exchanges move ≈ 2× input volume where keypart moves it
#: once.
KEYPART_MIN_PARTIAL_TO_INPUT = 0.1


def choose_bucket_pivot_layout(
    spec: FeatureSpec, n_rows: int, n_keys: int
) -> bool:
    """True → compile ``bucket_pivot`` with ``key_partitioned=True``.

    The discriminant is task-count-free: the default layout's second
    exchange always carries ``n_keys × n_cells`` map-combined partial
    rows, so comparing that against the input row count needs no
    guess about scan parallelism (which varies with file layout). The
    hints are caller estimates — order-of-magnitude accuracy moves the
    ratio far less than the two regimes are apart (14×)."""
    if n_rows <= 0 or n_keys <= 0:
        return False
    return (
        n_keys * n_union_cells(spec) / n_rows >= KEYPART_MIN_PARTIAL_TO_INPUT
    )


def choose_strategy(spec: FeatureSpec) -> Strategy:
    # The feature count alone captures the per-row CASE WHEN cost — a
    # single-window spec with hundreds of features pays it just the same,
    # and the bucketed strategies still collapse rows to one partial per
    # (key, cats) first (a previous windows>1 precondition here forced
    # wide single-window specs into the pathological plan for no reason).
    # The integer-cell plan removes the per-row CASE WHEN cost (measured
    # ~2x at 1.7B rows). A layout too large for a BIGINT cell id is a range
    # limit, not a cost trade-off: the canonical plan serves it.
    if (
        spec.n_features > CASE_WHEN_MAX_FEATURES
        and n_union_cells(spec) < CELL_ID_LIMIT
    ):
        return "bucket_pivot"
    return "case_when"


def compile_features(
    spec: FeatureSpec,
    df: DataFrame,
    strategy: Strategy = "auto",
    n_rows_hint: int | None = None,
    n_keys_hint: int | None = None,
) -> DataFrame:
    """Compile a FeatureSpec over a long-format DataFrame into a wide
    1-row-per-key feature DataFrame, using the selected physical strategy.

    All strategies produce identical results (the cross-strategy invariant
    the reference implies but never checks — SURVEY §5); they differ only in
    physical plan shape.

    ``n_rows_hint`` / ``n_keys_hint``: optional caller estimates of input
    rows and distinct keys. When both are given and the strategy resolves
    to ``bucket_pivot``, the planner also picks its exchange layout
    (:func:`choose_bucket_pivot_layout`) — at high key cardinality the
    single-exchange key-partitioned layout is 2.31× faster (big_keys
    A/B); without hints the default two-exchange layout is kept (right
    whenever map-side combine fires, which is the common case).
    """
    if strategy == "auto":
        strategy = choose_strategy(spec)
    if strategy == "case_when":
        return compile_case_when(spec, df)
    if strategy == "bucket_pivot":
        if n_rows_hint is not None and n_keys_hint is not None:
            return compile_bucket_pivot(
                spec,
                df,
                key_partitioned=choose_bucket_pivot_layout(
                    spec, n_rows_hint, n_keys_hint
                ),
            )
        return compile_bucket_pivot(spec, df)
    if strategy == "grouped_map":
        return compile_grouped_map(spec, df)
    raise ValueError(f"unknown strategy {strategy!r}")
