"""Incremental feature-store maintenance — day-granular partials.

The reference recomputes the whole 2-year feature table from raw
transactions every run (all 13 impls are full-scan batch jobs). At 100 TB
that is the dominant recurring cost, and it is unnecessary: every
canonical aggregate is DECOMPOSABLE (``count/sum/min/max``; ``avg`` is
derived), so the engine can maintain partial aggregates at **absolute-day
granularity** — ``(keys…, category cols…, day) → stats`` — and serve the
wide feature table for ANY as-of date by re-bucketing those partials,
never touching raw data again. The stats are the ones the spec's aggs
read, named by ``bucket_pivot._stats``: ``cnt`` (for count/avg) and per
measure ``sum_<m>`` (sum/avg), ``min_<m>`` and ``max_<m>``.

Why day granularity (not window buckets): trailing windows MOVE — what is
``t_minus = 7`` today is ``8`` tomorrow, so bucket-level partials go stale
daily, while day-level partials are immutable facts. Their cardinality is
``|keys| × |category combos| × |days|`` — for the reference task ~4 orders
of magnitude smaller than the input — and each new daily load touches only
its own day rows.

The three verbs:

- :func:`compile_day_partials` — raw long rows → day partials (one
  hash aggregation; the only step that ever reads raw data).
- :func:`merge_day_partials` — union + re-aggregate any number of partial
  tables (daily increments, backfills, late data): counts/sums add,
  min/min and max/max combine. Associative and commutative, so loads can
  land in any order.
- :func:`features_asof` — partials + a reference day → the exact wide
  feature table the batch strategies produce for that date, through
  ``bucket_pivot``'s own roll-up (same ``Σsum/Σcount`` avg, same
  empty-cell encoding). Output is verified equal to the full-recompute
  path (tests + the DuckDB oracle gate).

Scale posture: the recurring cost drops from O(raw) to O(new day) for
maintenance plus O(partials) for serving; partials re-shuffle on the same
``(keys, cats)`` prefix, so a bucketed/partitioned layout makes the merge
exchange-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.plans.bucket_pivot import (
    _rollup,
    _stats,
)
from feature_generation_benchmark_spark.spec import FeatureSpec


def _category_cols(spec: FeatureSpec) -> list[str]:
    return sorted({c for g in spec.groupings for c in g.cols})


def compile_day_partials(
    spec: FeatureSpec, df: DataFrame, day_col: str
) -> DataFrame:
    """Aggregate raw long rows into immutable day-granular partials.

    ``day_col``: an absolute integer day column (e.g. ``ts div 86400e9``
    on epoch-nanos timestamps). The spec's relative ``time_col`` is NOT
    used here — relative time is derived at serve time by
    :func:`features_asof`, which is what keeps partials immutable.
    """
    return df.groupBy(*spec.keys, *_category_cols(spec), day_col).agg(
        *[part.alias(suffix) for suffix, part, _ in _stats(spec)]
    )


def merge_day_partials(
    spec: FeatureSpec, partials: list[DataFrame], day_col: str
) -> DataFrame:
    """Combine partial tables (daily loads, backfills, late arrivals) into
    one: decomposable re-aggregation over the union."""
    if not partials:
        raise ValueError("at least one partials DataFrame required")
    unioned = partials[0]
    for p in partials[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy(*spec.keys, *_category_cols(spec), day_col).agg(
        *[merge.alias(suffix) for suffix, _, merge in _stats(spec)]
    )


def features_asof(
    spec: FeatureSpec, partials: DataFrame, ref_day: int, day_col: str
) -> DataFrame:
    """Serve the wide feature table as of ``ref_day`` from day partials.

    Relative time is derived per partial row (``time_col = ref_day −
    day``) and the rows go through ``bucket_pivot``'s own roll-up, with
    the partials' merges as its level-1 aggregate — so the result equals
    running any batch strategy over the data AVAILABLE at ``ref_day``
    with that ``time_col``. The partials are exchanged once, on the key
    (the key-partitioned layout): one exchange on top of the partials'
    own.

    Days after ``ref_day`` are excluded (``time_col >= 0``): a store
    whose frontier has advanced past ``ref_day`` (continuous loads, then
    a historical as-of ask) holds future-day partials, and without the
    lower bound those rows would land in the smallest bucket and inflate
    every trailing window — the exact look-ahead leak the as-of contract
    exists to prevent (same guard the point-in-time join in
    ``workloads/pit.py`` enforces on its side).
    """
    stats = _stats(spec)
    missing = [s for s, _, _ in stats if s not in partials.columns]
    if missing:
        raise ValueError(
            f"partials lack the stats {missing} this spec's aggs read; "
            "rebuild them with compile_day_partials for this spec"
        )
    aged = partials.withColumn(
        spec.time_col, F.lit(ref_day) - F.col(day_col)
    ).filter(F.col(spec.time_col) >= 0)
    return _rollup(
        spec,
        aged,
        [suffix for suffix, _, _ in stats],
        [merge for _, _, merge in stats],
        key_partitioned=True,
    )
