"""Incremental feature maintenance (plans/incremental.py).

The core claims, each as a test:
- partials built once = partials built as split loads and merged
  (associativity/commutativity — daily loads land in any order);
- features_asof(ref) == full batch recompute at ref;
- moving the as-of date forward re-buckets WITHOUT touching raw data and
  still equals a batch recompute with shifted relative time.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.plans import compile_case_when
from feature_generation_benchmark_spark.plans.incremental import (
    compile_day_partials,
    features_asof,
    merge_day_partials,
)
from feature_generation_benchmark_spark.spec import (
    CARD_TYPES,
    CHANNELS,
    FeatureSpec,
    Grouping,
)

REF_DAY = 20_000

SPEC = FeatureSpec(
    key="customer_id",
    time_col="t_minus",
    measure="trx_amnt",
    windows=(7, 14, 30, 720),
    groupings=(
        Grouping(
            cols=("card_type", "trx_type"),
            domains=(CARD_TYPES, ("food-and-household", "home", "education")),
        ),
        Grouping(cols=("channel",), domains=(CHANNELS,)),
    ),
)


@pytest.fixture(scope="module")
def dated(tiny_transactions):
    return tiny_transactions.withColumn(
        "day", (F.lit(REF_DAY) - F.col("t_minus")).cast("long")
    )


def _rows(df, key="customer_id"):
    cols = sorted(df.columns)
    return {r[key]: tuple(r.asDict()[c] for c in cols) for r in df.collect()}, cols


def _assert_equal(a, b):
    ra, ca = _rows(a)
    rb, cb = _rows(b)
    assert ca == cb
    assert ra.keys() == rb.keys()
    for k in ra:
        for c, va, vb in zip(ca, ra[k], rb[k]):
            if isinstance(va, float) and isinstance(vb, float):
                assert math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9), (
                    k, c, va, vb)
            else:
                assert va == vb, (k, c, va, vb)


def test_asof_equals_batch(spark, dated, tiny_transactions):
    partials = compile_day_partials(SPEC, dated, "day")
    served = features_asof(SPEC, partials, REF_DAY, "day")
    batch = compile_case_when(SPEC, tiny_transactions)
    _assert_equal(served, batch)


def test_split_merge_any_order(spark, dated):
    """Three overlapping loads (days mod 3), merged in two different
    orders, must equal single-shot partials — the late-data guarantee."""
    parts = [
        compile_day_partials(SPEC, dated.filter(F.col("day") % 3 == i), "day")
        for i in range(3)
    ]
    merged_a = merge_day_partials(SPEC, parts, "day")
    merged_b = merge_day_partials(SPEC, [parts[2], parts[0], parts[1]], "day")
    direct = compile_day_partials(SPEC, dated, "day")
    for merged in (merged_a, merged_b):
        _assert_equal(
            features_asof(SPEC, merged, REF_DAY, "day"),
            features_asof(SPEC, direct, REF_DAY, "day"),
        )


def test_asof_advances_without_raw_data(spark, dated, tiny_transactions):
    """Serving at ref+5 from UNCHANGED partials equals a batch recompute
    where every row is 5 days older — windows slide, partials stand."""
    partials = compile_day_partials(SPEC, dated, "day")
    served = features_asof(SPEC, partials, REF_DAY + 5, "day")
    shifted = compile_case_when(
        SPEC, tiny_transactions.withColumn("t_minus", F.col("t_minus") + 5)
    )
    _assert_equal(served, shifted)


def test_partials_cardinality_is_bounded(spark, dated):
    """Day partials must collapse multiplicity: at most one row per
    (key, categories, day)."""
    partials = compile_day_partials(SPEC, dated, "day")
    n = partials.count()
    distinct = partials.select(
        "customer_id", "card_type", "channel", "trx_type", "day"
    ).distinct().count()
    assert n == distinct
    assert n <= dated.count()


def test_asof_rejects_partials_missing_a_stat(spark, dated):
    """Partials store only the stats their spec's aggs read. Serving a
    spec that reads more (here: the sums a count-only store lacks) is a
    named error, not an unresolved-column failure deep in the plan."""
    from feature_generation_benchmark_spark.spec import Agg

    count_only = FeatureSpec(
        key="customer_id",
        time_col="t_minus",
        measure="trx_amnt",
        windows=SPEC.windows,
        groupings=SPEC.groupings,
        aggs=(Agg.COUNT,),
    )
    partials = compile_day_partials(count_only, dated, "day")
    assert "cnt" in partials.columns
    with pytest.raises(ValueError, match="sum_trx_amnt"):
        features_asof(SPEC, partials, REF_DAY, "day")


def test_asof_excludes_future_days(spark, dated, tiny_transactions):
    """Historical as-of from a store whose frontier has advanced: days
    AFTER ref_day must not leak into any window (they would land in the
    smallest bucket and inflate every trailing feature). Served at
    ref−5, the result must equal a batch recompute restricted to the
    data available at ref−5 — rows with original t_minus < 5 did not
    exist yet and are excluded, the rest age by 5 days."""
    partials = compile_day_partials(SPEC, dated, "day")
    served = features_asof(SPEC, partials, REF_DAY - 5, "day")
    available = tiny_transactions.filter(F.col("t_minus") >= 5)
    batch = compile_case_when(
        SPEC, available.withColumn("t_minus", F.col("t_minus") - 5)
    )
    _assert_equal(served, batch)
