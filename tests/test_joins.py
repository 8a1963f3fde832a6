"""Join-operator tests beyond the oracle-checked workload queries:
the skew-safe salted join must be result-identical to the plain join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.operators.joins import salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # one pathological key (0) carrying 80% of rows, plus a long tail
    left = spark.range(0, 2000).select(
        F.when(F.col("id") < 1600, F.lit(0))
        .otherwise(F.col("id") % 37)
        .alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(0, 37).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("rv")
    )
    return left, right


def _key_set(df):
    return sorted((r["k"], r["lv"], r["rv"]) for r in df.collect())


def test_salted_inner_equals_plain(spark, skewed):
    left, right = skewed
    plain = left.join(right, on="k", how="inner")
    salted = salted_join(left, right, on="k", how="inner", salt=8)
    assert _key_set(salted) == _key_set(plain)


def test_salted_left_keeps_unmatched(spark, skewed):
    left, right = skewed
    few = right.filter(F.col("k") < 5)
    plain = left.join(few, on="k", how="left")
    salted = salted_join(left, few, on="k", how="left", salt=4)
    rows_p = sorted(map(tuple, plain.collect()))
    rows_s = sorted(map(tuple, salted.collect()))
    assert rows_s == rows_p


def test_salted_rejects_unsupported_how(spark, skewed):
    left, right = skewed
    with pytest.raises(ValueError):
        salted_join(left, right, on="k", how="full")


@pytest.fixture(scope="module")
def points_and_intervals(spark):
    # deterministic pseudo-random points and variable-length intervals,
    # including boundary-exact starts/ends and empty intervals
    pts = spark.range(0, 500).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 7919) % 1000).alias("t"),
    )
    ivl = spark.range(0, 60).select(
        F.col("id").alias("iid"),
        ((F.col("id") * 131) % 950).alias("s"),
    ).select(
        "iid", "s", (F.col("s") + (F.col("iid") % 7) * 25).alias("e")
    )
    return pts, ivl


def _pairs(df):
    return sorted((r["pid"], r["iid"]) for r in df.collect())


def test_interval_join_equals_theta(spark, points_and_intervals):
    from feature_generation_benchmark_spark.operators.joins import interval_join

    pts, ivl = points_and_intervals
    naive = pts.join(
        ivl, (F.col("t") >= F.col("s")) & (F.col("t") < F.col("e"))
    )
    expected = _pairs(naive)
    assert expected  # fixture must actually produce matches
    # exact for any positive width: narrower/wider only changes replication
    for width in (1, 17, 100, 5000):
        got = interval_join(pts, ivl, "t", "s", "e", bucket_width=width)
        assert _pairs(got) == expected, f"width={width}"


def test_interval_join_rejects_bad_width(spark, points_and_intervals):
    from feature_generation_benchmark_spark.operators.joins import interval_join

    pts, ivl = points_and_intervals
    with pytest.raises(ValueError):
        interval_join(pts, ivl, "t", "s", "e", bucket_width=0)


# ---------------------------------------------------------------------------
# asof_join semantics (r6 session-3 review fixes): NULL right values are
# carried faithfully, attached columns are row-atomic, ties deterministic,
# and output-name collisions refuse instead of silently dropping data.
# ---------------------------------------------------------------------------


def _asof(spark, left_rows, right_rows):
    from feature_generation_benchmark_spark.operators.joins import asof_join

    left = spark.createDataFrame(left_rows, "k long, lt long")
    right = spark.createDataFrame(
        right_rows, "k long, rt long, v long, w string"
    )
    return {
        r["lt"]: (r["v_asof"], r["w_asof"])
        for r in asof_join(
            left, right, on="k", left_time="lt", right_time="rt",
            value_cols=["v", "w"],
        ).collect()
    }


def test_asof_null_right_value_is_carried_not_skipped(spark):
    """A present right row whose value is NULL must yield NULL — not leak
    the previous row's value (the per-column ignorenulls bug)."""
    got = _asof(
        spark,
        [(1, 3), (1, 1)],
        [(1, 1, 10, "a"), (1, 2, None, "b")],
    )
    assert got[1] == (10, "a")     # only row 1 visible at t=1
    assert got[3] == (None, "b")   # latest row (t=2) has v=NULL → NULL


def test_asof_values_are_row_atomic(spark):
    """All attached columns come from the SAME right row even when each
    column's last-non-null row differs."""
    got = _asof(
        spark,
        [(1, 5)],
        [(1, 1, 10, None), (1, 2, None, "b")],
    )
    assert got[5] == (None, "b")


def test_asof_equal_time_tie_is_greatest_value_tuple(spark):
    got = _asof(
        spark,
        [(1, 5)],
        [(1, 2, 7, "x"), (1, 2, 9, "q"), (1, 2, 9, "a")],
    )
    # struct comparison: (9,'q') > (9,'a') > (7,'x') → greatest wins
    assert got[5] == (9, "q")


def test_asof_no_right_row_yet_is_null(spark):
    got = _asof(spark, [(1, 0)], [(1, 1, 10, "a")])
    assert got[0] == (None, None)


def test_asof_output_collision_raises(spark):
    from feature_generation_benchmark_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 1, 5)], "k long, lt long, v_asof long")
    right = spark.createDataFrame([(1, 1, 2)], "k long, rt long, v long")
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left, right, on="k", left_time="lt", right_time="rt",
            value_cols=["v"],
        )


def test_join_chain_equals_single_pass(spark):
    """J3: folding one planner-compiled half per window with a left-join
    chain must equal the single-pass aggregate over the full spec —
    every half groups the same key universe, so no null-fill ever
    triggers (impl/polars_pivot-lazy.py:171-173 parity)."""
    from feature_generation_benchmark_spark.plans.planner import (
        compile_features,
    )
    from feature_generation_benchmark_spark.sources.testdata import (
        events_transactions,
    )
    from feature_generation_benchmark_spark.spec import FeatureSpec
    from feature_generation_benchmark_spark.workloads.events_features import (
        EVENTS_SPEC,
    )

    sf = "/root/testdata/sf0.001"
    trx = events_transactions(spark, sf, max_t_minus=max(EVENTS_SPEC.windows))
    chained = None
    for w in EVENTS_SPEC.windows:
        half = compile_features(
            FeatureSpec(
                key="user_id",
                time_col="t_minus",
                measure="value_cents",
                windows=(w,),
                groupings=EVENTS_SPEC.groupings,
            ),
            trx,
        )
        chained = (
            half if chained is None else chained.join(half, "user_id", "left")
        )
    single = compile_features(EVENTS_SPEC, trx)
    assert sorted(chained.columns) == sorted(single.columns)
    cols = sorted(chained.columns)
    a = {r["user_id"]: tuple(r[c] for c in cols) for r in chained.collect()}
    b = {r["user_id"]: tuple(r[c] for c in cols) for r in single.collect()}
    assert a == b and a
