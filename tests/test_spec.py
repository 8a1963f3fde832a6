from __future__ import annotations

import pytest

from feature_generation_benchmark_spark.spec import (
    Agg,
    FeatureSpec,
    Grouping,
    reference_spec,
)


def test_reference_spec_feature_count():
    # 5 aggs × (2×13 + 2×13 combos) × 8 windows = 2,080 (docs/index.md:120-151)
    assert reference_spec().n_features == 2080


def test_feature_names_canonical():
    spec = reference_spec()
    names = [f.name for f in spec.features()]
    assert "DC_food-and-household_30d_avg" in names
    assert len(set(names)) == 2080


def test_input_columns_minimal():
    spec = reference_spec()
    assert spec.input_columns() == [
        "card_type",
        "channel",
        "customer_id",
        "t_minus",
        "trx_amnt",
        "trx_type",
    ]


def test_validation():
    g = Grouping(cols=("a",), domains=(("x", "y"),))
    with pytest.raises(ValueError):
        FeatureSpec("k", "t", "m", (), (g,))
    with pytest.raises(ValueError):
        FeatureSpec("k", "t", "m", (14, 7), (g,))
    with pytest.raises(ValueError):
        FeatureSpec("k", "t", "m", (7,), ())
    with pytest.raises(ValueError):
        Grouping(cols=("a", "b"), domains=(("x",),))
    with pytest.raises(ValueError):
        Grouping(cols=("a",), domains=(("x", "x"),))
    # underscore-bearing domain values can spell one feature name twice:
    # (a, b_7) and (a_b, 7) both name "a_b_7_7d_*" — refused, not merged
    ambiguous = Grouping(cols=("c", "d"), domains=(("a", "a_b"), ("b_7", "7")))
    with pytest.raises(ValueError, match="collide"):
        FeatureSpec("k", "t", "m", (7,), (ambiguous,)).features()


def test_agg_domain():
    assert [a.value for a in Agg] == ["count", "sum", "avg", "min", "max"]


def test_multi_measure_and_keys_validation():
    g = Grouping(cols=("a",), domains=(("x", "y"),))
    with pytest.raises(ValueError, match="either measure="):
        FeatureSpec("k", "t", "m", (7,), (g,), measures=("m2",))
    with pytest.raises(ValueError, match="at least one measure"):
        FeatureSpec("k", "t", None, (7,), (g,))
    with pytest.raises(ValueError, match="duplicate measures"):
        FeatureSpec("k", "t", windows=(7,), groupings=(g,),
                    measures=("m", "m"))
    with pytest.raises(ValueError, match="either key="):
        FeatureSpec("k", "t", "m", (7,), (g,), keys=("k2",))
    with pytest.raises(ValueError, match="at least one key"):
        FeatureSpec(None, "t", "m", (7,), (g,))
    with pytest.raises(ValueError, match="duplicate key"):
        FeatureSpec(None, "t", "m", (7,), (g,), keys=("k", "k"))


def test_multi_measure_naming_and_counts():
    g = Grouping(cols=("a",), domains=(("x", "y"),))
    single = FeatureSpec("k", "t", "m", (7,), (g,))
    multi = FeatureSpec(
        "k", "t", windows=(7,), groupings=(g,), measures=("m1", "m2")
    )
    # single-measure names carry NO measure prefix (reference parity)
    assert [f.name for f in single.features()][:2] == [
        "x_7d_count", "x_7d_avg"
    ]
    assert multi.n_features == 2 * single.n_features
    names = [f.name for f in multi.features()]
    assert "m1_x_7d_count" in names and "m2_x_7d_count" in names
    assert multi.input_columns() == ["a", "k", "m1", "m2", "t"]
    assert multi.keys == ("k",) and multi.measures == ("m1", "m2")


def test_sql_text_backslash_domain_values(spark):
    """Spark's SQL parser processes backslash escapes in string literals;
    the SQL-text surface must double them (DuckDB-dialect output must
    NOT — DuckDB single quotes are escape-free). A domain value with a
    literal backslash must match its data through both the DataFrame
    plan and the generated Spark SQL."""
    from feature_generation_benchmark_spark.plans import compile_case_when
    from feature_generation_benchmark_spark.plans.oracle import (
        oracle_sql_for_spec,
    )
    from feature_generation_benchmark_spark.plans.sql_text import (
        compile_sql_text,
    )
    from feature_generation_benchmark_spark.spec import FeatureSpec, Grouping

    spec = FeatureSpec(
        key="k",
        time_col="t",
        measure="x",
        windows=(7,),
        groupings=(Grouping(cols=("cat",), domains=((r"C:\temp", "plain"),)),),
    )
    df = spark.createDataFrame(
        [(1, 1, 10.0, r"C:\temp"), (1, 2, 5.0, "plain")],
        "k long, t long, x double, cat string",
    )
    via_sql = {tuple(r) for r in compile_sql_text(spec, df).collect()}
    via_df = {tuple(r) for r in compile_case_when(spec, df).collect()}
    assert via_sql == via_df
    row = next(iter(via_df))
    assert row[1] == 1  # the backslash value matched exactly one row
    # DuckDB dialect keeps the single backslash (escape-free literals)
    duck_sql = oracle_sql_for_spec(spec, "t")
    assert r"'C:\temp'" in duck_sql and r"'C:\\temp'" not in duck_sql
