"""Cross-strategy invariant: every physical strategy produces identical
feature tables — the property the reference implies but never checks
(SURVEY §5), and actively violates in its pivot family (§2.7.1-3).
"""

from __future__ import annotations

import math

import pytest

from feature_generation_benchmark_spark.plans import (
    compile_bucket_pivot,
    compile_case_when,
    compile_grouped_map,
    compile_features,
)
from feature_generation_benchmark_spark.plans.sql_text import compile_sql_text
from feature_generation_benchmark_spark.plans.planner import choose_strategy
from feature_generation_benchmark_spark.spec import (
    CARD_TYPES,
    CHANNELS,
    FeatureSpec,
    Grouping,
    reference_spec,
)

SMALL_SPEC = FeatureSpec(
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


def rows_by_key(df, key):
    cols = sorted(df.columns)
    out = {}
    for r in df.collect():
        d = r.asDict()
        out[d[key]] = tuple(d[c] for c in cols)
    return out, cols


def assert_frames_equal(a, b, key):
    ra, ca = rows_by_key(a, key)
    rb, cb = rows_by_key(b, key)
    assert ca == cb
    assert ra.keys() == rb.keys()
    for k in ra:
        for c, va, vb in zip(ca, ra[k], rb[k]):
            if isinstance(va, float) and isinstance(vb, float):
                assert math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9), (
                    k, c, va, vb)
            else:
                assert va == vb, (k, c, va, vb)


@pytest.fixture(scope="module")
def results(spark, tiny_transactions):
    return {
        "case_when": compile_case_when(SMALL_SPEC, tiny_transactions),
        "bucket_pivot": compile_bucket_pivot(SMALL_SPEC, tiny_transactions),
        "grouped_map": compile_grouped_map(SMALL_SPEC, tiny_transactions),
        "sql_text": compile_sql_text(SMALL_SPEC, tiny_transactions),
    }


def test_case_when_vs_bucket_pivot(spark, results):
    """The integer-cell pivot plan marginalizes union-cell partials per
    grouping scheme — must equal the canonical conditional aggregation."""
    assert_frames_equal(results["case_when"], results["bucket_pivot"],
                        "customer_id")


def test_case_when_vs_grouped_map(spark, results):
    assert_frames_equal(results["case_when"], results["grouped_map"],
                        "customer_id")


def test_case_when_vs_sql_text(spark, results):
    assert_frames_equal(results["case_when"], results["sql_text"],
                        "customer_id")


def test_boundary_semantics(spark, results):
    """Inclusive windows; empty-group count=0/sum=0/avg,min,max=NULL;
    out-of-scope-only keys absent (FIXTURES.md F1)."""
    df = results["case_when"]
    rows = {r["customer_id"]: r.asDict() for r in df.collect()}
    assert set(rows) == {1, 2}  # customer 3 only has t_minus=721
    c1 = rows[1]
    # t_minus=7 row IS inside the 7d window (inclusive <=)
    assert c1["DC_food-and-household_7d_count"] == 2
    assert c1["DC_food-and-household_7d_sum"] == 300.0
    # t_minus=8 row joins at 14d
    assert c1["DC_food-and-household_14d_count"] == 3
    # 720 boundary included, 721 excluded
    assert c1["DC_home_720d_sum"] == 75.0
    # empty combo for customer 1
    assert c1["CC_education_720d_count"] == 0
    assert c1["CC_education_720d_sum"] == 0.0
    assert c1["CC_education_720d_avg"] is None
    assert c1["CC_education_720d_min"] is None
    # second grouping scheme aggregates across card types
    assert c1["web_14d_count"] == 2  # t_minus 8 and 14 rows are web
    assert c1["web_14d_sum"] == 450.0
    c2 = rows[2]
    assert c2["CC_education_30d_count"] == 1
    assert c2["CC_education_7d_count"] == 0


MULTI_SPEC = FeatureSpec(
    key="customer_id",
    time_col="t_minus",
    measures=("trx_amnt", "recency_days"),
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
def multi_transactions(tiny_transactions):
    from pyspark.sql import functions as F

    return tiny_transactions.withColumn(
        "recency_days", F.col("t_minus").cast("double")
    )


def test_multi_measure_all_strategies_agree(spark, multi_transactions):
    """Every physical strategy must produce the identical two-measure
    feature table (the multi-measure generalization)."""
    canonical = compile_case_when(MULTI_SPEC, multi_transactions)
    others = {
        "bucket_pivot": compile_bucket_pivot(MULTI_SPEC, multi_transactions),
        "grouped_map": compile_grouped_map(MULTI_SPEC, multi_transactions),
        "sql_text": compile_sql_text(MULTI_SPEC, multi_transactions),
    }
    for name, df in others.items():
        try:
            assert_frames_equal(canonical, df, "customer_id")
        except AssertionError as exc:  # pragma: no cover
            raise AssertionError(f"strategy {name} diverges: {exc}") from exc


def test_multi_measure_values(spark, multi_transactions):
    """Spot-check both measures' semantics on the hand-built fixture."""
    df = compile_case_when(MULTI_SPEC, multi_transactions)
    rows = {r["customer_id"]: r.asDict() for r in df.collect()}
    c1 = rows[1]
    # spend measure: t_minus 1 and 7 rows
    assert c1["trx_amnt_DC_food-and-household_7d_sum"] == 300.0
    # recency measure over the same cell: days 1 and 7
    assert c1["recency_days_DC_food-and-household_7d_sum"] == 8.0
    assert c1["recency_days_DC_food-and-household_7d_min"] == 1.0
    assert c1["recency_days_DC_food-and-household_7d_max"] == 7.0
    assert c1["recency_days_DC_food-and-household_7d_avg"] == 4.0
    # count is the matched ROW count — identical across measures
    assert (
        c1["trx_amnt_DC_food-and-household_7d_count"]
        == c1["recency_days_DC_food-and-household_7d_count"]
        == 2
    )
    # empty cell: count=0/sum=0.0/avg,min,max=NULL for BOTH measures
    assert c1["recency_days_CC_education_720d_count"] == 0
    assert c1["recency_days_CC_education_720d_sum"] == 0.0
    assert c1["recency_days_CC_education_720d_avg"] is None


COMPOSITE_SPEC = FeatureSpec(
    keys=("customer_id", "channel"),
    time_col="t_minus",
    measure="trx_amnt",
    windows=(7, 14, 30, 720),
    groupings=(
        Grouping(
            cols=("card_type", "trx_type"),
            domains=(CARD_TYPES, ("food-and-household", "home", "education")),
        ),
    ),
)


def test_composite_key_all_strategies_agree(spark, tiny_transactions):
    """Composite (customer, channel) entity key: every strategy groups on
    the full key tuple and produces identical rows."""
    def keyed(df):
        cols = sorted(df.columns)
        return {
            (r["customer_id"], r["channel"]): tuple(
                r.asDict()[c] for c in cols
            )
            for r in df.collect()
        }, cols

    canonical = compile_case_when(COMPOSITE_SPEC, tiny_transactions)
    ra, ca = keyed(canonical)
    # 1 row per observed (customer, channel) pair with in-scope rows
    assert set(ra) == {(1, "mobile"), (1, "web"), (2, "web")}
    for name, compiled in {
        "bucket_pivot": compile_bucket_pivot(
            COMPOSITE_SPEC, tiny_transactions
        ),
        "grouped_map": compile_grouped_map(COMPOSITE_SPEC, tiny_transactions),
        "sql_text": compile_sql_text(COMPOSITE_SPEC, tiny_transactions),
    }.items():
        rb, cb = keyed(compiled)
        assert ca == cb, name
        assert ra.keys() == rb.keys(), name
        for k in ra:
            for c, va, vb in zip(ca, ra[k], rb[k]):
                if isinstance(va, float) and isinstance(vb, float):
                    assert math.isclose(
                        va, vb, rel_tol=1e-9, abs_tol=1e-9
                    ), (name, k, c, va, vb)
                else:
                    assert va == vb, (name, k, c, va, vb)


def test_out_of_domain_rows_count_for_unrelated_groupings(spark):
    """Regression (found by tests/test_property_strategies.py): a row
    out-of-domain in column ``ca`` must still count toward features of a
    grouping that doesn't use ``ca``. bucket_pivot's union-cell encoding
    used to NULL the whole cell and silently drop the row everywhere."""
    spec = FeatureSpec(
        key="k",
        time_col="t",
        measure="m",
        windows=(1,),
        groupings=(
            Grouping(cols=("ca",), domains=(("a1", "a2"),)),
            Grouping(cols=("cb",), domains=(("b1", "b2"),)),
        ),
    )
    df = spark.createDataFrame(
        [(0, "a1", "b1", 0, 1.0), (0, "zz", "b1", 0, 3.0)],
        "k long, ca string, cb string, t long, m double",
    )
    for compiler in (
        compile_case_when,
        compile_bucket_pivot,
        compile_grouped_map,
    ):
        row = compiler(spec, df).collect()[0].asDict()
        assert row["b1_1d_count"] == 2, compiler.__name__
        assert row["b1_1d_sum"] == 4.0, compiler.__name__
        # and the zz row counts toward NO ca-grouping feature
        assert row["a1_1d_count"] == 1, compiler.__name__


def test_key_with_only_dead_cell_rows_keeps_empty_features(spark):
    """A key whose only in-window row is out of the domain of a column
    EVERY grouping uses (``ca="zz"``) feeds no feature, yet still appears
    with the empty-group encoding: count 0, sum 0.0, NULL avg/min/max.
    In bucket_pivot that row lands in the dead cell, which fans out to no
    fid; a plain ``explode`` would drop the key."""
    spec = FeatureSpec(
        key="k",
        time_col="t",
        measure="m",
        windows=(1, 5),
        groupings=(Grouping(cols=("ca",), domains=(("a1", "a2"),)),),
    )
    df = spark.createDataFrame(
        [(0, "a1", 0, 1.0), (1, "zz", 0, 3.0), (2, "a1", 9, 4.0)],
        "k long, ca string, t long, m double",
    )
    compilers = {
        "case_when": compile_case_when,
        "bucket_pivot": compile_bucket_pivot,
        "bucket_pivot_keypart": lambda s, d: compile_bucket_pivot(
            s, d, key_partitioned=True
        ),
    }
    for name, compiler in compilers.items():
        rows = {r["k"]: r.asDict() for r in compiler(spec, df).collect()}
        assert sorted(rows) == [0, 1], name  # key 2 is out of window
        dead = rows[1]
        for combo in ("a1", "a2"):
            for w in (1, 5):
                assert dead[f"{combo}_{w}d_count"] == 0, name
                assert dead[f"{combo}_{w}d_sum"] == 0.0, name
                for agg in ("avg", "min", "max"):
                    assert dead[f"{combo}_{w}d_{agg}"] is None, (name, agg)
        assert rows[0]["a1_1d_count"] == 1, name


def test_null_key_keeps_its_row(spark):
    """A NULL ``customer_id`` is one key like any other: it comes out as
    exactly one row, next to the non-NULL key, with the same features
    under every strategy. bucket_pivot lays each partition's keys out in
    Python, where a key id that went through a float (NULL → NaN) would
    not convert back to an integer."""
    spec = FeatureSpec(
        key="customer_id",
        time_col="t_minus",
        measure="trx_amnt",
        windows=(7, 30),
        groupings=(Grouping(cols=("card_type",), domains=(CARD_TYPES,)),),
    )
    df = spark.createDataFrame(
        [
            (None, "DC", 1.0, 2),
            (None, "CC", 4.0, 20),
            (5, "DC", 2.0, 3),
            (5, "DC", 6.0, 9),
        ],
        "customer_id long, card_type string, trx_amnt double, t_minus long",
    )
    compilers = {
        "case_when": compile_case_when,
        "bucket_pivot": compile_bucket_pivot,
        "bucket_pivot_keypart": lambda s, d: compile_bucket_pivot(
            s, d, key_partitioned=True
        ),
    }
    out = {}
    for name, compiler in compilers.items():
        rows = [r.asDict() for r in compiler(spec, df).collect()]
        assert sorted(r["customer_id"] is None for r in rows) == [
            False,
            True,
        ], (name, rows)
        out[name] = {r["customer_id"]: r for r in rows}
    assert out["case_when"][None]["CC_30d_sum"] == 4.0
    assert out["case_when"][None]["DC_7d_count"] == 1
    for name in ("bucket_pivot", "bucket_pivot_keypart"):
        assert out[name] == out["case_when"], name


def test_closed_domains_keep_minimal_cell_count():
    """closed=True (reference task: generator domains are complete) must
    keep the at-scale pivot at its minimal width; the open default pays
    overflow slots only for columns some grouping omits."""
    from feature_generation_benchmark_spark.plans.bucket_pivot import (
        _radix,
        _union_domains,
    )

    def n_cells(spec):
        n = len(spec.windows)
        for _, dom, overflow in _union_domains(spec):
            n *= _radix(dom, overflow)
        return n

    assert n_cells(reference_spec()) == 2 * 13 * 2 * 8  # 416, no overflow
    open_spec = FeatureSpec(
        key="k",
        time_col="t",
        measure="m",
        windows=(7,),
        groupings=(
            Grouping(cols=("ca",), domains=(("a1", "a2"),)),
            Grouping(cols=("cb",), domains=(("b1", "b2"),)),
        ),
    )
    # each column absent from the other grouping → +1 overflow slot each
    assert n_cells(open_spec) == 3 * 3 * 1


def test_planner_choice():
    assert choose_strategy(reference_spec()) == "bucket_pivot"
    tiny = FeatureSpec(
        "k", "t", "m", (7,),
        (Grouping(cols=("c",), domains=(("a", "b"),)),),
    )
    assert choose_strategy(tiny) == "case_when"
    # 990,000 union cells: the fan-out decodes fids from the cell id, so
    # a large cell domain stays on the integer-cell pivot
    wide = FeatureSpec(
        "k", "t", "m", tuple(range(1, 100)),
        (
            Grouping(
                cols=("c1", "c2"),
                domains=(
                    tuple(f"a{i}" for i in range(100)),
                    tuple(f"b{i}" for i in range(100)),
                ),
            ),
        ),
    )
    assert choose_strategy(wide) == "bucket_pivot"
    # 81**10 ≥ 2**62 cells have no BIGINT cell id: the canonical plan
    assert choose_strategy(_BEYOND_BIGINT) == "case_when"


#: Ten 80-value groupings, each on its own column: every column gets an
#: overflow slot, so the union layout has 81**10 ≈ 1.2e19 cells.
_BEYOND_BIGINT = FeatureSpec(
    "k", "t", "m", (7,),
    tuple(
        Grouping(
            cols=(f"c{i}",), domains=(tuple(f"c{i}v{j}" for j in range(80)),)
        )
        for i in range(10)
    ),
)


def test_bucket_pivot_rejects_cells_beyond_bigint(spark):
    """A layout of 2**62 cells or more is refused by name at compile
    time, before the input is touched: no DataFrame, so no Spark job."""
    from feature_generation_benchmark_spark.plans.bucket_pivot import (
        CELL_ID_LIMIT,
        n_union_cells,
    )

    assert n_union_cells(_BEYOND_BIGINT) >= CELL_ID_LIMIT
    with pytest.raises(ValueError, match="BIGINT cell id"):
        compile_bucket_pivot(_BEYOND_BIGINT, None)


def test_bucket_pivot_beyond_100k_cells_equals_case_when(spark):
    """Two 250-value groupings on different columns plus the total:
    251 × 251 × 2 = 126,002 union cells and 1,002 count features. The
    planner picks bucket_pivot, and both layouts equal case_when — rows
    out of one grouping's domain still count for the other and the total."""
    from feature_generation_benchmark_spark.plans.bucket_pivot import (
        n_union_cells,
    )
    from feature_generation_benchmark_spark.spec import Agg

    spec = FeatureSpec(
        key="k",
        time_col="t",
        measure="m",
        windows=(7, 30),
        groupings=(
            Grouping(cols=(), domains=()),
            Grouping(
                cols=("ca",), domains=(tuple(f"a{i}" for i in range(250)),)
            ),
            Grouping(
                cols=("cb",), domains=(tuple(f"b{i}" for i in range(250)),)
            ),
        ),
        aggs=(Agg.COUNT,),
    )
    assert n_union_cells(spec) == 126_002
    assert spec.n_features == 1_002
    assert choose_strategy(spec) == "bucket_pivot"
    rows = [
        (
            i % 7,
            "zz" if i % 11 == 0 else f"a{(i * 37) % 250}",
            "zz" if i % 13 == 0 else f"b{(i * 53) % 250}",
            (i * 17) % 40,
            float(i),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "k long, ca string, cb string, t long, m double"
    )
    canonical = compile_case_when(spec, df)
    assert_frames_equal(canonical, compile_features(spec, df), "k")
    assert_frames_equal(
        canonical, compile_bucket_pivot(spec, df, key_partitioned=True), "k"
    )


def test_compile_features_dispatch(spark, tiny_transactions):
    df = compile_features(SMALL_SPEC, tiny_transactions, strategy="auto")
    assert df.count() == 2


def test_planner_layout_choice_from_hints(spark, tiny_transactions):
    """With row/key hints, the planner picks the bucket_pivot exchange
    layout: high key cardinality (keys×cells ≥ 0.1×rows) → the
    single-exchange key-partitioned plan; low → the default map-combined
    plan. Both compile and agree on results."""
    from feature_generation_benchmark_spark.plans.planner import (
        choose_bucket_pivot_layout,
    )
    from feature_generation_benchmark_spark.spec import reference_spec

    spec = reference_spec()  # 416 cells
    # big_keys regime: 1M keys × 416 cells = 416M ≥ 0.1 × 1.22B rows
    assert choose_bucket_pivot_layout(spec, 1_224_956_453, 1_000_000)
    # medium regime: 100k keys × 416 cells = 41.6M < 0.1 × 1.75B rows
    assert not choose_bucket_pivot_layout(spec, 1_749_194_545, 100_000)
    # hinted compile produces the same rows as the unhinted default
    hinted = compile_features(
        SMALL_SPEC, tiny_transactions, strategy="bucket_pivot",
        n_rows_hint=10, n_keys_hint=1_000_000,
    )
    default = compile_features(
        SMALL_SPEC, tiny_transactions, strategy="bucket_pivot"
    )
    assert hinted.exceptAll(default).count() == 0
    assert default.exceptAll(hinted).count() == 0


# ---------------------------------------------------------------------------
# planner and compiler edge cases
# ---------------------------------------------------------------------------

SINGLE_WINDOW_WIDE = FeatureSpec(
    key="customer_id",
    time_col="t_minus",
    measure="trx_amnt",
    windows=(720,),
    groupings=(
        Grouping(
            cols=("card_type", "trx_type"),
            domains=(
                CARD_TYPES,
                tuple(f"t{i}" for i in range(10)) + ("food-and-household",),
            ),
        ),
    ),
)


def test_single_window_wide_spec_takes_bucketed_plan(spark, tiny_transactions):
    """A single-window spec with many features pays the per-row CASE WHEN
    cost just the same — the planner must not force it into case_when
    (the old windows>1 precondition did), and the bucketed plan must
    agree with the canonical one."""
    assert SINGLE_WINDOW_WIDE.n_features > 64
    assert choose_strategy(SINGLE_WINDOW_WIDE) == "bucket_pivot"
    assert_frames_equal(
        compile_case_when(SINGLE_WINDOW_WIDE, tiny_transactions),
        compile_features(SINGLE_WINDOW_WIDE, tiny_transactions, "auto"),
        "customer_id",
    )


TOTAL_SPEC = FeatureSpec(
    key="customer_id",
    time_col="t_minus",
    measure="trx_amnt",
    windows=(7, 720),
    groupings=(
        Grouping(cols=(), domains=()),  # total-per-key ("grand total")
        Grouping(cols=("channel",), domains=(CHANNELS,)),
    ),
)


def test_empty_cols_grouping_all_strategies(spark, tiny_transactions):
    """cols=() is a valid Grouping (total per key). Every strategy must
    handle the no-equality-terms combo mask (grouped_map used to
    TypeError on `None & mask` at executor runtime) and agree."""
    base = compile_case_when(TOTAL_SPEC, tiny_transactions)
    for compiled in (
        compile_bucket_pivot(TOTAL_SPEC, tiny_transactions),
        compile_grouped_map(TOTAL_SPEC, tiny_transactions),
        compile_sql_text(TOTAL_SPEC, tiny_transactions),
    ):
        assert_frames_equal(base, compiled, "customer_id")


def test_all_empty_groupings_bucket_pivot(spark, tiny_transactions):
    """Degenerate but legal: EVERY grouping is cols=() — the bucket alone
    is the cell (the cell-id SQL used to be malformed: '( * 8 + ...)')."""
    spec = FeatureSpec(
        key="customer_id",
        time_col="t_minus",
        measure="trx_amnt",
        windows=(7, 720),
        groupings=(Grouping(cols=(), domains=()),),
    )
    assert_frames_equal(
        compile_case_when(spec, tiny_transactions),
        compile_bucket_pivot(spec, tiny_transactions),
        "customer_id",
    )



def test_pivot_rollup_rejects_ambiguous_underscore_domains(spark,
                                                           tiny_transactions):
    """Two distinct (combo, bucket) cells can spell one feature name when
    domain values contain underscores — every pivoting/rollup compiler
    must refuse (via the spec-level name-collision guard) rather than
    silently merge the cells."""
    spec = FeatureSpec(
        key="customer_id",
        time_col="t_minus",
        measure="trx_amnt",
        windows=(7,),
        groupings=(
            Grouping(
                cols=("card_type", "trx_type"),
                domains=(("a", "a_b"), ("b_7", "7")),
            ),
        ),
    )
    for compiler in (compile_bucket_pivot, compile_features):
        with pytest.raises(ValueError, match="collide"):
            compiler(spec, tiny_transactions)
