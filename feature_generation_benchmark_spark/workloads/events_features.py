"""Flagship feature-generation workload on the ``events`` table — the
reference task family (SURVEY §2.3) instantiated on driver testdata, in
every physical strategy, sharing ONE spec and ONE generated oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from feature_generation_benchmark_spark.plans import (
    compile_bucket_pivot,
    compile_case_when,
    compile_grouped_map,
)
from feature_generation_benchmark_spark.plans.planner import compile_features
from feature_generation_benchmark_spark.plans.incremental import (
    compile_day_partials,
    features_asof,
    merge_day_partials,
)
from feature_generation_benchmark_spark.plans.sql_text import compile_sql_text
from feature_generation_benchmark_spark.plans.oracle import oracle_sql_for_spec
from feature_generation_benchmark_spark.sources.testdata import (
    EVENT_TYPES,
    EVENTS_REF_DATE,
    _epoch_days,
    events_transactions,
    events_transactions_from_sql,
)
from feature_generation_benchmark_spark.spec import FeatureSpec, Grouping
from feature_generation_benchmark_spark.workloads import QueryDef

EVENTS_SPEC = FeatureSpec(
    key="user_id",
    time_col="t_minus",
    measure="value_cents",  # exact integer-valued doubles → deterministic aggs
    windows=(7, 14, 21, 30),
    groupings=(Grouping(cols=("event_type",), domains=(EVENT_TYPES,)),),
)

_ORACLE = oracle_sql_for_spec(EVENTS_SPEC, events_transactions_from_sql())

#: Two-measure spec: spend (value_cents) + recency (t_minus_days) features
#: in ONE pass — the multi-measure generalization the reference lacks
#: (it aggregates only ``trx_amnt``, ``docs/index.md:130-132``). 150
#: features → the planner picks the at-scale bucket_pivot plan, so the
#: oracle gate exercises multi-measure on the engine's default path.
MULTI_MEASURE_SPEC = FeatureSpec(
    key="user_id",
    time_col="t_minus",
    measures=("value_cents", "t_minus_days"),
    windows=(7, 14, 30),
    groupings=(Grouping(cols=("event_type",), domains=(EVENT_TYPES,)),),
)

_MULTI_ORACLE = oracle_sql_for_spec(
    MULTI_MEASURE_SPEC, events_transactions_from_sql()
)

#: Composite-key spec: one feature row per (user, event_type) pair —
#: the multi-key generalization (SURVEY §7.1 names ``FeatureSpec(keys,
#: measure(s), ...)``); grouping shifts to a derived value band so the
#: category axis stays independent of the key.
COMPOSITE_KEY_SPEC = FeatureSpec(
    keys=("user_id", "event_type"),
    time_col="t_minus",
    measure="value_cents",
    windows=(7, 30),
    groupings=(
        Grouping(cols=("value_band",), domains=(("low", "high"),)),
    ),
)

_BAND_CUTOFF_CENTS = 500_000

_COMPOSITE_ORACLE = oracle_sql_for_spec(
    COMPOSITE_KEY_SPEC,
    "(SELECT *, CASE WHEN value_cents < "
    f"{_BAND_CUTOFF_CENTS} THEN 'low' ELSE 'high' END AS value_band "
    f"FROM {events_transactions_from_sql()} t)",
)


#: Band cutoff for the discovered-domain entry — 100.00 (10k cents)
#: actually splits the testdata value distribution (~13% high), unlike
#: the composite-key cutoff which the data never exceeds.
_DISC_BAND_CUTOFF_CENTS = 10_000

#: Static twin of the grouping :func:`_discovered_domain` DISCOVERS at
#: runtime — the oracle is compiled from this, so the driver's hash check
#: verifies the discovery scan reproduced exactly these domains (sorted,
#: stringified) before the features even get compared.
_DISCOVERED_SPEC = FeatureSpec(
    key="user_id",
    time_col="t_minus",
    measure="value_cents",
    windows=(7, 30),
    groupings=(
        Grouping(
            cols=("event_type", "value_band"),
            domains=(tuple(sorted(EVENT_TYPES)), ("high", "low")),
            closed=True,
        ),
    ),
)

_DISCOVERED_ORACLE = oracle_sql_for_spec(
    _DISCOVERED_SPEC,
    "(SELECT *, CASE WHEN value_cents < "
    f"{_DISC_BAND_CUTOFF_CENTS} THEN 'low' ELSE 'high' END AS value_band "
    f"FROM {events_transactions_from_sql()} t)",
)


def _discovered_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 escape hatch: multi-column pivot with INFERRED
    values, done honestly — :func:`discover_values` runs an explicit,
    bounded discovery scan whose domains feed a known-values spec, so the
    pivot plan itself stays static. DuckDB's ``PIVOT ... ON a, b``
    (``impl/duckdb_pivot.py:93-104``) hides the same scan inside the
    pivot; here it is a named job the user opted into."""
    from pyspark.sql import functions as F

    from feature_generation_benchmark_spark.plans.discovery import (
        discover_values,
    )

    df = events_transactions(
        spark, sf_dir, max_t_minus=max(_DISCOVERED_SPEC.windows)
    ).withColumn(
        "value_band",
        F.when(
            F.col("value_cents") < _DISC_BAND_CUTOFF_CENTS, "low"
        ).otherwise("high"),
    )
    grouping = discover_values(df, ("event_type", "value_band"))
    spec = FeatureSpec(
        key="user_id",
        time_col="t_minus",
        measure="value_cents",
        windows=_DISCOVERED_SPEC.windows,
        groupings=(grouping,),
    )
    return compile_features(spec, df)


def _load(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_t_minus pushes the window cutoff down as a raw ts >= const
    # parquet predicate (row-group pruning) — semantically redundant with
    # the compiler's own t_minus filter, physically decisive at scale
    return events_transactions(
        spark, sf_dir, max_t_minus=max(EVENTS_SPEC.windows)
    )


def _case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_case_when(EVENTS_SPEC, _load(spark, sf_dir))


def _bucket_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_bucket_pivot(EVENTS_SPEC, _load(spark, sf_dir))


def _bucket_pivot_keypart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-exchange key-partitioned layout (the planner's pick in
    the high-key-cardinality regime — 2.31× faster at big_keys in
    same-session A/Bs) gated against the SAME batch oracle as
    every other strategy, so the at-scale layout itself is hash-checked
    end-to-end, not only equality-tested against the default layout."""
    return compile_bucket_pivot(
        EVENTS_SPEC, _load(spark, sf_dir), key_partitioned=True
    )


def _grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_grouped_map(EVENTS_SPEC, _load(spark, sf_dir))


def _sql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_sql_text(EVENTS_SPEC, _load(spark, sf_dir))


def _multi_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = events_transactions(
        spark, sf_dir, max_t_minus=max(MULTI_MEASURE_SPEC.windows)
    )
    return compile_features(MULTI_MEASURE_SPEC, df)  # planner-chosen plan


def _incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance path: raw rows → immutable day partials
    (built as two DISJOINT loads and merged — the daily-increment shape)
    → features served as-of the reference date. Its oracle is the SAME
    batch oracle as every other strategy: the incremental pipeline must
    reproduce the full-recompute result exactly."""
    from pyspark.sql import functions as F

    ref_days = _epoch_days(EVENTS_REF_DATE)
    trx = events_transactions(
        spark, sf_dir, max_t_minus=max(EVENTS_SPEC.windows)
    ).withColumn("day", (F.lit(ref_days) - F.col("t_minus")).cast("long"))
    p_even = compile_day_partials(
        EVENTS_SPEC, trx.filter(F.col("day") % 2 == 0), "day"
    )
    p_odd = compile_day_partials(
        EVENTS_SPEC, trx.filter(F.col("day") % 2 == 1), "day"
    )
    merged = merge_day_partials(EVENTS_SPEC, [p_even, p_odd], "day")
    return features_asof(EVENTS_SPEC, merged, ref_days, "day")


def _composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    df = events_transactions(
        spark, sf_dir, max_t_minus=max(COMPOSITE_KEY_SPEC.windows)
    ).withColumn(
        "value_band",
        F.when(F.col("value_cents") < _BAND_CUTOFF_CENTS, "low").otherwise(
            "high"
        ),
    )
    return compile_features(COMPOSITE_KEY_SPEC, df)


QUERIES = [
    QueryDef(
        "feat_case_when",
        _case_when,
        _ORACLE,
        "single-pass conditional aggregation (strategy A1)",
    ),
    QueryDef(
        "feat_bucket_pivot",
        _bucket_pivot,
        _ORACLE,
        "integer-cell partial agg + arithmetic long-form rollup + Arrow "
        "scatter (strategy A2+A3'', the at-scale default)",
    ),
    QueryDef(
        "feat_bucket_pivot_keypart",
        _bucket_pivot_keypart,
        _ORACLE,
        "single-exchange key-partitioned bucket_pivot layout (the "
        "planner's high-key-cardinality pick, 2.31x faster at big_keys)",
    ),
    QueryDef(
        "feat_grouped_map",
        _grouped_map,
        _ORACLE,
        "grouped-map applyInPandas fallback (strategy A4)",
        bench=False,  # escape hatch, not a perf path (10-13x slower in the
        # reference too) — verified by the correctness gate instead
    ),
    QueryDef(
        "feat_sql_text",
        _sql_text,
        _ORACLE,
        "spec compiled to Spark-dialect SQL text, run via spark.sql",
    ),
    QueryDef(
        "feat_multi_measure",
        _multi_measure,
        _MULTI_ORACLE,
        "two measures (spend + recency) in one pass, planner-chosen plan",
    ),
    QueryDef(
        "feat_composite_key",
        _composite_key,
        _COMPOSITE_ORACLE,
        "composite (user, event_type) entity key with a derived value-band "
        "grouping, planner-chosen plan",
    ),
    QueryDef(
        "feat_discovered_domain",
        _discovered_domain,
        _DISCOVERED_ORACLE,
        "multi-column grouping with DISCOVERED domains (explicit bounded "
        "discovery scan -> known-values plan; the honest A6 escape hatch)",
    ),
    QueryDef(
        "feat_incremental",
        _incremental,
        _ORACLE,
        "incremental maintenance: day-granular partials, split into two "
        "loads + merged, served as-of the reference date — must equal the "
        "batch result",
    ),
]
