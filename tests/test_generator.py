"""Generator distribution + determinism tests (mirrors the reference's
notebook sanity checks, SURVEY §5.3) and the full 2,080-feature reference
task running end-to-end on generated data — the cross-strategy parity the
reference never automated."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.plans import (
    compile_bucket_pivot,
    compile_case_when,
)
from feature_generation_benchmark_spark.sources.generator import (
    TRX_TYPES,
    generate_transactions,
)
from feature_generation_benchmark_spark.spec import reference_spec


@pytest.fixture(scope="module")
def trx(spark):
    return generate_transactions(
        spark, customers=60, partitions=2, days_per_partition=30, seed=42
    ).cache()


def test_schema_and_domains(spark, trx):
    assert trx.columns == [
        "customer_id", "card_type", "trx_type", "channel",
        "trx_amnt", "t_minus", "part_col",
    ]
    row = trx.agg(
        F.min("trx_amnt").alias("lo"),
        F.max("trx_amnt").alias("hi"),
        F.min("t_minus").alias("tlo"),
        F.max("t_minus").alias("thi"),
        F.countDistinct("trx_type").alias("ntrx"),
        F.countDistinct("part_col").alias("nparts"),
    ).first()
    assert 100.0 <= row["lo"] and row["hi"] < 10000.0
    assert row["tlo"] == 0 and row["thi"] == 59  # 2 partitions × 30 days
    assert row["ntrx"] == len(TRX_TYPES)
    assert row["nparts"] == 2


def test_distributions(spark, trx):
    n = trx.count()
    assert n > 50_000  # ~60 cust × 60 days × ~25 rows
    frac_dc = trx.filter(F.col("card_type") == "DC").count() / n
    frac_mobile = trx.filter(F.col("channel") == "mobile").count() / n
    assert abs(frac_dc - 0.75) < 0.02
    assert abs(frac_mobile - 0.25) < 0.02
    # 13 uniform trx types: each ≈ 1/13 ± 1pp
    counts = dict(
        trx.groupBy("trx_type").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    for t in TRX_TYPES:
        assert abs(counts[t] / n - 1 / 13) < 0.01
    # mean amount ≈ 5050 (uniform 100..10000)
    mean_amt = trx.agg(F.avg("trx_amnt")).first()[0]
    assert abs(mean_amt - 5050) < 100


def test_determinism_across_task_layouts(spark):
    """Same seed must give the identical dataset regardless of the number
    of generation tasks (the counter-based-seed guarantee)."""
    a = generate_transactions(spark, 10, 1, 10, seed=7, tasks=1)
    b = generate_transactions(spark, 10, 1, 10, seed=7, tasks=5)
    key = ["customer_id", "t_minus", "trx_amnt"]
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    c = generate_transactions(spark, 10, 1, 10, seed=8)
    assert c.exceptAll(a).count() > 0  # different seed → different data


def test_rate_scale_shrinks_fanout_deterministically(spark, trx):
    """rate_scale < 1 must shrink the per-(customer, day) row fan-out
    ≈ rate_scale (floor bias puts it slightly under) while staying as
    deterministic and layout-independent as the full-rate dataset, with
    both stress axes (all keys, all partitions) intact and all per-row
    distributions unchanged."""
    scaled = generate_transactions(
        spark, customers=60, partitions=2, days_per_partition=30, seed=42,
        rate_scale=0.15, tasks=3,
    ).cache()
    n_full, n_scaled = trx.count(), scaled.count()
    # floor(25·jit·0.15) has mean ≈ 3.2/25 ≈ 0.13 of full
    assert 0.10 * n_full < n_scaled < 0.15 * n_full
    # determinism: same (seed, scale) under a different task layout
    again = generate_transactions(
        spark, customers=60, partitions=2, days_per_partition=30, seed=42,
        rate_scale=0.15, tasks=7,
    )
    assert again.exceptAll(scaled).count() == 0
    assert scaled.exceptAll(again).count() == 0
    # both axes intact: all customers and partitions still present
    row = scaled.agg(
        F.countDistinct("customer_id").alias("nc"),
        F.countDistinct("part_col").alias("np"),
        F.avg("trx_amnt").alias("mean_amt"),
    ).first()
    assert row["nc"] == 60 and row["np"] == 2
    assert abs(row["mean_amt"] - 5050) < 150  # per-row draws unchanged
    scaled.unpersist()


def test_reference_task_2080_features_cross_strategy(spark, trx):
    """The reference's full 2,080-feature task compiles and every native
    strategy agrees exactly on generated data (cumulative-window + exact
    rollup semantics, SURVEY §2.7 fixes) — including ``bucket_pivot`` in
    both layouts, the plan the planner picks for this task."""
    spec = reference_spec()
    a = compile_case_when(spec, trx)
    assert len(a.columns) == 2081
    assert a.count() == 60
    # exact equality modulo float-ulp: compare at rel=1e-9
    cols = a.columns
    ra = {r["customer_id"]: r for r in a.collect()}
    for b in (
        compile_bucket_pivot(spec, trx),
        compile_bucket_pivot(spec, trx, key_partitioned=True),
    ):
        assert b.columns == cols
        rb = {r["customer_id"]: r for r in b.collect()}
        assert ra.keys() == rb.keys()
        n_checked = 0
        for k in ra:
            for c in cols:
                va, vb = ra[k][c], rb[k][c]
                if isinstance(va, float):
                    assert va == pytest.approx(vb, rel=1e-9, abs=1e-9), (k, c)
                else:
                    assert va == vb, (k, c)
                n_checked += 1
        assert n_checked == 60 * 2081
