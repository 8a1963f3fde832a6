from __future__ import annotations

import os
import sys

import pytest

# the checkout this file lives in, so every clone tests its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feature_generation_benchmark_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fgb-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_transactions(spark):
    """Hand-built transactions fixture exercising the FIXTURES.md F1 edges:
    window boundaries (t_minus ∈ {7, 8, 14, 720, 721}), empty combos,
    customers with out-of-scope-only rows."""
    rows = [
        # customer 1: activity in several windows, DC/food only
        (1, "DC", "food-and-household", "mobile", 100.0, 1),
        (1, "DC", "food-and-household", "mobile", 200.0, 7),    # inside 7d (<=)
        (1, "DC", "food-and-household", "web", 400.0, 8),       # first outside 7d
        (1, "CC", "home", "web", 50.0, 14),                     # 14d boundary
        (1, "DC", "home", "mobile", 75.0, 720),                 # largest window
        (1, "DC", "home", "mobile", 999.0, 721),                # out of scope
        # customer 2: single row
        (2, "CC", "education", "web", 10.0, 30),
        # customer 3: out-of-scope only → absent from output by contract
        (3, "DC", "home", "web", 5.0, 721),
    ]
    return spark.createDataFrame(
        rows,
        "customer_id long, card_type string, trx_type string, "
        "channel string, trx_amnt double, t_minus long",
    )


# ---------------------------------------------------------------------------
# Shared micro-fixture writers (ONE definition — r3b review moved these out
# of per-file copies so a schema change lands everywhere at once).
# ---------------------------------------------------------------------------

_US_PER_DAY = 86_400 * 10**6


def write_docs_dir(spark, tmp_path_factory, rows, name="docs_fixture"):
    """rows: (doc_id, text). Writes a documents-shaped parquet dir."""
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp(name)
    df.coalesce(1).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def write_events_dir(spark, tmp_path_factory, rows, name="events_fixture"):
    """rows: (user_id, day, n_events) — n_events distinct events that day,
    µs-spaced within the day. Writes an events-shaped parquet dir."""
    import datetime as dt

    recs, eid = [], 0
    for user_id, day, n in rows:
        for k in range(n):
            ts = dt.datetime(1970, 1, 1) + dt.timedelta(
                microseconds=day * _US_PER_DAY + k * 1000
            )
            recs.append((eid, ts, user_id, "click", 1.0, "{}"))
            eid += 1
    d = tmp_path_factory.mktemp(name)
    spark.createDataFrame(
        recs,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)
