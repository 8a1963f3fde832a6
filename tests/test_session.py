"""Session-factory profile behavior."""

from __future__ import annotations

import pytest

from feature_generation_benchmark_spark.session import comet_jar, get_spark


def test_comet_profile_noops_without_jar(spark, monkeypatch):
    """profile='comet' must be a clean no-op when no Comet jar exists —
    callers request the accelerated profile unconditionally and get the
    plain engine profile on vanilla machines."""
    import feature_generation_benchmark_spark.session as sess

    monkeypatch.setattr(sess, "comet_jar", lambda: None)
    s = sess.get_spark("comet-noop-test", profile="comet")
    # getOrCreate reuses the test session; no comet confs were applied
    assert s.conf.get("spark.comet.enabled", "false") == "false"


def test_unknown_profile_rejected():
    with pytest.raises(ValueError, match="unknown session profile"):
        get_spark("bad-profile-test", profile="nope")


def test_comet_jar_env_missing_path(monkeypatch):
    """An explicitly configured jar path that doesn't exist must raise —
    silently running the 'comet' profile on vanilla Spark would
    invalidate an A/B measurement without a trace (r6 session-2 review)."""
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_COMET_JAR", "/nonexistent/comet.jar")
    with pytest.raises(FileNotFoundError, match="SPARK_GRAFT_COMET_JAR"):
        comet_jar()


def test_cache_scope_releases_query_pins(spark):
    """r7 verdict #8 (cache hygiene): three cache()-using queries run
    back-to-back through the public registry, each consumed inside a
    cache_scope — pinned storage must return to zero afterwards, and a
    cache pinned BEFORE the scopes must survive them untouched."""
    from feature_generation_benchmark_spark.session import cache_scope
    from feature_generation_benchmark_spark.workloads import registry
    from tests.conftest import SF_SMOKE

    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    # clearCache() leaves RDD-level pins (localCheckpoint) of earlier
    # tests in place, and the ContextCleaner unpersists those whenever a
    # JVM GC collects their RDDs — possibly mid-test, which would shrink
    # `after` below `base`. Release them up front so `base` holds only
    # the outer pin below.
    pinned = jsc.getPersistentRDDs()
    for rdd_id in pinned.keySet().toArray():
        pinned.get(rdd_id).unpersist(True)
    outer = spark.range(10).cache()
    outer.count()  # pre-existing pin the scopes must not release
    base = set(jsc.getPersistentRDDs().keySet().toArray())
    assert base, "outer cache should be pinned"

    reg = registry()
    for name in (
        "funnel_conversions",
        "graph_feature_propagation",
        "skipgram_pmi",
    ):
        with cache_scope(spark):
            assert reg[name].fn(spark, SF_SMOKE).count() >= 0
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after == base, f"leaked pins: {sorted(after - base)}"
    outer.unpersist(True)
