"""Session-factory profile behavior."""

from __future__ import annotations

from feature_generation_benchmark_spark.session import default_parallelism


def test_engine_session_partition_profile(spark):
    """The engine session starts shuffles at 8 partitions per core and
    lets AQE coalesce no finer than 256k (the measured defaults that
    ``get_spark`` hard-codes; ``SPARK_GRAFT_EXTRA_CONF`` is the only
    override)."""
    conf = spark.sparkContext.getConf()
    prefix = "spark.sql.adaptive.coalescePartitions."
    assert conf.get(prefix + "initialPartitionNum") == str(
        8 * default_parallelism()
    )
    assert conf.get(prefix + "minPartitionSize") == "256k"


def test_cache_scope_releases_query_pins(spark):
    """Cache hygiene: three cache()-using queries run
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
