"""SparkSession factory with scale-appropriate defaults.

The reference impls hand-tune confs per script (e.g. Kryo + shuffle
partitions, reference ``impl/pyspark-pivot.py:166-175``; the pathological
``spark.sql.shuffle.partitions=1`` in ``impl/pyspark-case-when.py:85``).
We centralize one AQE-first profile instead: adaptive execution owns
post-shuffle partition coalescing, skew-join splitting and join-strategy
choice at runtime, which is what survives a 100 TB / 1000-executor
scale-up without per-query retuning.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


#: Runtime-settable subset of the engine profile, for sessions the engine
#: did not build (the driver's vanilla session): AQE + coalescing + cached
#: -plan repartitioning. Iterative operators call this best-effort — on a
#: vanilla 200-shuffle-partition session a 5-iteration loop over cached
#: invariants otherwise pays thousands of near-empty tasks.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Best-effort apply of the runtime-settable engine confs (no-op for
    engine-built sessions, which already carry them)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def default_parallelism() -> int:
    """Cores the driver environment asks us to use (local mode)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


@contextmanager
def cache_scope(spark: SparkSession):
    """Release storage pinned INSIDE the scope when it exits (cache
    hygiene for library consumers).

    Several query functions ``.cache()``/``localCheckpoint`` intra-query
    frames that are referenced multiple times within one returned plan;
    the pins must survive until the consumer's action runs, so the query
    function itself can never release them. A consumer running queries
    in sequence should therefore wrap each consume:

        with cache_scope(spark):
            df = queries["funnel_conversions"](spark, sf_dir)
            df.collect()          # caches materialize here
        # exit: every RDD pinned inside the scope is unpersisted

    Exit snapshots ``getPersistentRDDs`` against entry and unpersists
    only the NEW ids — storage cached before the scope is untouched.
    Do not reuse a scope's DataFrames after exit (their caches and
    localCheckpoints are gone). ``bench.py`` achieves the same with a
    whole-session ``spark.catalog.clearCache()`` between queries, which
    it can because it owns the session.
    """
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    try:
        yield spark
    finally:
        pinned = jsc.getPersistentRDDs()
        for rdd_id in pinned.keySet().toArray():
            if rdd_id not in before:
                rdd = pinned.get(rdd_id)
                if rdd is not None:
                    rdd.unpersist(False)


def get_spark(
    app_name: str = "feature-generation-benchmark-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's conf profile.

    Notes on the profile:

    - AQE on (+ coalescing): at cluster scale the static shuffle-partition
      number is always wrong for at least one stage; AQE right-sizes.
    - ``spark.sql.session.timeZone=UTC``: testdata timestamps are naive;
      pinning the zone makes date arithmetic deterministic and equal to
      DuckDB's naive-timestamp semantics.
    - Arrow on: every pandas/Arrow UDF boundary is vectorized.
    - Kryo: cheap win for shuffle-heavy wide-row plans (the reference uses
      it in all Spark impls).
    """
    # Protobuf fallback must be on PYTHONPATH before the JVM launches so
    # executor-side Python workers (which inherit the JVM's environment)
    # can import the transformWithState state-server protocol modules.
    from feature_generation_benchmark_spark.vendor import ensure_protobuf

    ensure_protobuf()

    cores = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start shuffles WIDE and let AQE coalesce down: the static
        # cores-sized number under-partitions high-cardinality aggs (1M-key
        # bucket_pivot at 1.2B rows: 808 s at 32 partitions vs 634 s at
        # 256 — per-task spill was the bottleneck), while AQE merges the
        # excess away for small stages at no measurable cost.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(cores * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor: with parallelismFirst (default) AQE sizes
        # post-shuffle partitions at
        # max(bytes/parallelism, minPartitionSize); the 1 MB default
        # floor collapses byte-SMALL but CPU-DENSE stages (pair
        # verification over hash arrays, codec work, window sorts of
        # compact rows) to 1-2 tasks, leaving 30 of 32 cores idle —
        # In-session interleaved A/B over the 10 heaviest suite queries
        # (same host window, medians of 3): 1m floor 44.7 s, 64k 38.0 s,
        # 256k 31.1 s — dedup_jaccard_incremental alone 12.5 → 5.5 s.
        # 256k only lowers the floor: stages whose bytes/parallelism
        # exceed it (any real at-scale shuffle) coalesce exactly as
        # before, so the floor is scale-neutral.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k"
        )
        # Let AQE right-size CACHED plans too: by default Spark pins a
        # cache's output partitioning (uncoalesced, e.g. 256-1024 tiny
        # partitions for a dim-sized distinct), and every downstream pass
        # over the cache pays the full task count — the iterative
        # operators (pagerank, k-means, connected components) re-read
        # their cached invariants once per iteration, so this compounds.
        # Measured: pagerank_suppliers sf0.1 16.7 s → 4.2 s warm.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd for shuffle/spill IO (Spark default is lz4): measured
        # NEUTRAL on the sf0.1 suite (160.2 vs 159.3 s — small shuffles
        # are overhead-bound) and decisively better when the shuffle is
        # the workload — medium flagship 247.5 -> 143.5 s median, big_keys
        # 633.8 -> 456.1 s, and ~2x smaller spill on disk (the 1M-key rep
        # dropped from ~60 GB to fitting a 68 GB budget). At cluster
        # scale the same bytes cross the network, so the trade improves.
        .config("spark.io.compression.codec", "zstd")
        # Driver testdata parquet carries TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long (ns since epoch) and convert
        # explicitly (sources/testdata.py::event_ts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-separated spam that has truncated
        # a captured BENCH artifact (its JSON line parsed as null); the engine
        # never wants them.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # ad-hoc conf A/Bs without code edits: a JSON object whose confs
    # override any set above, e.g. SPARK_GRAFT_EXTRA_CONF=
    # '{"spark.sql.adaptive.coalescePartitions.minPartitionSize":"1m"}'
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json as _json

        for k, v in _json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()
