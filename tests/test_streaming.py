"""Streaming tests: file-source micro-batch runs with availableNow
triggers, memory sinks, and stream-vs-batch equality (Spark's unified
semantics make the batch result the oracle)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.sources.testdata import (
    from_nanos,
    load_table,
)
from feature_generation_benchmark_spark.streaming.features import (
    stateful_sessionizer,
    windowed_event_features,
)

SF = "/root/testdata/sf0.001"


def _drain_available(q, timeout=120, idle_batches=2):
    """Wait until an availableNow query has consumed all available data,
    then STOP it (r8, r7 verdict #1 — suite wall clock). A stateful
    query in ProcessingTime-timeout mode never terminates on its own:
    after the data batches it loops zero-row "no new data but cleaning
    up state" batches (~0.9 s each, indefinitely) while timeouts/timers
    remain registered, so ``awaitTermination(N)`` burned its FULL
    timeout (2×180 s per suite run) and the un-stopped query kept
    spinning cleanup batches through every later test. Data-closed
    emissions are committed with their data batch, so "≥1 data batch
    seen, then ``idle_batches`` zero-row batches committed" is the
    correct sink-complete condition for these tests. A query that
    stopped on its own re-raises its failure instead of passing as
    drained."""
    import time as _time

    t0 = _time.time()
    seen_data = False
    idle = 0
    last = -1
    try:
        while _time.time() - t0 < timeout:
            if not q.isActive:
                exc = q.exception()
                if exc is not None:
                    raise exc
                return
            p = q.lastProgress
            if p is not None and p["batchId"] != last:
                last = p["batchId"]
                if p["numInputRows"] > 0:
                    seen_data, idle = True, 0
                elif seen_data:
                    idle += 1
                    if idle >= idle_batches:
                        return
            _time.sleep(0.2)
    finally:
        q.stop()


@pytest.fixture(scope="module")
def event_dir(spark):
    """Events re-written with a proper timestamp column (streaming needs
    TimestampType for watermarks/windows, not raw nanos)."""
    d = tempfile.mkdtemp(prefix="fgb_stream_src_")
    (
        load_table(spark, SF, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            from_nanos("ts").alias("event_ts"),
            F.expr("ts div 1000").alias("ts_us"),
        )
        .write.mode("overwrite").parquet(d)
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_windowed_features_stream_equals_batch(spark, event_dir):
    batch_df = spark.read.parquet(event_dir)
    expected = {
        (r["win"]["start"], r["user_id"], r["event_type"]): (
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for r in windowed_event_features(batch_df).collect()
    }

    stream = spark.readStream.schema(batch_df.schema).parquet(event_dir)
    out = windowed_event_features(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("winfeat")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["win"]["start"], r["user_id"], r["event_type"]): (
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for r in spark.sql("SELECT * FROM winfeat").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stateful_sessionizer_stream(spark, event_dir):
    batch_df = spark.read.parquet(event_dir).select("user_id", "ts_us", "value")
    stream = (
        spark.readStream.schema(batch_df.schema).parquet(event_dir)
        .select("user_id", "ts_us", "value")
    )
    gap_us = 30 * 60 * 10**6
    q = (
        stateful_sessionizer(stream, gap_us=gap_us)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain_available(q)
    rows = spark.sql("SELECT * FROM sessions").collect()
    # single availableNow pass: only sessions CLOSED by a later event in the
    # same run are emitted (open sessions wait for the timeout — correct
    # append-mode semantics); verify the closed ones against batch logic.
    from feature_generation_benchmark_spark.operators.sessionization import (
        sessionize,
    )

    batch_sessions = (
        sessionize(batch_df, "user_id", "ts_us", gap_us, numeric_time=True)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    expected = {
        (r["user_id"], r["session_start_us"]): (
            r["session_end_us"],
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for r in batch_sessions.collect()
    }
    assert len(rows) > 0
    for r in rows:
        key = (r["user_id"], r["session_start_us"])
        assert key in expected
        end, n, s = expected[key]
        assert r["session_end_us"] == end
        assert r["n_events"] == n
        assert round(r["sum_value"], 6) == s


def test_dedup_stream_within_watermark(spark, event_dir):
    """A source holding every event TWICE must dedup back to the batch
    distinct row set, with bounded (watermark-expiring) state."""
    import glob
    import os

    from feature_generation_benchmark_spark.streaming.features import (
        dedup_stream,
    )

    batch_df = spark.read.parquet(event_dir)
    dup_dir = tempfile.mkdtemp(prefix="fgb_stream_dup_")
    try:
        batch_df.write.mode("overwrite").parquet(dup_dir)
        batch_df.write.mode("append").parquet(dup_dir)

        doubled = spark.read.parquet(dup_dir)
        assert doubled.count() == 2 * batch_df.count()
        expected = batch_df.select("event_id").distinct().count()

        # batch path degrades to exact dropDuplicates
        assert dedup_stream(doubled, ["event_id"]).count() == expected

        stream = spark.readStream.schema(batch_df.schema).parquet(dup_dir)
        out = dedup_stream(stream, ["event_id"])
        q = (
            out.writeStream.format("memory")
            .queryName("dedupstream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT count(DISTINCT event_id) AS d, count(*) AS n FROM dedupstream"
        ).collect()[0]
        assert (got["d"], got["n"]) == (expected, expected)
    finally:
        shutil.rmtree(dup_dir, ignore_errors=True)


def test_stream_stream_interval_join(spark, event_dir):
    """Clicks joined to purchases within 10 minutes, as two live streams:
    must equal the same join run in batch (unified semantics)."""
    from feature_generation_benchmark_spark.streaming.features import (
        stream_stream_interval_join,
    )

    batch = spark.read.parquet(event_dir)
    b_clicks = batch.filter(F.col("event_type") == "click")
    b_purch = batch.filter(F.col("event_type") == "purchase")

    def pairs(df):
        # name-based selection must work directly: the helper returns
        # left columns unchanged + colliding right columns suffixed _r
        return sorted(
            (r["l_id"], r["r_id"])
            for r in df.select(
                F.col("event_id").alias("l_id"),
                F.col("event_id_r").alias("r_id"),
            ).collect()
        )

    expected = pairs(
        stream_stream_interval_join(b_clicks, b_purch, on="user_id")
    )
    assert expected  # fixture must produce matches

    schema = batch.schema
    s_clicks = (
        spark.readStream.schema(schema).parquet(event_dir)
        .filter(F.col("event_type") == "click")
    )
    s_purch = (
        spark.readStream.schema(schema).parquet(event_dir)
        .filter(F.col("event_type") == "purchase")
    )
    out = stream_stream_interval_join(s_clicks, s_purch, on="user_id")
    q = (
        out.select(
            F.col("event_id").alias("l_id"),
            F.col("event_id_r").alias("r_id"),
        )
        .writeStream.format("memory")
        .queryName("ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["l_id"], r["r_id"])
        for r in spark.sql("SELECT * FROM ssjoin").collect()
    )
    assert got == expected


def test_stream_static_enrichment(spark, event_dir):
    """Stream-static broadcast join: stateless, batch result is oracle."""
    from feature_generation_benchmark_spark.streaming.features import (
        enrich_stream,
    )

    dim = (
        load_table(spark, SF, "events")
        .select("user_id").distinct()
        .select(
            "user_id",
            (F.col("user_id") % 3).cast("string").alias("segment"),
        )
    )
    static = spark.read.parquet(event_dir)
    want = sorted(
        (r["event_id"], r["segment"])
        for r in enrich_stream(static, dim, on="user_id").select(
            "event_id", "segment"
        ).collect()
    )

    stream = spark.readStream.schema(static.schema).parquet(event_dir)
    q = (
        enrich_stream(stream, dim, on="user_id")
        .select("event_id", "segment")
        .writeStream.format("memory")
        .queryName("enriched")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["segment"])
        for r in spark.table("enriched").collect()
    )
    assert got == want and len(got) > 0


def test_session_window_stream_equals_batch(spark, event_dir):
    """The built-in session_window under a real streaming run (watermark +
    availableNow) must produce the batch result — complete-mode sessions
    with all data inside the watermark."""
    static = spark.read.parquet(event_dir)

    def sessions(df):
        return (
            df.groupBy(
                F.session_window("event_ts", "30 minutes").alias("sw"),
                F.col("user_id"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.unix_micros(F.col("sw.start")).alias("start_us"),
                "n",
            )
        )

    want = sorted(map(tuple, sessions(static).collect()))

    stream = (
        spark.readStream.schema(static.schema)
        .parquet(event_dir)
        .withWatermark("event_ts", "10 seconds")
    )
    q = (
        sessions(stream)
        .writeStream.format("memory")
        .queryName("sw_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("sw_sessions").collect()))
    assert got == want and len(got) > 0


def test_ohlc_stream_equals_batch(spark, event_dir):
    """The OHLC bar resample under a real streaming run (watermark +
    availableNow) must equal the batch aggregation — including the
    argmin/argmax struct open/close, which fold through incremental
    aggregation state."""
    from feature_generation_benchmark_spark.streaming.features import (
        ohlc_stream,
    )

    static = spark.read.parquet(event_dir)

    def canon(df):
        return sorted(
            (
                r["bar"]["start"],
                r["event_type"],
                r["open_cents"],
                r["high_cents"],
                r["low_cents"],
                r["close_cents"],
                r["n_events"],
                r["volume_cents"],
            )
            for r in df.collect()
        )

    want = canon(ohlc_stream(static))
    stream = spark.readStream.schema(static.schema).parquet(event_dir)
    q = (
        ohlc_stream(stream)
        .writeStream.format("memory")
        .queryName("ohlc_bars_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = canon(spark.table("ohlc_bars_stream"))
    assert got == want and len(got) > 0


def _has_protobuf() -> bool:
    """True when google.protobuf is importable — the real distribution
    if installed, else the vendored pure-Python wire-format shim
    (feature_generation_benchmark_spark/vendor/protoshim), which
    get_spark() activates before the JVM starts."""
    try:
        from feature_generation_benchmark_spark.vendor import (
            ensure_protobuf,
        )

        return ensure_protobuf()
    except Exception:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python state-server protocol needs "
    "protobuf (or the vendored shim), and neither resolved (API plumbing "
    "+ handleInputRows logic covered by test_running_feature_processor_logic)",
)
def test_transform_with_state_running_features(spark, event_dir, tmp_path):
    """transformWithStateInPandas (Spark 4 stateful API): per-user running
    {count,sum,min,max} folded across micro-batches must converge to the
    batch aggregation — each key's LAST update-mode emission is its total."""
    from feature_generation_benchmark_spark.streaming.features import (
        running_features,
    )

    static = spark.read.parquet(event_dir)
    want = {
        r.user_id: (r.n, r.s, r.mn, r.mx)
        for r in static.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("s"),
            F.min(F.round(F.col("value") * 100, 0).cast("long")).alias("mn"),
            F.max(F.round(F.col("value") * 100, 0).cast("long")).alias("mx"),
        )
        .collect()
    }

    # transformWithState keeps one column family per state variable —
    # only the (JVM-bundled) RocksDB provider supports that; the default
    # HDFSBackedStateStoreProvider raises STATE_STORE_MULTIPLE_COLUMN_FAMILIES.
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(event_dir)
        .select("user_id", "value")
    )
    q = (
        running_features(stream)
        .writeStream.format("memory")
        .queryName("running_feats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
        # update mode: the emission with the highest n_events per key is
        # the final state
        got = {}
        for r in spark.table("running_feats").collect():
            cur = got.get(r.user_id)
            if cur is None or r.n_events > cur[0]:
                got[r.user_id] = (
                    r.n_events,
                    r.sum_cents,
                    r.min_cents,
                    r.max_cents,
                )
        assert got == want and len(got) > 0
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


def test_running_feature_processor_logic():
    """handleInputRows state folding, driven directly: two micro-batches
    for one key must fold into the same totals as one combined batch."""
    import pandas as pd

    from feature_generation_benchmark_spark.streaming.features import (
        RunningFeatureProcessor,
    )

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.state

    proc = RunningFeatureProcessor()
    h = FakeHandle()
    proc.init(h)
    b1 = pd.DataFrame({"value": [1.00, 3.00]})
    b2 = pd.DataFrame({"value": [2.00]})
    out1 = list(proc.handleInputRows((7,), iter([b1]), None))[0]
    out2 = list(proc.handleInputRows((7,), iter([b2]), None))[0]
    assert out1.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 2, "sum_cents": 400,
        "min_cents": 100, "max_cents": 300,
    }
    assert out2.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 3, "sum_cents": 600,
        "min_cents": 100, "max_cents": 300,
    }
    assert h.state.v == (3, 600, 100, 300)
    # HALF_UP rounding (engine-wide F.round rule): 0.125*100 = 12.5 → 13,
    # where pandas' banker's round() would give 12; empty chunks are
    # skipped, not crashed on (min of empty → NaN)
    proc2 = RunningFeatureProcessor()
    proc2.init(FakeHandle())
    out3 = list(
        proc2.handleInputRows(
            (9,),
            iter([pd.DataFrame({"value": [0.125]}),
                  pd.DataFrame({"value": []})]),
            None,
        )
    )[0]
    assert out3.iloc[0].to_dict() == {
        "user_id": 9, "n_events": 1, "sum_cents": 13,
        "min_cents": 13, "max_cents": 13,
    }
    # negative halves round away from zero (-0.125*100 = -12.5 → -13),
    # and a just-below-half value must NOT round up the way
    # floor(|x|+0.5) can when the +0.5 addition carries in binary
    proc3 = RunningFeatureProcessor()
    proc3.init(FakeHandle())
    out4 = list(
        proc3.handleInputRows(
            (11,),
            iter([pd.DataFrame({"value": [-0.125, 0.0049999999999999]})]),
            None,
        )
    )[0]
    assert out4.iloc[0].to_dict() == {
        "user_id": 11, "n_events": 2, "sum_cents": -13,
        "min_cents": -13, "max_cents": 0,
    }


def test_ema_stream_equals_batch_fold_across_batches(spark, event_dir):
    """The EMA recurrence must CARRY ACROSS micro-batches: the source is
    split into an early-half and late-half file with pinned mtimes and
    maxFilesPerTrigger=1, so availableNow processes two ordered batches;
    each key's LAST update-mode emission must equal the single batch
    fold over all its events."""
    import os
    import tempfile
    import shutil

    from feature_generation_benchmark_spark.streaming.features import (
        ema_stream,
    )

    base = (
        spark.read.parquet(event_dir)
        .select(
            "user_id",
            "ts_us",
            "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    cut = base.approxQuantile("ts_us", [0.5], 0.0)[0]
    d = tempfile.mkdtemp(prefix="fgb_ema_stream_")
    try:
        early = os.path.join(d, "p0")
        late = os.path.join(d, "p1")
        base.filter(F.col("ts_us") <= cut).coalesce(1).write.parquet(early)
        base.filter(F.col("ts_us") > cut).coalesce(1).write.parquet(late)
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, part in enumerate((early, late)):
            f = [x for x in os.listdir(part) if x.endswith(".parquet")][0]
            dst = os.path.join(src, f"part-{i}.parquet")
            shutil.copy(os.path.join(part, f), dst)
            os.utime(dst, (1_700_000_000 + i * 3600,) * 2)

        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            ema_stream(stream)
            .writeStream.format("memory")
            .queryName("ema_stream_out")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # two batches must actually have run (cross-batch state exercised)
        assert q.lastProgress is not None
        emitted = spark.sql(
            "SELECT * FROM ema_stream_out"
        ).collect()
        # the LAST emission per key (memory sink appends update rows in
        # batch order; max n_events per key is the final state)
        got = {}
        for r in emitted:
            prev = got.get(r["user_id"])
            if prev is None or r["n_events"] > prev[0]:
                got[r["user_id"]] = (r["n_events"], r["ema_cents"])

        want = {}
        for r in (
            base.orderBy("ts_us", "event_id").collect()
        ):
            n, e = want.get(r["user_id"], (0, 0))
            c = int(r["cents"])
            e = c if n == 0 else (c + 3 * e) // 4
            want[r["user_id"]] = (n + 1, e)
        assert got == want
        # multiple users actually emitted twice (state carried over)
        from collections import Counter

        per_user = Counter(r["user_id"] for r in emitted)
        assert any(v >= 2 for v in per_user.values())
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_histogram_sketch_stream_equals_batch_and_merges(spark, event_dir):
    """The streaming day-grain histogram sketch must equal the batch
    aggregation, and its rows must MERGE (integer addition per (type,
    bin)) to the same per-type totals the batch mlprep rollup merges to
    — the mergeable pre-agg contract, end-to-end through a real
    streaming run."""
    from feature_generation_benchmark_spark.streaming.features import (
        histogram_sketch_stream,
    )

    static = spark.read.parquet(event_dir)

    def canon(df):
        return sorted(
            (r["day"]["start"], r["event_type"], r["bin"], r["cnt"])
            for r in df.collect()
        )

    want = canon(histogram_sketch_stream(static))
    stream = spark.readStream.schema(static.schema).parquet(event_dir)
    q = (
        histogram_sketch_stream(stream)
        .writeStream.format("memory")
        .queryName("hist_sketch_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = canon(spark.table("hist_sketch_stream"))
    assert got == want and len(got) > 0

    # merge the streamed day rows per (type, bin) and compare against a
    # direct single-pass histogram of the raw events
    merged = {}
    for _, etype, b, cnt in got:
        merged[(etype, b)] = merged.get((etype, b), 0) + cnt
    direct = {
        (r["event_type"], r["bin"]): r["n"]
        for r in static.selectExpr(
            "event_type",
            "least(CAST(round(value*100) AS BIGINT) div 2500, 19) AS bin",
        )
        .groupBy("event_type", "bin")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert merged == direct


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState needs protobuf (or the vendored shim)",
)
def test_transform_with_state_map_list_timers(spark, event_dir, tmp_path):
    """Protocol-coverage e2e for the wider typed-state surface: MapState
    (containsKey/getValue/updateValue/paged iterator), ListState
    (appendList/paged get), timer register→list→delete round-trips, and
    a TTL'd StateCallCommand — every message family the vendored
    protobuf shim serializes, parsed and answered by the real JVM state
    server. Converges to the batch group-by per key."""
    from feature_generation_benchmark_spark.streaming.features import (
        category_mix_features,
    )

    static = spark.read.parquet(event_dir)
    want = {
        r.user_id: (r.n_types, r.n, r.s, r.n)
        for r in static.groupBy("user_id")
        .agg(
            F.countDistinct("event_type").alias("n_types"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("value") * 100, 0).cast("long")
            ).alias("s"),
        )
        .collect()
    }

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(event_dir)
        .select("user_id", "event_type", "value")
    )
    q = (
        category_mix_features(stream, protocol_coverage=True)
        .writeStream.format("memory")
        .queryName("category_mix")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_mix"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        _drain_available(q)
        got = {}
        for r in spark.table("category_mix").collect():
            cur = got.get(r.user_id)
            if cur is None or r.total_events > cur[1]:
                got[r.user_id] = (
                    r.n_types,
                    r.total_events,
                    r.total_cents,
                    r.n_recent,
                )
        assert got == want and len(got) > 0
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


# ---------------------------------------------------------------------------
# r6 session-3 review regressions — the stateful fold fns are pure enough
# to unit-test against a GroupState stub, no streaming query needed.
# ---------------------------------------------------------------------------


class _FakeState:
    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        assert ms > 0, "PySpark rejects non-positive timeouts"
        self.timeout_ms = ms


def _run_session_batches(gap_us, batches, state):
    import pandas as pd

    from feature_generation_benchmark_spark.streaming.features import (
        _session_fn,
    )

    fn = _session_fn(gap_us)
    closed = []
    for rows in batches:
        pdf = pd.DataFrame(rows, columns=["ts_us", "value"])
        closed += [
            t
            for out in fn((1,), iter([pdf]), state)
            for t in out.itertuples(index=False)
        ]
    return closed


def test_sessionizer_cross_batch_late_event_cannot_regress_boundary():
    """Pre-fix: a late event (ts < last) moved `last` BACKWARDS, so a
    following on-time event within the true gap wrongly split a session."""
    gap = 1000
    state = _FakeState()
    # batch 1: events at 1000 and 5000... gap exceeded → first closes
    _run_session_batches(gap, [[(1000, 1.0)]], state)
    _run_session_batches(gap, [[(5000, 1.0)]], state)
    # late event 4500 folds into the open session; boundary must stay 5000
    _run_session_batches(gap, [[(4500, 1.0)]], state)
    start, last, n, s = state.get
    assert (start, last, n) == (5000, 5000, 2) or (start, last, n) == (4500, 5000, 2)
    # an event within gap of the TRUE end (5000) must NOT split
    _run_session_batches(gap, [[(5800, 1.0)]], state)
    start, last, n, s = state.get
    assert last == 5800 and n == 3


def test_sessionizer_sub_ms_gap_sets_positive_timeout():
    state = _FakeState()
    _run_session_batches(500, [[(100, 1.0)]], state)
    assert state.timeout_ms == 1


def test_ema_stream_fold_truncates_like_batch_div():
    """Python // floors; the batch twin's Spark `div` truncates toward
    zero — negative cents (refunds) must not diverge."""
    import pandas as pd

    from feature_generation_benchmark_spark.streaming.features import _ema_fn

    state = _FakeState()
    rows = pd.DataFrame(
        {"ts_us": [1, 2], "event_id": [1, 2], "cents": [0, -1]}
    )
    out = list(_ema_fn((1,), iter([rows]), state))
    # batch recurrence: e0=0; e1 = (-1 + 0) div 4 = 0 (floor would give -1)
    assert out[0]["ema_cents"].iloc[0] == 0
