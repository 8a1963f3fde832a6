"""Join operators beyond plain equi-joins.

The reference's join surface is only 1-row-per-key equi-joins (SURVEY §2.4);
these are the additional join shapes a large-scale feature pipeline needs,
each expressed as a composition of built-in DataFrame ops (no UDFs), so
Catalyst/AQE keep optimizing them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_SIDE = "__is_right"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_time: str,
    right_time: str,
    value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: for each left row, attach ``value_cols`` from
    the latest right row with the same key(s) and
    ``right_time <= left_time`` (inclusive).

    Spark-first physical design — NOT a range join: both sides are unioned
    into one stream tagged by side, then a single hash-partitioned window
    (`partitionBy keys ORDER BY time, side`) carries the last-seen right
    values forward with ``last(..., ignorenulls=True)``. One shuffle, no
    O(|L|×|R|) expansion, skew-safe under AQE — this is the shape that
    survives 100 TB, unlike the naive ``left.join(right, cond).rowNumber``
    range-join formulation.

    The carried values travel as ONE struct per right row, so (a) they are
    row-atomic — all attached columns come from the SAME right row, and
    (b) a NULL in a right value column is carried faithfully (the struct
    itself is non-null whenever a right row exists, so ``ignorenulls``
    skips only genuinely-absent rows, never a present row's NULL value —
    the per-column formulation leaked the previous row's value there).

    Ties: a right row at exactly ``left_time`` IS visible (side ordering);
    multiple right rows at the same (key, time) resolve deterministically
    to the GREATEST value tuple (struct comparison over ``value_cols`` in
    order) — pre-aggregate the right side if you need a different rule.

    Raises if an output name (``value_col + suffix``) collides with a left
    column (the old behavior silently nulled and dropped the left column).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if not value_cols:
        raise ValueError("asof_join: value_cols must be non-empty")
    reserved = {_SIDE, "__t", "__vals"}
    if reserved & set(left.columns):
        raise ValueError(
            f"asof_join: left columns collide with reserved names "
            f"{sorted(reserved & set(left.columns))}"
        )
    clash = [c + suffix for c in value_cols if (c + suffix) in left.columns]
    if clash:
        raise ValueError(
            f"asof_join: output column(s) {clash} collide with left "
            f"columns — pick a different suffix or rename"
        )

    # lhs __vals is an untyped NULL; putting rhs FIRST in the union makes
    # its struct type win and the NullType coerce to it.
    lhs = (
        left.withColumn(_SIDE, F.lit(0))
        .withColumn("__t", F.col(left_time))
        .withColumn("__vals", F.lit(None))
    )
    rhs = right.select(
        *keys,
        F.col(right_time).alias("__t"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__vals"),
    ).withColumn(_SIDE, F.lit(1))

    for c in left.columns:
        if c not in keys:
            rhs = rhs.withColumn(c, F.lit(None))

    unioned = rhs.select(*lhs.columns).unionByName(lhs)
    # right rows sort BEFORE left rows at equal time → inclusive semantics;
    # __vals as the final key makes the same-(key, time) winner the
    # greatest value tuple (left rows order NULL-first, irrelevant — they
    # contribute no values and each still sees every right row ≤ its time)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").asc(), F.col(_SIDE).desc(), F.col("__vals").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__carried", F.last("__vals", ignorenulls=True).over(w)
    )
    return carried.filter(F.col(_SIDE) == 0).select(
        *[c for c in left.columns],
        *[
            F.col("__carried").getField(c).alias(c + suffix)
            for c in value_cols
        ],
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-safe equi-join: scatter the (large, possibly hot-keyed) left
    side across ``salt`` sub-keys and replicate every right row to all
    sub-keys, so one pathological join key spreads over ``salt`` shuffle
    partitions instead of melting a single task.

    AQE's skew-join split handles most cases at runtime
    (``spark.sql.adaptive.skewJoin``); this explicit form is for the cases
    AQE can't re-split (e.g. a single key larger than any split threshold,
    or sort-merge-free shuffled hash joins). The salt is derived
    deterministically from the full left row (``xxhash64``), never from the
    key alone — same-key rows MUST land on different sub-keys for the
    scatter to help. Supports ``inner``/``left`` (shapes where left rows
    appear once per right match; semantics identical to the unsalted join).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    keys = [on] if isinstance(on, str) else list(on)
    lhs = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in left.columns])),
               F.lit(salt)).cast("int"),
    )
    rhs = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return lhs.join(rhs, on=keys + ["__salt"], how=how).drop("__salt")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str,
    start: str,
    end: str,
    bucket_width: int,
) -> DataFrame:
    """Point-in-interval join with NO equi-key: attach every interval row
    (half-open ``[start, end)``, numeric axis — e.g. int64 µs) to each point
    it contains.

    Spark has no interval-join strategy; the naive formulation
    ``points.join(intervals, (t >= start) & (t < end))`` is a broadcast
    nested-loop / cartesian plan — O(|P|×|I|) comparisons, a non-starter at
    scale. This operator makes it an **equi-join on a coarse time bucket**:
    each interval is replicated to the ``⌈len/width⌉ (+1)`` buckets it
    overlaps (``F.sequence`` + ``explode``), each point hashes to exactly
    one bucket, then the precise predicate filters candidates. Shuffle is
    hash-partitioned on the bucket, Catalyst picks sort-merge or
    shuffled-hash, AQE handles bucket skew — the shape that survives 100 TB.
    A point pair appears in exactly one bucket (the point's), so no
    dedup pass is needed.

    Exact for ANY positive ``bucket_width`` (an interval is replicated to
    every bucket it overlaps); the width only trades interval replication
    factor against candidate selectivity — set it near the typical interval
    length (callers derive it from the workload's static window length,
    keeping the plan free of a discovery scan). A dim-sized interval side
    broadcasts through ``autoBroadcastJoinThreshold`` without a hint.
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    pts = points.withColumn(
        "__bucket", F.floor(F.col(point_time) / F.lit(bucket_width))
    )
    ivl = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start) / F.lit(bucket_width)),
                F.floor(F.col(end) / F.lit(bucket_width)),
            )
        ),
    )
    return (
        pts.join(ivl, on="__bucket", how="inner")
        .filter(
            (F.col(point_time) >= F.col(start))
            & (F.col(point_time) < F.col(end))
        )
        .drop("__bucket")
    )


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Keep left rows with at least one key match on the right."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Keep left rows with NO key match on the right."""
    return left.join(right, on=on, how="left_anti")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str,
    right_text: str,
    block_on: list,
    max_distance: int = 2,
) -> DataFrame:
    """Record linkage: blocked candidate join + edit-distance verify.

    ``block_on`` is a list of (left_expr, right_expr) Column pairs used as
    equality blocking keys — candidates come from an EQUI-join on those
    keys (never a cross join; the classic blocking discipline that makes
    fuzzy matching feasible at corpus scale). Candidates are then verified
    with ``levenshtein(left_text, right_text) <= max_distance`` — exact,
    JVM-side.

    Returns all left columns + all right columns + ``__edit_dist``;
    callers pick a best match per left row (e.g. a min(struct) argmin).
    """
    lt, rt = [], []
    for i, (le, re_) in enumerate(block_on):
        lt.append(le.alias(f"__blk_{i}"))
        rt.append(re_.alias(f"__blk_{i}"))
    lb = left.select("*", *lt)
    rb = right.select("*", *rt)
    keys = [f"__blk_{i}" for i in range(len(block_on))]
    return (
        lb.join(rb, on=keys)
        .withColumn(
            "__edit_dist", F.levenshtein(F.col(left_text), F.col(right_text))
        )
        .filter(F.col("__edit_dist") <= F.lit(max_distance))
        .drop(*keys)
    )
