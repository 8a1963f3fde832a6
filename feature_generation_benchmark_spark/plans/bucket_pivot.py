"""Physical strategy A2+A3″ — single-pass integer-cell partial aggregation
+ long-form roll-up + known-values pivot. The engine's one bucketed plan:
the planner picks it for every wide spec, and incremental serving
(``plans/incremental.py``) runs its roll-up over day partials.
Semantics identical to every other strategy.

Motivation (measured at the reference's medium scale, 1.7B rows): a
second aggregation that evaluates every feature's CASE WHEN — with
*string* equality on category columns — against every partial row costs
~33M partials × 2,080 conditions ≈ 69 billion predicate evaluations,
which dominates the run. This plan removes that cost entirely:

1. Each in-scope row is mapped to one integer **cell id** encoding
   (all union category values, smallest-window bucket) — a handful of
   codegen'd comparisons per row, done ONCE.
2. Level 1 aggregates, by ``(key, cell)``, only the stats the spec's aggs
   read (the row count; per measure its sum, min, max). The shuffle row
   is ``(long, long, ≤ 4 numerics)`` — roughly half the bytes of
   shuffling category strings (reference pivot key synthesis,
   ``impl/pyspark-pivot.py:104-105,124``, shuffles concat'd strings).
3. The roll-up happens in LONG form, before the pivot: each partial row
   fans out to the integer **feature-cell ids** (fids) it feeds — one
   per (grouping combo, window ≥ the cell's bucket), 2 × up to 8 for the
   reference task. The fids are decoded from the cell id by integer
   arithmetic (each column's digit, then one ``sequence`` per grouping),
   so no join, no per-row CASE WHEN, and nothing whose size grows with
   the number of cells.
4. The pivot on the fid, with an EXPLICIT integer value list (reference
   known-values idiom, ``impl/pyspark-pivot.py:106-110,126``), merges the
   partials per ``(key, fid)`` (sum, sum, min, max) in its own first
   phase and then lays them out wide with ``PivotFirst`` — an O(1)
   buffer write per row, not a per-feature CASE WHEN. Each feature then
   reads its own fid's slots (avg reads two: exact ``avg = Σsum/Σcount``,
   the §2.7.2-3 fixes), once per OUTPUT row.

   Rolling up in a projection above the pivot instead — each feature
   re-adding its window's buckets from a cell pivot — is what this
   replaced: 205,803 optimized-plan nodes for the reference task, 53,861
   with a shared per-cell cumulative layer, 25,433 in long form.

Scale posture: one input scan, one big shuffle (reduced by map-side
partial aggregation to ≤ |keys| × n_cells rows), one tiny shuffle of
partials on the key, no join; the fan-out and the pivot run inside the
last stage. Cell-domain size is compile-time-known (no discovery
scan); plans stay static. Expressions are built as SQL strings — one JVM
parse per feature instead of a dozen Py4J round-trips each.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.functions.exprs import (
    quote_ident,
    quote_str,
)
from feature_generation_benchmark_spark.spec import Agg, FeatureSpec

#: Cell ids are BIGINT, the dead cell included: a layout of this many
#: cells or more has no id. A range check, not a tuning knob — the planner
#: sends such specs to ``case_when``.
CELL_ID_LIMIT = 1 << 62


def _union_domains(
    spec: FeatureSpec,
) -> list[tuple[str, tuple[str, ...], bool]]:
    """Union of grouping columns with their (consistent) domains, sorted by
    column name for a deterministic cell-id layout.

    The third element marks columns needing an OVERFLOW index: a row whose
    value for column c is outside c's domain still contributes to every
    grouping that does not involve c (canonical semantics — the case-when
    predicates never look at c). Such rows must keep a distinct cell
    coordinate, so any column absent from at least one grouping gets one
    extra index slot for "out of domain". Two exemptions keep the pivot at
    minimal width: columns present in EVERY grouping (out-of-domain there
    disqualifies the row everywhere — the NULL cell id drops it before
    aggregation), and columns whose grouping declares ``closed=True``
    (the spec asserts out-of-domain values cannot occur).
    """
    doms: dict[str, tuple[str, ...]] = {}
    closed: dict[str, bool] = {}
    for g in spec.groupings:
        for col, dom in zip(g.cols, g.domains):
            if col in doms and doms[col] != dom:
                raise ValueError(f"column {col!r} has conflicting domains")
            doms[col] = dom
            closed[col] = closed.get(col, False) or g.closed
    return [
        (
            col,
            dom,
            not closed[col]
            and any(col not in g.cols for g in spec.groupings),
        )
        for col, dom in sorted(doms.items())
    ]


def _radix(dom: tuple[str, ...], overflow: bool) -> int:
    return len(dom) + (1 if overflow else 0)


def _idx_case(col: str, domain: tuple[str, ...], overflow: bool) -> str:
    whens = " ".join(
        f"WHEN {quote_ident(col)} = {quote_str(v)} THEN {i}"
        for i, v in enumerate(domain)
    )
    tail = f" ELSE {len(domain)}" if overflow else ""
    return f"(CASE {whens}{tail} END)"


def _bucket_idx_case(spec: FeatureSpec) -> str:
    whens = " ".join(
        f"WHEN {quote_ident(spec.time_col)} <= {w} THEN {i}"
        for i, w in enumerate(spec.windows)
    )
    return f"(CASE {whens} END)"


def _cell_sql(
    spec: FeatureSpec, doms: list[tuple[str, tuple[str, ...], bool]]
) -> str:
    """One BIGINT per (category values..., bucket): mixed-radix encoding
    over each column's radix (domain size, +1 where the overflow slot
    exists), cast before the first multiplication so no partial product
    can overflow INT. A NULL cell id — out-of-domain in a column EVERY
    grouping uses — marks a row that contributes to no feature; the
    compiler sends those to the dead cell."""
    expr = "CAST(0 AS BIGINT)"  # every grouping is cols=(): bucket = cell
    for i, (col, dom, overflow) in enumerate(doms):
        idx = _idx_case(col, dom, overflow)
        r = _radix(dom, overflow)
        expr = f"({expr} * {r} + {idx})" if i else f"CAST({idx} AS BIGINT)"
    return f"({expr} * {len(spec.windows)} + {_bucket_idx_case(spec)})"


def _stats(spec: FeatureSpec) -> list[tuple[str, Column, Column]]:
    """``(suffix, level-1 partial, merge of partials)`` of each stat the
    spec's aggs read: the row count for count/avg, and per measure its
    sum for sum/avg, its min and its max."""
    aggs = set(spec.aggs)
    out = []
    if aggs & {Agg.COUNT, Agg.AVG}:
        out.append(("cnt", F.count(F.lit(1)), F.sum("cnt")))
    for m in spec.measures:
        if aggs & {Agg.SUM, Agg.AVG}:
            out.append((f"sum_{m}", F.sum(m), F.sum(f"sum_{m}")))
        if Agg.MIN in aggs:
            out.append((f"min_{m}", F.min(m), F.min(f"min_{m}")))
        if Agg.MAX in aggs:
            out.append((f"max_{m}", F.max(m), F.max(f"max_{m}")))
    return out


def _fid_bases(spec: FeatureSpec) -> list[int]:
    """First feature-cell id (fid) of each grouping, then the total.
    Grouping ``g``'s combo ``c`` (in ``Grouping.combos()`` order) at
    window index ``w`` is ``fid = bases[g] + c·nw + w``."""
    bases = [0]
    for g in spec.groupings:
        n_combos = math.prod(len(dom) for dom in g.domains)
        bases.append(bases[-1] + n_combos * len(spec.windows))
    return bases


def _fanout_sql(
    spec: FeatureSpec,
    doms: list[tuple[str, tuple[str, ...], bool]],
    dead_cell: int,
) -> str:
    """The fids each cell feeds, one row per fid, decoded from the cell id
    by the mixed-radix layout of :func:`_cell_sql`: column ``c``'s index
    is ``(__cell div stride_c) % radix_c`` and the bucket ``__cell % nw``.
    Every grouping whose columns are all in domain at the cell (only an
    overflow slot can be out) feeds its combo at every window ``≥`` the
    bucket: ``sequence(base + combo·nw + bucket, base + combo·nw + nw−1)``.
    A cell that feeds nothing (out of domain in some column of every
    grouping) flattens to an empty array and the dead cell, which would
    decode as cell 0, maps to NULL; ``explode_outer`` turns either into
    one NULL fid, so the key keeps its row and its features stay empty."""
    nw = len(spec.windows)
    idx, stride = {}, nw
    for col, dom, overflow in reversed(doms):
        r = _radix(dom, overflow)
        idx[col] = f"((__cell div {stride}) % {r})"
        stride *= r
    overflowing = {col for col, _, overflow in doms if overflow}
    arrays = []
    for g, base in zip(spec.groupings, _fid_bases(spec)):
        combo = ""  # mixed radix over g's domains: Grouping.combos() order
        for col, dom in zip(g.cols, g.domains):
            digit = idx[col]
            combo = f"({combo} * {len(dom)} + {digit})" if combo else digit
        start = f"{base} + {combo} * {nw}" if combo else str(base)
        fids = f"sequence({start} + __cell % {nw}, {start} + {nw - 1})"
        in_domain = [
            f"{idx[col]} < {len(dom)}"
            for col, dom in zip(g.cols, g.domains)
            if col in overflowing
        ]
        if in_domain:
            fids = (
                f"CASE WHEN {' AND '.join(in_domain)} THEN {fids}"
                " ELSE CAST(array() AS ARRAY<BIGINT>) END"
            )
        arrays.append(fids)
    return (
        f"explode_outer(CASE WHEN __cell < {dead_cell} "
        f"THEN flatten(array({', '.join(arrays)})) END)"
    )


def _feature_sql(spec: FeatureSpec, feat, fid: int, one_stat: bool) -> str:
    """One feature from its own fid's pivot slots, with the canonical
    empty-group encoding: count 0, sum 0.0, NULL avg/min/max, and the
    exact ``avg = Σsum/Σcount``. Spark names a single-aggregate pivot's
    columns by the value alone (``one_stat``)."""

    def slot(suffix: str) -> str:
        return quote_ident(str(fid) if one_stat else f"{fid}_{suffix}")

    cnt = f"coalesce({slot('cnt')}, 0)"
    if feat.agg is Agg.COUNT:
        return f"{cnt} AS {quote_ident(feat.name)}"
    m = feat.measure
    total = f"coalesce({slot(f'sum_{m}')}, CAST(0 AS DOUBLE))"
    if feat.agg is Agg.SUM:
        expr = total
    elif feat.agg is Agg.AVG:
        expr = f"CASE WHEN {cnt} > 0 THEN {total} / {cnt} END"
    elif feat.agg in (Agg.MIN, Agg.MAX):
        expr = slot(f"{feat.agg.value}_{m}")
    else:  # pragma: no cover
        raise ValueError(f"unknown agg {feat.agg}")
    if spec.round_decimals is not None:
        expr = f"round({expr}, {spec.round_decimals})"
    return f"{expr} AS {quote_ident(feat.name)}"


def n_union_cells(spec: FeatureSpec) -> int:
    """Total integer-cell count of the union-domain layout — the ONE
    formula shared by this compiler and the planner's strategy choice
    (two copies once drifted apart is exactly how the planner would pick
    a plan the compiler then rejects)."""
    n = len(spec.windows)
    for _, dom, overflow in _union_domains(spec):
        n *= _radix(dom, overflow)
    return n


def compile_bucket_pivot(
    spec: FeatureSpec, df: DataFrame, key_partitioned: bool = False
) -> DataFrame:
    """Compile ``spec`` into the integer-cell pivot plan.

    The two layouts differ only in where the one ``repartition(key)``
    sits; ``HashPartitioning(keys)`` satisfies the clustered
    distribution of every aggregate downstream of it ((key, cell),
    (key, fid), key), so none of them adds an exchange:

    - default: after the level-1 aggregate, so its map-side combine on
      ``(key, cell)`` is kept — TWO exchanges (that aggregate's, then the
      combined partials on the key; plan-guarded by
      ``test_bucket_pivot_is_two_shuffles``);
    - ``key_partitioned=True``: before it, on the raw celled rows — ONE
      exchange (``test_bucket_pivot_key_partitioned_single_exchange``).

    Trade-off: the single exchange moves RAW celled rows (no map-side
    combine), so keypart loses when combine is effective — few keys ×
    many rows (medium: 100k keys × 1.7B rows, ~130 rows/key/task). It
    wins in the high-key-cardinality regime where rows-per-(key,cell)-
    per-task ≈ 1 and combine never fires: there the default's two
    ~input-sized exchanges become one. Callers pick per workload (the
    cross-strategy property suite pins both layouts to identical
    results).

    Raises ``ValueError`` before touching ``df`` when the spec has
    ``CELL_ID_LIMIT`` cells or more."""
    return _rollup(
        spec,
        df,
        list(spec.measures),
        [part for _, part, _ in _stats(spec)],
        key_partitioned,
    )


def _rollup(
    spec: FeatureSpec,
    df: DataFrame,
    carry: list[str],
    level1: list[Column],
    key_partitioned: bool,
) -> DataFrame:
    """Cell ids, level 1, fan-out, pivot and features over ``df``, which
    holds the keys, the grouping columns, ``spec.time_col`` and the
    ``carry`` columns that ``level1`` aggregates into each of
    :func:`_stats`'s suffixes (raw measures for batch, day partials'
    stats for incremental serving)."""
    n_cells = n_union_cells(spec)
    if n_cells >= CELL_ID_LIMIT:
        raise ValueError(
            f"{n_cells} union cells do not fit a BIGINT cell id "
            f"(CELL_ID_LIMIT={CELL_ID_LIMIT}); use compile_case_when"
        )
    doms = _union_domains(spec)
    in_scope = df.filter(F.col(spec.time_col) <= F.lit(max(spec.windows)))
    # NULL cell = in time scope but blocked from every grouping (out of a
    # closed/everywhere-used domain). Canonical semantics still show the
    # KEY (with all-empty features) for such rows, so they aggregate into
    # a dedicated DEAD cell, id n_cells, that feeds no fid.
    keys = [F.col(k) for k in spec.keys]
    celled = in_scope.select(
        *keys,
        F.coalesce(F.expr(_cell_sql(spec, doms)), F.lit(n_cells)).alias(
            "__cell"
        ),
        *carry,
    )

    # level 1: only the stats the spec's aggs read, on (key, cell)
    stats = _stats(spec)
    if key_partitioned:
        celled = celled.repartition(*keys)
    partial = celled.groupBy(*spec.keys, "__cell").agg(
        *[agg.alias(suffix) for (suffix, _, _), agg in zip(stats, level1)]
    )
    if not key_partitioned:
        # after the map-combined (key, cell) exchange, so combine is kept
        partial = partial.repartition(*keys)
    # HashPartitioning(keys) now satisfies every aggregate below: the
    # pivot's own (key, fid) phase and its PivotFirst phase add no exchange
    fanned = partial.select(
        *keys,
        F.expr(_fanout_sql(spec, doms, n_cells)).alias("__fid"),
        *[F.col(suffix) for suffix, _, _ in stats],
    )
    n_fids = _fid_bases(spec)[-1]
    pivoted = (
        fanned.groupBy(*spec.keys)
        .pivot("__fid", list(range(n_fids)))
        .agg(*[merge.alias(suffix) for suffix, _, merge in stats])
    )

    # features() runs grouping → combo → window → agg → measure and the
    # fids run grouping → combo → window, so feature i reads fid i // per
    per = len(spec.aggs) * len(spec.measures)
    # one Py4J call + one parse each, instead of 2080 F.expr round-trips
    return pivoted.selectExpr(
        *[quote_ident(k) for k in spec.keys],
        *[
            _feature_sql(spec, f, i // per, len(stats) == 1)
            for i, f in enumerate(spec.features())
        ],
    )
