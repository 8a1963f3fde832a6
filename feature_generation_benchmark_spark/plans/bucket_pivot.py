"""Physical strategy A2+A3″ — single-pass integer-cell partial aggregation
+ known-values pivot + arithmetic roll-up. The engine's fastest plan at
scale; semantics identical to every other strategy.

Motivation (measured at the reference's medium scale, 1.7B rows): in
``plans/bucket_rollup.py`` the second aggregation evaluates every feature's
CASE WHEN — with *string* equality on category columns — against every
partial row: ~33M partials × 2,080 conditions ≈ 69 billion predicate
evaluations, which dominates the run. This plan removes that cost
entirely:

1. Each in-scope row is mapped to one small integer **cell id** encoding
   (all union category values, smallest-window bucket) — a handful of
   codegen'd comparisons per row, done ONCE.
2. Level 1 aggregates ``{count,sum,min,max}`` by ``(key, cell)``. The
   shuffle row is ``(long, int, 4 numerics)`` — roughly half the bytes of
   shuffling category strings (reference pivot key synthesis,
   ``impl/pyspark-pivot.py:104-105,124``, shuffles concat'd strings).
3. Level 2 pivots the partials wide with an EXPLICIT integer value list
   (reference known-values idiom, ``impl/pyspark-pivot.py:106-110,126``).
   Catalyst's two-phase pivot rewrite turns this into ``PivotFirst`` — an
   O(1) buffer write per partial row, not a per-feature CASE WHEN.
4. Level 3 is two arithmetic projections over the ≤ ``n_cells × 4``
   pivot columns, run once per OUTPUT row (one per key), i.e. ~4 orders
   of magnitude fewer expression evaluations than re-aggregating
   partials:

   a. a SHARED layer with one column per used category cell (the union
      cell without its bucket) × window × needed stat: the cell's
      buckets ``0..w`` combined by coalesce-safe ``+`` / null-skipping
      ``least``/``greatest``;
   b. the features, each reading the shared columns of its marginal
      category cells at its own window (2 for the reference task),
      with exact ``avg = Σsum/Σcount`` (the §2.7.2-3 fixes, same as the
      other rollup plans).

   Invariant: ``CollapseProject`` does not merge two projections when
   a non-trivial producer is referenced more than once. In the
   reference task every shared column is (each cell is read by both
   groupings, and avg reads count twice), so the shared layer survives
   optimization; a spec whose shared columns are each read once gets
   them inlined, which duplicates nothing. Building each feature from
   raw pivot cells instead re-adds the same prefixes per feature:
   26,208 cell references and 205,803 optimized-plan nodes for the
   reference task, against ~54k with the shared layer.

Scale posture: one input scan, one big shuffle (reduced by map-side
partial aggregation to ≤ |keys| × n_cells rows), one tiny shuffle of
partials, no join. Cell-domain size is compile-time-known (no discovery
scan); plans stay static. Expressions are built as SQL strings — one JVM
parse per feature instead of a dozen Py4J round-trips each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.functions.exprs import (
    quote_ident,
    quote_str,
)
from feature_generation_benchmark_spark.spec import Agg, FeatureSpec

#: Guard: beyond this many cells the pivot row buffer (n_cells × 4 slots
#: per key) stops being "small state" and the planner should fall back to
#: ``bucket_rollup``.
MAX_CELLS = 100_000


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
    """One integer per (category values..., bucket): mixed-radix encoding
    over each column's radix (domain size, +1 where the overflow slot
    exists). A NULL cell id — out-of-domain in a column EVERY grouping
    uses, or out-of-window time — marks a row that contributes to no
    feature; the compiler filters those before aggregating."""
    expr = ""
    for col, dom, overflow in doms:
        idx = _idx_case(col, dom, overflow)
        r = _radix(dom, overflow)
        expr = idx if not expr else f"({expr} * {r} + {idx})"
    if not expr:
        expr = "0"  # every grouping is cols=(): the bucket IS the cell
    return f"CAST(({expr} * {len(spec.windows)} + {_bucket_idx_case(spec)}) AS INT)"


def _marginal_cells(
    doms: list[tuple[str, tuple[str, ...], bool]], feat
) -> list[int]:
    """Category-cell ids (the union cell without its bucket) contributing
    to one feature: fix the feature's own category values, marginalize
    over the other union columns (INCLUDING their overflow slot —
    out-of-domain there doesn't exclude a row from this feature)."""
    fixed = dict(zip(feat.grouping.cols, feat.combo))
    cells = [0]
    for col, dom, overflow in doms:
        r = _radix(dom, overflow)
        if col in fixed:
            choices = [dom.index(fixed[col])]
        else:
            choices = list(range(r))
        cells = [c * r + i for c in cells for i in choices]
    return cells


def _stats(spec: FeatureSpec) -> list[tuple[str, str]]:
    """``(kind, pivot-column suffix)`` of the partial stats the spec's aggs
    read: ``cnt`` for count/avg, ``sum`` for sum/avg, ``min``, ``max``."""
    aggs = set(spec.aggs)
    out = []
    if aggs & {Agg.COUNT, Agg.AVG}:
        out.append(("cnt", "cnt"))
    for m in spec.measures:
        if aggs & {Agg.SUM, Agg.AVG}:
            out.append(("sum", f"sum_{m}"))
        if Agg.MIN in aggs:
            out.append(("min", f"min_{m}"))
        if Agg.MAX in aggs:
            out.append(("max", f"max_{m}"))
    return out


def _cum_name(cell: int, w: int, suffix: str) -> str:
    return f"__cum{cell}_{w}_{suffix}"


def _extreme(kind: str, refs: list[str]) -> str:
    """Null-skipping min (``kind == "min"``) or max over ``refs``."""
    if len(refs) == 1:
        return refs[0]
    return f"{'least' if kind == 'min' else 'greatest'}({', '.join(refs)})"


def _cumulative_sql(kind: str, suffix: str, cell: int, w: int, nw: int) -> str:
    """Category cell ``cell`` over buckets ``0..w``, i.e. its value for
    the cumulative window ``windows[w]``: coalesce-safe ``+`` for counts
    and sums (never NULL), null-skipping ``least``/``greatest`` for
    min/max (NULL when every bucket is empty)."""
    refs = [quote_ident(f"{cell * nw + b}_{suffix}") for b in range(w + 1)]
    if kind == "cnt":
        expr = " + ".join(f"coalesce({r}, 0)" for r in refs)
    elif kind == "sum":
        expr = " + ".join(f"coalesce({r}, CAST(0 AS DOUBLE))" for r in refs)
    else:
        expr = _extreme(kind, refs)
    return f"{expr} AS {quote_ident(_cum_name(cell, w, suffix))}"


def _rollup_sql(spec: FeatureSpec, feat, cells: list[int]) -> str:
    """One feature from the cumulative columns of its marginal cells at
    its own window."""
    w = spec.windows.index(feat.window)

    def refs(suffix: str) -> list[str]:
        return [quote_ident(_cum_name(c, w, suffix)) for c in cells]

    cnt = " + ".join(refs("cnt"))
    if feat.agg is Agg.COUNT:
        return f"CAST({cnt} AS BIGINT) AS {quote_ident(feat.name)}"
    m = feat.measure
    if feat.agg is Agg.SUM:
        expr = " + ".join(refs(f"sum_{m}"))
    elif feat.agg is Agg.AVG:
        total = " + ".join(refs(f"sum_{m}"))
        expr = f"CASE WHEN ({cnt}) > 0 THEN ({total}) / ({cnt}) END"
    elif feat.agg in (Agg.MIN, Agg.MAX):
        kind = feat.agg.value
        expr = _extreme(kind, refs(f"{kind}_{m}"))
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

    ``key_partitioned`` (r6 verdict #3 — the big_keys shuffle-volume
    axis): the default layout exchanges TWICE — map-combined partials on
    ``(key, cell)``, then the pivot re-exchanges |keys|×cells partial
    rows on ``key``. With ~1M keys the partial rows approach input size,
    so both exchanges carry ~full-input volume and the second is pure
    waste. ``key_partitioned=True`` hash-partitions the celled input on
    the KEY once; ``HashPartitioning(keys)`` satisfies the clustered
    distribution of BOTH downstream aggregates (keys ⊆ (keys, cell)),
    so the partial agg and the pivot run exchange-free in the same
    stage — ONE exchange total (plan-guarded by
    ``test_bucket_pivot_key_partitioned_single_exchange``).

    Trade-off: the single exchange moves RAW celled rows (no map-side
    combine), so this layout loses when combine is effective — few keys
    × many rows (medium: 100k keys × 1.7B rows, ~130 rows/key/task). It wins
    in the high-key-cardinality regime where rows-per-(key,cell)-per-
    task ≈ 1 and combine never fires: there the default's two ~input-
    sized exchanges become one. Callers pick per workload (the
    cross-strategy property suite pins both layouts to identical
    results)."""
    doms = _union_domains(spec)
    n_cells = n_union_cells(spec)
    if n_cells > MAX_CELLS:
        raise ValueError(
            f"{n_cells} cells exceed MAX_CELLS={MAX_CELLS}; "
            "use compile_bucket_rollup"
        )

    pruned = df.select(*spec.input_columns())
    in_scope = pruned.filter(F.col(spec.time_col) <= F.lit(max(spec.windows)))
    # NULL cell = in time scope but blocked from every grouping (out of a
    # closed/everywhere-used domain). Canonical semantics still show the
    # KEY (with all-empty features) for such rows, so they aggregate into
    # a dedicated DEAD cell that is pivoted but referenced by no feature.
    dead_cell = n_cells
    celled = in_scope.select(
        *[F.col(k) for k in spec.keys],
        F.coalesce(
            F.expr(_cell_sql(spec, doms)), F.lit(dead_cell)
        ).alias("__cell"),
        *[F.col(m) for m in spec.measures],
    )

    # one shared row count + {sum,min,max} per measure: k measures widen
    # the partial/pivot rows by 3k numerics, no extra scan or shuffle
    partial_aggs = [F.count(F.lit(1)).alias("cnt")]
    pivot_aggs = [F.first("cnt").alias("cnt")]
    for m in spec.measures:
        partial_aggs += [
            F.sum(F.col(m)).alias(f"sum_{m}"),
            F.min(F.col(m)).alias(f"min_{m}"),
            F.max(F.col(m)).alias(f"max_{m}"),
        ]
        pivot_aggs += [
            F.first(f"sum_{m}").alias(f"sum_{m}"),
            F.first(f"min_{m}").alias(f"min_{m}"),
            F.first(f"max_{m}").alias(f"max_{m}"),
        ]
    if key_partitioned:
        # one user exchange on the key; both aggregates below then run
        # exchange-free (HashPartitioning(keys) satisfies their
        # clustering requirements)
        celled = celled.repartition(*[F.col(k) for k in spec.keys])
    partial = celled.groupBy(*spec.keys, "__cell").agg(*partial_aggs)

    pivoted = (
        partial.groupBy(*spec.keys)
        .pivot("__cell", list(range(n_cells + 1)))  # +1: the dead cell
        .agg(*pivot_aggs)
    )

    # Level 3 (module docstring, step 4): shared cumulative columns per
    # used category cell × window × stat, then the features over them.
    keys = [quote_ident(k) for k in spec.keys]
    nw = len(spec.windows)
    features = spec.features()
    cells_of = [_marginal_cells(doms, feat) for feat in features]
    used = sorted({c for cells in cells_of for c in cells})
    shared = pivoted.selectExpr(
        *keys,
        *[
            _cumulative_sql(kind, suffix, c, w, nw)
            for c in used
            for w in range(nw)
            for kind, suffix in _stats(spec)
        ],
    )
    # one Py4J call + one parse each, instead of 2080 F.expr round-trips
    return shared.selectExpr(
        *keys,
        *[_rollup_sql(spec, f, cells) for f, cells in zip(features, cells_of)],
    )
