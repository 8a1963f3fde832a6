"""Physical strategy A2+A3″ — single-pass integer-cell partial aggregation
+ long-form roll-up + one Arrow scatter. The engine's one bucketed plan:
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
3. The roll-up happens in LONG form, before the layout: each partial row
   fans out to the integer **feature-cell ids** (fids) it feeds — one
   per (grouping combo, window ≥ the cell's bucket), 2 × up to 8 for the
   reference task. The fids are decoded from the cell id by integer
   arithmetic (each column's digit, then one ``sequence`` per grouping),
   so no join, no per-row CASE WHEN, and nothing whose size grows with
   the number of cells.
4. The partials merge per ``(key, fid)`` (sum, sum, min, max) in LONG
   form, and each ``(key, fid)`` row evaluates one value column per
   (agg, measure) slot — 5 expressions for the reference task, with the
   exact ``avg = Σsum/Σcount`` and the canonical empty-group encoding
   (the §2.7.2-3 fixes).
5. One ``mapInArrow`` lays the slots out wide: per partition it gives
   each distinct key (composite, any type, NULL included) a dense id,
   scatters every row's index into a fid × key grid and gathers each
   slot's values through it, so feature ``i`` is slot ``i % per`` of fid
   ``i // per``. A fid the key never reached reads count 0, sum 0.0 and
   NULL avg/min/max; a NULL fid (the dead cell) only makes its key appear.

   Laying out with Spark instead is what this replaced: a known-values
   ``pivot`` on the fid (``PivotFirst``) plus a 2,080-expression
   projection over its slots gave 25,434 optimized-plan nodes for the
   reference task (2,582 now), and its final stage spent most of its
   time generating code for the wide projections. Rolling up in a
   projection above a cell pivot gave 53,861 with a shared per-cell
   cumulative layer and 205,803 without one.

Scale posture: one input scan, one big shuffle (reduced by map-side
partial aggregation to ≤ |keys| × n_cells rows), one tiny shuffle of
partials on the key, no join; the fan-out, the ``(key, fid)`` merge and
the scatter run inside the last stage, since ``HashPartitioning(key)``
keeps every key's rows in one partition. Python holds one partition's
long form — at most keys-in-partition × n_fids rows — plus its fid × key
index grid, and emits the wide rows in batches of at most
``_BATCH_CELLS`` columns × keys. Cell-domain size is compile-time-known
(no discovery scan); plans stay static, and their size no longer grows
with the number of features.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

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
    extra index slot for "out of domain". Two exemptions keep the cell
    count minimal: columns present in EVERY grouping (out-of-domain there
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


#: The empty-group value of each agg that has one (a fid a key never
#: reached): count 0 and sum 0.0; avg, min and max stay NULL.
_EMPTY = {Agg.COUNT: 0, Agg.SUM: 0.0}

#: Upper bound on the columns × keys cells of one output Arrow batch
#: (~32 MB of doubles), so a partition with many keys streams out in
#: several batches instead of one partition-sized one.
_BATCH_CELLS = 1 << 22


def _slot_sql(spec: FeatureSpec, agg: Agg, m: str) -> str:
    """The value of feature slot ``(agg, m)`` from one ``(key, fid)``
    row's merged stats, with the canonical null-safe forms: count and sum
    are never NULL, and ``avg = Σsum/Σcount`` is NULL on an empty cell."""
    cnt = "coalesce(cnt, 0)"
    if agg is Agg.COUNT:
        return cnt
    total = f"coalesce({quote_ident(f'sum_{m}')}, CAST(0 AS DOUBLE))"
    if agg is Agg.SUM:
        expr = total
    elif agg is Agg.AVG:
        expr = f"CASE WHEN {cnt} > 0 THEN {total} / {cnt} END"
    elif agg in (Agg.MIN, Agg.MAX):
        expr = quote_ident(f"{agg.value}_{m}")
    else:  # pragma: no cover
        raise ValueError(f"unknown agg {agg}")
    if spec.round_decimals is not None:
        expr = f"round({expr}, {spec.round_decimals})"
    return expr


def _hashable(v):
    """A nested key value (struct → dict, array → list) as a tuple."""
    if isinstance(v, dict):
        return tuple((k, _hashable(x)) for k, x in v.items())
    if isinstance(v, list):
        return tuple(_hashable(x) for x in v)
    return v


def _codes(col: pa.Array) -> np.ndarray:
    """One integer code per distinct value of ``col``, NULL included."""
    if pa.types.is_nested(col.type):  # no Arrow hash kernel for these
        seen: dict = {}
        vals = map(_hashable, col.to_pylist())
        return np.array([seen.setdefault(v, len(seen)) for v in vals])
    return pc.dictionary_encode(col, null_encoding="encode").indices.to_numpy()


def _key_ids(cols: list[pa.Array]) -> tuple[np.ndarray, list[pa.Array]]:
    """Dense id of each row's key tuple and the distinct key tuples in id
    order. Composite keys, any Arrow type and NULLs all make keys."""
    codes = [_codes(c) for c in cols]
    tuples = codes[0] if len(codes) == 1 else np.stack(codes, axis=1)
    _, first, ids = np.unique(
        tuples, axis=0, return_index=True, return_inverse=True
    )
    take = pa.array(first)
    return ids.reshape(-1), [c.take(take) for c in cols]


def _scatter(n_keys: int, n_fids: int, names: list[str], empty: list):
    """The ``mapInArrow`` body that lays out one key-partitioned
    partition's ``(keys…, __fid, slot values…)`` rows wide: one row per
    key, feature ``i`` from slot ``i % len(empty)`` at fid
    ``i // len(empty)``. A fid the key lacks takes its slot's ``empty``
    value (None → NULL); a NULL fid row only makes its key appear."""
    per = len(empty)
    step = max(1, _BATCH_CELLS // len(names))  # keys per output batch

    def lay_out(batches):
        batches = list(batches)
        if not sum(b.num_rows for b in batches):
            return
        t = pa.Table.from_batches(batches).combine_chunks()
        cols = [c.chunk(0) for c in t.columns]
        ids, keys = _key_ids(cols[:n_keys])
        fid = cols[n_keys]
        rows = np.flatnonzero(fid.is_valid().to_numpy(zero_copy_only=False))
        # row index per (fid, key) cell, −1 where the key lacks the fid
        at = np.full((n_fids, len(keys[0])), -1, np.int64)
        at[fid.take(pa.array(rows)).to_numpy(), ids[rows]] = rows
        for k0 in range(0, len(keys[0]), step):
            block = at[:, k0 : k0 + step]
            n = block.shape[1]
            gather = pa.array(block.ravel(), mask=block.ravel() < 0)
            slots = [
                v.take(gather)
                if e is None
                else v.take(gather).fill_null(pa.scalar(e, v.type))
                for v, e in zip(cols[n_keys + 1 :], empty)
            ]
            yield pa.RecordBatch.from_arrays(
                [k.slice(k0, n) for k in keys]
                + [
                    slots[i % per].slice(i // per * n, n)
                    for i in range(n_fids * per)
                ],
                names=names,
            )

    return lay_out


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
    """Compile ``spec`` into the integer-cell roll-up plan.

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
    """Cell ids, level 1, fan-out, merge and scatter over ``df``, which
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
    # HashPartitioning(keys) now satisfies the (key, fid) merge below, so
    # it adds no exchange, and it keeps each key in one scatter partition
    fanned = partial.select(
        *keys,
        F.expr(_fanout_sql(spec, doms, n_cells)).alias("__fid"),
        *[F.col(suffix) for suffix, _, _ in stats],
    )
    n_fids = _fid_bases(spec)[-1]
    # merge the partials per (key, fid), in long form
    merged = fanned.groupBy(*keys, "__fid").agg(
        *[merge.alias(suffix) for suffix, _, merge in stats]
    )
    # features() runs grouping → combo → window → agg → measure and the
    # fids run grouping → combo → window, so feature i is slot i % per of
    # fid i // per: one value column per slot, computed per (key, fid) row
    slots = [(agg, m) for agg in spec.aggs for m in spec.measures]
    values = merged.selectExpr(
        *[quote_ident(k) for k in spec.keys],
        "__fid",
        *[
            f"{_slot_sql(spec, agg, m)} AS __slot{j}"
            for j, (agg, m) in enumerate(slots)
        ],
    )
    nk, per = len(spec.keys), len(slots)
    fields = values.schema.fields
    typed = [fields[nk + 1 + i % per] for i in range(n_fids * per)]
    schema = StructType(
        fields[:nk]
        + [
            StructField(f.name, t.dataType, t.nullable)
            for f, t in zip(spec.features(), typed)
        ]
    )
    return values.mapInArrow(
        _scatter(nk, n_fids, schema.names, [_EMPTY.get(a) for a, _ in slots]),
        schema,
    )
