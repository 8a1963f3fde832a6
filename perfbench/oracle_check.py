"""Compare a query's parquet output with its DuckDB oracle result.

Both sides arrive as Arrow tables. Rows are matched order-insensitively
(both sides are sorted by every column) and columns by name. Integral
columns (ints, booleans, dates, timestamps, scale-0 decimals such as
DuckDB's HUGEINT sums) must match exactly; floating columns match within
a relative tolerance; everything else (strings, arrays, maps, structs)
must match exactly after canonicalisation. SQL NULL and float NaN are the
same value, as in the repository's correctness gate.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

#: Decimal places floats are rounded to for the row sort key only. The
#: comparison itself uses the relative tolerance.
_SORT_DECIMALS = 6


def _is_integral(t: pa.DataType) -> bool:
    return (
        pa.types.is_integer(t)
        or pa.types.is_boolean(t)
        or pa.types.is_date(t)
        or pa.types.is_timestamp(t)
        or (pa.types.is_decimal(t) and t.scale == 0)
    )


def _is_floating(t: pa.DataType) -> bool:
    return pa.types.is_floating(t) or pa.types.is_decimal(t)


def _integral(col: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(int64 values, null mask). Timestamps become epoch microseconds,
    whatever their unit and zone; dates become epoch days."""
    t = col.type
    if pa.types.is_timestamp(t):
        col = pc.cast(col, pa.timestamp("us", tz=t.tz), safe=False)
        col = pc.cast(col, pa.int64())
    elif pa.types.is_date(t):
        col = pc.cast(pc.cast(col, pa.date32()), pa.int32())
    col = pc.cast(col, pa.int64())
    nulls = col.is_null().to_numpy(zero_copy_only=False)
    vals = pc.fill_null(col, 0).to_numpy(zero_copy_only=False)
    return vals.astype(np.int64), nulls


def _floating(col: pa.ChunkedArray) -> np.ndarray:
    """float64 values with NULL as NaN."""
    col = pc.cast(col, pa.float64())
    return pc.fill_null(col, math.nan).to_numpy(zero_copy_only=False)


def _canon(v):
    """Hashable canonical form of a nested cell."""
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        # map columns arrive as lists of (key, value) tuples
        return tuple(_canon(x) for x in v)
    return v


def _objects(col: pa.ChunkedArray) -> list:
    return [repr(_canon(v)) for v in col.to_pylist()]


def _column_kind(a: pa.DataType, b: pa.DataType) -> str:
    if _is_integral(a) and _is_integral(b):
        return "int"
    if (_is_integral(a) or _is_floating(a)) and (
        _is_integral(b) or _is_floating(b)
    ):
        return "float"
    return "object"


def compare_tables(got: pa.Table, want: pa.Table, rel_tol: float) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if sorted(got.column_names) != sorted(want.column_names):
        extra = sorted(set(got.column_names) - set(want.column_names))
        missing = sorted(set(want.column_names) - set(got.column_names))
        return f"columns differ: extra={extra[:5]} missing={missing[:5]}"
    if got.num_rows != want.num_rows:
        return f"row count {got.num_rows} != {want.num_rows}"
    if got.num_rows == 0:
        return None

    names = sorted(got.column_names)
    kinds = {
        n: _column_kind(got.schema.field(n).type, want.schema.field(n).type)
        for n in names
    }
    cols: dict[str, tuple] = {}
    sort_keys: list[tuple[np.ndarray, np.ndarray]] = []
    float_keys: list[tuple[np.ndarray, np.ndarray]] = []
    for n in names:
        if kinds[n] == "int":
            (ga, gn), (wa, wn) = _integral(got[n]), _integral(want[n])
            cols[n] = (ga, gn, wa, wn)
            sort_keys += [(gn, wn), (ga, wa)]
        elif kinds[n] == "float":
            ga, wa = _floating(got[n]), _floating(want[n])
            cols[n] = (ga, wa)
            gr = np.nan_to_num(np.round(ga, _SORT_DECIMALS), nan=np.inf)
            wr = np.nan_to_num(np.round(wa, _SORT_DECIMALS), nan=np.inf)
            float_keys.append((gr, wr))
        else:
            go, wo = _objects(got[n]), _objects(want[n])
            # one code space for both sides, so codes sort identically
            _, codes = np.unique(np.array(go + wo, dtype=object),
                                 return_inverse=True)
            gc, wc = codes[: len(go)], codes[len(go):]
            cols[n] = (gc, wc)
            sort_keys.append((gc, wc))
    # exact keys first: a float that rounds across a sort-key boundary then
    # only reorders rows that tie on every exact column
    keys = sort_keys + float_keys
    g_order = np.lexsort([k[0] for k in reversed(keys)])
    w_order = np.lexsort([k[1] for k in reversed(keys)])

    for n in names:
        if kinds[n] == "int":
            ga, gn, wa, wn = cols[n]
            ga, gn, wa, wn = ga[g_order], gn[g_order], wa[w_order], wn[w_order]
            bad = (gn != wn) | (~gn & (ga != wa))
        elif kinds[n] == "float":
            ga, wa = cols[n][0][g_order], cols[n][1][w_order]
            both_nan = np.isnan(ga) & np.isnan(wa)
            scale = np.maximum(np.abs(ga), np.abs(wa))
            with np.errstate(invalid="ignore"):
                close = (ga == wa) | (np.abs(ga - wa) <= rel_tol * scale)
            bad = ~(both_nan | close)
        else:
            gc, wc = cols[n]
            bad = gc[g_order] != wc[w_order]
        n_bad = int(np.count_nonzero(bad))
        if n_bad:
            i = int(np.argmax(bad))
            return (
                f"column {n!r} differs in {n_bad}/{got.num_rows} rows "
                f"(first at sorted row {i})"
            )
    return None


def spec_oracle(con, spec, table: str) -> pa.Table:
    """DuckDB evaluation of a single-key, single-measure FeatureSpec,
    with the semantics of ``plans.oracle.oracle_sql_for_spec``.

    That SQL holds one FILTER aggregate per feature, and DuckDB exceeds a
    5 GB memory limit on the 2,080 of the reference task. Here DuckDB
    aggregates the long form instead, one row per (key, category combo,
    window), and the rows are scattered into the wide layout with NumPy:
    count is 0 and sum 0.0 where a cell has no rows, avg, min and max are
    NULL there. ``perfbench/tests`` checks the two agree.
    """
    if spec.round_decimals is not None:
        raise ValueError("spec_oracle does not round; use oracle_sql_for_spec")
    (key,), (measure,) = spec.keys, spec.measures
    t_col, max_w = spec.time_col, max(spec.windows)
    windows = np.array(spec.windows, dtype=np.int64)
    keys = con.execute(
        f'SELECT DISTINCT "{key}" FROM {table} WHERE "{t_col}" <= {max_w} '
        f'ORDER BY 1'
    ).fetchnumpy()[key]
    cells: dict[tuple, dict[str, np.ndarray]] = {}
    win_values = ", ".join(f"({w})" for w in spec.windows)
    for g in spec.groupings:
        cat_sql = ", ".join(f'"{c}"' for c in g.cols)
        long = con.execute(
            f'SELECT "{key}", {cat_sql}, w.win, count(*) AS n, '
            f'sum("{measure}") AS s, min("{measure}") AS lo, '
            f'max("{measure}") AS hi '
            f"FROM {table} JOIN (VALUES {win_values}) w(win) "
            f'ON "{t_col}" <= w.win '
            f'GROUP BY "{key}", {cat_sql}, w.win'
        ).fetchnumpy()
        combos = {c: i for i, c in enumerate(g.combos())}
        row_combo = np.array(
            [combos.get(c, -1) for c in zip(*(long[c] for c in g.cols))],
            dtype=np.int64,
        )
        keep = row_combo >= 0  # out-of-domain rows match no feature
        k = np.searchsorted(keys, long[key])[keep]
        c = row_combo[keep]
        w = np.searchsorted(windows, long["win"])[keep]
        shape = (len(keys), len(combos), len(windows))
        n = np.zeros(shape, dtype=np.int64)
        s = np.zeros(shape)
        lo = np.full(shape, np.nan)
        hi = np.full(shape, np.nan)
        n[k, c, w] = long["n"][keep]
        s[k, c, w] = long["s"][keep]
        lo[k, c, w] = long["lo"][keep]
        hi[k, c, w] = long["hi"][keep]
        with np.errstate(invalid="ignore", divide="ignore"):
            avg = np.where(n > 0, s / np.maximum(n, 1), np.nan)
        cells[g.cols] = {
            "count": n, "sum": s, "avg": avg, "min": lo, "max": hi,
            "combos": combos,
        }
    columns = {key: pa.array(keys)}
    win_index = {int(v): i for i, v in enumerate(windows)}
    for f in spec.features():
        grid = cells[f.grouping.cols]
        vals = grid[f.agg.value][:, grid["combos"][f.combo],
                                 win_index[f.window]]
        if f.agg.value in ("avg", "min", "max"):
            columns[f.name] = pa.array(vals, mask=np.isnan(vals))
        else:
            columns[f.name] = pa.array(vals)
    return pa.table(columns)
