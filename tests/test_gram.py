"""Property tests for the partition-GEMM Gram cell generator
(operators/gram.py): its summed cells equal numpy's ``mat.T @ mat`` and
column sums exactly."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.operators.gram import (
    gram_suffstat_cells,
)


def _mk_rows(spark, n, d, seed=7):
    rng = np.random.default_rng(seed)
    data = rng.integers(-500, 500, size=(n, d)).tolist()
    return spark.createDataFrame(
        [([int(v) for v in row],) for row in data], "__q array<long>"
    ), np.array(data, dtype=np.int64)


def _summed_cells(df, with_moments):
    agg = (
        gram_suffstat_cells(df, "__q", with_moments)
        .groupBy("i", "j")
        .agg(F.sum("p").alias("v"))
        .collect()
    )
    return {(r["i"], r["j"]): r["v"] for r in agg}


def _numpy_cells(mat, n_rows, with_moments):
    """Upper-triangle cells of ``mat.T @ mat`` plus, with moments, the
    column sums as ``(i, -1)`` and ``n_rows`` as ``(-1, -1)``."""
    gram = mat.T @ mat
    d = mat.shape[1]
    want = {(i, j): int(gram[i, j]) for i in range(d) for j in range(i, d)}
    if with_moments:
        sums = mat.sum(axis=0)
        want.update({(i, -1): int(sums[i]) for i in range(d)})
        want[(-1, -1)] = n_rows
    return want


@pytest.mark.parametrize("with_moments", [False, True])
@pytest.mark.parametrize("d", [5, 64, 130])
def test_gram_cells_match_numpy(spark, d, with_moments):
    """Exact integer sufficient statistics at small, mid and d > 128."""
    df, mat = _mk_rows(spark, 40, d)
    assert _summed_cells(df, with_moments) == _numpy_cells(
        mat, 40, with_moments
    )


@pytest.mark.parametrize("with_moments", [False, True])
def test_gemm_form_matches_nested(spark, with_moments):
    """The partition-GEMM form reproduces the integer sufficient
    statistics of the row-by-row definition (numpy over the zero-padded
    matrix) exactly: moment pseudo-cells, empty vectors and ragged
    vector lengths, which accumulate into the top-left block. Checked
    with the rows spread over partitions and with all of them in one
    partition, whose fold must grow its accumulator for each longer
    length."""
    df, mat = _mk_rows(spark, 40, 64)
    assert _summed_cells(df, with_moments) == _numpy_cells(
        mat, 40, with_moments
    )
    vectors = [[1, 2, 3], [], [4, -5], [7], [2, 0, -9], []]
    ragged = spark.createDataFrame(
        [(v,) for v in vectors], "__q array<long>"
    )
    d = max(map(len, vectors))
    padded = np.array(
        [v + [0] * (d - len(v)) for v in vectors], dtype=np.int64
    )
    want = _numpy_cells(padded, 4, with_moments)
    for frame in (ragged, ragged.coalesce(1)):
        assert _summed_cells(frame, with_moments) == want


def test_flat_form_drops_empty_vectors_like_nested(spark):
    """An empty vector contributes no cell: the ``(-1, -1)`` count cell
    sees only the non-empty rows, and no cell index falls below the
    ``-1`` moment pseudo-cell space."""
    df = spark.createDataFrame(
        [([1, 2],), ([],), ([3],)], "__q array<long>"
    )
    cells = _summed_cells(df, True)
    padded = np.array([[1, 2], [3, 0]], dtype=np.int64)
    assert cells == _numpy_cells(padded, 2, True)
    assert cells[(-1, -1)] == 2
    assert all(i >= -1 and j >= -1 for i, j in cells)


def test_production_form_is_partition_gemm(spark):
    """The production form folds each partition with one vectorized
    int64 GEMM inside mapInPandas (cells emitted per partition, not per
    row) — the plan must carry the Python map node and no Generate."""
    df, _ = _mk_rows(spark, 4, 6)
    plan = (
        gram_suffstat_cells(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan or "mapInPandas" in plan, plan
    assert "Generate" not in plan, plan
