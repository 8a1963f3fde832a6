"""Distributed Gram-matrix sufficient statistics — shared by
``embedding_gram_matrix`` and ``pca_power_iteration``.

One pass over quantized vectors emits upper-triangle product cells
``(i, j, p=q_i*q_j)`` (plus optional moment pseudo-cells: per-dim sums as
``(i, -1, q_i)`` and the row count as ``(-1, -1, 1)``) into a single
map-combined aggregate, so the only exchange carries ≤ P × (d(d+1)/2 +
d + 1) partial cells regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_suffstat_cells(
    rows: DataFrame,
    qcol: str = "__q",
    with_moments: bool = False,
) -> DataFrame:
    """``rows[qcol]: array<long>`` → un-aggregated cell rows
    ``(i int, j int, p long)`` for the upper triangle (j ≥ i), plus
    moment pseudo-cells when ``with_moments``. Callers aggregate with
    ``groupBy("i", "j").agg(F.sum("p"))``.

    Built by the partition-GEMM ``_gemm_cells`` — one vectorized int64
    ``Vᵀ·V`` per Arrow batch inside ``mapInPandas``, emitting the
    d(d+1)/2 cells once per PARTITION instead of once per ROW
    (``tests/test_gram.py`` pins the cells against numpy).
    """
    return _gemm_cells(rows, qcol, with_moments)


def _gemm_cells(rows: DataFrame, qcol: str, with_moments: bool) -> DataFrame:
    """Partition-level sufficient statistics: each task folds its whole
    partition into one d×d int64 Gram accumulator with numpy matmuls
    (exact — int64 arithmetic end to end, same overflow envelope as the
    long sums the downstream aggregate already performs) and emits the
    upper triangle once. The shuffle then carries ≤ P × (d(d+1)/2 + d +
    1) cells — the same bound as before, but the pre-shuffle work drops
    from n·d²/2 codegen'd cell evaluations to n·d²/2 fused MACs plus a
    d²-sized emit per task. Ragged inputs accumulate per-length into the
    top-left block, which equals the Gram of the zero-padded rows; empty
    vectors are dropped, so the count cell counts non-empty rows only."""
    import numpy as np
    import pandas as pd

    def fold(batches):
        G = np.zeros((0, 0), dtype=np.int64)
        s = np.zeros(0, dtype=np.int64)
        n = 0
        for pdf in batches:
            arrs = pdf[qcol].to_numpy()
            if len(arrs) == 0:
                continue
            lens = np.fromiter(
                (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
            )
            for ln in np.unique(lens):
                V = np.stack(arrs[lens == ln]).astype(np.int64)
                if ln > G.shape[0]:
                    G2 = np.zeros((ln, ln), dtype=np.int64)
                    G2[: G.shape[0], : G.shape[0]] = G
                    G = G2
                    s2 = np.zeros(ln, dtype=np.int64)
                    s2[: s.shape[0]] = s
                    s = s2
                G[:ln, :ln] += V.T @ V
                s[:ln] += V.sum(axis=0)
                n += V.shape[0]
        if n == 0:
            return
        d = G.shape[0]
        iu, ju = np.triu_indices(d)
        out = pd.DataFrame(
            {
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "p": G[iu, ju],
            }
        )
        if with_moments:
            out = pd.concat(
                [
                    out,
                    pd.DataFrame(
                        {
                            "i": np.arange(d, dtype="int32"),
                            "j": np.full(d, -1, dtype="int32"),
                            "p": s,
                        }
                    ),
                    pd.DataFrame({"i": [-1], "j": [-1], "p": [n]}),
                ],
                ignore_index=True,
            )
        yield out

    return (
        # drops empty and NULL (size −1) vectors before the Arrow boundary
        rows.filter(F.size(qcol) > 0)
        .select(qcol)  # only the vector crosses the Arrow boundary
        .mapInPandas(fold, "i int, j int, p long")
    )

