"""Property-based cross-strategy equality.

Hypothesis drives random (spec, dataset) pairs through three physical
strategies; all must agree cell-for-cell. This is the widest net for
compiler bugs: window edge cases, unseen category values, empty combos,
multi-measure/multi-key interactions — shapes hand-written fixtures miss.

Data values are integer-valued doubles so sums are exact in any
aggregation order (the engine's own determinism discipline) — float
tolerance in the comparison is then purely about avg division.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests._budget import examples

from feature_generation_benchmark_spark.plans import (
    compile_bucket_pivot,
    compile_case_when,
    compile_grouped_map,
)
from feature_generation_benchmark_spark.spec import FeatureSpec, Grouping

CATS_A = ("a1", "a2", "a3")
CATS_B = ("b1", "b2")


@st.composite
def spec_and_rows(draw):
    windows = tuple(
        sorted(
            draw(
                st.sets(
                    st.integers(min_value=1, max_value=40),
                    min_size=1,
                    max_size=4,
                )
            )
        )
    )
    two_groupings = draw(st.booleans())
    groupings = [Grouping(cols=("ca",), domains=(CATS_A,))]
    if two_groupings:
        groupings.append(Grouping(cols=("cb",), domains=(CATS_B,)))
    n_measures = draw(st.integers(min_value=1, max_value=2))
    measures = tuple(f"m{i}" for i in range(n_measures))
    composite = draw(st.booleans())
    keys = ("k", "k2") if composite else ("k",)

    spec = FeatureSpec(
        keys=keys,
        time_col="t",
        measures=measures,
        windows=windows,
        groupings=tuple(groupings),
    )

    row = st.tuples(
        st.integers(min_value=0, max_value=4),            # k
        st.integers(min_value=0, max_value=1),            # k2
        st.sampled_from(CATS_A + ("zz",)),                # ca (zz: out of domain)
        st.sampled_from(CATS_B),                          # cb
        st.integers(min_value=0, max_value=50),           # t (may exceed max win)
        st.integers(min_value=-100, max_value=100),       # m0 (integer-valued)
        st.integers(min_value=-100, max_value=100),       # m1
    )
    rows = draw(st.lists(row, min_size=1, max_size=60))
    return spec, rows


@settings(
    max_examples=examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=spec_and_rows())
def test_strategies_agree_on_random_specs(spark, case):
    spec, rows = case
    df = spark.createDataFrame(
        [
            (k, k2, ca, cb, t, float(m0), float(m1))
            for (k, k2, ca, cb, t, m0, m1) in rows
        ],
        "k long, k2 long, ca string, cb string, t long, m0 double, m1 double",
    )
    canonical = compile_case_when(spec, df)
    ref = _collect(canonical, spec)
    for name, compiler in (
        ("bucket_pivot", compile_bucket_pivot),
        (
            "bucket_pivot_keypart",
            lambda s, d: compile_bucket_pivot(s, d, key_partitioned=True),
        ),
        ("grouped_map", compile_grouped_map),  # independent pandas impl
    ):
        got = _collect(compiler(spec, df), spec)
        assert got["__cols__"] == ref["__cols__"], name
        assert got.keys() == ref.keys(), name
        for k in ref:
            if k == "__cols__":
                continue
            for col, va, vb in zip(ref["__cols__"], ref[k], got[k]):
                if isinstance(va, float) and isinstance(vb, float):
                    assert math.isclose(
                        va, vb, rel_tol=1e-9, abs_tol=1e-9
                    ), (name, k, col, va, vb)
                else:
                    assert va == vb, (name, k, col, va, vb)


def _collect(df, spec):
    cols = sorted(df.columns)
    out = {"__cols__": cols}
    for r in df.collect():
        d = r.asDict()
        out[tuple(d[k] for k in spec.keys)] = tuple(d[c] for c in cols)
    return out
