"""Declarative feature specification — the engine's logical plan.

The reference benchmark defines one parameterized query family: per-entity
trailing-window conditional aggregations producing a wide feature store
(reference ``docs/index.md:120-151``; canonical expression shape
``impl/pyspark-case-when.py:46-56``). This module captures that family as a
first-class, engine-agnostic spec object. Physical strategies in
``plans/`` compile a :class:`FeatureSpec` into a Spark DataFrame plan; the
oracle generator in ``plans/oracle.py`` compiles the *same* object into
ANSI SQL, so Spark plans and correctness oracles cannot drift.

Canonical semantics (SURVEY §2.7, resolving the reference's divergences):

- time windows are **cumulative** trailing windows ``time_col <= K``
  (inclusive), not disjoint buckets;
- empty-group encoding: ``count = 0``, ``sum = 0.0``,
  ``avg/min/max = NULL``;
- rows with ``time_col`` beyond the largest window contribute to no feature;
- feature naming: ``{cat_value...}_{window}d_{agg}`` (reference
  ``impl/pyspark-case-when.py:113,126``), values joined by ``_``.
"""

from __future__ import annotations

import itertools
from dataclasses import InitVar, dataclass, field
from enum import Enum


class Agg(str, Enum):
    """Aggregations the engine supports per feature cell.

    ``count``/``sum``/``min``/``max`` are decomposable (reaggregatable from
    partials), which is what makes the bucket+rollup strategy exact; ``avg``
    is derived as ``sum/count`` (fixing the reference's mean-of-means defect,
    SURVEY §2.7.2, ``impl/pyspark-pivot.py:97-98``).
    """

    COUNT = "count"
    SUM = "sum"
    AVG = "avg"
    MIN = "min"
    MAX = "max"


CANONICAL_AGGS: tuple[Agg, ...] = (Agg.COUNT, Agg.AVG, Agg.SUM, Agg.MIN, Agg.MAX)


@dataclass(frozen=True)
class Grouping:
    """One grouping scheme: a tuple of category columns with *known* value
    domains (cartesian product).

    Known domains are a core design decision inherited from the reference's
    fastest plans (``impl/pyspark-pivot.py:106-110``,
    ``impl/duckdb_pivot-known-values.py:98-115``): compiling the domain into
    the plan avoids a values-discovery scan and keeps the plan static — at
    100 TB a DISTINCT discovery pass is a full extra scan.

    ``closed=True`` additionally asserts the domain is COMPLETE — the data
    never carries other values for these columns. Physical plans may then
    drop the out-of-domain escape hatch (``plans/bucket_pivot.py`` skips
    its per-column overflow cell slot, keeping its cell count at its
    minimum). Under the default ``closed=False``, a row that is
    out-of-domain in some column still counts toward every grouping that
    does not use that column — exact canonical semantics on any data.
    If ``closed=True`` is declared and out-of-domain values DO occur,
    bucket_pivot silently excludes those rows from all features while the
    other strategies count them — declare closed only when it's true.
    """

    cols: tuple[str, ...]
    domains: tuple[tuple[str, ...], ...]
    closed: bool = False

    def __post_init__(self) -> None:
        if len(self.cols) != len(self.domains):
            raise ValueError("one value domain per grouping column required")
        for col, dom in zip(self.cols, self.domains):
            if len(set(dom)) != len(dom):
                raise ValueError(f"duplicate values in domain of {col!r}")

    def combos(self) -> list[tuple[str, ...]]:
        """All category-value combinations, in domain order."""
        return list(itertools.product(*self.domains))


@dataclass(frozen=True)
class Feature:
    """A single fully-resolved output column."""

    name: str
    grouping: Grouping
    combo: tuple[str, ...]
    window: int
    agg: Agg
    measure: str


@dataclass(frozen=True)
class FeatureSpec:
    """The logical feature-generation query.

    Parameters mirror the reference task definition
    (``docs/index.md:120-151``): aggregate each measure per ``key`` ×
    (grouping-combo) × trailing window over ``time_col``.

    ``measures`` generalizes the reference's single ``trx_amnt`` measure
    (``docs/index.md:130-132``) to any number of value columns — the
    single biggest generality need of a real feature engine. Pass either
    ``measure="col"`` (back-compat sugar) or ``measures=("a", "b")``.
    Measures are assumed NON-NULL numeric (the reference's model): every
    strategy computes ``count`` as the matched ROW count and
    ``avg = Σsum/Σcount``, which coincide with SQL null-skipping semantics
    exactly when measures carry no NULLs.

    ``keys`` generalizes the reference's single ``customer_id`` entity key
    to composite keys (e.g. ``(customer_id, account_id)``); pass either
    ``key="col"`` (back-compat sugar) or ``keys=("a", "b")``. Every
    strategy groups on the full key tuple — one output row per distinct
    key combination.

    ``round_decimals``: when set, double-typed outputs (sum/avg/min/max) are
    rounded — used by oracle-checked queries so double summation order
    (Spark partial-agg tree vs DuckDB) cannot flip a value hash.
    """

    key: InitVar[str | None] = None
    time_col: str = ""
    measure: InitVar[str | None] = None
    windows: tuple[int, ...] = ()
    groupings: tuple[Grouping, ...] = ()
    aggs: tuple[Agg, ...] = CANONICAL_AGGS
    round_decimals: int | None = None
    measures: tuple[str, ...] = ()
    keys: tuple[str, ...] = ()

    def __post_init__(self, key: str | None, measure: str | None) -> None:
        if key is not None:
            if self.keys:
                raise ValueError("pass either key= or keys=, not both")
            object.__setattr__(self, "keys", (key,))
        if not self.keys:
            raise ValueError("at least one key column required")
        if len(set(self.keys)) != len(self.keys):
            raise ValueError("duplicate key columns")
        if not self.time_col:
            raise ValueError("time_col required")
        if measure is not None:
            if self.measures:
                raise ValueError("pass either measure= or measures=, not both")
            object.__setattr__(self, "measures", (measure,))
        if not self.measures:
            raise ValueError("at least one measure required")
        if len(set(self.measures)) != len(self.measures):
            raise ValueError("duplicate measures")
        if not self.windows:
            raise ValueError("at least one window required")
        if list(self.windows) != sorted(set(self.windows)):
            raise ValueError("windows must be strictly increasing")
        if any(w <= 0 for w in self.windows):
            raise ValueError("windows must be positive day offsets")
        if not self.groupings:
            raise ValueError("at least one grouping required")
        if not self.aggs:
            raise ValueError("at least one agg required")

    # ---- naming ---------------------------------------------------------

    def feature_name(
        self, measure: str, combo: tuple[str, ...], window: int, agg: Agg
    ) -> str:
        """``{combo}_{window}d_{agg}`` (reference naming,
        ``impl/pyspark-case-when.py:113,126``), prefixed with the measure
        name only for multi-measure specs so single-measure names stay
        byte-identical to the reference's."""
        base = f"{'_'.join(combo)}_{window}d_{agg.value}"
        if len(self.measures) == 1:
            return base
        return f"{measure}_{base}"

    def features(self) -> list[Feature]:
        """All output features, in canonical order:
        grouping → combo → window → agg → measure (reference loop order,
        ``impl/pyspark-case-when.py:102-128``, extended by the innermost
        measure loop)."""
        out: list[Feature] = []
        for grouping in self.groupings:
            for combo in grouping.combos():
                for window in self.windows:
                    for agg in self.aggs:
                        for measure in self.measures:
                            out.append(
                                Feature(
                                    name=self.feature_name(
                                        measure, combo, window, agg
                                    ),
                                    grouping=grouping,
                                    combo=combo,
                                    window=window,
                                    agg=agg,
                                    measure=measure,
                                )
                            )
        names = [f.name for f in out]
        if len(set(names)) != len(names):
            raise ValueError("feature names collide across groupings")
        return out

    def input_columns(self) -> list[str]:
        """Minimal input projection (drives column pruning)."""
        cols = {*self.keys, self.time_col, *self.measures}
        for g in self.groupings:
            cols.update(g.cols)
        return sorted(cols)

    @property
    def n_features(self) -> int:
        return sum(
            len(g.combos())
            * len(self.windows)
            * len(self.aggs)
            * len(self.measures)
            for g in self.groupings
        )


# ---------------------------------------------------------------------------
# The reference's exact task instance (for parity runs on generated data).
# Domains from the Rust generator, ``src/lib.rs:28,33-47,51``.
# ---------------------------------------------------------------------------

TRX_TYPES: tuple[str, ...] = (
    "food-and-household",
    "home",
    "uncategorized",
    "leisure-and-lifestyle",
    "health-and-beauty",
    "shopping-and-services",
    "children",
    "vacation-and-travel",
    "education",
    "insurance",
    "investments-and-savings",
    "expenses-and-other",
    "cars-and-transportation",
)
CARD_TYPES: tuple[str, ...] = ("DC", "CC")
CHANNELS: tuple[str, ...] = ("mobile", "web")
REFERENCE_WINDOWS: tuple[int, ...] = (7, 14, 21, 30, 90, 180, 360, 720)


def reference_spec(round_decimals: int | None = None) -> FeatureSpec:
    """The full 2,080-feature reference task (``docs/index.md:120-151``).

    ``closed=True``: the generator's category domains are complete
    (``src/lib.rs:28,33-47,51``), so the at-scale bucketed plan keeps its
    minimal 416-cell layout with no out-of-domain overflow slots."""
    return FeatureSpec(
        key="customer_id",
        time_col="t_minus",
        measure="trx_amnt",
        windows=REFERENCE_WINDOWS,
        groupings=(
            Grouping(
                cols=("card_type", "trx_type"),
                domains=(CARD_TYPES, TRX_TYPES),
                closed=True,
            ),
            Grouping(
                cols=("channel", "trx_type"),
                domains=(CHANNELS, TRX_TYPES),
                closed=True,
            ),
        ),
        round_decimals=round_decimals,
    )
