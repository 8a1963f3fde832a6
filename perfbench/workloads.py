"""The benchmark's workloads: which queries a pass runs, in which order,
and on which inputs.

A workload is a list of queries. One pass runs every query once:
read → compute → parquet write. The seed fixes the inputs: it seeds the
``ref_task`` transaction generator, and it permutes the query order of
the ``registry`` workload, whose tables are the committed copy of the
repository's deterministic TPC-H-like sf0.01 testdata (seed 42) in
``perfbench/data/sf0.01``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: ``ref_task`` input size: customers × hive partitions × days per partition
#: of the native generator (mean 25 rows per customer-day, ~0.45M rows).
#: The pass cost is mostly fixed (planning and the 2,080-column final
#: stage), so a larger input buys little signal for its generation time.
REF_CUSTOMERS = 100
REF_PARTITIONS = 6
REF_DAYS = 30

#: Registry entries whose query function runs Spark jobs itself before the
#: caller's action (cache / localCheckpoint iteration). Of the three with
#: the most time before the action in a 4-core sf0.1 suite run with the
#: event log on (pagerank 6.5 s, minhash 5.8 s, ccnet 5.7 s of the seven),
#: dedup_minhash_lsh_raw is left out: at 2.8 s of a 12 s warm sf0.01 pass
#: it was the costliest, and without it three timed passes fit a run.
ITERATIVE = (
    "pagerank_suppliers",
    "ccnet_perplexity_buckets",
)

#: Short registry entries, the ones most bound by per-query fixed cost: in
#: each workload module, the benched entry with an oracle and the shortest
#: warm pass time at sf0.1 (4 cores), where that time is at most 0.35 s.
#: Modules with no such entry contribute none.
SWEEP = (
    "users_error_no_purchase",  # relational, 0.25 s
    "q14_promo_ratio",  # tpch_extra, 0.30 s
    "dedup_exact",  # dedup, 0.28 s
    "embedding_stats",  # similarity, 0.33 s
    "dataset_split",  # sampling, 0.17 s
    "srm_check",  # mlprep, 0.32 s
)


@dataclass(frozen=True)
class Workload:
    """Why each workload was chosen is in ``BENCHMARK.json`` and
    ``perfbench/README.md``."""

    name: str
    queries: tuple[str, ...]
    #: committed table directory under ``perfbench/data``; None for the
    #: generated ref_task input
    data: str | None
    #: typical warm pass, wall seconds on a 4-core host; sets how many
    #: timed passes fill a run's measuring time
    nominal_pass_s: float

    def timed_passes(self, seconds: float) -> int:
        """Timed passes of one run measuring about ``seconds``, at least
        two: a count fixed by the arguments, not by the host's speed, so
        every run of a workload takes its medians over the same passes."""
        return max(2, round(seconds / self.nominal_pass_s))

    def order(self, seed: int) -> list[str]:
        """The pass's query order, a permutation fixed by the seed."""
        names = list(self.queries)
        random.Random(seed).shuffle(names)
        return names


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("ref_task", ("ref_task",), data=None, nominal_pass_s=13.0),
        Workload("registry", ITERATIVE + SWEEP, data="sf0.01",
                 nominal_pass_s=6.5),
    )
}
