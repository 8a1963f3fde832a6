"""PageRank as a pure DataFrame program — the join-iteration pattern
(sibling of ``operators/kmeans.py``'s agg-iteration and
``operators/clustering.py``'s star-contraction).

Scores are carried as **e9-scaled int64** and every per-iteration op is
integer arithmetic: contribution = ``score div out_degree``, damping =
``(d·Σcontrib) div 100``, teleport = ``((100−d)·1e9) div (100·N)``. With
no floating point anywhere, the whole trajectory is bit-reproducible on
any engine — a SQL twin replays training exactly (same trick that made
k-means oracle-checkable, here with zero rounding because the domain is
already integral). The standard float formulation differs from this one
by < 1e-7 relative — irrelevant for ranking, decisive for verification.

Dangling nodes (no out-edges) drop their mass — the simplified PageRank
variant; total mass shrinks accordingly, rankings are unaffected for the
connected bipartite graphs this engine builds.

Scale posture: one shuffle per iteration pair (join scores→edges on src,
re-agg on dst); the iteration count is a compile-time constant so the
whole K-round program is ONE lazy plan. Edges and degrees are computed
once and cached by the caller if reused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**9


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    small_state: bool = False,
) -> DataFrame:
    """(src, dst) int64 edge list → (node, score_e9) after ``iterations``
    integer-quantized power steps from a uniform start.

    ``small_state=True`` declares the NODE space dim-sized (even when the
    edge list is huge — e.g. customers×suppliers trade graphs): per-node
    state (scores, degrees, in-mass) is broadcast into the edge-side joins
    and each iteration's scores are ``localCheckpoint``ed. That leaves ONE
    shuffle per iteration (the in-mass re-aggregation over edges) and caps
    lineage depth at one step, instead of three shuffle joins per
    iteration over an ever-deeper plan. For web-scale node spaces leave it
    False: state then stays partitioned and every join is a hash shuffle —
    the horizontally-scaling posture.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    bc = F.broadcast if small_state else (lambda df: df)
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    # loop invariants, each read once per iteration: cache so the K-round
    # plan re-reads a materialized RDD instead of recomputing the
    # distinct/agg subtrees K times (and the lineage stays shallow).
    # They must stay cached until the CALLER's action runs, so cleanup is
    # the caller's: unpersist via spark.catalog.clearCache() (or let LRU
    # eviction handle it) once the result is materialized.
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")).cache()
    # the node count is ONE scalar consumed by every iteration's rank
    # arithmetic: read it as a driver literal (a count over the cached
    # node-dim frame — the same class of tiny driver action as
    # bfs_hops' isEmpty) so the teleport term is a compile-time constant
    # instead of a per-row `n` column carried through a crossJoin (r8,
    # guide §2.4 — the crossJoin base frame and its cache disappear)
    n = nodes.count()
    if n == 0:
        # empty edge list: no nodes to rank (and no 1/N start or teleport)
        return nodes.select("node", F.lit(0).cast("long").alias("score_e9"))
    d = damping_pct
    teleport = ((100 - d) * SCALE) // (100 * n)  # == (100−d)·1e9 div 100·n
    # all-nodes zero-contribution rows: unioned into each iteration's
    # in-mass aggregation so every node (with in-edges or not) emits a
    # score row from ONE aggregate — replaces the per-iteration
    # `base LEFT JOIN broadcast(sums)` (a second broadcast build job per
    # round). sum semantics are unchanged: the zero row adds 0 to nodes
    # with in-mass and yields 0 for nodes without (== the old
    # coalesce(in_mass, 0)) (r8, guide §2.4 "remove shuffles outright")
    zeros = nodes.select(
        "node", F.lit(0).cast("long").alias("c")
    )
    scores = nodes.select(
        "node", F.lit(SCALE // n).cast("long").alias("score_e9")
    )
    for i in range(iterations):
        # pre-join the node-sized (score, out_deg) state BEFORE the
        # fact-sized edge join: one broadcast build + one hash-table
        # probe per edge row per iteration instead of two (r7
        # optimization, guide §3.1 — the join result is identical: both
        # joins are inner on the same key, so composing them node-side
        # first changes no rows)
        state = scores.withColumnRenamed("node", "src").join(deg, "src")
        contrib = e.join(bc(state), "src").selectExpr(
            "dst AS node", "score_e9 div out_deg AS c"
        )
        scores = (
            contrib.unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
            .selectExpr(
                "node",
                f"CAST({teleport}L + ({d}L * in_mass) div 100L AS LONG)"
                " AS score_e9",
            )
        )
        # lazy checkpoint every SECOND round (r8): every scores_i has
        # exactly one consumer (round i+1's state join), so nothing is
        # recomputed at any cadence — the cadence only trades the
        # number of separate analyzed/optimized/AQE'd sub-executions
        # (one per checkpoint) against plan depth per sub-execution
        # (checkpoint-free nesting reached 192 textual Exchange nodes
        # at K=5 and paid it in Catalyst time). Interleaved A/B at
        # sf0.1, medians of 5: every round 6.03 s, NONE 6.04 s,
        # every 2nd 5.40 s — adopted; integer trajectory identical by
        # construction at any cadence. The last round never checkpoints
        # (the caller's action is its consumer).
        if small_state and (i + 1) % 2 == 0 and i < iterations - 1:
            scores = scores.localCheckpoint(eager=False)
    return scores


def bfs_hops(
    edges: DataFrame,
    sources: list[int],
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    small_state: bool = True,
) -> DataFrame:
    """Bounded-depth min-hop BFS from a source node set — walk-level
    frontier expansion with a FINAL min-hop fold (exactly the
    depth-bounded recursive-CTE + ``min(hop)`` shape of its SQL twin).
    Returns ``(node, hop)`` with one row per reached node carrying its
    minimum hop count; the whole program is integer-only, so the twin
    replays it exactly.

    Per hop ONE fact-sized op: frontier ⋈ edges on ``src`` → project
    ``dst`` → dedup. Levels are stamped and unioned; ``min(hop)`` per
    node at the end picks the BFS distance. The classic per-level
    visited anti-join is deliberately absent (r8): it never changes the
    min-hop result — it only shrinks later frontiers — and it cost a
    second node-sized broadcast build + an anti-join probe EVERY level.
    Each level's frontier is still ``distinct`` and therefore bounded by
    the node dim, so a level never exceeds one |edges| probe + one
    node-bounded dedup regardless of revisits; for small bounded depths
    (this engine's use) the dropped per-level pruning is strictly
    cheaper. Frontiers are NODE-sized; with ``small_state=True`` they
    broadcast into the edge-side join, leaving one shuffle per hop (the
    dedup agg). Each level is LAZILY ``localCheckpoint``ed: a level
    feeds two consumers (the next level's broadcast build and the final
    fold), so the pin makes the level's edge probe run once — but with
    ``eager=False`` no per-level ACTION runs; the whole K-level program
    is ONE Catalyst pipeline executed by the caller's single action (r8
    — the old per-level ``isEmpty`` early-exit forced K driver actions;
    on a dead-end graph the redundant tail levels it skipped are now
    empty-frontier joins that AQE collapses via empty-relation
    propagation, and the fold is unchanged either way). For web-scale
    node spaces set ``small_state=False``: state then stays
    hash-partitioned on the node key and every join/dedup shuffles —
    the horizontally-scaling posture.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    bc = F.broadcast if small_state else (lambda df: df)
    e = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )
    src_level = spark.createDataFrame(
        [(int(s),) for s in dict.fromkeys(sources)], "node long"
    ).localCheckpoint(eager=False)
    levels = [src_level.select("node", F.lit(0).cast("int").alias("hop"))]
    frontier = src_level
    for h in range(1, max_hops + 1):
        frontier = bfs_level(e, frontier, bc).localCheckpoint(eager=False)
        levels.append(
            frontier.select("node", F.lit(h).cast("int").alias("hop"))
        )
    stacked = levels[0]
    for lv in levels[1:]:
        stacked = stacked.union(lv)
    # min over all walk levels == BFS distance; sources keep hop 0
    return stacked.groupBy("node").agg(F.min("hop").alias("hop"))


def bfs_level(e, frontier, bc=F.broadcast):
    """One walk level: the distinct successor set of ``frontier``. Split
    out of :func:`bfs_hops` so plan tests can assert the level's join
    strategy — the loop consumes each level through a
    ``localCheckpoint``, which hides the join plan from the returned
    frame."""
    return (
        e.join(bc(frontier.withColumnRenamed("node", "src")), "src")
        .select(F.col("dst").alias("node"))
        .distinct()
    )


def feature_propagation(
    edges: DataFrame, cust_feats: DataFrame, supp_feats: DataFrame
) -> DataFrame:
    """SGC-style 1- and 2-hop neighbor-mean aggregation over a bipartite
    (custkey, suppkey) edge set, per supplier — MULTISET path semantics:
    a supplier reachable via k shared customers contributes k times
    (self-paths included), the standard GNN message-passing weighting.

    2-hop is computed as TWO chained keyed aggregations — a per-customer
    sum/count over its supplier neighborhood, then a per-supplier sum of
    those customer totals:

        n_2hop(s)   = Σ_{c∈N(s)} deg(c)
        sum_2hop(s) = Σ_{c∈N(s)} Σ_{s2∈N(c)} x_{s2}

    This is exactly the multiset edge ⋈ edge 2-hop, but linear in
    |edges|: a viral-hub customer of degree D costs ONE wide aggregate
    row instead of D² joined rows (the skewed-key straggler the naive
    self-join plan produces at scale). Inputs: ``edges(custkey,
    suppkey)`` distinct, ``cust_feats(custkey, c_cents)``,
    ``supp_feats(suppkey, s_cents)``; all sums exact integer cents, the
    two means single e6-quantized divisions."""
    h1 = (
        edges.join(cust_feats, "custkey")
        .groupBy("suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_1hop"),
            F.sum("c_cents").alias("sum_1hop_cents"),
        )
    )
    cust_totals = (
        edges.join(supp_feats, "suppkey")
        .groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("deg_c"),
            F.sum("s_cents").alias("c_sup_sum"),
        )
    )
    h2 = (
        edges.join(cust_totals, "custkey")
        .groupBy("suppkey")
        .agg(
            F.sum("deg_c").alias("n_2hop"),
            F.sum("c_sup_sum").alias("sum_2hop_cents"),
        )
    )
    return (
        supp_feats.join(h1, "suppkey")
        .join(h2, "suppkey")
        .select(
            "suppkey",
            "s_cents",
            "n_1hop",
            F.round(
                F.col("sum_1hop_cents") * F.lit(1e6) / F.col("n_1hop"), 0
            )
            .cast("long")
            .alias("mean_1hop_e6"),
            "n_2hop",
            F.round(
                F.col("sum_2hop_cents") * F.lit(1e6) / F.col("n_2hop"), 0
            )
            .cast("long")
            .alias("mean_2hop_e6"),
        )
    )
