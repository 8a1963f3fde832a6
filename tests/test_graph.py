"""PageRank operator sanity on crafted graphs (the oracle equality lives
in the driver gate; these pin ranking behavior from first principles)."""

from __future__ import annotations

import pytest

from feature_generation_benchmark_spark.operators.graph import SCALE, pagerank


def _scores(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["score_e9"] for r in pagerank(df, **kw).collect()}


def test_symmetric_cycle_is_uniform(spark):
    # a 2-cycle: both nodes must end with identical scores
    s = _scores(spark, [(1, 2), (2, 1)])
    assert s[1] == s[2]
    # and total mass stays ~1e9 (no dangling nodes -> nothing drops)
    assert abs(s[1] + s[2] - SCALE) <= 2


def test_hub_outranks_leaves(spark):
    # star: all leaves point at the hub, hub points back at one leaf
    edges = [(i, 100) for i in range(1, 6)] + [(100, 1)]
    s = _scores(spark, edges)
    hub = s[100]
    assert all(hub > s[i] for i in range(1, 6))
    # the leaf receiving the hub's mass outranks the other leaves
    assert all(s[1] > s[i] for i in range(2, 6))


def test_damping_bounds(spark):
    with pytest.raises(ValueError):
        _scores(spark, [(1, 2), (2, 1)], damping_pct=0)
    with pytest.raises(ValueError):
        _scores(spark, [(1, 2), (2, 1)], damping_pct=100)


def test_empty_edge_list_gives_empty_scores(spark):
    df = spark.createDataFrame([], "src long, dst long")
    out = pagerank(df)
    assert out.dtypes == [("node", "bigint"), ("score_e9", "bigint")]
    assert out.collect() == []


def test_feature_propagation_smooths_toward_global_mean(spark):
    """Message passing must contract the feature spread: the variance of
    2-hop means is no larger than the variance of raw supplier balances
    (the SGC smoothing property), and every n_2hop >= n_1hop (each
    1-hop customer contributes at least the supplier's own edge back)."""
    import statistics

    from feature_generation_benchmark_spark.workloads.graph import (
        graph_feature_propagation,
    )
    from tests.conftest import SF_SMOKE

    rows = graph_feature_propagation(spark, SF_SMOKE).collect()
    assert rows
    raw = [r.s_cents for r in rows]
    h2 = [r.mean_2hop_e6 / 1e6 for r in rows]
    assert statistics.pvariance(h2) <= statistics.pvariance(raw)
    for r in rows:
        assert r.n_2hop >= r.n_1hop, r


def test_feature_propagation_multiset_2hop_vs_bruteforce_hub(spark):
    """The two-stage (linear) 2-hop must equal the multiset edge-x-edge
    definition exactly, including on a viral-hub customer — one customer
    adjacent to EVERY supplier, the skewed-degree shape the chained-agg
    plan exists for (deg(c)² fan-out avoidance, r4 verdict #4)."""
    from collections import defaultdict

    from feature_generation_benchmark_spark.operators.graph import (
        feature_propagation,
    )

    # hub customer 1 ↔ suppliers 1..8; customers 2..5 each hit 2 suppliers
    edges = [(1, s) for s in range(1, 9)] + [
        (c, s) for c in range(2, 6) for s in (c, c + 1)
    ]
    c_feats = [(c, 100 * c) for c in range(1, 6)]
    s_feats = [(s, 1000 * s + 7) for s in range(1, 9)]

    # brute force: multiset paths s -> c -> s2
    nbr_s = defaultdict(list)  # supplier -> customers
    nbr_c = defaultdict(list)  # customer -> suppliers
    for c, s in edges:
        nbr_s[s].append(c)
        nbr_c[c].append(s)
    cmap, smap = dict(c_feats), dict(s_feats)
    expect = {}
    for s in smap:
        h1 = [cmap[c] for c in nbr_s[s]]
        h2 = [smap[s2] for c in nbr_s[s] for s2 in nbr_c[c]]
        expect[s] = (
            len(h1),
            round(sum(h1) * 1e6 / len(h1)),
            len(h2),
            round(sum(h2) * 1e6 / len(h2)),
        )

    out = feature_propagation(
        spark.createDataFrame(edges, "custkey long, suppkey long"),
        spark.createDataFrame(c_feats, "custkey long, c_cents long"),
        spark.createDataFrame(s_feats, "suppkey long, s_cents long"),
    ).collect()
    assert len(out) == len(expect)
    for r in out:
        n1, m1, n2, m2 = expect[r.suppkey]
        assert (r.n_1hop, r.mean_1hop_e6, r.n_2hop, r.mean_2hop_e6) == (
            n1, m1, n2, m2,
        ), r
    # the hub makes every supplier 2-hop-reach all 8 suppliers at least once
    hub_deg = 8
    for r in out:
        assert r.n_2hop >= hub_deg
