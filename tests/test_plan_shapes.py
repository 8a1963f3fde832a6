"""Physical-plan regression tests — the scale claims, asserted.

These freeze the plan *shapes* that make the strategies viable at 100 TB:
shuffle counts, parquet predicate pushdown, and broadcast choices. A
regression here (an extra Exchange, a filter that stopped pushing down)
is a performance bug even while results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.plans import compile_case_when
from feature_generation_benchmark_spark.spec import FeatureSpec, Grouping


@pytest.fixture(scope="module")
def spec():
    return FeatureSpec(
        key="customer_id",
        time_col="t_minus",
        measure="trx_amnt",
        windows=(7, 14, 30),
        groupings=(
            Grouping(cols=("card_type",), domains=(("DC", "CC"),)),
        ),
    )


@pytest.fixture(scope="module")
def trx_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "trx.parquet")
    rows = [
        (i % 50, "DC" if i % 4 else "CC", float(100 + i), i % 60)
        for i in range(2000)
    ]
    spark.createDataFrame(
        rows, "customer_id long, card_type string, trx_amnt double, t_minus long"
    ).write.parquet(path)
    return path


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_case_when_is_single_shuffle(spark, spec, trx_path):
    plan = _physical(compile_case_when(spec, spark.read.parquet(trx_path)))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_window_cutoff_pushes_to_scan(spark, spec, trx_path):
    plan = _physical(compile_case_when(spec, spark.read.parquet(trx_path)))
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "LessThanOrEqual(t_minus,30)" in pushed, pushed


def test_scan_schema_is_pruned(spark, spec, trx_path):
    # the measure/key/time/category columns are all this spec needs; a spec
    # not using some table column must not read it
    df = spark.read.parquet(trx_path).withColumn("unused", F.lit(1))
    plan = _physical(compile_case_when(spec, spark.read.parquet(trx_path)))
    schema_part = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("customer_id", "card_type", "trx_amnt", "t_minus"):
        assert col in schema_part


def test_broadcast_join_for_small_dim(spark, trx_path):
    big = spark.read.parquet(trx_path)
    dim = spark.createDataFrame(
        [("DC", "debit"), ("CC", "credit")], "card_type string, label string"
    )
    plan = _physical(big.join(F.broadcast(dim), "card_type"))
    assert "BroadcastHashJoin" in plan


def test_interval_join_is_equi_join(spark):
    """The bucketed rewrite must plan as a hash-partitioned equi-join —
    never BroadcastNestedLoopJoin/CartesianProduct, which is what the naive
    theta-join formulation degenerates to."""
    from feature_generation_benchmark_spark.operators.joins import (
        interval_join,
    )
    from pyspark.sql import functions as F

    pts = spark.range(0, 1000).select(
        F.col("id").alias("pid"), (F.col("id") % 997).alias("t")
    )
    ivl = spark.range(0, 100).select(
        F.col("id").alias("iid"),
        (F.col("id") * 10).alias("s"),
        (F.col("id") * 10 + 25).alias("e"),
    )
    plan = _physical(interval_join(pts, ivl, "t", "s", "e", bucket_width=25))
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    naive = pts.join(
        ivl, (F.col("t") >= F.col("s")) & (F.col("t") < F.col("e"))
    )
    assert "NestedLoop" in _physical(naive) or "CartesianProduct" in _physical(
        naive
    )


def test_bucket_pivot_is_two_shuffles(spark, spec, trx_path):
    from feature_generation_benchmark_spark.plans import compile_bucket_pivot

    plan = _physical(compile_bucket_pivot(spec, spark.read.parquet(trx_path)))
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_bucket_pivot_reference_plan_size(spark, tmp_path):
    """The 2,080 features are laid out by one Arrow scatter: the plan
    merges the partials per (key, feature cell) in long form, computes one
    value column per (agg, measure) slot — 5 expressions for the reference
    task, not 2,080 — and widens them in a single ``mapInArrow``, with no
    Spark ``pivot``. The optimized plan has ~2.6k nodes; the pivot and a
    2,080-expression projection over its slots gave 25,434, and rolling
    the windows up above the pivot gave 53,861 with a shared cumulative
    layer and 205,803 without one."""
    from feature_generation_benchmark_spark.plans import compile_bucket_pivot
    from feature_generation_benchmark_spark.spec import reference_spec

    path = str(tmp_path / "trx.parquet")
    spark.createDataFrame(
        [
            (1, "DC", "home", "web", 5.0, 3),
            (2, "CC", "children", "mobile", 7.0, 90),
        ],
        "customer_id long, card_type string, trx_type string, "
        "channel string, trx_amnt double, t_minus long",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    qe = compile_bucket_pivot(reference_spec(), df)._jdf.queryExecution()
    plan = qe.optimizedPlan().toJSON()
    # every node of the plan JSON carries one "class" key
    nodes = plan.count('"class":')
    assert nodes <= 3_000, nodes
    assert "pivotfirst" not in plan.lower()


def test_bucket_pivot_aggregates_only_the_stats_the_aggs_read(
    spark, trx_path
):
    """A count-only spec carries the row count through the partial
    aggregate and the pivot, and no measure sum/min/max. Checked on the
    analyzed plan: the optimizer would prune unread aggregates anyway,
    but only after analysis has paid for every one of them."""
    from feature_generation_benchmark_spark.plans import compile_bucket_pivot
    from feature_generation_benchmark_spark.spec import Agg

    count_only = FeatureSpec(
        key="customer_id",
        time_col="t_minus",
        measure="trx_amnt",
        windows=(7, 14, 30),
        groupings=(Grouping(cols=("card_type",), domains=(("DC", "CC"),)),),
        aggs=(Agg.COUNT,),
    )
    df = compile_bucket_pivot(count_only, spark.read.parquet(trx_path))
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "count(" in plan, plan
    for agg in ("min(", "max(", "sum(trx_amnt"):
        assert agg not in plan, (agg, plan)


def test_bucket_pivot_key_partitioned_single_exchange(spark, spec, trx_path):
    """big_keys shuffle volume: with key_partitioned=True
    the celled input exchanges ONCE on the key; HashPartitioning(key)
    satisfies the clustering of both the (key, cell) partial agg and the
    pivot, so neither adds an Exchange — and the results are identical
    to the default two-exchange layout."""
    from feature_generation_benchmark_spark.plans import compile_bucket_pivot

    df = spark.read.parquet(trx_path)
    kp = compile_bucket_pivot(spec, df, key_partitioned=True)
    plan = _physical(kp)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    default = compile_bucket_pivot(spec, df)
    cols = sorted(kp.columns)
    a = {r["customer_id"]: tuple(r[c] for c in cols) for r in kp.collect()}
    b = {
        r["customer_id"]: tuple(r[c] for c in cols)
        for r in default.collect()
    }
    assert a == b and a


def test_multi_measure_adds_no_shuffles(spark, trx_path):
    """A second measure must widen partial rows, not the plan: same two
    shuffles, one scan, and the window cutoff still pushed to the scan."""
    from feature_generation_benchmark_spark.plans import compile_bucket_pivot

    spec2 = FeatureSpec(
        key="customer_id",
        time_col="t_minus",
        measures=("trx_amnt", "t_minus_d"),
        windows=(7, 14, 30),
        groupings=(Grouping(cols=("card_type",), domains=(("DC", "CC"),)),),
    )
    src = spark.read.parquet(trx_path).withColumn(
        "t_minus_d", F.col("t_minus").cast("double")
    )
    plan = _physical(compile_bucket_pivot(spec2, src))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Scan parquet") == 1, plan
    cw = _physical(
        compile_case_when(
            FeatureSpec(
                key="customer_id",
                time_col="t_minus",
                measures=("trx_amnt",),
                windows=(7, 14, 30),
                groupings=(
                    Grouping(cols=("card_type",), domains=(("DC", "CC"),)),
                ),
            ),
            spark.read.parquet(trx_path),
        )
    )
    assert "LessThanOrEqual(t_minus,30)" in cw


def test_incremental_serving_is_single_shuffle(spark, spec, trx_path):
    """Serving from day partials must cost ONE shuffle over the (tiny)
    partials — never re-shuffle anything input-sized."""
    from feature_generation_benchmark_spark.plans.incremental import (
        compile_day_partials,
        features_asof,
    )

    dated = spark.read.parquet(trx_path).withColumn(
        "day", (F.lit(1000) - F.col("t_minus")).cast("long")
    )
    partials = compile_day_partials(spec, dated, "day")
    assert _physical(partials).count("Exchange hashpartitioning") == 1
    served = features_asof(spec, partials, 1000, "day")
    # end-to-end: partials shuffle + the keys re-aggregation
    assert _physical(served).count("Exchange hashpartitioning") == 2


def test_doc_chunking_is_shuffle_free(spark):
    """Chunking is a pure per-row flatMap — any Exchange in its plan is a
    regression (the whole point is embarrassing parallelism at 100 TB)."""
    from feature_generation_benchmark_spark.workloads.sampling import (
        doc_chunking,
    )

    plan = _physical(doc_chunking(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan, plan


def test_pii_redaction_is_shuffle_free(spark):
    """PII scrub is pure column work — an Exchange would mean a planner
    regression in what must stay an embarrassingly-parallel map."""
    from feature_generation_benchmark_spark.workloads.curation import (
        pii_redaction,
    )

    plan = _physical(pii_redaction(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan, plan


def test_latest_state_compaction_is_single_shuffle(spark):
    """CDC compaction must fold the latest event AND lifetime aggregates in
    one hash aggregation — a second Exchange means the max(struct) plan
    degraded into a window + join."""
    from feature_generation_benchmark_spark.workloads.curation import (
        latest_state_compaction,
    )

    plan = _physical(latest_state_compaction(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_mixture_sampling_broadcasts_rates(spark):
    """The corpus side must be scanned once and filtered via a BROADCAST of
    the 20-row rates — a SortMergeJoin here would shuffle the full corpus
    at 100 TB for a dim-sized model."""
    from feature_generation_benchmark_spark.workloads.curation import (
        mixture_sampling,
    )

    plan = _physical(mixture_sampling(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semdedup_candidates_are_equi_join(spark):
    """SemDeDup's intra-cluster comparison must plan as a cell-id equality
    join — a CartesianProduct/BroadcastNestedLoopJoin would be the
    all-pairs blowup the clustering exists to avoid."""
    from feature_generation_benchmark_spark.workloads.similarity import (
        semdedup,
    )

    plan = _physical(semdedup(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dup_ngram_spans_no_cartesian(spark):
    """Duplicate-ngram coverage joins instances to the duplicated-shingle
    set by ngram equality; any nested-loop join is a regression."""
    from feature_generation_benchmark_spark.workloads.curation import (
        dup_ngram_spans,
    )

    plan = _physical(dup_ngram_spans(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_default_ngram_jaccard_entry_has_prefix_pruning(spark):
    """The default-named jaccard entry must serve the
    AllPairs prefix-filtered plan (scale-safe on Zipfian corpora). The
    prefix pass shows up as the frequency-ordered row_number window;
    the naive baseline entry must NOT pay for it."""
    from feature_generation_benchmark_spark.workloads.dedup import (
        dedup_ngram_jaccard,
        dedup_ngram_jaccard_naive,
    )

    plan = _physical(dedup_ngram_jaccard(spark, "/root/testdata/sf0.001"))
    assert "row_number" in plan, plan
    naive = _physical(
        dedup_ngram_jaccard_naive(spark, "/root/testdata/sf0.001")
    )
    assert "row_number" not in naive, naive


def test_curation_pipeline_one_scan_two_shuffles(spark):
    """The composed pipeline's cost model: ONE scan of documents (all
    per-doc signals in a single projection) and exactly two Exchanges —
    the dedup window on fp and the final stats group-by."""
    from feature_generation_benchmark_spark.workloads.curation import (
        curation_pipeline,
    )

    plan = _physical(curation_pipeline(spark, "/root/testdata/sf0.001"))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_q4_exists_plans_as_semi_join(spark):
    """The EXISTS must stay a LEFT SEMI join (no row multiplication, no
    distinct-after-inner-join rewrite)."""
    from feature_generation_benchmark_spark.workloads.relational import (
        q4_order_priority,
    )

    plan = _physical(q4_order_priority(spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan, plan


def test_q10_broadcasts_dims(spark):
    from feature_generation_benchmark_spark.workloads.relational import (
        q10_returned_revenue,
    )

    plan = _physical(q10_returned_revenue(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q7_single_fact_fact_shuffle_join(spark):
    """lineitem↔orders is the only non-broadcast join; supplier, customer
    and both nation copies must ride in as broadcasts."""
    from feature_generation_benchmark_spark.workloads.tpch_extra import (
        q7_nation_volume,
    )

    plan = _physical(q7_nation_volume(spark, "/root/testdata/sf0.001"))
    # all four dim lanes broadcast (at sf0.001 even orders does — 5)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    ) <= 1, plan


def test_q13_is_outer_join(spark):
    """The zero-order bucket only exists if the join stays LEFT OUTER."""
    from feature_generation_benchmark_spark.workloads.tpch_extra import (
        q13_order_histogram,
    )

    plan = _physical(q13_order_histogram(spark, "/root/testdata/sf0.001"))
    assert "LeftOuter" in plan or "RightOuter" in plan, plan


def test_q19_disjunction_prunes_part_scan(spark):
    """The brand disjunction must push to the part scan as a filter (not
    evaluate post-join): the part side of the broadcast join reads with a
    brand/size predicate."""
    from feature_generation_benchmark_spark.workloads.tpch_extra import (
        q19_disjunct_revenue,
    )

    plan = _physical(q19_disjunct_revenue(spark, "/root/testdata/sf0.001"))
    assert "Brand#12" in plan and "PushedFilters" in plan, plan


def test_q21_has_no_expand(spark):
    """The stacked-aggregation form must never regress to the Expand-based
    double COUNT(DISTINCT) plan."""
    from feature_generation_benchmark_spark.workloads.tpch_extra import (
        q21_blamed_suppliers,
    )

    plan = _physical(q21_blamed_suppliers(spark, "/root/testdata/sf0.001"))
    assert "Expand" not in plan, plan


def test_q22_anti_join_and_broadcast_scalar(spark):
    from feature_generation_benchmark_spark.workloads.tpch_extra import (
        q22_dormant_customers,
    )

    plan = _physical(q22_dormant_customers(spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_window_funcs_single_exchange(spark):
    """All five window frames share one user_id partitioning: exactly one
    Exchange and one Sort."""
    from feature_generation_benchmark_spark.workloads.relational import (
        window_funcs_events,
    )

    plan = _physical(window_funcs_events(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") <= 2, plan


def test_q2_argmin_has_no_window_or_self_join(spark):
    """min(struct) decorrelation: no Window operator and no second pass
    over offers (a correlated-min rewrite would show either)."""
    from feature_generation_benchmark_spark.workloads.tpch_extra import (
        q2_cheapest_supplier,
    )

    plan = _physical(q2_cheapest_supplier(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan, plan
    assert plan.count("FileScan parquet") <= 3, plan  # lineitem+part+supplier


def test_q11_threshold_is_broadcast_not_window(spark):
    from feature_generation_benchmark_spark.workloads.tpch_extra import (
        q11_important_stock,
    )

    plan = _physical(q11_important_stock(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q20_is_semi_join(spark):
    from feature_generation_benchmark_spark.workloads.tpch_extra import (
        q20_heavy_promo_suppliers,
    )

    plan = _physical(q20_heavy_promo_suppliers(spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan, plan


def test_dynamic_partition_pruning_on_hive_layout(spark, tmp_path_factory):
    """A fact table hive-partitioned on part_col, joined to a FILTERED dim
    on the partition key, must plan a dynamicpruning subquery on the scan —
    at 100 TB this is the difference between scanning every partition and
    only the ones the dim filter selects."""
    root = str(tmp_path_factory.mktemp("dpp"))
    fact_rows = [(i, f"partition_{i % 8}", float(i)) for i in range(4000)]
    spark.createDataFrame(
        fact_rows, "k long, part_col string, v double"
    ).write.mode("overwrite").partitionBy("part_col").parquet(f"{root}/fact")
    dim_rows = [(f"partition_{i}", "keep" if i < 2 else "drop") for i in range(8)]
    spark.createDataFrame(dim_rows, "part_col string, tag string").write.mode(
        "overwrite"
    ).parquet(f"{root}/dim")

    fact = spark.read.parquet(f"{root}/fact")
    dim = spark.read.parquet(f"{root}/dim").filter(F.col("tag") == "keep")
    joined = fact.join(dim, "part_col").groupBy("tag").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result only saw the two kept partitions
    assert joined.collect()[0]["count"] == 1000


SF_SMOKE = "/root/testdata/sf0.001"


def _plan_of(fn, spark):
    return fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()


def test_feature_eng_plan_shapes(spark):
    """Freeze the shuffle budgets of the feature-engineering queries:
    hashing-trick is flatMap + ONE combining groupBy; heavy hitters is
    two-phase (combining count, then a window over the aggregate only);
    TF-IDF is tf/df/join/window (≤4 exchanges) with the 1-row n_docs side
    as a broadcast (its BroadcastNestedLoopJoin is the intended 1-row
    cross join, not a blowup)."""
    from feature_generation_benchmark_spark.workloads import features_eng

    p = _plan_of(features_eng.feature_hash_buckets, spark)
    assert p.count("Exchange hashpartitioning") == 1, p
    p = _plan_of(features_eng.heavy_hitters, spark)
    assert p.count("Exchange hashpartitioning") == 2, p
    p = _plan_of(features_eng.tfidf_top_terms, spark)
    assert p.count("Exchange hashpartitioning") <= 4, p
    assert "CartesianProduct" not in p, p


def test_fuzzy_linkage_is_blocked_equi_join(spark):
    """The linkage candidates must come from the blocking EQUI-join —
    never a nested-loop/cartesian all-pairs comparison."""
    from feature_generation_benchmark_spark.workloads import linkage

    p = _plan_of(linkage.fuzzy_part_linkage, spark)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


SF_PLANS = "/root/testdata/sf0.001"


def test_scd2_single_exchange_single_sort(spark):
    """Both SCD2 window passes and the final rollup share ONE user-keyed
    exchange, and Catalyst proves the version-start filter preserves the
    lag window's sort so the lead window adds NO second sort. An extra
    Exchange or Sort here means the passes stopped sharing partitioning."""
    from feature_generation_benchmark_spark.workloads.intervals import (
        scd2_intervals,
    )

    plan = _physical(scd2_intervals(spark, SF_PLANS))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan


def test_journey_paths_lags_share_one_window(spark):
    """Both lags ride one user-keyed window (one data-sized exchange);
    the path rollup adds its |types|^3-bounded exchange; and Catalyst
    pushes the rank<=10 into TakeOrderedAndProject so the global top-k
    never materializes a full sort."""
    from feature_generation_benchmark_spark.workloads.funnel import (
        journey_paths_top,
    )

    plan = _physical(journey_paths_top(spark, SF_PLANS))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_itemset_pairs_no_join(spark):
    """Pairs are generated row-locally from collect_set baskets — any
    Join node means the plan regressed to the events self-join."""
    from feature_generation_benchmark_spark.workloads.funnel import (
        itemset_pairs,
    )

    plan = _physical(itemset_pairs(spark, SF_PLANS))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_quantize_corpus_never_shuffled(spark):
    """SQ8: the corpus reaches the encoder through a broadcast of the
    d-row model — the only hashpartitioning exchange is the dim-keyed
    stats agg; a corpus-keyed exchange means the broadcast regressed."""
    from feature_generation_benchmark_spark.workloads.similarity import (
        embedding_quantize_int8,
    )

    plan = _physical(embedding_quantize_int8(spark, SF_PLANS))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_char_entropy_partial_agg_bounds_exchange(spark):
    """The (doc, char) count must partial-aggregate below its exchange —
    that combine is what bounds shuffle volume at |docs|x|alphabet|."""
    from feature_generation_benchmark_spark.workloads.text import (
        char_entropy,
    )

    plan = _physical(char_entropy(spark, SF_PLANS))
    gen = plan.index("Generate")
    # the LAST partial_count is the (doc, char) one just above the
    # Generate (the doc-level rollup higher up has its own partials)
    partial = plan.rindex("partial_count")
    exch = plan.rindex("Exchange hashpartitioning", 0, partial)
    assert exch < partial < gen, plan


def test_corr_matrix_is_one_pass_no_keyed_shuffle(spark):
    """All 15 moment sums compute in ONE map-combined reduce: the only
    exchange is the 1-row SinglePartition gather. Any hashpartitioning
    exchange means the matrix stopped being a single pass."""
    from feature_generation_benchmark_spark.workloads.features_eng import (
        lineitem_corr_matrix,
    )

    plan = _physical(lineitem_corr_matrix(spark, SF_PLANS))
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "Join" not in plan, plan


def test_bfs_levels_broadcast_node_state(spark):
    """The per-level frontier join into edges must broadcast the
    node-sized frontier — a SortMergeJoin means a fact-sized shuffle
    crept into the level loop. Exactly ONE join per level: the old
    per-level visited anti-join is gone by design (the final
    min-hop fold subsumes it), so a second join node appearing here is a
    regression. (The loop consumes each level via localCheckpoint, so
    the guard inspects the exposed level builder.)"""
    from pyspark.sql import functions as F2

    from feature_generation_benchmark_spark.operators.graph import bfs_level

    edges = spark.createDataFrame(
        [(i % 50, (i * 7) % 50) for i in range(2000)], "src long, dst long"
    )
    frontier = spark.createDataFrame([(0,)], "node long")
    plan = _physical(bfs_level(edges, frontier, F2.broadcast))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan  # frontier only
    assert "Join" not in plan.replace("BroadcastHashJoin", ""), plan


def test_lang_source_mi_single_corpus_shuffle(spark):
    """Exactly one corpus-sized exchange (the contingency groupBy, with
    its map-side partial combine); the marginal windows and final rollup
    run on the |langs|x|sources|-bounded cell table only."""
    from feature_generation_benchmark_spark.workloads.text import (
        lang_source_mi,
    )

    plan = _physical(lang_source_mi(spark, SF_PLANS))
    # exchanges: 1 corpus groupBy + 2 cell-table window repartitions
    # (lang, source) + the bounded SinglePartition window/rollup — the
    # corpus-sized one must partial-aggregate below its exchange
    first_exch = plan.rindex("Exchange hashpartitioning")
    assert "partial_count" in plan[first_exch:], plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_weighted_sample_salted_two_level_topk(spark):
    """The per-segment top-k must prune through the (segment, salt)
    window first — a plan whose only Window partitions on the bare
    segment funnels every customer through |segments| tasks."""
    from feature_generation_benchmark_spark.workloads.sampling import (
        weighted_sample_segments,
    )

    plan = _physical(weighted_sample_segments(spark, SF_PLANS))
    assert plan.count("Window [") == 2, plan
    deepest = plan.rindex("Window [")  # deepest Window = salt level
    assert "salt" in plan[deepest : plan.index("]", deepest)], plan
    # Spark 4 additionally prunes BOTH windows map-side (Partial
    # WindowGroupLimit before each exchange) — keep that free win pinned
    assert plan.count("row_number(), 10, Partial") == 2, plan


def test_gram_matrix_single_mapcombined_exchange(spark):
    """The Gram matrix's per-partition cell fold must stay pipelined in
    the scan stage: ONE hash exchange total, with a partial_sum
    HashAggregate below it — the exchange carries P×d(d+1)/2 cells, not
    N×d² product rows. Since the partition-GEMM rewrite the cell
    source is a ``mapInPandas`` numpy fold (one VᵀV per Arrow batch),
    not the JVM two-level explode — pin that too."""
    from feature_generation_benchmark_spark.workloads.similarity import (
        embedding_gram_matrix,
    )

    plan = _physical(embedding_gram_matrix(spark, SF_PLANS))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    exch = plan.index("Exchange hashpartitioning")
    assert "partial_sum" in plan[exch:], plan
    assert "MapInPandas" in plan, plan
    assert "Generate explode" not in plan, plan


def test_ema_one_exchange_jvm_fold(spark):
    """The sequential fold is ONE custkey hash exchange feeding a JVM
    collect_list + aggregate() lambda — no Python exec (the grouped-map
    pandas form paid one pandas frame per customer: 22 s vs ~0.5 s at
    sf0.1), no join, no global sort, no window."""
    from feature_generation_benchmark_spark.workloads.timeseries import (
        ema_customer_spend,
    )

    plan = _physical(ema_customer_spend(spark, SF_PLANS))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "InPandas" not in plan and "ArrowEval" not in plan, plan
    assert "collect_list" in plan, plan
    assert "SortMergeJoin" not in plan and "Window [" not in plan, plan


def test_bm25_two_passes_broadcast_model_takeordered_topk(spark):
    """BM25 must read the corpus exactly TWICE (tf explode + the 1-row
    df/totals conditional aggregate — a third tokenize pass is the
    regression this pins), bring the model back as a 1-row broadcast,
    and take the global top-k via TakeOrdered, not a full sort. The only
    hash exchanges are the (doc,term) count and the per-doc sum."""
    from feature_generation_benchmark_spark.workloads.text import (
        bm25_doc_ranking,
    )

    plan = _physical(bm25_doc_ranking(spark, SF_PLANS))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row model cross
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FileScan parquet") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_hybrid_rrf_fuses_after_source_topk(spark):
    """RRF's ranking windows must run AFTER each source's top-N (the
    ≤2N-row frames), never over the corpus: the lexical side keeps its
    TakeOrdered/limit below the window, and the final fused top-k is
    itself a TakeOrdered."""
    from feature_generation_benchmark_spark.workloads.similarity import (
        hybrid_search_rrf,
    )

    plan = _physical(hybrid_search_rrf(spark, SF_PLANS))
    # two TakeOrdereds: the lexical source's top-N and the final fusion
    assert plan.count("TakeOrderedAndProject") == 2, plan
    # three windows: the partial-top-k's internal merge rank (pruned
    # map-side by WindowGroupLimit) + one ≤N-row rank window per source
    assert plan.count("Window [") == 3, plan
    assert "WindowGroupLimit" in plan, plan
    # fused scan budget: the BM25 block keeps its own
    # 2-scan contract inside the fusion — documents read exactly twice
    # (tf/df pass + per-doc stats pass), embeddings once, nothing more
    assert plan.count("FileScan parquet") == 3, plan
    doc_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "text" in ln
    ]
    assert len(doc_scans) == 2, plan


def test_grouping_sets_one_expand_one_shuffle(spark):
    """GROUPING SETS must plan as ONE scan + ONE Expand + ONE map-combined
    exchange — |sets| separate aggregations re-scanning the fact table is
    the regression this pins."""
    from feature_generation_benchmark_spark.workloads.relational import (
        grouping_sets_lineitem,
    )

    plan = _physical(grouping_sets_lineitem(spark, SF_PLANS))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Expand") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_multimodal_codec_entries_never_shuffle_blobs(spark):
    """The real-codec registry entries (JPEG/AVI/G.711/classifier chain
    feeds) are one narrow map over the blobs plus a combining aggregate
    on the tiny per-source stats: exactly ONE exchange, placed ABOVE
    the Python map — the binary columns themselves must never ride a
    shuffle."""
    from feature_generation_benchmark_spark.workloads.multimodal import (
        multimodal_jpeg_bound_stats,
        multimodal_real_audio_stats,
        multimodal_real_video_frames,
    )
    from tests.conftest import SF_SMOKE

    for fn in (
        multimodal_jpeg_bound_stats,
        multimodal_real_audio_stats,
        multimodal_real_video_frames,
    ):
        plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, (fn.__name__, plan)
        # the exchange's hash keys are the narrow stats, not the blob
        assert "blob" not in plan.split("Exchange hashpartitioning")[1].split(
            "\n"
        )[0], (fn.__name__, plan)


# ---------------------------------------------------------------------------
# plan guards for measured optimizations
# ---------------------------------------------------------------------------


def test_schema_profile_no_sort_aggregate_over_expand(spark):
    """The exact profiler's distinct counts and its string min/max stats
    must stay SEPARATE aggregates: one mixed agg forces the
    multi-distinct rewrite into SortAggregate (string min/max buffers
    are not hash-mutable), i.e. a full Sort of the 6x-Expanded fact
    table (8.3 s → 1.7 s at sf0.1)."""
    from feature_generation_benchmark_spark.workloads.quality import (
        schema_profile,
    )
    from tests.conftest import SF_SMOKE

    plan = _physical(schema_profile(spark, SF_SMOKE))
    assert "Expand" in plan  # the distinct-count rewrite is still there
    # ... but never a sort-based aggregation of the expanded fact table:
    # the Expand side must hash-aggregate, and the stats side is a
    # zero-key fold (SortAggregate with no Sort under it is fine).
    assert "Sort [" not in plan.replace("SortAggregate", ""), plan


def test_graph_feature_propagation_caches_edges(spark):
    """The distinct trade-edge list feeds three aggregations; uncached it
    was recomputed (scan+join+distinct) three times in one plan (26
    Exchanges → in-memory relation reused)."""
    from feature_generation_benchmark_spark.workloads.graph import (
        graph_feature_propagation,
    )
    from tests.conftest import SF_SMOKE

    spark.catalog.clearCache()
    try:
        plan = _physical(graph_feature_propagation(spark, SF_SMOKE))
        # all three aggregations read the cached relation (the plan
        # printer repeats the cached child's text under each scan, so
        # count scans, not source files)
        assert plan.count("InMemoryTableScan") >= 3, plan
    finally:
        spark.catalog.clearCache()


def test_bigram_models_derive_context_from_bigram_counts(spark):
    """bigram_logprob / ccnet derive c1(w1) = Σ_w2 c2(w1,w2) from the
    KB-sized bigram model instead of a second corpus-sized aggregation:
    exactly one groupBy over the exploded corpus frame."""
    from feature_generation_benchmark_spark.workloads.text import (
        bigram_logprob,
    )
    from tests.conftest import SF_SMOKE

    plan = _physical(bigram_logprob(spark, SF_SMOKE))
    # one corpus-keyed explode feeding the checkpointed frame; the plan
    # downstream of the checkpoint must not re-tokenize documents
    assert plan.count("documents.parquet") == 0, plan


def test_jaccard_prefix_reads_sizes_off_verification_arrays(spark):
    """The prefix path's finalize reads n_shingles as size(__arr) off the
    arrays it already joins for verification — no separate sizes
    aggregate + two joins."""
    from feature_generation_benchmark_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i % 7} zeta") for i in range(40)],
        "doc_id long, text string",
    )
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.05, prefix_filter=True
    )
    assert [c for c in out.columns] == ["id_a", "id_b", "common", "jaccard"]
    plan = _physical(out)
    # count(1)-style per-doc size aggregation would appear as an extra
    # keyed exchange feeding the final projection; the tail must join
    # exactly the two array sides onto the candidate pairs
    assert "n_shingles#" not in plan.split("array_intersect")[0], plan
