"""Tests of the benchmark itself: its metric schema, its workload lists,
its seeded inputs, its oracle comparison and its failure accounting.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.oracle_check import compare_tables, spec_oracle  # noqa: E402
from perfbench.spans import Tracer, fold_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_schema_matches_the_runner(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    assert {n: m["unit"] for n, m in e2e.items()} == run.END_TO_END
    assert {n: m["unit"] for n, m in layer.items()} == run.PER_LAYER
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200


def test_every_workload_query_is_registered_with_an_oracle():
    from feature_generation_benchmark_spark.workloads import registry

    reg = registry()
    for w in WORKLOADS.values():
        if w.data is None:
            continue
        assert len(set(w.queries)) == len(w.queries)
        for name in w.queries:
            assert name in reg, name
            assert reg[name].oracle, name
            assert reg[name].bench, name


def test_seed_fixes_the_query_order():
    w = WORKLOADS["registry"]
    assert w.order(7) == w.order(7)
    assert sorted(w.order(7)) == sorted(w.queries)
    assert w.order(7) != w.order(8)
    assert WORKLOADS["ref_task"].order(7) == ["ref_task"]


def test_run_s_is_the_sum_of_per_query_medians_over_timed_passes():
    def pass_(k, a, b):
        return [run.Execution("a", k, build_s=a),
                run.Execution("b", k, action_s=b, catalyst_s=0.5)]

    # pass 0 is the untimed first pass; one burst per query is dropped
    passes = [pass_(0, 9.0, 9.0), pass_(1, 1.0, 2.0), pass_(2, 5.0, 1.5),
              pass_(3, 1.2, 6.0)]
    assert run.warm_pass_seconds(passes, range(1, 4)) == pytest.approx(
        1.2 + 2.5)
    # the timed-pass count depends on the measuring time only
    assert WORKLOADS["ref_task"].timed_passes(20) == 2
    assert WORKLOADS["registry"].timed_passes(20) == 3
    assert all(w.timed_passes(1) == 2 for w in WORKLOADS.values())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    # generator and UDF code runs in Python workers, which import the
    # package from the working tree
    os.environ["PYTHONPATH"] = ROOT
    from feature_generation_benchmark_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s


def _fingerprint(spark, path: str) -> tuple[int, int]:
    """(rows, order-free sum of row hashes) of a dataset."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")),
    ).first()
    return int(row[0]), int(row[1])


def test_seed_fixes_the_ref_task_dataset(spark, tmp_path):
    prints = []
    for i, seed in enumerate((5, 5, 6)):
        path = str(tmp_path / f"ref{i}")
        run.generate_ref_input(spark, seed, path, customers=20)
        prints.append(_fingerprint(spark, path))
    assert prints[0] == prints[1]
    assert prints[0] != prints[2]
    assert prints[0][0] > 0


def _const_query(spark, value: float, oracle_value: float) -> run.Query:
    return run.Query(
        "const",
        lambda: spark.createDataFrame([(1, value)], "k long, v double"),
        lambda con: pa.table({"k": [1], "v": [oracle_value]}),
    )


def test_failed_frac_counts_an_injected_oracle_mismatch(spark, tmp_path):
    tracer = Tracer("test", False, 0.0)
    queries = [_const_query(spark, 1.0, 1.0), _const_query(spark, 1.0, 2.0)]
    queries[1].name = "const_bad"
    out = str(tmp_path / "out")
    passes = [
        run.run_pass(spark, queries, k, out, False, tracer) for k in range(2)
    ]
    mismatches = run.check_outputs(queries, passes[-1], out, str(tmp_path),
                                   "", 1e-9, tracer)
    assert mismatches == 1
    assert run.failure_counts(passes, mismatches) == (4, 1)


def test_a_raising_query_counts_as_failed(spark, tmp_path):
    def boom():
        raise ValueError("injected")

    tracer = Tracer("test", False, 0.0)
    queries = [run.Query("boom", boom, lambda con: pa.table({}))]
    out = str(tmp_path / "out")
    passes = [run.run_pass(spark, queries, 0, out, False, tracer)]
    assert passes[0][0].error.startswith("ValueError")
    assert run.check_outputs(queries, passes[-1], out, str(tmp_path), "",
                             1e-9, tracer) == 0
    assert run.failure_counts(passes, 0) == (1, 1)


def test_spec_oracle_agrees_with_the_filter_aggregate_sql():
    from feature_generation_benchmark_spark.plans.oracle import (
        oracle_sql_for_spec,
    )
    from feature_generation_benchmark_spark.spec import (
        CARD_TYPES,
        CHANNELS,
        TRX_TYPES,
        Grouping,
        reference_spec,
    )

    # a reduced spec (160 features) keeps DuckDB's one-FILTER-per-feature
    # SQL small; the data also holds trx types outside its domains
    spec = dataclasses.replace(
        reference_spec(),
        windows=(7, 720),
        groupings=tuple(
            Grouping(g.cols, (g.domains[0], TRX_TYPES[:4]), closed=True)
            for g in reference_spec().groupings
        ),
    )
    rng = np.random.default_rng(3)
    n = 4000
    trx = pa.table({
        "customer_id": rng.integers(0, 40, n),
        "card_type": rng.choice(CARD_TYPES, n),
        "trx_type": rng.choice(TRX_TYPES[:6], n),  # two outside the domain
        "channel": rng.choice(CHANNELS, n),
        "trx_amnt": rng.uniform(100, 10_000, n).round(2),
        "t_minus": rng.integers(1, 800, n),  # some rows out of every window
    })
    con = duckdb.connect()
    con.register("trx", trx)
    want = con.execute(oracle_sql_for_spec(spec, "trx")).fetch_arrow_table()
    got = spec_oracle(con, spec, "trx")
    assert got.num_columns == 1 + spec.n_features
    assert compare_tables(got, want, 1e-12) is None


def test_compare_tables_rules():
    base = pa.table({"k": [2, 1], "x": [1.0, None], "s": ["b", "a"]})
    reordered = pa.table({"s": ["a", "b"], "k": [1, 2], "x": [float("nan"),
                                                              1.0]})
    assert compare_tables(base, reordered, 1e-9) is None
    near = pa.table({"k": [2, 1], "x": [1.0 + 1e-12, None], "s": ["b", "a"]})
    assert compare_tables(base, near, 1e-9) is None
    far = pa.table({"k": [2, 1], "x": [1.001, None], "s": ["b", "a"]})
    assert "'x'" in compare_tables(base, far, 1e-9)
    # integers compare exactly, whatever their width
    big = pa.table({"h": pa.array([2**62 + 1], pa.int64())})
    big_off = pa.table({"h": pa.array([2**62], pa.int64())})
    assert compare_tables(big, big_off, 1e-9) is not None
    assert compare_tables(base, base.drop(["s"]), 1e-9).startswith("columns")
    assert compare_tables(base, base.slice(0, 1), 1e-9).startswith("row count")


def test_fold_event_log_attributes_stages_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "p1:q:action"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 1500},
                {"Name": "internal.metrics.executorCpuTime", "Value": 2e9},
                {"Name": "data sent to Python workers", "Value": 2**20},
            ]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 2, "Accumulables": []}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 9, "Number of Tasks": 8, "Accumulables": []}},
    ]
    path = tmp_path / "events_1_app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    rec = fold_event_log([str(path)])
    assert set(rec) == {"p1:q:action"}
    r = rec["p1:q:action"]
    assert (r["stages"], r["tasks"]) == (2, 6)
    assert r["executor_run_s"] == 1.5 and r["executor_cpu_s"] == 2.0
    assert r["python_mb"] == 1.0


def test_plan_node_count_counts_every_node_of_the_plan_json(spark):
    from pyspark.sql import functions as F

    # a string literal holding the key's text must not count
    df = (spark.range(10).withColumn("x", F.col("id") * 2 + 1)
          .filter((F.col("x") > 3) & (F.col("id").cast("string")
                                      != F.lit('a"class":b'))))
    qe = df._jdf.queryExecution()
    want, stack = 0, [json.loads(qe.optimizedPlan().toJSON())]
    while stack:
        node = stack.pop()
        if isinstance(node, dict):
            want += "class" in node
            stack.extend(node.values())
        elif isinstance(node, list):
            stack.extend(node)
    assert want > 5
    assert run.plan_node_count(qe) == want


def test_tracer_records_parents_only_when_enabled():
    on, off = Tracer("r", True, 0.0), Tracer("r", False, 0.0)
    for t in (on, off):
        with t.span("outer"):
            with t.span("inner") as s:
                pass
        assert s.seconds >= 0
    assert [(s.name, s.parent) for s in on.spans] == [("outer", None),
                                                       ("inner", 0)]
    assert off.spans == []
