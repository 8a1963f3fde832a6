"""Run one benchmark workload in a fresh process and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload ref_task --seed 1 --seconds 20 \
        --trace 0 --heap 4g --rel-tol 1e-9

The process sets up (imports, ``get_spark`` on ``local[<cores>]``, the
pandas-UDF worker warm-up, the inputs), then runs passes over the
workload's queries one at a time, closed loop, one client. A pass is
read → compute → parquet write for every query. The first pass of the
fresh session pays JIT and codegen warm-up (ref_task: 29.5 s, then 17.6,
16.3, 17.3 s on a 4-core host) and is reported as ``first_pass_s``. A
fixed number of timed passes follows, as many as fill about ``--seconds``
(at least two); ``run_s`` is the sum over the queries of each query's
median over those passes.
The last pass's outputs are then checked against their DuckDB oracles.

``--trace 1`` also writes Spark's event log and the benchmark's spans
under ``.perfbench_work/`` and reports the per-layer metrics instead of
the end-to-end ones. The last stdout line is always one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections.abc import Callable  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

# module level: pandas_udf resolves the string type hints of
# warm_python_workers' UDF against this module's globals
import pandas as pd  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.spans import EXEC_FIELDS, Tracer, fold_event_log  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    REF_CUSTOMERS,
    REF_DAYS,
    REF_PARTITIONS,
    WORKLOADS,
)

#: No timed pass after the first starts after this many seconds of process
#: life, so a run ends well inside its 180 s limit on a slow host.
LATEST_PASS_START_S = 90.0

#: End-to-end metrics (``--trace 0``) and their units.
END_TO_END = {
    "run_s": "s",
    "first_pass_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "success_frac": "frac",
}

#: Per-layer metrics (``--trace 1``) and their units.
PER_LAYER = {
    "session.start_s": "s",
    "setup.inputs_s": "s",
    "plans.compile_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimize_s": "s",
    "catalyst.plan_s": "s",
    "plan.nodes": "count",
    "workloads.build_s": "s",
    "workloads.build_jobs": "count",
    "workloads.action_s": "s",
    "workloads.action_jobs": "count",
    "workloads.query_p50_s": "s",
    "workloads.query_p90_s": "s",
    "workloads.query_samples": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.busy_frac": "frac",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.python_mb": "MB",
    "write.files": "count",
    "write.mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "pydriver.peak_rss_mb": "MB",
    "trace.run_s": "s",
    "trace.first_pass_s": "s",
}


def seconds_since_process_start() -> float:
    """Wall seconds since this process was started, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


START_OFFSET = seconds_since_process_start() - (time.perf_counter() - T0)


def elapsed() -> float:
    """Seconds since process start."""
    return START_OFFSET + time.perf_counter() - T0


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Query:
    name: str
    build: Callable  # () -> DataFrame
    oracle: Callable  # (duckdb connection) -> pyarrow.Table


@dataclass
class Execution:
    """One query run within one pass."""

    query: str
    pass_no: int
    build_s: float = 0.0
    catalyst_s: float = 0.0  # traced runs only: forcing the plan
    action_s: float = 0.0
    build_jobs: int = 0
    action_jobs: int = 0
    error: str | None = None
    # traced runs only
    phases: dict = field(default_factory=dict)
    plan_nodes: int = 0
    write_files: int = 0
    write_mb: float = 0.0

    @property
    def seconds(self) -> float:
        return self.build_s + self.catalyst_s + self.action_s


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--heap", required=True,
                   help="JVM heap, pinned as both -Xms and -Xmx")
    p.add_argument("--rel-tol", type=float, required=True,
                   help="relative tolerance for floating oracle columns")
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(heap: str, run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": heap,
        # pin the initial heap: with an unpinned heap that grows during the
        # run, warm passes of ~45 short sf0.1 queries had process medians
        # of 15.1-17.8 s across 5 processes; pinned, 14.6-15.5 s across 4
        # (4-core host)
        # -XX:-UsePerfData: no hsperfdata file outside the tree
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
    }
    if trace:
        os.makedirs(f"{run_dir}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir}/events",
            "spark.eventLog.compress": "false",
        })
    return conf


def warm_python_workers(spark) -> None:
    """Start the pandas-UDF worker pool: its first use in a session pays
    several seconds of worker start-up."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ident(v: pd.Series) -> pd.Series:
        return v

    spark.range(64).select(ident(F.col("id").cast("double"))).count()


def check_data_manifest(data_dir: str) -> None:
    """The committed tables must be byte-identical to their manifest."""
    import hashlib

    with open(os.path.join(data_dir, "MANIFEST.sha256")) as f:
        want = dict(reversed(line.split()) for line in f if line.strip())
    for name, digest in want.items():
        with open(os.path.join(data_dir, name), "rb") as f:
            got = hashlib.sha256(f.read()).hexdigest()
        if got != digest:
            raise RuntimeError(f"{name}: sha256 {got} != manifest {digest}")


def generate_ref_input(spark, seed: int, path: str,
                       customers: int = REF_CUSTOMERS) -> None:
    from feature_generation_benchmark_spark.sources.generator import (
        generate_transactions,
        write_dataset,
    )

    write_dataset(
        generate_transactions(
            spark, customers, REF_PARTITIONS, REF_DAYS, seed=seed
        ),
        path,
    )


def make_queries(spark, workload: str, seed: int, data_dir: str,
                 ref_input: str, tracer: Tracer) -> list[Query]:
    if workload == "ref_task":
        from feature_generation_benchmark_spark.plans import compile_features
        from feature_generation_benchmark_spark.spec import reference_spec

        from perfbench.oracle_check import spec_oracle

        spec = reference_spec()

        def build():
            trx = spark.read.parquet(ref_input)
            with tracer.span("plans.compile"):
                return compile_features(spec, trx)

        return [Query("ref_task", build,
                      lambda con: spec_oracle(con, spec, "trx"))]

    from feature_generation_benchmark_spark.workloads import registry

    reg = registry()
    out = []
    for name in WORKLOADS[workload].order(seed):
        q = reg[name]
        out.append(Query(
            name,
            lambda fn=q.fn: fn(spark, data_dir),
            lambda con, sql=q.oracle: con.execute(sql).fetch_arrow_table(),
        ))
    return out


def plan_node_count(qe) -> int:
    """Operators plus expression nodes of an optimized logical plan: every
    node of the plan's JSON form carries one ``"class"`` key, and a quote
    inside a JSON string is escaped, so counting the key's text counts the
    nodes without decoding the (tens of MB) document."""
    return qe.optimizedPlan().toJSON().count('"class":')


def run_query(spark, q: Query, pass_no: int, out_dir: str, trace: bool,
              tracer: Tracer) -> Execution:
    sc = spark.sparkContext
    ex = Execution(q.name, pass_no)
    group = f"p{pass_no}:{q.name}"
    try:
        with tracer.span("workloads.build", query=q.name,
                         pass_no=pass_no) as s_build:
            sc.setJobGroup(f"{group}:build", q.name)
            df = q.build()
        ex.build_s = s_build.seconds
        if trace:
            with tracer.span("catalyst", query=q.name,
                             pass_no=pass_no) as s_catalyst:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    opt = phases.get(phase)
                    ex.phases[phase] = (
                        opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
                    )
            ex.catalyst_s = s_catalyst.seconds
        with tracer.span("workloads.action", query=q.name,
                         pass_no=pass_no) as s_action:
            sc.setJobGroup(f"{group}:action", q.name)
            df.write.parquet(out_dir)
        ex.action_s = s_action.seconds
    except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
        ex.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        print(f"[perfbench] {q.name} pass {pass_no} failed: {ex.error}",
              file=sys.stderr, flush=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    ex.build_jobs = len(tracker.getJobIdsForGroup(f"{group}:build"))
    ex.action_jobs = len(tracker.getJobIdsForGroup(f"{group}:action"))
    if trace:
        s_build.attrs["jobs"] = ex.build_jobs
        if ex.error is None:
            s_action.attrs["jobs"] = ex.action_jobs
    if trace and ex.error is None:
        # outside the timed spans: counting serialises the whole plan
        ex.plan_nodes = plan_node_count(qe)
        files = [
            os.path.join(out_dir, n) for n in os.listdir(out_dir)
            if not n.startswith((".", "_"))
        ]
        ex.write_files = len(files)
        ex.write_mb = sum(os.path.getsize(p) for p in files) / 2**20
    spark.catalog.clearCache()
    return ex


def run_pass(spark, queries: list[Query], pass_no: int, out_root: str,
             trace: bool, tracer: Tracer) -> list[Execution]:
    shutil.rmtree(out_root, ignore_errors=True)
    os.makedirs(out_root)
    with tracer.span("pass", pass_no=pass_no):
        return [
            run_query(spark, q, pass_no, os.path.join(out_root, q.name),
                      trace, tracer)
            for q in queries
        ]


def check_outputs(queries: list[Query], last: list[Execution], out_root: str,
                  data_dir: str, ref_input: str, rel_tol: float,
                  tracer: Tracer) -> int:
    """Compare the last pass's outputs with DuckDB; returns mismatches."""
    import duckdb
    import pyarrow.parquet as pq

    from perfbench.oracle_check import compare_tables

    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    if ref_input:
        con.execute(
            "CREATE VIEW trx AS SELECT * FROM read_parquet("
            f"'{ref_input}/*/*.parquet', hive_partitioning = true)"
        )
    else:
        for fn in sorted(os.listdir(data_dir)):
            if fn.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, fn)}')"
                )
    bad = 0
    for q, ex in zip(queries, last):
        if ex.error is not None:
            continue  # already counted as failed
        with tracer.span("oracle", query=q.name):
            try:
                got = pq.read_table(os.path.join(out_root, q.name))
                want = q.oracle(con)
                problem = compare_tables(got, want, rel_tol)
            except Exception as e:  # noqa: BLE001 - counted as a mismatch
                problem = f"{type(e).__name__}: {e}"
        if problem is not None:
            bad += 1
            print(f"[perfbench] {q.name}: oracle mismatch: {problem}",
                  file=sys.stderr, flush=True)
    con.close()
    return bad


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def failure_counts(passes: list[list[Execution]],
                   mismatches: int) -> tuple[int, int]:
    """(attempted, failed) query executions: every execution of every
    pass is attempted; one that raised, or whose output failed the oracle
    check, failed."""
    attempted = sum(len(p) for p in passes)
    raised = sum(e.error is not None for p in passes for e in p)
    return attempted, raised + mismatches


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def warm_pass_seconds(passes: list[list[Execution]], timed: range) -> float:
    """``run_s``: the sum over the queries of each query's median seconds
    over the timed passes. A burst of host noise in one query of one pass
    moves that query's median little, where it moves the pass total."""
    return sum(
        median([passes[k][i].seconds for k in timed])
        for i in range(len(passes[0]))
    )


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    if not xs:
        return 0.0
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def layer_metrics(passes: list[list[Execution]], timed: range,
                  exec_by_group: dict[str, dict[str, float]],
                  run_s: float) -> dict[str, float]:
    """Per-layer figures of the timed passes: each is the median over
    passes of the pass's total, except the per-query quantiles."""

    def per_pass(fn) -> float:
        return median([fn(passes[k]) for k in timed])

    def exec_total(k: int, name: str) -> float:
        return sum(
            rec[name] for group, rec in exec_by_group.items()
            if group.startswith(f"p{k}:")
        )

    samples = [ex.seconds for k in timed for ex in passes[k]]
    m = {
        "catalyst.analysis_s": per_pass(
            lambda p: sum(e.phases.get("analysis", 0.0) for e in p)),
        "catalyst.optimize_s": per_pass(
            lambda p: sum(e.phases.get("optimization", 0.0) for e in p)),
        "catalyst.plan_s": per_pass(
            lambda p: sum(e.phases.get("planning", 0.0) for e in p)),
        "plan.nodes": per_pass(lambda p: sum(e.plan_nodes for e in p)),
        "workloads.build_s": per_pass(lambda p: sum(e.build_s for e in p)),
        "workloads.build_jobs": per_pass(
            lambda p: sum(e.build_jobs for e in p)),
        "workloads.action_s": per_pass(lambda p: sum(e.action_s for e in p)),
        "workloads.action_jobs": per_pass(
            lambda p: sum(e.action_jobs for e in p)),
        "workloads.query_p50_s": quantile(samples, 0.5),
        "workloads.query_p90_s": quantile(samples, 0.9),
        "workloads.query_samples": len(samples),
        "write.files": per_pass(lambda p: sum(e.write_files for e in p)),
        "write.mb": per_pass(lambda p: sum(e.write_mb for e in p)),
    }
    for name in EXEC_FIELDS:
        m[f"exec.{name}"] = median([exec_total(k, name) for k in timed])
    m["exec.busy_frac"] = (
        m["exec.executor_run_s"] / (run_s * cores()) if run_s else 0.0
    )
    return m


def host_labels(steal: float) -> dict[str, float]:
    from feature_generation_benchmark_spark.hostprobe import io_cache_probe

    return {
        "host.steal_pct": steal,
        "host.load1": os.getloadavg()[0],
        "host.page_cache_mb": float(
            io_cache_probe(os.path.join(HERE, "data"))["cached_mb"]
        ),
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # keep every file Spark, its Python workers and DuckDB write in the tree
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # launcher JVM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    tracer = Tracer(run_id, trace, T0)
    workload = WORKLOADS[args.workload]
    if workload.data:
        data_dir, ref_input = os.path.join(HERE, "data", workload.data), ""
    else:
        data_dir, ref_input = run_dir, os.path.join(run_dir, "ref_input")

    with tracer.span("setup"):
        with tracer.span("setup.imports"):
            from feature_generation_benchmark_spark.hostprobe import (
                cpu_steal_ticks,
                steal_pct,
            )
            from feature_generation_benchmark_spark.session import get_spark
        with tracer.span("session.start") as s_session:
            spark = get_spark(
                f"perfbench-{args.workload}",
                master=f"local[{cores()}]",
                extra_conf=session_conf(args.heap, run_dir, trace),
            )
        try:
            with tracer.span("setup.python_workers"):
                warm_python_workers(spark)
            with tracer.span("setup.inputs") as s_inputs:
                if ref_input:
                    generate_ref_input(spark, args.seed, ref_input)
                else:
                    check_data_manifest(data_dir)
                queries = make_queries(spark, args.workload, args.seed,
                                       data_dir, ref_input, tracer)
        except BaseException:
            stop_spark(spark)
            raise
    setup_s = elapsed()

    try:
        out_root = os.path.join(run_dir, "out")
        passes: list[list[Execution]] = []
        pass_s: list[float] = []
        steal0, steal_t0 = cpu_steal_ticks(), time.time()
        # pass 0 is the session's first; the timed passes follow
        n_passes = 1 + workload.timed_passes(args.seconds)
        while len(passes) < n_passes:
            if len(passes) >= 2 and elapsed() > LATEST_PASS_START_S:
                print(f"[perfbench] stopped after {len(passes) - 1} timed "
                      f"passes of {n_passes - 1}: {elapsed():.0f} s elapsed",
                      file=sys.stderr, flush=True)
                break
            execs = run_pass(spark, queries, len(passes), out_root, trace,
                             tracer)
            passes.append(execs)
            pass_s.append(sum(e.seconds for e in execs))
        steal = steal_pct(steal0, cpu_steal_ticks(), time.time() - steal_t0,
                          cores())
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_rss = vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(spark)
    py_rss = vm_hwm_mb()

    timed = range(1, len(passes))
    run_s = warm_pass_seconds(passes, timed)
    attempted, failed = failure_counts(passes, check_outputs(
        queries, passes[-1], out_root, data_dir, ref_input, args.rel_tol,
        tracer))
    host = host_labels(steal)

    if trace:
        events = os.path.join(run_dir, "events")
        with tracer.span("trace.fold_event_log"):
            exec_by_group: dict[str, dict[str, float]] = {}
            # spark.eventLog.rolling layout: eventlog_v2_<app>/events_<n>_<app>
            for app in os.listdir(events):
                logs = [n for n in os.listdir(os.path.join(events, app))
                        if n.startswith("events_")]
                logs.sort(key=lambda n: int(n.split("_")[1]))
                exec_by_group.update(fold_event_log(
                    [os.path.join(events, app, n) for n in logs]))
        metrics = {
            "session.start_s": s_session.seconds,
            "setup.inputs_s": s_inputs.seconds,
            "plans.compile_s": median([
                sum(s.seconds for s in tracer.spans
                    if s.name == "plans.compile"
                    and tracer.spans[s.parent].attrs.get("pass_no") == k)
                for k in timed
            ]),
            "trace.run_s": run_s,
            "trace.first_pass_s": pass_s[0],
            "jvm.peak_rss_mb": jvm_rss,
            "pydriver.peak_rss_mb": py_rss,
            **layer_metrics(passes, timed, exec_by_group, run_s),
        }
        units = PER_LAYER
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.write(os.path.join(work, "traces", f"{run_id}.json"))
    else:
        metrics = {
            "run_s": run_s,
            "first_pass_s": pass_s[0],
            "setup_s": setup_s,
            "peak_rss_mb": jvm_rss + py_rss,
            "success_frac": (attempted - failed) / attempted,
        }
        units = END_TO_END
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metric set {sorted(metrics)} != {sorted(units)}")
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": [round(s, 4) for s in pass_s],
        "query_s": {
            q.name: round(median([passes[k][i].seconds for k in timed]), 4)
            for i, q in enumerate(queries)
        },
        "first_query_s": {
            ex.query: round(ex.seconds, 4) for ex in passes[0]
        },
        "failed_frac": failed / attempted, **host,
    }), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": v, "unit": units[name]}
            for name, v in metrics.items()
        },
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
