"""Isolate and time single queries with the noop sink.

Times the COMPUTATION (noop sink evaluates every column of every row,
no output write) with a warm session, N repetitions, caches cleared
between runs — the per-query microscope the suite bench (which times
the reference protocol: compute + parquet write) cannot be. One untimed
pass over every named query runs first, so no query's reps carry the
session's warm-up (~2.5 s, which otherwise lands on the first query).

Usage:
    python tools/profile_query.py query [query ...]        # 3 reps each
    PROFILE_REPS=5 python tools/profile_query.py query ...
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    reps = int(os.environ.get("PROFILE_REPS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from feature_generation_benchmark_spark.session import get_spark
    from feature_generation_benchmark_spark.workloads import registry

    spark = get_spark("fgb-profile")
    reg = registry()

    # same warmups as bench.py: JVM, parquet footers, Python worker pool
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    spark.range(64).select(_warm(F.col("id").cast("double"))).count()

    def run(name: str) -> float:
        spark.sparkContext.setJobDescription(f"profile: {name}")
        t0 = time.time()
        reg[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        elapsed = time.time() - t0
        spark.catalog.clearCache()
        return elapsed

    # one untimed pass (codegen, Python workers, parquet footers) over
    # every named query, as tools/bench_ab.py does
    for name in names:
        run(name)

    for name in names:
        times = [round(run(name), 3) for _ in range(reps)]
        print(f"{name}: {times} min={min(times)}")


if __name__ == "__main__":
    main()
