"""Bench a subset of queries with bench.py's exact methodology
(warmup at sf0.001 + measured SF, then min over measured reps in one
session). For before/after comparisons of individual optimizations
without paying the full 58-headliner run.

Usage: python tools/bench_subset.py <query> [...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS (default 3)
Prints one JSON line {"queries": {name: min_sec}, "reps": N}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))

    from data_warehouse_solution_spark.session import EngineConfig, build_session

    spark = build_session(
        EngineConfig(app_name="dws-bench-subset", master=f"local[{cpus}]", shuffle_partitions=max(int(cpus), 8))
    )
    spark.sparkContext.setLogLevel("ERROR")

    import data_warehouse_solution_spark.operators  # noqa: F401
    import data_warehouse_solution_spark.streaming  # noqa: F401
    from data_warehouse_solution_spark.registry import all_queries

    queries = all_queries()
    warmup_dir = "/root/testdata/sf0.001"
    for name in names:
        queries[name](spark, warmup_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    for name in names:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    timings: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        timings[name] = round(min(times), 3)
        spark.catalog.clearCache()
    spark.stop()
    print(json.dumps({"queries": timings, "reps": reps, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
