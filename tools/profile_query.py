"""Per-query driver-side profiler for the bench headliners.

Runs ONE registered query at $SPARK_GRAFT_SF_DIR (default sf0.1)
through the noop sink after a sf0.001 + measured-SF warmup (the
bench's own steady-state methodology), under cProfile, and prints:

- wall seconds for the measured run,
- Spark job count + total task time (statusTracker),
- top driver-side functions by cumulative time, filtered to this
  package (py4j waits show up inside the calling function).

Usage: python tools/profile_query.py <query> [<query> ...]
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_query.py <query> [...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from data_warehouse_solution_spark.session import EngineConfig, build_session

    spark = build_session(
        EngineConfig(app_name="dws-profile", master=f"local[{cpus}]", shuffle_partitions=max(int(cpus), 8))
    )
    spark.sparkContext.setLogLevel("ERROR")

    import data_warehouse_solution_spark.operators  # noqa: F401
    import data_warehouse_solution_spark.streaming  # noqa: F401
    from data_warehouse_solution_spark.registry import all_queries

    queries = all_queries()
    tracker = spark.sparkContext.statusTracker()

    for name in names:
        fn = queries[name]
        # warmup (bench methodology: sf0.001 then measured SF)
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

        jobs_before = set(tracker.getJobIdsForGroup(None) or [])
        pr = cProfile.Profile()
        t0 = time.perf_counter()
        pr.enable()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        pr.disable()
        wall = time.perf_counter() - t0
        jobs_after = set(tracker.getJobIdsForGroup(None) or [])
        spark.catalog.clearCache()

        print(f"\n===== {name}: wall {wall:.3f}s, "
              f"{len(jobs_after - jobs_before)} spark jobs =====")
        s = io.StringIO()
        ps = pstats.Stats(pr, stream=s).sort_stats("cumulative")
        ps.print_stats(r"data_warehouse_solution_spark|__spark_entry__", 25)
        print(s.getvalue())
        s2 = io.StringIO()
        ps2 = pstats.Stats(pr, stream=s2).sort_stats("cumulative")
        ps2.print_stats(r"py4j|socket", 12)
        print(s2.getvalue())
    spark.stop()


if __name__ == "__main__":
    main()
