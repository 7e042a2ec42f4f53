"""Full-registry scale audit: run EVERY registered query end-to-end
at $SPARK_GRAFT_SF_DIR (default sf0.1), cold, alphabetically, with
clearCache between queries — the SCALE.md audit table's source.

Usage: python tools/audit_registry.py [--sf-dir DIR]
Prints one JSON line per query ({name, seconds, rows|error}) and a
final summary line; exits non-zero if any query errored.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from data_warehouse_solution_spark.session import EngineConfig, build_session

    spark = build_session(
        EngineConfig(app_name="dws-audit", master=f"local[{cpus}]", shuffle_partitions=max(int(cpus), 8))
    )
    spark.sparkContext.setLogLevel("ERROR")

    import data_warehouse_solution_spark.operators  # noqa: F401
    import data_warehouse_solution_spark.streaming  # noqa: F401
    from data_warehouse_solution_spark.registry import all_queries

    queries = all_queries()
    t_all = time.perf_counter()
    errors = 0
    slow: list[tuple[str, float]] = []
    for name in sorted(queries):
        t0 = time.perf_counter()
        try:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 2)
            print(json.dumps({"name": name, "seconds": dt}), flush=True)
            if dt >= 4:
                slow.append((name, dt))
        except Exception as e:  # noqa: BLE001 — audit records, never stops
            errors += 1
            print(
                json.dumps({"name": name, "error": f"{type(e).__name__}: {e}"[:300]}),
                flush=True,
            )
        spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "summary": True,
                "queries": len(queries),
                "errors": errors,
                "total_wall_seconds": round(time.perf_counter() - t_all, 1),
                "sf_dir": sf_dir,
                "over_4s_cold": dict(slow),
            }
        )
    )
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
