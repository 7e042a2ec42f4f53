"""Full-registry value-oracle pass at sf0.01 — the driver-semantics
differential gate run end-to-end over EVERY registered query in one
recorded sweep (VERDICT r4 punch item 7: CI-style insurance for the
queries the driver has never sampled).

Uses ``tests/oracle.compare`` — the local mirror of the driver's
hashing path (both engines round-tripped through pandas, value
multiset + column-name + dtype-family parity). Queries without an
oracle get the driver's weaker rows-only check (runs, stable schema).

Usage: python tools/oracle_full_run.py [--sf-dir DIR]
Prints one JSON line per query and a final summary; exits non-zero on
any mismatch or error.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> int:
    sf_dir = "/root/testdata/sf0.01"
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from data_warehouse_solution_spark.session import EngineConfig, build_session

    spark = build_session(
        EngineConfig(app_name="dws-oracle-full", master=f"local[{cpus}]", shuffle_partitions=max(int(cpus), 8))
    )
    spark.sparkContext.setLogLevel("ERROR")

    import data_warehouse_solution_spark.operators  # noqa: F401
    import data_warehouse_solution_spark.streaming  # noqa: F401
    from data_warehouse_solution_spark.registry import _REGISTRY

    from tests.oracle import compare

    t_all = time.perf_counter()
    oracled = rows_only = failed = 0
    for name in sorted(_REGISTRY):
        spec = _REGISTRY[name]
        t0 = time.perf_counter()
        try:
            df = spec.fn(spark, sf_dir)
            if spec.oracle is None:
                n = df.count()
                assert n >= 0 and df.columns
                rows_only += 1
                status = "rows_only"
            else:
                problems = compare(spark, sf_dir, df, spec.oracle)
                if problems:
                    failed += 1
                    status = "; ".join(problems)
                else:
                    oracled += 1
                    status = "ok"
        except Exception as e:  # noqa: BLE001 — sweep records, never stops
            failed += 1
            status = f"error: {type(e).__name__}: {e}"
        print(
            json.dumps(
                {
                    "name": name,
                    "seconds": round(time.perf_counter() - t0, 2),
                    "status": status[:300],
                }
            ),
            flush=True,
        )
        spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "summary": True,
                "sf_dir": sf_dir,
                "total": len(_REGISTRY),
                "value_oracled_pass": oracled,
                "rows_only_pass": rows_only,
                "failed": failed,
                "seconds": round(time.perf_counter() - t_all, 1),
            }
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
