"""ANN recall@k measurement (r12, VERDICT r11 punch #3): recall of
each approximate variant at its PRODUCTION setting (not
nprobe = all-cells, where the compositions are pinned lossless by
tests/test_pq.py) against the exact brute-force top-k, at an
arbitrary scale-factor directory — the codec-bandwidth pattern
(tools/codec_bench.py): a measured number in SCALE.md plus a floor
asserted in the suite (tests/test_ann_recall.py), so a recall
regression fails loudly instead of drifting silently.

Usage:  python tools/ann_recall.py [--sf-dir /root/testdata/sf0.1]
Prints one JSON line:
  {"sf_dir": ..., "top_k": 5, "n_queries": 10,
   "recall": {"lsh": .., "ivf": .., "ivfpq": ..},
   "settings": {"lsh": "4 planes + 1-bit multiprobe",
                "ivf": "nprobe=1 of 10 label cells",
                "ivfpq": "nprobe=2 of 10 kmeans cells, residual-coded"}}

Methodology: recall@k = mean over the query set of
|approx top-k ∩ exact top-k| / k, counting a query absent from the
approximate output as recall 0 (an empty probe must hurt the number,
not vanish from it).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def measure(spark, sf_dir: str) -> dict:
    from data_warehouse_solution_spark.operators.pq import (
        NPROBE,
        ann_ivfpq_topk,
    )
    from data_warehouse_solution_spark.operators.similarity import (
        LSH_PLANES,
        N_QUERIES,
        TOP_K,
        ann_cosine_topk_bruteforce,
        ann_ivf_topk,
        ann_lsh_bucketed,
    )

    def pairs(df):
        return {(r["q_id"], r["n_id"]) for r in df.select("q_id", "n_id").collect()}

    # clustered counter-demonstration (r13, VERDICT r12 punch #2):
    # the same routers on a corpus WITH latent structure — proves the
    # mechanism achieves production recall when clusters exist
    from data_warehouse_solution_spark.operators.similarity import (
        ann_ivf_recall_clustered,
    )
    from data_warehouse_solution_spark.plans import overlap_jobs

    # the five measurements are independent — overlap their jobs
    # (guide §2.6) instead of serializing five collect tails (r15)
    exact, lsh, ivf, ivfpq, clus = overlap_jobs(
        spark,
        lambda: pairs(ann_cosine_topk_bruteforce(spark, sf_dir)),
        lambda: pairs(ann_lsh_bucketed(spark, sf_dir)),
        lambda: pairs(ann_ivf_topk(spark, sf_dir)),
        lambda: pairs(ann_ivfpq_topk(spark, sf_dir)),
        lambda: ann_ivf_recall_clustered(spark, sf_dir).collect(),
    )
    out = {
        name: round(len(exact & approx) / len(exact), 4)
        for name, approx in (("lsh", lsh), ("ivf", ivf), ("ivfpq", ivfpq))
    }
    clustered = {r["variant"]: r["recall_at_k"] for r in clus}
    return {
        "sf_dir": sf_dir,
        "top_k": TOP_K,
        "n_queries": N_QUERIES,
        "recall": out,
        "clustered_recall_at_10": clustered,
        "settings": {
            "lsh": f"{LSH_PLANES} planes + 1-bit multiprobe",
            "ivf": "nprobe=1 of 10 label cells",
            "ivfpq": f"nprobe={NPROBE} of 10 kmeans cells, residual-coded",
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args()
    from data_warehouse_solution_spark.session import EngineConfig, build_session

    spark = build_session(
        EngineConfig(app_name="ann-recall", master=f"local[{args.cpus}]", shuffle_partitions=32)
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(measure(spark, args.sf_dir)))
    spark.stop()


if __name__ == "__main__":
    main()
