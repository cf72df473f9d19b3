"""Scale probe for the r19 duplicated-derivation rewrites: time the
restructured catalog keys at 1x and a 10x derived corpus
(scripts/measure.build_derived), so the decision between "N
parallel duplicate scans" and "one derivation (+ bounded persist)" is
made at the scale the keys exist for — at sf0.1 these queries are
scheduler-bound and duplicate branches are latency-hidden by idle
cores, which reverses the verdict the plan shape gives at 100 TB
(r18 change-5 lesson: measure, both ways, at both scales).

Methodology: each key's module-level load_table is patched to read the
derived corpus; every figure is a min-of-2 cold run of the harness
(scripts/measure.py, the same rule as time_keys.py).

Usage: python scripts/rescan_probe.py [K] <key> [key ...]
Prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import best_of, build_derived, load_avg, noop  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    k = 10
    if args and args[0].isdigit():
        k = int(args[0])
        args = args[1:]
    names = args or [
        "ann_knn_classify",
        "profile_corpus_report",
        "agg_pareto_share",
        "approx_hll_set_ops",
        "agg_bitmap_distinct",
    ]

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries import (
        analytics_extra as AX,
        behavior_extra as BX,
        catalog as CAT,
        pipeline_extra as PX,
        tpch_extra as TX_Q,
    )

    spark = get_spark(app_name="rescan_probe")
    base = build_derived(spark, 1)
    derived = build_derived(spark, k)

    def make_loader(root):
        def _load(spark_, sf_dir_, name):
            return spark.read.parquet(os.path.join(root, name + ".parquet"))
        return _load

    modules = [AX, BX, CAT, PX, TX_Q]

    def time_on(name, root) -> float:
        orig = [m.load_table for m in modules]
        loader = make_loader(root)
        for m in modules:
            m.load_table = loader
        try:
            return best_of(spark, lambda: CAT.QUERIES[name](spark, root), key=name)
        finally:
            for m, o in zip(modules, orig):
                m.load_table = o

    # untimed warm-up
    from pyspark.sql import functions as F

    noop(spark.read.parquet(os.path.join(base, "documents.parquet")).agg(F.count(F.lit(1))))

    results = {}
    for name in names:
        t1 = time_on(name, base)
        tk = time_on(name, derived)
        results[name] = {
            "t_1x": t1,
            f"t_{k}x": tk,
            "exponent": round(math.log(tk / t1) / math.log(k), 3),
        }
    print(
        json.dumps(
            {
                "metric": "rescan_probe",
                "k": k,
                "operators": results,
                "load_avg_1_5_15": load_avg(),
            }
        )
    )


if __name__ == "__main__":
    main()
