"""Timing harness for ARBITRARY catalog keys — the measurable
before/after that `bench.py` gives the 62 benched keys, extended to the
rest of the 262-key catalog.

Same rule as bench.py (scripts/measure.py): min of N pass-major cold
runs, each rebuilding the query after every cache is released and
executing it through the noop sink, so the cache-fill cost of any
persist stays inside the timed region.

Usage: python scripts/time_keys.py [-n PASSES] <key> [key ...]
Prints one JSON line: {"metric": "time_keys", "queries": {...}, ...}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import load_avg, time_passes, warm_up  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    n_passes = 4
    if args and args[0] == "-n":
        n_passes = int(args[1])
        args = args[2:]
    names = args
    if not names:
        print("usage: time_keys.py [-n PASSES] <key> [key ...]", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import QUERIES

    spark = get_spark(app_name="time_keys")
    warm_up(spark, sf_dir)
    all_runs = time_passes(spark, names, lambda name: QUERIES[name](spark, sf_dir), n_passes)
    print(
        json.dumps(
            {
                "metric": "time_keys",
                "unit": "sec",
                "queries": {k: min(v) for k, v in all_runs.items()},
                "runs": all_runs,
                "passes": n_passes,
                "sf_dir": sf_dir,
                "cold_per_pass": True,
                "load_avg_1_5_15": load_avg(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
