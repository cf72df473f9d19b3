"""Ingest-path scale probe (r15 verdict task 4): the engine's CORE
path — tab-CSV Hive scan → dynamic partition overwrite → pruned
read-back (operators/sink.py:100, sources/hive_csv.py) — timed at
1×/K× batch row counts, against the reference's hourly-job deadline
bar (Cloud Scheduler re-fires a job that hasn't finished inside its
540 s window — reference commands.sh:76).

The K× landing day is DERIVED from the driver-provided sf0.1 events
parquet (never hand-synthesized): the 30-day table is day-folded onto
2024-01-01 (ts minus whole days — minute/second/hour distribution
preserved, so the 24 hourly partitions keep their realistic shape)
and replicated K× with event_id/user_id stride shifts (fresh ids, no
artificial duplicate keys). Partition COUNT stays constant at 24 —
the scaling axis is rows-per-hour, exactly what grows when a real
producer's traffic grows (the reference's per-hour job layout is
fixed by the clock, not by volume). 1× = 100k rows (~4.2k/hour);
K=100 → 10M rows (~420k/hour).

Phases per K (each a min-of-2 cold run of scripts/measure.py, reader
construction and file listing included; noop sink for reads, real write
for the sink — the write IS the operator):

* ``csv_scan_day``      — full-day headerless tab-CSV parse through the
                          ingestion reader's fixed schema. Parse-bound:
                          claim e≈1 (it reads every byte).
* ``csv_scan_hour``     — ONE hour, partition-pruned at plan time (the
                          reference's per-job scan). Cost ∝ that hour's
                          rows only.
* ``sink_overwrite_day``— write_partition_overwrite of the whole
                          scanned day into a fresh landing table (24
                          dynamic partitions, cluster_by user_id).
                          Write-bound: claim e≈1 in batch rows.
* ``readback_hour``     — read_landing_table of one hour back from the
                          just-written table, pruned.
* ``sink_fixed_batch_vs_table_size`` — the O(batch) invariance: ingest
                          the SAME 1× single-hour batch into (a) a
                          fresh empty table and (b) the K× table just
                          written. Dynamic overwrite must cost the
                          batch, never the table — ratio ≈ 1.

Usage: python scripts/ingest_scale_probe.py [K ...]   (default: 10 100)
Writes one JSON line; append the payload to PROBES_r{N}.jsonl with a
run note and read the exponents into BASELINE.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import BASE_SF, best_of, fixture, noop  # noqa: E402

DERIVED = "/tmp/spark_graft_ingest_probe"


def build_landing_csv(spark, k: int) -> str:
    """K× day-folded events as headerless tab-CSV in Hive layout —
    the landing fixture (untimed, cached across runs)."""
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import with_partition_columns
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import TS_FMT
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    def write(out: str) -> None:
        # sf0.1 events is ONE parquet split: repartition BEFORE the explode
        # so the K×100k-row blowup runs on all cores instead of one task
        # (the build is untimed, but at K=1000 a single-task explode of
        # 100M rows stalls the fixture for many minutes)
        ev = load_table(spark, BASE_SF, "events").repartition(32)
        reps = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("rep")
        folded = (
            ev.select("*", reps)
            .select(
                (F.col("event_id").cast("long") * F.lit(1000) + F.col("rep").cast("long")).alias(
                    "event_id"
                ),
                # fold every day onto day 1: subtract the whole-day offset,
                # keeping the intra-day (hour/min/sec/µs) distribution intact
                F.expr(
                    "ts - make_dt_interval(datediff(ts, date'2024-01-01'), 0, 0, 0)"
                ).alias("ts"),
                (F.col("user_id").cast("long") + F.col("rep").cast("long") * F.lit(1_000_000)).alias(
                    "user_id"
                ),
                "event_type",
                "value",
                "props",
            )
        )
        (
            with_partition_columns(folded)
            .repartition(32)
            .write.partitionBy("year", "month", "day", "hour")
            .options(sep="\t", header=False, quote="", emptyValue="", timestampFormat=TS_FMT)
            .mode("overwrite")
            .csv(out)
        )

    return fixture(f"{DERIVED}_csv_{k}x", write)


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [10, 100]
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        read_landing_table,
        write_partition_overwrite,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import (
        EVENTS_SCHEMA,
        PART_HOUR,
        TS_FMT,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.hive_csv import (
        read_hive_partition,
        read_hive_partitioned,
    )

    spark = get_spark(app_name="ingest_scale_probe")
    results: dict[str, dict] = {}
    csv_opts = {"timestampFormat": TS_FMT}

    # warm-up: pay session/codegen/committer first-use costs BEFORE the
    # 1x timings (min-of-2 alone leaves the 1x row floor-inflated and
    # the exponents then read artificially negative)
    warm = build_landing_csv(spark, 1)
    noop(read_hive_partitioned(spark, warm, schema=EVENTS_SCHEMA, options=csv_opts))
    _root = f"{DERIVED}_warm_{time.monotonic_ns()}"
    create_partitioned_table(spark, _root)
    write_partition_overwrite(
        read_hive_partition(spark, warm, PART_HOUR, schema=EVENTS_SCHEMA, options=csv_opts),
        _root,
        cluster_by=["user_id"],
    )
    shutil.rmtree(_root, ignore_errors=True)

    tables_to_sweep: list[str] = []

    def sink_time(src) -> float:
        """Real write (the write IS the operator) of ``src()`` into a
        fresh table root per run; the last root is ``tables_to_sweep[-1]``."""

        def fresh_table():
            tables_to_sweep.append(f"{DERIVED}_tbl_{time.monotonic_ns()}")
            create_partitioned_table(spark, tables_to_sweep[-1])

        return best_of(
            spark,
            lambda: write_partition_overwrite(src(), tables_to_sweep[-1], cluster_by=["user_id"]),
            setup=fresh_table,
        )

    for k in [1] + ks:
        landing = build_landing_csv(spark, k)

        def day():
            return read_hive_partitioned(spark, landing, schema=EVENTS_SCHEMA, options=csv_opts)

        n_rows = day().count()
        t_scan_day = best_of(spark, day)
        t_scan_hour = best_of(
            spark,
            lambda: read_hive_partition(
                spark, landing, PART_HOUR, schema=EVENTS_SCHEMA, options=csv_opts
            ),
        )
        t_sink = sink_time(day)
        big_root = tables_to_sweep[-1]
        t_read = best_of(
            spark,
            lambda: read_landing_table(spark, big_root, PART_HOUR).select(
                "event_id", "user_id", "value"
            ),
        )
        results[f"{k}x"] = {
            "rows": n_rows,
            "csv_scan_day": t_scan_day,
            "csv_scan_hour": t_scan_hour,
            "sink_overwrite_day": t_sink,
            "readback_hour": t_read,
        }
        if k == max(ks):
            # O(batch) invariance: the same small 1× hour batch into a
            # fresh table vs the K× table — dynamic overwrite must cost
            # the batch, never the table
            one_hour_batch = read_hive_partition(
                spark,
                build_landing_csv(spark, 1),
                PART_HOUR,
                schema=EVENTS_SCHEMA,
                options=csv_opts,
            ).localCheckpoint(eager=True)
            t_fresh = sink_time(lambda: one_hour_batch)
            t_big = best_of(
                spark,
                lambda: write_partition_overwrite(one_hour_batch, big_root, cluster_by=["user_id"]),
            )
            results["sink_fixed_batch_vs_table_size"] = {
                "t_fresh_table": t_fresh,
                f"t_{k}x_table": t_big,
                "table_size_ratio": round(t_big / max(t_fresh, 1e-9), 3),
            }

    # exponents between adjacent scales, per phase
    phases = ["csv_scan_day", "csv_scan_hour", "sink_overwrite_day", "readback_hour"]
    scales = [1] + ks
    for lo, hi in zip(scales, scales[1:]):
        for ph in phases:
            t_lo, t_hi = results[f"{lo}x"][ph], results[f"{hi}x"][ph]
            results.setdefault("exponents", {})[f"{ph}_{lo}x_{hi}x"] = round(
                math.log(max(t_hi, 1e-9) / max(t_lo, 1e-9)) / math.log(hi / lo), 3
            )

    results["deadline_bar_sec"] = 540  # reference Cloud Scheduler window
    print(json.dumps({"metric": "ingest_scale_probe", "ks": ks, "phases": results}))
    for root in tables_to_sweep:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
