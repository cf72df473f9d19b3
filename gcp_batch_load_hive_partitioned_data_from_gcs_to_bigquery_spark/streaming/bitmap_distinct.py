"""Streaming incremental EXACT distinct-count maintenance.

The streaming payoff of the mergeable-bitmap rollup
(queries/analytics_extra.py agg_bitmap_distinct): per-day distinct-user
counts stay exact and continuously fresh WITHOUT ever rescanning
history. Each micro-batch collapses to its (day, chunk) bitmaps
map-side, merges with the store's bitmaps for ONLY the touched days
(partition-pruned read), and dynamic-partition-overwrites those days —
per-batch cost is O(batch + touched days' chunks), never O(history).
countApproxDistinct/HLL gives this approximately; for dense integer key
spaces the bitmap keeps it exact.

The store is a plain parquet table partitioned by day (chunk rows are
user_space/32-sized per day — metadata-scale). Reading a day's distinct
is a popcount sum over its chunk rows; any date range composes with one
more bit_or, reading only the store.

Semantics note (same contract as the other foreachBatch sinks): the
merge is idempotent per batch CONTENT — re-processing the same rows
bit_ors the same bits, so retries cannot inflate counts (bitmap union
is idempotent, unlike additive counters) — which is exactly why the
bitmap, not a count, is the stored state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import path_exists

__all__ = [
    "stream_bitmap_distinct",
    "read_distinct_counts",
    "read_sliding_distinct",
]


def _grain_key(grain: str):
    """Partition key expression + column name for a store grain. The
    hour grain stores the epoch-hour as a LONG partition value (not a
    formatted string) so trailing-window arithmetic on the store is
    integer addition, never date parsing."""
    if grain == "hour":
        key = (
            (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
            .cast("long")
            .alias("hr")
        )
        return key, "hr"
    if grain == "day":
        return F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "day"
    raise ValueError(f"unknown grain {grain!r} (expected 'day' or 'hour')")


def _batch_chunks(batch_df: DataFrame, grain: str = "day") -> DataFrame:
    key, kname = _grain_key(grain)
    return (
        batch_df.select(
            key,
            (F.col("user_id") / 32).cast("long").alias("chunk"),
            F.expr("shiftleft(1L, cast(user_id % 32 as int))").alias("bit"),
        )
        .groupBy(kname, "chunk")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )


def stream_bitmap_distinct(
    spark: SparkSession,
    source_root: str,
    store_root: str,
    schema: T.StructType,
    checkpoint: str,
    max_files_per_trigger: int = 2,
    grain: str = "day",
):
    """File-source stream → per-batch (grain, chunk) bitmaps → merge
    into the partitioned store for the touched periods only.
    ``grain='hour'`` keeps the same O(batch + touched periods) contract
    at hour resolution — the state a sliding-window readout
    (:func:`read_sliding_distinct`) composes from without ever
    rescanning raw events. Trigger.AvailableNow drains the backlog;
    returns the started StreamingQuery."""
    _, kname = _grain_key(grain)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_root)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        fresh = _batch_chunks(batch_df, grain).persist()
        try:
            # bounded collect: one key per PERIOD the micro-batch touches
            # (days/hours, not rows) — a few entries per trigger by design
            keys = [r[kname] for r in fresh.select(kname).distinct().collect()]
            if not keys:
                return
            # Strictly O(touched periods): probe ONLY the touched
            # partition dirs for existence (bounded by the batch) and
            # read exactly those — never list the whole store, whose
            # partition count grows without bound in a long-lived
            # stream (at hour grain a single glob/partition-discovery
            # of the root is already 24x the day-grain metadata cost).
            root = store_root.rstrip("/")
            hit = [
                p for p in (f"{root}/{kname}={key}" for key in keys)
                if path_exists(sess, p)
            ]
            if hit:
                old = (
                    sess.read.option("basePath", root)
                    .parquet(*hit)
                    .select(
                        F.col(kname).cast(fresh.schema[kname].dataType),
                        "chunk",
                        "bits",
                    )
                )
                merged = (
                    fresh.unionByName(old)
                    .groupBy(kname, "chunk")
                    .agg(F.expr("bit_or(bits)").alias("bits"))
                )
            else:
                merged = fresh
            (
                # hash-repartition on the period key: every period's
                # rows land wholly in one task (still ONE file per
                # partition dir), but distinct periods write in
                # parallel — repartition(1, key) serialized the whole
                # batch's dir writes through a single task, which at
                # hour grain (hundreds of touched dirs per replay
                # batch) dominated the trigger
                merged.repartition(F.col(kname))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(kname)
                .parquet(store_root)
            )
        finally:
            fresh.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_sliding_distinct(
    spark: SparkSession, store_root: str, window_hours: int = 24
) -> DataFrame:
    """Trailing-``window_hours`` exact distinct actives per observed
    hour, composed ENTIRELY from an hour-grain bitmap store — the
    continuously-maintained form of the batch
    ``window_sliding_distinct`` query: raw events were absorbed into
    per-(hour, chunk) bitmaps by the stream, so any window position is
    one bit_or over ≤ ``window_hours`` × chunks stored rows. Returns
    (hour, n_active)."""
    store = spark.read.parquet(store_root)
    observed = store.select("hr").distinct()
    contrib = store.select(
        F.explode(
            F.sequence(
                F.col("hr").cast("long"),
                F.col("hr").cast("long") + F.lit(window_hours - 1),
            )
        ).alias("t_hr"),
        "chunk",
        "bits",
    )
    return (
        contrib.join(
            F.broadcast(
                observed.select(F.col("hr").cast("long").alias("t_hr"))
            ),
            "t_hr",
        )
        .groupBy("t_hr", "chunk")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .groupBy("t_hr")
        .agg(F.sum(F.bit_count("bits")).alias("n_active"))
        .select(
            F.date_format(
                F.timestamp_seconds(F.col("t_hr") * 3600), "yyyy-MM-dd HH"
            ).alias("hour"),
            "n_active",
        )
        .orderBy("hour")
    )


def read_distinct_counts(spark: SparkSession, store_root: str) -> DataFrame:
    """Per-day exact distinct counts from the store alone (popcount sum
    per day — no raw-event access), plus the 'ALL' row composed with one
    more bit_or across days."""
    store = spark.read.parquet(store_root)
    per_day = store.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.sum(F.bit_count("bits")).alias("n_bitmap")
    )
    overall = (
        store.groupBy("chunk")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .agg(F.sum(F.bit_count("bits")).alias("n_bitmap"))
        .select(F.lit("ALL").alias("day"), "n_bitmap")
    )
    return per_day.unionByName(overall)
