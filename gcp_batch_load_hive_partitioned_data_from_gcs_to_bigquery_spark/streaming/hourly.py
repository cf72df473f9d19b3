"""Hourly-window streaming semantics (SURVEY.md §2.7).

The reference is pure batch but encodes streaming concepts in its
orchestration; this module preserves them in both batch-emulated and
Structured Streaming form:

* ``stream_tumbling_window`` — one Hive partition = one 1-hour tumbling
  event-time window (ingestion/partition.py:3, README.md:24).
* ``stream_late_data`` — 40-minute late-arrival grace (cron ``40 * * * *``;
  commands.sh:73, README.md:43-47) → ``withWatermark(ts, "40 minutes")``.
* ``stream_reprocessing`` — at-least-once retries made effectively-once by
  idempotent partition replace (workflow.yaml:49-52, README.md:34-39) →
  ``foreachBatch`` + dynamic partition overwrite.
* ``stream_backfill`` — reprocess historical windows partition-by-partition
  (README.md:49-60, commands.sh:56-64): that is
  :func:`..plans.ingest.backfill_partition_range`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hourly_counts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Batch form of the tumbling 1-hour window: group by the hour bucket.
    Streaming twin: ``df.groupBy(F.window(ts_col, '1 hour'))``."""
    return (
        df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def stream_hourly_ingest(
    spark: SparkSession,
    source_root: str,
    table_root: str,
    schema: T.StructType,
    ts_col: str = "ts",
    watermark: str = "40 minutes",
    checkpoint: str | None = None,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
    trigger_available_now: bool = True,
):
    """Structured-Streaming ingest: file source → watermark → foreachBatch
    partition overwrite. ``Trigger.AvailableNow`` gives catch-up/backfill
    semantics; the watermark encodes the reference's 40-minute grace.
    Returns the started StreamingQuery.
    """
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import write_partition_overwrite

    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .options(**(options or {}))
        .load(source_root)
        .withWatermark(ts_col, watermark)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent per-batch partition replace — a retried batch rewrites
        # the same partitions with the same rows (stream_reprocessing).
        write_partition_overwrite(batch_df, table_root, ts_col=ts_col, create_never=False)

    writer = stream.writeStream.foreachBatch(_sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
