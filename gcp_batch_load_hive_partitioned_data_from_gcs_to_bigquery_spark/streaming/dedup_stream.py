"""Streaming incremental deduplication — the continuous form of
``operators/dedup.py incremental_dedup_batch``.

This is the steady-state shape of a continuously-ingesting training-data
pipeline at 100 TB: documents arrive as micro-batches; each batch is
deduplicated against the ACCUMULATED corpus (exact sha-256 stage, then
MinHash-band near-dup stage — never corpus×corpus); survivors append to
the corpus, duplicates land in an audit table with their ``dup_kind``.
Because each micro-batch is small relative to the corpus, AQE broadcasts
the banded batch against the corpus scan, and persisting the corpus
bands (``persist_corpus_bands``) upgrades the corpus side to a
bucket-aligned scan with no per-batch re-banding.

Semantics notes:

* duplicates WITHIN one micro-batch both survive (the batch is only
  paired against the corpus); run :func:`...dedup.exact_dedup_keepers`
  upstream if intra-batch exactness is required;
* the stream is effectively-once: a retried batch re-flags against a
  corpus that already contains its survivors, so re-appended rows are
  exact dups of themselves — callers that need strict exactly-once keep
  the corpus append inside the idempotent partition-overwrite sink
  instead of blind append (see ``stream_hourly_ingest``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import path_exists


def stream_incremental_dedup(
    spark: SparkSession,
    source_root: str,
    corpus_root: str,
    audit_root: str,
    schema: T.StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bands: int = 8,
    num_hashes: int = 32,
    threshold: float = 0.3,
    checkpoint: str | None = None,
    max_files_per_trigger: int = 1,
    md5_family: bool = False,
):
    """File-source stream → per-micro-batch incremental dedup →
    survivors appended to ``corpus_root``, duplicates to ``audit_root``.

    ``Trigger.AvailableNow`` + ``maxFilesPerTrigger`` replays a backlog
    file-by-file in arrival order — each file is one "hourly drop".
    Returns the started StreamingQuery (caller awaits termination).
    """
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import (
        incremental_dedup_batch,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_root)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # Existence is probed through the Hadoop FS, not by catching read
        # errors: only a genuinely absent corpus degrades to "everything
        # survives"; corrupt files / permission / transient FS failures
        # propagate and fail the micro-batch rather than silently skipping
        # dedup and appending duplicates.
        if path_exists(sess, corpus_root):
            corpus = sess.read.schema(schema).parquet(corpus_root)
            has_corpus = len(corpus.take(1)) > 0
        else:
            has_corpus = False
        if not has_corpus:
            corpus = sess.createDataFrame([], schema)
        flagged = incremental_dedup_batch(
            corpus,
            batch_df,
            id_col,
            text_col,
            num_bands=num_bands,
            num_hashes=num_hashes,
            threshold=threshold,
            # md5 family = the engine-portable hash chain every SQL
            # engine reproduces (the dedup_minhash_oracle pattern);
            # default stays the faster engine-native xxhash64 family
            md5_family=md5_family,
        # materialize BEFORE the corpus append: the flags' lineage reads
        # corpus_root, which the survivor write is about to extend, and
        # one checkpoint serves both the survivor and audit writes
        ).localCheckpoint(eager=True)
        survivors = flagged.filter(F.col("dup_kind").isNull()).select(
            *[F.col(c) for c in batch_df.columns]
        )
        dups = flagged.filter(F.col("dup_kind").isNotNull()).select(
            F.col(id_col), F.col("dup_kind"), F.lit(batch_id).alias("batch_id")
        )
        survivors.write.mode("append").parquet(corpus_root)
        dups.write.mode("append").parquet(audit_root)

    writer = stream.writeStream.foreachBatch(_sink).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
