"""Streaming semantic deduplication — the continuous form of
``operators/similarity.semdedup_incremental``, completing the
incremental-dedup triple (exact sha / MinHash bands / embedding cosine)
for a continuously-ingesting corpus.

The accumulated corpus lives in a :func:`persist_corpus_cells` store
(a versioned root PARTITIONED by the cell key, centroids FROZEN in each
snapshot's ``_centroids/``), so each micro-batch costs
O(batch) in BOTH compute and I/O: the batch assigns against the frozen
centroids, screens against a store scan PRUNED to its touched cell
partitions (static IN filter → PartitionFilters; never a corpus
re-assignment, corpus shuffle, or full-store read) — survivors append
in place through the O(batch) append path, and dropped vectors land in an audit
table with their cell. The FIRST non-empty batch seeds the store (and
its centroids) and survives wholesale — the same degrade-to-accept
stance as ``dedup_stream``'s cold corpus.

Retry semantics: better than effectively-once (see
``similarity.semdedup_ingest_batch``). The screening join excludes
same-id pairs, so on a foreachBatch retry a survivor's own
already-appended copy cannot falsely drop it, and the append skips ids
already present — a retried batch converges to the same corpus state.
Only the audit can gain rows on replay (two same-batch near-dup
survivors re-screened after their own append can flag each other — an
audit-only wart of the intra-batch-pairs-not-compared stance), which
any consumer dedupes by key. Strict exactly-once on the audit keeps
its write inside an idempotent partition-overwrite sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["stream_semantic_dedup"]


def stream_semantic_dedup(
    spark: SparkSession,
    source_root: str,
    corpus_root: str,
    audit_root: str,
    schema: T.StructType,
    nlist: int = 8,
    min_cosine: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 1,
):
    """File-source stream → per-micro-batch incremental semantic dedup
    against the ``corpus_root`` cells store → survivors appended to the
    store, dropped vectors (vec_id, cell, batch_id) to ``audit_root``.
    Trigger.AvailableNow drains the backlog file-by-file; returns the
    started StreamingQuery."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_version
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        persist_corpus_cells,
        semdedup_ingest_batch,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_root)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        if live_version(sess, corpus_root) is None:
            if len(batch_df.take(1)) == 0:
                return
            # cold start: the first drop seeds the store AND freezes the
            # quantizer centroids; everything survives
            persist_corpus_cells(
                batch_df, corpus_root, nlist=nlist,
                id_col=id_col, vec_col=vec_col,
            )
            return
        # screen + survivor append in ONE pass (one pointer resolution,
        # one assignment GEMM, one pruned store scan); the returned
        # flags are already materialized, so writing the audit AFTER
        # the append observes the pre-append verdicts. A crash between
        # append and audit write replays the batch: the append is
        # idempotent and the audit consumer dedupes by key — the same
        # better-than-effectively-once contract as before.
        flags = semdedup_ingest_batch(
            sess, corpus_root, batch_df,
            nlist=nlist, min_cosine=min_cosine,
            id_col=id_col, vec_col=vec_col,
        )
        (
            flags.filter(~F.col("keep"))
            .select("vec_id", "cell", F.lit(batch_id).alias("batch_id"))
            .write.mode("append")
            .parquet(audit_root)
        )

    writer = stream.writeStream.foreachBatch(_sink).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
