"""Streaming semantics: tumbling hourly windows, late data, backfill."""

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.hourly import (
    hourly_counts,
    stream_hourly_ingest,
)

__all__ = ["drain_stream", "hourly_counts", "stream_hourly_ingest"]


def drain_stream(query, timeout_sec: int = 300, what: str = "stream") -> None:
    """Block until an availableNow/bounded StreamingQuery finishes, raising
    on timeout. A bare ``assert q.awaitTermination(...)`` is stripped under
    ``python -O`` and would silently fall through to reading a PARTIAL
    store (or racing the still-running sink) — the exact failure the guard
    exists to prevent — so the timeout must raise unconditionally."""
    if not query.awaitTermination(timeout_sec):
        raise RuntimeError(f"{what} did not drain in {timeout_sec}s")
