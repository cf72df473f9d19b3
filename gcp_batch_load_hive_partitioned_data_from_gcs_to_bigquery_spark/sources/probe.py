"""Partition-existence probe.

Parity with ``_partition_exists_in_bucket`` (ingestion/app.py:96-104): a
cheap metadata-only check — "does this partition prefix contain at least
one object?" — returning 1/0. The reference uses ``list_blobs(prefix,
max_results=1)`` and short-circuits on the first item; we use the Hadoop
FileSystem ``globStatus`` on the partition directory, which is a pure
namenode/object-store LIST with no Spark job launched. At 100 TB this stays
O(one directory listing) because the Hive layout puts each hour in its own
prefix. The hour's directory comes from :mod:`..functions.partition`, the
one owner of the hour ↔ directory mapping.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.partition import (
    glob_path_all,
    hive_path_from_bq_partition,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import glob_status


def partition_file_count(spark: SparkSession, root: str, partition: str) -> int:
    """Number of files under one hourly partition (0 if missing)."""
    pattern = glob_path_all(root, hive_path_from_bq_partition(partition))
    return len(glob_status(spark, pattern))


def partition_exists(spark: SparkSession, root: str, partition: str) -> int:
    """1 if the hourly partition has ≥1 file, else 0 — same 1/0 contract as
    the reference endpoint (ingestion/app.py:52-55, 70-72)."""
    return 1 if partition_file_count(spark, root, partition) > 0 else 0
