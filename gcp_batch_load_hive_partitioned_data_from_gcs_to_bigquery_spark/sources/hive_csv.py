"""Hive-partitioned + tab-delimited-CSV readers.

Scan-side parity with the reference's load-job source config:

* ``scan_hive_partitioned`` — the reference resolves one hourly partition to
  a glob ``gs://bucket/year=Y/month=M/day=D/hour=H/*`` (ingestion/
  partition.py:25-27, ingestion/tasks.py:27-28). ``read_hive_partition``
  loads that one leaf directory with ``basePath=root``: Spark's Hive-style
  partition discovery still surfaces ``year/month/day/hour`` as columns,
  and only the matching directory is ever listed or read, exactly the
  reference's scan.
* ``scan_csv_tab_delimited`` — option-for-option mapping of
  ``replace_partition_csv_job_config`` (ingestion/bigquery_interaction.py:
  17-26): CSV, field_delimiter='\\t', skip_leading_rows=0 (no header),
  quote_character='' (quoting disabled), UTF-8. The load never infers or
  creates schema (``create_disposition=CREATE_NEVER``, autodetect absent —
  ingestion/bigquery_interaction.py:18), so the reader REQUIRES an explicit
  schema and conforms columns positionally.

At 100 TB: unquoted tab CSV is line-splittable, so parse parallelism equals
file splits (``spark.sql.files.maxPartitionBytes``); addressing the leaf keeps
an hourly ingest to one directory regardless of table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import types as T

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.partition import partition_dir

# Reference: ingestion/bigquery_interaction.py:17-26. `quote=""` disables
# quoting entirely (BQ quote_character=''); header=False ≈ skip_leading_rows=0;
# mode=FAILFAST ≈ BQ's default max_bad_records=0 (reject malformed rows).
TAB_CSV_OPTIONS: dict[str, str] = {
    "sep": "\t",
    "header": "false",
    "quote": "",
    "encoding": "UTF-8",
    "mode": "FAILFAST",
}


def read_tab_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Parse headerless, tab-delimited, unquoted UTF-8 CSV into a fixed
    schema (no inference — CREATE_NEVER parity)."""
    return spark.read.schema(schema).options(**TAB_CSV_OPTIONS).csv(path)


def _hive_reader(spark, root, schema, fmt, options) -> DataFrameReader:
    """The ``basePath=root`` reader both Hive readers load through."""
    opts = dict(TAB_CSV_OPTIONS) if fmt == "csv" else {}
    opts.update(options or {})
    reader = spark.read.format(fmt).options(basePath=root, **opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader


def read_hive_partitioned(
    spark: SparkSession,
    root: str,
    schema: T.StructType | None = None,
    fmt: str = "csv",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Scan a whole Hive-partitioned dataset rooted at ``root``.

    Partition columns (``year/month/day/hour``) surface as DataFrame
    columns via built-in partition discovery; predicates on them prune at
    plan time. ``fmt='csv'`` defaults to the reference's tab-CSV options.
    """
    return _hive_reader(spark, root, schema, fmt, options).load(root)


def read_hive_partition(
    spark: SparkSession,
    root: str,
    partition: str,
    schema: T.StructType | None = None,
    fmt: str = "csv",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Scan exactly one hourly partition (compact ``YYYYMMDDHH``): load its
    directory, the reference's single-directory glob (ingestion/tasks.py:
    27-28), with ``basePath=root`` — one directory is listed however deep
    the bucket is, and ``year/month/day/hour`` still surface as columns.
    """
    return _hive_reader(spark, root, schema, fmt, options).load(partition_dir(root, partition))


def read_generic(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Arbitrary-format reader with pass-through options — parity with the
    request-level ``job_configuration`` dict splatted into the load config
    (ingestion/app.py:33, ingestion/bigquery_interaction.py:43,
    README.md:6-7)."""
    reader = spark.read.format(fmt).options(**(options or {}))
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
