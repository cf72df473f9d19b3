"""Framework-agnostic engine facade behind the REST routes.

Implements the six endpoint semantics of the reference service
(ingestion/app.py:47-93) over the Spark engine: partition-existence
probe, last-hour + explicit-partition ingest (async submit via the
JobRegistry), and job-status lookup with the reference's status-fold
precedence. Table DDL (create-landing-table, commands.sh:17-26 /
bq_create_table_ddl.sql) persists the explicit schema next to the table
so loads conform to it and never infer (CREATE_NEVER,
ingestion/bigquery_interaction.py:18).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api.models import LoadJob, NewLoadJob, load_job_from_metadata
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.partition import (
    datetime_from_bq_partition,
    last_hour_partition,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import (
    path_exists,
    read_small_file,
    write_small_file,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import create_partitioned_table
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.ingest import (
    plan_partition_ingest,
    run_partition_ingest,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.jobs import JobRegistry
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.probe import partition_exists

SCHEMA_FILE = "_schema.json"


class InvalidPartitionError(ValueError):
    """Malformed YYYYMMDDHH partition string → HTTP 422 (the reference
    validates by parsing, ingestion/app.py:111 / partition.py:12)."""


class TableNotRegisteredError(LookupError):
    """Ingest into a table that was never created → the CREATE_NEVER
    refusal surfaced at the API boundary."""


class IngestService:
    """One service instance per warehouse root; holds the Spark session
    and the async job registry (§3.3 of SURVEY.md)."""

    def __init__(self, spark: SparkSession, warehouse_root: str):
        self.spark = spark
        self.warehouse_root = warehouse_root
        self.registry = JobRegistry(spark)

    # --- DDL (commands.sh:17-26) -------------------------------------------

    def table_root(self, dataset_id: str, table_id: str) -> str:
        return os.path.join(self.warehouse_root, dataset_id, table_id)

    def create_landing_table(
        self, dataset_id: str, table_id: str, schema: T.StructType
    ) -> str:
        """CREATE TABLE IF NOT EXISTS with hourly partitioning; the schema
        is persisted so later loads conform positionally to it. The schema
        file goes through the table root's own FileSystem (any Hadoop
        URI works) with the atomic small-file write, and an existing one
        is never overwritten."""
        root = self.table_root(dataset_id, table_id)
        create_partitioned_table(self.spark, root)
        path = os.path.join(root, SCHEMA_FILE)
        if not path_exists(self.spark, path):
            write_small_file(self.spark, path, json.dumps(schema.jsonValue()))
        return root

    def _load_schema(self, dataset_id: str, table_id: str) -> T.StructType:
        path = os.path.join(self.table_root(dataset_id, table_id), SCHEMA_FILE)
        if not path_exists(self.spark, path):
            raise TableNotRegisteredError(
                f"table {dataset_id}.{table_id} does not exist "
                "(create_disposition=CREATE_NEVER parity)"
            )
        return T.StructType.fromJson(json.loads(read_small_file(self.spark, path)))

    # --- probes (ingestion/app.py:52-55, 70-72, 96-104) --------------------

    @staticmethod
    def _validate(partition: str) -> str:
        try:
            datetime_from_bq_partition(partition)
        except ValueError as exc:
            raise InvalidPartitionError(str(exc)) from exc
        return partition

    def partition_exists_in_bucket(self, bucket_name: str, partition: str) -> int:
        return partition_exists(self.spark, bucket_name, self._validate(partition))

    def last_hour_exists_in_bucket(self, bucket_name: str) -> int:
        return self.partition_exists_in_bucket(bucket_name, last_hour_partition())

    # --- ingest (ingestion/app.py:58-83, 107-124) --------------------------

    def ingest_partition(self, partition: str, request: NewLoadJob) -> LoadJob:
        """Async submit: returns immediately with the job in RUNNING (or
        NOT_CREATED if the partition has no files); poll via job_status."""
        self._validate(partition)
        schema = self._load_schema(request.dataset_id, request.table_id)
        plan = plan_partition_ingest(
            request.bucket_name,
            self.table_root(request.dataset_id, request.table_id),
            partition,
            dict(request.job_configuration or {}),
        )
        meta = run_partition_ingest(self.spark, plan, schema, registry=self.registry)
        return load_job_from_metadata(meta)

    def ingest_last_hour(self, request: NewLoadJob) -> LoadJob:
        return self.ingest_partition(last_hour_partition(), request)

    # --- status (ingestion/app.py:86-93) -----------------------------------

    def job_status(self, job_id: str) -> LoadJob:
        """Raises JobNotFoundError for unknown ids → HTTP 404."""
        return load_job_from_metadata(self.registry.status(job_id))
