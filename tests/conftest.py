"""Shared fixtures: one local SparkSession, a Hive-layout tab-CSV fixture
derived from the driver's events table (FIXTURES.md F1 raw-CSV variant)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Microsecond-preserving timestamp round-trip through CSV.
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _drop_test_stores(session) -> None:
    """Sweep every metastore store the test suite creates (all named
    ``t_*`` / ``test_*`` — the bucketed bands stores) out of the
    metastore AND the warehouse dir — including orphan dirs a crashed
    previous session left behind. Catalog fixture stores
    (``corpus_bands_*``) are NOT touched: they are process-cached by
    design and re-persisted per process. Path-based stores (IVF-PQ
    index, cells) live under per-test ``tmp_path`` roots instead."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._tables import drop_managed_table

    prefixes = ("t_", "test_")
    names = {t.name for t in session.catalog.listTables() if t.name.startswith(prefixes)}
    warehouse = session.conf.get("spark.sql.warehouse.dir")
    warehouse = warehouse.removeprefix("file:").rstrip("/")
    if os.path.isdir(warehouse):
        names |= {d for d in os.listdir(warehouse) if d.startswith(prefixes)}
    for n in sorted(names):
        drop_managed_table(session, n)


@pytest.fixture(scope="session")
def spark():
    session = get_spark(app_name="tests", shuffle_partitions=8)
    # sweep BEFORE the session's tests too: orphan t_*/test_* stores a
    # crashed previous session left behind would otherwise skew
    # version-number/store-content assertions before the teardown sweep
    _drop_test_stores(session)
    yield session
    _drop_test_stores(session)


@pytest.fixture(scope="session")
def events(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "events")


@pytest.fixture(scope="session")
def hive_csv_root(spark, events, tmp_path_factory):
    """Events re-laid-out as the reference's source format: headerless
    tab-delimited unquoted UTF-8 CSV under year=/month=/day=/hour=.
    (ingestion/partition.py:3, ingestion/bigquery_interaction.py:17-26)."""
    root = str(tmp_path_factory.mktemp("hive_csv_src"))
    shutil.rmtree(root, ignore_errors=True)
    out = events
    out = (
        out.withColumn("year", F.date_format("ts", "yyyy"))
        .withColumn("month", F.date_format("ts", "MM"))
        .withColumn("day", F.date_format("ts", "dd"))
        .withColumn("hour", F.date_format("ts", "HH"))
    )
    (
        out.repartition(1)
        .write.partitionBy("year", "month", "day", "hour")
        .options(sep="\t", header=False, quote="", emptyValue="", timestampFormat=TS_FMT)
        .csv(root)
    )
    return root


# Nanosecond instants (UTC) of the ns-flavored events fixture; the
# sub-microsecond digits must truncate away on read.
NS_EVENT_TS = (1704067200_123456789, 1704070800_000000999, 1704074400_999999999)


@pytest.fixture()
def ns_sf_dir(tmp_path):
    """An sf dir whose ``events.parquet`` stores ``ts`` as timestamp[ns]
    (the flavor some testdata regenerations write)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(NS_EVENT_TS)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(NS_EVENT_TS, pa.timestamp("ns")),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.0] * n),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def run_counting_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return its result and the
    tasks each Spark job it launched ran, one entry per job."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job and stage records arrive through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    tasks = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        stages = (tracker.getStageInfo(s) for s in tracker.getJobInfo(job_id).stageIds)
        tasks.append(sum(s.numCompletedTasks for s in stages if s is not None))
    return out, tasks
