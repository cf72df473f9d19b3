"""Plan-level require_partition_filter enforcement (the reference's
bq_create_table_ddl.sql:12 as a pre-execution plan check, not just an
API-route guard)."""

import pytest
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
    create_partitioned_table,
    read_landing_table,
    write_partition_overwrite,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.guard import (
    PartitionFilterRequiredError,
    assert_partition_filtered,
    guarded_roots,
    unregister_landing_root,
)


@pytest.fixture()
def landing(spark, events, tmp_path):
    """A guarded landing table holding one day of events."""
    root = str(tmp_path / "guarded_tbl")
    create_partitioned_table(spark, root)  # registers the root
    day1 = events.filter(F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
    write_partition_overwrite(day1, root)
    yield root
    unregister_landing_root(root)


def test_create_registers_root(landing):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.guard import _normalize

    assert _normalize(landing) in guarded_roots()


def test_direct_unfiltered_read_rejected(spark, landing):
    """The bypass route the API guard can't see: spark.read.parquet(root)
    with no partition predicate must be rejected at plan level."""
    df = spark.read.parquet(landing)
    with pytest.raises(PartitionFilterRequiredError):
        assert_partition_filtered(df)


def test_unfiltered_aggregate_rejected(spark, landing):
    """The scan hides under an aggregate — the plan walk still finds it."""
    df = spark.read.parquet(landing).groupBy("event_type").count()
    with pytest.raises(PartitionFilterRequiredError):
        assert_partition_filtered(df)


def test_partition_filtered_read_passes(spark, landing):
    df = spark.read.parquet(landing).filter(
        (F.col("year") == 2024) & (F.col("month") == 1)
        & (F.col("day") == 1) & (F.col("hour") == 0)
    )
    out = assert_partition_filtered(df)
    assert out.count() > 0


def test_filter_written_above_join_still_passes(spark, landing):
    """Catalyst pushes the predicate down to the scan; the guard checks
    the scan, so WHERE placement in the query doesn't matter."""
    dim = spark.createDataFrame([("click",), ("view",)], ["event_type"])
    df = (
        spark.read.parquet(landing)
        .join(F.broadcast(dim), "event_type")
        .filter(F.col("hour") == 0)
    )
    assert_partition_filtered(df)


def test_non_guarded_root_unaffected(spark, events, tmp_path):
    plain = str(tmp_path / "plain_parquet")
    events.limit(100).write.parquet(plain)
    df = spark.read.parquet(plain)  # never registered → no enforcement
    assert assert_partition_filtered(df).count() == 100


def test_read_landing_table_route_still_green(spark, landing):
    assert read_landing_table(spark, landing, "2024010100").count() > 0


def test_read_landing_table_hour_leaf_passes(spark, landing):
    """The supported read addresses the hour's leaf directory: its scan
    carries no partition filter but is one hour by construction, whether
    the hour is present or missing."""
    assert assert_partition_filtered(read_landing_table(spark, landing, "2024010100")).count() > 0
    assert assert_partition_filtered(read_landing_table(spark, landing, "2030010100")).count() == 0


def test_leaf_list_read_passes_and_root_in_the_list_rejected(spark, landing):
    """A read of several hours' leaves is partition-constrained by
    construction; a leaf list that also names the root is not."""
    two_hours = read_landing_table(spark, landing, "2024010100", "2024010101")
    assert assert_partition_filtered(two_hours).count() > 0
    leaf = f"{landing}/year=2024/month=01/day=01/hour=00"
    df = spark.read.option("basePath", landing).parquet(leaf, landing)
    with pytest.raises(PartitionFilterRequiredError):
        assert_partition_filtered(df)


@pytest.mark.parametrize("fragment", ["year=2024", "year=2024/month=01/day=01"])
def test_unfiltered_shallow_directory_read_rejected(spark, landing, fragment):
    """A directory above the hour leaf still spans many hours."""
    df = spark.read.option("basePath", landing).parquet(f"{landing}/{fragment}")
    with pytest.raises(PartitionFilterRequiredError):
        assert_partition_filtered(df)


@pytest.fixture()
def long_landing(spark, events, tmp_path):
    """A guarded landing table whose root is longer than the 100
    characters a plan's text rendering keeps of a scan location."""
    root = str(tmp_path / ("t" * 100) / "guarded_tbl")
    assert len(root) > 100
    create_partitioned_table(spark, root)
    write_partition_overwrite(events.limit(200), root)
    yield root
    unregister_landing_root(root)


def test_long_root_unfiltered_read_rejected(spark, long_landing):
    with pytest.raises(PartitionFilterRequiredError):
        assert_partition_filtered(spark.read.parquet(long_landing))


def test_long_root_unfiltered_cached_read_rejected(spark, long_landing):
    """The scan under a cached relation is found through the cache's
    plan, whatever the root's length."""
    cached = spark.read.parquet(long_landing).cache()
    try:
        with pytest.raises(PartitionFilterRequiredError):
            assert_partition_filtered(cached.groupBy("event_type").count())
    finally:
        cached.unpersist()


def test_unfiltered_scalar_subquery_rejected(spark, landing):
    spark.read.parquet(landing).createOrReplaceTempView("guarded_lt")
    with pytest.raises(PartitionFilterRequiredError):
        assert_partition_filtered(spark.sql("SELECT (SELECT count(*) FROM guarded_lt) AS n"))
    ok = spark.sql("SELECT (SELECT count(*) FROM guarded_lt WHERE hour = 0) AS n")
    assert assert_partition_filtered(ok).first().n > 0


def test_reads_and_ingest_leave_session_conf_unchanged(spark, landing, ns_sf_dir):
    """An ns-flavored table read, a partition overwrite and a guarded
    read-back set no session conf."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    before = spark.conf.getAll
    ns_events = load_table(spark, ns_sf_dir, "events")
    assert ns_events.count() == 3
    write_partition_overwrite(ns_events, landing)
    assert read_landing_table(spark, landing, "2024010100").count() > 0
    assert spark.conf.getAll == before
