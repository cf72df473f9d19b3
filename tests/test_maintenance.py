"""Partition maintenance: enumeration and retention vacuum."""

from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
    create_partitioned_table,
    list_table_partitions,
    vacuum_partitions,
    write_partition_overwrite,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_vacuum_drops_only_expired_partitions(spark, tmp_path):
    root = str(tmp_path / "tbl")
    create_partitioned_table(spark, root)
    ev = load_table(spark, SF_DIR, "events").filter(
        (F.col("ts") < F.lit("2024-01-01 03:00:00").cast("timestamp"))
    )
    write_partition_overwrite(ev, root)
    assert list_table_partitions(spark, root) == [
        "2024010100",
        "2024010101",
        "2024010102",
    ]

    dropped, kept = vacuum_partitions(spark, root, retain_from="2024010101")
    assert dropped == ["2024010100"]
    assert kept == ["2024010101", "2024010102"]
    assert list_table_partitions(spark, root) == ["2024010101", "2024010102"]

    # surviving data still reads back partition-pruned and complete
    back = spark.read.option("basePath", root).parquet(root)
    expected = ev.filter(F.hour("ts") >= 1).count()
    assert back.count() == expected

    # idempotent: vacuuming again drops nothing
    dropped2, kept2 = vacuum_partitions(spark, root, retain_from="2024010101")
    assert dropped2 == [] and kept2 == ["2024010101", "2024010102"]


def test_merge_upsert_partition_semantics(spark, events, tmp_path):
    """Updates replace matched keys, inserts land, unmatched rows and
    sibling partitions are untouched."""
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        merge_upsert_partition,
        read_landing_table,
        write_partition_overwrite,
    )

    table_root = str(tmp_path / "merge_tbl")
    create_partitioned_table(spark, table_root)
    day1 = events.filter(F.col("ts") < F.lit("2024-01-01 02:00:00").cast("timestamp"))
    write_partition_overwrite(day1, table_root)

    hour0 = day1.filter(F.date_format("ts", "yyyyMMddHH") == "2024010100")
    other_before = read_landing_table(spark, table_root, "2024010101").count()

    some_ids = [r.event_id for r in hour0.limit(3).collect()]
    updates = hour0.filter(F.col("event_id").isin(some_ids)).withColumn(
        "value", F.lit(-99.0)
    )
    new_row = spark.createDataFrame(
        [(999_999_999, "2024-01-01 00:30:00", 7, "upsert_new", 3.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    merge_upsert_partition(
        spark, table_root, updates.unionByName(new_row), "2024010100", ["event_id"]
    )
    back = read_landing_table(spark, table_root, "2024010100")
    assert back.count() == hour0.count() + 1
    assert back.filter(F.col("event_id").isin(some_ids)).filter(
        F.col("value") != -99.0
    ).count() == 0
    assert back.filter(F.col("event_id") == 999_999_999).count() == 1
    # untouched rows keep original values
    untouched = back.filter(~F.col("event_id").isin(some_ids + [999_999_999]))
    orig = hour0.filter(~F.col("event_id").isin(some_ids))
    assert untouched.select("event_id", "value").exceptAll(
        orig.select("event_id", "value")
    ).count() == 0
    # sibling partition untouched
    assert read_landing_table(spark, table_root, "2024010101").count() == other_before


def test_list_table_partitions_parses_unpadded_leaves_and_skips_non_hours(spark, tmp_path):
    """Leaves written with unpadded values (pyarrow's Hive layout:
    ``month=1/day=2/hour=3``) list as padded ``YYYYMMDDHH``; a null-hour
    leaf (``hour=__HIVE_DEFAULT_PARTITION__``) is not an hour and is not
    listed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "pa_tbl")
    pq.write_to_dataset(
        pa.table(
            {
                "v": [1, 2, 3, 4],
                "year": [2024, 2024, 2024, 2024],
                "month": [1, 1, 12, 1],
                "day": [2, 2, 31, 2],
                "hour": [3, 23, 0, None],
            }
        ),
        root,
        partition_cols=["year", "month", "day", "hour"],
    )
    assert (tmp_path / "pa_tbl/year=2024/month=1/day=2/hour=__HIVE_DEFAULT_PARTITION__").is_dir()
    assert list_table_partitions(spark, root) == ["2024010203", "2024010223", "2024123100"]

