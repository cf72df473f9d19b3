"""Unit tests for the pure-Python partition kit (SURVEY.md §7 step 1).

Round-trips, zero-padding, glob suffix stripping — the properties the
reference relies on in ingestion/partition.py:1-27."""

import datetime as dt

import pytest
from hypothesis import given
from hypothesis import strategies as st

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions import partition as P


def test_bq_partition_format():
    assert P.bq_partition_from_datetime(dt.datetime(2023, 6, 27, 12, 59)) == "2023062712"


def test_bq_partition_parse():
    assert P.datetime_from_bq_partition("2023062712") == dt.datetime(2023, 6, 27, 12)


def test_bq_partition_parse_rejects_garbage():
    # Parity: strptime raises on malformed input (ingestion/partition.py:12)
    with pytest.raises(ValueError):
        P.datetime_from_bq_partition("not-a-partition")
    with pytest.raises(ValueError):
        P.datetime_from_bq_partition("2023133099")  # month 13


def test_hive_path_zero_padded():
    assert (
        P.hive_path_from_datetime(dt.datetime(2024, 1, 2, 3))
        == "year=2024/month=01/day=02/hour=03"
    )


def test_hive_path_from_bq_partition_composition():
    assert P.hive_path_from_bq_partition("2023062712") == "year=2023/month=06/day=27/hour=12"


def test_bq_partition_from_hive_path_inverts_and_rejects_non_hours():
    assert P.bq_partition_from_hive_path("year=2023/month=06/day=27/hour=12") == "2023062712"
    assert P.bq_partition_from_hive_path("year=2024/month=1/day=2/hour=3") == "2024010203"
    for fragment in (
        "",
        "year=2024",
        "year=2024/month=01/day=01",
        "year=2024/month=01/day=01/hour=__HIVE_DEFAULT_PARTITION__",
        "year=2024/month=01/day=01/hour=00/part-0.parquet",
    ):
        with pytest.raises(ValueError):
            P.bq_partition_from_hive_path(fragment)


def test_glob_path_strips_trailing_slash():
    # Parity: removesuffix("/") then template (ingestion/partition.py:25-27)
    assert (
        P.glob_path_all("gs://bucket", "year=2023/month=06/day=27/hour=12/")
        == "gs://bucket/year=2023/month=06/day=27/hour=12/*"
    )
    assert P.glob_path_all("/tmp/x/", "a=1") == "/tmp/x/a=1/*"


def test_last_hour_partition_injectable():
    now = dt.datetime(2024, 1, 1, 0, 30, tzinfo=dt.timezone.utc)
    assert P.last_hour_partition(now) == "2023123123"


def test_trunc_hour():
    assert P.trunc_hour(dt.datetime(2024, 5, 6, 7, 8, 9, 10)) == dt.datetime(2024, 5, 6, 7)


def test_partition_decorator():
    assert P.partition_decorator("landing", "2023062712") == "landing$2023062712"


def test_partition_values_padded():
    assert P.partition_values("2024010203") == {
        "year": "2024",
        "month": "01",
        "day": "02",
        "hour": "03",
    }


@given(
    st.datetimes(
        min_value=dt.datetime(1970, 1, 1),
        max_value=dt.datetime(2100, 1, 1),
    )
)
def test_roundtrip_property(d):
    truncated = P.trunc_hour(d)
    assert P.datetime_from_bq_partition(P.bq_partition_from_datetime(d)) == truncated
    assert P.hive_path_from_bq_partition(
        P.bq_partition_from_datetime(d)
    ) == P.hive_path_from_datetime(truncated)
    assert P.bq_partition_from_hive_path(P.hive_path_from_datetime(d)) == P.bq_partition_from_datetime(d)


def test_strict_partition_col_parses_and_raises(spark):
    """Column-level strict parse: valid strings parse, garbage fails the
    job (reference strptime parity, ingestion/partition.py:11-12) instead
    of flowing through as null."""
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.columns import (
        ts_from_bq_partition_col,
        ts_from_bq_partition_col_strict,
    )

    good = spark.createDataFrame([("2024010523",)], ["p"])
    [row] = good.select(ts_from_bq_partition_col_strict("p").alias("ts")).collect()
    assert row.ts == dt.datetime(2024, 1, 5, 23, 0)

    for bad in ("2024-01-05", "garbage", None):
        df = spark.createDataFrame([(bad,)], "p string")
        # permissive twin: null through
        [prow] = df.select(ts_from_bq_partition_col("p").alias("ts")).collect()
        assert prow.ts is None
        # strict twin: job fails
        with pytest.raises(Exception, match="malformed partition string|RAISE_ERROR"):
            df.select(ts_from_bq_partition_col_strict("p").alias("ts")).collect()


def test_bq_partition_from_hive_cols_matches_the_path_parse(spark):
    """The Column twin keys int partition columns (what discovery reads
    back) and the sink's zero-padded strings the same as the path parse."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.columns import (
        bq_partition_from_hive_cols,
    )

    ints = spark.createDataFrame([(2024, 1, 2, 3)], "year int, month int, day int, hour int")
    strs = spark.createDataFrame(
        [("2024", "01", "02", "03")], "year string, month string, day string, hour string"
    )
    expected = P.bq_partition_from_hive_path("year=2024/month=1/day=2/hour=3")
    for df in (ints, strs):
        assert df.select(bq_partition_from_hive_cols().alias("p")).first().p == expected

