"""The timestamp[ns] read path: a nanosecond parquet column reads as
int64 nanos under the session default and folds to microsecond
TimestampType — no read flips session conf to get there."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import (
    q_source_generic_format,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import (
    load_table,
    timestamp_flavor,
)
from tests.conftest import NS_EVENT_TS


def test_ns_fixture_is_nanosecond_flavored(ns_sf_dir):
    assert timestamp_flavor(f"{ns_sf_dir}/events.parquet") == "ns"


def test_load_table_folds_ns_to_micros_timestamp(spark, ns_sf_dir):
    df = load_table(spark, ns_sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = [r.us for r in df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()]
    assert got == [ns // 1000 for ns in NS_EVENT_TS]


def test_load_table_folds_tz_aware_ns_too(spark, tmp_path):
    """A tz-aware timestamp[ns] column also reads as int64 nanos under
    the session default; it must not surface as a bare bigint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = NS_EVENT_TS[0]
    pq.write_table(
        pa.table({"ts": pa.array([ns], pa.timestamp("ns", tz="UTC"))}),
        str(tmp_path / "events.parquet"),
    )
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.select(F.unix_micros("ts").alias("us")).first().us == ns // 1000


def test_load_table_rereads_footer_after_in_place_rewrite(spark, ns_sf_dir):
    """A file rewritten in place from timestamp[ns] to tz-aware micros
    loads in its new flavor: no footer probe answers from the old file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    expected = [ns // 1000 for ns in NS_EVENT_TS]

    def micros():
        df = load_table(spark, ns_sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        rows = df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()
        return [r.us for r in rows]

    path = f"{ns_sf_dir}/events.parquet"
    assert timestamp_flavor(path) == "ns"
    assert micros() == expected
    table = pq.read_table(path)
    idx = table.schema.get_field_index("ts")
    pq.write_table(
        table.set_column(idx, "ts", pa.array(expected, pa.timestamp("us", tz="UTC"))),
        path,
    )
    assert timestamp_flavor(path) == "tz"
    assert micros() == expected


def test_source_generic_format_reads_ns_file(spark, ns_sf_dir):
    got = {r.event_type: r.n for r in q_source_generic_format(spark, ns_sf_dir).collect()}
    assert got == {"click": 2, "view": 1}
