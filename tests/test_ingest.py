"""End-to-end ingest tests: scan → partition overwrite → pruned read-back,
idempotency (the reference's core guarantee, README.md:34-39), skip-empty,
create-never, probe, async registry path."""

import datetime as dt
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.partition import (
    bq_partition_from_datetime,
    hive_path_from_datetime,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
    TableNotFoundError,
    create_partitioned_table,
    read_landing_table,
    write_partition_overwrite,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.ingest import (
    plan_partition_ingest,
    run_partition_ingest,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.jobs import JobRegistry, JobState
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.hive_csv import read_hive_partition
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.probe import partition_exists

from .conftest import EVENTS_SCHEMA, TS_FMT, run_counting_jobs

# events span 2024-01-01..2024-01-30 (TESTDATA.md); hour 2024010100 exists.
PART = "2024010100"
PART_DIR = "/year=2024/month=01/day=01/hour=00/"
MISSING = "2030010100"
CSV_OPTS = {"timestampFormat": TS_FMT}


def test_probe_exists(spark, hive_csv_root):
    assert partition_exists(spark, hive_csv_root, PART) == 1
    assert partition_exists(spark, hive_csv_root, MISSING) == 0


def test_scan_partition_pruned(spark, hive_csv_root, events):
    df = read_hive_partition(spark, hive_csv_root, PART, schema=EVENTS_SCHEMA, options=CSV_OPTS)
    expected = events.filter(
        F.date_format("ts", "yyyyMMddHH") == PART
    ).count()
    assert df.count() == expected
    assert expected > 0
    # the scan opens only the hour's own directory
    assert all(PART_DIR in f for f in df.inputFiles())


def test_csv_roundtrip_preserves_values(spark, hive_csv_root, events):
    df = read_hive_partition(
        spark, hive_csv_root, PART, schema=EVENTS_SCHEMA, options=CSV_OPTS
    ).drop("year", "month", "day", "hour")
    orig = events.filter(F.date_format("ts", "yyyyMMddHH") == PART)
    assert df.exceptAll(orig).count() == 0
    assert orig.exceptAll(df).count() == 0


def test_ingest_end_to_end_and_idempotent(spark, hive_csv_root, tmp_path):
    table_root = str(tmp_path / "landing")
    create_partitioned_table(spark, table_root)
    plan = plan_partition_ingest(hive_csv_root, table_root, PART, job_config=CSV_OPTS)
    meta = run_partition_ingest(spark, plan, EVENTS_SCHEMA, cluster_by=["user_id"])
    assert meta.status == JobState.SUCCESS

    first = read_landing_table(spark, table_root, PART)
    rows1 = sorted(r.event_id for r in first.select("event_id").collect())
    assert len(rows1) > 0

    # Re-run the same partition: state must be identical, zero duplicates.
    plan2 = plan_partition_ingest(hive_csv_root, table_root, PART, job_config=CSV_OPTS)
    assert run_partition_ingest(spark, plan2, EVENTS_SCHEMA).status == JobState.SUCCESS
    again = read_landing_table(spark, table_root, PART)
    rows2 = sorted(r.event_id for r in again.select("event_id").collect())
    assert rows1 == rows2


def test_overwrite_touches_only_target_partition(spark, hive_csv_root, tmp_path):
    table_root = str(tmp_path / "landing2")
    create_partitioned_table(spark, table_root)
    other = "2024010101"
    for p in (PART, other):
        plan = plan_partition_ingest(hive_csv_root, table_root, p, job_config=CSV_OPTS)
        assert run_partition_ingest(spark, plan, EVENTS_SCHEMA).status == JobState.SUCCESS
    before_other = read_landing_table(spark, table_root, other).count()
    # rewrite PART; partition `other` must be untouched (BQ decorator parity)
    plan = plan_partition_ingest(hive_csv_root, table_root, PART, job_config=CSV_OPTS)
    assert run_partition_ingest(spark, plan, EVENTS_SCHEMA).status == JobState.SUCCESS
    assert read_landing_table(spark, table_root, other).count() == before_other


def test_overwrite_survives_static_session_conf(spark, events, tmp_path):
    """Regression: the sink must pin partitionOverwriteMode=dynamic on the
    WRITE itself. Under a vanilla SparkSession the session-level mode is
    STATIC, and relying on ambient conf made each write wipe every other
    partition in the table root (both round-1 red CORRECTNESS rows).
    Simulate the vanilla session by forcing the session conf to static:
    the per-write option must still win."""
    table_root = str(tmp_path / "landing_static")
    create_partitioned_table(spark, table_root)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        hour_a = events.filter(F.date_format("ts", "yyyyMMddHH") == PART)
        hour_b = events.filter(F.date_format("ts", "yyyyMMddHH") == "2024010101")
        assert write_partition_overwrite(hour_a, table_root) == JobState.SUCCESS
        count_a = read_landing_table(spark, table_root, PART).count()
        assert count_a > 0
        assert write_partition_overwrite(hour_b, table_root) == JobState.SUCCESS
        # hour A must survive hour B's overwrite even under static session conf
        assert read_landing_table(spark, table_root, PART).count() == count_a
        assert read_landing_table(spark, table_root, "2024010101").count() > 0
    finally:
        spark.conf.set(key, prev)


def test_skip_missing_partition(spark, hive_csv_root, tmp_path):
    table_root = str(tmp_path / "landing3")
    create_partitioned_table(spark, table_root)
    plan = plan_partition_ingest(hive_csv_root, table_root, MISSING, job_config=CSV_OPTS)
    meta = run_partition_ingest(spark, plan, EVENTS_SCHEMA)
    assert meta.status == JobState.NOT_CREATED


def test_create_never_guard(spark, events, tmp_path):
    with pytest.raises(TableNotFoundError):
        write_partition_overwrite(events, str(tmp_path / "never_created"))


def test_skip_empty_dataframe(spark, events, tmp_path):
    table_root = str(tmp_path / "landing4")
    create_partitioned_table(spark, table_root)
    empty = events.filter(F.lit(False))
    assert write_partition_overwrite(empty, table_root) == JobState.NOT_CREATED


def test_require_partition_filter(spark, hive_csv_root, tmp_path):
    table_root = str(tmp_path / "landing5")
    create_partitioned_table(spark, table_root)
    plan = plan_partition_ingest(hive_csv_root, table_root, PART, job_config=CSV_OPTS)
    run_partition_ingest(spark, plan, EVENTS_SCHEMA)
    with pytest.raises(ValueError):
        read_landing_table(spark, table_root)  # no partition → rejected


def test_backfill_range(spark, hive_csv_root, events, tmp_path):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.ingest import backfill_partition_range

    table_root = str(tmp_path / "landing_bf")
    create_partitioned_table(spark, table_root)
    metas = backfill_partition_range(
        spark, hive_csv_root, table_root, "2024010100", "2024010103",
        EVENTS_SCHEMA, job_config=CSV_OPTS,
    )
    assert [m.partition for m in metas] == ["2024010100", "2024010101", "2024010102"]
    assert all(m.status == JobState.SUCCESS for m in metas)
    for part in ("2024010100", "2024010101", "2024010102"):
        expected = events.filter(F.date_format("ts", "yyyyMMddHH") == part).count()
        assert read_landing_table(spark, table_root, part).count() == expected


def test_ingest_schema_without_timestamp_column(spark, tmp_path):
    """Destination partition comes from the plan (decorator semantic) —
    a source schema with no ts column must ingest fine."""
    import pyspark.sql.types as T

    src = tmp_path / "plain_src" / "year=2024/month=03/day=05/hour=07"
    src.mkdir(parents=True)
    (src / "part-000.tsv").write_text("1\talice\n2\tbob\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    table_root = str(tmp_path / "plain_table")
    create_partitioned_table(spark, table_root)
    plan = plan_partition_ingest(str(tmp_path / "plain_src"), table_root, "2024030507")
    meta = run_partition_ingest(spark, plan, schema)
    assert meta.status == JobState.SUCCESS
    back = read_landing_table(spark, table_root, "2024030507")
    assert sorted((r.id, r.name) for r in back.collect()) == [(1, "alice"), (2, "bob")]


def test_async_registry_ingest(spark, hive_csv_root, tmp_path):
    table_root = str(tmp_path / "landing6")
    create_partitioned_table(spark, table_root)
    registry = JobRegistry(spark)
    plan = plan_partition_ingest(hive_csv_root, table_root, PART, job_config=CSV_OPTS)
    meta = run_partition_ingest(spark, plan, EVENTS_SCHEMA, registry=registry)
    assert meta.status == JobState.RUNNING
    final = registry.wait(plan.job_id, timeout=120)
    assert final.status == JobState.SUCCESS


def test_compact_partition_reduces_files_preserves_content(spark, events, tmp_path):
    """Fragmented hour (16-way salted write over a dense synthetic hour)
    → 1 compacted file, identical rows."""
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        compact_partition,
        create_partitioned_table,
        read_landing_table,
        write_partition_overwrite,
    )

    hour = spark.range(512).select(
        F.col("id").alias("event_id"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id") % 3600)).alias("ts"),
        (F.col("id") % 37).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") * 1.5).alias("value"),
        F.lit("{}").alias("props"),
    )
    table_root = str(tmp_path / "compact_tbl")
    create_partitioned_table(spark, table_root)
    write_partition_overwrite(hour, table_root, files_per_partition=16)

    part_dir = tmp_path / "compact_tbl" / "year=2024" / "month=01" / "day=01" / "hour=00"
    before = len([p for p in part_dir.iterdir() if p.name.startswith("part-")])
    assert before > 1

    expected = sorted(
        tuple(r) for r in read_landing_table(spark, table_root, "2024010100")
        .select("event_id", "user_id", "value").collect()
    )
    n_after = compact_partition(spark, table_root, "2024010100", cluster_by=["user_id"])
    assert n_after == 1
    got = sorted(
        tuple(r) for r in read_landing_table(spark, table_root, "2024010100")
        .select("event_id", "user_id", "value").collect()
    )
    assert got == expected


def test_scheme_prefixed_root_roundtrip(spark, hive_csv_root, events):
    """The reference is object-store-native (gs:// roots feed glob/probe/
    scan directly, ingestion/partition.py:25-27). Pin that contract with a
    scheme-prefixed URI root: glob_path_all must preserve the scheme, and
    probe + partition-pruned scan must behave identically through the
    Hadoop FS abstraction (file:// locally, gs://-shaped in production)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.partition import (
        glob_path_all,
        hive_path_from_bq_partition,
    )

    uri_root = "file://" + hive_csv_root

    pattern = glob_path_all(uri_root, hive_path_from_bq_partition(PART))
    assert pattern.startswith("file://")
    assert "/year=2024/month=01/day=01/hour=00/" in pattern

    # probe goes through Path.getFileSystem — scheme selects the FS client
    assert partition_exists(spark, uri_root, PART) == 1
    assert partition_exists(spark, uri_root, MISSING) == 0

    # scheme-prefixed scan: same rows, only the hour's directory opened
    df = read_hive_partition(
        spark, uri_root, PART, schema=EVENTS_SCHEMA, options=CSV_OPTS
    )
    expected = events.filter(F.date_format("ts", "yyyyMMddHH") == PART).count()
    assert df.count() == expected > 0
    assert all(PART_DIR in f for f in df.inputFiles())


def test_merge_upsert_into_cold_partition_is_insert(spark, events, tmp_path):
    """Merging into a partition that does not exist yet must degenerate
    to a plain insert (probe-first path) instead of dying on the
    empty-table schema inference."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        merge_upsert_partition,
        read_landing_table,
    )

    root = str(tmp_path / "cold_merge")
    create_partitioned_table(spark, root)
    hour = events.filter(F.date_format("ts", "yyyyMMddHH") == "2024010100")
    n = hour.count()
    assert n > 0
    merge_upsert_partition(spark, root, hour, "2024010100", ["event_id"])
    assert read_landing_table(spark, root, "2024010100").count() == n
    # second merge of the same rows is a no-op (idempotent upsert)
    merge_upsert_partition(spark, root, hour, "2024010100", ["event_id"])
    assert read_landing_table(spark, root, "2024010100").count() == n


def _write_hours(root, depth, write_hour):
    """Lay out ``depth`` consecutive hours from 2024-01-01 00:00 under
    ``root``, one small file per hour written by ``write_hour(leaf, i)``;
    returns the hours and their file paths."""
    hours = [dt.datetime(2024, 1, 1) + dt.timedelta(hours=i) for i in range(depth)]
    files = []
    for i, hour in enumerate(hours):
        leaf = root / hive_path_from_datetime(hour)
        leaf.mkdir(parents=True)
        files.append(write_hour(leaf, i))
    return hours, files


def _parquet_hour(leaf, i):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = leaf / "part-0.parquet"
    pq.write_table(pa.table({"event_id": [2 * i, 2 * i + 1], "value": [i + 0.25, i + 0.5]}), path)
    return path


def _tsv_hour(leaf, i):
    path = leaf / "part-0.tsv"
    path.write_text(f"{2 * i}\tu{i}\n{2 * i + 1}\tv{i}\n")
    return path


def _input_paths(df):
    return [urlparse(f).path for f in df.inputFiles()]


@pytest.mark.parametrize("depth", [24, 2000])
def test_read_landing_table_reads_only_the_hours_leaf(spark, tmp_path, depth):
    """One hour's read-back opens that hour's one file however deep the
    table is, and surfaces the partition columns as ints."""
    root = tmp_path / "deep_table"
    hours, files = _write_hours(root, depth, _parquet_hour)
    i = depth // 2
    h = hours[i]
    df = read_landing_table(spark, str(root), bq_partition_from_datetime(h))
    assert _input_paths(df) == [str(files[i])]
    assert sorted(tuple(r) for r in df.collect()) == [
        (2 * i, i + 0.25, h.year, h.month, h.day, h.hour),
        (2 * i + 1, i + 0.5, h.year, h.month, h.day, h.hour),
    ]


@pytest.mark.parametrize("depth", [24, 2000])
def test_read_hive_partition_reads_only_the_hours_leaf(spark, tmp_path, depth):
    """The tab-CSV source read opens only the requested hour's file."""
    root = tmp_path / "deep_bucket"
    hours, files = _write_hours(root, depth, _tsv_hour)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    i = depth // 2
    h = hours[i]
    df = read_hive_partition(spark, str(root), bq_partition_from_datetime(h), schema=schema)
    assert _input_paths(df) == [str(files[i])]
    assert sorted(tuple(r) for r in df.collect()) == [
        (2 * i, f"u{i}", h.year, h.month, h.day, h.hour),
        (2 * i + 1, f"v{i}", h.year, h.month, h.day, h.hour),
    ]


@pytest.mark.parametrize("depth", [24, 2000])
def test_read_landing_table_reads_a_set_of_hours_in_one_read(spark, tmp_path, depth):
    """Three hours read back as one leaf-list read: exactly those hours'
    files are opened however deep the table is, the rows are those
    hours' rows, and building the read launches one Spark job (schema
    inference) where a per-hour union launched one per hour."""
    root = tmp_path / "deep_table"
    hours, files = _write_hours(root, depth, _parquet_hour)
    picked = [1, depth // 2, depth - 1]
    parts = [bq_partition_from_datetime(hours[i]) for i in picked]
    df, jobs = run_counting_jobs(spark, lambda: read_landing_table(spark, str(root), *parts))
    assert len(jobs) == 1
    assert sorted(_input_paths(df)) == sorted(str(files[i]) for i in picked)
    expected = []
    for i in picked:
        h = hours[i]
        expected += [
            (2 * i, i + 0.25, h.year, h.month, h.day, h.hour),
            (2 * i + 1, i + 0.5, h.year, h.month, h.day, h.hour),
        ]
    assert sorted(tuple(r) for r in df.collect()) == sorted(expected)


def test_read_landing_table_missing_hour_is_empty_with_table_columns(spark, tmp_path):
    """An hour with no directory reads as zero rows with the same columns
    as a present hour (an empty BigQuery partition returns no rows)."""
    root = tmp_path / "gappy_table"
    _write_hours(root, 24, _parquet_hour)
    present = read_landing_table(spark, str(root), "2024010100")
    missing = read_landing_table(spark, str(root), MISSING)
    assert missing.count() == 0
    assert missing.dtypes == present.dtypes
