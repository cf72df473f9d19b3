"""Query catalog: every operator from SURVEY.md §2 plus the training-data
pipeline surface, each as a (spark_fn, duckdb_oracle_sql) pair.

Contract (see __spark_entry__.py): spark_fn(spark, sf_dir) -> DataFrame;
the oracle is ANSI/DuckDB SQL over the same parquet tables registered as
views. Column names and rounding are aligned on both sides so the
driver's order-insensitive value hash matches exactly. Oracles are
omitted (None) only for genuinely non-SQL-expressible ops (LSH candidate
generation with engine-specific hashing).

Doubles are rounded (2-6 dp) in BOTH engines: different summation orders
across partitions legitimately differ in low-order bits; rounding makes
the comparison semantic rather than bitwise.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.columns import bq_partition_from_hive_cols
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import dedup as D
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import multimodal as MM
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import similarity as SIM
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import text as TX
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming import drain_stream

# --- shared fixtures ---------------------------------------------------------

# One known-present hour of the events table (TESTDATA: 2024-01 span).
PART_HOUR = "2024010100"
MISSING_HOUR = "2030010100"
_HOUR_PRED_SQL = "strftime(ts, '%Y%m%d%H') = '2024010100'"

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
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _events_day1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events restricted to 2024-01-01 (keeps roundtrip fixtures to 24
    partitions instead of 720)."""
    return load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )


def _tmp(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=f"sg_{prefix}_")


# Fixture memo: source layouts derived from an sf_dir are immutable, so
# repeated query invocations (bench passes, sweep) reuse them — timings
# then measure the operator under test, not fixture setup.
_FIXTURES: dict[tuple[str, str], str] = {}


def _csv_fixture_root(spark: SparkSession, sf_dir: str) -> str:
    """One day of events as headerless tab-CSV in Hive layout."""
    key = ("csv", sf_dir)
    if key not in _FIXTURES:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import with_partition_columns

        root = _tmp("fix_csv")
        (
            with_partition_columns(_events_day1(spark, sf_dir))
            .write.partitionBy("year", "month", "day", "hour")
            .options(sep="\t", header=False, quote="", emptyValue="", timestampFormat=TS_FMT)
            .mode("overwrite")
            .csv(root)
        )
        _FIXTURES[key] = root
    return _FIXTURES[key]


def _parquet_fixture_root(spark: SparkSession, sf_dir: str) -> str:
    """One day of events as Hive-partitioned parquet."""
    key = ("parquet", sf_dir)
    if key not in _FIXTURES:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import with_partition_columns

        root = _tmp("fix_parquet")
        with_partition_columns(_events_day1(spark, sf_dir)).write.partitionBy(
            "year", "month", "day", "hour"
        ).mode("overwrite").parquet(root)
        _FIXTURES[key] = root
    return _FIXTURES[key]


def _media_fixture_root(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Synthesized media (real PNG or WAV payloads, one per document)
    MATERIALIZED to parquet once per sf_dir. Decode queries read this
    stored table, so they measure the decode kernel — which is also what
    a real pipeline does: media arrives on disk, it is not re-encoded
    per query. Written pre-spread across cores so the decode stage gets
    file-level parallelism without a shuffle."""
    key = (f"media_{kind}", sf_dir)
    if key not in _FIXTURES:
        root = _tmp(f"fix_media_{kind}")
        docs = load_table(spark, sf_dir, "documents")
        synth = {
            "png": MM.documents_as_png_media,
            "wav": MM.documents_as_wav_media,
            "mp4": MM.documents_as_mp4_media,
        }[kind]
        (
            synth(docs.repartition(spark.sparkContext.defaultParallelism))
            .write.mode("overwrite")
            .parquet(root)
        )
        _FIXTURES[key] = root
    return _FIXTURES[key]


# === SURVEY §2.1 scans / sources / sinks ====================================


def q_scan_hive_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan_hive_partitioned (ingestion/partition.py:25-27): write one day
    of events as Hive-partitioned parquet, read back ONE hour partition-
    pruned, aggregate. The filter on partition columns is statically
    pruned to a single directory."""
    root = _parquet_fixture_root(spark, sf_dir)
    df = spark.read.option("basePath", root).parquet(root)
    one_hour = df.filter(
        (F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 1) & (F.col("hour") == 0)
    )
    return one_hour.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_SCAN_HIVE = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events WHERE {_HOUR_PRED_SQL}
GROUP BY event_type
"""


def q_scan_csv_tab_delimited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan_csv_tab_delimited (ingestion/bigquery_interaction.py:17-26):
    serialize one day of events as headerless tab-delimited unquoted
    UTF-8 CSV in Hive layout, scan one hour back through the ingestion
    reader with its fixed schema, and aggregate."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.hive_csv import read_hive_partition

    root = _csv_fixture_root(spark, sf_dir)
    df = read_hive_partition(
        spark, root, PART_HOUR, schema=EVENTS_SCHEMA, options={"timestampFormat": TS_FMT}
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_SCAN_CSV = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events WHERE {_HOUR_PRED_SQL}
GROUP BY event_type
"""


def q_source_generic_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source_generic_format (ingestion/app.py:33): pass-through options
    dict into an arbitrary-format reader (parquet here)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.hive_csv import read_generic
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import normalize_ts

    path = f"{sf_dir}/events.parquet"
    df = read_generic(spark, path, "parquet", options={"mergeSchema": "false"})
    df = normalize_ts(df)
    return df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


ORACLE_GENERIC = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY event_type
"""


def q_source_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro landing files via the pure-Python container reader
    (sources/avro.py, format("pyavro") — r14 verdict task 5: pip
    pyspark ships without the spark-avro jar, so this was the one
    documented format gap). The fixture derives deterministically from
    the nation table — nullable name (2-branch null union), bigint
    keys, a double — split across THREE files with different codecs:
    DEFLATE (spec-required), SNAPPY (the de-facto default real
    producers emit — r15 verdict task 3, decoded by the pure-Python
    snappy block decoder with the per-block big-endian CRC32 suffix
    verified), and ZSTANDARD (the rising default of newer producers —
    r17, RFC 8878 frames sized via the parsed Frame_Content_Size), all
    written by the module's spec-compliant writer (reader, snappy
    layer, AND zstd frame-header parse independently pinned against
    hand-assembled spec bytes in tests/test_avro.py). The read
    runs with a tiny split target so even this fixture exercises the
    sync-marker block splitting that makes one large Avro file feed
    many executors — the property the 100-TB ingest shape relies on."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources import avro as AV

    key = ("avro", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("fix_avro")
        nat = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
        schema = {
            "type": "record",
            "name": "nation_row",
            "fields": [
                {"name": "n_nationkey", "type": "long"},
                {"name": "n_name", "type": ["null", "string"]},
                {"name": "n_regionkey", "type": "long"},
                {"name": "weight", "type": "double"},
            ],
        }
        rows = [
            (
                int(r.n_nationkey),
                None if r.n_nationkey % 5 == 0 else r.n_name,
                int(r.n_regionkey),
                r.n_nationkey / 4.0,
            )
            for r in nat
        ]
        AV.write_avro(
            f"{root}/nation_a.avro",
            schema,
            [r for r in rows if r[0] < 13],
            codec="deflate",
            block_rows=7,
        )
        AV.write_avro(
            f"{root}/nation_b.avro",
            schema,
            [r for r in rows if 13 <= r[0] < 20],
            codec="snappy",
            block_rows=7,
        )
        AV.write_avro(
            f"{root}/nation_c.avro",
            schema,
            [r for r in rows if r[0] >= 20],
            codec="zstandard",
            block_rows=3,
        )
        _FIXTURES[key] = root
    try:
        spark.dataSource.register(AV.AvroDataSource)
    except Exception:
        pass  # idempotent re-register within a session
    return (
        spark.read.format("pyavro")
        .option("path", _FIXTURES[key])
        .option("split_mb", "0.00001")  # force per-block splits
        .load()
    )


ORACLE_AVRO = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_name END AS n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey,
       CAST(n_nationkey AS DOUBLE) / 4.0 AS weight
FROM nation
"""


def q_source_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source_generic_format, JSON instance (README.md:6-7 "other formats
    and configurations"): JSON-lines roundtrip through the same
    pass-through reader with an explicit schema (CREATE_NEVER parity — no
    inference), options dict carrying the timestamp format."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.hive_csv import read_generic

    key = ("json", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("fix_json")
        _events_day1(spark, sf_dir).write.mode("overwrite").option(
            "timestampFormat", TS_FMT
        ).json(root)
        _FIXTURES[key] = root
    df = read_generic(
        spark,
        _FIXTURES[key],
        "json",
        schema=EVENTS_SCHEMA,
        options={"timestampFormat": TS_FMT},
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
    )


def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source_generic_format, XML instance: Spark 4's built-in XML
    source (rowTag mode) round-trips a day of events written as XML and
    aggregates it back — the config-file/feed format the reference's
    "other formats" escape hatch (README.md:6-7) would meet in an
    enterprise bucket. Explicit schema, no inference (CREATE_NEVER
    parity). Avro is NOT exercised: the pip pyspark distribution ships
    without the external spark-avro jar — documented container
    constraint, same gate as the multimodal codec stubs."""
    key = ("xml", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("fix_xml")
        (
            _events_day1(spark, sf_dir)
            .select("event_id", "user_id", "event_type", "value")
            .write.mode("overwrite")
            .option("rowTag", "event")
            .format("xml")
            .save(root)
        )
        _FIXTURES[key] = root
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema(schema)
        .load(_FIXTURES[key])
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("event_id").alias("min_event_id"),
    )


ORACLE_SOURCE_XML = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
       min(event_id) AS min_event_id
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
GROUP BY event_type
"""


def q_source_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: parse_json
    once into the binary variant encoding, then typed variant_get
    extraction — the modern engine path for open-schema JSON columns
    (vs per-access get_json_object string re-parsing; at 100 TB the
    parse happens once per row, not once per extracted field). The
    DuckDB oracle extracts the same path with its native JSON type."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.variant_get(F.col("v"), "$.k", "int")
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.countDistinct(k).alias("distinct_k"),
    )


ORACLE_JSON_VARIANT = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
       max(CAST(props->>'$.k' AS INT)) AS max_k,
       CAST(count(DISTINCT CAST(props->>'$.k' AS INT)) AS BIGINT)
         AS distinct_k
FROM events GROUP BY event_type
"""


def q_sql_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (Spark 4 WITH RECURSIVE): generate the
    24-hour calendar spine by recursion (the generality path for
    irregular steps where sequence() can't express the walk), LEFT
    JOIN the day-1 hourly error rollup against it, and surface every
    hour INCLUDING silent zero-error hours — the monitoring gap a
    rollup-only query can't see. Recursion depth is calendar-bounded
    (24); Spark's recursive CTE requires UNION ALL, so only
    bounded/acyclic walks terminate — pinned here and in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    ev.filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    ).createOrReplaceTempView("ev_day1_rec")
    return spark.sql(
        """
        WITH RECURSIVE spine(h) AS (
          SELECT 0 UNION ALL SELECT h + 1 FROM spine WHERE h < 23
        ),
        roll AS (
          SELECT hour(ts) AS h, count(*) AS n
          FROM ev_day1_rec WHERE event_type = 'error' GROUP BY hour(ts)
        )
        SELECT s.h AS hour_of_day, CAST(coalesce(r.n, 0) AS BIGINT) AS n_errors
        FROM spine s LEFT JOIN roll r ON s.h = r.h
        ORDER BY s.h
        """
    )


ORACLE_RECURSIVE_SPINE = """
WITH RECURSIVE spine(h) AS (
  SELECT 0 UNION ALL SELECT h + 1 FROM spine WHERE h < 23
),
roll AS (
  SELECT extract(hour FROM ts) AS h, count(*) AS n
  FROM events
  WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-02 00:00:00'
  GROUP BY 1
)
SELECT s.h AS hour_of_day, CAST(coalesce(r.n, 0) AS BIGINT) AS n_errors
FROM spine s LEFT JOIN roll r ON s.h = r.h
ORDER BY s.h
"""


def q_sql_udf_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDFs (Spark 4 CREATE FUNCTION ... RETURN expr): the
    partition kit (functions/partition.py, mirroring the reference's
    ingestion/partition.py helpers) exposed to SQL-first users as
    catalog functions — the body is a plain Catalyst expression, so
    unlike Python UDFs these inline into whole-stage codegen with zero
    serialization boundary. Distinct hourly partitions of day 1 with
    their BigQuery decorator and Hive path."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION bq_partition(t TIMESTAMP) "
        "RETURNS STRING RETURN date_format(t, 'yyyyMMddHH')"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hive_path(t TIMESTAMP) "
        "RETURNS STRING RETURN concat("
        "'year=', date_format(t, 'yyyy'), '/month=', date_format(t, 'MM'),"
        "'/day=', date_format(t, 'dd'), '/hour=', date_format(t, 'HH'))"
    )
    ev = load_table(spark, sf_dir, "events")
    ev.filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    ).createOrReplaceTempView("ev_day1_udf")
    return spark.sql(
        """
        SELECT bq_partition(date_trunc('hour', ts)) AS partition_id,
               hive_path(date_trunc('hour', ts)) AS hive_path,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM ev_day1_udf
        GROUP BY 1, 2 ORDER BY 1
        """
    )


ORACLE_SQL_UDF = """
SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS partition_id,
       concat('year=', strftime(ts, '%Y'), '/month=', strftime(ts, '%m'),
              '/day=', strftime(ts, '%d'), '/hour=', strftime(ts, '%H'))
         AS hive_path,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
GROUP BY 1, 2 ORDER BY 1
"""


def q_quality_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-extra-scan quality metrics (operators/expectations.py
    check_expectations_observed): the violation counters ride the
    ingest write itself as an Observation — the landing parquet write
    IS the action that computes them. Returns the observed metric rows;
    the oracle recomputes the same counts declaratively."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.expectations import (
        check_expectations_observed,
    )

    ev = _events_day1(spark, sf_dir)
    rules = [
        ("no_error_rows", F.col("event_type") == "error"),
        ("value_le_200", F.col("value") > 200),
    ]
    observed, obs = check_expectations_observed(ev, rules)
    observed.write.mode("overwrite").parquet(_tmp("observed_land"))
    got = obs.get
    return spark.createDataFrame(
        [(name, int(got[name])) for name, _ in rules]
        + [("rows_written", int(got["__n_rows"]))],
        "rule string, n long",
    )


ORACLE_QUALITY_OBSERVED = """
SELECT 'no_error_rows' AS rule,
       CAST(sum(CASE WHEN coalesce(event_type = 'error', TRUE) THEN 1 ELSE 0 END)
            AS BIGINT) AS n
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
UNION ALL
SELECT 'value_le_200',
       CAST(sum(CASE WHEN coalesce(value > 200, TRUE) THEN 1 ELSE 0 END)
            AS BIGINT)
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
UNION ALL
SELECT 'rows_written', CAST(count(*) AS BIGINT)
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
"""


ORACLE_JSON_LINES = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00' GROUP BY event_type
"""


def q_probe_partition_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """probe_partition_exists (ingestion/app.py:96-104): metadata-only 1/0
    existence probe against a real Hive layout."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.probe import partition_exists

    root = _parquet_fixture_root(spark, sf_dir)
    rows = [
        (PART_HOUR, partition_exists(spark, root, PART_HOUR)),
        (MISSING_HOUR, partition_exists(spark, root, MISSING_HOUR)),
    ]
    return spark.createDataFrame(rows, "partition string, exists_flag int")


ORACLE_PROBE = f"""
SELECT '2024010100' AS partition,
       CAST(EXISTS(SELECT 1 FROM events WHERE {_HOUR_PRED_SQL}) AS INT) AS exists_flag
UNION ALL
SELECT '2030010100',
       CAST(EXISTS(SELECT 1 FROM events WHERE strftime(ts,'%Y%m%d%H')='2030010100') AS INT)
"""


def q_sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_partition_overwrite (ingestion/tasks.py:24-25): ingest one hour
    into a parquet landing table TWICE (idempotency, README.md:34-39) and
    read the partition back pruned — must equal a single clean copy."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        read_landing_table,
        write_partition_overwrite,
    )

    table_root = _tmp("sink")
    create_partitioned_table(spark, table_root)
    hour = _events_day1(spark, sf_dir).filter(F.date_format("ts", "yyyyMMddHH") == PART_HOUR)
    write_partition_overwrite(hour, table_root, cluster_by=["user_id"])
    write_partition_overwrite(hour, table_root, cluster_by=["user_id"])  # re-run
    back = read_landing_table(spark, table_root, PART_HOUR)
    return back.select("event_id", "user_id", "event_type", F.round("value", 2).alias("value"))


ORACLE_SINK = f"""
SELECT event_id, user_id, event_type, round(CAST(value AS DOUBLE), 2) AS value
FROM events WHERE {_HOUR_PRED_SQL}
"""


def q_sink_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard sink (operators/shards.py): write the document
    corpus as 7 reproducibly-assigned, epoch-permuted, one-file-per-
    shard parquet shards with a manifest written last, then read the
    set back through the integrity-verifying reader and return the
    manifest. Exercises the full write→verify→manifest path; the
    oracle recomputes the manifest arithmetic straight from the source
    table (Knuth shard hash, md5 epoch order, rank·id checksum)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.shards import (
        read_training_shards,
        shard_manifest,
        write_training_shards,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", token_count(F.col("text")).alias("n_tokens")
    )
    root = _tmp("shards")
    write_training_shards(
        docs, root, "doc_id", "n_tokens", n_shards=7, epoch=0
    )
    read_training_shards(spark, root, verify=True)  # raises on divergence
    return shard_manifest(spark, root).select(
        "shard", "n_docs", "n_tokens", "order_checksum"
    )


ORACLE_TRAINING_SHARDS = r"""
WITH tagged AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tok,
         ((doc_id & 2147483647) * 2654435761) % 7 AS shard,
         md5('0_' || CAST(doc_id AS VARCHAR)) AS ord
  FROM documents
),
ranked AS (
  SELECT shard, doc_id, n_tok,
         row_number() OVER (PARTITION BY shard ORDER BY ord) AS rk
  FROM tagged
)
SELECT CAST(shard AS INT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(rk * doc_id) AS BIGINT) AS order_checksum
FROM ranked GROUP BY shard
"""


def q_sink_skip_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_skip_empty + probe gate (workflow.yaml:25-35): ingesting a
    missing partition yields NOT_CREATED (code 0) and launches no job."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import create_partitioned_table
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.ingest import (
        plan_partition_ingest,
        run_partition_ingest,
    )

    root = _tmp("skipsrc")  # empty source layout
    table_root = _tmp("skiptable")
    create_partitioned_table(spark, table_root)
    meta = run_partition_ingest(
        spark, plan_partition_ingest(root, table_root, MISSING_HOUR), EVENTS_SCHEMA
    )
    return spark.createDataFrame([(int(meta.status),)], "state_code int")


ORACLE_SKIP_EMPTY = "SELECT 0 AS state_code"


def q_sink_create_never(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_create_never (ingestion/bigquery_interaction.py:15-18): writing
    into a never-created table root must be refused (flag 1), writing into
    a created one must succeed (flag 0 = no guard error)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        TableNotFoundError,
        create_partitioned_table,
        write_partition_overwrite,
    )

    hour = _events_day1(spark, sf_dir).filter(F.date_format("ts", "yyyyMMddHH") == PART_HOUR)
    missing_root = _tmp("cn_missing") + "/never_created"
    try:
        write_partition_overwrite(hour, missing_root)
        refused_missing = 0
    except TableNotFoundError:
        refused_missing = 1
    created_root = _tmp("cn_created")
    create_partitioned_table(spark, created_root)
    try:
        write_partition_overwrite(hour, created_root)
        refused_created = 0
    except TableNotFoundError:
        refused_created = 1
    rows = [("missing_table", refused_missing), ("created_table", refused_created)]
    return spark.createDataFrame(rows, "target string, refused int")


ORACLE_CREATE_NEVER = """
SELECT 'missing_table' AS target, 1 AS refused
UNION ALL SELECT 'created_table', 0
"""


def q_sink_compact_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-tiered partition compaction (maintenance twin of the sink,
    SURVEY §7): land one hour fragmented into 16 files, compact it to the
    target file size (1 file at this SF), read back pruned — content must
    be byte-equal to the uncompacted hour (the oracle checks content; the
    file-count drop is pinned in tests/test_ingest.py)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        compact_partition,
        create_partitioned_table,
        read_landing_table,
        write_partition_overwrite,
    )

    table_root = _tmp("compact")
    create_partitioned_table(spark, table_root)
    hour = _events_day1(spark, sf_dir).filter(F.date_format("ts", "yyyyMMddHH") == PART_HOUR)
    write_partition_overwrite(hour, table_root, files_per_partition=16)
    compact_partition(spark, table_root, PART_HOUR, cluster_by=["user_id"])
    back = read_landing_table(spark, table_root, PART_HOUR)
    return back.select("event_id", "user_id", "event_type", F.round("value", 2).alias("value"))


ORACLE_SINK_COMPACT = f"""
SELECT event_id, user_id, event_type, round(CAST(value AS DOUBLE), 2) AS value
FROM events WHERE {_HOUR_PRED_SQL}
"""


def q_sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped MERGE: land one hour, then upsert a correction
    batch (every even event_id's value doubled, plus two brand-new rows)
    and read the hour back. Updates replace matched keys, inserts land,
    unmatched rows survive untouched — the finer-grained correction op
    the reference's whole-partition WRITE_TRUNCATE lacks."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        merge_upsert_partition,
        read_landing_table,
        write_partition_overwrite,
    )

    table_root = _tmp("merge")
    create_partitioned_table(spark, table_root)
    hour = _events_day1(spark, sf_dir).filter(F.date_format("ts", "yyyyMMddHH") == PART_HOUR)
    write_partition_overwrite(hour, table_root)

    updates = hour.filter(F.col("event_id") % 2 == 0).withColumn(
        "value", F.col("value") * 2
    )
    new_rows = spark.createDataFrame(
        [
            (10_000_001, "2024-01-01 00:10:00", 1, "merge_insert", 1.5, "{}"),
            (10_000_002, "2024-01-01 00:20:00", 2, "merge_insert", 2.5, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merge_upsert_partition(
        spark, table_root, updates.unionByName(new_rows), PART_HOUR, ["event_id"]
    )
    back = read_landing_table(spark, table_root, PART_HOUR)
    return back.select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )


ORACLE_MERGE_UPSERT = f"""
WITH hour0 AS (SELECT * FROM events WHERE {_HOUR_PRED_SQL}),
upd AS (
  SELECT event_id, user_id, event_type, value * 2 AS value
  FROM hour0 WHERE event_id % 2 = 0
  UNION ALL
  SELECT * FROM (VALUES (10000001, 1, 'merge_insert', 1.5),
                        (10000002, 2, 'merge_insert', 2.5)) v(event_id, user_id, event_type, value)
)
SELECT event_id, user_id, event_type, round(CAST(value AS DOUBLE), 2) AS value
FROM (
  SELECT event_id, user_id, event_type, value FROM hour0
  WHERE event_id NOT IN (SELECT event_id FROM upd)
  UNION ALL
  SELECT * FROM upd
)
"""


def _two_drop_fixture(spark, key_name: str, sf_dir: str, parts) -> str:
    """Arrival-ordered parquet backlog for file-source streams: each
    frame in ``parts`` becomes one single-file "drop" whose mtime
    encodes its order (the file source replays oldest-first with
    maxFilesPerTrigger=1). Process-cached per (key_name, sf_dir)."""
    key = (key_name, sf_dir)
    if key not in _FIXTURES:
        import os

        src = _tmp(key_name)
        for i, part in enumerate(parts):
            sub = _tmp(f"{key_name}_stage{i}")
            part.coalesce(1).write.mode("overwrite").parquet(sub)
            name = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
            dst = os.path.join(src, f"{i:04d}.parquet")
            os.rename(os.path.join(sub, name), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        _FIXTURES[key] = src
    return _FIXTURES[key]


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous incremental dedup (streaming/dedup_stream.py) under a
    VALUE-EXACT oracle: two document drops replayed file-by-file through
    a foreachBatch stream; each micro-batch dedups against the
    accumulated corpus (exact sha + MinHash bands), survivors append,
    duplicates audit. The md5 hash family (the dedup_minhash_lsh
    pattern) lets DuckDB reproduce the exact/near flags. Drop 0
    (doc_id % 4 != 0) lands in an empty corpus — all survive; drop 1
    (doc_id % 4 == 0) dedups against that corpus, so the final audit
    table must equal the BATCH incremental-dedup oracle's flagged rows —
    proving stream/batch equivalence with a hard value check. The
    faster xxhash64 family stays available as the library default
    (``stream_incremental_dedup(..., md5_family=False)``, pinned by
    tests/test_streaming.py)."""
    import shutil

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.dedup_stream import (
        stream_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = _two_drop_fixture(
        spark, "stream_dedup_src", sf_dir,
        (docs.filter(F.col("doc_id") % 4 != 0), docs.filter(F.col("doc_id") % 4 == 0)),
    )
    # fresh corpus/audit/checkpoint per invocation: the corpus append is
    # stateful by design, so re-runs start from an empty corpus
    corpus_root, audit_root, ckpt = _tmp("sd_corpus"), _tmp("sd_audit"), _tmp("sd_ckpt")
    for d in (corpus_root, audit_root, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    q = stream_incremental_dedup(
        spark, src, corpus_root, audit_root, docs.schema,
        checkpoint=ckpt, md5_family=True,
    )
    q.awaitTermination()
    return spark.read.parquet(audit_root).select("doc_id", "dup_kind").orderBy("doc_id")


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (``F.session_window``, the streaming-state
    primitive, here in batch mode): per-user sessions close after 30
    minutes of silence; window end = last event + gap. Same gap semantics
    as the manual gaps-and-islands sessionize, but produced by the
    engine's session-window operator — in Structured Streaming the exact
    same expression runs incrementally with watermark-driven state
    eviction."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    sess = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return sess.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


ORACLE_SESSION_WINDOW = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM g
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM s
GROUP BY user_id, session_idx
"""


def q_rollup_continuous_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous hourly rollup (hypertable pattern): ingest three hours,
    maintain a per-hour aggregate table incrementally after each ingest —
    re-maintaining one hour twice to prove the aggregate never double-
    counts — then read the rollup table back pruned to those hours."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        maintain_hourly_rollup,
        read_landing_table,
        write_partition_overwrite,
    )

    hours = ["2024010100", "2024010101", "2024010102"]
    table_root = _tmp("cr_landing")
    rollup_root = _tmp("cr_rollup")
    create_partitioned_table(spark, table_root)
    ev = _events_day1(spark, sf_dir)
    aggs = {
        "n_rows": "count(*)",
        "sum_value": "round(sum(value), 2)",
        "n_users": "count(distinct user_id)",
    }
    for h in hours:
        batch = ev.filter(F.date_format("ts", "yyyyMMddHH") == h)
        write_partition_overwrite(batch, table_root)
        maintain_hourly_rollup(spark, table_root, rollup_root, h, ["event_type"], aggs)
    # late-data re-ingest of hour 0: rollup must re-derive, not accumulate
    batch0 = ev.filter(F.date_format("ts", "yyyyMMddHH") == hours[0])
    write_partition_overwrite(batch0, table_root)
    maintain_hourly_rollup(spark, table_root, rollup_root, hours[0], ["event_type"], aggs)

    return read_landing_table(spark, rollup_root, *hours).select(
        bq_partition_from_hive_cols().alias("hour_partition"),
        "event_type", "n_rows", "sum_value", "n_users",
    )


ORACLE_ROLLUP_CONTINUOUS = """
SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hour_partition,
       event_type, CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-01 03:00:00'
GROUP BY 1, 2
"""


def q_ddl_create_partitioned_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ddl_create_partitioned_table (bq_create_table_ddl.sql:1-13,
    commands.sh:17-26): the landing-table DDL as Spark SQL — ``CREATE
    TABLE .. USING parquet PARTITIONED BY (hour_bucket)`` where
    ``hour_bucket = date_trunc('hour', ts)`` is the engine's
    ``TIMESTAMP_TRUNC(f, HOUR)``; clustering = sorted insert on the
    cluster key (row-group min/max stats → scan locality). CREATE IF NOT
    EXISTS is idempotent like the reference's DDL; read-back goes through
    the catalog with a partition predicate (require_partition_filter)."""
    loc = _tmp("ddl_tbl")
    spark.sql("DROP TABLE IF EXISTS landing_ddl")
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS landing_ddl (
            event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
            event_type STRING, value DOUBLE, props STRING,
            hour_bucket TIMESTAMP)
        USING parquet PARTITIONED BY (hour_bucket)
        LOCATION '{loc}'
        """
    )
    # second CREATE IF NOT EXISTS must be a no-op (idempotent DDL)
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS landing_ddl (
            event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
            event_type STRING, value DOUBLE, props STRING,
            hour_bucket TIMESTAMP)
        USING parquet PARTITIONED BY (hour_bucket)
        LOCATION '{loc}'
        """
    )
    hour = _events_day1(spark, sf_dir).filter(F.date_format("ts", "yyyyMMddHH") == PART_HOUR)
    (
        hour.withColumn("hour_bucket", F.date_trunc("hour", "ts"))
        .sortWithinPartitions("user_id")  # CLUSTER BY parity
        .write.mode("overwrite")
        .insertInto("landing_ddl")
    )
    back = spark.table("landing_ddl").filter(
        F.col("hour_bucket") == F.to_timestamp(F.lit(PART_HOUR), "yyyyMMddHH")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.count_distinct("user_id").alias("users"),
    )


ORACLE_DDL_CREATE = f"""
SELECT event_type, count(*) AS n, round(sum(CAST(value AS DOUBLE)), 2) AS sum_value,
       count(DISTINCT user_id) AS users
FROM events WHERE {_HOUR_PRED_SQL}
GROUP BY event_type
"""


def q_filter_require_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_require_partition (bq_create_table_ddl.sql:12): reading the
    landing table without a partition predicate is rejected (flag 1); a
    partition-constrained read passes (flag 0)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        read_landing_table,
        write_partition_overwrite,
    )

    table_root = _tmp("reqpart")
    create_partitioned_table(spark, table_root)
    hour = _events_day1(spark, sf_dir).filter(F.date_format("ts", "yyyyMMddHH") == PART_HOUR)
    write_partition_overwrite(hour, table_root)
    try:
        read_landing_table(spark, table_root)
        rejected_unfiltered = 0
    except ValueError:
        rejected_unfiltered = 1
    n = read_landing_table(spark, table_root, PART_HOUR).count()
    rows = [("unfiltered_read_rejected", rejected_unfiltered), ("filtered_read_rows", n)]
    return spark.createDataFrame(rows, "check string, value bigint")


ORACLE_REQUIRE_PARTITION = f"""
SELECT 'unfiltered_read_rejected' AS check, CAST(1 AS BIGINT) AS value
UNION ALL
SELECT 'filtered_read_rows', CAST(count(*) AS BIGINT) FROM events WHERE {_HOUR_PRED_SQL}
"""


def q_job_state_poll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """job_state_poll + job_idempotent_start (§2.7): async submit via the
    registry, double-submit the same job id, poll to terminal SUCCESS,
    verify written row count."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        read_landing_table,
        with_partition_columns,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.ingest import (
        plan_partition_ingest,
        run_partition_ingest,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.jobs import JobRegistry

    src_root = _csv_fixture_root(spark, sf_dir)
    table_root = _tmp("jobtable")
    create_partitioned_table(spark, table_root)
    registry = JobRegistry(spark)
    plan = plan_partition_ingest(src_root, table_root, PART_HOUR, {"timestampFormat": TS_FMT})
    run_partition_ingest(spark, plan, EVENTS_SCHEMA, registry=registry)
    run_partition_ingest(spark, plan, EVENTS_SCHEMA, registry=registry)  # idempotent re-begin
    final = registry.wait(plan.job_id, timeout=600)
    n = read_landing_table(spark, table_root, PART_HOUR).count()
    return spark.createDataFrame([(int(final.status), n)], "state_code int, n_rows bigint")


ORACLE_JOB_POLL = f"""
SELECT 2 AS state_code, CAST(count(*) AS BIGINT) AS n_rows FROM events WHERE {_HOUR_PRED_SQL}
"""


def q_api_ingest_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REST surface (§2.9, api/service.py) exercised end-to-end as a
    driver-checkable value query: DDL → probe hit/miss → async ingest
    submit → poll to terminal → row-count readback → the three error
    folds (unknown job 404, malformed partition 422, CREATE_NEVER
    refusal). Every step collapses to a (step, code) row whose expected
    value DuckDB derives from the events table — turning the
    pytest-only API components into hard oracle rows."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api.service import (
        IngestService,
        InvalidPartitionError,
        TableNotRegisteredError,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api.models import NewLoadJob
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import read_landing_table
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.jobs import JobNotFoundError

    bucket = _csv_fixture_root(spark, sf_dir)
    service = IngestService(spark, _tmp("api_wh"))
    service.create_landing_table("lake", "events", EVENTS_SCHEMA)
    req = NewLoadJob(
        bucket_name=bucket, dataset_id="lake", table_id="events",
        job_configuration={"timestampFormat": TS_FMT},
    )
    rows: list[tuple[str, int]] = []
    rows.append(
        ("01_probe_hit", service.partition_exists_in_bucket(bucket, PART_HOUR))
    )
    rows.append(
        ("02_probe_miss", service.partition_exists_in_bucket(bucket, MISSING_HOUR))
    )
    job = service.ingest_partition(PART_HOUR, req)
    final = service.registry.wait(job.job_id, timeout=600)
    rows.append(("03_final_state", int(final.status)))
    n = read_landing_table(
        spark, service.table_root("lake", "events"), PART_HOUR
    ).count()
    rows.append(("04_rows_loaded", n))
    try:
        service.job_status("no-such-job")
        rows.append(("05_unknown_job_404", 0))
    except JobNotFoundError:
        rows.append(("05_unknown_job_404", 1))
    try:
        service.ingest_partition("2024-01-01-00", req)
        rows.append(("06_bad_partition_422", 0))
    except InvalidPartitionError:
        rows.append(("06_bad_partition_422", 1))
    try:
        service.ingest_partition(
            PART_HOUR,
            NewLoadJob(bucket_name=bucket, dataset_id="lake", table_id="nope"),
        )
        rows.append(("07_create_never_404", 0))
    except TableNotRegisteredError:
        rows.append(("07_create_never_404", 1))
    return spark.createDataFrame(rows, "step string, code long").orderBy("step")


ORACLE_API_LIFECYCLE = f"""
SELECT '01_probe_hit' AS step, CAST(1 AS BIGINT) AS code
UNION ALL SELECT '02_probe_miss', 0
UNION ALL SELECT '03_final_state', 2
UNION ALL SELECT '04_rows_loaded',
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE {_HOUR_PRED_SQL})
UNION ALL SELECT '05_unknown_job_404', 1
UNION ALL SELECT '06_bad_partition_422', 1
UNION ALL SELECT '07_create_never_404', 1
ORDER BY step
"""


def q_backfill_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_backfill (commands.sh:56-64, README.md:49-60): reprocess
    three consecutive hours partition-by-partition, then read each hour
    back pruned and count — replayed hours must exactly mirror the
    source."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        read_landing_table,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.ingest import backfill_partition_range

    src_root = _csv_fixture_root(spark, sf_dir)
    table_root = _tmp("bftable")
    create_partitioned_table(spark, table_root)
    metas = backfill_partition_range(
        spark, src_root, table_root, "2024010101", "2024010104",
        EVENTS_SCHEMA, {"timestampFormat": TS_FMT},
    )
    rows = []
    for meta in metas:
        n = read_landing_table(spark, table_root, meta.partition).count()
        rows.append((meta.partition, int(meta.status), n))
    return spark.createDataFrame(rows, "partition string, state_code int, n_rows bigint")


ORACLE_BACKFILL = """
SELECT strftime(h, '%Y%m%d%H') AS partition, 2 AS state_code,
       CAST(count(e.event_id) AS BIGINT) AS n_rows
FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 01:00:00',
                                    TIMESTAMP '2024-01-01 03:00:00',
                                    INTERVAL 1 HOUR)) AS h) hours
LEFT JOIN events e ON date_trunc('hour', e.ts) = hours.h
GROUP BY h
"""


# === SURVEY §2.2 projections / filters / predicates =========================


def q_filter_partition_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_partition_eq (ingestion/partition.py:3,15-16): conjunctive
    equality on the four derived partition columns."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.filter(
        (F.date_format("ts", "yyyy") == "2024")
        & (F.date_format("ts", "MM") == "01")
        & (F.date_format("ts", "dd") == "01")
        & (F.date_format("ts", "HH") == "00")
    )
    return df.select("event_id", "user_id", "event_type", F.round("value", 2).alias("value"))


ORACLE_FILTER_PART = f"""
SELECT event_id, user_id, event_type, round(CAST(value AS DOUBLE),2) AS value
FROM events WHERE {_HOUR_PRED_SQL}
"""


def q_filter_rlike_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_rlike_status (README.md:77): regex predicate over a JSON-ish
    payload, composed with an equality filter."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_type") == "error") & F.col("props").rlike(r'"k": 4\d')
    ).select("event_id", "user_id", "props")


ORACLE_RLIKE = """
SELECT event_id, user_id, props FROM events
WHERE event_type = 'error' AND regexp_matches(props, '"k": 4[0-9]')
"""


def q_filter_eq_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_eq_severity (README.md:92): severity=ERROR analogue."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )


ORACLE_EQ_SEVERITY = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_errors
FROM events WHERE event_type = 'error' GROUP BY user_id
"""


def q_monitor_error_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring rollup (§2.10, reference README.md:66-93): the implied
    alerting query — failed-event counts per 1-hour tumbling window with
    the failure-regex predicate, plus an error-rate against all events in
    the window. Batch twin of the streaming alert; window+groupBy is one
    shuffle on the hour bucket."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
            F.sum(F.col("props").rlike(r'"k": 4\d').cast("long")).alias("n_regex_hits"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_total",
            "n_errors",
            "n_regex_hits",
            F.round(F.col("n_errors") / F.col("n_total"), 4).alias("error_rate"),
        )
    )


ORACLE_MONITOR_ROLLUP = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       CAST(sum(CASE WHEN regexp_matches(props, '"k": 4[0-9]') THEN 1 ELSE 0 END) AS BIGINT) AS n_regex_hits,
       round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS error_rate
FROM events GROUP BY 1
"""


def q_filter_switch_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_switch_branch (workflow.yaml:25-35): in-query when/otherwise
    branching on a scalar."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("alert"))
        .when(F.col("value") > 150, F.lit("review"))
        .otherwise(F.lit("pass"))
        .alias("branch"),
    )


ORACLE_SWITCH = """
SELECT event_id,
       CASE WHEN event_type = 'error' THEN 'alert'
            WHEN value > 150 THEN 'review'
            ELSE 'pass' END AS branch
FROM events
"""


def q_project_job_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """project_job_fields (ingestion/app.py:36-44): project into the
    {job_id, name, code, error_msg} response shape."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("job_id"),
        F.col("event_type").alias("name"),
        F.when(F.col("event_type") == "error", F.lit(3))
        .when(F.col("event_type") == "purchase", F.lit(2))
        .otherwise(F.lit(1))
        .alias("code"),
        F.when(F.col("event_type") == "error", F.col("props")).alias("error_msg"),
    )


ORACLE_PROJECT_JOB = """
SELECT event_id AS job_id, event_type AS name,
       CASE WHEN event_type='error' THEN 3 WHEN event_type='purchase' THEN 2 ELSE 1 END AS code,
       CASE WHEN event_type='error' THEN props END AS error_msg
FROM events
"""


# === SURVEY §2.3 scalar functions ===========================================


def q_fn_partition_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fn_ts_to_bq_partition + fn_ts_to_hive_path + fn_partition_decorator
    + fn_glob_path + fn_upper (ingestion/partition.py, tasks.py:24-25) as
    column expressions."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.columns import (
        bq_partition_col,
        hive_path_col,
    )

    ev = load_table(spark, sf_dir, "events")
    bq = bq_partition_col("ts")
    hive = hive_path_col("ts")
    return ev.select(
        "event_id",
        bq.alias("bq_partition"),
        hive.alias("hive_path"),
        F.concat(F.lit("landing$"), bq).alias("decorated"),
        F.format_string("gs://%s/%s/*", F.lit("bucket"), hive).alias("glob"),
        F.upper("event_type").alias("type_upper"),
    )


ORACLE_FN_STRINGS = """
SELECT event_id,
       strftime(ts, '%Y%m%d%H') AS bq_partition,
       strftime(ts, 'year=%Y/month=%m/day=%d/hour=%H') AS hive_path,
       'landing$' || strftime(ts, '%Y%m%d%H') AS decorated,
       'gs://bucket/' || strftime(ts, 'year=%Y/month=%m/day=%d/hour=%H') || '/*' AS glob,
       upper(event_type) AS type_upper
FROM events
"""


def q_fn_partition_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fn_bq_partition_to_ts + fn_bq_partition_to_hive_path
    (ingestion/partition.py:11-22): parse the compact string back to a
    timestamp and re-format."""
    ev = load_table(spark, sf_dir, "events")
    parts = ev.select(F.date_format("ts", "yyyyMMddHH").alias("bq_partition")).distinct()
    ts2 = F.to_timestamp("bq_partition", "yyyyMMddHH")
    return parts.select(
        "bq_partition",
        F.date_format(ts2, "'year='yyyy'/month='MM'/day='dd'/hour='HH").alias("hive_path"),
        F.date_format(ts2, "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
    )


ORACLE_FN_ROUNDTRIP = """
WITH parts AS (SELECT DISTINCT strftime(ts, '%Y%m%d%H') AS bq_partition FROM events)
SELECT bq_partition,
       strftime(strptime(bq_partition, '%Y%m%d%H'), 'year=%Y/month=%m/day=%d/hour=%H') AS hive_path,
       strftime(strptime(bq_partition, '%Y%m%d%H'), '%Y-%m-%d %H:%M:%S') AS hour_start
FROM parts
"""


def q_fn_json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON dotted-path extraction (README.md:77 jsonPayload.success.result
    analogue) via get_json_object."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


ORACLE_JSON_GET = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events
"""


def q_fn_trunc_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fn_trunc_hour (bq_create_table_ddl.sql:7) + stream_tumbling_window
    batch form: hourly rollup."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


ORACLE_TRUNC_HOUR = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY 1
"""


def q_fn_uuid_last_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fn_uuid (ingestion/tasks.py:30) + fn_last_hour (ingestion/app.py:
    127-133): per-row uuid() job ids must be unique and well-formed, and
    the last-hour partition string must parse back to now()-1h truncated.
    Checked via deterministic invariants (the values themselves are
    random/time-dependent)."""
    ev = load_table(spark, sf_dir, "events")
    with_ids = ev.select("event_id", F.expr("uuid()").alias("job_id"))
    uuid_re = r"^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}$"
    checks = with_ids.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("job_id").alias("n_distinct_ids"),
        F.min(F.col("job_id").rlike(uuid_re).cast("int")).alias("all_wellformed"),
    )
    last_hour_ok = F.unix_timestamp(
        F.to_timestamp(
            F.date_format(F.current_timestamp() - F.expr("INTERVAL 1 HOUR"), "yyyyMMddHH"),
            "yyyyMMddHH",
        )
    ) == F.unix_timestamp(F.date_trunc("hour", F.current_timestamp() - F.expr("INTERVAL 1 HOUR")))
    return checks.withColumn("last_hour_roundtrip_ok", last_hour_ok.cast("int"))


ORACLE_FN_UUID = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct_ids,
       1 AS all_wellformed,
       1 AS last_hour_roundtrip_ok
FROM events
"""


# === analytics surface (§2.4-2.6 join/agg/window/setop/topk) ================


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: wide aggregation with derived
    measures; partial aggregation map-side, one shuffle on the tiny
    grouping key."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE), 2) AS sum_charge,
       round(CAST(avg(l_quantity) AS DOUBLE), 4) AS avg_qty,
       round(CAST(avg(l_extendedprice) AS DOUBLE), 4) AS avg_price,
       round(CAST(avg(l_discount) AS DOUBLE), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective filters pushed below a 3-way join, top-10
    by revenue. customer is broadcast (small dim); orders⋈lineitem
    shuffles on orderkey."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    joined = li.join(
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    rev = (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )
    return rev.select(
        "l_orderkey",
        "revenue",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
    )


ORACLE_Q3 = """
SELECT l_orderkey,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 6-way join with co-nation constraint; all dims
    broadcast, single shuffle on the orders⋈lineitem key."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(cust, cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "n_nationkey", "n_name")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


ORACLE_Q5 = """
SELECT n_name,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecast-revenue: conjunctive range predicates on a
    single fact table — every filter compiles to a Parquet pushed filter
    (min/max row-group skipping), the projection prunes to 4 columns, and
    the global agg is a map-side partial + 1-row exchange. The cheapest
    possible shape at 100 TB: scan cost tracks the predicate selectivity,
    not the table size."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_Q6 = """
SELECT round(CAST(sum(l_extendedprice * l_discount) AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority check: the EXISTS subquery compiles to
    a LEFT SEMI join — the lineitem side is pre-projected to just the join
    key behind a pushed-down returnflag predicate (the synthetic lineitem
    has no commit/receipt dates), so the shuffle carries one bigint per
    qualifying lineitem, and the semi join short-circuits on first match
    (no row multiplication)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
        )
        .join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORACLE_Q4 = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promotion effect: conditional aggregate over a
    fact-dim join — lineitem pruned to 4 columns behind a pushed shipdate
    range, part broadcast, the CASE folds into the partial agg so the
    final exchange moves two doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), disc_price).otherwise(F.lit(0.0)))
            / F.sum(disc_price),
            4,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


ORACLE_Q14 = """
SELECT round(CAST(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 4) AS promo_revenue_pct,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume customers: aggregate-then-semi-join —
    the HAVING subquery becomes a reusable aggregated frame joined back on
    the orderkey. Both sides shuffle on l_orderkey/o_orderkey once; AQE
    converts the filtered (tiny) qualifying-keys side to broadcast at
    runtime."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("o_total_qty"))
        .filter(F.col("o_total_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("o_total_qty", 2).alias("total_qty"),
        )
    )


ORACLE_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_date,
       round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
       round(CAST(t.qty AS DOUBLE), 2) AS total_qty
FROM customer, orders,
     (SELECT l_orderkey, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) t
WHERE o_orderkey = t.l_orderkey AND c_custkey = o_custkey
"""


def q_join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written with ``bucketBy(8,
    custkey) + sortBy`` so the SortMergeJoin consumes the bucket layout
    directly — zero Exchange in the join plan (pinned in
    tests/test_plans.py). This is the 100 TB pattern for repeated
    fact-fact joins: pay the shuffle once at write time, never at read
    time."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    for tbl in ("bkt_orders", "bkt_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", _tmp("bkt_orders"))
        .saveAsTable("bkt_orders")
    )
    (
        cust.select("c_custkey", "c_name", "c_nationkey")
        .write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", _tmp("bkt_customer"))
        .saveAsTable("bkt_customer")
    )
    bo = spark.table("bkt_orders")
    bc = spark.table("bkt_customer")
    # hint("merge"): at toy SF the tiny dim would broadcast, bypassing the
    # bucket layout this query exists to exercise; at real scale SMJ is
    # what the planner picks anyway for fact-fact sizes.
    return (
        bo.hint("merge")
        .join(bc, bo.o_custkey == bc.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


ORACLE_JOIN_BUCKETED = """
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no primitive): every day-1
    event picks up the latest error-event value at or before its
    timestamp, per user. One shuffle on the key via union+window carry-
    forward (operators/temporal.py); oracle is DuckDB's native ASOF JOIN."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import asof_join

    ev = _events_day1(spark, sf_dir)
    left = ev.select("event_id", "user_id", "ts")
    # unique (user_id, ts) state points so tie-breaks are well-defined on
    # both engines
    right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("state_val"))
    )
    out = asof_join(left, right, key="user_id", left_ts="ts", right_ts="ts")
    return out.select(
        "event_id", "user_id", F.round("state_val", 2).alias("last_error_value")
    )


ORACLE_JOIN_ASOF = """
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE ts < TIMESTAMP '2024-01-02 00:00:00'),
     r AS (SELECT user_id, ts, max(value) AS state_val FROM events
           WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-02 00:00:00'
           GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, round(CAST(r.state_val AS DOUBLE), 2) AS last_error_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (operators/temporal.py
    asof_join_tolerance): each purchase gains its user's most recent
    prior click ONLY if it is at most 30 minutes old — the attribution
    window contract an unbounded as-of silently violates by joining
    stale state. Same single-shuffle union+carry shape; tolerance is a
    narrow post-filter on the carried age. Day-level rollup output."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import (
        asof_join_tolerance,
    )

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join_tolerance(
        purchases, clicks, key="user_id", tolerance_s=1800, value_cols=[]
    )
    return (
        out.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("asof_age_s").isNotNull().cast("long")).alias(
                "n_attributed"
            ),
            F.round(F.avg("asof_age_s"), 2).alias("avg_age_s"),
        )
        .orderBy("day")
    )


ORACLE_ASOF_TOLERANCE = """
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
     m AS (
       SELECT p.event_id, p.ts,
              (SELECT max(c.ts) FROM c
               WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS last_click
       FROM p
     ),
     aged AS (
       SELECT event_id, ts,
              CASE WHEN last_click IS NOT NULL
                        AND epoch(ts) - epoch(last_click) <= 1800
                   THEN epoch(ts) - epoch(last_click) END AS age
       FROM m
     )
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CASE WHEN age IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_attributed,
       round(avg(age), 2) AS avg_age_s
FROM aged GROUP BY 1 ORDER BY 1
"""


def q_join_range_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via bucketed equi-join (custom
    operator): the 50 earliest error events define 2-hour maintenance
    windows; count day-1 events falling inside each. The inequality join
    becomes explode-to-hour-buckets + equi-join + exact containment —
    shuffle-based, no nested loop."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import (
        range_join_buckets,
    )

    ev = _events_day1(spark, sf_dir)
    intervals = (
        ev.filter(F.col("event_type") == "error")
        .orderBy("event_id")
        .limit(50)
        .select(
            F.col("event_id").alias("iv_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
        )
    )
    joined = range_join_buckets(ev, intervals, "ts", "start_ts", "end_ts")
    return joined.groupBy("iv_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_JOIN_RANGE = """
WITH iv AS (SELECT event_id AS iv_id, ts AS start_ts, ts + INTERVAL 2 HOUR AS end_ts
            FROM events WHERE event_type = 'error'
              AND ts < TIMESTAMP '2024-01-02 00:00:00'
            ORDER BY event_id LIMIT 50)
SELECT iv_id, CAST(count(*) AS BIGINT) AS n_points,
       round(CAST(sum(e.value) AS DOUBLE), 2) AS sum_value
FROM events e JOIN iv ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
WHERE e.ts < TIMESTAMP '2024-01-02 00:00:00'
GROUP BY iv_id
"""


def q_join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hash join of a fact table to a small dim — zero shuffle on
    the fact side (verify BroadcastHashJoin in .explain)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


ORACLE_JOIN_BROADCAST = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_totalprice,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/temporal.py
    interval_overlap_join): day-1 error and purchase events become
    [ts, ts + 1..30 min] intervals; overlapping error/purchase pairs
    are found via bucket decomposition (both sides explode to covered
    600 s buckets, meet on the bucket key, exact predicate filters) —
    never a cross join — and roll up to pair counts per error hour.
    Durations use floor(value) so the truncate-vs-round CAST divergence
    between engines can't bite."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import interval_overlap_join

    ev = _events_day1(spark, sf_dir)

    def intervals(event_type: str) -> DataFrame:
        mins = (
            (F.floor("value").cast("long") % 30 + 30) % 30 + 1
        )
        s0 = F.unix_timestamp("ts")
        return ev.filter(F.col("event_type") == event_type).select(
            F.col("event_id").alias("id"),
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
            s0.alias("s"),
            (s0 + mins * 60).alias("e"),
        )

    pairs = interval_overlap_join(
        intervals("error"), intervals("purchase"), bucket_secs=600
    )
    return (
        pairs.groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hour")
    )


ORACLE_INTERVAL_OVERLAP = """
WITH err AS (
  SELECT event_id AS id, strftime(ts, '%Y-%m-%d %H') AS hour,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + (((CAST(floor(value) AS BIGINT) % 30) + 30) % 30 + 1) * 60 AS e
  FROM events
  WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-02 00:00:00'
),
pur AS (
  SELECT event_id AS id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + (((CAST(floor(value) AS BIGINT) % 30) + 30) % 30 + 1) * 60 AS e
  FROM events
  WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-02 00:00:00'
)
SELECT err.hour, CAST(count(*) AS BIGINT) AS n_pairs
FROM err JOIN pur ON err.s <= pur.e AND pur.s <= err.e
GROUP BY err.hour ORDER BY err.hour
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left-semi join (EXISTS): customers with at least one order, counted
    per nation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    return (
        with_orders.join(F.broadcast(nation), with_orders.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_JOIN_SEMI = """
SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left-anti join (NOT EXISTS): customers with no orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    no_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return no_orders.select("c_custkey", "c_name", "c_nationkey")


ORACLE_JOIN_ANTI = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (status → priority → grand total)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


ORACLE_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two dimensions (all 4 grouping sets in one pass)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


ORACLE_CUBE = """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(CAST(avg(o_totalprice) AS DOUBLE), 2) AS avg_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing per market segment (ntile window)."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    buckets = cust.withColumn("quartile", F.ntile(4).over(w))
    return buckets.groupBy("c_mktsegment", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
    )


ORACLE_NTILE = """
SELECT c_mktsegment, CAST(quartile AS BIGINT) AS quartile,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(avg(c_acctbal) AS DOUBLE), 2) AS avg_bal
FROM (
  SELECT c_mktsegment, c_acctbal,
         ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
  FROM customer
) GROUP BY 1, 2
"""


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join: per-nation customer and supplier counts, keeping
    nations present on either side only."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


ORACLE_FULL_OUTER = """
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       CAST(COALESCE(c.n_customers, 0) AS BIGINT) AS n_customers,
       CAST(COALESCE(s.n_suppliers, 0) AS BIGINT) AS n_suppliers
FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer GROUP BY 1) c
FULL OUTER JOIN
     (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
USING (nationkey)
"""


def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99) per return flag."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
    )


ORACLE_PERCENTILES = """
SELECT l_returnflag,
       round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
       round(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS p90,
       round(CAST(quantile_cont(l_extendedprice, 0.99) AS DOUBLE), 4) AS p99
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (count FILTER) — shuffle-once."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_pending"),
        F.count(F.lit(1)).alias("n_total"),
    )


ORACLE_PIVOT = """
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus='O') AS BIGINT) AS n_open,
       CAST(count(*) FILTER (WHERE o_orderstatus='F') AS BIGINT) AS n_finished,
       CAST(count(*) FILTER (WHERE o_orderstatus='P') AS BIGINT) AS n_pending,
       CAST(count(*) AS BIGINT) AS n_total
FROM orders GROUP BY o_orderpriority
"""


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global statistics: count / sum / avg / min / max / sample stddev /
    exact distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


ORACLE_STATS = """
SELECT CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price,
       round(CAST(avg(l_extendedprice) AS DOUBLE), 4) AS avg_price,
       round(CAST(min(l_extendedprice) AS DOUBLE), 2) AS min_price,
       round(CAST(max(l_extendedprice) AS DOUBLE), 2) AS max_price,
       round(CAST(stddev_samp(l_extendedprice) AS DOUBLE), 4) AS std_price,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem
"""


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window (deterministic tie-break)."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_mktsegment", "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), "rank")
    )


ORACLE_WINDOW_TOPK = """
SELECT c_mktsegment, c_custkey, round(CAST(c_acctbal AS DOUBLE),2) AS c_acctbal, CAST(rank AS INT) AS rank
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer
) WHERE rank <= 3
"""


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per customer over order history (rows-frame window)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


ORACLE_RUNNING = """
SELECT o_custkey, o_orderkey,
       round(CAST(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total
FROM orders
"""


def q_window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence gap analysis: lag window + epoch arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap_us"), 0).alias("avg_gap_us"),
    )


ORACLE_LAG_GAP = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us
  FROM events
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
       round(CAST(avg(gap_us) AS DOUBLE), 0) AS avg_gap_us
FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
"""


def q_window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30-minute silence starts a new session
    (new-session flag → running sum = session index — two window passes
    over ONE shuffle on user_id, since both windows share the same
    partitioning+ordering). Output: per-user session count and the mean
    events-per-session. The batch form of streaming session windows."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sessions = ev.select(
        "user_id",
        F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias(
            "session_idx"
        ),
    )
    per_session = sessions.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_events_per_session"),
    )


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
),
p AS (SELECT user_id, session_idx, count(*) AS n_events FROM s GROUP BY 1, 2)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       round(CAST(avg(n_events) AS DOUBLE), 4) AS avg_events_per_session
FROM p GROUP BY user_id
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, no full sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


ORACLE_TOPK = """
SELECT o_orderkey, o_custkey, round(CAST(o_totalprice AS DOUBLE),2) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with customers but no suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.subtract(supp)  # EXCEPT (set semantics), not EXCEPT ALL


ORACLE_EXCEPT = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
"""


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations with both customers and suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


ORACLE_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (dedup): all account balances tagged by source relation."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"), F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("src"), F.col("s_nationkey").alias("nationkey")
    )
    return cust.union(supp).distinct()


ORACLE_UNION = """
SELECT 'customer' AS src, c_nationkey AS nationkey FROM customer
UNION
SELECT 'supplier' AS src, s_nationkey AS nationkey FROM supplier
"""


def q_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation per group."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_USERS = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


# === streaming (§2.7) =======================================================


def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_tumbling_window + stream_late_data: Structured Streaming over
    the events parquet (availableNow trigger = bounded catch-up run),
    1-hour tumbling window with a 40-minute watermark (the reference's
    late-data grace, commands.sh:73), counts to a memory sink."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import (
        normalize_ts,
        stream_ts_field,
    )

    src_path = f"{sf_dir}/events.parquet"
    stream_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            stream_ts_field(src_path),  # flavor varies per testdata regen
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    # file-stream sources need a directory; link the single parquet file in
    import os

    stream_dir = _tmp("streamsrc")
    os.symlink(src_path, f"{stream_dir}/events.parquet")
    name = "stream_hourly_counts"
    stream = (
        normalize_ts(spark.readStream.schema(stream_schema).parquet(stream_dir))
        .withWatermark("ts", "40 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    return spark.table(name).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "n_rows",
    )


ORACLE_STREAM = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events GROUP BY 1
"""


def q_stream_hourly_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_reprocessing (§2.7): Structured-Streaming file source →
    40-min watermark → foreachBatch idempotent partition overwrite into
    the landing table (availableNow = bounded catch-up run), then a
    pruned batch read-back of the landing table, counted per hour."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.hourly import stream_hourly_ingest

    src = _tmp("streamingsrc")
    _events_day1(spark, sf_dir).write.mode("overwrite").parquet(src)
    table_root = _tmp("streamingtable")
    q = stream_hourly_ingest(
        spark, src, table_root, EVENTS_SCHEMA,
        checkpoint=_tmp("streamingckpt"), trigger_available_now=True,
    )
    drain_stream(q)
    back = spark.read.option("basePath", table_root).parquet(table_root)
    return (
        back.filter(F.col("day") == 1)  # partition-pruned read
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


ORACLE_STREAM_INGEST = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00' GROUP BY 1
"""


def q_stream_quarantine_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality gate (streaming/quarantine.py): day-1 events
    replayed as a 4-file backlog, each micro-batch screened against two
    expectation rules IN the ingest path — clean rows append to the
    landing table, violators to a quarantine table tagged with every
    rule they broke (the dead-letter pattern; nothing dropped). Result:
    rows per destination tag — landing rows under 'PASS'."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.quarantine import (
        stream_quarantine_ingest,
    )

    key = ("flat4", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("fix_flat4")
        _events_day1(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(root)
        _FIXTURES[key] = root
    landing, quarantine = _tmp("qland"), _tmp("qquar")
    rules = [
        ("no_error_rows", F.col("event_type") == "error"),
        ("value_le_200", F.col("value") > 200),
    ]
    q = stream_quarantine_ingest(
        spark, _FIXTURES[key], landing, quarantine, EVENTS_SCHEMA,
        rules, checkpoint=_tmp("qckpt"),
    )
    drain_stream(q)
    clean = spark.read.parquet(landing).select(F.lit("PASS").alias("violations"))
    bad = spark.read.parquet(quarantine).select("violations")
    return (
        clean.unionByName(bad)
        .groupBy("violations")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("violations")
    )


ORACLE_STREAM_QUARANTINE = """
WITH tagged AS (
  SELECT coalesce(nullif(concat_ws(',',
           CASE WHEN coalesce(event_type = 'error', TRUE) THEN 'no_error_rows' END,
           CASE WHEN coalesce(value > 200, TRUE) THEN 'value_le_200' END), ''), 'PASS')
           AS violations
  FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
)
SELECT violations, CAST(count(*) AS BIGINT) AS n_rows
FROM tagged GROUP BY violations ORDER BY violations
"""


def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running (count, sum) whose GroupState survives micro-batches. The day-1
    events are split into many files read 8-per-trigger, so totals genuinely
    accumulate across batches; the final state per key must equal the plain
    batch aggregate — which is the oracle."""
    import uuid

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.stateful import (
        run_stateful_totals_over_files,
    )

    key = ("flat24", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("fix_flat24")
        _events_day1(spark, sf_dir).repartition(24).write.mode("overwrite").parquet(root)
        _FIXTURES[key] = root
    return run_stateful_totals_over_files(
        spark, _FIXTURES[key], EVENTS_SCHEMA, query_name=f"sst_{uuid.uuid4().hex[:8]}"
    )


ORACLE_STREAM_STATEFUL = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00' GROUP BY user_id
"""


# === dedup ==================================================================


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on content (keeper = min id)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup_keepers(docs, "doc_id", ["text"])


ORACLE_DEDUP_EXACT = """
SELECT CAST(min(doc_id) AS BIGINT) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY text
"""


def q_dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path exact dedup key: sha256 of content (32-byte shuffle
    rows instead of full documents)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.content_hash(docs, "doc_id", "text")


ORACLE_CONTENT_HASH = """
SELECT doc_id, sha256(text) AS content_sha256 FROM documents
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash-LSH pipeline under a value-exact oracle: md5-family
    signatures (32 slots — every hash step exists verbatim in SQL), exact
    string band keys (8 bands × 4 rows, no bucket-hash collision term),
    candidate pairs, and the equal-slot Jaccard estimate. The faster
    xxhash64 family stays available as the library path
    (`D.minhash_signatures` + hashed band buckets) — same algorithm,
    engine-specific hashing, so the md5 family is the catalog form
    (round 7: every catalog key must be able to earn a value-exact
    driver row)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures_md5(docs, "doc_id", "text", num_hashes=32)
    pairs = D.minhash_lsh_pairs(
        sigs, num_bands=8, threshold=0.3, num_hashes=32, hash_buckets=False
    )
    return pairs.select("doc_a", "doc_b", F.round("est_jaccard", 4).alias("est_jaccard"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SimHash pipeline under a value-exact oracle: 60-bit
    md5-family fingerprints (term-frequency-weighted bit votes), 4×15-bit
    block LSH candidates, exact Hamming verify (≤ 12). The 64-bit
    xxhash64 family stays available as the library path (`D.simhash` +
    `D.simhash_near_pairs`) — engine-specific hashing, so the md5 family
    is the catalog form."""
    docs = load_table(spark, sf_dir, "documents")
    fps = D.simhash_md5(docs, "doc_id", "text")
    pairs = D.simhash_near_pairs_md5(fps, max_hamming=12)
    return pairs.select("doc_a", "doc_b", "hamming")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard similarity pairs (threshold 0.1) —
    the verification operator for MinHash candidates."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


ORACLE_NGRAM_JACCARD = """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words FROM documents
),
idx AS (
  SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM idx
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.1
"""


def q_dedup_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-recall gate for the MinHash-LSH dedup pipeline — the
    dedup-family twin of ann_recall_gate: every other dedup key proves
    REPRODUCIBILITY (value-exact hashing), this one measures whether
    the banding actually catches the pairs a user cares about. Ground
    truth = exact 3-gram Jaccard >= 0.5 (ngram_jaccard_pairs — the
    verification operator); pipeline = the catalog's md5-family
    MinHash-LSH at its own parameterization (32 slots, 8 bands x 4
    rows, est >= 0.3). Floor = the analytic WORST CASE at the truth
    boundary: P(share a band | s=0.5) = 1-(1-s^4)^8 ~ 0.403, so 400
    permille; measured recall on this corpus is 1000 permille at
    sf0.001/0.01/0.1 (the synthetic near-dup pairs sit far above the
    banding S-curve knee, where catch probability ~ 1) — the gate
    would catch a banding regression long before it visibly leaked
    duplicates. The truth side is derived ONCE and the hit
    flag rides a left join (the replan_audit discipline — a separate
    caught-count aggregate would re-derive the O(df^2) shingle
    self-join). Integer gate arithmetic (n_caught*1000 >= floor*n_true)
    so no float threshold can flake across engines; both sides replay
    verbatim in the composed SQL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    truth = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    sigs = D.minhash_signatures_md5(docs, "doc_id", "text", num_hashes=32)
    cand = D.minhash_lsh_pairs(
        sigs, num_bands=8, threshold=0.3, num_hashes=32, hash_buckets=False
    ).select("doc_a", "doc_b", F.lit(1).alias("_hit"))
    flagged = truth.join(cand, ["doc_a", "doc_b"], "left")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_caught"),
        (
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long") * 1000
            >= F.lit(400) * F.count(F.lit(1))
        )
        .cast("int")
        .alias("gate_recall_400pm"),
    )


def q_dedup_lsh_precision_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision twin of :func:`q_dedup_lsh_recall_gate`: of the pairs
    the MinHash-LSH pipeline emits (est >= 0.3), what fraction are TRUE
    near-duplicates by exact 3-gram Jaccard >= 0.3 (the matching truth
    threshold — the estimate estimates Jaccard, so precision is
    measured against the same cut). A precision collapse means the
    downstream exact-verify stage (ngram_jaccard_pairs on candidates —
    the documented 100 TB composition) pays quadratic work on junk; a
    recall collapse means missed duplicates. Together the two gates
    bracket the banding quality. Floor 600 permille: MinHash estimate
    stddev at s=0.3 with 32 slots is ~0.08, so est >= 0.3 admits true
    similarity down to ~0.15, but the measured precision on this corpus
    is 1000 permille at all three SFs (true pairs cluster far above the
    cut); 600 leaves room for corpus drift while still catching an
    estimator regression. Pipeline derived ONCE, hit flag on a left
    join; integer gate; both sides verbatim in the composed oracle."""
    docs = load_table(spark, sf_dir, "documents")
    truth = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    sigs = D.minhash_signatures_md5(docs, "doc_id", "text", num_hashes=32)
    cand = D.minhash_lsh_pairs(
        sigs, num_bands=8, threshold=0.3, num_hashes=32, hash_buckets=False
    ).select("doc_a", "doc_b")
    flagged = cand.join(
        truth.select("doc_a", "doc_b", F.lit(1).alias("_true")),
        ["doc_a", "doc_b"],
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_emitted_pairs"),
        F.sum(F.coalesce(F.col("_true"), F.lit(0))).cast("long").alias("n_true"),
        (
            F.sum(F.coalesce(F.col("_true"), F.lit(0))).cast("long") * 1000
            >= F.lit(600) * F.count(F.lit(1))
        )
        .cast("int")
        .alias("gate_precision_600pm"),
    )


ORACLE_DEDUP_LSH_PRECISION = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words FROM documents
),
idx AS (
  SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.3
),
slots AS (
  SELECT doc_id, md5(shingle) AS m, unnest(generate_series(0, 31)) AS slot FROM sh
),
sig AS (
  SELECT doc_id, slot,
         min(('0x' || substr(md5(m || '_' || slot), 1, 7))::BIGINT) AS mh
  FROM slots GROUP BY doc_id, slot
),
bands AS (
  SELECT doc_id, slot // 4 AS band,
         string_agg(mh::VARCHAR, '_' ORDER BY slot) AS band_key
  FROM sig GROUP BY doc_id, slot // 4
),
cand0 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
cand AS (
  SELECT c.doc_a, c.doc_b
  FROM cand0 c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sa.slot = sb.slot
  GROUP BY c.doc_a, c.doc_b
  HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 >= 0.3
),
flagged AS (
  SELECT c.doc_a, CASE WHEN t.doc_a IS NULL THEN 0 ELSE 1 END AS hit
  FROM cand c LEFT JOIN truth t
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST(count(*) AS BIGINT) AS n_emitted_pairs,
       CAST(sum(hit) AS BIGINT) AS n_true,
       CAST(CASE WHEN sum(hit) * 1000 >= 600 * count(*) THEN 1 ELSE 0 END AS INT)
         AS gate_precision_600pm
FROM flagged
"""


# truth CTEs = ORACLE_NGRAM_JACCARD at threshold 0.5; pipeline CTEs =
# ORACLE_MINHASH (pipeline_extra.py) verbatim; the gate join + integer
# arithmetic mirror the Spark side exactly
ORACLE_DEDUP_LSH_RECALL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words FROM documents
),
idx AS (
  SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
),
slots AS (
  SELECT doc_id, md5(shingle) AS m, unnest(generate_series(0, 31)) AS slot FROM sh
),
sig AS (
  SELECT doc_id, slot,
         min(('0x' || substr(md5(m || '_' || slot), 1, 7))::BIGINT) AS mh
  FROM slots GROUP BY doc_id, slot
),
bands AS (
  SELECT doc_id, slot // 4 AS band,
         string_agg(mh::VARCHAR, '_' ORDER BY slot) AS band_key
  FROM sig GROUP BY doc_id, slot // 4
),
cand0 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
cand AS (
  SELECT c.doc_a, c.doc_b
  FROM cand0 c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sa.slot = sb.slot
  GROUP BY c.doc_a, c.doc_b
  HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 >= 0.3
),
flagged AS (
  SELECT t.doc_a, CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit
  FROM truth t LEFT JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(sum(hit) AS BIGINT) AS n_caught,
       CAST(CASE WHEN sum(hit) * 1000 >= 400 * count(*) THEN 1 ELSE 0 END AS INT)
         AS gate_recall_400pm
FROM flagged
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (operators/dedup.py
    ngram_containment_pairs, Broder 1997): fraction of a document's
    3-gram shingles found in another document — the nested-duplication
    detector (short doc quoted inside a long one scores ~1 here but low
    symmetric Jaccard). Both directions emitted; threshold 0.4."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_containment_pairs(docs, "doc_id", "text", n=3, threshold=0.4)
    return pairs.select("doc", "other", F.round("containment", 4).alias("containment"))


ORACLE_CONTAINMENT = """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words FROM documents
),
idx AS (
  SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM idx
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc, b.doc_id AS other, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc, other,
       round(CAST(n_common AS DOUBLE) / s.n_sh, 4) AS containment
FROM common JOIN sizes s ON s.doc_id = doc
WHERE CAST(n_common AS DOUBLE) / s.n_sh >= 0.4
"""


# === similarity search ======================================================


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for query vectors vec_id<5 — the exact
    baseline every ANN path is measured against. Uses the BLAS kernel
    (operators/similarity.py cosine_topk_blas): one matrix multiply per
    corpus batch + exact per-batch partial top-k, measured 1.6x faster
    than the zip_with/aggregate expression twin (ann_cosine_expr) at
    sf0.1 and shuffle-bounded at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.cosine_topk_blas(emb, queries, k=3)
    return out.select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank")


def q_ann_pq_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN under a value-exact oracle: deterministic
    seed codebooks (16 lowest-id vectors, 8 subspaces of 8 dims), encode
    every corpus vector to 8 one-byte codes, score queries by ADC lookup
    tables, rank by quantized distance. Proves encode→ADC→rank
    end-to-end; production swaps in k-means codebooks per subspace."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.pq_topk(emb, queries, k=3, m=8, codebook_size=16)
    return out.select(
        "query_id", "vec_id", F.round("adc_dist", 4).alias("adc_dist"), "rank"
    )


ORACLE_ANN_PQ = """
WITH cb AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 16
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
enc_d AS (
  SELECT v.vec_id, t.s, cb.cid,
         sum(pow(v.vv[t.s * 8 + u.i] - cb.cv[t.s * 8 + u.i], 2)) AS d2
  FROM v
  CROSS JOIN cb
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) t
  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) u
  GROUP BY v.vec_id, t.s, cb.cid
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, cid ASC) AS rn
    FROM enc_d
  ) WHERE rn = 1
),
qd AS (
  SELECT q.query_id, t.s, cb.cid,
         sum(pow(q.qv[t.s * 8 + u.i] - cb.cv[t.s * 8 + u.i], 2)) AS d2
  FROM q
  CROSS JOIN cb
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) t
  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) u
  GROUP BY q.query_id, t.s, cb.cid
),
score AS (
  SELECT qd.query_id, c.vec_id, sum(qd.d2) AS adc_dist
  FROM codes c JOIN qd ON c.s = qd.s AND c.cid = qd.cid
  WHERE c.vec_id <> qd.query_id
  GROUP BY qd.query_id, c.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM score
)
SELECT query_id, vec_id, round(CAST(adc_dist AS DOUBLE), 4) AS adc_dist, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""


def q_ann_ivf_pq_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under a value-exact oracle — the production ANN index
    shape end-to-end: build a persisted index (codes table PARTITIONED
    BY cell = the inverted file; 8-byte PQ codes per vector; quantizer
    stored alongside), then search it with nprobe cell pruning (a
    partition filter — unprobed cells' files are never read) and ADC
    scoring. Deterministic seed centroids/codebooks make every step
    reproducible in SQL."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = ("ivf_pq_index", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("ivfpq")
        build_ivf_pq_index(emb, root, nlist=8, m=8, codebook_size=16)
        _FIXTURES[key] = root
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_pq_search(spark, _FIXTURES[key], queries, k=3, nprobe=3)
    return out.select(
        "query_id", "vec_id", F.round("adc_dist", 4).alias("adc_dist"), "rank"
    )


def q_ann_ivf_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ maintenance (operators/similarity.py
    append_ivf_pq_index): build the index on the first 400 vectors, then
    APPEND the remaining 100 — encoded with the STORED quantizer, no
    retrain, no rebuild, appended into their cells' partitions
    (O(batch), never O(index)). The search result over the appended
    index must be IDENTICAL to a from-scratch full build (same seed
    quantizer: vec_id < 16 lives in the build subset), so this query
    shares ann_ivf_pq_oracle's SQL verbatim — a hash match proves the
    append path byte-equivalent to a rebuild."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = ("ivf_pq_index_appended", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("ivfpqapp")
        build_ivf_pq_index(emb.filter(F.col("vec_id") < 400), root, nlist=8, m=8, codebook_size=16)
        append_ivf_pq_index(emb.filter(F.col("vec_id") >= 400), root)
        _FIXTURES[key] = root
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_pq_search(spark, _FIXTURES[key], queries, k=3, nprobe=3)
    return out.select(
        "query_id", "vec_id", F.round("adc_dist", 4).alias("adc_dist"), "rank"
    )


def q_ann_ivf_pq_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-backed two-stage ANN (operators/similarity.py
    ivf_pq_rescore_topk — r14 verdict task 1): stage 1 is the ADC
    shortlist (10 per query) over the nprobe=3 probed cells' PQ codes
    (partition-pruned, column-pruned to 8 B/vector); stage 2
    exact-rescores ONLY those Q×10 survivors by resolving their float
    vectors against the SAME index's refine column (c_vec,
    build_ivf_pq_index store_vectors=True) as a partition-pruned +
    id-pushdown GET — never a second corpus scan (the contract the
    broadcast-join int8 variant could not keep: r14 K=30 probes
    measured its stage 2 scan-bound at exponent ~0.31-0.37). The seed
    quantizer, ADC sums, float64 cosines, and both tie-breaks replay
    verbatim in the DuckDB oracle."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_rescore_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = ("ivf_pq_refine_index", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("ivfpqref")
        build_ivf_pq_index(
            emb, root, nlist=8, m=8, codebook_size=16, store_vectors=True
        )
        _FIXTURES[key] = root
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_pq_rescore_topk(
        spark, _FIXTURES[key], queries, k=3, shortlist=10, nprobe=3
    )
    return out.select("query_id", "vec_id", "cosine", "rank")


# Shared CTE block: seed quantizer -> assignments -> probes -> PQ codes
# -> per-(query, candidate) ADC distances over the probed cells. Both
# the plain IVF-PQ search oracle and the store-backed rescore oracle
# rank from this same `score` relation.
_IVF_PQ_SCORE_CTES = """cb AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 16
),
cent AS (SELECT cid AS cell, cv AS centroid FROM cb WHERE cid < 8),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
vc AS (
  SELECT v.vec_id, cent.cell,
         list_reduce(list_transform(generate_series(1, len(v.vv)),
           i -> (v.vv[i] - cent.centroid[i]) * (v.vv[i] - cent.centroid[i])),
           (a, b) -> a + b) AS dist2
  FROM v, cent
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM vc
  ) WHERE rn = 1
),
qc AS (
  SELECT q.query_id, cent.cell,
         list_reduce(list_transform(generate_series(1, len(q.qv)),
           i -> (q.qv[i] - cent.centroid[i]) * (q.qv[i] - cent.centroid[i])),
           (a, b) -> a + b) AS dist2
  FROM q, cent
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM qc
  ) WHERE rn <= 3
),
enc_d AS (
  SELECT v.vec_id, t.s, cb.cid,
         sum(pow(v.vv[t.s * 8 + u.i] - cb.cv[t.s * 8 + u.i], 2)) AS d2
  FROM v
  CROSS JOIN cb
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) t
  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) u
  GROUP BY v.vec_id, t.s, cb.cid
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, cid ASC) AS rn
    FROM enc_d
  ) WHERE rn = 1
),
qd AS (
  SELECT q.query_id, t.s, cb.cid,
         sum(pow(q.qv[t.s * 8 + u.i] - cb.cv[t.s * 8 + u.i], 2)) AS d2
  FROM q
  CROSS JOIN cb
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) t
  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) u
  GROUP BY q.query_id, t.s, cb.cid
),
score AS (
  SELECT qd.query_id, c.vec_id, sum(qd.d2) AS adc_dist
  FROM codes c
  JOIN assigned a ON a.vec_id = c.vec_id
  JOIN probes p ON p.cell = a.cell
  JOIN qd ON qd.query_id = p.query_id AND c.s = qd.s AND c.cid = qd.cid
  WHERE c.vec_id <> qd.query_id
  GROUP BY qd.query_id, c.vec_id
)"""

ORACLE_ANN_IVF_PQ = f"""
WITH {_IVF_PQ_SCORE_CTES},
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM score
)
SELECT query_id, vec_id, round(CAST(adc_dist AS DOUBLE), 4) AS adc_dist, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""

ORACLE_ANN_IVF_PQ_RESCORE = f"""
WITH {_IVF_PQ_SCORE_CTES},
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC) AS rnk
    FROM score
  ) WHERE rnk <= 10
),
exact AS (
  SELECT s.query_id, s.vec_id,
         list_dot_product(cv.vv, qv.qv)
           / (sqrt(list_dot_product(cv.vv, cv.vv)) * sqrt(list_dot_product(qv.qv, qv.qv)))
           AS cosine
  FROM short s
  JOIN v cv ON cv.vec_id = s.vec_id
  JOIN q qv ON qv.query_id = s.query_id
),
rr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM exact
)
SELECT query_id, vec_id, round(CAST(cosine AS DOUBLE), 6) AS cosine, CAST(rank AS INT) AS rank
FROM rr WHERE rank <= 3
"""


def q_ann_ivf_pq_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index compaction under the value-exact oracle (r15 verdict task
    1 — operators/similarity.py compact_ivf_pq_index): build the
    refine-store index on the first 200 vectors, APPEND the rest in
    THREE batches (each append adds one file per touched cell — after
    three, hot cells hold four files and the build's
    one-sorted-file-per-cell contract has eroded), then COMPACT, then
    search. Compaction is pure re-layout — quantizer, codes, and
    vectors untouched — so the searched result must be IDENTICAL to a
    from-scratch full build: this query shares ann_ivf_pq_oracle's SQL
    verbatim, and a hash match proves the compacted index
    byte-equivalent to a rebuild (the append key proves the same for
    appends; together they pin the whole maintenance cycle
    build → append× → compact). The pytest twin additionally pins the
    LAYOUT (exactly one file per cell after compact) and crash-safety
    staging."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_ivf_pq_index,
        build_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = ("ivf_pq_index_compacted", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("ivfpqcmp")
        build_ivf_pq_index(
            emb.filter(F.col("vec_id") < 200),
            root,
            nlist=8,
            m=8,
            codebook_size=16,
            store_vectors=True,
        )
        for lo, hi in ((200, 300), (300, 400), (400, 1 << 62)):
            append_ivf_pq_index(
                emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), root
            )
        compact_ivf_pq_index(spark, root)
        _FIXTURES[key] = root
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_pq_search(spark, _FIXTURES[key], queries, k=3, nprobe=3)
    return out.select(
        "query_id", "vec_id", F.round("adc_dist", 4).alias("adc_dist"), "rank"
    )


def q_ann_ivf_cell_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-population skew audit (r15 verdict task 5 —
    operators/similarity.py profile_cell_skew): the IVF maintenance
    contract sizes nlist ∝ corpus assuming balanced cells, but a
    skewed embedding distribution concentrates vectors in few cells
    and stage-1 probed-cell scans degrade toward linear. One
    column-pruned scan of the persisted index's partition column →
    per-cell (n_vectors, share, skew = count / the total/nlist
    balanced-cell budget — the FAISS imbalance-factor denominator,
    EMPTY cells included, r17 fix: the old non-empty mean read a fully
    degenerate quantizer as skew 1.0), hottest first — the rebalance
    (re-train centroids) trigger a maintenance loop thresholds on
    (ivf_rebalance_needed). The oracle replays the deterministic
    seed-quantizer assignment in SQL and aggregates the same three
    numbers."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        profile_cell_skew,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = ("ivf_pq_index", sf_dir)  # shared with ann_ivf_pq_oracle
    if key not in _FIXTURES:
        root = _tmp("ivfpq")
        build_ivf_pq_index(emb, root, nlist=8, m=8, codebook_size=16)
        _FIXTURES[key] = root
    return profile_cell_skew(spark, _FIXTURES[key])


ORACLE_ANN_IVF_CELL_SKEW = """
WITH cb AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 16
),
cent AS (SELECT cid AS cell, cv AS centroid FROM cb WHERE cid < 8),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
vc AS (
  SELECT v.vec_id, cent.cell,
         list_reduce(list_transform(generate_series(1, len(v.vv)),
           i -> (v.vv[i] - cent.centroid[i]) * (v.vv[i] - cent.centroid[i])),
           (a, b) -> a + b) AS dist2
  FROM v, cent
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM vc
  ) WHERE rn = 1
),
counts AS (SELECT cell, count(*) AS n_vectors FROM assigned GROUP BY cell),
-- balanced-cell budget = total/nlist (nlist=8, EMPTY cells included —
-- the FAISS imbalance-factor denominator; r17 gauge fix), not the mean
-- over non-empty cells
tot AS (SELECT sum(n_vectors) AS total, sum(n_vectors) / 8.0 AS budget FROM counts)
SELECT CAST(c.cell AS INT) AS cell, c.n_vectors,
       round(c.n_vectors / t.total, 4) AS share,
       round(c.n_vectors / t.budget, 4) AS skew
FROM counts c, tot t
ORDER BY c.n_vectors DESC, c.cell ASC
"""


def q_ann_ivf_pq_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full maintenance RUNBOOK under the value-exact oracle (r16
    verdict task 4 — the tick was pytest-pinned only): build the
    refine-store index on the first 200 vectors, APPEND three batches
    (hot cells grow to 4 files), then run maintain_ivf_pq_index TWICE
    with max_files_per_cell=2. Emitted as (step, metric, value) rows,
    api_ingest_lifecycle-style:

    * 0_before — the erosion the appends caused (max files/cell, total
      files), replayed in SQL by counting DISTINCT write batches per
      seed-quantizer-assigned cell (build = batch 0, appends 1..3; a
      cell's file count is exactly the number of batches that touched
      it);
    * 1_tick — the first tick COMPACTS (files past threshold), reports
      the row count its staging write observed, and evaluates the skew
      gauge (seed quantizer → the max_skew value and the
      retrain_needed threshold decision replay exactly in SQL);
    * 2_after — the restored contract: one file per populated cell;
    * 3_second_tick — idempotence: a healthy index gets NO compaction.

    Every number is either measured from the live tree (Spark side) or
    derived from first principles over the same parquet (oracle side) —
    a hash match pins the whole compact-when-needed lifecycle, not just
    the happy path."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_index_file_stats,
        maintain_ivf_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = ("ivf_pq_maintained", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("ivfpqmnt")
        build_ivf_pq_index(
            emb.filter(F.col("vec_id") < 200),
            root,
            nlist=8,
            m=8,
            codebook_size=16,
            store_vectors=True,
        )
        for lo, hi in ((200, 300), (300, 400), (400, 1 << 62)):
            append_ivf_pq_index(
                emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), root
            )
        before = ivf_pq_index_file_stats(spark, root)
        tick1 = maintain_ivf_pq_index(spark, root, max_files_per_cell=2, max_skew=4.0)
        tick2 = maintain_ivf_pq_index(spark, root, max_files_per_cell=2, max_skew=4.0)
        _FIXTURES[key] = (before, tick1, tick2)
    before, tick1, tick2 = _FIXTURES[key]
    rows = [
        ("0_before", "max_files_per_cell", float(before["max_files_per_cell"])),
        ("0_before", "n_files", float(before["n_files"])),
        ("1_tick", "compacted", 1.0 if tick1["compacted"] else 0.0),
        ("1_tick", "n_rows", float(tick1["compact_stats"]["n_rows"])),
        ("1_tick", "retrain_needed", 1.0 if tick1["retrain_needed"] else 0.0),
        ("1_tick", "max_skew", float(tick1["skew"]["max_skew"])),
        ("2_after", "max_files_per_cell", float(tick1["files"]["max_files_per_cell"])),
        ("2_after", "n_files", float(tick1["files"]["n_files"])),
        ("3_second_tick", "compacted", 1.0 if tick2["compacted"] else 0.0),
    ]
    return spark.createDataFrame(
        rows, "step string, metric string, value double"
    ).orderBy("step", "metric")


ORACLE_ANN_IVF_PQ_MAINTAIN = """
WITH cb AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 16
),
cent AS (SELECT cid AS cell, cv AS centroid FROM cb WHERE cid < 8),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
vc AS (
  SELECT v.vec_id, cent.cell,
         list_reduce(list_transform(generate_series(1, len(v.vv)),
           i -> (v.vv[i] - cent.centroid[i]) * (v.vv[i] - cent.centroid[i])),
           (a, b) -> a + b) AS dist2
  FROM v, cent
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM vc
  ) WHERE rn = 1
),
batched AS (
  SELECT cell,
         CASE WHEN vec_id < 200 THEN 0 WHEN vec_id < 300 THEN 1
              WHEN vec_id < 400 THEN 2 ELSE 3 END AS batch
  FROM assigned
),
files_before AS (
  SELECT cell, count(DISTINCT batch) AS n FROM batched GROUP BY cell
),
counts AS (SELECT cell, count(*) AS n_vectors FROM assigned GROUP BY cell),
skew AS (
  -- balanced-cell budget = total/nlist (nlist=8, empty cells included;
  -- r17 gauge fix), matching profile_cell_skew's meta-nlist denominator
  SELECT round(CAST(max(n_vectors) AS DOUBLE) / (sum(n_vectors) / 8.0), 4) AS max_skew
  FROM counts
)
SELECT step, metric, value FROM (
  SELECT '0_before' AS step, 'max_files_per_cell' AS metric,
         CAST(max(n) AS DOUBLE) AS value FROM files_before
  UNION ALL SELECT '0_before', 'n_files', CAST(sum(n) AS DOUBLE) FROM files_before
  UNION ALL SELECT '1_tick', 'compacted', 1.0
  UNION ALL SELECT '1_tick', 'n_rows', CAST(count(*) AS DOUBLE) FROM v
  UNION ALL SELECT '1_tick', 'retrain_needed',
    CASE WHEN max_skew > 4.0 THEN 1.0 ELSE 0.0 END FROM skew
  UNION ALL SELECT '1_tick', 'max_skew', CAST(max_skew AS DOUBLE) FROM skew
  UNION ALL SELECT '2_after', 'max_files_per_cell', 1.0
  UNION ALL SELECT '2_after', 'n_files', CAST(count(*) AS DOUBLE) FROM counts
  UNION ALL SELECT '3_second_tick', 'compacted', 0.0
) ORDER BY step, metric
"""


def q_ann_ivf_pq_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index RETRAIN lifecycle as a driver-checkable row (r17 verdict
    tasks 1+2 — operators/similarity.py retrain_ivf_pq_index): build
    the refine-store index on the FIRST QUARTER of the corpus (the
    meta stamp records that fit-time row count), append the remaining
    three quarters (a 4×-grown corpus at the stale nlist), then
    retrain WITHOUT passing nlist — the target is DERIVED from the
    growth (derive_ivf_nlist: ceil(n_now · nlist_fit / n_fit), integer
    arithmetic) — with the PRODUCTION sampled-fit k-means quantizer
    (codes re-encoded against the carried-over codebooks, the new
    snapshot staged at ``{root}/v=2`` and published by the atomic
    ``_VERSION`` pointer flip).

    Trained centroid VALUES are Spark-MLlib-specific (no external
    engine replays the fit), so — following the ann_store_trained /
    pca_fit_project pattern — the value-exact oracle pins the
    quantizer-INDEPENDENT invariants: the SIZING ARITHMETIC (the
    emitted nlist_after must equal the oracle's own integer-exact
    ceil(total·8 / (total//4)) — the r17 verdict task 2 growth rule,
    replayed from the corpus row count alone), that every vector
    survives the retrain exactly once (count / distinct / exact
    integer id-sum), that every reassigned cell id stays in
    [0, nlist_after), that the operator's own observed row count
    agrees with the republished snapshot, that the re-stamped meta
    carries the retrained layout AND the new density baseline
    (n_rows = total), and that the RECALL GATE holds — recall-vs-
    brute-force-cosine of the all-cells-probed rescore top-3, measured
    on the SAME index before and after the retrain, must not DEGRADE
    (the scale-independent statement of FAISS's retrain contract). A
    retrain that drops rows, scrambles c_vec, or sizes the quantizer
    wrong cannot go green. The quantizer-dependent behavior (skew
    actually dropping on a skewed fixture; reader safety at every
    publish point; the nprobe<nlist recall gate) is pinned engine-side
    by tests/test_operators.py."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        _load_pq_meta,
        append_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_rescore_topk,
        read_ivf_pq_index,
        retrain_ivf_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = ("ivf_pq_retrained", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("ivfpqrt")
        n_total = emb.count()
        n_fit = n_total // 4
        build_ivf_pq_index(
            emb.filter(F.col("vec_id") < n_fit),
            root,
            nlist=8,
            m=8,
            codebook_size=16,
            store_vectors=True,
        )
        append_ivf_pq_index(emb.filter(F.col("vec_id") >= n_fit), root)
        q = emb.filter(F.col("vec_id") < 5)
        exact = SIM.cosine_topk(emb, q, k=3).select("query_id", "vec_id")
        n_exact = exact.count()

        def _recall(nprobe):
            got = ivf_pq_rescore_topk(
                spark, root, q, k=3, shortlist=100, nprobe=nprobe
            ).select("query_id", "vec_id")
            return got.join(exact, ["query_id", "vec_id"]).count() / n_exact

        recall_before = _recall(8)
        res = retrain_ivf_pq_index(spark, root)  # nlist DERIVED from growth
        recall_after = _recall(res["nlist_after"])
        meta = _load_pq_meta(spark, root)
        _FIXTURES[key] = (root, res, recall_before, recall_after, meta, n_total)
    root, res, recall_before, recall_after, meta, n_total = _FIXTURES[key]
    nlist_after = int(res["nlist_after"])
    stored = read_ivf_pq_index(spark, root)
    return stored.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("vec_id").alias("n_ids"),
        F.sum("vec_id").alias("id_sum"),
        F.lit(nlist_after).cast("long").alias("nlist_after"),
        F.every(
            (F.col("cell") >= 0) & (F.col("cell") < nlist_after)
        ).alias("cells_bounded"),
        (F.count(F.lit(1)) == F.lit(int(res["n_rows"]))).alias("stats_consistent"),
        F.lit(
            bool(meta)
            and meta.get("nlist") == nlist_after
            and bool(meta.get("store_vectors"))
            and meta.get("n_rows") == n_total
        ).alias("meta_ok"),
        F.lit(recall_after >= recall_before).alias("recall_ok"),
    )


ORACLE_ANN_IVF_PQ_RETRAIN = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_ids,
       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       -- the r17-task-2 sizing rule from first principles: the index
       -- was fit on the first quarter (total//4 rows) at nlist=8, so a
       -- corpus grown to `total` needs ceil(total*8 / (total//4))
       -- cells — integer ceiling, no float division on either side
       CAST((count(*) * 8 + count(*) // 4 - 1) // (count(*) // 4) AS BIGINT)
         AS nlist_after,
       TRUE AS cells_bounded,
       TRUE AS stats_consistent,
       TRUE AS meta_ok,
       TRUE AS recall_ok
FROM embeddings
"""


def q_ann_cosine_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-expression twin of ann_cosine_topk (zip_with/aggregate dot
    products, no Python anywhere) — same oracle; keeps the pure-Catalyst
    scoring path value-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.cosine_topk(emb, queries, k=3)
    return out.select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank")


ORACLE_ANN = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT query_id, vec_id,
         list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM q, c WHERE vec_id <> query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank FROM s)
SELECT query_id, vec_id, round(CAST(cosine AS DOUBLE), 4) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-quantizer IVF (operators/similarity.py
    ivf_topk_fixed): seed-vector centroids, sequential-sum L2 assignment
    with (dist, cell) tie-breaks, nprobe pruning, exact cosine re-rank —
    every step reproduced verbatim in the DuckDB oracle, giving the IVF
    *algorithm* a full value check. The k-means-trained quantizer stays
    available as the library path (`SIM.ivf_topk`, recall-gated in
    pytest) — iterative training is engine-specific, so the fixed
    quantizer is the catalog form."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.ivf_topk_fixed(emb, queries, k=3, nlist=8, nprobe=3)
    return out.select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank")


ORACLE_ANN_IVF = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, cv AS centroid
  FROM c ORDER BY vec_id LIMIT 8
),
adist AS (
  SELECT c.vec_id, c.cv, cent.cell,
         list_reduce(list_transform(generate_series(1, len(c.cv)),
           i -> (c.cv[i] - cent.centroid[i]) * (c.cv[i] - cent.centroid[i])),
           (a, b) -> a + b) AS dist2
  FROM c, cent
),
assigned AS (
  SELECT vec_id, cv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM adist
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, cv AS qv FROM c WHERE vec_id < 5),
qdist AS (
  SELECT q.query_id, q.qv, cent.cell,
         list_reduce(list_transform(generate_series(1, len(q.qv)),
           i -> (q.qv[i] - cent.centroid[i]) * (q.qv[i] - cent.centroid[i])),
           (a, b) -> a + b) AS dist2
  FROM q, cent
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM qdist
  ) WHERE rn <= 3
),
s AS (
  SELECT p.query_id, a.vec_id,
         list_dot_product(p.qv, a.cv)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.cv, a.cv))) AS cosine
  FROM probes p JOIN assigned a ON p.cell = a.cell
  WHERE a.vec_id <> p.query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank FROM s)
SELECT query_id, vec_id, round(CAST(cosine AS DOUBLE), 4) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py semdedup): cluster the embedding
    space with the deterministic seed quantizer, then drop every vector
    with a more-canonical (lower-id) same-cell neighbor at cosine >= 0.3
    — paraphrase-level dedup that content hashing cannot see. Pairwise
    work is confined within cells (O(sum cell^2), the LSH-bucket bound),
    so nlist is sized to keep cells small — 64 here (~31 vectors/cell at
    sf0.1), exactly how the paper scales clusters with the corpus; the
    oracle replays assignment, pairing, and verdict verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = SIM.semdedup(emb, nlist=64, min_cosine=0.3)
    return out.select("vec_id", "cell", "keep")


ORACLE_DEDUP_SEMANTIC = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, cv AS centroid
  FROM c ORDER BY vec_id LIMIT 64
),
adist AS (
  SELECT c.vec_id, c.cv, cent.cell,
         list_reduce(list_transform(generate_series(1, len(c.cv)),
           i -> (c.cv[i] - cent.centroid[i]) * (c.cv[i] - cent.centroid[i])),
           (a, b) -> a + b) AS dist2
  FROM c, cent
),
assigned AS (
  SELECT vec_id, cv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM adist
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE list_dot_product(a.cv, b.cv)
          / (sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv))) >= 0.3
)
SELECT s.vec_id, s.cell, (d.vec_id IS NULL) AS keep
FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
"""


def q_dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion SemDeDup (operators/similarity.py
    semdedup_incremental): vectors with vec_id % 4 == 0 play the
    incoming micro-batch, the rest the accumulated corpus. Corpus seeds
    the centroids; the batch assigns to those cells and pairs only
    against same-cell CORPUS vectors — never corpus×corpus — so the
    per-batch cost is O(batch·cell), the embedding analogue of
    dedup_incremental. Any corpus neighbor at cosine ≥ 0.3 drops the
    batch vector; the oracle replays seeding, assignment, pairing, and
    verdict verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    out = SIM.semdedup_incremental(corpus, batch, nlist=64, min_cosine=0.3)
    return out.select("vec_id", "cell", "keep")


ORACLE_DEDUP_SEMANTIC_INCREMENTAL = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
           WHERE vec_id % 4 != 0),
b AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
      WHERE vec_id % 4 = 0),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, cv AS centroid
  FROM c ORDER BY vec_id LIMIT 64
),
cdist AS (
  SELECT c.vec_id, c.cv, cent.cell,
         list_reduce(list_transform(generate_series(1, len(c.cv)),
           i -> (c.cv[i] - cent.centroid[i]) * (c.cv[i] - cent.centroid[i])),
           (a, x) -> a + x) AS dist2
  FROM c, cent
),
cassigned AS (
  SELECT vec_id, cv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM cdist
  ) WHERE rn = 1
),
bdist AS (
  SELECT b.vec_id, b.cv, cent.cell,
         list_reduce(list_transform(generate_series(1, len(b.cv)),
           i -> (b.cv[i] - cent.centroid[i]) * (b.cv[i] - cent.centroid[i])),
           (a, x) -> a + x) AS dist2
  FROM b, cent
),
bassigned AS (
  SELECT vec_id, cv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM bdist
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM bassigned a JOIN cassigned c2 ON a.cell = c2.cell
  WHERE list_dot_product(a.cv, c2.cv)
          / (sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(c2.cv, c2.cv))) >= 0.3
)
SELECT s.vec_id, s.cell, (d.vec_id IS NULL) AS keep
FROM bassigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
"""


def q_dedup_semantic_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The amortized corpus side of incremental semantic dedup: corpus
    cell assignments + norms persisted ONCE as a versioned store
    PARTITIONED by the cell key (operators/similarity.py
    persist_corpus_cells), then the batch assigns against the frozen
    snapshot centroids and screens a store scan PRUNED to its touched
    cells — the static IN filter reaches the scan as PartitionFilters
    (pinned by tests/test_plan_audit.py), so per-batch corpus I/O is
    bounded by the batch, never O(corpus). Same seed quantizer, split,
    and threshold as dedup_semantic_incremental, so the verdicts are
    value-exact against the same SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    key = ("corpus_cells", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("corpus_cells")
        SIM.persist_corpus_cells(corpus, root, nlist=64)
        _FIXTURES[key] = root
    out = SIM.semdedup_batch_vs_table(
        spark, _FIXTURES[key], batch, nlist=64, min_cosine=0.3
    )
    return out.select("vec_id", "cell", "keep")


def q_ann_store_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-quantizer cells store (operators/similarity.py
    persist_corpus_cells trained=True): the coarse quantizer is a real
    k-means fit — on the deterministic ~256·nlist hash-sample
    (_train_sample), never the full corpus, so index build stays linear
    at 100 TB even with nlist ∝ N — frozen into the same ``_centroids/``
    shape the seed-vector twin uses, so append/screen/retrain/compact
    are quantizer-agnostic. Trained centroid VALUES are Spark-MLlib-
    specific (no external engine replays the fit), so the value-exact
    oracle pins the quantizer-independent store invariants instead:
    every corpus row lands in the store exactly once (count / distinct /
    exact integer id-sum — order-free, overflow-free at these SFs) and
    every assigned cell id is in [0, nlist). The quantizer-dependent
    behavior is pinned engine-side by tests/test_operators.py
    (trained-store screen == semdedup_incremental on the same frozen
    centroids; append prunes to touched partitions)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    key = ("corpus_cells_trained", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("corpus_cells_tr")
        SIM.persist_corpus_cells(corpus, root, nlist=16, trained=True)
        _FIXTURES[key] = root
    stored = SIM.read_corpus_cells(spark, _FIXTURES[key])
    return stored.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("vec_id").alias("n_ids"),
        F.sum("vec_id").alias("id_sum"),
        F.every((F.col("cell") >= 0) & (F.col("cell") < 16)).alias("cells_bounded"),
    )


ORACLE_ANN_STORE_TRAINED = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_ids,
       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       TRUE AS cells_bounded
FROM embeddings WHERE vec_id % 4 <> 0
"""


def q_ann_store_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store MAINTENANCE lifecycle as a driver-checkable row (the r11
    verdict's missing-surface item — retrain/compact were pytest-only):
    from a clean slate, (1) persist a seed-quantizer cells store over
    the corpus drop (vec_id % 4 != 0, nlist=8), (2) O(batch) APPEND the
    held-out quarter against the frozen centroids, (3) RETRAIN to the
    doubled nlist=16 with the PRODUCTION sampled-fit k-means quantizer
    (the ``nlist ∝ corpus`` rule made operational — one assignment pass,
    never a per-iteration full-store scan), (4) COMPACT the per-append
    small files back to one file per cell. Completes the reference's own
    partition-maintenance TODO (ingestion/bigquery_interaction.py:19) on
    the engine's store surface.

    The oracle pins the quantizer-INDEPENDENT invariants of the final
    store: every embedding present exactly once across the whole
    lifecycle (count / distinct / exact id-sum over corpus+batch = the
    full table), every cell id inside the retrained [0, 16) range, the
    live pointer at version 3 (persist → retrain → compact, each one
    atomic pointer flip), and the compacted layout at exactly one data
    file per populated cell. The quantizer-dependent behavior is pinned
    engine-side by tests/test_operators.py."""
    from ..operators._publish import live_version

    emb = load_table(spark, sf_dir, "embeddings")
    key = ("corpus_cells_retrain", sf_dir)
    if key not in _FIXTURES:
        # fresh root: the version number is part of the pinned values
        root = _tmp("corpus_cells_mt")
        SIM.persist_corpus_cells(
            emb.filter(F.col("vec_id") % 4 != 0), root, nlist=8
        )
        SIM.append_corpus_cells(spark, root, emb.filter(F.col("vec_id") % 4 == 0))
        SIM.retrain_corpus_cells(spark, root, nlist=16, trained=True)
        stats = SIM.compact_corpus_cells(spark, root)
        _FIXTURES[key] = (root, stats["files_after"])
    root, files_after = _FIXTURES[key]
    stored = SIM.read_corpus_cells(spark, root)
    return stored.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("vec_id").alias("n_ids"),
        F.sum("vec_id").alias("id_sum"),
        F.every((F.col("cell") >= 0) & (F.col("cell") < 16)).alias("cells_bounded"),
        F.lit(live_version(spark, root)).cast("int").alias("live_version"),
        (F.lit(files_after) == F.countDistinct("cell")).alias("one_file_per_cell"),
    )


ORACLE_ANN_STORE_RETRAIN = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_ids,
       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       TRUE AS cells_bounded,
       CAST(3 AS INT) AS live_version,
       TRUE AS one_file_per_cell
FROM embeddings
"""


def q_pca_fit_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (operators/similarity.py pca_fit_project) as a
    driver-checkable row — the last §2.11 family member without one
    (r12 verdict task 3). Eigendecomposition has no SQL twin, so —
    following the ann_store_trained invariant pattern — the value-exact
    oracle pins the eigen-INDEPENDENT invariants as exact counts and
    booleans:

    * every input row projected exactly once (count / distinct / exact
      integer id-sum — order-free, overflow-free at these SFs), every
      output vector exactly k=8 wide;
    * the component matrix is ORTHONORMAL (max |CCᵀ − I| < 1e-9,
      driver-side over the k×d model — d is the embedding width, tiny);
    * explained variances are non-negative and MONOTONE non-increasing
      (the top-k eigenvalue ordering);
    * the projected data is MEAN-CENTERED per output dimension and the
      per-dimension population variance equals the matching explained
      variance (the defining eigh identity: var(Xc·eᵢ) = λᵢ) — computed
      distributed via one posexplode aggregation (8 groups, bounded
      collect), compared at 1e-6 relative tolerance (Spark's Welford
      var_pop vs the moment-method eigenvalue ss/n − μμᵀ can disagree
      by cancellation on large-mean embeddings; 1e-8 was needlessly
      tight for two numerically different variance computations — r13
      ADVICE);
    * the FROZEN-MODEL WHITEN path (pca_apply(..., whiten=True),
      operators/similarity.py) yields unit population variance on every
      non-degenerate output dimension (the defining whitening
      invariant, λᵢ/λᵢ = 1) — the one r13 code path that previously had
      only pytest evidence (r13 verdict task 2). Since r15 the whitened
      variance is DERIVED driver-side (v[i]/λᵢ — whiten is a per-row
      rescale of the same projection) instead of re-projecting the
      corpus, removing a second full scan (r14 ADVICE); the rescale
      arithmetic stays pytest-pinned.

    Together the booleans force the projection to BE a PCA (orthonormal
    axes, variance-ordered, variance-preserving), while the counts make
    the distributed two-pass (moment partials + BLAS project) row-exact.
    Engine-side agreement with single-node numpy PCA is pinned by
    tests/test_operators.py."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    k = 8
    proj, model = SIM.pca_fit_project(emb, "vec_id", "embedding", k=k)
    proj = proj.persist()  # two consumers: count-invariants + per-dim stats
    try:
        c = model.components  # k x d, float64
        gram_resid = float(np.max(np.abs(c @ c.T - np.eye(k))))
        ev = model.explained_var
        var_monotone = bool(
            np.all(ev >= -1e-12) and np.all(ev[:-1] >= ev[1:] - 1e-12)
        )
        dim_stats = (
            proj.select(F.posexplode("pca").alias("pos", "val"))
            .groupBy("pos")
            .agg(F.avg("val").alias("m"), F.var_pop("val").alias("v"))
            .collect()  # bounded: k rows
        )
        by_pos = {int(r.pos): (float(r.m), float(r.v)) for r in dim_stats}
        mean_centered = all(abs(by_pos[i][0]) < 1e-8 for i in range(k))
        var_matches = all(
            abs(by_pos[i][1] - float(ev[i])) <= 1e-6 * max(1.0, float(ev[i]))
            for i in range(k)
        )
        # whiten path: per-dim var_pop == 1 on every live component
        # (degenerate axes, λᵢ ≤ 1e-9·λ₁, are zeroed by design — none
        # expected on real embeddings, but the gate is the live set).
        # Derived DRIVER-SIDE from the measured projection variances:
        # whiten multiplies component row i by 1/√λᵢ ahead of the same
        # BLAS kernel, so var(whitened_i) = v[i]/λᵢ on live dims and
        # exactly 0 on zeroed ones — re-projecting the corpus to
        # measure it was a second unpersisted full scan that roughly
        # doubled this row's corpus passes (r14 ADVICE); the scale/zero
        # arithmetic inside pca_apply is pytest-pinned separately.
        live = set(i for i in range(k) if float(ev[i]) > 1e-9 * float(ev[0]))
        wv = {
            i: (by_pos[i][1] / float(ev[i]) if i in live else 0.0)
            for i in range(k)
        }
        whiten_unit_var = all(abs(wv[i] - 1.0) <= 1e-6 for i in live) and all(
            wv[i] <= 1e-12 for i in range(k) if i not in live
        )
        counts = proj.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("vec_id").alias("n_ids"),
            F.sum("vec_id").alias("id_sum"),
            F.every(F.size("pca") == k).alias("proj_dim_ok"),
        ).collect()[0]  # eager while persisted, so unpersist is safe
    finally:
        proj.unpersist()
    return spark.createDataFrame(
        [
            (
                counts.n_rows,
                counts.n_ids,
                counts.id_sum,
                bool(counts.proj_dim_ok),
                gram_resid < 1e-9,
                var_monotone,
                mean_centered,
                var_matches,
                whiten_unit_var,
            )
        ],
        "n_rows long, n_ids long, id_sum long, proj_dim_ok boolean, "
        "orthonormal boolean, var_monotone boolean, mean_centered boolean, "
        "var_matches_explained boolean, whiten_unit_var boolean",
    )


ORACLE_PCA_FIT_PROJECT = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_ids,
       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       TRUE AS proj_dim_ok,
       TRUE AS orthonormal,
       TRUE AS var_monotone,
       TRUE AS mean_centered,
       TRUE AS var_matches_explained,
       TRUE AS whiten_unit_var
FROM embeddings
"""


def q_stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous semantic dedup (streaming/semantic_stream.py): the
    embeddings replayed as two drops — the corpus (vec_id % 4 != 0)
    lands first into an empty store and survives wholesale, then the
    batch drop (vec_id % 4 == 0) screens against the accumulated corpus
    — maintained as a persisted cells store with FROZEN centroids, so
    the steady state is O(batch) per trigger. The audit table must
    equal the BATCH incremental oracle's keep=false rows — stream/batch
    equivalence for the semantic stage, value-checked."""
    import shutil

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.semantic_stream import (
        stream_semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    src = _two_drop_fixture(
        spark, "stream_sem_src", sf_dir,
        (emb.filter(F.col("vec_id") % 4 != 0), emb.filter(F.col("vec_id") % 4 == 0)),
    )
    audit_root, ckpt = _tmp("sem_audit"), _tmp("sem_ckpt")
    for d in (audit_root, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    # fresh store per invocation: the corpus append is stateful by design
    corpus_root = _tmp("sem_cells")
    q = stream_semantic_dedup(
        spark, src, corpus_root, audit_root, emb.schema,
        nlist=64, min_cosine=0.3, checkpoint=ckpt,
    )
    q.awaitTermination()
    try:
        audit = spark.read.parquet(audit_root).select("vec_id", "cell")
    except Exception:  # no drops at all → audit dir never created
        audit = spark.createDataFrame([], "vec_id long, cell int")
    return audit.orderBy("vec_id")


# Stream/batch equivalence oracle for the semantic stage: derived from
# ORACLE_DEDUP_SEMANTIC_INCREMENTAL by slicing off its verdict tail (so
# the seeding/assignment CTE chain can never drift between the two) and
# selecting the dropped (vec_id, cell) rows the stream audits.
ORACLE_STREAM_SEMANTIC = (
    ORACLE_DEDUP_SEMANTIC_INCREMENTAL[
        : ORACLE_DEDUP_SEMANTIC_INCREMENTAL.rindex("dropped AS (")
    ]
    + """disagreements AS (
  SELECT DISTINCT a.vec_id, a.cell
  FROM bassigned a JOIN cassigned c2 ON a.cell = c2.cell
  WHERE list_dot_product(a.cv, c2.cv)
          / (sqrt(list_dot_product(a.cv, a.cv))
             * sqrt(list_dot_product(c2.cv, c2.cv))) >= 0.3
)
SELECT vec_id, cell FROM disagreements ORDER BY vec_id
"""
)


def seed_amortized_store(spark: SparkSession, sf_dir: str) -> None:
    """(Re-)seed the amortized twin's corpus-only cells store: drop every
    version and persist the corpus fresh. Factored out of the query so
    bench.py can pay the O(corpus) seed OUTSIDE the timed region — the
    timed figure then isolates the per-trigger data work (one assignment
    GEMM + one partition-pruned store read + one append), which is what
    the key exists to measure."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    root = _amort_cells_root(sf_dir)
    SIM.drop_corpus_cells(spark, root)
    SIM.persist_corpus_cells(corpus, root, nlist=64)


def _amort_cells_root(sf_dir: str) -> str:
    """The amortized twin's cells-store root, shared by the seed and the
    query within a process."""
    key = ("stream_sem_amort_cells", sf_dir)
    if key not in _FIXTURES:
        _FIXTURES[key] = _tmp("sem_amort_cells")
    return _FIXTURES[key]


def q_stream_semantic_dedup_amortized(
    spark: SparkSession, sf_dir: str, *, pre_seeded: bool = False
) -> DataFrame:
    """Amortized-trigger twin of :func:`q_stream_semantic_dedup` (r11
    verdict task 5): the SAME corpus/batch split and audit semantics,
    but the corpus is PRE-SEEDED into the cells store before the stream
    starts (the trigger-amortization probe's fixture — the cold-start
    wholesale-accept branch stays out of the stream) and the batch
    arrives as 16 single-file drops drained at ``maxFilesPerTrigger=16``
    — ONE screen+append cycle for the whole backlog, so the bench
    figure measures the DATA work (one assignment GEMM over the batch,
    one partition-pruned store read, one append) instead of the
    ~1.1–1.4 s/trigger scheduler floor the mft=1 key deliberately
    maximizes (BASELINE.md round-11 amortization table). Values are
    identical to the two-drop key's audit — the whole batch shares one
    trigger in both, and intra-trigger pairs are never compared — so
    the same stream/batch-equivalence oracle value-checks both. At
    100 TB this is the tuning lever the probe measured: size triggers
    so per-trigger data work dominates the scheduling floor. Round 13
    pinned both halves at scale: the per-trigger cost of a fixed
    micro-batch is FLAT in corpus size (0.92x against a 10x store,
    BASELINE.md round-13 probe table), and bench.py now seeds the store
    outside the timer (``seed_amortized_store`` + ``pre_seeded=True``)
    so the benched figure is the one screen+append trigger alone."""
    import shutil

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.semantic_stream import (
        stream_semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    src = _two_drop_fixture(
        spark, "stream_sem_amort_src", sf_dir,
        tuple(
            emb.filter(F.pmod(F.col("vec_id"), 64) == 4 * i) for i in range(16)
        ),
    )
    audit_root, ckpt = _tmp("sem_am_audit"), _tmp("sem_am_ckpt")
    for d in (audit_root, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    # fresh pre-seeded store per invocation: the corpus append is
    # stateful by design, so re-runs start from the corpus-only store.
    # bench.py passes pre_seeded=True after calling seed_amortized_store
    # outside its timer, so the timed figure excludes the O(corpus) seed
    if not pre_seeded:
        seed_amortized_store(spark, sf_dir)
    q = stream_semantic_dedup(
        spark, src, _amort_cells_root(sf_dir), audit_root, emb.schema,
        nlist=64, min_cosine=0.3, checkpoint=ckpt, max_files_per_trigger=16,
    )
    q.awaitTermination()
    try:
        audit = spark.read.parquet(audit_root).select("vec_id", "cell")
    except Exception:  # no drops at all → audit dir never created
        audit = spark.createDataFrame([], "vec_id long, cell int")
    return audit.orderBy("vec_id")


def q_dedup_semantic_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-accelerated SemDeDup with exact verdicts (operators/
    similarity.py semdedup_jl): cluster assignment and candidate pairing
    run in the 32-dim projected space (half the arithmetic/memory
    traffic), every candidate pair confirmed with the exact 64-dim
    cosine before a drop — sketch-prune + exact-confirm, so drop rates
    match the full-dim dedup_semantic and the projection only steers
    clustering. The oracle replays projection, assignment, candidate
    prune, and confirm verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = SIM.semdedup_jl(
        emb, nlist=16, min_cosine=0.3, cand_cosine=0.05, out_dim=32, in_dim=64
    )
    return out.select("vec_id", "cell", "keep")


# Projection CTEs identical to the JL oracles in pipeline_extra.py;
# assignment over the PROJECTED vectors (16 projected seed centroids);
# the pair predicate is candidate (projected cosine >= 0.05) AND
# confirm (exact 64-dim cosine >= 0.3), mirroring semdedup_jl.
ORACLE_DEDUP_SEMANTIC_JL = """
WITH dims AS (
  SELECT CAST(range AS BIGINT) AS dim FROM range(32)
), s1 AS (
  SELECT in_dim, dim,
         (((in_dim - 1) * 32 + dim + 1) * 2654435761) % 2147483648 AS h
  FROM dims, LATERAL unnest(generate_series(1, 64)) AS t(in_dim)
), s2 AS (
  SELECT in_dim, dim, (xor(h, h // 65536) * 2246822519) % 2147483648 AS h FROM s1
), sgn AS (
  SELECT in_dim, dim,
         CASE WHEN (xor(h, h // 8192) // 2) % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
  FROM s2
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), proj AS (
  SELECT e.vec_id, sgn.dim, sum(e.ev[sgn.in_dim] * sgn.s) AS p
  FROM e, sgn GROUP BY e.vec_id, sgn.dim
), c AS (
  SELECT pr.vec_id, list(pr.p ORDER BY pr.dim) AS pv, any_value(e.ev) AS ev
  FROM proj pr JOIN e ON e.vec_id = pr.vec_id
  GROUP BY pr.vec_id
), cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, pv AS centroid
  FROM c ORDER BY vec_id LIMIT 16
), adist AS (
  SELECT c.vec_id, c.pv, c.ev, cent.cell,
         list_reduce(list_transform(generate_series(1, len(c.pv)),
           i -> (c.pv[i] - cent.centroid[i]) * (c.pv[i] - cent.centroid[i])),
           (a, b) -> a + b) AS dist2
  FROM c, cent
), assigned AS (
  SELECT vec_id, pv, ev, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM adist
  ) WHERE rn = 1
), dropped AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE list_dot_product(a.pv, b.pv)
          / (sqrt(list_dot_product(a.pv, a.pv)) * sqrt(list_dot_product(b.pv, b.pv))) >= 0.05
    AND list_dot_product(a.ev, b.ev)
          / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))) >= 0.3
)
SELECT s.vec_id, s.cell, (d.vec_id IS NULL) AS keep
FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
"""


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact self-join mode — the oracle
    for the LSH-bucketed scale path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.embedding_cosine_pairs(emb, threshold=0.9)
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


ORACLE_DEDUP_EMBEDDING = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.vec, b.vec)
           / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(CAST(cosine AS DOUBLE), 4) AS cosine
FROM s WHERE cosine >= 0.9
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN under a value-exact oracle: ±1 planes derived
    from md5("p_<p>_<i>") parity (computed driver-side with hashlib —
    byte-identical to SQL md5), 6-bit signature buckets, bucket-equality
    candidates, cosine top-3 per query. The xxhash64-plane variant stays
    available as the library path (`SIM.lsh_bucket_topk`, recall-gated in
    pytest) — engine-specific hashing, so the md5 planes are the catalog
    form."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.lsh_bucket_topk_md5(emb, queries, k=3, num_planes=6, dim=64)
    return out.select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank")


# === text analysis ==========================================================


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting (JVM regexp, no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


ORACLE_TOKEN_COUNTS = """
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_bpe_tokens
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/uniqueness features + composite."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.quality_features(docs, "doc_id", "text")


ORACLE_TEXT_QUALITY = """
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars_computed,
         len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
         len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS n_distinct,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
         length(trim(text)) AS n_trim
  FROM documents
)
SELECT doc_id,
       CAST(n_chars_computed AS INT) AS n_chars_computed,
       CAST(n_tokens AS INT) AS n_tokens,
       round((n_trim - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE), 4) AS mean_token_len,
       round(n_distinct / CAST(n_tokens AS DOUBLE), 4) AS distinct_ratio,
       round(n_punct / CAST(n_chars_computed AS DOUBLE), 4) AS punct_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.4
             + (n_distinct / CAST(n_tokens AS DOUBLE)) * 0.4
             + (1.0 - least(n_punct / CAST(n_chars_computed AS DOUBLE) * 10.0, 1.0)) * 0.2, 4) AS quality_score
FROM f
"""


def q_text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile by (lang, source): doc counts, stored-vs-computed
    length agreement, mean length — the first query any training-data
    curation run does before filtering. One shuffle on a tiny key."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.sum((F.length("text") == F.col("n_chars")).cast("long")).alias("n_len_match"),
        )
    )


ORACLE_TEXT_CORPUS = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(avg(n_chars) AS DOUBLE), 2) AS avg_chars,
       CAST(sum(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_len_match
FROM documents GROUP BY lang, source
"""


def q_ann_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed kNN classification over the embedding corpus: predict
    each query vector's label as the majority among its top-5 cosine
    neighbors (ties → smaller label), compared to ground truth. The
    evaluation query every ANN index is judged by."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    # label rides through the top-k scoring pass (cosine_topk carry_cols
    # — functionally determined by vec_id), replacing the join-back
    # against a second full-corpus scan; and truth is pre-filtered to
    # the query ids (the inner join on query_id < 20 made every other
    # row dead weight), so its scan is pushdown-pruned instead of an
    # O(corpus) broadcast. Corpus scans 4 -> 1 full + 2 id-pruned.
    topk = SIM.cosine_topk(emb, queries, k=5, carry_cols=["label"])
    labeled = topk.withColumnRenamed("label", "neighbor_label")
    votes = labeled.groupBy("query_id", "neighbor_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("neighbor_label"))
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("neighbor_label").alias("predicted_label"))
    )
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "predicted_label",
        "true_label",
        (F.col("predicted_label") == F.col("true_label")).cast("int").alias("correct"),
    )


ORACLE_ANN_KNN = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS true_label
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv, label FROM embeddings),
s AS (
  SELECT query_id, true_label, c.vec_id, c.label AS neighbor_label,
         list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM q, c WHERE c.vec_id <> query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank FROM s),
v AS (SELECT query_id, true_label, neighbor_label, count(*) AS n_votes
      FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
p AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, neighbor_label ASC) AS rk FROM v)
SELECT query_id, CAST(neighbor_label AS INT) AS predicted_label,
       CAST(true_label AS INT) AS true_label,
       CAST(CASE WHEN neighbor_label = true_label THEN 1 ELSE 0 END AS INT) AS correct
FROM p WHERE rk = 1
"""


def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column (the coarse-quantizer
    build step behind IVF): posexplode → (label, dim) mean — one shuffle
    keyed on (label, dim), map-side partial averaging, no vectors ever
    collected to the driver. Flat (label, dim, centroid) output keeps the
    oracle comparison exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(F.col("embedding")).alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
    )


ORACLE_EMB_CENTROIDS = """
SELECT label, CAST(t.i AS INT) AS dim,
       round(CAST(avg(CAST(embedding[CAST(t.i + 1 AS INT)] AS DOUBLE)) AS DOUBLE), 6) AS centroid
FROM embeddings CROSS JOIN range(64) t(i)
GROUP BY label, dim
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language heuristic (deterministic, SQL-replicable)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.lang_id(docs, "doc_id", "text")


ORACLE_LANG_ID = """
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents
), h AS (
  SELECT doc_id, text,
    (CASE WHEN list_contains(toks,'der') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'und') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'die') THEN 1 ELSE 0 END) AS h_de,
    (CASE WHEN list_contains(toks,'the') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'and') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'of') THEN 1 ELSE 0 END) AS h_en,
    (CASE WHEN list_contains(toks,'el') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'la') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'los') THEN 1 ELSE 0 END) AS h_es,
    (CASE WHEN list_contains(toks,'le') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'et') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'les') THEN 1 ELSE 0 END) AS h_fr
  FROM t
)
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
       WHEN h_de > 0 AND h_en <= h_de AND h_es <= h_de AND h_fr <= h_de THEN 'de'
       WHEN h_en > 0 AND h_en > h_de AND h_es <= h_en AND h_fr <= h_en THEN 'en'
       WHEN h_es > 0 AND h_es > h_de AND h_es > h_en AND h_fr <= h_es THEN 'es'
       WHEN h_fr > 0 AND h_fr > h_de AND h_fr > h_en AND h_fr > h_es THEN 'fr'
       ELSE 'und' END AS pred_lang
FROM h
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized sorted-distinct-token SHA-256 fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.fingerprint(docs, "doc_id", "text")


ORACLE_FINGERPRINT = """
SELECT doc_id,
       sha256(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(lower(text)), '\\s+'))), ' ')) AS fingerprint
FROM documents
"""


def q_text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams: explode → count → TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.ngram_freq(docs, "text", n=2, top_k=20)


ORACLE_NGRAM_FREQ = """
WITH tok AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS words FROM documents
),
grams AS (
  SELECT words[i] || ' ' || words[i+1] AS ngram
  FROM (SELECT words, unnest(generate_series(1, greatest(len(words) - 1, 0))) AS i FROM tok)
)
SELECT ngram, CAST(count(*) AS BIGINT) AS freq
FROM grams GROUP BY ngram
ORDER BY freq DESC, ngram ASC LIMIT 20
"""


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a pathologically skewed key (event_type: 5 values
    over the whole fact table) — result identical to the plain join, but
    each hot key spreads over salt_factor reducer partitions."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0), ("error", 0.0), ("signup", 5.0)],
        "event_type string, weight double",
    )
    joined = salted_join(ev, dim, on="event_type", salt_factor=8, salt_source=["event_id"])
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
    )


ORACLE_SKEW_SALTED = """
WITH dim(event_type, weight) AS (
  VALUES ('click', 1.0), ('view', 0.1), ('purchase', 10.0), ('error', 0.0), ('signup', 5.0)
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(e.value * d.weight) AS DOUBLE), 2) AS weighted_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
"""


def q_join_auto_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven salting (operators/skew.py auto_salted_join): the
    Misra-Gries heavy-hitter pass measures the join key's hottest share
    at plan time and derives the salt factor from it — user-space AQE
    for joins the optimizer can't split. Result set identical to the
    plain join; the chosen factor is a deterministic function of the
    exact top share (the sketch only prunes candidates), so the oracle
    recomputes it: ceil(top_share * 16) clamped to [1, 16]."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.skew import auto_salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0), ("error", 0.0), ("signup", 5.0)],
        "event_type string, weight double",
    )
    joined, factor = auto_salted_join(
        ev, dim, on="event_type", salt_source=["event_id"], max_factor=16
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
    ).withColumn("salt_factor", F.lit(factor))


ORACLE_AUTO_SALTED = """
WITH dim(event_type, weight) AS (
  VALUES ('click', 1.0), ('view', 0.1), ('purchase', 10.0), ('error', 0.0), ('signup', 5.0)
), top_share AS (
  SELECT max(cnt) * 1.0 / sum(cnt) AS share
  FROM (SELECT count(*) AS cnt FROM events GROUP BY event_type)
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(e.value * d.weight) AS DOUBLE), 2) AS weighted_value,
       CAST(greatest(1, least(16, ceil((SELECT share FROM top_share) * 16))) AS INT)
         AS salt_factor
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
"""


# === multimodal =============================================================


def q_multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over mapInPandas: synthesize one spec-valid PNG
    per document (id-derived dimensions, operators/multimodal.py
    synthesize_png), then parse the PNG IHDR back out of the raw bytes.
    The oracle recomputes the expected dimensions arithmetically from
    doc_id, so a hash match proves the header parse extracted the true
    encoded geometry — content, not plumbing. The PNGs are materialized
    to parquet once (_media_fixture_root) and the query reads the stored
    table — the decode kernel is what's measured, as in a real pipeline
    where media arrives on disk."""
    media = spark.read.parquet(_media_fixture_root(spark, sf_dir, "png"))
    meta = MM.decode_image_meta_pandas(media)
    return meta.select("media_id", "format", "width", "height")


# png_dims_for_id: width = 16 + id % 64, height = 16 + (id // 8) % 48
ORACLE_MM_META = """
SELECT doc_id AS media_id,
       'png' AS format,
       CAST(16 + doc_id % 64 AS INT) AS width,
       CAST(16 + (doc_id // 8) % 48 AS INT) AS height
FROM documents
"""


def q_multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode over mapInPandas: synthesize one spec-valid
    16-bit PCM WAV per document (id-derived rate/channels/samples,
    operators/multimodal.py synthesize_wav), then walk the RIFF chunk
    list back out of the raw bytes. The oracle recomputes the expected
    parameters arithmetically from doc_id, so a hash match proves the
    chunk walk extracted the true encoded sample geometry. Reads the
    materialized WAV table (_media_fixture_root) so the measured work is
    the decode."""
    media = spark.read.parquet(_media_fixture_root(spark, sf_dir, "wav"))
    meta = MM.decode_audio_meta(media)
    return meta.select(
        "media_id", "format", "channels", "sample_rate",
        "bits_per_sample", "n_samples", "duration_ms",
    )


# wav_params_for_id: rate = (8000,16000,22050,44100)[id % 4],
# channels = 1 + (id // 4) % 2, n_samples = 64 + id % 193
ORACLE_MM_AUDIO = """
SELECT doc_id AS media_id,
       'wav' AS format,
       CAST(1 + (doc_id // 4) % 2 AS INT) AS channels,
       CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                            WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
       CAST(16 AS INT) AS bits_per_sample,
       CAST(64 + doc_id % 193 AS BIGINT) AS n_samples,
       CAST((64 + doc_id % 193) * 1000 //
            (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                             WHEN 2 THEN 22050 ELSE 44100 END) AS BIGINT) AS duration_ms
FROM documents
"""


def _binary_files_fixture_root(spark: SparkSession, sf_dir: str) -> str:
    """REAL loose .png files on disk (one per doc_id < 200) — the form
    raw media actually arrives in at ingest time, before anything packs
    it into parquet. Built once per sf_dir; ids live in the file NAMES,
    dimensions in the file BYTES, so the reader must recover both."""
    key = ("binary_png_files", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("fix_binfiles")
        ids = [
            r[0]
            for r in load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 200)
            .select("doc_id")
            .collect()
        ]
        for i in ids:
            w, h = MM.png_dims_for_id(int(i))
            with open(os.path.join(root, f"media_{int(i)}.png"), "wb") as fh:
                fh.write(MM.synthesize_png(int(i), w, h))
        _FIXTURES[key] = root
    return _FIXTURES[key]


def q_source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-media ingestion via Spark's built-in ``binaryFile`` source
    (SURVEY §2.1 source_generic_format family): read a directory of
    loose .png files (path/length/content per file), parse the media id
    from the file NAME and the geometry from the file BYTES
    (operators/multimodal.py decode_image_meta_pandas). The oracle
    recomputes both from doc_id arithmetic, so a hash match proves the
    file-level read path and the content parse agree with the on-disk
    truth. At scale this is the entry stage before media is packed to
    parquet; binaryFile gives file-granular partitioning for free."""
    root = _binary_files_fixture_root(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(root)
        .select(
            F.regexp_extract(F.col("path"), r"media_(\d+)\.png$", 1)
            .cast("long")
            .alias("media_id"),
            "content",
        )
    )
    meta = MM.decode_image_meta_pandas(files)
    return meta.select("media_id", "format", "width", "height")


ORACLE_BINARY_FILES = """
SELECT doc_id AS media_id,
       'png' AS format,
       CAST(16 + doc_id % 64 AS INT) AS width,
       CAST(16 + (doc_id // 8) % 48 AS INT) AS height
FROM documents WHERE doc_id < 200
"""


def q_multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video metadata decode over mapInPandas: synthesize one
    minimal ISO-BMFF (MP4) container per document (id-derived movie
    timescale/duration and track geometry, operators/multimodal.py
    synthesize_mp4), then walk the big-endian nested box tree back out
    of the raw bytes — the layout family (nested containers, fixed-point
    fields, version-dependent offsets) that PNG chunks and RIFF lists
    don't exercise. The oracle recomputes every field arithmetically
    from doc_id, so a hash match proves the box walk extracted the true
    encoded values. Reads the materialized MP4 table
    (_media_fixture_root) so the measured work is the decode."""
    media = spark.read.parquet(_media_fixture_root(spark, sf_dir, "mp4"))
    meta = MM.decode_video_meta(media)
    return meta.select(
        "media_id", "format", "brand", "timescale",
        "duration_units", "duration_ms", "width", "height",
    )


# mp4_params_for_id: timescale = (600,1000,24000,90000)[id % 4],
# duration_units = 1200 + id % 4801, width = 320 + 16*(id % 8),
# height = 240 + 16*(id % 5)
ORACLE_MM_VIDEO = """
SELECT doc_id AS media_id,
       'mp4' AS format,
       'isom' AS brand,
       CAST(CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
                            WHEN 2 THEN 24000 ELSE 90000 END AS INT) AS timescale,
       CAST(1200 + doc_id % 4801 AS BIGINT) AS duration_units,
       CAST((1200 + doc_id % 4801) * 1000 //
            (CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
                             WHEN 2 THEN 24000 ELSE 90000 END) AS BIGINT) AS duration_ms,
       CAST(320 + 16 * (doc_id % 8) AS INT) AS width,
       CAST(240 + 16 * (doc_id % 5) AS INT) AS height
FROM documents
"""


def q_multimodal_meta_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow twin of multimodal_image_meta: identical real header
    parse, but the kernel works on raw pyarrow RecordBatches (no pandas
    round-trip) — the leanest Python batch path for large binary
    columns. Same oracle as the mapInPandas variant: both must extract
    the identical encoded geometry. Reads the same materialized PNG
    table as multimodal_image_meta, so their timings compare the two
    Python batch transports over identical stored bytes."""
    media = spark.read.parquet(_media_fixture_root(spark, sf_dir, "png"))
    meta = MM.decode_image_meta_arrow(media)
    return meta.select("media_id", "format", "width", "height")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image thumbnailing over mapInPandas
    (operators/multimodal.py resize_image_nearest): read the
    materialized real-PNG media table, decode actual pixels with the
    stdlib-zlib IDAT inflate + full PNG defilter, nearest-neighbor
    resample to 64x64 with pure integer index math, and re-encode a
    spec-valid PNG. The output's integer pixel evidence (total pixel
    sum, position-weighted first-row checksum, rows-equal flag) is
    recomputed ARITHMETICALLY by the oracle from doc_id — the fixture
    pixels are (media_id + x) % 251 with id-derived dimensions — so a
    hash match proves the decoder recovered the true encoded pixels and
    the resampler picked the spec'd source indices. roundtrip_ok
    additionally proves the re-encoded PNG decodes back to the resized
    buffer bit-exactly."""
    media = spark.read.parquet(_media_fixture_root(spark, sf_dir, "png"))
    out = MM.resize_image_nearest(media, width=64, height=64)
    return out.select(
        "media_id", "src_width", "src_height", "target_width", "target_height",
        "n_pixels", "pixel_sum", "row0_weighted", "rows_all_equal", "roundtrip_ok",
    )


# Fixture pixel model (operators/multimodal.py synthesize_png /
# png_dims_for_id): every row of image id is (id + x) % 251 for
# x in [0, src_width); nearest-neighbor to 64x64 picks source column
# (x * src_width) // 64 for output column x, identical for all 64 rows.
ORACLE_MM_RESIZE = """
WITH d AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 64 AS sw,
         16 + (doc_id // 8) % 48 AS sh
  FROM documents
),
px AS (
  SELECT media_id, sw, sh, t.x,
         (media_id + ((t.x * sw) // 64)) % 251 AS p
  FROM d, unnest(generate_series(0, 63)) AS t(x)
),
rs AS (
  SELECT media_id, sw, sh,
         sum(p) AS row_sum,
         sum((x + 1) * p) AS row0_weighted
  FROM px GROUP BY media_id, sw, sh
)
SELECT media_id,
       CAST(sw AS INT) AS src_width,
       CAST(sh AS INT) AS src_height,
       CAST(64 AS INT) AS target_width,
       CAST(64 AS INT) AS target_height,
       CAST(4096 AS BIGINT) AS n_pixels,
       CAST(row_sum * 64 AS BIGINT) AS pixel_sum,
       CAST(row0_weighted AS BIGINT) AS row0_weighted,
       CAST(1 AS INT) AS rows_all_equal,
       CAST(1 AS INT) AS roundtrip_ok
FROM rs
"""


def q_multimodal_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pixel decode as a first-class operator
    (operators/multimodal.py decode_image_pixels — the retired PIL gate,
    now the stdlib inflate+defilter kernel over mapInPandas): decode
    every materialized PNG payload to its raw pixel buffer, then reduce
    each buffer to exact integer evidence (count / sum / first / last
    byte) with whole-buffer numpy kernels. The oracle replays all four
    stats from the fixture's id arithmetic — pixels are
    (media_id + x) % 251, identical rows — so a hash match proves the
    engine recovered the true encoded pixel CONTENT end-to-end."""
    media = spark.read.parquet(_media_fixture_root(spark, sf_dir, "png"))
    decoded = MM.decode_image_pixels(media)
    return MM.image_pixel_stats(decoded).orderBy("media_id")


# Fixture pixel model (synthesize_png): row byte x = (id + x) % 251,
# every row identical, dims from png_dims_for_id.
ORACLE_MM_PIXELS = """
WITH d AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 64 AS w,
         16 + (doc_id // 8) % 48 AS h
  FROM documents
),
rs AS (
  SELECT media_id, w, h, sum((media_id + t.x) % 251) AS row_sum
  FROM d, unnest(generate_series(0, w - 1)) AS t(x)
  GROUP BY media_id, w, h
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(row_sum * h AS BIGINT) AS pixel_sum,
       CAST(media_id % 251 AS INT) AS first_pixel,
       CAST((media_id + w - 1) % 251 AS INT) AS last_pixel
FROM rs
ORDER BY media_id
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-aware frame sampling (the byte-stride stub,
    retired): reconstruct per-sample (offset, size, timestamp) from the
    ISO-BMFF sample tables (stts/stsc/stsz/stco — the container's own
    frame index) of each materialized MP4 payload and keep every 4th
    sample. The oracle replays the whole sample table from id
    arithmetic alone, including the affine mdat layout constant
    (416 + 4·n_frames) pinned against the real bytes in
    tests/test_multimodal.py — a hash match proves the box walk
    recovered the true frame offsets and presentation times."""
    media = spark.read.parquet(_media_fixture_root(spark, sf_dir, "mp4"))
    return MM.sample_frames_bmff(media, every_k=4).orderBy("media_id", "sample_idx")


# Replays mp4_frames_for_id + the sample-table layout: one stts run
# (delta = max(timescale//24, 1)), one chunk at 416 + 4*n_frames, sizes
# 64 + (id*7 + i*13) % 129; within-chunk offsets are the stsz prefix sum.
ORACLE_MM_FRAMES = """
WITH params AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
                         WHEN 2 THEN 24000 ELSE 90000 END AS ts,
         8 + doc_id % 25 AS n_frames
  FROM documents
),
frames AS (
  SELECT media_id, ts, n_frames, i,
         64 + (media_id * 7 + i * 13) % 129 AS sz,
         greatest(ts // 24, 1) AS delta
  FROM params, LATERAL unnest(generate_series(0, n_frames - 1)) AS t(i)
),
offs AS (
  SELECT media_id, ts, i, sz, delta,
         416 + 4 * n_frames
           + coalesce(sum(sz) OVER (PARTITION BY media_id ORDER BY i
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS off
  FROM frames
)
SELECT media_id,
       CAST(i // 4 AS INT) AS frame_idx,
       CAST(i AS INT) AS sample_idx,
       CAST(off AS BIGINT) AS sample_offset,
       CAST(sz AS INT) AS sample_bytes,
       CAST(i * delta AS BIGINT) AS t_units,
       CAST(i * delta * 1000 // ts AS BIGINT) AS t_ms
FROM offs
WHERE i % 4 = 0
ORDER BY media_id, sample_idx
"""


def q_cluster_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave 8 bits of user_id and
    event_id%256 into one BIGINT and lay rows out along the curve
    (operators/zorder.py — the multi-column analogue of the reference's
    cluster-key sort, bq_create_table_ddl.sql:8-9). The oracle recomputes
    the identical bit-arithmetic in DuckDB, so every z-value is checked
    bit-exactly."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zorder import cluster_zorder

    ev = _events_day1(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.pmod(F.col("user_id"), F.lit(256)).alias("zx"),
        F.pmod(F.col("event_id"), F.lit(256)).alias("zy"),
    )
    curved = cluster_zorder(ev, ["zx", "zy"], bits=8, num_files=8)
    return (
        curved.select("event_id", "user_id", "zval")
        .orderBy("zval", "event_id")
        .limit(100)
    )


def _zorder_oracle() -> str:
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zorder import zvalue_sql

    zexpr = zvalue_sql(["(user_id % 256)", "(event_id % 256)"], bits=8)
    return f"""
SELECT event_id, user_id, {zexpr} AS zval
FROM events
WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
ORDER BY zval, event_id
LIMIT 100
"""


ORACLE_CLUSTER_ZORDER = _zorder_oracle()


def q_stats_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level zone map (operators/zonemap.py): per-hour
    min/max/count stats over the landing layout — the catalog-persisted
    skipping index (Delta add.stats / ORC stripe stats analogue). One
    scan, map-side-combined groupBy on partition metadata columns."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zonemap import partition_zone_map

    root = _parquet_fixture_root(spark, sf_dir)
    zm = partition_zone_map(spark, root, ["user_id", "value"])
    return zm.select(
        "hour_partition",
        "n_rows",
        "min_user_id",
        "max_user_id",
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )


ORACLE_STATS_ZONE_MAP = """
SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hour_partition,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(user_id) AS min_user_id, max(user_id) AS max_user_id,
       round(CAST(min(value) AS DOUBLE), 4) AS min_value,
       round(CAST(max(value) AS DOUBLE), 4) AS max_value
FROM events
WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
GROUP BY 1
"""


def _zm_clustered_root(spark: SparkSession, sf_dir: str) -> str:
    """The FULL events table in a realistic landing layout — hourly Hive
    partitions × 16 user_id-range files per hour (the sink's
    files_per_partition shape, ~11.5k files at sf0.1) — with a PERSISTED
    zone-map store. Shared fixture behind the skipping scan and its
    full-scan control twin: a narrow user_id predicate is exactly the
    needle query partition pruning can NOT help with (the predicate is
    not on time), so the zone map's file pruning is the only layer that
    cuts the file list. Built once per process; bench passes 2+ measure
    only the scans."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import with_partition_columns
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zonemap import refresh_zone_map

    key = ("zm_clustered", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("fix_zm")
        (
            with_partition_columns(load_table(spark, sf_dir, "events"))
            .repartitionByRange(16, F.col("user_id"))
            .sortWithinPartitions("user_id")
            .write.partitionBy("year", "month", "day", "hour")
            .mode("overwrite")
            .parquet(root)
        )
        refresh_zone_map(spark, root, cols=["user_id"])
        _FIXTURES[key] = root
    return _FIXTURES[key]


def q_scan_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping (operators/zonemap.py): lay the events
    table out hourly with user_id-range files, then answer a narrow
    user_id range scan reading ONLY the files whose min/max interval
    intersects the predicate (partition pruning cannot help — the
    predicate is not on time). The
    returned aggregate is layout-independent (the oracle is a plain
    filtered GROUP BY); the skip RATIO is asserted in tests, where file
    counts are controlled. The candidate-file list comes from the
    PERSISTED zone-map store (refresh_zone_map, maintained incrementally
    by the sink) — a metadata read, not a stats rescan. Benchmarked
    against its control twin scan_zonemap_full to measure the payoff."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zonemap import skipping_scan

    df, _read, _total = skipping_scan(spark, _zm_clustered_root(spark, sf_dir), "user_id", 40, 49)
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_scan_zonemap_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control twin of scan_file_skipping: the SAME range aggregate over
    the SAME clustered fixture with NO zone map — every file is listed
    and opened; only parquet row-group stats prune inside each file.
    Identical result (same oracle shape), so the bench delta between
    the pair is purely the file-skipping win."""
    root = _zm_clustered_root(spark, sf_dir)
    df = spark.read.parquet(root).filter(F.col("user_id").between(40, 49))
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_SCAN_FILE_SKIPPING = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events
WHERE user_id BETWEEN 40 AND 49
GROUP BY event_type
"""


def q_rollup_repair_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup catch-up repair (operators/sink.py repair_rollup): ingest
    five hours, maintain the rollup for only two of them (simulating a
    crash between landing write and rollup write), then diff-and-repair.
    Exactly the two missing hours are derived — O(missing), never
    O(table) — and the read-back of all hours must equal a full
    recompute."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        maintain_hourly_rollup,
        read_landing_table,
        repair_rollup,
        write_partition_overwrite,
    )

    hours = [f"20240101{h:02d}" for h in range(3)]
    table_root = _tmp("rr_landing")
    rollup_root = _tmp("rr_rollup")
    create_partitioned_table(spark, table_root)
    ev = _events_day1(spark, sf_dir)
    aggs = {"n_rows": "count(*)", "sum_value": "round(sum(value), 2)"}
    for h in hours:
        batch = ev.filter(F.date_format("ts", "yyyyMMddHH") == h)
        write_partition_overwrite(batch, table_root)
    # only hour 0 gets its rollup maintained before the "crash"
    maintain_hourly_rollup(spark, table_root, rollup_root, hours[0], ["event_type"], aggs)
    repaired = repair_rollup(spark, table_root, rollup_root, ["event_type"], aggs)
    assert repaired == [hours[1], hours[2]], repaired

    return read_landing_table(spark, rollup_root, *hours).select(
        bq_partition_from_hive_cols().alias("hour_partition"), "event_type", "n_rows", "sum_value"
    )


ORACLE_ROLLUP_REPAIR = """
SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hour_partition,
       event_type, CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-01 03:00:00'
GROUP BY 1, 2
"""


def _snapshot_fixture_root(spark: SparkSession, sf_dir: str) -> str:
    """Three-version snapshot table built from day-1 hours 0/1/2 of
    events: v1 = hour 0, v2 = +hour 1, v3 = +hour 2 (append mode —
    manifests accumulate, data dirs immutable)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.snapshots import write_snapshot

    key = ("snapshots", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("snap")
        ev = _events_day1(spark, sf_dir)
        for h in range(3):
            batch = ev.filter(F.hour("ts") == h).coalesce(2)
            write_snapshot(spark, batch, root, mode="append")
        _FIXTURES[key] = root
    return _FIXTURES[key]


def q_sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a manifest-based snapshot table
    (operators/snapshots.py): three append commits, then read the table
    AS OF each version. Reads resolve the exact member-file list from
    the version's manifest — O(manifest) metadata, no directory walk,
    crashed half-written data dirs invisible (manifest written last).
    The oracle recomputes each version's cumulative hour prefix from
    the raw events."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.snapshots import read_snapshot

    root = _snapshot_fixture_root(spark, sf_dir)
    frames = []
    for v in (1, 2, 3):
        snap = read_snapshot(spark, root, v)
        frames.append(
            snap.agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select("version", "n_rows", "sum_value")


ORACLE_TIME_TRAVEL = """
SELECT v.version,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(e.value) AS DOUBLE), 2) AS sum_value
FROM (SELECT unnest([1, 2, 3]) AS version) v
JOIN events e
  ON e.ts >= TIMESTAMP '2024-01-01 00:00:00'
 AND e.ts < TIMESTAMP '2024-01-01 00:00:00' + to_hours(CAST(v.version AS BIGINT))
GROUP BY 1
"""


def q_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned CDC between snapshot versions
    (operators/snapshots.py snapshot_diff): v1 -> v3 over append-only
    history takes the fast path — only the delta files (hours 1-2) are
    scanned, the old version is never read (pinned by
    tests/test_snapshots.py via inputFiles). Emits per-hour insert
    counts; the oracle recomputes them from raw events."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.snapshots import (
        read_snapshot,
        snapshot_diff,
    )

    root = _snapshot_fixture_root(spark, sf_dir)
    changes = snapshot_diff(spark, root, 1, 3, ["event_id"])
    # join change keys back to the current version for attribution
    current = read_snapshot(spark, root, 3).select("event_id", "ts")
    return (
        changes.join(current, "event_id")
        .groupBy(
            F.col("change"),
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


ORACLE_CDC_DIFF = """
SELECT 'inserted' AS change,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 01:00:00'
  AND ts < TIMESTAMP '2024-01-01 03:00:00'
GROUP BY 2
"""


def _dpp_fixture_roots(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Day-partitioned parquet copy of events plus a 30-row day-dimension
    table (day, tag) with tag='keep' on exactly three days — the layout
    dynamic partition pruning needs to show its work."""
    key = ("dpp", sf_dir)
    if key not in _FIXTURES:
        fact_root = _tmp("dpp_fact")
        dim_root = _tmp("dpp_dim")
        ev = load_table(spark, sf_dir, "events").withColumn(
            "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
        )
        ev.repartition("day").write.partitionBy("day").mode("overwrite").parquet(fact_root)
        days = ev.select("day").distinct()
        days.withColumn(
            "tag",
            F.when(
                F.col("day").isin("2024-01-05", "2024-01-12", "2024-01-20"),
                F.lit("keep"),
            ).otherwise(F.lit("skip")),
        ).coalesce(1).write.mode("overwrite").parquet(dim_root)
        _FIXTURES[key] = (fact_root, dim_root)
    return _FIXTURES[key]


def q_scan_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a fact table partitioned by day joined
    to a filtered day dimension. Catalyst injects the dim's surviving
    day set as a runtime partition filter on the fact scan
    (``dynamicpruning`` subquery in the plan, pinned by
    tests/test_layout.py), so only 3 of 30 day directories are read —
    the selective-dimension star join at 100 TB reads 10% of the fact
    table without any static predicate on it."""
    fact_root, dim_root = _dpp_fixture_roots(spark, sf_dir)
    fact = spark.read.parquet(fact_root)
    dim = spark.read.parquet(dim_root).filter(F.col("tag") == "keep")
    return (
        fact.join(dim, "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        # partition-column inference types `day` as DATE; emit the
        # oracle's string form
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_DPP_JOIN = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events
WHERE strftime(date_trunc('day', ts), '%Y-%m-%d')
      IN ('2024-01-05', '2024-01-12', '2024-01-20')
GROUP BY 1
"""


def q_profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile (operators/skew.py key_skew_profile): the
    10 hottest customer keys in orders with their share of total — the
    measurement that drives `join_auto_salted`'s salt factor. Top-k is
    orderBy+limit (per-partition heaps via TakeOrderedAndProject, no
    global sort), ties broken key-ascending so the profile is
    deterministic."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.skew import key_skew_profile

    orders = load_table(spark, sf_dir, "orders")
    prof = key_skew_profile(orders, "o_custkey", top_k=10)
    return prof.select(
        F.col("__key").alias("custkey"), "n_rows", "share"
    )


ORACLE_KEY_SKEW = """
WITH counts AS (
  SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
),
tot AS (SELECT sum(n_rows) AS total FROM counts)
SELECT custkey, n_rows,
       round(CAST(n_rows AS DOUBLE) / tot.total, 4) AS share
FROM counts CROSS JOIN tot
ORDER BY n_rows DESC, custkey ASC
LIMIT 10
"""


def q_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE maintenance of the landing table: a file stream
    over day-1 hours 0-2 drains through foreachBatch, each micro-batch
    upserting its rows into the hour partitions it touches
    (operators/sink.py merge_upsert_partition). Because the apply is a
    KEYED merge, the result is identical no matter how the source files
    split into batches — a batch boundary inside an hour re-merges
    instead of clobbering the partition (the failure mode a
    foreachBatch + whole-partition-overwrite sink would have). The
    oracle recomputes the three hours from raw events."""
    import uuid

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        merge_upsert_partition,
        read_landing_table,
    )

    key = ("stream_upsert_src", sf_dir)
    if key not in _FIXTURES:
        src = _tmp("su_src")
        (
            _events_day1(spark, sf_dir)
            .filter(F.hour("ts") < 3)
            .repartition(6)
            .write.mode("overwrite")
            .parquet(src)
        )
        _FIXTURES[key] = src

    table_root = _tmp("su_table")
    create_partitioned_table(spark, table_root)

    def _apply(batch, batch_id):
        hours = [
            r["p"]
            for r in batch.select(
                F.date_format("ts", "yyyyMMddHH").alias("p")
            ).distinct().collect()
        ]
        for part in sorted(hours):
            rows = batch.filter(F.date_format("ts", "yyyyMMddHH") == part)
            merge_upsert_partition(spark, table_root, rows, part, ["event_id"])

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(_FIXTURES[key])
    )
    q = (
        stream.writeStream.foreachBatch(_apply)
        .queryName(f"su_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)

    hours = [f"20240101{h:02d}" for h in range(3)]
    return read_landing_table(spark, table_root, *hours).groupBy(
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_STREAM_UPSERT = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts < TIMESTAMP '2024-01-01 03:00:00'
GROUP BY 1
"""


def q_rollup_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view query rewrite: answer a 3-hour-per-type total
    FROM the hourly rollup table instead of the base landing table —
    sum(count) and sum(hourly sum) re-aggregate losslessly because both
    are algebraic; the read touches 3 rollup partitions (rows = hours ×
    types) instead of 3 data partitions (rows = events). Holistic
    aggregates (count distinct) deliberately do NOT appear here: they
    cannot be rolled up from per-hour results — that asymmetry is the
    whole design rule of the rollup schema. The oracle recomputes from
    raw events, proving the rewrite is exact."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        maintain_hourly_rollup,
        read_landing_table,
        write_partition_overwrite,
    )

    key = ("mv_rollup", sf_dir)
    if key not in _FIXTURES:
        hours = ["2024010100", "2024010101", "2024010102"]
        table_root = _tmp("mv_landing")
        rollup_root = _tmp("mv_rollup")
        create_partitioned_table(spark, table_root)
        ev = _events_day1(spark, sf_dir)
        aggs = {"n_rows": "count(*)", "sum_value": "round(sum(value), 2)"}
        for h in hours:
            batch = ev.filter(F.date_format("ts", "yyyyMMddHH") == h)
            write_partition_overwrite(batch, table_root)
            maintain_hourly_rollup(
                spark, table_root, rollup_root, h, ["event_type"], aggs
            )
        _FIXTURES[key] = rollup_root

    hours = [f"20240101{h:02d}" for h in range(3)]
    rollup = read_landing_table(spark, _FIXTURES[key], *hours)
    return rollup.groupBy("event_type").agg(
        F.sum("n_rows").alias("n_rows"),
        F.round(F.sum("sum_value"), 2).alias("sum_value"),
    )


ORACLE_MV_REWRITE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         CAST(count(*) AS BIGINT) AS n_rows,
         round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
    AND ts < TIMESTAMP '2024-01-01 03:00:00'
  GROUP BY 1, 2
)
SELECT event_type, CAST(sum(n_rows) AS BIGINT) AS n_rows,
       round(sum(sum_value), 2) AS sum_value
FROM hourly GROUP BY 1
"""


# === registry ===============================================================

QUERIES: dict[str, callable] = {
    # §2.1 scans / sources / sinks
    "scan_hive_partitioned": q_scan_hive_partitioned,
    "scan_csv_tab_delimited": q_scan_csv_tab_delimited,
    "source_generic_format": q_source_generic_format,
    "source_avro": q_source_avro,
    "source_json_lines": q_source_json_lines,
    "source_xml": q_source_xml,
    "source_json_variant": q_source_json_variant,
    "sql_recursive_spine": q_sql_recursive_spine,
    "sql_udf_partition": q_sql_udf_partition,
    "quality_observed": q_quality_observed,
    "probe_partition_exists": q_probe_partition_exists,
    "sink_partition_overwrite": q_sink_partition_overwrite,
    "sink_training_shards": q_sink_training_shards,
    "sink_skip_empty": q_sink_skip_empty,
    "sink_create_never": q_sink_create_never,
    "ddl_create_partitioned_table": q_ddl_create_partitioned_table,
    "sink_compact_partition": q_sink_compact_partition,
    "rollup_continuous_hourly": q_rollup_continuous_hourly,
    "rollup_repair_missing": q_rollup_repair_missing,
    "rollup_mv_rewrite": q_rollup_mv_rewrite,
    "sink_time_travel": q_sink_time_travel,
    "snapshot_cdc_diff": q_snapshot_cdc_diff,
    "scan_dpp_join": q_scan_dpp_join,
    "profile_key_skew": q_profile_key_skew,
    "stream_upsert_sink": q_stream_upsert_sink,
    "cluster_zorder": q_cluster_zorder,
    "stats_zone_map": q_stats_zone_map,
    "scan_file_skipping": q_scan_file_skipping,
    "scan_zonemap_full": q_scan_zonemap_full,
    "filter_require_partition": q_filter_require_partition,
    "job_state_poll": q_job_state_poll,
    "api_ingest_lifecycle": q_api_ingest_lifecycle,
    "backfill_range": q_backfill_range,
    # §2.2 filters / projections
    "filter_partition_eq": q_filter_partition_eq,
    "filter_rlike_status": q_filter_rlike_status,
    "filter_eq_severity": q_filter_eq_severity,
    "filter_switch_branch": q_filter_switch_branch,
    "project_job_fields": q_project_job_fields,
    "monitor_error_rollup": q_monitor_error_rollup,
    # §2.3 scalar functions
    "fn_partition_strings": q_fn_partition_strings,
    "fn_partition_roundtrip": q_fn_partition_roundtrip,
    "fn_json_get": q_fn_json_get,
    "fn_trunc_hour": q_fn_trunc_hour,
    "fn_uuid_last_hour": q_fn_uuid_last_hour,
    # analytics (§2.4-2.6)
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q14_promo_revenue": q14_promo_revenue,
    "q18_large_orders": q18_large_orders,
    "join_broadcast_dim": q_join_broadcast_dim,
    "join_bucketed_colocated": q_join_bucketed_colocated,
    "join_asof": q_join_asof,
    "join_asof_tolerance": q_join_asof_tolerance,
    "join_interval_overlap": q_join_interval_overlap,
    "join_range_buckets": q_join_range_buckets,
    "join_semi": q_join_semi,
    "join_anti": q_join_anti,
    "join_skew_salted": q_join_skew_salted,
    "join_auto_salted": q_join_auto_salted,
    "agg_rollup": q_agg_rollup,
    "agg_cube": q_agg_cube,
    "agg_conditional_pivot": q_agg_conditional_pivot,
    "agg_stats": q_agg_stats,
    "agg_percentiles": q_agg_percentiles,
    "join_full_outer": q_join_full_outer,
    "window_ntile": q_window_ntile,
    "window_topk_per_group": q_window_topk_per_group,
    "window_running_total": q_window_running_total,
    "window_lag_gap": q_window_lag_gap,
    "window_sessionize": q_window_sessionize,
    "topk_orders": q_topk_orders,
    "set_except": q_set_except,
    "set_intersect": q_set_intersect,
    "set_union": q_set_union,
    "distinct_users_by_type": q_distinct_users_by_type,
    # streaming (§2.7)
    "stream_tumbling_window": q_stream_tumbling_window,
    "stream_hourly_ingest": q_stream_hourly_ingest,
    "stream_quarantine_sink": q_stream_quarantine_sink,
    "stream_stateful_totals": q_stream_stateful_totals,
    "stream_session_window": q_stream_session_window,
    "stream_incremental_dedup": q_stream_incremental_dedup,
    "sink_merge_upsert": q_sink_merge_upsert,
    # dedup
    "dedup_exact": q_dedup_exact,
    "dedup_content_hash": q_dedup_content_hash,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_lsh_recall_gate": q_dedup_lsh_recall_gate,
    "dedup_lsh_precision_gate": q_dedup_lsh_precision_gate,
    "dedup_containment": q_dedup_containment,
    # similarity
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_cosine_expr": q_ann_cosine_expr,
    "ann_pq_oracle": q_ann_pq_oracle,
    "ann_ivf_pq_oracle": q_ann_ivf_pq_oracle,
    "ann_ivf_pq_append": q_ann_ivf_pq_append,
    "ann_ivf_pq_rescore": q_ann_ivf_pq_rescore,
    "ann_ivf_pq_compact": q_ann_ivf_pq_compact,
    "ann_ivf_cell_skew": q_ann_ivf_cell_skew,
    "ann_ivf_pq_maintain": q_ann_ivf_pq_maintain,
    "ann_ivf_pq_retrain": q_ann_ivf_pq_retrain,
    "ann_knn_classify": q_ann_knn_classify,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_semantic": q_dedup_semantic,
    "dedup_semantic_incremental": q_dedup_semantic_incremental,
    "stream_semantic_dedup": q_stream_semantic_dedup,
    "stream_semantic_dedup_amortized": q_stream_semantic_dedup_amortized,
    "dedup_semantic_bucketed": q_dedup_semantic_bucketed,
    "ann_store_trained": q_ann_store_trained,
    "ann_store_retrain": q_ann_store_retrain,
    "pca_fit_project": q_pca_fit_project,
    "dedup_semantic_jl": q_dedup_semantic_jl,
    "embedding_label_centroids": q_embedding_label_centroids,
    # text analysis
    "text_token_counts": q_text_token_counts,
    "text_corpus_stats": q_text_corpus_stats,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "text_ngram_freq": q_text_ngram_freq,
    # multimodal
    "multimodal_image_meta": q_multimodal_image_meta,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_pixel_decode": q_multimodal_pixel_decode,
    "multimodal_meta_arrow": q_multimodal_meta_arrow,
    "multimodal_audio_meta": q_multimodal_audio_meta,
    "multimodal_video_meta": q_multimodal_video_meta,
    "source_binary_files": q_source_binary_files,
}

ORACLES: dict[str, str] = {
    "scan_hive_partitioned": ORACLE_SCAN_HIVE,
    "scan_csv_tab_delimited": ORACLE_SCAN_CSV,
    "source_generic_format": ORACLE_GENERIC,
    "source_avro": ORACLE_AVRO,
    "source_json_lines": ORACLE_JSON_LINES,
    "source_xml": ORACLE_SOURCE_XML,
    "source_json_variant": ORACLE_JSON_VARIANT,
    "sql_recursive_spine": ORACLE_RECURSIVE_SPINE,
    "sql_udf_partition": ORACLE_SQL_UDF,
    "quality_observed": ORACLE_QUALITY_OBSERVED,
    "probe_partition_exists": ORACLE_PROBE,
    "sink_partition_overwrite": ORACLE_SINK,
    "sink_training_shards": ORACLE_TRAINING_SHARDS,
    "sink_skip_empty": ORACLE_SKIP_EMPTY,
    "sink_create_never": ORACLE_CREATE_NEVER,
    "ddl_create_partitioned_table": ORACLE_DDL_CREATE,
    "sink_compact_partition": ORACLE_SINK_COMPACT,
    "rollup_continuous_hourly": ORACLE_ROLLUP_CONTINUOUS,
    "rollup_repair_missing": ORACLE_ROLLUP_REPAIR,
    "rollup_mv_rewrite": ORACLE_MV_REWRITE,
    "sink_time_travel": ORACLE_TIME_TRAVEL,
    "snapshot_cdc_diff": ORACLE_CDC_DIFF,
    "scan_dpp_join": ORACLE_DPP_JOIN,
    "profile_key_skew": ORACLE_KEY_SKEW,
    "stream_upsert_sink": ORACLE_STREAM_UPSERT,
    "cluster_zorder": ORACLE_CLUSTER_ZORDER,
    "stats_zone_map": ORACLE_STATS_ZONE_MAP,
    "scan_file_skipping": ORACLE_SCAN_FILE_SKIPPING,
    "scan_zonemap_full": ORACLE_SCAN_FILE_SKIPPING,
    "filter_require_partition": ORACLE_REQUIRE_PARTITION,
    "job_state_poll": ORACLE_JOB_POLL,
    "api_ingest_lifecycle": ORACLE_API_LIFECYCLE,
    "backfill_range": ORACLE_BACKFILL,
    "filter_partition_eq": ORACLE_FILTER_PART,
    "filter_rlike_status": ORACLE_RLIKE,
    "filter_eq_severity": ORACLE_EQ_SEVERITY,
    "filter_switch_branch": ORACLE_SWITCH,
    "project_job_fields": ORACLE_PROJECT_JOB,
    "monitor_error_rollup": ORACLE_MONITOR_ROLLUP,
    "fn_partition_strings": ORACLE_FN_STRINGS,
    "fn_partition_roundtrip": ORACLE_FN_ROUNDTRIP,
    "fn_json_get": ORACLE_JSON_GET,
    "fn_trunc_hour": ORACLE_TRUNC_HOUR,
    "fn_uuid_last_hour": ORACLE_FN_UUID,
    "q1_pricing_summary": ORACLE_Q1,
    "q3_shipping_priority": ORACLE_Q3,
    "q5_local_supplier": ORACLE_Q5,
    "q4_order_priority": ORACLE_Q4,
    "q6_forecast_revenue": ORACLE_Q6,
    "q14_promo_revenue": ORACLE_Q14,
    "q18_large_orders": ORACLE_Q18,
    "join_broadcast_dim": ORACLE_JOIN_BROADCAST,
    "join_bucketed_colocated": ORACLE_JOIN_BUCKETED,
    "join_asof": ORACLE_JOIN_ASOF,
    "join_asof_tolerance": ORACLE_ASOF_TOLERANCE,
    "join_interval_overlap": ORACLE_INTERVAL_OVERLAP,
    "join_range_buckets": ORACLE_JOIN_RANGE,
    "join_semi": ORACLE_JOIN_SEMI,
    "join_anti": ORACLE_JOIN_ANTI,
    "join_skew_salted": ORACLE_SKEW_SALTED,
    "join_auto_salted": ORACLE_AUTO_SALTED,
    "agg_rollup": ORACLE_ROLLUP,
    "agg_cube": ORACLE_CUBE,
    "agg_conditional_pivot": ORACLE_PIVOT,
    "agg_stats": ORACLE_STATS,
    "agg_percentiles": ORACLE_PERCENTILES,
    "join_full_outer": ORACLE_FULL_OUTER,
    "window_ntile": ORACLE_NTILE,
    "window_topk_per_group": ORACLE_WINDOW_TOPK,
    "window_running_total": ORACLE_RUNNING,
    "window_lag_gap": ORACLE_LAG_GAP,
    "window_sessionize": ORACLE_SESSIONIZE,
    "topk_orders": ORACLE_TOPK,
    "set_except": ORACLE_EXCEPT,
    "set_intersect": ORACLE_INTERSECT,
    "set_union": ORACLE_UNION,
    "distinct_users_by_type": ORACLE_DISTINCT_USERS,
    "stream_tumbling_window": ORACLE_STREAM,
    "stream_hourly_ingest": ORACLE_STREAM_INGEST,
    "stream_quarantine_sink": ORACLE_STREAM_QUARANTINE,
    "stream_stateful_totals": ORACLE_STREAM_STATEFUL,
    "stream_session_window": ORACLE_SESSION_WINDOW,
    "sink_merge_upsert": ORACLE_MERGE_UPSERT,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_content_hash": ORACLE_CONTENT_HASH,
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_lsh_recall_gate": ORACLE_DEDUP_LSH_RECALL,
    "dedup_lsh_precision_gate": ORACLE_DEDUP_LSH_PRECISION,
    "dedup_containment": ORACLE_CONTAINMENT,
    "ann_cosine_topk": ORACLE_ANN,
    "ann_cosine_expr": ORACLE_ANN,
    "ann_pq_oracle": ORACLE_ANN_PQ,
    "ann_ivf_pq_oracle": ORACLE_ANN_IVF_PQ,
    "ann_ivf_pq_append": ORACLE_ANN_IVF_PQ,
    "ann_ivf_pq_rescore": ORACLE_ANN_IVF_PQ_RESCORE,
    # compaction is pure re-layout: shares the from-scratch-build SQL,
    # hash match proves the compacted index byte-equivalent to a rebuild
    "ann_ivf_pq_compact": ORACLE_ANN_IVF_PQ,
    "ann_ivf_cell_skew": ORACLE_ANN_IVF_CELL_SKEW,
    "ann_ivf_pq_maintain": ORACLE_ANN_IVF_PQ_MAINTAIN,
    "ann_ivf_pq_retrain": ORACLE_ANN_IVF_PQ_RETRAIN,
    "ann_ivf_topk": ORACLE_ANN_IVF,
    "ann_knn_classify": ORACLE_ANN_KNN,
    "dedup_embedding_cosine": ORACLE_DEDUP_EMBEDDING,
    "dedup_semantic": ORACLE_DEDUP_SEMANTIC,
    "dedup_semantic_incremental": ORACLE_DEDUP_SEMANTIC_INCREMENTAL,
    "stream_semantic_dedup": ORACLE_STREAM_SEMANTIC,
    "stream_semantic_dedup_amortized": ORACLE_STREAM_SEMANTIC,
    "dedup_semantic_bucketed": ORACLE_DEDUP_SEMANTIC_INCREMENTAL,
    "ann_store_trained": ORACLE_ANN_STORE_TRAINED,
    "ann_store_retrain": ORACLE_ANN_STORE_RETRAIN,
    "pca_fit_project": ORACLE_PCA_FIT_PROJECT,
    "dedup_semantic_jl": ORACLE_DEDUP_SEMANTIC_JL,
    "embedding_label_centroids": ORACLE_EMB_CENTROIDS,
    "text_token_counts": ORACLE_TOKEN_COUNTS,
    "text_corpus_stats": ORACLE_TEXT_CORPUS,
    "text_quality": ORACLE_TEXT_QUALITY,
    "text_lang_id": ORACLE_LANG_ID,
    "text_fingerprint": ORACLE_FINGERPRINT,
    "text_ngram_freq": ORACLE_NGRAM_FREQ,
    "multimodal_image_meta": ORACLE_MM_META,
    "multimodal_frame_sample": ORACLE_MM_FRAMES,
    "multimodal_resize": ORACLE_MM_RESIZE,
    "multimodal_pixel_decode": ORACLE_MM_PIXELS,
    "multimodal_meta_arrow": ORACLE_MM_META,
    "multimodal_audio_meta": ORACLE_MM_AUDIO,
    "multimodal_video_meta": ORACLE_MM_VIDEO,
    "source_binary_files": ORACLE_BINARY_FILES,
}

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.tpch_extra import (  # noqa: E402
    EXTRA_ORACLES,
    EXTRA_QUERIES,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.pipeline_extra import (  # noqa: E402
    PIPELINE_ORACLES,
    PIPELINE_QUERIES,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra import (  # noqa: E402
    ANALYTICS_ORACLES,
    ANALYTICS_QUERIES,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.behavior_extra import (  # noqa: E402
    BEHAVIOR_ORACLES,
    BEHAVIOR_QUERIES,
)

QUERIES.update(EXTRA_QUERIES)
ORACLES.update(EXTRA_ORACLES)
QUERIES.update(PIPELINE_QUERIES)
ORACLES.update(PIPELINE_ORACLES)
QUERIES.update(ANALYTICS_QUERIES)
ORACLES.update(ANALYTICS_ORACLES)
QUERIES.update(BEHAVIOR_QUERIES)
ORACLES.update(BEHAVIOR_ORACLES)

# --- catalog ordering ---------------------------------------------------------
# External correctness harnesses sweep the catalog in dict order and check
# the FIRST 50 keys only, so the front of the dict rotates per round toward
# queries that most need a fresh driver row. Since round 7 the window is
# DERIVED, not hand-edited (queries/rotation.py): the round's explicitly
# queued new keys lead, and the remaining slots fill oldest-evidence-first
# from the committed CORRECTNESS_r*.json files, so every key is re-checked
# at least every ceil(n_keys/50) rounds automatically. Keys with no green
# value-exact row ever (e.g. the five former rows-only keys swapped to
# their deterministic md5-family/fixed-quantizer forms this round) sort to
# the front of the stale pool on their own.
#
# Round-20 queue — keys whose implementation changed since their last
# green correctness row, per the changed-kernel discipline: a green row from
# an earlier round attests the OLD code and must not satisfy the queue.
# _ROUND_QUEUE_ROUND pins the round this queue demands evidence FROM:
# a queued key retires once it is green in that round or later
# (rotation.py). Behind the queue, the evidence-driven rotation fronts
# the stalest keys.
# Gate (per project discipline): every queued key verified with
# scripts/check_correctness.py at sf0.01 AND sf0.1 before the rotation
# landed. The committed round-19 rows predate every change queued here,
# so only round-20 rows can retire an entry.
_ROUND_QUEUE_ROUND = 20
_ROUND_QUEUE = [
    # the IVF-PQ index family: publish protocol moved to
    # operators/_publish.py, legacy-layout fallbacks removed, strict
    # meta.json read; retrain also carries the capped fit default
    # (64 samples per cell, 10 k-means iterations)
    "ann_ivf_pq_retrain",
    "ann_ivf_pq_maintain",
    "ann_ivf_pq_compact",
    "ann_ivf_pq_rescore",
    "ann_ivf_pq_oracle",
    "ann_ivf_pq_append",
    "ann_ivf_cell_skew",
    # the corpus-cells store moved off managed tables + a pointer view
    # onto a versioned root published through operators/_publish.py
    "dedup_semantic_bucketed",
    "ann_store_trained",
    "ann_store_retrain",
    "stream_semantic_dedup",
    "stream_semantic_dedup_amortized",
    # plan rewrites not yet re-attested (one derivation of each shared
    # parent; Bloom screen moved into the JVM; persisted exploded spans)
    "profile_corpus_report",
    "agg_pareto_share",
    "approx_hll_set_ops",
    "agg_bitmap_distinct",
    "dedup_spans",
    "text_contamination_bloom",
    # avg_score now rounds the binary double like the oracle's
    # round(DOUBLE, 4) (was Spark's decimal half-up)
    "classify_naive_bayes",
    # several hours now read back as ONE leaf-list read_landing_table
    # (was a per-hour read + unionByName loop); hour_partition comes from
    # the shared partition-column key instead of a per-read literal; the
    # rollup's hour timestamp comes from the partition columns, and
    # repair_rollup rolls every missing hour up from one read
    "rollup_continuous_hourly",
    "rollup_repair_missing",
    "stream_upsert_sink",
    "rollup_mv_rewrite",
    # reads its kept hours' leaves instead of the whole root; the
    # partition key is the shared Column twin of the hour-path parse
    "partition_vacuum_retention",
    # the per-hour key and the store's part_key are the shared Column
    # twin; the incremental refresh reads the touched hours' leaves
    "stats_zone_map",
    "scan_file_skipping",
    # list_table_partitions parses leaves with the shared inverse; the
    # lag and window use the partition kit's parse/format
    "monitor_freshness",
]

_missing = [k for k in _ROUND_QUEUE if k not in QUERIES]
if _missing:  # typo guard — fail loudly at import, not silently mis-order
    raise RuntimeError(f"_ROUND_QUEUE names unknown queries: {_missing}")

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.rotation import (  # noqa: E402
    build_driver_window,
)

_DRIVER_WINDOW = build_driver_window(
    QUERIES.keys(), _ROUND_QUEUE, size=50, queue_round=_ROUND_QUEUE_ROUND
)

QUERIES = {
    **{k: QUERIES[k] for k in _DRIVER_WINDOW},
    **{k: v for k, v in QUERIES.items() if k not in set(_DRIVER_WINDOW)},
}
