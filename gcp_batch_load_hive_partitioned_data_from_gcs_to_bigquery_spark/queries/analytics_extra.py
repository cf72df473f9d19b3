"""Additional analytics surface: grouping sets, event-time range-frame
windows, an ORC instance of the generic-format source, and an
approx-distinct accuracy gate.

Fills the remaining §2.5/§2.6 shapes (multi-level aggregation lattices,
time-interval window frames) plus one more `source_generic_format`
format instance (ORC — the reference's job-config pass-through,
`ingestion/app.py:33` / `README.md:6-7` of the reference, is
format-agnostic by design). The approx gate follows the repo rule that
every approximate path is bounded by an exact one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..operators._cache import scoped_persist as _scoped_persist
from ..streaming import drain_stream


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS lattice over events: per (type, day), per type, and
    grand total in ONE pass — the multi-level rollup a monitoring
    dashboard issues against the landing table. Spark plans a single
    Expand + one shuffle rather than three scans+unions; labels are
    coalesced so both engines emit identical rows without grouping_id."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(date_format(date_trunc('day', ts), 'yyyy-MM-dd'), 'ALL') AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (event_type, date_trunc('day', ts)), ())
        """
    )


ORACLE_GROUPING_SETS = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY GROUPING SETS ((event_type), (event_type, date_trunc('day', ts)), ())
"""


def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per-user rolling 1-hour sum ordered by
    timestamp — the "how much in the trailing hour" monitoring query.
    RANGE BETWEEN INTERVAL bounds make the frame data-driven (all rows
    within 1h, however many), vs ROWS frames' fixed counts; one shuffle
    on user_id, sort within partitions."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )
    ev.createOrReplaceTempView("events_ri")
    return spark.sql(
        """
        SELECT user_id, ts,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2)
                 AS rolling_1h
        FROM events_ri
        """
    )


ORACLE_RANGE_INTERVAL = """
SELECT user_id, ts,
       round(CAST(sum(value) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
         AS rolling_1h
FROM events
WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
"""


def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source_generic_format, ORC instance: the same pass-through reader
    exercised with a columnar format whose reader is JVM-vectorized —
    round-trips one day of events through ORC and aggregates."""
    from .catalog import _FIXTURES, _events_day1, _tmp
    from ..sources.hive_csv import read_generic

    key = ("orc", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("fix_orc")
        _events_day1(spark, sf_dir).write.mode("overwrite").orc(root)
        _FIXTURES[key] = root
    df = read_generic(spark, _FIXTURES[key], "orc")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
    )


ORACLE_SOURCE_ORC = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00' GROUP BY event_type
"""


def q_approx_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count bounded by the exact count: returns
    the exact per-type user count plus a flag that the approximate
    estimate (rsd=0.02) landed within 5%. At 100 TB the approx path is
    the one you run (no per-key state explosion); this gate is how its
    error stays observable. The oracle checks the exact counts and
    expects every flag true."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
    )
    return per_type.select(
        "event_type",
        "n_exact",
        (
            (F.abs(F.col("n_approx") - F.col("n_exact")) / F.col("n_exact")) <= 0.05
        ).cast("int").alias("approx_ok"),
    ).orderBy("event_type")


ORACLE_APPROX_GATE = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, 1 AS approx_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_ann_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) similarity search: every corpus vector within
    cosine ≥ 0.3 of each query vector (every 50th id). Exact and
    shuffle-free — broadcast queries, one corpus pass, no per-query
    window — the recall-oriented companion to `ann_cosine_topk`."""
    from ..operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = SIM.radius_search(emb, queries, min_cosine=0.3)
    return out.select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"))


ORACLE_ANN_RADIUS = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT query_id, vec_id,
         list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM q, c WHERE vec_id <> query_id
)
SELECT query_id, vec_id, round(CAST(cosine AS DOUBLE), 4) AS cosine
FROM s WHERE cosine >= 0.3
"""


def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h window, 30 min slide) with the
    reference's 40-minute watermark over a bounded streaming run
    (availableNow): each event lands in exactly two overlapping windows.
    The oracle derives both candidate window starts per event in SQL."""
    import os

    from .catalog import _FIXTURES, _tmp

    from pyspark.sql import types as T

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
    key = ("slidesrc", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("slidesrc")
        os.symlink(src_path, f"{root}/events.parquet")
        _FIXTURES[key] = root
    name = "stream_sliding_counts"
    stream = (
        normalize_ts(spark.readStream.schema(stream_schema).parquet(_FIXTURES[key]))
        .withWatermark("ts", "40 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
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
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_rows",
    )


ORACLE_STREAM_SLIDING = """
WITH cand AS (
  SELECT to_timestamp(floor(epoch(ts) / 1800) * 1800) AS ws FROM events
  UNION ALL
  SELECT to_timestamp(floor(epoch(ts) / 1800) * 1800) - INTERVAL 30 MINUTE FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_rows
FROM cand GROUP BY ws
"""


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with cross-batch state: day-1 events are
    written twice into separate files, streamed one file per trigger
    (duplicates arrive in *different* micro-batches), and
    dropDuplicates on the key must still collapse them — proving the
    dedup state store survives batch boundaries. Counts per type must
    equal the plain distinct batch aggregate."""
    import uuid

    from .catalog import _FIXTURES, _events_day1, _tmp

    key = ("dupstream", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("dupstream")
        day1 = _events_day1(spark, sf_dir)
        day1.coalesce(1).write.mode("overwrite").parquet(root)
        day1.coalesce(1).write.mode("append").parquet(root)
        _FIXTURES[key] = root
    from .catalog import EVENTS_SCHEMA

    name = f"sdw_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_FIXTURES[key])
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    return spark.table(name)


ORACLE_STREAM_DEDUP = """
SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00' GROUP BY event_type
"""


def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a long-lived landing table: generation 1 files
    carry (event_id, event_type), generation 2 adds a value column; a
    mergeSchema read unions the schemas and old rows surface NULL for
    the new column. This is the add-column lifecycle an hourly-partition
    table lives through (the reference's CREATE_NEVER stance pins the
    *write* schema; reads must still span generations)."""
    from .catalog import _FIXTURES, _events_day1, _tmp

    key = ("schevo", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("schevo")
        day1 = _events_day1(spark, sf_dir)
        gen1 = day1.filter(F.hour("ts") < 12).select("event_id", "event_type")
        gen2 = day1.filter(F.hour("ts") >= 12).select("event_id", "event_type", "value")
        gen1.write.mode("overwrite").parquet(f"{root}/gen=1")
        gen2.write.mode("overwrite").parquet(f"{root}/gen=2")
        _FIXTURES[key] = root
    df = spark.read.option("mergeSchema", "true").option("basePath", _FIXTURES[key]).parquet(
        _FIXTURES[key]
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").isNull().cast("long")).alias("n_legacy_rows"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("sum_value_new"),
        )
        .orderBy("event_type")
    )


ORACLE_SCHEMA_EVOLUTION = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy_rows,
       round(CAST(sum(CASE WHEN hour(ts) >= 12 THEN value ELSE 0 END) AS DOUBLE), 2) AS sum_value_new
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
GROUP BY event_type
ORDER BY event_type
"""


def q_monitor_alert_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting rule over the hourly error rollup: fire when an hour's
    error count is at least double the previous hour's (and non-trivial).
    The lag comparison is a window over the tiny aggregated frame — the
    monitoring pattern behind the reference's failed-job alert
    (README.md:66-93 of the reference) expressed in-engine instead of in
    a cloud logging product."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    from pyspark.sql import Window as W

    # Intentional unpartitioned window (the WindowExec warning in bench
    # logs is accepted): the frame is the HOURLY aggregate, bounded at
    # ~24·days rows regardless of table volume — 720 rows over the 30-day
    # test corpus, never O(events).
    w = W.orderBy("hour_start")
    flagged = hourly.select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "n_errors",
        F.lag("n_errors").over(w).alias("prev_errors"),
    )
    return flagged.filter(
        (F.col("prev_errors").isNotNull())
        & (F.col("n_errors") >= 2 * F.col("prev_errors"))
        & (F.col("n_errors") >= 5)
    )


ORACLE_ALERT_THRESHOLD = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n_errors
  FROM events WHERE event_type = 'error' GROUP BY 1
),
flagged AS (
  SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start, n_errors,
         lag(n_errors) OVER (ORDER BY h) AS prev_errors
  FROM hourly
)
SELECT hour_start, n_errors, prev_errors
FROM flagged
WHERE prev_errors IS NOT NULL AND n_errors >= 2 * prev_errors AND n_errors >= 5
"""


def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family in one window pass: rank,
    dense_rank, percent_rank, cume_dist over order totals per customer
    segment — one shuffle on the partition key, one sort, four functions
    evaluated in the same frame."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    from pyspark.sql import Window as W

    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


ORACLE_RANK_FAMILY = """
SELECT c_mktsegment, c_custkey, round(CAST(c_acctbal AS DOUBLE), 2) AS c_acctbal,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       round(CAST(percent_rank() OVER w AS DOUBLE), 4) AS pct_rank,
       round(CAST(cume_dist() OVER w AS DOUBLE), 4) AS cume
FROM customer
WHERE c_custkey < 100
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def q_partition_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention maintenance on the landing table: land four hours,
    vacuum everything older than hour 02, and report what remains per
    partition. Deletion is per-partition directory removal — metadata
    work proportional to the expired hours, never a table scan — which
    is what keeps retention O(expired) on a years-deep hourly table.
    (The reference keeps everything; retention is the missing lifecycle
    op an at-scale landing table needs.)"""
    from ..functions.columns import bq_partition_from_hive_cols
    from ..operators.sink import (
        create_partitioned_table,
        read_landing_table,
        vacuum_partitions,
        write_partition_overwrite,
    )
    from .catalog import _events_day1, _tmp

    table_root = _tmp("vacuum")
    create_partitioned_table(spark, table_root)
    four_hours = _events_day1(spark, sf_dir).filter(F.hour("ts") < 4)
    write_partition_overwrite(four_hours, table_root)
    dropped, kept = vacuum_partitions(spark, table_root, retain_from="2024010102")
    assert dropped == ["2024010100", "2024010101"], dropped  # invariant, not a test
    back = read_landing_table(spark, table_root, *kept)
    return (
        back.groupBy(bq_partition_from_hive_cols().alias("partition"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("partition")
    )


ORACLE_VACUUM = """
SELECT strftime(ts, '%Y%m%d%H') AS partition, CAST(count(*) AS BIGINT) AS n_rows
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 02:00:00' AND ts < TIMESTAMP '2024-01-01 04:00:00'
GROUP BY 1
ORDER BY 1
"""


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the events table in ONE aggregate pass:
    per-column null rates, numeric min/max/mean, and value cardinalities
    — the audit a pipeline runs after each load to catch schema drift
    and silent corruption. All measures fold into a single partial
    aggregate; the exchange moves one row."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("null_user_id"),
        F.sum(F.col("event_type").isNull().cast("long")).alias("null_event_type"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_value"),
        F.countDistinct("event_type").alias("card_event_type"),
        F.countDistinct("user_id").alias("card_user_id"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )


ORACLE_PROFILE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
       CAST(count(DISTINCT event_type) AS BIGINT) AS card_event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS card_user_id,
       round(CAST(min(value) AS DOUBLE), 4) AS min_value,
       round(CAST(max(value) AS DOUBLE), 4) AS max_value,
       round(CAST(avg(value) AS DOUBLE), 4) AS mean_value,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
FROM events
"""


def q_stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    dimension (nation, keyed by user_id % 25) inside the streaming plan -
    Spark re-resolves the static side per micro-batch, the canonical
    enrichment shape for a landing pipeline that tags rows with dimension
    attributes on the way in."""
    import uuid

    from .catalog import _FIXTURES, _events_day1, _tmp, EVENTS_SCHEMA

    key = ("streamenrich", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("streamenrich")
        _events_day1(spark, sf_dir).coalesce(4).write.mode("overwrite").parquet(root)
        _FIXTURES[key] = root
    nation = load_table(spark, sf_dir, "nation")
    name = f"sjs_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(_FIXTURES[key])
        .withColumn("nkey", (F.col("user_id") % 25).cast("int"))
        .join(F.broadcast(nation), F.col("nkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    return spark.table(name)


ORACLE_STREAM_JOIN_STATIC = """
SELECT n_name, CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events JOIN nation ON CAST(user_id % 25 AS INTEGER) = n_nationkey
WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
GROUP BY n_name
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (click→purchase attribution): two
    watermarked event streams join on user with a 30-minute event-time
    band — the canonical funnel/attribution shape, and the one §2.7
    stateful form the static-join query can't express. The physical plan
    is a StreamingSymmetricHashJoin: both sides buffer in keyed state,
    matches emit as they meet, watermarks bound state retention. The
    bounded availableNow run processes the backlog in one batch, so the
    join's output is the complete deterministic match set and a plain
    SQL interval self-join is an exact oracle (watermarks then only
    govern state cleanup, never row drops)."""
    import uuid

    from .catalog import _FIXTURES, _tmp, EVENTS_SCHEMA

    key = ("streamss", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("streamss")
        load_table(spark, sf_dir, "events").coalesce(4).write.mode("overwrite").parquet(root)
        _FIXTURES[key] = root

    def _side(event_type: str, prefix: str):
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(_FIXTURES[key])
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "40 minutes")
        )

    joined = (
        _side("click", "click")
        .join(
            _side("purchase", "buy"),
            (F.col("click_user_id") == F.col("buy_user_id"))
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
            "inner",
        )
        .select("click_event_id", "buy_event_id", F.col("click_user_id").alias("user_id"))
    )
    name = f"sss_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    return spark.table(name)


ORACLE_STREAM_STREAM_JOIN = """
SELECT a.event_id AS click_event_id, b.event_id AS buy_event_id, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
"""


def q_stream_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming (Spark 4 multiple-stateful-operator
    support): a windowed aggregation DOWNSTREAM of a stream-stream
    interval join in one continuous plan — hourly attribution counts,
    the funnel-dashboard shape that previously required two jobs with an
    intermediate sink. Two stateful operators share the pipeline
    (SymmetricHashJoin state + window aggregation state) with watermark
    propagation between them. In append output mode only CLOSED windows
    emit: a window [start, start+1h) is flushed once the final watermark
    — least(max click ts, max purchase ts) - 40 min, the min across both
    watermarked inputs — reaches its end. The last partial hour of data
    therefore never emits under availableNow, and the batch oracle
    applies the same window_end <= watermark predicate."""
    import uuid

    from .catalog import _FIXTURES, _tmp, EVENTS_SCHEMA

    key = ("streamss", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("streamss")
        load_table(spark, sf_dir, "events").coalesce(4).write.mode("overwrite").parquet(root)
        _FIXTURES[key] = root

    def _side(event_type: str, prefix: str):
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(_FIXTURES[key])
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "40 minutes")
        )

    agg = (
        _side("click", "click")
        .join(
            _side("purchase", "buy"),
            (F.col("click_user_id") == F.col("buy_user_id"))
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
            "inner",
        )
        .groupBy(F.window("click_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
    )
    name = f"scs_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    return spark.table(name).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_attributed",
    )


ORACLE_STREAM_CHAINED = """
WITH wm AS (
  SELECT least(max(ts) FILTER (WHERE event_type = 'click'),
               max(ts) FILTER (WHERE event_type = 'purchase'))
         - INTERVAL 40 MINUTE AS w
  FROM events
)
SELECT strftime(date_trunc('hour', a.ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_attributed
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
CROSS JOIN wm
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
  AND date_trunc('hour', a.ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1
"""


def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric histogram of order totals: fixed-width bins via floor
    division - the one-pass distribution profile behind a dashboard
    histogram. Bin id is a narrow expression; one shuffle on the bin
    key."""
    orders = load_table(spark, sf_dir, "orders")
    bin_width = 50_000
    return (
        orders.groupBy(
            (F.floor(F.col("o_totalprice") / bin_width) * bin_width)
            .cast("long")
            .alias("bin_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("bin_lo")
    )


ORACLE_HISTOGRAM = """
SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(avg(o_totalprice) AS DOUBLE), 2) AS avg_price
FROM orders
GROUP BY 1
ORDER BY 1
"""


def q_udf_pandas_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate Pandas UDF (the SQL-inexpressible-in-one-builtin
    aggregate shape): geometric mean of event values per type, computed
    vectorized over Arrow batches. This is the engine's pandas_udf
    surface (SURVEY §2.8) — use it only when no builtin composes; the
    oracle uses the exp(avg(ln)) identity to verify the result."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: the module uses `from __future__ import
    # annotations`, which stringifies type hints and defeats pandas_udf
    # signature inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        return float(np.exp(np.log(v.to_numpy()).mean()))

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    return (
        ev.groupBy("event_type")
        .agg(F.round(geomean("value"), 4).alias("geo_mean"))
        .orderBy("event_type")
    )


ORACLE_GEOMEAN = """
SELECT event_type, round(CAST(exp(avg(ln(value))) AS DOUBLE), 4) AS geo_mean
FROM events WHERE value > 0
GROUP BY event_type
ORDER BY event_type
"""


def q_approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles bounded by exact ones: per event type, the
    Greenwald-Khanna approx median (accuracy 1/1000) must land within
    1% of the exact percentile. Same stance as the distinct-count gate:
    at scale you run the sketch; the gate keeps its error observable."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("exact_p50"),
        F.percentile_approx("value", F.lit(0.5), F.lit(1000)).alias("approx_p50"),
    )
    return per_type.select(
        "event_type",
        F.round("exact_p50", 4).alias("exact_p50"),
        (
            (F.abs(F.col("approx_p50") - F.col("exact_p50"))
             / F.greatest(F.col("exact_p50"), F.lit(1e-9))) <= 0.01
        ).cast("int").alias("approx_ok"),
    ).orderBy("event_type")


ORACLE_QUANTILE_GATE = """
SELECT event_type,
       round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS exact_p50,
       1 AS approx_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 custom Python data source: register the deterministic
    synthetic-events source (sources/pydatasource.py) and read it like a
    native format. The reader declares its own input partitions, so the
    generate runs executor-parallel — the modern extension point for
    sources Spark lacks a reader for."""
    from ..sources.pydatasource import SyntheticEventsDataSource

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass  # idempotent re-register within a session
    df = (
        spark.read.format("synthetic_events")
        .option("rows", "1000")
        .option("numPartitions", "8")
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("score"), 4).alias("sum_score"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


ORACLE_PY_DATASOURCE = """
WITH g AS (
  SELECT i AS id,
         CAST((i * 2654435761) % 10 AS INT) AS bucket,
         ((i * 2654435761) % 1000) / 1000.0 AS score
  FROM unnest(generate_series(0, 999)) AS t(i)
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(score) AS DOUBLE), 4) AS sum_score,
       min(id) AS min_id, max(id) AS max_id
FROM g GROUP BY bucket
"""


def q_udf_cogroup_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (the two-sided Arrow surface, SURVEY
    §2.8): events cogrouped per user with a per-user threshold frame;
    the pandas kernel counts each user's above-threshold events. The
    cogroup aligns both sides on the grouping key in one co-partitioned
    shuffle — the shape for custom two-table per-key logic (asof merges,
    interval matching) that no single builtin expresses."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    thresholds = (
        ev.select("user_id")
        .distinct()
        .withColumn("threshold", (F.col("user_id") % 5) * 100.0 + 50.0)
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        uid = int(left["user_id"].iloc[0] if len(left) else right["user_id"].iloc[0])
        thr = float(right["threshold"].iloc[0]) if len(right) else float("inf")
        return pd.DataFrame(
            {
                "user_id": [uid],
                "threshold": [thr],
                "n_events": [len(left)],
                "n_above": [int((left["value"] > thr).sum()) if len(left) else 0],
            }
        )

    out = (
        ev.groupBy("user_id")
        .cogroup(thresholds.groupBy("user_id"))
        .applyInPandas(merge, "user_id long, threshold double, n_events long, n_above long")
    )
    return out


ORACLE_COGROUP = """
SELECT user_id,
       CAST((user_id % 5) * 100.0 + 50.0 AS DOUBLE) AS threshold,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN value > (user_id % 5) * 100.0 + 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM events
GROUP BY user_id
"""




def q_approx_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch set algebra (Spark's native Apache DataSketches
    HLL: hll_sketch_agg / hll_union_agg / hll_sketch_estimate): distinct
    click users, distinct purchase users, their UNION estimated by
    merging the two sketches (never re-scanning the raw data — the
    property that lets per-partition/per-day sketches roll up at 100 TB),
    and their INTERSECTION by inclusion-exclusion. Gated by the exact
    counts like approx_distinct_gate: the oracle checks exact values and
    expects every gate flag true (union within 5%; intersection within
    10% — inclusion-exclusion adds the absolute errors of three
    estimates)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "event_type"
    )
    # ONE events pass (was three: per-type sketches, exact union, exact
    # intersection — replan_audit: events x3, guide §2.4): roll up to
    # per-user click/purchase flags with one map-side-combined shuffle,
    # then every figure is an aggregate of that user-sized frame. The
    # sketches are built over DISTINCT users per type, which cannot
    # change an HLL estimate (registers are max-of-hashes — duplicate
    # updates are idempotent), and both sketches keep lgConfigK=14; the
    # exact counts are plain flag sums (same values as the
    # countDistincts they replace).
    per_user = base.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
    )
    merged = per_user.agg(
        F.sum("c").alias("n_click"),
        F.sum("p").alias("n_purchase"),
        F.hll_sketch_estimate(
            F.hll_union(
                F.hll_sketch_agg(
                    F.when(F.col("c") == 1, F.col("user_id")), F.lit(14)
                ),
                F.hll_sketch_agg(
                    F.when(F.col("p") == 1, F.col("user_id")), F.lit(14)
                ),
            )
        ).alias("n_union_approx"),
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.col("c") * F.col("p")).alias("n_inter"),
    )
    out = merged
    inter_approx = F.col("n_click") + F.col("n_purchase") - F.col("n_union_approx")
    return out.select(
        F.col("n_click").cast("long").alias("n_click"),
        F.col("n_purchase").cast("long").alias("n_purchase"),
        F.col("n_union").cast("long").alias("n_union"),
        F.col("n_inter").cast("long").alias("n_inter"),
        (
            (F.abs(F.col("n_union_approx") - F.col("n_union")) / F.col("n_union"))
            <= 0.05
        ).cast("int").alias("union_ok"),
        ((F.abs(inter_approx - F.col("n_inter")) / F.col("n_inter")) <= 0.10)
        .cast("int")
        .alias("inter_ok"),
    )


ORACLE_HLL_SET_OPS = """
WITH base AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE event_type IN ('click', 'purchase')
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_click FROM base WHERE event_type = 'click'
), b AS (
  SELECT CAST(count(*) AS BIGINT) AS n_purchase FROM base WHERE event_type = 'purchase'
), u AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_union FROM base
), i AS (
  SELECT CAST(count(*) AS BIGINT) AS n_inter
  FROM (SELECT user_id FROM base GROUP BY user_id HAVING count(DISTINCT event_type) = 2)
)
SELECT a.n_click, b.n_purchase, u.n_union, i.n_inter,
       1 AS union_ok, 1 AS inter_ok
FROM a, b, u, i
"""


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) WITHOUT a window: the
    min(struct(-n, value)) argmax trick — count per (group, value),
    then one more map-side-combined aggregate picks the highest count
    with a lexicographic tie-break. At scale this beats the
    row_number()-over-window formulation: two hash aggregates on the
    same key, no per-group sort, no window state. The oracle IS the
    window formulation, proving the algebraic rewrite exact."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    picked = counts.groupBy("user_id").agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("event_type"))).alias("__m")
    )
    return picked.select(
        "user_id",
        F.col("__m.event_type").alias("mode_type"),
        (-F.col("__m.neg_n")).alias("n_mode"),
    )


ORACLE_AGG_MODE = """
SELECT user_id, event_type AS mode_type, n AS n_mode FROM (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rn
  FROM (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2)
) WHERE rn = 1
"""


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures —
    the feature-drift / multicollinearity audit. ALL pairs ride ONE
    aggregation (each corr() is a distributive moment aggregate, so the
    whole matrix is a single map-side-combined pass collapsing to one
    row), then stack() melts it to long (col_a, col_b, corr) — no
    per-pair scans, no driver loops."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]
    wide = li.agg(
        *[
            F.round(F.corr(a, b), 6).alias(f"__c{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stack = ", ".join(
        f"'{a}', '{b}', __c{i}" for i, (a, b) in enumerate(pairs)
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack}) as (col_a, col_b, corr)"
    ).orderBy("col_a", "col_b")


ORACLE_CORRELATION = """
SELECT col_a, col_b, corr FROM (
  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
         round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
  UNION ALL
  SELECT 'l_quantity', 'l_discount',
         round(corr(l_quantity, l_discount), 6) FROM lineitem
  UNION ALL
  SELECT 'l_quantity', 'l_tax',
         round(corr(l_quantity, l_tax), 6) FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', 'l_discount',
         round(corr(l_extendedprice, l_discount), 6) FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', 'l_tax',
         round(corr(l_extendedprice, l_tax), 6) FROM lineitem
  UNION ALL
  SELECT 'l_discount', 'l_tax',
         round(corr(l_discount, l_tax), 6) FROM lineitem
)
ORDER BY col_a, col_b
"""


def q_ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) of the event value per user-day:
    each reading holds until the next one, so its weight is the seconds
    to the user's next event that day (the last reading holds to
    midnight) — the correct average for irregularly-sampled state, vs
    the naive mean that over-weights bursts. One (user, day)-keyed
    window for lead(), one aggregation — then a day-level rollup so the
    output is calendar-sized."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    w = W.partitionBy("user_id", day.alias("d")).orderBy("ts", "event_id")
    nxt = F.lead(F.col("ts").cast("double")).over(w)
    day_end = (F.date_add(day, 1).cast("timestamp")).cast("double")
    weight = F.coalesce(nxt, day_end) - F.col("ts").cast("double")
    per_user_day = (
        ev.select(
            "user_id", day.alias("day"), "ts", "event_id", "value",
            weight.alias("w"),
        )
        .groupBy("user_id", "day")
        .agg((F.sum(F.col("value") * F.col("w")) / F.sum("w")).alias("twap"))
    )
    return (
        per_user_day.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("twap"), 4).alias("avg_twap"),
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "n_users", "avg_twap")
        .orderBy("day")
    )


ORACLE_TWAP = """
WITH weighted AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value,
         coalesce(
           epoch(lead(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id)),
           epoch(CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP))
         ) - epoch(ts) AS w
  FROM events
),
per AS (
  SELECT user_id, day, sum(value * w) / sum(w) AS twap
  FROM weighted GROUP BY user_id, day
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_users,
       round(avg(twap), 4) AS avg_twap
FROM per GROUP BY day ORDER BY day
"""


def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps (the
    ClickHouse/Druid groupBitmap pattern): users bucket into 32-bit
    chunks (32-wide so the shift never overflows a signed 64-bit lane
    in ANY engine — 1<<63 is UB/raise territory), per-(day, chunk)
    bit_or collapses map-side, and popcount sums give the per-day
    distinct. Unlike countDistinct, the per-day chunk bitmaps COMPOSE:
    the month row is a second bit_or over the already-tiny day chunks —
    distinct-over-any-period without ever rescanning raw events, which
    is the 100 TB rollup property HLL gives approximately and this
    gives exactly (for dense integer key spaces). Both levels checked
    against plain countDistinct in the same output."""
    ev = load_table(spark, sf_dir, "events")
    # ONE events pass (was three: the bitmap build, the per-day exact
    # countDistinct, the month exact countDistinct — replan_audit:
    # events x3, guide §2.4): distinct (day, user) pairs are the shared
    # sufficient statistic for BOTH sides of the audit — the bitmap side
    # because bit_or is duplicate-insensitive (the chunk bitmap over
    # distinct users per day IS the chunk bitmap over raw events), and
    # the exact side because countDistinct(user) per day is count(*)
    # over the distinct pairs (and the month exact is countDistinct over
    # them). The persisted pair frame is bounded at days x users rows.
    pairs = _scoped_persist(
        ev.select(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
        ).distinct(),
        "analytics_extra.bitmap_day_users",
    )
    day_chunks = pairs.select(
        "day",
        (F.col("user_id") / 32).cast("long").alias("chunk"),
        F.expr("shiftleft(1L, cast(user_id % 32 as int))").alias("bit"),
    ).groupBy("day", "chunk").agg(F.expr("bit_or(bit)").alias("bits"))
    day_chunks = _scoped_persist(day_chunks, "analytics_extra.bitmap_day_chunks")
    per_day = day_chunks.groupBy("day").agg(
        F.sum(F.bit_count("bits")).alias("n_bitmap")
    )
    exact_day = pairs.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    days = (
        per_day.join(exact_day, "day")
        .select(
            "day",
            "n_bitmap",
            "n_exact",
            (F.col("n_bitmap") == F.col("n_exact")).cast("int").alias("agree"),
        )
    )
    # compose: month distinct = bit_or over the day chunks, NOT a rescan
    month = (
        day_chunks.groupBy("chunk")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .agg(F.sum(F.bit_count("bits")).alias("n_bitmap"))
        .crossJoin(
            F.broadcast(
                pairs.agg(F.countDistinct("user_id").alias("n_exact"))
            )
        )
        .select(
            F.lit("ALL").alias("day"),
            "n_bitmap",
            "n_exact",
            (F.col("n_bitmap") == F.col("n_exact")).cast("int").alias("agree"),
        )
    )
    out = days.unionByName(month).orderBy("day")
    return out


ORACLE_BITMAP_DISTINCT = """
WITH base AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         user_id // 32 AS chunk,
         CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT) AS bit,
         user_id
  FROM events
),
day_chunks AS (
  SELECT day, chunk, bit_or(bit) AS bits FROM base GROUP BY day, chunk
),
per_day AS (
  SELECT day, CAST(sum(bit_count(bits)) AS BIGINT) AS n_bitmap
  FROM day_chunks GROUP BY day
),
exact_day AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
),
days AS (
  SELECT p.day, p.n_bitmap, e.n_exact,
         CASE WHEN p.n_bitmap = e.n_exact THEN 1 ELSE 0 END AS agree
  FROM per_day p JOIN exact_day e USING (day)
),
month AS (
  SELECT 'ALL' AS day,
         CAST((SELECT sum(bit_count(bits)) FROM
                (SELECT chunk, bit_or(bits) AS bits
                 FROM day_chunks GROUP BY chunk)) AS BIGINT) AS n_bitmap,
         CAST((SELECT count(DISTINCT user_id) FROM events) AS BIGINT)
           AS n_exact,
         CASE WHEN (SELECT sum(bit_count(bits)) FROM
                     (SELECT chunk, bit_or(bits) AS bits
                      FROM day_chunks GROUP BY chunk))
                   = (SELECT count(DISTINCT user_id) FROM events)
              THEN 1 ELSE 0 END AS agree
)
SELECT day, n_bitmap, n_exact, agree FROM days
UNION ALL SELECT day, n_bitmap, n_exact, agree FROM month
ORDER BY day
"""


def _sliding_bitmap_counts(ev: DataFrame) -> DataFrame:
    """Trailing-24h distinct actives per observed hour via bucket
    decomposition: raw events collapse map-side to per-(hour, chunk)
    bitmaps (metadata-sized — users/32 longs per hour), each bitmap row
    explodes to the ≤24 target hours it covers, and a second bit_or per
    (target hour, chunk) merges the window. No window-function state
    over the corpus, no re-scan of raw events per window position — the
    shuffle carries hours × 24 × chunks bitmap rows, bounded by the
    calendar and the key space, never by event count. Returns
    (t_hr, n_active)."""
    base = ev.select(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("hr"),
        (F.col("user_id") / 32).cast("long").alias("chunk"),
        F.expr("shiftleft(1L, cast(user_id % 32 as int))").alias("bit"),
    )
    hour_chunks = base.groupBy("hr", "chunk").agg(F.expr("bit_or(bit)").alias("bits"))
    # observed hours come from the ALREADY-AGGREGATED side (every
    # observed hour keeps >=1 chunk row). The anchor branch does
    # re-derive the scan + bitmap aggregation — a MEASURED decision
    # (r18): persisting hour_chunks here cost more than it saved
    # (bench 0.81 -> 1.12/1.15 s across two runs) because the map-side
    # bit_or is cheap and the two narrow branches overlap across cores,
    # while the cache fill serializes them — unlike the sliding-quantile
    # twin, whose per-branch sort+rank window is expensive enough that
    # the same persist wins 2x there.
    observed = hour_chunks.select("hr").distinct()
    contrib = hour_chunks.select(
        F.explode(F.sequence(F.col("hr"), F.col("hr") + F.lit(23))).alias("t_hr"),
        "chunk",
        "bits",
    )
    return (
        contrib.join(
            F.broadcast(observed.withColumnRenamed("hr", "t_hr")), "t_hr"
        )  # windows anchor at OBSERVED hours only
        .groupBy("t_hr", "chunk")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .groupBy("t_hr")
        .agg(F.sum(F.bit_count("bits")).alias("n_active"))
    )


def q_window_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct actives per observed hour — the SLIDING
    form of agg_bitmap_distinct, bitmap side only: this is the
    PRODUCTION readout whose benched cost is what the operator costs at
    scale (the batch twin of read_sliding_distinct's store-composed
    form). The exact-count cross-check lives in the separate
    `window_sliding_distinct_gate` key — keeping it here made the
    benched number measure ~33× the production shuffle (exploded
    distinct (hour, user) pairs ×24 dwarf the bitmap rows). The oracle
    computes the exact trailing countDistinct from raw events, which
    the bitmaps must equal value-for-value (bitmap union is exact)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        _sliding_bitmap_counts(ev)
        .select(
            F.date_format(
                F.timestamp_seconds(F.col("t_hr") * 3600), "yyyy-MM-dd HH"
            ).alias("hour"),
            "n_active",
        )
        .orderBy("hour")
    )


def q_window_sliding_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying form of `window_sliding_distinct` (the
    agg_bitmap_distinct convention): the bitmap readout rides next to
    an exact countDistinct over the same trailing decomposition and an
    agree flag the oracle expects to be all-1. Deliberately ~33× the
    production shuffle (the exact side explodes distinct (hour, user)
    pairs ×24) — this key is the correctness gate; quote/bench the
    production `window_sliding_distinct` for cost."""
    ev = load_table(spark, sf_dir, "events")
    bm = _sliding_bitmap_counts(ev).withColumnRenamed("n_active", "n_bitmap")
    base = ev.select(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("hr"),
        "user_id",
    )
    exact_pairs = base.select("hr", "user_id").distinct()
    observed = base.select("hr").distinct()
    ex = (
        exact_pairs.select(
            F.explode(F.sequence(F.col("hr"), F.col("hr") + F.lit(23))).alias("t_hr"),
            "user_id",
        )
        .join(F.broadcast(observed.withColumnRenamed("hr", "t_hr")), "t_hr")
        .groupBy("t_hr")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        bm.join(ex, "t_hr")
        .select(
            F.date_format(
                F.timestamp_seconds(F.col("t_hr") * 3600), "yyyy-MM-dd HH"
            ).alias("hour"),
            "n_bitmap",
            "n_exact",
            (F.col("n_bitmap") == F.col("n_exact")).cast("int").alias("agree"),
        )
        .orderBy("hour")
    )


def q_window_sliding_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h value quantiles per observed hour from a MERGEABLE
    per-hour KMV (k-minimum-values) sample — the sliding-window
    companion of approx_quantile_hashmin and window_sliding_distinct:
    raw events are touched ONCE to take each hour's k rows with the
    smallest md5(event_id) (deterministic, zero RNG state — re-runs and
    other engines pick identical rows), then the trailing merge unions
    only hours × 24 × k sample rows and re-takes the k smallest hashes
    per anchor (the KMV merge IS min-of-mins, so the merged sample
    equals the sample a direct pass over the full 24 h of raw events
    would have taken). Estimator is the DISC form — sorted sample value
    at rank max(1, ceil(q·k)) — pure integer indexing, bit-identical in
    any engine. Every collect_list is bounded by k=64 by construction
    (never by event count). Returns (hour, n_sample, p50, p90)."""
    from pyspark.sql import Window as W

    k = 64
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(
        F.col("event_id").isNotNull() & F.col("value").isNotNull()
    ).select(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("hr"),
        F.md5(F.col("event_id").cast("string")).alias("h"),
        F.col("value").alias("v"),
    )
    w_h = W.partitionBy("hr").orderBy("h", "v")
    # persisted: BOTH consumers (the 24h trailing explode and the
    # observed-hours anchor set) otherwise re-derive the hourly window
    # — two full event scans + two rank windows for one hours×k sample.
    # The sample is bounded by hours×k rows by construction, so the
    # cache is metadata-sized at any corpus scale.
    hourly = _scoped_persist(
        base.withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") <= k)
        .drop("rn"),
        "analytics_extra.sliding_quantile.hourly",
    )
    # every observed hour retains >=1 sampled row (rn=1 survives any
    # k>=1), so the anchor set derives from the ALREADY-SAMPLED side —
    # bounded by hours x k — instead of re-deriving base's full event
    # scan a second time
    observed = hourly.select("hr").distinct()
    contrib = hourly.select(
        F.explode(F.sequence(F.col("hr"), F.col("hr") + F.lit(23))).alias("t_hr"),
        "h",
        "v",
    )
    win = contrib.join(F.broadcast(observed.withColumnRenamed("hr", "t_hr")), "t_hr")
    w_t = W.partitionBy("t_hr").orderBy("h", "v")
    merged = win.withColumn("rn", F.row_number().over(w_t)).filter(F.col("rn") <= k)
    arrs = merged.groupBy("t_hr").agg(F.sort_array(F.collect_list("v")).alias("vs"))
    n = F.size("vs")

    def est(q: float):
        idx = F.greatest(F.ceil(F.lit(q) * n).cast("int"), F.lit(1))
        return F.when(n > 0, F.element_at("vs", idx))

    return (
        arrs.select(
            F.date_format(
                F.timestamp_seconds(F.col("t_hr") * 3600), "yyyy-MM-dd HH"
            ).alias("hour"),
            n.alias("n_sample"),
            est(0.5).alias("p50"),
            est(0.9).alias("p90"),
        )
        .orderBy("hour")
    )


# CAST(q AS DOUBLE) in the rank arithmetic: DuckDB's bare 0.9 is
# DECIMAL and 0.9*40 = 36 exactly in decimal while double gives
# 36.0000000000000057 -> ceil 37 — the engines must share the BINARY
# representation for the DISC rank to agree (same gotcha as the
# sample-fraction oracles).
ORACLE_SLIDING_QUANTILE = """
WITH base AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
         md5(CAST(event_id AS VARCHAR)) AS h,
         value AS v
  FROM events
  WHERE event_id IS NOT NULL AND value IS NOT NULL
),
hourly AS (
  SELECT hr, h, v FROM (
    SELECT *, row_number() OVER (PARTITION BY hr ORDER BY h, v) AS rn FROM base
  ) WHERE rn <= 64
),
observed AS (SELECT DISTINCT hr FROM base),
contrib AS (
  SELECT hr + t.i AS t_hr, h, v FROM hourly, range(0, 24) AS t(i)
),
win AS (
  SELECT c.t_hr, c.h, c.v FROM contrib c JOIN observed o ON o.hr = c.t_hr
),
merged AS (
  SELECT t_hr, h, v FROM (
    SELECT *, row_number() OVER (PARTITION BY t_hr ORDER BY h, v) AS rn FROM win
  ) WHERE rn <= 64
),
arrs AS (
  SELECT t_hr, list_sort(list(v)) AS vs FROM merged GROUP BY t_hr
)
SELECT strftime(make_timestamp(t_hr * 3600 * 1000000), '%Y-%m-%d %H') AS hour,
       CAST(len(vs) AS INT) AS n_sample,
       vs[greatest(CAST(ceil(CAST(0.5 AS DOUBLE) * len(vs)) AS INT), 1)] AS p50,
       vs[greatest(CAST(ceil(CAST(0.9 AS DOUBLE) * len(vs)) AS INT), 1)] AS p90
FROM arrs
ORDER BY hour
"""


ORACLE_SLIDING_DISTINCT = """
WITH hc AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
         user_id // 32 AS chunk,
         CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT) AS bit,
         user_id
  FROM events
),
hour_chunks AS (
  SELECT hr, chunk, bit_or(bit) AS bits FROM hc GROUP BY hr, chunk
),
observed AS (SELECT DISTINCT hr FROM hc),
contrib AS (
  SELECT hr + t.i AS t_hr, chunk, bits
  FROM hour_chunks, range(0, 24) AS t(i)
),
win_chunks AS (
  SELECT c.t_hr, c.chunk, bit_or(c.bits) AS bits
  FROM contrib c JOIN observed o ON o.hr = c.t_hr
  GROUP BY c.t_hr, c.chunk
),
bm AS (
  SELECT t_hr, CAST(sum(bit_count(bits)) AS BIGINT) AS n_bitmap
  FROM win_chunks GROUP BY t_hr
),
exact_pairs AS (SELECT DISTINCT hr, user_id FROM hc),
ex_contrib AS (
  SELECT hr + t.i AS t_hr, user_id
  FROM exact_pairs, range(0, 24) AS t(i)
),
ex AS (
  SELECT c.t_hr, CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_exact
  FROM ex_contrib c JOIN observed o ON o.hr = c.t_hr
  GROUP BY c.t_hr
)
SELECT strftime(make_timestamp(bm.t_hr * 3600 * 1000000), '%Y-%m-%d %H') AS hour,
       bm.n_bitmap, ex.n_exact,
       CASE WHEN bm.n_bitmap = ex.n_exact THEN 1 ELSE 0 END AS agree
FROM bm JOIN ex ON ex.t_hr = bm.t_hr
ORDER BY hour
"""


def q_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_bitmap_distinct
    (streaming/bitmap_distinct.py): the full events table replayed as a
    6-file backlog; each micro-batch merges its (day, chunk) bitmaps
    into a day-partitioned store via partition-pruned read +
    dynamic-partition overwrite of the touched days only — per-batch
    cost O(batch + touched days), never O(history), and retries cannot
    inflate counts because bitmap union is idempotent. Final state must
    equal the one-shot batch bitmaps — SAME oracle."""
    import tempfile

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.bitmap_distinct import (
        read_distinct_counts,
        stream_bitmap_distinct,
    )

    ev = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="sg_bmsrc_")
    ev.repartition(6).write.mode("overwrite").parquet(src)
    store = tempfile.mkdtemp(prefix="sg_bmstore_")
    q = stream_bitmap_distinct(
        spark, src, store, ev.schema,
        checkpoint=tempfile.mkdtemp(prefix="sg_bmckpt_"),
    )
    drain_stream(q)
    counts = read_distinct_counts(spark, store)
    exact_day = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.countDistinct("user_id").alias("n_exact"))
    exact_all = ev.agg(F.countDistinct("user_id").alias("n_exact")).select(
        F.lit("ALL").alias("day"), "n_exact"
    )
    exact = exact_day.unionByName(exact_all)
    return (
        counts.join(exact, "day")
        .select(
            "day",
            "n_bitmap",
            "n_exact",
            (F.col("n_bitmap") == F.col("n_exact")).cast("int").alias("agree"),
        )
        .orderBy("day")
    )


def q_approx_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count estimation per event type —
    the estimator face of the same deterministic hash-min sample the
    quantile sketch and the sliding-quantile window reuse: hash every
    DISTINCT (type, user) with md5 (zero RNG state — any engine, any
    retry, same sketch), keep each type's k smallest hashes, and
    estimate n̂ = (k-1) / θ where θ = h_k / 2^60 is the k-th minimum's
    position in the hash space; a group with fewer than k distinct
    members keeps all its hashes and reports the EXACT count. The
    mergeable-sketch alternative to exact bitmaps when the key space is
    sparse/non-integer (HLL's niche) but with a value-reproducible
    estimator an external oracle replays bit-for-bit. Exact
    countDistinct rides in the output for the error to be visible.

    Scale shape: the distinct() collapses map-side; the per-type top-k
    is one window over (type, hash) rows; everything downstream is
    k-bounded metadata. Returns (event_type, n_exact, n_est)."""
    from pyspark.sql import Window as W

    k = 32
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.filter(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    hashed = du.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
    )
    w = W.partitionBy("event_type").orderBy("h")
    topk = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    per_type = topk.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    exact = du.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    n_est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(1152921504606846976.0) / F.col("hk").cast("double")
    )
    return (
        per_type.join(exact, "event_type")
        .select("event_type", "n_exact", F.round(n_est, 4).alias("n_est"))
        .orderBy("event_type")
    )


ORACLE_KMV_DISTINCT = """
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
),
hashed AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM du
),
topk AS (
  SELECT event_type, h, rn FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= 32
),
per_type AS (
  SELECT event_type,
         max(CASE WHEN rn = 32 THEN h END) AS hk,
         count(*) AS n_kept
  FROM topk GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM du GROUP BY event_type
)
SELECT p.event_type, e.n_exact,
       round(CASE WHEN p.n_kept < 32 THEN CAST(p.n_kept AS DOUBLE)
                  ELSE CAST(31 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                       / CAST(p.hk AS DOUBLE)
             END, 4) AS n_est
FROM per_type p JOIN exact e USING (event_type)
ORDER BY event_type
"""


def q_stream_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of window_sliding_distinct
    (streaming/bitmap_distinct.py at hour grain): the events table
    replayed as a 6-file backlog maintains an HOUR-partitioned bitmap
    store — per micro-batch cost O(batch + touched hours), retries
    cannot inflate (bitmap union is idempotent) — and the trailing-24h
    readout (read_sliding_distinct) composes every window position from
    the STORE alone, never rescanning raw events. Must equal the exact
    trailing-window countDistinct the oracle computes from raw events —
    stream/batch equivalence for the sliding family."""
    import tempfile

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.bitmap_distinct import (
        read_sliding_distinct,
        stream_bitmap_distinct,
    )

    ev = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="sg_slsrc_")
    # range-split the replay on ts: a real backlog arrives in rough
    # time order, so each micro-batch touches a contiguous slice of
    # hours — the locality the O(batch + touched hours) contract
    # assumes (a random split would make every batch rewrite all ~720
    # hour partitions, a worst case no live pipeline exhibits)
    ev.repartitionByRange(6, "ts").write.mode("overwrite").parquet(src)
    store = tempfile.mkdtemp(prefix="sg_slstore_")
    q = stream_bitmap_distinct(
        spark, src, store, ev.schema,
        checkpoint=tempfile.mkdtemp(prefix="sg_slckpt_"),
        grain="hour",
    )
    # a silent timeout would read a PARTIAL store and fail the oracle
    # as a confusing value mismatch (or race the still-running sink)
    drain_stream(q, what="bitmap stream")
    return read_sliding_distinct(spark, store, window_hours=24)


ORACLE_STREAM_SLIDING_DISTINCT = """
WITH hc AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
         user_id
  FROM events
),
observed AS (SELECT DISTINCT hr FROM hc),
pairs AS (SELECT DISTINCT hr, user_id FROM hc),
contrib AS (
  SELECT hr + t.i AS t_hr, user_id FROM pairs, range(0, 24) AS t(i)
)
SELECT strftime(make_timestamp(c.t_hr * 3600 * 1000000), '%Y-%m-%d %H') AS hour,
       CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_active
FROM contrib c JOIN observed o ON o.hr = c.t_hr
GROUP BY c.t_hr
ORDER BY hour
"""


def q_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality gate for the approximate-ANN family: recall@10
    of each approximate method against exact cosine top-10, measured
    in-output (the approx_distinct_gate pattern) over 20 probe queries.
    Every other ANN key proves REPRODUCIBILITY (seeded quantizers,
    value-exact oracles); this one measures whether the approximation
    retrieves the RIGHT neighbors — the first question a user tuning
    nlist/nprobe/shortlist on a 100 TB index asks.

    Methods gated at their catalog parameterizations, floors from the
    measured curve on this corpus (documented, with margin):

    - ``int8_shortlist20`` (int8_topk k=20, the ann_int8_rescore stage-1
      shortlist): integer-GEMM quantization error ~never evicts a true
      top-10 neighbor from a 2x shortlist — floor 0.95 (measured 1.0).
    - ``ivf_nlist8_nprobe3`` (ann_ivf_topk's quantizer): probing 3/8
      seed cells keeps ~0.7 of true neighbors on this near-uniform
      synthetic corpus — floor 0.60 (measured 0.70-0.72).
    - ``lsh_planes6_multiprobe6`` (ann_multiprobe_oracle's form): own
      bucket + 6 single-bit flips — floor 0.20 (measured 0.30-0.31).
    - ``lsh_planes6_bucket`` (ann_lsh_topk's single-bucket form): floor
      0.02 (measured 0.065-0.075) — deliberately documented as a
      CANDIDATE GENERATOR, not a retrieval surface: hyperplane LSH
      needs correlated/clustered vectors to concentrate neighbors, and
      this corpus is near-uniform, so single-bucket recall is honestly
      low. The gate pins that expectation instead of hiding it.
    - ``ivf_pq_nprobe3_m8`` (ann_ivf_pq_oracle's persisted-index path:
      8-byte ADC scoring over the partition-pruned codes table): floor
      0.10 (measured 0.18 at sf0.1, 0.245 at sf0.01). Honestly low by
      construction — the 16-entry SEED codebooks quantize coarsely, so
      ADC ranking inside the probed cells loses most of what plain IVF
      (0.70) keeps; production raises it with trained codebooks and an
      exact-rescore stage over the ADC shortlist (the ann_int8_rescore
      pattern). The gate pins the measured seed-quantizer reality
      instead of hiding the PQ family from recall measurement (the
      round-9 blind spot).

    Gate comparisons are INTEGER (n_hits >= min_hits over 20 x 10
    candidate slots) so no float threshold can flake across engines.
    Exact top-10 is computed once with the production BLAS kernel and
    persisted (200 rows); each method joins against it. The oracle
    replays all four approximate pipelines AND the brute-force exact
    ranking verbatim in SQL."""
    from ..operators import similarity as SIM
    from ..operators.similarity import md5_signature

    from .catalog import _FIXTURES, _tmp

    # the five method pipelines each scan the corpus AND the probe-query
    # subset independently (8 parquet scans of embeddings in one plan) —
    # persist the source once so every pipeline reads the cache; this is
    # a measurement GATE run at probe scale, so pinning the table is the
    # right trade (production runs one method at a time)
    emb = _scoped_persist(
        load_table(spark, sf_dir, "embeddings"), "analytics_extra.ann_recall_emb"
    )
    queries = emb.filter(F.col("vec_id") < 20)
    exact = SIM.cosine_topk_blas(emb, queries, k=10).select("query_id", "vec_id")
    ex = _scoped_persist(exact, "analytics_extra.ann_recall_exact")
    # same persisted index (and fixture key) as ann_ivf_pq_oracle
    key = ("ivf_pq_index", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("ivfpq")
        SIM.build_ivf_pq_index(emb, root, nlist=8, m=8, codebook_size=16)
        _FIXTURES[key] = root
    # (method, approx result, display floor, integer min-hits = floor*200)
    methods = [
        ("int8_shortlist20", SIM.int8_topk(emb, queries, k=20), 0.95, 190),
        (
            "ivf_nlist8_nprobe3",
            SIM.ivf_topk_fixed(emb, queries, k=10, nlist=8, nprobe=3),
            0.60,
            120,
        ),
        (
            "lsh_planes6_bucket",
            SIM.lsh_bucket_topk_md5(emb, queries, k=10, num_planes=6, dim=64),
            0.02,
            4,
        ),
        (
            "lsh_planes6_multiprobe6",
            SIM.lsh_multiprobe_topk(
                emb, queries, k=10, num_planes=6, dim=64, probes=6,
                signature=md5_signature(6, 64),
            ),
            0.20,
            40,
        ),
        (
            "ivf_pq_nprobe3_m8",
            SIM.ivf_pq_search(spark, _FIXTURES[key], queries, k=10, nprobe=3),
            0.10,
            20,
        ),
    ]
    out = None
    for name, approx, floor, min_hits in methods:
        r = (
            ex.join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"])
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit(name).alias("method"),
                F.lit(20).alias("n_queries"),
                F.col("n").cast("int").alias("n_hits"),
                F.round(F.col("n") / F.lit(200.0), 4).alias("recall"),
                F.lit(float(floor)).alias("recall_floor"),
                (F.col("n") >= min_hits).cast("int").alias("gate"),
            )
        )
        out = r if out is None else out.unionByName(r)
    return out.orderBy("method")


# The oracle replays every stage of all four approximate methods plus
# the exact brute-force top-10 (composed from the ANN family's existing
# per-method oracles), then counts overlaps. Gate thresholds are the
# same integer min-hits as the Spark side.
ORACLE_ANN_RECALL_GATE = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, cv AS qv FROM c WHERE vec_id < 20),
ex_s AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
  FROM q, c WHERE c.vec_id <> q.query_id
),
ex AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM ex_s) WHERE rn <= 10
),
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
    FROM adist) WHERE rn = 1
),
qdist AS (
  SELECT q.query_id, q.qv, cent.cell,
         list_reduce(list_transform(generate_series(1, len(q.qv)),
           i -> (q.qv[i] - cent.centroid[i]) * (q.qv[i] - cent.centroid[i])),
           (a, b) -> a + b) AS dist2
  FROM q, cent
),
iprobes AS (
  SELECT query_id, qv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM qdist) WHERE rn <= 3
),
ivf_s AS (
  SELECT p.query_id, a.vec_id,
         list_dot_product(p.qv, a.cv)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.cv, a.cv))) AS cosine
  FROM iprobes p JOIN assigned a ON p.cell = a.cell
  WHERE a.vec_id <> p.query_id
),
ivf AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM ivf_s) WHERE rank <= 10
),
w AS (
  SELECT p, j,
         CASE WHEN ('0x' || substr(md5('p_' || p || '_' || (j - 1)), 1, 7))::BIGINT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS wt
  FROM unnest(generate_series(0, 5)) AS tp(p),
       unnest(generate_series(1, 64)) AS tj(j)
),
proj AS (
  SELECT c.vec_id, w.p, sum(c.cv[w.j] * w.wt) AS pr
  FROM c, w GROUP BY c.vec_id, w.p
),
sig AS MATERIALIZED (
  SELECT vec_id, CAST(sum(CASE WHEN pr > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
lq AS (SELECT s.vec_id AS query_id, c.cv AS qv, s.bucket
       FROM sig s JOIN c ON c.vec_id = s.vec_id WHERE s.vec_id < 20),
lc AS MATERIALIZED (SELECT s.vec_id, c.cv, s.bucket
       FROM sig s JOIN c ON c.vec_id = s.vec_id),
lsh_s AS (
  SELECT lq.query_id, lc.vec_id,
         list_dot_product(lq.qv, lc.cv)
           / (sqrt(list_dot_product(lq.qv, lq.qv)) * sqrt(list_dot_product(lc.cv, lc.cv))) AS cosine
  FROM lq JOIN lc ON lq.bucket = lc.bucket AND lc.vec_id <> lq.query_id
),
lshb AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM lsh_s) WHERE rank <= 10
),
mprobes AS (
  SELECT query_id, qv,
         CASE WHEN t = 0 THEN bucket
              ELSE xor(bucket, CAST(1 << (t - 1) AS BIGINT)) END AS bucket
  FROM lq, unnest(generate_series(0, 6)) AS tt(t)
),
mlsh_s AS (
  SELECT p.query_id, lc.vec_id,
         list_dot_product(p.qv, lc.cv)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(lc.cv, lc.cv))) AS cosine
  FROM mprobes p JOIN lc ON p.bucket = lc.bucket AND lc.vec_id <> p.query_id
),
lshm AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM mlsh_s) WHERE rank <= 10
),
sc8 AS (SELECT vec_id, cv AS e, list_max(list_transform(cv, x -> abs(x))) / 127.0 AS sc FROM c),
qz AS MATERIALIZED (
  SELECT vec_id, round(sc, 6) AS scale6,
         list_transform(e, x -> CAST(round(x / sc) AS DOUBLE)) AS qv8
  FROM sc8
),
qs AS (SELECT vec_id, scale6, qv8 FROM qz WHERE vec_id < 20),
i8_s AS (
  SELECT q8.vec_id AS query_id, cc.vec_id AS vec_id,
         (list_dot_product(cc.qv8, q8.qv8) * cc.scale6) * q8.scale6 AS score
  FROM qz cc JOIN qs q8 ON cc.vec_id <> q8.vec_id
),
i8 AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rnk
    FROM i8_s) WHERE rnk <= 20
),
cb AS (SELECT vec_id AS cid, cv FROM c WHERE vec_id < 16),
pq_enc AS (
  SELECT cv2.vec_id, t.s, cb.cid,
         sum(pow(cv2.cv[t.s * 8 + u.i] - cb.cv[t.s * 8 + u.i], 2)) AS d2
  FROM c cv2
  CROSS JOIN cb
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) t
  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) u
  GROUP BY cv2.vec_id, t.s, cb.cid
),
pq_codes AS MATERIALIZED (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, cid ASC) AS rn
    FROM pq_enc) WHERE rn = 1
),
pq_qd AS (
  SELECT q.query_id, t.s, cb.cid,
         sum(pow(q.qv[t.s * 8 + u.i] - cb.cv[t.s * 8 + u.i], 2)) AS d2
  FROM q
  CROSS JOIN cb
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) t
  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) u
  GROUP BY q.query_id, t.s, cb.cid
),
pq_score AS (
  SELECT qd.query_id, pc.vec_id, sum(qd.d2) AS adc_dist
  FROM pq_codes pc
  JOIN assigned a ON a.vec_id = pc.vec_id
  JOIN iprobes p ON p.cell = a.cell
  JOIN pq_qd qd ON qd.query_id = p.query_id AND pc.s = qd.s AND pc.cid = qd.cid
  WHERE pc.vec_id <> qd.query_id
  GROUP BY qd.query_id, pc.vec_id
),
ivfpq AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist ASC, vec_id ASC) AS rank
    FROM pq_score) WHERE rank <= 10
),
hits AS (
  SELECT 'int8_shortlist20' AS method, count(*) AS n
  FROM ex e JOIN i8 a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  UNION ALL
  SELECT 'ivf_nlist8_nprobe3', count(*)
  FROM ex e JOIN ivf a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  UNION ALL
  SELECT 'lsh_planes6_bucket', count(*)
  FROM ex e JOIN lshb a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  UNION ALL
  SELECT 'lsh_planes6_multiprobe6', count(*)
  FROM ex e JOIN lshm a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  UNION ALL
  SELECT 'ivf_pq_nprobe3_m8', count(*)
  FROM ex e JOIN ivfpq a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
),
meth(method, recall_floor, min_hits) AS (
  VALUES ('int8_shortlist20', 0.95, 190),
         ('ivf_nlist8_nprobe3', 0.60, 120),
         ('lsh_planes6_bucket', 0.02, 4),
         ('lsh_planes6_multiprobe6', 0.20, 40),
         ('ivf_pq_nprobe3_m8', 0.10, 20)
)
SELECT m.method,
       CAST(20 AS INT) AS n_queries,
       CAST(coalesce(h.n, 0) AS INT) AS n_hits,
       round(CAST(coalesce(h.n, 0) AS DOUBLE) / CAST(200 AS DOUBLE), 4) AS recall,
       CAST(m.recall_floor AS DOUBLE) AS recall_floor,
       CASE WHEN coalesce(h.n, 0) >= m.min_hits THEN 1 ELSE 0 END AS gate
FROM meth m LEFT JOIN hits h ON h.method = m.method
ORDER BY m.method
"""


def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact recursive EWMA per user (alpha=0.2) — the genuinely
    sequential aggregate (EWMA_t = a·x_t + (1−a)·EWMA_{t−1}) that
    window frames can't express (the closed-form (1−a)^{−n} rescaling
    trick overflows past ~1k rows).

    SEGMENTED so no row ever holds a user's full history: the recursion
    folds inside (user, day) segments — each row holds at most one
    day's values — and segments merge per user via the closed-form
    carry  E_after = d·E_before + c, where the segment's decay
    d = 0.8^n (built by n successive multiplies, NOT pow(), so any
    engine reproduces the exact doubles) and contribution
    c = Σ 0.2·0.8^{n−i}·x_i come from the same in-row fold. A hot
    entity with years of events costs max(events-per-day) array cells
    per row instead of the whole history — the executor-OOM shape the
    unsegmented collect_list had at 100 TB. Per-user segment count is
    calendar-bounded. Zero UDFs; DuckDB's list_reduce twin runs the
    identical op sequence (struct-element fold seeded by the first
    segment), so the doubles match bit-for-bit before rounding."""
    ev = load_table(spark, sf_dir, "events")
    arr = F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("ts").alias("t"),
                    F.col("event_id").alias("tb"),
                    F.col("value").alias("v"),
                )
            )
        ),
        lambda x: x["v"],
    )
    step = lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc  # noqa: E731
    per_day = ev.groupBy(
        "user_id", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(arr.alias("vals"))
    seg = per_day.select(
        "user_id",
        F.struct(
            F.col("day").alias("day"),
            F.size("vals").alias("n"),
            # seeded in-segment EWMA (first value is the seed)
            F.aggregate(
                F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
                F.element_at(F.col("vals"), 1),
                step,
            ).alias("s"),
            # zero-init contribution fold: c = Σ 0.2·0.8^{n−i}·x_i
            F.aggregate(F.col("vals"), F.lit(0.0), step).alias("c"),
            # decay 0.8^n via n successive multiplies (engine-portable)
            F.aggregate(
                F.col("vals"), F.lit(1.0), lambda acc, x: acc * F.lit(0.8)
            ).alias("d"),
        ).alias("seg"),
    )
    per_user = seg.groupBy("user_id").agg(
        F.sort_array(F.collect_list("seg")).alias("segs")
    )
    ewma = F.aggregate(
        F.slice(F.col("segs"), 2, F.greatest(F.size("segs") - 1, F.lit(0))),
        F.element_at(F.col("segs"), 1)["s"],
        lambda acc, s: s["d"] * acc + s["c"],
    )
    return per_user.select(
        "user_id",
        F.aggregate(
            F.col("segs"), F.lit(0), lambda acc, s: acc + s["n"]
        ).alias("n_events"),
        F.round(ewma, 6).alias("ewma"),
    )


ORACLE_EWMA = """
WITH per_day AS (
  SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY 1, 2
), seg AS (
  SELECT user_id, day,
         CAST(len(vals) AS INT) AS n,
         list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc) AS s,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
                     (acc, x) -> 0.2 * x + 0.8 * acc) AS c,
         list_reduce(list_prepend(CAST(1.0 AS DOUBLE), vals),
                     (acc, x) -> acc * 0.8) AS d
  FROM per_day
), merged AS (
  SELECT user_id, CAST(sum(n) AS INT) AS n_events,
         list_reduce(
           list_prepend({'e': first(s ORDER BY day), 'd': CAST(1.0 AS DOUBLE),
                         'c': CAST(0.0 AS DOUBLE)},
                        list({'e': CAST(0.0 AS DOUBLE), 'd': d, 'c': c}
                             ORDER BY day)[2:]),
           (acc, g) -> {'e': g.d * acc.e + g.c, 'd': CAST(1.0 AS DOUBLE),
                        'c': CAST(0.0 AS DOUBLE)}
         ).e AS ewma_raw
  FROM seg GROUP BY user_id
)
SELECT user_id, n_events, round(ewma_raw, 6) AS ewma FROM merged
"""


def q_monitor_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the ML-monitoring standard for "has
    this feature's distribution drifted": bin day-2's values into
    day-1's deciles and compute PSI = Σ (p−q)·ln(p/q). Thresholds are
    a ONE-ROW broadcast aggregate from the baseline day (the
    quantile_bins no-global-sort pattern); binning both days is a
    narrow map; the PSI itself folds over a 10-row frame. Emits the
    per-bin table plus the PSI row — alert at > 0.2 by the usual rule
    of thumb."""
    ev = load_table(spark, sf_dir, "events")
    day1 = ev.filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )
    day2 = ev.filter(
        (F.col("ts") >= F.lit("2024-01-02 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp"))
    )
    probs = [i / 10.0 for i in range(1, 10)]
    # The thresholds are 9 doubles — collect them ONCE (bounded
    # metadata, the zone-map-stats precedent) and inline as literals:
    # leaving thr as a broadcast subtree re-derives the baseline SCAN
    # inside every branch that uses it (measured: 8 corpus scans; now
    # 3 — thr, p, q — the minimum, since thresholds need raw values).
    thr_vals = day1.agg(
        F.expr(
            f"percentile(value, array({', '.join(str(p) for p in probs)}))"
        ).alias("t")
    ).collect()[0].t

    def binned(df):
        t_arr = F.array(*[F.lit(float(t)) for t in thr_vals])
        return df.select(
            F.size(F.filter(t_arr, lambda x: F.col("value") > x)).alias("bin")
        )

    p = (
        binned(day1)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    q = (
        binned(day2)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    # totals derived from the <=10-row bin frames via a partitionless
    # window (bounded — accepted WindowExec warning), not extra scans
    from pyspark.sql import Window as W

    wall = W.partitionBy()
    per_bin = (
        p.join(q, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .select(
            "bin",
            "n_base",
            "n_new",
            (F.col("n_base") / F.sum("n_base").over(wall).cast("double")).alias("p"),
            (F.col("n_new") / F.sum("n_new").over(wall).cast("double")).alias("q"),
        )
    )
    # epsilon-floor both shares so empty bins don't blow up the log —
    # the standard PSI practice
    eps = 1e-4
    pe = F.greatest(F.col("p"), F.lit(eps))
    qe = F.greatest(F.col("q"), F.lit(eps))
    contrib = (pe - qe) * F.log(pe / qe)
    # per_bin is <=10 rows but its LINEAGE is two corpus scans (p, q);
    # the per-bin rows and the PSI_TOTAL union branch would each replay
    # both — persist so the pair of scans runs once (replan_audit).
    per_bin = _scoped_persist(per_bin, "analytics_extra.psi_per_bin")
    rows = per_bin.select(
        F.col("bin").cast("string").alias("bin"),
        "n_base",
        "n_new",
        F.round(contrib, 6).alias("psi_contrib"),
    )
    total = per_bin.agg(
        F.lit("PSI_TOTAL").alias("bin"),
        F.sum("n_base").alias("n_base"),
        F.sum("n_new").alias("n_new"),
        F.round(F.sum(contrib), 6).alias("psi_contrib"),
    )
    return rows.unionByName(total).orderBy("bin")


ORACLE_PSI = """
WITH d1 AS (SELECT value FROM events
            WHERE ts < TIMESTAMP '2024-01-02 00:00:00'),
d2 AS (SELECT value FROM events
       WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
         AND ts < TIMESTAMP '2024-01-03 00:00:00'),
thr AS (
  SELECT quantile_cont(value,
    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t FROM d1
),
b1 AS (
  SELECT CAST(len(list_filter(thr.t, x -> d1.value > x)) AS INT) AS bin
  FROM d1 CROSS JOIN thr
),
b2 AS (
  SELECT CAST(len(list_filter(thr.t, x -> d2.value > x)) AS INT) AS bin
  FROM d2 CROSS JOIN thr
),
p AS (SELECT bin, count(*) AS n_base FROM b1 GROUP BY bin),
q AS (SELECT bin, count(*) AS n_new FROM b2 GROUP BY bin),
per AS (
  SELECT coalesce(p.bin, q.bin) AS bin,
         coalesce(n_base, 0) AS n_base, coalesce(n_new, 0) AS n_new,
         coalesce(n_base, 0) / (SELECT CAST(count(*) AS DOUBLE) FROM d1)
           AS pp,
         coalesce(n_new, 0) / (SELECT CAST(count(*) AS DOUBLE) FROM d2)
           AS qq
  FROM p FULL OUTER JOIN q USING (bin)
),
c AS (
  SELECT bin, n_base, n_new,
         (greatest(pp, 0.0001) - greatest(qq, 0.0001))
           * ln(greatest(pp, 0.0001) / greatest(qq, 0.0001)) AS contrib
  FROM per
)
SELECT CAST(bin AS VARCHAR) AS bin, CAST(n_base AS BIGINT) AS n_base,
       CAST(n_new AS BIGINT) AS n_new,
       round(contrib, 6) AS psi_contrib
FROM c
UNION ALL
SELECT 'PSI_TOTAL', CAST(sum(n_base) AS BIGINT), CAST(sum(n_new) AS BIGINT),
       round(sum(contrib), 6)
FROM c
ORDER BY bin
"""


def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median of event value over each user's trailing 10
    events — robust-location smoothing (the outlier-proof twin of the
    rolling mean). Exact percentile as a window aggregate over a
    bounded row frame: per-row cost is frame-sized, one entity-keyed
    shuffle. Day-level rollup output."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    rolled = ev.select(
        "user_id",
        "ts",
        # fixed-point BEFORE aggregating: summing doubles is
        # summation-order-sensitive in the last ulp, which flips a
        # round(..., 4) sitting on a boundary between engines; rounding
        # each median to integer ten-thousandths first makes the sum an
        # exact long — order-free, bit-identical everywhere.
        F.round(F.expr("percentile(value, 0.5)").over(w) * 10000, 0)
        .cast("long")
        .alias("med_fp"),
    )
    return (
        rolled.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # nearest-integer division in EXACT integer arithmetic: the
            # float path hit a genuine decimal tie (42.82825) where
            # Spark's BigDecimal HALF_UP and DuckDB's float rounding
            # disagree; (2s+n) div 2n has no float anywhere. Output is
            # the average in 1e-4 units.
            F.expr(
                "(2 * sum(med_fp) + count(1)) div (2 * count(1))"
            ).alias("avg_rolling_median_e4"),
        )
        .orderBy("day")
    )


ORACLE_ROLLING_MEDIAN = """
WITH rolled AS (
  SELECT user_id, ts,
         CAST(round(quantile_cont(value, 0.5) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) * 10000, 0)
           AS BIGINT) AS med_fp
  FROM events WHERE user_id < 30
)
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST((2 * sum(med_fp) + count(*)) // (2 * count(*)) AS BIGINT)
         AS avg_rolling_median_e4
FROM rolled GROUP BY 1 ORDER BY 1
"""


def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source (nats) — the
    information-theoretic mixture audit: a source whose entropy
    collapses went monolingual (or a scraper broke); the corpus-wide
    row benchmarks each source against the blend. Two metadata-sized
    aggregations (source×lang, then source); no corpus re-scan for the
    ALL row — it reuses the same counts."""
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    sl = _scoped_persist(sl, "analytics_extra.entropy_sl")

    def entropy(grouped):
        tot = F.sum("n")
        return grouped.agg(
            tot.alias("n_docs"),
            F.round(
                -F.sum(
                    (F.col("n") / tot) * F.log(F.col("n") / tot)
                ),
                6,
            ).alias("lang_entropy"),
        )

    # per-source: window-free — total via a second tiny agg join
    per_src_tot = sl.groupBy("source").agg(F.sum("n").alias("tot"))
    per_src = (
        sl.join(per_src_tot, "source")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.round(
                -F.sum((F.col("n") / F.col("tot")) * F.log(F.col("n") / F.col("tot"))),
                6,
            ).alias("lang_entropy"),
        )
    )
    lang_tot = sl.groupBy("lang").agg(F.sum("n").alias("n"))
    overall = (
        lang_tot.crossJoin(
            F.broadcast(lang_tot.agg(F.sum("n").alias("tot")))
        )
        .agg(
            F.lit("ALL").alias("source"),
            F.sum("n").alias("n_docs"),
            F.round(
                -F.sum((F.col("n") / F.col("tot")) * F.log(F.col("n") / F.col("tot"))),
                6,
            ).alias("lang_entropy"),
        )
    )
    return per_src.unionByName(overall).orderBy("source")


ORACLE_ENTROPY = """
WITH sl AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
per AS (
  SELECT sl.source, CAST(sum(sl.n) AS BIGINT) AS n_docs,
         round(-sum((sl.n / t.tot) * ln(sl.n / t.tot)), 6) AS lang_entropy
  FROM sl JOIN (SELECT source, CAST(sum(n) AS DOUBLE) AS tot
                FROM sl GROUP BY source) t USING (source)
  GROUP BY sl.source
),
lt AS (SELECT lang, sum(n) AS n FROM sl GROUP BY lang),
overall AS (
  SELECT 'ALL' AS source, CAST(sum(n) AS BIGINT) AS n_docs,
         round(-sum((n / t.tot) * ln(n / t.tot)), 6) AS lang_entropy
  FROM lt CROSS JOIN (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM lt) t
)
SELECT source, n_docs, lang_entropy FROM per
UNION ALL SELECT source, n_docs, lang_entropy FROM overall
ORDER BY source
"""


def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: least-squares slope of
    ln(freq) against ln(rank) for the top 200 words — natural text sits
    near −1; template spam and gibberish bend the curve, making the
    slope a one-number corpus-health indicator. One vocabulary
    aggregation, a 200-row rank window, and a closed-form regression
    aggregate (regr_slope/regr_intercept/regr_r2 — moment math, no
    iteration)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import tokenize

    vocab = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(200)
    )
    from pyspark.sql import Window as W

    ranked = vocab.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("n"), F.asc("w")))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(
            F.expr("regr_slope(ln(n), ln(rank))"), 4
        ).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(n), ln(rank))"), 4).alias("r2"),
    )


ORACLE_ZIPF = r"""
WITH vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents)
  GROUP BY w ORDER BY n DESC, w ASC LIMIT 200
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, w ASC) AS rank FROM vocab
)
SELECT CAST(count(*) AS BIGINT) AS n_words,
       round(regr_slope(ln(n), ln(rank)), 4) AS zipf_slope,
       round(regr_r2(ln(n), ln(rank)), 4) AS r2
FROM ranked
"""


def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of event value per day — the concentration/
    inequality audit (is the day's value mass dominated by a few
    events?). Exact fixed-point arithmetic end-to-end: values are
    2-decimal, so x·100 is an exact long, the rank formula
    G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) is pure integer sums with ONE
    final division — bit-identical in any engine, no float-rounding
    tie class. One day-keyed rank window, one aggregation."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    x = F.round(F.col("value") * 100, 0).cast("long")
    w = W.partitionBy(day.alias("d")).orderBy(
        x.asc(), F.col("event_id").asc()
    )
    ranked = ev.select(
        day.alias("day"),
        x.alias("x"),
        F.row_number().over(w).alias("rk"),
    )
    return (
        ranked.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                (
                    F.lit(2) * F.sum(F.col("rk") * F.col("x"))
                    - (F.count(F.lit(1)) + 1) * F.sum("x")
                )
                / (F.count(F.lit(1)) * F.sum("x")).cast("double"),
                6,
            ).alias("gini"),
        )
        .orderBy("day")
    )


ORACLE_GINI = """
WITH ranked AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(round(value * 100, 0) AS BIGINT) AS x,
         row_number() OVER (
           PARTITION BY CAST(ts AS DATE)
           ORDER BY CAST(round(value * 100, 0) AS BIGINT) ASC,
                    event_id ASC) AS rk
  FROM events
)
SELECT day, CAST(count(*) AS BIGINT) AS n_events,
       round((2 * sum(rk * x) - (count(*) + 1) * sum(x))
             / CAST(count(*) * sum(x) AS DOUBLE), 6) AS gini
FROM ranked GROUP BY day ORDER BY day
"""


def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted median of event value per user-day rolled to
    days — the SLO-correct median for irregularly-sampled state (each
    reading weighted by its holding seconds, the TWAP weight family):
    first value whose cumulative weight crosses half the total. All
    integers (seconds × cents) until one final division; one
    (day)-keyed sort window + one aggregation."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    wday = W.partitionBy("user_id", day.alias("d")).orderBy("ts", "event_id")
    nxt = F.lead(F.col("ts").cast("double")).over(wday)
    day_end = F.date_add(day, 1).cast("timestamp").cast("double")
    weight = (F.coalesce(nxt, day_end) - F.col("ts").cast("double")).cast(
        "long"
    )
    x = F.round(F.col("value") * 100, 0).cast("long")
    base = ev.select(
        F.date_format(day, "yyyy-MM-dd").alias("day"),
        x.alias("x"),
        weight.alias("w"),
        "event_id",
    )
    ws = W.partitionBy("day").orderBy("x", "event_id")
    cum = base.select(
        "day",
        "x",
        F.sum("w").over(ws).alias("cw"),
        F.sum("w").over(
            W.partitionBy("day").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("tw"),
    )
    crossed = cum.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
    return (
        crossed.groupBy("day")
        .agg((F.min("x") / F.lit(100.0)).alias("weighted_median"))
        .orderBy("day")
    )


ORACLE_WEIGHTED_MEDIAN = """
WITH base AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(round(value * 100, 0) AS BIGINT) AS x,
         CAST(coalesce(
           epoch(lead(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id)),
           epoch(CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP))
         ) - epoch(ts) AS BIGINT) AS w,
         event_id
  FROM events
),
cum AS (
  SELECT day, x,
         sum(w) OVER (PARTITION BY day ORDER BY x, event_id
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(w) OVER (PARTITION BY day) AS tw
  FROM base
)
SELECT day, min(x) / 100.0 AS weighted_median
FROM cum WHERE 2 * cw >= tw
GROUP BY day ORDER BY day
"""


def q_agg_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale concentration: what share of total value do the top 1% /
    5% / 10% of users contribute — the Pareto audit behind every
    monetization and abuse dashboard. One user rollup (fixed-point
    cents, exact), one rank window over the user-sized frame, shares by
    cumulative integer sums with single final divisions."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v")
    )
    w = W.orderBy(F.desc("v"), F.asc("user_id"))
    wall = W.partitionBy()
    cum = per_user.select(
        "v",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("v").over(wall).alias("tot"),
        F.sum("v")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cv"),
    )
    # All three cohorts from ONE derivation of the ranked frame: the
    # former union-of-three-filters re-derived the events scan + user
    # rollup + rank window once per cohort (replan_audit: events x3).
    # A broadcast join against the literal 3-row cohort table emits
    # exactly the same rows — for each pct, the cum row where
    # rk == greatest(floor(n*pct/100), 1) — with one events scan and
    # one window (guide §2.4).
    # floor() explicitly: double->BIGINT CAST rounds in DuckDB but
    # truncates in Spark (n=150, 1%: 1.5 -> 2 vs 1)
    cohorts = spark.createDataFrame(
        [(1, "top_1_pct"), (5, "top_5_pct"), (10, "top_10_pct")],
        "pct INT, cohort STRING",
    )
    k = F.greatest(F.floor(F.col("n") * F.col("pct") / 100).cast("long"), F.lit(1))
    return (
        cum.join(F.broadcast(cohorts), F.col("rk") == k)
        .select(
            "cohort",
            F.col("rk").alias("n_users"),
            F.round(F.col("cv") / F.col("tot").cast("double"), 6).alias(
                "value_share"
            ),
        )
        .orderBy("cohort")
    )


ORACLE_PARETO = """
WITH per_user AS (
  SELECT user_id,
         sum(CAST(round(value * 100, 0) AS BIGINT)) AS v
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT v, row_number() OVER (ORDER BY v DESC, user_id ASC) AS rk,
         count(*) OVER () AS n, sum(v) OVER () AS tot,
         sum(v) OVER (ORDER BY v DESC, user_id ASC
                      ROWS UNBOUNDED PRECEDING) AS cv
  FROM per_user
)
SELECT cohort, n_users, value_share FROM (
  SELECT 'top_1_pct' AS cohort, rk AS n_users,
         round(cv / CAST(tot AS DOUBLE), 6) AS value_share
  FROM ranked WHERE rk = greatest(CAST(floor(n * 1 / 100.0) AS BIGINT), 1)
  UNION ALL
  SELECT 'top_5_pct', rk, round(cv / CAST(tot AS DOUBLE), 6)
  FROM ranked WHERE rk = greatest(CAST(floor(n * 5 / 100.0) AS BIGINT), 1)
  UNION ALL
  SELECT 'top_10_pct', rk, round(cv / CAST(tot AS DOUBLE), 6)
  FROM ranked WHERE rk = greatest(CAST(floor(n * 10 / 100.0) AS BIGINT), 1)
) ORDER BY cohort
"""


def q_window_activity_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user, rolled to a
    (streak_length, n_users) distribution — the engagement metric
    behind every habit-product dashboard. Classic gaps-and-islands:
    distinct active days minus their per-user rank is constant within a
    consecutive run, so one user-keyed window + two tiny groupBys
    resolve it with no iteration."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "grp", F.col("d") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    longest = streaks.groupBy("user_id").agg(F.max("len").alias("best"))
    return (
        longest.groupBy(F.col("best").alias("streak_days"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("streak_days")
    )


ORACLE_STREAK = """
WITH days AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
  FROM events
),
islands AS (
  SELECT user_id, d,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, count(*) AS len FROM islands GROUP BY user_id, grp
),
longest AS (
  SELECT user_id, max(len) AS best FROM streaks GROUP BY user_id
)
SELECT CAST(best AS BIGINT) AS streak_days,
       CAST(count(*) AS BIGINT) AS n_users
FROM longest GROUP BY best ORDER BY streak_days
"""


def q_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of event value per day — the robust
    scale estimate that pairs with the rolling median (stddev is
    dragged by the same outliers a robust monitor must ignore). Two
    exact-percentile passes in fixed-point cents: the 30-row per-day
    median frame broadcasts back onto the corpus for the deviation
    pass. All intermediate medians are integers-or-exact-halves, so
    both engines carry identical binary values into the single final
    division."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    x = F.round(F.col("value") * 100, 0).cast("long")
    base = ev.select(day.alias("day"), x.alias("x"))
    med = base.groupBy("day").agg(
        F.expr("percentile(x, 0.5)").alias("m")
    )
    dev = base.join(F.broadcast(med), "day").select(
        "day", F.abs(F.col("x") - F.col("m")).alias("d")
    )
    return (
        dev.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.expr("percentile(d, 0.5)") / F.lit(100.0)).alias("mad"),
        )
        .orderBy("day")
    )


ORACLE_MAD = """
WITH base AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(round(value * 100, 0) AS BIGINT) AS x
  FROM events
),
med AS (
  SELECT day, quantile_cont(x, 0.5) AS m FROM base GROUP BY day
),
dev AS (
  SELECT base.day, abs(base.x - med.m) AS d
  FROM base JOIN med USING (day)
)
SELECT day, CAST(count(*) AS BIGINT) AS n_events,
       quantile_cont(d, 0.5) / 100.0 AS mad
FROM dev GROUP BY day ORDER BY day
"""


def q_agg_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-24 autocorrelation of the hourly event-count
    series — the seasonality detector: lag-24 ≫ lag-1 means the series
    is daily-periodic (baseline by hour-of-day, as
    monitor_seasonal_anomaly does); lag-1 dominance means trending.
    One corpus rollup to the 720-row hourly frame; lags via window
    lead() and correlation via the closed-form corr aggregate —
    everything after the first shuffle is calendar-bounded."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.orderBy("h")
    lagged = hourly.select(
        "n",
        F.lead("n", 1).over(w).alias("n1"),
        F.lead("n", 24).over(w).alias("n24"),
    )
    return lagged.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(F.corr("n", "n1"), 4).alias("acf_lag1"),
        F.round(F.corr("n", "n24"), 4).alias("acf_lag24"),
    )


ORACLE_AUTOCORR = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
lagged AS (
  SELECT n, lead(n, 1) OVER (ORDER BY h) AS n1,
         lead(n, 24) OVER (ORDER BY h) AS n24
  FROM hourly
)
SELECT CAST(count(*) AS BIGINT) AS n_hours,
       round(corr(n, n1), 4) AS acf_lag1,
       round(corr(n, n24), 4) AS acf_lag24
FROM lagged
"""


_JSD_SOURCES = ("src0", "src1", "src2")


def q_text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between sources' unigram
    distributions — the bounded, symmetric corpus-similarity measure
    ("are these two feeds redundant?"): JSD = H(M) − (H(P)+H(Q))/2
    with M the midpoint mixture. The three sources' vocab counts ride
    ONE aggregation as conditional-sum columns (never a per-source
    scan), and each pair's divergence folds over the vocab-sized frame
    — smoothing-free because midpoint-mixture terms with p=0 or q=0
    are well-defined (0·ln0 = 0 via the when-guard)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import tokenize

    toks = docs.filter(F.col("source").isin(*_JSD_SOURCES)).select(
        "source", F.explode(tokenize(F.col("text"))).alias("w")
    )
    # vocab-sized but with a full-corpus lineage: persisted so the
    # totals aggregate and the divergence fold share ONE corpus scan
    counts = _scoped_persist(
        toks.groupBy("w").agg(
            *[
                F.sum((F.col("source") == s).cast("long")).alias(f"c{i}")
                for i, s in enumerate(_JSD_SOURCES)
            ]
        ),
        "analytics_extra.jsd_counts",
    )
    tots = counts.agg(
        *[F.sum(f"c{i}").cast("double").alias(f"t{i}") for i in range(3)]
    )
    joined = counts.crossJoin(F.broadcast(tots))

    def _term(p):  # p·ln(p) with 0·ln0 = 0
        return F.when(p > 0, p * F.log(p)).otherwise(F.lit(0.0))

    # ALL pair divergences in ONE aggregation, then unpivot — a union of
    # per-pair aggregates would re-derive the whole counts/tots lineage
    # per branch (3 branches × 2 corpus scans each at 100 TB; caught by
    # scripts/replan_audit.py), where this shape scans the corpus once.
    aggs, stack_args = [], []
    for i in range(3):
        for j in range(i + 1, 3):
            p = F.col(f"c{i}") / F.col(f"t{i}")
            q = F.col(f"c{j}") / F.col(f"t{j}")
            m = (p + q) / 2
            contrib = _term(p) / 2 + _term(q) / 2 - _term(m)
            aggs.append(F.round(F.sum(contrib), 6).alias(f"jsd_{i}{j}"))
            stack_args.append(
                f"'{_JSD_SOURCES[i]}~{_JSD_SOURCES[j]}', jsd_{i}{j}"
            )
    sums = joined.agg(*aggs)
    return sums.select(
        F.expr(f"stack(3, {', '.join(stack_args)}) AS (pair, jsd)")
    ).orderBy("pair")


ORACLE_JSD = r"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE source IN ('src0', 'src1', 'src2')
),
counts AS (
  SELECT w,
         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS c2
  FROM toks GROUP BY w
),
tots AS (
  SELECT CAST(sum(c0) AS DOUBLE) AS t0, CAST(sum(c1) AS DOUBLE) AS t1,
         CAST(sum(c2) AS DOUBLE) AS t2
  FROM counts
),
j AS (SELECT * FROM counts CROSS JOIN tots)
SELECT pair, jsd FROM (
  SELECT 'src0~src1' AS pair,
         round(sum(
           CASE WHEN c0 > 0 THEN (c0/t0) * ln(c0/t0) ELSE 0 END / 2
           + CASE WHEN c1 > 0 THEN (c1/t1) * ln(c1/t1) ELSE 0 END / 2
           - CASE WHEN c0/t0 + c1/t1 > 0
                  THEN ((c0/t0 + c1/t1)/2) * ln((c0/t0 + c1/t1)/2)
                  ELSE 0 END), 6) AS jsd
  FROM j
  UNION ALL
  SELECT 'src0~src2',
         round(sum(
           CASE WHEN c0 > 0 THEN (c0/t0) * ln(c0/t0) ELSE 0 END / 2
           + CASE WHEN c2 > 0 THEN (c2/t2) * ln(c2/t2) ELSE 0 END / 2
           - CASE WHEN c0/t0 + c2/t2 > 0
                  THEN ((c0/t0 + c2/t2)/2) * ln((c0/t0 + c2/t2)/2)
                  ELSE 0 END), 6)
  FROM j
  UNION ALL
  SELECT 'src1~src2',
         round(sum(
           CASE WHEN c1 > 0 THEN (c1/t1) * ln(c1/t1) ELSE 0 END / 2
           + CASE WHEN c2 > 0 THEN (c2/t2) * ln(c2/t2) ELSE 0 END / 2
           - CASE WHEN c1/t1 + c2/t2 > 0
                  THEN ((c1/t1 + c2/t2)/2) * ln((c1/t1 + c2/t2)/2)
                  ELSE 0 END), 6)
  FROM j
) ORDER BY pair
"""


def q_approx_quantile_hashmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-min-sample quantile sketch
    (operators/sketches.py hashmin_sample_quantiles): the k=400 rows
    with the globally smallest md5(event_id) form the sample
    (TakeOrderedAndProject: per-partition k-heaps + driver merge, no
    global sort), and each quantile is the DISC-rank element of the
    sorted sample — integer indexing, so DuckDB reproduces every
    estimate bit-for-bit. The estimator's accuracy bound vs the true
    quantiles is pinned in pytest; the oracle pins the sketch itself."""
    from ..operators.sketches import hashmin_sample_quantiles

    ev = load_table(spark, sf_dir, "events")
    out = hashmin_sample_quantiles(ev, "event_id", "value", k=400)
    return out.select(
        F.round("q", 2).alias("q"),
        "n_sample",
        F.round("est", 6).alias("est"),
    ).orderBy("q")


ORACLE_QUANTILE_HASHMIN = """
WITH samp AS (
  SELECT value AS v FROM (
    SELECT md5(CAST(event_id AS VARCHAR)) AS h, value FROM events
    WHERE event_id IS NOT NULL AND value IS NOT NULL
    ORDER BY h LIMIT 400
  )
),
arr AS (SELECT list(v ORDER BY v) AS vs, CAST(count(*) AS INT) AS n FROM samp),
qs AS (SELECT CAST(unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q)
SELECT round(q, 2) AS q, n AS n_sample,
       round(vs[greatest(CAST(ceil(q * n) AS INT), 1)], 6) AS est
FROM arr, qs ORDER BY q
"""


def q_monitor_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing-table freshness monitor — the ops alert the reference
    delegates to its scheduler environment (SURVEY §2.10), engine-side:
    one metadata partition LIST (no Spark job, O(partitions)) yields the
    newest hourly partition, its lag against a reference instant, and
    present-vs-expected partition counts over the trailing 24 h window.
    The ingested fixture is day 1, the reference instant 2024-01-02
    06:00 — so the table is 7 h stale and 18/24 of the trailing window
    is present; the oracle derives the same numbers from the source
    events."""
    import datetime as _dt

    from ..functions.partition import bq_partition_from_datetime, datetime_from_bq_partition
    from ..operators.sink import list_table_partitions
    from .catalog import _parquet_fixture_root

    root = _parquet_fixture_root(spark, sf_dir)
    parts = list_table_partitions(spark, root)
    ref = _dt.datetime(2024, 1, 2, 6)
    last = max(parts)
    lag_h = int((ref - datetime_from_bq_partition(last)).total_seconds() // 3600)
    window = {bq_partition_from_datetime(ref - _dt.timedelta(hours=i + 1)) for i in range(24)}
    present = len(window & set(parts))
    rows = [
        ("last_partition", int(last)),
        ("lag_hours", lag_h),
        ("present_last_24h", present),
        ("expected_last_24h", 24),
        ("stale_gt_2h", 1 if lag_h > 2 else 0),
    ]
    return spark.createDataFrame(rows, "metric string, value long").orderBy("metric")


ORACLE_MONITOR_FRESHNESS = """
WITH day1 AS (
  SELECT strftime(ts, '%Y%m%d%H') AS hour_part FROM events
  WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
),
last_p AS (SELECT max(hour_part) AS lp FROM day1),
win AS (
  SELECT count(DISTINCT hour_part) AS present FROM day1
  WHERE hour_part >= '2024010106' AND hour_part < '2024010206'
)
SELECT 'expected_last_24h' AS metric, CAST(24 AS BIGINT) AS value
UNION ALL
SELECT 'lag_hours',
  CAST(date_diff('hour', strptime((SELECT lp FROM last_p), '%Y%m%d%H'),
                 TIMESTAMP '2024-01-02 06:00:00') AS BIGINT)
UNION ALL
SELECT 'last_partition', CAST((SELECT lp FROM last_p) AS BIGINT)
UNION ALL
SELECT 'present_last_24h', CAST((SELECT present FROM win) AS BIGINT)
UNION ALL
SELECT 'stale_gt_2h', 1
ORDER BY metric
"""


def q_profile_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store preflight (operators/similarity.py
    embedding_health): dimension consistency, NULL/NaN/Inf payloads,
    zero-norm vectors, duplicate ids, and L2-norm range/mean in ONE
    single-pass aggregate — the audit every ANN / semantic-dedup build
    in this repo assumes has passed (a poisoned embedding column skews
    centroids and drops recall silently, never loudly). Per-row signals
    are higher-order array expressions (JVM-side, no UDF); the exchange
    moves one row."""
    from ..operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.embedding_health(
        emb, id_col="vec_id", vec_col="embedding", label_col="label"
    )


ORACLE_EMBEDDING_HEALTH = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
),
per AS (
  SELECT vec_id, label,
    (v IS NULL) AS vec_is_null,
    len(v) AS dim,
    CASE WHEN v IS NULL THEN NULL
         ELSE len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0 END AS bad,
    CASE WHEN v IS NULL THEN NULL
         ELSE list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)
    END AS ss
  FROM e
),
n AS (
  SELECT CASE WHEN NOT bad AND ss IS NOT NULL THEN sqrt(ss) END AS nrm, *
  FROM per
)
SELECT
  count(*) AS n_vecs,
  CAST(sum(CASE WHEN vec_is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null_vec,
  count(vec_id) - count(DISTINCT vec_id) AS n_dup_ids,
  count(DISTINCT dim) AS n_dims,
  min(dim) AS dim_min,
  max(dim) AS dim_max,
  CAST(sum(CASE WHEN coalesce(bad, false) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_nonfinite,
  CAST(sum(CASE WHEN NOT bad AND ss = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_zero_norm,
  round(min(nrm), 4) AS norm_min,
  round(max(nrm), 4) AS norm_max,
  round(avg(nrm), 4) AS norm_mean,
  CAST(sum(CASE WHEN label IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_label
FROM n
"""


ANALYTICS_QUERIES: dict[str, callable] = {
    "text_js_divergence": q_text_js_divergence,
    "agg_autocorrelation": q_agg_autocorrelation,
    "agg_mad": q_agg_mad,
    "agg_pareto_share": q_agg_pareto_share,
    "window_activity_streak": q_window_activity_streak,
    "agg_gini": q_agg_gini,
    "agg_weighted_median": q_agg_weighted_median,
    "agg_entropy": q_agg_entropy,
    "text_zipf_slope": q_text_zipf_slope,
    "monitor_psi_drift": q_monitor_psi_drift,
    "window_rolling_median": q_window_rolling_median,
    "ts_ewma": q_ts_ewma,
    "agg_correlation": q_agg_correlation,
    "ts_time_weighted_avg": q_ts_time_weighted_avg,
    "agg_bitmap_distinct": q_agg_bitmap_distinct,
    "window_sliding_distinct": q_window_sliding_distinct,
    "window_sliding_distinct_gate": q_window_sliding_distinct_gate,
    "window_sliding_quantile": q_window_sliding_quantile,
    "stream_sliding_distinct": q_stream_sliding_distinct,
    "approx_kmv_distinct": q_approx_kmv_distinct,
    "stream_bitmap_distinct": q_stream_bitmap_distinct,
    "partition_vacuum_retention": q_partition_vacuum_retention,
    "profile_table": q_profile_table,
    "source_schema_evolution": q_source_schema_evolution,
    "monitor_alert_threshold": q_monitor_alert_threshold,
    "window_rank_family": q_window_rank_family,
    "agg_grouping_sets": q_agg_grouping_sets,
    "window_range_interval": q_window_range_interval,
    "source_orc": q_source_orc,
    "approx_distinct_gate": q_approx_distinct_gate,
    "approx_hll_set_ops": q_approx_hll_set_ops,
    "ann_radius_search": q_ann_radius_search,
    "ann_recall_gate": q_ann_recall_gate,
    "profile_embedding_health": q_profile_embedding_health,
    "stream_sliding_window": q_stream_sliding_window,
    "stream_dedup_watermark": q_stream_dedup_watermark,
    "stream_join_static": q_stream_join_static,
    "stream_stream_join": q_stream_stream_join,
    "stream_chained_stateful": q_stream_chained_stateful,
    "agg_histogram": q_agg_histogram,
    "udf_pandas_geomean": q_udf_pandas_geomean,
    "approx_quantile_gate": q_approx_quantile_gate,
    "source_python_datasource": q_source_python_datasource,
    "udf_cogroup_threshold": q_udf_cogroup_threshold,
    "agg_mode": q_agg_mode,
    "approx_quantile_hashmin": q_approx_quantile_hashmin,
    "monitor_freshness": q_monitor_freshness,
}

ANALYTICS_ORACLES: dict[str, str] = {
    "text_js_divergence": ORACLE_JSD,
    "agg_autocorrelation": ORACLE_AUTOCORR,
    "agg_mad": ORACLE_MAD,
    "agg_pareto_share": ORACLE_PARETO,
    "window_activity_streak": ORACLE_STREAK,
    "agg_gini": ORACLE_GINI,
    "agg_weighted_median": ORACLE_WEIGHTED_MEDIAN,
    "agg_entropy": ORACLE_ENTROPY,
    "text_zipf_slope": ORACLE_ZIPF,
    "monitor_psi_drift": ORACLE_PSI,
    "window_rolling_median": ORACLE_ROLLING_MEDIAN,
    "ts_ewma": ORACLE_EWMA,
    "agg_correlation": ORACLE_CORRELATION,
    "ts_time_weighted_avg": ORACLE_TWAP,
    "agg_bitmap_distinct": ORACLE_BITMAP_DISTINCT,
    # production form: exact trailing countDistinct from raw events (the
    # same SQL the streaming twin checks against — bitmap union is exact)
    "window_sliding_distinct": ORACLE_STREAM_SLIDING_DISTINCT,
    "window_sliding_distinct_gate": ORACLE_SLIDING_DISTINCT,
    "window_sliding_quantile": ORACLE_SLIDING_QUANTILE,
    "stream_sliding_distinct": ORACLE_STREAM_SLIDING_DISTINCT,
    "approx_kmv_distinct": ORACLE_KMV_DISTINCT,
    "stream_bitmap_distinct": ORACLE_BITMAP_DISTINCT,
    "source_schema_evolution": ORACLE_SCHEMA_EVOLUTION,
    "partition_vacuum_retention": ORACLE_VACUUM,
    "profile_table": ORACLE_PROFILE,
    "monitor_alert_threshold": ORACLE_ALERT_THRESHOLD,
    "window_rank_family": ORACLE_RANK_FAMILY,
    "agg_grouping_sets": ORACLE_GROUPING_SETS,
    "window_range_interval": ORACLE_RANGE_INTERVAL,
    "source_orc": ORACLE_SOURCE_ORC,
    "approx_distinct_gate": ORACLE_APPROX_GATE,
    "approx_hll_set_ops": ORACLE_HLL_SET_OPS,
    "ann_radius_search": ORACLE_ANN_RADIUS,
    "ann_recall_gate": ORACLE_ANN_RECALL_GATE,
    "profile_embedding_health": ORACLE_EMBEDDING_HEALTH,
    "stream_sliding_window": ORACLE_STREAM_SLIDING,
    "stream_dedup_watermark": ORACLE_STREAM_DEDUP,
    "stream_join_static": ORACLE_STREAM_JOIN_STATIC,
    "stream_stream_join": ORACLE_STREAM_STREAM_JOIN,
    "stream_chained_stateful": ORACLE_STREAM_CHAINED,
    "agg_histogram": ORACLE_HISTOGRAM,
    "udf_pandas_geomean": ORACLE_GEOMEAN,
    "approx_quantile_gate": ORACLE_QUANTILE_GATE,
    "source_python_datasource": ORACLE_PY_DATASOURCE,
    "udf_cogroup_threshold": ORACLE_COGROUP,
    "agg_mode": ORACLE_AGG_MODE,
    "approx_quantile_hashmin": ORACLE_QUANTILE_HASHMIN,
    "monitor_freshness": ORACLE_MONITOR_FRESHNESS,
}
