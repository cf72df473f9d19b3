"""Partition-overwrite sink — the reference's core write semantic.

Parity targets:

* ``sink_partition_overwrite`` — one batch replaces exactly one hourly
  partition, idempotently (``table_id + "$" + YYYYMMDDHH`` +
  ``WRITE_TRUNCATE``; ingestion/tasks.py:24-25,
  ingestion/bigquery_interaction.py:20, README.md:34-39). Spark-native
  form: ``partitionBy(year,month,day,hour)`` + ``mode("overwrite")`` under
  ``spark.sql.sources.partitionOverwriteMode=dynamic`` — only the
  partitions present in the batch are replaced; concurrent different-hour
  writes never touch each other's directories. This even resolves the
  reference's own TODO ("truncate only partitions",
  ingestion/bigquery_interaction.py:19).
* ``sink_create_never`` — the load never creates the target implicitly
  (``create_disposition=CREATE_NEVER``,
  ingestion/bigquery_interaction.py:15-18). Spark would happily
  ``saveAsTable`` into nothing, so we guard explicitly.
* ``sink_skip_empty`` — empty input → ``NOT_CREATED``, no job launched
  (ingestion/bigquery_interaction.py:30-32).
* ``ddl_create_partitioned_table`` — hourly-truncated partitioning +
  clustering (bq_create_table_ddl.sql:1-13). Clustering maps to
  ``sortWithinPartitions(cluster_keys)`` before write: Parquet row-group
  min/max stats then let predicate pushdown skip row groups, the same scan-
  locality win BigQuery clustering buys.

Scale note: dynamic partition overwrite is a metadata swap per touched
partition — cost is proportional to the batch, not the table, so hourly
ingest stays O(1 hour of data) at 100 TB of accumulated table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.columns import (
    bq_partition_from_hive_cols,
    partition_columns,
    ts_from_bq_partition_col,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.partition import (
    HIVE_PARTITION_BY_HOUR_GLOB,
    bq_partition_from_hive_path,
    partition_dir,
    partition_values,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import (
    delete_path,
    glob_status,
    hadoop_fs,
    path_exists,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.jobs import JobState

PARTITION_COLS = ("year", "month", "day", "hour")


class TableNotFoundError(RuntimeError):
    """Raised when writing to a table root that was never created
    (CREATE_NEVER parity, ingestion/bigquery_interaction.py:18)."""


def create_partitioned_table(spark: SparkSession, table_root: str) -> None:
    """Create the landing-table root directory (the DDL step,
    bq_create_table_ddl.sql:1-13 / commands.sh:17-26). Idempotent
    (``CREATE TABLE IF NOT EXISTS``). The root is also registered for
    plan-level partition-filter enforcement — the DDL's
    ``require_partition_filter=TRUE`` (bq_create_table_ddl.sql:12) is a
    table property, so it attaches at create time."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.guard import register_landing_root

    _, fs, path = hadoop_fs(spark, table_root)
    fs.mkdirs(path)
    register_landing_root(table_root)


def with_partition_columns(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Derive the four zero-padded partition columns from the timestamp
    column — the engine-side ``TIMESTAMP_TRUNC(f, HOUR)``
    (bq_create_table_ddl.sql:7) composed with the Hive path encoding
    (ingestion/partition.py:3)."""
    out = df
    for name, col in partition_columns(ts_col).items():
        out = out.withColumn(name, col)
    return out


def with_static_partition(df: DataFrame, partition: str) -> DataFrame:
    """Attach the four partition columns as literals decomposed from a
    ``YYYYMMDDHH`` string — the destination-partition-comes-from-the-request
    semantic of the BQ partition decorator (ingestion/tasks.py:24-25): the
    load targets ``table$YYYYMMDDHH`` regardless of row contents, so the
    source schema needs no timestamp column."""
    out = df
    for name, val in partition_values(partition).items():
        out = out.withColumn(name, F.lit(val))
    return out


def write_partition_overwrite(
    df: DataFrame,
    table_root: str,
    ts_col: str = "ts",
    cluster_by: list[str] | None = None,
    create_never: bool = True,
    files_per_partition: int | None = None,
    partition: str | None = None,
) -> JobState:
    """Idempotently (re)write the hourly partitions present in ``df``.

    Partition identity comes from ``partition`` (static, decorator-style:
    all rows land in that one hour) when given, else is derived per-row
    from ``ts_col`` (the ``TIMESTAMP_TRUNC`` DDL semantic).

    Returns the terminal :class:`JobState` — ``NOT_CREATED`` for an empty
    batch (sink_skip_empty), ``SUCCESS`` on completion. Raises
    :class:`TableNotFoundError` if ``create_never`` and the table root does
    not exist, and ``ValueError``/Spark analysis errors on bad input —
    callers (the JobRegistry) fold exceptions to ``FAILURE``.
    """
    spark = df.sparkSession
    if create_never and not path_exists(spark, table_root):
        raise TableNotFoundError(
            f"table root {table_root!r} does not exist and create_never is set "
            "(reference parity: create_disposition=CREATE_NEVER)"
        )

    # sink_skip_empty (ingestion/bigquery_interaction.py:30-32). isEmpty()
    # scans at most one partition of the source — cheap even at scale.
    if df.isEmpty():
        return JobState.NOT_CREATED

    if partition is not None:
        out = with_static_partition(df, partition)
    else:
        out = with_partition_columns(df, ts_col)
    if files_per_partition:
        # Control file count per partition; at 100 TB tune so each file
        # lands near the 128 MiB-1 GiB sweet spot. The salt is required:
        # hashing on the partition columns alone would send ALL rows of an
        # hour to one task and always produce a single file.
        # Round-robin salt + explicit partition count: even spread within
        # each hour, and AQE never coalesces an explicitly-sized
        # repartition back to one task.
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(files_per_partition))
        out = (
            out.withColumn("_file_salt", salt)
            .repartition(
                files_per_partition, *[F.col(c) for c in PARTITION_COLS], F.col("_file_salt")
            )
            .drop("_file_salt")
        )
    if cluster_by:
        # BQ CLUSTER BY analogue: sort within files so Parquet row-group
        # min/max stats enable block skipping on the cluster keys.
        out = out.sortWithinPartitions(*cluster_by)

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zonemap import (
        has_zone_map,
        refresh_zone_map,
    )

    # Incremental zone-map maintenance happens after the write, but the
    # touched-hour set is fixed BEFORE it: with dynamic partitions the
    # batch is pinned with localCheckpoint so (a) the upstream lineage
    # is evaluated once — not once for the write and again for the
    # distinct — and (b) the hours refreshed are exactly the hours
    # written even if the lineage is nondeterministic. The checkpoint
    # materializes one hourly batch to executor storage, O(batch).
    refresh_store = has_zone_map(spark, table_root)
    touched: list[str] | None = [partition] if partition is not None else None
    if refresh_store and touched is None:
        out = out.localCheckpoint(eager=True)
        # distinct over the 4 partition columns of an hourly batch —
        # map-side-combined, a handful of rows out.
        # bounded collect: one row per PARTITION the batch touches (an
        # hourly batch lands in a handful of hive partitions), never per-row
        touched = [r[0] for r in out.select(bq_partition_from_hive_cols()).distinct().collect()]

    (
        out.write.partitionBy(*PARTITION_COLS)
        # Self-contained dynamic overwrite: the per-write option wins over
        # whatever the ambient session sets. Under the default STATIC mode
        # an overwrite deletes EVERY partition under the root — an O(table)
        # destructive rewrite that breaks the idempotent-replace guarantee
        # (README.md:34-39 of the reference). Pinning it here makes the
        # sink replace only the partitions present in the batch regardless
        # of session conf.
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(table_root)
    )

    # Refresh ONLY the hours this batch touched (set computed above) —
    # the stats update is O(batch), never the O(table) rescan the
    # on-the-fly path pays.
    if refresh_store:
        refresh_zone_map(spark, table_root, partitions=touched)
    return JobState.SUCCESS


def compact_partition(
    spark: SparkSession,
    table_root: str,
    partition: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
) -> int:
    """Size-tiered compaction of ONE hourly partition: rewrite its files
    into ``ceil(partition_bytes / target_file_bytes)`` outputs (min 1),
    re-sorted on the cluster key. The maintenance twin of
    ``sink_partition_overwrite`` — hourly micro-batches leave small files;
    periodic compaction restores the 128 MiB-1 GiB scan sweet spot without
    touching any other partition (the rewrite IS an idempotent partition
    overwrite). Returns the number of files written.

    ``zorder_by`` (mutually exclusive with ``cluster_by``) lays the
    partition out along the Morton curve of the named non-negative
    integer columns instead of a lexicographic sort — the OPTIMIZE
    ZORDER maintenance path: per-file min/max bounds tighten on EVERY
    named column, so :mod:`.zonemap` skipping works for predicates on
    any of them, not just the leading sort key.

    At 100 TB this runs per-partition and embarrassingly parallel across
    partitions; cost is one read+write of the compacted hour only.
    """
    import math

    _, fs, path = hadoop_fs(spark, partition_dir(table_root, partition))
    size = fs.getContentSummary(path).getLength()
    n_files = max(1, math.ceil(size / target_file_bytes))

    df = read_landing_table(spark, table_root, partition)
    data_cols = [c for c in df.columns if c not in PARTITION_COLS]
    # localCheckpoint materializes the hour BEFORE the overwrite — we are
    # rewriting the exact files being read, so lineage must not re-scan
    # them during the write.
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    staged = df.select(*data_cols)
    if zorder_by:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zorder import cluster_zorder

        staged = cluster_zorder(staged, zorder_by, bits=zorder_bits, num_files=n_files).drop(
            "zval"
        )
    else:
        staged = staged.coalesce(n_files)
    staged = staged.localCheckpoint(eager=True)
    write_partition_overwrite(
        staged,
        table_root,
        cluster_by=cluster_by,
        partition=partition,
        create_never=False,
    )
    listed = fs.listStatus(path)
    return sum(1 for st in listed if st.getPath().getName().startswith("part-"))


def maintain_hourly_rollup(
    spark: SparkSession,
    table_root: str,
    rollup_root: str,
    partition: str | list[str],
    group_cols: list[str],
    agg_exprs: dict[str, str],
    ts_col: str = "ts",
) -> JobState:
    """Incrementally maintain a continuous hourly aggregate (the
    hypertable-rollup pattern): after ingesting hour ``partition`` (or a
    list of hours) into the landing table, recompute ONLY those hours'
    rollup rows and partition-overwrite them into ``rollup_root``.

    ``agg_exprs`` maps output column → SQL aggregate over the hour (e.g.
    ``{"n_rows": "count(*)", "sum_value": "sum(value)"}``).

    Scale properties: cost per maintenance call is one pruned read of the
    refreshed hour + one tiny write — independent of total table size —
    and because the rollup write is itself an idempotent partition
    replace, re-ingesting an hour (late data, backfill) re-derives that
    hour's aggregates exactly, never double-counts (the same guarantee
    the reference's WRITE_TRUNCATE gives raw rows, lifted to the
    aggregate level).
    """
    parts = [partition] if isinstance(partition, str) else partition
    hours = read_landing_table(spark, table_root, *parts)
    # the hour's start is the rollup row's timestamp, so the rollup table
    # partitions on the same hour as its source partition
    hour_ts = ts_from_bq_partition_col(bq_partition_from_hive_cols()).alias(ts_col)
    agg_cols = [F.expr(sql).alias(name) for name, sql in agg_exprs.items()]
    rolled = hours.groupBy(hour_ts, *group_cols).agg(*agg_cols)
    rolled = rolled.select(*group_cols, *agg_exprs, ts_col)
    create_partitioned_table(spark, rollup_root)
    return write_partition_overwrite(rolled, rollup_root, ts_col=ts_col)


def repair_rollup(
    spark: SparkSession,
    table_root: str,
    rollup_root: str,
    group_cols: list[str],
    agg_exprs: dict[str, str],
    ts_col: str = "ts",
) -> list[str]:
    """Catch-up maintenance: diff the landing table's partition list
    against the rollup's and (re)derive ONLY the missing hours.

    The crash-recovery twin of :func:`maintain_hourly_rollup`: if the
    per-ingest maintenance call is skipped (job died between landing
    write and rollup write, or a backfill wrote hours out-of-band), this
    converges the rollup without touching any hour that is already
    present. Cost is two metadata partition LISTs (no Spark job) plus
    one read of the MISSING hours' leaves and one tiny write — O(missing),
    never O(table), so running it after every batch is safe at any scale.
    Returns the list of repaired partitions.
    """
    landing = set(list_table_partitions(spark, table_root))
    have = set(list_table_partitions(spark, rollup_root)) if path_exists(
        spark, rollup_root
    ) else set()
    missing = sorted(landing - have)
    if missing:
        maintain_hourly_rollup(
            spark, table_root, rollup_root, missing, group_cols, agg_exprs, ts_col=ts_col
        )
    return missing


def merge_upsert_partition(
    spark: SparkSession,
    table_root: str,
    updates: DataFrame,
    partition: str,
    key_cols: list[str],
) -> JobState:
    """MERGE INTO semantics scoped to ONE hourly partition: rows in
    ``updates`` replace current rows with the same key; unmatched keys
    are inserted. The reference's WRITE_TRUNCATE replaces whole
    partitions only — this is the finer-grained maintenance op a landing
    table needs for late corrections without re-ingesting the hour.

    Implementation is pure DataFrame algebra on top of the idempotent
    sink: current ∖ keys(updates) (left-anti join) ∪ updates, then one
    partition overwrite. The anti-join broadcasts when updates are small
    (the common correction case); cost is one read + one write of the
    single touched partition — O(hour), never O(table), exactly the
    compaction cost shape. ``localCheckpoint`` materializes the merge
    before the overwrite because the write replaces the very files being
    read.

    Merging into a partition that does not exist yet degenerates to a
    plain insert (probe first — one metadata LIST, the empty-table read
    would otherwise die on schema inference): that is what lets a
    foreachBatch stream drive this op from a cold table
    (q_stream_upsert_sink). Merging into a missing TABLE ROOT raises
    :class:`TableNotFoundError` — MERGE maintains an existing table, it
    never creates one, so the sink's create-never contract (the
    reference's CREATE_NEVER disposition, bigquery_interaction.py:20)
    holds here too; only the missing-partition-of-an-existing-table
    case degenerates to insert."""
    from ..sources.probe import partition_file_count

    if not path_exists(spark, table_root):
        raise TableNotFoundError(
            f"merge_upsert_partition: table root does not exist: {table_root} "
            "(create it with create_partitioned_table first; MERGE never "
            "creates tables — create-never contract)"
        )
    if partition_file_count(spark, table_root, partition) == 0:
        return write_partition_overwrite(
            updates, table_root, partition=partition, create_never=False
        )
    current = read_landing_table(spark, table_root, partition)
    data_cols = [c for c in current.columns if c not in PARTITION_COLS]
    survivors = current.select(*data_cols).join(
        F.broadcast(updates.select(*key_cols).distinct()), key_cols, "left_anti"
    )
    merged = (
        survivors.unionByName(updates.select(*data_cols))
        .localCheckpoint(eager=True)
    )
    return write_partition_overwrite(
        merged, table_root, partition=partition, create_never=False
    )


def read_landing_table(
    spark: SparkSession, table_root: str, *partitions: str
) -> DataFrame:
    """Read a set of hours back — the decorator read ``table$YYYYMMDDHH``
    (ingestion/tasks.py:24-25) per hour. No hour is rejected: the
    reference's ``require_partition_filter=TRUE`` (bq_create_table_ddl.sql:12).

    Loads the present hours' leaf directories in ONE read with
    ``basePath=table_root``: only those directories are listed however
    deep the table is, ``year/month/day/hour`` still surface as int
    columns, and the plan guard passes the scan. A missing hour adds no
    rows, like an empty BigQuery partition; if none is present,
    ``limit(0)`` gives the table's columns and folds to an empty relation.
    """
    if not partitions:
        raise ValueError(
            "partition filter required: pass one or more 'YYYYMMDDHH' hours "
            "(reference parity: require_partition_filter=TRUE)"
        )
    leaves = [partition_dir(table_root, p) for p in partitions]
    leaves = [leaf for leaf in leaves if path_exists(spark, leaf)]
    if not leaves:
        return spark.read.parquet(table_root).limit(0)
    return spark.read.option("basePath", table_root).parquet(*leaves)


def list_table_partitions(spark: SparkSession, table_root: str) -> list[str]:
    """Enumerate the table's hourly partitions as compact YYYYMMDDHH
    strings — one metadata LIST over the Hive layout (no Spark job), the
    same cost shape as the existence probe. A directory that is not an
    hour (``hour=__HIVE_DEFAULT_PARTITION__``) is not listed, the same
    rule the plan guard applies."""
    parts = []
    for st in glob_status(spark, f"{table_root}/{HIVE_PARTITION_BY_HOUR_GLOB}"):
        leaf = "/".join(st.getPath().toString().split("/")[-4:])
        try:
            parts.append(bq_partition_from_hive_path(leaf))
        except ValueError:
            continue
    return sorted(parts)


def vacuum_partitions(
    spark: SparkSession, table_root: str, retain_from: str
) -> tuple[list[str], list[str]]:
    """Retention maintenance: drop every hourly partition strictly older
    than ``retain_from`` (compact YYYYMMDDHH). Deletion is a per-partition
    directory remove — metadata-proportional to the number of expired
    hours, never a table scan, so retention on a years-deep table costs
    the same as on a fresh one. Returns (dropped, kept) partition lists.

    The reference has no retention story (its cost model is "keep
    everything, BigQuery storage is cheap" — README.md:96-109 of the
    reference); an hourly landing table at 100 TB needs one.
    """
    dropped, kept = [], []
    for part in list_table_partitions(spark, table_root):
        if part < retain_from:
            delete_path(spark, partition_dir(table_root, part))
            dropped.append(part)
        else:
            kept.append(part)
    return dropped, kept
