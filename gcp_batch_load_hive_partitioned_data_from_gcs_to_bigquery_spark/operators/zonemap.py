"""Zone maps: file/partition min-max stats and data-skipping scans.

The reference leans on two storage-side pruning layers it never has to
implement itself: BigQuery partition pruning (mandatory via
``require_partition_filter``, ``bq_create_table_ddl.sql:12``) and
cluster-key block pruning (``bq_create_table_ddl.sql:8-9``). The Spark
engine gets partition pruning natively from the Hive layout; this
module adds the second layer explicitly — a ZONE MAP (one row of
``min/max/count`` per file per column, the Delta-Lake
``add.stats`` / ORC stripe-stats design) and a scan operator that
consults it to read only the files a predicate can possibly touch.

Spark-first design:

* stats come from the hidden ``_metadata.file_path`` column — ONE
  parquet pass, a single groupBy (shuffle keyed on file path, ~one row
  per file out);
* the candidate-file list is driver-side METADATA, not data: one row
  per file, exactly like Delta's transaction-log file listing. The
  persisted store is collected once and kept as a driver snapshot while
  its on-disk files are unchanged; each scan walks the table once,
  checks the store covers exactly the live files, and prunes the
  snapshot in Python — no Spark job before the final read;
* the pruned scan is a plain ``spark.read.parquet(*files)`` — Catalyst
  still applies partition pruning, predicate pushdown, and row-group
  skipping INSIDE the surviving files; the zone map only shrinks the
  file list up front (cheaper listing + task scheduling, the win
  Parquet footers alone cannot give because footer reads still open
  every file).

Combined with :mod:`.zorder`, skipping works on every clustered
dimension: z-ordered files have tight min/max on each interleaved
column, so a range predicate on ANY of them eliminates most files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.columns import bq_partition_from_hive_cols
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import (
    glob_status,
    hadoop_fs,
    path_exists,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import read_landing_table

#: Store directory for the persisted zone map, INSIDE the table root.
#: The leading underscore makes Spark's file listing treat it as hidden
#: (the ``_delta_log`` / ``_spark_metadata`` convention), so data scans
#: of the root never pick the stats files up.
ZONEMAP_DIRNAME = "_zonemap"


def zone_map_path(table_root: str) -> str:
    """Location of the persisted zone-map store for ``table_root``."""
    return f"{table_root.rstrip('/')}/{ZONEMAP_DIRNAME}"


def _stat_aggs(cols: list[str]) -> list[Column]:
    """Row count plus ``min_<c>`` / ``max_<c>`` for each of ``cols``."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return aggs


def file_zone_map(
    spark: SparkSession,
    table_root: str,
    cols: list[str],
    partitions: list[str] | None = None,
    with_part_key: bool = False,
) -> DataFrame:
    """Per-FILE min/max/count stats for ``cols`` under ``table_root``.

    One scan, one groupBy on ``_metadata.file_path``. Output rows ≈
    file count — metadata-sized regardless of table volume.
    ``partitions`` (``YYYYMMDDHH`` strings) reads only those hours' leaf
    directories through :func:`..operators.sink.read_landing_table` —
    the incremental-refresh path lists and scans ONLY the changed hours,
    never the table; ``None`` reads the whole root (the full build).
    ``with_part_key`` adds the store's ``part_key`` overwrite key to the
    output.
    """
    if partitions is None:
        df = spark.read.parquet(table_root)
    else:
        df = read_landing_table(spark, table_root, *partitions)
    key_names = ["file_path", "part_key"] if with_part_key else ["file_path"]
    keys = [F.col("_metadata.file_path").alias("file_path")]
    if with_part_key:
        keys.append(bq_partition_from_hive_cols().alias("part_key"))
    return df.select(*keys, *cols).groupBy(*key_names).agg(*_stat_aggs(cols))


def partition_zone_map(
    spark: SparkSession, table_root: str, cols: list[str]
) -> DataFrame:
    """Per-PARTITION min/max/count stats (hour granularity).

    The layout-independent rollup of :func:`file_zone_map` — what an
    engine catalog would persist next to the table. Grouping on the
    Hive partition columns is a near-free aggregation: partition values
    are scan metadata, so the groupBy's map-side combine collapses each
    file to one row before the (tiny) shuffle.
    """
    df = spark.read.parquet(table_root)
    return df.groupBy(bq_partition_from_hive_cols().alias("hour_partition")).agg(
        *_stat_aggs(cols)
    )


def has_zone_map(spark: SparkSession, table_root: str) -> bool:
    """Whether a persisted zone-map store exists for ``table_root``."""
    return path_exists(spark, zone_map_path(table_root))


def _norm_file_path(p: str) -> str:
    """Normalize a file URI/path to its plain path component so store
    entries (``file:///x`` from ``_metadata.file_path``) compare equal
    to the walker's keys (bare ``/x``). Strips ``scheme://authority`` or
    ``scheme:`` by regex (NOT ``urlparse``, which would also truncate at
    ``?``/``#`` — legal filename bytes), then decodes percent escapes
    only (``unquote`` keeps ``+``)."""
    import re
    from urllib.parse import unquote

    s = re.sub(r"^[a-z][a-zA-Z0-9+.-]*://[^/]*", "", p)
    s = re.sub(r"^[a-z][a-zA-Z0-9+.-]*:", "", s)
    return unquote(s) or p


def _walk_files(spark: SparkSession, root: str) -> dict[str, tuple[int, int]]:
    """``{path: (mtime, size)}`` for every file under ``root``, skipping
    ``_``/``.`` entries below the root (``_zonemap``, ``_SUCCESS``,
    checksum sidecars — Spark's own listing convention); empty when
    ``root`` does not exist. Metadata-scale: one stat per file, no data
    read, no job. Over a table root the keys are its live data files;
    over a store root the items are the store's fingerprint (a refresh
    always writes new ``part-*`` names). Local paths walk the OS
    directly (a py4j round-trip per file would dominate the scan);
    remote filesystems go through the Hadoop FS client."""
    import os
    from urllib.parse import urlparse

    hidden = ("_", ".")
    out: dict[str, tuple[int, int]] = {}
    if urlparse(root).scheme in ("", "file"):
        for dirpath, dirnames, filenames in os.walk(_norm_file_path(root)):
            dirnames[:] = [d for d in dirnames if not d.startswith(hidden)]
            for f in filenames:
                if not f.startswith(hidden):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_mtime_ns, st.st_size)
        return out
    _, fs, jroot = hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return out
    root_path = _norm_file_path(jroot.toUri().getPath())
    it = fs.listFiles(jroot, True)
    while it.hasNext():
        s = it.next()
        p = s.getPath().toUri().getPath()
        rel = p[len(root_path) :].lstrip("/") if p.startswith(root_path) else p
        if not any(seg.startswith(hidden) for seg in rel.split("/")):
            out[p] = (s.getModificationTime(), s.getLen())
    return out


#: Driver-side snapshot of each persisted store's rows (the Delta-snapshot
#: caching pattern): the store is metadata-sized, re-reading it per scan is
#: pure overhead (a 3-job store read against a job-free walk). Each entry
#: is ``(fingerprint, rows)`` where the fingerprint is the store's own
#: :func:`_walk_files` — a cache hit is honored only while the on-disk
#: store is unchanged, so a refresh from ANOTHER session/process is picked
#: up on the next scan (this process's refresh_zone_map also invalidates
#: eagerly). Bounded to ``_STORE_CACHE_MAX`` roots, evicted FIFO: at
#: ~800 k files a snapshot is ~100 MB, and an unbounded process-global
#: dict would pin one per table root forever. Keyed by store path.
_STORE_CACHE: dict[str, tuple[dict, list]] = {}
_STORE_CACHE_MAX = 8


def _cached_store_rows(spark: SparkSession, table_root: str) -> list | None:
    """Collected rows of the persisted store (None if no store exists),
    served from the driver cache while the store's on-disk fingerprint is
    unchanged; re-collected (and re-cached) after any refresh."""
    store = zone_map_path(table_root)
    fp = _walk_files(spark, store)
    hit = _STORE_CACHE.get(store)
    if hit is not None and hit[0] == fp:
        return hit[1]
    _STORE_CACHE.pop(store, None)
    zm = load_zone_map(spark, table_root) if fp else None
    if zm is None:
        return None
    rows = zm.collect()
    while len(_STORE_CACHE) >= _STORE_CACHE_MAX:
        _STORE_CACHE.pop(next(iter(_STORE_CACHE)))
    _STORE_CACHE[store] = (fp, rows)
    return rows


def load_zone_map(spark: SparkSession, table_root: str) -> DataFrame | None:
    """The persisted per-file stats table, or ``None`` if never built."""
    store = zone_map_path(table_root)
    if not path_exists(spark, store):
        return None
    zm = spark.read.parquet(store)
    # partition-column type inference reads part_key back as an integer;
    # normalize to the canonical 10-char YYYYMMDDHH string
    return zm.withColumn("part_key", F.lpad(F.col("part_key").cast("string"), 10, "0"))


def zone_map_columns(spark: SparkSession, table_root: str) -> list[str] | None:
    """Data columns the persisted store carries stats for, or ``None`` if
    no store. Every ``part_key=`` leaf has the store's schema, so one
    metadata glob (no job) finds a leaf and only it is read, never the
    whole store (one listing task per hour once there are more than 32)."""
    leaves = glob_status(spark, f"{zone_map_path(table_root)}/part_key=*")
    if not leaves:
        return None
    cols = spark.read.parquet(leaves[0].getPath().toString()).columns
    return [c[len("min_") :] for c in cols if c.startswith("min_")]


def refresh_zone_map(
    spark: SparkSession,
    table_root: str,
    cols: list[str] | None = None,
    partitions: list[str] | None = None,
) -> None:
    """(Re)build the persisted zone-map store for ``table_root``.

    With ``partitions=None`` this is the one-time full build (one table
    scan). With a list of ``YYYYMMDDHH`` hours it is the INCREMENTAL
    maintenance path: read only the named hours' leaf directories, and
    dynamic-partition-overwrite only those hours' stats rows — the store
    is laid out ``part_key=YYYYMMDDHH/`` so a refresh never touches any
    other hour's stats files. At 100 TB an hourly write refreshes one
    hour's stats with one hour's listing and scan — O(batch), never
    O(table).

    ``cols=None`` re-uses the column list already recorded in the store
    schema, read from one store leaf (required for incremental refresh
    so the schema stays stable).
    """
    if cols is None:
        cols = zone_map_columns(spark, table_root)
        if cols is None:
            raise ValueError(
                f"no zone-map store at {zone_map_path(table_root)!r}; "
                "pass cols= for the initial build"
            )
    zm = file_zone_map(spark, table_root, cols, partitions=partitions, with_part_key=True)
    (
        zm.write.partitionBy("part_key")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(zone_map_path(table_root))
    )
    _STORE_CACHE.pop(zone_map_path(table_root), None)


def _prune_rows(rows, col: str, lo, hi) -> tuple[list, int]:
    """Interval-overlap filter over collected stats rows → (keep paths,
    total files). NULL-only files have NULL min/max and are skipped,
    which is correct for a range predicate."""
    keep = [
        r["file_path"]
        for r in rows
        if r[f"min_{col}"] is not None
        and r[f"max_{col}"] is not None
        and r[f"max_{col}"] >= lo
        and r[f"min_{col}"] <= hi
    ]
    return keep, len(rows)


def skipping_scan(
    spark: SparkSession,
    table_root: str,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, int, int]:
    """Scan ``table_root`` for rows with ``col BETWEEN lo AND hi``,
    reading only files whose zone-map interval intersects ``[lo, hi]``.

    Returns ``(df, files_read, files_total)`` so callers can assert the
    skip ratio. The data itself never moves to the driver.

    When a persisted store (:func:`refresh_zone_map`) carries stats for
    ``col``, the candidate list comes from its driver snapshot
    (:func:`_cached_store_rows`: no job while the store is unchanged)
    pruned in Python — no table scan at all. The store is trusted only
    after a COVERAGE CHECK: its file set must equal one walk of the
    table's live data files (a write that bypassed the sink hook, or a
    crash between the data write and the refresh, leaves the store
    missing/retaining files). On any mismatch — and when there is no
    store — the stats are computed on the fly (one full scan, the
    pre-store behavior), so a stale store can never silently drop rows.
    """
    keep: list | None = None
    files_total = 0
    rows = _cached_store_rows(spark, table_root)
    if rows and f"min_{col}" in rows[0].__fields__:
        live = _walk_files(spark, table_root)
        if {_norm_file_path(r["file_path"]) for r in rows} == live.keys():
            keep, files_total = _prune_rows(rows, col, lo, hi)
    if keep is None:
        rows = file_zone_map(spark, table_root, [col]).select(
            "file_path", f"min_{col}", f"max_{col}"
        ).collect()
        keep, files_total = _prune_rows(rows, col, lo, hi)
    if not keep:
        # zero rows with the table's schema: read one known file (basePath
        # keeps the partition columns), not a listing of the whole table
        first = rows[0]["file_path"] if rows else table_root
        empty = spark.read.option("basePath", table_root).parquet(first)
        return empty.filter(F.lit(False)), 0, files_total
    # basePath keeps Hive partition-column discovery intact even though
    # we hand the reader leaf files instead of the table root.
    df = (
        spark.read.option("basePath", table_root)
        .parquet(*keep)
        .filter(F.col(col).between(lo, hi))
    )
    return df, len(keep), files_total
