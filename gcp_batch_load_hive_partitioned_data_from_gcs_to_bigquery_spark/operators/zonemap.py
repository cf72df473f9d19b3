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
  per file, exactly like Delta's transaction-log file listing — at
  100 TB with 128 MiB files that is ~800 k rows, small enough to
  collect, and the zone map itself can be persisted as a table and
  incrementally maintained per partition write;
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
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    key_names = ["file_path", "part_key"] if with_part_key else ["file_path"]
    keys = [F.col("_metadata.file_path").alias("file_path")]
    if with_part_key:
        keys.append(bq_partition_from_hive_cols().alias("part_key"))
    return df.select(*keys, *cols).groupBy(*key_names).agg(*aggs)


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
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(bq_partition_from_hive_cols().alias("hour_partition")).agg(*aggs)


def has_zone_map(spark: SparkSession, table_root: str) -> bool:
    """Whether a persisted zone-map store exists for ``table_root``."""
    return path_exists(spark, zone_map_path(table_root))


#: Driver-side snapshot of each persisted store's rows (the Delta-snapshot
#: caching pattern): the store is metadata-sized, re-reading it per scan is
#: pure overhead. Each entry is ``(fingerprint, rows)`` where the
#: fingerprint is the store's own file listing (path, mtime, length) — a
#: cache hit is honored only while the on-disk store is byte-identical, so
#: a refresh from ANOTHER session/process is picked up on the next scan
#: (this process's refresh_zone_map also invalidates eagerly). Bounded to
#: ``_STORE_CACHE_MAX`` roots, evicted FIFO: at ~800 k files a snapshot is
#: ~100 MB, and an unbounded process-global dict would pin one per table
#: root forever. Keyed by store path.
_STORE_CACHE: dict[str, tuple[frozenset, list]] = {}
_STORE_CACHE_MAX = 8


def _store_fingerprint(spark: SparkSession, store: str) -> frozenset:
    """Identity of the on-disk store: frozenset of (path, mtime, length)
    over the store's own files. Metadata-scale (one stat per stats file ≈
    one per partition), no data read. Any refresh — incremental overwrite
    of one hour or a full rebuild, from any process — changes it."""
    import os
    from urllib.parse import urlparse

    parsed = urlparse(store)
    if parsed.scheme in ("", "file"):
        root_path = _norm_file_path(store)
        out = set()
        for dirpath, _dirnames, filenames in os.walk(root_path):
            for f in filenames:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out.add((p, st.st_mtime_ns, st.st_size))
        return frozenset(out)
    _, fs, root = hadoop_fs(spark, store)
    out = set()
    it = fs.listFiles(root, True)
    while it.hasNext():
        s = it.next()
        out.add((s.getPath().toUri().getPath(), s.getModificationTime(), s.getLen()))
    return frozenset(out)


def _cached_store_rows(spark: SparkSession, table_root: str) -> list | None:
    """Collected rows of the persisted store (None if no store exists),
    served from the driver cache while the store's on-disk fingerprint is
    unchanged; re-collected (and re-cached) after any refresh."""
    store = zone_map_path(table_root)
    if not path_exists(spark, store):
        _STORE_CACHE.pop(store, None)
        return None
    fp = _store_fingerprint(spark, store)
    hit = _STORE_CACHE.get(store)
    if hit is not None and hit[0] == fp:
        return hit[1]
    zm = load_zone_map(spark, table_root)
    if zm is None:  # store vanished between the exists check and the read
        _STORE_CACHE.pop(store, None)
        return None
    rows = zm.collect()
    _STORE_CACHE.pop(store, None)
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


def _norm_file_path(p: str) -> str:
    """Normalize a file URI/path to its plain path component so store
    entries (``file:///x`` from ``_metadata.file_path``) compare equal
    to Hadoop listing output (``file:/x`` or bare ``/x``). Scheme
    stripping is the same regex as :func:`_norm_path_expr` (NOT
    ``urlparse``, which would also truncate at ``?``/``#`` — legal
    filename bytes — where the SQL twin does not), and the decode is
    percent-only (``unquote`` keeps ``+``), so driver and executor
    normalize identically."""
    import re
    from urllib.parse import unquote

    s = re.sub(r"^[a-z][a-zA-Z0-9+.-]*://[^/]*", "", p)
    s = re.sub(r"^[a-z][a-zA-Z0-9+.-]*:", "", s)
    return unquote(s) or p


def _data_file_paths(spark: SparkSession, table_root: str) -> set[str]:
    """Driver-side recursive listing of the table's DATA files (hidden
    ``_``/``.`` entries such as ``_zonemap`` and ``_SUCCESS`` excluded,
    matching Spark's own listing convention). Metadata-scale: one string
    per file, no data read — the same O(files) budget the skipping scan
    already spends collecting the stats rows. Local paths walk the OS
    directly (a py4j round-trip per file would dominate the scan);
    remote filesystems go through the Hadoop FS client."""
    import os
    from urllib.parse import urlparse

    parsed = urlparse(table_root)
    if parsed.scheme in ("", "file"):
        root_path = _norm_file_path(table_root)
        out: set[str] = set()
        for dirpath, dirnames, filenames in os.walk(root_path):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            for f in filenames:
                if not f.startswith(("_", ".")):
                    out.add(os.path.join(dirpath, f))
        return out
    _, fs, root = hadoop_fs(spark, table_root)
    root_path = _norm_file_path(root.toUri().getPath())
    out = set()
    it = fs.listFiles(root, True)
    while it.hasNext():
        p = it.next().getPath().toUri().getPath()
        rel = p[len(root_path) :].lstrip("/") if p.startswith(root_path) else p
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out.add(p)
    return out


#: File-count cutoff above which the candidate list is pruned on the
#: EXECUTORS instead of collecting the whole stats store to the driver.
#: Below it (the common case, and every test fixture in this repo — the
#: sf0.1 clustered layout is ~11.5k files), the cached driver snapshot
#: (:func:`_cached_store_rows`) is strictly faster: one collect amortized
#: across scans, zero extra Spark jobs per scan. Above it the snapshot
#: stops being metadata-cheap — at ~10^6 files (a 100 TB table at
#: 128 MiB/file) the per-file stats rows are hundreds of MB of driver
#: memory per table — so the interval filter runs distributed and ONLY
#: the surviving paths are collected (output-sized, bounded by
#: selectivity, never by table size). 10^5 files ≈ tens of MB of stats
#: rows: comfortably inside driver budget, an order of magnitude away
#: from the failure mode.
DISTRIBUTED_PRUNE_FILES = 100_000

def _norm_path_expr() -> Column:
    """SQL twin of :func:`_norm_file_path` — the SAME transform (strip
    ``scheme://authority`` or ``scheme:``, then PERCENT-ONLY decode) so
    store URIs (``file:///x``) compare equal to driver/Hadoop listing
    paths (``/x``) on both sides of the coverage check. ``url_decode``
    is form decoding (``+`` → space), which the driver's ``unquote``
    does NOT do — a path containing ``+`` would spuriously fail the
    check and force full scans forever — so literal ``+`` is protected
    as ``%2B`` first, making the decode percent-only. Built lazily —
    Column construction needs an active SparkContext."""
    return F.try_url_decode(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("file_path", "^[a-z][a-zA-Z0-9+.-]*://[^/]*", ""),
                "^[a-z][a-zA-Z0-9+.-]*:", "",
            ),
            r"\+", "%2B",
        )
    )


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


def _distributed_prune(
    spark: SparkSession, table_root: str, col: str, lo, hi, live_files: set[str]
) -> tuple[list, int] | None:
    """Executor-side candidate pruning for very-large stores: the stats
    rows never reach the driver. Coverage check = two anti-joins between
    the store's normalized paths and the live listing (both metadata
    columns of strings — the listing itself is O(files) strings, the
    same budget Spark's own file index spends); the interval filter runs
    distributed and only SURVIVING paths are collected. Returns ``None``
    when there is no usable/current store (caller falls back)."""
    zm = load_zone_map(spark, table_root)
    if zm is None or f"min_{col}" not in zm.columns:
        return None
    store_paths = zm.select(_norm_path_expr().alias("p"))
    listing = spark.createDataFrame(
        ((p,) for p in live_files), "p string"
    )
    stale = (
        store_paths.exceptAll(listing).limit(1).count()
        or listing.exceptAll(store_paths).limit(1).count()
    )
    if stale:
        return None
    files_total = zm.count()
    keep = [
        r["file_path"]
        for r in zm.filter(
            F.col(f"min_{col}").isNotNull()
            & F.col(f"max_{col}").isNotNull()
            & (F.col(f"max_{col}") >= F.lit(lo))
            & (F.col(f"min_{col}") <= F.lit(hi))
        )
        .select("file_path")
        .collect()
    ]
    return keep, files_total


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
    ``col``, the candidate list comes from the STORE — a metadata-sized
    read, no table scan at all. The store is trusted only after a
    COVERAGE CHECK: its file set must exactly match a live listing of
    the table's data files (a write that bypassed the sink hook, or a
    crash between the data write and the refresh, leaves the store
    missing/retaining files). On any mismatch — and when there is no
    store — the stats are computed on the fly (one full scan, the
    pre-store behavior), so a stale store can never silently drop rows.

    How the store is consulted depends on table size
    (:data:`DISTRIBUTED_PRUNE_FILES`): below the cutoff the whole store
    is collected once and cached driver-side (:func:`_cached_store_rows`
    — cheapest per scan at metadata scale); at or above it the coverage
    check and interval filter run on the EXECUTORS
    (:func:`_distributed_prune`) and only surviving paths are collected,
    so driver memory is bounded by selectivity, not file count. Both
    paths produce the identical candidate list.
    """
    keep: list | None = None
    files_total = 0
    live = _data_file_paths(spark, table_root)
    if len(live) >= DISTRIBUTED_PRUNE_FILES:
        pruned = _distributed_prune(spark, table_root, col, lo, hi, live)
        if pruned is not None:
            keep, files_total = pruned
        else:
            # stale/unusable store at distributed scale: go STRAIGHT
            # to on-the-fly stats — falling into the driver-snapshot
            # branch would collect the whole store, the exact cost
            # the cutoff exists to avoid at ~10^6 files. Pop the
            # cache so a later refresh is re-read, not served stale.
            _STORE_CACHE.pop(zone_map_path(table_root), None)
            live = None
    if keep is None and live is not None:
        stored_rows = _cached_store_rows(spark, table_root)
        if stored_rows and f"min_{col}" in stored_rows[0].__fields__:
            store_files = {_norm_file_path(r["file_path"]) for r in stored_rows}
            if store_files == live:
                keep, files_total = _prune_rows(stored_rows, col, lo, hi)
            else:
                # stale store (a write bypassed the sink hook, or a
                # crash landed between data write and refresh): drop
                # the cached snapshot, fall through to on-the-fly.
                _STORE_CACHE.pop(zone_map_path(table_root), None)
    if keep is None:
        rows = file_zone_map(spark, table_root, [col]).select(
            "file_path", f"min_{col}", f"max_{col}"
        ).collect()
        keep, files_total = _prune_rows(rows, col, lo, hi)
    if not keep:
        empty = spark.read.parquet(table_root).filter(F.lit(False))
        return empty, 0, files_total
    # basePath keeps Hive partition-column discovery intact even though
    # we hand the reader leaf files instead of the table root.
    df = (
        spark.read.option("basePath", table_root)
        .parquet(*keep)
        .filter(F.col(col).between(lo, hi))
    )
    return df, len(keep), files_total
