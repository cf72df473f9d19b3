"""Managed-table lifecycle helpers for the one metastore-backed store:
the bucketed corpus MinHash bands store (operators/dedup.py). The
path-based stores (IVF-PQ index, corpus cells) publish through
operators/_publish.py instead and never touch the metastore.

A managed-table directory can outlive the metastore that created it
(each session gets a fresh local metastore); ``saveAsTable`` refuses to
reuse such an orphaned location, so writers must drop both the catalog
entry and the stale dir before overwriting. EXTERNAL table locations
are never deleted — a name collision with an external table must not
destroy shared data this code does not own.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import (
    delete_path,
    hadoop_fs,
)

__all__ = ["drop_managed_table", "compact_bucketed_store", "store_file_stats"]


def drop_managed_table(spark: SparkSession, table_name: str) -> None:
    """Drop ``table_name`` if present and delete its directory ONLY when
    the table is (or defaults to) MANAGED — see module docstring."""
    if spark.catalog.tableExists(table_name):
        # Known to THIS metastore: resolve real location/type from the
        # catalog (correct for qualified names and non-default
        # LOCATIONs), drop, then sweep the dir only for MANAGED tables.
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()
        locs = [r["data_type"] for r in desc if r["col_name"] == "Location"]
        types = [r["data_type"] for r in desc if r["col_name"] == "Type"]
        managed = bool(types) and types[0].strip().upper() == "MANAGED"
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        if managed:
            for loc in locs:
                delete_path(spark, loc)
    elif table_name.isidentifier():
        # Not in the metastore: the only dir we may own is the default
        # managed location of an UNQUALIFIED simple name directly under
        # the warehouse root — for qualified/exotic names no path is
        # derivable, so nothing is deleted.
        warehouse = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
        delete_path(spark, f"{warehouse}/{table_name.lower()}")


def _table_location(spark: SparkSession, table_name: str) -> str:
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()
    locs = [r["data_type"] for r in desc if r["col_name"] == "Location"]
    if not locs:
        raise ValueError(f"no location for table {table_name}")
    return locs[0]


def store_file_stats(spark: SparkSession, table_name: str) -> dict:
    """Metadata-only (no Spark job) data-file count + byte total for a
    managed store — the small-files health number a maintenance loop
    watches. Every ``insertInto`` append adds one file per bucket per
    task, so a continuously-appended store trends toward many tiny
    files until compacted."""
    _, fs, root = hadoop_fs(spark, _table_location(spark, table_name))
    n_files, n_bytes = 0, 0
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if st.isFile() and not name.startswith("_") and not name.startswith("."):
            n_files += 1
            n_bytes += st.getLen()
    return {"n_files": n_files, "n_bytes": n_bytes}


def compact_bucketed_store(spark: SparkSession, table_name: str) -> dict:
    """Rewrite a bucketed store in place, collapsing the per-append
    small files down to ONE file per bucket — the maintenance twin of
    the landing table's ``compact_partition``, for the corpus-bands
    store whose O(batch) appends each add a file per bucket.

    The bucket spec (count, columns, sort columns) is read back from
    the catalog so the compacted layout is bit-compatible with the
    store's join contract, and ``repartition(n, bucket_cols)`` ahead of
    the write puts each bucket's rows in exactly one task → one file.

    Crash safety: the compacted copy is FULLY WRITTEN to a staging
    table first; only then is the original dropped and the staging
    table renamed into place. A crash mid-compaction therefore leaves
    either the original intact (plus a reclaimable ``__compacting``
    staging table a re-run overwrites) or, in the narrow drop→rename
    window, the completed staging copy recoverable by name — never a
    state where the data exists nowhere. Returns
    {files_before, files_after, n_rows}.
    """
    from pyspark.sql import functions as F

    desc = {r["col_name"]: r["data_type"] for r in
            spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()}
    n_buckets = int(desc["Num Buckets"])
    bucket_cols = [c.strip().strip("`") for c in
                   desc["Bucket Columns"].strip("[]").split(",")]
    sort_cols = [c.strip().strip("`") for c in
                 desc.get("Sort Columns", "[]").strip("[]").split(",") if c.strip()]
    before = store_file_stats(spark, table_name)["n_files"]
    staging = f"{table_name}__compacting"
    drop_managed_table(spark, staging)  # reclaim any crashed prior run
    # localCheckpoint breaks the bucketed-scan lineage: the scan CLAIMS
    # HashPartitioning(bucket_cols, n) so the planner elides the
    # repartition below, while auto-bucketed-scan still splits by FILE —
    # one write task per input file, defeating the compaction. A
    # checkpointed source has unknown partitioning, so the repartition
    # stands and each bucket lands in exactly one task.
    df = spark.table(table_name).localCheckpoint(eager=True)
    n_rows = df.count()
    writer = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").mode("overwrite").saveAsTable(staging)
    drop_managed_table(spark, table_name)
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table_name}")
    after = store_file_stats(spark, table_name)["n_files"]
    return {"files_before": before, "files_after": after, "n_rows": n_rows}
