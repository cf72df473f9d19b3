"""Manifest-based versioned snapshots: time travel and CDC diff over
plain parquet — the table-format layer (Delta/Iceberg's core trick)
rebuilt from first principles on Hadoop FS primitives.

The reference hard-deletes and rewrites partitions in place
(`WRITE_TRUNCATE`, reference ingestion/bigquery_interaction.py:38-44),
so "what did the table look like before this load?" is unanswerable
there. A snapshot table answers it with two invariants:

1. **Data files are immutable.** Every write lands in a fresh
   ``data/v{N}/`` directory; nothing is ever rewritten or deleted by a
   writer.
2. **The manifest is written LAST.** A version exists once
   ``_manifest/v{N}.json`` exists; readers resolve versions from
   manifests only, so a crashed half-written data directory is simply
   invisible (same reader-side guarantee the reference gets from
   BigQuery's atomic load jobs — SURVEY.md §0 idempotency).

Scale design (100 TB):
* Reads never LIST the data tree — the manifest carries the exact file
  list, so ``read_snapshot`` is O(manifest) metadata work plus a
  parquet scan of exactly the member files (no directory walk over
  millions of objects; the same motivation as Iceberg's avoid-listing
  design).
* ``snapshot_diff`` has a manifest-pruned fast path: when the old
  file list is a subset of the new (append-only history), the diff
  reads ONLY the delta files — CDC extraction costs O(changed data),
  the old version is never scanned. The general path is one key-hash
  full-outer join.
* Single-writer-per-table assumed (the reference's orchestration makes
  the same assumption per partition — SURVEY.md §2.7); manifests make
  concurrent READERS always-consistent, which is the part object
  stores can't give you from directory state.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import (
    delete_path,
    glob_status,
    read_small_file,
    write_small_file,
)

__all__ = [
    "write_snapshot",
    "read_snapshot",
    "snapshot_versions",
    "snapshot_diff",
    "vacuum_snapshots",
    "compact_snapshot",
]

_MANIFEST_DIR = "_manifest"
_DATA_DIR = "data"


def snapshot_versions(spark: SparkSession, root: str) -> list[int]:
    """Committed versions, ascending — resolved from manifests ONLY
    (a data directory without its manifest is not a version)."""
    manifests = glob_status(spark, f"{root}/{_MANIFEST_DIR}/v*.json")
    # each manifest is named v00000001.json
    return sorted(int(st.getPath().getName()[1:-5]) for st in manifests)


def _manifest_path(root: str, version: int) -> str:
    return f"{root}/{_MANIFEST_DIR}/v{version:08d}.json"


def _read_manifest(spark: SparkSession, root: str, version: int) -> dict:
    return json.loads(read_small_file(spark, _manifest_path(root, version)))


def write_snapshot(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    mode: str = "append",
) -> int:
    """Commit ``df`` as the next snapshot version and return it.

    ``mode='append'``: the new version = previous version's files plus
    the new data directory. ``mode='overwrite'``: the new version lists
    only the new files (logical truncate — old files stay on disk for
    time travel; retention is a separate vacuum concern, see
    operators/sink.py vacuum_partitions for the pattern).
    Data first, manifest last: the version becomes visible atomically
    with the manifest file.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot mode: {mode}")
    existing = snapshot_versions(spark, root)
    version = (existing[-1] + 1) if existing else 1
    data_dir = f"{root}/{_DATA_DIR}/v{version:08d}"
    df.write.mode("error").parquet(data_dir)

    new_files = sorted(
        str(st.getPath().toString())
        for st in glob_status(spark, f"{data_dir}/*.parquet")
    )

    files = list(new_files)
    if mode == "append" and existing:
        parent = _read_manifest(spark, root, existing[-1])
        files = parent["files"] + new_files

    manifest = {
        "version": version,
        "mode": mode,
        "files": files,
        "n_files": len(files),
    }
    write_small_file(
        spark, _manifest_path(root, version), json.dumps(manifest)
    )
    return version


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read the table as of ``version`` (default: latest). O(manifest)
    metadata work — the exact member-file list is fed to the reader, no
    directory walk."""
    versions = snapshot_versions(spark, root)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {root}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot v{v} not committed under {root}")
    manifest = _read_manifest(spark, root, v)
    return spark.read.parquet(*manifest["files"])


def snapshot_diff(
    spark: SparkSession,
    root: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level change feed between two committed versions:
    (key_cols..., change ∈ inserted|deleted|updated).

    Fast path: if the old manifest's file list is a subset of the new
    one (append-only history) AND no delta key already exists in the
    old version, every change is an insert and the diff reads only the
    delta files plus a keys-only (column-pruned) scan of the old
    version — CDC costs O(changed data + old keys), never O(old data).
    An upsert-style append (a delta file re-adding an existing key)
    fails that probe and routes through the general path, so both paths
    agree on 'updated' for re-added keys instead of the fast path
    mislabeling them 'inserted'. General path: xxhash64 row digests of
    the non-key columns on both sides, one full-outer join on the key.
    """
    old_m = _read_manifest(spark, root, v_old)
    new_m = _read_manifest(spark, root, v_new)
    old_files, new_files = set(old_m["files"]), set(new_m["files"])

    if old_files <= new_files:
        delta = sorted(new_files - old_files)
        if not delta:
            base = read_snapshot(spark, root, v_new)
            return base.select(*key_cols).limit(0).withColumn(
                "change", F.lit("inserted")
            )
        delta_df = spark.read.parquet(*delta).select(*key_cols)
        old_keys = read_snapshot(spark, root, v_old).select(*key_cols)
        if delta_df.join(old_keys, key_cols, "left_semi").isEmpty():
            return delta_df.withColumn("change", F.lit("inserted"))
        # fall through: append re-added existing keys (upsert-append) —
        # only the digest comparison can label them correctly

    old_df = read_snapshot(spark, root, v_old)
    new_df = read_snapshot(spark, root, v_new)
    value_cols = [c for c in new_df.columns if c not in key_cols]
    digest = F.xxhash64(*[F.col(c) for c in value_cols]) if value_cols else F.lit(0)
    o = old_df.select(*key_cols, digest.alias("__h_old"))
    n = new_df.select(*key_cols, digest.alias("__h_new"))
    joined = o.join(n, key_cols, "full_outer")
    return joined.select(
        *key_cols,
        F.when(F.col("__h_old").isNull(), F.lit("inserted"))
        .when(F.col("__h_new").isNull(), F.lit("deleted"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("updated"))
        .alias("change"),
    ).filter(F.col("change").isNotNull())


def vacuum_snapshots(
    spark: SparkSession,
    root: str,
    keep_last: int = 2,
) -> dict:
    """Retention: keep the last ``keep_last`` versions, delete manifests
    of older versions and every data file no kept version references.
    Immutability makes this safe-by-construction: a file referenced by
    ANY kept manifest is never touched, so readers of kept versions are
    unaffected; readers of vacuumed versions lose time travel — that is
    the retention contract (same shape as the landing table's
    vacuum_partitions). Returns counts for observability.

    Metadata-only cost: the reachable-file set is the union of
    ``keep_last`` manifests (driver-side, bounded by file counts in the
    manifests, no Spark job); deletion is per-file FS calls.
    """
    versions = snapshot_versions(spark, root)
    if len(versions) <= keep_last:
        return {"kept": len(versions), "dropped_versions": 0, "deleted_files": 0}
    kept, dropped = versions[-keep_last:], versions[:-keep_last]
    reachable: set[str] = set()
    for v in kept:
        reachable.update(_read_manifest(spark, root, v)["files"])
    deleted = 0
    for v in dropped:
        for f in _read_manifest(spark, root, v)["files"]:
            if f not in reachable and delete_path(spark, f):
                deleted += 1
        delete_path(spark, _manifest_path(root, v))
    return {
        "kept": len(kept),
        "dropped_versions": len(dropped),
        "deleted_files": deleted,
    }


def compact_snapshot(
    spark: SparkSession,
    root: str,
    target_files: int = 4,
) -> int:
    """Rewrite the LATEST version's content into ``target_files`` files
    and commit it as a new overwrite version — the small-files
    compaction for a long append history (thousands of tiny commits →
    one bounded file set), after which :func:`vacuum_snapshots`
    reclaims the fragmented originals. Readers are never disturbed:
    the compacted version has identical content under a new manifest,
    and every prior version stays readable until vacuumed — the same
    content-preserving rewrite contract as the landing table's
    sink_compact_partition."""
    current = read_snapshot(spark, root)
    return write_snapshot(
        spark, current.coalesce(target_files), root, mode="overwrite"
    )
