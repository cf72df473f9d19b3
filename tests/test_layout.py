"""Layout operators: z-order clustering locality, zone-map file
skipping, and rollup catch-up repair.

These assert the SCALE properties, not just values (values are covered
by the oracle rows cluster_zorder / stats_zone_map / scan_file_skipping
/ rollup_repair_missing): z-ordered files must have tight per-file
bounds on BOTH interleaved dimensions, and the skipping scan must
actually read fewer files while returning identical rows.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zonemap import (
    file_zone_map,
    partition_zone_map,
    skipping_scan,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zorder import cluster_zorder, zvalue_col, zvalue_sql


def _grid(spark, n=64):
    """n x n integer grid — two uniform dimensions, the adversarial case
    for single-key clustering (sorting by x leaves y spans full-width)."""
    return (
        spark.range(n * n)
        .select(
            F.col("id").alias("rid"),
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
        )
    )


def test_zvalue_matches_reference_interleave(spark):
    # hand-computed Morton values: (x=3 [11], y=5 [101]) with 4 bits
    # -> bits x at even positions, y at odd: 100111 = 39
    row = (
        spark.range(1)
        .select(F.lit(3).alias("x"), F.lit(5).alias("y"))
        .select(zvalue_col(["x", "y"], bits=4))
        .collect()[0]
    )
    assert row["zval"] == 39


def test_zvalue_sql_twin_matches_spark(spark):
    import duckdb

    df = _grid(spark, 16).select("rid", zvalue_col(["x", "y"], bits=4))
    got = {r["rid"]: r["zval"] for r in df.collect()}
    con = duckdb.connect()
    expr = zvalue_sql(["(rid % 16)", "(rid // 16)"], bits=4)
    want = {
        rid: z
        for rid, z in con.execute(
            f"SELECT rid, {expr} FROM (SELECT unnest(generate_series(0, 255)) AS rid)"
        ).fetchall()
    }
    assert got == want


def test_zorder_tightens_per_file_bounds_on_both_dims(spark):
    n = 64
    grid = _grid(spark, n)
    zroot = tempfile.mkdtemp(prefix="sg_zorder_")
    xroot = tempfile.mkdtemp(prefix="sg_xsort_")
    cluster_zorder(grid, ["x", "y"], bits=8, num_files=16).write.mode(
        "overwrite"
    ).parquet(zroot)
    # single-key layout: perfect for x, useless for y
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(xroot)

    def mean_span(root, col):
        zm = file_zone_map(spark, root, [col])
        return (
            zm.select(F.avg(F.col(f"max_{col}") - F.col(f"min_{col}")).alias("s"))
            .collect()[0]["s"]
        )

    # x-sorted layout: y spans stay ~full-width (n-1)
    assert mean_span(xroot, "y") > 0.9 * (n - 1)
    # z-ordered: BOTH dims shrink to a fraction of full width
    assert mean_span(zroot, "x") < 0.5 * (n - 1)
    assert mean_span(zroot, "y") < 0.5 * (n - 1)


def test_skipping_scan_reads_fewer_files_same_rows(spark):
    n = 64
    grid = _grid(spark, n)
    root = tempfile.mkdtemp(prefix="sg_skip_")
    cluster_zorder(grid, ["x", "y"], bits=8, num_files=16).write.mode(
        "overwrite"
    ).parquet(root)

    df, files_read, files_total = skipping_scan(spark, root, "x", 10, 13)
    assert files_total == 16
    assert 0 < files_read < files_total  # zone map actually pruned
    got = sorted(r["rid"] for r in df.collect())
    want = sorted(r["rid"] for r in grid.filter(F.col("x").between(10, 13)).collect())
    assert got == want


def test_skipping_scan_empty_range(spark):
    grid = _grid(spark, 8)
    root = tempfile.mkdtemp(prefix="sg_skip0_")
    grid.write.mode("overwrite").parquet(root)
    df, files_read, files_total = skipping_scan(spark, root, "x", 1000, 2000)
    assert files_read == 0 and files_total > 0
    assert df.count() == 0


def test_skipping_scan_empty_result_reads_one_file(spark, events):
    """A scan that prunes every file answers with one known file's
    schema, not a listing of the whole table: the table's columns with
    partition columns typed as ints, zero rows, at most one input file,
    and (served from the store snapshot) at most one file listed."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import zonemap as ZM
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        write_partition_overwrite,
    )

    day1 = events.filter(F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
    root = tempfile.mkdtemp(prefix="sg_zmnone_")
    write_partition_overwrite(day1, root, create_never=False)
    schema = spark.read.parquet(root).schema
    assert [f.dataType.typeName() for f in schema[-4:]] == ["integer"] * 4
    discovered = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED()

    def scan_none() -> int:
        before = discovered.getCount()
        df, files_read, files_total = ZM.skipping_scan(spark, root, "user_id", 10**9, 10**9 + 1)
        listed = discovered.getCount() - before
        assert files_read == 0 and files_total > 1
        assert df.schema == schema
        assert df.count() == 0
        assert len(df.inputFiles()) <= 1
        return listed

    scan_none()  # no store: stats computed on the fly
    ZM.refresh_zone_map(spark, root, cols=["user_id"])
    scan_none()  # fills the store snapshot
    assert scan_none() <= 1


def test_norm_path_sql_and_driver_agree():
    """The coverage check compares store paths (``_metadata.file_path``
    URIs) normalized by _norm_file_path against the walker's plain
    paths — a wrong normalization makes the check spuriously stale and
    forces full scans forever. Pin the exact output on the tricky cases:
    '+' (form decoding would turn it into a space), '%20', '?'/'#'
    (urlparse would truncate), and scheme://authority forms."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zonemap import (
        _norm_file_path,
    )

    cases = {
        "file:///t/day=a+b/part-0.parquet": "/t/day=a+b/part-0.parquet",  # '+' survives
        "/t/day=a+b/part-1.parquet": "/t/day=a+b/part-1.parquet",
        "file:///t/sp%20ace/part-2.parquet": "/t/sp ace/part-2.parquet",  # %20 decodes
        "hdfs://nn:8020/w/part-3.parquet": "/w/part-3.parquet",
        "/t/odd?mark/part-4.parquet": "/t/odd?mark/part-4.parquet",
        "/t/hash#tag/part-5.parquet": "/t/hash#tag/part-5.parquet",
        "file:/t/single-slash.parquet": "/t/single-slash.parquet",
    }
    assert {p: _norm_file_path(p) for p in cases} == cases


def test_skipping_scan_falls_back_on_stale_store(spark, events):
    """A data file that bypassed the sink hook must fail the coverage
    check (store file set vs. the live walk) and fall back to on-the-fly
    stats — every live row found, none dropped."""
    import glob
    import shutil

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import zonemap as ZM
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        write_partition_overwrite,
    )

    day1 = events.filter(F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
    root = tempfile.mkdtemp(prefix="sg_zmstale_")
    write_partition_overwrite(day1, root, create_never=False)
    ZM.refresh_zone_map(spark, root, cols=["user_id"])

    # rogue write: duplicate one leaf file next to itself, no store refresh
    leaf = sorted(glob.glob(f"{root}/year=*/month=*/day=*/hour=*/part-*.parquet"))[0]
    shutil.copy(leaf, leaf.replace("part-", "part-rogue-"))

    df, files_read, files_total = ZM.skipping_scan(spark, root, "user_id", 0, 10**9)
    live_rows = spark.read.parquet(root).count()  # includes the rogue copy
    assert df.count() == live_rows
    assert files_total == len(ZM._walk_files(spark, root))


def test_skipping_scan_snapshot_hit_launches_no_job(spark, events):
    """A second scan over an unchanged store is served from the driver
    snapshot: it launches exactly the jobs of its final
    ``parquet(*keep)`` read built alone, so walking the table, checking
    the fingerprint and pruning launch none."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import zonemap as ZM
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        write_partition_overwrite,
    )

    from .conftest import run_counting_jobs

    day1 = events.filter(F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
    root = tempfile.mkdtemp(prefix="sg_zmhit_")
    write_partition_overwrite(day1, root, create_never=False)
    ZM.refresh_zone_map(spark, root, cols=["user_id"])

    lo, hi = 0, 4
    ZM.skipping_scan(spark, root, "user_id", lo, hi)  # fills the snapshot
    snapshot = ZM._STORE_CACHE[ZM.zone_map_path(root)]
    (df, files_read, files_total), scan_jobs = run_counting_jobs(
        spark, lambda: ZM.skipping_scan(spark, root, "user_id", lo, hi)
    )
    assert ZM._STORE_CACHE[ZM.zone_map_path(root)] is snapshot  # a hit
    assert 0 < files_read < files_total
    keep, _ = ZM._prune_rows(snapshot[1], "user_id", lo, hi)
    _, read_jobs = run_counting_jobs(
        spark, lambda: spark.read.option("basePath", root).parquet(*keep)
    )
    assert scan_jobs == read_jobs
    assert df.count() == day1.filter(F.col("user_id").between(lo, hi)).count()


def test_zone_map_store_incremental_refresh(spark, events):
    """A partition write must update ONLY that partition's stats rows in
    the persisted store: untouched hours' stats FILES are byte-identical
    (same path, same mtime) and the touched hour's stats reflect the new
    data — the O(batch) maintenance contract."""
    import os

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        write_partition_overwrite,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zonemap import (
        load_zone_map,
        refresh_zone_map,
        skipping_scan,
        zone_map_path,
    )

    day1 = events.filter(F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
    root = tempfile.mkdtemp(prefix="sg_zmstore_")
    write_partition_overwrite(day1, root, create_never=False)
    refresh_zone_map(spark, root, cols=["user_id", "value"])

    store = zone_map_path(root)

    def stats_files():
        out = {}
        for dirpath, _dirs, files in os.walk(store):
            for f in files:
                if f.startswith("part-"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before_files = stats_files()
    before_rows = {
        r["part_key"]: r for r in load_zone_map(spark, root).collect()
    }
    assert len(before_rows) >= 2  # several hours present

    # overwrite ONE hour with shifted user_ids; the sink hook must
    # refresh exactly that hour's stats
    target = sorted(before_rows)[0]
    hour_df = day1.filter(F.hour("ts") == int(target[8:10])).withColumn(
        "user_id", F.col("user_id") + 10_000
    )
    write_partition_overwrite(hour_df, root, partition=target)

    after_files = stats_files()
    untouched_before = {p: m for p, m in before_files.items() if f"part_key={target}" not in p}
    untouched_after = {p: m for p, m in after_files.items() if f"part_key={target}" not in p}
    assert untouched_before == untouched_after  # other hours' stats files untouched

    after_rows = {r["part_key"]: r for r in load_zone_map(spark, root).collect()}
    assert set(after_rows) == set(before_rows)
    assert after_rows[target]["min_user_id"] >= 10_000  # touched hour updated
    for pk in before_rows:
        if pk != target:
            assert after_rows[pk]["min_user_id"] == before_rows[pk]["min_user_id"]

    # skipping scan consults the store: only the rewritten hour's files
    # can contain user_id >= 10_000
    df, files_read, files_total = skipping_scan(spark, root, "user_id", 10_000, 10**9)
    assert files_read < files_total
    assert df.count() == hour_df.count()


def test_zone_map_refresh_tasks_do_not_grow_with_store_depth(spark, tmp_path):
    """An hourly write into a zone-mapped table 48 hours deep launches
    only jobs of a handful of tasks: the refresh learns the store's
    columns from one store leaf instead of listing every hour's stats
    directory (a distributed listing job, one task per hour, once there
    are more than 32). Rewriting an hour with its own rows leaves every
    stats row as it was."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.partition import (
        bq_partition_from_datetime,
        hive_path_from_datetime,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        write_partition_overwrite,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.zonemap import (
        load_zone_map,
        refresh_zone_map,
    )

    from .conftest import run_counting_jobs

    root = tmp_path / "zm_deep"
    hours = [dt.datetime(2024, 1, 1) + dt.timedelta(hours=i) for i in range(48)]
    for i, hour in enumerate(hours):
        leaf = root / hive_path_from_datetime(hour)
        leaf.mkdir(parents=True)
        pq.write_table(
            pa.table({"event_id": [2 * i, 2 * i + 1], "value": [i + 0.25, i + 0.5]}),
            leaf / "part-0.parquet",
        )
    refresh_zone_map(spark, str(root), cols=["event_id", "value"])

    def stats():
        return sorted(
            tuple(r) for r in load_zone_map(spark, str(root)).drop("file_path").collect()
        )

    before = stats()
    assert len(before) == 48
    i = 5
    same_rows = spark.createDataFrame(
        [(2 * i, i + 0.25), (2 * i + 1, i + 0.5)], "event_id long, value double"
    ).coalesce(1)
    _, jobs = run_counting_jobs(
        spark,
        lambda: write_partition_overwrite(
            same_rows, str(root), partition=bq_partition_from_datetime(hours[i])
        ),
    )
    assert jobs and max(jobs) <= 4, jobs
    assert stats() == before


def test_zone_map_cache_detects_foreign_refresh(spark, events):
    """A store refreshed by ANOTHER process must be picked up by a reader
    whose driver cache still holds the old snapshot: the cache hit is
    fingerprint-gated on the store's own file listing, so the stale
    snapshot is discarded and the scan prunes with the NEW stats."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import zonemap as ZM
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        write_partition_overwrite,
    )

    day1 = events.filter(F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
    root = tempfile.mkdtemp(prefix="sg_zmforeign_")
    write_partition_overwrite(day1, root, create_never=False)
    ZM.refresh_zone_map(spark, root, cols=["user_id"])
    store = ZM.zone_map_path(root)

    # warm this process's cache, then capture the (now about-to-be-stale)
    # snapshot entry
    df, files_read, files_total = ZM.skipping_scan(spark, root, "user_id", 0, 10**9)
    assert store in ZM._STORE_CACHE
    stale_entry = ZM._STORE_CACHE[store]

    # "another process": rewrite one hour with shifted ids and refresh the
    # store on disk; then restore the stale cache entry, as if the refresh
    # had happened outside this process entirely
    target = sorted(
        r["part_key"] for r in ZM.load_zone_map(spark, root).collect()
    )[0]
    hour_df = day1.filter(F.hour("ts") == int(target[8:10])).withColumn(
        "user_id", F.col("user_id") + 10_000
    )
    write_partition_overwrite(hour_df, root, partition=target)  # sink hook refreshes
    ZM._STORE_CACHE[store] = stale_entry

    # the cached reader must notice the fingerprint change, re-collect,
    # and prune with the new stats — finding every shifted row while
    # still store-pruned (not the full-scan fallback)
    df, files_read, files_total = ZM.skipping_scan(spark, root, "user_id", 10_000, 10**9)
    assert df.count() == hour_df.count()
    assert 0 < files_read < files_total
    assert ZM._STORE_CACHE[store][0] == ZM._walk_files(spark, store)
    assert ZM._STORE_CACHE[store][0] != stale_entry[0]


def test_zone_map_cache_bounded(spark, events):
    """The driver cache evicts FIFO past _STORE_CACHE_MAX entries — it
    must never grow one ~O(files) snapshot per table root forever."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import zonemap as ZM
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        write_partition_overwrite,
    )

    day1 = events.filter(F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
    root = tempfile.mkdtemp(prefix="sg_zmbound_")
    write_partition_overwrite(day1, root, create_never=False)
    ZM.refresh_zone_map(spark, root, cols=["user_id"])

    saved = dict(ZM._STORE_CACHE)
    try:
        ZM._STORE_CACHE.clear()
        for i in range(ZM._STORE_CACHE_MAX):
            ZM._STORE_CACHE[f"/fake/store/{i}"] = (frozenset(), [])
        assert ZM._cached_store_rows(spark, root) is not None
        assert len(ZM._STORE_CACHE) <= ZM._STORE_CACHE_MAX
        assert ZM.zone_map_path(root) in ZM._STORE_CACHE  # newest kept
        assert "/fake/store/0" not in ZM._STORE_CACHE  # oldest evicted
    finally:
        ZM._STORE_CACHE.clear()
        ZM._STORE_CACHE.update(saved)


def test_partition_zone_map_counts(spark, events):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import with_partition_columns

    day1 = events.filter(F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
    root = tempfile.mkdtemp(prefix="sg_pzm_")
    with_partition_columns(day1).write.partitionBy(
        "year", "month", "day", "hour"
    ).mode("overwrite").parquet(root)
    zm = partition_zone_map(spark, root, ["user_id"]).collect()
    assert sum(r["n_rows"] for r in zm) == day1.count()
    assert all(r["min_user_id"] <= r["max_user_id"] for r in zm)


def test_repair_rollup_idempotent(spark, events):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        create_partitioned_table,
        repair_rollup,
        write_partition_overwrite,
    )

    table_root = tempfile.mkdtemp(prefix="sg_rr_t_")
    rollup_root = tempfile.mkdtemp(prefix="sg_rr_r_")
    create_partitioned_table(spark, table_root)
    hours = ["2024010100", "2024010101"]
    for h in hours:
        batch = events.filter(F.date_format("ts", "yyyyMMddHH") == h)
        write_partition_overwrite(batch, table_root)
    aggs = {"n_rows": "count(*)"}
    first = repair_rollup(spark, table_root, rollup_root, ["event_type"], aggs)
    assert first == hours  # rollup did not exist: everything repaired
    second = repair_rollup(spark, table_root, rollup_root, ["event_type"], aggs)
    assert second == []  # converged: nothing to do, no work scheduled


def test_compact_partition_zorder(spark, events):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
        compact_partition,
        create_partitioned_table,
        read_landing_table,
        write_partition_overwrite,
    )

    table_root = tempfile.mkdtemp(prefix="sg_zc_")
    create_partitioned_table(spark, table_root)
    hour = events.filter(F.date_format("ts", "yyyyMMddHH") == "2024010100")
    write_partition_overwrite(hour, table_root)
    before = sorted(r.event_id for r in read_landing_table(spark, table_root, "2024010100").collect())

    with pytest.raises(ValueError):
        compact_partition(
            spark, table_root, "2024010100", cluster_by=["user_id"], zorder_by=["user_id"]
        )

    n = compact_partition(
        spark,
        table_root,
        "2024010100",
        target_file_bytes=2048,  # force several output files
        zorder_by=["user_id", "event_id"],
    )
    after_df = read_landing_table(spark, table_root, "2024010100")
    after = sorted(r.event_id for r in after_df.collect())
    assert after == before  # content-preserving rewrite
    assert "zval" not in after_df.columns  # layout key does not leak
    if n > 1:
        part_dir = f"{table_root}/year=2024/month=01/day=01/hour=00"
        zm = file_zone_map(spark, part_dir, ["user_id"]).collect()
        full = max(r["max_user_id"] for r in zm) - min(r["min_user_id"] for r in zm)
        mean_span = sum(r["max_user_id"] - r["min_user_id"] for r in zm) / len(zm)
        assert mean_span < full  # curve layout tightened per-file bounds


def test_dpp_join_prunes_fact_partitions(spark):
    """The day-dimension filter must reach the fact scan as a runtime
    partition filter (dynamic partition pruning), so only the three
    'keep' day directories are read."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import QUERIES

    from .conftest import SF_DIR

    out = QUERIES["scan_dpp_join"](spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the runtime filter must be attached to the fact scan's
    # PartitionFilters (inputFiles() can't see it: DPP evaluates at
    # execution, after the static file listing)
    assert "dynamicpruningexpression" in plan.lower()
    # and the pruned result matches a static day filter exactly
    # partition-column inference types `day` as DATE — stringify
    rows = {str(r["day"]): r["n_events"] for r in out.collect()}
    assert set(rows) == {"2024-01-05", "2024-01-12", "2024-01-20"}
    assert all(n > 0 for n in rows.values())


def test_warehouse_audit_classifier(tmp_path):
    """The hygiene audit (scripts/warehouse_audit.py) must accept every
    catalog-fixture store layout and flag everything else — pinned here
    so a new fixture family or a renamed leak can't silently pass."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts")
    )
    from warehouse_audit import audit

    ok = [
        "corpus_bands_a1e8d12c",
        "corpus_bands_cfc1c0f8",
    ]
    # cells stores are path-based versioned roots now: any cells table
    # left in the warehouse is a leftover of the retired managed layout
    leaks = [
        "t_retrain_store__v1",
        "test_bands_ext_collision",
        "corpus_bands_a1e8d12c__compacting",
        "corpus_cells_a1e8d12c__v1",
        "corpus_cells_a1e8d12c__v1__centroids",
        "stream_sem_amort_cells",
        "corpus_bands_nothex99",
        "random_table",
    ]
    for d in ok + leaks:
        (tmp_path / d).mkdir()
    assert audit(str(tmp_path)) == sorted(leaks)
    # a clean warehouse (fixtures only) passes
    empty = tmp_path / "clean"
    empty.mkdir()
    for d in ok:
        (empty / d).mkdir()
    assert audit(str(empty)) == []
