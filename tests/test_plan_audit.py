"""Structural plan audit across the catalog: the two pathologies that
silently kill 100-TB scale — row-at-a-time Python evaluation
(BatchEvalPython; every Python kernel in this repo must ride Arrow) and
cartesian products — must not appear in any compute query's physical
plan. Fixture-backed keys (filesystem layouts, streaming, media stores)
are skipped: their plans depend on fixture state and their scale
properties are pinned by their own dedicated tests.
"""

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# fixture-building / streaming / filesystem-dependent keys
_SKIP_PREFIXES = (
    "scan_",
    "sink_",
    "stream_",
    "source_",
    "probe_",
    "ddl_",
    "backfill",
    "rollup_",
    "cluster_",
    "stats_",
    "partition_",
    "job_",
    "multimodal_",
    "filter_require",
    "fn_uuid",
    "dedup_incremental",
    "ann_ivf_pq",
)


def test_no_row_udfs_or_cartesian_products_in_compute_plans(spark):
    issues = []
    checked = 0
    for name, fn in QUERIES.items():
        if any(name.startswith(p) for p in _SKIP_PREFIXES):
            continue
        checked += 1
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            issues.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
        if "CartesianProduct" in plan:
            issues.append(f"{name}: CartesianProduct")
    assert checked > 100  # the audit must actually cover the catalog
    assert not issues, "\n".join(issues)


def test_ts_ewma_collect_list_is_segment_bounded(spark):
    """ts_ewma must never collect a user's FULL history into one row
    (executor-OOM at 100 TB for a hot entity): every collect_list in
    its plan has to sit under an aggregate keyed by (user, segment),
    never by the entity alone. The per-user merge collects day-level
    SEGMENT structs — bounded by the calendar, not by event count."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra import q_ts_ewma

    df = q_ts_ewma(spark, SF_DIR)
    plan = df._jdf.queryExecution().analyzed().toString()
    agg_lines = [
        ln for ln in plan.splitlines() if "collect_list" in ln
    ]
    assert agg_lines, "expected collect_list segments in the ts_ewma plan"
    for ln in agg_lines:
        if "Aggregate" not in ln:
            continue
        # raw event values may only be collected per (user, day) segment
        if "'v" in ln or "value" in ln:
            assert "day" in ln, f"unsegmented event collect_list: {ln[:200]}"


def test_semantic_store_screen_is_partition_pruned(spark):
    """The persisted-cells screen (the steady-state per-micro-batch
    join of continuous semantic dedup) must read ONLY the batch's
    touched cell partitions of the store: an unpruned scan is O(corpus)
    I/O per micro-batch — the scale-killer the partitioned layout
    exists to remove. Pinned here at the catalog surface so a layout
    regression (e.g. the filter no longer reaching the scan) fails even
    if the operator-level test drifts."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import QUERIES

    plan = (
        QUERIES["dedup_semantic_bucketed"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    store_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "c_norm" in ln  # only the store carries norms
    ]
    assert store_scans, "expected a FileScan of the persisted cells store"
    for ln in store_scans:
        # a non-partitioned regression has NO PartitionFilters section
        assert "PartitionFilters:" in ln, f"store scan not partitioned: {ln[:200]}"
        assert "PartitionFilters: []" not in ln, f"unpruned store scan: {ln[:200]}"
        tail = ln.split("PartitionFilters:")[1][:200]
        assert "cell" in tail and ("INSET" in tail or " IN " in tail), (
            f"no cell IN-filter: {tail}"
        )


def _distinct_scan_counts(plan: str) -> dict:
    """Distinct FileScan derivations per parquet location. A persisted
    intermediate's scan is echoed verbatim (same attribute ids) inside
    every InMemoryTableScan relation description, while a genuinely
    re-derived branch gets FRESH attribute ids — so dedup on a prefix
    of the node signature (echoes truncate the same node at different
    widths; the distinguishing ids appear early)."""
    import re

    scans: dict[str, set] = {}
    for m in re.finditer(
        r"FileScan parquet [^\n]*?\[([^\]]*)\][^\n]*Location: "
        r"InMemoryFileIndex(?:\(\d+ paths\))?\[([^\],]+)",
        plan,
    ):
        scans.setdefault(m.group(2).rsplit("/", 1)[-1], set()).add(
            m.group(1)[:60]
        )
    return {loc: len(sigs) for loc, sigs in scans.items()}


def test_no_repeated_expensive_derivations(spark):
    """Regression pin for the round-11 repeated-derivation fixes (found
    by a one-off catalog-wide plan audit, BASELINE.md "Round-11
    repeated-derivation audit"): each of these plans used to re-derive a
    shared expensive parent once per consuming branch — 4-6 corpus
    scans where the algorithm needs 1-3. The bound is the documented
    minimum for each shape; a regression (dropped persist, re-split
    aggregation) re-inflates the count and fails here long before a
    bench regression is noticed."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import QUERIES

    max_scans = {
        "text_js_divergence": 1,    # one agg + stack unpivot
        "sample_temperature_mix": 2,  # persisted per-domain agg + mix join
        "approx_cms_counts": 1,     # persisted tokenized words
        "monitor_psi_drift": 3,     # thr collect + p + q (the minimum)
        "text_rank_rbo": 2,         # dfreq + fused ranking agg
        "dedup_edit_distance": 3,   # self-join 2 + one cached-echo variant
        "dedup_semantic": 1,        # persisted assignment
        "dedup_semantic_jl": 1,     # persisted projection+assignment
        "dedup_semantic_incremental": 2,  # corpus + persisted batch side
        "profile_corpus_report": 3,  # docs + repetition join + source mix
        "dedup_incremental": 3,  # corpus sha + corpus bands + cached batch
    }
    issues = []
    for name, bound in max_scans.items():
        plan = (
            QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for loc, n in _distinct_scan_counts(plan).items():
            if n > bound:
                issues.append(f"{name}: {loc} derived x{n} (bound {bound})")
    assert not issues, "\n".join(issues)
