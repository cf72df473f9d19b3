"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Every query is timed by scripts/measure.py: min of four cold passes, each
run rebuilding the query after all caches are released and executing it
fully through the noop writer.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scripts.measure import load_avg, time_passes, warm_up  # noqa: E402

BENCH_QUERIES = [
    # ingestion path (reference parity)
    "scan_csv_tab_delimited",
    "sink_partition_overwrite",
    # analytics
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "window_running_total",
    "window_sessionize",
    "join_asof",
    "agg_stats",
    # training-data pipeline
    "sample_hash_split",
    "text_chunk_windows",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "text_quality",
    "multimodal_image_meta",
]

# Added round 4 — NOT part of the 22-query baseline set BENCH_r01/BASELINE.md
# totals were recorded over, so they are benched and reported per-query but
# kept out of the baseline-comparable total (value). The scan pair shares one
# fixture and one oracle: the delta between them is the zone-map
# file-skipping payoff (skip must beat full). The dedup pair are the round-4
# corpus operators (C4 cross-corpus line dedup, SemDeDup).
EXTRA_QUERIES_R4 = [
    "scan_file_skipping",
    "scan_zonemap_full",
    "dedup_lines",
    "dedup_semantic",
]

# Added round 5 — also outside the baseline-comparable total: the
# end-to-end curation funnel, the Misra-Gries heavy-hitter top-k, the
# ExactSubstr-style span audit, JL-prefiltered ANN, and the ISO-BMFF
# video metadata decode.
EXTRA_QUERIES_R5 = [
    "corpus_curation_pipeline",
    "text_heavy_hitters",
    "dedup_spans",
    "ann_jl_rerank",
    "multimodal_video_meta",
    # behavioral analytics + sketch/curriculum additions (also outside
    # the baseline-comparable total)
    "funnel_conversion",
    "dim_scd2",
    "window_concurrency",
    "approx_cms_counts",
    "dedup_normalized",
    "text_bm25_topk",
    "agg_mode",
    # second-half-of-round-5 additions (still outside the baseline
    # total): Gopher repetition signals, the in-plan Naive Bayes
    # classifier, the training-shard sink (full write→verify path),
    # cluster-aware leakage-safe splits, top-k path mining, and the
    # single-scan expectation suite.
    "text_repetition_filter",
    "classify_naive_bayes",
    "sink_training_shards",
    "sample_split_leakage_safe",
    "path_topk",
    "quality_expectations",
]

# Added round 6 — outside the baseline-comparable total: the newly
# oracle-checked BPE train/encode pipeline and no-split FFD packing,
# plus the segmented-fold ts_ewma rewrite (regression watch on the
# bounded per-day shape) and the REST-surface lifecycle query.
EXTRA_QUERIES_R6 = [
    "text_bpe_merges",
    "text_bpe_encode",
    "pack_first_fit",
    "ts_ewma",
    "api_ingest_lifecycle",
    # second wave: the semantic-incremental family + sketch/monitor keys
    "dedup_semantic_incremental",
    "dedup_semantic_bucketed",
    "stream_semantic_dedup",
    "approx_quantile_hashmin",
    "monitor_freshness",
    "text_bpe_coverage",
]

EXTRA_QUERIES_R8 = [
    "ann_int8_rescore",
    "window_sliding_distinct",
    "window_sliding_quantile",
    "approx_kmv_distinct",
    # round-6 keys the r7 promotion missed
    # (stream_sliding_distinct is deliberately unbenched: a full
    # streaming replay per pass would add ~80s of fixture time for a
    # number that measures the harness, not the operator)
    "join_interval_overlap",
    "corpus_release_manifest",
]

# Added round 12 — outside the baseline-comparable total: the
# amortized-trigger twin of stream_semantic_dedup (pre-seeded store,
# 16 batch drops drained at maxFilesPerTrigger=16). The mft=1 key keeps
# measuring the per-trigger scheduler floor; this one measures the data
# work — the pair quantifies the amortization lever BASELINE.md's
# round-11 probe table documents. Since round 13 the O(corpus) store
# seed (drop + persist_corpus_cells) runs OUTSIDE the timed region via
# seed_amortized_store, so the timed figure is the one screen+append
# trigger, not seed-plus-trigger.
EXTRA_QUERIES_R12 = [
    "stream_semantic_dedup_amortized",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import (
        QUERIES,
        seed_amortized_store,
    )

    spark = get_spark(app_name="bench")
    warm_up(spark, sf_dir)

    def build(name):
        if name == "stream_semantic_dedup_amortized":
            return QUERIES[name](spark, sf_dir, pre_seeded=True)
        return QUERIES[name](spark, sf_dir)

    def setup(name):
        # pay the O(corpus) store seed outside the timer — the timed
        # figure isolates the per-trigger screen+append
        if name == "stream_semantic_dedup_amortized":
            seed_amortized_store(spark, sf_dir)

    # Four cold passes, report the min: the host shows intermittent
    # hypervisor CPU-steal waves (observed 3-15x inflation for whole
    # passes); the min measures the query, not the noise.
    names = BENCH_QUERIES + EXTRA_QUERIES_R4 + EXTRA_QUERIES_R5 + EXTRA_QUERIES_R6 + EXTRA_QUERIES_R8 + EXTRA_QUERIES_R12
    timings = {k: min(v) for k, v in time_passes(spark, names, build, 4, setup).items()}

    # value = the 22-query set BASELINE.md totals compare against;
    # grand_total additionally includes the post-baseline additions.
    total = round(sum(timings[q] for q in BENCH_QUERIES), 3)
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "baseline_comparable_queries": len(BENCH_QUERIES),
                "grand_total": round(sum(timings.values()), 3),
                # the host drifts between a fast and a ~1.7x slow era, so
                # the artifact carries its own load snapshot
                "load_avg_1_5_15": load_avg(),
                # every run releases all caches first (scripts/measure.py)
                "cold_per_pass": True,
                # keep the line short: an over-long line is cut by tail
                # capture; the full prose lives in BASELINE.md
                "era_note": "~1.7x fast/slow host eras; quote quietest of >=3 runs",
                "twin_note": "stream_semantic_dedup = frozen baseline twin; scale path is _amortized",
            }
        )
    )


if __name__ == "__main__":
    main()
