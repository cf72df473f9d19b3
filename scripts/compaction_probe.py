"""Compaction probe (r15 verdict task 1, done-criterion 3): show the
refine GET degrading as appends accumulate files per cell, and
compact_ivf_pq_index restoring the build's one-sorted-file-per-cell
cost — values bit-identical throughout.

Setup: the 10× derived embeddings corpus (scripts/measure.build_derived —
driver sf0.1 data, id-shifted + epsilon-perturbed replicas; 20k
vectors), nlist = 160 per the ∝-corpus maintenance contract. The index
is built on the first 1/11 of the corpus, then grown by TEN O(batch)
appends (a production day of hourly batches); each append adds one
file per touched cell, so hot cells end ~11 files deep. The probed
quantities (all min-of-2 cold runs of the harness, fixed pre-collected
Q×shortlist so ONLY the get is timed — same as scale_probe's
refine_get row):

* ``refine_get_appended``   — stage-2 GET against the 10-append index
* ``stage1_appended``       — ADC shortlist scan against it
* ``refine_get_compacted``  — same GET after compact_ivf_pq_index
* ``stage1_compacted``      — same scan after compaction
* file stats before/after, and a value-equality check of the full
  rescore top-k (pure re-layout — must hash equal).

Reference point: ``refine_get_fresh`` / ``stage1_fresh`` against a
from-scratch single-build index over the SAME total corpus — the
compacted numbers should match these (identical layout), the appended
numbers exceed them by the per-cell footer-open multiple.

Usage: python scripts/compaction_probe.py   (one JSON line out)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import best_of, build_derived, noop  # noqa: E402

DERIVED_ROOT = "/tmp/spark_graft_compact_probe"


def main() -> None:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        _ivf_pq_adc_scored,
        _refine_rescore,
        append_ivf_pq_index,
        build_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_index_file_stats,
        ivf_pq_rescore_topk,
        ivf_pq_search,
    )

    spark = get_spark(app_name="compaction_probe")
    corpus_dir = build_derived(spark, 10)
    emb = spark.read.parquet(os.path.join(corpus_dir, "embeddings.parquet"))
    n = emb.count()
    queries20 = emb.filter(F.col("vec_id") < 20)
    nlist = 160  # ∝ corpus (16 per 1x, same contract as scale_probe)

    shutil.rmtree(DERIVED_ROOT, ignore_errors=True)
    os.makedirs(DERIVED_ROOT)
    appended = f"{DERIVED_ROOT}/appended"
    fresh = f"{DERIVED_ROOT}/fresh"

    # fresh single-build reference over the whole corpus
    build_ivf_pq_index(
        emb, fresh, nlist=nlist, m=8, codebook_size=nlist, store_vectors=True
    )
    # build on 1/11, grow with TEN O(batch) appends. vec_id is NOT
    # contiguous in the derived corpus (replica stride 10M), so batch
    # bounds come from a percentile split on the actual ids.
    ids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").collect()]
    cut = len(ids) // 11
    build_ivf_pq_index(
        emb.filter(F.col("vec_id") <= ids[cut - 1]),
        appended,
        nlist=nlist,
        m=8,
        codebook_size=nlist,
        store_vectors=True,
    )
    for b in range(10):
        lo = ids[cut * (b + 1) - 1]
        hi = ids[min(cut * (b + 2) - 1, len(ids) - 1)]
        batch = emb.filter((F.col("vec_id") > lo) & (F.col("vec_id") <= hi))
        if b == 9:  # remainder rides in the last batch
            batch = emb.filter(F.col("vec_id") > lo)
        append_ivf_pq_index(batch, appended)

    # warm the kernels (cold start fakes deltas)
    noop(ivf_pq_search(spark, fresh, queries20, k=1, nprobe=1))

    def stage1_time(root):
        return best_of(spark, lambda: ivf_pq_search(spark, root, queries20, k=20, nprobe=3))

    def refine_get_time(root):
        scored = _ivf_pq_adc_scored(spark, root, queries20, 20, 3, "vec_id", "embedding")
        w1 = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        short = (
            scored.withColumn("rnk", F.row_number().over(w1))
            .filter(F.col("rnk") <= 20)
            .select("query_id", "vec_id", "cell")
            .collect()
        )
        return best_of(spark, lambda: _refine_rescore(spark, root, short, queries20, 10))

    def topk_rows(root):
        return sorted(
            map(
                tuple,
                ivf_pq_rescore_topk(
                    spark, root, queries20, k=10, shortlist=20, nprobe=3
                ).collect(),
            )
        )

    out = {"n_vectors": n, "nlist": nlist, "n_appends": 10}
    out["files_appended"] = ivf_pq_index_file_stats(spark, appended)
    out["stage1_fresh"] = stage1_time(fresh)
    out["refine_get_fresh"] = refine_get_time(fresh)
    out["stage1_appended"] = stage1_time(appended)
    out["refine_get_appended"] = refine_get_time(appended)
    rows_before = topk_rows(appended)
    res = compact_ivf_pq_index(spark, appended)
    out["compact_result"] = res
    out["files_compacted"] = ivf_pq_index_file_stats(spark, appended)
    out["stage1_compacted"] = stage1_time(appended)
    out["refine_get_compacted"] = refine_get_time(appended)
    out["values_identical_pre_post"] = topk_rows(appended) == rows_before
    # appended-vs-rebuilt equality: same quantizer (seed ids live in the
    # build subset), so the compacted index must equal the fresh build
    out["values_equal_fresh_rebuild"] = topk_rows(fresh) == rows_before

    print(json.dumps({"metric": "compaction_probe", "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
