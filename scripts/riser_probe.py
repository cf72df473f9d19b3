"""Settle the four K=30 exponent risers with a measurement (r14 verdict
task 4): ``text_bm25_topk`` (0.28→0.43), ``join_interval_overlap``
(0.14→0.45), ``sink_training_shards`` (0.27→0.38) and
``ann_int8_rescore_total`` (0.10→0.31) read HIGHER exponents at K=30
than at K=10 in PROBES_r14.jsonl.  The r14 reading was that each rise is
a fixed scheduling floor amortizing as real (linear) work grows — but
that was an inference.  This probe makes it a measurement two ways:

1. **A K=100 point** for just these rows (plus K=1/10/30), one octave
   past K=30.  If the rise were a true super-linear slope the measured
   adjacent-pair exponent would keep climbing past 1; if it is floor
   amortization toward a linear work term it converges toward 1 from
   below and a two-parameter model explains all four points.
2. **A floor + linear least-squares fit** ``t(K) = a + b*K`` over the
   four points, reporting the fitted floor ``a``, the per-K work ``b``,
   the max relative residual, and the floor-corrected work exponent
   ``e_work = ln((t100-a)/(t10-a)) / ln(10)`` — the "subtract the floor,
   recompute the exponent on the work term" decomposition the verdict
   prescribed, with the floor estimated from the fit rather than a
   hand-built null plan (the fit uses all four points and needs no
   same-shape judgement call).

Replica semantics, knob scaling (n_shards ∝ N), time-shifted intervals
and the fixed-queries discipline are identical to scripts/scale_probe.py
(same scripts/measure.build_derived).  Each row's kernel is warmed
untimed at 1x before any timing (the r14 cold-start lesson), and every
timing is a min-of-2 cold run of the harness.

Usage: python scripts/riser_probe.py      # writes one JSON line
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import best_of, build_derived, cold_run, load_avg  # noqa: E402

# NOTE: the probe bodies below (bm25 / interval-overlap / shards / int8
# rescore) intentionally mirror scripts/scale_probe.py's rows — same
# replica time-shift (35-day stride off event_id), same interval-width
# formula, same n_shards ∝ N knob — so the K=100 exponents are directly
# comparable with the standing K=10/K=30 tables; a semantics change in
# either file must be mirrored in the other.

KS = [1, 10, 30, 100]


def fit_floor_linear(ks, ts):
    """Least squares for t = a + b*k over the probe points."""
    n = len(ks)
    sk = sum(ks)
    skk = sum(k * k for k in ks)
    st = sum(ts)
    skt = sum(k * t for k, t in zip(ks, ts))
    den = n * skk - sk * sk
    b = (n * skt - sk * st) / den
    a = (st - b * sk) / n
    resid = max(abs(a + b * k - t) / t for k, t in zip(ks, ts))
    return a, b, resid


def main() -> None:
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import similarity as SIM
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import text as TX
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.shards import write_training_shards
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import interval_overlap_join
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import token_count

    spark = get_spark(app_name="riser_probe")
    dirs = {k: build_derived(spark, k) for k in KS}

    def tbl(k, name):
        # every scale INCLUDING 1x reads a derived Spark-written copy
        # (same multi-file layout at all scales — scale_probe.py's
        # single-input-split rationale)
        return spark.read.parquet(os.path.join(dirs[k], name + ".parquet"))

    results = {}

    def probe(name, build, setup=lambda k: None):
        # warm the row's kernel with one untimed 1x run first
        setup(1)
        cold_run(spark, lambda: build(1), f"{name}#warm")
        ts = [best_of(spark, lambda: build(k), setup=lambda: setup(k), key=name) for k in KS]
        a, b, resid = fit_floor_linear(KS, ts)
        row = {f"t_{k}x": ts[i] for i, k in enumerate(KS)}
        row["exp_1_10"] = round(math.log(ts[1] / ts[0]) / math.log(10), 3)
        row["exp_10_30"] = round(math.log(ts[2] / ts[1]) / math.log(3), 3)
        row["exp_30_100"] = round(math.log(ts[3] / ts[2]) / math.log(100 / 30), 3)
        row["fit_floor_sec"] = round(a, 3)
        row["fit_per_k_sec"] = round(b, 4)
        row["fit_max_rel_resid"] = round(resid, 3)
        # floor-corrected work exponent over the widest clean span; only
        # meaningful when the fitted floor sits below the measurements
        if ts[1] > a > 0:
            row["exp_work_10_100"] = round(
                math.log((ts[3] - a) / (ts[1] - a)) / math.log(10), 3
            )
        results[name] = row
        print(name, row, flush=True)

    # --- text_bm25_topk -------------------------------------------------
    probe(
        "text_bm25_topk",
        lambda k: TX.bm25_topk(tbl(k, "documents"), ["spark", "query", "join"], k=10),
    )

    # --- join_interval_overlap (time-shifted replicas, as scale_probe) --
    def overlap_join(k):
        ev = tbl(k, "events")
        shift = (F.col("event_id") / F.lit(1_000_000_000)).cast("long") * F.lit(35 * 86400)
        s0 = F.unix_timestamp("ts") + shift

        def intervals(event_type):
            mins = (F.floor("value").cast("long") % 30 + 30) % 30 + 1
            return ev.filter(F.col("event_type") == event_type).select(
                F.col("event_id").alias("id"),
                s0.alias("s"),
                (s0 + mins * 60).alias("e"),
            )

        return interval_overlap_join(intervals("error"), intervals("purchase"), bucket_secs=600)

    probe("join_interval_overlap", overlap_join)

    # --- sink_training_shards (n_shards ∝ N, real write) ----------------
    def shard_write(k):
        src = tbl(k, "documents").select("doc_id", "text", token_count(F.col("text")).alias("n_tokens"))
        write_training_shards(
            src, f"/tmp/riser_probe_shards_{k}", "doc_id", "n_tokens", n_shards=7 * k, epoch=0
        )

    def clear_shards(k):
        shutil.rmtree(f"/tmp/riser_probe_shards_{k}", ignore_errors=True)

    probe("sink_training_shards", shard_write, setup=clear_shards)
    for k in KS:
        clear_shards(k)

    # --- ann_int8_rescore_total (fixed queries; stage 2 is the known
    # scan-bound broadcast-join variant — the fit should read BOTH scans
    # as one linear work term over a floor) -----------------------------
    queries20 = (
        tbl(1, "embeddings").filter(F.col("vec_id") < 20).localCheckpoint(eager=True)
    )
    probe(
        "ann_int8_rescore_total",
        lambda k: SIM.int8_rescore_topk(tbl(k, "embeddings"), queries20, k=10, shortlist=20),
    )

    out = {
        "probe": "riser_k100",
        "ks": KS,
        "load_avg_1_5_15": load_avg(),
        "results": results,
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
