"""Retrain-at-scale probe (r17 verdict task 4): pin the one
maintenance operator that had no measured exponent.
``retrain_ivf_pq_index`` is one full read of the refine store
(irreducible — the re-assignment must see every vector) + a sampled
k-means fit + one clustering shuffle of the re-encoded rows — the
docstring's claim is "maintenance-time cost, same class as the
original build". This probe measures that claim across octaves
(default 1× and 10×; pass octaves as argv, e.g. ``1 10 100``):

* ``retrain_Kx``      — wall time of retrain_ivf_pq_index (trained
                        k-means fit, nlist ∝ corpus per the
                        maintenance contract), min-of-2;
* ``build_Kx``        — wall time of build_ivf_pq_index over the SAME
                        corpus at the SAME nlist (the reference class),
                        min-of-2;
* ``exponents``       — log10(t_10x / t_1x) for both: the "same class"
                        claim holds iff the two exponents track each
                        other (both are dominated by the linear encode
                        + clustering-shuffle term; the k-means fit is
                        capped at ~256·nlist sampled rows);
* ``retrain_vs_build`` ratios per size — retrain pays the refine-store
                        READ the build gets as a DataFrame argument,
                        so ~1× is the expected band.

Every cell is a min-of-2 cold run of scripts/measure.py (each build into
a fresh root; both retrain arms of a size run on its last build),
kernels warmed by a small throwaway build first, never overlapped with
bench/pytest.

Usage: python scripts/retrain_probe.py [K ...]   (one JSON line out)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import BASE_SF, best_of, build_derived, load_avg  # noqa: E402

PROBE_ROOT = "/tmp/spark_graft_retrain_probe"


def main() -> None:
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        retrain_ivf_pq_index,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    spark = get_spark(app_name="retrain_probe")
    shutil.rmtree(PROBE_ROOT, ignore_errors=True)
    os.makedirs(PROBE_ROOT)

    # warm the JVM/Arrow/kmeans paths so the 1x cell isn't a cold-start
    warm = load_table(spark, BASE_SF, "embeddings").filter(F.col("vec_id") < 200)
    build_ivf_pq_index(
        warm, f"{PROBE_ROOT}/warm", nlist=4, m=8, codebook_size=16,
        store_vectors=True,
    )
    retrain_ivf_pq_index(spark, f"{PROBE_ROOT}/warm", nlist=4)

    ks = [int(x) for x in sys.argv[1:]] or [1, 10]
    out = {"metric": "retrain_probe", "ks": ks, "phases": {}}
    times = {}
    for k in ks:
        def emb():
            if k == 1:
                return load_table(spark, BASE_SF, "embeddings")
            return spark.read.parquet(os.path.join(build_derived(spark, k), "embeddings.parquet"))

        n = emb().count()
        nlist = 16 * k  # ∝ corpus, same contract as scale/compaction probes
        # PQ codebooks stay at most 256 entries (the FAISS 8-bit code
        # convention): nlist scales with the corpus, codebooks do not
        cb = min(nlist, 256)

        roots: list[str] = []
        build = best_of(
            spark,
            lambda: build_ivf_pq_index(
                emb(), roots[-1], nlist=nlist, m=8, codebook_size=cb, store_vectors=True,
            ),
            setup=lambda: roots.append(f"{PROBE_ROOT}/idx_{k}x_{len(roots)}"),
        )

        def retrain(**budget):
            res = retrain_ivf_pq_index(spark, roots[-1], nlist=nlist, **budget)
            assert res["n_rows"] == n, (res, n)

        # the UNTUNED fit budget (pre-r19 default: 256 samples/centroid,
        # MLlib's 20 iterations) — kept as the probe's reference arm now
        # that the capped budget is the operator default
        untuned = best_of(spark, lambda: retrain(fit_sample_per_cell=256, fit_max_iter=20))
        # the r19 DEFAULT budget (64 samples/centroid, 10 iterations,
        # k-means|| seeding kept — random init measured recall-flaky from
        # a stale quantizer): the levers that bound the fit's quadratic
        # term at large nlist
        tuned = best_of(spark, retrain)
        times[k] = (build, untuned)
        out["phases"][f"{k}x"] = {
            "rows": n,
            "nlist": nlist,
            "build": build,
            "retrain": untuned,
            "retrain_tuned": tuned,
            "retrain_vs_build": round(untuned / build, 3),
            "retrain_tuned_vs_build": round(tuned / build, 3),
        }

    out["exponents"] = {}
    for lo, hi in zip(ks, ks[1:]):
        span = math.log10(hi / lo)
        out["exponents"][f"build_{lo}x_{hi}x"] = round(
            math.log10(times[hi][0] / times[lo][0]) / span, 3
        )
        out["exponents"][f"retrain_{lo}x_{hi}x"] = round(
            math.log10(times[hi][1] / times[lo][1]) / span, 3
        )
    out["load_avg_1_5_15"] = load_avg()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
