"""One-off staged probe for the SemDeDup family (r11, verdict task 4):
time the operator's three stages SEPARATELY at 1x and Kx so the scaling
exponent can be attributed to a stage instead of guessed at:

  seed   — _seed_centroid_rows: global sort-limit + nlist-row collect
  assign — _assign_cells_blas GEMM + norm (N x nlist x d work)
  full   — the whole semdedup pipeline (assign + cell-pair screen + verdict)

nlist scales with K (the corpus-proportional rule the operator
documents), so `assign` FLOPs grow K^2 by construction — this probe
exists to show whether that term dominates the wall clock yet, and to
size the two-level assignment work. Uses the harness's derived-corpus
builder (1x is also Spark-written, so layouts match); every stage is a
min-of-2 cold run.

Usage: python scripts/semantic_stage_probe.py [K]   (default 10)
Writes one JSON line; copy the numbers into BASELINE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import best_of, build_derived  # noqa: E402


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import similarity as SIM

    spark = get_spark(app_name="semantic_stage_probe")
    base = build_derived(spark, 1)
    derived = build_derived(spark, k)

    def run(sf_dir: str, nlist: int) -> dict:
        def emb():
            return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

        def c():
            return SIM.with_double_embedding(emb(), "embedding").select(
                F.col("vec_id"), F.col("embedding").alias("c_vec")
            )

        c().count()  # warm the scan/JVM so the first timed stage isn't startup
        out = {}
        # the seed stage is a driver-side collect: timed as it is
        out["seed"] = best_of(spark, lambda: SIM._seed_centroid_rows(c(), nlist))
        centroid_rows = SIM._seed_centroid_rows(c(), nlist)
        out["assign"] = best_of(
            spark,
            lambda: SIM._assign_cells_blas(c(), centroid_rows).withColumn(
                "c_norm", SIM._norm(F.col("c_vec"))
            ),
        )
        out["full"] = best_of(
            spark,
            lambda: SIM.semdedup(emb(), nlist=nlist, min_cosine=0.3).select(
                "vec_id", "cell", "keep"
            ),
        )
        return out

    r1 = run(base, 64)
    rk = run(derived, 64 * k)
    exps = {
        s: round(math.log(max(rk[s], 1e-3) / max(r1[s], 1e-3)) / math.log(k), 3)
        for s in ("seed", "assign", "full")
    }
    print(json.dumps({"k": k, "sf1x": r1, f"sf{k}x": rk, "exponents": exps}))


if __name__ == "__main__":
    main()
