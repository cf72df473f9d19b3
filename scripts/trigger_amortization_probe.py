"""One-off probe for the streaming claim BASELINE.md makes in prose
(r11, verdict task 5): `stream_semantic_dedup`'s bench time measures
PER-TRIGGER FIXED COST (Spark job scheduling, pointer-view resolution,
store append commit), not data work — so draining the same backlog with
bigger triggers should amortize it near-linearly in trigger count.

Fixture: the store is PRE-SEEDED with the corpus half (so the cold-start
wholesale-accept branch stays out of the timing), then the SAME 16
single-file batch drops of the sf0.1 embeddings drain with
maxFilesPerTrigger in {1, 4, 16} — identical bytes, 16 vs 4 vs 1
triggers. Audit counts differ BY DESIGN across trigger sizes
(intra-batch pairs are not compared — the operator's documented
stance — so drops sharing a bigger trigger skip screening against each
other); the invariant checked instead is survivors + audited == batch
total per run.

Each drain is one cold run of scripts/measure.py.

Usage: python scripts/trigger_amortization_probe.py
Writes one JSON line; copy the table into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import BASE_SF, best_of, single_file_drops  # noqa: E402

ROOT = "/tmp/spark_graft_trigger_probe"


def main() -> None:
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import drop_corpus_cells
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.semantic_stream import (
        stream_semantic_dedup,
    )

    spark = get_spark(app_name="trigger_amortization_probe")
    emb = load_table(spark, BASE_SF, "embeddings")
    seed = emb.filter(F.col("vec_id") % 4 != 0)

    # 16 arrival-ordered single-file batch drops (the store is seeded
    # separately, before the clock starts)
    src = single_file_drops(
        [emb.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 16 == i)) for i in range(16)],
        os.path.join(ROOT, "src"),
    )

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        persist_corpus_cells,
        read_corpus_cells,
    )

    n_seed = seed.count()
    n_batch = emb.count() - n_seed
    rows = []
    for mft in (1, 4, 16):
        cells_root = os.path.join(ROOT, f"cells_{mft}")
        audit = os.path.join(ROOT, f"audit_{mft}")
        ckpt = os.path.join(ROOT, f"ckpt_{mft}")

        def reset():
            for d in (audit, ckpt):
                shutil.rmtree(d, ignore_errors=True)
            drop_corpus_cells(spark, cells_root)
            persist_corpus_cells(seed, cells_root, nlist=64)  # outside the clock

        elapsed = best_of(
            spark,
            lambda: stream_semantic_dedup(
                spark, src, cells_root, audit, emb.schema,
                nlist=64, min_cosine=0.3, checkpoint=ckpt,
                max_files_per_trigger=mft,
            ).awaitTermination(),
            runs=1,
            setup=reset,
        )
        n_store = read_corpus_cells(spark, cells_root).count()
        n_audit = spark.read.parquet(audit).count()
        rows.append(
            {
                "maxFilesPerTrigger": mft,
                "n_triggers": -(-16 // mft),
                "sec": elapsed,
                "sec_per_trigger": round(elapsed / -(-16 // mft), 3),
                "survivors": n_store - n_seed,
                "audit_rows": n_audit,
            }
        )
        drop_corpus_cells(spark, cells_root)
        # every batch vector is either appended or audited, exactly once
        assert (n_store - n_seed) + n_audit == n_batch, rows
    print(json.dumps({"rows": rows}))


if __name__ == "__main__":
    main()
