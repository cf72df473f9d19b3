"""One-off scale-evidence probe: time the most expensive operators at
sf0.1 and at a K×-replicated derivative, and report per-operator scaling
exponents (t ∝ N^e → e = ln(tK/t1)/ln(K)).

The K× corpus is DERIVED from the driver-provided sf0.1 parquet (never
hand-synthesized data): each replica shifts ids, perturbs embeddings by
a tiny deterministic epsilon (so SemDeDup doesn't see K exact copies of
every vector — an artifact replication would introduce, not a property
of a real 10× corpus), appends a replica token to text (fresh shingle
hashes), and remaps user ids (so per-entity history stays constant and
only entity COUNT scales — the shape a growing corpus actually has).

Operators with corpus-proportional knobs scale them with K, exactly as
their docstrings prescribe for production: SemDeDup's nlist ∝ N (keeps
cells bounded, the paper rule), the shard sink's n_shards ∝ N (keeps
per-shard file size constant). The rest claim linear shape with fixed
knobs and are timed as-is.

Usage: python scripts/scale_probe.py [K]   (default K=10)
Writes one JSON line; copy the numbers into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = "/root/testdata/sf0.1"
DERIVED = "/tmp/spark_graft_scale_probe"


def build_derived(spark, k: int) -> str:
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    out = f"{DERIVED}_{k}x"
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    reps = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("rep")

    docs = load_table(spark, BASE_SF, "documents").select("*", reps)
    docs.select(
        (F.col("doc_id") + F.col("rep").cast("long") * F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" r"), F.col("rep")).alias("text"),
        "lang", "source",
    ).withColumn(
        # n_chars must describe the REPLICA's text, not the original's
        "n_chars", F.length("text").cast("long")
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    emb = load_table(spark, BASE_SF, "embeddings").select("*", reps)
    emb.select(
        (F.col("vec_id") + F.col("rep").cast("long") * F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda v: (v + F.col("rep").cast("float") * F.lit(0.0011)).cast("float"),
        ).alias("embedding"),
        "label",
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))

    ev = load_table(spark, BASE_SF, "events").select("*", reps)
    ev.select(
        (F.col("event_id") + F.col("rep").cast("long") * F.lit(1_000_000_000)).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("rep").cast("long") * F.lit(1_000_000)).alias("user_id"),
        "event_type", "value", "props",
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))

    open(os.path.join(out, "_READY"), "w").close()
    return out


def timed(df, runs: int = 2) -> float:
    best = None
    for _ in range(runs):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t = time.time() - t0
        best = t if best is None else min(best, t)
    return round(best, 3)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import classify as CL
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import similarity as SIM
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import text as TX
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.shards import write_training_shards
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import token_count
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    spark = get_spark(app_name="scale_probe")
    # the 1x baseline is ALSO a derived Spark-written copy: identical
    # 32-file layout at both scales, so the ratio measures per-row work,
    # not the driver testdata's single-input-split parallelism artifact
    base = build_derived(spark, 1)
    derived = build_derived(spark, k)

    import math

    results = {}

    def tbl(sf, name):
        # the derived set is Spark-written (proper timestamps, multi-file
        # dirs); load_table's pyarrow normalization is for the driver's
        # single-file testdata only
        if sf == BASE_SF:
            return load_table(spark, sf, name)
        return spark.read.parquet(os.path.join(sf, name + ".parquet"))

    def probe(name, fn):
        t1 = fn(base, 1)
        tk = fn(derived, k)
        results[name] = {
            "t_sf0.1": t1,
            f"t_{k}x": tk,
            "exponent": round(math.log(tk / t1) / math.log(k), 3),
        }

    def docs_of(sf):
        return tbl(sf, "documents")

    # corpus-proportional knob: nlist ∝ N (SemDeDup paper rule)
    probe(
        "dedup_semantic",
        lambda sf, kk: timed(
            SIM.semdedup(
                tbl(sf, "embeddings"), nlist=64 * kk, min_cosine=0.3
            ).select("vec_id", "cell", "keep")
        ),
    )
    probe(
        "classify_naive_bayes",
        lambda sf, kk: timed(
            CL.naive_bayes_confusion(docs_of(sf), "doc_id", "text", "lang")
        ),
    )
    probe(
        "text_repetition_filter",
        lambda sf, kk: timed(TX.repetition_signals(docs_of(sf), "doc_id", "text")),
    )
    probe(
        "text_bm25_topk",
        lambda sf, kk: timed(
            TX.bm25_topk(docs_of(sf), ["spark", "query", "join"], k=10)
        ),
    )

    # shard sink: n_shards ∝ N keeps per-shard size constant; timing is
    # the real write (the write IS the operator), not a noop
    def shard_probe(sf, kk):
        src = docs_of(sf).select(
            "doc_id", "text", token_count(F.col("text")).alias("n_tokens")
        )
        best = None
        for _ in range(2):
            root = f"/tmp/scale_probe_shards_{kk}"
            shutil.rmtree(root, ignore_errors=True)
            t0 = time.time()
            write_training_shards(src, root, "doc_id", "n_tokens", n_shards=7 * kk, epoch=0)
            t = time.time() - t0
            best = t if best is None else min(best, t)
        return round(best, 3)

    probe("sink_training_shards", shard_probe)

    # Interval-overlap join: replicas are TIME-SHIFTED (35 days apart,
    # recovered from the event_id's replica stride) so interval density
    # per bucket stays constant and the probe measures the PLAN's
    # scaling — a growing corpus covers a longer time range; without
    # the shift the pair OUTPUT itself grows quadratically by overlap
    # semantics, which would swamp the plan signal.
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import interval_overlap_join

    def overlap_probe(sf, kk):
        ev = tbl(sf, "events")
        shift = (F.col("event_id") / F.lit(1_000_000_000)).cast("long") * F.lit(35 * 86400)
        s0 = F.unix_timestamp("ts") + shift

        def intervals(event_type):
            mins = (F.floor("value").cast("long") % 30 + 30) % 30 + 1
            return ev.filter(F.col("event_type") == event_type).select(
                F.col("event_id").alias("id"),
                s0.alias("s"),
                (s0 + mins * 60).alias("e"),
            )

        pairs = interval_overlap_join(
            intervals("error"), intervals("purchase"), bucket_secs=600
        )
        return timed(pairs)

    probe("join_interval_overlap", overlap_probe)

    # BPE encode with a FROZEN tokenizer (trained once on the 1x
    # corpus — production freezes the tokenizer before corpus growth):
    # the greedy Python walk runs once per DISTINCT word, so K-fold
    # replication (which barely grows the vocabulary) should cost ~the
    # linear reassembly, not K x the kernel.
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import bpe_encode, bpe_train_merges

    frozen_merges = [
        (r.left, r.right)
        for r in bpe_train_merges(docs_of(base), "text", n_merges=20)
        .orderBy("merge_rank")
        .collect()
    ]
    probe(
        "text_bpe_encode",
        lambda sf, kk: timed(
            bpe_encode(docs_of(sf), "doc_id", "text", frozen_merges).select(
                "doc_id", F.size("tokens").alias("n_tokens")
            )
        ),
    )

    # PCA with a FROZEN model (same freeze-then-apply discipline as the
    # tokenizer row above): fit once on the 1x corpus, apply the frozen
    # axes at both scales — one Arrow-batched BLAS pass, zero shuffles,
    # claim ~linear. (The FIT itself is O(N) partials + an O(d^2)
    # driver eigh, dominated by the same single pass.)
    _, frozen_pca = SIM.pca_fit_project(tbl(base, "embeddings"), "vec_id", "embedding", k=8)

    # The FIT itself (r14 addition — pca_apply had an exponent, the fit
    # didn't): one O(N) pilot-shifted partials pass collected as one
    # d^2-sized row per partition + an O(d^3) driver eigh. Expect
    # ~linear-bounded in rows with a large fixed floor at these sizes.
    # pca_fit_project's partials .collect() is the action, so time the
    # call directly (min-of-2, same discipline as timed()).
    def pca_fit_time(sf, kk):
        best = None
        for _ in range(2):
            t0 = time.time()
            SIM.pca_fit_project(tbl(sf, "embeddings"), "vec_id", "embedding", k=8)
            t = time.time() - t0
            best = t if best is None else min(best, t)
        return round(best, 3)

    probe("pca_fit_moment_pass", pca_fit_time)
    probe(
        "pca_apply_frozen_model",
        lambda sf, kk: timed(
            SIM.pca_apply(tbl(sf, "embeddings"), frozen_pca, "vec_id", "embedding").select(
                "vec_id", F.size("pca").alias("w")
            )
        ),
    )

    # Multimodal pixel decode (r13 verdict task 6 — the one heavy
    # per-row-CPU family without a scale exponent): real PNG payloads
    # materialized once per scale (cached under /tmp like the derived
    # corpora; fixture synthesis is NOT in the timed path), then the
    # stdlib inflate+defilter kernel + whole-buffer pixel stats over
    # mapInPandas. Pure per-row CPU with no shuffle — expect ~linear in
    # rows, the same cost model as text_repetition_filter's ~0.86.
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import multimodal as MM

    def media_root(sf, kk):
        root = f"{DERIVED}_media_png_{kk}x"
        if not os.path.exists(os.path.join(root, "_READY")):
            shutil.rmtree(root, ignore_errors=True)
            MM.documents_as_png_media(
                docs_of(sf).repartition(spark.sparkContext.defaultParallelism)
            ).write.mode("overwrite").parquet(root)
            open(os.path.join(root, "_READY"), "w").close()
        return root

    # untimed warm-up: the FIRST decode pass in a session pays ~4 s of
    # Python-worker/Arrow setup for this kernel shape (measured: pass0
    # 5.4 s vs warm 1.2-1.4 s at 1x) — without it the 1x min-of-2 stays
    # partially cold while the 10x runs fully warm, faking a NEGATIVE
    # exponent (r14 runs A/B reproduced -0.13/-0.18 before this fix)
    MM.image_pixel_stats(
        MM.decode_image_pixels(spark.read.parquet(media_root(base, 1)))
    ).write.format("noop").mode("overwrite").save()
    probe(
        "multimodal_pixel_decode",
        lambda sf, kk: timed(
            MM.image_pixel_stats(
                MM.decode_image_pixels(spark.read.parquet(media_root(sf, kk)))
            )
        ),
    )

    # Sliding-window family: raw events are touched once (map-side
    # bitmap collapse / per-hour top-k), then the trailing merge moves
    # only hours x 24 x (chunks | k) metadata rows. Replicas remap
    # user ids, so the bitmap key space (chunks = users/32) scales with
    # K while the calendar stays fixed — expect ~linear.
    import gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra as AX

    def sliding_probe(qname):
        def run(sf, kk):
            ev = tbl(sf, "events")
            orig = AX.load_table
            AX.load_table = lambda s_, d_, n_: ev
            try:
                from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import QUERIES
                return timed(QUERIES[qname](spark, sf))
            finally:
                AX.load_table = orig
        return run

    probe("window_sliding_distinct", sliding_probe("window_sliding_distinct"))
    probe("window_sliding_quantile", sliding_probe("window_sliding_quantile"))

    # Steady-state claim of the persisted semantic-cells store: the cost
    # of screening a FIXED micro-batch must be (near-)independent of
    # corpus size. Persist a 1x and a Kx corpus store (nlist ∝ corpus),
    # screen the same 100-vector batch against each, and report the
    # ratio — at or below 1.0 is the O(batch) evidence. The store read
    # is partition-pruned to the batch's touched cells, a
    # min(|batch|, nlist)/nlist fraction of the store — so the batch
    # must be SMALLER than nlist for the bound to bite (a 500-vector
    # batch against 640 cells reads ~78% of the store and only measures
    # overhead); 100 vectors vs 640 cells reads <=16%, and the pruned
    # fraction keeps shrinking as the corpus (and nlist with it) grows.
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        persist_corpus_cells,
        semdedup_batch_vs_table,
    )

    batch = tbl(base, "embeddings").limit(100).localCheckpoint(eager=True)

    def screen_time(sf, kk):
        root = f"{DERIVED}_cells_{kk}x"
        persist_corpus_cells(tbl(sf, "embeddings"), root, nlist=64 * kk)
        return timed(
            semdedup_batch_vs_table(spark, root, batch, nlist=64 * kk, min_cosine=0.3)
        )

    t1 = screen_time(base, 1)
    tk = screen_time(derived, k)
    results["semdedup_batch_vs_table_fixed_batch"] = {
        "t_corpus_1x": t1,
        f"t_corpus_{k}x": tk,
        "corpus_growth_ratio": round(tk / t1, 3),
    }

    # Two-stage int8 ANN (ann_int8_rescore): stage 1 scores the WHOLE
    # corpus with an integer GEMM — must be ~linear in corpus size;
    # stage 2 exact-rescores only n_queries x shortlist survivors — its
    # increment over stage 1 must stay ~flat as the corpus grows (same
    # fixed-queries discipline as the semantic screen probe).
    queries20 = (
        tbl(base, "embeddings").filter(F.col("vec_id") < 20).localCheckpoint(eager=True)
    )
    probe(
        "ann_int8_shortlist_gemm",
        lambda sf, kk: timed(SIM.int8_topk(tbl(sf, "embeddings"), queries20, k=20)),
    )
    probe(
        "ann_int8_rescore_total",
        lambda sf, kk: timed(
            SIM.int8_rescore_topk(tbl(sf, "embeddings"), queries20, k=10, shortlist=20)
        ),
    )
    g, tot = results["ann_int8_shortlist_gemm"], results["ann_int8_rescore_total"]
    results["ann_int8_rescore_stage2_increment"] = {
        "t_sf0.1": round(tot["t_sf0.1"] - g["t_sf0.1"], 3),
        f"t_{k}x": round(tot[f"t_{k}x"] - g[f"t_{k}x"], 3),
    }

    # Store-backed two-stage ANN (r15, r14 verdict task 1): the refine
    # store must keep the contract the broadcast-join variant could not
    # — stage 2's float lookups are partition-pruned + id-pushdown GETS
    # against the index, so the stage-2 increment over the stage-1
    # shortlist must stay ~flat in corpus size. The index is built with
    # nlist ∝ corpus, exactly as the IVF maintenance contract
    # prescribes (retrain_corpus_cells: "nlist ∝ corpus" — same
    # discipline as the semdedup rows above), so probed cells stay
    # bounded; the id-sorted layout additionally row-group-prunes
    # inside them. Build is NOT in the timed path (a production index
    # is maintained by O(batch) appends, not rebuilt per query).
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_rescore_topk,
        ivf_pq_search,
    )

    def refine_root(sf, kk):
        # _v2: the r15 cluster-by-cell build layout (one sorted file per
        # cell) — cached pre-change indexes must not satisfy this name
        root = f"{DERIVED}_ivfpqref_v2_{kk}x"
        if not os.path.exists(os.path.join(root, "_READY")):
            shutil.rmtree(root, ignore_errors=True)
            build_ivf_pq_index(
                tbl(sf, "embeddings"), root,
                nlist=16 * kk, m=8, codebook_size=16 * kk, store_vectors=True,
            )
            open(os.path.join(root, "_READY"), "w").close()
        return root

    # untimed warm-up of the ADC kernel shape (per-kernel cold start
    # fakes exponents — r14 lesson)
    ivf_pq_search(
        spark, refine_root(base, 1), queries20, k=1, nprobe=1
    ).write.format("noop").mode("overwrite").save()

    def rescore_total_time(sf, kk):
        root = refine_root(sf, kk)
        best = None
        for _ in range(2):
            t0 = time.time()
            ivf_pq_rescore_topk(
                spark, root, queries20, k=10, shortlist=20, nprobe=3
            ).write.format("noop").mode("overwrite").save()
            t = time.time() - t0
            best = t if best is None else min(best, t)
        return round(best, 3)

    probe(
        "ann_ivf_pq_shortlist_stage1",
        lambda sf, kk: timed(
            ivf_pq_search(spark, refine_root(sf, kk), queries20, k=20, nprobe=3)
        ),
    )
    probe("ann_ivf_pq_rescore_total", rescore_total_time)
    s1 = results["ann_ivf_pq_shortlist_stage1"]
    st = results["ann_ivf_pq_rescore_total"]
    # end-to-end increment: total re-runs stage 1 internally (ADC scan +
    # shortlist collect), so this difference still CONTAINS one stage-1
    # pass — the isolated get row below is the contract's measurement
    results["ann_ivf_pq_rescore_stage2_increment"] = {
        "t_sf0.1": round(st["t_sf0.1"] - s1["t_sf0.1"], 3),
        f"t_{k}x": round(st[f"t_{k}x"] - s1[f"t_{k}x"], 3),
    }

    # The refine GET in isolation (the contract row): resolve a FIXED
    # pre-collected Q x shortlist against each scale's index — must be
    # ~flat in corpus size (partition filter -> O(nprobe x Q) files in
    # the clustered layout, id-IN -> row-group pruning inside them).
    # The shortlist is collected per index UNTIMED (cells are index-
    # specific: nlist ∝ corpus), then only the get is timed.
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        _ivf_pq_adc_scored,
        _refine_rescore,
    )
    from pyspark.sql import Window as _W

    def refine_get_time(sf, kk):
        root = refine_root(sf, kk)
        scored = _ivf_pq_adc_scored(spark, root, queries20, 20, 3, "vec_id", "embedding")
        w1 = _W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        short = (
            scored.withColumn("rnk", F.row_number().over(w1))
            .filter(F.col("rnk") <= 20)
            .select("query_id", "vec_id", "cell")
            .collect()
        )
        best = None
        for _ in range(2):
            t0 = time.time()
            _refine_rescore(spark, root, short, queries20, 10).write.format(
                "noop"
            ).mode("overwrite").save()
            t = time.time() - t0
            best = t if best is None else min(best, t)
        return round(best, 3)

    probe("ann_ivf_pq_refine_get", refine_get_time)

    # stream_sliding_distinct store-age curve: the sink merges ONLY the
    # batch's touched hour partitions (existence-probed per key, never a
    # root listing), so the per-TRIGGER cost must be flat in store AGE.
    # Seed hour-grain stores 10x apart in history depth (240 vs 2400
    # hours, 64 chunk rows per hour) whose newest hours overlap the
    # batch, stream the SAME one-file two-hour batch into each, and
    # report the per-trigger ratio — ~1.0 is the touched-partition
    # evidence (the semantic screen's corpus_growth_ratio, for age).
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming import drain_stream
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.bitmap_distinct import (
        stream_bitmap_distinct,
    )

    ev1 = tbl(base, "events")
    hr_expr = (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600).cast("long")
    lo_hr = ev1.select(F.min(hr_expr).alias("lo")).collect()[0]["lo"]
    batch_src = f"{DERIVED}_agebatch"
    shutil.rmtree(batch_src, ignore_errors=True)
    ev1.filter(hr_expr < lo_hr + 2).coalesce(1).write.mode("overwrite").parquet(batch_src)
    ev_schema = spark.read.parquet(batch_src).schema

    def age_trigger_time(age_hours: int) -> float:
        store = f"{DERIVED}_agestore_{age_hours}"
        shutil.rmtree(store, ignore_errors=True)
        seed = (
            spark.range(age_hours)
            .select(
                (F.lit(lo_hr + 2) - F.col("id") - 1).alias("hr"),
                F.explode(F.sequence(F.lit(0), F.lit(63))).alias("chunk"),
            )
            .withColumn("bits", (F.col("hr") * 31 + F.col("chunk")).cast("long"))
        )
        seed.repartition(F.col("hr")).write.partitionBy("hr").mode(
            "overwrite"
        ).parquet(store)
        # run 0 is an UNTIMED warm-up: the first drain after the (age-
        # proportional, up to ~60 s at 2400 partitions) seed write pays
        # cold Python workers + post-write IO/GC pressure — timing it
        # once inflated the old-store number ~4x and faked an age
        # dependence the warm triggers don't have (r11 re-measurement:
        # warm triggers are ~1.6-1.8 s at BOTH ages)
        best = None
        for r in range(3):
            ckpt = f"{store}_ckpt_{r}"
            shutil.rmtree(ckpt, ignore_errors=True)
            t0 = time.time()
            q = stream_bitmap_distinct(
                spark, batch_src, store, ev_schema, ckpt,
                max_files_per_trigger=10, grain="hour",
            )
            drain_stream(q, what="store-age probe")
            t = time.time() - t0
            if r == 0:
                continue
            best = t if best is None else min(best, t)
        return round(best, 3)

    t_young, t_old = age_trigger_time(240), age_trigger_time(2400)
    results["stream_sliding_distinct_store_age"] = {
        "t_trigger_age_240h": t_young,
        "t_trigger_age_2400h": t_old,
        "store_age_ratio": round(t_old / t_young, 3),
    }

    # Amortized-trigger semantic stream (r12 verdict task 5): the bench
    # pair (mft=1 vs mft=16 at sf0.1) quantified scheduler floor vs data
    # work; this row pins the CORPUS-scaling claim — one mft=16 trigger
    # (screen + append of a FIXED 16-drop micro-batch) against a 1x vs
    # Kx pre-seeded store (nlist ∝ corpus) must be ~flat. Same
    # fixed-batch discipline as the screen row above: the batch is 96
    # vectors, SMALLER than the Kx nlist, so the store read prunes to
    # ≤96/640 of the cells and the bound actually bites (a
    # corpus-proportional batch would touch every cell and read the
    # whole store — that measures the batch, not the store). The figure
    # includes the one-trigger Structured Streaming floor (~1.1-1.4 s)
    # at BOTH scales, so a flat ratio is conservative evidence. Run 0 is
    # an untimed warm-up (post-seed IO/worker pressure, same discipline
    # as the store-age row); the store is re-seeded per run so appends
    # never accumulate into the next run's corpus.
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.semantic_stream import (
        stream_semantic_dedup,
    )

    amort_src = f"{DERIVED}_amortbatch96"
    if not os.path.exists(os.path.join(amort_src, "_READY")):
        shutil.rmtree(amort_src, ignore_errors=True)
        os.makedirs(amort_src, exist_ok=True)
        for i in range(16):
            part = tbl(base, "embeddings").filter(
                (F.col("vec_id") < 96) & (F.pmod(F.col("vec_id"), 16) == i)
            )
            stage = f"{amort_src}_stage"
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            fname = next(f_ for f_ in os.listdir(stage) if f_.endswith(".parquet"))
            dst = os.path.join(amort_src, f"{i:04d}.parquet")
            os.replace(os.path.join(stage, fname), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(f"{amort_src}_stage", ignore_errors=True)
        open(os.path.join(amort_src, "_READY"), "w").close()
    emb_schema = spark.read.parquet(amort_src).schema

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import drop_corpus_cells

    def amort_trigger_time(sf, kk) -> float:
        root = f"{DERIVED}_amort_cells_{kk}x"
        best = None
        for r in range(3):
            drop_corpus_cells(spark, root)
            # seed EXCLUDING the batch's ids AND their Kx replicas
            # (pmod strips the +rep*10M replica offset): the trigger's
            # already-present anti-join must find the batch absent so
            # the timed append writes real rows at both scales —
            # seeding the full corpus made the append a no-op and the
            # probe measured screen + append PLUMBING only (r13
            # ADVICE). The replicas must go too or the Kx store holds
            # eps-perturbed twins (cos~1) that semantically screen out
            # the whole batch at Kx but not at 1x — an asymmetric
            # no-op in the other direction.
            persist_corpus_cells(
                tbl(sf, "embeddings").filter(
                    F.pmod(F.col("vec_id"), F.lit(10_000_000)) >= 96
                ),
                root,
                nlist=64 * kk,
            )
            ckpt = f"{DERIVED}_amort_ckpt_{kk}_{r}"
            audit = f"{DERIVED}_amort_audit_{kk}_{r}"
            for d_ in (ckpt, audit):
                shutil.rmtree(d_, ignore_errors=True)
            t0 = time.time()
            # min_cosine=0.9 here (vs 0.3 on the screen rows): the
            # screen's compute cost is threshold-independent, but at
            # 0.3 only ~5 of the 96 batch vectors survive to append —
            # 0.9 lets ~the whole batch through so the timed append
            # writes a meaningful, scale-symmetric number of rows
            q = stream_semantic_dedup(
                spark, amort_src, root, audit, emb_schema,
                nlist=64 * kk, min_cosine=0.9, checkpoint=ckpt,
                max_files_per_trigger=16,
            )
            q.awaitTermination()
            t = time.time() - t0
            if r == 0:
                continue
            best = t if best is None else min(best, t)
        drop_corpus_cells(spark, root)
        return round(best, 3)

    ta1, tak = amort_trigger_time(base, 1), amort_trigger_time(derived, k)
    results["stream_semantic_amortized_trigger"] = {
        "t_trigger_corpus_1x": ta1,
        f"t_trigger_corpus_{k}x": tak,
        "corpus_growth_ratio": round(tak / ta1, 3),
    }

    # success: drop the probe's stores; the derived parquet corpora
    # under /tmp stay cached for re-runs by design
    for kk in (1, k):
        drop_corpus_cells(spark, f"{DERIVED}_cells_{kk}x")
        drop_corpus_cells(spark, f"{DERIVED}_amort_cells_{kk}x")

    print(json.dumps({"metric": "scale_probe", "k": k, "operators": results}))


if __name__ == "__main__":
    main()
