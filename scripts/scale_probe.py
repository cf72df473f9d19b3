"""The standing scale probe: time the most expensive operators at
sf0.1 and at a K×-replicated derivative, and report per-operator scaling
exponents (t ∝ N^e → e = ln(tK/t1)/ln(K)).

The K× corpus is derived from the sf0.1 test-data parquet by
scripts/measure.build_derived; every row is a min-of-2 cold run of the
harness, construction and cache fill included.

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
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import (  # noqa: E402
    BASE_SF,
    DERIVED,
    best_of,
    build_derived,
    fixture,
    noop,
    single_file_drops,
    warm_up,
)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import classify as CL
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import similarity as SIM
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import text as TX
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.shards import write_training_shards
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import token_count

    spark = get_spark(app_name="scale_probe")
    warm_up(spark, BASE_SF)
    # the 1x baseline is ALSO a derived Spark-written copy: identical
    # 32-file layout at both scales, so the ratio measures per-row work,
    # not the driver testdata's single-input-split parallelism artifact
    base = build_derived(spark, 1)
    derived = build_derived(spark, k)

    results = {}

    def tbl(sf, name):
        # the derived set is Spark-written (proper timestamps, multi-file
        # dirs): no load_table normalization needed
        return spark.read.parquet(os.path.join(sf, name + ".parquet"))

    def probe(name, build, setup=lambda sf, kk: None):
        """Min-of-2 cold runs of ``build(sf, kk)`` at 1x and Kx."""
        t1, tk = (
            best_of(spark, lambda: build(sf, kk), setup=lambda: setup(sf, kk))
            for sf, kk in ((base, 1), (derived, k))
        )
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
        lambda sf, kk: SIM.semdedup(
            tbl(sf, "embeddings"), nlist=64 * kk, min_cosine=0.3
        ).select("vec_id", "cell", "keep"),
    )
    probe(
        "classify_naive_bayes",
        lambda sf, kk: CL.naive_bayes_confusion(docs_of(sf), "doc_id", "text", "lang"),
    )
    probe(
        "text_repetition_filter",
        lambda sf, kk: TX.repetition_signals(docs_of(sf), "doc_id", "text"),
    )
    probe(
        "text_bm25_topk",
        lambda sf, kk: TX.bm25_topk(docs_of(sf), ["spark", "query", "join"], k=10),
    )

    # shard sink: n_shards ∝ N keeps per-shard size constant; timing is
    # the real write (the write IS the operator), not a noop
    def shard_write(sf, kk):
        src = docs_of(sf).select("doc_id", "text", token_count(F.col("text")).alias("n_tokens"))
        write_training_shards(
            src, f"/tmp/scale_probe_shards_{kk}", "doc_id", "n_tokens", n_shards=7 * kk, epoch=0
        )

    probe(
        "sink_training_shards",
        shard_write,
        setup=lambda sf, kk: shutil.rmtree(f"/tmp/scale_probe_shards_{kk}", ignore_errors=True),
    )

    # Interval-overlap join: replicas are TIME-SHIFTED (35 days apart,
    # recovered from the event_id's replica stride) so interval density
    # per bucket stays constant and the probe measures the PLAN's
    # scaling — a growing corpus covers a longer time range; without
    # the shift the pair OUTPUT itself grows quadratically by overlap
    # semantics, which would swamp the plan signal.
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import interval_overlap_join

    def overlap_join(sf, kk):
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

        return interval_overlap_join(
            intervals("error"), intervals("purchase"), bucket_secs=600
        )

    probe("join_interval_overlap", overlap_join)

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
        lambda sf, kk: bpe_encode(docs_of(sf), "doc_id", "text", frozen_merges).select(
            "doc_id", F.size("tokens").alias("n_tokens")
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
    # pca_fit_project's partials .collect() is the action (it returns a
    # tuple, so the harness times the call as it is).
    probe(
        "pca_fit_moment_pass",
        lambda sf, kk: SIM.pca_fit_project(tbl(sf, "embeddings"), "vec_id", "embedding", k=8),
    )
    probe(
        "pca_apply_frozen_model",
        lambda sf, kk: SIM.pca_apply(
            tbl(sf, "embeddings"), frozen_pca, "vec_id", "embedding"
        ).select("vec_id", F.size("pca").alias("w")),
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
        return fixture(
            f"{DERIVED}_media_png_{kk}x",
            lambda root: MM.documents_as_png_media(
                docs_of(sf).repartition(spark.sparkContext.defaultParallelism)
            ).write.mode("overwrite").parquet(root),
        )

    # untimed warm-up: the FIRST decode pass in a session pays ~4 s of
    # Python-worker/Arrow setup for this kernel shape (measured: pass0
    # 5.4 s vs warm 1.2-1.4 s at 1x) — without it the 1x min-of-2 stays
    # partially cold while the 10x runs fully warm, faking a NEGATIVE
    # exponent (r14 runs A/B reproduced -0.13/-0.18 before this fix)
    def pixel_stats(sf, kk):
        return MM.image_pixel_stats(
            MM.decode_image_pixels(spark.read.parquet(media_root(sf, kk)))
        )

    noop(pixel_stats(base, 1))
    probe("multimodal_pixel_decode", pixel_stats)

    # Sliding-window family: raw events are touched once (map-side
    # bitmap collapse / per-hour top-k), then the trailing merge moves
    # only hours x 24 x (chunks | k) metadata rows. Replicas remap
    # user ids, so the bitmap key space (chunks = users/32) scales with
    # K while the calendar stays fixed — expect ~linear.
    import gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra as AX

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import QUERIES

    def sliding_probe(qname):
        def build(sf, kk):
            ev = tbl(sf, "events")
            orig = AX.load_table
            AX.load_table = lambda s_, d_, n_: ev
            try:
                return QUERIES[qname](spark, sf)
            finally:
                AX.load_table = orig
        return build

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
        return best_of(
            spark,
            lambda: semdedup_batch_vs_table(spark, root, batch, nlist=64 * kk, min_cosine=0.3),
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
        lambda sf, kk: SIM.int8_topk(tbl(sf, "embeddings"), queries20, k=20),
    )
    probe(
        "ann_int8_rescore_total",
        lambda sf, kk: SIM.int8_rescore_topk(tbl(sf, "embeddings"), queries20, k=10, shortlist=20),
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
        return fixture(
            f"{DERIVED}_ivfpqref_v2_{kk}x",
            lambda root: build_ivf_pq_index(
                tbl(sf, "embeddings"), root,
                nlist=16 * kk, m=8, codebook_size=16 * kk, store_vectors=True,
            ),
        )

    # untimed warm-up of the ADC kernel shape (per-kernel cold start
    # fakes exponents — r14 lesson)
    noop(ivf_pq_search(spark, refine_root(base, 1), queries20, k=1, nprobe=1))

    probe(
        "ann_ivf_pq_shortlist_stage1",
        lambda sf, kk: ivf_pq_search(spark, refine_root(sf, kk), queries20, k=20, nprobe=3),
    )
    probe(
        "ann_ivf_pq_rescore_total",
        lambda sf, kk: ivf_pq_rescore_topk(
            spark, refine_root(sf, kk), queries20, k=10, shortlist=20, nprobe=3
        ),
    )
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

    def shortlist(sf, kk):
        scored = _ivf_pq_adc_scored(
            spark, refine_root(sf, kk), queries20, 20, 3, "vec_id", "embedding"
        )
        w1 = _W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        return (
            scored.withColumn("rnk", F.row_number().over(w1))
            .filter(F.col("rnk") <= 20)
            .select("query_id", "vec_id", "cell")
            .collect()
        )

    short = {1: shortlist(base, 1), k: shortlist(derived, k)}
    probe(
        "ann_ivf_pq_refine_get",
        lambda sf, kk: _refine_rescore(spark, refine_root(sf, kk), short[kk], queries20, 10),
    )

    # IVF-PQ retrain under the default (capped) fit budget: re-fit the
    # quantizer at nlist ∝ corpus, re-encode, re-publish. Its k-means
    # fit is the one term that grows faster than the build's linear
    # encode (PROBES_r18.jsonl runs G/H: the uncapped fit reached 10x
    # the build at 100x), so this exponent is the early warning that the
    # cap stopped binding. Each scale retrains its own index (built
    # untimed), not the refine rows' fixture; a retrain keeps nlist, rows
    # and layout, so every run times the same work.
    retrain_roots = {
        kk: fixture(
            f"{DERIVED}_ivfpq_retrain_{kk}x",
            lambda root: build_ivf_pq_index(
                tbl(sf, "embeddings"), root,
                nlist=16 * kk, m=8, codebook_size=16 * kk, store_vectors=True,
            ),
        )
        for sf, kk in ((base, 1), (derived, k))
    }

    def retrain(sf, kk):
        return SIM.retrain_ivf_pq_index(spark, retrain_roots[kk], nlist=16 * kk)

    retrain(base, 1)  # untimed warm-up of the k-means fit path
    probe("ann_ivf_pq_retrain", retrain)

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
        ckpt = f"{store}_ckpt"

        def fresh_ckpt():
            shutil.rmtree(ckpt, ignore_errors=True)

        def trigger():
            q = stream_bitmap_distinct(
                spark, batch_src, store, ev_schema, ckpt,
                max_files_per_trigger=10, grain="hour",
            )
            drain_stream(q, what="store-age probe")

        # one UNTIMED warm-up trigger: the first drain after the (age-
        # proportional, up to ~60 s at 2400 partitions) seed write pays
        # cold Python workers + post-write IO/GC pressure — timing it
        # once inflated the old-store number ~4x and faked an age
        # dependence the warm triggers don't have (r11 re-measurement:
        # warm triggers are ~1.6-1.8 s at BOTH ages)
        fresh_ckpt()
        trigger()
        return best_of(spark, trigger, setup=fresh_ckpt)

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
    # as the store-age row); the store is re-seeded before every run so
    # appends never accumulate into the next run's corpus.
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.streaming.semantic_stream import (
        stream_semantic_dedup,
    )

    amort_src = single_file_drops(
        [
            tbl(base, "embeddings").filter(
                (F.col("vec_id") < 96) & (F.pmod(F.col("vec_id"), 16) == i)
            )
            for i in range(16)
        ],
        f"{DERIVED}_amortbatch96",
    )
    emb_schema = spark.read.parquet(amort_src).schema

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import drop_corpus_cells

    def amort_trigger_time(sf, kk) -> float:
        root = f"{DERIVED}_amort_cells_{kk}x"
        ckpt = f"{DERIVED}_amort_ckpt_{kk}"
        audit = f"{DERIVED}_amort_audit_{kk}"

        def reseed():
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
            for d_ in (ckpt, audit):
                shutil.rmtree(d_, ignore_errors=True)

        def trigger():
            # min_cosine=0.9 here (vs 0.3 on the screen rows): the
            # screen's compute cost is threshold-independent, but at
            # 0.3 only ~5 of the 96 batch vectors survive to append —
            # 0.9 lets ~the whole batch through so the timed append
            # writes a meaningful, scale-symmetric number of rows
            stream_semantic_dedup(
                spark, amort_src, root, audit, emb_schema,
                nlist=64 * kk, min_cosine=0.9, checkpoint=ckpt,
                max_files_per_trigger=16,
            ).awaitTermination()

        reseed()
        trigger()  # untimed warm-up
        t = best_of(spark, trigger, setup=reseed)
        drop_corpus_cells(spark, root)
        return t

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
