"""Operator-level tests for the training-data-pipeline surface: the
approximate paths (MinHash-LSH, SimHash, hyperplane-LSH ANN, IVF ANN)
are checked against their exact counterparts — candidate quality and
recall, not just shape.
"""

import pytest
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import dedup as D
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import similarity as SIM
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def test_exact_dedup_partitions_ids(spark, docs):
    keepers = D.exact_dedup_keepers(docs, "doc_id", ["text"])
    total = keepers.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()  # every doc accounted for exactly once


def test_minhash_estimates_track_exact_jaccard(spark, docs):
    """MinHash-LSH candidates' estimated Jaccard must be close to the
    exact n-gram Jaccard on the same pairs (|err| small on average)."""
    sigs = D.minhash_signatures(docs, "doc_id", "text", num_hashes=64, shingle_size=3)
    est = D.minhash_lsh_pairs(sigs, num_bands=16, threshold=0.2)
    exact = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    joined = est.join(exact, ["doc_a", "doc_b"])
    n_cand = est.count()
    assert n_cand > 0
    stats = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.abs(F.col("est_jaccard") - F.col("jaccard"))).alias("mae"),
    ).collect()[0]
    assert stats["n"] > 0
    assert stats["mae"] < 0.15  # 64 hashes → stderr ~ sqrt(j(1-j)/64)


def test_minhash_lsh_finds_high_jaccard_pairs(spark, docs):
    """Recall: pairs with exact Jaccard ≥ 0.5 must appear among LSH
    candidates (16 bands × 4 rows → P(miss | j=0.5) ≈ (1-.5^4)^16 ≈ .35
    per pair, but the corpus's near-dups are j≈1 where P(miss) ≈ 0)."""
    exact_high = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.9)
    sigs = D.minhash_signatures(docs, "doc_id", "text", num_hashes=64, shingle_size=3)
    cand = D.minhash_lsh_pairs(sigs, num_bands=16, threshold=0.2)
    missed = exact_high.join(cand, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0


def test_simhash_hamming_symmetric_and_bounded(spark, docs):
    fps = D.simhash(docs, "doc_id", "text")
    assert fps.count() == docs.count()
    pairs = D.simhash_near_pairs(fps, max_hamming=12)
    bad = pairs.filter((F.col("hamming") < 0) | (F.col("hamming") > 12)).count()
    assert bad == 0
    # doc_a < doc_b convention → no self-pairs or duplicates
    assert pairs.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0


def test_salted_join_equals_plain_join(spark):
    """Salting must not change join semantics — only the shuffle layout."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.skew import key_skew_profile, salted_join

    ev = load_table(spark, SF_DIR, "events")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0)],
        "event_type string, weight double",
    )
    plain = ev.join(dim, "event_type").select("event_id", "event_type", "weight")
    salted = salted_join(ev, dim, on="event_type", salt_factor=8, salt_source=["event_id"]).select(
        "event_id", "event_type", "weight"
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0

    profile = key_skew_profile(ev, "event_type")
    shares = [r["share"] for r in profile.collect()]
    assert abs(sum(shares) - 1.0) < 0.01  # 5 keys cover the whole table


def _recall(approx, exact):
    hit = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    return hit / exact.count()


def test_ann_lsh_recall_vs_exact(spark, emb):
    """Synthetic random embeddings are near-orthogonal — the worst case
    for hyperplane LSH (P[same bucket] ≈ (1-θ/π)^planes with θ ≈ 70-80°).
    With 2 planes the analytic recall is ~0.3; require half that, and
    require the approximate scores to be genuine cosines (subset check
    happens via the exact join)."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=3)
    approx = SIM.lsh_bucket_topk(emb, queries, k=3, num_planes=2, dim=64)
    assert _recall(approx, exact) >= 0.15


def test_ann_ivf_recall_vs_exact(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=3)
    approx = SIM.ivf_topk(emb, queries, k=3, nlist=8, nprobe=3)
    assert approx.groupBy("query_id").count().agg(F.max("count")).collect()[0][0] <= 3
    assert _recall(approx, exact) >= 0.5


def test_ann_multiprobe_dominates_single_bucket(spark, emb):
    """Multi-probe scores a strict superset of the single-bucket
    candidates (own bucket is probe 0), so its recall vs exact can only
    be >= — and with all single-bit flips probed it must recover a
    meaningfully higher fraction on near-orthogonal vectors."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=3)
    single = SIM.lsh_bucket_topk(emb, queries, k=3, num_planes=4, dim=64)
    multi = SIM.lsh_multiprobe_topk(emb, queries, k=3, num_planes=4, dim=64, probes=4)
    r_single, r_multi = _recall(single, exact), _recall(multi, exact)
    assert r_multi >= r_single
    # near-orthogonal randoms: single-bucket@4planes ≈ 0.1-0.15 analytic;
    # probing the 4 one-flip buckets roughly doubles it
    assert r_multi >= 0.25
    # still a top-k: at most k rows per query, ranks 1..k
    per_q = multi.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    assert per_q <= 3


def test_embedding_cosine_pairs_lsh_subset_of_exact(spark, emb):
    exact = SIM.embedding_cosine_pairs(emb, threshold=0.8)
    bucketed = SIM.embedding_cosine_pairs(emb, threshold=0.8, num_planes=4)
    # bucketed mode returns a subset of the exact pairs, never extras
    extras = bucketed.select("id_a", "id_b").join(
        exact.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    )
    assert extras.count() == 0


def test_asof_join_tie_and_ordering_semantics(spark):
    """Hand-built frames: before-first-state → null, exact tie → inclusive
    match, later events carry the latest prior state per key."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "u", "2024-01-01 00:30:00"), (2, "u", "2024-01-01 01:00:00"),
         (3, "u", "2024-01-01 02:30:00"), (4, "v", "2024-01-01 05:00:00")],
        "event_id long, user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("u", "2024-01-01 01:00:00", 10.0), ("u", "2024-01-01 02:00:00", 20.0)],
        "user_id string, ts string, state_val double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = {r["event_id"]: r["state_val"]
           for r in asof_join(left, right, key="user_id").collect()}
    assert out[1] is None          # before any state point
    assert out[2] == 10.0          # tie at 01:00 matches inclusively
    assert out[3] == 20.0          # latest prior state
    assert out[4] is None          # key with no state points


def test_range_join_boundary_semantics(spark):
    """[start, end): start inclusive, end exclusive; multi-bucket spans."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import (
        range_join_buckets,
    )

    points = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00"), (2, "2024-01-01 02:59:59"),
         (3, "2024-01-01 03:00:00"), (4, "2024-01-01 00:59:59")],
        "pid long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    intervals = spark.createDataFrame(
        [(100, "2024-01-01 01:00:00", "2024-01-01 03:00:00")],
        "iv_id long, start_ts string, end_ts string",
    ).withColumn("start_ts", F.col("start_ts").cast("timestamp")).withColumn(
        "end_ts", F.col("end_ts").cast("timestamp")
    )

    got = sorted(
        r["pid"] for r in range_join_buckets(points, intervals, "ts", "start_ts", "end_ts").collect()
    )
    assert got == [1, 2]  # start inclusive, end exclusive, outside dropped


def test_gopher_rules_flags_repetitive_docs(spark):
    """Handcrafted corpus: clean prose keeps, repetition-loop and
    one-word-spam docs drop; the filter is a shuffle-free narrow map."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import gopher_rules

    clean = " ".join(f"word{i} term{i*7%13} item{i*3%11}" for i in range(10))
    loop = "buy now click here " * 10            # dup bigrams, low distinct
    spam = "spam " * 30                          # one token dominates
    short = "too short"
    docs = spark.createDataFrame(
        [(1, clean), (2, loop), (3, spam), (4, short)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in gopher_rules(docs, "doc_id", "text").collect()}
    assert out[1].keep
    assert not out[2].keep and out[2].dup_bigram_frac > 0.3
    assert not out[3].keep and out[3].top_word_frac == 1.0
    assert not out[4].keep and out[4].n_words < 20

    plan = gopher_rules(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow map, no shuffle


def test_contamination_screen_exact_overlap(spark):
    """A doc embedding a benchmark 5-gram is flagged; disjoint docs are
    not; the benchmark side is broadcast."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import contamination_screen

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over and more words here"),
            (2, "completely unrelated content with different tokens entirely present"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in contamination_screen(docs, bench, n=5).collect()}
    assert out[1].flagged and out[1].n_contaminated >= 1
    assert not out[2].flagged and out[2].n_contaminated == 0

    plan = (
        contamination_screen(docs, bench, n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_contamination_bloom_matches_exact_even_with_forced_fps(spark, docs):
    """The bloom-prefiltered twin must be bit-identical to the exact
    screen. Run it once at sane sizing AND once with a deliberately
    starved bitmap (1 bit/key, 1 hash → massive false-positive rate) to
    prove the confirm join kills every FP; false negatives are
    impossible by Bloom construction."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import (
        contamination_screen,
        contamination_screen_bloom,
    )

    corpus = docs.limit(120)
    bench = corpus.filter(F.col("doc_id") % 7 == 0)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    exact = canon(contamination_screen(corpus, bench, n=5))
    assert canon(contamination_screen_bloom(corpus, bench, n=5)) == exact
    assert (
        canon(
            contamination_screen_bloom(
                corpus, bench, n=5, bits_per_key=1, n_hashes=1
            )
        )
        == exact
    )


def test_quantize_int8_reconstruction_error_bounded(spark, emb):
    """q*scale must reconstruct every component within scale/2, and q
    must stay in [-127, 127]; the whole op is a shuffle-free narrow map."""
    out = SIM.quantize_int8(emb.limit(100))
    joined = out.join(SIM.with_double_embedding(emb.limit(100)), "vec_id")
    errs = joined.select(
        F.array_max(
            F.zip_with(
                "embedding", "q",
                lambda v, q: F.abs(v - q.cast("double") * F.col("scale")),
            )
        ).alias("max_err"),
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("max_q"),
        "scale",
    ).collect()
    for r in errs:
        assert r.max_q <= 127
        # scale/2 quantization bound + 127*5e-7 for the 6-dp-rounded
        # scale used in reconstruction (q was computed with exact scale)
        assert r.max_err <= r.scale / 2 + 127 * 5e-7
    plan = SIM.quantize_int8(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_epoch_shuffle_reproducible_and_distinct_per_epoch(spark, docs):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sampling import epoch_shuffle

    ids = docs.select("doc_id")
    order1a = [r.doc_id for r in epoch_shuffle(ids, "doc_id", 1).orderBy("shuffle_key").limit(20).collect()]
    order1b = [r.doc_id for r in epoch_shuffle(ids, "doc_id", 1).orderBy("shuffle_key").limit(20).collect()]
    order2 = [r.doc_id for r in epoch_shuffle(ids, "doc_id", 2).orderBy("shuffle_key").limit(20).collect()]
    assert order1a == order1b          # same epoch → identical permutation
    assert order1a != order2           # different epoch → different permutation


def test_ivf_fixed_exhaustive_probe_equals_bruteforce(spark):
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import cosine_topk, ivf_topk_fixed
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    # probing every cell removes the approximation: results must equal
    # the brute-force baseline exactly (same tie-breaks, same arithmetic)
    approx = ivf_topk_fixed(emb, queries, k=3, nlist=4, nprobe=4)
    exact = cosine_topk(emb, queries, k=3)
    a = {(r.query_id, r.rank): r.vec_id for r in approx.collect()}
    e = {(r.query_id, r.rank): r.vec_id for r in exact.collect()}
    assert a == e


def test_incremental_dedup_batch_flags(spark):
    """Exact copy → 'exact', shared-shingle near-copy → 'near', novel doc
    → NULL; the corpus itself is never flagged (only batch rows return)."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "completely different corpus content about distributed query engines"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again today"),
            (11, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
            (12, "zebra xylophone quartz vortex jigsaw plumb krypton onyx umbra fjord"),
        ],
        ["doc_id", "text"],
    )
    out = D.incremental_dedup_batch(
        corpus, batch, "doc_id", "text", num_bands=8, num_hashes=32, threshold=0.3
    )
    flags = {r.doc_id: r.dup_kind for r in out.collect()}
    assert flags == {10: "exact", 11: "near", 12: None}


def test_incremental_dedup_batch_preserves_caller_upper_sha_column(spark):
    """Spark column resolution is case-insensitive by default, so a
    caller column named '_SHA' collides with the operator's internal
    '_sha' unless the collision check also compares case-insensitively
    (r12 ADVICE): the caller's column must pass through unchanged."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again today")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again today", "keep-me"),
            (12, "zebra xylophone quartz vortex jigsaw plumb krypton onyx umbra fjord", "mine"),
        ],
        ["doc_id", "text", "_SHA"],
    )
    out = D.incremental_dedup_batch(
        corpus, batch, "doc_id", "text", num_bands=8, num_hashes=32, threshold=0.3
    )
    assert out.columns == ["doc_id", "text", "_SHA", "dup_kind"]
    got = {r.doc_id: (r["_SHA"], r.dup_kind) for r in out.collect()}
    assert got == {10: ("keep-me", "exact"), 12: ("mine", None)}


def test_persisted_corpus_bands_match_direct_and_skip_corpus_shuffle(spark):
    """The bucketed corpus-bands table must (a) yield the same near-dup
    ids as banding the corpus on the fly, and (b) let a non-broadcast
    batch join scan the corpus WITHOUT an exchange above the table scan
    — the amortization that makes per-batch dedup O(batch) at 100 TB."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "completely different corpus content about distributed query engines"),
            (3, "a third corpus document with its own entirely unrelated words here"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
            (12, "zebra xylophone quartz vortex jigsaw plumb krypton onyx umbra fjord"),
        ],
        ["doc_id", "text"],
    )
    corpus_sigs = D.minhash_signatures(corpus, "doc_id", "text", num_hashes=32)
    batch_sigs = D.minhash_signatures(batch, "doc_id", "text", num_hashes=32)

    direct = D.incremental_near_dup_ids(
        corpus_sigs, batch_sigs, num_bands=8, num_hashes=32, threshold=0.3
    )
    table = "test_corpus_bands"
    D.persist_corpus_bands(
        corpus_sigs, table, num_bands=8, num_hashes=32, n_buckets=4
    )
    try:
        via_table = D.incremental_near_dup_ids_vs_table(
            spark, table, batch_sigs, num_bands=8, num_hashes=32, threshold=0.3
        )
        got = sorted(r.doc_id for r in via_table.collect())
        assert got == sorted(r.doc_id for r in direct.collect()) == [10]

        # plan check: with broadcast off, the bucketed corpus scan joins
        # without its own Exchange — the vs-table plan must select the
        # bucketed layout and shuffle strictly fewer times than banding
        # the corpus on the fly
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

            def plan_of(df):
                return df._jdf.queryExecution().executedPlan().toString()

            bucketed_plan = plan_of(
                D.incremental_near_dup_ids_vs_table(
                    spark, table, batch_sigs, num_bands=8, num_hashes=32, threshold=0.3
                )
            )
            direct_plan = plan_of(
                D.incremental_near_dup_ids(
                    corpus_sigs, batch_sigs, num_bands=8, num_hashes=32, threshold=0.3
                )
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Bucketed: true" in bucketed_plan
        assert bucketed_plan.count("Exchange") < direct_plan.count("Exchange")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pq_topk_recall_and_determinism(spark):
    """PQ with seed codebooks must (a) be deterministic across runs,
    (b) rank by quantized distance with exact tie-breaks, and (c) keep
    reasonable recall vs the exact baseline on real embeddings."""
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import cosine_topk, pq_topk
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    a = pq_topk(emb, queries, k=10, m=8, codebook_size=16).collect()
    b = pq_topk(emb, queries, k=10, m=8, codebook_size=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    per_q = {}
    for r in a:
        per_q.setdefault(r.query_id, []).append(r)
    for qid, rows in per_q.items():
        assert len(rows) == 10
        ranked = sorted(rows, key=lambda r: r.rank)
        dists = [r.adc_dist for r in ranked]
        assert dists == sorted(dists)  # rank follows quantized distance
    exact = cosine_topk(emb, queries, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(
        1 for r in a if r.vec_id in exact_sets[r.query_id]
    )
    # coarse 16-centroid codebooks on 64-dim data: recall@10 well above
    # chance (10/total) — the contract is "usable candidate generator"
    assert hits >= 0.2 * len(a)


def test_bpe_train_merges_matches_reference_loop(spark):
    """Distributed word-count + driver merge loop must reproduce the
    classic BPE trace on a hand-checkable corpus, deterministically."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import bpe_train_merges

    df = spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab")], ["doc_id", "text"]
    )
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_train_merges(df, "text", n_merges=3).orderBy("merge_rank").collect()
    ]
    # aaab x3, ab x2: (a,a)=6 first, then (a,b)=3+2, then (aa,ab)=3
    assert got == [
        (1, "a", "a", "aa", 6),
        (2, "a", "b", "ab", 5),
        (3, "aa", "ab", "aaab", 3),
    ]
    # determinism on real data
    docs = load_table(spark, SF_DIR, "documents")
    a = bpe_train_merges(docs, "text", n_merges=10).collect()
    b = bpe_train_merges(docs, "text", n_merges=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 10


def test_bpe_encode_roundtrip_and_greedy_order(spark):
    """Encode must (a) reassemble each word exactly (concat of subtokens
    == word), (b) apply merges in learned-rank order (lowest rank first,
    the HF/GPT-2 greedy rule), (c) preserve word order within docs."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import bpe_encode, bpe_train_merges

    df = spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab"), (2, "ab baa")], ["doc_id", "text"]
    )
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges(df, "text", n_merges=3).orderBy("merge_rank").collect()
    ]
    out = {r.doc_id: r.tokens for r in bpe_encode(df, "doc_id", "text", merges).collect()}
    # merges: (a,a) -> (a,b) -> (aa,ab); greedy on "aaab": aa|ab then aaab
    assert out[1] == ["aaab", "aaab", "aaab", "ab", "ab"]
    # "baa": (a,a) applies, (b,aa) never learned -> ["b","aa"]
    assert out[2] == ["ab", "b", "aa"]
    # roundtrip on real corpus: concat(tokens) per doc == normalized text
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    real_merges = [
        (r.left, r.right)
        for r in bpe_train_merges(docs, "text", n_merges=20).orderBy("merge_rank").collect()
    ]
    enc = bpe_encode(docs, "doc_id", "text", real_merges)
    joined = enc.join(docs, "doc_id").select(
        F.concat_ws("", "tokens").alias("rebuilt"),
        F.regexp_replace(F.trim(F.lower("text")), r"\s+", "").alias("norm"),
    )
    assert joined.filter(F.col("rebuilt") != F.col("norm")).count() == 0


def test_ivf_pq_index_prunes_unprobed_cells(spark, emb, tmp_path):
    """The inverted file is a Hive partition layout: a search restricted
    to nprobe cells must plan a partition-FILTERED scan of the codes
    table (unprobed cells' files never read), and its results must agree
    with the probed-cell ADC math recomputed directly."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_root
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_search,
        pq_topk,
    )

    root = str(tmp_path / "ivfpq")
    build_ivf_pq_index(emb, root, nlist=8, m=8, codebook_size=16)
    queries = emb.filter(F.col("vec_id") < 3)
    out = ivf_pq_search(spark, root, queries, k=5, nprobe=2)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # nprobe=2 over nlist=8: the scan must touch a strict subset of cells
    import os

    live = live_root(spark, root)
    all_cells = {d for d in os.listdir(live) if d.startswith("cell=")}
    assert len(all_cells) == 8
    rows = out.collect()
    assert rows and all(r.rank <= 5 for r in rows)
    # probing EVERY cell makes IVF-PQ equal plain PQ (same codebooks):
    full = ivf_pq_search(spark, root, queries, k=5, nprobe=8)
    pq = pq_topk(emb, queries, k=5, m=8, codebook_size=16)
    assert sorted((r.query_id, r.vec_id, r.rank) for r in full.collect()) == sorted(
        (r.query_id, r.vec_id, r.rank) for r in pq.collect()
    )


def test_ivf_pq_rescore_is_store_backed_and_exact(spark, emb, tmp_path):
    """The refine-store rescore (r14 verdict task 1): stage 1's ADC
    shortlist comes from the partition-pruned code scan, stage 2's
    exact cosines resolve against the SAME index's c_vec column as a
    partition-pruned id get — never a second corpus scan — and the
    result equals a driver-side numpy rerank of that shortlist."""
    import numpy as np
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_rescore_topk,
        ivf_pq_search,
    )

    root = str(tmp_path / "ivfpqref")
    build_ivf_pq_index(emb, root, nlist=8, m=8, codebook_size=16, store_vectors=True)
    queries = emb.filter(F.col("vec_id") < 3)
    out = ivf_pq_rescore_topk(spark, root, queries, k=3, shortlist=8, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # stage-2 get: partition filter on cell + pushed id filter on vec_id
    assert "PartitionFilters" in plan and "cell" in plan
    pushed = plan.split("PushedFilters:", 1)[1].split("]", 1)[0]
    assert "vec_id" in pushed and ("In(vec_id" in pushed or "INSET" in pushed)
    rows = out.collect()

    # oracle-in-miniature: the plain search's shortlist, exactly
    # reranked by float cosine in numpy
    short = ivf_pq_search(spark, root, queries, k=8, nprobe=2).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}

    def cos(a, b):
        return float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))

    want = []
    for qid in (0, 1, 2):
        cands = [r.vec_id for r in short if r.query_id == qid]
        scored = sorted(
            ((cos(vecs[c], vecs[qid]), c) for c in cands),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        want += [(qid, c, i + 1) for i, (_, c) in enumerate(scored)]
    assert sorted((r.query_id, r.vec_id, r.rank) for r in rows) == sorted(want)
    # cosine values are the exact float64 cosines (6-decimal display)
    got = {(r.query_id, r.vec_id): r.cosine for r in rows}
    for qid, c, _ in want:
        assert abs(got[(qid, c)] - round(cos(vecs[c], vecs[qid]), 6)) < 1e-12


def test_ivf_pq_refine_store_keeps_code_scan_pruned(spark, emb, tmp_path):
    """store_vectors=True must not change search results OR widen the
    code scan: the ADC search over a refine index reads only
    (vec_id, codes, cell) — c_vec never appears in its ReadSchema —
    and a codes-only index rejects the rescore with a clear error."""
    import pytest as _pytest
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_rescore_topk,
        ivf_pq_search,
    )

    plain_root = str(tmp_path / "plain")
    refine_root = str(tmp_path / "refine")
    build_ivf_pq_index(emb, plain_root, nlist=8, m=8, codebook_size=16)
    build_ivf_pq_index(
        emb, refine_root, nlist=8, m=8, codebook_size=16, store_vectors=True
    )
    queries = emb.filter(F.col("vec_id") < 3)
    a = ivf_pq_search(spark, plain_root, queries, k=5, nprobe=2)
    b = ivf_pq_search(spark, refine_root, queries, k=5, nprobe=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    plan_b = b._jdf.queryExecution().executedPlan().toString()
    scan = plan_b.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "c_vec" not in scan  # column pruning holds on the refine layout
    with _pytest.raises(ValueError, match="store_vectors"):
        ivf_pq_rescore_topk(spark, plain_root, queries, k=3)


def test_line_dedup_first_occurrence_wins(spark):
    """Cross-corpus line dedup: a line survives only at its first
    (doc_id, pos) anywhere — later docs AND later repeats inside the
    same doc lose it; untouched docs pass through byte-identical."""
    rows = [
        (1, ["alpha beta", "common line", "alpha beta"]),  # in-doc repeat
        (2, ["common line", "unique two"]),                # cross-doc dup
        (3, ["solo three"]),                               # untouched
        (4, ["common line"]),                              # loses everything
    ]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    got = {r.doc_id: r for r in D.line_dedup(df, "doc_id", "lines").collect()}
    assert (got[1].n_lines, got[1].n_lines_kept) == (3, 2)
    assert got[1].clean_text == "alpha beta\ncommon line"
    assert got[2].clean_text == "unique two"
    assert (got[3].n_lines_kept, got[3].clean_text) == (1, "solo three")
    assert (got[4].n_lines_kept, got[4].clean_text) == (0, "")


def test_semdedup_drops_planted_twin_keeps_canonical(spark, emb):
    """SemDeDup: an exact-copy embedding with a HIGHER id must be
    dropped (same cell, cosine 1.0 to its twin); the lower-id original
    must be kept; every input row appears exactly once in the verdict."""
    twin = emb.filter(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 100000).alias("vec_id"), F.col("embedding")
    )
    base = emb.select("vec_id", "embedding")
    corpus = base.unionByName(twin)
    out = {r.vec_id: r for r in SIM.semdedup(corpus, nlist=8, min_cosine=0.3).collect()}
    assert len(out) == corpus.count()
    assert out[7].keep is True
    assert out[100007].keep is False
    assert out[7].cell == out[100007].cell


def test_ngram_jaccard_stop_shingle_cap(spark):
    """max_shingle_df drops boilerplate shingles before the self-join:
    docs sharing ONLY a viral boilerplate phrase stop pairing, while a
    genuinely-duplicated pair (sharing rare shingles) still scores."""
    boiler = "all rights reserved worldwide"
    rows = [
        (1, f"unique alpha text body one {boiler}"),
        (2, f"different beta words entirely here {boiler}"),
        (3, f"unique alpha text body one {boiler}"),  # true dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    unfiltered = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.05).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.05, max_shingle_df=2
        ).collect()
    }
    assert (1, 2) in unfiltered  # boilerplate-only pair scores without the cap
    assert (1, 2) not in capped and (2, 3) not in capped
    assert (1, 3) in capped  # the true duplicate survives


def test_minhash_lsh_hot_bucket_cap(spark):
    """max_bucket_size drops oversized band buckets before the quadratic
    self-join: a mass-duplicate clique (identical text -> identical
    signatures -> one bucket per band) stops pairing once its bucket
    exceeds the cap, while a small genuine near-dup pair still scores."""
    clique = [(i, "lorem ipsum dolor sit amet boiler plate words here") for i in range(20)]
    pair = [
        (100, "completely different rare unique content alpha beta gamma delta"),
        (101, "completely different rare unique content alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(clique + pair, "doc_id long, text string")
    sigs = D.minhash_signatures(df, "doc_id", "text", num_hashes=32, shingle_size=3)
    uncapped = D.minhash_lsh_pairs(sigs, num_bands=8, threshold=0.5, num_hashes=32)
    capped = D.minhash_lsh_pairs(
        sigs, num_bands=8, threshold=0.5, num_hashes=32, max_bucket_size=10
    )
    un = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    cp = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (100, 101) in un and (100, 101) in cp  # small pair survives the cap
    assert any(a < 20 and b < 20 for a, b in un)  # clique pairs exist uncapped
    assert not any(a < 20 and b < 20 for a, b in cp)  # clique suppressed by cap


def test_persist_corpus_bands_spares_external_table_data(spark, tmp_path):
    """A name collision with an EXTERNAL table must not destroy the
    external location's data: Spark leaves external data intact on DROP,
    and persist_corpus_bands only sweeps MANAGED leftovers."""
    ext_loc = tmp_path / "shared_external_data"
    spark.createDataFrame([(1, "precious")], ["k", "v"]).write.parquet(str(ext_loc))
    table = "test_bands_ext_collision"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (k INT, v STRING) USING parquet LOCATION '{ext_loc}'")
    try:
        corpus = spark.createDataFrame([(1, "alpha beta gamma delta words")], ["doc_id", "text"])
        sigs = D.minhash_signatures(corpus, "doc_id", "text", num_hashes=32)
        D.persist_corpus_bands(sigs, table, num_bands=8, num_hashes=32, n_buckets=2)
        # the external dir and its data survived the collision
        assert any(p.suffix == ".parquet" for p in ext_loc.iterdir())
        got = spark.read.parquet(str(ext_loc)).collect()
        assert got == [(1, "precious")] or [tuple(r) for r in got] == [(1, "precious")]
        # and the new managed bands table is usable
        assert spark.table(table).count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_int8_topk_matches_numpy_reference(spark, emb):
    """int8_topk must equal an independently-computed quantized scoring
    reference: same codes (round(v/scale)), same fixed-order scale
    arithmetic, same (score desc, vec_id asc) tie-break."""
    import numpy as np

    corpus = emb.limit(200)
    queries = corpus.filter(F.col("vec_id") < 4)
    got = [
        (r.query_id, r.vec_id, r.rank)
        for r in SIM.int8_topk(corpus, queries, k=3).collect()
    ]

    rows = corpus.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    V = np.array([[float(x) for x in r.embedding] for r in rows], dtype=np.float64)
    sc = np.abs(V).max(axis=1) / 127.0
    Q = np.round(V / sc[:, None])  # codes, float64 holding exact ints
    sc6 = np.round(sc, 6)
    want = []
    for qi in np.where(ids < 4)[0]:
        score = (Q @ Q[qi]) * sc6 * sc6[qi]
        mask = ids != ids[qi]
        order = np.lexsort((ids[mask], -score[mask]))[:3]
        for rank, j in enumerate(order, 1):
            want.append((int(ids[qi]), int(ids[mask][order[rank - 1]]), rank))
    assert sorted(got) == sorted(want)


def test_curation_funnel_handcrafted(spark):
    """Handcrafted corpus where every funnel stage is countable by hand:
    6 docs → 5 with a determined language → 4 passing quality → 3
    distinct texts → split rows summing to the keeper count."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.curation import curation_funnel

    prose = "the quick brown fox and the lazy dog of " + " ".join(
        f"word{i} item{i*5%7}" for i in range(8)
    )
    prose2 = "the old ship and the grey sea of " + " ".join(
        f"note{i} card{i*3%5}" for i in range(8)
    )
    spam = "the and of " + "spam " * 30           # en, fails top_word_frac
    und = " ".join(f"zz{i} qq{i}" for i in range(15))  # no markers -> und
    docs = spark.createDataFrame(
        [(1, prose), (2, prose), (3, prose2), (4, spam), (5, und), (6, prose)],
        ["doc_id", "text"],
    )
    funnel = curation_funnel(docs, "doc_id", "text")
    out = {r.stage: r.n_docs for r in funnel.collect()}
    assert out["1_input"] == 6
    assert out["2_lang"] == 5          # doc 5 is 'und'
    assert out["3_quality"] == 4       # spam fails gopher
    assert out["4_dedup"] == 2         # {prose(x3), prose2} -> 2 distinct texts
    split_total = sum(v for k, v in out.items() if k.startswith("5_split_"))
    assert split_total == 2

    # plan pin: both audit faces must read the persisted per-split
    # aggregate, not re-derive the corpus lineage per union branch
    # (>= 2 not == 2: ambient cached fixtures in the shared session can
    # surface additional InMemoryTableScans inside relation descriptions)
    plan = funnel._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2


def test_curation_funnel_matches_standalone_operators(spark, docs):
    """Funnel totals must equal recomposition from the standalone
    operators (lang_id, gopher_rules, exact_dedup_keepers) — guards the
    shared-expression refactor against drift."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.curation import curation_funnel
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import gopher_rules, lang_id

    out = {r.stage: r.n_docs for r in curation_funnel(docs, "doc_id", "text").collect()}
    lang = lang_id(docs, "doc_id", "text")
    goph = gopher_rules(docs, "doc_id", "text").select("doc_id", "keep")
    flags = (
        docs.select("doc_id", "text")
        .join(lang, "doc_id")
        .join(goph, "doc_id")
        .withColumn("lang_ok", F.col("pred_lang") != "und")
    )
    assert out["1_input"] == docs.count()
    assert out["2_lang"] == flags.filter("lang_ok").count()
    surv = flags.filter("lang_ok AND keep")
    assert out["3_quality"] == surv.count()
    assert out["4_dedup"] == surv.select("text").distinct().count()
    split_total = sum(v for k, v in out.items() if k.startswith("5_split_"))
    assert split_total == out["4_dedup"]


def test_jl_projection_preserves_distances_and_stays_narrow(spark, emb):
    """JL sign projection: (1) matches a pure-numpy reference exactly,
    (2) approximately preserves pairwise squared distances after the
    1/sqrt(k) normalization (the property that makes it usable as an
    ANN/clustering pre-pass), (3) compiles to a narrow plan — no
    Exchange, no more than the input scan."""
    import numpy as np

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        jl_project,
        jl_sign_matrix,
    )

    out = jl_project(emb, "vec_id", "embedding", out_dim=16, in_dim=64)
    got = out.toPandas().pivot(index="vec_id", columns="dim", values="proj")

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    R = jl_sign_matrix(64, 16)
    want = X @ R
    order = np.argsort(ids)
    np.testing.assert_allclose(got.loc[ids[order]].to_numpy(), want[order], rtol=1e-12)

    # sign matrix sanity: not the all-alternating low-bit pathology
    assert 0.3 < (R > 0).mean() < 0.7
    col_corr = np.corrcoef(R.T)
    off_diag = col_corr[~np.eye(16, dtype=bool)]
    assert np.abs(off_diag).max() < 0.5  # columns not pairwise collinear

    # distance preservation on a sample of pairs (JL guarantee, loose tol)
    P = want / np.sqrt(16.0)
    rng_pairs = [(i, j) for i in range(0, 40, 7) for j in range(1, 40, 11) if i != j]
    ratios = []
    for i, j in rng_pairs:
        d_orig = np.sum((X[i] - X[j]) ** 2)
        d_proj = np.sum((P[i] - P[j]) ** 2)
        if d_orig > 0:
            ratios.append(d_proj / d_orig)
    ratios = np.array(ratios)
    assert 0.5 < np.median(ratios) < 1.5  # concentrated around 1

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow map: projection pipelines with the scan


def test_jl_rerank_recall_vs_exact(spark, emb):
    """JL-prefiltered ANN must (1) recover most of the exact top-3 at a
    15-candidate shortlist (recall gate, the property that justifies the
    4x-cheaper candidate scoring), and (2) return EXACT cosines for
    whatever it returns — the re-rank stage scores in the original
    space, so every emitted cosine must equal the brute-force value."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        cosine_topk,
        jl_topk,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    approx = jl_topk(emb, queries, k=3, shortlist=50, out_dim=32).collect()
    exact = cosine_topk(emb, queries, k=3).collect()

    exact_pairs = {(r.query_id, r.vec_id): r.cosine for r in exact}
    approx_pairs = {(r.query_id, r.vec_id): r.cosine for r in approx}
    assert len(approx_pairs) == len(exact_pairs) == 30  # 10 queries x 3

    hits = sum(1 for p in approx_pairs if p in exact_pairs)
    assert hits / len(exact_pairs) >= 0.6  # shortlist recall gate

    # re-ranked cosines are exact wherever the pair is in both sets
    for p, cos in approx_pairs.items():
        if p in exact_pairs:
            assert abs(cos - exact_pairs[p]) < 1e-9


def test_heavy_hitters_exact_under_guarantee(spark, docs):
    """Sketch-pruned top-k must equal the full-domain aggregation on the
    corpus vocabulary (the guarantee condition holds: stopword counts
    far exceed N/capacity)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import tokenize
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sketches import heavy_hitters

    words = docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
    got = [(r.key, r.n, r.rank) for r in heavy_hitters(words, "word", k=10).collect()]
    want = [
        (r.word, r.n, i + 1)
        for i, r in enumerate(
            words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("word"))
            .limit(10)
            .collect()
        )
    ]
    assert got == want


def test_heavy_hitters_starved_capacity_keeps_true_hitters(spark):
    """Force a tiny capacity over a skewed stream: keys whose frequency
    exceeds N/capacity MUST still be found with exact counts (the MG
    pigeonhole guarantee); the long singleton tail must not displace
    them."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sketches import heavy_hitters

    rows = [("hot",)] * 300 + [("warm",)] * 150 + [(f"tail{i}",) for i in range(500)]
    df = spark.createDataFrame(rows, ["key"]).repartition(4)
    # N=950, capacity=8 -> threshold ~119: hot and warm are guaranteed
    out = {r.key: (r.n, r.rank) for r in heavy_hitters(df, "key", k=2, capacity=8).collect()}
    assert out["hot"] == (300, 1)
    assert out["warm"] == (150, 2)


def test_span_dedup_interval_union(spark):
    """Handcrafted repeats: an 8-token phrase shared by two docs marks
    exactly one duplicate occurrence (8 covered tokens) in the later
    doc; a 9-token shared run produces two OVERLAPPING gram occurrences
    that the interval union must merge to 9 covered tokens, not 16;
    docs shorter than the gram width report zeros."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import span_dedup_stats

    p = "p1 p2 p3 p4 p5 p6 p7 p8"
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 a4 {p} b1 b2 b3 b4"),   # first occurrence -> keeper
            (2, f"c1 c2 {p} d1 d2 d3 d4"),          # one dup gram, 8 covered
            (4, f"z1 {p} b1 z2"),                   # 9-token repeat of doc 1's run
            (5, "too short"),                        # < width -> zeros
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in span_dedup_stats(docs, "doc_id", "text", width=8).collect()}
    assert (out[1].n_dup_occ, out[1].n_covered) == (0, 0)   # keeper untouched
    assert (out[2].n_dup_occ, out[2].n_covered) == (1, 8)
    assert (out[4].n_dup_occ, out[4].n_covered) == (2, 9)   # merged, not 16
    assert (out[5].n_tokens, out[5].n_dup_occ, out[5].n_covered) == (2, 0, 0)


def test_auto_salted_join_picks_factor_and_preserves_semantics(spark):
    """The sketch-driven salt factor must equal ceil(top_share * 16)
    clamped to [1, 16], and the salted result must equal the plain join
    exactly (salting is layout, never semantics)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.skew import auto_salted_join

    ev = load_table(spark, SF_DIR, "events")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0)],
        "event_type string, weight double",
    )
    joined, factor = auto_salted_join(ev, dim, on="event_type", salt_source=["event_id"])
    import math

    counts = {r.event_type: r.cnt for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    share = max(counts.values()) / sum(counts.values())
    assert factor == max(1, min(16, math.ceil(share * 16)))

    plain = ev.join(dim, "event_type").select("event_id", "weight")
    salted = joined.select("event_id", "weight")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_semdedup_jl_confirm_matches_fulldim_drop_rate(spark, emb):
    """The JL-accelerated SemDeDup confirms every candidate with the
    exact full-dim cosine, so its DROP RATE must track the full-dim
    operator closely (residual disagreement comes only from which cell
    a vector lands in — ordinary clustering variance). Thresholding in
    projected space directly, without confirm, over-drops 3x on this
    near-orthogonal corpus — the property this test protects."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import semdedup, semdedup_jl

    full = {r.vec_id: r.keep for r in semdedup(emb, nlist=16, min_cosine=0.3).collect()}
    jl = {r.vec_id: r.keep for r in semdedup_jl(
        emb, nlist=16, min_cosine=0.3, cand_cosine=0.05, out_dim=32
    ).collect()}
    assert set(jl) == set(full)
    drop_full = sum(1 for v in full.values() if not v) / len(full)
    drop_jl = sum(1 for v in jl.values() if not v) / len(jl)
    assert abs(drop_jl - drop_full) < 0.05  # measured 0.306 vs 0.308


def test_containment_detects_nested_duplication(spark):
    """A short doc fully quoted inside a long one: containment(short in
    long) = 1.0 while symmetric Jaccard stays low — the case that
    motivates the asymmetric measure."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long_ = "intro words here " + short + " " + " ".join(f"tail{i}" for i in range(40))
    docs = spark.createDataFrame([(1, short), (2, long_)], ["doc_id", "text"])

    cont = {(r.doc, r.other): r.containment
            for r in D.ngram_containment_pairs(docs, "doc_id", "text", n=3, threshold=0.1).collect()}
    assert cont[(1, 2)] == 1.0            # every shingle of the short doc is in the long one
    assert cont[(2, 1)] < 0.2             # the long doc is NOT contained in the short one

    jac = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0).collect()
    assert all(r.jaccard < 0.2 for r in jac)  # symmetric measure misses it


def test_normalize_text_merges_reformatted_copies(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import normalized_dedup_keepers

    rows = [
        (1, "Hello, World!"),
        (2, "hello   world"),
        (3, "HELLO WORLD."),
        (4, "goodbye world"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = normalized_dedup_keepers(df, "doc_id", "text").collect()
    by_keeper = {r["keeper_id"]: (r["n_copies"], r["n_distinct_raw"]) for r in out}
    # the three reformatted copies merge under keeper 1; raw hashes differ
    assert by_keeper[1] == (3, 3)
    assert by_keeper[4] == (1, 1)


def test_edit_distance_pairs_blocking_and_cap(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "the quick brown fox jumps over the dog"),
        (2, "the quick brown fox jumps over the cat"),  # dist 3 from 1
        (3, "a completely different document body"),
        (4, "the quick brown fox jumps over the dog"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = edit_distance_pairs(df, "doc_id", "text", max_distance=3)
    got = {(r["doc"], r["other"]): r["distance"] for r in out.collect()}
    assert got[(1, 4)] == 0
    assert got[(1, 2)] == 3 and got[(2, 4)] == 3
    assert (1, 3) not in got and (2, 3) not in got
    # hot-block cap: with max_block_size=1 every block is dropped
    assert (
        edit_distance_pairs(df, "doc_id", "text", max_block_size=1).count() == 0
    )


def test_edit_distance_blocking_misses_prefix_divergence(spark):
    # documented blocking limitation: a distance-1 pair whose edit sits
    # INSIDE the block prefix lands in different blocks and is not
    # emitted — the recall/cost trade every blocking scheme makes
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import edit_distance_pairs

    rows = [(1, "xalpha beta gamma delta"), (2, "yalpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert edit_distance_pairs(df, "doc_id", "text", max_distance=3).count() == 0


def test_bm25_rare_term_outranks_common(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import bm25_topk

    rows = [
        (1, "zebra apple apple apple"),  # rare term once
        (2, "apple apple apple apple"),  # common term only
        (3, "apple banana cherry date"),
        (4, "apple zebra zebra extra"),  # rare term twice
        (5, "no match here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, ["zebra", "apple"], k=5).collect()
    ranked = [r["doc_id"] for r in out]
    # doc 5 has no query term: excluded entirely
    assert 5 not in ranked
    # idf(zebra) >> idf(apple): both zebra docs beat the apple-only docs
    assert set(ranked[:2]) == {1, 4}


def test_semdedup_incremental_corpus_canonical_batch_pairs_survive(spark, emb):
    """Incremental SemDeDup: a batch vector whose exact copy lives in
    the CORPUS is dropped (corpus is canonical regardless of id order);
    two near-identical vectors arriving in the SAME batch both survive
    (the batch only pairs against the corpus); a batch vector with no
    same-cell corpus neighbor above threshold is kept."""
    base = emb.select("vec_id", "embedding")
    corpus = base.filter(F.col("vec_id") % 4 != 0)
    # batch: a LOWER-id copy of corpus vector 7 (id order must not save
    # it), plus two copies of corpus vector 9's embedding under fresh
    # ids in the same batch
    copy_of_7 = corpus.filter(F.col("vec_id") == 7).select(
        F.lit(1).alias("vec_id"), F.col("embedding")
    )
    twin_a = corpus.filter(F.col("vec_id") == 9).select(
        F.lit(200001).alias("vec_id"), F.col("embedding")
    )
    twin_b = corpus.filter(F.col("vec_id") == 9).select(
        F.lit(200002).alias("vec_id"), F.col("embedding")
    )
    batch = copy_of_7.unionByName(twin_a).unionByName(twin_b)
    out = {
        r.vec_id: r
        for r in SIM.semdedup_incremental(
            corpus, batch, nlist=8, min_cosine=0.3
        ).collect()
    }
    assert len(out) == 3  # verdicts for BATCH rows only
    assert out[1].keep is False  # corpus copy wins despite higher id
    # twins of corpus vector 9 are both dropped BY THE CORPUS COPY,
    # not by each other — prove intra-batch pairing is off by removing
    # vector 9 from the corpus and re-running
    corpus_no9 = corpus.filter(F.col("vec_id") != 9)
    out2 = {
        r.vec_id: r.keep
        for r in SIM.semdedup_incremental(
            corpus_no9, twin_a.unionByName(twin_b), nlist=8, min_cosine=0.99
        ).collect()
    }
    assert out2 == {200001: True, 200002: True}


def test_semdedup_vs_table_matches_incremental_and_prunes_store_scan(spark, emb, tmp_path):
    """The persisted-cells path must produce verdicts identical to the
    direct incremental operator, and its executed plan must PRUNE the
    stored corpus scan to the batch's touched cell partitions (non-empty
    PartitionFilters — the per-batch store READ is bounded by the batch,
    never O(corpus))."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        persist_corpus_cells,
        semdedup_batch_vs_table,
        semdedup_incremental,
    )

    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    root = str(tmp_path / "cells_eq")
    persist_corpus_cells(corpus, root, nlist=8)
    direct = {
        r.vec_id: (r.cell, r.keep)
        for r in semdedup_incremental(corpus, batch, nlist=8, min_cosine=0.3).collect()
    }
    via_table = semdedup_batch_vs_table(spark, root, batch, nlist=8, min_cosine=0.3)
    got = {r.vec_id: (r.cell, r.keep) for r in via_table.collect()}
    assert got == direct
    plan = via_table._jdf.queryExecution().executedPlan().toString()
    store_scans = [  # only the store carries norms (the batch is checkpointed)
        ln for ln in plan.splitlines() if "FileScan" in ln and "c_norm" in ln
    ]
    assert store_scans, "expected a FileScan of the persisted store"
    for ln in store_scans:
        # a non-partitioned regression has NO PartitionFilters section
        assert "PartitionFilters:" in ln, f"store scan not partitioned: {ln[:200]}"
        assert "PartitionFilters: []" not in ln, f"unpruned store scan: {ln[:200]}"
        assert "cell" in ln.split("PartitionFilters:")[1][:200]


def test_append_corpus_cells_is_incremental_and_flags_new_dups(spark, emb, tmp_path):
    """Appending survivors into the cells store must preserve the
    partitioned layout (no rewrite) and make them visible to the next
    batch's screen: a vector identical to an appended one is dropped."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_corpus_cells,
        persist_corpus_cells,
        read_corpus_cells,
        semdedup_batch_vs_table,
    )

    corpus = emb.filter((F.col("vec_id") % 3 != 0) & (F.col("vec_id") < 400))
    name = str(tmp_path / "cells_append")
    persist_corpus_cells(corpus, name, nlist=8)
    n0 = read_corpus_cells(spark, name).count()

    # accept a fresh vector (corpus vec 401's embedding under a new id)
    newcomer = emb.filter(F.col("vec_id") == 401).select(
        F.lit(900001).alias("vec_id"), F.col("embedding")
    )
    append_corpus_cells(spark, name, newcomer, nlist=8)
    assert read_corpus_cells(spark, name).count() == n0 + 1

    # next batch: an exact copy of the appended vector must now drop
    echo = emb.filter(F.col("vec_id") == 401).select(
        F.lit(900002).alias("vec_id"), F.col("embedding")
    )
    out = {
        r.vec_id: r.keep
        for r in semdedup_batch_vs_table(
            spark, name, echo, nlist=8, min_cosine=0.99
        ).collect()
    }
    assert out == {900002: False}


def test_compact_corpus_cells_collapses_append_files(spark, emb, tmp_path):
    """Three O(batch) appends leave one file per touched cell per
    append; compaction rebuilds to ONE file per cell with identical
    rows and identical vs-table dedup verdicts (the join contract
    survives), committed by the atomic pointer flip."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_root
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        _cell_file_stats,
        append_corpus_cells,
        compact_corpus_cells,
        persist_corpus_cells,
        read_corpus_cells,
        semdedup_batch_vs_table,
    )

    corpus = emb.filter((F.col("vec_id") % 3 != 0) & (F.col("vec_id") < 300))
    name = str(tmp_path / "cells_compact")
    persist_corpus_cells(corpus, name, nlist=8)
    for i in range(3):
        extra = emb.filter(F.col("vec_id") == 301 + i).select(
            (F.col("vec_id") + 700000).alias("vec_id"), F.col("embedding")
        )
        append_corpus_cells(spark, name, extra, nlist=8)
    rows_before = sorted(
        (r.vec_id, r.cell)
        for r in read_corpus_cells(spark, name).select("vec_id", "cell").collect()
    )
    batch = emb.filter(F.col("vec_id") % 3 == 0).limit(50)
    verdict_before = sorted(
        tuple(r) for r in semdedup_batch_vs_table(spark, name, batch, nlist=8).collect()
    )
    assert _cell_file_stats(spark, live_root(spark, name))["n_files"] > 8

    stats = compact_corpus_cells(spark, name)
    # at most one file per cell (empty cells write no file)
    assert stats["files_after"] <= 8
    assert stats["files_after"] < stats["files_before"]
    assert stats["n_rows"] == len(rows_before)
    rows_after = sorted(
        (r.vec_id, r.cell)
        for r in read_corpus_cells(spark, name).select("vec_id", "cell").collect()
    )
    assert rows_after == rows_before
    verdict_after = sorted(
        tuple(r) for r in semdedup_batch_vs_table(spark, name, batch, nlist=8).collect()
    )
    assert verdict_after == verdict_before


def test_compact_bucketed_store_collapses_bands_append_files(spark, docs):
    """The bucketed-store compactor (serving the high-cardinality
    (band, bucket) bands layout, which CANNOT hive-partition) still
    collapses per-append files to one per bucket with identical rows."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._tables import (
        compact_bucketed_store,
        store_file_stats,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import (
        band_signatures,
        minhash_signatures,
        persist_corpus_bands,
    )

    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    name = "t_bands_compact"
    persist_corpus_bands(
        sigs.filter(F.col("doc_id") % 2 == 0), name,
        num_bands=4, num_hashes=16, n_buckets=4,
    )
    stored_cols = spark.table(name).columns
    for k in (1, 3):
        extra = band_signatures(
            sigs.filter(F.col("doc_id") % 4 == k), num_bands=4, num_hashes=16
        )
        extra.select(*stored_cols).write.insertInto(name)
    rows_before = spark.table(name).count()
    assert store_file_stats(spark, name)["n_files"] > 4

    stats = compact_bucketed_store(spark, name)
    assert stats["files_after"] <= 4
    assert stats["files_after"] < stats["files_before"]
    assert spark.table(name).count() == rows_before


def test_new_round6_operators_tolerate_empty_input(spark):
    """Empty-input behavior of the round-6 operators: no crashes, sane
    empty/degenerate outputs (a micro-batch pipeline WILL see empty
    batches)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.packing import pack_first_fit_nosplit
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sketches import hashmin_sample_quantiles
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import semdedup_incremental

    empty_docs = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_first_fit_nosplit(empty_docs, budget=64, n_shards=4).count() == 0

    # empty sample → every quantile row present with NULL estimate
    empty_kv = spark.createDataFrame([], "k long, v double")
    rows = hashmin_sample_quantiles(empty_kv, "k", "v", k=16).collect()
    assert len(rows) == 6
    assert all(r.n_sample == 0 and r.est is None for r in rows)

    # empty BATCH against a real corpus → zero verdict rows
    emb_rows = [(i, [float(i % 7), 1.0]) for i in range(20)]
    corpus = spark.createDataFrame(emb_rows, "vec_id long, embedding array<float>")
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semdedup_incremental(corpus, empty_emb, nlist=4).count() == 0


def test_append_low_id_does_not_reseed_centroids(spark, emb, tmp_path):
    """A survivor appended with an id BELOW the original seed ids must
    not re-seed the quantizer: stored cell assignments stay valid, and
    an exact copy of an existing corpus vector is still caught on the
    next screen (the centroid-drift failure mode of deriving seeds from
    the store's current lowest ids)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_corpus_cells,
        persist_corpus_cells,
        read_corpus_cells,
        semdedup_batch_vs_table,
    )

    corpus = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 400)).select(
        "vec_id", "embedding"
    )
    name = str(tmp_path / "cells_lowid")
    persist_corpus_cells(corpus, name, nlist=8)
    # append a fresh vector under id 5 — far below every original seed
    low = emb.filter(F.col("vec_id") == 450).select(
        F.lit(5).alias("vec_id"), F.col("embedding")
    )
    append_corpus_cells(spark, name, low, nlist=8)
    # an exact copy of corpus vector 200 must still be dropped
    echo = corpus.filter(F.col("vec_id") == 200).select(
        F.lit(888888).alias("vec_id"), F.col("embedding")
    )
    out = {
        r.vec_id: r.keep
        for r in semdedup_batch_vs_table(
            spark, name, echo, nlist=8, min_cosine=0.99
        ).collect()
    }
    assert out == {888888: False}
    # retried append of the same low-id row is a no-op (idempotent)
    n = read_corpus_cells(spark, name).count()
    append_corpus_cells(spark, name, low, nlist=8)
    assert read_corpus_cells(spark, name).count() == n


def test_retrain_corpus_cells_reseeds_and_preserves_content(spark, emb, tmp_path):
    """Retraining with a larger nlist must preserve every stored vector,
    freeze exactly nlist new snapshot centroids, and keep the screen
    working (an exact copy of a stored vector still drops) — the
    maintenance step behind the nlist-grows-with-the-corpus rule."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_root
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        _read_centroids,
        append_corpus_cells,
        persist_corpus_cells,
        read_corpus_cells,
        retrain_corpus_cells,
        semdedup_batch_vs_table,
    )

    corpus = emb.filter((F.col("vec_id") % 2 != 0) & (F.col("vec_id") < 300)).select(
        "vec_id", "embedding"
    )
    name = str(tmp_path / "cells_retrain")
    persist_corpus_cells(corpus, name, nlist=4)
    extra = emb.filter(F.col("vec_id") == 302).select(
        F.lit(600001).alias("vec_id"), F.col("embedding")
    )
    append_corpus_cells(spark, name, extra, nlist=4)
    n_before = read_corpus_cells(spark, name).count()

    stats = retrain_corpus_cells(spark, name, nlist=16)
    assert stats == {"n_rows": n_before, "nlist": 16}
    assert read_corpus_cells(spark, name).count() == n_before
    assert len(_read_centroids(spark, live_root(spark, name))) == 16
    # ids preserved exactly
    ids = sorted(r.vec_id for r in read_corpus_cells(spark, name).select("vec_id").collect())
    assert len(ids) == n_before and ids[-1] == 600001
    # the screen still catches an exact copy under the new quantizer
    echo = corpus.filter(F.col("vec_id") == 101).select(
        F.lit(777777).alias("vec_id"), F.col("embedding")
    )
    out = {
        r.vec_id: r.keep
        for r in semdedup_batch_vs_table(
            spark, name, echo, nlist=16, min_cosine=0.99
        ).collect()
    }
    assert out == {777777: False}


def test_cells_store_pointer_never_missing_across_lifecycle(spark, emb, tmp_path):
    """The store root must resolve at EVERY point of the lifecycle
    (persist → append → retrain → compact → re-persist): the commit
    point is one atomic _VERSION pointer rewrite, so a reader
    interleaved between any two maintenance steps never observes a
    missing store — and at most two snapshots (live + one grace
    generation) exist between steps."""
    import os

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_version
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_corpus_cells,
        compact_corpus_cells,
        drop_corpus_cells,
        persist_corpus_cells,
        read_corpus_cells,
        retrain_corpus_cells,
    )

    corpus = emb.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 500))
    name = str(tmp_path / "cells_ptr")

    def readable():
        # a concurrent reader's two ops: resolve the pointer, scan it
        return read_corpus_cells(spark, name).count()

    persist_corpus_cells(corpus, name, nlist=4)
    n0, v0 = readable(), live_version(spark, name)
    extra = emb.filter(F.col("vec_id") == 497).select(
        F.lit(910001).alias("vec_id"), F.col("embedding")
    )
    append_corpus_cells(spark, name, extra, nlist=4)
    assert readable() == n0 + 1
    retrain_corpus_cells(spark, name, nlist=8)
    assert readable() == n0 + 1
    compact_corpus_cells(spark, name)
    assert readable() == n0 + 1
    v3 = live_version(spark, name)
    assert v3 > v0

    def snapshots():
        return {d for d in os.listdir(name) if d.startswith("v=")}

    # deferred reclamation: EXACTLY the live version plus the one it
    # just superseded survive each maintenance step (one-generation
    # retention for in-flight readers, everything older swept — bounded
    # litter, never unbounded version accumulation)
    assert snapshots() == {f"v={v3}", f"v={v3 - 1}"}
    # re-persist over the live store also flips cleanly AND retires the
    # oldest kept version two steps after it was superseded
    persist_corpus_cells(corpus, name, nlist=4)
    assert readable() == n0
    v4 = live_version(spark, name)
    assert v4 > v3
    assert snapshots() == {f"v={v4}", f"v={v3}"}
    drop_corpus_cells(spark, name)
    assert not os.path.exists(name)


def test_store_maintenance_rejects_mutated_redelivery(spark, emb, tmp_path):
    """The append id-immutability contract is ENFORCED, not just
    documented: re-sending a stored id with a different embedding slips
    past append's cell-pruned presence check (by design — it assigns to
    a different cell), but the next retrain/compact audits id
    uniqueness inside its full scan and raises, leaving the live store
    untouched. A clean store still retrains/compacts fine."""
    import pytest

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_version
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_corpus_cells,
        compact_corpus_cells,
        drop_corpus_cells,
        persist_corpus_cells,
        read_corpus_cells,
        retrain_corpus_cells,
    )

    name = str(tmp_path / "cells_mut")
    corpus = emb.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 400))
    persist_corpus_cells(corpus, name, nlist=4)
    # redeliver id 10 with a DIFFERENT embedding (vec 497's) — negated to
    # guarantee it assigns away from the stored copy's cell
    mutated = emb.filter(F.col("vec_id") == 497).select(
        F.lit(10).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    append_corpus_cells(spark, name, mutated, nlist=4)
    dup = read_corpus_cells(spark, name).filter(F.col("vec_id") == 10).count()
    assert dup == 2, "mutated redelivery should evade the pruned check"
    v_before = live_version(spark, name)
    with pytest.raises(ValueError, match="id-immutability"):
        compact_corpus_cells(spark, name)
    with pytest.raises(ValueError, match="id-immutability"):
        retrain_corpus_cells(spark, name, nlist=8)
    assert live_version(spark, name) == v_before  # store untouched
    drop_corpus_cells(spark, name)
    # clean store: both maintenance steps still run
    persist_corpus_cells(corpus, name, nlist=4)
    n = read_corpus_cells(spark, name).count()
    assert compact_corpus_cells(spark, name)["n_rows"] == n
    assert retrain_corpus_cells(spark, name, nlist=8)["n_rows"] == n
    drop_corpus_cells(spark, name)


def test_int8_rescore_matches_exact_topk(spark, emb):
    """With a 20-deep shortlist the two-stage rescore must return the
    SAME ids and ranks as exact brute-force cosine top-k: the int8
    stage only prunes, the exact stage repairs any quantization
    reordering inside the shortlist. Cosines agree to the 6-decimal
    publication rounding."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        cosine_topk,
        int8_rescore_topk,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.rank): (r.vec_id, round(r.cosine, 6))
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    got = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in int8_rescore_topk(emb, queries, k=3, shortlist=20).collect()
    }
    assert got == exact


def test_window_sliding_distinct_boundary(spark):
    """Hand-built events around a 24h boundary: a user active at hour 0
    counts for target hours 0..23 but NOT hour 24. The GATE form pins
    bitmap-vs-countDistinct agreement on every row; the production form
    (bitmap only, post r9 split) must publish the same n_active."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra import (
        q_window_sliding_distinct,
        q_window_sliding_distinct_gate,
    )
    import gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra as AX

    rows = [
        (1, "2024-01-01 00:10:00", 100),  # hour 0
        (2, "2024-01-01 23:10:00", 200),  # hour 23 (user 100 still in window)
        (3, "2024-01-02 00:20:00", 200),  # hour 24 (user 100 aged out)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, user_id long").select(
        "event_id", F.to_timestamp("ts").alias("ts"), "user_id"
    )
    orig = AX.load_table
    AX.load_table = lambda spark_, sf_dir, name: ev
    try:
        gate = {r.hour: (r.n_bitmap, r.n_exact, r.agree) for r in
                q_window_sliding_distinct_gate(spark, "ignored").collect()}
        prod = {r.hour: r.n_active for r in
                q_window_sliding_distinct(spark, "ignored").collect()}
    finally:
        AX.load_table = orig
    assert gate == {
        "2024-01-01 00": (1, 1, 1),
        "2024-01-01 23": (2, 2, 1),
        "2024-01-02 00": (1, 1, 1),
    }
    assert prod == {h: n for h, (n, _, _) in gate.items()}


def test_kmv_distinct_estimator_accuracy(spark):
    """KMV estimate within the sketch's statistical error of the exact
    count for every group large enough to engage the estimator
    (relative sigma ~ 1/sqrt(k-2) ~ 18% at k=32; assert a generous 3
    sigma), and EXACT for groups below k."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra import (
        q_approx_kmv_distinct,
    )

    rows = q_approx_kmv_distinct(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r.n_exact < 32:
            assert r.n_est == float(r.n_exact)
        else:
            assert abs(r.n_est - r.n_exact) / r.n_exact < 0.55, (
                f"{r.event_type}: est {r.n_est} vs exact {r.n_exact}"
            )


def test_window_sliding_quantile_merge_equals_direct(spark):
    """The KMV merge claim: re-taking the k smallest hashes from the
    union of per-hour k-minimum samples equals the sample a direct
    pass over the window's RAW events would take (any hash in the
    global top-k is in its own hour's top-k). Built with >k events per
    hour so per-hour truncation actually bites, and checked against a
    pure-Python replay of md5 ranking + DISC indexing."""
    import hashlib
    import math

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra import (
        q_window_sliding_quantile,
    )
    import gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.analytics_extra as AX

    k = 64
    rows = []
    for day, hour in ((1, 0), (1, 1), (2, 0)):  # hour 24 ages hour 0 out
        for i in range(100):  # 100 > k per hour
            eid = (day * 24 + hour) * 1000 + i
            rows.append(
                (eid, f"2024-01-0{day} {hour:02d}:15:00", float((eid * 37) % 500))
            )
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, value double"
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "value")

    orig = AX.load_table
    AX.load_table = lambda spark_, sf_dir, name: ev
    try:
        got = {r.hour: (r.n_sample, r.p50, r.p90) for r in
               q_window_sliding_quantile(spark, "ignored").collect()}
    finally:
        AX.load_table = orig

    def direct(eids_values):
        samp = sorted(
            ((hashlib.md5(str(e).encode()).hexdigest(), v) for e, v in eids_values)
        )[:k]
        vs = sorted(v for _, v in samp)
        n = len(vs)

        def est(q):
            return vs[max(math.ceil(q * n), 1) - 1]

        return (n, est(0.5), est(0.9))

    def hour_rows(day, hour):
        lo = (day * 24 + hour) * 1000
        return [(e, v) for e, _, v in rows if lo <= e < lo + 1000]

    h0, h1, h24 = hour_rows(1, 0), hour_rows(1, 1), hour_rows(2, 0)
    assert got == {
        "2024-01-01 00": direct(h0),
        "2024-01-01 01": direct(h0 + h1),  # trailing window spans both
        # exactly 24h later: hour 0 aged OUT, hour 1 still in
        "2024-01-02 00": direct(h1 + h24),
    }


def test_cells_store_reclaims_crashed_build_orphans(spark, emb, tmp_path):
    """A crash between a snapshot build and its pointer flip leaves an
    orphan ``v=N`` directory. The next persist must (a) never point at
    the orphan, (b) build a HIGHER version than any orphan so a stale
    orphan can't shadow fresh data, and (c) reclaim the orphan at its
    publish."""
    import os

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_version
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        _write_cells_snapshot,
        drop_corpus_cells,
        persist_corpus_cells,
        read_corpus_cells,
        semdedup_batch_vs_table,
    )

    name = str(tmp_path / "cells_orphan")
    corpus = emb.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") < 350))
    # simulate a crashed build: snapshot v=3 staged, no pointer
    _write_cells_snapshot(corpus.limit(5), f"{name}/v=3", 2)
    assert live_version(spark, name) is None

    persist_corpus_cells(corpus, name, nlist=4)
    v = live_version(spark, name)
    assert v == 4  # above the orphan, so the orphan can't shadow it
    assert read_corpus_cells(spark, name).count() == corpus.count()
    assert sorted(d for d in os.listdir(name) if not d.startswith(".")) == [
        "_VERSION", "v=4",
    ]
    # the store still screens correctly after recovery
    echo = corpus.limit(1).select(F.lit(999999).alias("vec_id"), "embedding")
    out = {
        r.vec_id: r.keep
        for r in semdedup_batch_vs_table(spark, name, echo, min_cosine=0.99).collect()
    }
    assert out == {999999: False}
    drop_corpus_cells(spark, name)


def test_interval_overlap_join_boundary_and_bucket_spanning(spark):
    """Hand-built intervals: closed-boundary touch counts as overlap,
    disjoint pairs never appear, and a pair sharing MANY buckets is
    emitted exactly once (the distinct collapses bucket fan-out)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0, 100), (2, 1000, 1100), (3, 0, 5000)], "id long, s long, e long"
    )
    right = spark.createDataFrame(
        [(10, 100, 200),    # touches interval 1 at exactly 100 → overlap
         (20, 101, 999),    # gap between 1 and 2 → only overlaps 3
         (30, 4000, 9000)], # spans many 600s buckets with 3
        "id long, s long, e long",
    )
    pairs = sorted(
        (r.id, r.r_id)
        for r in interval_overlap_join(left, right, bucket_secs=600).collect()
    )
    assert pairs == [(1, 10), (3, 10), (3, 20), (3, 30)]
    # multiset semantics: a duplicated input row yields its pairs twice
    # (canonical-bucket emission never collapses genuine duplicates)
    left2 = left.unionAll(left.filter(F.col("id") == 1))
    dup_pairs = sorted(
        (r.id, r.r_id)
        for r in interval_overlap_join(left2, right, bucket_secs=600).collect()
    )
    assert dup_pairs == [(1, 10), (1, 10), (3, 10), (3, 20), (3, 30)]


def test_embedding_health_counts_each_defect_class(spark):
    rows = [
        (1, [0.6, 0.8], 0),            # clean, norm 1.0
        (2, [3.0, 4.0], None),         # clean, norm 5.0; null label
        (3, [0.0, 0.0], 1),            # zero-norm
        (4, [float("nan"), 1.0], 1),   # non-finite
        (5, [float("inf"), 1.0], 1),   # non-finite
        (6, [1.0, 0.0, 0.0], 1),       # wrong dimension
        (7, None, 1),                  # null payload
        (2, [3.0, 4.0], 1),            # duplicate id
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = SIM.embedding_health(df, "vec_id", "embedding", "label").collect()[0]
    assert out["n_vecs"] == 8
    assert out["n_null_vec"] == 1
    assert out["n_dup_ids"] == 1
    assert out["n_dims"] == 2          # {2, 3}
    assert (out["dim_min"], out["dim_max"]) == (2, 3)
    assert out["n_nonfinite"] == 2
    assert out["n_zero_norm"] == 1
    # norm stats cover only finite vectors (zero-norm included: norm 0)
    assert (out["norm_min"], out["norm_max"]) == (0.0, 5.0)
    assert out["n_null_label"] == 1


def test_embedding_health_clean_store_is_all_zero_defects(spark):
    df = spark.createDataFrame(
        [(i, [1.0, 0.0], 0) for i in range(10)],
        "vec_id long, embedding array<double>, label int",
    )
    out = SIM.embedding_health(df, "vec_id", "embedding", "label").collect()[0]
    assert (
        out["n_null_vec"], out["n_dup_ids"], out["n_nonfinite"],
        out["n_zero_norm"], out["n_null_label"],
    ) == (0, 0, 0, 0, 0)
    assert out["n_dims"] == 1
    assert out["norm_min"] == out["norm_max"] == out["norm_mean"] == 1.0


def test_store_audit_reports_null_ids_as_distinct_defect(spark):
    """countDistinct ignores NULLs, so a NULL vec_id used to surface as
    a miscounted 'duplicate id' — the audit must name the real defect
    (NULL ids) and raise before the uniqueness comparison."""
    import pytest

    null_rows = spark.createDataFrame(
        [(1,), (None,), (2,)], "vec_id long"
    )
    with pytest.raises(ValueError, match="NULL vec_id"):
        SIM._audit_store_ids(null_rows, "t_store_nulls")
    # NULL + a genuine duplicate: the NULL defect is reported first,
    # never folded into the duplicate magnitude
    both = spark.createDataFrame([(1,), (1,), (None,)], "vec_id long")
    with pytest.raises(ValueError, match="NULL vec_id"):
        SIM._audit_store_ids(both, "t_store_nulls")
    clean = spark.createDataFrame([(1,), (2,), (3,)], "vec_id long")
    assert SIM._audit_store_ids(clean, "t_store_nulls") == 3


def test_ivf_train_sample_deterministic_and_partition_independent(spark, emb):
    """The r11 sampled quantizer fit: the kept training set is a pure
    hash function of (ids, nlist, seed) — identical after an arbitrary
    repartition (unlike DataFrame.sample), different under a different
    seed, pass-through when the corpus is under the cap — and the
    trained path still returns full top-k with sampling ACTIVE."""
    c = SIM.with_double_embedding(emb, "embedding").select(
        "vec_id", F.col("embedding").alias("c_vec")
    )
    n_corpus = c.count()  # 500 at sf0.001
    cap = SIM.TRAIN_SAMPLE_PER_CELL * 1
    assert n_corpus > cap, "fixture must exceed the nlist=1 cap"

    ids1 = sorted(r.vec_id for r in SIM._train_sample(c, 1, 42).collect())
    assert 0 < len(ids1) < n_corpus
    ids2 = sorted(
        r.vec_id for r in SIM._train_sample(c.repartition(7), 1, 42).collect()
    )
    assert ids1 == ids2  # partition-layout independent
    ids3 = sorted(r.vec_id for r in SIM._train_sample(c, 1, 43).collect())
    assert ids1 != ids3  # seed-keyed
    under_cap = c.limit(50)
    assert SIM._train_sample(under_cap, 1, 42).count() == 50  # pass-through

    # end-to-end with the sample ACTIVE (cap forced under the corpus;
    # nprobe == nlist probes every cell, so k rows must still come back)
    import unittest.mock as mock

    queries = emb.filter(F.col("vec_id") < 3)
    with mock.patch.object(SIM, "TRAIN_SAMPLE_PER_CELL", 100):
        out = SIM.ivf_topk(emb, queries, k=3, nlist=2, nprobe=2)
        per_q = {r.query_id: r.cnt for r in
                 out.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()}
    assert per_q == {0: 3, 1: 3, 2: 3}


def test_trained_corpus_cells_store_lifecycle(spark, emb, tmp_path):
    """persist_corpus_cells(trained=True) freezes SAMPLED-FIT k-means
    centroids into the same ``_centroids/`` shape the seed twin uses, so
    every consumer is quantizer-agnostic: the fit sees only the
    ~256·nlist hash-sample (forced ACTIVE here via a lowered cap) while
    the ASSIGNMENT covers the full corpus — every row lands in the
    store exactly once with a bounded cell id; an exact duplicate of a
    stored vector still screens to keep=False (identical vectors share
    a cell under ANY quantizer); append and trained retrain preserve
    the contract."""
    import unittest.mock as mock

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_corpus_cells,
        persist_corpus_cells,
        read_corpus_cells,
        retrain_corpus_cells,
        semdedup_batch_vs_table,
    )

    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    n_corpus = corpus.count()
    name = str(tmp_path / "cells_trained")
    with mock.patch.object(SIM, "TRAIN_SAMPLE_PER_CELL", 50):
        assert n_corpus > 50 * 4  # cap 200 < corpus: the fit IS sampled
        persist_corpus_cells(corpus, name, nlist=4, trained=True)
    stored = read_corpus_cells(spark, name)
    assert stored.count() == n_corpus  # full-corpus assignment despite sampled fit
    cells = {r.cell for r in stored.select("cell").distinct().collect()}
    assert cells <= set(range(4)) and cells

    # identical vector ⇒ same cell under any quantizer ⇒ screened out
    echo = emb.filter(F.col("vec_id") == 1).select(
        F.lit(900001).alias("vec_id"), F.col("embedding")
    )
    verdicts = {
        r.vec_id: r.keep
        for r in semdedup_batch_vs_table(
            spark, name, echo, nlist=4, min_cosine=0.99
        ).collect()
    }
    assert verdicts == {900001: False}

    # append against the FROZEN trained centroids, then trained retrain
    newcomer = emb.filter(F.col("vec_id") == 3).select(
        F.lit(900002).alias("vec_id"), F.col("embedding")
    )
    append_corpus_cells(spark, name, newcomer, nlist=4)
    assert read_corpus_cells(spark, name).count() == n_corpus + 1
    info = retrain_corpus_cells(spark, name, nlist=8, trained=True)
    assert info == {"n_rows": n_corpus + 1, "nlist": 8}
    assert read_corpus_cells(spark, name).count() == n_corpus + 1
    cells8 = {
        r.cell for r in read_corpus_cells(spark, name).select("cell").distinct().collect()
    }
    assert cells8 <= set(range(8))


def test_ivf_pq_clustered_layout_and_probed_cell_listing(spark, emb, tmp_path):
    """r15 scale fix: the index's file count and its readers' listings
    must be bounded by cells probed, never by nlist (which the
    maintenance contract scales with the corpus):

    * the clustered build writes exactly ONE data file per cell (an
      unclustered partitionBy would write one per input-split x cell);
    * search/rescore reads enumerate only the probed cells' dirs —
      a missing (empty) probed cell is skipped by an existence probe,
      all-missing degrades to empty/None, and the scan's inputFiles
      witness that unprobed cells were never listed;
    * an append stays clustered (one NEW file per touched cell) and
      learns store_vectors from _quantizer/meta.json, not a root read.
    """
    import json as _json
    import os

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_root
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        _read_index_cells,
        append_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_rescore_topk,
        ivf_pq_search,
    )

    root = str(tmp_path / "ivfpq_clustered")
    build_ivf_pq_index(emb, root, nlist=8, m=8, codebook_size=16, store_vectors=True)
    live = live_root(spark, root)  # appends land in-place: stays live

    def files_per_cell():
        return {
            d: [f for f in os.listdir(os.path.join(live, d)) if f.endswith(".parquet")]
            for d in os.listdir(live)
            if d.startswith("cell=")
        }

    before = files_per_cell()
    assert before and all(len(fs) == 1 for fs in before.values())
    # intra-file ordering: each cell's file is vec_id-sorted (the
    # row-group-pruning contract; sortWithinPartitions("cell","vec_id")
    # satisfies the dynamic-partition writer's required ordering, so
    # Spark inserts no extra — stability-unguaranteed — sort above it)
    import pyarrow.parquet as pq_

    for d, fs in before.items():
        col = pq_.read_table(os.path.join(live, d, fs[0]), columns=["vec_id"])[
            "vec_id"
        ].to_pylist()
        assert col == sorted(col), f"{d} not vec_id-sorted"

    # probed-cell-only listing: inputFiles of a 2-cell read name exactly
    # those two cells' dirs (inputFiles reflects the static file index,
    # which is the LISTING this test pins — not execution-time pruning)
    cells = sorted(int(d.split("=")[1]) for d in before)
    two = _read_index_cells(spark, root, cells[:2])
    listed = {f.split("/cell=")[1].split("/")[0] for f in two.inputFiles()}
    assert listed == {str(c) for c in cells[:2]}
    # a missing cell is skipped, not crashed on; rows come from the live one
    ghost = max(cells) + 1000
    mixed = _read_index_cells(spark, root, [cells[0], ghost])
    assert mixed.select("cell").distinct().collect()[0]["cell"] == cells[0]
    assert _read_index_cells(spark, root, [ghost]) is None

    # meta stamp: append learns the refine layout without a root read
    meta = _json.loads(open(os.path.join(live, "_quantizer", "meta.json")).read())
    assert meta["store_vectors"] is True and meta["nlist"] == 8
    batch = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    append_ivf_pq_index(batch, root)
    after = files_per_cell()
    touched = {d for d in after if len(after[d]) > len(before.get(d, []))}
    assert touched and all(len(after[d]) - len(before.get(d, [])) == 1 for d in touched)
    # appended rows carry c_vec (refine layout honored) and are findable
    got = ivf_pq_rescore_topk(
        spark, root, emb.filter(F.col("vec_id") < 2), k=3, shortlist=8, nprobe=8
    )
    assert got.count() > 0
    appended = (
        spark.read.option("basePath", live)
        .parquet(*[os.path.join(live, d) for d in touched])
        .filter(F.col("vec_id") >= 100000)
    )
    assert appended.count() == 5
    assert all(r.c_vec is not None for r in appended.select("c_vec").collect())

    # search over an index with genuinely probed-empty cells still works
    out = ivf_pq_search(spark, root, emb.filter(F.col("vec_id") < 3), k=5, nprobe=2)
    assert out.count() > 0


def test_ivf_pq_compact_restores_one_file_per_cell(spark, emb, tmp_path):
    """r16: compact_ivf_pq_index repairs the contract append erodes —
    after ≥3 appends a hot cell holds ≥4 files (one per batch); compact
    collapses every cell back to ONE vec_id-sorted file, carries the
    _quantizer verbatim, and search/rescore results are BIT-IDENTICAL
    pre/post (pure re-layout). The compacted copy is a NEW snapshot
    published by pointer flip; a crashed prior run's uncommitted
    staged version is swept on entry, and the pre-compact snapshot is
    retained one generation for in-flight readers."""
    import json as _json
    import os

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_root, live_version
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_ivf_pq_index,
        build_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_index_file_stats,
        ivf_pq_rescore_topk,
        ivf_pq_search,
        read_ivf_pq_index,
    )

    root = str(tmp_path / "ivfpq_compact")
    build_ivf_pq_index(
        emb.filter(F.col("vec_id") < 200),
        root,
        nlist=8,
        m=8,
        codebook_size=16,
        store_vectors=True,
    )
    for lo, hi in ((200, 300), (300, 400), (400, 1 << 62)):
        append_ivf_pq_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), root
        )
    pre = ivf_pq_index_file_stats(spark, root)
    assert pre["max_files_per_cell"] >= 4  # build + 3 appends on a hot cell
    n_rows_pre = read_ivf_pq_index(spark, root).count()
    q = emb.filter(F.col("vec_id") < 5)
    pre_search = sorted(map(tuple, ivf_pq_search(spark, root, q, k=3, nprobe=3).collect()))
    pre_rescore = sorted(
        map(tuple, ivf_pq_rescore_topk(spark, root, q, k=3, shortlist=10, nprobe=3).collect())
    )

    # a crashed prior compaction left an UNCOMMITTED staged snapshot
    # (version above the pointer) — swept on entry, never resolvable
    assert live_version(spark, root) == 1
    os.makedirs(f"{root}/v=7/cell=0", exist_ok=True)
    open(f"{root}/v=7/cell=0/garbage.parquet", "w").write("junk")

    res = compact_ivf_pq_index(spark, root)
    assert res["versions_swept"] == [7]
    assert res["files_before"] == pre["n_files"]
    assert res["files_after"] == res["n_cells"]  # exactly one per cell
    assert res["n_rows"] == n_rows_pre
    post = ivf_pq_index_file_stats(spark, root)
    assert post["max_files_per_cell"] == 1 and post["n_cells"] == pre["n_cells"]
    assert not os.path.exists(f"{root}/v=7")
    # the publish retained exactly {new, previous}: snapshot isolation
    # for a reader that resolved v=1 just before the flip (the crashed
    # v=7 was swept on entry, so the next version number is 2)
    assert res["version"] == 2 and live_version(spark, root) == 2
    assert sorted(d for d in os.listdir(root) if d.startswith("v=")) == [
        "v=1",
        "v=2",
    ]

    # each compacted file is vec_id-sorted (row-group-pruning contract)
    import pyarrow.parquet as pq_

    live = live_root(spark, root)
    for d in os.listdir(live):
        if not d.startswith("cell="):
            continue
        (f,) = [f for f in os.listdir(os.path.join(live, d)) if f.endswith(".parquet")]
        col = pq_.read_table(os.path.join(live, d, f), columns=["vec_id"])["vec_id"].to_pylist()
        assert col == sorted(col), f"{d} not vec_id-sorted after compact"

    # quantizer + meta carried verbatim; results identical
    meta = _json.loads(open(os.path.join(live, "_quantizer", "meta.json")).read())
    assert meta == {"store_vectors": True, "nlist": 8, "m": 8, "n_rows": 200}
    assert sorted(map(tuple, ivf_pq_search(spark, root, q, k=3, nprobe=3).collect())) == pre_search
    assert (
        sorted(map(tuple, ivf_pq_rescore_topk(spark, root, q, k=3, shortlist=10, nprobe=3).collect()))
        == pre_rescore
    )


def test_profile_cell_skew_flags_hot_cell(spark, tmp_path):
    """r16: a deliberately skewed embedding distribution (every
    non-seed vector parked next to centroid 0) must surface as a hot
    cell-0 row with skew ≫ 1 and trip the rebalance (re-train) signal;
    shares sum to 1."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_rebalance_needed,
        profile_cell_skew,
    )

    # 16 spread-out seed vectors (ids 0..15: the deterministic seed
    # quantizer; cells = seeds 0..3), then 100 vectors glued to seed 0
    rows = [(i, [float(i * 10 + 1), float(i), 0.0, 1.0]) for i in range(16)]
    rows += [(100 + j, [1.0 + 0.001 * j, 0.0, 0.0, 1.0]) for j in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "ivf_skewed")
    build_ivf_pq_index(df, root, nlist=4, m=2, codebook_size=16)

    prof = profile_cell_skew(spark, root).collect()
    assert prof[0]["cell"] == 0 and prof[0]["n_vectors"] >= 100
    assert prof[0]["skew"] > 3.0
    assert abs(sum(r["share"] for r in prof) - 1.0) < 0.01
    sig = ivf_rebalance_needed(spark, root, max_skew=3.0)
    assert sig == {
        "rebalance": True,
        "max_skew": prof[0]["skew"],
        "hot_cell": 0,
        "n_rows": 116,
    }

    # a balanced corpus must NOT trip it: same 16 seeds, then the bulk
    # round-robins the 4 CENTROID locations (seeds 0..3) evenly
    bal = spark.createDataFrame(
        rows[:16]
        + [
            (100 + j, [float(j % 4) * 10 + 1, float(j % 4), 0.0, 1.0])
            for j in range(144)
        ],
        "vec_id long, embedding array<double>",
    )
    root2 = str(tmp_path / "ivf_balanced")
    build_ivf_pq_index(bal, root2, nlist=4, m=2, codebook_size=16)
    assert ivf_rebalance_needed(spark, root2, max_skew=3.0)["rebalance"] is False

    # r17 gauge fix: a FULLY degenerate quantizer (identical seeds →
    # every vector ties into cell 0, cells 1..3 empty → no dirs on
    # disk) must read skew = nlist, not 1.0 — empty cells count in the
    # balanced-cell budget (total/nlist from the meta stamp), so the
    # worst possible imbalance can no longer masquerade as perfectly
    # balanced
    deg = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0, 1.0]) for i in range(4)]
        + [(100 + j, [float(j), 1.0, 0.0, 1.0]) for j in range(60)],
        "vec_id long, embedding array<double>",
    )
    root3 = str(tmp_path / "ivf_degenerate")
    build_ivf_pq_index(deg, root3, nlist=4, m=2, codebook_size=16)
    prof3 = profile_cell_skew(spark, root3).collect()
    assert len(prof3) == 1 and prof3[0]["cell"] == 0  # one populated cell
    assert prof3[0]["skew"] == 4.0  # = nlist: 100% of mass in 1 of 4 cells
    assert ivf_rebalance_needed(spark, root3, max_skew=3.0)["rebalance"] is True


def test_pq_meta_torn_stamp_and_literal_path_probe(spark, emb, tmp_path):
    """(a) meta.json is written once per snapshot, atomically, and
    never rewritten in place, so a TORN or MISSING stamp is external
    damage: every reader raises a repair-oriented error instead of
    guessing the layout; (b) the index existence probes are exact-path
    (fs.exists), so a path containing glob metacharacters is probed
    literally where globStatus would silently report it missing;
    (c) meta writes are staged+renamed (no .tmp residue)."""
    import os

    import pytest as _pytest

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import (
        glob_status,
        live_root,
        path_exists,
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        _load_pq_meta,
        append_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_rescore_topk,
    )

    root = str(tmp_path / "ivfpq_torn")
    build_ivf_pq_index(
        emb.filter(F.col("vec_id") < 200), root, nlist=8, m=8,
        codebook_size=16, store_vectors=True,
    )
    live = live_root(spark, root)
    meta_path = os.path.join(live, "_quantizer", "meta.json")
    assert not os.path.exists(meta_path + ".tmp") and not os.path.exists(
        os.path.join(live, "_quantizer", ".meta.json.tmp")
    )
    assert _load_pq_meta(spark, root)["store_vectors"] is True
    # tear the stamp THROUGH the Hadoop FS (in-place create, no staging;
    # checksum sidecar consistent)
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(meta_path)
    hfs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    stream = hfs.create(jpath, True)
    stream.write('{"store_vectors": tr'.encode())
    stream.close()
    q = emb.filter(F.col("vec_id") < 2)
    with _pytest.raises(ValueError, match="corrupt IVF-PQ meta stamp.*rebuild"):
        _load_pq_meta(spark, root)
    with _pytest.raises(ValueError, match="meta stamp"):
        ivf_pq_rescore_topk(spark, root, q, k=3, shortlist=8, nprobe=3)
    hfs.delete(jpath, False)  # a missing stamp raises the same way
    with _pytest.raises(ValueError, match="missing or corrupt IVF-PQ meta stamp"):
        append_ivf_pq_index(
            emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 210)), root
        )

    # literal-path probe: glob metachars in a real dir name
    weird = tmp_path / "idx [1] {a}"
    os.makedirs(weird / "cell=0", exist_ok=True)
    assert path_exists(spark, str(weird / "cell=0")) is True
    assert glob_status(spark, str(weird / "cell=0")) == []  # the old bug


def test_maintain_ivf_pq_index_tick(spark, emb, tmp_path):
    """r16: the maintenance tick composes the round's pieces — below
    the file threshold it does nothing; past it, it compacts (back to
    one file per cell) and reports; the retrain flag follows the skew
    audit (False on the balanced embeddings fixture)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_index_file_stats,
        maintain_ivf_pq_index,
    )

    root = str(tmp_path / "ivfpq_maint")
    build_ivf_pq_index(
        emb.filter(F.col("vec_id") < 400), root, nlist=8, m=8,
        codebook_size=16, store_vectors=True,
    )
    append_ivf_pq_index(emb.filter(F.col("vec_id") >= 400), root)
    # 2 files/cell max — under the threshold: no compaction
    tick = maintain_ivf_pq_index(spark, root, max_files_per_cell=8)
    assert tick["compacted"] is False and tick["compact_stats"] is None
    assert tick["retrain_needed"] is False
    assert tick["files"]["max_files_per_cell"] >= 2

    # force the threshold: now it compacts and the stats agree
    tick = maintain_ivf_pq_index(spark, root, max_files_per_cell=1)
    assert tick["compacted"] is True
    assert tick["compact_stats"]["files_after"] == tick["compact_stats"]["n_cells"]
    assert tick["files"]["max_files_per_cell"] == 1
    assert ivf_pq_index_file_stats(spark, root)["max_files_per_cell"] == 1


def test_ivf_pq_compact_edge_cases(spark, tmp_path):
    """r16: compaction corner cases — a heavily SPARSE index (all bulk
    mass in 2 of 8 cells; the other cells hold only their own seed
    vector, since a seed is always its own nearest centroid) compacts
    every live dir; compact is idempotent; an append AFTER compact
    stays clustered (exactly one new file per touched cell)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        append_ivf_pq_index,
        build_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_index_file_stats,
        ivf_pq_search,
    )

    # 16 seeds, all bulk vectors glued to seeds 0 and 1 -> cells 2..7
    # hold only single-seed populations (a seed is its own centroid,
    # so under the seed quantizer no cell is ever truly empty)
    rows = [(i, [float(i * 10 + 1), float(i), 0.0, 1.0]) for i in range(16)]
    rows += [
        (100 + j, [float(j % 2) * 10 + 1, float(j % 2), 0.0, 1.0])
        for j in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "ivf_sparse")
    build_ivf_pq_index(df, root, nlist=8, m=2, codebook_size=16, store_vectors=True)
    stats = ivf_pq_index_file_stats(spark, root)
    assert stats["n_cells"] == 8 and stats["max_files_per_cell"] == 1

    batch = spark.createDataFrame(
        [(500 + j, [1.0, 0.0, 0.0, 1.0]) for j in range(5)],
        "vec_id long, embedding array<double>",
    )
    append_ivf_pq_index(batch, root)
    res1 = compact_ivf_pq_index(spark, root)
    assert res1["files_after"] == res1["n_cells"] == stats["n_cells"]
    res2 = compact_ivf_pq_index(spark, root)  # idempotent
    assert res2["files_before"] == res2["files_after"] == res1["files_after"]
    assert res2["n_rows"] == res1["n_rows"] == 16 + 60 + 5

    # append AFTER compact stays clustered: exactly one new file per
    # touched cell, and search over the whole lifecycle still answers
    before = ivf_pq_index_file_stats(spark, root)
    append_ivf_pq_index(
        spark.createDataFrame(
            [(600, [1.0, 0.0, 0.0, 1.0]), (601, [11.0, 1.0, 0.0, 1.0])],
            "vec_id long, embedding array<double>",
        ),
        root,
    )
    after = ivf_pq_index_file_stats(spark, root)
    assert after["n_files"] - before["n_files"] in (1, 2)  # files == touched cells
    assert after["max_files_per_cell"] == 2
    q = df.filter(F.col("vec_id") < 2)
    out = ivf_pq_search(spark, root, q, k=3, nprobe=2)
    assert out.count() > 0


def test_ivf_pq_publish_reader_and_crash_at_every_point(spark, emb, tmp_path):
    """r18 (r17 verdict task 1): compaction and retrain publish by
    staged-snapshot + pointer flip. This test constructs EVERY point
    of a publish by hand and proves, at each: (a) a search issued
    against the tree returns the FULL pre-publish or FULL post-publish
    result — never an error, never a mix of one snapshot's cells with
    the other's quantizer (retrain changes both; results are compared
    at nprobe < nlist, where a mixed read would change the candidate
    set); (b) a subsequent maintenance run reconciles the state and
    loses ZERO rows."""
    import os
    import shutil

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_version
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        append_ivf_pq_index,
        compact_ivf_pq_index,
        ivf_pq_index_file_stats,
        ivf_pq_rescore_topk,
        ivf_pq_search,
        read_ivf_pq_index,
        retrain_ivf_pq_index,
        vacuum_ivf_pq_index,
    )

    root = str(tmp_path / "ivfpq_pub")
    build_ivf_pq_index(
        emb.filter(F.col("vec_id") < 200), root, nlist=8, m=8,
        codebook_size=16, store_vectors=True,
    )
    for lo, hi in ((200, 300), (300, 400), (400, 1 << 62)):
        append_ivf_pq_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), root
        )
    n_total = read_ivf_pq_index(spark, root).count()
    q = emb.filter(F.col("vec_id") < 5)

    def results(r):
        s = sorted(map(tuple, ivf_pq_search(spark, r, q, k=3, nprobe=3).collect()))
        g = sorted(
            map(
                tuple,
                ivf_pq_rescore_topk(spark, r, q, k=3, shortlist=10, nprobe=3).collect(),
            )
        )
        return (s, g)

    pre = results(root)
    pristine = str(tmp_path / "pristine")
    shutil.copytree(root, pristine)

    # donor runs: a genuine compacted snapshot (content-identical to
    # pre) and a genuine RETRAINED snapshot (k-means quantizer — new
    # centroids AND new cell assignments, so nprobe=3 results differ
    # from pre unless the reader resolves one coherent snapshot)
    donor_c = str(tmp_path / "donor_c")
    shutil.copytree(pristine, donor_c)
    compact_ivf_pq_index(spark, donor_c)  # publishes v=2
    donor_r = str(tmp_path / "donor_r")
    shutil.copytree(pristine, donor_r)
    retrain_ivf_pq_index(spark, donor_r, nlist=8)  # publishes v=2
    post_retrain = results(donor_r)

    def fresh(donor=None, staged_cells=None, flip=False, drop_old=False):
        """Assemble a publish point: pristine v=1 (pointer=1) plus an
        optionally partial/complete staged v=2 from the donor; flip
        the pointer and/or drop the old snapshot to model the
        post-publish points."""
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(pristine, root)
        if donor is not None:
            os.makedirs(f"{root}/v=2", exist_ok=True)
            names = sorted(os.listdir(f"{donor}/v=2"))
            if staged_cells is not None:
                names = [n for n in names if n.startswith("cell=")][:staged_cells]
            for n in names:
                shutil.copytree(f"{donor}/v=2/{n}", f"{root}/v=2/{n}")
        if flip:
            open(f"{root}/_VERSION", "w").write('{"v": 2}')
            for crc in (f"{root}/._VERSION.crc",):
                if os.path.exists(crc):
                    os.remove(crc)  # hand-edited pointer: drop stale checksum
        if drop_old:
            shutil.rmtree(f"{root}/v=1")

    def check(state, expected, versions_after_recovery):
        got = results(root)
        assert got == expected, f"{state}: reader saw a torn/mixed snapshot"
        # recovery: the next maintenance run reconciles and loses nothing
        res = compact_ivf_pq_index(spark, root)
        assert res["n_rows"] == n_total, f"{state}: rows lost in recovery"
        assert read_ivf_pq_index(spark, root).count() == n_total
        assert (
            read_ivf_pq_index(spark, root).select("vec_id").distinct().count()
            == n_total
        )
        assert ivf_pq_index_file_stats(spark, root)["max_files_per_cell"] == 1
        assert sorted(
            d for d in os.listdir(root) if d.startswith("v=")
        ) == versions_after_recovery
        got = results(root)
        assert got == expected, f"{state}: values changed across recovery"

    # -- compaction publish points (post == pre: pure re-layout) -----
    # A: crash mid-staging — partial v=2, pointer=1
    fresh(donor=donor_c, staged_cells=3)
    assert live_version(spark, root) == 1
    check("A: partial stage", pre, ["v=1", "v=2"])
    # B: staged snapshot complete, crash before the pointer flip
    fresh(donor=donor_c)
    check("B: staged, unflipped", pre, ["v=1", "v=2"])
    # C: pointer flipped, previous snapshot retained (grace)
    fresh(donor=donor_c, flip=True)
    assert live_version(spark, root) == 2
    check("C: flipped, grace copy", pre, ["v=2", "v=3"])
    # D: after vacuum — only the new snapshot remains
    fresh(donor=donor_c, flip=True)
    vacuum_ivf_pq_index(spark, root)
    assert sorted(d for d in os.listdir(root) if d.startswith("v=")) == ["v=2"]
    check("D: vacuumed", pre, ["v=2", "v=3"])

    # -- retrain publish points (post != pre at nprobe<nlist) --------
    assert post_retrain != pre  # the mix-detector has teeth
    # E: staged retrained snapshot complete, crash before the flip:
    # readers see the FULL pre-retrain result
    fresh(donor=donor_r)
    got = results(root)
    assert got == pre, "E: reader leaked the unpublished retrain"
    # recovery: the retried retrain sweeps the dead stage and republishes
    res = retrain_ivf_pq_index(spark, root, nlist=8)
    assert res["n_rows"] == n_total
    assert read_ivf_pq_index(spark, root).count() == n_total
    # F: pointer flipped to the retrained snapshot, grace copy retained:
    # readers see the FULL post-retrain result (cells + quantizer from
    # ONE snapshot — a mix would produce a third, different answer)
    fresh(donor=donor_r, flip=True)
    got = results(root)
    assert got == post_retrain, "F: reader mixed snapshots across the flip"
    # G: grace copy gone too
    fresh(donor=donor_r, flip=True, drop_old=True)
    got = results(root)
    assert got == post_retrain, "G: reader mixed snapshots post-vacuum"


def test_retrain_ivf_pq_index_rebalances_and_recalls(spark, tmp_path):
    """r17 (r16 verdict task 2): retrain_ivf_pq_index acts on the skew
    signal — on a deliberately skewed fixture (100 vectors glued near
    seed 0) the seed quantizer leaves one hot cell (skew ≫ 3); after a
    k-means retrain the max skew drops below the threshold, every row
    survives (count + distinct ids), and the RECALL GATE holds: the
    retrained index's exact-rescore top-k (all cells probed) matches
    brute-force cosine top-k, so retraining cannot silently destroy
    search quality. maintain_ivf_pq_index(retrain=True) performs the
    same retrain inline and clears its own flag."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        cosine_topk,
        ivf_pq_rescore_topk,
        ivf_rebalance_needed,
        maintain_ivf_pq_index,
        retrain_ivf_pq_index,
    )

    # degenerate SEED quantizer over genuinely BALANCED data: the four
    # lowest-id vectors (= the seed centroids) sit almost on top of each
    # other near the origin, so nearly every vector lands in the cell of
    # the marginally-nearest seed (cell 3) — skew ≈ 3.9. The data itself
    # is four well-separated, equally-populated clusters (ids 4..15
    # spread across them seed the PQ codebooks sanely), so a k-means
    # retrain finds the true clusters and the skew collapses to ~1.
    centers = [(0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0)]
    rows = [(i, [i * 0.001, 0.0, 0.0, 1.0]) for i in range(4)]
    rows += [
        (4 + j, [centers[j % 4][0] + j * 0.1, centers[j % 4][1] + j * 0.07, 0.0, 1.0])
        for j in range(12)
    ]
    rows += [
        (
            100 + j,
            [
                centers[j % 4][0] + (j % 7) * 0.3,
                centers[j % 4][1] + (j % 5) * 0.3,
                1.0,
                1.0,
            ],
        )
        for j in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "ivf_retrain")
    build_ivf_pq_index(
        df, root, nlist=4, m=2, codebook_size=16, store_vectors=True
    )
    before = ivf_rebalance_needed(spark, root, max_skew=3.0)
    assert before["rebalance"] is True

    res = retrain_ivf_pq_index(spark, root, nlist=4)
    assert res["n_rows"] == 136 and res["nlist_after"] == 4
    assert res["max_skew_after"] < res["max_skew_before"]
    after = ivf_rebalance_needed(spark, root, max_skew=3.0)
    assert after["rebalance"] is False, f"still skewed: {after}"
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import read_ivf_pq_index

    stored = read_ivf_pq_index(spark, root)
    assert stored.count() == 136 and stored.select("vec_id").distinct().count() == 136

    # recall gate: all-cells-probed exact rescore == brute-force top-k
    q = df.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(df, q, k=3).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_pq_rescore_topk(
            spark, root, q, k=3, shortlist=40, nprobe=4
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"retrain recall gate failed: {recall}"

    # the maintenance tick can perform the retrain inline
    root2 = str(tmp_path / "ivf_retrain_tick")
    build_ivf_pq_index(
        df, root2, nlist=4, m=2, codebook_size=16, store_vectors=True
    )
    tick = maintain_ivf_pq_index(spark, root2, max_skew=3.0, retrain=True)
    assert tick["retrained"] is True and tick["retrain_needed"] is False
    assert tick["retrain_stats"]["max_skew_after"] < tick["retrain_stats"]["max_skew_before"]

    # codes-only index: retrain refuses (codes are lossy) with guidance
    root3 = str(tmp_path / "ivf_codes_only")
    build_ivf_pq_index(df, root3, nlist=4, m=2, codebook_size=16)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refine-store"):
        retrain_ivf_pq_index(spark, root3)


def test_retrain_publish_crash_recovery_and_tick_sweep(spark, emb, tmp_path):
    """r18: a retrain that crashes before the pointer flip leaves the
    live pointer untouched — searches, stats and the maintenance tick
    all keep working against the committed snapshot, and the tick's
    entry sweep reclaims the dead staged version (r17 ADVICE: the tick
    previously never reclaimed, so a crashed cell could stay parked
    and undercounted indefinitely — the version sweep runs on EVERY
    maintenance entry and the gauges only ever read the live
    snapshot)."""
    import os

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_version
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_file_stats,
        ivf_pq_search,
        maintain_ivf_pq_index,
        read_ivf_pq_index,
        retrain_ivf_pq_index,
    )

    root = str(tmp_path / "ivfpq_pubcrash")
    build_ivf_pq_index(
        emb.filter(F.col("vec_id") < 200), root, nlist=8, m=8,
        codebook_size=16, store_vectors=True,
    )
    n = read_ivf_pq_index(spark, root).count()

    # crash before the flip: a dead complete-looking staged snapshot
    os.makedirs(f"{root}/v=2/cell=0", exist_ok=True)
    open(f"{root}/v=2/cell=0/orphan.parquet", "w").write("junk")
    assert live_version(spark, root) == 1  # pointer untouched
    q = emb.filter(F.col("vec_id") < 3)
    assert ivf_pq_search(spark, root, q, k=3, nprobe=8).count() > 0
    assert read_ivf_pq_index(spark, root).count() == n
    # gauges see only the live snapshot — the orphan never counts
    stats = ivf_pq_index_file_stats(spark, root)
    assert stats["max_files_per_cell"] == 1

    # the tick's entry sweep reclaims the dead stage
    tick = maintain_ivf_pq_index(spark, root)
    assert tick["versions_swept"] == [2]
    assert not os.path.exists(f"{root}/v=2")

    # and a retried retrain completes end-to-end from the same state
    os.makedirs(f"{root}/v=2/cell=0", exist_ok=True)
    open(f"{root}/v=2/cell=0/orphan.parquet", "w").write("junk")
    res = retrain_ivf_pq_index(spark, root, nlist=8)
    assert res["n_rows"] == n and live_version(spark, root) > 1
    assert ivf_pq_search(spark, root, q, k=3, nprobe=8).count() > 0


def test_retrain_derives_nlist_from_corpus_growth(spark, emb, tmp_path):
    """r18 (r17 verdict task 2): the maintenance tick's retrain derives
    its target nlist from the observed corpus instead of re-fitting at
    the stale size — the ``nlist ∝ corpus`` rule made operational. On
    a 4×-grown index (build on 125 rows at nlist=8, append 375 more),
    the derived target is ceil(500·8/125) = 32; after the retrain the
    skew gauge AND the per-cell population are back under the
    balanced-cell budget the sizing assumed, and the recall gate
    (all-cells rescore vs brute force) does not degrade."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_root
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        _load_pq_meta,
        append_ivf_pq_index,
        build_ivf_pq_index,
        cosine_topk,
        derive_ivf_nlist,
        ivf_pq_rescore_topk,
        ivf_rebalance_needed,
        read_ivf_pq_index,
        retrain_ivf_pq_index,
    )

    # the sizing rule itself, integer-exact (the oracle replays it)
    assert derive_ivf_nlist(500, 8, 125) == 32
    assert derive_ivf_nlist(501, 8, 125) == 33  # ceil, not floor
    assert derive_ivf_nlist(100, 8, 125) == 8  # never shrinks implicitly
    assert derive_ivf_nlist(500, 8, None) == 8  # pre-r18 stamp: keep

    root = str(tmp_path / "ivfpq_grow")
    build_ivf_pq_index(
        emb.filter(F.col("vec_id") < 125), root, nlist=8, m=8,
        codebook_size=16, store_vectors=True,
    )
    assert _load_pq_meta(spark, live_root(spark, root))["n_rows"] == 125
    append_ivf_pq_index(emb.filter(F.col("vec_id") >= 125), root)

    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, q, k=3).collect()
    }

    def recall(nprobe_all):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_pq_rescore_topk(
                spark, root, q, k=3, shortlist=100, nprobe=nprobe_all
            ).collect()
        }
        return len(got & exact) / len(exact)

    recall_before = recall(8)
    res = retrain_ivf_pq_index(spark, root)  # nlist derived, not passed
    assert res["nlist_before"] == 8 and res["nlist_after"] == 32
    meta = _load_pq_meta(spark, live_root(spark, root))
    assert meta["nlist"] == 32 and meta["n_rows"] == 500  # new density baseline
    stored = read_ivf_pq_index(spark, root)
    assert stored.count() == 500
    assert stored.select("vec_id").distinct().count() == 500
    # per-cell population back under the balanced budget the sizing
    # assumed: no cell holds more than max_skew × (total / nlist)
    sig = ivf_rebalance_needed(spark, root, max_skew=4.0)
    assert sig["rebalance"] is False, f"still over budget: {sig}"
    hot = stored.groupBy("cell").count().agg(F.max("count")).first()[0]
    assert hot <= 4.0 * 500 / 32, f"hot cell {hot} over the sized budget"
    assert recall(32) >= recall_before, "retrain degraded recall"


def test_retrain_recall_gate_at_production_nprobe(spark, tmp_path):
    """r18 (r17 verdict task 3): the recall gate at nprobe < nlist —
    the setting where bad centroids actually LOSE neighbors (an
    all-cells probe always finds them again via the exact rescore).
    Fixture: a STALE quantizer after distribution drift — the seed
    centroids (ids 0..7) differ only along dim 2, modelling an index
    fit when the corpus's variance lay there; the corpus has since
    drifted into four well-separated clusters in dims 0/1, with each
    member's dim-2 value pseudorandom ((j·5) mod 8) and its dim-0/1
    jitter an order of magnitude larger, so cell assignment (decided
    purely by dim 2 — the seeds are identical elsewhere) is
    uncorrelated with cosine ranking (decided by dims 0/1). At
    nprobe=2 of 8 the stale index MISSES ~half the true neighbors
    (the 0.9 gate FAILS pre-retrain — the gate has teeth); after the
    k-means retrain each cluster collapses into adjacent cells, the
    same gate passes ≥0.9, and recall strictly improves."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        cosine_topk,
        ivf_pq_rescore_topk,
        retrain_ivf_pq_index,
    )

    centers = [(0.0, 0.0), (200.0, 0.0), (0.0, 200.0), (200.0, 200.0)]
    # ids 0..7: the stale seeds — spread ONLY along dim 2
    rows = [(i, [0.0, 0.0, i * 0.125, 1.0]) for i in range(8)]
    # ids 8..19: spread across the clusters (sane PQ codebook seeds)
    rows += [
        (8 + j, [centers[j % 4][0] + j * 0.11, centers[j % 4][1] + j * 0.07, 0.0, 1.0])
        for j in range(12)
    ]
    # the bulk: four balanced clusters; dim-2 pseudorandom and SMALL
    # next to the dim-0/1 jitter, so it decides the cell but not the
    # neighbor ranking
    rows += [
        (
            100 + j,
            [
                centers[j % 4][0] + (j % 7) * 1.3,
                centers[j % 4][1] + (j % 5) * 1.1,
                ((j * 5) % 8) * 0.125,
                1.0,
            ],
        )
        for j in range(160)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "ivf_nprobe_gate")
    build_ivf_pq_index(df, root, nlist=8, m=2, codebook_size=16, store_vectors=True)

    q = df.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 108))
    exact = {
        (r["query_id"], r["vec_id"]) for r in cosine_topk(df, q, k=5).collect()
    }

    def recall_at(nprobe):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_pq_rescore_topk(
                spark, root, q, k=5, shortlist=60, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    before = recall_at(2)
    assert before < 0.9, (
        f"fixture not stale enough to exercise the gate: {before}"
    )
    retrain_ivf_pq_index(spark, root, nlist=8)
    after = recall_at(2)
    assert after >= 0.9, f"production-nprobe recall gate failed: {after}"
    assert after > before

    # the fit-budget knobs (the lever that bounds the fit's quadratic
    # term at large nlist — see retrain_ivf_pq_index's cost model) must
    # not cost the gate: a tuned re-fit of the same index passes too
    retrain_ivf_pq_index(
        spark, root, nlist=8, fit_sample_per_cell=64, fit_max_iter=10,
        fit_init_mode="random",
    )
    tuned = recall_at(2)
    assert tuned >= 0.9, f"tuned-fit recall gate failed: {tuned}"


def test_corrupt_version_pointer_raises_repairable_error(spark, emb, tmp_path):
    """r18: a corrupt (present-but-unparseable) _VERSION pointer raises
    a distinct, repair-oriented error instead of masquerading as
    "missing" — the missing diagnosis routes callers to a rebuild whose
    first publish would sweep every committed snapshot over an 8-byte
    pointer. The snapshots stay intact and re-stamping the pointer
    fully recovers the index."""
    import pytest as _pytest

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import stamp_version
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_search,
        read_ivf_pq_index,
    )

    root = str(tmp_path / "ivfpq_corrupt")
    build_ivf_pq_index(
        emb.filter(F.col("vec_id") < 200), root, nlist=8, m=8,
        codebook_size=16, store_vectors=True,
    )
    n = read_ivf_pq_index(spark, root).count()
    # corrupt the pointer THROUGH the Hadoop FS (keeps the checksum
    # sidecar consistent — see the torn-meta test)
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f"{root}/_VERSION")
    hfs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    stream = hfs.create(jpath, True)
    stream.write(b'{"v": tor')
    stream.close()

    with _pytest.raises(ValueError, match="corrupt _VERSION"):
        read_ivf_pq_index(spark, root)
    with _pytest.raises(ValueError, match="do NOT rebuild"):
        ivf_pq_search(spark, root, emb.filter(F.col("vec_id") < 2), k=3)

    stamp_version(spark, root, 1)  # the repair the error names
    assert read_ivf_pq_index(spark, root).count() == n


def test_entry_sweep_keeps_actual_previous_version(spark, emb, tmp_path):
    """r18: reader grace must survive non-consecutive version numbers.
    A rebuild over a crashed stage skips a version number (pointer
    1 → 3 with v=1 the real grace copy); the maintenance entry sweep
    must keep {3, 1} — the ACTUAL previous on-disk version — not
    {3, 2} by arithmetic, which would delete the grace copy an
    in-flight reader may still be scanning."""
    import os

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import live_version
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
        build_ivf_pq_index,
        maintain_ivf_pq_index,
        read_ivf_pq_index,
    )

    root = str(tmp_path / "ivfpq_gap")
    emb200 = emb.filter(F.col("vec_id") < 200)
    build_ivf_pq_index(emb200, root, nlist=8, m=8, codebook_size=16,
                       store_vectors=True)
    # a crashed staged build occupies v=2 ...
    os.makedirs(f"{root}/v=2/cell=0", exist_ok=True)
    open(f"{root}/v=2/cell=0/garbage.parquet", "w").write("junk")
    # ... so the rebuild stages PAST it and publishes v=3, retaining
    # v=1 as the reader grace copy and sweeping the dead v=2
    build_ivf_pq_index(emb200, root, nlist=8, m=8, codebook_size=16,
                       store_vectors=True)
    assert live_version(spark, root) == 3
    assert sorted(d for d in os.listdir(root) if d.startswith("v=")) == [
        "v=1", "v=3",
    ]

    tick = maintain_ivf_pq_index(spark, root)
    assert tick["versions_swept"] == []  # v=1 IS the grace copy: kept
    assert os.path.exists(f"{root}/v=1")
    assert read_ivf_pq_index(spark, root).count() == 200


def test_scoped_persist_never_serves_a_cache_across_an_in_place_rewrite(spark, tmp_path):
    """A scoped cache lives for one invocation: re-running the same
    operator after its input parquet path was rewritten IN PLACE
    (outside Spark, so no writer-side cache refresh fires) must return
    the new rows, not the previous invocation's cache — even though the
    two invocations build identical plans."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._cache import (
        release_scope,
        scoped_persist,
    )

    src = tmp_path / "rewritten"
    src.mkdir()

    def rewrite(ids):
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64())}), str(src / "part-0.parquet")
        )

    def operator():
        return scoped_persist(spark.read.parquet(str(src)), "test.in_place_rewrite")

    rewrite([1, 2, 3])
    assert sorted(r.id for r in operator().collect()) == [1, 2, 3]
    rewrite([7, 8])
    assert sorted(r.id for r in operator().collect()) == [7, 8]
    release_scope("test.in_place_rewrite")
