"""Behavior pins for the round-5 curation additions: repetition
signals, Unicode normalization, domain caps, leakage-safe splits,
length bucketing, and the Naive Bayes classifier — hand-computed
expectations on tiny inputs (the catalog oracle checks corpus-scale
agreement; these pin the semantics on adversarial edges)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.classify import (
    naive_bayes_confusion,
    naive_bayes_scores,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.packing import (
    bucket_padding_stats,
    length_buckets,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sampling import (
    domain_cap,
    leakage_safe_split,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import (
    normalize_unicode,
    repetition_signals,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_signals_hand_computed(spark):
    # "a a a a b": top word 'a' ×4 of 5 words, chars 4 of 5;
    # bigrams: aa aa aa ab -> 2 distinct of 4 -> dup 0.5
    # trigrams: aaa aaa aab -> 2 distinct of 3 -> dup 1/3
    df = _docs(spark, [(1, "a a a a b")])
    r = repetition_signals(df, "doc_id", "text").collect()[0]
    assert r.n_words == 5
    assert r.top_word_char_frac == 0.8
    assert r.dup_bigram_frac == 0.5
    assert r.dup_trigram_frac == pytest.approx(0.333333)
    assert r.repetition_keep == 0


def test_repetition_tie_breaks_to_larger_char_mass(spark):
    # 'bb' and 'a' both appear twice; tie on count resolves to the
    # larger char mass (bb -> 4 chars of 2+1+2+1+3=9).
    df = _docs(spark, [(1, "bb a bb a ccc")])
    r = repetition_signals(df, "doc_id", "text").collect()[0]
    assert r.top_word_char_frac == pytest.approx(round(4 / 9, 6))


def test_repetition_clean_doc_keeps(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps over lazy dogs")])
    r = repetition_signals(df, "doc_id", "text").collect()[0]
    assert r.repetition_keep == 1
    assert r.dup_bigram_frac == 0.0


def test_normalize_unicode_nfc_and_whitespace(spark):
    nfd = "Café  du\tmonde"  # NFD e + accent, double space, tab
    df = _docs(spark, [(1, nfd), (2, "already clean")])
    out = {r.doc_id: r for r in normalize_unicode(df, "doc_id", "text").collect()}
    assert out[1].norm_text == "Caf\u00e9 du monde"  # NFC composed, ws folded
    assert out[1].changed == 1
    assert out[2].norm_text == "already clean"
    assert out[2].changed == 0


def test_normalize_unicode_strips_control_chars(spark):
    df = _docs(spark, [(1, "ab\x00cd\x1fef"), (2, "x\xa0y")])
    out = {r.doc_id: r for r in normalize_unicode(df, "doc_id", "text").collect()}
    assert out[1].norm_text == "ab cd ef"
    assert out[2].norm_text == "x y"  # NBSP folded by Unicode-aware \s


def test_domain_cap_exact_and_deterministic(spark):
    rows = [(i, f"d{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    capped = domain_cap(df, "dom", "doc_id", 4)
    got = capped.groupBy("dom").count().collect()
    assert {r["dom"]: r["count"] for r in got} == {"d0": 4, "d1": 4, "d2": 4}
    # deterministic across runs
    a = sorted((r.doc_id, r.domain_rank) for r in capped.collect())
    b = sorted(
        (r.doc_id, r.domain_rank)
        for r in domain_cap(df, "dom", "doc_id", 4).collect()
    )
    assert a == b
    assert all(rk <= 4 for _, rk in a)


def test_leakage_safe_split_keeps_copies_together(spark):
    # doc 1/2/3 are normalized-identical; 4 differs. Copies must land
    # in the same split regardless of their own ids.
    df = _docs(
        spark,
        [
            (1, "Hello,   World!"),
            (2, "hello world"),
            (3, "HELLO WORLD."),
            (4, "something else"),
        ],
    )
    out = leakage_safe_split(
        df, "doc_id", "text", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    by_doc = {r.doc_id: r for r in out}
    assert by_doc[1].cluster_id == by_doc[2].cluster_id == by_doc[3].cluster_id == 1
    assert by_doc[1].split == by_doc[2].split == by_doc[3].split
    assert by_doc[1].cluster_size == 3
    assert by_doc[4].cluster_size == 1


def test_length_buckets_bit_exact(spark):
    rows = [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5), (6, 1000), (7, 5000)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {r.doc_id: r.bucket for r in length_buckets(df, "doc_id", "n").collect()}
    assert got == {1: 1, 2: 2, 3: 4, 4: 4, 5: 8, 6: 1024, 7: 4096}


def test_bucket_padding_stats_accounting(spark):
    df = spark.createDataFrame([(1, 3), (2, 4), (3, 7)], "doc_id long, n long")
    stats = {
        r.bucket: r
        for r in bucket_padding_stats(
            length_buckets(df, "doc_id", "n")
        ).collect()
    }
    # bucket 4: docs 1,2 -> real 7, padded 8; bucket 8: doc 3 -> real 7/8
    assert stats[4].n_docs == 2 and stats[4].padded_tokens == 8
    assert stats[4].waste_frac == pytest.approx(1 - 7 / 8)
    # unbucketed baseline pads everything to the global max bucket (8)
    assert stats[4].waste_frac_unbucketed == pytest.approx(1 - 7 / 16)


def test_naive_bayes_separable_corpus(spark):
    rows = [
        (1, "apple banana apple", "fruit"),
        (2, "banana apple cherry", "fruit"),
        (3, "carrot potato onion", "veg"),
        (4, "potato carrot carrot", "veg"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lab string")
    conf = naive_bayes_confusion(df, "doc_id", "text", "lab").collect()
    got = {(r.true_label, r.pred_label): r.n_docs for r in conf}
    assert got == {("fruit", "fruit"): 2, ("veg", "veg"): 2}


def test_naive_bayes_one_pred_per_doc(spark):
    rows = [(i, f"tok{i % 2} tok{i % 3}", f"l{i % 2}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lab string")
    scored = naive_bayes_scores(df, "doc_id", "text", "lab")
    per_doc = scored.groupBy("doc_id").agg(F.sum("pred").alias("n"))
    assert all(r.n == 1 for r in per_doc.collect())
    # every doc scored against every label
    assert scored.count() == 12 * 2


def test_naive_bayes_avg_score_rounds_like_duckdb_on_a_tie(spark, monkeypatch):
    """Two winning scores whose mean prints as a half-way tie
    (-51.70495): Spark's decimal half-up gives -51.705, the binary double
    sits just below the tie and DuckDB's round(avg(x), 4) gives -51.7049.
    The confusion table must match the oracle."""
    import duckdb

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import classify

    scores = (-51.70533, -51.70457)
    scored = spark.createDataFrame(
        [(i, "a", "a", s, 1) for i, s in enumerate(scores)],
        "doc_id long, true_label string, label string, score double, pred int",
    )
    monkeypatch.setattr(classify, "naive_bayes_scores", lambda *_: scored)
    got = naive_bayes_confusion(None, "doc_id", "text", "lab").collect()[0].avg_score
    want = duckdb.sql(
        "SELECT round(avg(x), 4) FROM "
        f"(VALUES ({scores[0]}::DOUBLE), ({scores[1]}::DOUBLE)) t(x)"
    ).fetchone()[0]
    assert want == -51.7049
    assert got == want


def test_shingles_empty_for_short_docs_no_crash(spark):
    # sequence(1, 0) descends in Spark; the size gate must yield []
    # (not crash in slice) for docs shorter than the shingle width.
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import tokenize, word_shingles

    df = _docs(spark, [(1, "one"), (2, "two words"), (3, "a b c")])
    got = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", word_shingles(tokenize(F.col("text")), 3).alias("sh")
        ).collect()
    }
    assert got[1] == [] and got[2] == []
    assert got[3] == ["a b c"]
    # repetition signals survive 1-word docs with zeroed dup fractions
    r = repetition_signals(df, "doc_id", "text").collect()
    by = {x.doc_id: x for x in r}
    assert by[1].dup_bigram_frac == 0.0 and by[1].dup_trigram_frac == 0.0
    assert by[1].top_word_char_frac == 1.0


def test_compression_quality_separates_redundancy(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import compression_quality

    import random

    rng = random.Random(7)
    gibberish = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(2000))
    spam = "buy now " * 250
    natural = (
        "the engine compiles every filter into a single scan and lets "
        "the optimizer prune columns before any shuffle happens "
    ) * 18
    df = _docs(spark, [(1, gibberish), (2, spam), (3, natural)])
    out = {r.doc_id: r for r in compression_quality(df, "doc_id", "text").collect()}
    # template spam compresses hardest, random text barely at all
    assert out[2].compress_ratio < out[3].compress_ratio < out[1].compress_ratio
    assert out[1].compress_ratio > 0.5
    assert out[2].compress_ratio < 0.05
    assert out[1].raw_bytes == 2000


def test_compression_quality_empty_text(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import compression_quality

    df = _docs(spark, [(1, "")])
    r = compression_quality(df, "doc_id", "text").collect()[0]
    assert r.raw_bytes == 0 and r.compress_ratio == 1.0


def test_pca_matches_single_node_numpy(spark):
    import numpy as np
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_fit_project

    rng = np.random.RandomState(3)
    # low-rank-ish data: 2 dominant directions + noise, d=6
    base = rng.randn(200, 2) @ rng.randn(2, 6) * 5 + rng.randn(200, 6) * 0.1
    df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(200)], "doc_id long, emb array<double>"
    ).repartition(4)
    out, model = pca_fit_project(df, "doc_id", "emb", k=3)

    # orthonormal components, descending explained variance
    g = model.components @ model.components.T
    assert np.allclose(g, np.eye(3), atol=1e-8)
    ev = model.explained_var
    assert ev[0] >= ev[1] >= ev[2] >= 0
    # top-2 capture nearly everything on rank-2-plus-noise data
    total_var = np.var(base, axis=0, ddof=0).sum()
    assert (ev[0] + ev[1]) / total_var > 0.99

    # agreement with single-node numpy PCA (same sign convention)
    c = base - base.mean(axis=0)
    evals, evecs = np.linalg.eigh(np.cov(c.T, bias=True))
    order = np.argsort(evals)[::-1][:3]
    ref = evecs[:, order].T
    for i in range(3):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(np.abs(model.components), np.abs(ref), atol=1e-6)

    # projected rows match (m - mean) @ comps.T
    got = {r.doc_id: np.array(r.pca) for r in out.collect()}
    want = (base - base.mean(axis=0)) @ model.components.T
    for i in range(0, 200, 37):
        assert np.allclose(got[i], want[i], atol=1e-8), i


def test_pca_apply_frozen_model_and_whitening(spark):
    """The freeze-then-apply discipline: pca_apply with a model fit on
    one snapshot must (a) reproduce the fit's own projection exactly,
    (b) project NEW rows with the frozen axes (no refit — a vector the
    fit never saw still lands at (x - mean) @ compsT), and (c) under
    whiten=True yield ~unit variance per output dim on the fit data."""
    import numpy as np
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_apply, pca_fit_project

    rng = np.random.RandomState(7)
    base = rng.randn(150, 2) @ rng.randn(2, 6) * 4 + rng.randn(150, 6) * 0.2
    df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(150)], "doc_id long, emb array<double>"
    ).repartition(4)
    out, model = pca_fit_project(df, "doc_id", "emb", k=2)

    # (a) apply == fit's own projection
    re_applied = {r.doc_id: np.array(r.pca) for r in pca_apply(df, model, "doc_id", "emb").collect()}
    for r in out.collect():
        assert np.allclose(np.array(r.pca), re_applied[r.doc_id], atol=1e-12)

    # (b) frozen axes on unseen rows
    new = rng.randn(5, 6) * 3
    new_df = spark.createDataFrame(
        [(1000 + i, new[i].tolist()) for i in range(5)], "doc_id long, emb array<double>"
    )
    got = {r.doc_id: np.array(r.pca) for r in pca_apply(new_df, model, "doc_id", "emb").collect()}
    want = (new - model.mean_vec) @ model.components.T
    for i in range(5):
        assert np.allclose(got[1000 + i], want[i], atol=1e-10)

    # (c) whitening: per-dim population variance ~1 on the fit data
    white = np.stack([
        np.array(r.pca)
        for r in pca_apply(df, model, "doc_id", "emb", whiten=True).collect()
    ])
    assert np.allclose(white.var(axis=0, ddof=0), 1.0, atol=1e-6)


def test_pca_rejects_degenerate_input(spark):
    import pytest as _pytest
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_fit_project

    df = spark.createDataFrame([(1, [1.0, 2.0])], "doc_id long, emb array<double>")
    with _pytest.raises(ValueError):
        pca_fit_project(df, "doc_id", "emb", k=1)


def test_pca_kernels_tolerate_empty_partitions(spark):
    """Both PCA Arrow kernels must skip empty batches (r13 verdict
    task 3 — np.stack on an empty batch raises 'need at least one
    array'): fit over a DataFrame repartitioned far wider than its row
    count (guaranteeing empty partitions), apply over a zero-row input
    (every partition empty)."""
    import numpy as np
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_apply, pca_fit_project

    rng = np.random.RandomState(11)
    base = rng.randn(5, 4)
    df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(5)], "doc_id long, emb array<double>"
    ).repartition(32)  # 5 rows in 32 partitions: >=27 empty
    out, model = pca_fit_project(df, "doc_id", "emb", k=2)
    assert out.count() == 5

    empty = df.filter(F.col("doc_id") < 0)
    assert pca_apply(empty, model, "doc_id", "emb").count() == 0


def test_pca_whiten_zeroes_degenerate_components(spark):
    """Whitening semantics on rank-deficient input (r13 verdict task
    5): a component with eigenvalue <= 1e-9x the leading one is ZEROED,
    not scaled by 1/sqrt(~0) — data exactly on a line in 3-D must whiten
    to (unit-variance axis, inert zeros), never to amplified noise."""
    import numpy as np
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_apply, pca_fit_project

    t = np.linspace(-3.0, 3.0, 40)
    line = np.outer(t, np.array([1.0, 2.0, -1.0]))  # exactly rank 1
    df = spark.createDataFrame(
        [(i, line[i].tolist()) for i in range(40)], "doc_id long, emb array<double>"
    ).repartition(4)
    _, model = pca_fit_project(df, "doc_id", "emb", k=2)
    assert model.explained_var[1] <= 1e-9 * model.explained_var[0]

    white = np.stack(
        [np.array(r.pca) for r in pca_apply(df, model, "doc_id", "emb", whiten=True).collect()]
    )
    v = white.var(axis=0, ddof=0)
    assert abs(v[0] - 1.0) < 1e-9  # live axis: unit variance
    assert np.all(white[:, 1] == 0.0)  # degenerate axis: inert, not 1e6x noise


def test_pca_fit_is_stable_on_large_mean_embeddings(spark):
    """Pilot-shifted moment accumulation (r13 ADVICE, second suggested
    fix): with ||mean|| >> sigma the raw-moment covariance ss/n - uuT
    cancels catastrophically (1e6 mean, unit variance -> ~1e-4 absolute
    error in float64); the pilot shift must keep eigenvalues at
    ~machine precision of the numpy reference."""
    import numpy as np
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_fit_project

    rng = np.random.RandomState(17)
    base = rng.randn(300, 5) + 1e6  # huge common offset, unit-ish variance
    df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(300)], "doc_id long, emb array<double>"
    ).repartition(8)
    _, model = pca_fit_project(df, "doc_id", "emb", k=3)

    c = base - base.mean(axis=0)
    evals = np.sort(np.linalg.eigvalsh(np.cov(c.T, bias=True)))[::-1][:3]
    # raw-moment accumulation errs at ~1e-4 here; the shifted form must
    # track numpy (which centers first) to near machine precision
    assert np.allclose(model.explained_var, evals, rtol=1e-9)
    assert np.allclose(model.mean_vec, base.mean(axis=0), rtol=0, atol=1e-6)


def test_pca_apply_carries_string_id_type(spark):
    """pca_apply's output id column keeps the input's type (r13 ADVICE:
    the schema hardcoded `long`, so string doc ids failed at runtime)."""
    import numpy as np
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_apply, pca_fit_project

    rng = np.random.RandomState(13)
    base = rng.randn(20, 4)
    fit_df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(20)], "doc_id long, emb array<double>"
    )
    _, model = pca_fit_project(fit_df, "doc_id", "emb", k=2)

    str_df = spark.createDataFrame(
        [(f"doc-{i}", base[i].tolist()) for i in range(20)],
        "doc_id string, emb array<double>",
    )
    out = pca_apply(str_df, model, "doc_id", "emb")
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    got = {r.doc_id: np.array(r.pca) for r in out.collect()}
    want = (base - model.mean_vec) @ model.components.T
    for i in (0, 7, 19):
        assert np.allclose(got[f"doc-{i}"], want[i], atol=1e-10)


def test_pca_fit_skips_null_embeddings(spark):
    """A null vector anywhere in the column — including the FIRST row,
    which previously hijacked the pilot fetch into a misleading 'needs
    at least 2 vectors' error (r14 ADVICE) — is excluded from the fit
    and the returned projection; the model matches a fit on the
    non-null subset alone."""
    import numpy as np
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_fit_project

    rng = np.random.RandomState(7)
    base = rng.randn(12, 3)
    rows = [(0, None)] + [(i + 1, base[i].tolist()) for i in range(12)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, emb array<double>")
    out, model = pca_fit_project(df, "doc_id", "emb", k=2)
    assert out.count() == 12  # null rows excluded from the projection
    clean = spark.createDataFrame(
        [(i + 1, base[i].tolist()) for i in range(12)], "doc_id long, emb array<double>"
    )
    _, clean_model = pca_fit_project(clean, "doc_id", "emb", k=2)
    assert np.allclose(model.mean_vec, clean_model.mean_vec, atol=1e-12)
    assert np.allclose(model.components, clean_model.components, atol=1e-12)


def test_pca_fit_all_null_raises_distinct_error(spark):
    import pytest as _pytest
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_fit_project

    df = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, emb array<double>"
    )
    with _pytest.raises(ValueError, match="non-null"):
        pca_fit_project(df, "doc_id", "emb", k=1)


def test_pca_apply_names_the_null_id(spark):
    """pca_apply on a null-containing column fails with the offending
    id in the message, not an opaque np.stack crash (r14 ADVICE)."""
    import numpy as np
    import pytest as _pytest
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import pca_apply, pca_fit_project

    rng = np.random.RandomState(11)
    base = rng.randn(8, 3)
    fit_df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(8)], "doc_id long, emb array<double>"
    )
    _, model = pca_fit_project(fit_df, "doc_id", "emb", k=2)
    dirty = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(8)] + [(42, None)],
        "doc_id long, emb array<double>",
    )
    with _pytest.raises(Exception, match="null embedding"):
        pca_apply(dirty, model, "doc_id", "emb").collect()


def test_dedup_keep_longest_prefers_complete_copy(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import dedup_keep_longest

    df = _docs(
        spark,
        [
            (1, "hello world"),          # truncated copy, earlier id
            (2, "Hello,   WORLD!!"),     # longer raw form, same normalized
            (3, "unrelated text"),
        ],
    )
    out = {r.keeper_id: r for r in dedup_keep_longest(df, "doc_id", "text").collect()}
    assert 2 in out and out[2].n_copies == 2  # longest wins, not min id
    assert out[2].keeper_len == len("Hello,   WORLD!!")
    assert out[3].n_copies == 1


def test_batch_schedule_chops_buckets_deterministically(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.packing import batch_schedule, length_buckets

    df = spark.createDataFrame(
        [(i, 100) for i in range(70)], "doc_id long, n long"
    )
    sched = batch_schedule(length_buckets(df, "doc_id", "n"), "doc_id", batch_size=32)
    rows = sched.collect()
    assert all(r.bucket == 128 for r in rows)
    per_batch = {}
    for r in rows:
        per_batch.setdefault(r.batch_id, []).append(r.slot)
    assert sorted(per_batch) == [0, 1, 2]
    assert sorted(per_batch[0]) == list(range(32))
    assert len(per_batch[2]) == 70 - 64  # final partial batch
    again = batch_schedule(length_buckets(df, "doc_id", "n"), "doc_id", 32).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_class_balance_equalizes_to_smallest(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sampling import class_balance

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lab string")
    kept = class_balance(df, "lab", "doc_id")
    per = {r["lab"]: r["count"] for r in kept.groupBy("lab").count().collect()}
    assert per == {"big": 10, "small": 10}
    # deterministic membership
    a = sorted(r.doc_id for r in kept.collect())
    b = sorted(r.doc_id for r in class_balance(df, "lab", "doc_id").collect())
    assert a == b


def test_asof_tolerance_rejects_stale_matches(spark):
    import datetime as dt

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.temporal import asof_join_tolerance

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, 1, t0), (2, 1, t0 + dt.timedelta(hours=2)), (3, 2, t0)],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t0 - dt.timedelta(minutes=10), 5.0)],
        "user_id long, ts timestamp, v double",
    )
    out = {
        r.event_id: r
        for r in asof_join_tolerance(
            left, right, "user_id", tolerance_s=1800, value_cols=["v"]
        ).collect()
    }
    assert out[1].v == 5.0 and out[1].asof_age_s == 600.0  # fresh match
    assert out[2].v is None and out[2].asof_age_s is None  # stale: 2h10m old
    assert out[3].v is None  # other user: no right rows at all


def test_bootstrap_ci_is_deterministic_and_sane(spark):
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sampling import bootstrap_mean_ci

    df = spark.createDataFrame(
        [(i, float(50 + (i * 37) % 25)) for i in range(400)], "k long, v double"
    )
    a = {r.metric: r.value for r in bootstrap_mean_ci(df, "k", "v", 20).collect()}
    b = {r.metric: r.value for r in bootstrap_mean_ci(df, "k", "v", 20).collect()}
    assert a == b  # zero RNG state -> identical CI on rerun
    assert a["ci_lo"] < a["observed_mean"] < a["ci_hi"]
    assert 0 < a["boot_se"] < 5  # SE ~ sd/sqrt(n) ~ 7.2/20 ~ 0.36
    # the true mean sits inside the interval for this well-behaved data
    true_mean = sum(50 + (i * 37) % 25 for i in range(400)) / 400
    assert a["ci_lo"] <= true_mean <= a["ci_hi"]


def test_bootstrap_weights_are_poisson_like(spark):
    from pyspark.sql import functions as F
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sampling import _bootstrap_weight

    df = spark.range(20000).select(F.col("id").alias("k"))
    w = df.select(_bootstrap_weight(F.col("k"), 0).alias("w"))
    stats = w.agg(F.avg("w"), F.variance("w"), F.max("w")).collect()[0]
    assert abs(stats[0] - 1.0) < 0.05  # Poisson(1): mean 1
    assert abs(stats[1] - 1.0) < 0.1   # variance 1
    assert stats[2] <= 8
