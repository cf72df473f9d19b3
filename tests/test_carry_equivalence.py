"""Equivalence pins for the shared-frame / carry-column fast paths
(r18 ADVICE): every carry/pre_tokenized variant must produce EXACTLY
the rows of the plain path it replaces — these paths exist only to cut
duplicate derivations, never to change a value — and the reserved-name
guards must fail fast instead of emitting ambiguous schemas."""

import pytest
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sketches import (
    countmin_query,
    countmin_sketch,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.similarity import (
    cosine_topk,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.text import (
    bpe_encode,
    bpe_train_merges,
    repetition_signals,
)


def _docs(spark):
    rows = [
        (1, "the cat sat on the mat", "web"),
        (2, "the cat sat on the cat", "web"),
        (3, "lorem ipsum dolor sit amet lorem ipsum", "books"),
        (4, "  spaced   words  here ", "books"),
        (5, "a b a b a b a b", "web"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def _tokenized(docs):
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos", "w"
        ),
    ).filter(F.col("w") != "")


def test_bpe_train_pre_tokenized_matches_internal(spark):
    docs = _docs(spark)
    plain = bpe_train_merges(docs, "text", n_merges=8).orderBy("merge_rank").collect()
    shared = (
        bpe_train_merges(docs, "text", n_merges=8, pre_tokenized=_tokenized(docs))
        .orderBy("merge_rank")
        .collect()
    )
    assert [tuple(r) for r in plain] == [tuple(r) for r in shared]


def test_bpe_encode_pre_tokenized_matches_internal(spark):
    docs = _docs(spark)
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges(docs, "text", n_merges=8)
        .orderBy("merge_rank")
        .collect()
    ]
    plain = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode(docs, "doc_id", "text", merges).collect()
    }
    shared = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode(
            docs, "doc_id", "text", merges, pre_tokenized=_tokenized(docs)
        ).collect()
    }
    assert plain == shared


def test_bpe_pre_tokenized_missing_columns_raise(spark):
    docs = _docs(spark)
    bad = docs.select(F.col("text").alias("not_w"))
    with pytest.raises(ValueError, match="'w' token column"):
        bpe_train_merges(docs, "text", n_merges=2, pre_tokenized=bad)
    with pytest.raises(ValueError, match="doc_id"):
        bpe_encode(docs, "doc_id", "text", [("a", "b")], pre_tokenized=bad)


def test_countmin_carry_cols_equal_join_back(spark):
    rows = [(f"k{i % 7}",) for i in range(200)]
    df = spark.createDataFrame(rows, ["key"])
    sketch = countmin_sketch(df, "key", depth=4, width=64)
    top = df.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    est = countmin_query(sketch, top, "key", depth=4, width=64)
    joined = {
        (r["key"], r["n"], r["cms_estimate"])
        for r in top.join(est, "key").collect()
    }
    carried = {
        (r["key"], r["n"], r["cms_estimate"])
        for r in countmin_query(
            sketch, top, "key", depth=4, width=64, carry_cols=("n",)
        ).collect()
    }
    assert joined == carried


def test_countmin_carry_cols_reserved_names_raise(spark):
    df = spark.createDataFrame([("a",)], ["key"])
    sketch = countmin_sketch(df, "key", depth=2, width=16)
    cands = df.select("key", F.lit(1).alias("cms_estimate"))
    with pytest.raises(ValueError, match="carry_cols collide"):
        countmin_query(sketch, cands, "key", depth=2, width=16,
                       carry_cols=("cms_estimate",))


def _emb(spark):
    import math

    rows = [
        (i, [math.sin(i * 0.7 + j) for j in range(8)], i % 3)
        for i in range(30)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_cosine_topk_carry_cols_equal_join_back(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    plain = cosine_topk(emb, queries, k=4)
    joined = {
        (r["query_id"], r["vec_id"], round(r["cosine"], 9), r["rank"], r["label"])
        for r in plain.join(emb.select("vec_id", "label"), "vec_id").collect()
    }
    carried = {
        (r["query_id"], r["vec_id"], round(r["cosine"], 9), r["rank"], r["label"])
        for r in cosine_topk(emb, queries, k=4, carry_cols=["label"]).collect()
    }
    assert joined == carried


def test_cosine_topk_carry_cols_reserved_names_raise(spark):
    emb = _emb(spark)
    with pytest.raises(ValueError, match="carry_cols collide"):
        cosine_topk(emb, emb.limit(1), k=2, carry_cols=["cosine"])


def test_cosine_topk_carry_cols_scoring_names_raise(spark):
    """A carried ``c_norm`` would be silently overwritten by the
    computed corpus norm; every scoring column name must be refused."""
    emb = _emb(spark)
    for name in ("c_norm", "c_vec", "q_vec", "q_norm"):
        with pytest.raises(ValueError, match="carry_cols collide"):
            cosine_topk(emb.withColumn(name, F.lit(1.0)), emb.limit(1), k=2, carry_cols=[name])


def test_repetition_signals_carry_cols_equal_join_back(spark):
    docs = _docs(spark).withColumn("n_chars", F.length("text"))
    plain = repetition_signals(docs, "doc_id", "text")
    cols = [*plain.columns, "source", "n_chars"]
    joined = {
        tuple(r)
        for r in plain.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
        .select(*cols)
        .collect()
    }
    carried = {
        tuple(r)
        for r in repetition_signals(
            docs, "doc_id", "text", carry_cols=["source", "n_chars"]
        ).select(*cols).collect()
    }
    assert joined == carried


def test_repetition_signals_carry_cols_reserved_names_raise(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="carry_cols collide"):
        repetition_signals(docs, "doc_id", "text", carry_cols=["n_words"])
