"""Distributed text classification: multinomial Naive Bayes trained and
scored entirely inside the DataFrame plan.

The quality-classifier step of a curation pipeline (CCNet / GPT-3 /
LLaMA-style "does this page look like reference text?") is a linear
model over token counts — exactly the shape Naive Bayes has, and NB's
sufficient statistics are *one aggregation*: per-(word, label) counts.
That makes the whole train+score loop expressible as joins and
aggregations that Catalyst can plan — no parameter server, no driver
state, no UDFs — and keeps it DuckDB-oracle-checkable.

Math (multinomial NB, Laplace smoothing):

    score(d, l) = ln P(l) + Σ_w tf(d,w) · ln((c(w,l)+1) / (T_l + V))

rearranged so UNSEEN (word,label) pairs contribute exactly zero —
``ln(0+1) = 0`` — which turns the dense vocab×label model into a sparse
inner join:

    score(d, l) = ln(N_l/N) − n_tok(d)·ln(T_l + V) + Σ_w tf(d,w)·ln(c(w,l)+1)

Shuffle story at 100 TB: one shuffle to build per-(doc,word) tf, one
map-side-combined shuffle for the (word,label) model (model size =
vocab·labels, the natural dimension table — broadcast when it fits,
shuffle-join on ``word`` when it doesn't), one shuffle back to
per-(doc,label) scores. Label constants and the vocab size are a
label-count-sized broadcast. Scores are rounded to 6 decimals BEFORE
the argmax so near-ties resolve identically in any summation order
(ties then break on label ascending — fully deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import tokenize

__all__ = ["naive_bayes_scores", "naive_bayes_confusion"]


def naive_bayes_scores(
    df: DataFrame, id_col: str, text_col: str, label_col: str
) -> DataFrame:
    """Train multinomial NB on (text, label) and score every document
    against every label. Returns one row per (doc, label):
    ``(doc_id, true_label, label, score, pred)`` with ``pred=1`` on the
    argmax row. Fit-on-self here (the operator shape is the point); a
    real pipeline fits on the train split of ``hash_split`` and scores
    the rest — same plan, one extra filter.
    """
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._parallel import ensure_min_parallelism

    # The explode + map-side partial aggregation runs on the SCAN's
    # splits — parallelize small inputs before it (no-op at scale).
    tf = (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(label_col).alias("true_label"),
            F.explode(tokenize(F.col(text_col))).alias("word"),
        )
        .groupBy("doc_id", "true_label", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._cache import scoped_persist

    tf = scoped_persist(tf, "classify.naive_bayes.tf")

    # model: per-(word,label) smoothed log-count increment ln(c+1).
    # Persisted: three consumers (label totals, vocab size, the scoring
    # join) otherwise each re-aggregate the corpus-sized tf cache into
    # the same vocab×label table — one derivation instead of three.
    wc = scoped_persist(
        tf.groupBy("word", F.col("true_label").alias("label")).agg(
            F.sum("tf").alias("c")
        ),
        "classify.naive_bayes.wc",
    )
    # per-(doc,label) token totals — also a multi-consumer intermediate
    # (the score grid, the doc prior, the corpus doc count); docs-sized.
    docs = scoped_persist(
        tf.groupBy("doc_id", "true_label").agg(F.sum("tf").alias("n_tok")),
        "classify.naive_bayes.docs",
    )
    # label constants: doc prior and token totals; V = global vocab size.
    # All integer-exact, so sourcing them from the persisted wc/docs
    # intermediates (vocab- and docs-sized) instead of re-scanning tf
    # cannot change a value: count(*) per true_label over docs IS
    # countDistinct(doc_id) per label (docs has one row per
    # (doc_id,label) pair), and the countDistincts are unchanged
    # aggregations over exactly the same key sets.
    lab = wc.groupBy("label").agg(F.sum("c").alias("total_tokens"))
    n_docs = docs.groupBy("true_label").agg(
        F.count(F.lit(1)).alias("n_docs_l")
    )
    consts = (
        lab.join(n_docs, lab.label == n_docs.true_label)
        .select("label", "total_tokens", "n_docs_l")
        .crossJoin(wc.agg(F.countDistinct("word").alias("v")))
        .crossJoin(docs.agg(F.countDistinct("doc_id").alias("n")))
    )

    contrib = (
        tf.join(wc.withColumnRenamed("word", "w"), tf.word == F.col("w"))
        .groupBy("doc_id", "label")
        .agg(F.sum(F.col("tf") * F.log(F.col("c") + 1)).alias("s"))
    )
    grid = docs.crossJoin(F.broadcast(consts))
    scored = (
        grid.join(contrib, ["doc_id", "label"], "left")
        .select(
            "doc_id",
            "true_label",
            "label",
            F.round(
                F.log(F.col("n_docs_l") / F.col("n"))
                - F.col("n_tok") * F.log(F.col("total_tokens") + F.col("v"))
                + F.coalesce(F.col("s"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("label"))
    )
    return scored.withColumn("pred", (rn == 1).cast("int"))


def naive_bayes_confusion(
    df: DataFrame, id_col: str, text_col: str, label_col: str
) -> DataFrame:
    """Confusion matrix of :func:`naive_bayes_scores` self-prediction:
    (true_label, pred_label, n_docs), plus the mean winning score — the
    model-quality audit table. Label-count² rows out."""
    scored = naive_bayes_scores(df, id_col, text_col, label_col)
    return (
        scored.filter(F.col("pred") == 1)
        .groupBy("true_label", F.col("label").alias("pred_label"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # binary round (x·10⁴ to nearest, /10⁴) — what DuckDB's
            # round(DOUBLE, 4) computes; F.round rounds the decimal
            # expansion half up and splits from it on exact-looking ties
            (F.round(F.avg("score") * 1e4, 0) / 1e4).alias("avg_score"),
        )
    )
