"""Training-data pipeline queries: deterministic sampling/splitting/
mixing, document chunking, PII scrubbing, and near-duplicate cluster
resolution (connected components).

These extend the reference-parity surface with the operations a 100 TB
pretraining-corpus pipeline runs between ingest (the reference's job,
SURVEY.md §0) and training: carve reproducible splits, rebalance source
mixtures, window documents for embedding, redact PII, and collapse
near-duplicate pair graphs into clusters. All sampling is hash-derived
(operators/sampling.py) so re-runs are idempotent — the same property
the reference guarantees for partition loads (README.md:34-39 of the
reference) extended to sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._cache import scoped_persist as _scoped_persist
from ..operators import dedup as D
from ..operators import sampling as S
from ..operators import text as TX
from ..sources.tables import load_table

# Oracle twin of operators/sampling.hash_bucket.
_BUCKET_SQL = "(((({key} & 2147483647) + {salt}) & 2147483647) * 2654435761) % 10000"


def q_sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split of the document corpus
    by key hash: membership is a pure function of doc_id, so re-runs and
    backfills reproduce the same split with zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    split = S.hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return S.split_counts(split, ["split"]).orderBy("split")


ORACLE_SAMPLE_SPLIT = f"""
SELECT split, CAST(count(*) AS BIGINT) AS n_rows
FROM (SELECT CASE WHEN {_BUCKET_SQL.format(key='doc_id', salt=0)} < 1000 THEN 'test'
                  WHEN {_BUCKET_SQL.format(key='doc_id', salt=0)} < 9000 THEN 'train'
                  ELSE 'val' END AS split
      FROM documents)
GROUP BY split
ORDER BY split
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: per-language keep fractions
    (downsample dominant English, keep more of the tail) via the hash
    filter — a narrow map, no shuffle until the audit count."""
    docs = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 0.9, "es": 0.9, "fr": 0.9, "zh": 0.25}
    kept = S.stratified_sample(docs, "lang", fractions, "doc_id", salt=7)
    return S.split_counts(kept, ["lang"]).orderBy("lang")


ORACLE_SAMPLE_STRATIFIED = f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_rows
FROM documents
WHERE (lang = 'de' AND {_BUCKET_SQL.format(key='doc_id', salt=7)} < 9000)
   OR (lang = 'en' AND {_BUCKET_SQL.format(key='doc_id', salt=7)} < 5000)
   OR (lang = 'es' AND {_BUCKET_SQL.format(key='doc_id', salt=7)} < 9000)
   OR (lang = 'fr' AND {_BUCKET_SQL.format(key='doc_id', salt=7)} < 9000)
   OR (lang = 'zh' AND {_BUCKET_SQL.format(key='doc_id', salt=7)} < 2500)
GROUP BY lang
ORDER BY lang
"""


def q_sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixture: three sources resampled at explicit
    fractions, everything else dropped — the data-mixing step of a
    training pipeline, idempotent under re-run."""
    docs = load_table(spark, sf_dir, "documents")
    mix = S.weighted_mix(
        docs, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.25}, "doc_id", salt=13
    )
    return S.split_counts(mix, ["source"]).orderBy("source")


ORACLE_SAMPLE_MIX = f"""
SELECT source, CAST(count(*) AS BIGINT) AS n_rows
FROM documents
WHERE (source = 'src0' AND {_BUCKET_SQL.format(key='doc_id', salt=13)} < 10000)
   OR (source = 'src1' AND {_BUCKET_SQL.format(key='doc_id', salt=13)} < 5000)
   OR (source = 'src2' AND {_BUCKET_SQL.format(key='doc_id', salt=13)} < 2500)
GROUP BY source
ORDER BY source
"""


def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character windows (200 chars, 50 overlap)
    over every document — the chunking stage ahead of embedding. Explode
    is a narrow fan-out; chunk identity (doc_id, chunk_start) is
    deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = TX.chunk_windows(docs, "doc_id", "text", size=200, overlap=50)
    return chunks.select(
        "doc_id", "chunk_start", F.length("chunk").alias("chunk_len"), "chunk"
    )


ORACLE_CHUNKS = """
SELECT doc_id, s AS chunk_start,
       CAST(length(substr(text, s, 200)) AS INTEGER) AS chunk_len,
       substr(text, s, 200) AS chunk
FROM documents, LATERAL unnest(generate_series(1, greatest(length(text), 1), 150)) AS t(s)
"""


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone redaction with per-document match counts. The corpus
    is synthetic word-salad with no PII, so the query injects a
    deterministic contact line derived from doc_id and then scrubs it —
    both engines derive and redact identically, proving the operator on
    non-trivial matches."""
    docs = load_table(spark, sf_dir, "documents")
    contact = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +"),
        (F.col("doc_id") % 900 + 100).cast("string"),
        F.lit("-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    scrubbed = TX.pii_scrub(docs.select("doc_id", contact.alias("text")), "doc_id", "text")
    return scrubbed.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.length("text_redacted").alias("redacted_len"),
        F.substring("text_redacted", 1, 40).alias("redacted_head"),
    )


ORACLE_PII = r"""
WITH injected AS (
  SELECT doc_id,
         'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +'
           || CAST(doc_id % 900 + 100 AS VARCHAR) || '-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text AS text
  FROM documents
), scrubbed AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
         len(regexp_extract_all(text, '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
         regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text_redacted
  FROM injected
)
SELECT doc_id, CAST(n_emails AS INTEGER) AS n_emails, CAST(n_phones AS INTEGER) AS n_phones,
       CAST(length(text_redacted) AS INTEGER) AS redacted_len,
       substr(text_redacted, 1, 40) AS redacted_head
FROM scrubbed
"""


def q_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster resolution: exact 3-gram Jaccard pairs
    (threshold 0.1) collapsed into connected components by iterative
    min-label propagation — pairwise dedup output becomes per-cluster
    keep/drop decisions. Returns component root and member count."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1)
    cc = D.connected_components(pairs, "doc_a", "doc_b")
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("component")
    )


ORACLE_CC = """
WITH RECURSIVE tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words FROM documents
),
idx AS (
  SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.1
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT a, b FROM sym
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.node
)
SELECT component, CAST(count(*) AS BIGINT) AS n_docs
FROM (SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node)
GROUP BY component
ORDER BY component
"""


def q_dedup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline in one composed plan: exact 3-gram Jaccard
    pairs (≥0.1) → connected components → keep the min-id doc per
    cluster, pass through unclustered docs → per-language kept/dropped
    counts. This is the shape a production corpus dedup runs (with
    MinHash-LSH pairs instead of exact Jaccard at 100 TB — same
    downstream graph/keeper logic)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1)
    cc = D.connected_components(pairs, "doc_a", "doc_b")
    # drop every clustered doc that is not its component's root
    drops = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("drop_id")
    )
    kept = docs.join(drops, docs.doc_id == F.col("drop_id"), "left_anti")
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")),
            "lang",
        )
        .select("lang", "n_docs", "n_kept", (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"))
        .orderBy("lang")
    )


ORACLE_DEDUP_E2E = """
WITH RECURSIVE tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words FROM documents
),
idx AS (
  SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.1
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT a, b FROM sym
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.node
),
cc AS (SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node),
drops AS (SELECT node AS drop_id FROM cc WHERE node <> component),
kept AS (SELECT d.* FROM documents d WHERE d.doc_id NOT IN (SELECT drop_id FROM drops))
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST((SELECT count(*) FROM kept k WHERE k.lang = d.lang) AS BIGINT) AS n_kept,
       CAST(count(*) - (SELECT count(*) FROM kept k WHERE k.lang = d.lang) AS BIGINT) AS n_dropped
FROM documents d
GROUP BY d.lang
ORDER BY d.lang
"""


def q_text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram negative-log-likelihood quality score per document (the
    cheap perplexity proxy): corpus token frequencies built in one
    aggregate, broadcast back onto the exploded tokens, averaged per
    doc."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.unigram_nll(docs, "doc_id", "text")


ORACLE_UNIGRAM_NLL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents
),
freq AS (SELECT tok, count(*) AS n_tok FROM toks GROUP BY tok)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln(n_tok / (SELECT CAST(count(*) AS DOUBLE) FROM toks))), 3) AS mean_nll
FROM toks JOIN freq USING (tok)
GROUP BY doc_id
"""


def q_text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training vocabulary build: top-30 BPE-ish pre-tokens by
    corpus frequency, deterministic (count desc, token asc) order. One
    count shuffle; top-k via TakeOrdered, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.vocab_topk(docs, "text", k=30)


ORACLE_VOCAB_TOPK = r"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
  FROM documents
)
SELECT tok, CAST(count(*) AS BIGINT) AS n
FROM toks GROUP BY tok
ORDER BY n DESC, tok ASC
LIMIT 30
"""


def q_text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (operators/text.py
    tfidf_top_terms): in-row term frequency (no corpus explode for tf),
    one vocab-sized document-frequency groupBy, broadcast corpus count,
    per-doc top-k window. The oracle replays tf, df, ln(N/df), and the
    (score desc, term asc) rank verbatim."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return TX.tfidf_top_terms(docs, "doc_id", "text", k=5)


ORACLE_TFIDF_TERMS = r"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents WHERE doc_id < 200
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS tf
  FROM (SELECT doc_id, unnest(words) AS term FROM docs)
  GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * ln(n.n_docs / df.df) AS tfidf
  FROM tf JOIN df USING (term), n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS term_rank
  FROM scored
)
SELECT doc_id, term, tf, df, round(CAST(tfidf AS DOUBLE), 6) AS tfidf, CAST(term_rank AS INT) AS term_rank
FROM ranked WHERE term_rank <= 5
"""


def _bpe_merges_oracle_sql(n_merges: int = 20, vocab_limit: int = 10_000) -> str:
    """Generate the DuckDB oracle for bpe_train_merges: the merge loop
    UNROLLED into one CTE per iteration.

    The trick that makes iterative BPE SQL-expressible: every merged
    symbol is renamed to a fresh single CHARACTER (chr(256+k)), so a
    word's segmentation is always a plain string with one char per
    symbol. Applying a merge is then string `replace` of the 2-char
    pattern — DuckDB's left-to-right non-overlapping replace IS the BPE
    greedy pass — and pair counting is adjacent-character counting.
    Symbol NAMES (for output and the lexicographic tie-break) come from
    a placeholder→name dictionary accumulated from the earlier merge
    CTEs. Tie-breaks mirror _bpe_merge_loop exactly: pair count desc,
    then (left_name, right_name) ascending."""
    parts = [
        f"""WITH s0 AS MATERIALIZED (
  SELECT w AS s, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY w ORDER BY n DESC, w ASC LIMIT {vocab_limit}
)"""
    ]
    for k in range(1, n_merges + 1):
        if k == 1:
            dict_sql = "SELECT NULL AS c, NULL AS nm WHERE false"
        else:
            dict_sql = " UNION ALL ".join(
                f"SELECT chr({256 + j}) AS c, m_name AS nm FROM m{j}"
                for j in range(1, k)
            )
        parts.append(f"""d{k} AS ({dict_sql})""")
        parts.append(f"""p{k} AS MATERIALIZED (
  SELECT a_c, b_c, sum(n) AS cnt FROM (
    SELECT s[i] AS a_c, s[i+1] AS b_c, n FROM (
      SELECT s, n,
             unnest(generate_series(1, greatest(length(s) - 1, 0))) AS i
      FROM s{k-1}
    )
  ) GROUP BY a_c, b_c
)""")
        parts.append(f"""m{k} AS MATERIALIZED (
  SELECT a_c, b_c, coalesce(da.nm, p.a_c) AS a_name,
         coalesce(db.nm, p.b_c) AS b_name,
         coalesce(da.nm, p.a_c) || coalesce(db.nm, p.b_c) AS m_name,
         CAST(cnt AS BIGINT) AS cnt
  FROM p{k} p
  LEFT JOIN d{k} da ON p.a_c = da.c
  LEFT JOIN d{k} db ON p.b_c = db.c
  ORDER BY cnt DESC, a_name ASC, b_name ASC LIMIT 1
)""")
        parts.append(f"""s{k} AS MATERIALIZED (
  SELECT replace(s, (SELECT a_c || b_c FROM m{k}), chr({256 + k})) AS s, n
  FROM s{k-1}
)""")
    union = "\n  UNION ALL ".join(
        f"SELECT {k} AS merge_rank, a_name AS \"left\", b_name AS \"right\", "
        f"m_name AS merged, cnt AS pair_count FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        ",\n".join(parts)
        + f"\nSELECT * FROM (\n  {union}\n) ORDER BY merge_rank"
    )


def _bpe_encode_oracle_sql(n_merges: int = 20, vocab_limit: int = 10_000) -> str:
    """DuckDB oracle for the full train-then-encode BPE pipeline: the
    training cascade from :func:`_bpe_merges_oracle_sql`, then every
    document's words encoded by applying the learned merges IN RANK
    ORDER as chained `replace`s over the single-char symbol strings.

    Rank-order replace-all is equivalent to bpe_encode's
    lowest-rank-first walk for TRAINED merge tables: a merge's operands
    can only be produced by strictly lower-ranked merges, so by the
    time rank k is applied every lower rank is exhausted — the same
    order the priority walk visits."""
    train = _bpe_merges_oracle_sql(n_merges, vocab_limit)
    # keep only the WITH-cascade (strip the final SELECT)
    cascade = train[: train.rindex("\nSELECT * FROM (")]
    chain_w = "w0"
    for k in range(1, n_merges + 1):
        chain_w = (
            f"replace({chain_w}, (SELECT a_c || b_c FROM m{k}), chr({256 + k}))"
        )
    dict_rows = " UNION ALL ".join(
        f"SELECT chr({256 + j}) AS c, m_name AS nm FROM m{j}"
        for j in range(1, n_merges + 1)
    )
    return f"""{cascade},
enc AS (
  SELECT doc_id, pos, {chain_w} AS e FROM (
    SELECT doc_id, words[i] AS w0, i AS pos FROM (
      SELECT doc_id, words,
             unnest(generate_series(1, len(words))) AS i
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS words
            FROM documents)
    )
  ) WHERE w0 <> ''
),
agg AS (
  SELECT doc_id, CAST(sum(length(e)) AS INT) AS n_tokens,
         string_agg(e, '' ORDER BY pos) AS full_s
  FROM enc GROUP BY doc_id
),
tokdict AS ({dict_rows}),
head AS (
  SELECT doc_id, string_agg(coalesce(d.nm, x.ch), ' ' ORDER BY x.j)
           AS tokens_head
  FROM (
    SELECT doc_id, j, substr(full_s, j, 1) AS ch FROM (
      SELECT doc_id, full_s,
             unnest(generate_series(1, least(5, length(full_s)))) AS j
      FROM agg
    )
  ) x LEFT JOIN tokdict d ON x.ch = d.c
  GROUP BY doc_id
)
SELECT a.doc_id, a.n_tokens, coalesce(h.tokens_head, '') AS tokens_head
FROM agg a LEFT JOIN head h USING (doc_id) ORDER BY a.doc_id"""


def _bpe_coverage_oracle_sql(n_merges: int = 20) -> str:
    """DuckDB oracle for per-source tokenizer efficiency: the encode
    cascade of :func:`_bpe_encode_oracle_sql`, aggregated per source as
    tokens-per-character — the "does the trained tokenizer fit this
    domain" audit (a domain whose text fragments into near-character
    tokens is out-of-distribution for the merge table)."""
    enc = _bpe_encode_oracle_sql(n_merges)
    cascade = enc[: enc.rindex(",\ntokdict AS (")]
    return f"""{cascade},
per_doc AS (
  SELECT e.doc_id, n_tokens, d.source,
         CAST(length(d.text) AS BIGINT) AS n_chars
  FROM agg e JOIN documents d ON e.doc_id = d.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(CAST(sum(n_tokens) AS DOUBLE) / sum(n_chars), 6)
         AS tokens_per_char
FROM per_doc GROUP BY source ORDER BY source"""


ORACLE_BPE_MERGES = _bpe_merges_oracle_sql(n_merges=20)
ORACLE_BPE_ENCODE = _bpe_encode_oracle_sql(n_merges=20)
ORACLE_BPE_COVERAGE = _bpe_coverage_oracle_sql(n_merges=20)


def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer MERGE training (operators/text.py bpe_train_merges):
    one distributed word-frequency pass (vocab-sized output), then the
    classic BPE merge loop over the frequency dict — deterministic
    tie-breaks, no RNG. The DuckDB oracle unrolls the loop with the
    single-char placeholder renaming trick (_bpe_merges_oracle_sql), so
    every merge decision is value-checked; the algorithm is also pinned
    against a hand-checkable reference trace in tests/test_operators.py."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.bpe_train_merges(docs, "text", n_merges=20).orderBy("merge_rank")


def q_multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio frame features: synthesize a spec-valid 16-bit PCM
    WAV per document (id-derived parameters), decode channel 0's PCM
    stream with a zero-copy frombuffer, and emit per-64-sample-hop
    peak / energy (sum of squares) / zero-crossing counts — all exact
    integer arithmetic, so the DuckDB oracle regenerates the SAME
    samples from id arithmetic alone and replays every feature
    bit-for-bit (the pattern that made multimodal_resize real)."""
    from ..operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_wav_media(docs)
    return MM.audio_frame_features(media, window_samples=64).orderBy(
        "media_id", "frame_idx"
    )


# Regenerates the WAV fixture's channel-0 samples from id arithmetic
# (synthesize_wav: interleaved sample j = (id*31 + j*7) % 65536 - 32768;
# channel-0 sample i sits at interleaved index i*channels) and replays
# the integer frame features; the crossing between samples i-1 and i is
# attributed to i's window, matching the kernel's whole-stream count.
ORACLE_AUDIO_FRAMES = """
WITH params AS (
  SELECT doc_id AS media_id,
         1 + (doc_id // 4) % 2 AS channels,
         64 + doc_id % 193 AS n_samples
  FROM documents
),
samples AS (
  SELECT media_id, i,
         ((media_id * 31 + i * channels * 7) % 65536) - 32768 AS v,
         CAST(i // 64 AS INTEGER) AS frame_idx
  FROM params, LATERAL unnest(generate_series(0, n_samples - 1)) AS t(i)
),
lagged AS (
  SELECT media_id, i, v, frame_idx,
         lag(v) OVER (PARTITION BY media_id ORDER BY i) AS pv
  FROM samples
)
SELECT media_id,
       frame_idx,
       CAST(frame_idx * 64 AS BIGINT) AS window_start,
       CAST(count(*) AS INTEGER) AS win_samples,
       CAST(max(abs(v)) AS INTEGER) AS peak_abs,
       CAST(sum(v * v) AS BIGINT) AS sum_sq,
       CAST(sum(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
                THEN 1 ELSE 0 END) AS INTEGER) AS n_zero_cross
FROM lagged
GROUP BY media_id, frame_idx
ORDER BY media_id, frame_idx
"""


def q_scan_csv_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance for the tab-CSV scan: day-1 events
    round-tripped through headerless TSV plus three injected garbage
    lines, read in PERMISSIVE mode with a corrupt-record column — the
    engine counts clean vs corrupt rows instead of failing the load.
    (The reference delegates this policy to BigQuery's max_bad_records;
    PERMISSIVE + corrupt-column is the Spark-native equivalent.)"""
    import os

    from pyspark.sql import types as T

    from .catalog import _FIXTURES, _events_day1, _tmp, EVENTS_SCHEMA, TS_FMT

    key = ("badcsv", sf_dir)
    if key not in _FIXTURES:
        root = _tmp("badcsv")
        _events_day1(spark, sf_dir).coalesce(1).write.mode("overwrite").option(
            "sep", "\t"
        ).option("timestampFormat", TS_FMT).csv(root)
        with open(os.path.join(root, "part-bad.csv"), "w", encoding="utf-8") as fh:
            fh.write("garbage line with no tabs at all\n")
            fh.write("1\tnot-a-timestamp\t2\tclick\t3.5\t{}\n")
            fh.write("only\ttwo\n")
        _FIXTURES[key] = root
    schema = T.StructType(EVENTS_SCHEMA.fields + [T.StructField("_corrupt", T.StringType())])
    df = (
        spark.read.schema(schema)
        .options(
            sep="\t",
            header=False,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord="_corrupt",
            timestampFormat=TS_FMT,
        )
        .csv(_FIXTURES[key])
    )
    # CSV corrupt-column queries require materialization; scoped so the
    # catalog sweep holds at most one copy (operators/_cache.py)
    df = _scoped_persist(df, "pipeline_extra.csv_corrupt")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_corrupt").isNotNull().cast("long")).alias("n_corrupt"),
        F.sum(F.col("_corrupt").isNull().cast("long")).alias("n_good"),
    )


ORACLE_BADRECORDS = """
SELECT CAST(count(*) + 3 AS BIGINT) AS n_rows,
       CAST(3 AS BIGINT) AS n_corrupt,
       CAST(count(*) AS BIGINT) AS n_good
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
"""


# The md5-family MinHash-LSH pipeline now lives under the primary
# `dedup_minhash_lsh` catalog key (queries/catalog.py) so the key earns a
# value-exact driver row; this oracle is registered there.
ORACLE_MINHASH = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words FROM documents
),
idx AS (
  SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx
),
slots AS (
  SELECT doc_id, md5(shingle) AS m, unnest(generate_series(0, 31)) AS slot FROM sh
),
sig AS (
  SELECT doc_id, slot,
         min(('0x' || substr(md5(m || '_' || slot), 1, 7))::BIGINT) AS mh
  FROM slots GROUP BY doc_id, slot
),
bands AS (
  SELECT doc_id, slot // 4 AS band,
         string_agg(mh::VARCHAR, '_' ORDER BY slot) AS band_key
  FROM sig GROUP BY doc_id, slot // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sa.slot = sb.slot
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, round(CAST(est_jaccard AS DOUBLE), 4) AS est_jaccard
FROM est WHERE est_jaccard >= 0.3
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental new-batch-vs-corpus dedup under a value-exact oracle:
    documents with doc_id % 4 == 0 play the incoming hourly batch, the
    rest the accumulated corpus. Stage 1 drops batch docs whose sha256
    already exists in the corpus; stage 2 MinHash-bands the batch against
    the corpus only (md5 family, 8 bands x 4 rows, est >= 0.3) — the
    corpus is never self-paired, which is what makes continuous dedup
    O(batch) instead of O(corpus^2) at 100 TB. Output: every batch doc
    with its dup_kind ('exact' | 'near' | NULL = keep)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    out = D.incremental_dedup_batch(
        corpus, batch, "doc_id", "text",
        num_bands=8, num_hashes=32, threshold=0.3, md5_family=True,
    )
    return out.select("doc_id", "dup_kind")


ORACLE_DEDUP_INCREMENTAL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words FROM documents
),
idx AS (
  SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx
),
slots AS (
  SELECT doc_id, md5(shingle) AS m, unnest(generate_series(0, 31)) AS slot FROM sh
),
sig AS (
  SELECT doc_id, slot,
         min(('0x' || substr(md5(m || '_' || slot), 1, 7))::BIGINT) AS mh
  FROM slots GROUP BY doc_id, slot
),
bands AS (
  SELECT doc_id, slot // 4 AS band,
         string_agg(mh::VARCHAR, '_' ORDER BY slot) AS band_key
  FROM sig GROUP BY doc_id, slot // 4
),
exact_ids AS (
  SELECT DISTINCT b.doc_id
  FROM documents b JOIN documents c
    ON b.doc_id % 4 = 0 AND c.doc_id % 4 != 0 AND sha256(b.text) = sha256(c.text)
),
cand AS (
  SELECT DISTINCT b.doc_id AS doc_b, c.doc_id AS doc_c
  FROM bands b JOIN bands c ON b.band = c.band AND b.band_key = c.band_key
  WHERE b.doc_id % 4 = 0 AND c.doc_id % 4 != 0
),
est AS (
  SELECT cand.doc_b, cand.doc_c,
         sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_b
  JOIN sig sb ON sb.doc_id = cand.doc_c AND sa.slot = sb.slot
  GROUP BY cand.doc_b, cand.doc_c
),
near_ids AS (
  SELECT DISTINCT doc_b AS doc_id FROM est WHERE est_jaccard >= 0.3
),
flags AS (
  SELECT doc_id, min(dup_kind) AS dup_kind FROM (
    SELECT doc_id, 'exact' AS dup_kind FROM exact_ids
    UNION ALL
    SELECT doc_id, 'near' AS dup_kind FROM near_ids
  ) GROUP BY doc_id
)
SELECT b.doc_id, f.dup_kind
FROM documents b LEFT JOIN flags f ON b.doc_id = f.doc_id
WHERE b.doc_id % 4 = 0
"""


def q_dedup_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The amortized corpus side of incremental dedup: corpus MinHash
    bands persisted ONCE as a bucketed+sorted table on the LSH join key
    (operators/dedup.py persist_corpus_bands), then the batch joins
    against the stored layout — no corpus re-shingling/re-banding/
    re-shuffle per batch, which is the steady-state cost model of a
    continuously-ingesting 100 TB pipeline. Same md5 band family and
    threshold as dedup_incremental's near stage, so the near-dup id set
    is value-exact against the same SQL oracle."""
    import hashlib

    from .catalog import _FIXTURES

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    key = ("corpus_bands_md5", sf_dir)
    if key not in _FIXTURES:
        name = "corpus_bands_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        sigs = D.minhash_signatures_md5(corpus, "doc_id", "text", num_hashes=32)
        D.persist_corpus_bands(
            sigs, name, num_bands=8, num_hashes=32, hash_buckets=False, n_buckets=8
        )
        _FIXTURES[key] = name
    batch_sigs = D.minhash_signatures_md5(batch, "doc_id", "text", num_hashes=32)
    near = D.incremental_near_dup_ids_vs_table(
        spark, _FIXTURES[key], batch_sigs,
        num_bands=8, num_hashes=32, threshold=0.3, hash_buckets=False,
    )
    return near.select("doc_id")


# near_ids of ORACLE_DEDUP_INCREMENTAL: same md5 signature/band chain,
# batch = doc_id % 4 == 0 vs corpus = the rest.
ORACLE_DEDUP_INCREMENTAL_BUCKETED = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words FROM documents
),
idx AS (
  SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx
),
slots AS (
  SELECT doc_id, md5(shingle) AS m, unnest(generate_series(0, 31)) AS slot FROM sh
),
sig AS (
  SELECT doc_id, slot,
         min(('0x' || substr(md5(m || '_' || slot), 1, 7))::BIGINT) AS mh
  FROM slots GROUP BY doc_id, slot
),
bands AS (
  SELECT doc_id, slot // 4 AS band,
         string_agg(mh::VARCHAR, '_' ORDER BY slot) AS band_key
  FROM sig GROUP BY doc_id, slot // 4
),
cand AS (
  SELECT DISTINCT b.doc_id AS doc_b, c.doc_id AS doc_c
  FROM bands b JOIN bands c ON b.band = c.band AND b.band_key = c.band_key
  WHERE b.doc_id % 4 = 0 AND c.doc_id % 4 != 0
),
est AS (
  SELECT cand.doc_b, cand.doc_c,
         sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_b
  JOIN sig sb ON sb.doc_id = cand.doc_c AND sa.slot = sb.slot
  GROUP BY cand.doc_b, cand.doc_c
)
SELECT DISTINCT doc_b AS doc_id FROM est WHERE est_jaccard >= 0.3
"""



def _bpe_tokenized_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted (doc_id, pos, w) token frame shared by the BPE
    TRAIN pass and both ENCODE consumers: unshared, the corpus is
    re-tokenized (scan + lower/split + explode) once for the training
    frequency table, once for the encode join probe, and once for the
    distinct-word vocabulary — three narrow corpus passes computing the
    same rows. Same posexplode-of-split the operators run internally,
    so sharing cannot change a value. An ensure_min_parallelism gate
    before the explode was A/B-measured a WASH here (r18: 3.48 vs
    3.49 s encode, 3.06 vs 2.75 s coverage, same session) — the
    synthetic corpus's tiny vocab makes the explode too cheap to pay
    for the extra exchange — so it is deliberately absent."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.col("doc_id"),
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("pos", "w"),
    ).filter(F.col("w") != "")
    return _scoped_persist(words, "pipeline_extra.bpe_words")


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE with learned merges (operators/text.py
    bpe_encode): train 20 merges on the corpus, then tokenize every
    document — the greedy walk runs once per DISTINCT word (vocab-sized
    Python work), the dictionary joins back by broadcast, documents
    reassemble with one id groupBy. Train and encode share one
    persisted token frame (_bpe_tokenized_words), so the corpus is
    tokenized once, not per stage. The DuckDB oracle replays training
    via the unrolled placeholder cascade and applies the merges in rank
    order (equivalent to the priority walk for trained tables —
    _bpe_encode_oracle_sql); greedy order and per-word roundtrip are
    also pinned in tests/test_operators.py."""
    from ..operators.text import bpe_encode, bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    words = _bpe_tokenized_words(spark, sf_dir)
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges(
            docs, "text", n_merges=20, pre_tokenized=words
        ).orderBy("merge_rank").collect()
    ]
    enc = bpe_encode(docs, "doc_id", "text", merges, pre_tokenized=words)
    return enc.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.concat_ws(" ", F.slice("tokens", 1, 5)).alias("tokens_head"),
    ).orderBy("doc_id")



def q_text_bpe_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer efficiency with the trained BPE merges:
    tokens-per-character after encoding — the tokenizer-fit audit a
    multilingual/multi-domain pipeline runs before committing a merge
    table (an out-of-distribution domain fragments toward one token per
    character). One extra per-source aggregation on top of the encode
    plan; the oracle replays training, encoding, and the rollup. Train
    and encode share one persisted token frame (_bpe_tokenized_words)."""
    from ..operators.text import bpe_encode, bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    words = _bpe_tokenized_words(spark, sf_dir)
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges(docs, "text", n_merges=20, pre_tokenized=words)
        .orderBy("merge_rank").collect()
    ]
    enc = bpe_encode(docs, "doc_id", "text", merges, pre_tokenized=words).select(
        "doc_id", F.size("tokens").alias("n_tokens")
    )
    per_doc = enc.join(
        docs.select("doc_id", "source", F.length("text").alias("n_chars")),
        "doc_id",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.round(
                F.sum("n_tokens") / F.sum("n_chars").cast("double"), 6
            ).alias("tokens_per_char"),
        )
        .orderBy("source")
    )


def q_pack_first_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split FFD packing (operators/packing.py pack_first_fit_nosplit):
    whitespace token counts -> hash-sharded first-fit-decreasing bins,
    sequential state confined to one applyInPandas group per shard.
    The DuckDB oracle replays the greedy bin walk with a list_reduce
    fold (_ffd_oracle_sql), so every (shard, pack, doc) coordinate is
    value-checked; budget/exactness/determinism are also pinned in
    tests/test_packing.py."""
    from ..operators.packing import pack_first_fit_nosplit
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    out = pack_first_fit_nosplit(docs, budget=256, n_shards=8)
    return out.orderBy("shard", "pack_id", "doc_id")


def _ffd_oracle_sql(budget: int = 256, n_shards: int = 8) -> str:
    """DuckDB oracle for pack_first_fit_nosplit: the per-shard greedy
    first-fit-decreasing walk emulated with list_reduce.

    DuckDB 1.0's list_reduce corrupts variable-length fields inside a
    STRUCT accumulator (scalar struct fields thread fine — the ts_ewma
    oracle uses those — but VARCHAR/LIST fields come back garbage), so
    the fold state is a plain VARCHAR[] instead: element 1 carries the
    bin remaining-capacities as a CSV string, elements 2.. carry the
    'doc_id:pack_id:n_tokens' assignments in processing order. Each
    step re-parses the bins CSV, finds the first fitting bin with
    list_position over a boolean list_transform, and rebuilds the CSV —
    verbose, but every sub-expression is deterministic and the walk is
    bit-identical to the Arrow kernel's Python loop."""
    n = "CAST(split_part(x[1], ':', 2) AS BIGINT)"
    bins = (
        "CASE WHEN acc[1] = '' THEN CAST([] AS BIGINT[]) "
        "ELSE list_transform(string_split(acc[1], ','), zz -> CAST(zz AS BIGINT)) END"
    )
    idx = f"list_position(list_transform({bins}, rr -> rr >= {n}), true)"
    did = "split_part(x[1], ':', 1)"
    lam = f"""(acc, x) -> CASE
      WHEN {n} > {budget} THEN acc || [concat({did}, ':-1:', {n})]
      WHEN {idx} = 0 THEN
        [array_to_string(list_append({bins}, {budget} - {n}), ',')]
        || acc[2:] || [concat({did}, ':', len({bins}), ':', {n})]
      ELSE
        [array_to_string(({bins})[1:{idx}-1] || [({bins})[{idx}] - {n}]
                         || ({bins})[{idx}+1:], ',')]
        || acc[2:] || [concat({did}, ':', {idx} - 1, ':', {n})]
    END"""
    return f"""WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         ((doc_id & 2147483647) * 2654435761) % {n_shards} AS shard
  FROM documents
),
per_shard AS (
  SELECT shard,
         list([concat(doc_id, ':', n_tokens)]
              ORDER BY n_tokens DESC, doc_id ASC) AS elems
  FROM toks GROUP BY shard
),
folded AS (
  SELECT shard, list_reduce(list_prepend([''], elems), {lam}) AS r
  FROM per_shard
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(split_part(t, ':', 2) AS BIGINT) AS pack_id,
       CAST(split_part(t, ':', 1) AS BIGINT) AS doc_id,
       CAST(split_part(t, ':', 3) AS BIGINT) AS n_tokens
FROM (SELECT shard, unnest(r[2:]) AS t FROM folded)
ORDER BY shard, pack_id, doc_id"""


ORACLE_PACK_FIRST_FIT = _ffd_oracle_sql(budget=256, n_shards=8)


# The md5-family SimHash pipeline now lives under the primary
# `dedup_simhash` catalog key (queries/catalog.py); this oracle is
# registered there.
ORACLE_SIMHASH = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
bits AS (
  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, LATERAL unnest(generate_series(0, 59)) AS t(j)
  GROUP BY doc_id, j
),
fp AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS val
  FROM fp, LATERAL unnest(generate_series(0, 3)) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM blocks a JOIN blocks b
    ON a.b = b.b AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 12
"""


# The md5-plane LSH ANN now lives under the primary `ann_lsh_topk`
# catalog key (queries/catalog.py); this oracle is registered there.
ORACLE_ANN_LSH = """
WITH w AS (
  SELECT p, j,
         CASE WHEN ('0x' || substr(md5('p_' || p || '_' || (j - 1)), 1, 7))::BIGINT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS wt
  FROM unnest(generate_series(0, 5)) AS tp(p),
       unnest(generate_series(1, 64)) AS tj(j)
),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
proj AS (
  SELECT vec_id, p, sum(v[j] * wt) AS pr
  FROM vecs, w
  GROUP BY vec_id, p
),
sig AS (
  SELECT vec_id, CAST(sum(CASE WHEN pr > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
q AS (SELECT s.vec_id AS query_id, v.v AS qv, s.bucket
      FROM sig s JOIN vecs v ON v.vec_id = s.vec_id WHERE s.vec_id < 5),
c AS (SELECT s.vec_id, v.v AS cv, s.bucket
      FROM sig s JOIN vecs v ON v.vec_id = s.vec_id),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
  FROM q JOIN c ON q.bucket = c.bucket AND c.vec_id <> q.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(CAST(cosine AS DOUBLE), 4) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""


def q_ann_multiprobe_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k with md5-derived hyperplanes: queries probe
    their own bucket plus all 6 single-bit-flip neighbor buckets,
    recovering one-plane-straddle misses (operators/similarity.py
    lsh_multiprobe_topk). Fully value-checked: the oracle regenerates the
    identical planes, signatures, probe set, and ranking in SQL."""
    from ..operators.similarity import lsh_multiprobe_topk, md5_signature

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_multiprobe_topk(
        emb, queries, k=3, num_planes=6, dim=64, probes=6,
        signature=md5_signature(6, 64),
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


ORACLE_ANN_MULTIPROBE = """
WITH w AS (
  SELECT p, j,
         CASE WHEN ('0x' || substr(md5('p_' || p || '_' || (j - 1)), 1, 7))::BIGINT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS wt
  FROM unnest(generate_series(0, 5)) AS tp(p),
       unnest(generate_series(1, 64)) AS tj(j)
),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
proj AS (
  SELECT vec_id, p, sum(v[j] * wt) AS pr
  FROM vecs, w
  GROUP BY vec_id, p
),
sig AS (
  SELECT vec_id, CAST(sum(CASE WHEN pr > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
q AS (SELECT s.vec_id AS query_id, v.v AS qv, s.bucket
      FROM sig s JOIN vecs v ON v.vec_id = s.vec_id WHERE s.vec_id < 5),
-- probe set: own bucket (t=0) + the 6 single-bit flips (t=1..6)
probes AS (
  SELECT query_id, qv,
         CASE WHEN t = 0 THEN bucket
              ELSE xor(bucket, CAST(1 << (t - 1) AS BIGINT)) END AS bucket
  FROM q, unnest(generate_series(0, 6)) AS tt(t)
),
c AS (SELECT s.vec_id, v.v AS cv, s.bucket
      FROM sig s JOIN vecs v ON v.vec_id = s.vec_id),
scored AS (
  SELECT p.query_id, c.vec_id,
         list_dot_product(p.qv, c.cv)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
  FROM probes p JOIN c ON p.bucket = c.bucket AND c.vec_id <> p.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(CAST(cosine AS DOUBLE), 4) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-family repetition-rule filter: word stats + keep verdict
    as a shuffle-free narrow map (operators/text.py gopher_rules)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.gopher_rules(docs, "doc_id", "text")


ORACLE_GOPHER = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
), b AS (
  SELECT doc_id, w,
         list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1]) AS bg
  FROM t
), f AS (
  SELECT doc_id,
         CAST(len(w) AS INT) AS n_words,
         round(list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w), 4) AS mean_word_len,
         round(len(list_distinct(w)) * 1.0 / len(w), 4) AS distinct_word_frac,
         round(list_max(list_transform(list_distinct(w),
                 x -> len(list_filter(w, y -> y = x)))) * 1.0 / len(w), 4) AS top_word_frac,
         round((len(bg) - len(list_distinct(bg))) * 1.0 / greatest(len(bg), 1), 4) AS dup_bigram_frac
  FROM b
)
SELECT *,
       (n_words >= 20 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
        AND distinct_word_frac >= 0.4 AND top_word_frac <= 0.15
        AND dup_bigram_frac <= 0.3) AS keep
FROM f
"""


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any 5-word
    shingle with a pseudo-benchmark subset (doc_id % 97 == 0). Benchmark
    shingles broadcast; corpus touched once, re-aggregated per doc."""
    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return TX.contamination_screen(docs, benchmark, "doc_id", "text", n=5)


def q_text_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination twin (operators/text.py
    contamination_screen_bloom): benchmark grams compiled to a ~1.5
    byte/gram Bloom bitmap shipped in the probe kernel's closure; corpus
    grams drop map-side, only candidates reach the exact confirm join.
    Bit-identical to text_contamination by construction (no false
    negatives; false positives killed by the confirm join), so the same
    SQL oracle value-checks the whole bloom path."""
    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return TX.contamination_screen_bloom(docs, benchmark, "doc_id", "text", n=5)


ORACLE_CONTAMINATION = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
), bench AS (
  SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS gram
  FROM toks, LATERAL unnest(generate_series(1, len(w) - 4)) AS t(i)
  WHERE doc_id % 97 = 0
), grams AS (
  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
  FROM toks, LATERAL unnest(generate_series(1, len(w) - 4)) AS t(i)
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(b.gram) AS BIGINT) AS n_contaminated,
       round(count(b.gram) * 1.0 / greatest(count(*), 1), 4) AS contaminated_frac,
       count(b.gram) > 0 AS flagged
FROM grams g LEFT JOIN bench b ON g.gram = b.gram
GROUP BY g.doc_id
"""


def q_sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle: md5(doc_id || '_' || epoch)
    as the order key — reproducible across retries and engines, different
    permutation per epoch. Returns the first 10 docs of epoch 1's order
    plus the same docs' epoch-2 keys (proving the permutation changes)."""
    docs = load_table(spark, sf_dir, "documents")
    e1 = S.epoch_shuffle(docs.select("doc_id"), "doc_id", epoch=1)
    e2 = S.epoch_shuffle(docs.select("doc_id"), "doc_id", epoch=2).withColumnRenamed(
        "shuffle_key", "epoch2_key"
    )
    return (
        e1.orderBy("shuffle_key")
        .limit(10)
        .join(e2, "doc_id")
        .select("doc_id", "shuffle_key", "epoch2_key")
    )


ORACLE_EPOCH_SHUFFLE = """
WITH e1 AS (
  SELECT doc_id, md5(doc_id::VARCHAR || '_1') AS shuffle_key
  FROM documents ORDER BY shuffle_key LIMIT 10
)
SELECT doc_id, shuffle_key, md5(doc_id::VARCHAR || '_2') AS epoch2_key
FROM e1
"""


def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|v|/127): the
    4x memory cut for embedding corpora. Narrow map, no shuffle; the
    oracle recomputes scale and every quantized component in SQL. The
    ``q`` codes are serialized to a comma-joined string so external
    harnesses can canonicalize the row (pandas can't sort/hash raw
    list cells); the operator itself keeps the array<int> shape."""
    from ..operators.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_int8(emb.filter(F.col("vec_id") < 200))
    return out.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.transform(F.col("q"), lambda x: x.cast("string"))).alias("q_codes"),
    )


def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN top-k (operators/similarity.py int8_topk): int8
    codes scored by integer GEMM in a mapInPandas kernel, partial top-k
    per Arrow batch, metadata-sized final window — the 4× memory-traffic
    scale path. Integer dots are exact and the scale arithmetic uses the
    published 6-decimal scales in fixed multiply order, so the DuckDB
    oracle reproduces every score, tie-break, and rank verbatim."""
    from ..operators.similarity import int8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return int8_topk(emb, queries, k=3)


ORACLE_ANN_INT8 = """
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc FROM c
), qz AS (
  SELECT vec_id, round(sc, 6) AS scale6,
         list_transform(e, x -> CAST(round(x / sc) AS DOUBLE)) AS qv
  FROM s
), qs AS (
  SELECT vec_id, scale6, qv FROM qz WHERE vec_id < 5
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         (list_dot_product(c.qv, q.qv) * c.scale6) * q.scale6 AS score
  FROM qz c JOIN qs q ON c.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(score, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_ann_int8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage quantized ANN (operators/similarity.py
    int8_rescore_topk): int8 integer-GEMM shortlist of 20 per query,
    then exact float-cosine rescore of ONLY those candidates and a
    top-3 re-rank — the standard memory-bandwidth/recall trade at
    100 TB (stream 4×-smaller codes, touch float vectors for a
    corpus-size-independent candidate set via a broadcast point-lookup
    join). Integer dots, published 6-decimal scales, and float64
    cosines are all exactly reproducible, so the oracle replays both
    stages verbatim."""
    from ..operators.similarity import int8_rescore_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return int8_rescore_topk(emb, queries, k=3, shortlist=20)


ORACLE_ANN_INT8_RESCORE = """
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc FROM c
), qz AS (
  SELECT vec_id, e, round(sc, 6) AS scale6,
         list_transform(e, x -> CAST(round(x / sc) AS DOUBLE)) AS qv
  FROM s
), qs AS (
  SELECT vec_id, e, scale6, qv FROM qz WHERE vec_id < 5
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         (list_dot_product(c.qv, q.qv) * c.scale6) * q.scale6 AS score
  FROM qz c JOIN qs q ON c.vec_id <> q.vec_id
), shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= 20
), exact AS (
  SELECT sl.query_id, sl.vec_id,
         list_dot_product(cv.e, qv.e)
           / (sqrt(list_dot_product(cv.e, cv.e)) * sqrt(list_dot_product(qv.e, qv.e)))
           AS cosine
  FROM shortlist sl
  JOIN qz cv ON cv.vec_id = sl.vec_id
  JOIN qs qv ON qv.vec_id = sl.query_id
), reranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM exact
)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
FROM reranked WHERE rank <= 3
"""


ORACLE_QUANTIZE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 200
), s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc
  FROM v
)
SELECT vec_id, round(sc, 6) AS scale,
       array_to_string(list_transform(e, x -> CAST(round(x / sc) AS INT)), ',') AS q_codes
FROM s
"""


def q_udtf_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function, SURVEY §2.8 surface): expand
    each document into 20-token windows via a LATERAL table-function
    join — the one-row-to-many shape (sentence/window segmentation)
    where a UDTF beats explode-of-array because the expansion logic is
    imperative. Arrow-batched; the oracle replicates the windowing with
    generate_series over the token array."""
    from pyspark.sql.functions import udtf

    # useArrow: Spark 4's Arrow-optimized UDTF transport (ArrowEvalPython
    # in the plan instead of row-pickling BatchEvalPython) — the only
    # catalog key that would otherwise carry a row-at-a-time Python eval
    @udtf(
        returnType="win_idx INT, n_tokens INT, first_tok STRING, last_tok STRING",
        useArrow=True,
    )
    class TokenWindows:
        def eval(self, text: str):
            if not text:
                return
            toks = text.split()
            for w in range(0, len(toks), 20):
                win = toks[w : w + 20]
                yield (w // 20, len(win), win[0], win[-1])

    spark.udtf.register("token_windows", TokenWindows)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.win_idx, t.n_tokens, t.first_tok, t.last_tok
        FROM docs_udtf d, LATERAL token_windows(d.text) t
        """
    )


ORACLE_UDTF_WINDOWS = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words FROM documents
)
SELECT doc_id, CAST(w AS INTEGER) AS win_idx,
       CAST(least(20, len(words) - w * 20) AS INTEGER) AS n_tokens,
       words[w * 20 + 1] AS first_tok,
       words[least((w + 1) * 20, len(words))] AS last_tok
FROM tok, LATERAL unnest(generate_series(0, (len(words) - 1) // 20)) AS t(w)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-split): documents concatenated per
    shard in doc_id order and cut every 512 tokens; one output row per
    (doc, pack) segment. Closed-form window arithmetic — one shuffle, no
    UDF (operators/packing.py)."""
    from ..operators.packing import pack_sequences
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, budget=512, n_shards=8)


_PACK_SEGS_SQL = r"""
  toks AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok,
           CAST((((doc_id + 0) & 2147483647) * 2654435761) % 8 AS BIGINT) AS shard
    FROM documents
    WHERE len(regexp_split_to_array(trim(text), '\s+')) > 0
  ), offs AS (
    -- DuckDB SUM(BIGINT) widens to HUGEINT; cast back for generate_series
    SELECT doc_id, tok, shard,
           CAST(COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok, 0) AS BIGINT) AS s
    FROM toks
  ), segs AS (
    SELECT shard, doc_id, s, s + tok AS e,
           unnest(generate_series(s // 512, (s + tok - 1) // 512)) AS pack_id
    FROM offs
  )
"""

ORACLE_PACK = f"""
WITH {_PACK_SEGS_SQL}
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(pack_id AS BIGINT) AS pack_id,
       doc_id,
       CAST(GREATEST(s, pack_id * 512) - pack_id * 512 AS INT) AS start_in_pack,
       CAST(LEAST(e, (pack_id + 1) * 512) - GREATEST(s, pack_id * 512) AS INT) AS seg_tokens,
       CAST(GREATEST(s, pack_id * 512) - s AS BIGINT) AS doc_start
FROM segs
"""


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing audit: per-shard pack count, token totals, fill ratio —
    every pack but the shard's last is exactly full, so fill → 1 at
    scale."""
    from ..operators.packing import pack_sequences, packing_stats
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return packing_stats(pack_sequences(docs, budget=512, n_shards=8), budget=512)


ORACLE_PACK_EFFICIENCY = f"""
WITH {_PACK_SEGS_SQL}, seg_rows AS (
  SELECT shard, pack_id,
         LEAST(e, (pack_id + 1) * 512) - GREATEST(s, pack_id * 512) AS seg_tokens
  FROM segs
), per_pack AS (
  SELECT shard, pack_id, SUM(seg_tokens) AS pack_tokens, COUNT(*) AS n_segments
  FROM seg_rows GROUP BY shard, pack_id
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_segments) AS BIGINT) AS n_segments,
       ROUND(SUM(pack_tokens) / (COUNT(*) * 512.0), 4) AS fill_ratio
FROM per_pack
GROUP BY shard
ORDER BY shard
"""


def q_text_c4_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleanup (operators/text.py c4_line_filter).
    The synthetic documents are single-line word streams, so the query
    first derives a deterministic line structure (8-word lines, a
    terminal period on lines where (doc_id+i)%3>0 — identical arithmetic
    in the oracle), then keeps only punctuation-terminated lines with
    >= 3 words and re-joins the survivors. Whole pass is higher-order
    array expressions: narrow, shuffle-free."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    words = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(words) / F.lit(8)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat(
            F.array_join(F.slice(words, i * 8 + 1, 8), " "),
            F.when((F.col("doc_id") + i) % 3 > 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    lined = docs.select("doc_id", lines.alias("lines"))
    return TX.c4_line_filter(lined, "doc_id", "lines")


ORACLE_C4_LINES = """
WITH w AS (
  SELECT doc_id, str_split(text, ' ') AS words
  FROM documents WHERE doc_id < 200
), l AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, CAST(ceil(len(words) / 8.0) AS BIGINT) - 1),
           i -> array_to_string(words[(i*8+1):(i*8+8)], ' ')
                || CASE WHEN (doc_id + i) % 3 > 0 THEN '.' ELSE '' END
         ) AS lines
  FROM w
), k AS (
  SELECT doc_id, len(lines) AS n_lines,
         list_filter(lines, s -> regexp_matches(s, '[.!?"]$')
                             AND len(str_split(s, ' ')) >= 3
                             AND NOT contains(lower(s), 'javascript')) AS kept
  FROM l
)
SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
       CAST(len(kept) AS INT) AS n_lines_kept,
       array_to_string(kept, chr(10)) AS clean_text,
       (len(kept) * 2 >= n_lines AND len(kept) > 0) AS keep
FROM k
"""


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-corpus line dedup (operators/dedup.py line_dedup — the C4
    §2.2 "line occurs elsewhere in the dataset" rule): derive the same
    deterministic 8-word line structure as text_c4_lines, then keep each
    distinct line only at its first (doc_id, pos) occurrence anywhere in
    the corpus and re-join survivors per document. One map-side-combined
    groupBy per distinct line + one reassembly groupBy — no windows over
    the corpus. The oracle replays first-occurrence-wins with a
    row_number over (line → doc_id, pos)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    words = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(words) / F.lit(8)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
    )
    lined = docs.select("doc_id", lines.alias("lines"))
    return D.line_dedup(lined, "doc_id", "lines")


ORACLE_DEDUP_LINES = """
WITH w AS (
  SELECT doc_id, str_split(text, ' ') AS words
  FROM documents WHERE doc_id < 300
), ln AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(words[(i*8+1):(i*8+8)], ' ') AS line
  FROM w, LATERAL unnest(generate_series(0, CAST(ceil(len(words) / 8.0) AS BIGINT) - 1)) AS t(i)
), win AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM ln
), kept AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_lines_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM win WHERE rn = 1 GROUP BY doc_id
), base AS (
  SELECT doc_id, CAST(ceil(len(words) / 8.0) AS INT) AS n_lines FROM w
)
SELECT b.doc_id, b.n_lines,
       COALESCE(k.n_lines_kept, 0) AS n_lines_kept,
       COALESCE(k.clean_text, '') AS clean_text
FROM base b LEFT JOIN kept k USING (doc_id)
"""


def q_sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) domain rebalancing (operators/sampling.py
    temperature_mix): per-source integer weights ~ sqrt(total chars),
    integer keep thresholds, then hash-membership downsampling. Sources
    whose sample empties still appear (left join from the weight table),
    so the mixture audit is total."""
    docs = load_table(spark, sf_dir, "documents")
    weights = S.temperature_weights(docs, "source", "n_chars")
    mixed = S.temperature_mix(docs, "source", "n_chars", "doc_id")
    kept = mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept_raw"))
    return (
        weights.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "domain_size",
            "wgt",
            "threshold",
            F.coalesce(F.col("n_kept_raw"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


ORACLE_TEMPERATURE_MIX = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS domain_size
  FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs, domain_size,
         CAST(round(sqrt(domain_size) * 1000) AS BIGINT) AS wgt
  FROM per
), t AS (
  SELECT CAST(sum(wgt) AS BIGINT) AS total_wgt,
         CAST(sum(n_docs) AS BIGINT) AS total_docs
  FROM w
), th AS (
  SELECT source, n_docs, domain_size, wgt,
         LEAST(CAST(10000 AS BIGINT), CAST(floor(
           ((total_docs * 250) // 1000) * 10000 * wgt
           / (1.0 * total_wgt * n_docs)) AS BIGINT)) AS threshold
  FROM w, t
), kept AS (
  SELECT d.source, count(*) AS n
  FROM documents d JOIN th ON d.source = th.source
  WHERE ((d.doc_id & 2147483647) * 2654435761) % 10000 < th.threshold
  GROUP BY d.source
)
SELECT th.source, th.n_docs, th.domain_size, th.wgt, th.threshold,
       CAST(coalesce(kept.n, 0) AS BIGINT) AS n_kept
FROM th LEFT JOIN kept ON th.source = kept.source
ORDER BY th.source
"""


def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation funnel (operators/curation.py): language ID →
    Gopher quality rules → exact dedup → 80/10/10 split, audited as
    (stage, n_docs) rows — the composite a training-data pipeline runs
    over the raw corpus. One narrow flag pass + ONE content-keyed
    shuffle computes the entire funnel (flags are pure functions of the
    text, so the dedup groupBy carries them exactly); the oracle replays
    every stage in SQL."""
    from ..operators.curation import curation_funnel

    docs = load_table(spark, sf_dir, "documents")
    return curation_funnel(docs, "doc_id", "text")


# Stage twins: the lang CASE mirrors ORACLE_LANG_ID (catalog.py), the
# quality CTE mirrors ORACLE_GOPHER, the split CASE mirrors
# ORACLE_SAMPLE_SPLIT — divergence in any stage twin fails this key too.
ORACLE_CURATION = r"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), h AS (
  SELECT doc_id, text,
    (CASE WHEN list_contains(toks,'der') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'und') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'die') THEN 1 ELSE 0 END) AS h_de,
    (CASE WHEN list_contains(toks,'the') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'and') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'of') THEN 1 ELSE 0 END) AS h_en,
    (CASE WHEN list_contains(toks,'el') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'la') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'los') THEN 1 ELSE 0 END) AS h_es,
    (CASE WHEN list_contains(toks,'le') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'et') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(toks,'les') THEN 1 ELSE 0 END) AS h_fr
  FROM t
), lg AS (
  SELECT doc_id,
    (CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
          WHEN h_de > 0 AND h_en <= h_de AND h_es <= h_de AND h_fr <= h_de THEN 'de'
          WHEN h_en > 0 AND h_en > h_de AND h_es <= h_en AND h_fr <= h_en THEN 'en'
          WHEN h_es > 0 AND h_es > h_de AND h_es > h_en AND h_fr <= h_es THEN 'es'
          WHEN h_fr > 0 AND h_fr > h_de AND h_fr > h_en AND h_fr > h_es THEN 'fr'
          ELSE 'und' END) != 'und' AS lang_ok
  FROM h
), b AS (
  SELECT doc_id, toks AS w,
         list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1]) AS bg
  FROM t
), gf AS (
  SELECT doc_id,
         CAST(len(w) AS INT) AS n_words,
         round(list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w), 4) AS mean_word_len,
         round(len(list_distinct(w)) * 1.0 / len(w), 4) AS distinct_word_frac,
         round(list_max(list_transform(list_distinct(w),
                 x -> len(list_filter(w, y -> y = x)))) * 1.0 / len(w), 4) AS top_word_frac,
         round((len(bg) - len(list_distinct(bg))) * 1.0 / greatest(len(bg), 1), 4) AS dup_bigram_frac
  FROM b
), q AS (
  SELECT doc_id,
         (n_words >= 20 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
          AND distinct_word_frac >= 0.4 AND top_word_frac <= 0.15
          AND dup_bigram_frac <= 0.3) AS quality_ok
  FROM gf
), flags AS (
  SELECT d.doc_id, d.text, lg.lang_ok, q.quality_ok
  FROM documents d JOIN lg USING (doc_id) JOIN q USING (doc_id)
), grouped AS (
  SELECT text, count(*) AS n_copies, min(doc_id) AS keeper_id,
         bool_or(lang_ok) AS lang_ok, bool_or(quality_ok) AS quality_ok
  FROM flags GROUP BY text
), funnel AS (
  SELECT sum(n_copies) AS n_input,
         sum(CASE WHEN lang_ok THEN n_copies ELSE 0 END) AS n_lang,
         sum(CASE WHEN lang_ok AND quality_ok THEN n_copies ELSE 0 END) AS n_quality,
         count(CASE WHEN lang_ok AND quality_ok THEN 1 END) AS n_dedup
  FROM grouped
), splits AS (
  SELECT CASE WHEN ((keeper_id & 2147483647) * 2654435761) % 10000 < 1000 THEN '5_split_test'
              WHEN ((keeper_id & 2147483647) * 2654435761) % 10000 < 9000 THEN '5_split_train'
              ELSE '5_split_val' END AS stage,
         count(*) AS n_docs
  FROM grouped WHERE lang_ok AND quality_ok
  GROUP BY 1
)
SELECT stage, CAST(n_docs AS BIGINT) AS n_docs FROM (
  SELECT '1_input' AS stage, n_input AS n_docs FROM funnel
  UNION ALL SELECT '2_lang', n_lang FROM funnel
  UNION ALL SELECT '3_quality', n_quality FROM funnel
  UNION ALL SELECT '4_dedup', n_dedup FROM funnel
  UNION ALL SELECT stage, n_docs FROM splits
) ORDER BY stage
"""

# Release-manifest oracle: reuses ORACLE_CURATION's CTE chain up to the
# deduplicating groupBy (sliced at runtime so the two can never drift),
# then splits/shards the keepers with the masked hash family and rolls
# up per (split, shard).
_CURATION_PREFIX = ORACLE_CURATION[: ORACLE_CURATION.rindex("), funnel AS (")]
ORACLE_RELEASE_MANIFEST = _CURATION_PREFIX + r"""
), keepers AS (
  SELECT keeper_id, text FROM grouped WHERE lang_ok AND quality_ok
), staged AS (
  SELECT keeper_id,
         CASE WHEN ((keeper_id & 2147483647) * 2654435761) % 10000 < 1000
              THEN 'test'
              WHEN ((keeper_id & 2147483647) * 2654435761) % 10000 < 9000
              THEN 'train'
              ELSE 'val' END AS split,
         ((keeper_id & 2147483647) * 2654435761) % 8 AS shard,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM keepers
)
SELECT split, CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(keeper_id) AS BIGINT) AS id_sum
FROM staged GROUP BY split, shard ORDER BY split, shard
"""


def q_corpus_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's END: curation survivors rolled into a
    training-data release manifest per (split, shard) — doc counts,
    token totals, id-sum integrity figure (operators/curation.py
    corpus_release_manifest). Same single content-keyed shuffle as the
    curation funnel plus one keepers-sized rollup; split and shard come
    from the deterministic hash family, so the manifest is a pure
    function of the corpus and the oracle replays it end-to-end."""
    from ..operators.curation import corpus_release_manifest

    docs = load_table(spark, sf_dir, "documents")
    return corpus_release_manifest(docs, "doc_id", "text", n_shards=8)



def q_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64→16 sign projection (operators/
    similarity.py jl_project): deterministic LCG ±1 matrix rebuilt in
    every executor's kernel closure, one BLAS matmul per Arrow batch,
    zero shuffle. Output normalized by 1/sqrt(16)=1/4 (exact binary
    scaling, so Spark's and the oracle's divisions are bit-identical)
    and rounded to 4 decimals for the hash compare."""
    from ..operators.similarity import jl_project

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    proj = jl_project(emb, "vec_id", "embedding", out_dim=16, in_dim=64)
    return proj.select(
        "vec_id", "dim", F.round(F.col("proj") / 4.0, 4).alias("proj")
    )


# Same multiply-xor mix as similarity.jl_sign_matrix; i is the 1-based
# input dimension, j the 0-based output dimension, flat index
# (i-1)*16 + j + 1. Every intermediate fits DuckDB's signed BIGINT.
ORACLE_JL_PROJECTION = """
WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150
), dims AS (
  SELECT CAST(range AS BIGINT) AS dim FROM range(16)
), s1 AS (
  SELECT in_dim, dim,
         (((in_dim - 1) * 16 + dim + 1) * 2654435761) % 2147483648 AS h
  FROM dims, LATERAL unnest(generate_series(1, 64)) AS t(in_dim)
), s2 AS (
  SELECT in_dim, dim, (xor(h, h // 65536) * 2246822519) % 2147483648 AS h FROM s1
), sgn AS (
  SELECT in_dim, dim,
         CASE WHEN (xor(h, h // 8192) // 2) % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
  FROM s2
)
SELECT e.vec_id, CAST(sgn.dim AS INT) AS dim,
       round(sum(CAST(e.embedding[sgn.in_dim] AS DOUBLE) * sgn.s) / 4.0, 4) AS proj
FROM e, sgn
GROUP BY e.vec_id, sgn.dim
"""


def q_ann_jl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-prefiltered ANN (operators/similarity.py jl_topk): candidates
    by cosine in the 32-dim projected space (half the arithmetic/memory
    traffic per corpus vector), exact re-rank of the 50-candidate
    shortlist in the original 64-dim space. The synthetic embeddings
    have weak cluster structure (top-3 cosine ≈0.33 vs ≈0 median), so
    32/50 is the measured operating point for ≥0.7 recall — real
    embedding corpora with strong structure tolerate harder compression.
    Deterministic sign matrix → the SQL oracle replays the projection,
    the shortlist, and the re-rank verbatim; recall vs the exact top-k
    is pytest-gated."""
    from ..operators.similarity import jl_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = jl_topk(emb, queries, k=3, shortlist=50, out_dim=32, in_dim=64)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


# Projection CTEs identical to ORACLE_JL_PROJECTION (same mix, same
# constants); shortlist and re-rank replay jl_topk's total orders.
ORACLE_ANN_JL = """
WITH dims AS (
  SELECT CAST(range AS BIGINT) AS dim FROM range(32)
), s1 AS (
  SELECT in_dim, dim,
         (((in_dim - 1) * 32 + dim + 1) * 2654435761) % 2147483648 AS h
  FROM dims, LATERAL unnest(generate_series(1, 64)) AS t(in_dim)
), s2 AS (
  SELECT in_dim, dim, (xor(h, h // 65536) * 2246822519) % 2147483648 AS h FROM s1
), sgn AS (
  SELECT in_dim, dim,
         CASE WHEN (xor(h, h // 8192) // 2) % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
  FROM s2
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), proj AS (
  SELECT e.vec_id, sgn.dim, sum(e.ev[sgn.in_dim] * sgn.s) AS p
  FROM e, sgn GROUP BY e.vec_id, sgn.dim
), pv AS (
  SELECT vec_id, list(p ORDER BY dim) AS pvec FROM proj GROUP BY vec_id
), pn AS (
  SELECT vec_id, pvec,
         sqrt(list_sum(list_transform(pvec, x -> x * x))) AS nrm
  FROM pv
), jl AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         list_dot_product(c.pvec, q.pvec) / (c.nrm * q.nrm) AS jl_cosine
  FROM pn c JOIN pn q ON q.vec_id < 5 AND c.vec_id <> q.vec_id
), short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY jl_cosine DESC, vec_id ASC) AS r
    FROM jl) WHERE r <= 50
), ex AS (
  SELECT s.query_id, s.vec_id,
         list_dot_product(ce.ev, qe.ev)
           / (sqrt(list_sum(list_transform(qe.ev, x -> x * x)))
              * sqrt(list_sum(list_transform(ce.ev, x -> x * x)))) AS cosine
  FROM short s
  JOIN e ce ON ce.vec_id = s.vec_id
  JOIN e qe ON qe.vec_id = s.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM ex
)
SELECT query_id, vec_id, round(cosine, 4) AS cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens via Misra-Gries candidate pruning + exact
    confirm (operators/sketches.py heavy_hitters): per-partition
    summaries bound the shuffle to capacity rows/partition regardless of
    vocabulary size, then an exact count over only the candidates makes
    the result identical to the full-domain aggregation (guarantee holds
    while the 20th frequency exceeds N/capacity — trivially true for
    stopwords at capacity=400). The oracle IS the full aggregation."""
    from ..operators.dedup import tokenize
    from ..operators.sketches import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
    return heavy_hitters(words, "word", k=20, capacity=400)


ORACLE_HEAVY_HITTERS = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS key
  FROM documents
), counted AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY key
), ranked AS (
  SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rank
  FROM counted
)
SELECT key, n, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 20
"""


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span audit (operators/dedup.py
    span_dedup_stats): per document, how many 8-token grams also occur
    earlier in the corpus and how many tokens sit inside the union of
    those duplicated spans — the text an ExactSubstr pass would cut.
    First-occurrence-wins global ordering; interval union computed by
    per-document gaps-and-islands, never a corpus-wide window."""
    from ..operators.dedup import span_dedup_stats

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return span_dedup_stats(docs, "doc_id", "text", width=8)


ORACLE_DEDUP_SPANS = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents WHERE doc_id < 300
), g AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(w[(i + 1):(i + 8)], ' ') AS gram
  FROM t, LATERAL unnest(generate_series(0, len(w) - 8)) AS u(i)
  WHERE len(w) >= 8
), win AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM g
), dup AS (
  SELECT doc_id, pos FROM win WHERE rn > 1
), cov AS (
  SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS n_covered
  FROM dup, LATERAL unnest(generate_series(pos, pos + 7)) AS v(p)
  GROUP BY doc_id
), occ AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_occ FROM dup GROUP BY doc_id
), base AS (
  SELECT doc_id, CAST(len(w) AS INT) AS n_tokens FROM t
)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(o.n_dup_occ, 0) AS BIGINT) AS n_dup_occ,
       CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered
FROM base b LEFT JOIN occ o USING (doc_id) LEFT JOIN cov c USING (doc_id)
"""


def q_approx_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries gated by exact counts
    (operators/sketches.py countmin_sketch/countmin_query, Cormode &
    Muthukrishnan 2005): sketch the token stream into a depth=4 ×
    width=2048 counter grid — a METADATA-sized aggregate no matter the
    vocabulary — then probe the top-20 tokens (candidates via the
    Misra-Gries heavy-hitters path) and check both CMS guarantees:
    estimate ≥ truth (always), and estimate ≤ truth + (e/width)·N
    (holds per key w.p. 1-e^-depth; the hash is deterministic, so the
    gate outcome is fixed per dataset, verified at sf0.01 and sf0.1).
    The oracle is the exact aggregation expecting every flag true."""
    import math

    from ..operators.dedup import tokenize
    from ..operators.sketches import countmin_query, countmin_sketch, heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
    words = _scoped_persist(words, "pipeline_extra.cms_words")
    sketch = countmin_sketch(words, "word", depth=4, width=2048)
    top = heavy_hitters(words, "word", k=20, capacity=400)
    # carry the exact count THROUGH the probe instead of re-joining top
    # afterwards: the previous `top.join(est, "key")` consumed top twice
    # (probe keys + exact side), so the whole Misra-Gries MapInPandas
    # pass over the token cache ran once per consumer. The carried
    # column is grouped with its key — a pure attach, value-identical
    # to the join it replaces (est's keys ARE top's keys).
    est = countmin_query(
        sketch, top, "key", depth=4, width=2048, carry_cols=("n",)
    )
    n_total = words.count()
    eps_n = int(math.ceil((math.e / 2048) * n_total))
    joined = est
    # NO eager unpersist here: the returned frame is lazy, so dropping
    # the cache at construction time would make every consumer (sketch,
    # heavy hitters, estimate join) re-derive the tokenized corpus at
    # execution — 5 corpus scans instead of 1 (caught by
    # scripts/replan_audit.py). scoped_persist bounds the cache to one
    # live copy per scope; the next invocation evicts this one.
    return joined.select(
        F.col("key").alias("word"),
        F.col("n").alias("n_exact"),
        (F.col("cms_estimate") >= F.col("n")).cast("int").alias("cms_ge_exact"),
        (F.col("cms_estimate") <= F.col("n") + F.lit(eps_n))
        .cast("int")
        .alias("cms_within_eps"),
    )


ORACLE_CMS = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
  FROM documents
), counted AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_exact FROM toks GROUP BY word
), ranked AS (
  SELECT word, n_exact,
         row_number() OVER (ORDER BY n_exact DESC, word ASC) AS rank
  FROM counted
)
SELECT word, n_exact, 1 AS cms_ge_exact, 1 AS cms_within_eps
FROM ranked WHERE rank <= 20
"""


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonical normalization (operators/dedup.py
    normalized_dedup_keepers): lowercase / punctuation-strip /
    whitespace-collapse, then one sha256 groupBy keeping min doc_id —
    catches trivially reformatted copies with the same map-side-combined
    single-shuffle shape (and 32-byte shuffle key) as raw exact dedup;
    the normalizer is free map-side work. n_distinct_raw marks groups
    only normalization could merge."""
    docs = load_table(spark, sf_dir, "documents")
    return D.normalized_dedup_keepers(docs, "doc_id", "text")


ORACLE_DEDUP_NORMALIZED = """
WITH normed AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
  FROM documents
)
SELECT min(doc_id) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_raw
FROM normed GROUP BY norm
"""


def q_sample_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile curriculum binning (operators/sampling.py
    quantile_bins): documents assigned to length deciles WITHOUT a
    global sort — exact percentile thresholds as a one-row broadcast
    aggregate, bin = #(thresholds < score) via a higher-order array
    filter. ntile() would single-partition-sort the corpus; this is an
    aggregate plus a narrow map. Emits per-bin doc counts and length
    stats — the schedule table a curriculum sampler consumes."""
    docs = load_table(spark, sf_dir, "documents")
    binned = S.quantile_bins(docs, "n_chars", n_bins=10)
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("bin")
    )


ORACLE_CURRICULUM = """
WITH thr AS (
  SELECT quantile_cont(n_chars,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
  FROM documents
),
binned AS (
  SELECT d.n_chars,
         CAST(len(list_filter(thr.t, x -> CAST(d.n_chars AS DOUBLE) > x))
              AS INT) AS bin
  FROM documents d CROSS JOIN thr
)
SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       round(avg(n_chars), 2) AS avg_chars
FROM binned GROUP BY bin ORDER BY bin
"""


def q_reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-then-melt round trip: per-day event counts pivoted wide
    (one column per event type — the dashboard export shape), then
    unpivoted back to long with stack(). Pivot is one shuffle on the
    day key with a fixed column list (never pivot on an unbounded
    domain at scale); stack is a zero-shuffle narrow map. Zero cells
    surface explicitly as n_events=0 — the melt emits the full
    day × type grid."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    stack_args = ", ".join(f"'{t}', `{t}`" for t in types)
    return wide.selectExpr(
        "day", f"stack({len(types)}, {stack_args}) AS (event_type, n_raw)"
    ).select(
        "day",
        "event_type",
        F.coalesce(F.col("n_raw"), F.lit(0)).cast("long").alias("n_events"),
    )


ORACLE_UNPIVOT = """
WITH days AS (SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day FROM events),
types AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type),
counts AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT d.day, t.event_type, coalesce(c.n, 0) AS n_events
FROM days d CROSS JOIN types t
LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
"""



def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs with prefix blocking
    (operators/dedup.py edit_distance_pairs): candidates share the
    first 16 normalized chars (hot blocks capped at 50 docs — the LSH
    hot-bucket cap pattern), then JVM-side levenshtein confirms
    distance <= 5 after a length-delta lower-bound prefilter. The
    record-linkage classic: O(n²) confined to within-block pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return D.edit_distance_pairs(
        docs, "doc_id", "text", max_distance=5, block_prefix=16,
        max_block_size=50,
    )


ORACLE_EDIT_DISTANCE = """
WITH normed AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
  FROM documents
),
blocked AS (
  SELECT doc_id, norm, substring(norm, 1, 16) AS block FROM normed
),
kept AS (
  SELECT b.* FROM blocked b
  JOIN (SELECT block FROM blocked GROUP BY block HAVING count(*) <= 50)
       ok USING (block)
)
SELECT a.doc_id AS doc, b.doc_id AS other,
       CAST(levenshtein(a.norm, b.norm) AS INT) AS distance
FROM kept a JOIN kept b
  ON a.block = b.block AND a.doc_id < b.doc_id
 AND abs(length(a.norm) - length(b.norm)) <= 5
WHERE levenshtein(a.norm, b.norm) <= 5
"""


def q_sample_estimate_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-based table statistics with an error gate: a 20%
    deterministic hash sample (xxhash64 bucket — reproducible, no
    rand()) estimates row count and value sum at 1/5 the scan work;
    both estimates are gated within 6% of the exact figures. The
    at-scale use: profile a 100 TB table from one-fifth of it, with
    the gate making the error observable. The oracle checks the exact
    figures and expects every gate flag true (hashing is
    deterministic, so the outcome is fixed per dataset — verified at
    sf0.01 and sf0.1)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.pmod(F.xxhash64(F.col("event_id")), F.lit(100))
    sample = ev.filter(bucket < 20)
    est = sample.agg(
        (F.count(F.lit(1)) * 5).alias("est_rows"),
        (F.sum("value") * 5).alias("est_sum"),
    )
    exact = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("sum_value"),
    )
    both = est.crossJoin(exact)
    return both.select(
        F.col("n_rows"),
        F.round("sum_value", 2).alias("sum_value"),
        (
            (F.abs(F.col("est_rows") - F.col("n_rows")) / F.col("n_rows")) <= 0.06
        ).cast("int").alias("rows_gate"),
        (
            (F.abs(F.col("est_sum") - F.col("sum_value")) / F.col("sum_value")) <= 0.06
        ).cast("int").alias("sum_gate"),
    )


ORACLE_SAMPLE_ESTIMATE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
       1 AS rows_gate, 1 AS sum_gate
FROM events
"""


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {spark, query, join}
    (operators/text.py bm25_topk): per-doc tf in-row via higher-order
    array filters (nothing exploded — one narrow corpus pass), N /
    avgdl / per-term document frequencies in ONE metadata-sized
    aggregate row broadcast back, top-k via per-partition heaps. The
    oracle replays the exact Okapi formula in SQL."""
    from ..operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "query", "join"], k=10)


ORACLE_BM25 = r"""
WITH d AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS words,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl
  FROM documents
),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
terms AS (SELECT unnest(['spark', 'query', 'join']) AS term),
tf AS (
  SELECT d.doc_id, d.dl, t.term,
         len(list_filter(d.words, x -> x = t.term)) AS tf
  FROM d CROSS JOIN terms t
),
dfreq AS (
  SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS dfc
  FROM tf GROUP BY 1
),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - dfreq.dfc + 0.5) / (dfreq.dfc + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY 1
)
SELECT doc_id, round(score, 6) AS bm25
FROM scored WHERE score > 0
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


def q_text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition removal (operators/text.py
    repetition_signals): per-doc top-word character fraction plus
    duplicated bigram/trigram slot fractions, and the keep verdict.
    All per-row higher-order array expressions — zero shuffles, zero
    UDFs; the defining quality filter the Gopher/MassiveText cleaning
    stack runs before any dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.repetition_signals(docs, "doc_id", "text")


ORACLE_REPETITION = r"""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
),
words AS (SELECT doc_id, unnest(ws) AS w FROM arr),
wc AS (
  SELECT doc_id, w, count(*) AS c, count(*) * length(w) AS chars
  FROM words GROUP BY doc_id, w
),
tot AS (
  SELECT doc_id, CAST(sum(c) AS INT) AS n_words,
         sum(chars) AS total_chars, max(c) AS max_c
  FROM wc GROUP BY doc_id
),
top AS (
  SELECT wc.doc_id, max(wc.chars) AS top_chars
  FROM wc JOIN tot ON wc.doc_id = tot.doc_id AND wc.c = tot.max_c
  GROUP BY wc.doc_id
),
g2 AS (
  SELECT doc_id, count(*) AS n_g,
         count(DISTINCT ws[i] || ' ' || ws[i+1]) AS n_d
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i
        FROM arr)
  GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, count(*) AS n_g,
         count(DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS n_d
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
        FROM arr)
  GROUP BY doc_id
),
sig AS (
  -- LEFT joins: a doc shorter than the shingle width has no g2/g3 row
  -- (empty generate_series) but the operator still emits it with a 0.0
  -- duplicated fraction — coalesce reproduces that.
  SELECT t.doc_id, t.n_words,
         round(top.top_chars / CAST(t.total_chars AS DOUBLE), 6)
           AS top_word_char_frac,
         coalesce(round(1.0 - g2.n_d / CAST(g2.n_g AS DOUBLE), 6), 0.0)
           AS dup_bigram_frac,
         coalesce(round(1.0 - g3.n_d / CAST(g3.n_g AS DOUBLE), 6), 0.0)
           AS dup_trigram_frac
  FROM tot t
  JOIN top USING (doc_id)
  LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)
)
SELECT doc_id, n_words, top_word_char_frac, dup_bigram_frac,
       dup_trigram_frac,
       CASE WHEN top_word_char_frac <= 0.2 AND dup_bigram_frac <= 0.35
                 AND dup_trigram_frac <= 0.2
            THEN 1 ELSE 0 END AS repetition_keep
FROM sig
"""


def q_text_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (operators/text.py normalize_unicode):
    NFC + control-char strip + whitespace collapse via an Arrow-batched
    mapInPandas kernel (Spark has no built-in NFC — the documented
    Python-unavoidable path). The synthetic corpus is ASCII, so the
    oracle's nfc_normalize twin agrees exactly; non-ASCII behavior
    (NFD composition, NBSP folding) is pinned by pytest, where Python's
    Unicode-aware \\s additionally folds non-ASCII spaces the RE2
    oracle cannot."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.normalize_unicode(docs, "doc_id", "text")


ORACLE_NORMALIZE_UNICODE = r"""
WITH normed AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(nfc_normalize(text),
             '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]', ' ', 'g'),
           '\s+', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       CASE WHEN norm_text <> text THEN 1 ELSE 0 END AS changed
FROM normed
"""


def q_sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (operators/sampling.py domain_cap): at
    most 30 docs per source, ranked by md5(doc_id) — the RefinedWeb
    anti-SEO-farm curation step. One hash-partition shuffle on the
    domain key; deterministic with zero RNG state."""
    docs = load_table(spark, sf_dir, "documents")
    return S.domain_cap(docs, "source", "doc_id", 30).select(
        "doc_id", "source", "domain_rank"
    )


ORACLE_DOMAIN_CAP = """
SELECT doc_id, source, domain_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS domain_rank
  FROM documents)
WHERE domain_rank <= 30
"""


def q_sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate-aware split (operators/sampling.py
    leakage_safe_split): split membership keyed on the normalized-
    content CLUSTER id (min doc_id per normalized sha), so duplicate
    copies can never straddle train/test — the eval-contamination
    guard hash-splitting on raw ids lacks. Audit output: per split,
    docs and distinct clusters."""
    docs = load_table(spark, sf_dir, "documents")
    split = S.leakage_safe_split(
        docs, "doc_id", "text", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .orderBy("split")
    )


ORACLE_LEAKAGE_SPLIT = f"""
WITH normed AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
  FROM documents
),
clustered AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY norm) AS cluster_id
  FROM normed
),
tagged AS (
  SELECT doc_id, cluster_id,
         CASE WHEN {_BUCKET_SQL.format(key='cluster_id', salt=0)} < 1000 THEN 'test'
              WHEN {_BUCKET_SQL.format(key='cluster_id', salt=0)} < 9000 THEN 'train'
              ELSE 'val' END AS split
  FROM clustered
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
FROM tagged GROUP BY split ORDER BY split
"""


def q_pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length bucketing with padding accounting
    (operators/packing.py length_buckets + bucket_padding_stats): the
    serving/batching layout decision — pad to the bucket, not the
    global max — with the waste fraction each strategy pays. Bucket
    assignment is exact integer bit arithmetic (no float log2), so the
    oracle matches bit-for-bit. One narrow map + one metadata-sized
    aggregation."""
    from ..operators import packing as PK

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select("doc_id", TX.token_count(F.col("text")).alias("n_tok"))
    buckets = PK.length_buckets(lens, "doc_id", "n_tok")
    return PK.bucket_padding_stats(buckets).orderBy("bucket")


ORACLE_LENGTH_BUCKETS = r"""
WITH lens AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
  FROM documents
),
bucketed AS (
  SELECT doc_id, n,
         least(CASE WHEN n > 0 AND (n & (n - 1)) = 0 THEN n
                    ELSE (CAST(1 AS BIGINT) << length(bin(n))) END,
               4096) AS bucket
  FROM lens
),
per AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS real_tokens
  FROM bucketed GROUP BY bucket
),
gmax AS (SELECT max(bucket) AS g FROM per)
SELECT bucket, n_docs, real_tokens,
       n_docs * bucket AS padded_tokens,
       round(1.0 - real_tokens / CAST(n_docs * bucket AS DOUBLE), 6)
         AS waste_frac,
       round(1.0 - real_tokens / CAST(n_docs * gmax.g AS DOUBLE), 6)
         AS waste_frac_unbucketed
FROM per CROSS JOIN gmax
ORDER BY bucket
"""


def q_classify_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multinomial Naive Bayes (operators/classify.py):
    train on (text → lang) and self-score in ONE DataFrame plan — the
    sufficient statistics are a single (word,label) aggregation, the
    smoothing is algebraically rearranged so unseen pairs contribute
    zero and the dense vocab×label model becomes a sparse join. Output
    is the confusion matrix — the audit table of the curation-pipeline
    quality-classifier step."""
    from ..operators import classify as CL

    docs = load_table(spark, sf_dir, "documents")
    return CL.naive_bayes_confusion(docs, "doc_id", "text", "lang")


ORACLE_NAIVE_BAYES = r"""
WITH tfc AS (
  SELECT doc_id, true_label, word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, lang AS true_label,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        FROM documents)
  GROUP BY doc_id, true_label, word
),
wc AS (
  SELECT word, true_label AS label, sum(tf) AS c
  FROM tfc GROUP BY word, true_label
),
consts AS (
  SELECT l.label, l.total_tokens, d.n_docs_l, v.v, n.n
  FROM (SELECT label, sum(c) AS total_tokens FROM wc GROUP BY label) l
  JOIN (SELECT true_label, count(DISTINCT doc_id) AS n_docs_l
        FROM tfc GROUP BY true_label) d ON l.label = d.true_label
  CROSS JOIN (SELECT count(DISTINCT word) AS v FROM wc) v
  CROSS JOIN (SELECT count(DISTINCT doc_id) AS n FROM tfc) n
),
docs AS (
  SELECT doc_id, true_label, sum(tf) AS n_tok
  FROM tfc GROUP BY doc_id, true_label
),
contrib AS (
  SELECT t.doc_id, w.label, sum(t.tf * ln(w.c + 1)) AS s
  FROM tfc t JOIN wc w ON t.word = w.word
  GROUP BY t.doc_id, w.label
),
scored AS (
  SELECT g.doc_id, g.true_label, g.label,
         round(ln(g.n_docs_l / CAST(g.n AS DOUBLE))
               - g.n_tok * ln(g.total_tokens + g.v)
               + coalesce(c.s, 0.0), 6) AS score
  FROM (SELECT d.*, k.* FROM docs d CROSS JOIN consts k) g
  LEFT JOIN contrib c ON g.doc_id = c.doc_id AND g.label = c.label
),
pred AS (
  SELECT doc_id, true_label, label AS pred_label, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label ASC) AS rn
  FROM scored
)
SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(score), 4) AS avg_score
FROM pred WHERE rn = 1
GROUP BY true_label, pred_label
"""


def q_profile_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATA CARD: the one-table summary a dataset release
    ships (docs, token mass and distribution, exact-dup rate,
    repetition-filter keep rate, source mix) assembled in two passes —
    one wide conditional aggregation over per-row narrow signals
    (token counts, normalized sha, repetition verdict all computed
    map-side in the same scan) plus one source-keyed rollup. Long
    (metric, value) output so the report is schema-stable as metrics
    are added."""
    from ..operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus scan for the whole per-doc signal row (was three:
    # repetition_signals' scan + the docs side of the join-back + the
    # source-mix rollup — replan_audit: documents x3, guide §2.4): the
    # token count, normalized sha and source ride through the
    # repetition kernel as carry columns (every signal is a per-row
    # expression over the same scan), and the source mix below rolls up
    # from this frame instead of re-scanning the corpus. Persisted:
    # two consumers (the wide aggregate and the mix rollup) would
    # otherwise each re-run the O(len^2-ish) n-gram distinct work; the
    # cache is one narrow row per document (no text column).
    enriched = docs.select(
        "doc_id",
        "text",
        "source",
        TX.token_count(F.col("text")).alias("n_tok"),
        F.sha2(normalize_text(F.col("text")), 256).alias("norm_sha"),
    )
    per_doc = _scoped_persist(
        TX.repetition_signals(
            enriched, "doc_id", "text",
            carry_cols=["source", "n_tok", "norm_sha"],
        ).select("doc_id", "source", "n_tok", "norm_sha", "repetition_keep"),
        "pipeline_extra.corpus_report_per_doc",
    )
    wide = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n_tok").cast("double").alias("total_tokens"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 4).alias("p50_tokens"),
        F.round(
            F.lit(1.0) - F.countDistinct("norm_sha") / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
        F.round(F.avg("repetition_keep"), 6).alias("repetition_keep_rate"),
    )
    main = wide.selectExpr(
        "stack(6, 'n_docs', n_docs, 'total_tokens', total_tokens,"
        " 'avg_tokens', avg_tokens, 'p50_tokens', p50_tokens,"
        " 'dup_rate', dup_rate, 'repetition_keep_rate',"
        " repetition_keep_rate) as (metric, value)"
    )
    # source shares via a partitionless window over the source-count
    # rollup (bounded: one row per source) — the previous docs.count()
    # was an EAGER extra corpus pass at query-construction time, paid
    # even before the report executed (replan_audit). Rolls up from the
    # persisted per-doc frame (one row per doc), not a fresh corpus scan.
    from pyspark.sql import Window as W

    mix = (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(F.lit("frac_"), F.col("source")).alias("metric"),
            F.round(
                F.col("cnt") / F.sum("cnt").over(W.partitionBy()), 6
            ).alias("value"),
        )
    )
    return main.unionByName(mix).orderBy("metric")


ORACLE_CORPUS_REPORT = r"""
WITH per AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm,
         CASE WHEN rs.top_word_char_frac <= 0.2
                   AND rs.dup_bigram_frac <= 0.35
                   AND rs.dup_trigram_frac <= 0.2
              THEN 1 ELSE 0 END AS rep_keep
  FROM documents
  JOIN (
    WITH arr AS (
      SELECT doc_id AS d, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
      FROM documents
    ),
    wc AS (
      SELECT d, w, count(*) AS c, count(*) * length(w) AS chars
      FROM (SELECT d, unnest(ws) AS w FROM arr) GROUP BY d, w
    ),
    tot AS (
      SELECT d, sum(chars) AS total_chars, max(c) AS max_c FROM wc GROUP BY d
    ),
    top AS (
      SELECT wc.d, max(wc.chars) AS top_chars
      FROM wc JOIN tot ON wc.d = tot.d AND wc.c = tot.max_c GROUP BY wc.d
    ),
    g2 AS (
      SELECT d, count(*) AS n_g, count(DISTINCT ws[i] || ' ' || ws[i+1]) AS n_d
      FROM (SELECT d, ws, unnest(generate_series(1, greatest(len(ws)-1, 0))) AS i
            FROM arr) GROUP BY d
    ),
    g3 AS (
      SELECT d, count(*) AS n_g,
             count(DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS n_d
      FROM (SELECT d, ws, unnest(generate_series(1, greatest(len(ws)-2, 0))) AS i
            FROM arr) GROUP BY d
    )
    SELECT t.d,
           round(top.top_chars / CAST(t.total_chars AS DOUBLE), 6)
             AS top_word_char_frac,
           coalesce(round(1.0 - g2.n_d / CAST(g2.n_g AS DOUBLE), 6), 0.0)
             AS dup_bigram_frac,
           coalesce(round(1.0 - g3.n_d / CAST(g3.n_g AS DOUBLE), 6), 0.0)
             AS dup_trigram_frac
    FROM tot t JOIN top USING (d)
    LEFT JOIN g2 USING (d) LEFT JOIN g3 USING (d)
  ) rs ON rs.d = doc_id
),
main AS (
  SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM per
  UNION ALL
  SELECT 'total_tokens', CAST(sum(n_tok) AS DOUBLE) FROM per
  UNION ALL
  SELECT 'avg_tokens', round(avg(n_tok), 4) FROM per
  UNION ALL
  SELECT 'p50_tokens', round(quantile_cont(n_tok, 0.5), 4) FROM per
  UNION ALL
  SELECT 'dup_rate',
         round(1.0 - count(DISTINCT norm) / CAST(count(*) AS DOUBLE), 6)
    FROM per
  UNION ALL
  SELECT 'repetition_keep_rate', round(avg(rep_keep), 6) FROM per
),
mix AS (
  SELECT concat('frac_', source) AS metric,
         round(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE), 6)
           AS value
  FROM documents GROUP BY source
)
SELECT metric, value FROM main
UNION ALL SELECT metric, value FROM mix
ORDER BY metric
"""


def q_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-aware canonical selection (operators/dedup.py
    dedup_keep_longest): per normalized-duplicate group keep the
    LONGEST copy (ties → smallest id) — scrapes carry cut-off copies,
    and min-id keeps whichever arrived first while this keeps the most
    complete one. Argmax rides the single groupBy as a (len,-id)
    struct max — no window, no second pass."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_keep_longest(docs, "doc_id", "text")


ORACLE_KEEP_LONGEST = """
WITH normed AS (
  SELECT doc_id, length(text) AS len,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
  FROM documents
),
ranked AS (
  SELECT doc_id, len, norm,
         row_number() OVER (PARTITION BY norm
                            ORDER BY len DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY norm) AS n_copies
  FROM normed
)
SELECT doc_id AS keeper_id, CAST(len AS INT) AS keeper_len,
       CAST(n_copies AS BIGINT) AS n_copies
FROM ranked WHERE rn = 1
"""


def q_pack_batch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concrete serving schedule (operators/packing.py batch_schedule):
    length-bucketed docs md5-ordered within their bucket and chopped
    into 32-doc batches — the (bucket, batch, slot) coordinates an
    inference server consumes. One bucket-keyed window; summarized to
    per-(bucket, batch) rows so the output stays metadata-sized."""
    from ..operators import packing as PK

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select("doc_id", TX.token_count(F.col("text")).alias("n_tok"))
    sched = PK.batch_schedule(
        PK.length_buckets(lens, "doc_id", "n_tok"), "doc_id", batch_size=32
    )
    return (
        sched.groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("seq_len").alias("real_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("bucket", "batch_id")
    )


ORACLE_BATCH_SCHEDULE = r"""
WITH lens AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
  FROM documents
),
bucketed AS (
  SELECT doc_id, n,
         least(CASE WHEN n > 0 AND (n & (n - 1)) = 0 THEN n
                    ELSE (CAST(1 AS BIGINT) << length(bin(n))) END,
               4096) AS bucket
  FROM lens
),
ranked AS (
  SELECT doc_id, n, bucket,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS rk
  FROM bucketed
)
SELECT bucket, CAST((rk - 1) // 32 AS BIGINT) AS batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS real_tokens,
       min(doc_id) AS min_doc_id
FROM ranked GROUP BY bucket, batch_id
ORDER BY bucket, batch_id
"""


def q_sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class balancing (operators/sampling.py
    class_balance): every lang downsampled to the smallest lang's
    count by md5 rank — the skew-proof classifier-training prep.
    Output: per-lang kept counts (all equal to the floor) plus kept
    doc-id checksum so membership, not just cardinality, is pinned."""
    docs = load_table(spark, sf_dir, "documents")
    kept = S.class_balance(docs, "lang", "doc_id")
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


ORACLE_CLASS_BALANCE = """
WITH counts AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
),
floor_n AS (SELECT min(n) AS f FROM counts),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS rk
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM ranked, floor_n WHERE rk <= f
GROUP BY lang ORDER BY lang
"""


def q_sample_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI for the mean document length
    (operators/sampling.py bootstrap_mean_ci): 30 resampling replicates
    ride ONE corpus scan as conditional aggregate columns (never an
    explode — the row-replication bootstrap multiplies the corpus by
    R), with zero RNG state: replicate weights are a pure md5 function
    of (doc_id, r), so any engine reproduces the identical CI."""
    docs = load_table(spark, sf_dir, "documents")
    return S.bootstrap_mean_ci(docs, "doc_id", "n_chars", n_replicates=30)


def _bootstrap_oracle(n_replicates: int = 30) -> str:
    from ..operators.sampling import _POISSON1_CUM

    def w_sql(r: int) -> str:
        u = (
            f"(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_{r}'), 1, 7))"
            "::BIGINT / 268435456.0)"
        )
        case = "CASE "
        for k, c in enumerate(_POISSON1_CUM):
            case += f"WHEN {u} < {c!r} THEN {k} "
        return case + "ELSE 8 END"

    sums = ",\n".join(
        f"    sum(({w_sql(r)}) * n_chars) AS wx{r},"
        f" sum({w_sql(r)}) AS w{r}"
        for r in range(n_replicates)
    )
    means = ", ".join(
        f"wx{r} / CAST(w{r} AS DOUBLE)" for r in range(n_replicates)
    )
    return f"""
WITH wide AS (
  SELECT count(*) AS n, sum(n_chars) AS sx,
{sums}
  FROM documents
),
m AS (
  SELECT n, sx, [{means}] AS means FROM wide
),
s AS (
  SELECT sx / CAST(n AS DOUBLE) AS obs,
         list_avg(means) AS mu,
         sqrt(list_sum(list_transform(means,
              v -> (v - list_avg(means)) * (v - list_avg(means))))
              / {n_replicates - 1}) AS se
  FROM m
)
SELECT 'boot_se' AS metric, round(se, 6) AS value FROM s
UNION ALL SELECT 'ci_hi', round(obs + 1.96 * se, 6) FROM s
UNION ALL SELECT 'ci_lo', round(obs - 1.96 * se, 6) FROM s
UNION ALL SELECT 'n_replicates', {float(n_replicates)} FROM s
UNION ALL SELECT 'observed_mean', round(obs, 6) FROM s
"""


ORACLE_BOOTSTRAP = _bootstrap_oracle(30)


def q_text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram perplexity proxy (operators/text.py bigram_nll): add-one
    conditional NLL per document — catches word salad whose individual
    words are common. Sparse-join rearrangement, broadcast-gated model
    joins, one doc-keyed mean."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.bigram_nll(docs, "doc_id", "text")


ORACLE_BIGRAM_NLL = r"""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, ws[i] AS w, ws[i] || ' ' || ws[i+1] AS bg
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i
        FROM arr)
),
pair AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM grams GROUP BY bg),
ctx AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest(ws) AS w FROM arr) GROUP BY w
),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ctx)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(ctx.c1 + v.v) - ln(pair.c12 + 1)), 3)
         AS mean_bigram_nll
FROM grams g
JOIN pair USING (bg) JOIN ctx ON g.w = ctx.w CROSS JOIN v
GROUP BY g.doc_id
"""


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability proxy (operators/text.py readability):
    vowel-group syllable estimate + words-per-sentence, classic Flesch
    weights — pure regexp arithmetic, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.readability(docs, "doc_id", "text")


ORACLE_READABILITY = r"""
WITH f AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
           AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS DOUBLE) AS n_sent,
         CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
              AS DOUBLE) AS n_syll
  FROM documents
)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       CAST(n_syll AS INT) AS n_syllable_groups,
       round(206.835 - 1.015 * (n_words / n_sent)
             - 84.6 * (n_syll / n_words), 4) AS flesch_score
FROM f
"""


_RBO_TERMS = ["spark", "table", "join"]
_RBO_P = 0.9
_RBO_K = 10


def q_text_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al.) between two retrieval
    rankings for one query — the IR-eval measure of "how much do these
    rankers agree, weighted toward the top": here raw term-frequency
    vs df-discounted (tf/df) rankings over the same terms, the
    comparison that quantifies what idf weighting actually changes.
    Both rankers are in-row array arithmetic (the BM25 no-explode
    shape), each ranking collapses to ONE ordered-array row, and the
    truncated RBO folds over depth 1..k with p^(d-1) weights in a
    higher-order expression — nothing bigger than the corpus scan plus
    two 1-row frames."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import tokenize

    words = tokenize(F.col("text"))
    tf_cols = [
        F.size(F.filter(words, lambda x: x == F.lit(t))).alias(f"tf{i}")
        for i, t in enumerate(_RBO_TERMS)
    ]
    per_doc = docs.select(F.col("doc_id"), *tf_cols)
    dfreq = per_doc.agg(
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_RBO_TERMS))
        ]
    )
    scored = per_doc.crossJoin(F.broadcast(dfreq)).select(
        "doc_id",
        sum(F.col(f"tf{i}") for i in range(len(_RBO_TERMS))).alias("s_tf"),
        sum(
            F.col(f"tf{i}") / F.col(f"df{i}").cast("double")
            for i in range(len(_RBO_TERMS))
        ).alias("s_tfdf"),
    )

    def rank_expr(col):
        return F.slice(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct((-F.col(col)).alias("ns"), F.col("doc_id").alias("d"))
                    )
                ),
                lambda x: x["d"],
            ),
            1,
            _RBO_K,
        ).alias(col + "_list")

    # both rankings in ONE aggregation: as separate per-ranker aggs the
    # crossJoin re-derived the whole per_doc+dfreq lineage per side —
    # 4 corpus scans instead of this shape's 2 (replan_audit)
    both = scored.agg(rank_expr("s_tf"), rank_expr("s_tfdf"))
    rbo = F.aggregate(
        F.sequence(F.lit(1), F.lit(_RBO_K)),
        F.lit(0.0),
        lambda acc, d: acc
        + F.pow(F.lit(_RBO_P), d - 1)
        * F.size(
            F.array_intersect(
                F.slice(F.col("s_tf_list"), 1, d),
                F.slice(F.col("s_tfdf_list"), 1, d),
            )
        )
        / d.cast("double"),
    ) * F.lit(1 - _RBO_P)
    return both.select(
        F.lit(_RBO_K).alias("depth"),
        F.size(
            F.array_intersect(F.col("s_tf_list"), F.col("s_tfdf_list"))
        ).alias("topk_overlap"),
        F.round(rbo, 6).alias("rbo"),
    )


ORACLE_RBO = r"""
WITH tf AS (
  SELECT doc_id,
         len(list_filter(ws, x -> x = 'spark')) AS tf0,
         len(list_filter(ws, x -> x = 'table')) AS tf1,
         len(list_filter(ws, x -> x = 'join')) AS tf2
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        FROM documents)
),
dfreq AS (
  SELECT sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM tf
),
scored AS (
  SELECT doc_id, tf0 + tf1 + tf2 AS s_tf,
         tf0 / CAST(df0 AS DOUBLE) + tf1 / CAST(df1 AS DOUBLE)
           + tf2 / CAST(df2 AS DOUBLE) AS s_tfdf
  FROM tf CROSS JOIN dfreq
),
la AS (
  SELECT list_slice(list(doc_id ORDER BY s_tf DESC, doc_id ASC), 1, 10) AS a
  FROM scored
),
lb AS (
  SELECT list_slice(list(doc_id ORDER BY s_tfdf DESC, doc_id ASC), 1, 10) AS b
  FROM scored
),
depths AS (SELECT unnest(generate_series(1, 10)) AS d)
SELECT 10 AS depth,
       (SELECT len(list_intersect(a, b)) FROM la, lb) AS topk_overlap,
       round(0.1 * sum(pow(0.9, d - 1)
             * (SELECT len(list_intersect(list_slice(a, 1, d),
                                          list_slice(b, 1, d)))
                FROM la, lb) / d), 6) AS rbo
FROM depths
"""


PIPELINE_QUERIES: dict[str, callable] = {
    "corpus_curation_pipeline": q_corpus_curation_pipeline,
    "corpus_release_manifest": q_corpus_release_manifest,
    "text_rank_rbo": q_text_rank_rbo,
    "text_bigram_nll": q_text_bigram_nll,
    "text_readability": q_text_readability,
    "profile_corpus_report": q_profile_corpus_report,
    "dedup_keep_longest": q_dedup_keep_longest,
    "pack_batch_schedule": q_pack_batch_schedule,
    "sample_class_balance": q_sample_class_balance,
    "sample_bootstrap_ci": q_sample_bootstrap_ci,
    "emb_random_projection": q_emb_random_projection,
    "ann_jl_rerank": q_ann_jl_rerank,
    "text_heavy_hitters": q_text_heavy_hitters,
    "dedup_spans": q_dedup_spans,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_bucketed": q_dedup_incremental_bucketed,
    "dedup_end_to_end": q_dedup_end_to_end,
    "text_unigram_nll": q_text_unigram_nll,
    "text_vocab_topk": q_text_vocab_topk,
    "text_tfidf_terms": q_text_tfidf_terms,
    "text_bpe_merges": q_text_bpe_merges,
    "text_bpe_encode": q_text_bpe_encode,
    "pack_first_fit": q_pack_first_fit,
    "text_bpe_coverage": q_text_bpe_coverage,
    "multimodal_audio_frames": q_multimodal_audio_frames,
    "scan_csv_badrecords": q_scan_csv_badrecords,
    "sample_hash_split": q_sample_hash_split,
    "sample_stratified": q_sample_stratified,
    "sample_weighted_mix": q_sample_weighted_mix,
    "text_chunk_windows": q_text_chunk_windows,
    "text_pii_scrub": q_text_pii_scrub,
    "dedup_connected_components": q_dedup_connected_components,
    "udtf_token_windows": q_udtf_token_windows,
    "pack_sequences": q_pack_sequences,
    "pack_efficiency": q_pack_efficiency,
    "ann_multiprobe_oracle": q_ann_multiprobe_oracle,
    "text_gopher_rules": q_text_gopher_rules,
    "text_contamination": q_text_contamination,
    "text_contamination_bloom": q_text_contamination_bloom,
    "sample_epoch_shuffle": q_sample_epoch_shuffle,
    "emb_quantize_int8": q_emb_quantize_int8,
    "ann_int8_topk": q_ann_int8_topk,
    "ann_int8_rescore": q_ann_int8_rescore,
    "text_c4_lines": q_text_c4_lines,
    "dedup_lines": q_dedup_lines,
    "sample_temperature_mix": q_sample_temperature_mix,
    "approx_cms_counts": q_approx_cms_counts,
    "dedup_normalized": q_dedup_normalized,
    "sample_curriculum": q_sample_curriculum,
    "reshape_unpivot": q_reshape_unpivot,
    "dedup_edit_distance": q_dedup_edit_distance,
    "sample_estimate_count": q_sample_estimate_count,
    "text_bm25_topk": q_text_bm25_topk,
    "text_repetition_filter": q_text_repetition_filter,
    "text_normalize_unicode": q_text_normalize_unicode,
    "sample_domain_cap": q_sample_domain_cap,
    "sample_split_leakage_safe": q_sample_split_leakage_safe,
    "pack_length_buckets": q_pack_length_buckets,
    "classify_naive_bayes": q_classify_naive_bayes,
}

# Stream/batch equivalence oracle: the streaming audit table must equal
# the batch incremental-dedup flags (same corpus/batch split, same md5
# hash family) restricted to flagged rows — derived from
# ORACLE_DEDUP_INCREMENTAL so the two can never drift apart.
ORACLE_STREAM_INC_DEDUP = (
    ORACLE_DEDUP_INCREMENTAL.rstrip()
    + " AND f.dup_kind IS NOT NULL\nORDER BY b.doc_id"
)


PIPELINE_ORACLES: dict[str, str] = {
    "corpus_curation_pipeline": ORACLE_CURATION,
    "corpus_release_manifest": ORACLE_RELEASE_MANIFEST,
    "profile_corpus_report": ORACLE_CORPUS_REPORT,
    "dedup_keep_longest": ORACLE_KEEP_LONGEST,
    "pack_batch_schedule": ORACLE_BATCH_SCHEDULE,
    "sample_class_balance": ORACLE_CLASS_BALANCE,
    "sample_bootstrap_ci": ORACLE_BOOTSTRAP,
    "text_rank_rbo": ORACLE_RBO,
    "text_bigram_nll": ORACLE_BIGRAM_NLL,
    "text_readability": ORACLE_READABILITY,
    "emb_random_projection": ORACLE_JL_PROJECTION,
    "ann_jl_rerank": ORACLE_ANN_JL,
    "text_heavy_hitters": ORACLE_HEAVY_HITTERS,
    "dedup_spans": ORACLE_DEDUP_SPANS,
    "dedup_minhash_lsh": ORACLE_MINHASH,
    "dedup_simhash": ORACLE_SIMHASH,
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
    "dedup_incremental_bucketed": ORACLE_DEDUP_INCREMENTAL_BUCKETED,
    "ann_lsh_topk": ORACLE_ANN_LSH,
    "dedup_end_to_end": ORACLE_DEDUP_E2E,
    "text_unigram_nll": ORACLE_UNIGRAM_NLL,
    "text_vocab_topk": ORACLE_VOCAB_TOPK,
    "text_tfidf_terms": ORACLE_TFIDF_TERMS,
    "text_bpe_merges": ORACLE_BPE_MERGES,
    "text_bpe_encode": ORACLE_BPE_ENCODE,
    "pack_first_fit": ORACLE_PACK_FIRST_FIT,
    "text_bpe_coverage": ORACLE_BPE_COVERAGE,
    "stream_incremental_dedup": ORACLE_STREAM_INC_DEDUP,
    "multimodal_audio_frames": ORACLE_AUDIO_FRAMES,
    "scan_csv_badrecords": ORACLE_BADRECORDS,
    "sample_hash_split": ORACLE_SAMPLE_SPLIT,
    "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
    "sample_weighted_mix": ORACLE_SAMPLE_MIX,
    "text_chunk_windows": ORACLE_CHUNKS,
    "text_pii_scrub": ORACLE_PII,
    "dedup_connected_components": ORACLE_CC,
    "udtf_token_windows": ORACLE_UDTF_WINDOWS,
    "pack_sequences": ORACLE_PACK,
    "pack_efficiency": ORACLE_PACK_EFFICIENCY,
    "ann_multiprobe_oracle": ORACLE_ANN_MULTIPROBE,
    "text_gopher_rules": ORACLE_GOPHER,
    "text_contamination": ORACLE_CONTAMINATION,
    "text_contamination_bloom": ORACLE_CONTAMINATION,
    "sample_epoch_shuffle": ORACLE_EPOCH_SHUFFLE,
    "emb_quantize_int8": ORACLE_QUANTIZE,
    "ann_int8_topk": ORACLE_ANN_INT8,
    "ann_int8_rescore": ORACLE_ANN_INT8_RESCORE,
    "text_c4_lines": ORACLE_C4_LINES,
    "dedup_lines": ORACLE_DEDUP_LINES,
    "sample_temperature_mix": ORACLE_TEMPERATURE_MIX,
    "approx_cms_counts": ORACLE_CMS,
    "dedup_normalized": ORACLE_DEDUP_NORMALIZED,
    "sample_curriculum": ORACLE_CURRICULUM,
    "reshape_unpivot": ORACLE_UNPIVOT,
    "dedup_edit_distance": ORACLE_EDIT_DISTANCE,
    "sample_estimate_count": ORACLE_SAMPLE_ESTIMATE,
    "text_bm25_topk": ORACLE_BM25,
    "text_repetition_filter": ORACLE_REPETITION,
    "text_normalize_unicode": ORACLE_NORMALIZE_UNICODE,
    "sample_domain_cap": ORACLE_DOMAIN_CAP,
    "sample_split_leakage_safe": ORACLE_LEAKAGE_SPLIT,
    "pack_length_buckets": ORACLE_LENGTH_BUCKETS,
    "classify_naive_bayes": ORACLE_NAIVE_BAYES,
}
