"""Deduplication operators for large-scale training-data pipelines.

All operators are partition-parallel DataFrame compositions — no driver
collects, no Python row loops — so they scale to 100 TB document sets:

* exact duplicates — hash-groupBy on content (or a strong content hash so
  wide text never shuffles whole).
* MinHash + LSH — shingle → 64 universal-hash minima → banded bucket join.
  Candidate generation cost is O(sum of bucket sizes²) instead of O(N²).
* SimHash — 64-bit weighted-token fingerprint; near-dup = small Hamming
  distance, found via 4×16-bit block LSH (pigeonhole: distance ≤3 ⇒ at
  least one of 4 blocks equal).
* n-gram Jaccard — exact verification on candidate pairs (or bounded
  corpora): explode word shingles and self-join.

Design notes for scale: every self-join goes through a shuffle keyed on
the shingle/band/block value, which Spark distributes; skew (a shingle
present in millions of docs) is handled by dropping top-frequency shingles
(stop-shingles) before the join — :func:`ngram_jaccard_pairs`'
``max_shingle_df`` — standard practice in web-scale dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ._cache import scoped_persist


def tokenize(text: Column, lowercase: bool = True) -> Column:
    """Whitespace tokenization (JVM-side regexp split)."""
    t = F.lower(text) if lowercase else text
    return F.split(F.trim(t), r"\s+")


def word_shingles(words: Column, n: int = 3) -> Column:
    """n-word shingles as strings; element_at is 1-based.

    ``transform(sequence(1, size-n+1), i -> concat_ws(' ', slice(words,i,n)))``
    — pure Catalyst expressions, whole-stage codegen'd.

    Docs shorter than ``n`` words yield an EMPTY array via an explicit
    size gate: ``sequence(1, stop)`` DESCENDS when ``stop < 1`` (so the
    old ``greatest(..., 0)`` guard produced ``[1, 0]`` and ``slice``
    threw INVALID_PARAMETER_VALUE.START at runtime on any sub-n-word
    document) — the SQL-oracle twin ``generate_series(1, stop)`` is
    empty in that case, which is the semantics pinned here.
    """
    return F.when(
        F.size(words) >= F.lit(n),
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup_keepers(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    """Exact dedup: group identical content, keep the smallest id.

    Returns (keeper_id, n_copies) per distinct content. For very wide
    content at scale, group on ``sha2(content, 256)`` instead so the
    shuffle carries 32 bytes per row, not the document.
    """
    return (
        df.groupBy(*content_cols)
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper_id", "n_copies")
    )


def content_hash(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """(id, sha256(content)) — the scale-path exact-dedup key."""
    return df.select(
        F.col(id_col),
        F.sha2(F.col(content_col), 256).alias("content_sha256"),
    )


def _minhash_value(shingle_hash: Column, i: int) -> Column:
    """i-th hash of a shingle: re-hash the precomputed 64-bit shingle hash
    with the slot index as seed material (``xxhash64(h, i)``). Each slot
    is an independent strong permutation proxy — deterministic across runs
    and executors, JVM-evaluated, no modular arithmetic that could stay
    monotonic in ``h`` (a linear (a*h+b) mod p with small ``a`` never
    wraps, which would make every slot pick the same min shingle and
    collapse the signature to one effective hash)."""
    return F.xxhash64(shingle_hash, F.lit(i))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_size: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: explode distinct shingles, take the
    column-wise min of ``num_hashes`` universal hashes in ONE groupBy (one
    shuffle of (id, 64 longs) — no signature-assembly second pass).

    The input is first hash-repartitioned on the id so (a) the expensive
    explode+hash work spreads across all cores even when the source is a
    single small file, and (b) the groupBy reuses that partitioning
    instead of shuffling the exploded (much larger) shingle set. The
    partition count is explicit — AQE would coalesce a size-based
    repartition of a small source back to one task, serializing the
    expensive hashing."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    shingled = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_shingles(tokenize(F.col(text_col)), shingle_size))).alias(
            "shingle"
        ),
    ).withColumn("h", F.xxhash64("shingle"))
    mins = [F.min(_minhash_value(F.col("h"), i)).alias(f"mh_{i}") for i in range(num_hashes)]
    sig = shingled.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature"))


def minhash_signatures_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_size: int = 3,
) -> DataFrame:
    """MinHash signatures with an md5-derived hash family — the
    cross-engine-reproducible twin of :func:`minhash_signatures`.

    Slot i hashes a shingle as the first 28 bits of md5(md5(shingle)+"_"+i)
    — a full re-hash per slot, so slots stay independent (no monotonic
    (a*h+b) collapse), and every step (md5 hex, substring, base-16 parse)
    exists verbatim in ANSI SQL/DuckDB. That makes the *entire*
    MinHash-LSH pipeline oracle-checkable, where the xxhash64 family can
    only get a rows-only check. ~2× the hash cost of xxhash64 — use the
    fast family in production, this one to validate the algorithm."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    shingled = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(tokenize(F.col(text_col)), shingle_size))
        ).alias("shingle"),
    ).withColumn("m", F.md5("shingle"))
    mins = [
        F.min(
            F.conv(F.substring(F.md5(F.concat(F.col("m"), F.lit(f"_{i}"))), 1, 7), 16, 10).cast(
                "long"
            )
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    sig = shingled.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature"))


def band_signatures(
    signatures: DataFrame,
    num_bands: int,
    num_hashes: int,
    hash_buckets: bool = True,
) -> DataFrame:
    """Explode each signature into its LSH band keys:
    (doc_id, signature, band, bucket), one row per band.

    ``hash_buckets=True`` hashes the band slice to a compact 64-bit
    shuffle key; ``False`` keeps the raw slice string as the key — no
    collision term, so a SQL oracle can reproduce candidate generation
    exactly."""
    rows = num_hashes // num_bands

    def _bucket(b):
        joined = F.concat_ws("_", F.slice("signature", b * rows + 1, rows))
        return F.xxhash64(joined, b) if hash_buckets else joined

    return signatures.select(
        "doc_id",
        "signature",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.struct(b.alias("band"), _bucket(b).alias("bucket")),
            )
        ).alias("bb"),
    ).select(
        "doc_id", "signature", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    num_bands: int = 16,
    threshold: float = 0.5,
    num_hashes: int = 64,
    hash_buckets: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding over signatures → candidate pairs → estimated Jaccard.

    Bands hash ``rows = num_hashes/num_bands`` signature slots; documents
    sharing any band bucket become candidates (one shuffle on the band
    key). Estimated Jaccard = fraction of equal signature slots; pairs
    below ``threshold`` are dropped. Returns (doc_a, doc_b, est_jaccard).

    ``max_bucket_size`` is the HOT-BUCKET guard (the band-join sibling of
    :func:`ngram_jaccard_pairs`' ``max_shingle_df``): a bucket holding k
    documents contributes k² candidate rows, so at web scale one
    boilerplate-heavy bucket (empty docs, templated pages) can dominate
    the whole job quadratically. Buckets larger than the cap are dropped
    before the join — one map-side-combined (band, bucket) count plus a
    filter join on the same key the self-join shuffles on. Mass
    duplicates inside an oversized bucket are near-identical texts that
    exact/content-hash dedup already catches; what the cap costs is
    recall ONLY on pairs whose every shared band is oversized.

    The signature frame feeds BOTH sides of the self-join; without
    materialization the whole upstream shingle+hash pipeline would run
    twice. Signatures are tiny relative to the corpus (~0.5 KB/doc —
    64 longs), so MEMORY_AND_DISK persistence is the right trade at any
    scale: compute once, stream twice.
    """
    signatures = scoped_persist(signatures, "dedup.lsh_pairs.signatures")
    banded = band_signatures(signatures, num_bands, num_hashes, hash_buckets)
    if max_bucket_size is not None:
        small = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bucket_size"))
            .filter(F.col("bucket_size") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(small, ["band", "bucket"])

    left = banded.alias("a")
    right = banded.alias("b")
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_hashes))
    # Score and threshold BEFORE the distinct: the estimate is a cheap
    # per-row expression (even recomputed for multi-band duplicates),
    # while dropDuplicates is a shuffle — filtering first and projecting
    # away the signatures shrinks that shuffle from ~1 KB/candidate (two
    # 64-long arrays) to 24 bytes of (doc_a, doc_b, est).
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def incremental_near_dup_ids(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    num_bands: int = 16,
    num_hashes: int = 64,
    threshold: float = 0.5,
    hash_buckets: bool = True,
) -> DataFrame:
    """Batch doc_ids that near-duplicate ANY existing corpus document —
    the *incremental* dedup shape a continuously-ingesting pipeline
    needs: never re-pair the corpus against itself, only the new batch
    against the corpus.

    Both sides are banded (:func:`band_signatures`) and joined on
    (band, bucket); candidates are verified by the equal-slot Jaccard
    estimate. Cost is O(batch bands + matching corpus buckets), not
    O((corpus+batch)²) — and because an hourly batch is tiny relative to
    the accumulated corpus, AQE broadcast-joins the banded batch against
    the corpus band scan (no corpus shuffle at any scale). Persisting
    ``band_signatures(corpus_sigs)`` as a table bucketed on ``bucket``
    upgrades the corpus side from full scan to bucket-pruned reads.
    Returns distinct ``(doc_id)`` of batch members to DROP."""
    banded_c = band_signatures(corpus_sigs, num_bands, num_hashes, hash_buckets)
    banded_b = band_signatures(batch_sigs, num_bands, num_hashes, hash_buckets)
    return _near_dup_batch_ids(banded_b, banded_c, num_hashes, threshold)


def _near_dup_batch_ids(
    banded_b: DataFrame, banded_c: DataFrame, num_hashes: int, threshold: float
) -> DataFrame:
    """(band, bucket) join of banded batch against banded corpus →
    distinct batch doc_ids whose equal-slot Jaccard estimate clears
    ``threshold`` — the shared core of the on-the-fly and persisted-table
    incremental paths."""
    est = F.aggregate(
        F.zip_with("sig_b", "sig_c", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_hashes))
    return (
        banded_b.alias("b")
        .join(
            banded_c.alias("c"),
            (F.col("b.band") == F.col("c.band")) & (F.col("b.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("b.signature").alias("sig_b"),
            F.col("c.signature").alias("sig_c"),
        )
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_id")
        .distinct()
    )


def persist_corpus_bands(
    corpus_sigs: DataFrame,
    table_name: str,
    num_bands: int = 16,
    num_hashes: int = 64,
    hash_buckets: bool = True,
    n_buckets: int | None = None,
) -> str:
    """Materialize the banded corpus as a BUCKETED, sorted table on the
    LSH join key — the amortization step the incremental-dedup docstring
    promises: a continuously-ingesting pipeline bands the corpus ONCE,
    then every hourly batch joins against the stored table without
    re-shingling, re-hashing, re-banding, or re-shuffling the corpus.

    Bucketing+sorting on (band, bucket) means a non-broadcast join
    against the table is a shuffle-free, sort-free scan on the corpus
    side (only the small batch moves); appends of newly-accepted docs go
    through ``insertInto`` preserving the layout. At 100 TB the corpus
    bands are ~16 rows × ~0.5 KB per doc — a big table, which is exactly
    why it must not be rebuilt or reshuffled per batch."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._tables import drop_managed_table

    spark = corpus_sigs.sparkSession
    n = n_buckets or spark.sparkContext.defaultParallelism
    # A managed-table directory can outlive the metastore that created it
    # (each session gets a fresh local metastore); saveAsTable refuses to
    # reuse such an orphaned location, so drop both the entry and the
    # stale dir (managed only) before overwriting.
    drop_managed_table(spark, table_name)
    banded = band_signatures(corpus_sigs, num_bands, num_hashes, hash_buckets)
    (
        banded.write.bucketBy(n, "band", "bucket")
        .sortBy("band", "bucket")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    return table_name


def incremental_near_dup_ids_vs_table(
    spark: SparkSession,
    bands_table: str,
    batch_sigs: DataFrame,
    num_bands: int = 16,
    num_hashes: int = 64,
    threshold: float = 0.5,
    hash_buckets: bool = True,
) -> DataFrame:
    """:func:`incremental_near_dup_ids` against a persisted
    :func:`persist_corpus_bands` table: only the batch is banded; the
    corpus side is a bucket-aligned scan of the stored layout."""
    banded_b = band_signatures(batch_sigs, num_bands, num_hashes, hash_buckets)
    return _near_dup_batch_ids(banded_b, spark.table(bands_table), num_hashes, threshold)


def incremental_dedup_batch(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_bands: int = 16,
    num_hashes: int = 64,
    threshold: float = 0.5,
    md5_family: bool = False,
) -> DataFrame:
    """Full incremental-dedup pass over a new batch against an existing
    corpus: (1) exact stage — flag batch docs whose sha256 content hash
    already exists in the corpus (32-byte shuffle keys, never the text);
    (2) near-dup stage — MinHash-band the WHOLE batch against the corpus
    (:func:`incremental_near_dup_ids`); 'exact' takes precedence when
    both stages flag a doc. Returns the batch annotated with
    ``dup_kind`` ('exact' | 'near' | NULL = keep) so callers can route
    survivors to the sink and duplicates to an audit table. Both stages
    broadcast the (small) batch side against the corpus scan under AQE.
    """
    sign = minhash_signatures_md5 if md5_family else minhash_signatures
    corpus_hashes = content_hash(corpus, id_col, text_col).select("content_sha256").distinct()
    # the batch side is bounded by the micro-batch contract and feeds
    # THREE branches (exact-stage semi-join, MinHash signatures, final
    # annotation join) — persist it once instead of re-scanning the
    # batch source per branch; the corpus's two scans (sha set, band
    # signatures) stay un-cached on purpose: caching a corpus-sized
    # frame at 100 TB costs more than two column-pruned parquet passes
    # collision-safe internal name: a caller's own "_sha" column must
    # pass through unchanged (deterministic, not uuid-suffixed, so
    # repeated calls build identical plans)
    # compare case-INSENSITIVELY: Spark column resolution is
    # case-insensitive by default, so a caller's "_SHA" would collide
    # with our "_sha" even though the strings differ
    lowered = {c.lower() for c in batch.columns}
    sha_col = "_sha"
    while sha_col in lowered:
        sha_col = "_" + sha_col
    batch_hashed = scoped_persist(
        batch.withColumn(sha_col, F.sha2(F.col(text_col), 256)),
        "dedup.incremental_batch.hashed",
    )
    b = batch_hashed.drop(sha_col)
    exact_ids = (
        batch_hashed.join(
            corpus_hashes, batch_hashed[sha_col] == corpus_hashes["content_sha256"], "left_semi"
        )
        .select(F.col(id_col).alias("doc_id"))
        .distinct()
    )
    near_ids = incremental_near_dup_ids(
        sign(corpus, id_col, text_col, num_hashes=num_hashes),
        sign(b, id_col, text_col, num_hashes=num_hashes),
        num_bands=num_bands,
        num_hashes=num_hashes,
        threshold=threshold,
        hash_buckets=not md5_family,
    )
    flags = (
        exact_ids.withColumn("dup_kind", F.lit("exact"))
        .unionByName(near_ids.withColumn("dup_kind", F.lit("near")))
        .groupBy("doc_id")
        # exact wins when both stages flag the same doc
        .agg(F.min("dup_kind").alias("dup_kind"))
    )
    return b.join(flags, b[id_col] == flags["doc_id"], "left").select(
        *[b[c] for c in batch.columns], flags["dup_kind"]
    )


# Per-row SimHash fold: one pass over the token-hash array carrying an
# n-slot sum vector, then sign-threshold each slot into fingerprint bit
# j. Bit-identical to the explode + n-conditional-sum groupBy
# formulation this replaced, but as a NARROW map: no token explosion,
# no aggregation buffer, no shuffle of token rows — measured 4x faster
# at sf0.1 and shuffle-free at any scale. The lambdas are interpreted
# (higher-order fns skip codegen), which still wins here because the
# per-element work is pure bit arithmetic; minhash keeps the codegen'd
# hash-agg shape because its per-element work is 64 xxhash64 calls,
# where interpreted dispatch dominates (measured 6x slower).
# ONE template for both widths: n=64 for the xxhash64 production family
# (shiftleft(1,63) wraps to the long sign bit — the classic
# 2's-complement layout), n=60 for the md5 oracle family (no bit ever
# reaches the sign position, so the SQL oracle replays it verbatim in
# signed 64-bit without unsigned tricks).
_SIMHASH_FOLD_SQL_TEMPLATE = """
aggregate(
  zip_with(
    aggregate(
      {hashes},
      array_repeat(0L, {n}),
      (acc, h) -> zip_with(acc, sequence(0, {nm1}), (a, j) -> a + IF(((h >> j) & 1) = 1, 1L, -1L))
    ),
    sequence(0, {nm1}),
    (s, j) -> IF(s > 0, shiftleft(1L, CAST(j AS INT)), 0L)
  ),
  0L, (a, b) -> a | b)
"""


def _simhash_fold_sql(hashes: str, num_bits: int) -> str:
    return _SIMHASH_FOLD_SQL_TEMPLATE.format(
        hashes=hashes, n=num_bits, nm1=num_bits - 1
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Token hash bit j contributes +1/-1 to bit-slot j; fingerprint bit j
    is 1 iff the slot sum is positive. Computed per-row over the token
    array (see ``_simhash_fold_sql``) — a shuffle-free narrow map; the
    id-repartition only spreads a few-file source across cores (on a
    real multi-file table it is a no-op choice, not a correctness
    need)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokenize(F.col(text_col)), lambda t: F.xxhash64(t)).alias("_th"),
    )
    return staged.select(
        "doc_id", F.expr(_simhash_fold_sql("_th", 64)).alias("simhash")
    )


def simhash_near_pairs(fingerprints: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ ``max_hamming`` (<16).

    Block-LSH: split the 64-bit fingerprint into 4 16-bit blocks; any pair
    within distance 3 shares ≥1 exact block (pigeonhole), so the join is
    equality on (block_idx, block_value) — shuffleable — then exact
    popcount verification via bit_count(xor).

    Fingerprints are persisted before the self-join so the upstream
    tokenize+hash pipeline runs once, not once per join side (16 B/doc —
    cheap at any scale)."""
    fingerprints = scoped_persist(fingerprints, "dedup.simhash_pairs.fps")
    blocks = fingerprints.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("value"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.block").alias("block"), F.col("bv.value").alias("value"))
    a, b = blocks.alias("a"), blocks.alias("b")
    # Popcount-filter BEFORE the distinct: random non-dup pairs sit at
    # Hamming ~32, so the threshold removes most candidates — the
    # dropDuplicates shuffle then carries only true near-dups.
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.value") == F.col("b.value"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over n-word shingles via explode + self-join.

    Quadratic in per-shingle document frequency — at 100 TB use this only
    to VERIFY candidates from MinHash/SimHash, or cap the frequency with
    ``max_shingle_df``. Returns (doc_a, doc_b, jaccard).

    ``max_shingle_df`` drops STOP-SHINGLES — shingles present in more
    than that many documents (boilerplate: license headers, nav bars) —
    before the self-join, the standard web-scale-dedup skew guard: a
    shingle in k docs contributes k² join rows, so one viral phrase
    otherwise dominates the whole job. The document-frequency pass is
    one map-side-combined groupBy, and the filter join is keyed on the
    same shingle column as the self-join that follows. Sizes (and hence
    Jaccard) are then computed over the FILTERED shingle space —
    document that choice when comparing against unfiltered scores.

    The exploded shingle set feeds both self-join sides plus the size
    aggregate — persisted so tokenization runs once, not three times."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_shingles(tokenize(F.col(text_col)), n))).alias("shingle"),
    )
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("shingle_df"))
            .filter(F.col("shingle_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sh = scoped_persist(sh, "dedup.jaccard_pairs.shingles")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: each round
    every node adopts the min label among itself and its neighbors
    (hashing step), then labels chase their own label's label (pointer
    jumping) — halving chain lengths so convergence is O(log diameter)
    rounds, not O(diameter). `max_iter=25` therefore covers components
    of any realistic shape (2^25-hop chains), while near-dup clusters
    (shallow stars) converge in 2-3 rounds. Each round: one shuffle over
    the edge set + one over the (far smaller) label set. Every round's
    labels are localCheckpoint()ed — persist alone keeps the full
    lineage, and an iteratively-growing plan tree blows up analysis/
    codegen long before the data does (the standard Spark iterative-
    algorithm trap).

    This turns pairwise dedup (MinHash/SimHash/Jaccard output) into
    cluster-level dedup: keep min-id per component, drop the rest.
    Returns (node, component) with component = min node id reachable.
    """
    sym = scoped_persist(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        "dedup.connected_components.sym",
    )
    labels = (
        sym.select("a")
        .distinct()
        .select(F.col("a").alias("node"), F.col("a").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        hashed = labels.join(nbr_min, labels.node == nbr_min.a, "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                "label"
            ),
        )
        # pointer jump: label <- label(label). Every label is itself a
        # node (labels are min-reachable node ids), so the inner
        # self-join is total and strictly non-increasing.
        jump = hashed.select(
            F.col("node").alias("j_node"), F.col("label").alias("j_label")
        )
        new_labels = (
            hashed.join(jump, hashed.label == F.col("j_node"))
            .select("node", F.col("j_label").alias("label"))
            .localCheckpoint()  # truncate lineage; eager
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("component"))


def simhash_md5(df: DataFrame, id_col: str, text_col: str, num_bits: int = 60) -> DataFrame:
    """60-bit SimHash with an md5-derived token hash — the cross-engine-
    reproducible twin of :func:`simhash` (which uses xxhash64 and can
    only get a rows-only check). Token hash = first 15 hex chars of
    md5(token) parsed base-16 (60 bits keeps the fingerprint inside a
    signed 64-bit everywhere). Same shuffle-free per-row fold as the
    production variant (``_simhash_fold_sql`` at 60-bit width) — the explode +
    60-conditional-sum groupBy this replaced shuffled one row per TOKEN
    and regressed 3.7x the moment this key entered the bench; the fold
    is a narrow map whose cost is bounded by the document, not the
    corpus. Term frequency weights bits exactly like the production
    variant (duplicate tokens are NOT deduplicated)."""
    if num_bits != 60:  # the fold SQL and the block-LSH split are 60-bit
        raise ValueError("simhash_md5 is fixed at 60 bits (4 x 15-bit blocks)")
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            tokenize(F.col(text_col)),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        ).alias("_th"),
    )
    return staged.select(
        "doc_id", F.expr(_simhash_fold_sql("_th", 60)).alias("simhash")
    )


def simhash_near_pairs_md5(fingerprints: DataFrame, max_hamming: int = 12) -> DataFrame:
    """Block-LSH near pairs over 60-bit md5 SimHash: 4 blocks × 15 bits,
    equality join on (block, value), exact Hamming verify — the same
    plan as :func:`simhash_near_pairs` with block arithmetic that a SQL
    oracle replicates bit-for-bit."""
    fingerprints = scoped_persist(fingerprints, "dedup.simhash_pairs_md5.fps")
    blocks = fingerprints.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftrightunsigned(F.col("simhash"), i * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("value"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.block"), F.col("bv.value"))
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.value") == F.col("b.value"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
) -> DataFrame:
    """CROSS-corpus line-level deduplication (the C4 §2.2 "discard any
    line that occurs elsewhere in the dataset" rule, applied
    first-occurrence-wins): a line survives only in the lexicographically
    first (doc_id, position) where it appears; every later occurrence —
    in the same document or any other — is dropped. This is the
    boilerplate killer (nav bars, cookie banners, license footers repeat
    across millions of pages) that per-document filters like
    :func:`~..operators.text.c4_line_filter` cannot express.

    Returns one row per document: ``n_lines``, ``n_lines_kept``, and
    ``clean_text`` (survivors re-joined with newlines in original
    order; empty string when nothing survives).

    Scale shape (100 TB): posexplode is narrow; the first-occurrence
    winner per distinct line is ONE groupBy with a map-side-combined
    ``min(struct(doc_id, pos))`` — the shuffle carries one row per
    distinct line; the survivors join is keyed on the same line value
    (AQE reuses the exchange); document reassembly is one groupBy on
    the id. No windows over the corpus, no driver state. Top-frequency
    lines (the skew risk) collapse to one combiner row per partition
    before the shuffle, so a line occurring in millions of documents
    costs its occurrence count only in the narrow explode stage.
    """
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.col(lines_col)).alias("pos", "line"),
    )
    # The exploded line frame feeds BOTH the winners groupBy and the
    # survivors join-back: persisting trades one corpus re-scan for a
    # corpus-sized cache fill, never slower in the r19 A/B at 1x and 10x
    # (PROBES_r19.jsonl).
    exploded = scoped_persist(exploded, "dedup.line_dedup.exploded")
    winners = exploded.groupBy("line").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("w")
    )
    survivors = (
        exploded.join(winners, "line")
        .filter((F.col("doc_id") == F.col("w.doc_id")) & (F.col("pos") == F.col("w.pos")))
        .select("doc_id", "pos", "line")
    )
    counts = df.select(
        F.col(id_col).alias("doc_id"), F.size(F.col(lines_col)).alias("n_lines")
    )
    kept = survivors.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("line")))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    return (
        counts.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def span_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicated-span audit (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" §4.1),
    approximated at a fixed gram width: a position is duplicated text
    when a ``width``-token gram starting there also occurs EARLIER in
    the corpus (global first-occurrence-wins, ordered by (doc_id, pos) —
    the first copy is the keeper, exactly like :func:`line_dedup`).

    Returns one row per document: ``n_tokens``, ``n_dup_occ`` (non-first
    gram occurrences), and ``n_covered`` (tokens inside the UNION of the
    duplicated [pos, pos+width-1] intervals — the token count ExactSubstr
    would cut). The suffix-array original finds arbitrary-length repeats
    >= a threshold; a fixed-width gram pass finds exactly the repeats
    >= ``width`` tokens (any longer repeat is a run of overlapping
    width-grams, which the interval union re-merges) — the semantics
    match for spans >= width, at shuffle-join cost instead of a global
    suffix sort.

    Scale shape (100 TB): gram winners are ONE map-side-combined
    min(struct) groupBy per distinct gram (hot boilerplate grams collapse
    per-partition, same skew math as line_dedup). Interval coverage is
    computed by gaps-and-islands over each document's OWN duplicate
    occurrences (running-max window partitioned by doc — never global),
    NOT by exploding width positions per occurrence: O(occurrences) rows
    instead of O(occurrences × width).
    """
    words = tokenize(F.col(text_col))
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        words.alias("toks"),
        F.size(words).alias("n_tokens"),
    )
    grams = toks.select(
        "doc_id",
        "n_tokens",
        F.posexplode(
            # sequence(0, -1) would DESCEND in Spark, so short docs get
            # an explicit empty gram array instead
            F.when(
                F.size(F.col("toks")) >= width,
                F.transform(
                    F.sequence(F.lit(0), F.size(F.col("toks")) - width),
                    lambda i: F.array_join(F.slice(F.col("toks"), i + 1, width), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "gram"),
    )
    # same trade as line_dedup: grams feeds both the winners groupBy and
    # the dups join-back (the cache is gram-string-wide, ~width words per
    # row; the r19 A/B found it never slower)
    grams = scoped_persist(grams, "dedup.span_dedup.grams")
    winners = grams.groupBy("gram").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("w")
    )
    dups = (
        grams.join(winners, "gram")
        .filter(
            (F.col("doc_id") != F.col("w.doc_id")) | (F.col("pos") != F.col("w.pos"))
        )
        .select("doc_id", "pos")
    )
    # gaps-and-islands interval union per document
    w_ord = W.partitionBy("doc_id").orderBy("pos")
    islands = (
        dups.withColumn("end", F.col("pos") + width - 1)
        .withColumn(
            "prev_max_end",
            F.max("end").over(w_ord.rowsBetween(W.unboundedPreceding, -1)),
        )
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_max_end").isNull()
                | (F.col("pos") > F.col("prev_max_end")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("new_island").over(w_ord))
    )
    per_doc = (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            F.max("end").alias("e"),
            F.count(F.lit(1)).alias("occ"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("long").alias("n_dup_occ"),
            F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("n_covered"),
        )
    )
    base = toks.select("doc_id", "n_tokens")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_occ"), F.lit(0)).alias("n_dup_occ"),
        F.coalesce(F.col("n_covered"), F.lit(0)).alias("n_covered"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| (Broder 1997's
    containment measure). Jaccard misses nested duplication — a short
    document fully quoted inside a long one scores low symmetric
    Jaccard but containment ≈ 1 — so this is the detector for
    quote-expansion, article-with-commentary, and subset-scrape dups.

    Emits BOTH directions per overlapping pair (doc, other,
    containment = fraction of ``doc``'s shingles also in ``other``),
    threshold-filtered. Same scale shape as :func:`ngram_jaccard_pairs`
    (one shingle self-join keyed on the shingle, map-side-combined size
    aggregate, optional stop-shingle cap) — only the normalizer
    differs, so the candidate-join cost is identical and the same
    MinHash/LSH candidates can feed it at 100 TB.
    """
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(tokenize(F.col(text_col)), n))
        ).alias("shingle"),
    )
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("shingle_df"))
            .filter(F.col("shingle_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sh = scoped_persist(sh, "dedup.containment_pairs.shingles")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc"), F.col("b.doc_id").alias("other"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz = sizes.select(F.col("doc_id").alias("doc"), F.col("n_shingles").alias("size_doc"))
    return (
        common.join(F.broadcast(sz), "doc")
        .withColumn("containment", F.col("n_common") / F.col("size_doc"))
        .filter(F.col("containment") >= threshold)
        .select("doc", "other", "containment")
    )


def normalize_text(text: Column) -> Column:
    """Canonical dedup normal form: lowercase, strip everything but
    [a-z0-9 ] (punctuation/Unicode noise), collapse whitespace runs,
    trim. The standard pre-pass before EXACT dedup so that trivially
    reformatted copies (case, punctuation, spacing) hash together —
    catches the near-dup class that needs no shingles at all. Pure
    Catalyst string expressions, shuffle-free, codegen'd.
    """
    squashed = F.regexp_replace(F.lower(text), "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(squashed, " +", " "))


def normalized_dedup_keepers(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact dedup AFTER normalization: group documents by
    sha256(normal form), keep the smallest id per group. Same
    one-groupBy / map-side-combined shape (and the same 32-byte shuffle
    key) as ``exact_dedup_keepers`` on ``content_hash`` — the
    normalizer runs map-side, so the extra robustness is free at scale.
    Returns (keeper_id, n_copies, n_distinct_raw): n_distinct_raw > 1
    marks groups that ONLY normalization could merge.
    """
    normed = df.select(
        F.col(id_col).alias("__id"),
        F.sha2(normalize_text(F.col(text_col)), 256).alias("__norm_sha"),
        F.sha2(F.col(text_col), 256).alias("__raw_sha"),
    )
    return (
        normed.groupBy("__norm_sha")
        .agg(
            F.min("__id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("__raw_sha").alias("n_distinct_raw"),
        )
        .select("keeper_id", "n_copies", "n_distinct_raw")
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    block_prefix: int = 16,
    max_block_size: int = 50,
) -> DataFrame:
    """Edit-distance near-dup pairs with prefix blocking: candidate
    pairs come only from documents sharing the first ``block_prefix``
    normalized characters, then the JVM-side ``levenshtein`` confirms
    ``distance <= max_distance``. Classic record-linkage blocking — the
    O(n²) comparison is confined to within-block pairs, and
    ``max_block_size`` caps any hot block (boilerplate prefixes) the
    same way the LSH band join caps hot buckets, so worst-case work is
    blocks × cap². Emits (doc, other, distance), doc < other.

    Levenshtein runs in whole-stage codegen (no UDF); the length-delta
    prefilter (|len(a)-len(b)| <= d, a lower bound on edit distance)
    drops most survivors before the O(len²) DP evaluates.
    """
    normed = df.select(
        F.col(id_col).alias("__id"),
        normalize_text(F.col(text_col)).alias("__norm"),
    ).withColumn("__block", F.substring("__norm", 1, block_prefix))
    block_sizes = normed.groupBy("__block").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    # the surviving-block list is block-count-sized (small) but its
    # lineage is a full corpus scan; both self-join sides consume it, so
    # persist it — 4 corpus scans -> the self-join minimum of 2
    # (caching `capped` itself would pin a corpus-sized frame instead)
    ok_blocks = scoped_persist(
        block_sizes.filter(F.col("__bn") <= max_block_size).select("__block"),
        "dedup.edit_distance.blocks",
    )
    capped = normed.join(F.broadcast(ok_blocks), "__block")
    a = capped.select(
        F.col("__block"),
        F.col("__id").alias("doc"),
        F.col("__norm").alias("__na"),
    )
    b = capped.select(
        F.col("__block"),
        F.col("__id").alias("other"),
        F.col("__norm").alias("__nb"),
    )
    pairs = a.join(b, "__block").filter(
        (F.col("doc") < F.col("other"))
        & (
            F.abs(F.length("__na") - F.length("__nb")) <= max_distance
        )
    )
    return (
        pairs.withColumn("distance", F.levenshtein("__na", "__nb"))
        .filter(F.col("distance") <= max_distance)
        .select("doc", "other", "distance")
    )


def dedup_keep_longest(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical-member selection for duplicate groups: keep the LONGEST
    copy (ties → smallest id) rather than the smallest id — the
    truncation-aware choice: scrapes commonly carry cut-off copies of
    the same page, and min-id keeps whichever arrived first while this
    keeps the most complete one. Same one-groupBy map-side-combined
    shape as ``normalized_dedup_keepers``; the argmax rides the
    aggregation as a (len, -id) struct max — no window, no second pass.
    """
    normed = df.select(
        F.col(id_col).alias("__id"),
        F.length(F.col(text_col)).alias("__len"),
        F.sha2(normalize_text(F.col(text_col)), 256).alias("__norm_sha"),
    )
    best = F.max(
        F.struct(
            F.col("__len").alias("l"), (-F.col("__id")).alias("nid")
        )
    )
    return (
        normed.groupBy("__norm_sha")
        .agg(
            best.alias("b"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            (-F.col("b.nid")).cast("long").alias("keeper_id"),
            F.col("b.l").alias("keeper_len"),
            "n_copies",
        )
    )
