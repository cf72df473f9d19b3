"""Deterministic sampling / splitting / mixing operators for
training-data pipelines.

A 100 TB corpus can't use `rand()`-based sampling: re-runs must be
reproducible (the reference's whole idempotency stance — its partition
re-loads replace rather than append, `README.md:34-39`,
`ingestion/bigquery_interaction.py:20` — extends to "re-running a
pipeline stage yields the same sample"). Every operator here derives its
randomness from a *content hash of the row key*, so membership is a pure
function of (key, salt):

* re-runs, retries, and backfills produce identical splits;
* no shuffle is needed — each row decides membership locally (narrow
  dependency, survives any partitioning);
* the same row lands in the same split on any cluster size.

The hash is a Knuth multiplicative hash on the 64-bit key (documented
constant 2654435761 = floor(2^32/phi)); production engines would use
xxhash64, but the arithmetic form is reproducible in ANSI SQL, which
keeps every operator DuckDB-oracle-checkable — the driver contract this
repo is validated under.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# floor(2^32 / golden_ratio), the classic Knuth multiplicative constant.
_KNUTH = 2654435761
_BUCKETS = 10_000


def hash_bucket(key: Column, salt: int = 0) -> Column:
    """Deterministic bucket in [0, 10000) from a 64-bit key column.

    The key+salt sum is masked to 31 bits BEFORE the multiply so the
    product never exceeds 2^62 — pure signed-64 arithmetic with no
    overflow for ANY key (snowflake-scale ids included), hence identical
    in Spark non-ANSI mode and ANSI SQL engines that raise on BIGINT
    overflow. The KEY is masked before the salt add as well (the add of
    a 2^63-scale key would itself trap under ANSI arithmetic). Oracle
    twin: `((((key & 2147483647) + salt) & 2147483647) * 2654435761)
    % 10000`. For keys < 2^31 with small salts both masks are the
    identity, so bucket values are unchanged from the historical
    unmasked form.
    """
    masked = (
        key.cast("long").bitwiseAND(F.lit(0x7FFFFFFF)) + F.lit(salt)
    ).bitwiseAND(F.lit(0x7FFFFFFF))
    return (masked * F.lit(_KNUTH)) % F.lit(_BUCKETS)


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: int = 0,
) -> DataFrame:
    """Assign every row to a named split (train/val/test/...) by hash
    bucket. Weights must sum to ~1. Adds a `split` column; no shuffle,
    no sampling variance between runs."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key_col), salt)
    expr = None
    cum = 0.0
    items = sorted(weights.items())  # deterministic order
    for name, w in items[:-1]:
        cum += w
        cond = bucket < int(cum * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: int = 0,
) -> DataFrame:
    """Deterministic stratified sample: per stratum, keep rows whose hash
    bucket falls below fraction*10000. Unlike `df.sampleBy` this is
    exact-membership reproducible (same rows every run, any cluster) and
    stays a narrow map — no shuffle, no seed plumbing."""
    bucket = hash_bucket(F.col(key_col), salt)
    keep = None
    for stratum, frac in sorted(fractions.items()):
        cond = (F.col(strata_col) == stratum) & (bucket < int(frac * _BUCKETS))
        keep = cond if keep is None else keep | cond
    return df.filter(keep if keep is not None else F.lit(False))


def weighted_mix(
    df: DataFrame,
    source_col: str,
    source_fractions: dict[str, float],
    key_col: str,
    salt: int = 0,
) -> DataFrame:
    """Weighted source mixing (the "data mixture" step of a training
    pipeline): downsample each source to its configured fraction via the
    deterministic hash filter. Sources absent from the dict are dropped
    — the mixture is explicit, nothing rides along silently."""
    return stratified_sample(df, source_col, source_fractions, key_col, salt)


def split_counts(df: DataFrame, by: list[str]) -> DataFrame:
    """Audit aggregate for any of the above: row counts per group —
    the number a pipeline operator reconciles against its config."""
    return df.groupBy(*by).agg(F.count(F.lit(1)).alias("n_rows"))


def epoch_shuffle(df: DataFrame, key_col: str, epoch: int) -> DataFrame:
    """Deterministic per-epoch global shuffle: every epoch is a different
    but fully reproducible permutation, keyed by ``md5(key || '_' ||
    epoch)`` — no ``rand()``, so retries, resumed jobs, and any other
    engine (md5 is universal) derive the identical order.

    The returned frame carries ``shuffle_key``; materialize the epoch
    order with ``repartitionByRange(N, "shuffle_key")`` +
    ``sortWithinPartitions("shuffle_key")`` — a range shuffle, NOT a
    global single-node sort, so writing a shuffled epoch of a 100 TB
    corpus stays fully parallel (readers consume files in filename order
    for the total order)."""
    return df.withColumn(
        "shuffle_key",
        F.md5(F.concat_ws("_", F.col(key_col).cast("string"), F.lit(str(epoch)))),
    )


def temperature_weights(
    df: DataFrame, domain_col: str, size_col: str, target_permille: int = 250
) -> DataFrame:
    """Temperature-sampled domain weights (the multilingual/domain
    rebalancing step: sample domain d proportionally to size_d^alpha,
    alpha=0.5 — upweights small domains, tempers head domains).

    Output per domain: row count, total size, integer weight
    wgt = round(sqrt(size)*1000), and a keep THRESHOLD in [0, 10000]
    such that filtering on ``hash_bucket(key) < threshold`` yields an
    expected ``target_permille/1000`` of the corpus distributed across
    domains proportionally to wgt: threshold_d = 10000 * T * share_d /
    n_d (capped), with T the target row total. Everything after the
    sqrt is integer or a single shared double division, so thresholds
    are exactly reproducible in any engine regardless of float
    summation order — same design rule as the arithmetic-hash
    membership itself.

    One tiny aggregation (rows = distinct domains) + a broadcast of the
    1-row totals: nothing here scales with corpus volume. The per-domain
    aggregate is PERSISTED (bounded, domain-count-sized): its two
    consumers (the totals aggregate, the threshold projection) would
    each re-scan the corpus otherwise.
    """
    from ._cache import scoped_persist

    per = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(size_col).cast("long").alias("domain_size"),
    )
    per = scoped_persist(
        per.withColumn(
            "wgt", F.round(F.sqrt(F.col("domain_size")) * 1000).cast("long")
        ),
        "sampling.temperature_weights.per",
    )
    totals = per.agg(
        F.sum("wgt").alias("total_wgt"), F.sum("n_docs").alias("total_docs")
    )
    target = F.expr(f"div(total_docs * {target_permille}, 1000)")
    return (
        per.crossJoin(F.broadcast(totals))
        .withColumn(
            "threshold",
            F.least(
                F.lit(_BUCKETS).cast("long"),
                F.floor(
                    (target * F.lit(_BUCKETS) * F.col("wgt"))
                    / (F.col("total_wgt") * F.col("n_docs"))
                ).cast("long"),
            ),
        )
        .drop("total_wgt", "total_docs")
    )


def temperature_mix(
    df: DataFrame,
    domain_col: str,
    size_col: str,
    key_col: str,
    target_permille: int = 250,
    salt: int = 0,
) -> DataFrame:
    """Apply :func:`temperature_weights`: broadcast-join the per-domain
    thresholds back onto the corpus and keep rows whose hash bucket
    falls under their domain's threshold. Narrow map + one broadcast —
    the corpus is never shuffled."""
    weights = temperature_weights(df, domain_col, size_col, target_permille).select(
        domain_col, "threshold"
    )
    joined = df.join(F.broadcast(weights), domain_col)
    return joined.filter(hash_bucket(F.col(key_col), salt) < F.col("threshold"))


def quantile_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Assign each row to a quantile bin of ``score_col`` WITHOUT a
    global sort: compute the n_bins-1 exact percentile thresholds as a
    one-row aggregate, broadcast them, and assign
    ``bin = #(thresholds < score)`` with a higher-order array filter.

    ntile() — the textbook way — is a window over ONE global ordering:
    a single-partition sort of the whole corpus. The threshold pass is
    an aggregate (map-side combined) plus a narrow broadcast map, so
    the corpus is never globally sorted and never reshuffled; this is
    the curriculum-binning primitive for quality-ordered training
    schedules. Adds a ``bin`` column (0 .. n_bins-1).
    """
    qs = [i / n_bins for i in range(1, n_bins)]
    thresholds = df.agg(
        F.percentile(F.col(score_col), F.array(*[F.lit(q) for q in qs])).alias(
            "__thr"
        )
    )
    # one-row broadcast: BroadcastNestedLoopJoin over a literal frame,
    # not a data-sized cartesian
    with_thr = df.crossJoin(F.broadcast(thresholds))
    score = F.col(score_col).cast("double")
    return with_thr.withColumn(
        "bin",
        F.size(F.filter(F.col("__thr"), lambda t: score > t)),
    ).drop("__thr")


def domain_cap(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    max_per_domain: int,
) -> DataFrame:
    """Per-domain document cap (the RefinedWeb / CommonCrawl curation
    step: no single host may contribute more than K documents, killing
    SEO farms and mirror sites that would otherwise dominate the
    mixture). Deterministic: within a domain, documents are ranked by
    ``md5(key)`` — a reproducible uniform order with no RNG state — and
    rows ranked past the cap are dropped. Adds ``domain_rank`` (1-based)
    to the survivors.

    Shuffle story at 100 TB: one hash-partition exchange on the domain
    key feeding a per-domain row_number — the same single-shuffle shape
    as any top-K-per-group. Head domains (a few-million-doc host) sort
    within one task; for caps ≪ domain size, pre-prune first with a
    per-domain approximate md5-threshold from a sample so the sort input
    is O(cap), not O(domain) — the rank step here is unchanged by that
    optimization.
    """
    from pyspark.sql import Window as W

    order = F.md5(F.col(key_col).cast("string"))
    w = W.partitionBy(domain_col).orderBy(order.asc(), F.col(key_col).asc())
    return (
        df.withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= max_per_domain)
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: dict[str, float],
    salt: int = 0,
) -> DataFrame:
    """Near-duplicate-aware train/val/test split: hash-splitting on the
    raw document id leaks — two normalized-identical copies of one
    document can land in train AND test, inflating eval. Here the split
    key is the CLUSTER id (smallest doc id among documents sharing a
    normalized content hash), so every copy of a document travels to the
    same split by construction.

    Plan: one groupBy on the 32-byte normalized sha (map-side combined)
    to elect cluster ids, one shuffle join back on the same sha to tag
    rows, then the usual shuffle-free hash_split on cluster_id. At
    100 TB both exchanges hash-partition on the sha — collision-free,
    skew-free keys (dup clusters are pathological-site-sized at worst,
    and the join key cardinality is the distinct-document count).
    """
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.dedup import normalize_text

    normed = df.select(
        F.col(id_col),
        F.sha2(normalize_text(F.col(text_col)), 256).alias("__norm_sha"),
    )
    clusters = normed.groupBy("__norm_sha").agg(
        F.min(id_col).alias("cluster_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    tagged = normed.join(clusters, "__norm_sha").select(
        id_col, "cluster_id", "cluster_size"
    )
    return hash_split(tagged, "cluster_id", weights, salt)


def class_balance(
    df: DataFrame, label_col: str, key_col: str
) -> DataFrame:
    """Deterministic class balancing: downsample every label to the
    SMALLEST label's count (md5-ranked membership — reproducible, no
    RNG), the classifier-training prep that stops a 90/10 skew from
    training a majority-class predictor. One label-keyed rank window
    plus a label-count-sized broadcast of the floor; survivors carry
    ``class_rank``."""
    from pyspark.sql import Window as W

    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("__n"))
    floor = counts.agg(F.min("__n").alias("__floor"))
    order = F.md5(F.col(key_col).cast("string"))
    w = W.partitionBy(label_col).orderBy(order.asc(), F.col(key_col).asc())
    return (
        df.withColumn("class_rank", F.row_number().over(w))
        .crossJoin(F.broadcast(floor))
        .filter(F.col("class_rank") <= F.col("__floor"))
        .drop("__floor")
    )


# Poisson(1) CDF thresholds for k = 0..7 (u < cum[k] -> weight k); the
# tail above cum[7] (~1e-6 of draws) gets weight 8. Written to 12
# digits so Spark and any SQL engine compare the same binary doubles.
_POISSON1_CUM = (
    0.367879441171,
    0.735758882343,
    0.919698602929,
    0.981011843124,
    0.996339653173,
    0.999405815182,
    0.999916758850,
    0.999989750803,
)


def _bootstrap_weight(key: Column, replicate: int) -> Column:
    """Deterministic Poisson(1) draw for (key, replicate): uniform u
    from the first 7 hex digits of md5 (an exact rational n/16^7, so
    every engine derives the identical u), inverted through the CDF."""
    u = F.conv(
        F.substring(F.md5(F.concat_ws("_", key.cast("string"), F.lit(str(replicate)))), 1, 7),
        16,
        10,
    ).cast("long") / F.lit(268435456.0)
    w = F.lit(8)
    for k in range(len(_POISSON1_CUM) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CUM[k]), F.lit(k)).otherwise(w)
    return w


def bootstrap_mean_ci(
    df: DataFrame,
    key_col: str,
    metric_col: str,
    n_replicates: int = 30,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean — resampling
    statistics at corpus scale with ZERO randomness state: replicate
    r's multiplicity for a row is a pure function of (key, r), so
    re-runs, retries, and any engine reproduce the identical CI.

    The scalable shape: replicates are COLUMNS of one aggregation (2R
    conditional sums riding a single scan that collapses map-side to
    one row), never an explode — the classic row-replication bootstrap
    multiplies the corpus by R, this touches it once. The driver-side
    finish is arithmetic over 2R numbers. Output (long format):
    observed_mean, boot_se, ci_lo/ci_hi (normal approximation),
    n_replicates.
    """
    key = F.col(key_col)
    x = F.col(metric_col)
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__sx"),
    ]
    for r in range(n_replicates):
        w = _bootstrap_weight(key, r)
        aggs.append(F.sum(w * x).alias(f"__wx{r}"))
        aggs.append(F.sum(w).alias(f"__w{r}"))
    wide = df.agg(*aggs)
    means = F.array(
        *[F.col(f"__wx{r}") / F.col(f"__w{r}") for r in range(n_replicates)]
    )
    mu = F.aggregate(
        means, F.lit(0.0), lambda a, v: a + v
    ) / F.lit(float(n_replicates))
    var = F.aggregate(
        means, F.lit(0.0), lambda a, v: a + (v - mu) * (v - mu)
    ) / F.lit(float(n_replicates - 1))
    se = F.sqrt(var)
    obs = F.col("__sx") / F.col("__n")
    out = wide.select(
        F.round(obs, 6).alias("observed_mean"),
        F.round(se, 6).alias("boot_se"),
        F.round(obs - F.lit(1.96) * se, 6).alias("ci_lo"),
        F.round(obs + F.lit(1.96) * se, 6).alias("ci_hi"),
        F.lit(n_replicates).alias("n_replicates"),
    )
    return out.selectExpr(
        "stack(5, 'observed_mean', observed_mean, 'boot_se', boot_se,"
        " 'ci_lo', ci_lo, 'ci_hi', ci_hi,"
        " 'n_replicates', cast(n_replicates as double))"
        " as (metric, value)"
    )
