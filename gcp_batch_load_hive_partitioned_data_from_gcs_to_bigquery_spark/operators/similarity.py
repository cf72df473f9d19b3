"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force top-k: broadcast the (small) query
  set against the full corpus; dot products run JVM-side via
  ``zip_with``/``aggregate`` expressions (no Python in the hot path).
  O(N·Q·d) but embarrassingly parallel — the right baseline, and the
  verifier for approximate paths.
* ``lsh_bucket_topk`` — the scale path: random-hyperplane LSH signatures
  (deterministic, seed-derived hyperplanes) bucket the corpus; each query
  only scores its own bucket(s). Sub-linear candidate sets at 100 TB, at
  the cost of approximate recall.

Everything returns DataFrames and shuffles only on bucket keys; the
corpus is never collected.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._publish import (
    copy_tree,
    data_file_count,
    delete_path,
    entry_sweep,
    live_root,
    next_version,
    numbered_dirs,
    path_exists,
    publish,
    read_small_file,
    vacuum,
    write_small_file,
)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def with_double_embedding(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Cast array<float> → array<double> so all scoring runs in float64
    (matches any SQL oracle computing in DOUBLE)."""
    return df.withColumn(col, F.transform(F.col(col), lambda x: x.cast("double")))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: list | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine) — k best corpus
    vectors per query, self-matches excluded. Queries are broadcast; the
    corpus streams through executors once. Norms are computed ONCE per
    side before the join — inside the join condition each corpus norm
    would be re-derived per query and each query norm per corpus row,
    multiplying the dominant arithmetic by (1 + |queries|).

    ``carry_cols``: corpus columns (functionally determined by the
    corpus id, e.g. a label) to ride through scoring and the top-k
    window into the output — saves the caller a second corpus scan +
    join-back to re-attach them (the ``countmin_query`` carry pattern).
    Ranking is unaffected: the window orders on (cosine, vec_id) only.
    Carried names must not collide with the output schema or the
    scoring columns (``c_vec``/``c_norm``/``q_vec``/``q_norm``)."""
    carry = list(carry_cols or [])
    reserved = {"query_id", "vec_id", "cosine", "rank", "c_vec", "c_norm", "q_vec", "q_norm"}
    bad = reserved.intersection(carry)
    if bad:
        raise ValueError(f"carry_cols collide with output or scoring columns: {sorted(bad)}")
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"), *carry
    ).withColumn("c_norm", _norm(F.col("c_vec")))
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("q_norm", _norm(F.col("q_vec")))
    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
        )
        .select("query_id", "vec_id", "cosine", *carry)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank", *carry)
    )


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k with a BLAS scoring kernel — same result set as
    :func:`cosine_topk`, built for the 100 TB corpus side.

    The query set (the broadcast-small side) is collected ONCE to a
    normalized ``Q×d`` numpy matrix shipped in the kernel closure — the
    moral equivalent of ``F.broadcast``, never the corpus. Each corpus
    Arrow batch scores as one ``(batch×d) @ (d×Q)`` matrix multiply, and
    the kernel emits only its PARTIAL top-k per query under the total
    order (cosine desc, vec_id asc) — exact, because vec_id is unique so
    the order has no ties, and a global top-k is the merge of per-batch
    top-k under any total order. The final window then ranks
    ``partitions×Q×k`` candidate rows instead of ``N×Q`` scored rows, so
    the shuffle stays metadata-sized no matter how big the corpus is.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    Qn = (Q / np.linalg.norm(Q, axis=1, keepdims=True)).T  # d×Q

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf[vec_col]), dtype=np.float64)
            if C.size == 0:
                continue
            scores = (C / np.linalg.norm(C, axis=1, keepdims=True)) @ Qn  # b×Q
            outs = []
            for j, qid in enumerate(q_ids):
                s = scores[:, j]
                mask = ids != qid  # exclude self-match
                cand_ids, cand_s = ids[mask], s[mask]
                # exact partial top-k under (cosine desc, vec_id asc):
                # lexsort's last key is primary
                order = np.lexsort((cand_ids, -cand_s))[:k]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": cand_ids[order],
                            "cosine": cand_s[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = corpus.select(id_col, vec_col).mapInPandas(_kernel, out_schema)
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def hyperplane_signature(vec, num_planes: int, dim: int, seed: int = 42):
    """Random-hyperplane LSH bit signature as an int (num_planes ≤ 31).

    Hyperplane p, dimension i has deterministic pseudo-random weight ±1
    from ``xxhash64(p, i, seed)``'s low bit — reproducible across runs,
    no stored model. sign(v·h_p) is bit p of the signature."""
    bits = []
    for p in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.when(
                        F.pmod(F.xxhash64(F.lit(p), i, F.lit(seed)), F.lit(2)) == 0,
                        F.lit(1.0),
                    ).otherwise(F.lit(-1.0)),
                ),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bits.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig


TRAIN_SAMPLE_PER_CELL = 256  # k-means fit sees ≤ this many vectors per cell


def _train_sample(
    c: DataFrame, nlist: int, seed: int, per_cell: int | None = None
) -> DataFrame:
    """Deterministic, partitioning-independent sample of the corpus for
    quantizer training, capped at ~``TRAIN_SAMPLE_PER_CELL * nlist``
    rows: keep exactly the ids whose seed-keyed ``xxhash64`` falls under
    a threshold derived from the corpus row count. Unlike
    ``DataFrame.sample`` (partition-layout-dependent) the kept set is a
    pure function of (ids, nlist, seed), so a rebuilt or repartitioned
    corpus trains the identical quantizer.

    Cost discipline: corpora at or under the cap (every retrain-on-store
    path, all test SFs) are detected with a short-circuiting ``limit``
    probe — at most ``cap+1`` id rows touched per partition, never a full
    count. Above the cap, ONE id-pruned ``count()`` sizes the threshold:
    that single pass is irreducible for a deterministic
    partition-independent sample (the hash predicate can't come from
    metadata) and is amortized into an index build that already pays a
    full assignment pass plus the k-means iterations; the alternative
    (``KMeans.fit(corpus)`` directly) re-scans the corpus EVERY
    iteration — the 100-TB killer when ``nlist ∝ N``. The kept set is
    guarded against pathological id sets (massive vec_id collisions can
    starve the hash-bucket filter): a sample with fewer than ``nlist``
    rows falls back to the full corpus so ``KMeans(k=nlist)`` always
    sees at least k candidates. 256 samples/centroid is the standard
    IVF training density (FAISS's documented default regime)."""
    cap = (per_cell or TRAIN_SAMPLE_PER_CELL) * nlist
    ids = c.select("vec_id")
    if ids.limit(cap + 1).count() <= cap:
        return c
    n = ids.count()
    buckets = 1 << 20
    keep = -(-cap * buckets // n)  # ceil: expected sample size >= cap
    sampled = c.filter(
        F.pmod(
            F.xxhash64(F.col("vec_id").cast("string"), F.lit(seed)), F.lit(buckets)
        )
        < keep
    )
    # persist-then-count: the count that guards the k>n KMeans crash is
    # the same scan that materializes the ~cap-row cache the fit's
    # iterations read — the guard costs no extra corpus pass (bounded to
    # one live cache via scoped_persist)
    from ._cache import scoped_persist

    sampled = scoped_persist(sampled, "similarity.train_sample")
    if sampled.count() < nlist:
        return c
    return sampled


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer
    partitions the corpus into ``nlist`` cells; each query scores only its
    ``nprobe`` nearest cells.

    Index build = one KMeans fit on a DETERMINISTIC HASH-SAMPLE (seed-keyed
    ``xxhash64(vec_id)`` threshold, capped at ~256·nlist vectors — see
    ``_train_sample``) + one full-corpus assignment pass; the cell id
    becomes the shuffle/partition key, so a query reads ~``nprobe/nlist``
    of the corpus instead of all of it. Sampling the fit is what keeps the
    build LINEAR at 100 TB: with ``nlist ∝ N`` a full-corpus fit would
    re-scan the corpus every k-means iteration (the one super-linear term
    this operator used to carry); the sample is partitioning-independent
    (pure hash predicate), so the trained quantizer is stable for a given
    (corpus, nlist, seed). Centroids are tiny (nlist × dim) and ride along
    as a broadcast join — the corpus is never collected.

    Assignment deliberately stays on ``model.transform`` — a SHUFFLE-FREE
    narrow map (JVM BLAS argmin per row). The deterministic twin
    (:func:`ivf_topk_fixed`) now matches this shape with a Python-side
    BLAS argmin kernel (:func:`_assign_cells_blas`): O(N) assignment
    rows, no corpus shuffle, no N×nlist intermediate."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )

    train = _train_sample(c, nlist, seed).select(
        array_to_vector("c_vec").alias("features")
    )
    model = KMeans(k=nlist, seed=seed, featuresCol="features", predictionCol="cell").fit(train)

    assigned = model.transform(
        c.select("vec_id", "c_vec", array_to_vector("c_vec").alias("features"))
    ).select("vec_id", "c_vec", "cell")

    # (cell, centroid) relation — nlist rows, broadcastable by construction
    centroids = q.sparkSession.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )

    # nprobe nearest cells per query (query set is small: cross join against
    # nlist centroids, rank by L2 distance)
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "dist2",
        F.aggregate(
            F.zip_with("q_vec", "centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda s, v: s + v,
        ),
    )
    probe_w = W.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cell"))
    probes = (
        qc.withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_vec", "cell")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization approximate top-k — the memory-compression
    scale path: each d-dim vector is stored as ``m`` one-byte codes
    (here 8 bytes instead of 512), and queries score codes via ADC
    (asymmetric distance computation) lookup tables instead of touching
    raw vectors. At 100 TB this is the difference between the index
    fitting in executor memory or not (FAISS's IVF-PQ storage layout).

    Deterministic seed codebooks (the ``codebook_size`` lowest-id corpus
    vectors, split into ``m`` subspaces — same device as the IVF oracle
    variant's seed quantizer) make the WHOLE pipeline reproducible in
    ANSI SQL, so encode→ADC→rank is value-checkable against a DuckDB
    oracle; swap in k-means-trained codebooks per subspace for recall.

    Plan shape: codebooks and the query set ride in kernel closures
    (broadcast-small); the corpus streams ONCE through an Arrow-batched
    encode+score kernel that emits per-batch partial top-k under the
    total order (adc_dist asc, vec_id asc) — exact w.r.t. the quantized
    distances, with a metadata-sized final ranking shuffle exactly like
    :func:`cosine_topk_blas`. Returns (query_id, vec_id, adc_dist, rank).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    _, books, sub = _pq_seed_books(corpus, codebook_size, m, id_col, vec_col)

    q_rows = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    if not q_rows:  # empty queries: empty result, not a shape error
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, vec_id long, adc_dist double, rank int"
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    # ADC tables: for each query and subspace, distance to every centroid
    # — Qn×m×cb doubles, computed once on the driver (chunked: cb ∝
    # corpus under the maintenance contract, Q can be a real batch)
    adc = np.stack(
        [_sqdist_chunked(Q[:, s * sub : (s + 1) * sub], books[s]) for s in range(m)],
        axis=1,
    )  # q×m×cb

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            if V.size == 0:
                continue
            # encode: per subspace, nearest centroid (ties → lowest code,
            # numpy argmin picks the first = lowest index)
            codes = np.stack(
                [
                    _argmin_sqdist_chunked(V[:, s * sub : (s + 1) * sub], books[s])
                    for s in range(m)
                ],
                axis=1,
            )  # b×m — running argmin: no b×cb matrix, cb ∝ corpus
            outs = []
            for j, qid in enumerate(q_ids):
                # ADC score: sum of per-subspace table lookups
                s_dist = adc[j][np.arange(m)[None, :], codes].sum(axis=1)  # b
                mask = ids != qid
                cand_ids, cand_d = ids[mask], s_dist[mask]
                order = np.lexsort((cand_ids, cand_d))[:k]
                outs.append(
                    pd.DataFrame(
                        {"query_id": qid, "vec_id": cand_ids[order], "adc_dist": cand_d[order]}
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = with_double_embedding(corpus, vec_col).select(id_col, vec_col).mapInPandas(
        _kernel, out_schema
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


def _pq_seed_books(corpus: DataFrame, codebook_size: int, m: int, id_col: str, vec_col: str):
    """Deterministic seed codebooks + centroids for the oracle-checkable
    IVF-PQ path: the lowest-id corpus vectors, split per subspace."""
    import numpy as np

    rows = (
        with_double_embedding(
            corpus.filter(F.col(id_col) < codebook_size).orderBy(id_col), vec_col
        )
        .select(vec_col)
        .collect()
    )
    C = np.array([r[0] for r in rows], dtype=np.float64)
    d = C.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    return C, [C[:, s * sub : (s + 1) * sub] for s in range(m)], sub


def _sqdist_chunked(A, B, budget: int = 1 << 24):
    """Exact squared-L2 distance matrix (|A|×|B|) without materializing
    the |A|×|B|×d broadcast intermediate. Each (i, j) entry is computed
    by the SAME per-element arithmetic as
    ``((A[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)`` — B is merely
    processed in row chunks — so every distance, every argmin and every
    first-minimum tie-break is bit-identical to the unchunked form (the
    oracles recompute these values; they must not move). The 3-D
    temporary is capped at ~``budget`` float64s (default 128 MB, one
    in-place-squared array per chunk); the RETURNED |A|×|B| matrix
    still scales with |B| — callers that only need assignments use
    :func:`_argmin_sqdist_chunked`, which folds the chunks into a
    running argmin and allocates nothing |B|-sized. This matters
    because B is the centroid/codebook table and the IVF maintenance
    contract scales nlist (and codebook_size) ∝ corpus: at nlist=1600
    the broadcast form materialized ~8 GB per Arrow batch per worker
    and crashed the executors (r15 K=100 index build)."""
    import numpy as np

    a, d = A.shape

    def block(chunk):
        dv = A[:, None, :] - chunk[None, :, :]
        np.square(dv, out=dv)  # in place: one a×step×d temporary, not two
        return dv.sum(axis=2)

    step = max(1, int(budget // max(1, a * d)))
    if step >= B.shape[0]:
        return block(B)
    return np.concatenate(
        [block(B[s : s + step]) for s in range(0, B.shape[0], step)],
        axis=1,
    )


def _argmin_sqdist_chunked(A, B, budget: int = 1 << 24):
    """``_sqdist_chunked(A, B).argmin(axis=1)`` without materializing
    the |A|×|B| distance matrix either: a running (min, argmin) folds
    over the same chunks, with a strict ``<`` update so the FIRST
    minimum wins across chunk boundaries — exactly ``np.argmin``'s
    first-minimum tie rule on the full matrix, entry arithmetic
    unchanged. This is the assignment path's memory story completed:
    the 3-D intermediate is chunk-bounded (above) AND the 2-D result
    no longer grows with nlist/codebook_size, so encode memory is
    genuinely corpus-independent (the full-matrix form still backs the
    callers that need every distance, e.g. query-side ADC tables and
    nprobe cell ranking, whose output is bounded by the query batch).

    Precondition: FINITE inputs (np.argmin's full-matrix tie rule for
    NaN — "first NaN position wins" — cannot be reproduced by a
    strict ``<`` fold across chunks, and no caller feeds non-finite
    embeddings: the encode/assign paths operate on parquet float
    columns the health checks screen). B must be non-empty — argmin
    over zero candidates has no value (np.argmin raises too)."""
    import numpy as np

    if B.shape[0] == 0:
        raise ValueError("_argmin_sqdist_chunked: empty candidate set B")
    a, d = A.shape
    step = max(1, int(budget // max(1, a * d)))
    best = None
    best_idx = None
    for s in range(0, B.shape[0], step):
        dv = A[:, None, :] - B[s : s + step][None, :, :]
        np.square(dv, out=dv)
        dist = dv.sum(axis=2)
        idx = dist.argmin(axis=1)
        val = dist[np.arange(a), idx]
        if best is None:
            best, best_idx = val, idx + s
        else:
            upd = val < best  # strict: earlier chunk keeps ties (first-min)
            best = np.where(upd, val, best)
            best_idx = np.where(upd, idx + s, best_idx)
    return best_idx


def _pq_encode_kernel(
    cents, books, m: int, sub: int, id_col: str, vec_col: str, keep_vec: bool = False
):
    """Arrow-batched assignment+encode kernel shared by index build and
    append: argmin-L2 coarse cell (ties → lowest cell: np.argmin picks
    the first minimum) plus per-subspace nearest-codebook-entry codes.
    Centroids/codebooks ride in the closure — nothing shuffles.
    ``keep_vec=True`` additionally carries the raw float64 vector into
    a ``c_vec`` output column — the refine store (FAISS
    IndexRefineFlat analog) that makes exact rescoring a
    partition-pruned GET instead of a second corpus scan; parquet's
    columnar layout means code-only scans never read those pages."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    fields = [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
    if keep_vec:
        fields.append(T.StructField("c_vec", T.ArrayType(T.DoubleType())))
    fields.append(T.StructField("cell", T.IntegerType()))
    out_schema = T.StructType(fields)

    def _kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            if V.size == 0:
                continue
            # chunked running argmin: cents/books rows scale ∝ corpus
            # (nlist contract) — the kernel's memory must not; neither
            # the 3-D temporary NOR a batch×nlist distance matrix may
            # materialize (r15 K=100 OOM lesson)
            cells = _argmin_sqdist_chunked(V, cents)
            codes = np.stack(
                [
                    _argmin_sqdist_chunked(V[:, s * sub : (s + 1) * sub], books[s])
                    for s in range(m)
                ],
                axis=1,
            )
            out = {
                "vec_id": ids,
                "codes": [list(map(int, r)) for r in codes],
            }
            if keep_vec:
                out["c_vec"] = [row.tolist() for row in V]
            out["cell"] = cells.astype("int32")
            yield pd.DataFrame(out)

    return _kernel, out_schema


def _load_pq_meta(spark: SparkSession, index_path: str) -> dict:
    """The snapshot's layout metadata (``_quantizer/meta.json``) via one
    small read — never a data-directory listing. Resolves the live
    snapshot (idempotent on a pinned one). The stamp is written once
    per snapshot, atomically, by build or retrain, and compact copies
    it verbatim — nothing rewrites it in place — so a missing or
    unparseable stamp is external damage and raises a repair-oriented
    error instead of degrading to a guess."""
    meta_path = f"{live_root(spark, index_path)}/_quantizer/meta.json"
    try:
        return json.loads(read_small_file(spark, meta_path))
    except (Py4JJavaError, ValueError) as e:
        raise ValueError(
            f"missing or corrupt IVF-PQ meta stamp {meta_path} "
            f"({type(e).__name__}) — restore it to the build's "
            '{"store_vectors", "nlist", "m", "n_rows"} JSON, or rebuild '
            "the index with build_ivf_pq_index"
        ) from None


def _load_pq_quantizer(spark: SparkSession, index_path: str):
    """(centroids, codebooks, m, sub) from the index's ``_quantizer/``
    store — metadata-sized (nlist×dim + m×codebook×sub doubles).
    Resolves the live snapshot (idempotent on a pinned root)."""
    import numpy as np

    qroot = f"{live_root(spark, index_path)}/_quantizer"
    cent_rows = spark.read.parquet(f"{qroot}/centroids").orderBy("cell").collect()
    cents = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    book_rows = spark.read.parquet(f"{qroot}/codebooks").orderBy("s", "code").collect()
    m = 1 + max(r["s"] for r in book_rows)
    books = [
        np.array([r["subvector"] for r in book_rows if r["s"] == s], dtype=np.float64)
        for s in range(m)
    ]
    return cents, books, m, books[0].shape[1]


def append_ivf_pq_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """INCREMENTAL index maintenance — the reason the inverted file is a
    partition layout: new vectors are encoded with the STORED quantizer
    (no retrain, no rebuild, no touch of existing codes) and appended
    into their cells' partitions. At 100 TB an hourly embedding batch
    costs one narrow encode pass over the batch plus appends into the
    affected cell directories — O(batch), never O(index) — the same
    amortization contract as persist_corpus_bands and the zone-map
    refresh. Centroids stay fixed between rebuilds (the FAISS
    ``add``-after-``train`` contract); periodic retrain-and-rebuild
    handles drift.

    The append resolves the live snapshot ONCE and writes into it IN
    PLACE (new files in existing ``cell=N`` dirs — concurrent readers
    of the same snapshot see pre- or post-append rows per the parquet
    job commit, never torn files). It is part of the single-writer
    maintenance family: an append racing a compact/retrain publish
    would land rows in the snapshot the publish is about to supersede
    and lose them at the pointer flip — same contract as every
    file-level table maintenance protocol."""
    spark = new_vectors.sparkSession
    live = live_root(spark, index_path)  # resolve ONCE
    cents, books, m, sub = _load_pq_quantizer(spark, live)
    # a refine-store index (c_vec column, build_ivf_pq_index
    # store_vectors=True) appends vectors too
    keep_vec = bool(_load_pq_meta(spark, live)["store_vectors"])
    kernel, out_schema = _pq_encode_kernel(
        cents, books, m, sub, id_col, vec_col, keep_vec=keep_vec
    )
    (
        with_double_embedding(new_vectors, vec_col)
        .select(id_col, vec_col)
        .mapInPandas(kernel, out_schema)
        # one small shuffle of the ENCODED batch → one file per touched
        # cell per append (same clustering rationale as the build; an
        # unshuffled partitionBy append would add a file per
        # (input split x touched cell) every batch and re-grow the
        # file-count the clustered build bounded)
        .repartition(F.col("cell"))
        .sortWithinPartitions("cell", "vec_id")  # see build: leading cell
        # key keeps Spark from inserting its own (stability-unguaranteed)
        # sort above the vec_id order
        .write.partitionBy("cell")
        .mode("append")
        .parquet(live)
    )
    return index_path


def _list_cell_dirs(spark: SparkSession, live: str) -> list[str]:
    """A resolved snapshot's ``cell=N`` partition directories, by cell —
    one exact-path listing, O(nlist) driver-side metadata. A
    MAINTENANCE-time listing (build/compact/audit), never on the query
    path, which stays directory-enumerated via :func:`_read_index_cells`."""
    return [p for _, p in sorted(numbered_dirs(spark, live, "cell=").items())]


def _cell_file_stats(spark: SparkSession, live: str) -> dict:
    """{n_cells, n_files, max_files_per_cell} of a resolved snapshot of
    either cell-partitioned store — metadata-only."""
    counts = [data_file_count(spark, d) for d in _list_cell_dirs(spark, live)]
    return {
        "n_cells": len(counts),
        "n_files": sum(counts),
        "max_files_per_cell": max(counts, default=0),
    }


def ivf_pq_index_file_stats(spark: SparkSession, index_path: str) -> dict:
    """Metadata-only small-files health number for an IVF-PQ index —
    the signal a maintenance loop watches to schedule
    :func:`compact_ivf_pq_index`: every :func:`append_ivf_pq_index`
    batch adds one file per touched cell, so ``max_files_per_cell``
    counts the appends since the last build/compact and is exactly the
    number of footer opens each probed-cell GET pays per cell. Stats
    cover the LIVE snapshot only (retained grace copies and crashed
    stages are retention concerns, not file health). Returns
    {n_cells, n_files, max_files_per_cell}."""
    return _cell_file_stats(spark, live_root(spark, index_path))


def vacuum_ivf_pq_index(spark: SparkSession, index_path: str) -> dict:
    """Owner-invoked retention: drop every snapshot except the live
    one (the grace copy a publish retains is for in-flight readers;
    once the owner knows readers have drained — e.g. a maintenance-cron
    tick later — this reclaims the disk). Returns {version, removed}."""
    return vacuum(spark, index_path)


def read_ivf_pq_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The live snapshot's full rows (vec_id, codes[, c_vec], cell) —
    the supported way to scan a whole index (``spark.read.parquet`` of
    the ROOT would see every retained snapshot at once). One pointer
    read + one partitioned scan of ``{root}/v=P``; ``_quantizer`` is
    underscore-hidden from the partition discovery."""
    return spark.read.parquet(live_root(spark, index_path))


def compact_ivf_pq_index(spark: SparkSession, index_path: str) -> dict:
    """Collapse each cell of a live IVF-PQ index back to ONE
    vec_id-sorted file — the maintenance twin of
    :func:`compact_corpus_cells` for the inverted-file layout.

    Why it exists: :func:`build_ivf_pq_index` establishes a
    one-sorted-file-per-cell contract (probed reads open O(nprobe × Q)
    files; vec_id row-group pruning works because each cell's rows are
    id-sorted in one file), but :func:`append_ivf_pq_index` adds one
    file per touched cell PER BATCH — after B hourly appends a hot
    cell holds B files, the refine GET pays B footer opens per probed
    cell, and the contract erodes with append count (r15 verdict).
    Periodic compaction restores it without retraining: the quantizer,
    every code, every c_vec, and therefore every search/rescore result
    are BIT-IDENTICAL before and after (this is a pure re-layout; the
    catalog key ann_ivf_pq_compact pins hash-equality against the
    from-scratch-build oracle).

    Mechanics (the versioned publish of operators/_publish.py, shared
    with the cells store): after sweeping any crashed prior stage, read
    the live snapshot's ``cell=N`` dirs (basePath keeps the partition
    column), re-cluster
    with the build's own repartition(cell) +
    sortWithinPartitions(cell, vec_id) — one shuffle of the
    codes(+refine) table, the standard clustering-write cost — writing
    DIRECTLY to the next snapshot directory ``{root}/v=P+1`` (invisible
    to every reader: the pointer still names v=P), copy the quantizer
    verbatim, then PUBLISH by rewriting the one ``_VERSION`` pointer
    file (atomic rename). No directory is ever renamed or deleted on
    the publish path, so:

    * a CRASH at any point leaves the pointer naming a complete
      snapshot — an unfinished v=P+1 is garbage the next maintenance
      entry sweeps (``_publish.entry_sweep``), never something a
      reader can resolve;
    * a CONCURRENT reader holds snapshot isolation: it resolved the
      pointer once and reads an immutable tree; the publish retains
      the previous snapshot one more generation
      (``_publish.publish``), so even a reader that resolved
      just before the flip scans to completion. Identical content
      either way — compaction is a pure re-layout.

    Concurrency contract: any number of concurrent readers; maintenance
    itself is single-writer — exactly one compact/retrain/append job
    per index at a time (two writers could both stage v=P+1), the
    standard contract for file-level table maintenance (Delta/Iceberg
    compactors assume the same via their commit protocol). Scale
    shape: one shuffle of ~9 B/vector codes (plus c_vec for refine
    stores), no driver-side data, listing O(nlist) at maintenance time
    only; the row count rides the staging write itself via
    ``Observation`` (zero extra read). Disk high-water mark is two
    snapshots between publishes — the Delta/Iceberg retention
    trade; :func:`vacuum_ivf_pq_index` reclaims to one once readers
    drain. Returns {files_before, files_after,
    max_files_per_cell_before, max_files_per_cell_after, n_cells,
    n_rows, version, versions_swept}."""
    from pyspark.sql import Observation

    base = index_path.rstrip("/")
    live = live_root(spark, base)
    # entry sweep: crashed stages (v > pointer) and aged grace copies
    swept = entry_sweep(spark, base)
    before = _cell_file_stats(spark, live)
    cell_dirs = _list_cell_dirs(spark, live)
    if not cell_dirs:
        raise ValueError(f"no cell directories under {live}")
    new_v = next_version(spark, base)
    target = f"{base}/v={new_v}"

    df = spark.read.option("basePath", live).parquet(*cell_dirs)
    obs = Observation("compact_rows")
    (
        df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        .repartition(F.col("cell"))
        # leading cell key: satisfies the dynamic-partition writer's
        # required ordering so Spark inserts no Sort of its own above
        # the vec_id order (same rationale as the build)
        .sortWithinPartitions("cell", "vec_id")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(target)
    )
    n_rows = int(obs.get["n_rows"])  # measured BY the write job itself
    # the quantizer (centroids + codebooks + meta.json) is carried
    # bit-exact: compaction is a pure re-layout
    copy_tree(spark, f"{live}/_quantizer", f"{target}/_quantizer")
    publish(spark, base, new_v)
    after = _cell_file_stats(spark, target)
    return {
        "files_before": before["n_files"],
        "files_after": after["n_files"],
        "max_files_per_cell_before": before["max_files_per_cell"],
        "max_files_per_cell_after": after["max_files_per_cell"],
        "n_cells": after["n_cells"],
        "n_rows": n_rows,
        "version": new_v,
        "versions_swept": swept,
    }


def profile_cell_skew(
    spark: SparkSession, index_path: str, with_total: bool = False
) -> DataFrame:
    """Cell-population skew audit for an IVF(-PQ) index — the rebalance
    signal the maintenance contract needs: nlist scales ∝ corpus to
    keep cells bounded, but a SKEWED embedding distribution
    concentrates vectors in few cells regardless, and stage-1
    probed-cell scans then degrade toward linear (probing the hot cell
    reads a corpus-sized fraction). One column-pruned scan of the
    index's partition column (``cell`` — no code/c_vec pages decoded)
    → per-cell counts, share of corpus, and ``skew`` = count / the
    BALANCED-CELL budget total/nlist (the FAISS imbalance-factor
    denominator): the max row's skew is the factor by which the
    hottest probed cell exceeds the cost the nlist sizing assumed.
    nlist comes from the meta stamp (one small read); EMPTY cells count
    in the denominator — r17 fix: a mean over non-empty cells only
    read a fully-degenerate quantizer (every vector in ONE cell, the
    other nlist−1 cells empty → no dirs on disk) as skew 1.0,
    blinding the gauge to exactly the pathology it exists to catch.
    A maintenance
    loop triggers :func:`retrain_ivf_pq_index` when max skew crosses
    its threshold — see ``ivf_rebalance_needed``. Returns
    (cell, n_vectors, share, skew) ordered hottest-first (ties → cell
    asc)."""
    live = live_root(spark, index_path)  # resolve ONCE: the scan
    # and the meta stamp must come from the same snapshot
    counts = (
        spark.read.parquet(live)
        .groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    nlist = int(_load_pq_meta(spark, live)["nlist"])
    # global window over the nlist-row aggregate: ONE index scan in the
    # plan (a crossJoin-with-total twin re-derives the counts lineage
    # and scans twice — verified via executedPlan FileScan count); the
    # single-task window is fine because its input is already reduced
    # to one row per non-empty cell
    w_all = W.partitionBy()
    budget = F.sum("n_vectors").over(w_all) / F.lit(nlist)
    cols = [
        F.col("cell"),
        F.col("n_vectors"),
        F.round(F.col("n_vectors") / F.sum("n_vectors").over(w_all), 4).alias(
            "share"
        ),
        F.round(F.col("n_vectors") / budget, 4).alias("skew"),
    ]
    if with_total:
        # exact corpus total rides the same single scan — callers
        # (retrain sizing via ivf_rebalance_needed) get n_rows with no
        # second pass; opt-in so the audit's public schema stays stable
        cols.append(F.sum("n_vectors").over(w_all).alias("n_total"))
    return counts.select(*cols).orderBy(F.desc("n_vectors"), F.asc("cell"))


def ivf_rebalance_needed(
    spark: SparkSession, index_path: str, max_skew: float = 4.0
) -> dict:
    """Driver-side rebalance decision over :func:`profile_cell_skew`:
    ``{"rebalance": bool, "max_skew": float, "hot_cell": int,
    "n_rows": int}``. The collect is ONE row (the profile's
    hottest-first head; ``n_rows`` = the exact corpus total that rode
    the same scan — :func:`retrain_ivf_pq_index` sizes its target
    nlist from it with no extra pass). 4.0 default: a probed hot cell
    costing >4× the balanced-cell budget is the point where
    re-training centroids (periodic rebuild — the FAISS
    re-train-on-drift contract) beats riding the skew."""
    top = profile_cell_skew(spark, index_path, with_total=True).limit(1).collect()
    if not top:
        return {"rebalance": False, "max_skew": 0.0, "hot_cell": -1, "n_rows": 0}
    r = top[0]
    return {
        "rebalance": bool(r["skew"] > max_skew),
        "max_skew": float(r["skew"]),
        "hot_cell": int(r["cell"]),
        "n_rows": int(r["n_total"]),
    }


def maintain_ivf_pq_index(
    spark: SparkSession,
    index_path: str,
    max_files_per_cell: int = 8,
    max_skew: float = 4.0,
    retrain: bool = False,
    fit_sample_per_cell: int | None = None,
    fit_max_iter: int | None = None,
    fit_init_mode: str | None = None,
) -> dict:
    """One maintenance tick for a live IVF-PQ index — the runbook the
    append/compact/skew pieces compose into (the semantic-cells store's
    compact/retrain lifecycle, mapped onto the index layout):

    0. entry sweep (``_publish.entry_sweep``, metadata-only):
       crashed staged snapshots (v > pointer) and grace copies older
       than one publish are reclaimed — the single recovery path of
       the version-pointer protocol, so the tick's gauges never see
       (or pay for) a dead tree;
    1. file health (:func:`ivf_pq_index_file_stats`, metadata-only):
       when appends have grown any cell past ``max_files_per_cell``
       files, COMPACT (one clustering shuffle, values bit-identical,
       restores the one-sorted-file-per-cell GET cost);
    2. skew health (:func:`profile_cell_skew`, one zero-column scan):
       when the hottest cell exceeds ``max_skew`` × the balanced-cell
       budget, signal RETRAIN — the lever is
       :func:`retrain_ivf_pq_index` (k-means centroids re-fit on the
       deterministic hash-sample at a corpus-derived target nlist,
       codes re-encoded, published by pointer flip). By default the
       tick only FLAGS it: retraining changes cell assignments, i.e.
       the index's physical layout version, so its timing belongs to
       the owner's rollout policy, exactly like retrain_corpus_cells
       vs compact_corpus_cells. ``retrain=True`` opts the tick into
       performing it inline, passing the already-measured skew through
       (exactly TWO zero-column skew scans per retraining tick —
       decision + verification — r17 verdict task 6).

    Hourly appends + this tick on a cron = a production index that
    never degrades: compaction keeps the per-cell file count O(1)
    between ticks, and the retrain flag bounds how far a drifting
    embedding distribution can erode the nlist sizing. Returns
    {compacted: bool, compact_stats: dict|None, retrain_needed: bool,
    retrained: bool, retrain_stats: dict|None, skew: dict, files: dict,
    versions_swept: list}."""
    swept = entry_sweep(spark, index_path)
    files = ivf_pq_index_file_stats(spark, index_path)  # raises if unpublished
    compact_stats = None
    if files["max_files_per_cell"] > max_files_per_cell:
        compact_stats = compact_ivf_pq_index(spark, index_path)
        # the compactor already re-listed the tree for its return dict —
        # reuse its after-stats instead of a third listing (r16 verdict
        # task 6)
        files = {
            "n_cells": compact_stats["n_cells"],
            "n_files": compact_stats["files_after"],
            "max_files_per_cell": compact_stats["max_files_per_cell_after"],
        }
    skew = ivf_rebalance_needed(spark, index_path, max_skew=max_skew)
    retrain_stats = None
    if retrain and skew["rebalance"]:
        # pass the measured skew through and reuse the retrainer's own
        # after-verification — two skew scans total, not four
        retrain_stats = retrain_ivf_pq_index(
            spark, index_path, skew_before=skew, max_skew=max_skew,
            fit_sample_per_cell=fit_sample_per_cell, fit_max_iter=fit_max_iter,
            fit_init_mode=fit_init_mode,
        )
        skew = retrain_stats["skew_after"]
    return {
        "compacted": compact_stats is not None,
        "compact_stats": compact_stats,
        "retrain_needed": skew["rebalance"],
        "retrained": retrain_stats is not None,
        "retrain_stats": retrain_stats,
        "skew": skew,
        "files": files,
        "versions_swept": swept,
    }


def derive_ivf_nlist(n_rows: int, fit_nlist: int, fit_rows: int | None) -> int:
    """The retrain target nlist from the observed corpus size (r17
    verdict task 2): the IVF sizing rule keeps CELLS bounded —
    ``nlist ∝ corpus`` — so the per-cell row budget chosen at the last
    fit (``fit_rows / fit_nlist``) is the invariant, and a corpus now
    ``g×`` larger needs ``ceil(g × fit_nlist)`` cells. Integer-exact
    ceiling arithmetic (no float division) so the ann_ivf_pq_retrain
    oracle replays it verbatim in SQL; never shrinks below the current
    nlist (a smaller quantizer only ever comes from an explicit
    ``nlist=`` override). ``fit_rows=None`` (an index stamped before
    the build recorded its row count) keeps the current nlist."""
    if not fit_rows:
        return int(fit_nlist)
    return max(int(fit_nlist), -(-int(n_rows) * int(fit_nlist) // int(fit_rows)))


def retrain_ivf_pq_index(
    spark: SparkSession,
    index_path: str,
    nlist: int | None = None,
    seed: int = 42,
    trained: bool = True,
    skew_before: dict | None = None,
    max_skew: float = 4.0,
    fit_sample_per_cell: int | None = 64,
    fit_max_iter: int | None = 10,
    fit_init_mode: str | None = None,
) -> dict:
    """Act on the retrain signal :func:`maintain_ivf_pq_index` raises:
    re-fit the coarse quantizer on the CURRENT vectors — at a target
    nlist DERIVED from the current corpus size
    (:func:`derive_ivf_nlist`; explicit ``nlist=`` overrides) — and
    republish the index with fresh cell assignments, restoring the
    balanced-cell budget the nlist sizing assumed. The FAISS
    re-train-on-drift contract for the persisted-index layout,
    mirroring :func:`retrain_corpus_cells` on the cells store
    (including its growth policy made automatic: the cells store's
    caller passes the grown nlist by hand; here the meta stamp carries
    the last fit's row count, so the tick grows the quantizer itself).

    Mechanics:

    * requires a REFINE-STORE index (``store_vectors=True``): PQ codes
      are lossy, so the exact vectors needed to re-fit and re-assign
      live only in the ``c_vec`` column (FAISS analog: you can retrain
      an ``IndexRefineFlat``'s coarse quantizer from its flat store; a
      codes-only index must be rebuilt from the source corpus via
      :func:`build_ivf_pq_index`);
    * the quantizer is k-means fit on the deterministic hash-sample
      (:func:`_trained_centroid_rows` → ``_train_sample``, capped
      ~256·nlist rows) — train cost O(nlist·d) per iteration however
      large the index; ``trained=False`` swaps in the deterministic
      seed quantizer for oracle-replayable tests;
    * PQ CODEBOOKS are kept: codes depend only on the codebooks, not
      on cells, so re-encoding against the unchanged books reproduces
      byte-identical codes — the one Arrow-batched kernel pass
      (:func:`_pq_encode_kernel`) recomputes cells and codes together,
      which is cheaper than carrying old codes through a second O(N)
      join just to skip the GEMMs;
    * the new tree (cells + ``_quantizer`` with the new centroids, the
      carried-over codebooks, and a re-stamped meta recording the new
      nlist and row count) is written DIRECTLY to the next snapshot
      ``{root}/v=P+1`` — invisible until the one-file ``_VERSION``
      pointer flip publishes it. There is no
      moment without a live root: a reader that resolved v=P keeps a
      complete immutable tree (retained one more generation) and one
      that resolves after the flip gets v=P+1 — full pre-retrain or
      full post-retrain results, never an error, never a mix of old
      cells with a new quantizer. A crash anywhere leaves the pointer
      on v=P and an unfinished v=P+1 the next maintenance entry
      sweeps.

    Scale shape: one full read of the refine store (irreducible — the
    re-assignment must see every vector), one clustering shuffle of
    the encoded rows, sampled k-means, no driver-side data beyond the
    nlist×d centroid matrix. The encode + clustering shuffle is the
    build's exact cost; the ONE term retrain carries beyond the build
    is the k-means fit, and its cost model deserves honesty (measured
    at 1×/10×/100×, PROBES_r18.jsonl runs A/B/G/H; the
    ``ann_ivf_pq_retrain`` row of scripts/scale_probe.py tracks it):
    per iteration the fit pays ``sample × nlist`` distance GEMMs, and
    because the sample cap
    scales with nlist (``256·nlist``, FAISS's documented training
    density) while ``nlist ∝ corpus``, the fit's TOTAL work grows
    quadratically in corpus size and overtakes the linear encode once
    the cap stops binding — measured retrain/build 2.6× → 1.8× → 7.3×
    across the three octaves. The fit is fully distributed (MLlib over
    the sampled DataFrame, parallel across executors), so this is
    compute, not a driver bottleneck, but at large nlist the knobs
    bound it: ``fit_sample_per_cell`` tightens the per-centroid sample
    (FAISS warns below ~39/centroid; 64 is a practical floor),
    ``fit_max_iter`` caps the iteration multiplier (MLlib default 20),
    and ``fit_init_mode="random"`` replaces the k-means|| seeding
    passes — whose cost dominates at large k and which ``maxIter``
    does not touch — with FAISS's standard seeded point draw. Since
    r19 the CAPPED budget (64 samples/cell, 10 iterations) is the
    default — the r18 probe ladder (PROBES_r18.jsonl runs G/H)
    measured that cell at 172.5 s → 112.1 s at the 100× octave with
    the pytest nprobe<nlist recall gate green; k-means|| seeding is
    deliberately KEPT as the default init because the full tuned cell
    with ``init_mode="random"`` (85.7 s at 100×) intermittently fails
    the ≥0.9 recall gate when retraining from a genuinely stale
    quantizer (measured r19: 1-in-3 on the drift fixture — MLlib's
    random draw is partitioning-sensitive even when seeded), and a
    maintenance default must not gamble recall for the last 1.3×.
    Callers that pair the cheap draw with their own recall acceptor
    pass ``fit_init_mode="random"`` explicitly; pass
    ``fit_sample_per_cell=256, fit_max_iter=20`` to request the
    pre-r19 untuned budget. The structural fix beyond flat k-means — a
    hierarchical/IMI coarse quantizer whose fit is O(sample·√nlist) —
    is the documented next step if nlist outgrows the knobs.
    ``skew_before`` (an :func:`ivf_rebalance_needed` dict) lets the
    maintenance tick pass its already-measured signal through instead
    of paying a second zero-column scan. Returns {nlist_before,
    nlist_after, n_rows, max_skew_before, max_skew_after, trained,
    version, skew_after}."""
    import numpy as np

    base = index_path.rstrip("/")
    live = live_root(spark, base)
    entry_sweep(spark, base)
    meta = _load_pq_meta(spark, live)
    cents_old, books, m, sub = _load_pq_quantizer(spark, live)
    if not meta["store_vectors"]:
        raise ValueError(
            "retrain_ivf_pq_index needs a refine-store index (c_vec) — "
            "codes are lossy; rebuild from the source corpus with "
            "build_ivf_pq_index(..., store_vectors=True)"
        )
    nlist_before = int(cents_old.shape[0])
    if skew_before is None:
        skew_before = ivf_rebalance_needed(spark, index_path, max_skew=max_skew)
    n_now = int(skew_before["n_rows"])
    if nlist is not None:
        nlist = int(nlist)
    else:
        nlist = derive_ivf_nlist(
            n_now, nlist_before, meta.get("n_rows")
        )

    cell_dirs = _list_cell_dirs(spark, live)
    if not cell_dirs:
        raise ValueError(f"no cell directories under {live}")
    vecs = (
        spark.read.option("basePath", live)
        .parquet(*cell_dirs)
        .select("vec_id", "c_vec")
    )
    centroid_rows = (
        _trained_centroid_rows(
            vecs, nlist, seed,
            sample_per_cell=fit_sample_per_cell, max_iter=fit_max_iter,
            init_mode=fit_init_mode,
        )
        if trained
        else _seed_centroid_rows(vecs, nlist)
    )
    cents_new = np.array([v for _, v in centroid_rows], dtype=np.float64)

    new_v = next_version(spark, base)
    target = f"{base}/v={new_v}"
    from pyspark.sql import Observation

    kernel, out_schema = _pq_encode_kernel(
        cents_new, books, m, sub, "vec_id", "c_vec", keep_vec=True
    )
    obs = Observation("retrain_rows")
    (
        vecs.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        .mapInPandas(kernel, out_schema)
        # same clustering write as the build: one shuffle → one
        # vec_id-sorted file per cell (leading cell key satisfies the
        # dynamic-partition writer's ordering; no extra Sort inserted)
        .repartition(F.col("cell"))
        .sortWithinPartitions("cell", "vec_id")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(target)
    )
    n_rows = int(obs.get["n_rows"])
    _write_quantizer(
        spark, target, cents_new, books, m,
        {"store_vectors": True, "nlist": int(nlist), "m": int(m), "n_rows": n_rows},
    )
    # staged snapshot is a COMPLETE index — publish by pointer flip
    publish(spark, base, new_v)
    skew_after = ivf_rebalance_needed(spark, index_path, max_skew=max_skew)
    return {
        "nlist_before": nlist_before,
        "nlist_after": int(nlist),
        "n_rows": n_rows,
        "max_skew_before": float(skew_before["max_skew"]),
        "max_skew_after": float(skew_after["max_skew"]),
        "trained": bool(trained),
        "version": new_v,
        "skew_after": skew_after,
    }


def _write_quantizer(
    spark: SparkSession, root: str, cents, books, m: int, meta: dict
) -> None:
    """Persist a quantizer (centroids + codebooks + meta stamp) under
    ``{root}/_quantizer`` — shared by build and retrain so the two
    creation paths cannot drift. All inputs are metadata-sized
    (nlist×dim + m×codebook×sub doubles)."""
    qroot = f"{root.rstrip('/')}/_quantizer"
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{qroot}/centroids")
    spark.createDataFrame(
        [
            (s, j, [float(x) for x in books[s][j]])
            for s in range(m)
            for j in range(books[s].shape[0])
        ],
        "s int, code int, subvector array<double>",
    ).write.mode("overwrite").parquet(f"{qroot}/codebooks")
    write_small_file(spark, f"{qroot}/meta.json", json.dumps(meta))


def build_ivf_pq_index(
    corpus: DataFrame,
    index_path: str,
    nlist: int = 8,
    m: int = 8,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    store_vectors: bool = False,
) -> str:
    """Build a persisted IVF-PQ index — the FAISS index layout mapped
    onto Spark storage primitives:

    * the INVERTED FILE is a Hive partition layout: the codes table is
      written ``partitionBy(cell)``, so a search touching ``nprobe``
      cells is an ordinary partition-pruned scan — Catalyst skips the
      other cells' files entirely, which is exactly what an IVF index
      means at 100 TB;
    * each vector is stored as ``m`` one-byte PQ codes (8 B instead of
      512 B) plus its id — assignment and encode happen in ONE
      Arrow-batched pass over the corpus (centroids and codebooks ride
      in the kernel closure, nothing shuffles);
    * the quantizer (centroids + codebooks) persists under
      ``_quantizer/`` inside the snapshot — underscore-hidden from
      the partitioned scan, self-describing for search;
    * the whole tree lives in a SNAPSHOT directory ``{root}/v=N``
      named by the one ``{root}/_VERSION`` pointer file (the versioned
      publish of operators/_publish.py, shared with the cells store):
      build, compact and retrain all stage the next
      snapshot invisibly and commit it with one atomic pointer
      rewrite, readers resolve the pointer once per operation and
      hold snapshot isolation across any concurrent publish, and
      crash recovery is a single sweep of unreferenced versions —
      the partition-decorator WRITE_TRUNCATE idempotency contract the
      reference builds on (ingestion/bigquery_interaction.py:20,
      README.md:34-39), applied to index snapshots.

    Deterministic seed quantizer (lowest-id vectors) keeps the whole
    index reproducible in SQL; production swaps k-means training in.

    ``store_vectors=True`` additionally stores each raw float64 vector
    in a ``c_vec`` column of the SAME partitioned table — the FAISS
    ``IndexRefineFlat`` layout mapped onto parquet: because parquet is
    columnar, the ADC search's code scan still reads only
    (vec_id, codes, cell) pages (8 B of codes per vector; assert via
    ``.explain`` ReadSchema), while :func:`ivf_pq_rescore_topk`
    resolves its Q×shortlist exact-rescore lookups against the c_vec
    pages of ONLY the probed cells — partition-pruned gets instead of
    a second full-corpus scan. Rows are sorted by vec_id within each
    cell's files so the id-IN pushdown also prunes row groups (parquet
    min/max stats), keeping the get cost bounded by the shortlist
    rather than the cell population.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    from pyspark.sql import Observation

    C, books, sub = _pq_seed_books(corpus, codebook_size, m, id_col, vec_col)
    cents = C[:nlist]

    base = index_path.rstrip("/")
    new_v = next_version(spark, base)
    target = f"{base}/v={new_v}"
    kernel, out_schema = _pq_encode_kernel(
        cents, books, m, sub, id_col, vec_col, keep_vec=store_vectors
    )
    obs = Observation("build_rows")
    (
        with_double_embedding(corpus, vec_col)
        .select(id_col, vec_col)
        .mapInPandas(kernel, out_schema)
        # CLUSTER the encoded rows by cell before the partitioned write:
        # without this, every input split emits a file into every cell
        # it touches — O(splits x nlist) small files, and since the
        # maintenance contract scales nlist ∝ corpus, the index's FILE
        # COUNT would grow with the corpus and every probed-cell read
        # (search scan AND rescore get) would pay corpus-proportional
        # footer opens (measured: the r15 K=10 probe read the rescore
        # get climbing before this change). One shuffle of the encoded
        # rows at BUILD time — the standard clustering-write cost —
        # buys one sorted file per cell: reads open O(nprobe x Q)
        # files however large the corpus, and vec_id-sorted row groups
        # prune inside them.
        .observe(obs, F.count(F.lit(1)).alias("n_rows"))
        .repartition(F.col("cell"))
        # sort by (cell, vec_id): the leading cell key satisfies the
        # dynamic-partition writer's required ordering, so Spark does
        # NOT insert its own Sort(cell) above this one — an insert
        # whose stability is not contractual and could silently undo
        # the vec_id order the row-group-pruning contract depends on
        .sortWithinPartitions("cell", "vec_id")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(target)
    )
    # meta records the fit-time row count (measured BY the write via
    # Observation, zero extra pass): retrain's corpus-derived nlist
    # sizing divides today's count by this density baseline
    _write_quantizer(
        spark, target, cents, books, m,
        {
            "store_vectors": bool(store_vectors),
            "nlist": int(nlist),
            "m": int(m),
            "n_rows": int(obs.get["n_rows"]),
        },
    )
    publish(spark, base, new_v)
    return index_path


def ivf_pq_search(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a :func:`build_ivf_pq_index` index: per query, rank the
    ``nprobe`` nearest cells by centroid distance, then ADC-score ONLY
    those cells' codes. The cell restriction is a partition filter on
    the index scan — Catalyst prunes every other cell's files before a
    byte is read (assert via ``.explain``: PartitionFilters on ``cell``).
    Raw vectors are never touched at search time; the scan is 8 B of
    codes per corpus vector in the probed cells (the index read is
    column-pruned to (vec_id, codes, cell), so a refine-store index's
    c_vec pages are never decoded here). Returns
    (query_id, vec_id, adc_dist, rank) under (adc asc, vec_id asc)."""
    live = live_root(spark, index_path)  # pin ONE snapshot for
    # the quantizer load and the cell scans — a publish landing mid-
    # search can never mix two versions' artifacts
    scored = _ivf_pq_adc_scored(
        spark, live, queries, k, nprobe, id_col, vec_col
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


def _ivf_pq_adc_scored(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared stage 1 of :func:`ivf_pq_search` and
    :func:`ivf_pq_rescore_topk`: per query, the ``nprobe`` nearest
    cells by centroid distance, then ADC scores for ONLY those cells'
    codes, with a per-Arrow-batch partial top-k. Emits
    (query_id, vec_id, cell, adc_dist) — ``cell`` rides along so the
    rescore stage can turn its float lookups into partition-pruned
    gets. The probed-cell restriction is a static partition filter on
    the (column-pruned) index scan. ``index_path`` is resolved to the
    live snapshot here (idempotent when the caller already pinned it —
    both public entry points do, so the quantizer and the cells always
    come from ONE version)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    index_path = live_root(spark, index_path)
    cents, books, m, sub = _load_pq_quantizer(spark, index_path)

    q_rows = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    if not q_rows:  # empty queries: empty result, not a shape error
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cell int, adc_dist double"
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    # probe cells per query: nprobe nearest centroids, ties -> lowest
    # cell (chunked: nlist/cb ∝ corpus; driver memory stays O(Q x nlist))
    cd = _sqdist_chunked(Q, cents)
    probe_sets = [
        set(np.lexsort((np.arange(cents.shape[0]), cd[j]))[:nprobe].tolist())
        for j in range(len(q_ids))
    ]
    all_cells = sorted(set().union(*probe_sets)) if probe_sets else []
    adc = np.stack(
        [_sqdist_chunked(Q[:, s * sub : (s + 1) * sub], books[s]) for s in range(m)],
        axis=1,
    )  # q×m×cb

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            if codes.size == 0:
                continue
            outs = []
            for j, qid in enumerate(q_ids):
                mask = np.isin(cells, list(probe_sets[j])) & (ids != qid)
                if not mask.any():
                    continue
                cand_ids, cand_codes = ids[mask], codes[mask]
                s_dist = adc[j][np.arange(m)[None, :], cand_codes].sum(axis=1)
                order = np.lexsort((cand_ids, s_dist))[:k]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": cand_ids[order],
                            "cell": cells[mask][order].astype("int32"),
                            "adc_dist": s_dist[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    store = (
        _read_index_cells(spark, index_path, all_cells) if all_cells else None
    )
    if store is None:  # no queries, or every probed cell is empty
        return spark.createDataFrame([], out_schema)
    index = store.select("vec_id", "codes", "cell")  # never decode c_vec pages
    return index.mapInPandas(_kernel, out_schema)


def _read_index_cells(spark: SparkSession, index_path: str, cells: list) -> DataFrame:
    """Read ONLY the given cells' partition directories of the LIVE
    index snapshot. A full-root read would LIST the whole ``cell=N``
    tree — O(nlist) driver-side metadata, and the IVF maintenance
    contract scales nlist ∝ corpus, so a full-root read makes every
    query batch pay corpus-proportional listing (measured: the r15
    decomposition saw end-to-end rescore growing ~0.5 s per extra root
    listing at 10x while both stages' data work stayed flat).
    Enumerating the probed directories caps the listing at
    O(len(cells)) = O(nprobe x Q), corpus-independent; ``basePath``
    keeps the ``cell`` partition column alive. The redundant
    ``isin`` partition filter stays as defense in depth (it also makes
    the pruning visible in the plan's PartitionFilters).

    A probed cell can be EMPTY (a centroid no corpus vector maps to
    writes no ``cell=N`` dir), so each candidate dir is existence-
    probed first with a metadata-only EXACT-path ``fs.exists``
    (``_publish.path_exists`` — any Hadoop FS, not just
    local; not globStatus, which would interpret ``[{*?`` in a
    user-supplied index_path as glob syntax and silently return
    "missing" → empty search results, r15 ADVICE): O(len(cells)) stat
    calls, still corpus-independent.

    PUBLISH-WINDOW SAFETY: resolution pins ONE snapshot
    (``_publish.live_root``), and snapshots are immutable once
    published — a compaction or retrain landing between this probe and
    the Spark scan writes a NEW ``v=N`` directory and flips the
    pointer, never touching the resolved one, which the publish
    retains a full extra generation for exactly this reader. Callers
    that already hold a resolved root pay no I/O for the re-resolve
    (resolution is idempotent by name)."""
    base = live_root(spark, index_path)
    paths = []
    for c in cells:
        p = f"{base}/cell={int(c)}"
        if path_exists(spark, p):
            paths.append(p)
    if not paths:
        return None  # every probed cell empty — caller picks its semantics
    df = spark.read.option("basePath", base).parquet(*paths)
    return df.filter(F.col("cell").isin([int(c) for c in cells]))


def ivf_pq_rescore_topk(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN whose stage 2 is STORE-BACKED — the 100-TB follow-up
    :func:`int8_rescore_topk`'s docstring names (and the r14 probes
    showed that operator's broadcast-join stage 2 does NOT deliver: it
    re-scans the full float corpus, measured exponent ~0.31-0.37 at
    K=30). Here both stages are index reads (FAISS IndexIVFPQ +
    IndexRefineFlat, mapped onto one parquet layout by
    :func:`build_ivf_pq_index` ``store_vectors=True``):

    * stage 1 — ADC shortlist of ``shortlist`` per query over the
      ``nprobe`` probed cells' PQ codes (partition-pruned, 8 B/vector,
      column-pruned away from the c_vec pages);
    * stage 2 — exact float64 cosine over ONLY the Q×shortlist
      survivors, resolved against the SAME index's ``c_vec`` column as
      a partition-pruned get: the shortlist (collected driver-side —
      Q×shortlist rows, metadata-sized) carries each candidate's cell
      from stage 1, so the read is filtered to the probed cells
      (static partition pruning) AND the candidate ids (parquet
      row-group pruning — the build sorts each cell's files by vec_id,
      and the session raises the parquet IN-pushdown threshold so the
      id set reaches the reader as per-row-group filters). The float
      pages touched are bounded by the shortlist, independent of the
      corpus — the contract the broadcast-join variant could not keep.

    Scale shape: no corpus shuffle anywhere; stage-1 output is a
    partial top-k per Arrow batch; stage-2 reads O(Q x shortlist) rows
    however large the index grows. Every ADC distance, cosine,
    tie-break and rank is reproducible verbatim in ANSI SQL (seed
    quantizer + float64 arithmetic), so the whole two-stage pipeline is
    value-checkable. Returns (query_id, vec_id, cosine, rank) under
    (cosine desc, vec_id asc)."""
    shortlist = max(shortlist, k)
    live = live_root(spark, index_path)  # pin ONE snapshot: the
    # meta check, stage-1 scan and stage-2 refine GET must all read the
    # same immutable tree even if a publish lands between the stages.
    # Fail fast BEFORE paying the stage-1 scan: the build stamps
    # store_vectors into _quantizer/meta.json (one small read)
    if not _load_pq_meta(spark, live)["store_vectors"]:
        raise ValueError(
            "ivf_pq_rescore_topk needs a refine-store index — rebuild with "
            "build_ivf_pq_index(..., store_vectors=True)"
        )
    scored = _ivf_pq_adc_scored(
        spark, live, queries, shortlist, nprobe, id_col, vec_col
    )
    w1 = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    short = (
        scored.withColumn("rnk", F.row_number().over(w1))
        .filter(F.col("rnk") <= shortlist)
        .select("query_id", "vec_id", "cell")
        .collect()  # bounded: Q x shortlist rows of ids — metadata-sized
    )
    if not short:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cosine double, rank int"
        )
    return _refine_rescore(spark, live, short, queries, k, id_col, vec_col)


def _refine_rescore(
    spark: SparkSession,
    index_path: str,
    short: list,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stage 2 of :func:`ivf_pq_rescore_topk` in isolation — the refine
    GET: resolve the collected (query_id, vec_id, cell) shortlist rows
    against the index's ``c_vec`` column (partition filter on the
    shortlist's cells + id-IN row-group pruning over the build's
    one-sorted-file-per-cell layout), exact-cosine against the
    broadcast queries, rank, top-k. Split out so the contract — the
    get reads O(Q x shortlist) rows however large the index grows —
    is probeable on its own (scripts/scale_probe.py times this helper
    with a fixed pre-collected shortlist; the end-to-end operator
    re-runs stage 1 internally, which would conflate the two stages'
    scaling)."""
    cells = sorted({r["cell"] for r in short})
    ids = sorted({r["vec_id"] for r in short})
    pairs = spark.createDataFrame(
        [(r["query_id"], r["vec_id"]) for r in short], "query_id long, vec_id long"
    )
    # the GET: directory-enumerated read of the shortlist's cells only
    # (listing O(|cells|), never O(nlist)) + id IN filter (row-group
    # pruning over vec_id-sorted files) — reads ~|shortlist| rows' float
    # pages, never the corpus
    store = _read_index_cells(spark, index_path, cells)
    if store is None:  # unreachable: shortlist rows came from these cells
        raise ValueError(f"shortlist cells missing under {index_path}")
    vecs = store.filter(F.col("vec_id").isin(ids)).select("vec_id", "c_vec")
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    exact = (
        vecs.join(F.broadcast(pairs), "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            _dot(F.col("c_vec"), F.col("q_vec"))
            / (_norm(F.col("c_vec")) * _norm(F.col("q_vec"))),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for all
    pairs with cosine ≥ ``threshold`` (id_a < id_b).

    Exact mode (``num_planes=None``) self-joins the corpus — O(N²), the
    verification oracle. Scale mode buckets both sides with the same
    hyperplane signature first, so only same-bucket pairs are scored:
    near-identical vectors almost always share all sign bits, shrinking
    the join to O(N²/2^planes) per bucket at the cost of missing pairs
    that straddle a hyperplane."""
    v = with_double_embedding(df, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    if num_planes is not None:
        v = v.withColumn("bucket", hyperplane_signature(F.col("vec"), num_planes, dim))
        join_on = [F.col("a.bucket") == F.col("b.bucket")]
    else:
        join_on = []
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.vid") < F.col("b.vid")
    for c in join_on:
        cond = cond & c
    return (
        a.join(b, cond)
        .withColumn(
            "cosine",
            _dot(F.col("a.vec"), F.col("b.vec")) / (_norm(F.col("a.vec")) * _norm(F.col("b.vec"))),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            "cosine",
        )
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: score only within the query's hyperplane
    bucket. One shuffle on the bucket key; bucket sizes ≈ N/2^planes, so
    cost drops from O(N·Q) to O(N·Q/2^planes) with tunable recall."""
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = c.withColumn("bucket", hyperplane_signature(F.col("c_vec"), num_planes, dim))
    q = q.withColumn("bucket", hyperplane_signature(F.col("q_vec"), num_planes, dim))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _probe_buckets(bucket, num_planes: int, probes: int):
    """Multi-probe expansion: the bucket itself plus the ``probes``
    nearest neighbor buckets at Hamming distance 1 (single sign-bit
    flips). Probe buckets are pairwise distinct by construction, so no
    candidate dedup is needed downstream."""
    cols = [bucket]
    for p in range(min(probes, num_planes)):
        cols.append(bucket.bitwiseXOR(F.lit(1 << p)))
    return F.array(*cols)


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    probes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    signature=None,
) -> DataFrame:
    """Multi-probe hyperplane LSH top-k: each query scores its own bucket
    AND the ``probes`` buckets one sign-flip away. A true neighbor lands
    in a different bucket only when some hyperplane separates it from the
    query; flipping one bit at a time recovers exactly the
    one-plane-straddle misses — the dominant loss mode — lifting recall
    toward exact at ~(probes+1)× candidate cost, WITHOUT duplicating the
    corpus into multiple tables (the classic recall fix, num_tables×
    memory, is the expensive alternative at 100 TB).

    Plan shape: corpus signature is a narrow map; the query side explodes
    to (probes+1) rows per query and broadcasts; one bucket-equality
    join; per-query top-k window. Probe buckets are distinct, so each
    candidate pair appears at most once — no dropDuplicates shuffle."""
    sig_fn = signature or (
        lambda vec: hyperplane_signature(vec, num_planes, dim)
    )
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = c.withColumn("bucket", sig_fn(F.col("c_vec")))
    q = q.withColumn("bucket0", sig_fn(F.col("q_vec"))).select(
        "query_id",
        "q_vec",
        F.explode(_probe_buckets(F.col("bucket0"), num_planes, probes)).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def md5_signature(num_planes: int, dim: int):
    """Signature column builder over md5-derived literal hyperplanes
    (:func:`hyperplane_weights_md5`) — SQL-reproducible, for oracle
    twins."""
    weights = hyperplane_weights_md5(num_planes, dim)

    def signature(vec):
        sig = None
        for p, w in enumerate(weights):
            proj = F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(x) for x in w]), lambda a, b: a * b),
                F.lit(0.0),
                lambda s, v: s + v,
            )
            bit = F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
        return sig

    return signature


def radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range (radius) similarity search: all corpus vectors within a
    cosine threshold of each query — the "find everything similar
    enough" variant of top-k (dedup sweeps, recall-oriented retrieval).
    Queries broadcast, corpus streamed once, JVM-side dot products;
    unlike top-k there is no per-query window, so the plan is a pure
    broadcast nested loop + filter — no shuffle at all."""
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    return (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("query_id", "vec_id", "cosine")
    )


def hyperplane_weights_md5(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix derived from md5("p_<p>_<i>")
    parity — computed driver-side at plan-build time (hashlib.md5 equals
    SQL md5 byte-for-byte), so a SQL oracle can regenerate the identical
    planes and the whole LSH path becomes value-checkable. The matrix is
    num_planes × dim literals (~tiny); it rides into the plan as
    constants, never as data."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"p_{p}_{i}".encode()).hexdigest()[:7], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_bucket_topk_md5(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    num_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`lsh_bucket_topk` with md5-derived literal hyperplanes —
    the oracle-checkable twin (xxhash64 planes cannot be reproduced in
    SQL). Same plan shape: signature as int bucket, broadcast query
    side, one bucket-equality join, per-query top-k window."""
    weights = hyperplane_weights_md5(num_planes, dim)

    def signature(vec):
        sig = None
        for p, w in enumerate(weights):
            proj = F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(x) for x in w]), lambda a, b: a * b),
                F.lit(0.0),
                lambda s, v: s + v,
            )
            bit = F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
        return sig

    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = c.withColumn("bucket", signature(F.col("c_vec")))
    q = q.withColumn("bucket", signature(F.col("q_vec")))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v|/127,
    q_i = round(v_i / scale) ∈ [-127, 127]. The 4× memory cut that makes
    a 100 TB embedding corpus broadcast- and cache-friendly for ANN;
    reconstruction error is bounded by scale/2 per component. Pure array
    expressions — narrow map, no shuffle, no UDF."""
    v = with_double_embedding(df, vec_col)
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = absmax / F.lit(127.0)
    return v.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.transform(
            F.col(vec_col), lambda x: F.round(x / scale).cast("int")
        ).alias("q"),
    )


def _assign_cells_blas(
    c: DataFrame, centroid_rows, chunk: int = 256
) -> DataFrame:
    """Coarse-quantizer cell assignment as a BLAS argmin mapInPandas
    kernel: O(N) output rows instead of the O(N·nlist) intermediate a
    ``crossJoin(broadcast(centroids)) + groupBy struct-min`` materializes.

    At the SemDeDup paper's own cluster-scaling rule (11k clusters for
    440M vectors) the crossJoin shape is an 11,000× row blowup evaluating
    a 64-dim distance expression per row — the assignment, not the
    per-cell pair join, becomes the dominant cost. Here each Arrow batch
    computes squared L2 distances to the broadcast centroid matrix via
    the quadratic form ``|x|² - 2x·cᵀ + |c|²`` (one GEMM per centroid
    chunk, chunked so the work array stays ``batch×chunk``) and emits one
    ``(vec_id, cell, c_vec)`` row per vector. Ties on distance keep the
    LOWEST cell — same tie-break as the lexicographic struct-min it
    replaces, because the running minimum only updates on strictly
    smaller distance.

    ``centroid_rows``: list of (cell, centroid) pairs, cell = 0..nlist-1,
    already sorted by cell. Input ``c`` must have columns
    ``(vec_id, c_vec)`` with c_vec array<double>.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cent = np.array([list(v) for _, v in centroid_rows], dtype=np.float64)
    cent_sq = (cent**2).sum(axis=1)

    id_field = c.schema["vec_id"]
    out_schema = T.StructType(
        [
            T.StructField("vec_id", id_field.dataType),
            T.StructField("cell", T.IntegerType()),
            T.StructField("c_vec", T.ArrayType(T.DoubleType())),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["c_vec"]), dtype=np.float64)  # b×d
            x_sq = (X**2).sum(axis=1)
            best = np.full(len(X), np.inf)
            best_cell = np.zeros(len(X), dtype=np.int32)
            for lo in range(0, len(cent), chunk):
                sub, sub_sq = cent[lo : lo + chunk], cent_sq[lo : lo + chunk]
                d = x_sq[:, None] - 2.0 * (X @ sub.T) + sub_sq[None, :]  # b×chunk
                local = d.argmin(axis=1)
                local_min = d[np.arange(len(X)), local]
                upd = local_min < best  # strict: earlier (lower) cell wins ties
                best[upd] = local_min[upd]
                best_cell[upd] = local[upd] + lo
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": best_cell,
                    "c_vec": pdf["c_vec"],
                }
            )

    # NOTE: deliberately no ensure_min_parallelism here — measured at
    # sf0.1 the repartition shuffle of the vector column costs more than
    # the parallel GEMM saves (the kernel is a thin BLAS call, not
    # interpreted per-row work like the text kernels that do gate).
    return c.select("vec_id", "c_vec").mapInPandas(_kernel, out_schema)


def _seed_centroid_rows(c: DataFrame, nlist: int):
    """nlist deterministic seed centroids: the corpus vectors with the
    smallest ids, cell = rank by vec_id. One bounded collect (nlist rows,
    the broadcast-small side) — the k-means|| init step without the
    iterations."""
    rows = c.orderBy("vec_id").limit(nlist).collect()
    return [(i, list(r["c_vec"])) for i, r in enumerate(rows)]


def _trained_centroid_rows(
    c: DataFrame,
    nlist: int,
    seed: int = 42,
    sample_per_cell: int | None = None,
    max_iter: int | None = None,
    init_mode: str | None = None,
):
    """Trained k-means centroids, fit on the deterministic hash-sample
    (:func:`_train_sample`, capped ~256·nlist vectors) — the PRODUCTION
    quantizer the seed-vector path (:func:`_seed_centroid_rows`) stands
    in for in the oracle-checked twins. Same return shape
    ``[(cell, [float, ...])]`` so every consumer (freeze into the store's
    ``_centroids/``, :func:`_assign_cells_blas` broadcast) is shared.
    Sampling the fit is the 100-TB contract: with ``nlist ∝ N`` a
    full-corpus fit re-scans the corpus every k-means iteration; the
    sample keeps train cost O(nlist·d) per iteration regardless of
    corpus size, and the hash predicate makes the fit a pure function
    of (ids, nlist, seed) — partitioning-independent, so a rebuilt
    corpus trains the identical quantizer."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = _train_sample(c, nlist, seed, per_cell=sample_per_cell).select(
        array_to_vector("c_vec").alias("features")
    )
    km = KMeans(k=nlist, seed=seed, featuresCol="features", predictionCol="cell")
    if max_iter is not None:
        # fit-budget knob (see retrain_ivf_pq_index): per-iteration fit
        # cost is sample × nlist GEMMs, so the iteration count is a
        # direct multiplier on the one super-build-cost term retrain has
        km = km.setMaxIter(int(max_iter))
    if init_mode is not None:
        # "random" collapses the k-means|| seeding passes (whose cost
        # dominates at large k and which maxIter does not touch) to a
        # seeded draw of k sample points — FAISS's standard IVF
        # training initialization
        km = km.setInitMode(init_mode)
    model = km.fit(train)
    return [
        (i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())
    ]


def ivf_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k with a DETERMINISTIC coarse quantizer: the centroids are
    the ``nlist`` corpus vectors with the smallest ids (seed vectors, the
    k-means|| init step without the iterations).

    The cross-engine-reproducible twin of :func:`ivf_topk`: no random
    k-means training, every arithmetic step (sequential sum of squared
    diffs for assignment, cosine re-rank, (dist, cell) tie-breaks) exists
    verbatim in ANSI SQL — so the ENTIRE IVF pipeline (assignment →
    nprobe cell pruning → exact re-rank) is value-checkable by an
    external oracle, where the k-means path can only get a rows-only
    check. Quantization quality is worse than trained centroids; use the
    k-means variant in production, this one to validate the algorithm.

    Shape is identical to the production path: centroids broadcast
    (nlist rows), corpus assignment = BLAS argmin mapInPandas kernel
    emitting O(N) rows (see :func:`_assign_cells_blas` — no N×nlist
    intermediate, no corpus-wide window), probes broadcast, re-rank only
    inside probed cells. The QUERY-side assignment keeps the tiny
    crossJoin (Q×nlist rows, both sides broadcast-small) because the
    oracle needs its nprobe ranking verbatim in SQL.
    """
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )

    # nlist seed rows, collected once (bounded, broadcast-small)
    centroid_rows = _seed_centroid_rows(c, nlist)
    centroids = corpus.sparkSession.createDataFrame(
        centroid_rows, "cell int, centroid array<double>"
    )

    def _dist2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, v: s + v,
        )

    assigned = _assign_cells_blas(c, centroid_rows)

    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "dist2", _dist2(F.col("q_vec"), F.col("centroid"))
    )
    probe_w = W.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cell"))
    probes = (
        qc.withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_vec", "cell")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def semdedup(
    corpus: DataFrame,
    nlist: int = 8,
    min_cosine: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and dropping, WITHIN
    each cluster, every item that has a more-canonical (lower-id)
    neighbor above a cosine threshold — removes paraphrases and
    re-renderings that exact/MinHash dedup cannot see.

    Returns one row per input vector: ``(vec_id, cell, keep)``.

    Deterministic seed-vector coarse quantizer (the :func:`ivf_topk_fixed`
    quantizer) so every step — assignment, within-cell pairing, cosine,
    verdict — exists verbatim in ANSI SQL and the WHOLE pipeline is
    value-checkable by an external oracle; production can swap trained
    k-means centroids into the same shape unchanged.

    Scale shape (100 TB): pairwise cosine is confined INSIDE cells —
    O(Σ cell²) exactly like the LSH bucket join, bounded by growing
    ``nlist`` with the corpus (the paper runs 11k clusters over
    LAION-440M ⇒ ~40k-vector cells). Assignment is a BLAS argmin
    mapInPandas kernel over the broadcast centroid matrix emitting O(N)
    rows (:func:`_assign_cells_blas`) — at the paper's nlist scaling the
    old crossJoin+struct-min assignment materialized N×nlist rows and
    dominated the whole operator; the pair join shuffles on the cell key
    only; no corpus-wide window, no driver state beyond the nlist-row
    centroid collect.
    """
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    centroid_rows = _seed_centroid_rows(c, nlist)

    # Norms are computed ONCE per vector here — inside the O(Σ cell²)
    # pair join each row would otherwise recompute both sides' norms,
    # tripling the dominant expression cost of the whole operator. The
    # norm stays a Catalyst expression (not numpy) so the cosine math is
    # bit-identical to the SQL oracle's. The assignment is PERSISTED
    # (bounded via scoped_persist) because three plan branches consume
    # it (pair-join left, pair-join right, final verdict join) — without
    # the cache each branch re-derives its whole lineage and the GEMM
    # kernel runs 3x per action (measured ~3x the assignment stage at
    # both 1x and 10x; BASELINE.md "Round-11 semantic stage probe").
    from ._cache import scoped_persist

    assigned = scoped_persist(
        _assign_cells_blas(c, centroid_rows).withColumn(
            "c_norm", _norm(F.col("c_vec"))
        ),
        "similarity.semdedup.assigned",
    )
    a = assigned.select("vec_id", "cell", "c_vec", "c_norm")
    b = assigned.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("c_vec").alias("b_vec"),
        F.col("c_norm").alias("b_norm"),
    )
    dropped = (
        a.join(b, (F.col("cell") == F.col("b_cell")) & (F.col("b_vec_id") < F.col("vec_id")))
        .withColumn(
            "cosine",
            _dot(F.col("c_vec"), F.col("b_vec")) / (F.col("c_norm") * F.col("b_norm")),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("vec_id")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .select("vec_id", "cell", F.col("_drop").isNull().alias("keep"))
    )


def _screen_batch(ba: DataFrame, corp: DataFrame, min_cosine: float) -> DataFrame:
    """Shared screening join of the incremental semantic-dedup family:
    assigned batch rows (vec_id, cell, c_vec, c_norm) against a corpus
    side (b_vec_id, b_cell, b_vec, b_norm) — same-cell pairs only, and
    SELF-pairs excluded (b_vec_id != vec_id): on a foreachBatch retry a
    survivor's own already-appended copy shares its vec_id, and without
    the exclusion every re-screened survivor would cosine-1-match
    itself and be falsely dropped. Returns (vec_id, cell, keep).

    The BATCH side is broadcast: it is bounded by the micro-batch
    contract (never the corpus), and ``cell`` has only nlist distinct
    values — a shuffle join on it would funnel the corpus side through
    ≤ nlist reducers, while the broadcast keeps the corpus scan
    map-side with no exchange at all."""
    dropped = (
        F.broadcast(ba).join(
            corp,
            (F.col("cell") == F.col("b_cell"))
            & (F.col("b_vec_id") != F.col("vec_id")),
        )
        .withColumn(
            "cosine",
            _dot(F.col("c_vec"), F.col("b_vec")) / (F.col("c_norm") * F.col("b_norm")),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("vec_id")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        ba.join(dropped, "vec_id", "left")
        .select("vec_id", "cell", F.col("_drop").isNull().alias("keep"))
    )


def semdedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    nlist: int = 8,
    min_cosine: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch-vs-corpus SemDeDup — the continuous-ingestion form of
    :func:`semdedup`, the embedding analogue of
    ``dedup.incremental_dedup_batch``: an arriving micro-batch is
    semantically deduplicated against the ACCUMULATED corpus without
    ever re-pairing the corpus with itself.

    Centroids come from the CORPUS (the stable side — in production the
    persisted k-means model; here the deterministic seed quantizer so
    the whole pipeline stays oracle-checkable). The batch assigns to
    those cells with the same BLAS argmin kernel and pairs ONLY against
    same-cell corpus vectors, so a micro-batch costs O(batch·cell) of
    pairwise work once cells are bounded (nlist ∝ corpus); the corpus
    side is still scanned/assigned here — use the persisted-cells store
    (:func:`persist_corpus_cells` + :func:`semdedup_batch_vs_table`)
    for the steady-state loop that must not re-touch the corpus. Corpus
    membership is canonical by construction (those vectors were already
    accepted), so ANY same-cell corpus neighbor at cosine ≥ threshold
    drops the batch vector — except a row with the batch vector's OWN
    id (retry idempotence, see :func:`_screen_batch`); intra-batch
    pairs are not compared (same stance as the MinHash incremental
    stage — run :func:`semdedup` upstream if intra-batch exactness is
    required).

    Returns one row per BATCH vector: ``(vec_id, cell, keep)``.
    """
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    b = with_double_embedding(batch, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    centroid_rows = _seed_centroid_rows(c, nlist)
    corp = _corpus_side(
        _assign_cells_blas(c, centroid_rows).withColumn("c_norm", _norm(F.col("c_vec")))
    )
    # batch assignment persisted (bounded): _screen_batch consumes it in
    # two branches (screen join + final verdict join), which would each
    # re-run the batch GEMM and re-scan the batch source — batch-bounded
    # work, but free to cache (same reasoning as semdedup's assignment;
    # the store-backed production form localCheckpoints instead)
    from ._cache import scoped_persist

    ba = scoped_persist(
        _assign_cells_blas(b, centroid_rows).withColumn(
            "c_norm", _norm(F.col("c_vec"))
        ),
        "similarity.semdedup_incremental.ba",
    )
    return _screen_batch(ba, corp, min_cosine)


def _corpus_side(stored: DataFrame) -> DataFrame:
    """Stored/assigned rows renamed to :func:`_screen_batch`'s corpus side."""
    return stored.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("c_vec").alias("b_vec"),
        F.col("c_norm").alias("b_norm"),
    )


# -- corpus-cells store -------------------------------------------------------
# A cells store is a root path published through operators/_publish.py:
# ``{root}/v=N/cell=K/`` holds the (vec_id, c_vec, c_norm) rows partitioned
# by cell, and ``{root}/v=N/_centroids/`` the quantizer frozen with that
# snapshot (the same shape as the IVF-PQ index's ``_quantizer/``).


def _read_centroids(spark, live: str):
    """The centroids FROZEN with a resolved snapshot, by cell — never
    re-derived from the store's current lowest ids, which would silently
    re-seed the quantizer (and orphan every stored cell assignment) the
    moment an append carries an id below the original seeds."""
    rows = spark.read.parquet(f"{live}/_centroids").orderBy("cell").collect()
    return [(int(r["cell"]), list(r["c_vec"])) for r in rows]


def read_corpus_cells(spark, cells_root: str) -> DataFrame:
    """The live snapshot's rows (vec_id, c_vec, c_norm, cell) — the
    supported way to scan a cells store: one pointer read + one
    partitioned scan of ``{root}/v=N`` (``_centroids`` is
    underscore-hidden from partition discovery)."""
    return spark.read.parquet(live_root(spark, cells_root))


def drop_corpus_cells(spark, cells_root: str) -> None:
    """Remove a cells store entirely: pointer and every snapshot."""
    delete_path(spark, cells_root)


def _write_cells_snapshot(
    corpus: DataFrame,
    target: str,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = False,
    seed: int = 42,
) -> None:
    """Stage one complete snapshot at ``target``: the data PARTITIONED BY
    ``cell`` with one file per cell (the ``repartition(cell)`` ahead of
    the dynamic-partition write puts each cell in exactly one task),
    then the centroids it was assigned with. ``trained=True`` freezes
    sampled-fit k-means centroids (:func:`_trained_centroid_rows`)
    instead of the deterministic seed vectors — every consumer reads
    ``_centroids`` and is quantizer-agnostic."""
    spark = corpus.sparkSession
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    centroid_rows = (
        _trained_centroid_rows(c, nlist, seed)
        if trained
        else _seed_centroid_rows(c, nlist)
    )
    (
        _assign_cells_blas(c, centroid_rows)
        .withColumn("c_norm", _norm(F.col("c_vec")))
        .repartition(F.col("cell"))
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(target)
    )
    # after the data: an overwrite-mode write clears its target directory
    spark.createDataFrame(
        centroid_rows, "cell int, c_vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{target}/_centroids")


def _audit_store_ids(stored: DataFrame, cells_root: str) -> int:
    """Enforce :func:`append_corpus_cells`'s id-immutability contract at
    the maintenance steps that already scan the whole store: a
    redelivered id with a DIFFERENT embedding assigns to a different
    cell, evades the pruned presence check, and lands as a silent
    duplicate — invisible to the O(batch) ingest path by design, so
    retrain/compact (the only full passes) are where it must surface.
    One aggregate (count + countDistinct in the same job); raises with
    the offending magnitude instead of carrying duplicates into the new
    version. Returns the audited row count."""
    row = stored.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("vec_id").alias("n_ids"),
        # countDistinct ignores NULLs — count them separately or a NULL
        # id would masquerade as (and miscount) an id-duplication defect
        F.sum(F.col("vec_id").isNull().cast("long")).alias("n_null"),
    ).collect()[0]
    if row["n_null"]:
        raise ValueError(
            f"cells store {cells_root} holds {row['n_null']} NULL vec_id "
            "row(s) — ids are the append/dedup key and must be non-null; "
            "repair the source and rebuild via retrain_corpus_cells"
        )
    if row["n"] != row["n_ids"]:
        raise ValueError(
            f"cells store {cells_root} violates the append id-immutability "
            f"contract: {row['n']} rows but {row['n_ids']} distinct vec_ids "
            f"({row['n'] - row['n_ids']} duplicate-id rows — an id was "
            "re-sent with a different embedding; route corrections through "
            "retrain_corpus_cells on corrected vectors, not append)"
        )
    return row["n"]


def persist_corpus_cells(
    corpus: DataFrame,
    cells_root: str,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = False,
    seed: int = 42,
) -> str:
    """Materialize the corpus's cell assignments (+ precomputed norms)
    PARTITIONED BY the cell key — the amortization step for continuous
    semantic dedup, mirroring ``dedup.persist_corpus_bands``: a
    continuously-ingesting pipeline assigns the corpus ONCE, then every
    micro-batch screens against ONLY its touched cell partitions
    (static partition pruning — the batch assigns to ≤ min(|batch|,
    nlist) cells, so the per-batch corpus READ is bounded by the batch,
    not the corpus; the bands store keeps bucketing instead because its
    (band, value) key is high-cardinality, while ``cell`` has exactly
    ``nlist`` values — the hive-partitionable case).

    ``cells_root`` is a versioned-publish root (operators/_publish.py):
    the next snapshot ``v=N+1`` is staged in full, then committed by
    one atomic ``_VERSION`` pointer rewrite — readers never observe a
    missing or half-built store. The superseded snapshot survives one
    more generation for in-flight readers; crashed-build stages and
    older snapshots are swept at the publish. The centroids are FROZEN
    into the snapshot's ``_centroids/`` — the quantizer is part of the
    store's state, never re-derived from the data (an append with a low
    id must not re-seed it). ``trained=False`` (default) freezes the
    deterministic seed vectors — the quantizer every value-exact SQL
    oracle can replay; ``trained=True`` freezes sampled-fit k-means
    centroids (:func:`_trained_centroid_rows` — fit on the
    deterministic ~256·nlist hash-sample, NEVER the full corpus) — the
    production quantizer, identical store shape, so append / screen /
    retrain / compact work unchanged on either."""
    spark = corpus.sparkSession
    new_v = next_version(spark, cells_root)
    _write_cells_snapshot(
        corpus, f"{cells_root.rstrip('/')}/v={new_v}", nlist,
        id_col, vec_col, trained=trained, seed=seed,
    )
    publish(spark, cells_root, new_v)
    return cells_root


def _assign_batch(spark, live: str, batch: DataFrame, id_col: str, vec_col: str):
    """Assign a batch against a resolved snapshot's frozen centroids
    ONCE (localCheckpoint: the GEMM output feeds several branches) and
    read the store PRUNED to the batch's touched cells — a bounded
    collect (≤ min(|batch|, nlist) cell ids) pushed into the scan as a
    static IN filter, so the plan carries PartitionFilters on ``cell``
    and per-batch store I/O is bounded by the batch, never O(corpus).
    Returns (assigned batch, pruned store rows)."""
    b = with_double_embedding(batch, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    ba = _assign_cells_blas(b, _read_centroids(spark, live)).withColumn(
        "c_norm", _norm(F.col("c_vec"))
    ).localCheckpoint(eager=True)
    cells = [r["cell"] for r in ba.select("cell").distinct().collect()]
    stored = spark.read.parquet(live)
    pruned = stored.filter(F.col("cell").isin(cells)) if cells else stored.filter(F.lit(False))
    return ba, pruned


def _append_fresh(rows: DataFrame, pruned: DataFrame, live: str) -> None:
    """Append ``rows`` whose ids the pruned store read does not already
    hold (retry idempotence) into the live snapshot IN PLACE — new
    files in its ``cell=K`` dirs, cast to the stored schema."""
    fresh = rows.join(pruned.select("vec_id"), "vec_id", "left_anti")
    (
        fresh.select(*[F.col(f.name).cast(f.dataType) for f in pruned.schema])
        .write.partitionBy("cell")
        .mode("append")
        .parquet(live)
    )


def append_corpus_cells(
    spark,
    cells_root: str,
    new_vectors: DataFrame,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """O(batch) append of newly-accepted vectors into a
    :func:`persist_corpus_cells` store: the new rows assign against the
    FROZEN centroids of the live snapshot and append into its
    partitioned layout in place — the corpus is never rewritten or
    re-shuffled, so the steady-state ingest loop (screen via
    :func:`semdedup_batch_vs_table` → append survivors) costs only the
    batch at every step. Like :func:`append_ivf_pq_index`, the append
    belongs to the single-writer maintenance family. Ids already
    present are skipped for retry idempotence via an anti-join whose
    store read is PRUNED to the batch's touched cell partitions — sound
    because the frozen centroids make assignment deterministic: a
    previously-appended copy of any batch id lives in exactly the cell
    that id re-assigns to. Corollary contract: an id is IMMUTABLE once
    stored — re-sending an id with a DIFFERENT embedding is a mutation,
    not an append retry (it would assign to a different cell, evade the
    pruned check, and duplicate the id); route corrections through a
    rebuild (:func:`retrain_corpus_cells` on corrected vectors).
    ENFORCED at the next full-store pass: retrain and compact run an
    id-uniqueness audit (:func:`_audit_store_ids`) inside the scan they
    already pay for and raise instead of carrying duplicates forward.
    ``nlist`` is retained for interface symmetry; the quantizer
    geometry comes entirely from the frozen centroids."""
    live = live_root(spark, cells_root)
    ba, pruned = _assign_batch(spark, live, new_vectors, id_col, vec_col)
    _append_fresh(ba, pruned, live)


def retrain_corpus_cells(
    spark,
    cells_root: str,
    nlist: int,
    trained: bool = False,
    seed: int = 42,
) -> dict:
    """Refit the quantizer and remap the whole store — the maintenance
    step that makes the ``nlist ∝ corpus`` rule OPERATIONAL: as the
    corpus grows, cells fatten and the O(Σ cell²) screen degrades, so a
    periodic retrain (e.g. each time the corpus doubles) re-seeds with
    a larger ``nlist``, reassigns every stored vector, and freezes the
    new centroids in the new snapshot. With ``trained=True`` the refit
    is a sampled k-means (:func:`_trained_centroid_rows` — ~256·nlist
    hash-sampled vectors, never a per-iteration full-store scan), so
    retrain stays one assignment pass + one partition shuffle at any
    store size.

    Built entirely through :func:`persist_corpus_cells`: snapshot N+1
    is staged in full (reading snapshot N lazily — it stays intact
    throughout), then published by the pointer flip. A crash mid-build
    leaves the live store untouched plus a stage the next publish
    sweeps. Cost is one full pass over the store (the assignment GEMM +
    one partition shuffle) — amortized across the many O(batch)
    appends it enables. Returns {n_rows, nlist}.
    """
    stored = read_corpus_cells(spark, cells_root)
    n_rows = _audit_store_ids(stored, cells_root)  # doubles as the count
    vectors = stored.select("vec_id", F.col("c_vec").alias("embedding"))
    persist_corpus_cells(vectors, cells_root, nlist=nlist, trained=trained, seed=seed)
    return {"n_rows": n_rows, "nlist": nlist}


def compact_corpus_cells(spark, cells_root: str) -> dict:
    """Collapse the per-append small files of a cells store back to one
    file per cell — the partitioned-store twin of
    :func:`compact_ivf_pq_index`. Assignments and centroids are
    preserved verbatim (no re-seed — this is compaction, not retrain):
    the next snapshot is the live data repartitioned on ``cell`` plus a
    bit-exact copy of the frozen centroids, committed by the same
    pointer flip and grace-generation sweep as every other publish.
    The id-immutability audit runs BEFORE anything is staged, so a
    violating store fails with its pointer untouched. Returns
    {files_before, files_after, n_rows}."""
    base = cells_root.rstrip("/")
    live = live_root(spark, base)
    stored = spark.read.parquet(live)
    n_rows = _audit_store_ids(stored, base)
    before = _cell_file_stats(spark, live)["n_files"]
    new_v = next_version(spark, base)
    target = f"{base}/v={new_v}"
    (
        stored.repartition(F.col("cell"))
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(target)
    )
    copy_tree(spark, f"{live}/_centroids", f"{target}/_centroids")
    publish(spark, base, new_v)
    return {
        "files_before": before,
        "files_after": _cell_file_stats(spark, target)["n_files"],
        "n_rows": n_rows,
    }


def semdedup_batch_vs_table(
    spark,
    cells_root: str,
    batch: DataFrame,
    nlist: int = 8,
    min_cosine: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`semdedup_incremental` against a persisted
    :func:`persist_corpus_cells` store: only the BATCH runs the
    assignment kernel (against the FROZEN centroids — bounded
    metadata), and the corpus read is PRUNED to the batch's touched
    cell partitions (:func:`_assign_batch`) — the per-batch corpus I/O
    is bounded by the batch, never O(corpus). Same screening join (and
    retry-safe self-exclusion) as the direct operator via
    :func:`_screen_batch`. Data and centroids come from ONE resolved
    snapshot. ``nlist`` is retained for interface symmetry. Returns
    one row per batch vector: ``(vec_id, cell, keep)``."""
    live = live_root(spark, cells_root)
    ba, pruned = _assign_batch(spark, live, batch, id_col, vec_col)
    return _screen_batch(ba, _corpus_side(pruned), min_cosine)


def semdedup_ingest_batch(
    spark,
    cells_root: str,
    batch: DataFrame,
    nlist: int = 8,
    min_cosine: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One steady-state micro-batch pass of continuous semantic dedup:
    screen the batch against the persisted cells store AND append the
    survivors, sharing ONE pointer resolution, ONE assignment GEMM,
    ONE touched-cells collect, and ONE pruned store scan — the
    composition the streaming sink runs per trigger (calling
    :func:`semdedup_batch_vs_table` then :func:`append_corpus_cells`
    separately pays all four twice). Returns the screen flags
    ``(vec_id, cell, keep)``, MATERIALIZED before the append so their
    lineage cannot observe the store the append is about to extend.

    Retry semantics are IDENTICAL to the two-call form (same per-pair
    same-id exclusion in :func:`_screen_batch`, same pruned
    already-present anti-join before the append), so the verdicts stay
    value-equal to :func:`semdedup_batch_vs_table` — the property the
    stream/batch equivalence oracle checks. The store CONVERGES under
    replay; only the audit can gain rows (a replay after the append
    committed re-screens against the survivors it appended, so two
    same-batch near-dup survivors can flag each other — an audit-only
    wart of the documented intra-batch-pairs-not-compared stance,
    which consumers dedupe by key). A corpus row is excluded only when
    it shares the batch vector's OWN id — NOT when its id merely
    appears elsewhere in the batch — so an at-least-once source that
    redelivers an old id alongside a genuinely new near-duplicate
    still gets the duplicate caught."""
    live = live_root(spark, cells_root)
    ba, pruned = _assign_batch(spark, live, batch, id_col, vec_col)
    flags = _screen_batch(ba, _corpus_side(pruned), min_cosine).localCheckpoint(eager=True)
    survivors = ba.join(
        flags.filter(F.col("keep")).select("vec_id"), "vec_id", "left_semi"
    )
    _append_fresh(survivors, pruned, live)
    return flags


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized ANN top-k: score int8 codes (:func:`quantize_int8`)
    with an integer GEMM instead of float vectors — the 4× memory-traffic
    cut that lets a 100 TB embedding corpus stream through scoring at
    cache-friendly width. The production follow-up (exact float rescore
    of the shortlist via id point-lookups against the store) is the
    standard two-stage pattern; scoring itself is what moves the bytes.

    Exactness of the APPROXIMATION: integer dot products are exact
    (|dot| ≤ 127²·d, exactly representable in float64), and the score
    ``(dot · c_scale) · q_scale`` uses the published 6-decimal scales in
    a fixed multiply order — so every value, tie-break (score desc,
    vec_id asc), and rank is reproducible verbatim in ANSI SQL and the
    whole quantized pipeline is value-checkable by an external oracle.

    Same shape as :func:`cosine_topk_blas`: queries collected once
    (broadcast-small) into int64 matrices in the kernel closure; each
    corpus Arrow batch emits only its partial top-k per query, so the
    final window ranks partitions×Q×k candidate rows, never N×Q.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cq = quantize_int8(corpus, id_col, vec_col)
    qq = quantize_int8(queries, id_col, vec_col)

    q_rows = qq.collect()
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    Qm = np.array([list(r["q"]) for r in q_rows], dtype=np.int64).T  # d×Q
    q_scale = np.array([r["scale"] for r in q_rows], dtype=np.float64)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf["q"]), dtype=np.int64)  # b×d, int codes
            c_scale = pdf["scale"].to_numpy(dtype=np.float64)
            dots = (C @ Qm).astype(np.float64)  # b×Q, exact integers
            scores = (dots * c_scale[:, None]) * q_scale[None, :]
            outs = []
            for j, qid in enumerate(q_ids):
                mask = ids != qid  # exclude self-match
                cand_ids, cand_s = ids[mask], scores[mask, j]
                order = np.lexsort((cand_ids, -cand_s))[:k]
                outs.append(
                    pd.DataFrame(
                        {"query_id": qid, "vec_id": cand_ids[order], "score": cand_s[order]}
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = cq.select(F.col(id_col), "scale", "q").mapInPandas(_kernel, out_schema)
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")
    )


def int8_rescore_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage quantized ANN — the production follow-up
    :func:`int8_topk`'s docstring names: stage 1 streams the int8 codes
    (4× fewer bytes) through the integer GEMM for a per-query SHORTLIST
    of ``shortlist`` candidates; stage 2 rescores ONLY those Q×shortlist
    candidates with the exact float cosine and re-ranks the top ``k``.
    The quantization error that can reorder near-ties inside the
    shortlist is repaired by the exact pass, which re-ranks a candidate
    set whose SIZE is independent of the corpus.

    Scale shape (100 TB): stage 1 is the :func:`int8_topk` plan
    (partial top-k per Arrow batch, metadata-sized final window); stage
    2 broadcasts the Q×shortlist id set against the float corpus scan —
    no corpus shuffle, but the scan itself is a full pass over the
    float vector column, so stage 2's COST is scan-bound linear in the
    corpus, not flat (measured: r14 K=30 probe runs D/F, stage-2
    increment exponent ~0.31-0.37 — the scan emerging from the
    scheduler floor). Use this variant when the corpus has no
    maintained index; the store-backed path that makes stage 2 a true
    corpus-independent get is :func:`ivf_pq_rescore_topk` (refine
    store, partition-pruned + row-group-pruned id lookups).
    Every score, tie-break, and rank is
    reproducible verbatim in ANSI SQL (exact integer dots + published
    6-decimal scales + float64 cosine), so the whole two-stage pipeline
    is value-checkable. Returns (query_id, vec_id, cosine, rank)."""
    shortlist = max(shortlist, k)  # a shortlist below k cannot fill the top-k
    short = int8_topk(corpus, queries, k=shortlist, id_col=id_col, vec_col=vec_col)
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = with_double_embedding(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    cand = c.join(F.broadcast(short.select("query_id", "vec_id")), "vec_id")
    exact = cand.join(F.broadcast(q), "query_id").withColumn(
        "cosine",
        _dot(F.col("c_vec"), F.col("q_vec"))
        / (_norm(F.col("c_vec")) * _norm(F.col("q_vec"))),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


# Johnson-Lindenstrauss sign source: a two-round multiply-xor mix over
# the flat matrix index, mod 2^31 so every intermediate fits SIGNED
# 64-bit (the SQL oracle replays it in DuckDB BIGINTs — max product
# (2^31-1)*2246822519 < 2^63). A plain LCG is NOT good enough here: its
# low bits alternate and even mid bits leave adjacent output columns
# ~0.97-correlated, destroying the distance-preservation guarantee. The
# mixed version's max |column corr| (0.32 at 64×16) matches a truly
# random ±1 matrix (~0.36 baseline).
_JL_M = 2_147_483_648  # 2^31


def jl_sign_matrix(in_dim: int, out_dim: int):
    """The deterministic ±1 projection matrix (in_dim × out_dim,
    float64), rebuilt identically on every executor — nothing shipped
    or stored. Bit 1 of mix(i*out_dim + j + 1) picks the sign."""
    import numpy as np

    idx = np.arange(in_dim * out_dim, dtype=np.int64).reshape(in_dim, out_dim)
    h = (idx + 1) * np.int64(2654435761) % np.int64(_JL_M)
    h = h ^ (h // np.int64(65536))
    h = h * np.int64(2246822519) % np.int64(_JL_M)
    h = h ^ (h // np.int64(8192))
    bit = (h // np.int64(2)) % np.int64(2)
    return np.where(bit == 0, 1.0, -1.0)


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    in_dim: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: compress each embedding
    from in_dim to out_dim with a deterministic ±1 sign matrix (Achlioptas
    2003 — database-friendly projections), preserving pairwise distances
    within (1±ε) whp. The standard pre-pass that makes downstream ANN /
    clustering / dedup O(out_dim) instead of O(in_dim) per comparison.

    Scale shape: the sign matrix is (in_dim × out_dim) — a closure
    constant, rebuilt identically on every executor from the LCG, nothing
    shipped or stored. Each Arrow batch projects as ONE (batch × in_dim)
    @ (in_dim × out_dim) BLAS matmul (the cosine_topk_blas pattern). The
    whole operator is a narrow map: zero shuffle, no driver state, no
    collect — at 100 TB it pipelines with the scan.

    Emits (id, dim, proj) with the RAW dot product in ``proj`` —
    normalization (/sqrt(out_dim)) and display rounding are left to the
    caller/query so engine-specific rounding stays in one place.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    R = jl_sign_matrix(in_dim, out_dim)

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("proj", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            P = X @ R  # batch × out_dim, one BLAS call
            n, k = P.shape
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, k),
                    "dim": np.tile(np.arange(k, dtype=np.int32), n),
                    "proj": P.ravel(),
                }
            )

    return with_double_embedding(df.select(id_col, vec_col), vec_col).mapInPandas(
        _kernel, out_schema
    )


def jl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    shortlist: int = 15,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JL-prefiltered ANN top-k: candidate generation by cosine in the
    ``out_dim`` projected space, then EXACT re-rank of each query's
    shortlist in the original space.

    The scale rationale: candidate scoring is the O(N·Q) term, and the
    projected GEMM does in_dim/out_dim (4x at 64→16) less arithmetic
    and memory traffic per corpus vector than full-dim scoring, while
    the exact re-rank touches only ``shortlist`` vectors per query.
    Deterministic end to end (the sign matrix is a pure function), so
    unlike classic randomized ANN the whole pipeline — including which
    candidates make the shortlist — is replayable by a SQL oracle, and
    recall against the exact top-k is a testable property, not a hope.

    Same kernel discipline as :func:`cosine_topk_blas`: queries are
    projected once driver-side and shipped in the closure; each corpus
    Arrow batch does ONE (batch × in_dim) @ (in_dim × out_dim) projection
    plus one (batch × out_dim) @ (out_dim × Q) scoring multiply, emitting
    only its partial top-``shortlist`` per query, so the candidate
    shuffle is metadata-sized at any corpus size.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    R = jl_sign_matrix(in_dim, out_dim)

    q_rows = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    QP = np.array([r["q_vec"] for r in q_rows], dtype=np.float64) @ R
    QPn = (QP / np.linalg.norm(QP, axis=1, keepdims=True)).T  # out_dim × Q

    cand_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("jl_cosine", T.DoubleType()),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            CP = np.array(list(pdf[vec_col]), dtype=np.float64) @ R
            norms = np.linalg.norm(CP, axis=1, keepdims=True)
            scores = (CP / np.where(norms == 0.0, 1.0, norms)) @ QPn  # b × Q
            outs = []
            for j, qid in enumerate(q_ids):
                s = scores[:, j]
                mask = ids != qid
                cand_ids, cand_s = ids[mask], s[mask]
                order = np.lexsort((cand_ids, -cand_s))[:shortlist]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": cand_ids[order],
                            "jl_cosine": cand_s[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cand = (
        with_double_embedding(corpus.select(id_col, vec_col), vec_col)
        .mapInPandas(_kernel, cand_schema)
    )
    w_short = W.partitionBy("query_id").orderBy(F.desc("jl_cosine"), F.asc("vec_id"))
    short = (
        cand.withColumn("jl_rank", F.row_number().over(w_short))
        .filter(F.col("jl_rank") <= shortlist)
        .select("query_id", "vec_id")
    )

    # Exact re-rank: the broadcast shortlist semi-prunes the corpus to
    # shortlist×Q rows BEFORE any full-dim arithmetic happens.
    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    q = (
        with_double_embedding(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("q_norm", _norm(F.col("q_vec")))
    )
    scored = (
        c.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * _norm(F.col("c_vec"))),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def semdedup_jl(
    corpus: DataFrame,
    nlist: int = 16,
    min_cosine: float = 0.3,
    cand_cosine: float = 0.05,
    out_dim: int = 32,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with Johnson-Lindenstrauss acceleration, exact verdicts:
    cluster assignment AND candidate generation run in the ``out_dim``
    projected space (half the arithmetic/memory traffic at 64→32), but
    every candidate pair is CONFIRMED with the exact full-dimension
    cosine before a drop verdict — the sketch-prune + exact-confirm
    shape of ``contamination_screen_bloom`` and ``heavy_hitters``
    applied to semantic dedup.

    Why not threshold in projected space directly: JL preserves cosines
    to ADDITIVE error ~1/sqrt(out_dim) (≈0.18 at 32), which swamps a
    0.3 threshold on near-orthogonal pairs; verdicts would be noise.
    With exact confirm, the projection only influences WHICH cell a
    vector lands in and which pairs are scored (candidate recall ≈95%
    at cand_cosine=0.05 on this corpus, pruning ~60% of full-dim pair
    work); the drop decision itself is exact, so drop rates match the
    full-dim operator and residual disagreement is the same clustering
    variance a different k-means seed would produce.

    One fused kernel projects each Arrow batch (GEMM) and assigns cells
    against the projected seed-centroid matrix (chunked quadratic-form
    GEMM, strict-< argmin keeping the lowest cell — identical tie-break
    to ``_assign_cells_blas``), emitting (vec_id, cell, both vectors)
    in O(N) rows. The pair join shuffles on the cell key only; the
    projected-cosine candidate predicate runs BEFORE the full-dim
    cosine in the conjunction, so codegen short-circuits the expensive
    term. Deterministic end to end — the SQL oracle replays projection,
    assignment, candidate prune, and confirm verbatim.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    R = jl_sign_matrix(in_dim, out_dim)

    c = with_double_embedding(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    seed_rows = c.orderBy("vec_id").limit(nlist).collect()
    cent = np.array([list(r["c_vec"]) for r in seed_rows], dtype=np.float64) @ R
    cent_sq = (cent**2).sum(axis=1)

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("c_vec", T.ArrayType(T.DoubleType())),
            T.StructField("p_vec", T.ArrayType(T.DoubleType())),
        ]
    )

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["c_vec"]), dtype=np.float64)
            P = X @ R
            d = (P**2).sum(axis=1)[:, None] - 2.0 * (P @ cent.T) + cent_sq[None, :]
            best = np.full(len(P), np.inf)
            best_cell = np.zeros(len(P), dtype=np.int32)
            for j in range(d.shape[1]):  # strict-< scan keeps lowest cell on ties
                upd = d[:, j] < best
                best[upd] = d[upd, j]
                best_cell[upd] = j
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": best_cell,
                    "c_vec": pdf["c_vec"],
                    "p_vec": list(P),
                }
            )

    # Persisted for the same reason as semdedup's assignment: three plan
    # branches (pair-join left/right, final verdict join) would each
    # re-run the projection+assignment kernel — 3x the GEMM per action
    # (measured on the full-dim twin; BASELINE.md "Round-11 semantic
    # stage probe").
    from ._cache import scoped_persist

    assigned = scoped_persist(
        c.mapInPandas(_kernel, out_schema)
        .withColumn("c_norm", _norm(F.col("c_vec")))
        .withColumn("p_norm", _norm(F.col("p_vec"))),
        "similarity.semdedup_jl.assigned",
    )
    a = assigned.select("vec_id", "cell", "c_vec", "p_vec", "c_norm", "p_norm")
    b = assigned.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("c_vec").alias("b_vec"),
        F.col("p_vec").alias("b_pvec"),
        F.col("c_norm").alias("b_norm"),
        F.col("p_norm").alias("b_pnorm"),
    )
    cand = (
        _dot(F.col("p_vec"), F.col("b_pvec")) / (F.col("p_norm") * F.col("b_pnorm"))
        >= cand_cosine
    )
    exact = (
        _dot(F.col("c_vec"), F.col("b_vec")) / (F.col("c_norm") * F.col("b_norm"))
        >= min_cosine
    )
    dropped = (
        a.join(b, (F.col("cell") == F.col("b_cell")) & (F.col("b_vec_id") < F.col("vec_id")))
        .filter(cand & exact)
        .select("vec_id")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("_drop").isNull().alias("keep")
    )


def pca_fit_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
) -> tuple[DataFrame, "object"]:
    """Distributed PCA over an embedding column: compression/whitening
    ahead of clustering or ANN (the learned complement to the random JL
    projection — same output shape, data-adapted axes).

    The scalable shape: each partition computes its moment partials
    (n, Σ(x−p), Σ(x−p)(x−p)ᵀ) in one mapInPandas pass — a d²-sized
    summary per partition regardless of row count — the driver combines
    the metadata-sized partials, eigendecomposes the d×d covariance (d
    is the embedding width, tiny), fixes eigenvector sign by the
    largest-|component|-positive convention (eigh's sign is otherwise
    arbitrary), and broadcasts the components into a BLAS projection
    kernel. Two narrow passes over the corpus, zero shuffles, driver
    work bounded by d², never by N.

    ``p`` is a PILOT vector (any sample row, fetched with one cheap
    ``first()``): accumulating shifted moments makes the covariance
    ``SS/n − (S/n)(S/n)ᵀ`` numerically stable on large-mean embeddings
    — with raw moments the two terms both grow as ‖μ‖² and their
    difference (the actual variance) cancels away in float64 once
    ‖μ‖ ≫ σ, which is exactly the regime normalized-but-uncentered
    embedding stores live in (r13 ADVICE: the Welford-vs-moment
    variance comparison was flaky for this reason). Variance is
    shift-invariant, so the eigenvectors are unchanged; only the
    conditioning improves.

    Returns ``(projected_df, model)`` where projected_df has
    ``(id_col, pca: array<float>)`` and model carries ``components``
    (k×d), ``mean`` (d) and ``explained_var`` (k) as numpy arrays.
    Rows with a NULL embedding are excluded from both the fit and the
    returned projection (fit-on-present-vectors); :func:`pca_apply`
    on a null-containing column raises a named-id error instead.
    Eigendecomposition has no SQL twin, so this operator is
    pytest-pinned (orthonormality, variance ordering, agreement with
    single-node numpy PCA) rather than DuckDB-oracled.
    """
    import numpy as np
    import pandas as pd

    # Null embeddings are excluded from the fit AND the returned
    # projection (the standard fit-on-present-vectors contract): a null
    # row carries no moment information, and np.stack over a column
    # containing None crashes deep inside an executor with an opaque
    # message. The pilot fetch must skip nulls too — a null FIRST row
    # over a mostly-valid column previously raised the misleading
    # "needs at least 2 vectors" (r14 ADVICE).
    src = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).alias("__v")
    )

    pilot_row = src.select("__v").first()
    if pilot_row is None:
        raise ValueError(f"PCA fit: no non-null vectors in column {vec_col!r}")
    pilot = np.asarray(pilot_row[0], dtype=np.float64)

    def partials(batches):
        n = 0
        s = None
        ss = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["__v"].to_numpy()).astype(np.float64) - pilot
            n += m.shape[0]
            s = m.sum(axis=0) if s is None else s + m.sum(axis=0)
            g = m.T @ m
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
            )

    rows = src.select("__v").mapInPandas(
        partials, "n long, s array<double>, ss array<double>"
    ).collect()  # bounded: one row per partition, each O(d^2)
    n = sum(r.n for r in rows)
    if n < 2:
        raise ValueError("PCA needs at least 2 non-null vectors")
    d = len(rows[0].s)
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in rows:
        s += np.array(r.s)
        ss += np.array(r.ss).reshape(d, d)
    sbar = s / n  # shifted mean: true mean = pilot + sbar
    mean = pilot + sbar
    cov = ss / n - np.outer(sbar, sbar)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k x d
    # deterministic sign: largest-|component| entry positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    explained = np.maximum(evals[order], 0.0)

    class _Model:
        components = comps
        mean_vec = mean
        explained_var = explained

    model = _Model()
    # project the same non-null subset the fit saw (row-for-row parity
    # between fit input and projection output)
    return (
        pca_apply(df.filter(F.col(vec_col).isNotNull()), model, id_col, vec_col),
        model,
    )


def pca_apply(
    df: DataFrame,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
) -> DataFrame:
    """Project an embedding column with a FROZEN PCA model — the
    production shape for a growing corpus: fit once (on a snapshot or a
    sample, :func:`pca_fit_project`), freeze ``(components, mean,
    explained_var)``, then apply to every later batch/partition with
    this one narrow pass. The same freeze-then-apply discipline as the
    frozen BPE tokenizer (text.bpe_encode) and the trained coarse
    quantizer (persist_corpus_cells trained=True): the expensive fit
    never re-runs with corpus growth, and projections stay mutually
    comparable because the axes never move.

    One Arrow-batched BLAS pass (``(X - mean) @ componentsᵀ``), zero
    shuffles, linear in rows and embarrassingly parallel. With
    ``whiten=True`` each output dimension is additionally scaled to
    unit variance (1/√λᵢ — the usual preconditioner ahead of cosine/
    k-means on anisotropic embeddings). DEGENERATE components — those
    with λᵢ ≤ 1e-9·λ₁ relative to the leading eigenvalue — are ZEROED
    rather than scaled: a near-zero-variance axis carries numerical
    noise, not signal, and dividing it by √λᵢ would amplify that noise
    by up to ~10⁶ and let it dominate every downstream cosine/k-means
    distance. Zeroing makes the degenerate axis inert (sklearn-style
    behavior for exactly-singular covariances, chosen here with a
    relative rather than absolute floor so the rule is scale-free).

    The output id column keeps the INPUT id column's type (string doc
    ids project as readily as long vec ids). Returns
    ``(id_col, pca: array<double>)``.
    """
    import numpy as np
    import pandas as pd

    comps_f = np.asarray(model.components, dtype=np.float64)
    mean_f = np.asarray(model.mean_vec, dtype=np.float64)
    if whiten:
        ev = np.asarray(model.explained_var, dtype=np.float64)
        lead = float(ev.max(initial=0.0))
        live = ev > 1e-9 * lead if lead > 0 else np.zeros(ev.shape, dtype=bool)
        scale = np.zeros_like(ev)
        scale[live] = 1.0 / np.sqrt(ev[live])
        comps_f = comps_f * scale[:, None]

    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(F.col(id_col), F.col(vec_col).alias("__v"))

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pdf["__v"].isna().any():
                bad = pdf.loc[pdf["__v"].isna(), id_col].iloc[0]
                raise ValueError(
                    f"pca_apply: null embedding at {id_col}={bad!r} — "
                    "drop or impute nulls before projecting"
                )
            m = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            p = (m - mean_f) @ comps_f.T
            yield pd.DataFrame(
                {id_col: pdf[id_col], "pca": [row.tolist() for row in p]}
            )

    return src.mapInPandas(project, f"{id_col} {id_type}, pca array<double>")


def embedding_health(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
) -> DataFrame:
    """One-row health audit of an embedding store — the preflight every
    operator in this module silently assumes has passed: consistent
    dimensionality, no NULL/NaN/Inf payloads, no zero-norm vectors
    (cosine is undefined on them), and unique ids (the append-id
    immutability contract, checked here WITHOUT mutating anything).

    A corrupt embedding column does not fail ANN queries loudly — it
    skews centroids, poisons normalized dot products, and silently
    drops recall — so pipelines gate index builds on this audit the way
    loads gate on row counts. Everything folds into one partial
    aggregate over a single scan (per-row signals are higher-order
    array expressions, JVM-side); the exchange moves one row, so the
    audit costs one pass at any corpus size.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ss = F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x)
    nonfinite = F.exists(
        vd, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    per = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).isNull().alias("__isnull"),
        F.size(F.col(vec_col)).alias("__dim"),
        F.when(F.col(vec_col).isNotNull(), nonfinite).alias("__bad"),
        F.when(F.col(vec_col).isNotNull(), ss).alias("__ss"),
        *([F.col(label_col).isNull().alias("__lab_null")] if label_col else []),
    )
    norm = F.when(
        (~F.col("__bad")) & F.col("__ss").isNotNull(), F.sqrt("__ss")
    )
    aggs = [
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("__isnull").cast("long")).alias("n_null_vec"),
        (F.count("__id") - F.countDistinct("__id")).alias("n_dup_ids"),
        F.countDistinct("__dim").alias("n_dims"),
        F.min("__dim").alias("dim_min"),
        F.max("__dim").alias("dim_max"),
        F.sum(F.coalesce(F.col("__bad").cast("long"), F.lit(0))).alias(
            "n_nonfinite"
        ),
        F.sum(
            ((~F.col("__bad")) & (F.col("__ss") == 0)).cast("long")
        ).alias("n_zero_norm"),
        F.round(F.min(norm), 4).alias("norm_min"),
        F.round(F.max(norm), 4).alias("norm_max"),
        F.round(F.avg(norm), 4).alias("norm_mean"),
    ]
    if label_col:
        aggs.append(F.sum(F.col("__lab_null").cast("long")).alias("n_null_label"))
    return per.agg(*aggs)
