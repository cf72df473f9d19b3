"""The one measurement harness: bench.py, scripts/time_keys.py and every
probe under scripts/ time their queries here, under one rule.

A *cold run* releases every scoped cache and the session cache, starts
the clock, and calls a builder that both constructs and executes the
query: a builder that returns a DataFrame is written to the noop sink
(full execution, no driver materialization), one that performs its own
action (the real write where the write is the operator, a collect, a
stream drain) is timed as it is. Construction (eager jobs, schema
inference, file listing) and the fill of any cache the query persists
therefore always sit inside the timed region. Each run executes under
its own Spark job group ``<key>#<run>``.

A cold run does NOT release the zone-map store's driver snapshot
(``operators/zonemap.py`` ``_STORE_CACHE``): while the store is
unchanged, every run after a key's first reuses it. ``scan_file_skipping``
therefore times a snapshot hit — 2 jobs (the final read's listing and
schema jobs) against 5 on a miss, which adds the 3-job store read.

A figure is the min over N cold runs. Keys are timed pass-major (every
key once per pass), so a slow host interval spreads across keys instead
of wiping out all runs of one key. ``setup`` callables run untimed
before each run's cache release (fresh output roots, re-seeded stores).

Import it from any script the same way::

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.measure import best_of, ...
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable

BASE_SF = "/root/testdata/sf0.1"
DERIVED = "/tmp/spark_graft_scale_probe"


def noop(df) -> None:
    """Execute ``df`` fully without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """Pay session start-up costs before any timing: the JVM, codegen and
    parquet footers (q1), and one Python worker per core (mapInPandas
    keys otherwise pay interpreter + Arrow start-up in their first
    measured stage)."""
    from pyspark.sql import types as T

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import QUERIES

    noop(QUERIES["q1_pricing_summary"](spark, sf_dir))

    def _ident(it):
        yield from it

    n = spark.sparkContext.defaultParallelism
    noop(
        spark.range(0, n * 10, 1, n).mapInPandas(
            _ident, T.StructType([T.StructField("id", T.LongType())])
        )
    )


def cold_run(spark, builder: Callable, group: str) -> float:
    """Seconds (3 decimals) for one cold run of ``builder``."""
    from pyspark.sql import DataFrame

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators._cache import (
        release_all_scopes,
    )

    release_all_scopes()
    spark.catalog.clearCache()
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        out = builder()
        if isinstance(out, DataFrame):
            noop(out)
        return round(time.perf_counter() - t0, 3)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)


def time_passes(
    spark,
    keys: list[str],
    build: Callable[[str], object],
    passes: int,
    setup: Callable[[str], None] | None = None,
) -> dict[str, list[float]]:
    """Cold-run ``build(key)`` for every key, ``passes`` times, pass-major.
    Returns every run's seconds per key; the figure is their min."""
    runs: dict[str, list[float]] = {k: [] for k in keys}
    for p in range(passes):
        for key in keys:
            if setup is not None:
                setup(key)
            runs[key].append(cold_run(spark, lambda: build(key), f"{key}#{p}"))
    return runs


def best_of(
    spark,
    builder: Callable,
    runs: int = 2,
    setup: Callable[[], None] | None = None,
    key: str = "probe",
) -> float:
    """Min-of-``runs`` cold runs of one builder."""
    return min(
        time_passes(
            spark,
            [key],
            lambda _k: builder(),
            runs,
            None if setup is None else (lambda _k: setup()),
        )[key]
    )


def load_avg() -> list[float] | None:
    """1/5/15-minute load averages, so a timing artifact carries its own
    host-load snapshot."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        return None


def fixture(out: str, write: Callable[[str], None]) -> str:
    """An untimed on-disk input built once and reused across runs:
    ``write(out)`` runs only while ``out`` lacks its ``_READY`` marker,
    which is written last, so an interrupted build is redone."""
    marker = os.path.join(out, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        write(out)
        os.makedirs(out, exist_ok=True)
        open(marker, "w").close()
    return out


def build_derived(spark, k: int) -> str:
    """A K×-replicated corpus derived from the sf0.1 parquet (never
    hand-synthesized), 32 Spark-written files per table at every K —
    the 1× copy too, so ratios measure per-row work, not the sf0.1 test
    data's single-input-split layout.

    Each replica shifts ids, perturbs embeddings by a tiny deterministic
    epsilon (so SemDeDup does not see K exact copies of every vector, an
    artifact of replication rather than a property of a real K× corpus),
    appends a replica token to text (fresh shingle hashes), and remaps
    user ids (per-entity history stays constant; only the entity count
    scales, the shape a growing corpus has)."""
    from pyspark.sql import functions as F

    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.tables import load_table

    def write(out: str) -> None:
        reps = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("rep")
        rep = F.col("rep").cast("long")

        def save(df, name):
            df.repartition(32).write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))

        docs = load_table(spark, BASE_SF, "documents").select("*", reps)
        save(
            docs.select(
                (F.col("doc_id") + rep * F.lit(10_000_000)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" r"), F.col("rep")).alias("text"),
                "lang", "source",
            ).withColumn(
                # n_chars must describe the REPLICA's text, not the original's
                "n_chars", F.length("text").cast("long")
            ),
            "documents",
        )
        emb = load_table(spark, BASE_SF, "embeddings").select("*", reps)
        save(
            emb.select(
                (F.col("vec_id") + rep * F.lit(10_000_000)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda v: (v + F.col("rep").cast("float") * F.lit(0.0011)).cast("float"),
                ).alias("embedding"),
                "label",
            ),
            "embeddings",
        )
        ev = load_table(spark, BASE_SF, "events").select("*", reps)
        save(
            ev.select(
                (F.col("event_id") + rep * F.lit(1_000_000_000)).alias("event_id"),
                "ts",
                (F.col("user_id") + rep * F.lit(1_000_000)).alias("user_id"),
                "event_type", "value", "props",
            ),
            "events",
        )

    return fixture(f"{DERIVED}_{k}x", write)


def single_file_drops(parts, out: str) -> str:
    """A file-stream source fixture: one parquet file per DataFrame in
    ``parts``, named and mtime-ordered by position (the arrival order a
    file source replays), built once like :func:`fixture`."""

    def write(out: str) -> None:
        os.makedirs(out)
        stage = f"{out}_stage"
        for i, part in enumerate(parts):
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            name = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            dst = os.path.join(out, f"{i:04d}.parquet")
            os.replace(os.path.join(stage, name), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage, ignore_errors=True)

    return fixture(out, write)
