"""The measurement harness (scripts/measure.py) and the scripts built on it."""

from __future__ import annotations

import glob
import importlib.util
import os

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cold_runs_rebuild_and_start_with_no_cache(spark):
    """Every timed run calls the builder afresh, under its own job group,
    with no scoped cache and no persisted RDD left over from the run
    before it (the operator persists, so a leak would show)."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import _cache
    from scripts.measure import best_of

    jsc = spark.sparkContext._jsc

    def persisted_rdds() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted_rdds()
    starts = []

    def builder():
        starts.append(
            (
                dict(_cache._SCOPED),
                persisted_rdds(),
                spark.sparkContext.getLocalProperty("spark.jobGroup.id"),
            )
        )
        df = _cache.scoped_persist(
            spark.range(200).withColumn("sq", F.col("id") * F.col("id")), "test_measure.tiny"
        )
        df.count()  # fill the cache inside the timed run
        return df.filter(F.col("sq") % 3 == 0)

    t = best_of(spark, builder, runs=3, key="tiny")
    assert t >= 0
    assert len(starts) == 3
    for i, (scoped, rdds, group) in enumerate(starts):
        assert scoped == {}, i
        assert rdds <= before, (i, rdds - before)
        assert group == f"tiny#{i}"
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_every_script_imports_without_running_main():
    """Each script under scripts/ and bench.py loads through importlib
    (its ``__main__`` block does not run), so a renamed harness function
    breaks this test rather than a probe nobody runs in CI."""
    paths = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
    paths.append(os.path.join(ROOT, "bench.py"))
    assert any(p.endswith("measure.py") for p in paths)
    for path in paths:
        name = "_script_" + os.path.splitext(os.path.basename(path))[0]
        spec = importlib.util.spec_from_file_location(name, path)
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        assert os.path.basename(path) == "measure.py" or callable(module.main), path
