"""Driver-contract invariants for __spark_entry__.py: every oracle key
has a query, every query is callable, and names stay collision-free.
Cheap guards against catalog wiring regressions."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod


def test_oracle_keys_subset_of_queries():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs), sorted(set(os_) - set(qs))


def test_all_queries_callable_and_named():
    qs = entry_mod.queries()
    assert len(qs) >= 70
    for name, fn in qs.items():
        assert callable(fn), name
        assert name == name.lower() and " " not in name


def test_rows_only_queries_are_the_documented_set():
    """Round 7 retired the last rows-only keys: the former engine-hash
    variants (xxhash64 MinHash/SimHash/LSH planes, k-means IVF, xxhash64
    streaming dedup) were swapped to their deterministic md5-family /
    fixed-quantizer forms under the primary key names, so EVERY catalog
    key now carries a DuckDB oracle and can earn a value-exact driver
    row. The engine-hash variants remain library functions
    (operators/dedup.py, operators/similarity.py,
    streaming/dedup_stream.py) with their own pytest recall gates."""
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    rows_only = sorted(set(qs) - set(os_))
    assert rows_only == []


def test_python_datasource_partitioned_and_deterministic(spark):
    """Custom Python data source (Spark 4 API): executor-parallel input
    partitions, deterministic content, idempotent re-read."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.pydatasource import (
        SyntheticEventsDataSource,
        SyntheticEventsReader,
    )

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass
    df = (
        spark.read.format("synthetic_events")
        .option("rows", "100").option("numPartitions", "4").load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows1 = sorted((r.id, r.bucket, float(r.score)) for r in df.collect())
    rows2 = sorted((r.id, r.bucket, float(r.score)) for r in df.collect())
    assert rows1 == rows2
    assert len(rows1) == 100
    assert [r[0] for r in rows1] == list(range(100))  # no gaps, no dups

    # partition boundary math: slices tile [0, rows) exactly
    reader = SyntheticEventsReader(rows=10, num_partitions=4)
    slices = [p.value for p in reader.partitions()]
    assert slices == [(0, 3), (3, 6), (6, 9), (9, 10)]


def test_every_oracle_parses_in_duckdb():
    """Static guard: every oracle_sql() entry must at least PLAN in
    DuckDB against the standard views — catches SQL drift (syntax,
    renamed columns, bad casts) in seconds instead of at the driver's
    full comparison run."""
    import duckdb

    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as ex:  # noqa: BLE001
            bad.append(f"{name}: {ex}")
    assert not bad, "\n".join(bad)
