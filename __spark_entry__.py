"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship ingest-roundtrip query at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 plus
the training-data-pipeline surface; ``oracle_sql()`` gives the DuckDB
equivalent for each (omitted only for engine-specific-hash operators,
which get rows-only checks).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the package lives next to this file
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries.catalog import (  # noqa: E402
    ORACLES,
    QUERIES,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tab-CSV Hive-partition ingest roundtrip (scan → derive
    partitions → write → pruned read-back → aggregate) at sf0.001."""
    return QUERIES["scan_csv_tab_delimited"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (rows-only ops omitted)."""
    return dict(ORACLES)
