"""Test-table catalog: load the driver's parquet tables by name.

The driver's synthetic tables (TESTDATA.md) are TPC-H-ish parquet files.
One wrinkle: some were written with nanosecond-precision timestamps
(``timestamp[ns]``), which Spark's vectorized parquet reader rejects
(PARQUET_TYPE_ILLEGAL). The session default
``spark.sql.legacy.parquet.nanosAsLong=true`` (``session.DEFAULT_CONFIGS``;
a session built without ``get_spark`` must set it too) reads those
columns as raw int64 nanos, and we convert with integer division to
microseconds — identical truncation to what DuckDB does when it surfaces
the same column as a microsecond TIMESTAMP, so oracle comparisons agree
exactly. Detection is driver-side parquet-footer
metadata (pyarrow), never a data scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _nanos_columns(path: str) -> tuple[str, ...]:
    """Column names stored as timestamp[ns] (tz-aware or not) in the
    parquet footer. Read on every call, never cached by path: a file
    rewritten in place in another flavor must not keep its old one
    (one footer read is ~0.07 ms on local parquet)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return tuple(
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def timestamp_flavor(path: str, col: str = "ts") -> str:
    """How ``col`` is physically stored in the parquet footer:
    ``'ns'`` (timestamp[ns] — reads as int64 nanos under the session's
    nanosAsLong default),
    ``'ntz'`` (tz-naive micros — surfaces as TIMESTAMP_NTZ on Spark 4),
    or ``'tz'`` (tz-aware — plain TimestampType). The driver regenerates
    testdata between rounds with varying flavors, so call sites that read
    the raw file (bypassing :func:`load_table`) adapt via this probe —
    footer metadata only, never a data scan."""
    import pyarrow.parquet as pq

    field = next((f for f in pq.read_schema(path) if f.name == col), None)
    if field is None:
        raise ValueError(f"column {col!r} not present in parquet schema of {path}")
    if field.type.unit == "ns":
        return "ns"
    return "ntz" if field.type.tz is None else "tz"


def stream_ts_field(path: str, col: str = "ts"):
    """The StructField a readStream schema needs for ``col`` so the
    file's physical type matches exactly; pair with :func:`normalize_ts`
    after the read."""
    from pyspark.sql import types as T

    flavor = timestamp_flavor(path, col)
    if flavor == "ns":
        return T.StructField(col, T.LongType())
    if flavor == "ntz":
        return T.StructField(col, T.TimestampNTZType())
    return T.StructField(col, T.TimestampType())


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Fold whatever flavor ``col`` arrived as (nanos-long, NTZ, tz) to
    native TimestampType with identical wall-clock values."""
    from pyspark.sql import types as T

    dtype = df.schema[col].dataType
    if isinstance(dtype, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if isinstance(dtype, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table, normalizing every timestamp flavor the driver
    may have written (``timestamp[ns]``, tz-naive ``timestamp[us]``) to
    Spark's native microsecond TimestampType."""
    from pyspark.sql import types as T

    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for col in _nanos_columns(path):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    # Tz-naive parquet timestamps surface as TIMESTAMP_NTZ on Spark 4.
    # Cast to TimestampType: NTZ is interpreted as session-local wall
    # clock and displayed back in the same zone, so values round-trip
    # identically (and match DuckDB's naive TIMESTAMP on the same file)
    # under any session timezone.
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df

