"""Column-expression twins of the partition kit.

Same arithmetic as :mod:`.partition`, but as Catalyst expressions so it
runs JVM-side inside whole-stage codegen over billions of rows — never a
Python UDF. Pattern letters follow Spark's ``datetime_pattern`` docs
(``yyyyMMddHH`` etc.), mirroring the reference's strftime formats
(ingestion/partition.py:3-4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BQ_PARTITION_PATTERN = "yyyyMMddHH"
HIVE_PATH_PATTERN = "'year='yyyy'/month='MM'/day='dd'/hour='HH"


def bq_partition_col(ts: Column | str) -> Column:
    """Timestamp column → compact partition string ``YYYYMMDDHH``
    (twin of ingestion/partition.py:7-8)."""
    return F.date_format(ts, BQ_PARTITION_PATTERN)


def ts_from_bq_partition_col(partition: Column | str) -> Column:
    """``YYYYMMDDHH`` column → timestamp. EXPLICITLY permissive (null on
    mismatch) via ``try_to_timestamp``, independent of the session's ANSI
    mode — under Spark 4's ANSI default a bare ``to_timestamp`` would
    throw, under legacy mode it would null; pinning the semantic here
    keeps behavior session-independent. Strict request-boundary
    validation stays Python-side, as in the reference
    (ingestion/app.py:111); ingest paths that must hard-fail on garbage
    use :func:`ts_from_bq_partition_col_strict`."""
    part_c = F.col(partition) if isinstance(partition, str) else partition
    return F.try_to_timestamp(part_c, F.lit(BQ_PARTITION_PATTERN))


def ts_from_bq_partition_col_strict(partition: Column | str) -> Column:
    """Strict twin of :func:`ts_from_bq_partition_col`: a malformed
    partition string FAILS the job instead of flowing through as null —
    the column-level analogue of the reference's ``strptime`` raising on
    garbage (ingestion/partition.py:11-12). Built on ``try_to_timestamp``
    + ``raise_error`` so it works regardless of session ANSI mode; the
    error message carries the offending value. Null input is rejected
    too: a partition string that is absent is as wrong as one that is
    malformed."""
    part_c = F.col(partition) if isinstance(partition, str) else partition
    parsed = F.try_to_timestamp(part_c, F.lit(BQ_PARTITION_PATTERN))
    return F.when(parsed.isNotNull(), parsed).otherwise(
        F.raise_error(
            F.format_string(
                "malformed partition string %s: expected YYYYMMDDHH",
                F.coalesce(part_c, F.lit("NULL")),
            )
        ).cast("timestamp")
    )


def hive_path_col(ts: Column | str) -> Column:
    """Timestamp column → zero-padded Hive path fragment
    (twin of ingestion/partition.py:15-16)."""
    return F.date_format(ts, HIVE_PATH_PATTERN)


def bq_partition_from_hive_cols() -> Column:
    """The four Hive partition columns → ``YYYYMMDDHH`` (twin of
    :func:`.partition.bq_partition_from_hive_path`). Partition discovery
    reads them back as ints, so each is zero padded here."""
    return F.format_string(
        "%04d%02d%02d%02d", *(F.col(c).cast("int") for c in ("year", "month", "day", "hour"))
    )


def partition_columns(ts: Column | str) -> dict[str, Column]:
    """The four zero-padded partition columns derived from a timestamp —
    what Hive-style partition discovery would surface from the path.
    Strings (not ints) to match Hive path encoding exactly.
    """
    return {
        "year": F.date_format(ts, "yyyy"),
        "month": F.date_format(ts, "MM"),
        "day": F.date_format(ts, "dd"),
        "hour": F.date_format(ts, "HH"),
    }

