"""Partition string/path kit — pure Python, zero Spark dependencies.

Re-expresses the reference's partition arithmetic (behavioral parity with
``ingestion/partition.py:1-27`` and ``ingestion/app.py:127-133``): an hourly
partition has two representations — the compact string ``YYYYMMDDHH`` (the
BigQuery partition-decorator suffix) and the Hive directory fragment
``year=YYYY/month=MM/day=DD/hour=HH`` — bridged through ``datetime``.

The string conversions (``bq_partition_from_datetime``,
``datetime_from_bq_partition``, ``hive_path_from_datetime``,
``bq_partition_from_hive_path``) have Column-expression twins in
:mod:`..functions.columns` so the same arithmetic runs distributed inside
whole-stage codegen when applied to billions of rows. The path, decorator
and job-id helpers are driver-side only.
"""

from __future__ import annotations

import datetime as _dt
import uuid as _uuid

# Reference: ingestion/partition.py:3-4
HIVE_PARTITION_BY_HOUR_FORMAT = "year=%Y/month=%m/day=%d/hour=%H"
BQ_PARTITION_BY_HOUR_FORMAT = "%Y%m%d%H"
# Every hour leaf under a table root, as a Hadoop glob.
HIVE_PARTITION_BY_HOUR_GLOB = "year=*/month=*/day=*/hour=*"


def bq_partition_from_datetime(dt: _dt.datetime) -> str:
    """Format a timestamp as the compact partition string ``YYYYMMDDHH``.

    Parity: ``bq_partition_by_hour_from_datetime`` (ingestion/partition.py:7-8).
    """
    return dt.strftime(BQ_PARTITION_BY_HOUR_FORMAT)


def datetime_from_bq_partition(partition: str) -> _dt.datetime:
    """Parse ``YYYYMMDDHH`` back to a datetime; raises ``ValueError`` on
    malformed input (the reference uses this as request validation —
    ingestion/partition.py:11-12, ingestion/app.py:111).
    """
    return _dt.datetime.strptime(partition, BQ_PARTITION_BY_HOUR_FORMAT)


def hive_path_from_datetime(dt: _dt.datetime) -> str:
    """Format a timestamp as a zero-padded Hive path fragment.

    Parity: ``hive_partition_by_hour_path_from_datetime``
    (ingestion/partition.py:15-16).
    """
    return dt.strftime(HIVE_PARTITION_BY_HOUR_FORMAT)


def hive_path_from_bq_partition(partition: str) -> str:
    """Compose parse∘format: ``YYYYMMDDHH`` → ``year=…/hour=…``.

    Parity: ``hive_partition_by_hour_path_from_bq_partition``
    (ingestion/partition.py:19-22).
    """
    return hive_path_from_datetime(datetime_from_bq_partition(partition))


def bq_partition_from_hive_path(path: str) -> str:
    """Inverse of :func:`hive_path_from_bq_partition`:
    ``year=…/month=…/day=…/hour=…`` → ``YYYYMMDDHH``. Unpadded values
    (``month=1``) parse; anything that is not exactly one hour leaf
    (a shallower directory, ``hour=__HIVE_DEFAULT_PARTITION__``) raises
    ``ValueError``."""
    dt = _dt.datetime.strptime(path, HIVE_PARTITION_BY_HOUR_FORMAT)
    return bq_partition_from_datetime(dt)


def partition_dir(root: str, partition: str) -> str:
    """The one directory that holds hour ``partition`` under ``root`` —
    the decorator ``table$YYYYMMDDHH`` (ingestion/tasks.py:24-25) as a
    path. Every single-hour read and maintenance op addresses this leaf
    instead of listing the root."""
    return f"{root.removesuffix('/')}/{hive_path_from_bq_partition(partition)}"


def glob_path_all(root: str, partition_path: str) -> str:
    """Build the all-files glob for one partition directory.

    Parity: ``gcs_partition_path_glob_all`` (ingestion/partition.py:25-27) —
    strip a trailing ``/`` from the partition fragment, then template. The
    reference templates ``gs://bucket/...``; here ``root`` is any URI or
    local path the Hadoop filesystem layer understands.
    """
    return f"{root.removesuffix('/')}/{partition_path.removesuffix('/')}/*"


def last_hour_partition(now: _dt.datetime | None = None) -> str:
    """Compact partition string for one hour ago (UTC).

    Parity: ``_last_hour_partition`` (ingestion/app.py:127-133). ``now`` is
    injectable for tests; production uses current UTC time.
    """
    if now is None:
        now = _dt.datetime.now(_dt.timezone.utc)
    return bq_partition_from_datetime(now - _dt.timedelta(hours=1))


def trunc_hour(dt: _dt.datetime) -> _dt.datetime:
    """Truncate a timestamp to the hour — the partition-key derivation the
    landing table DDL performs (``TIMESTAMP_TRUNC(f, HOUR)``,
    bq_create_table_ddl.sql:7).
    """
    return dt.replace(minute=0, second=0, microsecond=0)


def partition_decorator(table_id: str, partition: str) -> str:
    """``table$YYYYMMDDHH`` destination spec (ingestion/tasks.py:24-25)."""
    return f"{table_id}${partition}"


def new_job_id() -> str:
    """Fresh UUID4 job id (ingestion/tasks.py:30)."""
    return str(_uuid.uuid4())


def partition_values(partition: str) -> dict[str, str]:
    """Decompose ``YYYYMMDDHH`` into the four zero-padded partition-column
    values — the conjunctive equality predicate the Hive path encodes
    (year=Y ∧ month=M ∧ day=D ∧ hour=H; ingestion/partition.py:3).
    """
    dt = datetime_from_bq_partition(partition)
    return {
        "year": f"{dt.year:04d}",
        "month": f"{dt.month:02d}",
        "day": f"{dt.day:02d}",
        "hour": f"{dt.hour:02d}",
    }
