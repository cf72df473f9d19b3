"""Plan-level ``require_partition_filter`` enforcement.

The reference makes unfiltered reads of the landing table impossible at
the TABLE level (``require_partition_filter=TRUE``,
bq_create_table_ddl.sql:12): any query that does not constrain the
partitioning column is rejected by the engine before it runs.
:func:`..operators.sink.read_landing_table` reads only the named hours'
directories, but a direct ``spark.read.parquet(table_root)`` reads them
all. This module closes that hole the way BigQuery does — pre-execution,
against the query plan itself:

* landing roots are REGISTERED (``create_partitioned_table`` does this);
* :func:`assert_partition_filtered` walks the df's PHYSICAL plan tree:
  every ``FileSourceScanExec`` with a root path under a registered root
  must carry at least one partition filter (``partitionFilters``
  non-empty — i.e. the scan is partition-pruned) or have every root at
  a full hour leaf ``root/year=Y/month=M/day=D/hour=H`` (one hour by
  construction; the root and shallower directories are not). Unfiltered
  scans raise :class:`PartitionFilterRequiredError` before any task
  launches.

Checking the physical plan (not the user's API calls) means the guard is
route-independent: ``spark.read.parquet(root)``, SQL over a temp view, or
a join that buries the scan three operators deep, a scan inside a scalar,
IN or EXISTS subquery and a scan under a cached relation are all caught,
and a filter that Catalyst pushes down to the scan passes no matter where
in the query it was written. The walk reads the scan nodes' root paths
and partition filters as objects, not the plan's text rendering, so no
path length can truncate it and no session conf is touched. Cost is one
driver-side plan walk — no job runs, nothing is scanned.

Scale note: this is exactly the guarantee that keeps a 100 TB landing
table safe from accidental full scans — the reference's motivation for
the DDL flag.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.functions.partition import bq_partition_from_hive_path

# Module-level registry: landing-table roots under partition-filter
# enforcement. Keyed by normalized absolute path (no scheme, no trailing
# slash) so `file:/x`, `file:///x` and `/x` all match.
_GUARDED_ROOTS: set[str] = set()


class PartitionFilterRequiredError(RuntimeError):
    """A query scans a guarded landing root without any partition filter
    (reference parity: ``require_partition_filter=TRUE``)."""


def _normalize(path: str) -> str:
    # strip URI scheme (file:, hdfs://host) down to the path component
    p = re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "", path)
    return p.rstrip("/")


def register_landing_root(table_root: str) -> None:
    """Put ``table_root`` under plan-level partition-filter enforcement."""
    _GUARDED_ROOTS.add(_normalize(table_root))


def unregister_landing_root(table_root: str) -> None:
    _GUARDED_ROOTS.discard(_normalize(table_root))


def guarded_roots() -> frozenset[str]:
    return frozenset(_GUARDED_ROOTS)


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _scans(node):
    """Yield ``(root_paths, n_partition_filters)`` for every
    ``FileSourceScanExec`` under ``node``. ``children`` covers the operator
    tree; ``innerChildren`` covers the subquery plans (scalar, IN,
    EXISTS, dynamic pruning) and a cached relation's plan; an adaptive
    node also exposes its current plan through ``executedPlan``."""
    name = node.getClass().getSimpleName()
    if name == "FileSourceScanExec":
        paths = [p.toString() for p in _seq(node.relation().location().rootPaths())]
        yield paths, node.partitionFilters().size()
    elif name == "AdaptiveSparkPlanExec":
        yield from _scans(node.executedPlan())
    for child in _seq(node.children()):
        yield from _scans(child)
    for child in _seq(node.innerChildren()):
        yield from _scans(child)


def assert_partition_filtered(df: DataFrame) -> DataFrame:
    """Pre-execution check: raise if ``df``'s plan scans any registered
    landing root without a partition filter. Returns ``df`` unchanged so
    it composes as a pass-through gate::

        df = assert_partition_filtered(spark.read.parquet(root).filter(...))

    Driver-side only — walks the planned physical plan, launches no job
    and changes no session conf.
    """
    if not _GUARDED_ROOTS:
        return df
    violations = set()
    for paths, n_filters in _scans(df._jdf.queryExecution().executedPlan()):
        if n_filters:
            continue
        for p in map(_normalize, paths):
            for root in _GUARDED_ROOTS:
                if p != root and not p.startswith(root + "/"):
                    continue
                # only a full hour leaf is one hour; the root parses as ""
                try:
                    bq_partition_from_hive_path(p[len(root) + 1:])
                except ValueError:
                    violations.add(root)
    if violations:
        raise PartitionFilterRequiredError(
            "query scans landing table(s) without a partition filter: "
            f"{sorted(violations)} — filter on year/month/day/hour "
            "(reference parity: require_partition_filter=TRUE)"
        )
    return df
