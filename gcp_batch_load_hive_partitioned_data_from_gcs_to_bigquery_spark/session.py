"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every config here is chosen so the
same plan shape survives a 1000-executor cluster: AQE for runtime re-plan
and skew handling, dynamic partition overwrite (the reference's idempotent
``WRITE_TRUNCATE`` on a partition decorator — ingestion/tasks.py:24-25,
ingestion/bigquery_interaction.py:20), UTC session time (the reference
schedules in Etc/UTC — commands.sh:73).

Local masters also swap the ``file://`` FileSystem for
``graft.fs.NoForkLocalFileSystem`` (``jvm/graft-fs.jar``, built from
``jvm/src`` by ``scripts/build_jvm.py``). Without libhadoop, Hadoop's
stock local FS forks a ``chmod`` process for every file, ``.crc`` and
directory a write creates — three per written hour; the swap sets the
mode with one syscall and inherits everything else. It is local-only:
cluster hosts carry libhadoop, whose NativeIO chmod is already a
syscall, and executors on other hosts (``local-cluster`` included) would
not have the jar on their classpath and fail every ``file://`` access
with ``ClassNotFoundException``. A JVM launched before this call without
the jar (a plain ``SparkSession`` built first) keeps the stock FS.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

NO_FORK_FS = "graft.fs.NoForkLocalFileSystem"
NO_FORK_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "graft-fs.jar")

DEFAULT_CONFIGS: dict[str, str] = {
    # Hourly partition replace must touch only the written partitions
    # (reference: WRITE_TRUNCATE on `table$YYYYMMDDHH`).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # AQE: runtime coalesce, skew-join splitting, broadcast demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Reference operates in UTC (cron "40 * * * *", Etc/UTC).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas-UDF path (dedup/similarity/text operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Scan sizing: 128 MiB splits is the right default for 100 TB of
    # parquet; local SFs just produce fewer tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # id-get reads (ivf_pq_rescore_topk stage 2) push a Q x shortlist
    # IN(vec_id) set to parquet; above this threshold Spark degrades the
    # pushdown to a min/max range, which cannot row-group-prune a
    # scattered id set — raise it so shortlist-sized sets stay exact.
    "spark.sql.parquet.pushdown.inFilterThreshold": "1024",
    # Read timestamp[ns] parquet columns as int64 nanos (sources/tables.py
    # folds them to TimestampType) instead of failing; tz and ntz micros
    # columns read the same either way, so no read flips this mid-session.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # Single-JVM local mode runs all 32 executor threads in the driver
    # heap; the 1g default causes GC thrash under concurrent hash-aggs.
    # (Honored at JVM launch; on a real cluster spark-submit overrides.)
    "spark.driver.memory": "16g",
    # Whole-stage codegen emits one JIT-compiled class per query stage; a
    # long session (40+ catalog queries) fills the default ~240m code
    # cache, the JIT shuts off, and every later stage runs interpreted
    # (observed 50-100x slowdowns). Reserve more and allow flushing.
    "spark.driver.extraJavaOptions": (
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
    ),
}


def get_spark(
    app_name: str = "gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so tests and bench share one entry point. On a real
    cluster callers pass ``master=None`` with ``spark.master`` preset and
    this function only layers the semantic configs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    configs = {**DEFAULT_CONFIGS, **(extra_configs or {})}
    if master == "local" or master.startswith("local["):
        classpath = configs.get("spark.driver.extraClassPath")
        configs["spark.driver.extraClassPath"] = os.pathsep.join(filter(None, [classpath, NO_FORK_FS_JAR]))
        if _jvm_has_class(NO_FORK_FS):
            configs.setdefault("spark.hadoop.fs.file.impl", NO_FORK_FS)

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in configs.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _jvm_has_class(name: str) -> bool:
    """Whether the session's JVM can load ``name``: a JVM this process
    is about to launch gets ``spark.driver.extraClassPath``; one already
    running (or launched by a parent ``spark-submit``) is asked."""
    gateway = SparkContext._gateway
    if gateway is None:
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    try:
        gateway.jvm.java.lang.Class.forName(name)
    except Py4JError:
        return False
    return True
