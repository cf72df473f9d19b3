"""The session's ``file://`` FileSystem: local writes set file modes with
a syscall, never a forked ``chmod``, and keep the stock FS's checksums
and modes; ``get_spark`` joins the caller's classpath and keeps the stock
FS on a JVM launched without the jar; the committed jar rebuilds from
its source byte for byte."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest
from pyspark.sql import functions as F

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import (
    create_partitioned_table,
    write_partition_overwrite,
)
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.session import (
    NO_FORK_FS,
    NO_FORK_FS_JAR,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOURS = 48


def _file_fs(spark):
    jvm = spark._jvm
    return jvm, jvm.org.apache.hadoop.fs.Path("file:///").getFileSystem(spark._jsc.hadoopConfiguration())


def _hours(spark, n: int):
    """``n`` consecutive hours of 4 rows each, from 2024-01-01 00:00 UTC."""
    return spark.range(4 * n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1704067200) + (F.col("id") % n) * 3600).alias("ts"),
        (F.col("id") * 0.5).alias("value"),
    )


def _mode(path: str) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_hourly_write_forks_no_chmod(spark, tmp_path):
    """A 48-hour overwrite starts no ``chmod`` process (the stock FS
    without libhadoop forks three per hour), counted by a JFR
    ``jdk.ProcessStart`` recording in the session's JVM."""
    jvm = spark._jvm
    root = str(tmp_path / "landing")
    create_partitioned_table(spark, root)
    batch = _hours(spark, HOURS)
    recording = jvm.jdk.jfr.Recording()
    try:
        recording.enable("jdk.ProcessStart")
        recording.start()
        write_partition_overwrite(batch, root)
        recording.stop()
        dump = jvm.java.io.File(str(tmp_path / "process.jfr")).toPath()
        recording.dump(dump)
    finally:
        recording.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    commands = [events.get(i).getString("command") for i in range(events.size())]
    assert [c for c in commands if os.path.basename(c.split()[0]) == "chmod"] == []
    assert len(os.listdir(os.path.join(root, "year=2024", "month=01"))) == HOURS // 24


def test_file_scheme_resolves_to_no_fork_fs(spark):
    _, fs = _file_fs(spark)
    assert fs.getClass().getName() == NO_FORK_FS
    assert fs.getRaw().getClass().getName() == NO_FORK_FS + "$Raw"


def test_set_permission_lands_exact_mode(spark, tmp_path):
    jvm, fs = _file_fs(spark)
    path = tmp_path / "f.txt"
    path.write_text("x")
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)), jvm.org.apache.hadoop.fs.permission.FsPermission(0o640))
    assert _mode(str(path)) == 0o640


def test_sticky_dir_mode_falls_back_to_stock_chmod(spark, tmp_path):
    """Sticky/setuid bits are beyond NIO's POSIX permission set; the
    stock ``setPermission`` still lands them."""
    jvm, fs = _file_fs(spark)
    path = tmp_path / "shared"
    path.mkdir()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)), jvm.org.apache.hadoop.fs.permission.FsPermission(0o1777))
    assert _mode(str(path)) == 0o1777


def test_written_partitions_keep_crc_and_modes(spark, tmp_path):
    """Each data file keeps its ``.crc`` checksum sidecar; files and
    sidecars are 0644 and directories 0755, as with the stock FS."""
    root = str(tmp_path / "landing")
    create_partitioned_table(spark, root)
    write_partition_overwrite(_hours(spark, 3), root)
    walked = list(os.walk(root))
    assert len(walked) == 1 + 1 + 1 + 1 + 3  # root, year, month, day, 3 hours
    for dirpath, dirnames, filenames in walked:
        assert _mode(dirpath) == 0o755, dirpath
        assert dirnames or any(n.startswith("part-") for n in filenames), dirpath
        for name in filenames:
            assert _mode(os.path.join(dirpath, name)) == 0o644, name
            if not name.endswith(".crc"):
                assert f".{name}.crc" in filenames, name
    assert spark.read.parquet(root).count() == 4 * 3


def _run_session_script(script: str, *args: str) -> dict:
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_GRAFT_CPUS": "1"}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ClassNotFoundException" not in proc.stderr
    return json.loads(proc.stdout.strip().splitlines()[-1])


_FS_CLASS = """
def fs_classes(spark):
    # the file:// class each configuration resolves on a FileSystem-cache
    # miss: the context's and the one a session's reads and writes use
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem
    confs = (spark._jsc.hadoopConfiguration(), spark._jsparkSession.sessionState().newHadoopConf())
    return [fs.getFileSystemClass("file", conf).getName() for conf in confs]
"""


def test_caller_extra_classpath_is_joined_with_jar(tmp_path):
    script = _FS_CLASS + """
import json, os, sys
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_configs={"spark.driver.extraClassPath": sys.argv[1]})
cp = spark._jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep)
print(json.dumps({"cp": cp, "fs": fs_classes(spark)}))
spark.stop()
"""
    caller = str(tmp_path / "caller.jar")
    out = _run_session_script(script, caller)
    assert caller in out["cp"] and NO_FORK_FS_JAR in out["cp"]
    assert out["fs"] == [NO_FORK_FS, NO_FORK_FS]


def test_jvm_without_jar_keeps_stock_fs(tmp_path):
    """A plain ``SparkSession`` launches the JVM first, without the jar.
    ``get_spark`` then reuses that session, and after a stop builds a new
    context in the same JVM; neither configures the missing class, and
    ``file://`` writes and reads work on the stock FS."""
    script = _FS_CLASS + """
import json, sys
from pyspark.sql import SparkSession, functions as F
SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark
out = {}
for step in ("reused", "restarted"):
    spark = get_spark(master="local[1]", shuffle_partitions=1)
    path = "file://" + sys.argv[1] + "/" + step
    spark.range(10).withColumn("h", F.col("id") % 2).write.partitionBy("h").parquet(path)
    out[step] = {"rows": spark.read.parquet(path).count(), "fs": fs_classes(spark)}
    spark.stop()
print(json.dumps(out))
"""
    out = _run_session_script(script, str(tmp_path))
    for step in ("reused", "restarted"):
        assert out[step]["rows"] == 10
        assert NO_FORK_FS not in out[step]["fs"]


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac absent: the jar cannot be rebuilt")
def test_jar_rebuilds_from_source(tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        from build_jvm import build
    finally:
        sys.path.pop(0)

    def classes(jar: str) -> dict[str, bytes]:
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}

    rebuilt = classes(build(str(tmp_path / "rebuilt.jar")))
    assert rebuilt and rebuilt == classes(NO_FORK_FS_JAR)
