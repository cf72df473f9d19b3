"""Rebuild the engine's JVM jar from its committed Java source.

Compiles ``<package>/jvm/src/**/*.java`` with ``javac --release 17``
against the jars of the installed PySpark, then writes the jar through
``zipfile`` with sorted entries and a fixed timestamp, so the same
source and JDK give the same bytes.

Usage: python scripts/build_jvm.py [out.jar]   (default: the committed jar)
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import zipfile

import pyspark

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.session import NO_FORK_FS_JAR  # noqa: E402

SRC = os.path.join(os.path.dirname(NO_FORK_FS_JAR), "src")
EPOCH = (1980, 1, 1, 0, 0, 0)


def _files(root: str, suffix: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(suffix)
    )


def build(out: str = NO_FORK_FS_JAR) -> str:
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        sources = [os.path.join(SRC, f) for f in _files(SRC, ".java")]
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes, *sources],
            check=True,
        )
        with zipfile.ZipFile(out, "w") as jar:
            for rel in _files(classes, ".class"):
                with open(os.path.join(classes, rel), "rb") as fh:
                    jar.writestr(zipfile.ZipInfo(rel.replace(os.sep, "/"), EPOCH), fh.read())
    return out


def main() -> int:
    print(build(*sys.argv[1:]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
