"""Hadoop-FS primitives and the one versioned-publish protocol.

Every driver-side filesystem call in the engine (existence probes,
listings, small metadata files, deletes) goes through :func:`hadoop_fs`,
so any Hadoop-compatible store works and no caller re-derives the
``Path(p).getFileSystem(hadoopConfiguration())`` handshake.

Versioned publish — the one protocol the derived vector stores (the
IVF-PQ index and the corpus-cells store, operators/similarity.py) share:

    {root}/_VERSION   {"v": N} — the store's single source of truth
    {root}/v=N/       one complete, immutable snapshot

A writer STAGES the next snapshot ``v=N+1`` (invisible: the pointer
still names ``v=N``), PUBLISHES it with one atomic pointer rewrite,
keeps the previous snapshot one more generation as a GRACE copy for
readers that resolved the old pointer, and SWEEPS every other
``v=*`` directory (aged grace copies and crashed stages). Readers
resolve the pointer once per operation and hold snapshot isolation.
A crash at any point leaves the pointer naming a complete snapshot.
This is the reference's idempotent ``WRITE_TRUNCATE`` on
``table$YYYYMMDDHH`` (ingestion/bigquery_interaction.py:20) applied to
whole-store snapshots. Concurrency contract: any number of readers,
one writer per store at a time.
"""

from __future__ import annotations

import json
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

VERSION_POINTER = "_VERSION"


def hadoop_fs(spark: SparkSession, path: str):
    """``(jvm, fs, jpath)`` for ``path`` — the FileSystem that owns it."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Exact-path existence probe (``fs.exists``) — metadata-only, no
    job, and NO glob interpretation: a path containing ``[``/``{``/
    ``*``/``?`` literally is checked as-is, where :func:`glob_status`
    would silently match nothing and read as "missing"."""
    _, fs, jpath = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def glob_status(spark: SparkSession, pattern: str) -> list:
    """Hadoop ``globStatus`` — metadata-only, no job. The pattern IS
    interpreted as a glob (``* ? [ ] { }`` are metacharacters); probe a
    user-supplied path with :func:`path_exists` instead."""
    _, fs, jpath = hadoop_fs(spark, pattern)
    statuses = fs.globStatus(jpath)
    return list(statuses) if statuses is not None else []


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path``; ``False`` when it did not exist."""
    _, fs, jpath = hadoop_fs(spark, path)
    return bool(fs.delete(jpath, True))


def read_small_file(spark: SparkSession, path: str) -> str:
    _, fs, jpath = hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        # FSDataInputStream inherits java.io.InputStream (Java 11+):
        # readAllBytes() comes back to py4j as Python bytes
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def write_small_file(spark: SparkSession, path: str, content: str) -> None:
    """Write a small metadata file ATOMICALLY: stage to a dot-temp
    sibling, then rename into place. A crash leaves the old content, no
    file, or the new content — never a torn file. The delete→rename
    window can only surface as a MISSING file."""
    jvm, fs, jpath = hadoop_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(jpath.getParent(), f".{jpath.getName()}.tmp")
    stream = fs.create(tmp, True)
    try:
        # py4j auto-converts Python bytes to byte[]
        stream.write(content.encode("utf-8"))
    finally:
        stream.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(tmp, jpath):
        raise IOError(f"rename {tmp} -> {jpath} failed")


def copy_tree(spark: SparkSession, src: str, dst: str) -> None:
    """Bit-exact filesystem copy of ``src`` to ``dst`` (same FileSystem)."""
    jvm, fs, jsrc = hadoop_fs(spark, src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(fs, jsrc, fs, jdst, False, conf):
        raise IOError(f"copy {jsrc} -> {jdst} failed")


def numbered_dirs(spark: SparkSession, root: str, prefix: str) -> dict[int, str]:
    """``{N: path}`` for the ``{prefix}N`` child directories of ``root``
    (``v=`` snapshots, ``cell=`` partitions) — ONE exact-path
    ``listStatus``, no glob interpretation of a user-supplied root.
    Anything else under the root is ignored; empty when the root does
    not exist."""
    base = root.rstrip("/")
    _, fs, jroot = hadoop_fs(spark, base)
    if not fs.exists(jroot):
        return {}
    out = {}
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            try:
                out[int(name[len(prefix):])] = f"{base}/{name}"
            except ValueError:
                continue  # foreign dir; ignore rather than crash
    return out


def data_file_count(spark: SparkSession, path: str) -> int:
    """Data files directly under ``path`` (``_``/``.`` names skipped)."""
    _, fs, jpath = hadoop_fs(spark, path)
    return sum(
        1
        for st in fs.listStatus(jpath)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    )


# -- versioned publish -------------------------------------------------------


def live_version(spark: SparkSession, root: str) -> int | None:
    """The committed snapshot version from ``{root}/_VERSION``; ``None``
    when there is no pointer (nothing published yet, or the pointer
    rewrite's delete→rename microwindow). A pointer that reads fine but
    does not parse is external corruption — :func:`write_small_file`
    cannot tear it — so it raises a repair-oriented error instead of
    reading as "missing", which would route the caller to a rebuild
    whose first publish sweeps every committed snapshot."""
    ptr = f"{root.rstrip('/')}/{VERSION_POINTER}"
    if not path_exists(spark, ptr):
        return None
    try:
        content = read_small_file(spark, ptr)
    except Py4JJavaError:
        # the open can lose the delete→rename microwindow after the
        # exists probe passed — same "missing right now" semantics
        return None
    try:
        return int(json.loads(content)["v"])
    except (ValueError, KeyError, TypeError):
        raise ValueError(
            f"corrupt {VERSION_POINTER} pointer at {ptr}: {content!r} — "
            'restore it to {"v": N} naming the live snapshot directory; '
            "the v=N snapshots themselves are untouched (do NOT rebuild)"
        )


def live_root(spark: SparkSession, root: str) -> str:
    """Resolve a store root to its LIVE snapshot directory
    ``{root}/v=N``. Callers resolve ONCE per operation and read every
    artifact from the returned directory, so a publish landing
    mid-operation can never mix two snapshots. An already-resolved
    ``.../v=N`` path resolves to itself by name (no I/O). A missing
    pointer over existing snapshots is re-probed twice (the atomic
    rewrite's delete→rename window); a root still without one raises
    as an unpublished store."""
    base = root.rstrip("/")
    tail = base.rsplit("/", 1)[-1]
    if tail.startswith("v=") and tail[2:].isdigit():
        return base
    v = live_version(spark, base)
    if v is None and numbered_dirs(spark, base, "v="):
        for backoff in (0.05, 0.2):  # snapshots but no pointer: wait it out
            time.sleep(backoff)
            v = live_version(spark, base)
            if v is not None:
                break
    if v is None:
        raise ValueError(
            f"no committed {VERSION_POINTER} pointer under {base} — the store "
            "was never published (or its first build crashed); build it"
        )
    return f"{base}/v={v}"


def stamp_version(spark: SparkSession, root: str, v: int) -> None:
    """Atomically point ``{root}/_VERSION`` at snapshot ``v`` — THE
    publish step; also the repair for a corrupt pointer."""
    write_small_file(spark, f"{root.rstrip('/')}/{VERSION_POINTER}", json.dumps({"v": int(v)}))


def next_version(spark: SparkSession, root: str) -> int:
    """The next unused snapshot number: above every on-disk ``v=N``
    (committed or crashed-stage garbage) and the committed pointer."""
    cur = live_version(spark, root)
    return max(list(numbered_dirs(spark, root, "v=")) + [cur or 0]) + 1


def sweep_versions(spark: SparkSession, root: str, keep: set) -> list:
    """Delete every ``v=N`` snapshot directory whose version is not in
    ``keep``; returns the versions removed."""
    removed = []
    for v, path in sorted(numbered_dirs(spark, root, "v=").items()):
        if v not in keep:
            delete_path(spark, path)
            removed.append(v)
    return removed


def entry_sweep(spark: SparkSession, root: str) -> list:
    """Maintenance-entry reclamation: keep the live snapshot and the
    ACTUAL previous on-disk version (the reader grace copy), delete
    everything else. "Previous" is the highest on-disk version below
    the pointer, NOT ``live-1``: version numbers skip past crashed
    stages, so arithmetic could delete the real grace copy out from
    under an in-flight reader. No-op on an unpublished root."""
    cur = live_version(spark, root)
    if cur is None:
        return []
    prevs = [v for v in numbered_dirs(spark, root, "v=") if v < cur]
    return sweep_versions(spark, root, {cur} | ({max(prevs)} if prevs else set()))


def publish(spark: SparkSession, root: str, new_v: int):
    """Commit the staged snapshot ``new_v``: flip the pointer, then sweep
    every version except {new, previous}. Only a reader slower than TWO
    consecutive publishes can lose its snapshot — the Delta/Iceberg
    vacuum retention contract. Returns the previous version (``None``
    for a first publish)."""
    prev = live_version(spark, root)
    stamp_version(spark, root, new_v)
    sweep_versions(spark, root, {new_v} if prev is None else {new_v, prev})
    return prev


def vacuum(spark: SparkSession, root: str) -> dict:
    """Owner-invoked retention: drop every snapshot except the live one
    (once in-flight readers have drained). Returns {version, removed}."""
    cur = live_version(spark, root)
    if cur is None:
        raise ValueError(f"no committed {VERSION_POINTER} pointer under {root.rstrip('/')}")
    return {"version": cur, "removed": sweep_versions(spark, root, {cur})}
