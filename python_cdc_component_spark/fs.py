"""Filesystem helpers shared by sinks and the control plane."""

from __future__ import annotations

from pyspark.sql import SparkSession


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Explicit path-existence check through the Hadoop FS API — works
    for any supported filesystem, and keeps real read errors (corrupt
    footer, permissions) fatal instead of being conflated with
    absence."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(jpath)


def fs_file_count(spark: SparkSession, path: str,
                  suffix: str = ".parquet", recursive: bool = False) -> int:
    """Number of data files directly under ``path`` (0 if absent) —
    the compaction-debt signal for append-mode stores. With
    ``recursive`` the count descends into sub-directories (partition
    tiers such as ``_batch=K``)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return 0
    n = 0
    stack = [jpath]
    while stack:
        p = stack.pop()
        for st in fs.listStatus(p):
            if st.isDirectory():
                if recursive:
                    stack.append(st.getPath())
            elif st.getPath().getName().endswith(suffix):
                n += 1
    return n


def fs_total_file_count(spark: SparkSession, path: str) -> int:
    """Recursive file count under ``path`` in ONE round-trip
    (``FileSystem.getContentSummary`` counts JVM-side) — the cheap
    compaction-debt trigger for stores with many partition dirs, where
    per-directory ``fs_file_count`` listings would cost one py4j call
    each on every batch."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return 0
    return int(fs.getContentSummary(jpath).getFileCount())


def fs_touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (parents included) — the
    processed-batch manifest primitive."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.create(jpath, True).close()


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path`` (no-op if absent)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.delete(jpath, True))


def fs_delete_empty_dir(spark: SparkSession, path: str) -> bool:
    """Delete the directory ``path`` only if it is empty (no-op if
    absent or not empty): the filesystem itself refuses a
    non-recursive delete of a non-empty directory, so a child another
    writer creates meanwhile survives."""
    from py4j.protocol import Py4JJavaError
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        return bool(fs.delete(jpath, False))
    except Py4JJavaError:
        return False


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file (meta/marker payloads) through the Hadoop
    FS API — ``None`` if absent. Local ``open()`` would silently miss
    the file on a non-local store (hdfs://, s3a://) and the guard the
    meta exists for would do nothing."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def fs_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text file (parents created) through the Hadoop FS
    API — the meta/marker twin of :func:`fs_read_text`."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomic-per-filesystem directory rename (the commit primitive for
    rebuild-then-swap lifecycles). Returns False if the filesystem
    refused (dst exists, src missing)."""
    jsrc = spark._jvm.org.apache.hadoop.fs.Path(src)
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    fs = jsrc.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.rename(jsrc, jdst))


def fs_list_names(spark: SparkSession, path: str) -> list[str]:
    """Names of immediate children of ``path`` ([] if absent)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def fs_has_children(spark: SparkSession, path: str, prefix: str) -> bool:
    """True iff ``path`` has at least one immediate child whose name
    starts with ``prefix`` — the "does this partitioned store hold any
    visible data partitions" probe. A store whose partitions were ALL
    purged keeps its directory (markers like ``_COMPLETE``/``_SUCCESS``
    survive), and ``spark.read.parquet`` on such a directory fails
    schema inference — callers must degrade to "nothing indexed"
    instead of crashing the stream (ADVICE r11, medium)."""
    return any(name.startswith(prefix)
               for name in fs_list_names(spark, path))
