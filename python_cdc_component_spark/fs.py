"""Filesystem helpers: the engine's one path to files outside Spark's
own reads and writes, so ``file://``, ``hdfs://`` and ``s3a://`` paths
work like local ones.

Control documents (run state, schema registry, manifests, side-state
metas) have one writer, :func:`fs_write_text`, and one reader,
:func:`fs_read_text`. A write fills a hidden ``.part`` file, moves the
old document to a hidden ``.old`` name and commits with ONE rename of
the part onto the target; a reader falls back to ``.old`` while the
target is missing. So a reader sees the old document or the new one,
never a partial one, wherever a writer dies. This relies on what the
local FS and HDFS give: a rename onto an absent name is atomic, a
rename never replaces a target (Hadoop returns false), and a document
has one writer at a time. Object stores (s3a) rename by copy and
delete, so there it holds only as far as one-object writes are atomic.
"""

from __future__ import annotations

import functools

from pyspark.sql import SparkSession


@functools.lru_cache(maxsize=8)
def _jclass(jvm, name: str):
    """The JVM class ``name``, resolved once per JVM: the package walk
    costs a py4j round-trip per segment (about 2 ms for ``Path``)."""
    return functools.reduce(getattr, name.split("."), jvm)


def _path(spark: SparkSession, path: str):
    return _jclass(spark._jvm, "org.apache.hadoop.fs.Path")(path)


def _fs(spark: SparkSession, path: str):
    """(Hadoop ``FileSystem``, ``Path``) for ``path``: the one place this
    module builds a filesystem handle."""
    jpath = _path(spark, path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _hidden_sibling(spark: SparkSession, path: str, suffix: str):
    """``.<name><suffix>`` beside ``path``, hidden from Spark reads."""
    head, sep, name = path.rpartition("/")
    return _path(spark, f"{head}{sep}.{name}{suffix}")


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists; real read errors (corrupt footer,
    permissions) stay fatal instead of passing for absence."""
    fs, jpath = _fs(spark, path)
    return fs.exists(jpath)


def _walk_files(fs, jpath, recursive: bool):
    """``FileStatus`` of each file under ``jpath`` (or of ``jpath``)."""
    if not fs.exists(jpath):
        return
    stack = [jpath]
    while stack:
        for st in fs.listStatus(stack.pop()):
            if not st.isDirectory():
                yield st
            elif recursive:
                stack.append(st.getPath())


def fs_file_count(spark: SparkSession, path: str,
                  suffix: str = ".parquet", recursive: bool = False) -> int:
    """Number of data files directly under ``path``, or with
    ``recursive`` also in its sub-directories (0 if absent)."""
    fs, jpath = _fs(spark, path)
    return sum(st.getPath().getName().endswith(suffix)
               for st in _walk_files(fs, jpath, recursive))


def fs_total_file_count(spark: SparkSession, path: str) -> int:
    """Recursive file count under ``path`` in ONE round-trip
    (``getContentSummary`` counts JVM-side): the compaction-debt
    trigger for stores with many partition dirs."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return 0
    return int(fs.getContentSummary(jpath).getFileCount())


def fs_touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (parents included)."""
    fs, jpath = _fs(spark, path)
    fs.create(jpath, True).close()


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path`` (no-op if absent)."""
    fs, jpath = _fs(spark, path)
    return bool(fs.delete(jpath, True))


def fs_delete_empty_dir(spark: SparkSession, path: str) -> bool:
    """Delete the directory ``path`` only if it is empty: the
    filesystem refuses a non-recursive delete of a non-empty directory,
    so a child another writer creates meanwhile survives."""
    from py4j.protocol import Py4JJavaError
    fs, jpath = _fs(spark, path)
    try:
        return bool(fs.delete(jpath, False))
    except Py4JJavaError:
        return False


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """The document at ``path``, or ``None``; under the commit rule, the
    moved-aside ``.old`` while the target is missing."""
    fs, jpath = _fs(spark, path)
    for p in (jpath, _hidden_sibling(spark, path, ".old")):
        if fs.exists(p):
            stream = fs.open(p)
            try:
                return _jclass(spark._jvm, "org.apache.commons.io.IOUtils"
                               ).toString(stream, "UTF-8")
            finally:
                stream.close()
    return None


def fs_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Replace the document at ``path`` (parents created) with
    ``content`` under the commit rule."""
    fs, jpath = _fs(spark, path)
    part = _hidden_sibling(spark, path, ".part")
    old = _hidden_sibling(spark, path, ".old")
    # a document skips the local FS's .crc twin, a second create as
    # costly as its own; ``fs`` renames and deletes any older .crc
    raw = (fs.getRawFileSystem() if _jclass(
        spark._jvm, "org.apache.hadoop.fs.ChecksumFileSystem"
    )._java_lang_class.isInstance(fs) else fs)
    out = raw.create(part, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(jpath):
        fs.delete(old, False)    # stale: a write died after its commit
        fs.rename(jpath, old)
    if not fs.rename(part, jpath):          # the commit
        raise OSError(f"cannot commit {path}: rename refused")
    fs.delete(old, False)


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename ``src`` to ``dst`` (atomic on local FS and HDFS); False if
    the filesystem refused (dst exists, src missing)."""
    fs, jsrc = _fs(spark, src)
    return bool(fs.rename(jsrc, _path(spark, dst)))


def fs_list_names(spark: SparkSession, path: str) -> list[str]:
    """Names of immediate children of ``path`` ([] if absent)."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def fs_has_children(spark: SparkSession, path: str, prefix: str) -> bool:
    """True iff ``path`` has an immediate child whose name starts with
    ``prefix``: does a partitioned store hold any data partitions? A
    store whose partitions were all purged keeps its directory and
    markers, and ``spark.read.parquet`` fails schema inference on it."""
    return any(name.startswith(prefix)
               for name in fs_list_names(spark, path))


def fs_parquet_time_unit(spark: SparkSession, path: str,
                         column: str) -> str | None:
    """The unit (``MILLIS``, ``MICROS`` or ``NANOS``) of the time
    annotation on ``column`` in the footer of the first parquet file
    listed at or under ``path``; ``None`` without such a file or
    annotation (plain INT64). Reads one footer only; an unreadable
    footer raises."""
    fs, jpath = _fs(spark, path)
    first = next((p for p in (st.getPath().toString()
                              for st in _walk_files(fs, jpath, True))
                  if p.endswith(".parquet")), None)
    if first is None:
        return None
    # the static reader skips row-group metadata: about 1 ms against
    # 14 ms for ParquetFileReader.open
    reader = _jclass(spark._jvm, "org.apache.parquet.hadoop.ParquetFileReader")
    skip = _jclass(spark._jvm, "org.apache.parquet.format.converter."
                   "ParquetMetadataConverter").SKIP_ROW_GROUPS
    footer = reader.readFooter(spark._jsc.hadoopConfiguration(),
                               _path(spark, first), skip)
    ann = footer.getFileMetaData().getSchema().getType(
        column).getLogicalTypeAnnotation()
    # TIMESTAMP(<unit>,<utc>) and TIME(<unit>,<utc>) carry a unit
    kind = ann.toString() if ann is not None else ""
    return kind.split("(")[1].split(",")[0] if kind.startswith("TIME") \
        else None
