"""Driver-side Hadoop FileSystem helpers — the hdfs-safe discipline
(streaming/bloom_ingest.py): never ``os.path`` on a possibly-remote
URI, never a Spark job for a byte-sized metadata read.

Everything here goes through the JVM Hadoop FileSystem bound to the
session's hadoopConfiguration, so the same code path serves file://,
hdfs://, s3a://. Used by the table-maintenance operators
(e.g. operators/ivf_index.py compaction) for bounded top-level
partition listings and single-file metadata reads/writes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any scheme."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _read_one(spark: SparkSession, fs, p) -> str:
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def read_small_file(spark: SparkSession, path: str) -> str | None:
    """Contents of a single small file, driver-side; None if absent.

    Crash-window recovery: write_small_file is tmp-write → delete →
    rename. A crash BETWEEN the delete and the rename leaves only the
    fully-written ``.tmp`` behind — fall back to it, so that window
    can never read as 'file absent' (for a watermark that would mean
    silently reprocessing all history; for a retention floor,
    un-mirroring retention from the query face). A crash mid-tmp-write
    leaves the main file intact and is served normally."""
    fs, p = hadoop_fs(spark, path)
    if fs.exists(p):
        return _read_one(spark, fs, p)
    _, tmp = hadoop_fs(spark, path + ".tmp")
    if fs.exists(tmp):
        return _read_one(spark, fs, tmp)
    return None


def write_small_file(spark: SparkSession, path: str, payload: str) -> None:
    """tmp-write → delete → rename (Hadoop FileSystem.rename refuses
    to overwrite, so the delete is unavoidable without FileContext).
    The delete→rename crash window is closed on the READ side:
    read_small_file falls back to the complete ``.tmp``. A failed
    rename raises instead of silently leaving the old state."""
    fs, p = hadoop_fs(spark, path)
    _, tmp = hadoop_fs(spark, path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise OSError(f"rename failed: {path}.tmp -> {path}")


def list_partition_dirs(spark: SparkSession, table_path: str,
                        column: str) -> list[tuple[str, str]]:
    """[(raw_value, uri)] of a table's top-level ``column=value``
    partition directories — ONE bounded listing of the top level only
    (bounded by retention/bucket count), never a recursive walk."""
    fs, root = hadoop_fs(spark, table_path)
    if not fs.exists(root):
        return []
    prefix = f"{column}="
    out = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith(prefix):
            out.append((name[len(prefix):], status.getPath().toString()))
    return sorted(out)


def count_data_files(spark: SparkSession, uris: list[str]) -> int:
    """Recursive .parquet file count under the given directories."""
    if not uris:
        return 0
    fs, _ = hadoop_fs(spark, uris[0])
    jvm = spark._jvm
    n = 0
    for u in uris:
        it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(u), True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
    return n
