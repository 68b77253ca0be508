"""Small Hadoop FileSystem helpers: the session's FileSystem, and
whole-file writes, reads and existence probes for the manifests,
pointers and emitted files the program writes itself.

All paths go through the Hadoop FileSystem API, so the same code runs
on local disk, HDFS, or an object store with a HCFS connector. Table
commits are ``sources/versioned.py``'s pointer rename; route()'s
stage-and-rename is ``sources/sinks.write_batches``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession):
    """The session's Hadoop FileSystem and its ``Path`` class."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(conf)
    return fs, Path


def write_file(spark: SparkSession, path: str, data: bytes) -> None:
    """Write a small file through the Hadoop FS (works on any HCFS)."""
    fs, Path = hadoop_fs(spark)
    out = fs.create(Path(path), True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def write_text_file(spark: SparkSession, path: str, text: str) -> None:
    """Write a small UTF-8 text file through the Hadoop FS."""
    write_file(spark, path, text.encode("utf-8"))


def read_text_file(spark: SparkSession, path: str) -> str:
    fs, Path = hadoop_fs(spark)
    stream = fs.open(Path(path))
    try:
        jvm = spark.sparkContext._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def exists(spark: SparkSession, path: str) -> bool:
    fs, Path = hadoop_fs(spark)
    return bool(fs.exists(Path(path)))
