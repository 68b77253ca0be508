"""Crash-safe directory publish (staging swap) for the parquet tables
that maintenance.py rewrites in place (compaction, keyed delete, MERGE
and optimize_table).

Protocol — writer side (:func:`publish_swap`):

1. fully write ``<target>__staging`` (any Spark write)
2. drop a ``_COMMIT_READY`` marker file into staging
3. delete ``<target>__old``
4. rename ``<target>`` → ``<target>__old``  (if it exists)
5. rename staging → ``<target>``
6. delete ``<target>__old``

Reader/recovery side (:func:`recover_swap`) repairs ANY half-completed
state deterministically before the caller looks at ``target``:

* target exists → publish completed; delete stale staging/backup.
* no target, staging is COMMIT_READY → crash landed between steps 4
  and 5 **roll forward** (the staged data is complete by construction).
  A ready staging alongside a live target (crash before step 4) is
  discarded instead — the producing rewrite was never committed, so
  the caller's retry will regenerate it from the restored target.
* no target, backup exists → crash before staging was ready —
  **roll back** by restoring the backup.
* none of the above → genuinely no published table yet.

Returns whether ``target`` exists afterwards, which is the caller's
"is this the first write?" signal — replacing the blanket
``except Exception: assume-first-write`` pattern that silently reset a
table when a read failed for any other reason (permissions, half swap,
corrupted footer).

All paths go through the Hadoop FileSystem API, so the same code runs
on local disk, HDFS, or an object store with a HCFS connector. Note
object-store renames are copies (non-atomic) — on S3 proper, fronting
with a metadata layer (Delta/Iceberg log) replaces this module; the
recovery contract here is single-writer rename-based HCFS.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

READY_MARKER = "_COMMIT_READY"


def hadoop_fs(spark: SparkSession):
    """The session's Hadoop FileSystem and its ``Path`` class."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(conf)
    return fs, Path


def staging_path(target: str) -> str:
    return f"{target}__staging"


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


def recover_swap(spark: SparkSession, target: str) -> bool:
    """Repair a half-completed publish; return True iff ``target`` is
    now a readable published directory."""
    fs, Path = hadoop_fs(spark)
    staging = Path(staging_path(target))
    ready = Path(f"{staging_path(target)}/{READY_MARKER}")
    backup = Path(f"{target}__old")
    tgt = Path(target)

    if fs.exists(tgt):
        # Completed publish (or crash before step 4 with a ready
        # staging): target is authoritative, leftovers are garbage.
        fs.delete(staging, True)
        fs.delete(backup, True)
        return True
    if fs.exists(ready):
        # Crash between backup-rename and staging-rename: roll forward.
        fs.rename(staging, tgt)
        fs.delete(backup, True)
        return True
    if fs.exists(backup):
        # Staging never became ready: roll back to the previous view.
        fs.delete(staging, True)
        fs.rename(backup, tgt)
        return True
    # Partial staging from a crashed very-first write, or nothing at all.
    fs.delete(staging, True)
    return False


def publish_swap(spark: SparkSession, target: str) -> None:
    """Atomically promote ``<target>__staging`` (already fully written)
    to ``target``. Crash at any step is repaired by recover_swap."""
    fs, Path = hadoop_fs(spark)
    staging = staging_path(target)
    write_text_file(spark, f"{staging}/{READY_MARKER}", "ready\n")
    backup = Path(f"{target}__old")
    tgt = Path(target)
    fs.delete(backup, True)
    if fs.exists(tgt):
        if not fs.rename(tgt, backup):
            raise IOError(f"publish_swap: could not move {target} aside")
    if not fs.rename(Path(staging), tgt):
        raise IOError(f"publish_swap: could not publish {staging} -> {target}")
    fs.delete(backup, True)
