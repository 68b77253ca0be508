"""Sinks: the batch-keyed layout route()'s ``foreachBatch`` writes, and
the partitioned and bucketed table layouts.

Micro-batch ``N`` of a sink lives in ``<sink>/batch_id=N``. The source
replays a batch after a crash (at-least-once), and the batch-keyed
replace swaps the replay's own output in instead of appending a second
copy. A replayable source plus this idempotent sink gives exactly-once
sink contents, per batch and per sink. ``write_batches`` fills many
sinks from one write, staged and then published onto each sink by
rename.
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ex_hivent_spark.fsutil import hadoop_fs, write_file


def write_batches(
    frame: DataFrame,
    sinks: Sequence[str],
    sink_col: str,
    staging_dir: str,
    batch_id: int,
) -> None:
    """Write micro-batch ``batch_id`` to many sinks in one Spark write.
    ``frame`` carries an integer ``sink_col``, the index of a row's sink
    in ``sinks``.

    The frame is written once, ``partitionBy(sink_col)``, under a fresh
    ``staging_dir``. Each staged ``<sink_col>=i`` directory is then
    published onto ``<sinks[i]>/batch_id=<N>`` with Hadoop FS calls:
    delete the target, create its parent, rename. A sink with no rows
    gets a schema-only file written on the driver, so every sink holds
    every batch, and reading a sink yields each batch with a
    ``batch_id`` partition column. A publish that fails raises, so the
    batch does not commit; its replay stages and publishes the whole
    batch again, replacing whatever a crashed attempt left staged or
    published. The staging directory must be on the sinks' filesystem,
    where a rename moves a directory."""
    spark = frame.sparkSession
    fs, Path = hadoop_fs(spark)
    fs.delete(Path(staging_dir), True)
    # No _SUCCESS marker: the renames below publish the batch.
    frame.write.partitionBy(sink_col).option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    ).parquet(staging_dir)
    schema = None
    for i, sink in enumerate(sinks):
        staged = f"{staging_dir}/{sink_col}={i}"
        if not fs.exists(Path(staged)):
            schema = schema or frame.drop(sink_col).schema
            write_file(spark, f"{staged}/part-00000.parquet", _empty_parquet(schema))
        target = Path(f"{sink}/batch_id={batch_id}")
        fs.delete(target, True)
        if not fs.mkdirs(target.getParent()) or not fs.rename(Path(staged), target):
            raise IOError(f"could not publish {staged} onto {target}")
    fs.delete(Path(staging_dir), True)


def _empty_parquet(schema: StructType) -> bytes:
    """A parquet file with ``schema`` and no rows, built without Spark."""
    buf = pa.BufferOutputStream()
    pq.write_table(to_arrow_schema(schema).empty_table(), buf)
    return buf.getvalue().to_pybytes()


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout (``col=value/`` dirs).

    The 100 TB read-path contract: a filter on a partition column becomes
    a PartitionFilters entry in the scan — pruned directories are never
    listed, let alone read (asserted in tests/test_storage.py). Choose
    low-cardinality, always-filtered columns (lang, date, topic);
    high-cardinality partitioning produces millions of tiny files.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Bucketed (hash-clustered) table: rows are pre-partitioned into
    ``n_buckets`` files by ``bucket_col`` at write time, so a join or
    aggregation on that column needs NO shuffle at read time — the
    exchange both sides would pay on every query is paid once at write.
    The standard layout for fact tables joined repeatedly on the same
    key (orders ⋈ lineitem on orderkey); asserted shuffle-free in
    tests/test_storage.py.
    """
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)
