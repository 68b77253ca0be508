"""Sinks: the batch-keyed overwrite every ``foreachBatch`` writer goes
through, and the partitioned and bucketed table layouts.

A micro-batch is written with ``write_batch``: the source replays a
batch after a crash (at-least-once), and the batch-keyed overwrite
replaces the replay's own output instead of appending a second copy.
A replayable source plus this idempotent sink gives exactly-once sink
contents, per batch and per sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_batch(df: DataFrame, sink_dir: str, batch_id: int) -> None:
    """Write micro-batch ``batch_id`` to ``<sink_dir>/batch_id=<N>`` with
    overwrite, so a replay of the batch overwrites the same directory.
    Reading ``sink_dir`` yields every batch, with a ``batch_id``
    partition column."""
    df.write.mode("overwrite").parquet(f"{sink_dir}/batch_id={batch_id}")


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
