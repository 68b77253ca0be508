"""Batch bootstrap + streaming tail: the consumer catch-up pattern.

A consumer joining a topic mid-history (reference: a Hivent consumer
subscribing to a queue that already holds events) must first process
the backlog, then follow new arrivals. Replaying history through the
micro-batch path works (Structured Streaming's Trigger.AvailableNow)
but pays per-batch commit overhead across the whole backlog; the
production pattern is KAPPA catch-up — bootstrap the derived table
with ONE batch job over the archive, then keep it current with a
streaming tail over the live directory.

Exactly-once across the handoff comes from the directory split, not
from offsets: the archive dir is immutable history (processed exactly
once by the batch job), the live dir receives only post-cutoff data
(processed exactly once by the checkpointed stream). This mirrors the
standard lakehouse layout where ingest lands micro-batches in a live
area and compaction moves them to the archive. The SAME ``transform``
callable is applied on both paths — Structured Streaming's batch/
stream unification is what makes the shared definition correct.

For aggregating transforms, point the tail at a streaming view
(streaming/continuous_view.py: ``ContinuousAggregateView``, or
``UpsertView`` in streaming/upsert.py) instead of a blind append: a
view started with a new checkpoint over an existing head merges that
head into each snapshot it publishes. This module's append handoff is
for the map/enrich class of transforms, where batch+stream outputs
union losslessly.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def bootstrap_and_tail(
    spark: SparkSession,
    archive_dir: str,
    live_dir: str,
    schema: str,
    transform: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Bootstrap ``out_dir`` from the archive with one batch job, then
    start (and return) the checkpointed streaming tail over
    ``live_dir``. Restarting with the same checkpoint resumes the tail
    without re-running the bootstrap (skipped when the checkpoint
    already exists).

    The two writers use SEPARATE areas under ``out_dir``
    (``backfill/`` and ``tail/``) because the streaming parquet sink
    keeps a ``_spark_metadata`` transaction log: a batch read of a
    directory holding that log lists ONLY log-committed files, which
    would silently hide bootstrap files written next to it. Read the
    combined result with :func:`read_derived`."""
    from ex_hivent_spark import fsutil

    if not fsutil.exists(spark, checkpoint_dir):
        batch = transform(
            spark.read.schema(schema).parquet(archive_dir)
        )
        batch.write.mode("overwrite").parquet(f"{out_dir}/backfill")
    return (
        transform(spark.readStream.schema(schema).parquet(live_dir))
        .writeStream.format("parquet")
        .option("path", f"{out_dir}/tail")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_derived(spark: SparkSession, out_dir: str) -> DataFrame:
    """The derived table: bootstrap area ∪ streaming tail area (each
    read under its own root so the tail's ``_spark_metadata`` log is
    honored for exactly-once file listing)."""
    from ex_hivent_spark import fsutil

    parts = []
    for sub in ("backfill", "tail"):
        if fsutil.exists(spark, f"{out_dir}/{sub}"):
            parts.append(spark.read.parquet(f"{out_dir}/{sub}"))
    if not parts:
        raise FileNotFoundError(f"no derived output under {out_dir}")
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df
