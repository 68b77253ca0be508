"""Continuously-maintained views: Spark's own streaming aggregation,
published as versioned snapshots.

One code path serves every streaming view. :class:`SnapshotView` runs
the view's ``aggregate`` over the stream in ``complete`` output mode,
so Structured Streaming keeps the aggregation state in the
checkpoint's state store and hands each micro-batch the WHOLE
aggregate. Its foreachBatch publishes that frame as the view's next
snapshot through ``versioned.write_snapshot`` (readers always see a
complete snapshot, never a half-written one), then vacuums all but
``KEEP_VERSIONS`` snapshots: time travel reaches the head and its
parent only. The head snapshot is never read back, so a steady batch
runs one Spark job, and min/max are Spark's own exact aggregates.

Exactly-once: each snapshot's manifest records the (query identity,
batch id) pair as ``batch:N@<checkpoint_dir>``, and the pointer rename
commits data and fence atomically. A checkpoint replay of a batch
whose publish already committed is at or below that fence and
publishes nothing. It still runs the frame, into the ``noop`` sink:
Spark fails a batch whose state stores did not all commit. Skipping
the publish is sound because a fenced batch's state version was
committed when its publish ran.

One view, one checkpoint: a view belongs to the checkpoint that
published its first snapshot, as a Structured Streaming query is
named by its checkpoint and recovered from its offset and commit logs
alone. ``start()`` reads the head once. It refuses (``ValueError``) a
head fenced by another checkpoint or by a note no view wrote, and a
head of this checkpoint when the checkpoint has planned no batch (it
was lost: its batch ids would restart at 0 under the old fence). It
keeps the fenced batch id, so a publish reads no head. To rebuild a
view, start a new checkpoint on a new ``view_dir``.

Scale shape: per batch, one partial-aggregating shuffle of the batch
into the state store and one write of the |groups|-sized aggregate.
The base stream is never re-read. State is bounded by the key
cardinality, view history by ``KEEP_VERSIONS``, and the state store's
history by ``spark.sql.streaming.minBatchesToRetain``. Checkpoint I/O
per batch: an offset and a commit file, and per state partition a
delta and its checksum file, all written through Spark's
FileSystem-based checkpoint manager, which ``start()`` sets on the
session (``session.ensure_streaming_confs``). The snapshot write
leaves no ``_SUCCESS`` marker: the pointer rename is its commit.

Reference parity note: the reference (an Elixir event-transport
client, SURVEY.md §0) consumes streams but materializes nothing; this
derives from the driver's engine-completeness mandate (Delta Live
Tables / Materialize-style continuous aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ex_hivent_spark import fsutil
from ex_hivent_spark.functions.decimals import DEC
from ex_hivent_spark.session import ensure_streaming_confs
from ex_hivent_spark.sources import versioned

FENCE_PREFIX = "batch:"
# Snapshots a publish retains: the committed head and its parent.
KEEP_VERSIONS = 2


def _committed_fence(head: dict | None) -> tuple[str | None, int]:
    """The (query identity, batch id) pair fenced by the committed head
    manifest; (None, -1) for an absent head or one no view published."""
    note = head["note"] if head is not None else ""
    if not note.startswith(FENCE_PREFIX) or "@" not in note:
        return None, -1
    n, txn = note[len(FENCE_PREFIX):].split("@", 1)
    return txn, int(n)


def _has_offsets(spark: SparkSession, checkpoint_dir: str) -> bool:
    """Whether the checkpoint has planned any batch."""
    fs, Path = fsutil.hadoop_fs(spark)
    offsets = Path(f"{checkpoint_dir}/offsets")
    return bool(fs.exists(offsets)) and any(
        s.getPath().getName().isdigit() for s in fs.listStatus(offsets)
    )


def _aggregate(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] = (),
) -> DataFrame:
    """Full aggregation of a frame into view-state shape: exact bigint
    count + decimal sums (``decimal(25,6)``, so the sum does not depend
    on the order rows arrive in; functions/decimals.py), plus exact
    min/max per ``minmax_cols`` column."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")] + [
        F.sum(F.col(c).cast(DEC)).alias(f"sum_{c}") for c in sum_cols
    ]
    for c in minmax_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.groupBy(*group_cols).agg(*aggs)


class SnapshotView:
    """A view maintained by Spark's streaming aggregation in complete
    mode, owned by one checkpoint. Subclasses supply ``aggregate(df)``,
    the view over a frame."""

    def __init__(self, spark: SparkSession, view_dir: str):
        self.spark = spark
        self.view_dir = view_dir
        # The fence of the running query, set by start(): its
        # checkpoint and the last batch id the head holds.
        self._txn_id: str | None = None
        self._fenced = -1

    def aggregate(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _publish(self, output: DataFrame, batch_id: int) -> None:
        if batch_id <= self._fenced:
            # A replay of a published batch: run it only so that its
            # state stores commit.
            output.write.format("noop").mode("overwrite").save()
            return
        versioned.write_snapshot(
            self.spark, output, self.view_dir,
            note=f"{FENCE_PREFIX}{batch_id}@{self._txn_id}",
        )
        versioned.vacuum(self.spark, self.view_dir, keep_last=KEEP_VERSIONS)

    def start(self, stream: DataFrame, checkpoint_dir: str) -> StreamingQuery:
        """Start the query; raise ``ValueError`` if the view has a head
        this checkpoint cannot resume (see the module docstring)."""
        head = versioned.head(self.spark, self.view_dir)
        owner, fenced = _committed_fence(head)
        if head is not None and (
            owner != checkpoint_dir or not _has_offsets(self.spark, checkpoint_dir)
        ):
            raise ValueError(
                f"view {self.view_dir} belongs to checkpoint {owner} "
                f"(head note {head['note']!r}); checkpoint {checkpoint_dir} "
                "cannot resume it: only the checkpoint that published a "
                "view, with its offsets, publishes to it"
            )
        self._txn_id, self._fenced = checkpoint_dir, fenced
        ensure_streaming_confs(self.spark)
        return (
            self.aggregate(stream).writeStream.outputMode("complete")
            .foreachBatch(self._publish)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )

    def read(self) -> DataFrame:
        """The committed snapshot."""
        return versioned.read_snapshot(self.spark, self.view_dir)


class ContinuousAggregateView(SnapshotView):
    """An append-only stream's aggregate view: count, exact decimal sums
    and min/max per group, in the state shape :func:`_aggregate`
    builds."""

    def __init__(
        self,
        spark: SparkSession,
        view_dir: str,
        group_cols: list[str],
        sum_cols: list[str],
        minmax_cols: list[str] = (),
    ):
        super().__init__(spark, view_dir)
        self.group_cols = group_cols
        self.sum_cols = sum_cols
        self.minmax_cols = list(minmax_cols)

    def aggregate(self, df: DataFrame) -> DataFrame:
        return _aggregate(df, self.group_cols, self.sum_cols, self.minmax_cols)
