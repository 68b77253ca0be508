"""Continuously-maintained aggregate views: the streaming twin of
:mod:`ex_hivent_spark.matview`.

Each micro-batch of an append-only stream is aggregated once, in the
state's own shape, and folded as the delta into the SAME versioned
view state the batch IVM maintains — so a dashboard aggregate is
updated per batch at O(|batch| + |groups|) cost and published
atomically (readers always see a complete snapshot, never a
half-merged one). Each fold then vacuums all but ``KEEP_VERSIONS``
snapshots: time travel reaches the head and its parent only.

Exactly-once without a separate ledger: the fold writes each new state
through ``versioned.write_snapshot`` with the (query identity, batch
id) pair recorded in the snapshot's own manifest, and the pointer
rename commits DATA AND FENCE atomically. On checkpoint replay (crash
between the snapshot commit and sink acknowledgment), the re-delivered
batch finds its own id at the committed head UNDER THE SAME QUERY
IDENTITY and skips — the same batch-id fencing discipline as
streaming/consumer.py's idempotent quarantine writes, here made
crash-atomic by the pointer protocol instead of a directory convention.
The identity half of the fence matters because Structured Streaming
batch ids are per-checkpoint: restarting the stream with a NEW
checkpoint directory resets ids to 0, and a bare batch-id fence would
silently drop every restarted batch whose id is below the old fence.
Fencing on the pair (Delta's txnAppId+txnVersion discipline) instead
folds batches from a new query identity and skips only true replays.

Scale shape: per batch, one read of the committed head (fence and
state version), one partial-aggregating shuffle of the batch (|batch|
rows) plus one join against the |groups|-sized state. The base stream
is never re-read; state size is bounded by the group-key cardinality,
and history by ``KEEP_VERSIONS``. Append-only streams produce only
assertions (+1/+value); upstream deletes/updates belong to the batch
path (matview.refresh over snapshot diffs), which shares the identical
``fold_state`` so the two maintenance routes cannot diverge.

Reference parity note: the reference (an Elixir event-transport
client, SURVEY.md §0) consumes streams but materializes nothing; this
derives from the driver's engine-completeness mandate (Delta Live
Tables / Materialize-style continuous aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ex_hivent_spark import matview
from ex_hivent_spark.sources import versioned

FENCE_PREFIX = "batch:"
# Snapshots a fold retains: the committed head and its parent.
KEEP_VERSIONS = 2


def _committed_fence(head: dict | None) -> tuple[str | None, int]:
    """The (query identity, batch id) pair fenced by the committed head
    manifest; (None, -1) for an unfenced/absent head. Legacy notes
    without an identity parse as (None, batch)."""
    note = head["note"] if head is not None else ""
    if not note.startswith(FENCE_PREFIX):
        return None, -1
    body = note[len(FENCE_PREFIX):]
    if "@" in body:
        n, txn = body.split("@", 1)
        return txn, int(n)
    return None, int(body)


class ContinuousAggregateView:
    """Fold an append-only stream's micro-batches into a versioned
    aggregate view (count + decimal sums per group)."""

    def __init__(
        self,
        spark: SparkSession,
        view_dir: str,
        group_cols: list[str],
        sum_cols: list[str],
        minmax_cols: list[str] = (),
    ):
        self.spark = spark
        self.view_dir = view_dir
        self.group_cols = group_cols
        self.sum_cols = sum_cols
        # Append-only streams produce only assertions, so the monotonic
        # least/greatest fold is always sound here — no repair pass.
        self.minmax_cols = list(minmax_cols)
        # Query identity half of the exactly-once fence; set by start()
        # from the checkpoint location (batch ids are per-checkpoint).
        self._txn_id: str | None = None

    def _fold_batch(self, batch: DataFrame, batch_id: int) -> None:
        head = versioned.head(self.spark, self.view_dir)
        fenced_txn, fenced_batch = _committed_fence(head)
        same_identity = (
            fenced_txn is None
            or self._txn_id is None
            or fenced_txn == self._txn_id
        )
        if batch_id <= fenced_batch and same_identity:
            return  # checkpoint replay of an already-committed fold
        # A lower/equal batch id under a DIFFERENT query identity is a
        # restart with a fresh checkpoint (ids reset to 0): new data,
        # fold it — never silently drop it.
        delta = matview._aggregate(
            batch, self.group_cols, self.sum_cols, self.minmax_cols
        )
        if head is None:
            new_state = delta
        else:
            state = versioned.read_snapshot(
                self.spark, self.view_dir, head["version"]
            )
            new_state = matview.fold_state(
                state, delta, self.group_cols, self.sum_cols, self.minmax_cols
            )
        fence = (
            f"{FENCE_PREFIX}{batch_id}@{self._txn_id}"
            if self._txn_id is not None
            else f"{FENCE_PREFIX}{batch_id}"
        )
        versioned.write_snapshot(
            self.spark, new_state, self.view_dir, note=fence
        )
        versioned.vacuum(self.spark, self.view_dir, keep_last=KEEP_VERSIONS)

    def start(self, stream: DataFrame, checkpoint_dir: str) -> StreamingQuery:
        self._txn_id = checkpoint_dir
        return (
            stream.writeStream.foreachBatch(self._fold_batch)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )

    def read(self) -> DataFrame:
        """Current state snapshot (count + exact decimal sums)."""
        return versioned.read_snapshot(self.spark, self.view_dir)
