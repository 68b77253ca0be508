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
whose publish already committed finds its own pair at the head and
publishes nothing. It still runs the frame, into the ``noop`` sink:
Spark fails a batch whose state stores did not all commit. Skipping
the publish is sound because a fenced batch's state version was
committed when its publish ran. The identity half of the fence
matters because batch ids are per-checkpoint: a NEW checkpoint
restarts them at 0, and must not be fenced out by the old ones.

A new checkpoint over a head another query published starts from an
empty state store. ``start()`` then copies that head once to
``<checkpoint_dir>/base`` and every publish of the query returns
``merge(base, output)``. The base lives with the checkpoint, so it
survives vacuum and restarts. One query maintains a view at a time:
an older checkpoint resumed after another query published publishes
its own state, without the other query's rows.

Scale shape: per batch, one partial-aggregating shuffle of the batch
into the state store and one write of the |groups|-sized aggregate.
The base stream is never re-read. State is bounded by the key
cardinality, view history by ``KEEP_VERSIONS``, and the state store's
history by ``spark.sql.streaming.minBatchesToRetain``.

Reference parity note: the reference (an Elixir event-transport
client, SURVEY.md §0) consumes streams but materializes nothing; this
derives from the driver's engine-completeness mandate (Delta Live
Tables / Materialize-style continuous aggregates).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ex_hivent_spark import fsutil
from ex_hivent_spark.functions.decimals import DEC
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


def _null_safe_on(
    left: DataFrame, right: DataFrame, group_cols: list[str]
) -> Column:
    """Null-safe equi-join condition over the group key. A NULL group
    key is a legal GROUP BY group; plain ``=`` never matches NULL to
    NULL, so a null-keyed base row and its output row would survive as
    two separate rows. eqNullSafe matches them (Spark plans it as a
    hash join on the key, same shuffle shape)."""
    return reduce(
        lambda a, b: a & b,
        [left[c].eqNullSafe(right[c]) for c in group_cols],
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


def fold_state(
    state: DataFrame,
    deltas: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] = (),
) -> DataFrame:
    """Fold a delta frame into a view state. Deltas come in the state's
    own shape (``n_rows`` + ``sum_<col>`` [+ ``min_/max_<col>``], as
    :func:`_aggregate` builds it): one full-outer join on the group
    key, coalesced group-wise addition, zero-count groups dropped. The
    continuous view, whose state Spark's own aggregation keeps, uses it
    only to merge a head left by another query into a new query's
    output.

    Min/max fold monotonically (least/greatest, nulls skipped). That
    is exact for two aggregates of disjoint append-only streams, the
    only merge the view makes; it could not undo a retraction."""
    s, d = state.alias("s"), deltas.alias("d")
    out_cols = [
        (
            F.coalesce(s["n_rows"], F.lit(0))
            + F.coalesce(d["n_rows"], F.lit(0))
        ).cast("bigint").alias("n_rows"),
    ] + [
        (
            F.coalesce(s[f"sum_{c}"], F.lit(0).cast(DEC))
            + F.coalesce(d[f"sum_{c}"], F.lit(0).cast(DEC))
        ).cast(DEC).alias(f"sum_{c}")
        for c in sum_cols
    ]
    for c in minmax_cols:
        out_cols += [
            F.least(s[f"min_{c}"], d[f"min_{c}"]).alias(f"min_{c}"),
            F.greatest(s[f"max_{c}"], d[f"max_{c}"]).alias(f"max_{c}"),
        ]
    key_cols = [
        F.coalesce(s[c], d[c]).alias(c) for c in group_cols
    ]  # coalesce is key-identity here: sides only both-match when
    # eqNullSafe-equal, and a NULL key coalesces from whichever side
    # is present
    merged = s.join(d, _null_safe_on(s, d, group_cols), "full_outer").select(
        *key_cols, *out_cols
    )
    return merged.filter(F.col("n_rows") > 0)


class SnapshotView:
    """A view maintained by Spark's streaming aggregation in complete
    mode. Subclasses supply ``aggregate(df)``, the view over a frame,
    and ``merge(base, output)``, the view over two such views."""

    def __init__(self, spark: SparkSession, view_dir: str):
        self.spark = spark
        self.view_dir = view_dir
        # Query identity half of the fence, and the foreign head to
        # merge into each publish; both set by start().
        self._txn_id: str | None = None
        self._base: DataFrame | None = None

    def aggregate(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def merge(self, base: DataFrame, output: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _publish(self, output: DataFrame, batch_id: int) -> None:
        txn, fenced = _committed_fence(versioned.head(self.spark, self.view_dir))
        if txn == self._txn_id and batch_id <= fenced:
            # A replay of a published batch: run it only so that its
            # state stores commit.
            output.write.format("noop").mode("overwrite").save()
            return
        if self._base is not None:
            output = self.merge(self._base, output)
        versioned.write_snapshot(
            self.spark, output, self.view_dir,
            note=f"{FENCE_PREFIX}{batch_id}@{self._txn_id}",
        )
        versioned.vacuum(self.spark, self.view_dir, keep_last=KEEP_VERSIONS)

    def start(self, stream: DataFrame, checkpoint_dir: str) -> StreamingQuery:
        spark, base = self.spark, f"{checkpoint_dir}/base"
        if not _has_offsets(spark, checkpoint_dir):
            head = versioned.head(spark, self.view_dir)
            if head is not None and _committed_fence(head)[0] != checkpoint_dir:
                versioned.read_snapshot(spark, self.view_dir).write.mode(
                    "overwrite"
                ).parquet(base)
        self._txn_id = checkpoint_dir
        self._base = spark.read.parquet(base) if fsutil.exists(spark, base) else None
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

    def merge(self, base: DataFrame, output: DataFrame) -> DataFrame:
        return fold_state(
            base, output, self.group_cols, self.sum_cols, self.minmax_cols
        )
