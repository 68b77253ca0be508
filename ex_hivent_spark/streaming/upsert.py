"""Streaming upsert view: the LATEST row per key, as a versioned table.

The batch twin is ``q_last_event`` (max-ts row per user); this is its
continuously-maintained form — the reference's Memory.last-per-key
semantics (memory.ex:123) turned into a serving table. It runs on the
one view path of :mod:`ex_hivent_spark.streaming.continuous_view`:
Spark's streaming aggregation keeps the latest row per key in its
state store, and each micro-batch publishes the whole reduction as the
view's next snapshot. ``read()`` resolves the snapshot pointer.

Scale notes: the publish writes O(|keys|) rows per batch, the honest
cost of parquet-as-serving-table; the reduce itself is one max(struct)
hash aggregate — no window sort, map-side partials. The view belongs
to the checkpoint that published it first: ``start()`` with another
checkpoint, or with a lost one, raises ``ValueError``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ex_hivent_spark.streaming.continuous_view import SnapshotView


def latest_per_key(df: DataFrame, key: str, ts_col: str, cols: list[str]) -> DataFrame:
    """Reduce to the latest row per key via one max(struct) aggregate —
    (ts, tie-break cols...) ordered lexicographically, no sort."""
    payload = F.struct(F.col(ts_col), *[F.col(c) for c in cols])
    out = df.groupBy(key).agg(F.max(payload).alias("b"))
    return out.select(
        key,
        F.col(f"b.{ts_col}").alias(ts_col),
        *[F.col(f"b.{c}").alias(c) for c in cols],
    )


class UpsertView(SnapshotView):
    """Continuously-maintained latest-per-key view."""

    def __init__(
        self,
        spark: SparkSession,
        view_dir: str,
        key: str,
        ts_col: str,
        cols: list[str],
    ):
        super().__init__(spark, view_dir)
        self.key = key
        self.ts_col = ts_col
        self.cols = cols

    def aggregate(self, df: DataFrame) -> DataFrame:
        return latest_per_key(df, self.key, self.ts_col, self.cols)

