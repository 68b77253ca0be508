"""Table maintenance: the incremental hourly rollup and table
statistics.

The hourly rollup (``refresh_time_rollup``) is a streaming view: its
checkpoint records which event files it has read and its versioned
snapshot publishes the aggregate, so it keeps no progress record of its
own. ``analyze_table`` writes a ``_STATS.json`` manifest next to a
parquet table, which ``planner.py`` and the stats-sized Bloom filters
in ``operators/bloom.py`` read through ``read_table_stats``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def refresh_time_rollup(
    spark: SparkSession,
    events_path: str,
    rollup_path: str,
) -> int:
    """Incrementally maintain an hourly (window_start, event_type) →
    (n_rows, sum_value) rollup of the parquet events under
    ``events_path``: one drain of a
    :class:`~ex_hivent_spark.streaming.continuous_view.ContinuousAggregateView`
    whose checkpoint is ``<rollup_path>/_checkpoint``.

    The file source records the files it has read in the checkpoint,
    the state store keeps the aggregate (count and exact
    ``decimal(25,6)``-based sum), and each batch publishes the whole
    aggregate as the next snapshot of the versioned table at
    ``rollup_path`` (read it with ``versioned.read_snapshot``). The
    snapshot's note fences the batch, so a replay after a crash
    between publish and commit publishes nothing: no double count.
    The rollup belongs to its checkpoint: if ``<rollup_path>/_checkpoint``
    is lost while the rollup has a head, the refresh raises
    ``ValueError`` instead of folding nothing. Rebuild it at a new
    ``rollup_path``.

    Cost per refresh is O(new files) + O(|rollup|), never O(all
    history). Returns the events folded into a newly published
    snapshot; a no-op refresh and a fenced replay both return 0.
    """
    from pyspark.sql import functions as F

    from ex_hivent_spark.streaming.continuous_view import ContinuousAggregateView

    view = ContinuousAggregateView(
        spark, rollup_path, ["window_start", "event_type"], ["value"]
    )
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(events_path)
        .select(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type", "value"
        )
    )
    query = view.start(stream, f"{rollup_path}/_checkpoint")
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return sum(
        p["numInputRows"] for p in query.recentProgress if p["batchId"] > view._fenced
    )


def analyze_table(
    spark: SparkSession,
    path: str,
    ndv_rsd: float = 0.05,
) -> dict:
    """ANALYZE TABLE: collect the statistics a cost-based optimizer (or
    a human sizing a job) needs — total rows plus, per column, null
    count, approximate distinct count (HLL++, relative error
    ``ndv_rsd``), and min/max for orderable types — in ONE scan with a
    single multi-aggregate (no per-column passes), and persist them as
    a ``_STATS.json`` manifest next to the data so later sessions read
    a few KB instead of re-scanning the table.

    At 100 TB this is the nightly stats job: one full scan with
    map-side-combining sketch accumulators, output size O(columns).
    The manifest is the engine-side analogue of Spark's catalog stats
    (`ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS`), usable
    for broadcast-threshold and partition-count decisions without a
    metastore. Returns the stats dict it wrote."""
    import json as _json

    from pyspark.sql import functions as F

    from ex_hivent_spark import fsutil

    df = spark.read.parquet(path)
    n_rows = F.count(F.lit(1)).alias("__n_rows")
    aggs = [n_rows]
    orderable = {}
    for f in df.schema.fields:
        c = f.name
        kind = f.dataType.typeName()
        # binary/map/array/struct columns get counts but no min/max
        # (order is undefined or engine-specific there).
        orderable[c] = kind not in (
            "binary", "map", "array", "struct", "variant"
        )
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"__nulls__{c}"
            )
        )
        aggs.append(
            F.approx_count_distinct(c, rsd=ndv_rsd).alias(f"__ndv__{c}")
        )
        if orderable[c]:
            aggs.append(F.min(c).alias(f"__min__{c}"))
            aggs.append(F.max(c).alias(f"__max__{c}"))
    row = df.agg(*aggs).collect()[0].asDict()

    fs, Path = fsutil.hadoop_fs(spark)
    total_bytes = fs.getContentSummary(Path(path)).getLength()

    stats = {
        "n_rows": row["__n_rows"],
        "total_bytes": int(total_bytes),
        "ndv_rsd": ndv_rsd,
        "columns": {},
    }
    for f in df.schema.fields:
        c = f.name
        col_stats = {
            "type": f.dataType.simpleString(),
            "null_count": row[f"__nulls__{c}"],
            "approx_ndv": row[f"__ndv__{c}"],
        }
        if orderable[c]:
            col_stats["min"] = row[f"__min__{c}"]
            col_stats["max"] = row[f"__max__{c}"]
        stats["columns"][c] = col_stats
    fsutil.write_text_file(
        spark, f"{path}/_STATS.json", _json.dumps(stats, default=str)
    )
    return stats


def read_table_stats(spark: SparkSession, path: str) -> dict | None:
    """Read the ``_STATS.json`` manifest written by :func:`analyze_table`
    (None when the table has never been analyzed)."""
    import json as _json

    from ex_hivent_spark import fsutil

    if not fsutil.exists(spark, f"{path}/_STATS.json"):
        return None
    return _json.loads(fsutil.read_text_file(spark, f"{path}/_STATS.json"))
