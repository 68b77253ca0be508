"""Table maintenance: small-file compaction, in-place rewrites and the
incremental hourly rollup.

Streaming sinks and partitioned appends accumulate small files (one per
micro-batch per partition); at 100 TB the resulting file-listing and
per-file open costs dominate scan time long before data volume does.
Compaction rewrites a table directory into ~target-sized files — the
routine maintenance job every file-based lakehouse runs.

Compaction, keyed delete, MERGE and ``optimize_table`` rewrite a plain
parquet directory in place through the crash-safe staging swap
(fsutil). The hourly rollup is instead a streaming view
(``refresh_time_rollup``): its checkpoint records which event files it
has read and its versioned snapshot publishes the aggregate, so it
keeps no progress record of its own.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    min_files: int = 1,
) -> int:
    """Rewrite ``path`` into ceil(bytes / target) parquet files.

    Returns the output file count. Uses a staging-dir swap so a crash
    mid-compaction never leaves the table truncated: readers see either
    the old layout or the new one.
    """
    from ex_hivent_spark import fsutil

    sc = spark.sparkContext
    hadoop = sc._jvm.org.apache.hadoop
    conf = sc._jsc.hadoopConfiguration()
    fs = hadoop.fs.FileSystem.get(conf)
    p = hadoop.fs.Path(path)
    size = fs.getContentSummary(p).getLength()
    n_files = max(min_files, math.ceil(size / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(
        fsutil.staging_path(path)
    )
    fsutil.publish_swap(spark, path)
    return n_files


def zorder_write(
    spark: SparkSession,
    df,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` z-ordered on two numeric columns: rows are sorted
    along a Morton (bit-interleaved) space-filling curve, so parquet
    min/max footer stats become selective on BOTH columns at once —
    2-D predicate data skipping, where a plain sort only skips on its
    leading column. The standard lakehouse OPTIMIZE ZORDER layout,
    expressed as: normalize each column to ``bits`` levels, interleave
    bits JVM-side, range-partition on the z-value, drop it.

    One tiny pre-pass collects the two min/max pairs (4 scalars); the
    write itself is one range exchange + local sort.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).collect()[0]
    x_min, x_max, y_min, y_max = (float(v) for v in stats)
    levels = (1 << bits) - 1

    def _norm(col: str, lo: float, hi: float):
        span = (hi - lo) or 1.0
        return F.least(
            F.lit(levels),
            F.floor((F.col(col).cast("double") - lo) / span * levels),
        ).cast("long")

    zx, zy = _norm(col_x, x_min, x_max), _norm(col_y, y_min, y_max)
    terms = []
    for b in range(bits):
        terms.append(F.shiftleft(F.shiftright(zx, b).bitwiseAND(1), 2 * b))
        terms.append(F.shiftleft(F.shiftright(zy, b).bitwiseAND(1), 2 * b + 1))
    zval = terms[0]
    for t in terms[1:]:
        zval = zval + t

    (
        df.withColumn("__z", zval)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


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

    Cost per refresh is O(new files) + O(|rollup|), never O(all
    history). Returns the events folded into a newly published
    snapshot; a no-op refresh and a fenced replay both return 0.
    """
    from pyspark.sql import functions as F

    from ex_hivent_spark.sources import versioned
    from ex_hivent_spark.streaming.continuous_view import (
        ContinuousAggregateView,
        _committed_fence,
    )

    _, fenced = _committed_fence(versioned.head(spark, rollup_path))
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
        p["numInputRows"] for p in query.recentProgress if p["batchId"] > fenced
    )


def delete_keys(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys,
) -> int:
    """Keyed deletion rewrite (the GDPR / right-to-be-forgotten
    primitive): remove every row whose ``key_col`` appears in ``keys``
    (a list of values or a one-column DataFrame) and atomically replace
    the table at ``path`` via the crash-safe staging swap — readers see
    the old table until publish, and an interrupted delete either rolls
    forward or back on the next call (fsutil.recover_swap).

    Plan: one left-anti join against the (broadcast) key set — at
    100 TB a delete set is millions of keys against billions of rows,
    so the anti join stays a broadcast hash probe with zero shuffle of
    the fact side; partition-pruned paths can narrow the rewrite
    further.  Returns the number of rows deleted."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from ex_hivent_spark import fsutil

    fsutil.recover_swap(spark, path)
    if isinstance(keys, DataFrame):
        key_df = keys.toDF(key_col)
    else:
        keys = list(keys)
        if not keys:
            return 0  # no pending keys: a no-op, not an error
        key_df = spark.createDataFrame(
            [(k,) for k in keys], schema=[key_col]
        )
    current = spark.read.parquet(path)
    # Deleted count = rows hitting the key set (broadcast semi probe) —
    # one narrow pass instead of before/after full-table counts.
    deleted = current.join(
        F.broadcast(key_df), on=key_col, how="left_semi"
    ).count()
    if deleted == 0:
        return 0  # nothing to rewrite; keep the table bytes untouched
    kept = current.join(F.broadcast(key_df), on=key_col, how="left_anti")
    staging = fsutil.staging_path(path)
    kept.write.mode("overwrite").parquet(staging)
    fsutil.publish_swap(spark, path)
    return deleted


def merge_upsert(
    spark: SparkSession,
    path: str,
    key_col: str,
    updates,
    delete_col: str | None = None,
) -> dict:
    """Batch MERGE (SCD1 upsert): apply ``updates`` to the table at
    ``path`` keyed on ``key_col`` — matched rows are replaced by their
    update, unmatched update rows are inserted, and (optionally) update
    rows whose boolean ``delete_col`` is true delete the matched target
    row instead (the CDC apply shape: upserts + tombstones in one pass).
    Published via the crash-safe staging swap, same contract as
    delete_keys. Returns ``{"inserted", "updated", "deleted"}`` counts.

    Plan: target ⟕ update-keys is ONE left join; with a typical
    million-row changeset against a billion-row table the update side
    broadcasts, so the fact table is never shuffled — the same
    broadcast-probe shape Delta/Iceberg MERGE produces for small
    changesets. Updates must be unique per key (enforced — duplicate
    keys in a MERGE source are ambiguous and an error in every
    lakehouse MERGE implementation)."""
    from pyspark.sql import functions as F

    from ex_hivent_spark import fsutil

    fsutil.recover_swap(spark, path)
    updates = updates.cache()
    n_up = updates.count()
    if n_up == 0:
        return {"inserted": 0, "updated": 0, "deleted": 0}
    if updates.select(key_col).distinct().count() != n_up:
        raise ValueError(
            "merge_upsert: duplicate keys in the update set — "
            "per-key resolution (e.g. latest_per_key) must happen first"
        )

    current = spark.read.parquet(path)
    data_cols = [c for c in current.columns if c != key_col]
    is_delete = (
        F.col(delete_col) if delete_col else F.lit(False)
    )
    upd = updates.select(
        F.col(key_col),
        is_delete.alias("__del"),
        *[F.col(c).alias(f"__u_{c}") for c in data_cols],
    )

    joined = current.join(F.broadcast(upd), on=key_col, how="left").cache()
    matched_del = joined.where(F.col("__del") == True)  # noqa: E712
    matched_upd = joined.where(F.col("__del") == False)  # noqa: E712
    n_deleted = matched_del.count()
    n_updated = matched_upd.count()

    kept = joined.where(F.col("__del").isNull()).select(key_col, *data_cols)
    updated = matched_upd.select(
        F.col(key_col), *[F.col(f"__u_{c}").alias(c) for c in data_cols]
    )
    existing_keys = current.select(key_col)
    inserts = (
        updates.where(~is_delete)
        .join(existing_keys, on=key_col, how="left_anti")
        .select(key_col, *data_cols)
    )
    n_inserted = inserts.count()

    merged = kept.unionByName(updated).unionByName(inserts)
    staging = fsutil.staging_path(path)
    merged.write.mode("overwrite").parquet(staging)
    fsutil.publish_swap(spark, path)
    joined.unpersist()
    updates.unpersist()
    return {
        "inserted": n_inserted,
        "updated": n_updated,
        "deleted": n_deleted,
    }


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

    sc = spark.sparkContext
    hadoop = sc._jvm.org.apache.hadoop
    fs = hadoop.fs.FileSystem.get(sc._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hadoop.fs.Path(path)).getLength()

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


def optimize_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    zorder_cols: "tuple[str, str] | None" = None,
    ndv_rsd: float = 0.05,
) -> dict:
    """The nightly OPTIMIZE pass as one call (the lakehouse
    OPTIMIZE [ZORDER BY] + ANALYZE idiom): compact small files toward
    the target size — through the staging-swap, so readers never see a
    truncated table — optionally laying rows out along the 2-D Morton
    curve of ``zorder_cols`` (data skipping on both columns), then
    refresh the ``_STATS.json`` manifest so the CBO-lite planner
    (planner.py) and the stats-sized Bloom filters (operators/
    bloom.py) see post-compaction truth. Ordering matters: ANALYZE
    runs LAST because compaction changes total_bytes (the broadcast /
    shuffle-partition inputs) even though row counts are unchanged.

    Returns {"n_files", "stats"} — the new file count and the written
    stats dict."""
    from ex_hivent_spark import fsutil

    if zorder_cols is None:
        n_files = compact_parquet(spark, path, target_file_mb)
    else:
        sc = spark.sparkContext
        hadoop = sc._jvm.org.apache.hadoop
        fs = hadoop.fs.FileSystem.get(sc._jsc.hadoopConfiguration())
        size = fs.getContentSummary(hadoop.fs.Path(path)).getLength()
        n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
        df = spark.read.parquet(path)
        zorder_write(
            spark, df, fsutil.staging_path(path),
            zorder_cols[0], zorder_cols[1], n_files=n_files,
        )
        fsutil.publish_swap(spark, path)
    stats = analyze_table(spark, path, ndv_rsd=ndv_rsd)
    return {"n_files": n_files, "stats": stats}
