"""Table maintenance: the incremental rollup, the Hilbert layout and
table stats."""

from __future__ import annotations


def test_incremental_rollup_equals_full_recompute(spark, sf_dir, tmp_path):
    """Refreshing in two increments must equal the one-shot aggregation,
    each refresh returns the events it folded, and a no-op refresh
    folds 0."""
    from pyspark.sql import functions as F

    from ex_hivent_spark.catalog import load_table
    from ex_hivent_spark.maintenance import refresh_time_rollup
    from ex_hivent_spark.sources import versioned

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "events_inc")
    first, second = events.filter(F.col("event_id") % 2 == 0), events.filter(
        F.col("event_id") % 2 == 1
    )
    first.coalesce(1).write.mode("append").parquet(src)
    rollup = str(tmp_path / "rollup")

    assert refresh_time_rollup(spark, src, rollup) == first.count()
    second.coalesce(1).write.mode("append").parquet(src)
    assert refresh_time_rollup(spark, src, rollup) == second.count()
    assert refresh_time_rollup(spark, src, rollup) == 0

    got = (
        versioned.read_snapshot(spark, rollup)
        .select(
            "window_start", "event_type", F.col("n_rows").alias("n_events"),
            F.col("sum_value").cast("double").alias("sum_value"),
        )
    )
    want = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
        .alias("sum_value"),
    )
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_hilbert_index_matches_reference(spark):
    """The unrolled Column recurrence must equal the classic xy2d
    reference implementation point-for-point over the range-bucketed
    grid, including the rotation edge cells (grid corners,
    power-of-two boundaries)."""
    from ex_hivent_spark.operators.analytics import (
        _H_BITS,
        _H_N,
        with_hilbert_index,
    )

    def xy2d(x, y, n):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = [(0, 0), (0, 1), (1, 0), (1, 1), (255, 255), (256, 0),
           (0, 256), (12345, 54321), (65535, 65535), (65535, 0),
           (0, 65535), (32768, 32767)]
    xmin = min(p[0] for p in pts); xmax = max(p[0] for p in pts)
    ymin = min(p[1] for p in pts); ymax = max(p[1] for p in pts)

    def bucket(v, lo, hi):
        return (v - lo) * _H_N // max(hi - lo + 1, 1)

    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.hd
        for r in with_hilbert_index(df, "x", "y").collect()
    }
    for x, y in pts:
        want = xy2d(bucket(x, xmin, xmax), bucket(y, ymin, ymax), _H_N)
        assert got[(x, y)] == want, (x, y)

    # a dense grid keyed directly in [0, 2^bits) maps onto itself
    # (span = _H_N), pinning every cell of the recurrence at order 4
    line = [(i % 16, i // 16) for i in range(256)]
    df2 = spark.createDataFrame(line, "x long, y long")
    got2 = {
        (r.x, r.y): r.hd
        for r in with_hilbert_index(df2, "x", "y").collect()
    }
    for x, y in line:
        bx = x * _H_N // 16
        by = y * _H_N // 16
        assert got2[(x, y)] == xy2d(bx, by, _H_N), (x, y)


def test_analyze_table_single_pass_stats(spark, sf_dir, tmp_path):
    from ex_hivent_spark.catalog import load_table
    from ex_hivent_spark.maintenance import analyze_table, read_table_stats

    out = str(tmp_path / "events_stats")
    events = load_table(spark, sf_dir, "events")
    events.write.mode("overwrite").parquet(out)

    stats = analyze_table(spark, out)
    n = events.count()
    assert stats["n_rows"] == n
    # exact facts the sketch-free parts must nail
    assert stats["columns"]["event_id"]["null_count"] == 0
    assert stats["columns"]["event_id"]["min"] == 0
    assert stats["columns"]["event_id"]["max"] == n - 1
    # HLL ndv within the configured 5% rsd (3 sigma margin)
    ndv = stats["columns"]["event_id"]["approx_ndv"]
    assert abs(ndv - n) <= 0.15 * n
    # manifest round-trips (datetimes stringified) and does not break
    # table reads
    import json

    assert read_table_stats(spark, out) == json.loads(
        json.dumps(stats, default=str)
    )
    assert spark.read.parquet(out).count() == n  # _STATS.json ignored


def test_analyze_table_unanalyzed_returns_none(spark, tmp_path):
    from ex_hivent_spark.maintenance import read_table_stats

    p = str(tmp_path / "never_analyzed")
    spark.range(3).write.parquet(p)
    assert read_table_stats(spark, p) is None
