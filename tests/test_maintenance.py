"""Table maintenance: small-file compaction, z-order and Hilbert layouts,
the incremental rollup, key deletes, CDC upserts and table stats."""

from __future__ import annotations

import glob
import json

from ex_hivent_spark.maintenance import compact_parquet


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    from ex_hivent_spark.catalog import load_table

    out = str(tmp_path / "events_small_files")
    events = load_table(spark, sf_dir, "events")
    # simulate a streaming sink's small-file problem: 16 appends
    for i in range(4):
        events.limit(100).repartition(4).write.mode("append").parquet(out)
    before = len(glob.glob(f"{out}/*.parquet"))
    assert before >= 16

    n = compact_parquet(spark, out, target_file_mb=128)
    after_files = glob.glob(f"{out}/*.parquet")
    assert len(after_files) == n == 1
    assert spark.read.parquet(out).count() == 400


def test_zorder_write_shrinks_per_file_ranges(spark, sf_dir, tmp_path):
    """Z-ordered files must have narrower per-file min/max spans on BOTH
    columns than the unsorted layout — the property parquet data
    skipping depends on."""
    import glob as _glob

    from pyspark.sql import functions as F

    from ex_hivent_spark.catalog import load_table
    from ex_hivent_spark.maintenance import zorder_write

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    plain_dir = str(tmp_path / "plain")
    z_dir = str(tmp_path / "zorder")
    events.repartition(8).write.parquet(plain_dir)
    zorder_write(spark, events, z_dir, "user_id", "value", n_files=8)

    def avg_span(d, col):
        spans = []
        for f in _glob.glob(f"{d}/*.parquet"):
            row = spark.read.parquet(f).agg(
                F.min(col).cast("double"), F.max(col).cast("double")
            ).collect()[0]
            if row[0] is not None:
                spans.append(row[1] - row[0])
        return sum(spans) / len(spans)

    assert spark.read.parquet(z_dir).count() == events.count()
    # both dimensions shrink vs the shuffled layout
    assert avg_span(z_dir, "user_id") < avg_span(plain_dir, "user_id") * 0.6
    assert avg_span(z_dir, "value") < avg_span(plain_dir, "value") * 0.9


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


def test_delete_keys_rewrites_without_keys(spark, tmp_path):
    from ex_hivent_spark.maintenance import delete_keys

    path = str(tmp_path / "events_del")
    events = spark.range(0, 500).selectExpr(
        "id AS event_id", "id % 50 AS user_id", "CAST(id AS DOUBLE) AS value"
    )
    events.write.parquet(path)

    n = delete_keys(spark, path, "user_id", [7, 13])
    assert n == 20  # 10 events per user_id bucket
    back = spark.read.parquet(path)
    assert back.count() == 480
    assert back.filter("user_id IN (7, 13)").count() == 0
    # idempotent: deleting the same keys again removes nothing
    assert delete_keys(spark, path, "user_id", [7, 13]) == 0


def test_delete_keys_empty_list_is_noop(spark, tmp_path):
    from ex_hivent_spark.maintenance import delete_keys

    path = str(tmp_path / "events_del_empty")
    spark.range(0, 50).selectExpr("id AS user_id").write.parquet(path)
    files_before = sorted((tmp_path / "events_del_empty").iterdir())
    assert delete_keys(spark, path, "user_id", []) == 0
    # no staging swap happened: identical file listing, rows intact
    assert sorted((tmp_path / "events_del_empty").iterdir()) == files_before
    assert spark.read.parquet(path).count() == 50
    # a miss-only key set is also a no-op rewrite
    assert delete_keys(spark, path, "user_id", [999, 1000]) == 0
    assert sorted((tmp_path / "events_del_empty").iterdir()) == files_before


def test_delete_keys_accepts_dataframe(spark, tmp_path):
    from ex_hivent_spark.maintenance import delete_keys

    path = str(tmp_path / "docs_del")
    spark.range(0, 100).selectExpr("id AS doc_id").write.parquet(path)
    kill = spark.range(90, 200).selectExpr("id AS doc_id")
    assert delete_keys(spark, path, "doc_id", kill) == 10
    assert spark.read.parquet(path).count() == 90


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


def test_merge_upsert_full_cdc_apply(spark, tmp_path):
    """One MERGE pass applies updates, inserts, and tombstone deletes;
    untouched rows survive byte-identical and the swap is crash-safe
    (no staging residue)."""
    from ex_hivent_spark.maintenance import merge_upsert

    path = str(tmp_path / "users")
    spark.createDataFrame(
        [(1, "ann", 10.0), (2, "bob", 20.0), (3, "cat", 30.0)],
        "user_id long, name string, balance double",
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [
            (2, "bob2", 25.0, False),   # update
            (4, "dan", 40.0, False),    # insert
            (3, None, None, True),      # delete tombstone
            (9, None, None, True),      # tombstone with no match: no-op
        ],
        "user_id long, name string, balance double, is_deleted boolean",
    )
    out = merge_upsert(spark, path, "user_id", updates, delete_col="is_deleted")
    assert out == {"inserted": 1, "updated": 1, "deleted": 1}

    back = {r.user_id: r for r in spark.read.parquet(path).collect()}
    assert set(back) == {1, 2, 4}
    assert back[1].name == "ann" and back[1].balance == 10.0
    assert back[2].name == "bob2" and back[2].balance == 25.0
    assert back[4].name == "dan"
    assert not glob.glob(str(tmp_path / "users__staging*"))


def test_merge_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    import pytest

    from ex_hivent_spark.maintenance import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    dup = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k long, v string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, path, "k", dup)
    # table untouched after the rejected merge
    assert spark.read.parquet(path).count() == 1


def test_merge_upsert_empty_changeset_is_noop(spark, tmp_path):
    from ex_hivent_spark.maintenance import merge_upsert

    path = str(tmp_path / "t2")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    empty = spark.createDataFrame([], "k long, v string")
    assert merge_upsert(spark, path, "k", empty) == {
        "inserted": 0, "updated": 0, "deleted": 0,
    }
    assert spark.read.parquet(path).count() == 1


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


def test_optimize_table_compacts_and_refreshes_stats(spark, tmp_path):
    """optimize_table = compact (staging-swap) + ANALYZE-last: rows are
    bit-identical after the rewrite, the small-file count drops, and
    the stats manifest reflects the POST-compaction layout."""
    import glob

    from ex_hivent_spark.maintenance import optimize_table, read_table_stats

    path = str(tmp_path / "t.parquet")
    df = spark.range(0, 20_000).selectExpr(
        "id AS k", "CAST(id % 97 AS DOUBLE) AS v"
    )
    df.repartition(64).write.mode("overwrite").parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert len(glob.glob(f"{path}/part-*")) == 64

    out = optimize_table(spark, path, target_file_mb=128)
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before
    assert len(glob.glob(f"{path}/part-*")) == out["n_files"] <= 4
    stats = read_table_stats(spark, path)
    assert stats["n_rows"] == 20_000
    assert stats["columns"]["k"]["approx_ndv"] > 15_000


def test_optimize_table_zorder_path_preserves_rows(spark, tmp_path):
    from ex_hivent_spark.maintenance import optimize_table

    path = str(tmp_path / "z.parquet")
    df = spark.range(0, 5_000).selectExpr(
        "CAST(id % 100 AS DOUBLE) AS x",
        "CAST((id * 37) % 100 AS DOUBLE) AS y",
        "id AS payload",
    )
    df.repartition(16).write.mode("overwrite").parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    out = optimize_table(spark, path, zorder_cols=("x", "y"))
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before
    assert out["stats"]["n_rows"] == 5_000
