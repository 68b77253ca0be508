"""Streaming continuous aggregate views: every micro-batch publish must
land on exactly the batch-aggregate of all data seen so far (bit-equal
decimal sums), survive restarts from the checkpoint without double
counting, and skip replayed batch ids (exactly-once fencing)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from ex_hivent_spark.sources import versioned
from ex_hivent_spark.streaming.continuous_view import (
    ContinuousAggregateView,
    _aggregate,
)

SCHEMA = "cat string, val double"


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        [tuple(r[c] for c in cols) for r in df.collect()], key=repr
    )


def _write_file(tmp_path, name, rows):
    with open(f"{tmp_path}/src/{name}", "w") as f:
        for cat, val in rows:
            f.write(json.dumps({"cat": cat, "val": val}) + "\n")


def _expected(spark, tmp_path):
    all_df = spark.read.schema(SCHEMA).json(f"{tmp_path}/src")
    return _aggregate(all_df, ["cat"], ["val"])


def _make(spark, tmp_path):
    os.makedirs(f"{tmp_path}/src", exist_ok=True)
    view = ContinuousAggregateView(
        spark, f"{tmp_path}/view", ["cat"], ["val"]
    )
    stream = spark.readStream.schema(SCHEMA).json(f"{tmp_path}/src")
    return view, stream


def _uncommit(chk, batch_id):
    """Drop a batch's commit record, as a crash after its publish but
    before the commit would: the next start replays the batch."""
    os.remove(f"{chk}/commits/{batch_id}")
    os.remove(f"{chk}/commits/.{batch_id}.crc")


def test_folds_match_batch_aggregate_across_batches(spark, tmp_path):
    view, stream = _make(spark, tmp_path)
    _write_file(tmp_path, "a.json", [("x", 1.5), ("x", 2.25), ("y", 3.0)])
    q = view.start(stream, f"{tmp_path}/chk")
    try:
        q.processAllAvailable()
        assert _rows(view.read()) == _rows(_expected(spark, tmp_path))

        _write_file(tmp_path, "b.json", [("x", 10.0), ("z", 0.125)])
        q.processAllAvailable()
        assert _rows(view.read()) == _rows(_expected(spark, tmp_path))
    finally:
        q.stop()


def test_restart_from_checkpoint_no_double_count(spark, tmp_path):
    view, stream = _make(spark, tmp_path)
    _write_file(tmp_path, "a.json", [("x", 1.0), ("y", 2.0)])
    q = view.start(stream, f"{tmp_path}/chk")
    q.processAllAvailable()
    q.stop()

    _write_file(tmp_path, "b.json", [("x", 4.0)])
    view2, stream2 = _make(spark, tmp_path)
    q2 = view2.start(stream2, f"{tmp_path}/chk")
    try:
        q2.processAllAvailable()
        assert _rows(view2.read()) == _rows(_expected(spark, tmp_path))
    finally:
        q2.stop()


def test_replayed_batch_id_is_fenced(spark, tmp_path):
    view, stream = _make(spark, tmp_path)
    chk = f"{tmp_path}/chk"
    _write_file(tmp_path, "a.json", [("x", 1.0), ("y", 2.0)])
    q = view.start(stream, chk)
    q.processAllAvailable()
    q.stop()

    head_before = versioned.current_version(spark, f"{tmp_path}/view")
    state_before = _rows(view.read())
    # the crash-replay delivery of batch 0
    _uncommit(chk, 0)
    view2, stream2 = _make(spark, tmp_path)
    q2 = view2.start(stream2, chk)
    try:
        q2.processAllAvailable()
        assert os.path.exists(f"{chk}/commits/0")
        assert versioned.current_version(spark, f"{tmp_path}/view") == head_before
        assert _rows(view2.read()) == state_before
        # a genuinely NEW batch id still folds
        _write_file(tmp_path, "b.json", [("x", 99.0)])
        q2.processAllAvailable()
        assert _rows(view2.read()) != state_before
        assert _rows(view2.read()) == _rows(_expected(spark, tmp_path))
    finally:
        q2.stop()


def test_state_history_is_time_travelable(spark, tmp_path):
    view, stream = _make(spark, tmp_path)
    _write_file(tmp_path, "a.json", [("x", 1.0)])
    q = view.start(stream, f"{tmp_path}/chk")
    q.processAllAvailable()
    q.stop()
    _write_file(tmp_path, "b.json", [("x", 1.0)])
    q2 = view.start(
        spark.readStream.schema(SCHEMA).json(f"{tmp_path}/src"),
        f"{tmp_path}/chk",
    )
    q2.processAllAvailable()
    q2.stop()
    v0 = versioned.read_snapshot(spark, f"{tmp_path}/view", 0)
    v1 = versioned.read_snapshot(spark, f"{tmp_path}/view", 1)
    assert v0.agg(F.sum("n_rows")).first()[0] == 1
    assert v1.agg(F.sum("n_rows")).first()[0] == 2


def test_streaming_minmax_folds_monotonically(spark, tmp_path):
    """Across two batches of an append-only stream the state must equal
    the batch aggregate of all data, extremes included."""
    from ex_hivent_spark.streaming.continuous_view import (
        ContinuousAggregateView,
    )

    os.makedirs(f"{tmp_path}/src", exist_ok=True)
    view = ContinuousAggregateView(
        spark, f"{tmp_path}/view", ["cat"], ["val"], minmax_cols=["val"]
    )
    stream = spark.readStream.schema(SCHEMA).json(f"{tmp_path}/src")
    _write_file(tmp_path, "a.json", [("x", 5.0), ("x", 1.0), ("y", 3.0)])
    q = view.start(stream, f"{tmp_path}/chk")
    try:
        q.processAllAvailable()
        _write_file(tmp_path, "b.json", [("x", 9.5), ("x", 0.25)])
        q.processAllAvailable()
        all_df = spark.read.schema(SCHEMA).json(f"{tmp_path}/src")
        want = _rows(_aggregate(all_df, ["cat"], ["val"], ["val"]))
        assert _rows(view.read()) == want
        row = view.read().filter(F.col("cat") == "x").first()
        assert row["min_val"] == 0.25 and row["max_val"] == 9.5
    finally:
        q.stop()


def test_new_checkpoint_restart_is_not_fenced_out(spark, tmp_path):
    """Restarting the stream with a NEW checkpoint directory resets
    batch ids to 0. A bare batch-id fence would silently drop every
    restarted batch whose id is <= the old fence (data loss); the
    (query identity, batch id) pair fence must fold them instead."""
    view, stream = _make(spark, tmp_path)
    _write_file(tmp_path, "a.json", [("x", 1.0)])
    _write_file(tmp_path, "b.json", [("x", 2.0)])
    q = view.start(stream, f"{tmp_path}/chk1")
    q.processAllAvailable()
    q.stop()
    committed = versioned.current_version(spark, f"{tmp_path}/view")
    assert committed is not None  # fence is now at some batch id >= 0

    # new source file, NEW checkpoint -> batch ids restart from 0
    os.makedirs(f"{tmp_path}/src2", exist_ok=True)
    with open(f"{tmp_path}/src2/c.json", "w") as f:
        f.write(json.dumps({"cat": "y", "val": 7.5}) + "\n")

    def run_chk2():
        stream2 = spark.readStream.schema(SCHEMA).json(f"{tmp_path}/src2")
        q2 = view.start(stream2, f"{tmp_path}/chk2")
        q2.processAllAvailable()
        q2.stop()

    run_chk2()
    state = view.read()
    assert state.filter(F.col("cat") == "y").count() == 1  # not dropped
    got_sum = state.agg(F.sum("n_rows")).first()[0]
    assert got_sum == 3  # 2 from the first query + 1 from the restart

    # and a true replay under the SAME identity still fences
    before = _rows(view.read())
    _uncommit(f"{tmp_path}/chk2", 0)  # chk2 already committed batch 0
    run_chk2()
    assert os.path.exists(f"{tmp_path}/chk2/commits/0")
    assert _rows(view.read()) == before


def test_new_checkpoint_merges_null_group_into_one_row(spark, tmp_path):
    """A NULL group key is a legal GROUP BY group. When a new
    checkpoint takes over a head that holds one, the merge must match
    the NULL keys null-safely: the head's NULL row and the new query's
    NULL row fold into exactly one row, counts and sums added, min/max
    merged."""
    os.makedirs(f"{tmp_path}/src", exist_ok=True)
    os.makedirs(f"{tmp_path}/src2", exist_ok=True)
    _write_file(tmp_path, "a.json", [(None, 5.0), (None, 1.0), ("x", 2.0)])
    with open(f"{tmp_path}/src2/b.json", "w") as f:
        for cat, val in [(None, 9.0), (None, 3.0)]:
            f.write(json.dumps({"cat": cat, "val": val}) + "\n")

    view = ContinuousAggregateView(
        spark, f"{tmp_path}/view", ["cat"], ["val"], minmax_cols=["val"]
    )
    for src, chk in (("src", "chk1"), ("src2", "chk2")):
        stream = spark.readStream.schema(SCHEMA).json(f"{tmp_path}/{src}")
        q = view.start(stream, f"{tmp_path}/{chk}")
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    null_rows = view.read().filter(F.col("cat").isNull()).collect()
    assert len(null_rows) == 1  # ONE null-group row, not two
    row = null_rows[0]
    assert row["n_rows"] == 4
    assert float(row["sum_val"]) == 18.0
    assert (row["min_val"], row["max_val"]) == (1.0, 9.0)
    both = spark.read.schema(SCHEMA).json(
        [f"{tmp_path}/src", f"{tmp_path}/src2"]
    )
    want = _aggregate(both, ["cat"], ["val"], ["val"])
    assert _rows(view.read()) == _rows(want)
