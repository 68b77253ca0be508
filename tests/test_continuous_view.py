"""Streaming continuous aggregate views: every micro-batch publish must
land on exactly the batch-aggregate of all data seen so far (bit-equal
decimal sums), survive restarts from the checkpoint without double
counting, skip replayed batch ids (exactly-once fencing), and refuse
a checkpoint that did not publish the view or lost its offsets."""

from __future__ import annotations

import json
import os
import shutil

import pytest
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


def test_second_checkpoint_is_refused(spark, tmp_path):
    """A view belongs to the checkpoint that published it. A second
    checkpoint over its head raises before it runs a batch: the head
    keeps its version and rows, and nothing is copied under the new
    checkpoint."""
    view, stream = _make(spark, tmp_path)
    _write_file(tmp_path, "a.json", [("x", 1.0)])
    q = view.start(stream, f"{tmp_path}/chk1")
    q.processAllAvailable()
    q.stop()
    head = versioned.current_version(spark, view.view_dir)
    before = _rows(view.read())

    view2, stream2 = _make(spark, tmp_path)
    with pytest.raises(ValueError) as err:
        view2.start(stream2, f"{tmp_path}/chk2")
    for name in (view.view_dir, f"{tmp_path}/chk1", f"{tmp_path}/chk2"):
        assert name in str(err.value)
    assert versioned.current_version(spark, view.view_dir) == head
    assert _rows(view.read()) == before
    assert not os.path.exists(f"{tmp_path}/chk2/base")


def test_lost_checkpoint_restart_is_refused(spark, tmp_path):
    """A checkpoint deleted and restarted at the same path restarts its
    batch ids at 0, under the head's fence of the lost run. Its batches
    would be fenced out and their rows lost, so the start raises."""
    view, stream = _make(spark, tmp_path)
    chk = f"{tmp_path}/chk"
    _write_file(tmp_path, "a.json", [("x", 1.0)])
    _write_file(tmp_path, "b.json", [("x", 1.0)])
    q = view.start(stream, chk)
    q.processAllAvailable()
    q.stop()
    before = _rows(view.read())

    shutil.rmtree(chk)
    _write_file(tmp_path, "c.json", [("y", 2.0)])
    view2, stream2 = _make(spark, tmp_path)
    with pytest.raises(ValueError, match="cannot resume"):
        view2.start(stream2, chk)
    assert _rows(view.read()) == before
