"""The continuous view's one publish path: Spark's streaming aggregate
written as the next snapshot in one job, a snapshot write that observes
its row count instead of reading it back, and a history bounded to head
and parent."""

from __future__ import annotations

import json
import os

import pytest

from ex_hivent_spark.sources import versioned
from ex_hivent_spark.streaming.continuous_view import (
    ContinuousAggregateView,
    _aggregate,
)

SCHEMA = "cat string, val double"


def _rows(df):
    cols = sorted(df.columns)
    return sorted([tuple(r[c] for c in cols) for r in df.collect()], key=repr)


def _versions(view_dir):
    return sorted(int(n[2:]) for n in os.listdir(view_dir) if n.startswith("v="))


def _batch(i):
    return [(f"g{j % 3}", float(i * 10 + j)) for j in range(6)]


def _add_file(src, i, rows):
    with open(src / f"f{i}.json", "w") as f:
        for cat, val in rows:
            f.write(json.dumps({"cat": cat, "val": val}) + "\n")


def _stream(spark, src):
    """One file per micro-batch."""
    return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))


def _drain(view, spark, src, chk):
    q = view.start(_stream(spark, src), str(chk))
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _settled_job_ids(spark, group):
    """Job ids of ``group`` once the listener bus has delivered every
    job start, so a count taken right after a batch is complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_steady_fold_runs_one_job(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()

    def add_file(i):
        _add_file(src, i, [(f"g{j % 40}", i + j * 0.5) for j in range(200)])

    view = ContinuousAggregateView(spark, str(tmp_path / "view"), ["cat"], ["val"])
    add_file(0)
    q = view.start(_stream(spark, src), str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
        group = str(q.runId)
        before = _settled_job_ids(spark, group)
        add_file(1)
        q.processAllAvailable()
        fold_jobs = _settled_job_ids(spark, group) - before
    finally:
        q.stop()
    assert len(fold_jobs) == 1
    assert versioned.current_version(spark, view.view_dir) == 1


def test_drain_reads_the_head_once(spark, tmp_path, monkeypatch):
    """start() reads the head once and keeps its fence: the publishes
    of a three-batch drain read no head."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        _add_file(src, i, _batch(i))
    reads, head = [], versioned.head

    def counted_head(*args):
        reads.append(args)
        return head(*args)

    monkeypatch.setattr(versioned, "head", counted_head)
    view = ContinuousAggregateView(spark, str(tmp_path / "view"), ["cat"], ["val"])
    _drain(view, spark, src, tmp_path / "chk")
    assert versioned.current_version(spark, view.view_dir) == 2
    assert len(reads) == 1


def test_history_is_bounded_and_crash_safe(spark, tmp_path):
    src, chk = tmp_path / "src", tmp_path / "chk"
    src.mkdir()
    view_dir = str(tmp_path / "view")
    view = ContinuousAggregateView(spark, view_dir, ["cat"], ["val"])
    for i in range(4):
        _add_file(src, i, _batch(i))
    _drain(view, spark, src, chk)
    # a crashed publish leaves an uncommitted snapshot above the head
    head = versioned.current_version(spark, view_dir)
    spark.createDataFrame([("junk", 1.0)], SCHEMA).write.parquet(
        f"{view_dir}/v={head + 1}"
    )
    _add_file(src, 4, _batch(4))
    _drain(view, spark, src, chk)

    head = versioned.current_version(spark, view_dir)
    assert head == 4
    assert _versions(view_dir) == [head - 1, head]
    assert versioned.read_snapshot(spark, view_dir, head - 1).count() == 3
    with pytest.raises(FileNotFoundError):
        versioned.read_snapshot(spark, view_dir, head - 2)
    seen = spark.createDataFrame([r for i in range(5) for r in _batch(i)], SCHEMA)
    want = _rows(_aggregate(seen, ["cat"], ["val"]))
    assert _rows(view.read()) == want

    # a replayed batch id is still fenced: no new version, same state
    os.remove(chk / "commits" / "4")
    os.remove(chk / "commits" / ".4.crc")
    _drain(view, spark, src, chk)
    assert (chk / "commits" / "4").exists()
    assert versioned.current_version(spark, view_dir) == head
    assert _rows(view.read()) == want
    assert _versions(view_dir) == [head - 1, head]


def test_first_and_later_folds_share_one_path(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    view = ContinuousAggregateView(
        spark, str(tmp_path / "view"), ["cat"], ["val"], minmax_cols=["val"]
    )
    batches = [
        [("x", 5.0), (None, 1.0), ("y", 3.0)],
        [("x", 9.5), (None, -2.0), ("z", 0.25), (None, 7.0)],
    ]
    seen = []
    q = view.start(_stream(spark, src), str(tmp_path / "chk"))
    try:
        for i, rows in enumerate(batches):
            seen += rows
            _add_file(src, i, rows)
            q.processAllAvailable()
            want = _aggregate(
                spark.createDataFrame(seen, SCHEMA), ["cat"], ["val"], ["val"]
            )
            assert _rows(view.read()) == _rows(want)
    finally:
        q.stop()
    null_row = [r for r in view.read().collect() if r["cat"] is None]
    assert len(null_row) == 1
    assert (null_row[0]["n_rows"], null_row[0]["min_val"], null_row[0]["max_val"]) == (
        3,
        -2.0,
        7.0,
    )


def test_head_is_the_committed_manifest(spark, tmp_path):
    table = str(tmp_path / "t")
    assert versioned.head(spark, table) is None
    versioned.write_snapshot(spark, spark.range(7), table, note="first")
    assert versioned.head(spark, table) == {
        "version": 0,
        "rows": 7,
        "note": "first",
        "parent": None,
    }
    versioned.write_snapshot(spark, spark.range(0), table, note="empty")
    assert versioned.head(spark, table) == {
        "version": 1,
        "rows": 0,
        "note": "empty",
        "parent": 0,
    }


def test_write_snapshot_does_not_read_back(spark, tmp_path):
    sc = spark.sparkContext
    group = f"write-snapshot-{tmp_path.name}"
    sc.setJobGroup(group, "write_snapshot")
    try:
        versioned.write_snapshot(spark, spark.range(25), str(tmp_path / "t"))
    finally:
        sc.setJobGroup(None, None)
    assert len(_settled_job_ids(spark, group)) == 1
    assert versioned.head(spark, str(tmp_path / "t"))["rows"] == 25
