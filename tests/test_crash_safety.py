"""Crash-safety of the staging-swap publish protocol (fsutil) and the
incremental rollup's fenced replay.

Each test constructs the on-disk state a crash at a specific protocol
step leaves behind, then asserts recovery restores a consistent view
with no loss and no double-counting. The rollup is a streaming view:
its checkpoint records the files it read, and a batch replayed after a
crash between publish and commit is fenced by the head snapshot's
note.
"""

from __future__ import annotations

import os
import shutil

import pytest

from ex_hivent_spark import fsutil


def _write_view(spark, path, ids):
    spark.createDataFrame([(i,) for i in ids], "id long").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def _ids(spark, path):
    return sorted(r.id for r in spark.read.parquet(path).collect())


class TestRecoverSwap:
    def test_completed_publish_cleans_leftovers(self, spark, tmp_path):
        target = str(tmp_path / "view")
        _write_view(spark, target, [1, 2])
        os.makedirs(f"{target}__old")
        os.makedirs(fsutil.staging_path(target))
        assert fsutil.recover_swap(spark, target)
        assert _ids(spark, target) == [1, 2]
        assert not os.path.exists(f"{target}__old")
        assert not os.path.exists(fsutil.staging_path(target))

    def test_roll_forward_ready_staging(self, spark, tmp_path):
        """Crash between backup-rename and staging-rename: target is
        gone, staging is COMMIT_READY → staged data wins."""
        target = str(tmp_path / "view")
        staging = fsutil.staging_path(target)
        _write_view(spark, staging, [10, 11, 12])
        fsutil.write_text_file(
            spark, f"{staging}/{fsutil.READY_MARKER}", "ready\n"
        )
        shutil.move(staging, staging)  # no-op; state already as desired
        assert fsutil.recover_swap(spark, target)
        assert _ids(spark, target) == [10, 11, 12]

    def test_roll_back_unready_staging(self, spark, tmp_path):
        """Crash while staging was still being written (no ready
        marker), after target moved aside → previous view restored,
        partial staging discarded."""
        target = str(tmp_path / "view")
        _write_view(spark, f"{target}__old", [1, 2, 3])
        os.makedirs(fsutil.staging_path(target))
        with open(f"{fsutil.staging_path(target)}/part-junk", "w") as f:
            f.write("partial")
        assert fsutil.recover_swap(spark, target)
        assert _ids(spark, target) == [1, 2, 3]
        assert not os.path.exists(fsutil.staging_path(target))

    def test_first_write_crash_reports_absent(self, spark, tmp_path):
        target = str(tmp_path / "view")
        os.makedirs(fsutil.staging_path(target))  # partial first write
        assert not fsutil.recover_swap(spark, target)
        assert not os.path.exists(fsutil.staging_path(target))

    def test_publish_swap_round_trip(self, spark, tmp_path):
        target = str(tmp_path / "view")
        _write_view(spark, target, [1])
        _write_view(spark, fsutil.staging_path(target), [2, 3])
        fsutil.publish_swap(spark, target)
        assert _ids(spark, target) == [2, 3]
        assert not os.path.exists(f"{target}__old")


def _rollup_source(spark, sf_dir, tmp_path):
    """The events table as one parquet file under ``<tmp>/src``."""
    from ex_hivent_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    events.coalesce(1).write.mode("append").parquet(src)
    return src, events.count()


def _rollup_rows(spark, rollup):
    from ex_hivent_spark.sources import versioned

    return sorted(map(repr, versioned.read_snapshot(spark, rollup).collect()))


class TestRollupAtomicMarker:
    def test_progress_survives_a_second_refresh(self, spark, sf_dir, tmp_path):
        """The rollup's checkpoint records the files it read: a second
        refresh with no new file folds nothing and publishes nothing."""
        from ex_hivent_spark.maintenance import refresh_time_rollup
        from ex_hivent_spark.sources import versioned

        src, n_events = _rollup_source(spark, sf_dir, tmp_path)
        rollup = str(tmp_path / "rollup")

        assert refresh_time_rollup(spark, src, rollup) == n_events
        head = versioned.current_version(spark, rollup)
        assert refresh_time_rollup(spark, src, rollup) == 0
        assert versioned.current_version(spark, rollup) == head

    def test_replayed_batch_does_not_double_count(
        self, spark, sf_dir, tmp_path
    ):
        """A crash after a batch's publish but before its commit record:
        the next refresh replays the batch, finds it fenced at the head,
        and publishes nothing, so the rollup equals a single clean run."""
        from ex_hivent_spark.maintenance import refresh_time_rollup
        from ex_hivent_spark.sources import versioned

        src, n_events = _rollup_source(spark, sf_dir, tmp_path)
        rollup = str(tmp_path / "rollup")
        assert refresh_time_rollup(spark, src, rollup) == n_events
        clean = _rollup_rows(spark, rollup)
        head = versioned.current_version(spark, rollup)

        commits = f"{rollup}/_checkpoint/commits"
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        os.remove(f"{commits}/{last}")
        os.remove(f"{commits}/.{last}.crc")

        assert refresh_time_rollup(spark, src, rollup) == 0
        assert versioned.current_version(spark, rollup) == head
        assert _rollup_rows(spark, rollup) == clean
        assert os.path.exists(f"{commits}/{last}")  # the replay committed


class TestSaltedJoinHow:
    def test_outer_types_rejected(self, spark):
        from ex_hivent_spark.operators.skew import salted_join

        fact = spark.range(10).selectExpr("id AS k", "id AS row_id")
        build = spark.range(5).selectExpr("id AS k", "id * 2 AS v")
        for how in ("right", "full", "full_outer", "cross"):
            with pytest.raises(ValueError, match="salted_join"):
                salted_join(fact, build, "k", "row_id", how=how)

    def test_left_and_anti_still_equal_plain(self, spark):
        from ex_hivent_spark.operators.skew import salted_join

        fact = spark.range(20).selectExpr("id AS k2", "id AS row_id")
        build = spark.range(5).selectExpr("id * 3 AS k2", "id AS v")
        for how in ("left", "left_anti"):
            got = salted_join(fact, build, "k2", "row_id", how=how)
            want = fact.join(build, "k2", how)
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, want.collect())
            )
