"""Crash-safety of the incremental rollup's fenced replay.

The rollup is a streaming view: its checkpoint records the files it
read, and a batch replayed after a crash between publish and commit is
fenced by the head snapshot's note. Each test builds the on-disk state
such a crash leaves behind, then asserts the next refresh lands on the
state of one clean run, with no loss and no double-counting; a lost
checkpoint is refused.
``TestSaltedJoinHow`` pins ``salted_join``'s refusal of the join types
whose salted form would not be exact.
"""

from __future__ import annotations

import os
import shutil

import pytest


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

    def test_lost_checkpoint_raises(self, spark, sf_dir, tmp_path):
        """A rollup whose checkpoint is lost cannot resume: its restarted
        batch ids fall under the head's fence, so the refresh raises
        instead of folding nothing and returning 0."""
        from ex_hivent_spark.maintenance import refresh_time_rollup
        from ex_hivent_spark.sources import versioned

        src, n_events = _rollup_source(spark, sf_dir, tmp_path)
        rollup = str(tmp_path / "rollup")
        assert refresh_time_rollup(spark, src, rollup) == n_events
        clean = _rollup_rows(spark, rollup)
        head = versioned.current_version(spark, rollup)

        shutil.rmtree(f"{rollup}/_checkpoint")
        with pytest.raises(ValueError, match="_checkpoint"):
            refresh_time_rollup(spark, src, rollup)
        assert versioned.current_version(spark, rollup) == head
        assert _rollup_rows(spark, rollup) == clean


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
