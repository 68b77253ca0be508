"""Streaming tests mirroring the reference's consumer/emitter suites
(SURVEY.md §5.2.3-4): quarantine split (≙ consumer_test.exs:90-111),
checkpoint restart (≙ reconnect tests emitter_test.exs:74-94), window
aggregations with batch-twin equivalence, watermark late-data dropping,
and streaming dedup.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ex_hivent_spark.streaming.consumer import Subscription, _tagged, route
from ex_hivent_spark.streaming.emitter import StreamEmitter
from ex_hivent_spark.streaming.windows import (
    dedup_within_watermark,
    session_counts,
    tumbling_counts,
)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        name: str(tmp_path / name)
        for name in ("ingress", "checkpoint", "processed", "quarantine")
    }
    return d


def make_subscription(dirs, process, topic="some:event"):
    return Subscription(
        service="a_service",
        topic=topic,
        process=process,
        processed_dir=dirs["processed"],
        quarantine_dir=dirs["quarantine"],
        partition_count=2,
    )


def drain(spark, dirs, process, topic="some:event"):
    """route() with one subscription over everything currently in the
    ingress, then stop — the batch-ish drain of a catch-up job."""
    q = route(
        spark,
        dirs["ingress"],
        [make_subscription(dirs, process, topic)],
        dirs["checkpoint"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)


def make_process_response():
    """≙ the reference test consumer: payload.response drives ok/error
    (consumer_test.exs:75-81, 91-97). Built as a nested closure so
    cloudpickle serializes it by value (a module-level test function
    would be pickled by reference, which executors can't import)."""

    def process_response(event) -> "None | str":
        payload = json.loads(event["payload"])
        if payload.get("response") == "error":
            raise ValueError("boom")
        return None

    return process_response


class TestConsumerQuarantine:
    def test_ok_error_split(self, spark, dirs):
        em = StreamEmitter(spark, dirs["ingress"], producer="svc", partition_count=2)
        em.emit("some:event", {"response": "ok"}, version=1, key="k1")
        em.emit("some:event", {"response": "error"}, version=1, key="k2")
        em.emit("other:event", {"response": "error"}, version=1)  # other topic

        drain(spark, dirs, make_process_response())

        ok = spark.read.parquet(dirs["processed"])
        bad = spark.read.parquet(dirs["quarantine"])
        assert ok.count() == 1 and bad.count() == 1
        assert json.loads(ok.take(1)[0].payload) == {"response": "ok"}
        qrow = bad.take(1)[0]
        # quarantined as the {event, queue} pair + error (consumer.ex:98-100)
        assert qrow.queue.startswith("a_service:")
        assert "boom" in qrow.error
        assert qrow.name == "some:event"
        assert qrow.quarantined_at is not None

    def test_expression_process_path(self, spark, dirs):
        em = StreamEmitter(spark, dirs["ingress"], producer="svc")
        em.emit("some:event", {"response": "ok"}, version=1)
        em.emit("some:event", {"response": "error"}, version=1)
        # codegen fast path: error-or-null expression instead of a UDF
        expr = F.when(
            F.get_json_object("payload", "$.response") == "error",
            F.lit("rejected by expression"),
        )
        drain(spark, dirs, expr)
        assert spark.read.parquet(dirs["processed"]).count() == 1
        bad = spark.read.parquet(dirs["quarantine"])
        assert bad.count() == 1
        assert bad.take(1)[0].error == "rejected by expression"

    def test_checkpoint_restart_exactly_once(self, spark, dirs):
        em = StreamEmitter(spark, dirs["ingress"], producer="svc")
        em.emit("some:event", {"n": 1}, version=1)
        drain(spark, dirs, lambda e: None)
        em.emit("some:event", {"n": 2}, version=1)
        drain(spark, dirs, lambda e: None)  # same checkpoint — only the new file runs

        ok = spark.read.parquet(dirs["processed"])
        assert ok.count() == 2  # each event exactly once despite restart
        ns = sorted(json.loads(r.payload)["n"] for r in ok.collect())
        assert ns == [1, 2]


def _write_events(spark, path, rows):
    import datetime as dt

    rows = [
        (eid, dt.datetime.fromisoformat(ts), uid, et, v)
        for eid, ts, uid, et, v in rows
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.mode("append").parquet(path)


def _stream_events(spark, path):
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _run_to_memory(spark, df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return spark.sql(f"SELECT * FROM {name}")


class TestWindows:
    def test_tumbling_stream_matches_batch_twin(self, spark, sf_dir, tmp_path):
        from ex_hivent_spark.catalog import load_table

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev")
        events.write.parquet(src)

        streamed = _run_to_memory(
            spark,
            tumbling_counts(_stream_events(spark, src), watermark=None),
            "tumbling_out",
            "complete",
        ).select("window_start", "event_type", "n_events", "sum_value")

        batch = (
            events.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
                .alias("sum_value"),
            )
        )
        assert sorted(map(repr, streamed.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_ohlc_stream_matches_batch_twin(self, spark, sf_dir, tmp_path):
        """Streaming OHLC bars (min_by/max_by over the (ts, event_id)
        total order) must equal the registered batch twin
        q_ts_ohlc_bars row for row on static data."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.plans.registry import all_specs
        from ex_hivent_spark.streaming.windows import ohlc_bars

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev_ohlc")
        events.write.parquet(src)

        streamed = _run_to_memory(
            spark,
            ohlc_bars(_stream_events(spark, src), watermark=None),
            "ohlc_out",
            "complete",
        ).select(
            (F.unix_timestamp("window_start") / 3600).cast("bigint")
            .alias("hour_id"),
            "event_type", "n_events", "open", "high", "low", "close",
            "volume",
        )
        batch = all_specs()["q_ts_ohlc_bars"].spark(spark, sf_dir).select(
            "hour_id", "event_type", "n_events", "open", "high", "low",
            "close", "volume",
        )
        assert sorted(map(repr, streamed.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_sliding_stream_matches_batch_twin(self, spark, sf_dir, tmp_path):
        """Sliding window (stream) must agree with the registered batch
        twin q_win_sliding_batch on static data: same (window_start,
        event_type, n_events) groups for 1h windows sliding 30m."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.plans.registry import all_specs
        from ex_hivent_spark.streaming.windows import sliding_counts

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev")
        events.write.parquet(src)

        streamed = _run_to_memory(
            spark,
            sliding_counts(
                _stream_events(spark, src), slide="30 minutes", watermark=None
            ),
            "sliding_out",
            "complete",
        ).select("window_start", "event_type", "n_events")
        batch = (
            all_specs()["q_win_sliding_batch"]
            .spark(spark, sf_dir)
            .select("window_start", "event_type", "n_events")
        )
        assert sorted(map(repr, streamed.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_session_stream_matches_batch_twin(self, spark, sf_dir, tmp_path):
        """session_window (stream) must agree with the gaps-and-islands
        batch twin q_win_sessionize on static data (SURVEY.md §5.2.3)."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.plans.registry import all_specs

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev")
        events.write.parquet(src)

        sessions = _run_to_memory(
            spark,
            session_counts(_stream_events(spark, src), watermark=None),
            "session_out",
            "complete",
        )
        per_user = (
            sessions.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_sessions"),
                F.max("n_events").alias("longest_session_events"),
                F.sum("n_events").alias("total_events"),
                F.max("duration_us").alias("max_session_duration_us"),
            )
        )
        batch = all_specs()["q_win_sessionize"].spark(spark, sf_dir)
        assert sorted(map(repr, per_user.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_stream_stream_interval_join_matches_batch(
        self, spark, sf_dir, tmp_path
    ):
        """Stream-stream inner join (view→click attribution within 1h)
        must agree with the identical join on static DataFrames."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.streaming.joins import interval_join

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        )
        views = events.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("l_ts")
        )
        clicks = events.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("r_ts")
        )
        vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
        views.write.parquet(vdir)
        clicks.write.parquet(cdir)

        def _stream(path, ts_name):
            return (
                spark.readStream.schema(f"user_id long, {ts_name} timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(path)
            )

        streamed = _run_to_memory(
            spark,
            interval_join(_stream(vdir, "l_ts"), _stream(cdir, "r_ts")),
            "ssjoin_out",
            "append",
        )
        batch = interval_join(views, clicks, watermark=None)
        assert sorted(map(repr, streamed.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_watermark_drops_late_rows(self, spark, tmp_path):
        """Late rows beyond the watermark are excluded from finalized
        windows (allowed-lateness parity, SURVEY.md §2.B streaming)."""
        src = str(tmp_path / "ev")
        sink = str(tmp_path / "sink")
        cp = str(tmp_path / "cp")

        def run():
            q = (
                tumbling_counts(
                    _stream_events(spark, src), window="1 hour", watermark="2 hours"
                )
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", cp)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(30)

        # batch 1: two events in the 10:00 window
        _write_events(
            spark,
            src,
            [
                (1, "2024-01-01 10:00:00", 1, "click", 1.0),
                (2, "2024-01-01 10:30:00", 1, "click", 1.0),
            ],
        )
        # batch 2: advances watermark to 12:00 -> finalizes the 10:00 window
        _write_events(spark, src, [(3, "2024-01-01 14:00:00", 1, "click", 1.0)])
        run()
        out1 = spark.read.parquet(sink)
        w10 = out1.filter(F.col("window_start") == "2024-01-01 10:00:00")
        assert [r.n_events for r in w10.collect()] == [2]

        # batch 3: a late row at 09:00 (< 12:00 watermark) must be DROPPED;
        # batch 4 advances watermark to finalize the 14:00 window.
        _write_events(spark, src, [(4, "2024-01-01 09:00:00", 1, "click", 1.0)])
        _write_events(spark, src, [(5, "2024-01-01 18:00:00", 1, "click", 1.0)])
        run()
        out2 = spark.read.parquet(sink)
        # the 10:00 window was already emitted with 2 events and the late
        # row created no new 09:00 window
        assert out2.filter(F.col("window_start") == "2024-01-01 09:00:00").count() == 0
        w10b = out2.filter(F.col("window_start") == "2024-01-01 10:00:00")
        assert [r.n_events for r in w10b.collect()] == [2]
        w14 = out2.filter(F.col("window_start") == "2024-01-01 14:00:00")
        assert [r.n_events for r in w14.collect()] == [1]

    def test_streaming_dedup_within_watermark(self, spark, tmp_path):
        """≙ uuid-identity dedup (memory.ex:90) as
        dropDuplicatesWithinWatermark."""
        src = str(tmp_path / "ev")
        _write_events(
            spark,
            src,
            [
                (1, "2024-01-01 10:00:00", 1, "click", 1.0),
                (1, "2024-01-01 10:00:00", 1, "click", 1.0),  # duplicate id
                (2, "2024-01-01 10:05:00", 1, "click", 1.0),
            ],
        )
        out = _run_to_memory(
            spark,
            dedup_within_watermark(
                _stream_events(spark, src), ["event_id"], watermark="1 hour"
            ),
            "dedup_out",
            "append",
        )
        assert sorted(r.event_id for r in out.collect()) == [1, 2]


class TestUpsertView:
    def test_upsert_view_matches_batch_last_event(self, spark, sf_dir, tmp_path):
        """Feeding the events table through the streaming upsert view
        must converge to exactly the batch latest-per-user reduction."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.streaming.upsert import UpsertView, latest_per_key

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev")
        # several files so the stream sees multiple micro-batches
        events.repartition(4).write.parquet(src)

        view = UpsertView(
            spark, str(tmp_path / "view"), key="user_id", ts_col="ts",
            cols=["event_id", "event_type", "value"],
        )
        q = view.start(
            _stream_events(spark, src), checkpoint_dir=str(tmp_path / "cp")
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

        got = view.read().select("user_id", "ts", "event_id")
        want = latest_per_key(
            events, "user_id", "ts", ["event_id", "event_type", "value"]
        ).select("user_id", "ts", "event_id")
        assert sorted(map(repr, got.collect())) == sorted(
            map(repr, want.collect())
        )

    @staticmethod
    def _drain(spark, src, view_dir, chk):
        from ex_hivent_spark.streaming.upsert import UpsertView

        view = UpsertView(
            spark, view_dir, key="user_id", ts_col="ts",
            cols=["event_id", "event_type", "value"],
        )
        q = view.start(_stream_events(spark, src), checkpoint_dir=chk)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return view

    def test_second_checkpoint_is_refused(self, spark, tmp_path):
        """The upsert view belongs to the checkpoint that published it:
        a second checkpoint over its head raises and leaves the head as
        it was."""
        import os

        from ex_hivent_spark.sources import versioned

        src, view_dir = str(tmp_path / "ev"), str(tmp_path / "view")
        _write_events(spark, src, [(1, "2024-01-01 10:00:00", 1, "click", 1.0)])
        view = self._drain(spark, src, view_dir, str(tmp_path / "cp1"))
        head = versioned.current_version(spark, view_dir)
        before = sorted(map(repr, view.read().collect()))

        _write_events(spark, src, [(2, "2024-01-01 11:00:00", 1, "buy", 2.0)])
        with pytest.raises(ValueError, match="cannot resume"):
            self._drain(spark, src, view_dir, str(tmp_path / "cp2"))
        assert versioned.current_version(spark, view_dir) == head
        assert sorted(map(repr, view.read().collect())) == before
        assert not os.path.exists(tmp_path / "cp2" / "base")

    def test_replayed_batch_changes_nothing(self, spark, tmp_path):
        """A checkpoint replay of the last published batch (its commit
        record lost) publishes no new version and leaves the view as it
        was."""
        import os

        from ex_hivent_spark.sources import versioned

        src, chk = str(tmp_path / "ev"), str(tmp_path / "cp")
        view_dir = str(tmp_path / "view")
        _write_events(spark, src, [(1, "2024-01-01 10:00:00", 1, "click", 1.0)])
        _write_events(spark, src, [(2, "2024-01-01 11:00:00", 1, "buy", 2.0)])
        view = self._drain(spark, src, view_dir, chk)
        head = versioned.current_version(spark, view_dir)
        before = sorted(map(repr, view.read().collect()))
        last = max(int(n) for n in os.listdir(f"{chk}/commits") if n.isdigit())
        assert last >= 1

        os.remove(f"{chk}/commits/{last}")
        os.remove(f"{chk}/commits/.{last}.crc")
        view = self._drain(spark, src, view_dir, chk)
        assert os.path.exists(f"{chk}/commits/{last}")
        assert versioned.current_version(spark, view_dir) == head
        assert sorted(map(repr, view.read().collect())) == before
        assert [r.event_id for r in view.read().collect()] == [2]


class TestConsumerIdempotency:
    def test_batch_replay_does_not_duplicate(self, spark, dirs):
        """Crash-replay semantics: re-running the same micro-batch
        (same batch_id) must overwrite, not append — sink contents are
        effectively-once even though delivery is at-least-once."""
        em = StreamEmitter(spark, dirs["ingress"], producer="svc")
        em.emit("some:event", {"response": "ok"}, version=1, key="k1")
        em.emit("some:event", {"response": "error"}, version=1, key="k2")

        from ex_hivent_spark.sources.sinks import write_batches

        batch = _tagged(
            spark.read.schema(
                spark.read.parquet(dirs["ingress"]).schema
            ).parquet(dirs["ingress"]),
            [make_subscription(dirs, make_process_response())],
        )

        def handle(df, batch_id):
            write_batches(
                df, [dirs["processed"], dirs["quarantine"]], "_sub",
                f"{dirs['checkpoint']}/staging", batch_id,
            )

        handle(batch, 7)
        once_ok = spark.read.parquet(dirs["processed"]).count()
        once_bad = spark.read.parquet(dirs["quarantine"]).count()
        # the crash-replay: same batch_id delivered again
        handle(batch, 7)
        assert spark.read.parquet(dirs["processed"]).count() == once_ok == 1
        assert spark.read.parquet(dirs["quarantine"]).count() == once_bad == 1
        # a NEW batch id appends
        handle(batch, 8)
        assert spark.read.parquet(dirs["processed"]).count() == 2


class TestStreamStreamOuter:
    def test_left_outer_emits_unmatched_after_watermark(
        self, spark, tmp_path
    ):
        """Stream-stream LEFT OUTER interval join: matched pairs emit
        immediately; an unmatched view emits with null click columns
        only after the watermark proves no click can still arrive."""
        from datetime import datetime

        from ex_hivent_spark.streaming.joins import interval_join

        vdir, cdir = str(tmp_path / "v"), str(tmp_path / "c")
        cp = str(tmp_path / "cp")

        def write(path, ts_name, rows, fname):
            spark.createDataFrame(
                rows, f"user_id long, {ts_name} timestamp"
            ).coalesce(1).write.mode("append").parquet(path)

        def stream(path, ts_name):
            return (
                spark.readStream.schema(f"user_id long, {ts_name} timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(path)
            )

        # round 1: user 1 view never clicks; user 2 view->click matches
        write(vdir, "l_ts", [(1, datetime(2024, 1, 1, 0, 0)),
                             (2, datetime(2024, 1, 1, 0, 30))], "f1")
        write(cdir, "r_ts", [(2, datetime(2024, 1, 1, 1, 0))], "f1")

        joined = interval_join(
            stream(vdir, "l_ts"), stream(cdir, "r_ts"), how="leftOuter"
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("ss_outer")
            .outputMode("append")
            .option("checkpointLocation", cp)
            .start()
        )
        q.processAllAvailable()
        # rounds 2..3: watermark pushers on BOTH sides (combined
        # watermark = min of sides); each extra batch lets the engine
        # evict state the previous batch's watermark already expired
        for h in (10, 20):
            write(vdir, "l_ts", [(90 + h, datetime(2024, 1, 1, h, 0))], "p")
            write(cdir, "r_ts", [(90 + h, datetime(2024, 1, 1, h, 1))], "p")
            q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

        rows = spark.sql("SELECT * FROM ss_outer").collect()
        by_user = {}
        for r in rows:
            by_user.setdefault(r.user_id, []).append(r)
        # the matched pair emitted with a real lag
        assert by_user[2][0].lag_us == 30 * 60 * 1_000_000
        # the unmatched view emitted exactly once, with null right side
        assert len(by_user[1]) == 1
        assert by_user[1][0].r_ts is None and by_user[1][0].lag_us is None

    def test_left_outer_without_watermark_rejected(self, spark, tmp_path):
        import pytest

        from ex_hivent_spark.streaming.joins import interval_join

        left = spark.createDataFrame([], "user_id long, l_ts timestamp")
        right = spark.createDataFrame([], "user_id long, r_ts timestamp")
        with pytest.raises(ValueError, match="leftOuter requires"):
            interval_join(left, right, watermark=None, how="leftOuter")


def test_run_with_restarts_bounded_linear_backoff(monkeypatch):
    """Bounded reconnect (emitter.ex:113-139) with a fake query factory:
    a failed start or a failed run is retried after b, then 2b; after
    ``max_tries`` failed starts the last error is re-raised."""
    from ex_hivent_spark.streaming.consumer import run_with_restarts

    class FakeQuery:
        def __init__(self, error):
            self.error = error

        def awaitTermination(self):
            if self.error is not None:
                raise self.error

    def factory(outcomes):
        """Plays ``outcomes`` in order: "start" fails to start, "run"
        fails while running, "ok" terminates cleanly."""
        starts = []

        def start_query():
            outcome = outcomes[len(starts)]
            starts.append(outcome)
            if outcome == "start":
                raise ConnectionError("cannot start")
            return FakeQuery(RuntimeError("run failed") if outcome == "run" else None)

        return start_query, starts

    sleeps = []
    monkeypatch.setattr("time.sleep", sleeps.append)

    start_query, starts = factory(["start", "run", "ok"])
    query = run_with_restarts(start_query, max_tries=3, backoff_s=0.5)
    assert query.error is None and len(starts) == 3
    assert sleeps == [0.5, 1.0]

    sleeps.clear()
    start_query, starts = factory(["run"] * 5)
    with pytest.raises(RuntimeError, match="run failed"):
        run_with_restarts(start_query, max_tries=3, backoff_s=0.5)
    assert len(starts) == 3  # no extra attempt (the reference's `<=`)
    assert sleeps == [0.5, 1.0]


class TestMultiplexRoute:
    """One-pass multi-subscriber dispatch (route): two consumers fed
    from ONE source query, with per-topic quarantine isolation and
    idempotent (effectively-once) sinks."""

    def _subs(self, tmp_path):
        from ex_hivent_spark.streaming.consumer import Subscription

        def dirs(svc):
            return (
                str(tmp_path / f"{svc}_ok"),
                str(tmp_path / f"{svc}_bad"),
            )

        a_ok, a_bad = dirs("a")
        b_ok, b_bad = dirs("b")
        subs = [
            Subscription(
                service="svc_a",
                topic="some:event",
                process=make_process_response(),
                processed_dir=a_ok,
                quarantine_dir=a_bad,
                partition_count=2,
            ),
            Subscription(
                service="svc_b",
                topic="other:event",
                process=make_process_response(),
                processed_dir=b_ok,
                quarantine_dir=b_bad,
                partition_count=2,
            ),
        ]
        return subs, (a_ok, a_bad, b_ok, b_bad)

    def test_two_consumers_one_source_pass(self, spark, tmp_path):
        from ex_hivent_spark.streaming.consumer import route

        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc", partition_count=2)
        em.emit("some:event", {"response": "ok"}, version=1, key="k1")
        em.emit("some:event", {"response": "error"}, version=1, key="k2")
        em.emit("other:event", {"response": "ok"}, version=1, key="k3")
        em.emit("third:event", {"response": "ok"}, version=1)  # unclaimed

        subs, (a_ok, a_bad, b_ok, b_bad) = self._subs(tmp_path)
        q = route(spark, ingress, subs, str(tmp_path / "chk"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        assert spark.read.parquet(a_ok).count() == 1
        bad_a = spark.read.parquet(a_bad)
        assert bad_a.count() == 1  # svc_a's failure …
        assert bad_a.take(1)[0].queue.startswith("svc_a:")
        assert spark.read.parquet(b_ok).count() == 1
        assert spark.read.parquet(b_bad).count() == 0  # … not svc_b's

    def test_replay_is_effectively_once_per_sink(self, spark, tmp_path):
        from ex_hivent_spark.streaming.consumer import route

        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc", partition_count=2)
        em.emit("some:event", {"response": "ok"}, version=1, key="k1")
        subs, (a_ok, _, _, _) = self._subs(tmp_path)

        q = route(spark, ingress, subs, str(tmp_path / "chk"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        em.emit("some:event", {"response": "ok"}, version=1, key="k9")
        # restart on the SAME checkpoint: only the new file is processed,
        # and re-delivered batches overwrite their batch_id directories
        q2 = route(spark, ingress, subs, str(tmp_path / "chk"))
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        ok = spark.read.parquet(a_ok)
        assert ok.count() == 2  # exactly once each, no duplicates

    def test_sink_failure_midbatch_restart_exactly_once_all_subs(
        self, spark, tmp_path
    ):
        """Failure injection on the shared-checkpoint multiplex: the
        publish of sub 2 of 3's ok slice fails MID-BATCH (after sub 1's
        slice was already published, before sub 3's). The batch must
        not commit; on restart the replayed batch republishes EVERY
        subscription's batch_id directory — sub 1's pre-failure rows
        don't duplicate, sub 3's never-published slice appears, and
        sub 2 lands once."""
        import os

        from ex_hivent_spark.streaming.consumer import Subscription, route

        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc", partition_count=2)
        em.emit("topic:a", {"response": "ok"}, version=1, key="ka")
        em.emit("topic:b", {"response": "ok"}, version=1, key="kb")
        em.emit("topic:c", {"response": "ok"}, version=1, key="kc")

        subs, sink_dirs = [], {}
        for svc, topic in (
            ("svc_a", "topic:a"), ("svc_b", "topic:b"), ("svc_c", "topic:c")
        ):
            ok_dir = str(tmp_path / f"{svc}_ok")
            bad_dir = str(tmp_path / f"{svc}_bad")
            sink_dirs[svc] = ok_dir
            subs.append(
                Subscription(
                    service=svc,
                    topic=topic,
                    process=make_process_response(),
                    processed_dir=ok_dir,
                    quarantine_dir=bad_dir,
                    partition_count=2,
                )
            )
        # inject: svc_b's ok sink path is a plain FILE, so publishing
        # its slice throws inside the shared foreachBatch
        with open(sink_dirs["svc_b"], "w") as f:
            f.write("not a directory")

        chk = str(tmp_path / "chk")
        q = route(spark, ingress, subs, chk)
        with pytest.raises(Exception):
            q.processAllAvailable()
        q.stop()
        # awaitTermination re-raises the stream's failure — expected
        with pytest.raises(Exception):
            q.awaitTermination(30)

        # sub 1 got at least one batch dir written before the failure;
        # none of svc_b's batches committed
        assert os.path.isdir(sink_dirs["svc_a"])
        assert os.path.isfile(sink_dirs["svc_b"])

        # repair the sink and restart on the SAME checkpoint
        os.remove(sink_dirs["svc_b"])
        q2 = route(spark, ingress, subs, chk)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
            q2.awaitTermination(30)

        for svc in ("svc_a", "svc_b", "svc_c"):
            got = spark.read.parquet(f"{sink_dirs[svc]}/batch_id=*")
            assert got.count() == 1, svc  # exactly once, every sub
        # continued progress after recovery stays exactly-once too
        em.emit("topic:a", {"response": "ok"}, version=1, key="ka2")
        q3 = route(spark, ingress, subs, chk)
        try:
            q3.processAllAvailable()
        finally:
            q3.stop()
            q3.awaitTermination(30)
        assert spark.read.parquet(
            f"{sink_dirs['svc_a']}/batch_id=*"
        ).count() == 2
        assert spark.read.parquet(
            f"{sink_dirs['svc_b']}/batch_id=*"
        ).count() == 1
