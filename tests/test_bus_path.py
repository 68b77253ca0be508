"""The bus path, emit → route() → ok/quarantine sinks, at the level of
what each step stores and which Spark jobs it runs: one ingress file per
emit and no Spark job, an ack equal to the stored rows, Python callables
that see only their own topic, route() jobs attributed to the query's
job group, what route() reports per batch, the columns each published
sink holds, the checkpoint manager route() and a view write through,
and a stop() that ends a slow batch.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time

import pytest
from pyspark.sql import functions as F

from ex_hivent_spark.streaming.consumer import INGRESS_SCHEMA, Subscription, route
from ex_hivent_spark.streaming.continuous_view import ContinuousAggregateView
from ex_hivent_spark.streaming.emitter import StreamEmitter


def _events(topic: str, n: int, start: int = 0, bad_every: int = 0) -> list[dict]:
    return [
        {
            "name": topic,
            "payload": json.dumps(
                {"v": i, "response": "error" if bad_every and i % bad_every == 0 else "ok"}
            ),
            "version": 1,
            "cid": f"cid-{i}" if i % 2 else None,
            "key": f"k{i % 5}" if i % 3 else None,
        }
        for i in range(start, start + n)
    ]


def _ingress_files(ingress: str) -> list[str]:
    return glob.glob(os.path.join(ingress, "*.parquet"))


def _drain(q) -> None:
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)


def _rows(df) -> list[tuple]:
    return sorted(
        (r.name, r.payload, tuple(r.meta), r.partition_id) for r in df.collect()
    )


class TestEmitter:
    def test_one_file_per_emit(self, spark, tmp_path):
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        em.emit_batch(_events("topic:a", 40))
        assert len(_ingress_files(ingress)) == 1
        em.emit_batch(_events("topic:b", 40, start=40))
        assert len(_ingress_files(ingress)) == 2

    def test_ack_is_the_stored_rows(self, spark, tmp_path):
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc", partition_count=3)
        ack = em.emit_batch(_events("topic:a", 30))
        first = _rows(ack)
        # a re-evaluated current_timestamp() would move by at least this
        time.sleep(1.1)
        second = _rows(ack)
        stored = _rows(spark.read.schema(INGRESS_SCHEMA).parquet(ingress))
        assert first == second == stored
        metas = [r[2] for r in stored]
        assert len({m[4] for m in metas}) == 30  # one uuid per event
        assert {m[3] for m in metas if m[3].startswith("cid-")} == {
            f"cid-{i}" for i in range(1, 30, 2)
        }
        assert len({m[3] for m in metas}) == 30  # defaults are fresh uuids
        assert len({m[6] for m in metas}) == 1  # one created_at per emit
        assert abs(metas[0][6].timestamp() - time.time()) < 60
        assert all(m[2] == "svc" for m in metas)

    @pytest.mark.parametrize("version", [1.9, True, "2"])
    def test_batch_rejects_a_non_integer_version(self, spark, tmp_path, version):
        """``emit_batch`` applies ``emit``'s version guard (emitter.ex:64)
        to every event before anything is written."""
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        events = _events("topic:a", 3)
        events[2]["version"] = version
        with pytest.raises(TypeError):
            em.emit_batch(events)
        assert _ingress_files(ingress) == []

    def test_emit_runs_no_spark_job(self, spark, tmp_path):
        """The enriched frame is a projection over a local relation, so
        its derived columns are collected without a job and the file is
        written with pyarrow: an emit adds no job to the job group it
        runs in, nor to the default group."""
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        default_before = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup("test-emit-runs-no-job", "emit_batch")
        try:
            em.emit_batch(_events("topic:a", 200))
            em.emit_batch(_events("topic:b", 300, start=200))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert tracker.getJobIdsForGroup("test-emit-runs-no-job") == []
        assert set(tracker.getJobIdsForGroup(None)) - default_before == set()
        assert len(_ingress_files(ingress)) == 2
        # nothing hidden is left behind next to the published files
        assert [n for n in os.listdir(ingress) if n.endswith(".tmp")] == []

    def test_empty_emit_writes_nothing(self, spark, tmp_path):
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        em.emit_batch(_events("topic:a", 4))
        ack = em.emit_batch([])
        assert len(_ingress_files(ingress)) == 1
        assert ack.count() == 0


def _recording_process(log_dir: str):
    """A ``process/1`` callable that appends each event name it sees to
    a file of its own under ``log_dir`` (one file per Python worker, so
    concurrent workers never interleave writes). Built as a closure so
    cloudpickle ships it by value."""

    def process(event) -> "None | str":
        import json as _json
        import os as _os

        with open(_os.path.join(log_dir, f"{_os.getpid()}.log"), "a") as f:
            f.write(event["name"] + "\n")
        if _json.loads(event["payload"])["response"] == "error":
            return "rejected"
        return None

    return process


def _seen(log_dir: str) -> list[str]:
    names: list[str] = []
    for path in glob.glob(os.path.join(log_dir, "*.log")):
        with open(path) as f:
            names += f.read().split()
    return names


class TestRoute:
    def test_python_callables_see_only_their_topic(self, spark, tmp_path):
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        # each emit mixes the three topics plus an unclaimed one
        for start in (0, 100):
            em.emit_batch(
                _events("topic:a", 12, start, bad_every=4)
                + _events("topic:b", 9, start + 20, bad_every=3)
                + _events("topic:c", 7, start + 40, bad_every=2)
                + _events("topic:none", 5, start + 60)
            )
        logs = {t: tmp_path / f"log_{t}" for t in ("a", "b")}
        for d in logs.values():
            d.mkdir()
        subs = [
            Subscription(
                service=f"svc_{t}",
                topic=f"topic:{t}",
                process=_recording_process(str(logs[t])),
                processed_dir=str(tmp_path / f"{t}_ok"),
                quarantine_dir=str(tmp_path / f"{t}_bad"),
            )
            for t in ("a", "b")
        ]
        # an expression subscription alongside the callables
        subs.append(
            Subscription(
                service="svc_c",
                topic="topic:c",
                process=F.when(
                    F.get_json_object("payload", "$.response") == "error",
                    F.lit("rejected"),
                ),
                processed_dir=str(tmp_path / "c_ok"),
                quarantine_dir=str(tmp_path / "c_bad"),
            )
        )
        _drain(route(spark, ingress, subs, str(tmp_path / "chk")))

        # each callable saw its own topic's events, each exactly once
        assert sorted(_seen(str(logs["a"]))) == ["topic:a"] * 24
        assert sorted(_seen(str(logs["b"]))) == ["topic:b"] * 18
        want = {"a": (18, 6), "b": (12, 6), "c": (6, 8)}
        for t, (n_ok, n_bad) in want.items():
            ok = spark.read.parquet(str(tmp_path / f"{t}_ok"))
            bad = spark.read.parquet(str(tmp_path / f"{t}_bad"))
            assert (ok.count(), bad.count()) == (n_ok, n_bad), t
            assert {r.name for r in ok.union(bad)
                    .select("name").distinct().collect()} == {f"topic:{t}"}
            assert {r.queue.split(":")[0] for r in bad.collect()} == {f"svc_{t}"}

    def test_callable_runs_in_partition_count_tasks_by_key(self, spark, tmp_path):
        """One emit is one ingress file, read as one task; a Python
        callable is still spread over ``partition_count`` tasks, and every
        event of one key lands in the same task."""
        ingress = str(tmp_path / "ingress")
        StreamEmitter(spark, ingress, producer="svc").emit_batch(
            [
                {"name": "topic:a", "payload": json.dumps({"v": i}),
                 "version": 1, "key": f"k{i % 12}"}
                for i in range(60)
            ]
        )
        log_dir = tmp_path / "log"
        log_dir.mkdir()

        def process(event) -> None:
            import os as _os

            from pyspark import TaskContext

            with open(_os.path.join(str(log_dir), f"{_os.getpid()}.log"), "a") as f:
                f.write(f"{TaskContext.get().partitionId()},{event['uuid']}\n")

        sub = Subscription(
            service="svc_a",
            topic="topic:a",
            process=process,
            processed_dir=str(tmp_path / "a_ok"),
            quarantine_dir=str(tmp_path / "a_bad"),
            partition_count=3,
        )
        _drain(route(spark, ingress, [sub], str(tmp_path / "chk")))
        task_of = dict(
            line.split(",")[::-1] for line in _seen(str(log_dir))
        )  # uuid -> task partition
        ok = spark.read.parquet(str(tmp_path / "a_ok")).collect()
        assert len(ok) == len(task_of) == 60
        assert set(task_of.values()) == {"0", "1", "2"}
        tasks_of_key: dict[str, set] = {}
        for r in ok:
            tasks_of_key.setdefault(r.meta.key, set()).add(task_of[r.meta.uuid])
        assert all(len(t) == 1 for t in tasks_of_key.values())

    def test_batch_jobs_run_in_the_query_job_group(self, spark, tmp_path):
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        for start in (0, 50):
            em.emit_batch(
                _events("topic:a", 10, start, bad_every=5)
                + _events("topic:b", 10, start + 20)
            )
        subs = [
            Subscription(
                service=f"svc_{t}",
                topic=f"topic:{t}",
                process=_recording_process(str(tmp_path)),
                processed_dir=str(tmp_path / f"{t}_ok"),
                quarantine_dir=str(tmp_path / f"{t}_bad"),
            )
            for t in ("a", "b")
        ]
        tracker = spark.sparkContext.statusTracker()
        default_before = set(tracker.getJobIdsForGroup(None))
        q = route(spark, ingress, subs, str(tmp_path / "chk"))
        _drain(q)
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) == 2  # one micro-batch per emit
        # no job was added to the default group (set difference, so the
        # status store evicting old finished jobs cannot fail the check)
        assert set(tracker.getJobIdsForGroup(None)) - default_before == set()
        # per batch, all under the query's run id: the shuffle-map job
        # adaptive execution submits for the meta.key repartition, and
        # the one write
        group = tracker.getJobIdsForGroup(str(q.runId))
        assert len(group) == len(batches) * 2

    def test_expression_route_runs_one_job_per_batch(self, spark, tmp_path):
        """Without a Python callable nothing is repartitioned: a batch is
        one write of its ok and quarantined rows together, whatever the
        number of subscriptions."""
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        for start in (0, 50):
            em.emit_batch(
                [e for t in "abc" for e in _events(f"topic:{t}", 10, start, bad_every=5)]
            )
        subs = _expression_subs(tmp_path, "abc")
        q = route(spark, ingress, subs, str(tmp_path / "chk"))
        _drain(q)
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) == 2
        group = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
        assert len(group) == len(batches) * 1

    def test_topic_multiplexer_single_pass(self, spark, tmp_path):
        """Single-event ``emit()`` calls, routed through subscriptions
        whose expression is an all-ok null literal: each topic's sink
        holds exactly its own events."""
        ingress = str(tmp_path / "in")
        em = StreamEmitter(spark, ingress, producer="svc")
        em.emit("topic:a", {"i": 1}, version=1)
        em.emit("topic:b", {"i": 2}, version=1)
        em.emit("topic:a", {"i": 3}, version=1)

        sinks = {"topic:a": str(tmp_path / "a"), "topic:b": str(tmp_path / "b")}
        subs = [
            Subscription(
                service="svc",
                topic=topic,
                process=F.lit(None).cast("string"),  # every event is ok
                processed_dir=path,
                quarantine_dir=f"{path}_quarantine",
            )
            for topic, path in sinks.items()
        ]
        _drain(route(spark, ingress, subs, str(tmp_path / "cp")))

        a = spark.read.parquet(sinks["topic:a"])
        b = spark.read.parquet(sinks["topic:b"])
        assert a.count() == 2 and b.count() == 1
        assert {r.name for r in a.select("name").distinct().collect()} == {"topic:a"}


class TestRouteProgress:
    """What route() reports about each micro-batch: its input rows, the
    counts it observes, and the quarantine stamp a replay keeps."""

    def test_num_input_rows_counts_each_event_once(self, spark, tmp_path):
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        em.emit_batch(_events("topic:a", 25, bad_every=4))
        em.emit_batch(_events("topic:b", 40, 100, bad_every=3))
        q = route(spark, ingress, _expression_subs(tmp_path, "ab"), str(tmp_path / "chk"))
        _drain(q)
        rows = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
        assert sorted(rows) == [25, 40]

    def test_observed_counts_equal_sink_rows(self, spark, tmp_path):
        from ex_hivent_spark.streaming import monitor

        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        em.emit_batch(_events("topic:a", 10, bad_every=4) + _events("topic:b", 6, 20, bad_every=3))
        em.emit_batch(_events("topic:a", 5, 40, bad_every=2))
        m = monitor.attach(spark)
        try:
            q = route(spark, ingress, _expression_subs(tmp_path, "ab"), str(tmp_path / "chk"))
            _drain(q)
            deadline = time.time() + 30
            while time.time() < deadline and m.total_input_rows() < 21:
                time.sleep(0.2)
        finally:
            monitor.detach(spark, m)
        observed = {
            r["batch_id"]: json.loads(r["observed_metrics"])["route"]
            for r in m.records
            if r["run_id"] == str(q.runId) and r["num_input_rows"] > 0
        }
        assert sorted(observed) == [0, 1]
        for t in "ab":
            for outcome, sink in (("ok", f"{t}_ok"), ("quarantine", f"{t}_bad")):
                df = spark.read.parquet(str(tmp_path / sink))
                for batch_id, counts in observed.items():
                    rows = df.filter(F.col("batch_id") == batch_id).count()
                    assert counts[f"svc_{t}.{outcome}"] == rows, (sink, batch_id)
        assert sum(c["svc_a.quarantine"] for c in observed.values()) == 6
        assert "observed_metrics" in m.metrics_df(spark).columns

    def test_replayed_batch_keeps_its_quarantined_at(self, spark, tmp_path):
        """``quarantined_at`` is the batch time kept in the offset log:
        a replay of the batch (its commit dropped) stamps the same
        value instead of the time of the replay."""
        ingress = str(tmp_path / "ingress")
        StreamEmitter(spark, ingress, producer="svc").emit_batch(
            _events("topic:a", 8, bad_every=4)
        )
        chk = tmp_path / "chk"
        subs = _expression_subs(tmp_path, "a")
        _drain(route(spark, ingress, subs, str(chk)))

        def stamps() -> list:
            bad = spark.read.parquet(str(tmp_path / "a_bad")).collect()
            return sorted((json.loads(r.payload)["v"], r.quarantined_at) for r in bad)

        first = stamps()
        assert [v for v, _ in first] == [0, 4]
        with open(chk / "offsets" / "0") as f:
            batch_ms = json.loads(f.read().splitlines()[1])["batchTimestampMs"]
        assert {round(t.timestamp() * 1000) for _, t in first} == {batch_ms}

        for name in ("0", ".0.crc"):
            (chk / "commits" / name).unlink(missing_ok=True)
        q = route(spark, ingress, subs, str(chk))
        _drain(q)
        assert [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0] == [0]
        assert stamps() == first


def _expression_subs(tmp_path, topics: str) -> list[Subscription]:
    """One expression subscription per topic letter; an event whose
    payload says ``"response": "error"`` is quarantined."""
    check = F.when(
        F.get_json_object("payload", "$.response") == "error", F.lit("rejected")
    )
    return [
        Subscription(
            service=f"svc_{t}",
            topic=f"topic:{t}",
            process=check,
            processed_dir=str(tmp_path / f"{t}_ok"),
            quarantine_dir=str(tmp_path / f"{t}_bad"),
        )
        for t in topics
    ]


def _payload_vs(df) -> list[int]:
    return sorted(json.loads(r.payload)["v"] for r in df.select("payload").collect())


BAD_COLUMNS = ["name", "payload", "meta", "partition_id", "queue", "error",
               "quarantined_at", "batch_id"]
OK_COLUMNS = BAD_COLUMNS


class TestPublish:
    """route() stages each outcome's write under the checkpoint and
    publishes one directory per subscription and batch by rename."""

    def test_sink_columns_and_empty_outcomes(self, spark, tmp_path):
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        em.emit_batch(_events("topic:a", 10, bad_every=4) + _events("topic:b", 6, 20))
        em.emit_batch(_events("topic:a", 5, 40))
        chk = tmp_path / "chk"
        _drain(route(spark, ingress, _expression_subs(tmp_path, "ab"), str(chk)))

        a_ok = spark.read.parquet(str(tmp_path / "a_ok"))
        a_bad = spark.read.parquet(str(tmp_path / "a_bad"))
        assert a_ok.columns == OK_COLUMNS
        assert a_bad.columns == BAD_COLUMNS
        assert _payload_vs(a_ok) == [1, 2, 3, 5, 6, 7, 9, 40, 41, 42, 43, 44]
        assert _payload_vs(a_bad) == [0, 4, 8]
        assert {r.error for r in a_bad.collect()} == {"rejected"}
        assert all(r.quarantined_at is not None for r in a_bad.collect())
        # ok rows carry a null error and quarantined_at
        assert {(r.error, r.quarantined_at) for r in a_ok.collect()} == {(None, None)}
        # svc_b never quarantined a row and had no row in the second
        # batch: every batch still has a directory, with its schema
        for sink, columns, vs in (("b_ok", OK_COLUMNS, list(range(20, 26))),
                                  ("b_bad", BAD_COLUMNS, [])):
            assert sorted(os.listdir(tmp_path / sink)) == ["batch_id=0", "batch_id=1"]
            df = spark.read.parquet(str(tmp_path / sink))
            assert df.columns == columns, sink
            assert _payload_vs(df) == vs, sink
        b_bad = spark.read.parquet(str(tmp_path / "b_bad"))
        assert b_bad.schema == a_bad.schema
        # nothing staged is left behind
        assert not (chk / "staging").exists() or not os.listdir(chk / "staging")

    def test_leftover_staging_does_not_leak_on_restart(self, spark, tmp_path):
        """A crash after batch 1 was staged and published, before its
        commit: the batch replays on restart. The staged ``_sub=0`` and
        ``_sub=2`` directories (svc_a's ok and quarantine slices) the
        crash left behind, each with a row no event made, must reach no
        sink, and every event lands once."""
        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc")
        em.emit_batch(_events("topic:a", 8, bad_every=4) + _events("topic:b", 4, 20))
        em.emit_batch(_events("topic:a", 6, 40, bad_every=3))
        chk = tmp_path / "chk"
        subs = _expression_subs(tmp_path, "ab")
        _drain(route(spark, ingress, subs, str(chk)))

        for name in ("1", ".1.crc"):
            (chk / "commits" / name).unlink(missing_ok=True)
        stray = spark.read.parquet(str(tmp_path / "a_ok")).drop("batch_id").limit(1)
        stray = stray.withColumn("payload", F.lit(json.dumps({"v": 999, "response": "ok"})))
        for sub in ("0", "2"):
            frame = stray if sub == "0" else stray.withColumn(
                "error", F.lit("stray")).withColumn("quarantined_at", F.current_timestamp())
            frame.write.parquet(str(chk / "staging" / f"_sub={sub}"))

        q = route(spark, ingress, subs, str(chk))
        _drain(q)
        assert [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0] == [1]
        want = {
            "a_ok": [1, 2, 3, 5, 6, 7, 40, 41, 43, 44],
            "a_bad": [0, 4, 42, 45],
            "b_ok": [20, 21, 22, 23],
            "b_bad": [],
        }
        for sink, vs in want.items():
            assert _payload_vs(spark.read.parquet(str(tmp_path / sink))) == vs, sink
        assert not (chk / "staging").exists() or not os.listdir(chk / "staging")


CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _route_and_view(spark, tmp_path):
    """A drained route() query and a drained view over the same two
    emits, each started on a session without the checkpoint manager
    conf, as a driver's own session would be."""
    ingress = str(tmp_path / "ingress")
    em = StreamEmitter(spark, ingress, producer="svc")
    em.emit_batch(_events("topic:a", 8, bad_every=4))
    em.emit_batch(_events("topic:a", 5, 40))
    spark.conf.unset(CHECKPOINT_MANAGER)
    routed = route(spark, ingress, _expression_subs(tmp_path, "a"), str(tmp_path / "chk"))
    _drain(routed)
    spark.conf.unset(CHECKPOINT_MANAGER)
    view = ContinuousAggregateView(spark, str(tmp_path / "view"), ["name"], ["partition_id"])
    viewed = view.start(
        spark.readStream.schema(INGRESS_SCHEMA).parquet(ingress), str(tmp_path / "view_chk")
    )
    _drain(viewed)
    return routed, viewed


class TestCheckpoint:
    """How route() and a view write their checkpoints, and what a
    publish leaves beside the data."""

    def test_route_and_view_log_through_the_filesystem_manager(self, spark, tmp_path):
        for q in _route_and_view(spark, tmp_path):
            execution = q._jsq.streamingQuery()
            managers = {
                log.fileManager().getClass().getName()
                for log in (execution.offsetLog(), execution.commitLog())
            }
            assert managers == {FS_MANAGER}

    def test_published_directories_hold_no_success_marker(self, spark, tmp_path):
        """The rename that publishes a directory is its commit, so the
        write behind it leaves no ``_SUCCESS``."""
        _route_and_view(spark, tmp_path)
        published = glob.glob(str(tmp_path / "a_*" / "batch_id=*"))
        versions = glob.glob(str(tmp_path / "view" / "v=*"))
        assert len(published) == 4 and versions
        for d in published + versions:
            assert not [n for n in os.listdir(d) if "_SUCCESS" in n], d


def _slow_process(log_dir: str, flag: str):
    """A callable that logs each event's uuid and, while ``flag``
    exists, sleeps 2.5 s per event; ``"response": "error"`` payloads
    are rejected."""

    def process(event) -> "None | str":
        import json as _json
        import os as _os
        import time as _time

        with open(_os.path.join(log_dir, f"{_os.getpid()}.log"), "a") as f:
            f.write(event["uuid"] + "\n")
        if _os.path.exists(flag):
            _time.sleep(2.5)
        if _json.loads(event["payload"])["response"] == "error":
            return "rejected"
        return None

    return process


def test_stop_ends_a_slow_batch_and_restart_lands_each_event_once(spark, tmp_path):
    """A batch of 30 events through a callable that sleeps 2.5 s per
    event runs in one task for 75 s. ``stop()`` cancels it well before
    that, nothing is published, and a restart on the same checkpoint
    lands each event once, in the sink its outcome selects."""
    ingress = str(tmp_path / "ingress")
    StreamEmitter(spark, ingress, producer="svc").emit_batch(
        _events("topic:a", 30, bad_every=3)
    )
    log_dir, flag = tmp_path / "log", tmp_path / "slow"
    log_dir.mkdir()
    flag.write_text("")
    sub = Subscription(
        service="svc_a",
        topic="topic:a",
        process=_slow_process(str(log_dir), str(flag)),
        processed_dir=str(tmp_path / "a_ok"),
        quarantine_dir=str(tmp_path / "a_bad"),
        partition_count=1,
    )
    chk = str(tmp_path / "chk")
    q = route(spark, ingress, [sub], chk)
    deadline = time.time() + 60
    while not _seen(str(log_dir)):
        assert time.time() < deadline and q.isActive, "the batch never started"
        time.sleep(0.2)
    t0 = time.time()
    q.stop()
    assert time.time() - t0 < 30
    q.awaitTermination(30)
    assert not q.isActive
    assert len(_seen(str(log_dir))) < 30  # the batch did not run to its end
    assert not (tmp_path / "a_ok").exists() and not (tmp_path / "a_bad").exists()

    flag.unlink()
    _drain(route(spark, ingress, [sub], chk))
    ok = spark.read.parquet(str(tmp_path / "a_ok"))
    bad = spark.read.parquet(str(tmp_path / "a_bad"))
    assert _payload_vs(ok) == [v for v in range(30) if v % 3]
    assert _payload_vs(bad) == list(range(0, 30, 3))
    assert ok.select("meta.uuid").distinct().count() == 20


def test_ewma_input_value_has_no_nulls(spark, sf_dir):
    """q_ts_ewma's lag rewrite treats a missing lag as a +0.0 term and
    never skips a NULL ``value`` (the collect_list form did). That is
    only the oracle's result while events.value carries no NULLs; pin
    the assumption on the data the query runs on, and the query against
    a plain-Python truncated EWMA."""
    from ex_hivent_spark.catalog import load_table
    from ex_hivent_spark.plans.registry import all_specs

    events = load_table(spark, sf_dir, "events")
    assert events.filter(F.col("value").isNull()).count() == 0

    by_user: dict[int, list] = {}
    for r in events.select("event_id", "user_id", "ts", "value").collect():
        by_user.setdefault(r.user_id, []).append(r)
    want = {}
    for rows in by_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        for i, r in enumerate(rows):
            window = [x.value for x in rows[max(0, i - 7): i + 1]]
            m = len(window)
            num = sum(v * 0.5 ** (m - 1 - j) for j, v in enumerate(window))
            want[r.event_id] = num / (2.0 - 0.5 ** (m - 1))

    got = all_specs()["q_ts_ewma"].spark(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        assert r.ewma is not None
        assert math.isclose(r.ewma, want[r.event_id], abs_tol=1.5e-6), r.event_id
