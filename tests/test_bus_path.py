"""The bus path, emit → route() → ok/quarantine sinks, at the level of
what each step stores and which Spark jobs it runs: one ingress file per
emit, an ack equal to the stored rows, Python callables that see only
their own topic, and route() jobs attributed to the query's job group.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time

from pyspark.sql import functions as F

from ex_hivent_spark.streaming.consumer import INGRESS_SCHEMA, Subscription, route
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
            assert {r.name for r in ok.union(bad.drop("error", "quarantined_at"))
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
        # one materialization + an ok and a quarantine write per
        # subscription, per batch, all under the query's run id
        group = tracker.getJobIdsForGroup(str(q.runId))
        assert len(group) >= len(batches) * (1 + 2 * len(subs))


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
