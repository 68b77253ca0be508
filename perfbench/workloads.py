"""The benchmark's workloads. Each one generates its inputs from the
seed, warms the code paths it times, measures an amount of work sized
from --seconds and then checks the program's outputs against values
computed here from the generated inputs.

A workload returns a ``Result``: end-to-end metrics, per-layer metrics,
and how many operations were attempted and failed."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

import inputs
import sparkio
import stats
from tracing import Tracer

POLL_S = 0.05


@dataclass
class Result:
    metrics: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    notes: list[str] = field(default_factory=list)


def p50(values) -> float:
    return stats.median(values) if len(values) else 0.0


def p90_or_zero(values, notes: list[str], name: str) -> float:
    """A per-layer p90 is reported as 0 when the run has too few
    samples to support it (see stats.MIN_BEYOND_TAIL)."""
    try:
        return stats.tail(values)
    except stats.TooFewSamples as ex:
        notes.append(f"{name}: {ex}")
        return 0.0


def wait_until(predicate, deadline: float, query) -> None:
    """Poll until ``predicate()`` holds or ``deadline`` passes; re-raise
    a streaming query's failure instead of waiting it out."""
    while time.time() < deadline and not predicate():
        if not query.isActive:
            break
        time.sleep(POLL_S)
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")


def stop(query) -> None:
    query.stop()
    query.awaitTermination(60)


def trace_batches(tracer: Tracer, name: str, reports: list[dict], parent) -> None:
    """One span per micro-batch, with its durationMs parts laid end to
    end inside it as child spans (Spark reports their lengths, not their
    start times; they run in this order)."""
    if not tracer.enabled:
        return
    for report in reports:
        start, end = sparkio.batch_window(report)
        batch_span = tracer.add(name, start, end, parent)
        t = start
        for key, part in sparkio.DURATION_PARTS:
            ms = report["durationMs"].get(key)
            if ms:
                tracer.add(part, t, t + ms / 1000.0, batch_span)
                t += ms / 1000.0


def batch_layers(reports: list[dict], notes: list[str]) -> dict[str, float]:
    """Per-layer metrics of the source, the micro-batch and the
    checkpoint, from the progress reports of committed data batches."""

    def part(key: str) -> list[float]:
        return [r["durationMs"].get(key, 0) for r in reports]

    batch_ms = part("triggerExecution")
    return {
        "source.latest_offset_ms_p50": p50(part("latestOffset")),
        "source.get_batch_ms_p50": p50(part("getBatch")),
        "source.rows_per_batch": p50([r["numInputRows"] for r in reports]),
        "consumer.batch_ms_p50": p50(batch_ms),
        "consumer.batch_ms_p90": p90_or_zero(batch_ms, notes, "consumer.batch_ms_p90"),
        "consumer.add_batch_ms_p50": p50(part("addBatch")),
        "consumer.batches": float(len(reports)),
        "checkpoint.wal_commit_ms_p50": p50(part("walCommit")),
        "checkpoint.commit_offsets_ms_p50": p50(part("commitOffsets")),
    }


def stream_job_counts(spark, query, idle_jobs: set[int]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) one streaming query ran. Spark runs each
    query's micro-batches under a job group named by its run id, but the
    subscription slices route() runs from its own thread pool do not
    inherit it and land in the default group. Nothing else uses the
    default group while the query runs (the benchmark's own Spark calls
    in that window set a group of their own), so its new jobs are the
    query's too. ``idle_jobs`` is the default group before the start."""
    jobs = sparkio.job_ids(spark, str(query.runId))
    jobs |= sparkio.job_ids(spark, None) - idle_jobs
    return sparkio.job_counts(spark, jobs)


def batch_rate(reports: list[dict]) -> float:
    """Median events per second of the micro-batches, each one's input
    rows over its trigger time. The median keeps a query's first batch,
    which also starts the query, from moving the figure."""
    return stats.median(
        [r["numInputRows"] * 1000.0 / max(1, r["durationMs"]["triggerExecution"])
         for r in reports]
    )


def drain_latencies(reports: list[dict], t_start: float) -> list[float]:
    """Per-event latency of a backlog drain, in milliseconds: every
    event is available at ``t_start`` and done when the micro-batch
    that read it commits."""
    out: list[float] = []
    for r in reports:
        out += [(sparkio.batch_window(r)[1] - t_start) * 1000.0] * r["numInputRows"]
    return out


def wall_metrics(rate: float, latencies: list[float]) -> dict[str, float]:
    """Wall-clock throughput and latency. They move with how busy the
    host is, so they are per-layer figures; the end-to-end cost is CPU
    time (see cpu_metric)."""
    return {"wall.events_per_s": rate,
            "wall.latency_ms_p50": stats.median(latencies),
            "wall.latency_ms_p90": stats.tail(latencies)}


def cpu_metrics(cpu_s: float, gc_s: float, events: int) -> tuple[dict, dict]:
    """End-to-end and per-layer CPU milliseconds per thousand events: of
    the Python process and the JVM together, JIT compiler and garbage
    collector left out (see Context.cpu_used), and of the collector
    alone. Time the host gives to other tenants is in neither."""
    return ({"cpu_ms_per_kevent": cpu_s * 1e6 / events},
            {"jvm.gc_cpu_ms_per_kevent": gc_s * 1e6 / events})


def committed_reports(query, checkpoint: str) -> list[dict]:
    done = set(sparkio.committed_batches(checkpoint))
    return [r for r in sparkio.data_batches(sparkio.progress(query)) if r["batchId"] in done]


# ---- the bus: route() with three expression subscriptions -----------------


def subscriptions(root: str):
    from pyspark.sql import functions as F

    from ex_hivent_spark.streaming.consumer import Subscription

    check = F.when(
        F.get_json_object("payload", "$.ok") == F.lit("false"), F.lit("rejected")
    )
    return [
        Subscription(
            service=f"svc{i}",
            topic=topic,
            process=check,
            processed_dir=f"{root}/ok{i}",
            quarantine_dir=f"{root}/bad{i}",
        )
        for i, topic in enumerate(inputs.TOPICS)
    ]


def sink_ids(sink_dir: str, batches: set[int]) -> Counter:
    """Event ids (payload ``v``) in a route() sink, counting only the
    ``batch_id=`` directories of committed batches."""
    seen: Counter = Counter()
    if not os.path.isdir(sink_dir):
        return seen
    for name in os.listdir(sink_dir):
        if not name.startswith("batch_id=") or int(name[9:]) not in batches:
            continue
        for path in sparkio.tree_files(os.path.join(sink_dir, name)):
            for payload in pq.read_table(path, columns=["payload"])["payload"].to_pylist():
                seen[json.loads(payload)["v"]] += 1
    return seen


def check_sinks(root: str, expected: dict[str, set[int]], batches: set[int]) -> int:
    """Events missing from, duplicated in or wrongly present in each
    sink. An event in two sinks counts as wrong in one of them."""
    wrong = 0
    for sink, want in expected.items():
        got = sink_ids(os.path.join(root, sink), batches)
        wrong += len(want - got.keys()) + len(got.keys() - want)
        wrong += sum(n - 1 for v, n in got.items() if n > 1 and v in want)
    return wrong


def expected_sinks(blocks: list[inputs.Envelopes]) -> dict[str, set[int]]:
    out: dict[str, set[int]] = {}
    for i in range(len(inputs.TOPICS)):
        out[f"ok{i}"] = set()
        out[f"bad{i}"] = set()
    for b in blocks:
        for i in range(len(inputs.TOPICS)):
            mine = b.topic == i
            out[f"ok{i}"].update(b.ids[mine & ~b.bad].tolist())
            out[f"bad{i}"].update(b.ids[mine & b.bad].tolist())
    return out


def sink_layers(root: str, expected: dict[str, set[int]]) -> dict[str, float]:
    ok = sum(len(v) for k, v in expected.items() if k.startswith("ok"))
    bad = sum(len(v) for k, v in expected.items() if k.startswith("bad"))
    dirs = [os.path.join(root, k) for k in expected]
    return {
        "sink.files_written": float(sum(len(sparkio.tree_files(d)) for d in dirs)),
        "sink.bytes_written": float(sum(sparkio.tree_bytes(d) for d in dirs)),
        "sink.ok_rows": float(ok),
        "sink.quarantine_rows": float(bad),
        "sink.quarantine_share": bad / max(1, ok + bad),
    }


def run_route_warmup(ctx, root: str, n_files: int, per_file: int) -> None:
    from ex_hivent_spark.streaming.consumer import route

    inputs.write_envelope_files(ctx.rng, f"{root}/ingress", n_files, per_file)
    q = route(ctx.spark, f"{root}/ingress", subscriptions(root), f"{root}/chk")
    try:
        q.processAllAvailable()
    finally:
        stop(q)


class EmitLive:
    """An open-loop generator calls StreamEmitter.emit_batch on a fixed
    schedule while route() consumes the same ingress directory."""

    PERIOD_S = 8.0
    PER_EMIT = 500
    DRAIN_S = 60.0

    def setup(self, ctx, seconds: float) -> None:
        from ex_hivent_spark.streaming.emitter import StreamEmitter

        warm = StreamEmitter(ctx.spark, f"{ctx.dir}/warm/emitted", "perfbench")
        warm.emit_batch(self.events(inputs.envelopes(ctx.rng, 0, 100)))
        run_route_warmup(ctx, f"{ctx.dir}/warm", 1, 100)

    @staticmethod
    def events(block: inputs.Envelopes) -> list[dict]:
        return [
            {"name": n, "payload": p, "version": 1, "key": k}
            for n, p, k in zip(block.names(), block.payloads(), block.keys())
        ]

    def measure(self, ctx, seconds: float) -> Result:
        from ex_hivent_spark.streaming.consumer import route
        from ex_hivent_spark.streaming.emitter import StreamEmitter

        root, chk, notes = ctx.dir, f"{ctx.dir}/chk", []
        ingress = f"{root}/ingress"
        os.makedirs(ingress, exist_ok=True)
        n_emits = int(seconds // self.PERIOD_S) + 1  # every due time inside the run
        blocks = [inputs.envelopes(ctx.rng, i * self.PER_EMIT, self.PER_EMIT)
                  for i in range(n_emits)]
        payloads = [self.events(b) for b in blocks]
        emitter = StreamEmitter(ctx.spark, ingress, "perfbench")
        due: dict[int, float] = {}
        ack_ms: list[float] = []
        late_ms: list[float] = []
        errors: list[BaseException] = []

        def generate(t0: float) -> None:
            ctx.spark.sparkContext.setJobGroup(f"perfbench-emit-{ctx.run_id}", "emit_batch")
            for i, block in enumerate(blocks):
                t_due = t0 + i * self.PERIOD_S
                time.sleep(max(0.0, t_due - time.time()))
                t_call = time.time()
                late_ms.append((t_call - t_due) * 1000.0)
                try:
                    with ctx.tracer.span("emitter.emit_batch"):
                        emitter.emit_batch(payloads[i])
                except Exception as ex:  # counted as failed events below
                    errors.append(ex)
                    continue
                ack_ms.append((time.time() - t_call) * 1000.0)
                due.update(dict.fromkeys(block.ids.tolist(), t_due))

        idle_jobs = sparkio.job_ids(ctx.spark, None)
        cpu0 = ctx.cpu_used()
        with ctx.tracer.span("consumer.route") as route_span:
            q = route(ctx.spark, ingress, subscriptions(root), chk)
            try:
                t0 = time.time() + 0.5
                gen = threading.Thread(target=generate, args=(t0,), daemon=True)
                gen.start()
                gen.join(seconds + self.DRAIN_S)
                if gen.is_alive():
                    raise RuntimeError("emitter did not finish its schedule")

                def drained() -> bool:
                    files = sparkio.source_files(chk)
                    done = set(sparkio.committed_batches(chk))
                    return all(
                        files.get(os.path.normpath(p)) in done
                        for p in sparkio.tree_files(ingress)
                    )

                wait_until(drained, time.time() + self.DRAIN_S, q)
            finally:
                stop(q)
        cpu, gc = np.subtract(ctx.cpu_used(), cpu0)
        reports = committed_reports(q, chk)
        trace_batches(ctx.tracer, "consumer.batch", reports, route_span)

        event_file: dict[int, str] = {}
        files_per_emit = len(sparkio.tree_files(ingress)) / n_emits
        for path in sparkio.tree_files(ingress):
            for payload in pq.read_table(path, columns=["payload"])["payload"].to_pylist():
                event_file[json.loads(payload)["v"]] = os.path.normpath(path)
        batch_end = {r["batchId"]: sparkio.batch_window(r)[1] for r in reports}
        latencies, missing = stats.join_latencies(
            due, event_file, sparkio.source_files(chk), batch_end
        )
        done = set(batch_end)
        emitted = [b for b in blocks if b.ids[0] in due]
        expected = expected_sinks(emitted)
        attempted = n_emits * self.PER_EMIT
        wrong_sinks = check_sinks(root, expected, done)
        failed = (attempted - len(due)) + len(missing) + wrong_sinks
        if not latencies:
            raise RuntimeError("no emitted event reached a sink")
        jobs, _, tasks = stream_job_counts(ctx.spark, q, idle_jobs)
        batches = max(1, len(reports))
        backlog = self.backlog_max(ingress, chk, reports)
        metrics, layers = cpu_metrics(cpu, gc, len(due))
        layers.update({
            **wall_metrics(batch_rate(reports), latencies),
            **batch_layers(reports, notes),
            **sink_layers(root, expected),
            "source.backlog_files_max": backlog,
            "consumer.jobs_per_batch": jobs / batches,
            "consumer.tasks_per_batch": tasks / batches,
            "emitter.emit_batch_ms_p50": p50(ack_ms),
            "emitter.files_per_emit": files_per_emit,
            "emitter.events_per_emit": float(self.PER_EMIT),
            "emitter.late_ms_max": max(late_ms) if late_ms else 0.0,
        })
        notes += [f"emit failed: {ex}" for ex in errors]
        return Result(metrics, layers, attempted, failed, notes)

    @staticmethod
    def backlog_max(ingress: str, chk: str, reports: list[dict]) -> float:
        """Most ingress files waiting (written, not yet read) at the start
        of any micro-batch."""
        file_batch = sparkio.source_files(chk)
        mtimes = {os.path.normpath(p): os.path.getmtime(p)
                  for p in sparkio.tree_files(ingress)}
        worst = 0
        for r in reports:
            start = sparkio.batch_window(r)[0]
            waiting = sum(
                1 for p, t in mtimes.items()
                if t <= start and file_batch.get(p, 1 << 62) >= r["batchId"]
            )
            worst = max(worst, waiting)
        return float(worst)


# ---- windows and the continuous view ---------------------------------------


def events_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def window_rows(rows) -> dict[tuple[int, str], tuple[int, float]]:
    """(window start in epoch microseconds, event type) -> (count, sum)."""
    return {
        (int(r["window_start"].timestamp() * 1e6), r["event_type"]): (
            r["n_events"], r["sum_value"])
        for r in rows
    }


def wrong_events(want: dict, got: dict) -> int:
    """Events in groups whose output row is missing, extra or different;
    each value is a tuple whose first field is the group's event count."""
    return sum(
        max(want.get(k, (0,))[0], got.get(k, (0,))[0])
        for k in want.keys() | got.keys()
        if want.get(k) != got.get(k)
    )


class WindowFold:
    """The events table, split in ts order into files with some events
    displaced, streamed through tumbling_counts and then folded into a
    ContinuousAggregateView keyed by user_id.

    Both streams read the first files of the table, as many as the seed
    program folds in --seconds on four cores, so every run does the same
    work."""

    EVENTS = 100_000
    FILES = 20
    FILES_PER_S = 0.6

    def setup(self, ctx, seconds: float) -> None:
        warm = inputs.event_files(ctx.rng, 1_000, 2)
        inputs.write_event_files(warm, f"{ctx.dir}/warm/files")
        with ctx.tracer.span("warmup.tumbling"):
            self.tumble(ctx, f"{ctx.dir}/warm")
        with ctx.tracer.span("warmup.view"):
            self.fold(ctx, f"{ctx.dir}/warm")
        with ctx.tracer.span("inputs.generate"):
            self.ev = inputs.event_files(ctx.rng, self.EVENTS, self.FILES)
            streamed = min(self.FILES, max(2, round(seconds * self.FILES_PER_S)))
            inputs.write_event_files(self.ev, f"{ctx.dir}/files", streamed)
            os.makedirs(f"{ctx.dir}/sf", exist_ok=True)
            pq.write_table(
                self.ev.table(np.flatnonzero(~self.ev.late)), f"{ctx.dir}/sf/events.parquet"
            )

    def stream(self, ctx, root: str):
        return (
            ctx.spark.readStream.schema(events_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/files")
        )

    @staticmethod
    def drain(q) -> None:
        try:
            q.processAllAvailable()
        finally:
            stop(q)

    def tumble(self, ctx, root: str):
        from ex_hivent_spark.streaming.windows import tumbling_counts

        chk = f"{root}/tumble_chk"
        q = (
            tumbling_counts(self.stream(ctx, root))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", chk)
            .start(f"{root}/tumble_out")
        )
        self.drain(q)
        return q, chk

    def fold(self, ctx, root: str):
        from ex_hivent_spark.streaming.continuous_view import ContinuousAggregateView

        chk = f"{root}/view_chk"
        view = ContinuousAggregateView(ctx.spark, f"{root}/view", ["user_id"], ["value"])
        q = view.start(self.stream(ctx, root), chk)
        self.drain(q)
        return q, chk, view

    def measure(self, ctx, seconds: float) -> Result:
        root, notes, tracer = ctx.dir, [], ctx.tracer
        cpu0 = ctx.cpu_used()
        t_a = time.time()
        with tracer.span("windows.tumbling") as span_a:
            qa, chk_a = self.tumble(ctx, root)
        t_b = time.time()
        with tracer.span("view.fold") as span_b:
            qb, chk_b, view = self.fold(ctx, root)
        cpu, gc = np.subtract(ctx.cpu_used(), cpu0)
        rep_a = committed_reports(qa, chk_a)
        rep_b = committed_reports(qb, chk_b)
        if not rep_a or not rep_b:
            raise RuntimeError("no micro-batch committed")
        trace_batches(tracer, "windows.batch", rep_a, span_a)
        trace_batches(tracer, "view.batch", rep_b, span_b)
        events = sum(r["numInputRows"] for r in rep_a + rep_b)
        # Every event passes through both streams, so its cost is the sum
        # of the two per-event times.
        fold_rate = 1.0 / (1.0 / batch_rate(rep_a) + 1.0 / batch_rate(rep_b))

        metrics, layers = cpu_metrics(cpu, gc, events)
        twin, twin_layers = self.batch_twin(ctx, f"{root}/sf")
        layers.update(twin_layers)
        bad_a = self.check_tumbling(ctx, root, chk_a, twin)
        bad_b, state_rows, versions = self.check_view(ctx, chk_b, view)
        states = [r["stateOperators"][0] for r in rep_a if r.get("stateOperators")]
        layers.update(
            {
                "state.rows_total_max": float(max((s["numRowsTotal"] for s in states), default=0)),
                "state.memory_bytes_max": float(
                    max((s["memoryUsedBytes"] for s in states), default=0)
                ),
                "state.rows_dropped_late": float(
                    sum(s.get("numRowsDroppedByWatermark", 0) for s in states)
                ),
                "state.commit_ms_p50": p50([s.get("commitTimeMs", 0) for s in states]),
                "windows.batch_ms_p50": p50([r["durationMs"]["triggerExecution"] for r in rep_a]),
                "view.batch_ms_p50": p50([r["durationMs"]["triggerExecution"] for r in rep_b]),
                "view.snapshot_versions": float(versions),
                "view.snapshot_bytes": float(sparkio.tree_bytes(f"{root}/view")),
                "view.state_rows": float(state_rows),
            }
        )
        layers.update(wall_metrics(
            fold_rate, drain_latencies(rep_a, t_a) + drain_latencies(rep_b, t_b)
        ))
        return Result(metrics, layers, events, bad_a + bad_b, notes)

    def batch_twin(self, ctx, sf_dir: str):
        """The registered batch twin of tumbling_counts over the on-time
        events, run through the catalog and the query registry under a
        job group of its own."""
        from ex_hivent_spark import catalog
        from ex_hivent_spark.plans.registry import all_specs

        spark, tracer = ctx.spark, ctx.tracer
        t0 = time.perf_counter()
        with tracer.span("catalog.load_table"):
            first = catalog.load_table(spark, sf_dir, "events")
        load_ms = (time.perf_counter() - t0) * 1000.0
        spec = all_specs()["q_win_tumbling_batch"]
        t0 = time.perf_counter()
        with tracer.span("registry.plan_build"):
            df = spec.spark(spark, sf_dir)
        plan_ms = (time.perf_counter() - t0) * 1000.0
        group = f"perfbench-query-{ctx.run_id}"
        spark.sparkContext.setJobGroup(group, "q_win_tumbling_batch")
        t0 = time.perf_counter()
        with tracer.span("query.exec"):
            rows = df.collect()
        exec_ms = (time.perf_counter() - t0) * 1000.0
        jobs, stages, tasks = sparkio.job_counts(spark, sparkio.job_ids(spark, group))
        hits = int(catalog.load_table(spark, sf_dir, "events") is first)
        return window_rows(rows), {
            "catalog.load_table_ms": load_ms,
            "catalog.memo_hits": float(hits),
            "registry.plan_build_ms_p50": plan_ms,
            "query.exec_ms.win": exec_ms,
            "query.jobs_per_query": float(jobs),
            "query.stages_per_query": float(stages),
            "query.tasks_per_query": float(tasks),
        }

    def check_tumbling(self, ctx, root: str, chk: str, twin: dict) -> int:
        """Rows of the streamed tumbling output that differ from the
        batch twin, over the windows the watermark has closed. Returns
        the number of events in wrong, missing or extra windows."""
        meta = f"{root}/tumble_out/_spark_metadata"
        sink_batches = [int(n.split(".")[0]) for n in os.listdir(meta) if n[0].isdigit()]
        if not sink_batches:
            return 0
        closed_us = sparkio.batch_watermark_ms(chk, max(sink_batches)) * 1000
        want = {k: v for k, v in twin.items() if k[0] + inputs.HOUR_US <= closed_us}
        got = window_rows(ctx.spark.read.parquet(f"{root}/tumble_out").collect())
        return wrong_events(want, got)

    def check_view(self, ctx, chk: str, view) -> tuple[int, int, int]:
        """Compare the view's committed snapshot with a batch aggregate of
        the events in the batches it has folded. Returns (events in
        wrong groups, state rows, snapshot versions)."""
        from ex_hivent_spark.sources import versioned

        history = versioned.history(ctx.spark, view.view_dir)
        fenced = int(history[0]["note"].split(":", 1)[1].split("@", 1)[0])
        folded = {int(os.path.basename(p)[5:10])
                  for p, b in sparkio.source_files(chk).items() if b <= fenced}
        rows = np.flatnonzero(np.isin(self.ev.file_of, list(folded)))
        want: dict[int, tuple[int, int]] = {}
        for u, c in zip(self.ev.user_id[rows].tolist(), self.ev.cents[rows].tolist()):
            n, s = want.get(u, (0, 0))
            want[u] = (n + 1, s + c)
        got = {
            r["user_id"]: (r["n_rows"], int(Decimal(r["sum_value"]) * 100))
            for r in view.read().collect()
        }
        return wrong_events(want, got), len(got), len(history)


WORKLOADS = {
    "emit_live": EmitLive,
    "window_fold": WindowFold,
}
