"""Streaming consumer: topic subscription + per-event processing +
quarantine, on Structured Streaming.

Reference lifecycle (lib/hivent/consumer.ex):
- subscribe: join channel ``event:<topic>`` with ``partition_count``
  (consumer.ex:105-107) → here: ``readStream`` + a topic match per
  subscription. Rows already carry the emitter's ``partition_id``
  (``pmod(xxhash64(meta.key), n)``), so the partition claim is read from
  the row, not re-derived with a shuffle. Only Python-callable
  subscriptions shuffle, by ``meta.key``, to spread the callback over
  tasks.
- process: user ``process/1`` callback per event (consumer.ex:25, 68-81);
  ``:ok`` → done, ``{:error, reason}`` → quarantine the ``{event, queue}``
  pair (consumer.ex:98-100).
- consumer identity: ``service`` is the consumer group → one streaming
  query + checkpoint dir per service; queue name = ``service:partition``
  (the (service, partition) claim of the Redis backend).
- dispatch: one query serves every subscription; each micro-batch is
  one ok write and one quarantine write, each published onto every
  subscription's own sink by rename (``sinks.write_batches``).
- delivery: the reference is at-least-once with no success ack
  (consumer.ex:75-77); checkpointed ``foreachBatch`` with batch-keyed
  sinks upgrades sink writes to effectively-once — documented deviation
  (SURVEY.md §3.2).
- restart: bounded reconnect attempts with linearly growing backoff
  (consumer.ex:110-127, emitter.ex:113-139) → ``run_with_restarts``.

Processing supports two callback shapes:
- an *expression* (Column → error-message-or-null): the fast path, stays
  in codegen — use whenever the check is expressible. It is evaluated
  in each of the two writes, so it must be deterministic;
- a *Python callable* ``(event_dict) -> None | str``: the literal
  ``process/1`` semantics, applied via a UDF (the slow path, as in the
  reference where every event crosses into user code). The batch is
  materialized once, so the callable sees each event exactly once.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ex_hivent_spark.envelope import DEFAULT_PARTITION_COUNT, EVENT_SCHEMA
from ex_hivent_spark.sources.sinks import write_batches

INGRESS_SCHEMA = T.StructType(
    [*EVENT_SCHEMA.fields, T.StructField("partition_id", T.IntegerType())]
)

# route()'s trigger interval. With the default trigger an idle query
# re-lists the ingress directory every 10 ms: an idle 3-subscription
# route() used 0.2-0.4 CPU-s per second on a 4-vCPU host, and about
# 0.03 CPU-s/s at 250 ms, for at most 250 ms of added latency.
ROUTE_TRIGGER = "250 milliseconds"

# Column naming the subscription a tagged row belongs to (its index).
_SUB = "_sub"

ProcessFn = Callable[[Mapping[str, Any]], "None | str"]


@dataclass
class Subscription:
    """One subscriber's slice of a multiplexed stream: the topic
    filter + process callback + its own sinks (the per-subscription
    {matcher, mapper, callback} triple of the reference's channel
    client, lib/hivent/phoenix/channel_client.ex:363-390).

    The queue name reads the ``partition_id`` the emitter stamped from
    the key hash, so ``partition_count`` does not shuffle an expression
    subscription. For a Python-callable ``process`` it is the number of
    tasks the callback runs in: the batch is repartitioned by
    ``meta.key`` first, so each key's events stay in one task.

    A callable runs once per event: route() materializes the batch
    before writing it. A ``process`` expression is not materialized; it
    is evaluated once per write, so it must give the same answer each
    time it is evaluated on a row (no ``rand()``, no clock)."""

    service: str
    topic: str
    process: "Column | ProcessFn"
    processed_dir: str
    quarantine_dir: str
    partition_count: int = DEFAULT_PARTITION_COUNT


def _callable_column(callables: Mapping[int, ProcessFn]) -> Column:
    """ONE UDF for every Python-callable subscription, dispatching on the
    row's subscription tag. PySpark evaluates a Python UDF on every row
    even inside a CASE branch, so a UDF per subscription would hand each
    callable the other topics' events; dispatching here means each
    ``process`` sees only its own rows."""

    @F.udf("string")
    def _proc_udf(sub, name, payload, version, uuid):
        process = callables.get(sub)
        if process is None:
            return None
        try:
            result = process(
                {"name": name, "payload": payload, "version": version, "uuid": uuid}
            )
            return None if result is None else str(result)
        except Exception as ex:  # the reference quarantines on {:error, _}
            return str(ex)

    return _proc_udf(_SUB, "name", "payload", "meta.version", "meta.uuid")


def _error_column(subscriptions: list[Subscription]) -> Column:
    """Error-message-or-null of a tagged row: its subscription's process
    expression, or the shared callable UDF's result."""
    callables = {
        i: s.process
        for i, s in enumerate(subscriptions)
        if not isinstance(s.process, Column)
    }
    udf_error = _callable_column(callables) if callables else None
    error = None
    for i, sub in enumerate(subscriptions):
        branch = udf_error if i in callables else sub.process
        cond = F.col(_SUB) == F.lit(i)
        error = F.when(cond, branch) if error is None else error.when(cond, branch)
    return error


def _batch_handler(
    subscriptions: list[Subscription], staging_dir: str
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body: two writes per micro-batch, whatever the
    number of subscriptions.

    Each row is exploded to the subscriptions whose topic it matches
    (unclaimed topics drop out) and tagged with its subscription's
    index, ``queue`` and ``error``. The ok rows are then written in one
    write and the quarantined rows in another, each partitioned by the
    tag, and ``sinks.write_batches`` publishes every subscription's
    slice onto its own ``processed_dir`` or ``quarantine_dir`` by
    rename. Two writes, not one, because the two outcomes have different
    columns. Both run serially in the foreachBatch thread, so every job
    runs under the query's job group and a ``stop()`` reaches it.

    An expression ``process`` is evaluated once per write; a row lands
    in one outcome because an expression gives the same answer each
    time. When any subscription has a Python callable the tagged batch
    is instead materialized once (``localCheckpoint``), so a callable
    sees each row exactly once. It is first repartitioned by
    ``meta.key``: one emit is one ingress file, read as one task, and a
    costly callback would otherwise run serially in it.

    A replayed batch publishes its directories again instead of
    appending duplicates, which upgrades the source's at-least-once
    delivery to effectively-once sink contents, per subscription."""
    tags = F.array(
        *[
            F.when(F.col("name") == F.lit(s.topic), F.lit(i))
            for i, s in enumerate(subscriptions)
        ]
    )
    services = F.array(*[F.lit(s.service) for s in subscriptions])
    queue = F.concat_ws(
        ":",
        F.element_at(services, F.col(_SUB) + 1),
        F.col("partition_id").cast("string"),
    )
    error = _error_column(subscriptions)
    udf_tasks = max(
        (s.partition_count for s in subscriptions if not isinstance(s.process, Column)),
        default=0,
    )
    ok_dirs = [s.processed_dir for s in subscriptions]
    bad_dirs = [s.quarantine_dir for s in subscriptions]

    def handle(batch: DataFrame, batch_id: int) -> None:
        if udf_tasks:
            batch = batch.repartition(udf_tasks, "meta.key")
        tagged = (
            batch.withColumn(_SUB, F.explode(F.filter(tags, lambda t: t.isNotNull())))
            .withColumn("queue", queue)
            .withColumn("error", error)
        )
        if udf_tasks:
            tagged = tagged.localCheckpoint(eager=True)
        ok = tagged.filter(F.col("error").isNull()).drop("error")
        bad = tagged.filter(F.col("error").isNotNull()).withColumn(
            "quarantined_at", F.current_timestamp()
        )
        write_batches([(ok, ok_dirs), (bad, bad_dirs)], _SUB, staging_dir, batch_id)

    return handle


def route(
    spark: SparkSession,
    source_dir: str,
    subscriptions: list[Subscription],
    checkpoint_dir: str,
) -> StreamingQuery:
    """One-pass multi-subscriber dispatch: ONE readStream feeds every
    subscription through a single foreachBatch — the reference's single
    socket fanning out to N subscribers (channel_client.ex:363-390,
    each with its own matcher + callback), where N separate queries
    would re-read the source N times.

    Per micro-batch (one ingress file, ``maxFilesPerTrigger=1``): an ok
    write and a quarantine write for all subscriptions together, staged
    under ``<checkpoint_dir>/staging`` and published to each
    subscription's sinks by rename (see ``_batch_handler``). With a
    Python-callable subscription, a materialization of the tagged batch
    comes first. All subscriptions advance on the shared checkpoint:
    one source offset log, N logical consumers, per-topic quarantine
    isolation. The query triggers every ``ROUTE_TRIGGER`` instead of
    polling the ingress directory continuously."""
    return (
        spark.readStream.schema(INGRESS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(
            _batch_handler(subscriptions, f"{checkpoint_dir}/staging")
        )
        .trigger(processingTime=ROUTE_TRIGGER)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_with_restarts(
    start_query: Callable[[], StreamingQuery],
    max_tries: int = 3,
    backoff_s: float = 1.0,
) -> StreamingQuery:
    """Bounded-restart supervisor for a streaming query: on failure to
    start (the reference's failed connect) or a failed run, retry after
    a linearly growing delay; give up (re-raise) after
    ``max_tries`` (emitter.ex:113-139 — including its linear
    ``timer += backoff`` growth; the reference's off-by-one ``<=`` that
    admits an extra attempt is NOT reproduced). Recovery is from the
    query's checkpoint, so no data is lost or reprocessed into sinks."""
    attempt = 0
    while True:
        try:
            query = start_query()
            query.awaitTermination()
            return query
        except Exception:
            attempt += 1
            if attempt >= max_tries:
                raise
            time.sleep(backoff_s * attempt)
