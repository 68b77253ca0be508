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
- dispatch: one query serves every subscription. The tagging (topic
  match, ``queue``, ``error``, ``quarantined_at``) is part of the
  stream's plan, and each micro-batch is ONE write, published onto
  every subscription's ok and quarantine sinks by rename
  (``sinks.write_batches``).
- delivery: the reference is at-least-once with no success ack
  (consumer.ex:75-77); checkpointed ``foreachBatch`` with batch-keyed
  sinks upgrades sink writes to effectively-once — documented deviation
  (SURVEY.md §3.2).
- restart: bounded reconnect attempts with linearly growing backoff
  (consumer.ex:110-127, emitter.ex:113-139) → ``run_with_restarts``.
- checkpoint I/O: per micro-batch the query writes an offset, a commit
  and a source-log file under its checkpoint, through Spark's
  FileSystem-based checkpoint manager, which route() sets on the
  session it is given (``session.ensure_streaming_confs``).

Processing supports two callback shapes:
- an *expression* (Column → error-message-or-null): the fast path, stays
  in codegen — use whenever the check is expressible;
- a *Python callable* ``(event_dict) -> None | str``: the literal
  ``process/1`` semantics, applied via a UDF (the slow path, as in the
  reference where every event crosses into user code).

Either is evaluated once per row of the one write, so a callable sees
each event of a batch once; a replayed batch runs it again, as the
reference's redelivery would.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ex_hivent_spark.envelope import DEFAULT_PARTITION_COUNT, INGRESS_SCHEMA
from ex_hivent_spark.session import ensure_streaming_confs
from ex_hivent_spark.sources.sinks import write_batches

# route()'s trigger interval. With the default trigger an idle query
# re-lists the ingress directory every 10 ms: an idle 3-subscription
# route() used 0.2-0.4 CPU-s per second on a 4-vCPU host, and about
# 0.03 CPU-s/s at 250 ms, for at most 250 ms of added latency.
ROUTE_TRIGGER = "250 milliseconds"

# Column naming the sink a tagged row goes to (its index in route()'s
# sink list).
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

    ``process`` runs once per event of a batch: route() writes each
    batch once. Ok rows go to ``processed_dir`` and quarantined rows to
    ``quarantine_dir``; both hold the same columns, with ``error`` and
    ``quarantined_at`` null on an ok row."""

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


def _tagged(events: DataFrame, subscriptions: list[Subscription]) -> DataFrame:
    """Every event tagged for route()'s one write.

    Each row is exploded to the subscriptions whose topic it matches
    (unclaimed topics drop out) and gets its ``queue``, its ``error``
    (null when processing succeeded) and ``quarantined_at`` (null for
    an ok row). ``_sub`` is the index of the row's sink in route()'s
    sink list: ``i`` for an ok row of subscription ``i`` and ``N + i``
    for a quarantined one, with ``N`` subscriptions.

    When any subscription has a Python callable the events are first
    repartitioned by ``meta.key``: one emit is one ingress file, read
    as one task, and a costly callback would otherwise run serially in
    it. On a stream, ``current_timestamp()`` is the batch time kept in
    the offset log, so a replayed batch stamps the same
    ``quarantined_at``."""
    n = len(subscriptions)
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
    udf_tasks = max(
        (s.partition_count for s in subscriptions if not isinstance(s.process, Column)),
        default=0,
    )
    if udf_tasks:
        events = events.repartition(udf_tasks, "meta.key")
    failed = F.col("error").isNotNull()
    return (
        events.withColumn(_SUB, F.explode(F.filter(tags, lambda t: t.isNotNull())))
        .withColumn("queue", queue)
        .withColumn("error", _error_column(subscriptions))
        .withColumn(_SUB, F.when(failed, F.col(_SUB) + n).otherwise(F.col(_SUB)))
        .withColumn("quarantined_at", F.when(failed, F.current_timestamp()))
    )


def _counts(subscriptions: list[Subscription]) -> list[Column]:
    """Ok and quarantined rows of a tagged batch, per service, named
    ``<service>.ok`` and ``<service>.quarantine``."""
    n = len(subscriptions)
    subs_of: dict[str, list[int]] = {}
    for i, s in enumerate(subscriptions):
        subs_of.setdefault(s.service, []).append(i)
    counts = []
    for service, subs in subs_of.items():
        counts.append(F.count_if(F.col(_SUB).isin(subs)).alias(f"{service}.ok"))
        counts.append(
            F.count_if(F.col(_SUB).isin([n + i for i in subs]))
            .alias(f"{service}.quarantine")
        )
    return counts


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

    The stream is tagged (see ``_tagged``) and observed as ``route``:
    each progress report's ``observedMetrics`` holds every service's ok
    and quarantine counts, taken in the same pass. Per micro-batch (one
    ingress file, ``maxFilesPerTrigger=1``) the foreachBatch body is
    one write for all subscriptions together, partitioned by ``_sub``
    and staged under ``<checkpoint_dir>/staging``; each slice is then
    published onto its subscription's ``processed_dir`` or
    ``quarantine_dir`` by rename (``sinks.write_batches``). The write
    runs in the foreachBatch thread, so every job runs under the
    query's job group and a ``stop()`` reaches it.

    A replayed batch publishes its directories again instead of
    appending duplicates, which upgrades the source's at-least-once
    delivery to effectively-once sink contents, per subscription. All
    subscriptions advance on the shared checkpoint: one source offset
    log, N logical consumers, per-topic quarantine isolation. The query
    triggers every ``ROUTE_TRIGGER`` instead of polling the ingress
    directory continuously."""
    sinks = [s.processed_dir for s in subscriptions] + [
        s.quarantine_dir for s in subscriptions
    ]
    staging_dir = f"{checkpoint_dir}/staging"

    def write(batch: DataFrame, batch_id: int) -> None:
        write_batches(batch, sinks, _SUB, staging_dir, batch_id)

    ensure_streaming_confs(spark)
    events = (
        spark.readStream.schema(INGRESS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        _tagged(events, subscriptions)
        .observe("route", *_counts(subscriptions))
        .writeStream.foreachBatch(write)
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
