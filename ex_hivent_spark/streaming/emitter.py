"""Streaming emitter: the producer path (Hivent.emit, R1) on Spark.

The reference emits one event at a time over a WebSocket and gets a
synchronous ack of the enriched event (emitter.ex:63-68, 96-100;
channel_client push_and_receive). On Spark the ingress is a directory
(or any streaming source) that consumers ``readStream`` from: ``emit``
enriches a batch of events (same projection as the server-side
enrichment, envelope.py) and appends it as ONE parquet file, so one emit
is one consumer micro-batch under ``maxFilesPerTrigger=1``.

The returned DataFrame is the ack, and it is exactly the stored rows:
``uuid``, the ``cid`` default and ``created_at`` are stamped in Python
once per emit, so the written frame is deterministic and reading the
ack re-evaluates to the rows in the file. The write is the emit's
only Spark job.

At scale the source directory becomes a Kafka topic / cloud-storage
prefix — the enrichment projection and partition-key derivation are
identical; only the sink format string changes.
"""

from __future__ import annotations

import json
import uuid
from datetime import datetime, timezone
from typing import Any, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ex_hivent_spark.envelope import (
    DEFAULT_PARTITION_COUNT,
    enrich,
    validate_version,
)


# The events of one emit, with their stamps, as an Arrow table.
_STAMPED_SCHEMA = pa.schema(
    [
        ("name", pa.string()),
        ("payload", pa.string()),
        ("version", pa.int32()),
        ("cid", pa.string()),
        ("uuid", pa.string()),
        ("key", pa.string()),
        ("created_at", pa.timestamp("us", tz="UTC")),
    ]
)


def _or_uuid(cid: str | None) -> str:
    """The ``cid`` default: a fresh uuid when the caller gave none."""
    return str(uuid.uuid4()) if cid is None else cid


class StreamEmitter:
    """Appends enriched event envelopes to an ingress directory."""

    def __init__(
        self,
        spark: SparkSession,
        ingress_dir: str,
        producer: str,
        partition_count: int = DEFAULT_PARTITION_COUNT,
    ):
        self.spark = spark
        self.ingress_dir = ingress_dir
        self.producer = producer
        self.partition_count = partition_count

    def emit(
        self,
        name: str,
        payload: Mapping[str, Any],
        version: int,
        cid: str | None = None,
        key: str | None = None,
    ) -> DataFrame:
        """Single-event convenience emit (validates version like
        emitter.ex:64); returns the enriched ack row(s)."""
        return self.emit_batch(
            [
                {
                    "name": name,
                    "payload": json.dumps(payload, sort_keys=True),
                    "version": version,
                    "cid": cid,
                    "key": key,
                }
            ]
        )

    def emit_batch(self, events: Sequence[Mapping[str, Any]]) -> DataFrame:
        """Batch emit: enrich + append one file to the ingress dir; the
        returned DataFrame is the ack and equals the stored rows. Every
        version is validated before anything is written, and an empty
        batch writes nothing and returns an empty ack."""
        created_at = datetime.now(timezone.utc)
        table = pa.Table.from_pydict(
            {
                "name": [e["name"] for e in events],
                "payload": [e["payload"] for e in events],
                "version": [validate_version(e["version"]) for e in events],
                "cid": [_or_uuid(e.get("cid")) for e in events],
                "uuid": [str(uuid.uuid4()) for _ in events],
                "key": [e.get("key") for e in events],
                "created_at": [created_at] * len(events),
            },
            schema=_STAMPED_SCHEMA,
        )
        # An Arrow table becomes one partition per record batch, decoded
        # in the JVM; coalesce(1) keeps an emit past one batch one file.
        enriched = enrich(
            self.spark.createDataFrame(table).coalesce(1),
            self.producer,
            self.partition_count,
        )
        if events:
            enriched.write.mode("append").parquet(self.ingress_dir)
        return enriched
