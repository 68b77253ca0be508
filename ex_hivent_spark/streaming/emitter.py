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
once per emit, so the enriched frame is deterministic and reading the
ack re-evaluates to the rows in the file.

An emit runs no Spark job. The enriched frame is a projection over a
local relation (the Arrow table, while it stays under
``spark.sql.execution.arrow.localRelationThreshold``), so collecting
its two derived columns, ``meta.key`` and ``partition_id``, is
evaluated on the driver by Spark's own ``xxhash64``. The file is then
encoded with pyarrow and written through the Hadoop FileSystem under a
hidden name, which the file source does not list, and renamed into
place.

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
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ex_hivent_spark.envelope import (
    DEFAULT_PARTITION_COUNT,
    INGRESS_SCHEMA,
    enrich,
    validate_version,
)
from ex_hivent_spark.fsutil import hadoop_fs, write_file


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

_INGRESS_ARROW = to_arrow_schema(INGRESS_SCHEMA)


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
        enriched = enrich(
            self.spark.createDataFrame(table), self.producer, self.partition_count
        )
        if events:
            derived = enriched.select("meta.key", "partition_id").collect()
            self._append(self._stored(table, derived))
        return enriched

    def _stored(self, table: pa.Table, derived: list) -> pa.Table:
        """The stamped events with their derived ``meta.key`` and
        ``partition_id``, laid out as ``INGRESS_SCHEMA``."""
        col = {name: table.column(name).combine_chunks() for name in table.column_names}
        meta = pa.StructArray.from_arrays(
            [
                col["name"],
                col["version"],
                pa.array([self.producer] * table.num_rows, pa.string()),
                col["cid"],
                col["uuid"],
                pa.array([r.key for r in derived], pa.string()),
                col["created_at"],
            ],
            fields=list(_INGRESS_ARROW.field("meta").type),
        )
        return pa.Table.from_arrays(
            [
                col["name"],
                col["payload"],
                meta,
                pa.array([r.partition_id for r in derived], pa.int32()),
            ],
            schema=_INGRESS_ARROW,
        )

    def _append(self, table: pa.Table) -> None:
        """Write ``table`` as one parquet file in the ingress directory:
        under a hidden ``.<name>.tmp`` first, which the file source does
        not list, then renamed to ``part-<uuid>.parquet``."""
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = f"{self.ingress_dir}/.{name}.tmp"
        write_file(self.spark, tmp, buf.getvalue().to_pybytes())
        fs, Path = hadoop_fs(self.spark)
        if not fs.rename(Path(tmp), Path(f"{self.ingress_dir}/{name}")):
            raise IOError(f"could not publish {tmp} in {self.ingress_dir}")
