"""The Hivent event envelope, re-expressed for Spark.

Reference model (lib/hivent/models/event.ex:25-33): an event is
``{name, payload, meta}`` with ``meta = {name, version, producer, cid,
uuid, key, created_at}``. Payload is schemaless (JSON object; string
keys after the wire round-trip — consumer_test.exs:24), so it is carried
as a JSON string column and parsed at the edge with ``from_json`` /
``get_json_object``.

Semantics implemented here (with reference citations):

- ``emit`` validation: ``version`` must be an integer
  (lib/hivent/emitter.ex:64, guard clause).
- enrichment: ``producer`` stamped from configured client id
  (emitter.ex:78-85); ``uuid``/``created_at`` assigned at ingestion and
  ``cid`` defaulted to a fresh uuid (test/support/channel_client.ex:146-154,
  lib/support/memory.ex:88-97).
- partition key: ``meta.key`` controls partition placement and "will be
  derived from the payload by default" (emitter.ex:53); consumers declare
  ``partition_count`` (consumer.ex:105; default 4, config/config.exs:8).
  Deterministic assignment = ``pmod(xxhash64(key), n)``.
- ``include?`` subset matching (lib/support/memory.ex:139-141): an event
  matches if the given meta AND payload key/value pairs are each a subset
  of the event's. NOTE the reference's payload arm is vacuous (unpinned
  ``match?`` pattern at memory.ex:68 always matches); we implement real
  subset matching — a documented deviation.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_PARTITION_COUNT = 4  # config/config.exs:8

META_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("version", T.IntegerType()),
        T.StructField("producer", T.StringType()),
        T.StructField("cid", T.StringType()),
        T.StructField("uuid", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("payload", T.StringType()),  # JSON
        T.StructField("meta", META_SCHEMA),
    ]
)

# The stored form of an emitted event: the envelope plus the partition
# id the emitter derived from its key.
INGRESS_SCHEMA = T.StructType(
    [*EVENT_SCHEMA.fields, T.StructField("partition_id", T.IntegerType())]
)


def validate_version(version: Any) -> int:
    """emit/3 guard: version must be an integer (emitter.ex:64)."""
    if isinstance(version, bool) or not isinstance(version, int):
        raise TypeError(f"meta.version must be an integer, got {version!r}")
    return version


def partition_id(key: Column, partition_count: int) -> Column:
    """Deterministic partition assignment for an event key:
    ``pmod(xxhash64(key), n)`` (server-side placement semantics of
    emitter.ex:53 / consumer.ex:105)."""
    return F.pmod(F.xxhash64(key), F.lit(partition_count))


def derived_key(key: Column, payload_json: Column) -> Column:
    """``meta.key`` defaulting: explicit key, else derived from the
    payload (emitter.ex:53 — "will be derived from payload by default")."""
    return F.coalesce(key, F.conv(F.abs(F.xxhash64(payload_json)).cast("string"), 10, 16))


def enrich(
    df: DataFrame,
    producer: str,
    partition_count: int = DEFAULT_PARTITION_COUNT,
) -> DataFrame:
    """Server-side ingestion enrichment as a pure projection: builds the
    full envelope struct with producer/uuid/created_at/cid defaults and
    the derived partition key + partition id.

    ``df`` has ``name``, ``payload`` and ``version`` columns. ``cid``,
    ``key``, ``uuid`` and ``created_at`` are taken from ``df``'s columns
    of those names when present, else generated here (``uuid()``, a
    payload-derived key, ``uuid()``, ``current_timestamp()``). With
    ``uuid`` and ``created_at`` stamped and every ``cid`` set, the
    projection re-evaluates to the same rows.

    Map-side only (no shuffle); pair with
    ``df.repartition(partition_count, "partition_id")`` when downstream
    per-partition processing needs co-location (consumer.ex:105).
    """
    cid = F.col("cid") if "cid" in df.columns else F.lit(None).cast("string")
    key = F.col("key") if "key" in df.columns else F.lit(None).cast("string")
    key_final = derived_key(key, F.col("payload"))
    uuid = F.col("uuid") if "uuid" in df.columns else F.expr("uuid()")
    created_at = (
        F.col("created_at") if "created_at" in df.columns else F.current_timestamp()
    )
    meta = F.struct(
        F.col("name"),
        F.col("version").cast("int").alias("version"),
        F.lit(producer).alias("producer"),
        F.coalesce(cid, F.expr("uuid()")).alias("cid"),
        uuid.alias("uuid"),
        key_final.alias("key"),
        created_at.alias("created_at"),
    )
    return df.select(
        F.col("name"),
        F.col("payload"),
        meta.alias("meta"),
        partition_id(key_final, partition_count).cast("int").alias("partition_id"),
    )


def _subset_conditions(
    payload: Mapping[str, Any] | None, meta: Mapping[str, Any] | None
) -> list[Column]:
    conds: list[Column] = []
    for k, v in (meta or {}).items():
        conds.append(F.col(f"meta.{k}") == F.lit(v))
    for k, v in (payload or {}).items():
        if isinstance(v, bool):
            conds.append(F.get_json_object("payload", f"$.{k}").cast("boolean") == F.lit(v))
        elif isinstance(v, (int, float)):
            conds.append(F.get_json_object("payload", f"$.{k}").cast("double") == F.lit(float(v)))
        else:
            conds.append(F.get_json_object("payload", f"$.{k}") == F.lit(v))
    return conds


def include_filter(
    df: DataFrame,
    payload: Mapping[str, Any] | None = None,
    meta: Mapping[str, Any] | None = None,
) -> DataFrame:
    """Events whose meta AND payload contain the given key/value subsets
    (Memory.include? semantics, memory.ex:139-141; real payload matching
    — documented deviation from the reference's vacuous match)."""
    out = df
    for cond in _subset_conditions(payload, meta):
        out = out.filter(cond)
    return out


def includes(
    df: DataFrame,
    payload: Mapping[str, Any] | None = None,
    meta: Mapping[str, Any] | None = None,
) -> bool:
    """Existence form of :func:`include_filter` (limit-1 probe, no full
    scan materialization)."""
    return bool(include_filter(df, payload, meta).limit(1).take(1))
