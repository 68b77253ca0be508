"""Event sources beyond parquet: JSON / CSV / ORC batch readers with the
envelope or events-table schema. The streaming ingress is read by
``streaming.consumer.route``.

The reference's wire format is JSON → MessagePack → gzip
(message_pack_serializer.ex:10-33) — transport, not semantics; at rest
the engine reads JSON lines directly (Spark decompresses .gz
transparently, which subsumes the >1KB gzip threshold idea). All
readers take explicit schemas: schema inference is a full extra pass at
100 TB and non-deterministic under schema drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ex_hivent_spark.envelope import EVENT_SCHEMA

EVENTS_TABLE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_json(spark: SparkSession, path: str) -> DataFrame:
    """Batch JSON-lines reader for envelope events (explicit schema;
    .json or .json.gz)."""
    return spark.read.schema(EVENT_SCHEMA).json(path)


def read_events_csv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """Batch CSV reader for the flat events-table shape."""
    return (
        spark.read.schema(EVENTS_TABLE_SCHEMA)
        .option("header", str(header).lower())
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(path)
    )


CORRUPT_COL = "_corrupt_record"


def read_events_json_permissive(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """JSON reader with source-level quarantine: PERMISSIVE parsing
    keeps malformed lines in a corrupt-record column instead of failing
    the job (FAILFAST) or silently dropping rows (DROPMALFORMED) — the
    batch-source twin of the consumer's process-callback quarantine
    (consumer.ex:98-100). Returns (ok, quarantined).

    At 100 TB a single bad producer line must never kill a pipeline or
    vanish unaccounted; the quarantine side keeps the raw line for
    redrive after the producer is fixed.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [*EVENT_SCHEMA.fields, T.StructField(CORRUPT_COL, T.StringType())]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        # Spark requires a checkpoint/cache boundary before filtering on
        # the corrupt column (the parser is lazy per-column otherwise)
        .cache()
    )
    ok = parsed.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantined = parsed.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return ok, quarantined


def read_events_orc(spark: SparkSession, path: str) -> DataFrame:
    """Batch ORC reader for the events table (explicit schema — same
    no-inference rule as the JSON/CSV readers). ORC is the second
    columnar at-rest format warehouses commonly hand us besides
    parquet; Spark's native reader gives predicate pushdown and column
    pruning on it just like parquet, so downstream plans are format-
    agnostic."""
    return spark.read.schema(EVENTS_TABLE_SCHEMA).orc(path)


def write_events_orc(df: DataFrame, path: str, codec: str = "zlib") -> None:
    """ORC writer twin (zlib default — ORC's widest-compatibility
    codec; snappy/zstd accepted)."""
    df.write.mode("overwrite").option("compression", codec).orc(path)
