"""SparkSession factory tuned for this engine.

Defaults chosen for correctness parity with the DuckDB oracle and for
scale-out behavior:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- UTC session timezone so parquet naive timestamps agree with DuckDB.
- ``spark.sql.legacy.parquet.nanosAsLong`` because the testdata `events`
  table stores TIMESTAMP(NANOS), which Spark's vectorized reader rejects;
  the catalog layer converts the raw nanos back to a timestamp column.
- Arrow enabled for any pandas interchange (LLM ops use vectorized paths).
- Spark's FileSystem-based checkpoint manager for every streaming query
  (``_STREAMING_CONFS``; docs/SCALE.md, Streaming).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ex_hivent_spark.catalog import _SESSION_CONFS
from ex_hivent_spark.config import setting, setting_integer

_AQE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Coalesce shuffle partitions to the advisory size instead of
    # preserving max parallelism: measured 33% suite speedup at
    # sf0.1/local[32] (scheduling overhead dominates 1 MB tasks),
    # and on a tuned cluster right-sized reducers are best practice
    # (parallelismFirst=true is Spark's regression-avoidance
    # default, not its recommendation).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
}

# A streaming query reads these from its Hadoop conf when it starts, for
# its offset, commit and source logs and its state store. Spark's
# default checkpoint manager renames through FileContext, which forks
# ``readlink`` per rename on a local FS without Hadoop's native library;
# the FileSystem-based one renames with ``FileSystem.rename``. Both
# create a checkpoint file atomically (docs/SCALE.md, Streaming).
_STREAMING_CONFS = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def ensure_streaming_confs(spark: SparkSession) -> None:
    """Apply the streaming confs to any session, before a query starts."""
    for key, value in _STREAMING_CONFS.items():
        spark.conf.set(key, value)


def get_session(
    app_name: str = "ex-hivent-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster the ``master``/resource configs come from
    spark-submit; everything set here is allocation-independent.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        # Static confs (master, driver memory) cannot change on a live
        # session, but every conf correctness depends on is runtime-settable
        # — apply those instead of silently returning a drifted session.
        confs = {**_AQE_CONFS, **_SESSION_CONFS, **_STREAMING_CONFS}
        if shuffle_partitions is not None:
            confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        for k, v in {**confs, **(extra_conf or {})}.items():
            active.conf.set(k, v)
        return active

    cpus = setting_integer("cpus")
    return (
        SparkSession.builder.appName(app_name)
        .master(master or setting("master") or f"local[{cpus}]")
        .config(
            map={
                **_AQE_CONFS,
                "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
                **_SESSION_CONFS,
                **_STREAMING_CONFS,
                "spark.ui.enabled": "false",
                "spark.driver.memory": setting("driver_memory", "8g"),
                **(extra_conf or {}),
            }
        )
        .getOrCreate()
    )
