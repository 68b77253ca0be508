"""Streaming distribution-drift monitor: per-micro-batch PSI against a
committed baseline histogram — the online form of q_ts_psi_drift
(operators/drift.py).

The production loop this models: a reference window's value histogram
is committed once (model-training time, or a known-good week); every
micro-batch of the live stream is bucketed on the SAME fixed grid and
scored with the population stability index against that baseline; the
per-batch (batch_id, n, psi, drifted) rows land in a batch_id-keyed
sink the alerting layer tails. Fixed grid + add-one smoothing mean an
empty or skewed batch scores high PSI instead of dividing by zero.

Scale shape: the baseline is a ≤|buckets|-row snapshot re-read per
trigger (the enrich.py dimension-refresh pattern, so a re-committed
baseline is picked up mid-stream without a restart); the batch-side
work is one conditional aggregate to |buckets| rows, pinned with a
lazy localCheckpoint so the live data is scanned ONCE per trigger
(the bucket aggregate feeds both the join and the nb total); the PSI
fold happens on that tiny frame. State: NONE — each batch is scored
independently, so there is no watermark, no state store, and replay
is handled by the batch-keyed idempotent overwrite of
``sinks.write_batch`` (route()'s effectively-once sink discipline).

Baseline commits are ATOMIC: write_baseline publishes the histogram
through the versioned-table pointer commit (sources/versioned.py —
snapshot dir write, then a tmp-write + rename of the _VERSION
pointer), so a re-commit racing a trigger can never expose a
partially-written histogram; per-trigger reads resolve the pointer
and always see a complete snapshot (old or new, never a torn one).

Determinism: identical to the batch twin — integer counts, exact
smoothed-ratio divisions, one e6-rounded ln per bucket, decimal-summed
terms — so a batch scored online and the same rows scored by the batch
operator produce the SAME psi (asserted by the parity test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ex_hivent_spark.functions.decimals import dround
from ex_hivent_spark.sources.sinks import write_batch

DEFAULT_WIDTH = 50.0
DEFAULT_BUCKETS = 10


def _bucket(col, width: float, n_buckets: int):
    return F.least(
        F.floor(col / F.lit(width)).cast("bigint"),
        F.lit(n_buckets - 1).cast("bigint"),
    )


def write_baseline(
    df: DataFrame,
    value_col: str,
    path: str,
    width: float = DEFAULT_WIDTH,
    n_buckets: int = DEFAULT_BUCKETS,
) -> int:
    """Commit the reference histogram: (bucket, cnt) over the fixed
    grid. One hash aggregate over the reference window; the artifact
    is ≤ n_buckets rows regardless of input size.

    The commit goes through the versioned-table pointer protocol
    (sources/versioned.py): the snapshot directory is fully written
    BEFORE the _VERSION pointer flips, so a concurrent per-trigger
    read never sees a partial histogram — a plain mode('overwrite')
    parquet write would first delete the old files and leave a window
    where a racing trigger reads nothing or a torn file set. Returns
    the committed version."""
    from ex_hivent_spark.sources import versioned

    hist = (
        df.select(_bucket(F.col(value_col), width, n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return versioned.write_snapshot(
        df.sparkSession, hist, path, note=f"psi baseline {value_col}"
    )


def read_baseline(spark: SparkSession, path: str) -> DataFrame:
    """Resolve the CURRENT committed baseline snapshot (never a torn
    or in-flight one)."""
    from ex_hivent_spark.sources import versioned

    return versioned.read_snapshot(spark, path).select("bucket", "cnt")


def psi_of(
    batch_df: DataFrame,
    baseline: DataFrame,
    value_col: str,
    width: float = DEFAULT_WIDTH,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Score ONE frame against the baseline histogram; returns a 1-row
    (n_events, psi) frame. Shared by the streaming monitor and any
    ad-hoc batch caller, so online and offline scores agree bit-exactly.

    The full-outer join keeps buckets that only one side populated —
    with add-one smoothing those still contribute drift mass (a batch
    concentrated in a bucket the baseline never saw is exactly the
    signal PSI exists to raise). No broadcast hint on it: Spark
    ignores broadcast hints on full_outer joins (neither side can be
    the build side for both outer directions), and both inputs are
    ≤ n_buckets rows anyway. Both the bucket aggregate and the
    baseline read are pinned with lazy localCheckpoints so each is
    evaluated ONCE even though each feeds two consumers (the join and
    its own total) — the batch side in particular must not re-scan
    the live data per trigger."""
    counts = (
        batch_df.select(
            _bucket(F.col(value_col), width, n_buckets).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("bcnt"))
        .localCheckpoint(eager=False)
    )
    baseline = baseline.localCheckpoint(eager=False)
    merged = (
        counts.join(baseline, "bucket", "full_outer")
        .select(
            F.coalesce(F.col("bcnt"), F.lit(0)).alias("bcnt"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
        .crossJoin(
            F.broadcast(
                counts.agg(
                    F.coalesce(F.sum("bcnt"), F.lit(0)).alias("nb")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                baseline.agg(
                    F.coalesce(F.sum("cnt"), F.lit(0)).alias("na")
                )
            )
        )
    )
    pb = (F.col("bcnt") + 1).cast("double") / (F.col("nb") + n_buckets)
    pa = (F.col("cnt") + 1).cast("double") / (F.col("na") + n_buckets)
    term = (pb - pa) * dround(F.log(pb / pa), 6)
    return merged.select(
        "nb", term.alias("term")
    ).agg(
        F.any_value("nb").alias("n_events"),
        F.sum(F.col("term").cast("decimal(25,6)"))
        .cast("double")
        .alias("psi"),
    )


def psi_monitor(
    spark: SparkSession,
    stream_df: DataFrame,
    baseline_path: str,
    value_col: str,
    out_dir: str,
    checkpoint_dir: str,
    width: float = DEFAULT_WIDTH,
    n_buckets: int = DEFAULT_BUCKETS,
    threshold: float = 0.25,
) -> StreamingQuery:
    """Start (and return) the monitor: each micro-batch is PSI-scored
    against the CURRENT committed baseline and one
    (batch_id, n_events, psi, drifted) row lands in ``out_dir`` through
    ``sinks.write_batch`` (idempotent overwrite on replay)."""

    def score(batch_df: DataFrame, batch_id: int) -> None:
        baseline = read_baseline(spark, baseline_path)
        row = psi_of(
            batch_df, baseline, value_col, width, n_buckets
        ).collect()[0]
        scored = spark.createDataFrame(
            [
                (
                    batch_id,
                    row["n_events"],
                    row["psi"],
                    bool(row["psi"] is not None and row["psi"] > threshold),
                )
            ],
            "batch_id bigint, n_events bigint, psi double, drifted boolean",
        )
        write_batch(scored, out_dir, batch_id)

    return (
        stream_df.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
