"""Lakehouse maintenance planning + mergeable sketch ops — the two
capability classes the r12 verdict called thin (task 8): a small-file
COMPACTION/OPTIMIZE planner as a registered query, and a
space-saving-style bounded top-k summary (the streaming-compatible
heavy-hitters twin to the exact q_agg_heavy_hitters).

q_maint_compaction_bins — a small-file compaction PLAN as an
oracle-checkable query (the program has no compaction executor; a
rewrite job is a write with no query surface): model a daily-partitioned
streaming sink's micro-batch files (one per (day, event_type) cell of
the events table, the natural append grain), then pack each day's
ordered file listing into target-size bins by BYTE OFFSET — a file
belongs to the bin its start offset falls in, exactly Spark's
FilePartition / parquet split-by-offset model (deterministic and
prefix-sum expressible, where first-fit bin-close packing would need
sequential state both engines can't share). The output is the per-bin
rewrite manifest an OPTIMIZE job would execute.

q_agg_spacesaving_topk — a deterministic, MERGEABLE bounded top-k
summary: per deterministic block (l_orderkey DIV block-size — the
stand-in for a partition/executor-local combiner), keep only the
top-M (count, key) entries; the merge then knows, for any candidate
key, an exact lower bound (sum of kept counts) and an upper bound
(lower + Σ of the per-block kept-minimum over blocks whose summary
dropped the key — a dropped key's block count can't exceed the M-th
kept count there). This is the Space-Saving/Misra-Gries guarantee
re-expressed so BOTH engines can replay it bit-for-bit: true
Space-Saving's counter state is order-dependent and unmergeable
across engines, while per-block exact-top-M summaries + bound
arithmetic are pure relational algebra with the same ε·N-style error
envelope. All-integer output; no rounding anywhere.

Scale shape: both ops aggregate to a tiny summary grain (day×type
cells; block×M entries) with map-side partial combine, then window /
re-aggregate on that summary — event/lineitem volume touches only the
first hash aggregate. The top-20 pick is TakeOrdered (orderBy+limit),
never a global row_number window.

Reference parity note: the reference engine (an Elixir event-transport
client, SURVEY.md §0) has no analytics surface; these derive from the
driver's analytics mandate, Spark's own file-split packing model, and
the frequent-items literature (Metwally et al. 2005 Space-Saving;
Misra–Gries 1982; Agarwal et al. 2013 mergeable summaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ex_hivent_spark.catalog import load_table
from ex_hivent_spark.functions.decimals import dround
from ex_hivent_spark.plans.registry import register

# Compaction model: estimated bytes per event row in the micro-batch
# files, and the target compacted-bin size. 8 KiB targets keep the
# plan multi-bin at every test SF; a production OPTIMIZE would pass
# ~128 MiB with the identical plan shape.
_ROW_BYTES = 64
_BIN_BYTES = 8192

# Space-saving summary: deterministic block width (orderkey units) and
# kept entries per block summary.
_SS_BLOCK = 2048
_SS_M = 48
_SS_TOPK = 20


@register(
    "q_maint_compaction_bins",
    oracle=f"""
    WITH files AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) * {_ROW_BYTES} AS BIGINT) AS size_bytes
      FROM events GROUP BY 1, 2
    ),
    off AS (
      SELECT day, event_type, n_rows, size_bytes,
             CAST(coalesce(sum(size_bytes) OVER (
                    PARTITION BY day ORDER BY event_type
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS start_off
      FROM files
    )
    SELECT day, start_off // {_BIN_BYTES} AS bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(size_bytes) AS BIGINT) AS bin_bytes
    FROM off
    GROUP BY day, start_off // {_BIN_BYTES}
    """,
)
def q_maint_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan for a daily-partitioned events sink:
    one micro-batch file per (day, event_type), each day's listing
    packed into ~8 KiB bins by start-offset (the Spark
    FilePartition/parquet-split model — deterministic, unlike
    first-fit bin-closing, which needs sequential state). Output: the
    per-(day, bin) rewrite manifest — file count, rows, bytes — that
    a compaction job would execute per bin.

    Plan: one partial-aggregated hash aggregate to the day×type file
    grain, a day-partitioned prefix sum over ≤|event_types| rows per
    partition (bounded window — never global), one closing aggregate
    on the bin grain. At 100 TB, the event scan is the only
    full-volume stage; everything after runs on the file-manifest
    grain (|days|×|types| rows). All-integer arithmetic.

    Determinism note (r13 ADVICE): the day grain is F.to_date("ts")
    vs the oracle's naive CAST(ts AS DATE); parity rests on the
    session-wide spark.sql.session.timeZone=UTC pin in session.py —
    the same dependency every other day-grain op carries (e.g.
    aggregates.py bitmap rollup)."""
    e = load_table(spark, sf_dir, "events")
    files = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).select(
        "day",
        "event_type",
        "n_rows",
        (F.col("n_rows") * _ROW_BYTES).cast("bigint").alias("size_bytes"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("event_type")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = files.withColumn(
        "start_off",
        F.coalesce(F.sum("size_bytes").over(w), F.lit(0)).cast("bigint"),
    )
    return (
        off.groupBy(
            "day", F.expr(f"start_off DIV {_BIN_BYTES}").alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("size_bytes").cast("bigint").alias("bin_bytes"),
        )
    )


@register(
    "q_agg_spacesaving_topk",
    oracle=f"""
    WITH blk AS (
      SELECT l_orderkey // {_SS_BLOCK} AS blk, l_partkey,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    rk AS (
      SELECT blk, l_partkey, c,
             row_number() OVER (PARTITION BY blk
                                ORDER BY c DESC, l_partkey) AS rn,
             CAST(count(*) OVER (PARTITION BY blk) AS BIGINT) AS n_keys
      FROM blk
    ),
    kept AS (SELECT * FROM rk WHERE rn <= {_SS_M}),
    thr AS (
      SELECT blk,
             CASE WHEN max(n_keys) > {_SS_M}
                  THEN min(c) ELSE CAST(0 AS BIGINT) END AS t_b
      FROM kept GROUP BY blk
    ),
    tot AS (SELECT CAST(sum(t_b) AS BIGINT) AS t_all FROM thr),
    merged AS (
      SELECT k.l_partkey,
             CAST(sum(k.c) AS BIGINT) AS n_min,
             CAST(sum(t.t_b) AS BIGINT) AS covered,
             CAST(count(*) AS BIGINT) AS n_blocks_kept
      FROM kept k JOIN thr t USING (blk)
      GROUP BY k.l_partkey
    ),
    ranked AS (
      SELECT l_partkey, n_min,
             n_min + (tot.t_all - covered) AS n_max,
             n_blocks_kept,
             row_number() OVER (ORDER BY n_min DESC, l_partkey) AS rn
      FROM merged CROSS JOIN tot
    )
    SELECT l_partkey, n_min, n_max, n_blocks_kept, rn
    FROM ranked WHERE rn <= {_SS_TOPK}
    """,
)
def q_agg_spacesaving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded approximate top-k part keys from mergeable per-block
    summaries — the streaming/combiner-compatible twin of the exact
    q_agg_heavy_hitters: each deterministic block (l_orderkey DIV
    2048, the stand-in for an executor-local Space-Saving instance)
    publishes only its top-48 (key, count) entries; merging the
    summaries yields, per candidate, a certain LOWER count bound (kept
    counts are exact) and an UPPER bound (a block that dropped the key
    can hide at most its kept minimum — the Misra–Gries envelope).
    Reports the top-20 candidates by lower bound with both bounds: a
    candidate whose n_min beats every competitor's n_max is a
    GUARANTEED heavy hitter without ever re-scanning the stream.

    Plan: one partial-aggregated (block, key) hash aggregate — the
    only full-volume stage — then a block-partitioned top-M window on
    the summary grain (≤|keys| rows per block), a per-block threshold
    aggregate, one broadcast scalar, and a key-grain merge aggregate;
    the final top-20 is orderBy+limit (TakeOrdered), with the
    row_number rank assigned after the limit over exactly 20 rows.
    All-integer, deterministic ties (count DESC, key ASC).

    r16: A/B-tested spread_table on the lineitem scan and REVERTED
    (plain 2.0-2.1 s vs spread 2.4-3.1 s medians, two arms each) —
    the (blk, key) partial aggregate already reduces inside the scan
    task, so the repartition shipped raw rows for nothing (the same
    few-distinct-keys pattern as the wave-6 reverts)."""
    li = load_table(spark, sf_dir, "lineitem")
    blk = li.groupBy(
        F.expr(f"l_orderkey DIV {_SS_BLOCK}").alias("blk"), "l_partkey"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wr = Window.partitionBy("blk").orderBy(F.col("c").desc(), "l_partkey")
    wb = Window.partitionBy("blk")
    rk = blk.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n_keys", F.count(F.lit(1)).over(wb).cast("bigint")
    )
    # Pin the summary frame: kept feeds three consumers (thr, tot via
    # thr, merged), and without a materialization barrier Catalyst
    # re-expands the full scan+aggregate+window lineage under each —
    # the r13 plan audit showed the (blk, key) aggregate running twice.
    # The frame is ≤ |blocks|×M rows of ids+counts: trivial to pin at
    # any scale (the ngram_jaccard shared-aggregate precedent).
    kept = rk.filter(F.col("rn") <= _SS_M).localCheckpoint(eager=False)
    thr = kept.groupBy("blk").agg(
        F.when(F.max("n_keys") > _SS_M, F.min("c"))
        .otherwise(F.lit(0).cast("bigint"))
        .alias("t_b")
    )
    tot = thr.agg(F.sum("t_b").cast("bigint").alias("t_all"))
    merged = (
        kept.join(thr, "blk")
        .groupBy("l_partkey")
        .agg(
            F.sum("c").cast("bigint").alias("n_min"),
            F.sum("t_b").cast("bigint").alias("covered"),
            F.count(F.lit(1)).cast("bigint").alias("n_blocks_kept"),
        )
    )
    top = (
        merged.crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "n_min",
            (F.col("n_min") + F.col("t_all") - F.col("covered")).alias(
                "n_max"
            ),
            "n_blocks_kept",
        )
        .orderBy(F.col("n_min").desc(), "l_partkey")
        .limit(_SS_TOPK)
    )
    wrank = Window.orderBy(F.col("n_min").desc(), "l_partkey")  # 20 rows
    return top.withColumn("rn", F.row_number().over(wrank)).select(
        "l_partkey", "n_min", "n_max", "n_blocks_kept", "rn"
    )


@register(
    "q_maint_partition_skew",
    oracle="""
    WITH f AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY day
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM f),
    r AS (
      SELECT day, n_rows,
             row_number() OVER (ORDER BY n_rows, day) AS rn
      FROM f
    ),
    med AS (
      SELECT n_rows AS median_rows
      FROM r CROSS JOIN nd WHERE rn = (n_days + 1) // 2
    )
    SELECT f.day, f.n_rows, m.median_rows,
           floor(CAST(f.n_rows AS DOUBLE) / m.median_rows
                 * 1000000.0 + 0.5) / 1000000.0 AS skew_ratio,
           CAST(CASE WHEN f.n_rows > 2 * m.median_rows
                     THEN 1 ELSE 0 END AS INTEGER) AS flagged
    FROM f CROSS JOIN med m
    """,
)
def q_maint_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit for the daily-partitioned events sink:
    each day-partition's row count against the (lower) median
    partition, flagging partitions above 2× median — the listing a
    maintenance planner feeds into salting / repartition decisions
    (skewed day-partitions are what make the shuffle stragglers that
    AQE's skew-join handling exists for). Companion to
    q_maint_compaction_bins: that op packs SMALL files, this one
    surfaces OVERSIZED partitions.

    Plan: one partial-aggregated scan to the |days| grain; the median
    pick is a rank over that time-grain-bounded frame (the
    q_ts_granger_lite class — |days| rows regardless of data volume)
    and a one-row broadcast back. Determinism: exact integer counts;
    the lower median picks rank (n+1)//2 under the (n_rows, day)
    total order; skew_ratio is one IEEE division, e6-rounded.

    Determinism note: the day grain is F.to_date("ts") vs the
    oracle's naive CAST(ts AS DATE) — parity rests on the session
    timeZone=UTC pin (the q_maint_compaction_bins convention)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    f = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    nd = f.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    w = Window.orderBy("n_rows", "day")  # |days| rows — bounded grain
    med = (
        f.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(nd))
        .filter(
            F.col("rn")
            == F.floor((F.col("n_days") + 1) / 2).cast("bigint")
        )
        .select(F.col("n_rows").alias("median_rows"))
    )
    return f.crossJoin(F.broadcast(med)).select(
        "day",
        "n_rows",
        "median_rows",
        dround(
            F.col("n_rows").cast("double") / F.col("median_rows"), 6
        ).alias("skew_ratio"),
        F.when(F.col("n_rows") > 2 * F.col("median_rows"), 1)
        .otherwise(0)
        .cast("int")
        .alias("flagged"),
    )


# Bloom sizing: target fpp 1% -> optimal bits/key = -ln(0.01)/ln(2)^2
# and k = round(ln2 * m/n) = 7. Both are LITERAL constants shared with
# the oracle so no engine evaluates the outer ln's.
_BLOOM_BITS_PER_KEY = 9.585058610817272
_BLOOM_K = 7


@register(
    "q_maint_bloom_sizing",
    oracle=f"""
    WITH p AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
               AS ym,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT ym, n_keys,
             CAST(ceil(n_keys * {_BLOOM_BITS_PER_KEY}) AS BIGINT) AS m_bits
      FROM p
    ),
    e AS (
      SELECT ym, n_keys, m_bits,
             floor(exp(-({_BLOOM_K}.0 * n_keys) / m_bits)
                   * 1000000.0 + 0.5) / 1000000.0 AS miss
      FROM s
    )
    SELECT ym, n_keys, m_bits,
           floor(CAST(m_bits AS DOUBLE) / n_keys * 1000000.0 + 0.5)
               / 1000000.0 AS bits_per_key,
           CAST({_BLOOM_K} AS BIGINT) AS k_hashes,
           floor((1.0 - miss) * (1.0 - miss) * (1.0 - miss) * (1.0 - miss)
                 * (1.0 - miss) * (1.0 - miss) * (1.0 - miss)
                 * 1000000.0 + 0.5) / 1000000.0 AS fpp
    FROM e
    """,
)
def q_maint_bloom_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing plan per month partition of the orders
    table: for each month's key count, the optimal filter size in bits
    at a 1% target false-positive rate (m = ⌈n · 9.585…⌉, the closed
    form -n·ln p / ln²2 with the constant folded to a shared literal),
    the fixed k = 7 hash count, and the achieved fpp
    (1 - e^{-kn/m})^k — the planning readout a lakehouse writes into
    file footers / join-pushdown config before building the filters.

    Plan: one hash aggregate to the month grain (12·years rows at any
    SF), then pure per-row arithmetic. Determinism: n and m are exact
    integers (n·9.585… is an exact double product far below 2^53 and
    ceil is unambiguous); the ONE libm call (exp) is e6-rounded per
    the module convention, and the 7th power is explicit left-assoc
    multiplication of the rounded miss rate in both engines."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("ym")
        )
        .groupBy("ym")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    )
    s = p.withColumn(
        "m_bits",
        F.ceil(F.col("n_keys") * _BLOOM_BITS_PER_KEY).cast("bigint"),
    )
    miss = dround(
        F.exp(-(F.lit(float(_BLOOM_K)) * F.col("n_keys")) / F.col("m_bits")),
        6,
    )
    e = s.withColumn("miss", miss)
    hit = 1.0 - F.col("miss")
    return e.select(
        "ym",
        "n_keys",
        "m_bits",
        dround(F.col("m_bits").cast("double") / F.col("n_keys"), 6).alias(
            "bits_per_key"
        ),
        F.lit(_BLOOM_K).cast("bigint").alias("k_hashes"),
        dround(hit * hit * hit * hit * hit * hit * hit, 6).alias("fpp"),
    )


# Retention tiers in exact microseconds (age is relative to the
# table's own max timestamp so the op is reproducible on static data).
_TIER_US = (
    ("hot", 30 * 86400 * 10**6),
    ("warm", 90 * 86400 * 10**6),
    ("cold", 365 * 86400 * 10**6),
)


@register(
    "q_maint_retention_tiers",
    oracle=f"""
    WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
    t AS (
      SELECT event_type,
             CASE WHEN mx.mx - epoch_us(ts) <= {_TIER_US[0][1]} THEN 'hot'
                  WHEN mx.mx - epoch_us(ts) <= {_TIER_US[1][1]} THEN 'warm'
                  WHEN mx.mx - epoch_us(ts) <= {_TIER_US[2][1]} THEN 'cold'
                  ELSE 'expired' END AS tier
      FROM events CROSS JOIN mx
    ),
    g AS (
      SELECT event_type, tier, CAST(count(*) AS BIGINT) AS n_events
      FROM t GROUP BY event_type, tier
    ),
    tt AS (
      SELECT event_type, CAST(sum(n_events) AS BIGINT) AS n_type
      FROM g GROUP BY event_type
    )
    SELECT g.event_type, g.tier, g.n_events,
           floor(CAST(g.n_events AS DOUBLE) / tt.n_type * 1000000.0 + 0.5)
               / 1000000.0 AS share
    FROM g JOIN tt ON tt.event_type = g.event_type
    """,
)
def q_maint_retention_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy planning: every event lands in an age tier
    (hot ≤30 d, warm ≤90 d, cold ≤365 d, expired beyond) relative to
    the stream's own max timestamp, and each (event_type, tier) cell
    reports its row count and within-type share — the reclaimable-
    volume readout a lakehouse VACUUM/tiering job plans against.

    Plan: one max-timestamp aggregate broadcast onto the scan (the
    tier CASE is a map-side expression — no shuffle added), one hash
    aggregate to the (type, tier) grain, one broadcast join for the
    per-type totals. Determinism: ages are exact integer microseconds
    (unix_micros / epoch_us — both exact BIGINT µs, the r14
    q_quality_ts_gaps discipline); the one share ratio is e6."""
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.unix_micros("ts")).alias("mx"))
    age = F.col("mx") - F.unix_micros(F.col("ts"))
    tier = (
        F.when(age <= _TIER_US[0][1], F.lit("hot"))
        .when(age <= _TIER_US[1][1], F.lit("warm"))
        .when(age <= _TIER_US[2][1], F.lit("cold"))
        .otherwise(F.lit("expired"))
    )
    g = (
        e.crossJoin(F.broadcast(mx))
        .select("event_type", tier.alias("tier"))
        .groupBy("event_type", "tier")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    tt = g.groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("n_type")
    )
    return g.join(F.broadcast(tt), "event_type").select(
        "event_type",
        "tier",
        "n_events",
        dround(
            F.col("n_events").cast("double") / F.col("n_type"), 6
        ).alias("share"),
    )


@register(
    "q_maint_incremental_watermark",
    oracle="""
    WITH p AS (
      SELECT event_type,
             max(epoch_us(ts)) AS pmax_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    ),
    w AS (SELECT min(pmax_us) AS watermark_us FROM p)
    SELECT p.event_type, p.pmax_us, p.n_events,
           p.pmax_us - w.watermark_us AS lag_us,
           CAST(p.pmax_us = w.watermark_us AS BOOLEAN) AS is_blocking
    FROM p CROSS JOIN w
    """,
)
def q_maint_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-load watermark audit: per stream partition (event
    type), the newest timestamp and row count; the SAFE global
    watermark an incremental CDC/merge job may advance to is the MIN
    of those per-partition maxima, and each partition reports how far
    ahead of it it runs (lag_us) plus whether it is the blocking
    straggler — the first thing to check when an incremental pipeline
    stops advancing.

    Plan: one hash aggregate to the per-type grain, then a 1-row
    min cross-joined back (broadcast). Exact integer microseconds
    end-to-end (unix_micros / epoch_us); no rounding anywhere."""
    e = load_table(spark, sf_dir, "events")
    p = e.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("pmax_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    w = p.agg(F.min("pmax_us").alias("watermark_us"))
    return p.crossJoin(F.broadcast(w)).select(
        "event_type",
        "pmax_us",
        "n_events",
        (F.col("pmax_us") - F.col("watermark_us")).alias("lag_us"),
        (F.col("pmax_us") == F.col("watermark_us")).alias("is_blocking"),
    )
