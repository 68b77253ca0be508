"""Distribution-drift, significance, and monitoring statistics: the
battery an ML/data platform runs between two snapshots of the same
stream — a two-sample Kolmogorov–Smirnov test, the population
stability index (PSI), a Theil–Sen robust trend estimate, the
Mann–Kendall trend significance test, a two-proportion A/B z-test,
the Gini revenue-concentration audit, and diurnal percentile bands —
plus the classical-inference battery (chi-square independence,
Welch's t, sample-ratio-mismatch, CUPED adjustment) and the
frequency/rank series diagnostics (periodogram probe, Spearman rho).
(The Markov behavior-transition matrix lives in operators/analytics.py.)

These are the canonical "did the data change?" checks (feature drift
before a model retrain, input-distribution regression after an upstream
deploy). None exists as a Spark builtin; each is expressed here as a
composition of hash aggregates, the distributed prefix-sum machinery
(operators/prefix.py), and bounded self-joins — no single-partition
stage anywhere, so every plan survives the 100 TB scale-up.

Determinism: every statistic reduces to integer counts, exact IEEE
divisions of those counts, and at most one e6-rounded libm call
(``ln``/``sqrt``) per term — the same discipline as
q_agg_user_entropy — so the outputs hash-match the DuckDB oracle
bit-exactly with no tolerance.

Reference parity note: the reference engine (an Elixir event-transport
client, SURVEY.md §0) has no statistics surface; these derive from the
driver's analytics mandate and standard monitoring practice (KS test,
PSI from credit-scoring scorecard monitoring, Theil–Sen from robust
regression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ex_hivent_spark.catalog import load_table
from ex_hivent_spark.functions.decimals import dround, sql_dround
from ex_hivent_spark.functions.letbind import let1
from ex_hivent_spark.operators.prefix import running_totals_blocked
from ex_hivent_spark.plans.registry import register

# The events table spans 2024-01-01 .. 2024-01-31 at every SF; the
# drift comparisons split it into a fixed early half vs late half.
_CUT = "2024-01-16"
# KS prefix-sum blocking: value lives on a fixed cents grid in
# [0, ~500); a width-10 grid keeps ≤ ~50 blocks at any scale.
_KS_BLOCK = 10.0
# PSI bucket grid: width-50 value buckets, capped into bucket 9.
_PSI_WIDTH = 50.0
_PSI_BUCKETS = 10
# Pairwise trend ops (Theil–Sen, Mann–Kendall) are quadratic in the
# HOURLY series length, so multi-year retention (~26k hours → 3.4×10⁸
# pairs/type) would blow the pair frame up. Both ops therefore bound
# the series to the trailing 90 days PER TYPE (≤2160 hours → ≤2.3M
# pairs/type, a few MB) — the recency window a trend estimate should
# be computed over anyway; longer-horizon trends belong to a
# downsampled (daily/weekly-grain) variant of the same plan.
_TRAIL_HOURS = 2160


@register(
    "q_ts_ks_drift",
    oracle=f"""
    WITH lab AS (
      SELECT value,
             CASE WHEN ts < TIMESTAMP '{_CUT}' THEN 1 ELSE 0 END AS ia
      FROM events
    ),
    pv AS (
      SELECT value,
             CAST(sum(ia) AS BIGINT) AS a,
             CAST(sum(1 - ia) AS BIGINT) AS b
      FROM lab GROUP BY value
    ),
    tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
      FROM pv
    ),
    cum AS (
      SELECT value,
             CAST(sum(a) OVER (ORDER BY value) AS BIGINT) AS ca,
             CAST(sum(b) OVER (ORDER BY value) AS BIGINT) AS cb
      FROM pv
    )
    SELECT CAST(t.na AS BIGINT) AS n_early,
           CAST(t.nb AS BIGINT) AS n_late,
           max(abs(CAST(c.ca AS DOUBLE) / t.na
                   - CAST(c.cb AS DOUBLE) / t.nb)) AS ks_stat
    FROM cum c CROSS JOIN tot t
    GROUP BY t.na, t.nb
    """,
)
def q_ts_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the event-value
    distribution of the first half of the month and the second half:
    D = max over v of |F_early(v) − F_late(v)| — THE nonparametric
    "did this feature drift?" test, sensitive to any change in shape,
    not just mean/variance.

    Plan: one (value → early/late counts) hash aggregate collapses the
    stream to ≤ |distinct values| rows (the cents grid bounds this at
    any SF), the two CDFs come from the deterministic blocked prefix
    sums of operators/prefix.py (fixed width-10 value grid — one
    block-keyed window, never a single-partition sort), the totals ride
    in as a broadcast one-row aggregate, and the max is a final scalar
    aggregate. Determinism: counts are integers and each CDF value is
    one exact IEEE division — no rounding needed anywhere."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        "value",
        F.when(F.col("ts") < F.lit(_CUT).cast("timestamp"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ia"),
    )
    pv = lab.groupBy("value").agg(
        F.sum("ia").alias("a"),
        F.sum(1 - F.col("ia")).alias("b"),
    ).localCheckpoint(eager=False)  # consumed by the totals AND both
    # prefix-sum branches: pin the |values|-row frame so the event
    # stream is scanned once
    tot = pv.agg(
        F.sum("a").alias("n_early"), F.sum("b").alias("n_late")
    )
    blocked = pv.withColumn(
        "blk", F.floor(F.col("value") / F.lit(_KS_BLOCK))
    )
    cum = running_totals_blocked(
        blocked,
        order_cols=["value"],
        block_cols=["blk"],
        sum_cols={"a": "ca", "b": "cb"},
    )
    gap = cum.crossJoin(F.broadcast(tot)).select(
        "n_early",
        "n_late",
        F.abs(
            F.col("ca").cast("double") / F.col("n_early")
            - F.col("cb").cast("double") / F.col("n_late")
        ).alias("gap"),
    )
    return gap.groupBy("n_early", "n_late").agg(
        F.max("gap").alias("ks_stat")
    )


@register(
    "q_ts_psi_drift",
    oracle=f"""
    WITH lab AS (
      SELECT least(CAST(floor(value / {_PSI_WIDTH}) AS BIGINT),
                   {_PSI_BUCKETS - 1}) AS bucket,
             CASE WHEN ts < TIMESTAMP '{_CUT}' THEN 1 ELSE 0 END AS ia
      FROM events
    ),
    pb AS (
      SELECT bucket,
             CAST(sum(ia) AS BIGINT) AS ca,
             CAST(sum(1 - ia) AS BIGINT) AS cb
      FROM lab GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM pb
    ),
    terms AS (
      SELECT (CAST(ca + 1 AS DOUBLE) / (na + {_PSI_BUCKETS})
              - CAST(cb + 1 AS DOUBLE) / (nb + {_PSI_BUCKETS}))
             * ({sql_dround(
                 f"ln((CAST(ca + 1 AS DOUBLE) / (na + {_PSI_BUCKETS}))"
                 f" / (CAST(cb + 1 AS DOUBLE) / (nb + {_PSI_BUCKETS})))",
                 6,
             )}) AS term,
             na, nb
      FROM pb CROSS JOIN tot
    )
    SELECT CAST(any_value(na) AS BIGINT) AS n_early,
           CAST(any_value(nb) AS BIGINT) AS n_late,
           CAST(sum(CAST(term AS DECIMAL(25,6))) AS DOUBLE) AS psi
    FROM terms
    """,
)
def q_ts_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the event-value distribution,
    early half vs late half of the month, over a FIXED width-50 bucket
    grid: PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) with add-one smoothing so
    empty buckets never divide by zero — the scorecard-monitoring drift
    number (rule of thumb: <0.1 stable, >0.25 drifted).

    Plan: one bucket hash aggregate (≤ 10 rows), the totals broadcast
    back as a one-row aggregate, then a 10-row decimal sum. The grid is
    fixed, so the aggregate combines map-side and the post-aggregate
    frame is O(buckets) at any scale. Determinism: smoothed
    probabilities are exact integer-ratio divisions; the single ln per
    bucket is e6-rounded before the multiply (the q_agg_user_entropy
    convention); the final sum rides the decimal detour."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.least(
            F.floor(F.col("value") / F.lit(_PSI_WIDTH)).cast("bigint"),
            F.lit(_PSI_BUCKETS - 1).cast("bigint"),
        ).alias("bucket"),
        F.when(F.col("ts") < F.lit(_CUT).cast("timestamp"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ia"),
    )
    pb = lab.groupBy("bucket").agg(
        F.sum("ia").alias("ca"),
        F.sum(1 - F.col("ia")).alias("cb"),
    ).localCheckpoint(eager=False)  # totals + smoothed terms: one scan
    tot = pb.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    sm = pb.crossJoin(F.broadcast(tot))
    pa = (F.col("ca") + 1).cast("double") / (
        F.col("na") + F.lit(_PSI_BUCKETS)
    )
    qb = (F.col("cb") + 1).cast("double") / (
        F.col("nb") + F.lit(_PSI_BUCKETS)
    )
    terms = sm.select(
        "na",
        "nb",
        ((pa - qb) * dround(F.log(pa / qb), 6)).alias("term"),
    )
    return terms.agg(
        F.any_value("na").alias("n_early"),
        F.any_value("nb").alias("n_late"),
        F.sum(F.col("term").cast("decimal(25,6)"))
        .cast("double")
        .alias("psi"),
    )


@register(
    "q_ts_theil_sen",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, floor(epoch(ts) / 3600)
    ),
    maxh AS (
      SELECT event_type, max(h) AS mh FROM hourly GROUP BY event_type
    ),
    bounded AS (
      SELECT hourly.* FROM hourly JOIN maxh USING (event_type)
      WHERE h > mh - {_TRAIL_HOURS}
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(b.c - a.c AS DOUBLE) / (b.h - a.h) AS slope,
             a.h AS ha, b.h AS hb
      FROM bounded a JOIN bounded b
        ON a.event_type = b.event_type AND a.h < b.h
    ),
    ranked AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope, ha, hb) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM pairs
    )
    SELECT event_type,
           CAST(any_value(n) AS BIGINT) AS n_pairs,
           (min(slope) + max(slope)) / 2 AS theil_sen_slope
    FROM ranked
    WHERE rn IN (CAST(floor((n + 1) / 2.0) AS BIGINT),
                 CAST(ceil((n + 1) / 2.0) AS BIGINT))
    GROUP BY event_type
    """,
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the median of all
    pairwise slopes of the hourly event-count series — the
    breakdown-resistant alternative to least-squares trend (up to 29%
    of the hours can be outliers without moving it), the right "is
    traffic growing?" estimator for spiky ops data.

    Plan (r15 selection rewrite — the markov bounded-collect
    discipline): the stream collapses ONCE to an hourly (type, hour,
    count) frame BOUNDED to the trailing _TRAIL_HOURS (90 days) per
    type via a broadcast per-type max-hour join, so the collected
    frame is ≤2160 rows/type BY CONSTRUCTION at any retention or raw
    volume — the one data-sized stage is the distributed hourly hash
    aggregate. The ≤C(2160,2) pairwise slopes and the exact median
    order statistics then run driver-side in numpy, replacing the
    prior 5-key (one task per type) skewed self-join + full 1.3M-row
    rank-window sort — the suite's one super-linear distributed plan
    (r14 VERDICT perf item 2). Determinism: slopes are the identical
    integer-difference IEEE divisions both engines evaluate (int64
    diffs exactly representable, one correctly-rounded divide); the
    median is the (floor, ceil)((n+1)/2) slope order statistics — a
    value-level selection, so the oracle's (ha, hb) rank tie-break
    is irrelevant to the emitted values — and the even-count midpoint
    (lo + hi)/2 is the same double expression. Oracle unchanged.

    Scale assumption (r15 ADVICE): the ≤2160-rows bound is PER TYPE;
    the collect and the serial per-type numpy loop (~2.3M slopes,
    ~56 MB of temporaries per full-window type) scale linearly with
    the number of distinct event types on the driver. That is the
    deliberate trade for an event-taxonomy-sized type set (tens to
    low thousands — ~120 MB collected and minutes of numpy at 1,000
    types); a corpus keyed by an UNBOUNDED type column (user-id-like)
    needs the distributed self-join plan this replaced instead."""
    import numpy as np

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("bigint")
            .alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    maxh = hourly.groupBy("event_type").agg(F.max("h").alias("mh"))
    bounded = (
        hourly.join(F.broadcast(maxh), "event_type")
        .filter(F.col("h") > F.col("mh") - _TRAIL_HOURS)
        .drop("mh")
    )
    rows = bounded.collect()  # ≤ _TRAIL_HOURS rows per type — bounded
    by_type: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append((r["h"], r["c"]))
    out = []
    for t, hc in sorted(by_type.items()):
        if len(hc) < 2:
            continue  # no pairs — the join form emits no row either
        hc.sort()  # h ascending, so every triu pair has h[j] > h[i]:
        # the oracle's a.h < b.h orientation (positive denominators —
        # keeps a zero count-diff at +0.0, never −0.0)
        h = np.array([x for x, _ in hc], dtype=np.int64)
        c = np.array([y for _, y in hc], dtype=np.int64)
        i, j = np.triu_indices(len(h), 1)
        slopes = (c[j] - c[i]).astype(np.float64) / (
            h[j] - h[i]
        ).astype(np.float64)
        n = int(slopes.size)
        k1 = (n + 1) // 2
        k2 = -(-(n + 1) // 2)
        ss = np.partition(slopes, [k1 - 1, k2 - 1])
        out.append((t, n, float((ss[k1 - 1] + ss[k2 - 1]) / 2)))
    return spark.createDataFrame(
        out, "event_type string, n_pairs bigint, theil_sen_slope double"
    )


@register(
    "q_ts_mann_kendall",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, floor(epoch(ts) / 3600)
    ),
    maxh AS (
      SELECT event_type, max(h) AS mh FROM hourly GROUP BY event_type
    ),
    bounded AS (
      SELECT hourly.* FROM hourly JOIN maxh USING (event_type)
      WHERE h > mh - {_TRAIL_HOURS}
    ),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM bounded a JOIN bounded b
        ON a.event_type = b.event_type AND a.h < b.h
      GROUP BY a.event_type
    ),
    ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_adj,
             CAST(sum(t) AS BIGINT) AS n_hours
      FROM (
        SELECT event_type, c, CAST(count(*) AS BIGINT) AS t
        FROM bounded GROUP BY event_type, c
      ) GROUP BY event_type
    )
    SELECT s.event_type, ties.n_hours, s.s_stat,
           (ties.n_hours * (ties.n_hours - 1) * (2 * ties.n_hours + 5)
            - ties.tie_adj) / 18.0 AS var_s,
           CASE
             WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
               / ({sql_dround(
                   "sqrt((ties.n_hours * (ties.n_hours - 1)"
                   " * (2 * ties.n_hours + 5) - ties.tie_adj) / 18.0)",
                   6,
               )})
             WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
               / ({sql_dround(
                   "sqrt((ties.n_hours * (ties.n_hours - 1)"
                   " * (2 * ties.n_hours + 5) - ties.tie_adj) / 18.0)",
                   6,
               )})
             ELSE 0.0
           END AS z_stat
    FROM s JOIN ties ON s.event_type = ties.event_type
    """,
)
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test per event type over the
    hourly count series: S = Σ_{i<j} sgn(c_j − c_i), its tie-corrected
    variance, and the normal-approximation z — the distribution-free
    "is there ANY monotonic trend?" significance companion to the
    Theil–Sen slope magnitude (q_ts_theil_sen), run on the same
    bounded hourly frame.

    Plan: identical shape to Theil–Sen — hourly pre-aggregate bounded
    to the trailing _TRAIL_HOURS (90 days) per type via a broadcast
    max-hour join, pairwise self-join quadratic only in that ≤2160-hour
    bound at ANY retention, then three tiny per-type aggregates (S, tie
    groups, n) joined broadcast. Determinism: S and the tie adjustment
    are pure integers, var_s is one exact /18.0 division, and the
    single sqrt is e6-rounded before the z division (entropy
    convention)."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("bigint")
            .alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # max-hour probe + self-join
        # sides + tie groups
    )
    maxh = hourly.groupBy("event_type").agg(F.max("h").alias("mh"))
    bounded = (
        hourly.join(F.broadcast(maxh), "event_type")
        .filter(F.col("h") > F.col("mh") - _TRAIL_HOURS)
        .drop("mh")
    )
    a, b = bounded.alias("a"), bounded.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.h") < F.col("b.h")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.c") > F.col("a.c"), 1)
                .when(F.col("b.c") < F.col("a.c"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    tie_groups = bounded.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    t = F.col("t")
    ties = tie_groups.groupBy("event_type").agg(
        F.sum(t * (t - 1) * (2 * t + 5)).alias("tie_adj"),
        F.sum(t).alias("n_hours"),
    )
    j = s.join(F.broadcast(ties), "event_type")
    n = F.col("n_hours")
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("tie_adj")) / F.lit(18.0)
    sq = dround(F.sqrt(var_s), 6)
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double") / sq,
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double") / sq,
        )
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "event_type",
        "n_hours",
        "s_stat",
        var_s.alias("var_s"),
        z.alias("z_stat"),
    )


@register(
    "q_ab_proportion_test",
    oracle=f"""
    WITH lab AS (
      SELECT CASE WHEN ts < TIMESTAMP '{_CUT}' THEN 'early' ELSE 'late'
             END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS conv
      FROM events
    ),
    g AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM lab GROUP BY arm
    ),
    w AS (
      SELECT e.n AS n1, e.k AS k1, l.n AS n2, l.k AS k2
      FROM (SELECT * FROM g WHERE arm = 'early') e
      CROSS JOIN (SELECT * FROM g WHERE arm = 'late') l
    )
    SELECT n1, k1, n2, k2,
           CAST(k1 AS DOUBLE) / n1 AS p1,
           CAST(k2 AS DOUBLE) / n2 AS p2,
           (CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
           / ({sql_dround(
               "sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2))"
               " * (1 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2))"
               " * (1.0 / n1 + 1.0 / n2))",
               6,
           )}) AS z_stat
    FROM w
    """,
)
def q_ab_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on purchase conversion, early half vs
    late half of the month — the pooled-variance A/B significance
    formula every experimentation platform ships:
    z = (p̂₁−p̂₂) / √(p̂(1−p̂)(1/n₁+1/n₂)).

    Plan: ONE conditional aggregate collapses the stream to two
    (arm, n, k) rows; the pivot to a single comparison row is a 2-row
    cross join — nothing after the scan is data-sized. Determinism:
    counts are integers, every ratio is an exact IEEE division, and
    the single sqrt is e6-rounded before the final division."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.when(
            F.col("ts") < F.lit(_CUT).cast("timestamp"), F.lit("early")
        )
        .otherwise(F.lit("late"))
        .alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("conv"),
    )
    g = lab.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    ).localCheckpoint(eager=False)  # both arm filters: one scan
    early = g.filter(F.col("arm") == "early").select(
        F.col("n").alias("n1"), F.col("k").alias("k1")
    )
    late = g.filter(F.col("arm") == "late").select(
        F.col("n").alias("n2"), F.col("k").alias("k2")
    )
    w = early.crossJoin(F.broadcast(late))
    p1 = F.col("k1").cast("double") / F.col("n1")
    p2 = F.col("k2").cast("double") / F.col("n2")
    pool = (F.col("k1") + F.col("k2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    se = dround(
        F.sqrt(
            pool
            * (1 - pool)
            * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
        ),
        6,
    )
    return w.select(
        "n1",
        "k1",
        "n2",
        "k2",
        p1.alias("p1"),
        p2.alias("p2"),
        ((p1 - p2) / se).alias("z_stat"),
    )


@register(
    "q_agg_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS r
      FROM orders GROUP BY o_custkey
    ),
    rk AS (
      SELECT r,
             CAST(row_number() OVER (ORDER BY r, o_custkey) AS BIGINT)
               AS rnk
      FROM rev
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(r AS DECIMAL(25,6))) AS DOUBLE) AS sr,
             CAST(sum(CAST(r AS DECIMAL(25,6))
                      * CAST(rnk AS DECIMAL(12,0))) AS DOUBLE) AS srr
      FROM rk
    )
    SELECT n AS n_customers,
           sr AS total_revenue,
           floor(((2 * srr - (n + 1) * sr) / (n * sr)) * 1000000.0
                 + 0.5) / 1000000.0 AS gini_e6
    FROM t
    """,
)
def q_agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the concentration /
    inequality audit ("do 1% of customers carry 80% of revenue?") that
    feeds risk dashboards and skew-aware capacity planning. Uses the
    rank formulation G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over
    ascending-sorted values.

    Plan: the orders stream collapses to a per-customer decimal-sum
    frame first; the global ascending ranks come from the DETERMINISTIC
    blocked prefix sums (operators/prefix.py — fixed width-100k revenue
    grid, ties broken by custkey inside a block since equal revenues
    share a block), so there is NO single-partition row_number anywhere;
    the two closing sums are one more hash aggregate. Determinism:
    per-customer revenue is a decimal sum, ranks are exact integers,
    and the rank·revenue products are computed in EXACT decimal
    arithmetic (decimal(25,6) × decimal(12,0)) rather than doubles —
    at rank·revenue ≈ 10¹²⁺ a double's ulp exceeds the 6th decimal, so
    the usual "per-row double products are exact" shortcut would let
    the two engines' double→decimal quantizations disagree. One
    residual cross-engine wobble remains: casting the Σ(rank·r)
    decimal (unscaled value > 2⁵³) back to double is correctly rounded
    by the JVM but double-rounded by DuckDB's int128/10⁶ path — a
    few-ulp input difference worth ~1e-15 absolute in the final ratio.
    The output therefore rounds at e6 (not e9): six decimals is ample
    reporting precision for a [0,1] statistic and leaves ~9 orders of
    magnitude of margin between the rounding grid and the input
    wobble, so the cross-engine hash cannot flip as data scales."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("r")
    ).localCheckpoint(eager=False)  # prefix window + offsets probe:
    # one orders scan, the per-customer frame is reused

    blocked = rev.withColumn(
        "blk", F.floor(F.col("r") / F.lit(100000.0))
    ).withColumn("one", F.lit(1).cast("bigint"))
    ranked = running_totals_blocked(
        blocked,
        order_cols=["r", "o_custkey"],
        block_cols=["blk"],
        sum_cols={"one": "rnk"},
    )
    dec = "decimal(25,6)"
    t = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("r").cast(dec)).cast("double").alias("sr"),
        F.sum(
            F.col("r").cast(dec) * F.col("rnk").cast("decimal(12,0)")
        )
        .cast("double")
        .alias("srr"),
    )
    return t.select(
        F.col("n").alias("n_customers"),
        F.col("sr").alias("total_revenue"),
        dround(
            (2 * F.col("srr") - (F.col("n") + 1) * F.col("sr"))
            / (F.col("n") * F.col("sr")),
            6,
        ).alias("gini_e6"),
    )


_BAND_QS = (0.5, 0.9, 0.99)


@register(
    "q_ts_diurnal_percentiles",
    oracle=f"""
    WITH q AS (
      SELECT event_type,
             CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
             CAST(count(*) AS BIGINT) AS n_events,
             unnest(quantile_cont(value, {list(_BAND_QS)})) AS qv,
             unnest(list_transform({list(_BAND_QS)},
                                   x -> CAST(x AS DOUBLE))) AS quantile
      FROM events GROUP BY event_type, extract(hour FROM ts)
    )
    SELECT event_type, hour_of_day, n_events, quantile,
           floor(qv * 1000000.0 + 0.5) / 1000000.0 AS value_at_q
    FROM q
    """,
)
def q_ts_diurnal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal percentile bands: p50/p90/p99 of the event value per
    (event type, hour-of-day) — the 24-point daily profile behind every
    latency/size dashboard and the baseline a "tonight looks slow"
    alert compares against.

    Plan: ONE hash aggregate keyed on (type, hour-of-day) computes all
    three exact percentiles together (percentile() takes the quantile
    array — single sort per group, not one per quantile), then a
    posexplode reshapes to band rows; the output is bounded at
    |types|×24×|bands| rows at any scale. Exact percentile is a
    per-group sort, the same cost envelope as any per-key ranking;
    switch to approx_percentile when groups stop fitting the sort
    buffer. Determinism: Spark percentile() and DuckDB quantile_cont
    share the linear-interpolation definition (the q_percentile_exact
    precedent); e6-rounded against last-ulp interpolation drift."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.percentile("value", F.lit(list(_BAND_QS))).alias("qs"),
    )
    return (
        agg.select(
            "event_type",
            "hour_of_day",
            "n_events",
            F.posexplode("qs").alias("pos", "qv"),
        )
        .select(
            "event_type",
            "hour_of_day",
            "n_events",
            F.element_at(F.lit(list(_BAND_QS)), F.col("pos") + 1).alias(
                "quantile"
            ),
            dround(F.col("qv"), 6).alias("value_at_q"),
        )
    )


_HAMPEL_HALF = 3  # +/- rows in the centered window
_HAMPEL_K = 3.0 * 1.4826  # 3 sigma under the Gaussian MAD consistency


@register(
    "q_win_hampel",
    oracle=f"""
    SELECT event_id, value,
           med AS rolling_median,
           md AS rolling_mad,
           CASE WHEN abs(value - med) > {_HAMPEL_K} * md
                THEN true ELSE false END AS is_outlier,
           CASE WHEN abs(value - med) > {_HAMPEL_K} * md
                THEN med ELSE value END AS cleaned
    FROM (
      SELECT event_id, value,
             median(value) OVER w AS med,
             mad(value) OVER w AS md
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {_HAMPEL_HALF} PRECEDING
                            AND {_HAMPEL_HALF} FOLLOWING)
    )
    """,
)
def q_win_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter: the standard robust time-series despiker — for
    each event, the median and MAD of its ±3-row neighborhood (within
    its event type's time order); points beyond 3·1.4826·MAD are
    flagged and replaced by the local median. Unlike a z-score window,
    one spike cannot inflate its own threshold (median/MAD have a 50%
    breakdown point), which is why it's the default sensor-cleaning
    pass in ops pipelines.

    Plan: ONE type-partitioned 7-row sliding window (distributed —
    state is 7 rows/event, no global sort); Spark has no median/mad
    window aggregate, so both come from the sorted collect_list array
    via nested let-bindings (functions/letbind.py — the array sorts
    once, every reference is a slot read). DuckDB's native
    median()/mad() window aggregates form the oracle. Determinism:
    both engines interpolate even-count medians as (lo+hi)/2 over the
    same stored doubles — identical IEEE arithmetic end to end, no
    rounding anywhere."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_HAMPEL_HALF, _HAMPEL_HALF)
    )

    def arr_median(a: F.Column) -> F.Column:
        n = F.size(a)
        lo = F.floor((n + 1) / F.lit(2.0)).cast("int")
        hi = F.ceil((n + 1) / F.lit(2.0)).cast("int")
        return (F.element_at(a, lo) + F.element_at(a, hi)) / 2

    stats = let1(
        F.array_sort(F.collect_list("value").over(w)),
        lambda a: let1(
            arr_median(a),
            lambda med: F.struct(
                med.alias("med"),
                arr_median(
                    F.array_sort(
                        F.transform(a, lambda v: F.abs(v - med))
                    )
                ).alias("md"),
            ),
        ),
    )
    base = e.select("event_id", "value", stats.alias("s"))
    med = F.col("s.med")
    md = F.col("s.md")
    outlier = F.abs(F.col("value") - med) > F.lit(_HAMPEL_K) * md
    return base.select(
        "event_id",
        "value",
        med.alias("rolling_median"),
        md.alias("rolling_mad"),
        outlier.alias("is_outlier"),
        F.when(outlier, med).otherwise(F.col("value")).alias("cleaned"),
    )


_PARETO_THRESHOLDS = (50, 80, 95)


@register(
    "q_agg_pareto_coverage",
    oracle=f"""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS t
      FROM rev
    ),
    cum AS (
      SELECT cents,
             CAST(sum(cents) OVER (ORDER BY cents, o_custkey) AS BIGINT)
               AS cum
      FROM rev
    ),
    j AS (
      SELECT
        {", ".join(
            f'''CAST(sum(CASE WHEN CAST(cum AS DECIMAL(38,0)) * 100
                       <= {100 - p} * CAST(t AS DECIMAL(38,0))
                       THEN 1 ELSE 0 END) AS BIGINT) AS j{p}'''
            for p in _PARETO_THRESHOLDS
        )},
        any_value(n) AS n
      FROM cum CROSS JOIN tot
    )
    {" UNION ALL ".join(
        f'''SELECT CAST({p} AS BIGINT) AS threshold_pct,
               n - j{p} AS n_customers,
               n AS n_total,
               floor((CAST(n - j{p} AS DOUBLE) / n) * 1000000.0 + 0.5)
                 / 1000000.0 AS cust_share
        FROM j'''
        for p in _PARETO_THRESHOLDS
    )}
    """,
)
def q_agg_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto revenue-concentration coverage: the minimum number of
    customers whose combined revenue reaches 50% / 80% / 95% of total
    — the "do 1% of customers carry 80% of revenue?" companion to the
    Gini coefficient (q_agg_gini_concentration), reported as actual
    head-counts a capacity/account team can act on.

    Plan: per-customer revenue collapses to EXACT integer cents
    (floor(price·100+0.5) per order, bigint sums — no float
    aggregation anywhere), the ascending cumulative revenue comes from
    the deterministic blocked prefix sums (operators/prefix.py — no
    single-partition window; the recursive fold covers any block
    count), and each threshold is one conditional count over the
    ranked frame: top-k(θ) = n − max{{j : cum(j)·100 ≤ (100−θ)·T}},
    exact because cum is nondecreasing. The ·100 comparisons ride
    decimal(38,0) so they cannot overflow int64 even at 10¹⁷ total
    cents. One orders scan, one block-keyed exchange, three stacked
    output rows."""
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100.0 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
        .localCheckpoint(eager=False)  # totals probe + prefix window:
        # one orders scan
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").alias("t"),
    )
    blocked = rev.withColumn("blk", F.expr("cents DIV 10000000"))
    ranked = running_totals_blocked(
        blocked,
        order_cols=["cents", "o_custkey"],
        block_cols=["blk"],
        sum_cols={"cents": "cum"},
    )
    dec = "decimal(38,0)"
    j = ranked.crossJoin(F.broadcast(tot)).agg(
        *[
            F.sum(
                F.when(
                    F.col("cum").cast(dec) * 100
                    <= (100 - p) * F.col("t").cast(dec),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"j{p}")
            for p in _PARETO_THRESHOLDS
        ],
        F.any_value("n").alias("n"),
    )
    parts = [
        j.select(
            F.lit(p).cast("bigint").alias("threshold_pct"),
            (F.col("n") - F.col(f"j{p}")).alias("n_customers"),
            F.col("n").alias("n_total"),
            dround(
                (F.col("n") - F.col(f"j{p}")).cast("double") / F.col("n"),
                6,
            ).alias("cust_share"),
        )
        for p in _PARETO_THRESHOLDS
    ]
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionByName(pdf)
    return out


@register(
    "q_ab_delta_method_ci",
    oracle=f"""
    WITH per_user AS (
      SELECT CASE WHEN ts < TIMESTAMP '{_CUT}' THEN 'early' ELSE 'late'
             END AS arm,
             user_id,
             CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value
                           ELSE 0.0 END AS DECIMAL(25,6))) AS DOUBLE) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(CAST(x * y AS DECIMAL(25,6))) AS DOUBLE) AS sxy
      FROM per_user GROUP BY arm
    ),
    closed AS (
      SELECT arm, n, sx / sy AS ratio,
             (sxx - sx * sx / n) / (n - 1) AS vxx,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
               AS vyy,
             (sxy - sx * (CAST(sy AS DOUBLE) / n)) / (n - 1) AS vxy,
             CAST(sy AS DOUBLE) / n AS ybar
      FROM mom
    )
    SELECT arm, n AS n_users,
           {sql_dround("ratio", 6)} AS ratio,
           {sql_dround(
               "sqrt((vxx - 2 * ratio * vxy + ratio * ratio * vyy)"
               " / (n * ybar * ybar))", 6
           )} AS se,
           {sql_dround("ratio", 6)} - 1.96 * ({sql_dround(
               "sqrt((vxx - 2 * ratio * vxy + ratio * ratio * vyy)"
               " / (n * ybar * ybar))", 6
           )}) AS ci_lo,
           {sql_dround("ratio", 6)} + 1.96 * ({sql_dround(
               "sqrt((vxx - 2 * ratio * vxy + ratio * ratio * vyy)"
               " / (n * ybar * ybar))", 6
           )}) AS ci_hi
    FROM closed
    """,
)
def q_ab_delta_method_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric per
    experiment arm: revenue-per-event R = Σx/Σy where the
    randomization unit is the USER (x_u = purchase revenue, y_u =
    event count) — the correct CI for ratio metrics under clustered
    exposure (naive per-event variance understates it; this is the
    standard delta-method/linearization every experimentation platform
    ships): Var(R) ≈ (s_xx − 2R·s_xy + R²·s_yy) / (n·ȳ²).

    Plan: one (arm, user) hash aggregate collapses the stream, then a
    2-row per-arm moment aggregate — all second moments are computed
    from user-level rows, decimal-summed. Determinism: per-user x is
    a decimal sum (deterministic double), per-row products are exact
    IEEE, cross-user sums ride the decimal detour, integer moments
    stay bigint, and the single sqrt is e6-rounded; the closing ±1.96
    arithmetic is written identically in both engines."""
    e = load_table(spark, sf_dir, "events")
    dec = "decimal(25,6)"
    per_user = (
        e.select(
            F.when(
                F.col("ts") < F.lit(_CUT).cast("timestamp"), "early"
            )
            .otherwise("late")
            .alias("arm"),
            "user_id",
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(F.lit(0.0))
            .alias("xv"),
        )
        .groupBy("arm", "user_id")
        .agg(
            F.sum(F.col("xv").cast(dec)).cast("double").alias("x"),
            F.count(F.lit(1)).cast("bigint").alias("y"),
        )
    )
    mom = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    ratio = F.col("sx") / F.col("sy")
    vxx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    vyy = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / n
    ) / (n - 1)
    vxy = (
        F.col("sxy") - F.col("sx") * (F.col("sy").cast("double") / n)
    ) / (n - 1)
    ybar = F.col("sy").cast("double") / n
    closed = mom.select(
        "arm",
        n.alias("n_users"),
        dround(ratio, 6).alias("ratio"),
        dround(
            F.sqrt(
                (vxx - 2 * ratio * vxy + ratio * ratio * vyy)
                / (n * ybar * ybar)
            ),
            6,
        ).alias("se"),
    )
    return closed.select(
        "arm",
        "n_users",
        "ratio",
        "se",
        (F.col("ratio") - 1.96 * F.col("se")).alias("ci_lo"),
        (F.col("ratio") + 1.96 * F.col("se")).alias("ci_hi"),
    )


@register(
    "q_agg_hhi_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    seg AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS t,
             CAST(sum(CAST(cents AS DECIMAL(38,0))
                      * CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sq
      FROM rev GROUP BY segment
    )
    SELECT segment, n_customers,
           {sql_dround("(sq / (t * t)) * 10000.0", 6)} AS hhi
    FROM seg
    """,
)
def q_agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per market segment:
    HHI = 10000·Σᵢ shareᵢ² over each segment's customer revenue
    shares — the antitrust/market-structure standard (<1500
    unconcentrated, >2500 highly concentrated), completing the
    concentration battery next to Gini (inequality) and Pareto
    coverage (head-counts): HHI is the one that moves when a few
    heads merge.

    Plan: revenue collapses to exact integer cents per (segment,
    customer) — the orders→customer join broadcasts the dimension —
    then Σc and Σc² ride decimal(38,0) sums (c² reaches ~10¹⁴ per
    customer, so int64 Σc² would overflow at 100 TB; the decimal is
    exact at any scale) and the closing ratio is
    (Σc² as double)/(Σc as double)² — two correctly-rounded casts of
    exact decimals... which at >2^53 unscaled would re-open the
    cross-engine cast wobble, EXCEPT the e6-rounded output has ~9
    orders of magnitude of margin (HHI ∈ [0, 10⁴], wobble ~1e-9
    relative — the gini_e6 lesson applied from the start)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rev = (
        o.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100.0 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    dec = "decimal(38,0)"
    seg = rev.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("cents").cast(dec)).cast("double").alias("t"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec))
        .cast("double")
        .alias("sq"),
    )
    return seg.select(
        "segment",
        "n_customers",
        dround(
            (F.col("sq") / (F.col("t") * F.col("t"))) * 10000.0, 6
        ).alias("hhi"),
    )


@register(
    "q_agg_lorenz_points",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS t
      FROM rev
    ),
    ranked AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
               AS rnk,
             CAST(sum(cents) OVER (ORDER BY cents, o_custkey) AS BIGINT)
               AS cum
      FROM rev
    ),
    deciles AS (SELECT unnest(range(1, 11)) AS decile)
    SELECT CAST(d.decile AS BIGINT) AS decile,
           r.rnk AS rank,
           floor((CAST(r.rnk AS DOUBLE) / tot.n) * 1000000.0 + 0.5)
             / 1000000.0 AS pop_share,
           floor((CAST(r.cum AS DOUBLE) / tot.t) * 1000000.0 + 0.5)
             / 1000000.0 AS revenue_share
    FROM deciles d CROSS JOIN tot
    JOIN ranked r ON r.rnk = (d.decile * tot.n) // 10
    """,
)
def q_agg_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve sample points: at each population decile of
    customers (ascending revenue), the cumulative share of total
    revenue they hold — the CURVE the Gini coefficient
    (q_agg_gini_concentration) summarizes to one number and the
    Pareto head-counts read from the other end; the dashboard
    rendering of revenue inequality.

    Plan: the gini machinery on exact integer cents — per-customer
    bigint revenue, global ascending ranks AND cumulative sums from
    ONE blocked-prefix pass (operators/prefix.py: two sum columns in
    the same window; no single-partition sort), then a 10-row decile
    frame broadcast-joins the rows at ranks ⌊d·n/10⌋. Determinism:
    all-integer ranks/cums, exact divisions, e6 shares."""
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100.0 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
        .withColumn("one", F.lit(1).cast("bigint"))
        .localCheckpoint(eager=False)  # totals probe + prefix pass
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").alias("t"),
    )
    blocked = rev.withColumn("blk", F.expr("cents DIV 10000000"))
    ranked = running_totals_blocked(
        blocked,
        order_cols=["cents", "o_custkey"],
        block_cols=["blk"],
        sum_cols={"one": "rnk", "cents": "cum"},
    )
    deciles = F.broadcast(
        tot.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
            "n",
            "t",
        ).select(
            F.col("decile").cast("bigint").alias("decile"),
            F.expr("(decile * n) DIV 10").alias("target_rnk"),
            "n",
            "t",
        )
    )
    return ranked.join(
        deciles, F.col("rnk") == F.col("target_rnk")
    ).select(
        "decile",
        F.col("rnk").alias("rank"),
        dround(F.col("rnk").cast("double") / F.col("n"), 6).alias(
            "pop_share"
        ),
        dround(F.col("cum").cast("double") / F.col("t"), 6).alias(
            "revenue_share"
        ),
    )


# --------------------------------------------------------------------------
# Contingency / two-sample inference (chi-square, Welch, SRM, CUPED)
# --------------------------------------------------------------------------


@register(
    "q_agg_chi2_independence",
    oracle="""
    WITH obs AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
             CAST(count(*) AS BIGINT) AS o
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    spine AS (
      SELECT r.rf, c.ls
      FROM (SELECT DISTINCT rf FROM obs) r
      CROSS JOIN (SELECT DISTINCT ls FROM obs) c
    ),
    cells AS (
      SELECT s.rf, s.ls, CAST(coalesce(o.o, 0) AS BIGINT) AS o
      FROM spine s LEFT JOIN obs o ON s.rf = o.rf AND s.ls = o.ls
    ),
    rt AS (SELECT rf, CAST(sum(o) AS BIGINT) AS rtot FROM cells GROUP BY rf),
    ct AS (SELECT ls, CAST(sum(o) AS BIGINT) AS ctot FROM cells GROUP BY ls),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    t AS (
      SELECT rf, ls, o,
             CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE)
               AS e
      FROM cells JOIN rt USING (rf) JOIN ct USING (ls) CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST((count(DISTINCT rf) - 1) * (count(DISTINCT ls) - 1)
                AS BIGINT) AS dof,
           CAST(sum(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
                         AS DECIMAL(25,6))) AS DOUBLE) AS chi2_stat
    FROM t
    """,
)
def q_agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns (return flag x line status) — the workhorse "are these two
    labels associated?" audit (segment vs churn, source vs language,
    variant vs outcome class): chi2 = sum over cells of (O-E)^2/E with
    E = row_total * col_total / N, summed over the FULL dense |R|x|C|
    grid — zero-count combinations (e.g. TPC-H has no (A,O)/(R,O)
    lineitem cells) contribute their (0-E)^2/E = E term, exactly as the
    textbook statistic requires; n_cells is therefore |R|x|C| and dof
    (|R|-1)x(|C|-1) over the same grid.

    Plan: ONE hash aggregate collapses the fact stream to the observed
    contingency cells (bounded by label cardinalities, not data
    volume); the dense grid is a broadcast cross join of the two
    distinct label sets left-joined back onto the observed cells with
    a zero fill; the marginals are two aggregates OVER THE dense CELLS
    frame (pinned via localCheckpoint so the stream is scanned once)
    joined back by broadcast, and the statistic is one final scalar
    aggregate.
    Determinism: observed counts are integers, each expected count is
    the identically-written double product/quotient of integer
    marginals, and the per-cell terms go through the decimal sum — no
    libm anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint(eager=False)  # spine + join + marginals: one
        # lineitem scan, the tiny observed-cells frame is reused
    )
    spine = (
        obs.select("l_returnflag")
        .distinct()
        .crossJoin(F.broadcast(obs.select("l_linestatus").distinct()))
    )
    cells = (
        spine.join(
            F.broadcast(obs), ["l_returnflag", "l_linestatus"], "left"
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.coalesce("o", F.lit(0)).cast("bigint").alias("o"),
        )
        .localCheckpoint(eager=False)  # dense grid reused by marginals
        # + totals + final statistic
    )
    rt = cells.groupBy("l_returnflag").agg(F.sum("o").alias("rtot"))
    ct = cells.groupBy("l_linestatus").agg(F.sum("o").alias("ctot"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = (
        F.col("rtot").cast("double")
        * F.col("ctot").cast("double")
        / F.col("n").cast("double")
    )
    diff = F.col("o").cast("double") - e
    j = (
        cells.join(F.broadcast(rt), "l_returnflag")
        .join(F.broadcast(ct), "l_linestatus")
        .crossJoin(F.broadcast(tot))
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        (
            (F.countDistinct("l_returnflag") - 1)
            * (F.countDistinct("l_linestatus") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.sum((diff * diff / e).cast("decimal(25,6)"))
        .cast("double")
        .alias("chi2_stat"),
    )


@register(
    "q_agg_welch_ttest",
    oracle=f"""
    WITH g AS (
      SELECT l_returnflag AS rf,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
               AS sx,
             CAST(sum(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      FROM lineitem WHERE l_returnflag IN ('R', 'A')
      GROUP BY l_returnflag
    ),
    w AS (
      SELECT r.n AS n1, r.sx AS sx1, r.sxx AS sxx1,
             a.n AS n2, a.sx AS sx2, a.sxx AS sxx2
      FROM (SELECT * FROM g WHERE rf = 'R') r
      CROSS JOIN (SELECT * FROM g WHERE rf = 'A') a
    ),
    v AS (
      SELECT n1, n2, sx1 / n1 AS m1, sx2 / n2 AS m2,
             (sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1 AS vn1,
             (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2 AS vn2
      FROM w
    )
    SELECT n1, n2, m1 AS mean_r, m2 AS mean_a,
           (m1 - m2) / ({sql_dround("sqrt(greatest(vn1 + vn2, 0))", 6)})
             AS t_stat,
           {sql_dround(
               "(vn1 + vn2) * (vn1 + vn2)"
               " / (vn1 * vn1 / (n1 - 1) + vn2 * vn2 / (n2 - 1))",
               6,
           )} AS df_welch
    FROM v
    """,
)
def q_agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on extended price between the
    returned ('R') and acknowledged ('A') line populations — the
    default two-sample mean test when group variances differ (the
    equal-variance Student test silently miscalibrates), with the
    Welch–Satterthwaite degrees of freedom.

    Plan: one conditional hash aggregate collapses the stream to two
    (group, n, sum, sum-of-squares) moment rows; the pivot to a single
    comparison row is a 2-row broadcast cross join — nothing after the
    scan is data-sized. Determinism: moment sums go through the decimal
    detour (sum-of-squares through decimal(38,6): price^2 ~ 1e10 per
    row, so decimal(25,6) would overflow near ~1e9 rows — the widened
    scale holds to ~1e22 absolute, past the 100 TB design point). The
    sum-of-squares exceeds 2^53 unscaled, so its decimal-to-double cast
    is double-rounded in DuckDB (the documented suite gotcha, same as
    gini) — BOTH closings that consume it are therefore e6-rounded
    (the t sqrt and df_welch), which absorbs the ≲1e-9 cast wobble with
    ~1e3 margin; means/counts stay exact."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    g = (
        li.filter(F.col("l_returnflag").isin("R", "A"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(x.cast("decimal(25,6)")).cast("double").alias("sx"),
            F.sum((x * x).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx"),
        )
        .localCheckpoint(eager=False)  # both group filters: one scan
    )
    r = g.filter(F.col("l_returnflag") == "R").select(
        F.col("n").alias("n1"),
        F.col("sx").alias("sx1"),
        F.col("sxx").alias("sxx1"),
    )
    a = g.filter(F.col("l_returnflag") == "A").select(
        F.col("n").alias("n2"),
        F.col("sx").alias("sx2"),
        F.col("sxx").alias("sxx2"),
    )
    w = r.crossJoin(F.broadcast(a))
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = F.col("sx1") / n1
    m2 = F.col("sx2") / n2
    vn1 = (F.col("sxx1") - F.col("sx1") * F.col("sx1") / n1) / (n1 - 1) / n1
    vn2 = (F.col("sxx2") - F.col("sx2") * F.col("sx2") / n2) / (n2 - 1) / n2
    return w.select(
        "n1",
        "n2",
        m1.alias("mean_r"),
        m2.alias("mean_a"),
        (
            (m1 - m2)
            / dround(F.sqrt(F.greatest(vn1 + vn2, F.lit(0.0))), 6)
        ).alias("t_stat"),
        dround(
            (vn1 + vn2)
            * (vn1 + vn2)
            / (vn1 * vn1 / (n1 - 1) + vn2 * vn2 / (n2 - 1)),
            6,
        ).alias("df_welch"),
    )


# chi-square 95th percentile at 1 degree of freedom: the SRM alarm bar
_SRM_CRIT = 3.841458820694124


@register(
    "q_ab_srm_check",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    g0 AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(count(*) AS BIGINT) AS n
      FROM u GROUP BY user_id % 2
    ),
    g AS (
      SELECT s.arm, CAST(coalesce(g0.n, 0) AS BIGINT) AS n
      FROM (SELECT CAST(0 AS BIGINT) AS arm UNION ALL
            SELECT CAST(1 AS BIGINT)) s
      LEFT JOIN g0 ON s.arm = g0.arm
    ),
    w AS (
      SELECT a.n AS n0, b.n AS n1
      FROM (SELECT * FROM g WHERE arm = 0) a
      CROSS JOIN (SELECT * FROM g WHERE arm = 1) b
    ),
    s AS (
      SELECT n0, n1, CAST(n0 + n1 AS DOUBLE) / 2.0 AS e FROM w
    )
    SELECT n0 AS n_arm0, n1 AS n_arm1,
           (CAST(n0 AS DOUBLE) - e) * (CAST(n0 AS DOUBLE) - e) / e
           + (CAST(n1 AS DOUBLE) - e) * (CAST(n1 AS DOUBLE) - e) / e
             AS chi2_stat,
           CAST(CASE WHEN (CAST(n0 AS DOUBLE) - e) * (CAST(n0 AS DOUBLE) - e)
                          / e
                          + (CAST(n1 AS DOUBLE) - e)
                          * (CAST(n1 AS DOUBLE) - e) / e
                          > {_SRM_CRIT} THEN 1 ELSE 0 END
                AS INTEGER) AS srm_flag
    FROM s
    """,
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the first gate every A/B readout
    must pass: chi-square goodness-of-fit of the realized arm sizes
    against the designed 50/50 split over the RANDOMIZATION UNIT
    (distinct users, not events — event-level counts would double-count
    heavy users). A triggered flag (chi2 > 3.84, p < 0.05) means the
    assignment itself is broken and every downstream metric is suspect.

    Plan: a distinct-user hash aggregate (scales: partial aggregation
    on user_id, no 2-key skew — the arm label is derived AFTER the
    distinct), a literal two-arm spine left-joined onto the arm counts
    (an entirely-missing arm yields n=0 and a triggered flag rather
    than an empty result), and a broadcast pivot to a single row. Determinism: integer counts, identically-written double
    arithmetic, no libm; the flag compares against a shared literal."""
    e = load_table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    g0 = users.groupBy(
        (F.col("user_id") % 2).cast("bigint").alias("arm")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # Literal two-arm spine: an arm with ZERO users (the most extreme
    # possible mismatch) must surface as n=0 and a triggered flag, not
    # silently vanish into an empty pivot frame.
    arms = spark.range(2).select(F.col("id").cast("bigint").alias("arm"))
    g = (
        arms.join(g0, "arm", "left")
        .select("arm", F.coalesce("n", F.lit(0)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)  # both arm filters: one scan
    )
    a0 = g.filter(F.col("arm") == 0).select(F.col("n").alias("n0"))
    a1 = g.filter(F.col("arm") == 1).select(F.col("n").alias("n1"))
    w = a0.crossJoin(F.broadcast(a1))
    exp = (F.col("n0") + F.col("n1")).cast("double") / F.lit(2.0)
    d0 = F.col("n0").cast("double") - exp
    d1 = F.col("n1").cast("double") - exp
    chi2 = d0 * d0 / exp + d1 * d1 / exp
    return w.select(
        F.col("n0").alias("n_arm0"),
        F.col("n1").alias("n_arm1"),
        chi2.alias("chi2_stat"),
        F.when(chi2 > _SRM_CRIT, 1).otherwise(0).cast("int").alias("srm_flag"),
    )


@register(
    "q_ab_cuped_lift",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             coalesce(CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUT}'
                                    THEN CAST(value AS DECIMAL(25,6)) END)
                           AS DOUBLE), 0.0) AS x,
             coalesce(CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUT}'
                                    THEN CAST(value AS DECIMAL(25,6)) END)
                           AS DOUBLE), 0.0) AS y
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
      FROM per_user GROUP BY user_id % 2
    ),
    w AS (
      SELECT a.n AS n0, a.sx AS sx0, a.sy AS sy0,
             b.n AS n1, b.sx AS sx1, b.sy AS sy1,
             a.n + b.n AS n,
             a.sx + b.sx AS sx, a.sy + b.sy AS sy,
             a.sxy + b.sxy AS sxy, a.sxx + b.sxx AS sxx,
             a.syy + b.syy AS syy
      FROM (SELECT * FROM g WHERE arm = 0) a
      CROSS JOIN (SELECT * FROM g WHERE arm = 1) b
    ),
    t AS (
      SELECT n0, n1, n, sx0, sy0, sx1, sy1,
             (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx) AS theta,
             sx / n AS mx,
             (CAST(n AS DOUBLE) * sxy - sx * sy)
             * (CAST(n AS DOUBLE) * sxy - sx * sy)
             / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                * (CAST(n AS DOUBLE) * syy - sy * sy)) AS rho2
      FROM w
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           {sql_dround("theta", 6)} AS theta,
           {sql_dround("sy1 / n1 - sy0 / n0", 6)} AS lift_raw,
           {sql_dround(
               "(sy1 / n1 - theta * (sx1 / n1 - mx))"
               " - (sy0 / n0 - theta * (sx0 / n0 - mx))",
               6,
           )} AS lift_cuped,
           {sql_dround("rho2", 6)} AS var_reduction
    FROM t
    """,
)
def q_ab_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout — the
    industry-standard pre-experiment covariate adjustment (Deng et al.,
    WSDM'13 formulation): per user, X = pre-period value (first half of
    the month), Y = in-experiment value (second half), arms assigned by
    user_id parity; theta = cov(X,Y)/var(X) pooled over all users,
    adjusted metric Y' = Y − theta·(X − mean(X)). Reported: the raw and
    CUPED-adjusted lifts and the variance-reduction factor rho² (the
    fraction of metric variance the covariate removes).

    Plan: one per-user conditional aggregate (hash, partial-agg
    combines, randomization unit = user), one 2-row per-arm moment
    aggregate, and a broadcast pivot to a single row — after the
    per-user collapse nothing is data-sized. Determinism: per-user
    sums and per-arm moment sums both ride the decimal detour (the
    moment products through decimal(38,6)); the closing theta/lift
    algebra is identically-written double arithmetic with NO libm, and
    every reported statistic is e6-rounded to absorb the >2^53
    decimal-cast wobble of the big moment sums (same discipline as
    welch/gini)."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit(_CUT).cast("timestamp")
    per_user = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(F.col("ts") < cut, F.col("value")).cast(
                    "decimal(25,6)"
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("x"),
        F.coalesce(
            F.sum(
                F.when(F.col("ts") >= cut, F.col("value")).cast(
                    "decimal(25,6)"
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("y"),
    )
    g = (
        per_user.groupBy(
            (F.col("user_id") % 2).cast("bigint").alias("arm")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("x").cast("decimal(25,6)")).cast("double").alias("sx"),
            F.sum(F.col("y").cast("decimal(25,6)")).cast("double").alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)"))
            .cast("double")
            .alias("syy"),
        )
        .localCheckpoint(eager=False)  # both arm filters: one scan
    )
    a0 = g.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"),
        F.col("sx").alias("sx0"),
        F.col("sy").alias("sy0"),
        F.col("sxy").alias("sxy0"),
        F.col("sxx").alias("sxx0"),
        F.col("syy").alias("syy0"),
    )
    a1 = g.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"),
        F.col("sx").alias("sx1"),
        F.col("sy").alias("sy1"),
        F.col("sxy").alias("sxy1"),
        F.col("sxx").alias("sxx1"),
        F.col("syy").alias("syy1"),
    )
    w = a0.crossJoin(F.broadcast(a1))
    n = (F.col("n0") + F.col("n1")).cast("double")
    sx = F.col("sx0") + F.col("sx1")
    sy = F.col("sy0") + F.col("sy1")
    sxy = F.col("sxy0") + F.col("sxy1")
    sxx = F.col("sxx0") + F.col("sxx1")
    syy = F.col("syy0") + F.col("syy1")
    cov_n = n * sxy - sx * sy
    var_xn = n * sxx - sx * sx
    var_yn = n * syy - sy * sy
    theta = cov_n / var_xn
    mx = sx / n
    m_adj0 = F.col("sy0") / F.col("n0") - theta * (
        F.col("sx0") / F.col("n0") - mx
    )
    m_adj1 = F.col("sy1") / F.col("n1") - theta * (
        F.col("sx1") / F.col("n1") - mx
    )
    return w.select(
        (F.col("n0") + F.col("n1")).cast("bigint").alias("n_users"),
        dround(theta, 6).alias("theta"),
        dround(
            F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0"), 6
        ).alias("lift_raw"),
        dround(m_adj1 - m_adj0, 6).alias("lift_cuped"),
        dround(cov_n * cov_n / (var_xn * var_yn), 6).alias(
            "var_reduction"
        ),
    )


# --------------------------------------------------------------------------
# Frequency-domain and rank-based series diagnostics
# --------------------------------------------------------------------------

# Periodogram probe frequencies, in cycles per the _N_HOURS window:
# k=4 ~ weekly, k=30 = daily, k=60 = half-day — the seasonalities an
# ops series actually carries. floor(epoch('2024-01-01')/3600): the
# fixed hour origin of the testdata month.
_N_HOURS = 720
_HARMONICS = (4, 30, 60)
_EPOCH_H = 473352
_TWO_PI = 6.283185307179586


@register(
    "q_ts_spectral_peaks",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) - {_EPOCH_H} AS t,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, floor(epoch(ts) / 3600)
    ),
    terms AS (
      SELECT event_type, k, c,
             {sql_dround(
                 f"cos({_TWO_PI} * CAST(k * t AS DOUBLE) / {_N_HOURS}.0)", 6
             )} AS cosr,
             {sql_dround(
                 f"sin({_TWO_PI} * CAST(k * t AS DOUBLE) / {_N_HOURS}.0)", 6
             )} AS sinr
      FROM hourly, unnest({list(_HARMONICS)}) AS u(k)
    ),
    f AS (
      SELECT event_type, CAST(k AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(CAST(CAST(c AS DOUBLE) * cosr AS DECIMAL(25,6)))
                  AS DOUBLE) AS cr,
             CAST(sum(CAST(CAST(c AS DOUBLE) * sinr AS DECIMAL(25,6)))
                  AS DOUBLE) AS ci
      FROM terms GROUP BY event_type, k
    )
    SELECT event_type, k, CAST({_N_HOURS} AS DOUBLE) / k AS period_hours,
           n_hours, cr * cr + ci * ci AS power
    FROM f
    """,
)
def q_ts_spectral_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power of the hourly event-count series at fixed
    candidate frequencies (weekly / daily / half-day harmonics of the
    month) per event type — the discrete-Fourier seasonality probe
    behind "does this stream have a diurnal cycle?" monitoring:
    P(k) = (Σ c_t·cos(2πkt/N))² + (Σ c_t·sin(2πkt/N))².

    Plan: the stream collapses to the hourly (type, t, count) grain
    first; a 3-literal harmonic explode and one hash aggregate per
    (type, k) close it — work is |hours|×|harmonics|, bounded by the
    time span, never by event volume; absent hours contribute exactly 0
    to the sums so no densification is needed. Determinism: t is an
    integer offset from a fixed epoch-hour literal, each cos/sin (the
    per-term libm calls) is e6-rounded, products with integer counts
    are exact IEEE, and the sums ride the decimal detour; the closing
    power is identically-written double arithmetic."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
            - F.lit(_EPOCH_H)
        ).alias("t"),
    ).agg(F.count(F.lit(1)).alias("c"))
    terms = hourly.select(
        "event_type",
        "t",
        "c",
        F.explode(F.array(*[F.lit(k) for k in _HARMONICS])).alias("k"),
    )
    ang = (
        F.lit(_TWO_PI)
        * (F.col("k") * F.col("t")).cast("double")
        / F.lit(float(_N_HOURS))
    )
    cosr = dround(F.cos(ang), 6)
    sinr = dround(F.sin(ang), 6)
    f = terms.groupBy(
        "event_type", F.col("k").cast("bigint").alias("k")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum((F.col("c").cast("double") * cosr).cast("decimal(25,6)"))
        .cast("double")
        .alias("cr"),
        F.sum((F.col("c").cast("double") * sinr).cast("decimal(25,6)"))
        .cast("double")
        .alias("ci"),
    )
    return f.select(
        "event_type",
        "k",
        (F.lit(float(_N_HOURS)) / F.col("k")).alias("period_hours"),
        "n_hours",
        (F.col("cr") * F.col("cr") + F.col("ci") * F.col("ci")).alias(
            "power"
        ),
    )


@register(
    "q_ts_spearman_corr",
    oracle=f"""
    WITH hx AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events WHERE event_type = 'click'
      GROUP BY floor(epoch(ts) / 3600)
    ),
    hy AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY floor(epoch(ts) / 3600)
    ),
    sp AS (
      SELECT CAST({_EPOCH_H} + r.range AS BIGINT) AS h
      FROM range({_N_HOURS}) r
    ),
    j AS (
      SELECT coalesce(hx.x, 0) AS x, coalesce(hy.y, 0) AS y
      FROM sp LEFT JOIN hx USING (h) LEFT JOIN hy USING (h)
    ),
    gx AS (
      SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM j GROUP BY x
    ),
    gxr AS (
      SELECT x,
             CAST(sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) - cnt
                  AS DOUBLE)
             + (CAST(cnt AS DOUBLE) + 1) / 2.0 AS rx
      FROM gx
    ),
    gy AS (
      SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM j GROUP BY y
    ),
    gyr AS (
      SELECT y,
             CAST(sum(cnt) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) - cnt
                  AS DOUBLE)
             + (CAST(cnt AS DOUBLE) + 1) / 2.0 AS ry
      FROM gy
    ),
    r AS (
      SELECT rx, ry FROM j JOIN gxr USING (x) JOIN gyr USING (y)
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(CAST(rx AS DECIMAL(25,6))) AS DOUBLE) AS srx,
             CAST(sum(CAST(ry AS DECIMAL(25,6))) AS DOUBLE) AS sry,
             CAST(sum(CAST(rx * ry AS DECIMAL(25,6))) AS DOUBLE) AS srxy,
             CAST(sum(CAST(rx * rx AS DECIMAL(25,6))) AS DOUBLE) AS srxx,
             CAST(sum(CAST(ry * ry AS DECIMAL(25,6))) AS DOUBLE) AS sryy
      FROM r
    )
    SELECT n_hours,
           (CAST(n_hours AS DOUBLE) * srxy - srx * sry)
           / (({sql_dround(
                 "sqrt(greatest("
                 "CAST(n_hours AS DOUBLE) * srxx - srx * srx, 0))",
                 6,
             )})
              * ({sql_dround(
                    "sqrt(greatest("
                    "CAST(n_hours AS DOUBLE) * sryy - sry * sry, 0))",
                    6,
                )})) AS rho_spearman
    FROM m
    """,
)
def q_ts_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the hourly click and purchase
    count series — the monotone-association twin of Pearson (robust to
    outlier hours and nonlinear coupling), with exact average-rank tie
    handling: rho = Pearson(rank(x), rank(y)).

    Plan: the stream collapses to two hourly count series (time-grain
    bounded — |hours| grows with the span, not event volume), DENSIFIED
    onto the fixed 720-hour month spine with zero fill — hours where
    neither series has events enter as exact (0,0) tie pairs, so rho is
    the statistic over the full observation window, not just the active
    hours; average ranks come from
    cumulative counts over the per-VALUE group frames (≤|hours| rows
    each — two bounded global windows, allowlisted like q_ts_xcorr's)
    joined back by broadcast, and the closing Pearson is one moment
    aggregate. Determinism: ranks are exact .5-multiples from integer
    cumulative counts, rank products are exactly-representable
    dyadics summed through the decimal detour, and the two closing
    sqrts (the only libm) are e6-rounded before the final division."""
    e = load_table(spark, sf_dir, "events")
    h = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    hx = (
        e.filter(F.col("event_type") == "click")
        .groupBy(h)
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    hy = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(h)
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    spine = spark.range(_N_HOURS).select(
        (F.col("id") + F.lit(_EPOCH_H)).cast("bigint").alias("h")
    )
    j = (
        spine.join(hx, "h", "left")
        .join(hy, "h", "left")
        .select(
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
        .localCheckpoint(eager=False)  # rank passes + final moments:
        # the hourly frame is computed once
    )

    def avg_ranks(col: str, rank_name: str) -> DataFrame:
        grp = j.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return grp.select(
            col,
            (
                (F.sum("cnt").over(w) - F.col("cnt")).cast("double")
                + (F.col("cnt").cast("double") + 1) / 2.0
            ).alias(rank_name),
        )

    r = j.join(F.broadcast(avg_ranks("x", "rx")), "x").join(
        F.broadcast(avg_ranks("y", "ry")), "y"
    )
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(F.col("rx").cast("decimal(25,6)")).cast("double").alias("srx"),
        F.sum(F.col("ry").cast("decimal(25,6)")).cast("double").alias("sry"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(25,6)"))
        .cast("double")
        .alias("srxy"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(25,6)"))
        .cast("double")
        .alias("srxx"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(25,6)"))
        .cast("double")
        .alias("sryy"),
    )
    nd = F.col("n_hours").cast("double")
    return m.select(
        "n_hours",
        (
            (nd * F.col("srxy") - F.col("srx") * F.col("sry"))
            / (
                dround(
                    F.sqrt(
                        F.greatest(
                            nd * F.col("srxx")
                            - F.col("srx") * F.col("srx"),
                            F.lit(0.0),
                        )
                    ),
                    6,
                )
                * dround(
                    F.sqrt(
                        F.greatest(
                            nd * F.col("sryy")
                            - F.col("sry") * F.col("sry"),
                            F.lit(0.0),
                        )
                    ),
                    6,
                )
            )
        ).alias("rho_spearman"),
    )


@register(
    "q_ts_log_returns",
    oracle=f"""
    WITH daily AS (
      SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
    ),
    r AS (
      SELECT rf,
             {sql_dround(
                 "ln(rev / lag(rev) OVER (PARTITION BY rf ORDER BY day))",
                 6,
             )} AS ret
      FROM daily
    ),
    m AS (
      SELECT rf, CAST(count(ret) AS BIGINT) AS n_rets,
             CAST(sum(CAST(ret AS DECIMAL(25,6))) AS DOUBLE) AS s,
             CAST(sum(CAST(ret * ret AS DECIMAL(38,12))) AS DOUBLE) AS ss
      FROM r WHERE ret IS NOT NULL GROUP BY rf
    )
    SELECT rf AS l_returnflag, n_rets,
           s / n_rets AS mean_ret,
           {sql_dround(
               "sqrt(greatest((ss - s * s / n_rets) / (n_rets - 1), 0))", 6
           )} AS realized_vol
    FROM m
    """,
)
def q_ts_log_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily log returns of the revenue series per return flag and
    their realized volatility (sample sigma of ln(rev_t/rev_{t-1})) —
    the standard stationarity transform + dispersion readout for any
    level series (finance realized vol, traffic burstiness in log
    space).

    Plan: one hash aggregate to the daily grain, ONE lag window
    partitioned by flag over |days| rows, one per-flag moment
    aggregate — time-grain bounded throughout. Determinism: daily
    revenue rides the decimal detour; each return's ln (the libm call)
    is e6-rounded at the source, so squares are exact 12-decimal
    dyadic-free values summed at decimal(38,12); the closing sqrt is
    e6-rounded and zero-clamped (bollinger discipline)."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("rev")
    )
    w = Window.partitionBy("l_returnflag").orderBy("day")
    r = daily.select(
        "l_returnflag",
        dround(F.log(F.col("rev") / F.lag("rev").over(w)), 6).alias("ret"),
    )
    ret = F.col("ret")
    m = (
        r.filter(ret.isNotNull())
        .groupBy("l_returnflag")
        .agg(
            F.count("ret").cast("bigint").alias("n_rets"),
            F.sum(ret.cast("decimal(25,6)")).cast("double").alias("s"),
            F.sum((ret * ret).cast("decimal(38,12)"))
            .cast("double")
            .alias("ss"),
        )
    )
    n = F.col("n_rets")
    return m.select(
        "l_returnflag",
        "n_rets",
        (F.col("s") / n).alias("mean_ret"),
        dround(
            F.sqrt(
                F.greatest(
                    (F.col("ss") - F.col("s") * F.col("s") / n) / (n - 1),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("realized_vol"),
    )


# Two-sided alpha=0.05 and 80%-power normal quantiles — the standard
# experiment-sizing constants.
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621


@register(
    "q_ab_power_mde",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS x
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      FROM per_user GROUP BY user_id % 2
    ),
    w AS (
      SELECT a.n AS n0, a.sx AS sx0, a.sxx AS sxx0,
             b.n AS n1, b.sx AS sx1, b.sxx AS sxx1
      FROM (SELECT * FROM g WHERE arm = 0) a
      CROSS JOIN (SELECT * FROM g WHERE arm = 1) b
    ),
    v AS (
      SELECT n0, n1, sx0 / n0 AS m0,
             (sxx0 - sx0 * sx0 / n0) / (n0 - 1) AS v0,
             (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS v1
      FROM w
    ),
    s AS (
      SELECT n0, n1, m0,
             {sql_dround("sqrt(greatest(v0 / n0 + v1 / n1, 0))", 6)} AS se
      FROM v
    )
    SELECT n0 AS n_arm0, n1 AS n_arm1, se,
           {sql_dround(f"({_Z_ALPHA} + {_Z_BETA}) * se", 6)} AS mde_abs,
           {sql_dround(f"({_Z_ALPHA} + {_Z_BETA}) * se / m0", 6)}
             AS mde_rel
    FROM s
    """,
)
def q_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect of the running A/B setup — the
    experiment-sizing readout every test plan starts from: with the
    realized per-arm sample sizes and variances of the per-user metric,
    the smallest true lift detectable at alpha=0.05 (two-sided) with
    80% power is (z_a + z_b)·se, se = sqrt(var0/n0 + var1/n1); also
    reported relative to the control mean.

    Plan: one per-user hash aggregate (randomization unit = user), one
    2-row per-arm moment aggregate, broadcast pivot to a single row —
    after the per-user collapse nothing is data-sized. Determinism:
    moment sums ride the decimal detour (x² at decimal(38,6), the
    welch bound); the se sqrt is e6-rounded and zero-clamped, and both
    closings that consume it are e6-rounded with shared z literals."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(25,6)"))
        .cast("double")
        .alias("x")
    )
    x = F.col("x")
    g = (
        per_user.groupBy(
            (F.col("user_id") % 2).cast("bigint").alias("arm")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(x.cast("decimal(25,6)")).cast("double").alias("sx"),
            F.sum((x * x).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx"),
        )
        .localCheckpoint(eager=False)  # both arm filters: one scan
    )
    a = g.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"),
        F.col("sx").alias("sx0"),
        F.col("sxx").alias("sxx0"),
    )
    b = g.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"),
        F.col("sx").alias("sx1"),
        F.col("sxx").alias("sxx1"),
    )
    w = a.crossJoin(F.broadcast(b))
    n0, n1 = F.col("n0"), F.col("n1")
    m0 = F.col("sx0") / n0
    v0 = (F.col("sxx0") - F.col("sx0") * F.col("sx0") / n0) / (n0 - 1)
    v1 = (F.col("sxx1") - F.col("sx1") * F.col("sx1") / n1) / (n1 - 1)
    se = dround(F.sqrt(F.greatest(v0 / n0 + v1 / n1, F.lit(0.0))), 6)
    zsum = F.lit(_Z_ALPHA + _Z_BETA)
    out = w.select(
        n0.alias("n_arm0"),
        n1.alias("n_arm1"),
        se.alias("se"),
        dround(zsum * se, 6).alias("mde_abs"),
        dround(zsum * se / m0, 6).alias("mde_rel"),
    )
    return out


@register(
    "q_ab_bayes_posterior",
    oracle=f"""
    WITH lab AS (
      SELECT CASE WHEN ts < TIMESTAMP '{_CUT}' THEN 'early'
                  ELSE 'late' END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
    ),
    g AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM lab GROUP BY arm
    ),
    piv AS (
      SELECT e.n AS n_early, e.k AS k_early, l.n AS n_late, l.k AS k_late
      FROM (SELECT * FROM g WHERE arm = 'early') e
      CROSS JOIN (SELECT * FROM g WHERE arm = 'late') l
    ),
    post AS (
      SELECT *,
             CAST(1 + k_early AS DOUBLE) / (2 + n_early) AS mean_early,
             CAST(1 + k_late AS DOUBLE) / (2 + n_late) AS mean_late,
             (CAST(1 + k_early AS DOUBLE) * (1 + n_early - k_early))
               / ((CAST(2 + n_early AS DOUBLE)) * (2 + n_early)
                  * (3 + n_early)) AS var_early,
             (CAST(1 + k_late AS DOUBLE) * (1 + n_late - k_late))
               / ((CAST(2 + n_late AS DOUBLE)) * (2 + n_late)
                  * (3 + n_late)) AS var_late
      FROM piv
    )
    SELECT n_early, k_early, n_late, k_late,
           {sql_dround("mean_early", 6)} AS post_mean_early,
           {sql_dround("mean_late", 6)} AS post_mean_late,
           {sql_dround(
               "(mean_late - mean_early)"
               " / (" + sql_dround("sqrt(var_early + var_late)", 6)
               + ")", 6)}
               AS post_z
    FROM post
    """,
)
def q_ab_bayes_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout on purchase conversion, early vs late
    month arms (q_ab_proportion_test's split): Beta(1,1) prior →
    posterior Beta(1+k, 1+n−k) per arm, with closed-form posterior
    means and variances and the normal-approximation z for
    P(late > early) — the experimentation platform's 'probability to
    beat control' summary, complementing the frequentist z-test and
    CUPED lift with the posterior view (identical at these n, but the
    Beta form stays calibrated at tiny k where the z-test breaks).

    Plan: ONE conditional aggregate to two (arm, n, k) rows, a 2-row
    cross-join pivot — nothing after the scan is data-sized.
    Determinism: counts are integers; every posterior moment is a
    closed-form rational of small integers (exact IEEE divisions);
    the single sqrt is e6-rounded, as is each emitted float."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.when(F.col("ts") < F.lit(_CUT).cast("timestamp"), F.lit("early"))
        .otherwise(F.lit("late"))
        .alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    g = (
        lab.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("conv").cast("bigint").alias("k"),
        )
        .localCheckpoint(eager=False)
    )
    early = g.filter(F.col("arm") == "early").select(
        F.col("n").alias("n_early"), F.col("k").alias("k_early")
    )
    late = g.filter(F.col("arm") == "late").select(
        F.col("n").alias("n_late"), F.col("k").alias("k_late")
    )
    piv = early.crossJoin(F.broadcast(late))

    def post_mean(n, k):
        return (1 + F.col(k)).cast("double") / (2 + F.col(n))

    def post_var(n, k):
        return ((1 + F.col(k)).cast("double") * (1 + F.col(n) - F.col(k))) / (
            (2 + F.col(n)).cast("double") * (2 + F.col(n)) * (3 + F.col(n))
        )

    m1 = post_mean("n_early", "k_early")
    m2 = post_mean("n_late", "k_late")
    v1 = post_var("n_early", "k_early")
    v2 = post_var("n_late", "k_late")
    return piv.select(
        "n_early",
        "k_early",
        "n_late",
        "k_late",
        dround(m1, 6).alias("post_mean_early"),
        dround(m2, 6).alias("post_mean_late"),
        dround((m2 - m1) / dround(F.sqrt(v1 + v2), 6), 6).alias("post_z"),
    )


@register(
    "q_ts_granger_lite",
    oracle=f"""
    WITH spine AS (
      SELECT CAST(unnest(range({_EPOCH_H}, {_EPOCH_H + _N_HOURS}))
                  AS BIGINT) AS h
    ),
    hx AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    hy AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    series AS (
      SELECT s.h,
             CAST(coalesce(hx.x, 0) AS BIGINT) AS x,
             CAST(coalesce(hy.y, 0) AS BIGINT) AS y
      FROM spine s
      LEFT JOIN hx ON hx.h = s.h
      LEFT JOIN hy ON hy.h = s.h
    ),
    lagged AS (
      SELECT y,
             lag(y) OVER (ORDER BY h) AS yl,
             lag(x) OVER (ORDER BY h) AS xl
      FROM series
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(yl) AS BIGINT) AS syl,
             CAST(sum(xl) AS BIGINT) AS sxl,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(yl * yl) AS BIGINT) AS sylyl,
             CAST(sum(xl * xl) AS BIGINT) AS sxlxl,
             CAST(sum(y * yl) AS BIGINT) AS syyl,
             CAST(sum(y * xl) AS BIGINT) AS syxl,
             CAST(sum(yl * xl) AS BIGINT) AS sylxl
      FROM lagged WHERE yl IS NOT NULL
    ),
    corrs AS (
      SELECT n,
             {sql_dround(
                 "(CAST(n AS DOUBLE) * syyl"
                 " - CAST(sy AS DOUBLE) * syl) / ("
                 + sql_dround(
                     "sqrt(greatest(CAST(n AS DOUBLE) * syy"
                     " - CAST(sy AS DOUBLE) * sy, 0.0)"
                     " * greatest(CAST(n AS DOUBLE) * sylyl"
                     " - CAST(syl AS DOUBLE) * syl, 0.0))", 6)
                 + ")", 6)} AS r_y_ylag,
             {sql_dround(
                 "(CAST(n AS DOUBLE) * syxl"
                 " - CAST(sy AS DOUBLE) * sxl) / ("
                 + sql_dround(
                     "sqrt(greatest(CAST(n AS DOUBLE) * syy"
                     " - CAST(sy AS DOUBLE) * sy, 0.0)"
                     " * greatest(CAST(n AS DOUBLE) * sxlxl"
                     " - CAST(sxl AS DOUBLE) * sxl, 0.0))", 6)
                 + ")", 6)} AS r_y_xlag,
             {sql_dround(
                 "(CAST(n AS DOUBLE) * sylxl"
                 " - CAST(syl AS DOUBLE) * sxl) / ("
                 + sql_dround(
                     "sqrt(greatest(CAST(n AS DOUBLE) * sylyl"
                     " - CAST(syl AS DOUBLE) * syl, 0.0)"
                     " * greatest(CAST(n AS DOUBLE) * sxlxl"
                     " - CAST(sxl AS DOUBLE) * sxl, 0.0))", 6)
                 + ")", 6)} AS r_ylag_xlag
      FROM m
    )
    SELECT n AS n_hours, r_y_ylag, r_y_xlag, r_ylag_xlag,
           {sql_dround(
               "(r_y_xlag - r_y_ylag * r_ylag_xlag) / ("
               + sql_dround(
                   "sqrt(greatest((1.0 - r_y_ylag * r_y_ylag)"
                   " * (1.0 - r_ylag_xlag * r_ylag_xlag), 0.0))", 6)
               + ")", 6)} AS partial_r
    FROM corrs
    """,
)
def q_ts_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-lite lead-lag probe: does last hour's CLICK volume carry
    information about this hour's PURCHASE volume beyond what last
    hour's purchases already say? Computed as the lag-1 partial
    correlation r(y_t, x_{t-1} | y_{t-1}) = (r_yx − r_yz·r_xz) /
    √((1−r_yz²)(1−r_xz²)) over the densified 720-hour month spine —
    the correlation-identity form of the one-lag Granger regression
    (the partial r is the t-statistic's direction and magnitude
    without the F machinery), alongside the three raw correlations.

    Plan: two filtered hourly hash aggregates densify onto the fixed
    month spine (broadcast-sized), one lag pass over the single
    719-row series (bounded global window, the q_ts_xcorr class), ONE
    integer moment aggregate, per-row closing. Event volume enters
    only through the hourly counts. Determinism: all ten moments are
    exact BIGINTs; the closing n·s / s·s products are computed in
    DOUBLE (each moment cast before the multiply — int64 products
    would wrap at sy ≳ 3e9: Spark wraps silently, DuckDB raises;
    double products are exact below 2^53 and identical IEEE
    expressions on both engines beyond); each correlation clamps its
    cancellation-prone variance product at 0 inside an e6-rounded
    sqrt and e6-rounds the ratio; the partial-correlation closing
    repeats the same discipline on the already-rounded
    correlations."""
    e = load_table(spark, sf_dir, "events")
    h = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    hx = (
        e.filter(F.col("event_type") == "click")
        .groupBy(h)
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    hy = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(h)
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    spine = spark.range(_N_HOURS).select(
        (F.col("id") + F.lit(_EPOCH_H)).cast("bigint").alias("h")
    )
    series = (
        spine.join(hx, "h", "left")
        .join(hy, "h", "left")
        .select(
            "h",
            F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
            F.coalesce("y", F.lit(0)).cast("bigint").alias("y"),
        )
    )
    wo = Window.orderBy("h")
    lagged = series.select(
        "y",
        F.lag("y").over(wo).alias("yl"),
        F.lag("x").over(wo).alias("xl"),
    ).filter(F.col("yl").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("yl").cast("bigint").alias("syl"),
        F.sum("xl").cast("bigint").alias("sxl"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("yl") * F.col("yl")).cast("bigint").alias("sylyl"),
        F.sum(F.col("xl") * F.col("xl")).cast("bigint").alias("sxlxl"),
        F.sum(F.col("y") * F.col("yl")).cast("bigint").alias("syyl"),
        F.sum(F.col("y") * F.col("xl")).cast("bigint").alias("syxl"),
        F.sum(F.col("yl") * F.col("xl")).cast("bigint").alias("sylxl"),
    )

    def corr(sab, sa, sb, saa, sbb):
        # Closing products in DOUBLE (each moment cast BEFORE the
        # multiply): sums stay exact BIGINT, but n*s and s*s products
        # would wrap int64 once sy ≳ 3e9 (Spark wraps silently, DuckDB
        # raises — cross-engine divergence at extreme volume). Double
        # products are exact while moments stay below 2^53 and both
        # engines evaluate the identical IEEE expression beyond that.
        def d(c):
            return F.col(c).cast("double")

        num = d("n") * d(sab) - d(sa) * d(sb)
        den = dround(
            F.sqrt(
                F.greatest(d("n") * d(saa) - d(sa) * d(sa), F.lit(0.0))
                * F.greatest(d("n") * d(sbb) - d(sb) * d(sb), F.lit(0.0))
            ),
            6,
        )
        return dround(num / den, 6)

    corrs = m.select(
        F.col("n").alias("n_hours"),
        corr("syyl", "sy", "syl", "syy", "sylyl").alias("r_y_ylag"),
        corr("syxl", "sy", "sxl", "syy", "sxlxl").alias("r_y_xlag"),
        corr("sylxl", "syl", "sxl", "sylyl", "sxlxl").alias("r_ylag_xlag"),
    )
    pden = dround(
        F.sqrt(
            F.greatest(
                (1.0 - F.col("r_y_ylag") * F.col("r_y_ylag"))
                * (1.0 - F.col("r_ylag_xlag") * F.col("r_ylag_xlag")),
                F.lit(0.0),
            )
        ),
        6,
    )
    return corrs.select(
        "n_hours",
        "r_y_ylag",
        "r_y_xlag",
        "r_ylag_xlag",
        dround(
            (F.col("r_y_xlag") - F.col("r_y_ylag") * F.col("r_ylag_xlag"))
            / pden,
            6,
        ).alias("partial_r"),
    )


@register(
    "q_ts_arch_lm",
    oracle=f"""
    WITH daily AS (
      SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
    ),
    r AS (
      SELECT rf, day,
             {sql_dround(
                 "ln(rev / lag(rev) OVER (PARTITION BY rf ORDER BY day))",
                 6,
             )} AS ret
      FROM daily
    ),
    m AS (
      SELECT rf,
             CAST(sum(CAST(ret AS DECIMAL(25,6))) AS DOUBLE)
               / count(ret) AS mr
      FROM r WHERE ret IS NOT NULL GROUP BY rf
    ),
    sq AS (
      SELECT r.rf, r.day,
             {sql_dround(
                 "(" + sql_dround("r.ret - m.mr", 6) + ")"
                 " * (" + sql_dround("r.ret - m.mr", 6) + ")", 12,
             )} AS y
      FROM r JOIN m ON r.rf = m.rf WHERE r.ret IS NOT NULL
    ),
    lagged AS (
      SELECT rf, y,
             lag(y) OVER (PARTITION BY rf ORDER BY day) AS x
      FROM sq
    ),
    s AS (
      SELECT rf,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(sum(CAST({sql_dround("x * y", 12)}
                           AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST({sql_dround("x * x", 12)}
                           AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(sum(CAST({sql_dround("y * y", 12)}
                           AS DECIMAL(38,12))) AS DOUBLE) AS syy
      FROM lagged WHERE x IS NOT NULL GROUP BY rf
    )
    SELECT rf AS l_returnflag, n AS n_obs,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) <= 0
                THEN NULL
                ELSE {sql_dround(
                    "(n * sxy - sx * sy) * (n * sxy - sx * sy)"
                    " / ((n * sxx - sx * sx) * (n * syy - sy * sy))",
                    6)}
           END AS r2,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) <= 0
                THEN NULL
                ELSE {sql_dround(
                    "n * ((n * sxy - sx * sy) * (n * sxy - sx * sy)"
                    " / ((n * sxx - sx * sx) * (n * syy - sy * sy)))",
                    6)}
           END AS lm_stat
    FROM s
    """,
)
def q_ts_arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH LM test (lag 1, lite) on the daily revenue
    log-return series per return flag: regress today's squared
    demeaned return on yesterday's; LM = n·R² ~ χ²(1) under no-ARCH.
    A significant LM says volatility CLUSTERS — variance forecasting
    (GARCH, vol targeting) has signal to work with — the conditional-
    heteroskedasticity companion to q_ts_log_returns' unconditional
    realized vol and q_ts_ljung_box's autocorrelation-in-levels.

    Plan: one hash aggregate to the daily grain, two lag windows per
    flag over |days| rows, one per-flag moment aggregate, one-row
    closing per flag — time-grain bounded throughout. Determinism:
    returns e6-round their ln; the demeaned square is e12-rounded
    (mean is decimal-sum/count); the five regression moments are
    e12-rounded per row and ride decimal(38,12); the degenerate
    zero-variance denominator takes the NULL branch identically; R²
    and LM e6-round."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("rev")
    )
    w = Window.partitionBy("l_returnflag").orderBy("day")
    r = daily.select(
        "l_returnflag",
        "day",
        dround(F.log(F.col("rev") / F.lag("rev").over(w)), 6).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    m = r.groupBy("l_returnflag").agg(
        (
            F.sum(F.col("ret").cast("decimal(25,6)")).cast("double")
            / F.count("ret")
        ).alias("mr")
    )
    a = dround(F.col("ret") - F.col("mr"), 6)
    sq = r.join(F.broadcast(m), "l_returnflag").select(
        "l_returnflag", "day", dround(a * a, 12).alias("y")
    )
    lagged = sq.select(
        "l_returnflag",
        "y",
        F.lag("y").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    d12 = "decimal(38,12)"
    s = lagged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(d12)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(d12)).cast("double").alias("sy"),
        F.sum(dround(F.col("x") * F.col("y"), 12).cast(d12))
        .cast("double")
        .alias("sxy"),
        F.sum(dround(F.col("x") * F.col("x"), 12).cast(d12))
        .cast("double")
        .alias("sxx"),
        F.sum(dround(F.col("y") * F.col("y"), 12).cast(d12))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = n * F.col("syy") - F.col("sy") * F.col("sy")
    r2 = num * num / (dx * dy)
    return s.select(
        "l_returnflag",
        n.alias("n_obs"),
        F.when(dx * dy <= 0, F.lit(None).cast("double"))
        .otherwise(dround(r2, 6))
        .alias("r2"),
        F.when(dx * dy <= 0, F.lit(None).cast("double"))
        .otherwise(dround(n * r2, 6))
        .alias("lm_stat"),
    )


# Spectral-entropy frequency grid: the first 24 month-harmonics
# (periods 720h .. 30h) — DC excluded, so raw counts need no
# demeaning. ln(24) as a spelled literal for the normalization.
_SENT_KMAX = 24
_SENT_LN_K = 3.1780538303479458


@register(
    "q_ts_spectral_entropy",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) - {_EPOCH_H} AS t,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, floor(epoch(ts) / 3600)
    ),
    terms AS (
      SELECT event_type, k, c,
             {sql_dround(
                 f"cos({_TWO_PI} * CAST(k * t AS DOUBLE) / {_N_HOURS}.0)",
                 6)} AS cosr,
             {sql_dround(
                 f"sin({_TWO_PI} * CAST(k * t AS DOUBLE) / {_N_HOURS}.0)",
                 6)} AS sinr
      FROM hourly, unnest(range(1, {_SENT_KMAX + 1})) AS u(k)
    ),
    f AS (
      SELECT event_type, CAST(k AS BIGINT) AS k,
             CAST(sum(CAST(CAST(c AS DOUBLE) * cosr AS DECIMAL(25,6)))
                  AS DOUBLE) AS cr,
             CAST(sum(CAST(CAST(c AS DOUBLE) * sinr AS DECIMAL(25,6)))
                  AS DOUBLE) AS ci
      FROM terms GROUP BY event_type, k
    ),
    pw AS (
      SELECT event_type, k,
             {sql_dround("cr * cr + ci * ci", 6)} AS p
      FROM f
    ),
    tot AS (
      SELECT event_type,
             CAST(sum(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS pt
      FROM pw GROUP BY event_type
    ),
    ent AS (
      SELECT pw.event_type,
             CASE WHEN pw.p <= 0 OR tot.pt <= 0 THEN 0.0
                  ELSE {sql_dround(
                      "(pw.p / tot.pt) * ("
                      + sql_dround("ln(pw.p / tot.pt)", 6) + ")", 6)}
             END AS term,
             tot.pt
      FROM pw JOIN tot USING (event_type)
    )
    SELECT event_type,
           {sql_dround(
               "-CAST(sum(CAST(term AS DECIMAL(25,6))) AS DOUBLE)", 6,
           )} AS spectral_entropy,
           {sql_dround(
               "-CAST(sum(CAST(term AS DECIMAL(25,6))) AS DOUBLE)"
               f" / {_SENT_LN_K}", 6)} AS spectral_entropy_norm
    FROM ent GROUP BY event_type, pt
    """,
)
def q_ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral (power-spectrum) entropy of the hourly count series
    per type over the first 24 month-harmonics: H = −Σ p_k ln p_k of
    the normalized periodogram, plus H/ln24 — near 1 for white-noise
    traffic (power spread flat), near 0 when one cycle (the diurnal
    k=30... at this grid the daily cycle is k=30's alias k=24-bounded
    neighbors; in practice the low-k cluster) dominates. The
    single-number summary of q_ts_spectral_peaks' per-harmonic table,
    and the frequency-domain complement to q_ts_permutation_entropy's
    ordinal complexity.

    Plan: the spectral_peaks machinery widened to a 24-harmonic
    literal grid — |hours|×24 rows per type into one hash aggregate,
    time-grain bounded; DC is excluded so raw counts need no
    demeaning (a constant series has zero power at every k ≥ 1 on the
    full spine). Determinism: cos/sin e6-round per term (libm), sums
    ride the decimal detour, per-k power e6-rounds (its ~1e9
    magnitude stays inside decimal(38,6)'s exact-cast range at this
    series scale), the share ratio is one division, ln e6-rounds, and
    a zero-power harmonic contributes the documented 0 term."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
            - F.lit(_EPOCH_H)
        ).alias("t"),
    ).agg(F.count(F.lit(1)).alias("c"))
    terms = hourly.select(
        "event_type",
        "t",
        "c",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _SENT_KMAX + 1)])
        ).alias("k"),
    )
    ang = (
        F.lit(_TWO_PI)
        * (F.col("k") * F.col("t")).cast("double")
        / F.lit(float(_N_HOURS))
    )
    f = terms.groupBy(
        "event_type", F.col("k").cast("bigint").alias("k")
    ).agg(
        F.sum(
            (F.col("c").cast("double") * dround(F.cos(ang), 6)).cast(
                "decimal(25,6)"
            )
        )
        .cast("double")
        .alias("cr"),
        F.sum(
            (F.col("c").cast("double") * dround(F.sin(ang), 6)).cast(
                "decimal(25,6)"
            )
        )
        .cast("double")
        .alias("ci"),
    )
    pw = f.select(
        "event_type",
        "k",
        dround(
            F.col("cr") * F.col("cr") + F.col("ci") * F.col("ci"), 6
        ).alias("p"),
    )
    tot = pw.groupBy("event_type").agg(
        F.sum(F.col("p").cast("decimal(38,6)")).cast("double").alias("pt")
    )
    share = F.col("p") / F.col("pt")
    ent = pw.join(tot, "event_type").select(
        "event_type",
        "pt",
        F.when((F.col("p") <= 0) | (F.col("pt") <= 0), F.lit(0.0))
        .otherwise(dround(share * dround(F.log(share), 6), 6))
        .alias("term"),
    )
    h = -F.sum(F.col("term").cast("decimal(25,6)")).cast("double")
    return ent.groupBy("event_type", "pt").agg(
        dround(h, 6).alias("spectral_entropy"),
        dround(h / _SENT_LN_K, 6).alias("spectral_entropy_norm"),
    ).drop("pt")
