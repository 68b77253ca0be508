"""Window-function operators: ranking, lag/lead, running frames,
batch sessionization, and the batch twin of the streaming tumbling
window.

Reference grounding: sessionization is the batch twin of consuming the
event stream per user/key (consumer.ex:105 partition-by-key); the
streaming `session_window` version lives in
:mod:`ex_hivent_spark.streaming` and must agree with
``q_win_sessionize`` on static data (SURVEY.md §5.2.3).

Determinism: every window ORDER BY ends in a unique key (event_id /
o_orderkey) so ranks and frames are total-ordered; running float sums
use decimal accumulation (see functions/decimals.py) because engines
disagree on float association inside window frames (DuckDB uses segment
trees).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ex_hivent_spark.catalog import load_table, spread_table
from ex_hivent_spark.functions.decimals import dround, dsum, sql_dround, sql_dsum
from ex_hivent_spark.plans.registry import register


@register(
    "q_win_rank_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER w AS rn,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
)
def q_win_rank_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer (rank/dense_rank/row_number).
    One shuffle on o_custkey; per-group sort is bounded by group size."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q_win_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
           lead(event_id) OVER w AS next_event_id
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (exact microseconds) + next event id."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@register(
    "q_win_running_frame",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(value AS DECIMAL(25,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_value,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_n
    FROM events
    """,
)
def q_win_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running sum of value over an explicit rows frame."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(25,6)")).over(w).cast("double")
        .alias("running_value"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


SESSION_GAP_MIN = 30


@register(
    "q_win_sessionize",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {SESSION_GAP_MIN} * 60 * 1000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM gaps
    ),
    per_session AS (
      SELECT user_id, session_id, count(*) AS n_events,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           count(*) AS n_sessions,
           max(n_events) AS longest_session_events,
           CAST(sum(n_events) AS BIGINT) AS total_events,
           max(duration_us) AS max_session_duration_us
    FROM per_session GROUP BY user_id
    """,
)
def q_win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the
    per-user gap exceeds 30 minutes. Batch twin of the streaming
    ``session_window`` aggregation (must agree on static data)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    sessions = (
        e.select("user_id", "ts", "event_id")
        .withColumn(
            "new_session",
            F.when(gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), 1)
            .otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(wrun))
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("longest_session_events"),
        F.sum("n_events").alias("total_events"),
        F.max("duration_us").alias("max_session_duration_us"),
    )


@register(
    "q_win_tumbling_batch",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           {sql_dsum("value", "sum_value")}
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q_win_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling-window aggregate: hourly
    counts/sums per event type (streaming version uses
    ``groupBy(window(ts, '1 hour'), ...)`` — same results on static
    data)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
    )


@register(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 interval assembly: each per-user event opens a validity
    interval closed by the next event (half-open [valid_from, valid_to)),
    the open interval flagged current — how a warehouse derives
    dimension history from a change stream. One window keyed by user,
    totally ordered by (ts, event_id)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


_SLIDE_US = 30 * 60 * 1_000_000  # 30-minute slide of the 1-hour window


@register(
    "q_win_sliding_batch",
    oracle=f"""
    WITH assigned AS (
      SELECT make_timestamp(s_us) AS window_start, event_type, value
      FROM events,
           unnest([(epoch_us(ts) // {_SLIDE_US}) * {_SLIDE_US},
                   (epoch_us(ts) // {_SLIDE_US}) * {_SLIDE_US} - {_SLIDE_US}])
             AS t(s_us)
    )
    SELECT window_start, event_type,
           count(*) AS n_events,
           {sql_dsum("value", "sum_value")}
    FROM assigned
    GROUP BY window_start, event_type
    """,
)
def q_win_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming SLIDING-window aggregate: 1-hour
    windows every 30 minutes over events (each event lands in exactly
    window/slide = 2 windows). Uses the same ``F.window(ts, '1 hour',
    '30 minutes')`` expression as the streaming path
    (streaming/windows.py), so the driver's oracle row checks the
    sliding-window semantics shared by both; the SQL oracle enumerates
    the two covering window starts per event arithmetically."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_win_distribution",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER w AS price_quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           first_value(o_orderkey) OVER w AS cheapest_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist /
    first_value) per customer. All are exact integer-ratio arithmetic
    over a totally-ordered frame (unique o_orderkey tie-break), so the
    doubles hash-match with no rounding."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_order"),
    )


_GRID_US = 6 * 3600 * 1_000_000  # 6-hour resample grid
# Trailing bound on the per-user resample grid (90 days, the
# theil_sen/_TRAIL_HOURS discipline): grid points are emitted only
# within this window of the user's LAST observation, so one multi-year
# sparse user cannot explode the union frame with millions of empty
# grid rows. Fill values still look across the bound (the observation
# side is never truncated); only the emitted grid is capped.
_GRID_TRAIL_US = 90 * 24 * 3600 * 1_000_000


@register(
    "q_ts_resample_ffill",
    oracle=f"""
    WITH bounds AS (
      SELECT user_id,
             greatest(
               (epoch_us(min(ts)) // {_GRID_US}) * {_GRID_US},
               ((epoch_us(max(ts)) - {_GRID_TRAIL_US}) // {_GRID_US})
                 * {_GRID_US}
             ) AS lo_us,
             epoch_us(max(ts)) AS hi_us
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, make_timestamp(g_us) AS grid_ts
      FROM bounds, unnest(range(lo_us, hi_us + 1, {_GRID_US})) AS u(g_us)
    ),
    ordered AS (
      SELECT user_id, ts, value, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS seq
      FROM events
    )
    SELECT g.user_id, g.grid_ts,
           o.value AS last_value,
           o.event_id AS last_event_id
    FROM grid g
    ASOF LEFT JOIN (
      -- among same-ts events the LARGEST seq wins (engine convention),
      -- so keep only that row per (user_id, ts) before the asof match
      SELECT user_id, ts, value, event_id
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                         ORDER BY seq DESC) AS rn
            FROM ordered)
      WHERE rn = 1
    ) o ON g.user_id = o.user_id AND g.grid_ts >= o.ts
    """,
)
def q_ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill: per user, a 6-hour
    grid from floor(first event) to last event — bounded to the
    trailing _GRID_TRAIL_US (90 days) of the user's last observation,
    so a multi-year sparse user emits a capped grid, not millions of
    empty rows — each grid point carrying the most recent event
    at-or-before it (fills may look past the bound; only the emitted
    grid is capped) — the gap-filling primitive of
    monitoring/feature pipelines. Composition of a sequence-explode
    (grid) with the engine's as-of join (union + single window pass, no
    pair blow-up); the oracle is DuckDB's native ASOF JOIN, so two
    completely independent as-of implementations must agree."""
    from ex_hivent_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    bounds = e.groupBy("user_id").agg(
        F.greatest(
            (F.unix_micros(F.min("ts")) / _GRID_US).cast("long")
            * _GRID_US,
            F.floor(
                (F.unix_micros(F.max("ts")) - F.lit(_GRID_TRAIL_US))
                / _GRID_US
            ).cast("long")
            * _GRID_US,
        ).alias("lo_us"),
        F.unix_micros(F.max("ts")).alias("hi_us"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo_us"), F.col("hi_us"), F.lit(_GRID_US))
        ).alias("g_us"),
    ).select("user_id", F.timestamp_micros("g_us").alias("grid_ts"))

    right = e.select("user_id", "ts", "value", "event_id")
    joined = asof_join(
        grid, right, by="user_id", left_ts="grid_ts", right_ts="ts",
        right_seq="event_id",
    )
    return joined.select(
        "user_id",
        "grid_ts",
        F.col("asof.value").alias("last_value"),
        F.col("asof.event_id").alias("last_event_id"),
    )


@register(
    "q_win_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth order per customer over the FULL partition frame —
    last_value under the default running frame is the classic window
    trap (it returns the current row); the explicit unbounded frame is
    the correct formulation and both engines agree on it."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@register(
    "q_win_time_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(25,6)))
                OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS hour_sum,
           count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                          RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
               AS hour_n
    FROM events
    """,
)
def q_win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-1-hour rolling sum/count via a RANGE window
    frame over epoch-milliseconds — the time-interval frame ROWS frames
    can't express (frame membership depends on timestamp distance, not
    row position, so gaps and bursts are handled correctly). The range
    bound is a value offset; Spark evaluates it with a sliding frame
    over the sorted partition, one pass per partition.

    RANGE frames peer-group ties: all rows with equal ts share one
    frame, so the result is deterministic without a unique tie-break
    key (sum/count are order-insensitive within the frame; decimal
    accumulation keeps the float sum association-proof)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis(F.col("ts")))
        .rangeBetween(-3_600_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_n"),
    )


@register(
    "q_ts_linear_interp",
    oracle=f"""
    WITH bounds AS (
      SELECT user_id,
             greatest(
               (epoch_us(min(ts)) // {_GRID_US}) * {_GRID_US},
               ((epoch_us(max(ts)) - {_GRID_TRAIL_US}) // {_GRID_US})
                 * {_GRID_US}
             ) AS lo_us,
             epoch_us(max(ts)) AS hi_us
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, g_us
      FROM bounds, unnest(range(lo_us, hi_us + 1, {_GRID_US})) AS u(g_us)
    ),
    obs AS (
      SELECT user_id, epoch_us(ts) AS t_us, max_by(value, event_id) AS v
      FROM events GROUP BY user_id, epoch_us(ts)
    ),
    u AS (
      SELECT user_id, g_us AS ts_us, 1 AS side,
             CAST(NULL AS DOUBLE) AS v, CAST(NULL AS BIGINT) AS o_us
      FROM grid
      UNION ALL
      SELECT user_id, t_us, 0, v, t_us FROM obs
    ),
    w AS (
      SELECT *,
        last_value(v IGNORE NULLS) OVER bw AS pv,
        last_value(o_us IGNORE NULLS) OVER bw AS p_us,
        first_value(v IGNORE NULLS) OVER fw AS nv,
        first_value(o_us IGNORE NULLS) OVER fw AS n_us
      FROM u
      WINDOW bw AS (PARTITION BY user_id ORDER BY ts_us, side
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             fw AS (PARTITION BY user_id ORDER BY ts_us, side
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, make_timestamp(ts_us) AS grid_ts,
           pv AS prev_value, nv AS next_value,
           CASE WHEN p_us = ts_us THEN pv
                WHEN pv IS NOT NULL AND nv IS NOT NULL
                THEN pv + (nv - pv) * (CAST(ts_us - p_us AS DOUBLE)
                                       / CAST(n_us - p_us AS DOUBLE))
                END AS value_interp
    FROM w WHERE side = 1
    """,
)
def q_ts_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with LINEAR interpolation (the
    ``resample().interpolate()`` counterpart of q_ts_resample_ffill):
    per user, each 6-hour grid point carries
    ``prev + (next - prev) * elapsed_fraction`` between its bracketing
    observations — exact observation value when the grid point lands on
    one, NULL when a bracket side is missing. Same-timestamp duplicate
    observations resolve to the largest event_id (engine convention)
    via one max_by aggregate.

    Plan shape: grid explode (bounded to the trailing _GRID_TRAIL_US
    of each user's last observation — a multi-year sparse user cannot
    inflate the union frame; brackets still look past the bound since
    observations are never truncated) + union + ONE window pass (both
    frames share the (user_id; ts,side) sort, so Spark runs a single
    Window operator — plan-asserted). The interpolation itself is per-row IEEE
    arithmetic on integer microsecond gaps: deterministic across
    engines with no rounding detour."""
    from pyspark.sql import Window

    # r16: spread_table — both per-user aggregates ran their partial
    # phase inside the ONE-task single-row-group scan; hash-spreading
    # on user_id parallelizes the map sides, and HashPartitioning
    # (user_id) satisfies both groupings AND the window's clustering,
    # so no grouping re-shuffle is added. No-op on multi-split inputs.
    e = spread_table(spark, sf_dir, "events", "user_id")
    bounds = e.groupBy("user_id").agg(
        F.greatest(
            (F.unix_micros(F.min("ts")) / _GRID_US).cast("long")
            * _GRID_US,
            F.floor(
                (F.unix_micros(F.max("ts")) - F.lit(_GRID_TRAIL_US))
                / _GRID_US
            ).cast("long")
            * _GRID_US,
        ).alias("lo_us"),
        F.unix_micros(F.max("ts")).alias("hi_us"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo_us"), F.col("hi_us"), F.lit(_GRID_US))
        ).alias("ts_us"),
    ).select(
        "user_id",
        "ts_us",
        F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("v"),
        F.lit(None).cast("long").alias("o_us"),
    )
    obs = (
        e.groupBy("user_id", F.unix_micros("ts").alias("t_us"))
        .agg(F.max_by("value", "event_id").alias("v"))
        .select(
            "user_id",
            F.col("t_us").alias("ts_us"),
            F.lit(0).alias("side"),
            "v",
            F.col("t_us").alias("o_us"),
        )
    )
    u = grid.unionByName(obs)
    bw = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fw = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = u.select(
        "*",
        F.last("v", ignorenulls=True).over(bw).alias("pv"),
        F.last("o_us", ignorenulls=True).over(bw).alias("p_us"),
        F.first("v", ignorenulls=True).over(fw).alias("nv"),
        F.first("o_us", ignorenulls=True).over(fw).alias("n_us"),
    ).filter(F.col("side") == 1)
    frac = (F.col("ts_us") - F.col("p_us")).cast("double") / (
        F.col("n_us") - F.col("p_us")
    ).cast("double")
    return w.select(
        "user_id",
        F.timestamp_micros("ts_us").alias("grid_ts"),
        F.col("pv").alias("prev_value"),
        F.col("nv").alias("next_value"),
        F.when(F.col("p_us") == F.col("ts_us"), F.col("pv"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .alias("value_interp"),
    )


_MED_WINDOW = 5  # rolling frame: current row + 4 preceding


@register(
    "q_win_rolling_median",
    oracle=f"""
    SELECT event_id, user_id, value,
           median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN {_MED_WINDOW - 1} PRECEDING
                               AND CURRENT ROW) AS roll_median
    FROM events
    """,
)
def q_win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over the last {n} events per user — the robust
    smoother Spark has no native window-percentile for. Implemented as
    ``collect_list`` over the rows frame + ``array_sort`` + middle
    element (odd count) / mean of the two middles (even count, one
    exact IEEE add+halve — matching DuckDB's interpolating median).

    Sound ONLY for small fixed frames (O(w log w) per row, w=5 here):
    the right tool for bounded "last N readings" smoothing. Unbounded
    or large-frame percentiles belong to q_agg_approx_percentile's
    sketch contract instead — that asymmetry is the scale design, not
    an accident."""
    e = load_table(spark, sf_dir, "events")
    # r17 (the ewma/anomaly lag treatment, guide §2.4): the bounded
    # frame's collect_list re-built a window-state array per row; K−1
    # lag expressions in the same window spec are O(1)/row offset
    # lookups. array_compact drops the frame-start NULL lags, giving
    # exactly the multiset collect_list gathered (events.value itself
    # carries no NULLs — the engine's established domain); the sort and
    # the middle-element arithmetic are unchanged.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [
        F.lag("value", k).over(w) for k in range(_MED_WINDOW - 1, 0, -1)
    ]
    arr = F.array_sort(F.array_compact(F.array(*lags, F.col("value"))))
    n = F.size(arr)
    odd = F.try_element_at(arr, ((n + F.lit(1)) / 2).cast("int"))
    even = (
        F.try_element_at(arr, (n / 2).cast("int"))
        + F.try_element_at(arr, (n / 2).cast("int") + 1)
    ) / 2
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.when(n == 0, F.lit(None).cast("double"))
        .when(n % 2 == 1, odd)
        .otherwise(even)
        .alias("roll_median"),
    )


_WATERMARK_HOURS = 2


@register(
    "q_stream_late_audit",
    oracle=f"""
    WITH hw AS (
      SELECT event_type, ts,
             max(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS high_water
      FROM events
    ), lat AS (
      SELECT event_type,
             CASE WHEN ts < high_water - INTERVAL {_WATERMARK_HOURS} HOUR
                  THEN epoch_us(high_water) - epoch_us(ts) END AS late_us
      FROM hw
    )
    SELECT event_type,
           count(*) AS n_total,
           count(late_us) AS n_late,
           max(late_us) AS max_late_us
    FROM lat
    GROUP BY event_type
    """,
)
def q_stream_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data audit — the batch-checkable twin of
    ``withWatermark("ts", "2 hours")`` drop semantics: replaying the
    events table in ingest order (event_id is the monotone arrival id),
    an event is *late beyond the watermark* if its event time trails
    the running high-water mark (max event time seen so far) by more
    than the allowed lateness.  Reports, per event_type, how many rows
    a 2-hour watermark would have dropped and the worst lateness — the
    audit you run before choosing a production watermark.

    Plan note: the audit models ONE logical stream (arrival order =
    event_id), but the running high-water mark is computed WITHOUT a
    global-sort window: operators/prefix.running_max_blocked blocks the
    arrival ids into fixed 8192-id ranges (deterministic — no sampled
    exchange, no checkpoint pin), takes per-block running maxima in a
    block-partitioned window, and stitches blocks with a max-offset
    pre-pass — driver-folded while blocks ≲ 10⁶, recursing through
    distributed DIV-8192 super-block levels beyond that (prefix.py's
    recursive fold), so the fixed 8192-id width is safe at ANY id
    range — bit-equal to the single-partition window at any scale
    (max is associative). The per-source-partition production
    variant is the same call with the source partition prepended to the
    block key. All-integer microsecond arithmetic — no float detour."""
    from ex_hivent_spark.operators.prefix import running_max_blocked

    e = load_table(spark, sf_dir, "events")
    hw = running_max_blocked(
        e.select("event_type", "ts", "event_id").withColumn(
            "__blk", F.expr("event_id DIV 8192")
        ),
        ["event_id"],
        ["__blk"],
        "ts",
        "high_water",
        exclusive=True,
    )
    late_us = F.when(
        F.col("ts")
        < F.col("high_water") - F.expr(f"INTERVAL {_WATERMARK_HOURS} HOURS"),
        F.unix_micros("high_water") - F.unix_micros("ts"),
    )
    return (
        hw.select("event_type", late_us.alias("late_us"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.count("late_us").alias("n_late"),
            F.max("late_us").alias("max_late_us"),
        )
    )


_EWMA_WINDOW = 8  # trailing rows in the truncated EWMA


@register(
    "q_ts_ewma",
    oracle=f"""
    WITH arrs AS (
      SELECT event_id, user_id, value,
             list(value) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS BETWEEN {_EWMA_WINDOW - 1} PRECEDING
                                        AND CURRENT ROW) AS arr
      FROM events
    )
    SELECT event_id, user_id, value,
           floor(
             list_sum(list_transform(range(1, len(arr) + 1),
               i -> arr[i] * power(0.5, len(arr) - i)))
             / list_sum(list_transform(range(1, len(arr) + 1),
               i -> power(0.5, len(arr) - i)))
             * 1000000.0 + 0.5) / 1000000.0 AS ewma
    FROM arrs
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average per user (alpha =
    0.5 over the trailing 8 events) — the smoothing baseline behind
    rate monitoring and anomaly scoring.  Alpha is deliberately 0.5:
    the weights 2^-k are EXACT binary doubles, so the only arithmetic
    is products and ordered sums — no libm pow() drift to round away
    (powers of two are exact; power(0.5, k) is correctly rounded in
    both engines).

    Plan: one bounded rows-frame window per user — frame order is the
    (ts, event_id) sort both engines share, and the per-element fold
    runs in index order.  Frame size is constant, so cost is O(n·K)
    with no growing state.

    r17 (guide §2.4 per-task work): the collect_list array build + two
    interpreted HOF folds per row are replaced by K=8 lag expressions
    plus row_number in the SAME window spec (one WindowExec, bounded
    O(1) state, all codegen). Arithmetic is bit-identical to the
    oracle's fold: term k is lag_k * 0.5^k (0.5^k exact binary, the
    same double the pow produced), summed oldest-first left-assoc with
    missing lags contributing exact +0.0 terms (x + 0.0 == x in IEEE
    for the non-negative partial sums here, and an all-zero prefix
    stays exactly 0.0); the denominator 2 - 0.5^(m-1) is the oracle's
    geometric sum in closed form — every partial sum of distinct
    binary powers is exactly representable, so no rounding anywhere.
    Hash-verified at 3 SFs (events.value carries no NULLs; the
    collect_list form skipped NULLs and so would the oracle diverge —
    the no-NULL value domain is the established engine convention)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lit(0.0)
    for k in range(_EWMA_WINDOW - 1, 0, -1):
        num = num + F.coalesce(
            F.lag("value", k).over(w) * F.lit(0.5**k), F.lit(0.0)
        )
    num = num + F.col("value")  # lag 0, weight 0.5^0 == 1
    m = F.least(F.row_number().over(w), F.lit(_EWMA_WINDOW))
    den = F.lit(2.0) - F.pow(F.lit(0.5), (m - 1).cast("double"))
    return e.select(
        "event_id",
        "user_id",
        "value",
        (F.floor(num / den * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("ewma"),
    )


_ANOM_WINDOW = 20
_ANOM_SIGMA = 3.0


@register(
    "q_ts_anomaly",
    oracle=f"""
    WITH stats AS (
      SELECT event_id, user_id, ts, value,
             CAST(sum(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE)
                 AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(25,6))) OVER w AS DOUBLE)
                 AS s2,
             count(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_ANOM_WINDOW} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value,
           floor((s1 / n) * 1000000.0 + 0.5) / 1000000.0 AS base_mean,
           floor(sqrt((s2 - s1 * s1 / n) / n) * 1000000.0 + 0.5)
               / 1000000.0 AS base_std,
           value > s1 / n + {_ANOM_SIGMA} * sqrt((s2 - s1 * s1 / n) / n)
               AS is_anomaly
    FROM stats WHERE n >= {_ANOM_WINDOW}
    """,
)
def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection per user: flag events more than
    3 sigma above the mean of the previous 20 observations (the window
    excludes the current row, so a spike cannot mask itself).  The
    operational alerting primitive over any metric stream.

    Determinism: window sums go through decimals (order-free), the
    variance closes with the raw-moment formula in doubles, and sqrt is
    IEEE-correctly-rounded everywhere — so even the BOOLEAN flag (an
    unrounded threshold compare) is bit-exact across engines; mean/std
    are e6 for display.  Rows with fewer than 20 predecessors are
    warm-up and excluded.

    Plan: shuffle keyed on user_id, then TWO window passes over the
    same (ts, event_id) sort — a running decimal prefix-sum pass and a
    lag/row_number pass over it.

    r17 (guide §2.4 per-task work): the bounded [-20, -1] frame made
    Spark re-aggregate 20 decimal addends PER ROW (O(n·K) interpreted
    decimal ops — profiled at ~1.8 s vs ewma's 0.5 s after its lag
    rewrite). Running (unbounded-preceding) frames are O(1)/row, so the
    trailing sums are now PREFIX DIFFERENCES: s1 = lag(ps,1) −
    lag(ps,21), s2 likewise over value², n = min(row_number−1, 20).
    Decimal arithmetic is exact and order-free, so the difference is
    bit-identical to the frame sum the oracle computes; both window
    specs share one exchange and one sort (same keys).

    Headroom (types from the plan's schema): the per-row decimal(25,6)
    cast needs ``value * value`` < 10^19, and the decimal(35,6) running
    sum needs a user's sum of squares < 10^29. Neither overflows (ANSI
    raises; non-ANSI reads NULL) while ``|value|`` < 3e9 and a user has
    < 10^10 rows (sf0.1 peaks: ``|value|`` 561, 99 rows per user).
    Cross-engine bit-exactness needs 20·value²·10^6 < 2^53 in ``s2``,
    i.e. ``|value|`` < 2.1e4."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    DEC = "decimal(25,6)"
    zero = F.lit(0).cast(DEC)
    ps1 = F.sum(F.col("value").cast(DEC)).over(wrun)
    ps2 = F.sum((F.col("value") * F.col("value")).cast(DEC)).over(wrun)
    pre = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        ps1.alias("_ps1"),
        ps2.alias("_ps2"),
        F.row_number().over(wo).alias("_rn"),
    )
    s1 = (
        F.coalesce(F.lag("_ps1", 1).over(wo), zero)
        - F.coalesce(F.lag("_ps1", _ANOM_WINDOW + 1).over(wo), zero)
    ).cast("double")
    s2 = (
        F.coalesce(F.lag("_ps2", 1).over(wo), zero)
        - F.coalesce(F.lag("_ps2", _ANOM_WINDOW + 1).over(wo), zero)
    ).cast("double")
    n = F.least(F.col("_rn") - 1, F.lit(_ANOM_WINDOW)).cast("bigint")
    mean = s1 / n
    std = F.sqrt((s2 - s1 * s1 / n) / n)
    return (
        pre.select(
            "event_id",
            "user_id",
            "value",
            n.alias("n"),
            mean.alias("mean_raw"),
            std.alias("std_raw"),
        )
        .filter(F.col("n") >= _ANOM_WINDOW)
        .select(
            "event_id",
            "user_id",
            "value",
            (
                F.floor(F.col("mean_raw") * 1000000.0 + F.lit(0.5)) / 1000000.0
            ).alias("base_mean"),
            (
                F.floor(F.col("std_raw") * 1000000.0 + F.lit(0.5)) / 1000000.0
            ).alias("base_std"),
            (
                F.col("value")
                > F.col("mean_raw") + _ANOM_SIGMA * F.col("std_raw")
            ).alias("is_anomaly"),
        )
    )


@register(
    "q_win_sliding_distinct",
    oracle="""
    SELECT event_id, event_type, ts,
           CAST(len(list_distinct(
             list(user_id) OVER (PARTITION BY event_type
                                 ORDER BY epoch_us(ts)
                                 RANGE BETWEEN 3600000000 PRECEDING
                                           AND CURRENT ROW)
           )) AS BIGINT) AS uniq_users_1h
    FROM events
    """,
)
def q_win_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding distinct cardinality: unique users in the trailing hour
    per event type, evaluated AT every event — the live 'current
    actives' metric a tumbling window can't give (it quantizes time)
    and COUNT(DISTINCT) OVER can't express (not supported in either
    engine).

    Exact BOUNDED-STATE plan (no collect_set of ids in window state):
    a user is in the trailing-hour window [t-1h, t] of type g iff they
    have a g-event in it, i.e. iff exactly ONE of their g-events is the
    FIRST of their g-events in it. Event at time s with previous
    same-(type, user) event at p is that first-event for precisely
    t ∈ [max(s, p+1h+1µs), s+1h] — a presence INTERVAL. So the distinct
    count at t is the number of intervals covering t: emit +1/-1 deltas
    at interval ends, take one exact running sum over (type, time)
    order, and read it at each event's timestamp.

    Stages, all bounded-state: a per-(type, user) lag window (O(1)
    state), a delta hash-aggregate, and
    operators/prefix.running_totals_blocked for the running sum over
    deterministic (type, hour-bucket) blocks — one block-keyed window
    + an offset pre-pass that driver-folds while (types × hour-blocks)
    ≲ 10⁶ and recurses through prefix.py's composite super-block fold
    beyond that (multi-year × high-cardinality-type retention);
    per-type resets come free because each type's deltas sum to zero
    and type leads the block order. ~3 rows per event flow through; NO stage holds an id
    set. The HLL sketch (q_agg_sketch_rollup) remains the cheaper
    approximate downgrade; this exact form is itself 100 TB-safe."""
    from ex_hivent_spark.operators.prefix import running_totals_blocked

    HOUR = 3_600_000_000  # µs
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "user_id"
    )
    tus = F.unix_micros("ts")
    lag_w = Window.partitionBy("event_type", "user_id").orderBy(tus)
    spans = e.select(
        "event_type",
        tus.alias("t"),
        F.lag(tus).over(lag_w).alias("p"),
    ).select(
        "event_type",
        F.greatest(
            F.col("t"), F.coalesce(F.col("p") + HOUR + 1, F.col("t"))
        ).alias("a"),
        (F.col("t") + HOUR).alias("b"),
    ).filter(
        F.col("a") <= F.col("b")  # duplicate-ts same-user events: empty
    )
    # r16: the query rows ride THROUGH the prefix machinery carrying
    # their event_id/ts payload (running_totals_blocked preserves
    # non-sum columns), so the old `.distinct()` hash aggregate and the
    # (event_type, ts)-keyed fan-back join are gone — one events scan,
    # two fewer exchanges. Exactness: every kind=1 row has d=0, so all
    # query rows tied at the same (tp, kind) read the same running sum
    # regardless of their intra-tie order.
    null_id = F.lit(None).cast(dict(e.dtypes)["event_id"])
    null_ts = F.lit(None).cast(dict(e.dtypes)["ts"])
    deltas = (
        spans.select("event_type", F.col("a").alias("tp"), F.lit(1).alias("d"))
        .unionByName(
            spans.select(
                "event_type", (F.col("b") + 1).alias("tp"), F.lit(-1).alias("d")
            )
        )
        .groupBy("event_type", "tp")
        .agg(F.sum("d").cast("bigint").alias("d"))
        .select(
            "event_type",
            "tp",
            "d",
            F.lit(0).alias("kind"),
            null_id.alias("event_id"),
            null_ts.alias("ts"),
        )
    )
    queries = e.select(
        "event_type",
        tus.alias("tp"),
        F.lit(0).cast("bigint").alias("d"),
        F.lit(1).alias("kind"),  # deltas at equal time apply first
        "event_id",
        "ts",
    )
    points = (
        deltas.unionByName(queries)
        .withColumn("blk", F.expr(f"tp DIV {HOUR}"))
        # consumed by both the block window and the offsets probe —
        # pin so the lag window + delta aggregate run once
        .localCheckpoint(eager=False)
    )
    cum = running_totals_blocked(
        points,
        ["tp", "kind"],
        ["event_type", "blk"],
        {"d": "uniq"},
    )
    return cum.filter(F.col("kind") == 1).select(
        "event_id",
        "event_type",
        "ts",
        F.col("uniq").cast("bigint").alias("uniq_users_1h"),
    )


# --------------------------------------------------------------------------
# CEP sequence pattern match (MATCH_RECOGNIZE / Flink-CEP class)
# --------------------------------------------------------------------------
@register(
    "q_win_pattern_match",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lead(event_type, 1) OVER w AS e1,
             lead(event_type, 2) OVER w AS e2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           count(*) AS n_matches,
           min(ts) AS first_match_ts,
           min(event_id) AS first_match_event_id
    FROM seq
    WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
    GROUP BY user_id
    """,
)
def q_win_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing sequence detection (the
    MATCH_RECOGNIZE / Flink-CEP operator class): per user, occurrences
    of the STRICTLY CONSECUTIVE event pattern view → click → purchase
    in event-time order — adjacency is the semantic the funnel query
    (q_funnel_signup_purchase, eventually-follows) cannot express.
    Output: users with ≥1 match, match count, and the time/id of the
    earliest match start.

    Plan: one window pass (two leads over the same (user, ts, id)
    frame — a single per-user sort serves both) + one hash aggregate.
    A k-step pattern is k-1 leads in the SAME pass; per-user state
    never exceeds the pattern length, which is exactly how the
    streaming CEP engines bound it. ORDER BY ends in the unique
    event_id, so matches are total-ordered and the result is
    deterministic cross-engine."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    return (
        seq.where(
            (F.col("event_type") == "view")
            & (F.col("e1") == "click")
            & (F.col("e2") == "purchase")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("ts").alias("first_match_ts"),
            F.min("event_id").alias("first_match_event_id"),
        )
    )


@register(
    "q_win_streaks",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS island
      FROM events
    )
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS streak_start,
           max(ts) AS streak_end,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM seq
    GROUP BY user_id, event_type, island
    HAVING count(*) >= 2
    """,
)
def q_win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value streaks (gaps-and-islands, same-value flavor): maximal
    runs of CONSECUTIVE same-type events per user, reported with their
    length, bounds, and duration for every run of length >= 2 — the
    repeated-action shape behind "N errors in a row" alerting and
    engagement-streak features. Complements q_win_sessionize, which
    cuts islands on time gaps; this cuts them on value changes, via
    the classic difference-of-row-numbers grouping key.

    Plan: two row_number windows over the SAME per-user sort (Catalyst
    runs both in one Window exchange; the finer partition is a
    subsort) + one hash aggregate on the derived island key. ORDER BY
    ends in the unique event_id so island boundaries are total-ordered
    and deterministic cross-engine; outputs are integers and raw
    timestamps — nothing to round."""
    e = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seq = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "island"
        ),
    )
    return (
        seq.groupBy("user_id", "event_type", "island")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("ts").alias("streak_start"),
            F.max("ts").alias("streak_end"),
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("duration_us"),
        )
        .filter(F.col("n_events") >= 2)
        .drop("island")
    )


_ACF_CTE_SQL = f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(cnt) AS DOUBLE) / count(*) AS xbar
      FROM hourly GROUP BY event_type
    ),
    led AS (
      SELECT hourly.event_type, cnt, xbar, n_hours,
             lead(cnt, 1) OVER w AS c1,
             lead(cnt, 2) OVER w AS c2,
             lead(cnt, 3) OVER w AS c3
      FROM hourly JOIN stats USING (event_type)
      WINDOW w AS (PARTITION BY hourly.event_type ORDER BY h)
    ),
    sums AS (
      SELECT event_type, any_value(n_hours) AS n_hours,
             {sql_dsum(sql_dround("(cnt - xbar) * (cnt - xbar)", 6), "den")},
             {sql_dsum(
                 "CASE WHEN c1 IS NULL THEN NULL ELSE "
                 + sql_dround("(cnt - xbar) * (c1 - xbar)", 6)
                 + " END", "num1")},
             {sql_dsum(
                 "CASE WHEN c2 IS NULL THEN NULL ELSE "
                 + sql_dround("(cnt - xbar) * (c2 - xbar)", 6)
                 + " END", "num2")},
             {sql_dsum(
                 "CASE WHEN c3 IS NULL THEN NULL ELSE "
                 + sql_dround("(cnt - xbar) * (c3 - xbar)", 6)
                 + " END", "num3")}
      FROM led GROUP BY event_type
    )
"""


@register(
    "q_ts_acf",
    oracle=_ACF_CTE_SQL
    + f"""
    SELECT event_type, n_hours,
           CASE WHEN den <> 0 THEN {sql_dround("num1 / den", 6)} END AS acf_lag1,
           CASE WHEN den <> 0 THEN {sql_dround("num2 / den", 6)} END AS acf_lag2,
           CASE WHEN den <> 0 THEN {sql_dround("num3 / den", 6)} END AS acf_lag3
    FROM sums
    """,
)
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-rate series per
    event type, at lags 1-3 (the standard estimator: lag-k cross
    moments about the mean over the full-series variance). This is the
    seasonality/burstiness detector that tells you WHICH period
    q_ts_seasonal_decompose should deseasonalize by, and near-1 lag-1
    autocorrelation flags self-exciting (retry-storm) traffic.

    Plan: the corpus collapses to the hourly counts frame in ONE hash
    aggregate (≤ types x hours rows — at 100 TB still tiny), then the
    per-type mean table broadcasts back and all three lags come from
    ONE window pass over the aggregated frame sharing a single sort.
    Determinism: counts are integers, the mean is one exact division,
    per-row deviation products are e6-rounded before their decimal
    sums (the computed-double-cast hazard documented by
    q_ts_cusum_changepoint), and each ACF ratio is a single e6-rounded
    division, null-guarded against a zero variance identically in both
    engines."""
    from ex_hivent_spark.functions.decimals import DEC, dround

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("xbar"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    led = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "cnt",
        "xbar",
        "n_hours",
        F.lead("cnt", 1).over(w).alias("c1"),
        F.lead("cnt", 2).over(w).alias("c2"),
        F.lead("cnt", 3).over(w).alias("c3"),
    )
    dev = F.col("cnt") - F.col("xbar")

    def moment(lagged, alias):
        prod = dround(dev * (lagged - F.col("xbar")), 6)
        return (
            F.sum(F.when(lagged.isNotNull(), prod).cast(DEC))
            .cast("double")
            .alias(alias)
        )

    sums = led.groupBy("event_type").agg(
        F.any_value("n_hours").alias("n_hours"),
        F.sum(dround(dev * dev, 6).cast(DEC)).cast("double").alias("den"),
        moment(F.col("c1"), "num1"),
        moment(F.col("c2"), "num2"),
        moment(F.col("c3"), "num3"),
    )

    def acf(num):
        return F.when(
            F.col("den") != 0, dround(F.col(num) / F.col("den"), 6)
        )

    return sums.select(
        "event_type",
        "n_hours",
        acf("num1").alias("acf_lag1"),
        acf("num2").alias("acf_lag2"),
        acf("num3").alias("acf_lag3"),
    )


@register(
    "q_ts_xcorr",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY event_type, date_trunc('hour', ts)
    ),
    joined AS (
      SELECT v.h, v.cnt AS a, p.cnt AS b
      FROM (SELECT h, cnt FROM hourly WHERE event_type = 'view') v
      JOIN (SELECT h, cnt FROM hourly WHERE event_type = 'purchase') p
        USING (h)
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(a) AS DOUBLE) / count(*) AS abar,
             CAST(sum(b) AS DOUBLE) / count(*) AS bbar
      FROM joined
    ),
    led AS (
      SELECT a, b, abar, bbar, n_hours,
             lead(b, 1) OVER (ORDER BY h) AS b1,
             lead(b, 2) OVER (ORDER BY h) AS b2
      FROM joined CROSS JOIN m
    ),
    sums AS (
      SELECT any_value(n_hours) AS n_hours,
             {sql_dsum(sql_dround("(a - abar) * (a - abar)", 6), "da")},
             {sql_dsum(sql_dround("(b - bbar) * (b - bbar)", 6), "db")},
             {sql_dsum(sql_dround("(a - abar) * (b - bbar)", 6), "num0")},
             {sql_dsum(
                 "CASE WHEN b1 IS NULL THEN NULL ELSE "
                 + sql_dround("(a - abar) * (b1 - bbar)", 6) + " END",
                 "num1")},
             {sql_dsum(
                 "CASE WHEN b2 IS NULL THEN NULL ELSE "
                 + sql_dround("(a - abar) * (b2 - bbar)", 6) + " END",
                 "num2")}
      FROM led
    )
    SELECT n_hours,
           CASE WHEN da * db <> 0
                THEN {sql_dround("num0 / sqrt(da * db)", 6)} END
             AS xcorr_lag0,
           CASE WHEN da * db <> 0
                THEN {sql_dround("num1 / sqrt(da * db)", 6)} END
             AS xcorr_lag1,
           CASE WHEN da * db <> 0
                THEN {sql_dround("num2 / sqrt(da * db)", 6)} END
             AS xcorr_lag2
    FROM sums
    """,
)
def q_ts_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the hourly 'view' and
    'purchase' event-rate series (lags 0-2, over their common hours,
    normalized by both series' full deviations): the lead-lag detector
    — a peak at lag k says view traffic LEADS purchase traffic by k
    hours, which sets the attribution window and feeds any
    forecast-from-leading-indicator model. Completes the time-series
    kit next to q_ts_acf (self-correlation) and
    q_join_interval_attribution (event-level attribution).

    Plan: the corpus collapses to two hourly count series in one
    filtered hash aggregate; the join, the one-row means frame, and
    the window leads all run over ≤|hours| rows. Determinism: counts
    are integers, means are exact divisions, deviation products are
    e6-rounded before decimal sums, sqrt is correctly-rounded IEEE,
    and each ratio is one e6-rounded division."""
    from ex_hivent_spark.functions.decimals import DEC, dround

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # r16 wave 9 NOTE: pinning this frame was A/B-tested and
        # REVERTED (0.62 unpinned vs 1.14 pinned in the calm
        # tiebreak): the four duplicated events subtrees overlap
        # within one job.
    )
    v = hourly.filter(F.col("event_type") == "view").select(
        "h", F.col("cnt").alias("a")
    )
    p = hourly.filter(F.col("event_type") == "purchase").select(
        "h", F.col("cnt").alias("b")
    )
    joined = v.join(p, "h")
    m = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        (F.sum("a").cast("double") / F.count(F.lit(1))).alias("abar"),
        (F.sum("b").cast("double") / F.count(F.lit(1))).alias("bbar"),
    )
    w = Window.orderBy("h")
    led = joined.crossJoin(F.broadcast(m)).select(
        "a",
        "b",
        "abar",
        "bbar",
        "n_hours",
        F.lead("b", 1).over(w).alias("b1"),
        F.lead("b", 2).over(w).alias("b2"),
    )
    da_ = F.col("a") - F.col("abar")

    def mom(col, alias):
        prod = dround(da_ * (col - F.col("bbar")), 6)
        return (
            F.sum(F.when(col.isNotNull(), prod).cast(DEC))
            .cast("double")
            .alias(alias)
        )

    sums = led.agg(
        F.any_value("n_hours").alias("n_hours"),
        F.sum(dround(da_ * da_, 6).cast(DEC)).cast("double").alias("da"),
        F.sum(
            dround(
                (F.col("b") - F.col("bbar")) * (F.col("b") - F.col("bbar")), 6
            ).cast(DEC)
        )
        .cast("double")
        .alias("db"),
        mom(F.col("b"), "num0"),
        mom(F.col("b1"), "num1"),
        mom(F.col("b2"), "num2"),
    )
    # Zero-variance guard (mirrors q_ts_acf): a constant series makes
    # da*db = 0 — Spark's non-ANSI divide would yield NULL while
    # DuckDB's IEEE float divide yields inf/nan, so BOTH sides guard
    # explicitly and agree on NULL for the degenerate case.
    den = F.sqrt(F.col("da") * F.col("db"))
    var_ok = F.col("da") * F.col("db") != 0

    def ratio(num):
        return F.when(var_ok, dround(F.col(num) / den, 6))

    return sums.select(
        "n_hours",
        ratio("num0").alias("xcorr_lag0"),
        ratio("num1").alias("xcorr_lag1"),
        ratio("num2").alias("xcorr_lag2"),
    )


@register(
    "q_ts_ohlc_bars",
    oracle=f"""
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
             ts, event_id, value
      FROM events
    ),
    rn AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, hour_id
                                ORDER BY ts, event_id) AS rna,
             row_number() OVER (PARTITION BY event_type, hour_id
                                ORDER BY ts DESC, event_id DESC) AS rnd
      FROM base
    )
    SELECT event_type, hour_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rna = 1 THEN value END) AS DOUBLE) AS open,
           CAST(max(value) AS DOUBLE) AS high,
           CAST(min(value) AS DOUBLE) AS low,
           CAST(max(CASE WHEN rnd = 1 THEN value END) AS DOUBLE) AS close,
           {sql_dsum("value", "volume")}
    FROM rn
    GROUP BY event_type, hour_id
    """,
)
def q_ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, hour) bars with open (first
    value by event time, event_id tie-break), high, low, close (last
    value) and decimal-exact volume — the financial-style candlestick
    rollup, and the canonical time-series downsample a metrics store
    runs before long-horizon charting (first/last carry level
    semantics that plain avg rollups destroy).

    Plan: two row_number windows PARTITIONED by (type, hour) — each
    partition is one hour of one type, bounded at any retention, so
    this passes the no-global-window gate by construction — then one
    hash aggregate with conditional first/last picks. One shuffle on
    (type, hour); partial aggregation combines map-side. Determinism:
    first/last are unique by the (ts, event_id) total order, min/max
    are exact, volume rides the decimal detour."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hour_id"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("event_type", "hour_id").orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy("event_type", "hour_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rn = base.select(
        "*",
        F.row_number().over(wa).alias("rna"),
        F.row_number().over(wd).alias("rnd"),
    )
    return rn.groupBy("event_type", "hour_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(F.when(F.col("rna") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rnd") == 1, F.col("value"))).alias("close"),
        dsum("value", "volume"),
    )


def _acf_oracle_sql() -> str:
    from ex_hivent_spark.plans.registry import _REGISTRY

    return _REGISTRY["q_ts_acf"].oracle


@register(
    "q_ts_pacf",
    oracle=f"""
    WITH acf AS ({_acf_oracle_sql()}),
    lvl2 AS (
      SELECT event_type, n_hours,
             acf_lag1 AS r1, acf_lag2 AS r2, acf_lag3 AS r3,
             CASE WHEN (1 - acf_lag1 * acf_lag1) = 0 THEN NULL
                  ELSE (acf_lag2 - acf_lag1 * acf_lag1)
                       / (1 - acf_lag1 * acf_lag1) END AS p2
      FROM acf
    ),
    lvl3 AS (
      SELECT *, r1 - p2 * r1 AS p21 FROM lvl2
    )
    SELECT event_type, n_hours,
           {sql_dround("r1", 6)} AS pacf_lag1,
           {sql_dround("p2", 6)} AS pacf_lag2,
           {sql_dround(
               "CASE WHEN (1 - p21 * r1 - p2 * r2) = 0 THEN NULL"
               " ELSE (r3 - p21 * r2 - p2 * r1)"
               " / (1 - p21 * r1 - p2 * r2) END", 6
           )} AS pacf_lag3
    FROM lvl3
    """,
)
def q_ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the hourly event-rate series per
    type at lags 1-3, via the closed-form Durbin-Levinson recursion
    over the ACF values (φ11 = r1; φ22 = (r2−r1²)/(1−r1²);
    φ33 from the level-2 coefficients) — the AR-order picker: ACF
    says "is there memory?", PACF says "how many AR lags explain it"
    (a sharp PACF cutoff at lag k ⇒ AR(k) — the Box-Jenkins
    identification step).

    Plan: everything rides on the q_ts_acf frame (hourly hash
    aggregate + one window pass over the aggregated series — see that
    docstring); the recursion itself is per-row arithmetic on the
    |types|-row ACF output. Determinism: the ACF inputs are already
    e6-rounded, the recursion is pure IEEE double arithmetic written
    identically in both engines, zero-variance denominators NULL out
    identically, and outputs are e6-rounded."""
    from ex_hivent_spark.functions.decimals import dround

    acf = q_ts_acf(spark, sf_dir)
    r1, r2, r3 = F.col("acf_lag1"), F.col("acf_lag2"), F.col("acf_lag3")
    d2 = 1 - r1 * r1
    p2 = F.when(d2 == 0, F.lit(None)).otherwise((r2 - r1 * r1) / d2)
    out = acf.select("event_type", "n_hours", r1.alias("r1"),
                     r2.alias("r2"), r3.alias("r3"), p2.alias("p2"))
    p21 = F.col("r1") - F.col("p2") * F.col("r1")
    out = out.withColumn("p21", p21)
    d3 = 1 - F.col("p21") * F.col("r1") - F.col("p2") * F.col("r2")
    p3 = F.when(d3 == 0, F.lit(None)).otherwise(
        (F.col("r3") - F.col("p21") * F.col("r2") - F.col("p2") * F.col("r1"))
        / d3
    )
    return out.select(
        "event_type",
        "n_hours",
        dround(F.col("r1"), 6).alias("pacf_lag1"),
        dround(F.col("p2"), 6).alias("pacf_lag2"),
        dround(p3, 6).alias("pacf_lag3"),
    )


LTOB_BUCKET = 64  # events per downsampling bucket


@register(
    "q_ts_downsample_ltob",
    oracle=f"""
    WITH pts AS (
      SELECT event_type, event_id, ts, value,
             epoch_us(ts) // 1000000 - 1704067200 AS x,
             event_id // {LTOB_BUCKET} AS bkt
      FROM events
    ),
    bmeans AS (
      SELECT event_type, bkt,
             CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / count(*)
               AS mx,
             CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*)
               AS my
      FROM pts GROUP BY event_type, bkt
    ),
    nb AS (
      SELECT event_type, bkt,
             lag(mx)  OVER w AS lx, lag(my)  OVER w AS ly,
             lead(mx) OVER w AS rx, lead(my) OVER w AS ry
      FROM bmeans
      WINDOW w AS (PARTITION BY event_type ORDER BY bkt)
    ),
    scored AS (
      SELECT p.event_type, p.bkt, p.event_id, p.ts, p.value,
             CASE WHEN nb.lx IS NULL OR nb.rx IS NULL THEN NULL
                  ELSE {sql_dround(
                      "abs((nb.lx - nb.rx) * (p.value - nb.ly)"
                      " - (nb.lx - p.x) * (nb.ry - nb.ly))", 6
                  )} END AS area
      FROM pts p JOIN nb ON p.event_type = nb.event_type
                        AND p.bkt = nb.bkt
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY event_type, bkt
               ORDER BY area DESC NULLS LAST, event_id
             ) AS rn
      FROM scored
    )
    SELECT event_type, CAST(bkt AS BIGINT) AS bucket, event_id, ts,
           CAST(value AS DOUBLE) AS value, area
    FROM ranked WHERE rn = 1
    """,
)
def q_ts_downsample_ltob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-One-Bucket downsampling (Steinarsson 2013 —
    the charting decimation the LTTB family is built on): per
    (event_type, fixed 64-event bucket), keep the ONE point forming
    the largest triangle with the neighboring buckets' mean points —
    the visually-faithful alternative to naive avg/first decimation,
    which erases spikes charts exist to show. Edge buckets (no left
    or right neighbor) keep their first point (NULL area). LTOB is the
    parallel member of the family: unlike full LTTB (whose selection
    chains sequentially bucket-to-bucket), every bucket's choice
    depends only on neighbor MEANS, so the whole pass is windows +
    one argmax — no sequential dependency to break at scale.

    Plan: one (type, bucket) hash aggregate for the decimal-exact mean
    points, a lag/lead window over the BUCKET frame (|buckets| rows,
    not events), a hash join back to the events, and a per-bucket
    row_number argmax (bounded 64-row partitions). Determinism: means
    are decimal-sum/count, the cross-product area is e6-rounded,
    ties break by event_id, NULLS LAST written identically (Spark
    desc_nulls_last matches DuckDB's DESC NULLS LAST). The time
    coordinate is INTEGER seconds relative to the 2024-01-01 epoch,
    not raw epoch microseconds: the decimal-summed x means must keep
    their unscaled decimal below 2^53, past which the decimal→double
    cast is correctly rounded on the JVM but double-rounded by
    DuckDB's int128/10⁶ path and the areas drift in the last digits
    (measured: raw-µs coordinates produced ~300 area mismatches at
    sf0.01)."""
    from ex_hivent_spark.functions.decimals import dround

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        "event_id",
        "ts",
        "value",
        (F.expr("unix_micros(ts) DIV 1000000") - 1704067200).alias("x"),
        F.expr(f"event_id DIV {LTOB_BUCKET}").alias("bkt"),
    ).localCheckpoint(eager=False)  # bucket means + the join-back
    # both read this frame: one events scan
    dec = "decimal(25,6)"
    bmeans = pts.groupBy("event_type", "bkt").agg(
        (
            F.sum(F.col("x").cast(dec)).cast("double") / F.count(F.lit(1))
        ).alias("mx"),
        (
            F.sum(F.col("value").cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("my"),
    )
    w = Window.partitionBy("event_type").orderBy("bkt")
    nb = bmeans.select(
        "event_type",
        "bkt",
        F.lag("mx").over(w).alias("lx"),
        F.lag("my").over(w).alias("ly"),
        F.lead("mx").over(w).alias("rx"),
        F.lead("my").over(w).alias("ry"),
    )
    joined = pts.join(nb, ["event_type", "bkt"])
    area = F.when(
        F.col("lx").isNull() | F.col("rx").isNull(), F.lit(None)
    ).otherwise(
        dround(
            F.abs(
                (F.col("lx") - F.col("rx")) * (F.col("value") - F.col("ly"))
                - (F.col("lx") - F.col("x")) * (F.col("ry") - F.col("ly"))
            ),
            6,
        )
    )
    wr = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("area").desc_nulls_last(), "event_id"
    )
    return (
        joined.select(
            "event_type",
            F.col("bkt").cast("bigint").alias("bucket"),
            "event_id",
            "ts",
            F.col("value").cast("double").alias("value"),
            area.alias("area"),
        )
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_BOLL_WIN = 7  # trailing days in the Bollinger frame
_BOLL_K = 2.0  # band half-width in rolling sigmas


@register(
    "q_win_bollinger_bands",
    oracle=f"""
    WITH daily AS (
      SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
    ),
    base AS (
      SELECT rf,
             greatest(CAST(floor(sum(CAST(floor(rev + 0.5) AS BIGINT))
                                 / count(*)) AS BIGINT), 1) AS k
      FROM daily GROUP BY rf
    ),
    rel AS (
      SELECT d.rf, d.day, d.rev, b.k,
             {sql_dround("(d.rev - b.k) / b.k", 6)} AS dv
      FROM daily d JOIN base b ON d.rf = b.rf
    ),
    rolled AS (
      SELECT rf, day, rev, k,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(CAST(rev AS DECIMAL(25,6))) OVER w AS DOUBLE) AS s,
             CAST(sum(CAST(dv AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sd_sum,
             CAST(sum(CAST({sql_dround("dv * dv", 12)}
                  AS DECIMAL(25,12))) OVER w AS DOUBLE) AS sq_sum
      FROM rel
      WINDOW w AS (PARTITION BY rf ORDER BY day
                   ROWS BETWEEN {_BOLL_WIN - 1} PRECEDING AND CURRENT ROW)
    ),
    bands AS (
      SELECT rf, day, rev, s / n AS ma,
             {sql_dround(
                 "k * sqrt(greatest((sq_sum - sd_sum * sd_sum / n)"
                 " / (n - 1), 0))", 6
             )} AS sd
      FROM rolled WHERE n = {_BOLL_WIN}
    )
    SELECT rf AS l_returnflag, day, rev, ma AS ma7, sd AS sd7,
           CAST(CASE WHEN rev > ma + {_BOLL_K} * sd
                       OR rev < ma - {_BOLL_K} * sd
                THEN 1 ELSE 0 END AS INTEGER) AS breach
    FROM bands
    """,
)
def q_win_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on daily revenue per return flag: trailing
    7-day rolling mean ± 2 rolling sigmas, flagging the days whose
    revenue breaches the band — the control-chart anomaly screen
    (the batch twin of streaming monitors; same shape as SPC
    X-bar charts). Rows only where the trailing frame is full.

    Plan: the fact stream collapses to the daily (flag, day, revenue)
    grain first (hash aggregate), so the window runs over |days|×|flags|
    rows — time-grain bounded, partitioned by flag, never a global
    sort; rolling moments come from count/sum/sum-of-squares over the
    ROWS frame. Determinism: the rolling sigma is computed on e6
    RELATIVE deviations from a per-flag integer base level (exact
    integer arithmetic) — variance is shift-invariant and the relative
    deviations are O(1) at ANY data scale, so their e12 squared sums
    stay far inside the 2^53 unscaled-decimal exactness bound. (The
    r11 sf0.1 hash sweep caught the previous absolute sum-of-squares
    exceeding that bound: DuckDB's decimal→double cast double-rounded
    the last digit of sd7 — invisible at sf0.01 magnitudes.) The band
    compares are then exact doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(dsum("l_extendedprice", "rev"))
    base = daily.groupBy("l_returnflag").agg(
        F.greatest(
            F.floor(
                F.sum(F.floor(F.col("rev") + 0.5).cast("bigint"))
                / F.count(F.lit(1))
            ).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("k")
    )
    rel = daily.join(F.broadcast(base), "l_returnflag").select(
        "l_returnflag",
        "day",
        "rev",
        "k",
        dround((F.col("rev") - F.col("k")) / F.col("k"), 6).alias("dv"),
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("day")
        .rowsBetween(-(_BOLL_WIN - 1), Window.currentRow)
    )
    rolled = rel.select(
        "l_returnflag",
        "day",
        "rev",
        "k",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum(F.col("rev").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("s"),
        F.sum(F.col("dv").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("sd_sum"),
        F.sum(
            dround(F.col("dv") * F.col("dv"), 12).cast("decimal(25,12)")
        )
        .over(w)
        .cast("double")
        .alias("sq_sum"),
    ).filter(F.col("n") == _BOLL_WIN)
    ma = F.col("s") / F.col("n")
    # greatest(.., 0): double cancellation on a near-constant window can
    # leave a tiny negative — Spark's sqrt would return NaN while
    # DuckDB's raises, so clamp identically on both sides.
    sd = dround(
        F.col("k")
        * F.sqrt(
            F.greatest(
                (
                    F.col("sq_sum")
                    - F.col("sd_sum") * F.col("sd_sum") / F.col("n")
                )
                / (F.col("n") - 1),
                F.lit(0.0),
            )
        ),
        6,
    )
    bands = rolled.select(
        "l_returnflag", "day", "rev", ma.alias("ma7"), sd.alias("sd7")
    )
    breach = (
        F.col("rev") > F.col("ma7") + F.lit(_BOLL_K) * F.col("sd7")
    ) | (F.col("rev") < F.col("ma7") - F.lit(_BOLL_K) * F.col("sd7"))
    return bands.select(
        "l_returnflag",
        "day",
        "rev",
        "ma7",
        "sd7",
        F.when(breach, 1).otherwise(0).cast("int").alias("breach"),
    )


@register(
    "q_win_drawdown",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
    ),
    p AS (
      SELECT rf, day, rev,
             max(rev) OVER (PARTITION BY rf ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS peak
      FROM daily
    )
    SELECT rf AS l_returnflag, day, rev, peak,
           (peak - rev) / peak AS drawdown
    FROM p
    """,
)
def q_win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown of the daily revenue series per return
    flag: peak = running max of daily revenue, drawdown = (peak -
    rev)/peak — the control-chart "how far below the high-water mark"
    readout (finance drawdown curves, capacity-regression monitors; the
    high-water-mark twin of q_win_bollinger_bands' band breach).

    Plan: the fact stream collapses to the daily grain in one hash
    aggregate, so the running max runs over |days|x|flags| rows —
    time-grain bounded, partitioned by flag, never a global sort.
    Determinism: daily revenue rides the decimal detour; the running
    max picks one of those exact doubles, and the closing drawdown is
    one identically-written IEEE subtract/divide (peak >= rev > 0 on
    this data, no zero-division guard needed — and an empty flag simply
    emits no rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(dsum("l_extendedprice", "rev"))
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = daily.select(
        "l_returnflag", "day", "rev", F.max("rev").over(w).alias("peak")
    )
    return p.select(
        "l_returnflag",
        "day",
        "rev",
        "peak",
        ((F.col("peak") - F.col("rev")) / F.col("peak")).alias("drawdown"),
    )


# SAX (Symbolic Aggregate approXimation) breakpoints for a 4-letter
# alphabet: the standard N(0,1) quartile cuts.
_SAX_BREAKS = (-0.6745, 0.0, 0.6745)


@register(
    "q_ts_sax_symbols",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(rev AS DECIMAL(25,6))) AS DOUBLE) AS s,
             CAST(sum(CAST(rev * rev AS DECIMAL(38,6))) AS DOUBLE) AS ss
      FROM daily
    ),
    z AS (
      SELECT day, rev,
             {sql_dround(
                 "(rev - s / n)"
                 " / (" + sql_dround(
                     "sqrt(greatest((ss - s * s / n) / (n - 1), 0))", 6
                 ) + ")",
                 6,
             )} AS znorm
      FROM daily CROSS JOIN m
    )
    SELECT day, rev, znorm,
           CASE WHEN znorm < {_SAX_BREAKS[0]} THEN 'a'
                WHEN znorm < {_SAX_BREAKS[1]} THEN 'b'
                WHEN znorm < {_SAX_BREAKS[2]} THEN 'c'
                ELSE 'd' END AS sax_symbol
    FROM z
    """,
)
def q_ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of the daily total-revenue series: z-normalize
    against the series mean/sigma, then map each day into a 4-letter
    alphabet at the standard N(0,1) quartile breakpoints (Lin/Keogh
    SAX) — the discretization behind symbolic motif/anomaly mining,
    and the index key for wholesale time-series similarity search.

    Plan: one hash aggregate to the daily grain, a one-row moment
    aggregate broadcast back (cross join of a 1-row frame), and a
    map-only projection — nothing after the collapse is data-sized.
    Determinism: daily revenue and moments ride the decimal detour
    (sum-of-squares at decimal(38,6) per the welch/bollinger bound),
    the sigma sqrt is e6-rounded and clamped at zero, znorm is
    e6-rounded before the breakpoint compares, and the breakpoints are
    shared literals."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        dsum("l_extendedprice", "rev")
    )
    rev = F.col("rev")
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(rev.cast("decimal(25,6)")).cast("double").alias("s"),
        F.sum((rev * rev).cast("decimal(38,6)")).cast("double").alias("ss"),
    )
    sigma = dround(
        F.sqrt(
            F.greatest(
                (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1),
                F.lit(0.0),
            )
        ),
        6,
    )
    z = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "rev",
        dround((rev - F.col("s") / F.col("n")) / sigma, 6).alias("znorm"),
    )
    zc = F.col("znorm")
    return z.select(
        "day",
        "rev",
        "znorm",
        F.when(zc < _SAX_BREAKS[0], "a")
        .when(zc < _SAX_BREAKS[1], "b")
        .when(zc < _SAX_BREAKS[2], "c")
        .otherwise("d")
        .alias("sax_symbol"),
    )


# chi-square 95th percentile at 3 degrees of freedom (lags tested)
_LJUNG_CRIT = 7.814727903251179


@register(
    "q_ts_ljung_box",
    oracle=_ACF_CTE_SQL
    + f"""
    , rho AS (
      SELECT event_type, n_hours,
             CASE WHEN den <> 0
                  THEN {sql_dround("num1 / den", 6)} END AS r1,
             CASE WHEN den <> 0
                  THEN {sql_dround("num2 / den", 6)} END AS r2,
             CASE WHEN den <> 0
                  THEN {sql_dround("num3 / den", 6)} END AS r3
      FROM sums
    ),
    q AS (
      SELECT event_type, n_hours,
             CAST(n_hours AS DOUBLE) * (n_hours + 2)
             * (r1 * r1 / (n_hours - 1)
                + r2 * r2 / (n_hours - 2)
                + r3 * r3 / (n_hours - 3)) AS q_stat
      FROM rho
    )
    SELECT event_type, n_hours, q_stat,
           CAST(CASE WHEN q_stat > {_LJUNG_CRIT} THEN 1 ELSE 0 END
                AS INTEGER) AS whitenoise_rejected
    FROM q
    """,
)
def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test on the hourly event-rate series per
    event type (lags 1–3): Q = n(n+2)·Σ ρ_k²/(n−k) against the
    chi-square 95th percentile at 3 dof — the "is this series white
    noise?" gate run before fitting any ARMA/seasonal model, and the
    natural closing statistic over q_ts_acf's correlations.

    Plan: reuses q_ts_acf's machinery verbatim (one hash aggregate to
    the hourly grain, broadcast mean, one shared-sort window pass) and
    closes with per-type scalar arithmetic — nothing data-sized after
    the collapse. Determinism: the ρ_k inputs are the ACF's e6-rounded
    divisions; squares, the three exact integer-denominator divisions,
    and the closing product are identically-written IEEE arithmetic;
    the flag compares against a shared literal. A zero-variance series
    (den = 0) propagates NULL ρ → NULL Q → flag 0, identically in both
    engines."""
    acf = q_ts_acf(spark, sf_dir)
    n = F.col("n_hours")
    nd = n.cast("double")
    r1, r2, r3 = F.col("acf_lag1"), F.col("acf_lag2"), F.col("acf_lag3")
    q_stat = (
        nd
        * (n + 2)
        * (
            r1 * r1 / (n - 1)
            + r2 * r2 / (n - 2)
            + r3 * r3 / (n - 3)
        )
    )
    q = acf.select("event_type", "n_hours", q_stat.alias("q_stat"))
    return q.select(
        "event_type",
        "n_hours",
        "q_stat",
        F.when(F.col("q_stat") > _LJUNG_CRIT, 1)
        .otherwise(0)
        .cast("int")
        .alias("whitenoise_rejected"),
    )


@register(
    "q_ts_peak_detection",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS DOUBLE) / count(*) AS mu,
             CAST(sum(CAST(cnt AS DOUBLE) * cnt) AS DOUBLE) AS ss,
             CAST(sum(cnt) AS DOUBLE) AS s
      FROM hourly GROUP BY event_type
    ),
    t AS (
      SELECT event_type, mu,
             {sql_dround(
                 "mu + 2 * sqrt(greatest((ss - s * s / n) / (n - 1), 0))",
                 6,
             )} AS thresh
      FROM m
    ),
    nb AS (
      SELECT hourly.event_type, h, cnt, thresh,
             lag(cnt) OVER w AS prev_cnt,
             lead(cnt) OVER w AS next_cnt
      FROM hourly JOIN t USING (event_type)
      WINDOW w AS (PARTITION BY hourly.event_type ORDER BY h)
    )
    SELECT event_type, h AS peak_hour, cnt, prev_cnt, next_cnt, thresh
    FROM nb
    WHERE prev_cnt IS NOT NULL AND next_cnt IS NOT NULL
      AND cnt > prev_cnt AND cnt > next_cnt
      AND CAST(cnt AS DOUBLE) > thresh
    """,
)
def q_ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on the hourly event-rate series per type: an
    hour is a PEAK when it strictly exceeds both neighbors (local
    maximum) AND clears mean + 2σ of its type's series (global
    prominence) — the traffic-spike / incident-burst detector that
    feeds alerting (local-max alone fires on every ripple; the sigma
    bar suppresses them).

    Plan: one hash aggregate to the hourly grain, the per-type
    moment frame broadcast back, neighbors from ONE type-partitioned
    window pass over the aggregated (time-grain bounded) frame.
    Determinism: integer counts compare exactly; the only libm (the
    sigma sqrt) is zero-clamped and the threshold e6-rounded before
    the strict compare. Integer cnt·cnt sums stay exact well past
    2^53 hours-per-type — no decimal detour needed on a count
    series."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    cd = F.col("cnt").cast("double")
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sum(cd * F.col("cnt")).cast("double").alias("ss"),
        F.sum("cnt").cast("double").alias("s"),
    )
    thresh = dround(
        F.col("mu")
        + 2
        * F.sqrt(
            F.greatest(
                (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1),
                F.lit(0.0),
            )
        ),
        6,
    )
    t = m.select("event_type", thresh.alias("thresh"))
    w = Window.partitionBy("event_type").orderBy("h")
    nb = hourly.join(F.broadcast(t), "event_type").select(
        "event_type",
        "h",
        "cnt",
        "thresh",
        F.lag("cnt").over(w).alias("prev_cnt"),
        F.lead("cnt").over(w).alias("next_cnt"),
    )
    return nb.filter(
        F.col("prev_cnt").isNotNull()
        & F.col("next_cnt").isNotNull()
        & (F.col("cnt") > F.col("prev_cnt"))
        & (F.col("cnt") > F.col("next_cnt"))
        & (F.col("cnt").cast("double") > F.col("thresh"))
    ).select(
        "event_type",
        F.col("h").alias("peak_hour"),
        "cnt",
        "prev_cnt",
        "next_cnt",
        "thresh",
    )


# Session gap threshold, microseconds (the q_win_sessionize 30-minute
# convention — the two must agree on static data).
_SESS_GAP_US = 30 * 60 * 1_000_000


@register(
    "q_seq_session_stats",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > {_SESS_GAP_US}
                       OR lag(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
      SELECT user_id, us,
             sum(brk) OVER (PARTITION BY user_id
                            ORDER BY us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
      FROM seq
    ),
    sess AS (
      SELECT user_id, sid,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(us) - min(us) AS BIGINT) AS dur_us
      FROM sid GROUP BY user_id, sid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounce,
           {sql_dround(
               "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)"
               " AS DOUBLE) / count(*)", 6)} AS bounce_rate,
           {sql_dround(
               "CAST(sum(n_events) AS DOUBLE) / count(*)",
               6)} AS mean_events,
           CAST(max(n_events) AS BIGINT) AS max_events,
           {sql_dround(
               "CAST(sum(dur_us) AS DOUBLE) / count(*) / 1e6",
               6)} AS mean_duration_sec
    FROM sess
    """,
)
def q_seq_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-quality panel over 30-minute-gap sessions (the
    q_win_sessionize segmentation, re-derived so the two stay in
    lockstep on static data): session count, single-event bounce count
    and rate, mean/max events per session, and mean session duration —
    the engagement headline row (bounce rate up + depth down is the
    classic relevance regression).

    Plan: one lag pass + one running-sum pass partitioned BY USER
    (user-grain bounded), one (user, session) hash aggregate, one
    scalar fold. Determinism: gap breaks compare exact BIGINT
    microseconds; session ids are integer prefix sums; durations are
    exact BIGINT differences summed as integers (no decimal detour
    needed); closing rates cast the integer sums to DOUBLE once and
    e6-round after the division chain."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    prev = F.lag(us).over(w)
    seq = e.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.when(
            prev.isNull() | ((us - prev) > _SESS_GAP_US), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    wrun = Window.partitionBy("user_id").orderBy(
        "us", "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sid = seq.select(
        "user_id", "us", F.sum("brk").over(wrun).alias("sid")
    )
    sess = sid.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("us") - F.min("us")).cast("bigint").alias("dur_us"),
    )
    n = F.count(F.lit(1))
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return sess.agg(
        n.cast("bigint").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounce"),
        dround(bounce.cast("double") / n, 6).alias("bounce_rate"),
        dround(F.sum("n_events").cast("double") / n, 6).alias(
            "mean_events"
        ),
        F.max("n_events").cast("bigint").alias("max_events"),
        dround(F.sum("dur_us").cast("double") / n / 1e6, 6).alias(
            "mean_duration_sec"
        ),
    )
