"""Composite analytics queries: TPC-H-style multi-join aggregations,
pivot/unpivot reshaping, exact moment statistics, subqueries, and exact
percentiles.

These exercise the engine's optimizer the way a warehouse workload
would — star joins with selective filters (pushdown + AQE join
planning), reshape operators, and statistics that must hash-match a
second engine. Float determinism follows the decimal-sum convention
(functions/decimals.py): per-row double products are IEEE-deterministic
across engines, aggregation goes through fixed-scale decimals, and
final formulas are plain double arithmetic — so even corr/covar are
bit-exact vs the oracle with NO tolerance loosening.

Scale notes: every query here is shuffle-keyed on its natural join/group
keys; the TPC-H composites rely on filter pushdown into the scans (the
date/segment predicates reach PushedFilters) and leave join-strategy
choice to AQE, which broadcasts the dimension sides at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ex_hivent_spark.catalog import load_table, register_views, spread_table
from ex_hivent_spark.functions.decimals import dround, dsum, sql_dround, sql_dsum
from ex_hivent_spark.plans.registry import register

_Q3_DATE = "1998-06-01"
_SQL_REVENUE = "l_extendedprice * (1 - l_discount)"


def _revenue():
    # built lazily: classic pyspark Column construction needs a live JVM
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "q_tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum(_SQL_REVENUE, "revenue")},
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{_Q3_DATE}'
      AND l_shipdate > TIMESTAMP '{_Q3_DATE}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped BUILDING-segment orders by
    revenue. Selective filters sit directly on each scan (pushdown), the
    two joins are equi-keyed, and the top-10 is a TakeOrdered with a
    unique tie-break — no global sort materialization."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_revenue(), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q5_local_supplier",
    oracle=f"""
    SELECT n_name, {sql_dsum(_SQL_REVENUE, "revenue")}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 1997 revenue per ASIA nation where customer and
    supplier share the nation. Six-table star: nation/region explicitly
    broadcast (tiny dims at any scale); the fact-side joins stay
    shuffle-keyed and AQE picks broadcast for supplier/customer when
    their filtered size allows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    from ex_hivent_spark.planner import stats_broadcast

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = stats_broadcast(spark, sf_dir, "nation")
    r = stats_broadcast(
        spark,
        sf_dir,
        "region",
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(_revenue(), "revenue"))
    )


@register(
    "q_tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum(_SQL_REVENUE, "revenue")},
           any_value(c_acctbal) AS c_acctbal
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by Q4-1997 revenue lost to
    returned items. any_value(c_acctbal) is constant within the group
    (functionally dependent on c_custkey) — deterministic on both
    engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(_revenue(), "revenue"),
            F.any_value("c_acctbal").alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "q_pivot_event_matrix",
    oracle=f"""
    SELECT user_id,
           {", ".join(f"count(*) FILTER (event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES)}
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts spread into one column per event
    type (explicit value list, so the plan is a single hash aggregate —
    no second pass to discover pivot values). Missing combinations
    surface as 0, matching SQL's FILTER counts."""
    e = load_table(spark, sf_dir, "events")
    pivoted = (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


@register(
    "q_unpivot_part_attrs",
    oracle="""
    SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
    """,
)
def q_unpivot_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: widen-to-long reshape of part attributes via the
    native unpivot operator (a single Expand node — one pass, no
    self-union double scan)."""
    p = load_table(spark, sf_dir, "part").withColumn(
        "p_size", F.col("p_size").cast("double")
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="attr",
        valueColumnName="val",
    )


@register(
    "q_agg_stats_suite",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             {sql_dsum("l_quantity", "sx")},
             {sql_dsum("l_extendedprice", "sy")},
             {sql_dsum("l_quantity * l_quantity", "sxx")},
             {sql_dsum("l_extendedprice * l_extendedprice", "syy")},
             {sql_dsum("l_quantity * l_extendedprice", "sxy")}
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (sxy - sx * sy / n) / (n - 1) AS covar_qty_price,
           (sxx - sx * sx / n) / (n - 1) AS var_qty,
           {sql_dround(
               "(sxy - sx * sy / n)"
               " / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))", 12)}
               AS corr_qty_price
    FROM m
    """,
)
def q_agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics (covariance/variance/correlation) per return
    flag, computed from decimal-exact raw moments rather than the
    engines' native corr/covar accumulators: per-row products are
    IEEE-deterministic, decimal sums are order-insensitive, and the
    closing formulas are plain double arithmetic — bit-exact vs the
    oracle with no tolerance, which native streaming co-moment
    implementations cannot guarantee across engines. Same single hash
    aggregate + map-side combine as any sum.

    r16: spread_table — the single-row-group testdata scan ran the
    whole 6-decimal-sum partial aggregate in ONE task; hash-spreading
    on l_orderkey parallelizes the map side, and since decimal sums
    are order-insensitive the result is bit-identical (oracle-verified
    at 3 SFs). No-op on multi-split inputs."""
    li = spread_table(spark, sf_dir, "lineitem", "l_orderkey")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity", "sx"),
        dsum("l_extendedprice", "sy"),
        dsum(F.col("l_quantity") * F.col("l_quantity"), "sxx"),
        dsum(F.col("l_extendedprice") * F.col("l_extendedprice"), "syy"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice"), "sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        "n",
        ((sxy - sx * sy / n) / (n - 1)).alias("covar_qty_price"),
        ((sxx - sx * sx / n) / (n - 1)).alias("var_qty"),
        # the sqrt+divide chain can differ by 1 ulp between engines —
        # the one spot here where exactness needs an e12 round
        dround(
            (sxy - sx * sy / n)
            / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
            12,
        ).alias("corr_qty_price"),
    )


@register(
    "q_scalar_subquery",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice,
           (SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(25,6))) AS DOUBLE)
                   / count(*) FROM part) AS avg_price
    FROM part
    WHERE p_retailprice >
          (SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(25,6))) AS DOUBLE)
                  / count(*) FROM part)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: parts priced above the overall average (average
    via the decimal-sum convention so both engines agree bit-exactly).
    Catalyst plans the uncorrelated scalar subquery as a one-row
    broadcast — the part scan streams against it, no join shuffle."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice,
               (SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(25,6))) AS DOUBLE)
                       / count(*) FROM part) AS avg_price
        FROM part
        WHERE p_retailprice >
              (SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(25,6))) AS DOUBLE)
                      / count(*) FROM part)
        """
    )


_QUANTILES = (0.25, 0.5, 0.75, 0.9)


@register(
    "q_percentile_exact",
    oracle=f"""
    WITH q AS (
      SELECT event_type,
             unnest(quantile_cont(value, {list(_QUANTILES)})) AS qv,
             unnest(list_transform({list(_QUANTILES)},
                                   x -> CAST(x AS DOUBLE))) AS quantile
      FROM events GROUP BY event_type
    )
    SELECT event_type, quantile, {sql_dround("qv", 6)} AS value_at_q
    FROM q
    """,
)
def q_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile per event type: Spark's percentile() and
    DuckDB's quantile_cont share the linear-interpolation definition;
    rounded to 1e-6 against last-ulp sort/interpolation drift. Exact
    percentile is a per-group sort — bounded by group size, the same
    cost envelope as any per-key ranking; approx_percentile is the
    sketch alternative when groups are huge (q_agg_approx_distinct
    demonstrates the sketch path)."""
    e = load_table(spark, sf_dir, "events")
    pct = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(list(_QUANTILES))).alias("qs")
    )
    return (
        pct.select(
            "event_type",
            F.posexplode("qs").alias("pos", "qv"),
        )
        .select(
            "event_type",
            F.element_at(
                F.lit(list(_QUANTILES)), F.col("pos") + 1
            ).alias("quantile"),
            dround(F.col("qv"), 6).alias("value_at_q"),
        )
    )


@register(
    "q_quality_sequence_gaps",
    oracle="""
    WITH seq AS (
      SELECT event_id,
             lead(event_id) OVER (ORDER BY event_id) AS next_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id + 1 AS gap_start, next_id - 1 AS gap_end,
           next_id - event_id - 1 AS n_missing
    FROM seq
    WHERE next_id - event_id > 1
    """,
)
def q_quality_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gap detection: missing ranges in the PURCHASE
    stream's event_id sequence (the dropped-message audit every
    at-least-once pipeline runs, scoped to one logical topic whose
    ids are a subsequence of the global counter).

    r13 vacuous-op audit rewrite: auditing the FULL event_id sequence
    returned zero rows at every SF (the generator's id column is
    dense), so the hash-match was schema-only and the entire blocked-
    prefix plan below went oracle-unexercised. Scoping to the purchase
    subsequence keeps the identical machinery and semantics (gaps are
    now the interleaved other-type ids: 150 / 1,584 / 16,036 gap rows
    at sf0.001/0.01/0.1) while making the oracle check every carry.

    Plan: the global predecessor of each id under the total event_id
    order IS the exclusive global running max of event_id — so this is
    one call into operators/prefix.py's blocked machinery
    (running_max_blocked, DIV-8192 deterministic blocking): the
    per-block exclusive-max window runs distributed (each block is a
    contiguous id range), and the cross-block carry (each block's
    first row needs the previous block's max) is the blocked prefix
    fold — driver-folded while blocks ≤ 10⁶, recursing through
    distributed DIV-8192 super-block levels beyond that
    (prefix.py:210), so a 10¹¹-id range costs one extra distributed
    level, never an unbounded driver collect. A row whose id exceeds
    its predecessor by >1 delimits exactly one gap (identical pair
    set to the global-ordered lead formulation, viewed from the right
    endpoint); the globally-first row carries a NULL predecessor and
    is filtered. No single-partition window over the event stream
    anywhere."""
    from .prefix import running_max_blocked

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    parts = e.select("event_id").withColumn(
        "__blk", F.expr("event_id DIV 8192")
    )
    prev = running_max_blocked(
        parts, ["event_id"], ["__blk"], "event_id", "__prev",
        exclusive=True,
    )
    return prev.filter(
        F.col("event_id") - F.col("__prev") > 1
    ).select(
        (F.col("__prev") + 1).alias("gap_start"),
        (F.col("event_id") - 1).alias("gap_end"),
        (F.col("event_id") - F.col("__prev") - 1).alias("n_missing"),
    )


@register(
    "q_agg_histogram",
    oracle="""
    SELECT event_type,
           CAST(least(floor(value / 25.0), 7) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(value) AS DOUBLE) AS bucket_min,
           CAST(max(value) AS DOUBLE) AS bucket_max
    FROM events
    GROUP BY 1, 2
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type (8 buckets of 25,
    last bucket open-ended) — one hash aggregate on the bucketed key;
    min/max per bucket are exact doubles (no summation)."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 25.0), F.lit(7)).cast("bigint")
    return (
        e.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("bucket_min"),
            F.max("value").alias("bucket_max"),
        )
    )


@register(
    "q_funnel_signup_purchase",
    oracle="""
    WITH signup AS (
      SELECT user_id, min(ts) AS first_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT s.user_id, s.first_signup, min(e.ts) AS first_purchase_after
      FROM signup s
      LEFT JOIN events e
        ON e.user_id = s.user_id
       AND e.event_type = 'purchase'
       AND e.ts > s.first_signup
      GROUP BY s.user_id, s.first_signup
    )
    SELECT user_id, first_signup, first_purchase_after,
           CASE WHEN first_purchase_after IS NOT NULL THEN 1 ELSE 0 END
               AS converted,
           epoch_us(first_purchase_after) - epoch_us(first_signup)
               AS time_to_convert_us
    FROM conv
    """,
)
def q_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: per user, first signup → earliest subsequent
    purchase (the sequential-pattern building block of event analytics).
    Two keyed aggregates + one equi-join with residual time predicate —
    never a pair materialization beyond the user's own events."""
    e = load_table(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        signup.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("first_signup")),
            "left",
        )
        .groupBy("user_id", "first_signup")
        .agg(F.min("p_ts").alias("first_purchase_after"))
    )
    return conv.select(
        "user_id",
        "first_signup",
        "first_purchase_after",
        F.when(F.col("first_purchase_after").isNotNull(), 1)
        .otherwise(0)
        .alias("converted"),
        (
            F.unix_micros("first_purchase_after") - F.unix_micros("first_signup")
        ).alias("time_to_convert_us"),
    )


@register(
    "q_agg_higher_moments",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             count(*) AS n,
             {sql_dsum("value", "s1")},
             {sql_dsum("value * value", "s2")},
             {sql_dsum("value * value * value", "s3")}
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           s1 / n AS mean_value,
           {sql_dround("(s2 - s1 * s1 / n) / n", 6)} AS pop_variance,
           {sql_dround(
               "(s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))"
               " / pow((s2 - s1 * s1 / n) / n, 1.5)", 9)} AS skewness
    FROM m
    """,
)
def q_agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population variance + skewness from decimal-exact raw moments —
    the same bit-exact-moments technique as q_agg_stats_suite extended
    to the third moment. Native skewness() accumulators are engine-
    specific float streams; raw-moment formulas with e6/e9 rounding are
    not. Still one hash aggregate with map-side combine."""
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", "s1"),
        dsum(v * v, "s2"),
        dsum(v * v * v, "s3"),
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    mean = s1 / n
    pop_var = (s2 - s1 * s1 / n) / n
    skew = (s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean) / F.pow(
        pop_var, 1.5
    )
    return m.select(
        "event_type",
        "n",
        mean.alias("mean_value"),
        dround(pop_var, 6).alias("pop_variance"),
        dround(skew, 9).alias("skewness"),
    )


@register(
    "q_basket_event_lift",
    oracle=f"""
    WITH per_user AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (SELECT count(DISTINCT user_id) AS n FROM events),
    singles AS (
      SELECT event_type, count(*) AS n_with FROM per_user GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM per_user a JOIN per_user b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           {sql_dround(
               "(CAST(p.n_both AS DOUBLE) / n.n)"
               " / ((CAST(sa.n_with AS DOUBLE) / n.n)"
               "    * (CAST(sb.n_with AS DOUBLE) / n.n))", 6)} AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN n_users n
    """,
)
def q_basket_event_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis over event types: for every pair of
    event types, co-occurrence count across users and lift
    (P(a,b) / P(a)P(b)). The pair join is per-user over a ≤5-element
    distinct set — bounded fan-out, never a cross join over users; the
    type-level tables are vocabulary-sized broadcasts."""
    e = load_table(spark, sf_dir, "events")
    # r16 wave 9: the user count becomes a one-row broadcast instead
    # of a plan-build .count() job (kept). Pinning per_user was also
    # A/B-tested and REVERTED (wash-to-slower: the duplicated distinct
    # subtrees overlap within one job).
    per_user = e.select("user_id", "event_type").distinct()
    nu = per_user.agg(
        F.count_distinct("user_id").cast("bigint").alias("nu")
    )
    singles = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_with")
    )
    a = per_user.alias("a")
    b = per_user.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_with").alias("na")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_with").alias("nb")
    )
    nud = F.col("nu").cast("double")
    lift = (F.col("n_both").cast("double") / nud) / (
        (F.col("na").cast("double") / nud)
        * (F.col("nb").cast("double") / nud)
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(nu))
        .select("type_a", "type_b", "n_both", dround(lift, 6).alias("lift"))
    )


@register(
    "q_cohort_retention",
    oracle="""
    WITH firsts AS (
      -- explicit TIMESTAMP: DuckDB's date_trunc('week', ...) yields DATE
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
                 AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor((epoch_us(date_trunc('week', e.ts))
                         - epoch_us(f.cohort_week))
                        / CAST(604800000000 AS BIGINT))
                  AS BIGINT) AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset, count(*) AS n_active_users
    FROM activity
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    as active per week offset since their cohort — the standard product
    retention triangle. Two keyed aggregates + one equi-join; the
    distinct collapses multiple events per (user, week) before
    counting."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    week_us = 7 * 24 * 3600 * 1_000_000
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                (
                    F.unix_micros(F.date_trunc("week", F.col("ts")))
                    - F.unix_micros(F.col("cohort_week"))
                )
                / week_us
            ).cast("bigint").alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


_Z_BITS = 16
_Z_BUCKET_SHIFT = 12  # z-bucket granularity (keys are ~8-11 bits at test SFs)


def _z_terms_sql(x: str, y: str, bits: int = _Z_BITS) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


@register(
    "q_layout_zorder",
    oracle=f"""
    WITH z AS (
      SELECT l_partkey, l_suppkey,
             ({_z_terms_sql("l_partkey", "l_suppkey")}) AS zval
      FROM lineitem
    )
    SELECT zval >> {_Z_BUCKET_SHIFT} AS z_bucket, count(*) AS n_rows,
           min(l_partkey) AS min_part, max(l_partkey) AS max_part,
           min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
    FROM z GROUP BY 1
    """,
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout clustering — the lakehouse
    OPTIMIZE ZORDER primitive as a driver-checkable query: interleave
    the bits of two join/filter keys, bucket rows by the top z-bits,
    and report per-bucket min/max of BOTH keys. The tight per-bucket
    ranges on both dimensions at once ARE the data-skipping property
    (parquet footer min/max becomes selective for either predicate);
    a plain sort gives this on its leading column only.

    The bit interleave is a pure integer expression (codegen'd, exact
    in any engine). A z-ordered write would range-partition on the
    z-value and sort within partitions; this query's bucket stats show
    the clustering such a write gives."""
    li = load_table(spark, sf_dir, "lineitem")
    zx, zy = F.col("l_partkey"), F.col("l_suppkey")
    terms = []
    for b in range(_Z_BITS):
        terms.append(F.shiftleft(F.shiftright(zx, b).bitwiseAND(1), 2 * b))
        terms.append(F.shiftleft(F.shiftright(zy, b).bitwiseAND(1), 2 * b + 1))
    zval = terms[0]
    for t in terms[1:]:
        zval = zval + t
    return (
        li.select("l_partkey", "l_suppkey", zval.alias("zval"))
        .groupBy(F.shiftright("zval", _Z_BUCKET_SHIFT).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


_RANGE_PARTS = 16


@register(
    "q_layout_range_bounds",
    oracle=f"""
    WITH r AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
    rk AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_orderkey) AS rn
      FROM r
    )
    SELECT ((rn - 1) * {_RANGE_PARTS}) // t.n AS tile,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(cents) AS BIGINT) AS lower_cents,
           CAST(max(cents) AS BIGINT) AS upper_cents
    FROM rk CROSS JOIN t GROUP BY 1
    """,
)
def q_layout_range_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced range-partition boundary planning — the layout twin of
    repartitionByRange's sampled exchange, made EXACT: rank every
    order by (integer-cent total price, orderkey tiebreak), split the
    rank space into {_RANGE_PARTS} equal tiles, and report each
    tile's row count and exact [lower, upper] key bounds — the
    boundary manifest a bucketed/range-layout writer needs so that
    every output file holds the same row count with a tight key range
    (the data-skipping contract q_layout_zorder verifies for the
    2-D curve, here for the 1-D sort layout).

    Plan: the global rank is the blocked prefix fold
    (operators/prefix.py — $100k cent-blocks are monotone in the
    order key; NO single-partition window), the total row count is a
    one-row driver collect (the abc-classification discipline), and
    the tile split ((rn−1)·P DIV n) plus per-tile bounds are pure
    integer hash-aggregate work. Integers end-to-end; no rounding."""
    from ex_hivent_spark.operators.prefix import running_totals_blocked

    o = load_table(spark, sf_dir, "orders")
    r = o.select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    ).withColumn("one", F.lit(1).cast("bigint"))
    n = r.agg(F.count(F.lit(1)).cast("bigint")).collect()[0][0]
    if not n:  # empty orders: the tile expression below would be a
        # literal `DIV 0` — the oracle's GROUP BY over zero rows is an
        # empty frame, so return one of the declared schema instead.
        return spark.createDataFrame(
            [],
            "tile bigint, n_rows bigint, lower_cents bigint,"
            " upper_cents bigint",
        )
    blocked = r.withColumn("blk", F.expr("cents DIV 10000000"))
    ranked = running_totals_blocked(
        blocked,
        order_cols=["cents", "o_orderkey"],
        block_cols=["blk"],
        sum_cols={"one": "rn"},
    )
    return (
        ranked.select(
            "cents",
            F.expr(f"((rn - 1) * {_RANGE_PARTS}) DIV {n}").alias("tile"),
        )
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("cents").cast("bigint").alias("lower_cents"),
            F.max("cents").cast("bigint").alias("upper_cents"),
        )
    )


@register(
    "q_tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount", "revenue")},
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast-revenue-change — a pure scan-filter-
    aggregate with every predicate pushed into the parquet scan (year
    range, discount band, quantity cap are all footer-stat prunable)
    and a single map-side-combining global sum. The canonical
    'selective scan beats any index' OLAP query."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_SQL_PROMO_REV = (
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) "
    "ELSE 0 END"
)


@register(
    "q_tpch_q14_promo_effect",
    oracle=f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           {sql_dsum(_SQL_PROMO_REV, "promo_revenue")},
           {sql_dsum(_SQL_REVENUE, "total_revenue")},
           (100.0 * CAST(sum(CAST({_SQL_PROMO_REV} AS DECIMAL(25,6)))
                         AS DOUBLE))
               / CAST(sum(CAST({_SQL_REVENUE} AS DECIMAL(25,6))) AS DOUBLE)
               AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q_tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share per ship month. The
    part side is a dimension → broadcast join; both sums are one
    conditional aggregate pass (no second scan for the numerator); the
    share is a single deterministic double division of two decimal
    sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _revenue()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    out = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month")
        )
        .agg(
            dsum(promo, "promo_revenue"),
            dsum(rev, "total_revenue"),
        )
    )
    return out.select(
        "ship_month",
        "promo_revenue",
        "total_revenue",
        ((F.lit(100.0) * F.col("promo_revenue")) / F.col("total_revenue")).alias(
            "promo_pct"
        ),
    )


_Q18_QTY = 250


@register(
    "q_tpch_q18_large_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey,
             {sql_dsum("l_quantity", "total_qty")}
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(25,6))) > {_Q18_QTY}
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (total quantity above a
    threshold) with their customers. The quantity rollup aggregates
    BEFORE any join — the pre-aggregation pushdown that matters at
    scale (lineitem never joins at line granularity); the surviving
    ~1% of orders then equi-join orders and customer, and the top-100
    is a TakeOrdered with a unique tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > _Q18_QTY)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q_quality_fk_orphans",
    oracle="""
    SELECT 'orders->customer' AS relation,
           count(*) AS n_rows,
           count(*) FILTER (c_custkey IS NULL) AS n_orphans
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'lineitem->orders', count(*),
           count(*) FILTER (o_orderkey IS NULL)
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'lineitem->part', count(*),
           count(*) FILTER (p_partkey IS NULL)
    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
    UNION ALL
    SELECT 'supplier->nation', count(*),
           count(*) FILTER (n_nationkey IS NULL)
    FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
    """,
)
def q_quality_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: per foreign-key relation, total rows
    and rows whose key has no parent — the standard pre-pipeline data
    contract check. Each relation is a LEFT join probed for null parent
    keys; dimension parents broadcast, and at scale the fact side
    aggregates to (key, count) BEFORE probing when orphan context isn't
    needed. One result row per relation, trivially unionable into a
    quality dashboard."""

    def audit(rel, fact, dim, fk, pk):
        joined = fact.join(dim, fact[fk] == dim[pk], "left")
        return joined.agg(
            F.lit(rel).alias("relation"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(dim[pk].isNull(), 1)).alias("n_orphans"),
        )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        audit("orders->customer", o, c, "o_custkey", "c_custkey")
        .unionByName(audit("lineitem->orders", li, o, "l_orderkey", "o_orderkey"))
        .unionByName(audit("lineitem->part", li, p, "l_partkey", "p_partkey"))
        .unionByName(audit("supplier->nation", s, n, "s_nationkey", "n_nationkey"))
    )


_PROFILE_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "q_quality_profile",
    oracle="""
    SELECT * FROM (
      SELECT 'event_id' AS col, count(*) AS n_rows,
             count(event_id) AS n_filled,
             count(DISTINCT event_id) AS n_distinct FROM events
      UNION ALL
      SELECT 'ts', count(*), count(ts), count(DISTINCT ts) FROM events
      UNION ALL
      SELECT 'user_id', count(*), count(user_id),
             count(DISTINCT user_id) FROM events
      UNION ALL
      SELECT 'event_type', count(*), count(event_type),
             count(DISTINCT event_type) FROM events
      UNION ALL
      SELECT 'value', count(*), count(value),
             count(DISTINCT value) FROM events
      UNION ALL
      SELECT 'props', count(*), count(props),
             count(DISTINCT props) FROM events
    )
    """,
)
def q_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (completeness + cardinality) for the events
    table: one row per column with total / non-null / exact-distinct
    counts — the ingest-time data-profile every warehouse emits.

    ONE scan, no per-column passes: all 18 aggregates compute in a
    single hash-aggregate stage (count + count(col) + count_distinct
    per column), then unpivot to rows via a literal stack — the
    multi-count-distinct plan Spark expands internally is still one
    source read. At 100 TB, swap exact distinct for approx_ or the
    bitmap cells of q_agg_bitmap_rollup; the profile SHAPE is
    identical."""
    e = load_table(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col in _PROFILE_COLS:
        aggs.append(F.count(col).alias(f"f_{col}"))
        aggs.append(F.countDistinct(col).alias(f"d_{col}"))
    wide = e.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', f_{c}, d_{c}" for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (col, n_filled, n_distinct)"
        ),
        "n_rows",
    ).select("col", "n_rows", "n_filled", "n_distinct")


# --------------------------------------------------------------------------
# Hilbert-curve layout (the locality-stronger sibling of Z-order)
# --------------------------------------------------------------------------

_H_BITS = 8
_H_N = 1 << _H_BITS  # curve order: 8 bits per dimension (256x256 grid)
_H_BUCKET_SHIFT = 8

# Curve order is a JIT-governed choice, measured at sf0.1/local[32]:
# whole-stage codegen fuses all unrolled levels into ONE generated
# method, and past ~8 levels that method exceeds HotSpot's
# huge-method compilation limit — execution silently degrades to
# interpreted bytecode (16 levels: 10.7s with codegen ON vs 1.9s with
# codegen OFF vs 1.0s for 8 levels, same data). Production layout
# engines curve over RANGE-BUCKETED columns, not raw key bits
# (Delta's OPTIMIZE range-partitions each column first), so the 8-bit
# grid is the faithful design, not a concession: inputs are scaled to
# [0, 256) from their min/max, and the curve walks that grid.


def _hilbert_level_exprs(k: int) -> tuple[str, str, str]:
    """(nx, ny, d-increment) SQL for one xy2d level over hx/hy/hd —
    branch-free (identities over rx,ry ∈ {0,1}):
      quad = (3*rx) XOR ry = 3*rx + ry - 2*rx*ry
      ry=1 → (x,y) unchanged; ry=0 → reflect-if-rx then swap:
      nx = ry*x + (1-ry)*(y + rx*(N-1-2y))
      ny = ry*y + (1-ry)*(x + rx*(N-1-2x))
    Shared by both engine generators below, so the recurrence is
    mechanically identical on each."""
    rx, ry = f"((hx >> {k}) & 1)", f"((hy >> {k}) & 1)"
    nx = f"{ry} * hx + (1 - {ry}) * (hy + {rx} * ({_H_N - 1} - 2 * hy))"
    ny = f"{ry} * hy + (1 - {ry}) * (hx + {rx} * ({_H_N - 1} - 2 * hx))"
    dinc = (
        f"CAST({1 << (2 * k)} AS BIGINT) * "
        f"(3 * {rx} + {ry} - 2 * {rx} * {ry})"
    )
    return nx, ny, dinc


def _hilbert_ctes_sql(table: str, xcol: str, ycol: str) -> str:
    """Chained CTEs computing the Hilbert index ``hd`` of the
    range-bucketed (xcol, ycol): a bounds CTE scales each key into the
    [0, 2^bits) grid, then one CTE per bit level runs the xy2d
    recurrence."""
    lines = [
        f"hbounds AS (SELECT min({xcol}) AS xmin, max({xcol}) AS xmax, "
        f"min({ycol}) AS ymin, max({ycol}) AS ymax FROM {table})",
        f"h{_H_BITS} AS (SELECT {xcol}, {ycol}, "
        f"CAST(({xcol} - xmin) * {_H_N} // "
        f"greatest(xmax - xmin + 1, 1) AS BIGINT) AS hx, "
        f"CAST(({ycol} - ymin) * {_H_N} // "
        f"greatest(ymax - ymin + 1, 1) AS BIGINT) AS hy, "
        f"CAST(0 AS BIGINT) AS hd FROM {table} CROSS JOIN hbounds)",
    ]
    for k in range(_H_BITS - 1, -1, -1):
        nx, ny, dinc = _hilbert_level_exprs(k)
        lines.append(
            f"h{k} AS (SELECT {xcol}, {ycol}, {nx} AS hx, {ny} AS hy, "
            f"hd + {dinc} AS hd FROM h{k + 1})"
        )
    return ",\n    ".join(lines)


def with_hilbert_index(df: DataFrame, xcol: str, ycol: str) -> DataFrame:
    """Append a Hilbert-index column ``hd`` for the range-bucketed
    (xcol, ycol): keys scale into the [0, 2^bits) grid from their
    min/max (one 4-scalar pre-pass), then
    the xy2d recurrence runs over the bit levels — one named projection
    per level, via the SAME per-level expression strings the SQL oracle
    chain uses.

    Per-level PROJECTIONS (not one folded Column) are load-bearing: the
    recurrence reads each intermediate several times, so textual
    inlining grows the expression tree ~4x per level — 4^bits nodes by
    the last — which OOMs the driver during analysis. Named columns
    keep the tree linear, exactly like the oracle's CTE chain (Catalyst
    keeps it so: CollapseProject declines to merge projections that
    would duplicate non-cheap expressions)."""
    xmin, xmax, ymin, ymax = df.agg(
        F.min(xcol), F.max(xcol), F.min(ycol), F.max(ycol)
    ).collect()[0]
    xspan = max(int(xmax) - int(xmin) + 1, 1)
    yspan = max(int(ymax) - int(ymin) + 1, 1)
    keep = [c for c in df.columns]
    out = df.select(
        *keep,
        F.expr(
            f"CAST(({xcol} - {int(xmin)}) * {_H_N} DIV {xspan} AS BIGINT)"
        ).alias("hx"),
        F.expr(
            f"CAST(({ycol} - {int(ymin)}) * {_H_N} DIV {yspan} AS BIGINT)"
        ).alias("hy"),
        F.lit(0).cast("long").alias("hd"),
    )
    for k in range(_H_BITS - 1, -1, -1):
        nx, ny, dinc = _hilbert_level_exprs(k)
        out = out.select(
            *keep,
            F.expr(nx).alias("hx"),
            F.expr(ny).alias("hy"),
            F.expr(f"hd + {dinc}").alias("hd"),
        )
    return out


@register(
    "q_layout_hilbert",
    oracle=f"""
    WITH {{ctes}}
    SELECT hd >> {_H_BUCKET_SHIFT} AS h_bucket, count(*) AS n_rows,
           min(l_partkey) AS min_part, max(l_partkey) AS max_part,
           min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
    FROM h0 GROUP BY 1
    """.replace("{ctes}", _hilbert_ctes_sql("lineitem", "l_partkey", "l_suppkey")),
)
def q_layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout clustering — the stronger-locality sibling
    of q_layout_zorder (every curve step moves one cell, so per-bucket
    bounding boxes avoid the large jumps Morton interleaving admits at
    power-of-two boundaries; Delta/Databricks moved OPTIMIZE to Hilbert
    for exactly this). Same driver-checkable contract as the Z-order
    query: range-bucket both keys to the curve grid, index rows on the
    curve, bucket by the top index bits, and report per-bucket min/max
    of BOTH keys — the tight two-dimensional ranges ARE the
    data-skipping property parquet footers exploit.

    The index is the classic xy2d quadrant-rotation recurrence unrolled
    over 8 bit levels as branch-free integer expressions (codegen'd, no
    UDF, exact in any engine; see the curve-order note above
    _hilbert_level_exprs for why 8 — and why the grid is the
    production-faithful design); the oracle's CTE chain is emitted from
    the same per-level expression strings, so both engines execute the
    identical recurrence. The production write path is
    range-partitioning by hilbert index — same one-shuffle cost as any
    global sort at 100 TB; at scale, column statistics provide the
    4-scalar bounds pre-pass for free."""
    # r16 wave 9 NOTE: spread_table was A/B-tested and REVERTED
    # (1.53 plain vs 1.60 spread, 4 -> 6 jobs): the rotation chain is
    # cheap integer codegen, so the added exchange bought nothing.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        with_hilbert_index(li, "l_partkey", "l_suppkey")
        .groupBy(F.shiftright("hd", _H_BUCKET_SHIFT).alias("h_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


@register(
    "q_ts_seasonal_decompose",
    oracle=f"""
    WITH cell AS (
      SELECT event_type, extract(hour FROM ts) AS hr,
             count(*) AS n,
             {sql_dsum("value", "s1")},
             {sql_dsum("value * value", "s2")}
      FROM events GROUP BY event_type, extract(hour FROM ts)
    )
    SELECT e.event_id, e.event_type, CAST(extract(hour FROM e.ts) AS INT)
               AS hr,
           c.s1 / c.n AS seasonal_mean,
           {sql_dround("e.value - c.s1 / c.n", 6)} AS residual,
           (e.value - c.s1 / c.n) * (e.value - c.s1 / c.n)
               > 4 * ((c.s2 - c.s1 * c.s1 / c.n) / c.n) AS is_anomaly
    FROM events e
    JOIN cell c ON c.event_type = e.event_type
               AND c.hr = extract(hour FROM e.ts)
    """,
)
def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition of the event stream: the seasonal
    component is the per-(event_type, hour-of-day) mean — the diurnal
    profile — and each event's residual is its value minus that
    profile; residuals beyond 2 sigma of the cell flag as anomalies
    (the calendar-aware twin of q_ts_anomaly's trailing window: a spike
    at 3 AM is anomalous even when the same value at noon is not).

    Plan: ONE hash aggregate over (type, hour) — at most |types| x 24
    cells — broadcast back onto the fact scan; the events table never
    shuffles. At 100 TB that is a map-side join against a dozen-KB
    profile table, recomputed incrementally per day in production.

    Determinism: cell moments use the decimal-sum convention, means are
    single exact divisions, and residual/variance arithmetic is per-row
    IEEE — so even the boolean flag hash-matches (residual^2 vs
    4*variance compares identically derived doubles; same technique
    q_ts_anomaly proved driver-side)."""
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    cell = (
        e.groupBy(F.col("event_type").alias("c_type"), F.hour("ts").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", "s1"),
            dsum(v * v, "s2"),
        )
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")
    resid = v - mean
    return (
        e.join(
            F.broadcast(cell),
            (F.col("event_type") == F.col("c_type"))
            & (F.hour("ts") == F.col("hr")),
        )
        .select(
            "event_id",
            "event_type",
            "hr",
            mean.alias("seasonal_mean"),
            dround(resid, 6).alias("residual"),
            (resid * resid > 4 * var).alias("is_anomaly"),
        )
    )


@register(
    "q_agg_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type,
             {sql_dround("quantile_cont(value, 0.5)", 6)} AS med_r
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med_r,
             abs(e.value - m.med_r) AS absdev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             {sql_dround("quantile_cont(absdev, 0.5)", 6)} AS mad_r
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n,
           any_value(d.med_r) AS median_value,
           any_value(a.mad_r) AS mad,
           CAST(sum(CASE WHEN d.absdev > 3 * a.mad_r THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts via MEDIAN ABSOLUTE DEVIATION: per event
    type, the exact median, the MAD (median of |value - median|), and
    how many events sit beyond 3 MADs — the robust-statistics twin of
    the 3-sigma rules (q_ts_anomaly, q_ts_seasonal_decompose): a single
    extreme event shifts a mean-based threshold but not a median-based
    one, so MAD gates stay stable on heavy-tailed data.

    Plan: two exact-percentile aggregates with the per-type results
    (|types| rows) broadcast back between them — the fact table is
    scanned, never shuffled on rows (percentile aggregates shuffle
    per-group accumulator state). MAD fundamentally needs the second
    pass; at 100 TB both passes are scan+broadcast shapes, and the
    approx_percentile sketch (q_agg_approx_percentile) is the
    single-pass degradation when exactness can be traded.

    Determinism: both medians are e6-rounded (the q_percentile_exact
    convention — interpolation parity between percentile() and
    quantile_cont is already driver-proven), deviations and the 3*MAD
    comparison are per-row IEEE on identically derived doubles, so the
    outlier COUNT hash-matches too."""
    e = load_table(spark, sf_dir, "events")
    # r16 wave 9 NOTE: pinning med/mad was A/B-tested and REVERTED
    # (0.59 -> 0.78 s): the duplicated percentile subtrees overlap
    # within one job; the checkpoints serialize them.
    med = e.groupBy("event_type").agg(
        dround(F.percentile("value", F.lit(0.5)), 6).alias("med_r")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med_r",
        F.abs(F.col("value") - F.col("med_r")).alias("absdev"),
    )
    mad = dev.groupBy("event_type").agg(
        dround(F.percentile("absdev", F.lit(0.5)), 6).alias("mad_r")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.any_value("med_r").alias("median_value"),
            F.any_value("mad_r").alias("mad"),
            F.sum(
                F.when(F.col("absdev") > 3 * F.col("mad_r"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


@register(
    "q_ts_cusum_changepoint",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, value,
             count(*) OVER (PARTITION BY user_id) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(25,6)))
                      OVER (PARTITION BY user_id) AS DOUBLE)
                 / count(*) OVER (PARTITION BY user_id) AS mean_v
      FROM events
    ),
    cs AS (
      SELECT user_id, event_id, n_events,
             CAST(sum(CAST(value AS DECIMAL(25,6)))
                      OVER (PARTITION BY user_id
                            ORDER BY event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS DOUBLE)
                 - row_number() OVER (PARTITION BY user_id
                                      ORDER BY event_id) * mean_v
                 AS cusum
      FROM base
    ),
    mx AS (
      SELECT user_id, event_id, n_events, abs(cusum) AS abs_cusum,
             max(abs(cusum)) OVER (PARTITION BY user_id) AS max_abs
      FROM cs
    )
    SELECT user_id,
           any_value(n_events) AS n_events,
           any_value(max_abs) AS max_abs_cusum,
           min(event_id) AS changepoint_event_id
    FROM mx
    WHERE abs_cusum = max_abs
    GROUP BY user_id
    """,
)
def q_ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per user: the cumulative sum of
    deviations from the user's own mean, S_i = sum_{j<=i}(v_j - mean),
    peaks in magnitude at the most likely level-shift point — the
    classic offline CUSUM statistic. Emits each user's peak |S| and the
    event where it occurs (deterministic min-event_id tie-break).

    Plan: per-user mean via a full-partition window frame (no join —
    the same sort serves all three window passes: mean, running sum,
    partition max), then one filter + tiny aggregate. ONE shuffle on
    user_id total; state per user is O(1). Determinism: S_i is computed
    as (running decimal sum of value) - i*mean rather than a float
    cumsum of deviations — only RAW values are decimal-cast (the
    repo-wide dsum convention; casting a COMPUTED double hits
    engine-specific half-way rounding, measured as 1-ulp drift), the
    rest is two IEEE ops on identically derived doubles; the argmax is
    an exact double equality between identically derived values."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    full = Window.partitionBy("user_id")
    running = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = e.select(
        "user_id",
        "event_id",
        "value",
        F.count(F.lit(1)).over(full).alias("n_events"),
        (
            F.sum(F.col("value").cast("decimal(25,6)")).over(full)
            .cast("double")
            / F.count(F.lit(1)).over(full)
        ).alias("mean_v"),
    )
    ordered = Window.partitionBy("user_id").orderBy("event_id")
    cs = base.select(
        "user_id",
        "event_id",
        "n_events",
        (
            F.sum(F.col("value").cast("decimal(25,6)"))
            .over(running)
            .cast("double")
            - F.row_number().over(ordered) * F.col("mean_v")
        ).alias("cusum"),
    )
    mx = cs.select(
        "user_id",
        "event_id",
        "n_events",
        F.abs("cusum").alias("abs_cusum"),
        F.max(F.abs("cusum")).over(full).alias("max_abs"),
    )
    return (
        mx.filter(F.col("abs_cusum") == F.col("max_abs"))
        .groupBy("user_id")
        .agg(
            F.any_value("n_events").alias("n_events"),
            F.any_value("max_abs").alias("max_abs_cusum"),
            F.min("event_id").alias("changepoint_event_id"),
        )
    )


@register(
    "q_win_attribution_multitouch",
    oracle=f"""
    WITH last_purchase AS (
      SELECT user_id, max(ts) AS pts
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS pos,
             count(*) OVER (PARTITION BY e.user_id) AS n
      FROM events e JOIN last_purchase p
        ON e.user_id = p.user_id AND e.ts < p.pts
    ),
    credits AS (
      SELECT user_id, event_type,
             floor(CASE
               WHEN n = 1 THEN 1.0
               WHEN n = 2 THEN 0.5
               WHEN pos = 1 OR pos = n THEN 0.4
               ELSE 0.2 / (n - 2)
             END * 1000000.0 + 0.5) / 1000000.0 AS credit
      FROM touches
    )
    SELECT event_type,
           count(*) AS n_touches,
           {sql_dsum("credit", "total_credit")}
    FROM credits GROUP BY event_type
    """,
)
def q_win_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) MULTI-TOUCH ATTRIBUTION: every event a
    user generated before their last purchase is a touch; the first and
    last touches earn 40% credit each and the middle splits the
    remaining 20% evenly (1.0 / 0.5-0.5 for 1- and 2-touch paths).
    Reports total credited influence per event type — the marketing
    attribution twin of the funnel/basket analytics, and the window
    shape (per-user ordered positions + per-user totals in one pass)
    every sequence-credit model shares.

    Plan: one tiny per-user aggregate (last purchase) joined back —
    AQE broadcasts it — then ONE window pass over the touch stream
    (position + count share the same user sort), then one hash agg.
    Determinism: credits are exact fractions e6-rounded BEFORE the
    decimal sum (the repo's computed-double convention), position
    ties broken by event_id."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    last_p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max("ts").alias("pts"))
    )
    touches = (
        e.join(last_p, "user_id")
        .filter(F.col("ts") < F.col("pts"))
        .select(
            "user_id",
            "event_type",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("pos"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id"))
            .alias("n"),
        )
    )
    n, pos = F.col("n"), F.col("pos")
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((pos == 1) | (pos == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    return (
        touches.select("event_type", dround(credit, 6).alias("credit"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            dsum("credit", "total_credit"),
        )
    )


@register(
    "q_win_period_over_period",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n_events,
             {sql_dsum("value", "revenue")}
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    with_prev AS (
      SELECT *, lag(revenue) OVER (PARTITION BY event_type
                                   ORDER BY day) AS prev_revenue
      FROM daily
    )
    SELECT event_type, day, n_events, revenue, prev_revenue,
           {sql_dround("(revenue - prev_revenue) / prev_revenue", 6)}
               AS pct_change
    FROM with_prev
    """,
)
def q_win_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: daily revenue per event type with
    the previous day's value and the relative change — the ubiquitous
    BI shape (DoD/WoW/MoM deltas) built from one time-grain aggregate
    and one lag window. First day per type reports NULL change (no
    prior period), matching SQL lag semantics.

    Plan: one partially-combined hash aggregate to day grain (the
    shuffle carries |types×days| rows), then a window over the ALREADY
    AGGREGATED frame — at 100 TB the window input is thousands of
    rows, not the event stream. Revenue sums are decimal-exact; the
    ratio is e6-rounded on identically derived doubles."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "revenue"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("revenue").over(w)
    return daily.select(
        "event_type",
        "day",
        "n_events",
        "revenue",
        prev.alias("prev_revenue"),
        dround((F.col("revenue") - prev) / prev, 6).alias("pct_change"),
    )


@register(
    "q_agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT event_type, event_id, value,
             CAST(user_id % 10 + 1 AS BIGINT) AS wt
      FROM events
    ),
    cum AS (
      SELECT event_type, event_id, value, wt,
             sum(wt) OVER (PARTITION BY event_type
                           ORDER BY value, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cumw,
             sum(wt) OVER (PARTITION BY event_type) AS total_w
      FROM w
    )
    SELECT event_type,
           CAST(any_value(total_w) AS BIGINT) AS total_weight,
           min(value) AS weighted_median
    FROM cum
    WHERE 2 * cumw >= total_w
    GROUP BY event_type
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per event type (weight = a deterministic
    per-event integer; in production the row's byte count, replay
    multiplicity, or sampling weight): the smallest value whose
    cumulative weight reaches half the total — the aggregate Spark has
    no native form for (percentile() is unweighted) and the correct
    "median event" when rows count unequally.

    Plan: one cumulative-weight window + the full-partition total
    sharing the same event_type shuffle, then a tiny filtered
    aggregate. Weights are integers, so the half-total threshold
    (2*cumw >= total) is pure integer arithmetic — engine-exact;
    the median itself is a raw stored value, no interpolation."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    wt = (F.col("user_id") % 10 + 1).cast("long")
    w = e.select("event_type", "event_id", "value", wt.alias("wt"))
    cum_w = (
        Window.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = Window.partitionBy("event_type")
    cum = w.select(
        "event_type",
        "value",
        F.sum("wt").over(cum_w).alias("cumw"),
        F.sum("wt").over(full).alias("total_w"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("total_w"))
        .groupBy("event_type")
        .agg(
            F.any_value("total_w").alias("total_weight"),
            F.min("value").alias("weighted_median"),
        )
    )


@register(
    "q_agg_user_entropy",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    probs AS (
      SELECT user_id, c,
             sum(c) OVER (PARTITION BY user_id) AS total,
             count(*) OVER (PARTITION BY user_id) AS n_types
      FROM counts
    ),
    terms AS (
      SELECT user_id, total, n_types,
             -(CAST(c AS DOUBLE) / total)
               * ({sql_dround("ln(CAST(c AS DOUBLE) / total)", 6)}) AS term
      FROM probs
    )
    SELECT user_id,
           CAST(any_value(total) AS BIGINT) AS n_events,
           CAST(any_value(n_types) AS INT) AS n_types,
           CAST(sum(CAST(term AS DECIMAL(25,6))) AS DOUBLE) AS entropy
    FROM terms GROUP BY user_id
    """,
)
def q_agg_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: the Shannon entropy of their
    event-type distribution, H = -Σ p·ln p — the engagement-breadth /
    bot-detection signal (a user who only ever clicks has H = 0; a
    uniform mix maximizes it). Also reports event and distinct-type
    counts.

    Plan: one (user, type) hash aggregate, two windows over THAT
    aggregated frame (≤ |users|×|types| rows — never the event
    stream), then a per-user decimal sum. Determinism: probabilities
    are exact integer-ratio divisions; ln is the single libm op and is
    e6-rounded before the multiply (the unigram-logprob convention);
    the per-user sum goes through the decimal detour."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    u = Window.partitionBy("user_id")
    probs = counts.select(
        "user_id",
        "c",
        F.sum("c").over(u).alias("total"),
        F.count(F.lit(1)).over(u).alias("n_types"),
    )
    p = F.col("c").cast("double") / F.col("total")
    term = -p * dround(F.log(p), 6)
    return (
        probs.select("user_id", "total", "n_types", term.alias("term"))
        .groupBy("user_id")
        .agg(
            F.any_value("total").alias("n_events"),
            F.any_value("n_types").cast("int").alias("n_types"),
            F.sum(F.col("term").cast("decimal(25,6)"))
            .cast("double")
            .alias("entropy"),
        )
    )


@register(
    "q_agg_audience_overlap",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
      FROM du GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b,
           sa.n_users AS n_a, sb.n_users AS n_b, n_both,
           CAST(n_both AS DOUBLE)
               / (sa.n_users + sb.n_users - n_both) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    """,
)
def q_agg_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-overlap matrix: for every pair of event types, how many
    distinct users did BOTH, each audience's size, and the audience
    Jaccard — the "audience overlap" report ad/analytics engines serve
    from bitmap or theta sketches; this is the exact answer those
    sketches approximate (and the exact twin of q_agg_bitmap_rollup's
    per-grain distinct counts). Complements q_basket_event_lift, which
    measures co-occurrence LIFT, not audience intersection size.

    Plan: ONE distinct pass collapses events to the (type, user)
    incidence (at 100 TB this is the only corpus-sized shuffle —
    everything after runs on |types|·|users| rows bounded by the
    distinct-type count per user), a self-equi-join on user_id expands
    each user's bounded type set into pairs, one hash aggregate counts
    intersections, and the |types|-row sizes table broadcasts back.
    Determinism: all counts are integers; the Jaccard is one exact
    IEEE division — nothing to round."""
    e = load_table(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )  # reused: sizes + both join sides
    sizes = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    a = du.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("ua")
    )
    b = du.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("ub")
    )
    inter = (
        a.join(b, (F.col("ua") == F.col("ub")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------

# log10(1 + 1/d) as repr'd IEEE doubles: the SAME literals are embedded
# in the Spark plan and the oracle SQL, so no engine ever evaluates a
# logarithm (libm last-ulp differences would leak into the hash).
_BENFORD = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}

_BENFORD_SQL_VALUES = ", ".join(
    f"({d}, CAST({v!r} AS DOUBLE))" for d, v in _BENFORD.items()
)


@register(
    "q_quality_benford",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n_orders
      FROM digits GROUP BY digit
    ),
    t AS (SELECT CAST(sum(n_orders) AS DOUBLE) AS total FROM c),
    b(digit, benford_share) AS (VALUES {_BENFORD_SQL_VALUES})
    SELECT c.digit, n_orders,
           floor(n_orders / total * 1000000.0 + 0.5) / 1000000.0
               AS observed_share,
           benford_share,
           floor(abs(n_orders / total - benford_share) * 1000000.0 + 0.5)
               / 1000000.0 AS abs_dev
    FROM c CROSS JOIN t JOIN b ON b.digit = c.digit
    """,
)
def q_quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: the leading-digit
    distribution of naturally-occurring amounts follows
    P(d) = log10(1+1/d); a synthetic, tampered, or truncated feed
    breaks it long before summary stats notice. Reports, per digit,
    the count, observed share, Benford expectation, and absolute
    deviation — the fraud/data-generation smoke test run next to the
    null/FK profiles (q_quality_profile, q_quality_fk_orphans).

    Plan: first digit via integer-floor + string head (no logarithm —
    log10-based digit extraction hits IEEE boundary cases at exact
    powers of ten, and engines' libm differ in the last ulp), one
    9-group hash aggregate, the grand total as a broadcast scalar, and
    the expectation table as nine literal rows. Fully map-side at any
    scale."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    c = o.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    t = c.agg(F.sum("n_orders").cast("double").alias("total"))
    b = spark.createDataFrame(
        list(_BENFORD.items()), "digit bigint, benford_share double"
    )
    obs = F.col("n_orders") / F.col("total")
    return (
        c.crossJoin(F.broadcast(t))
        .join(F.broadcast(b), "digit")
        .select(
            "digit",
            "n_orders",
            dround(obs, 6).alias("observed_share"),
            "benford_share",
            dround(F.abs(obs - F.col("benford_share")), 6).alias("abs_dev"),
        )
    )


@register(
    "q_ts_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    pairs AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n_trans
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    outs AS (
      SELECT cur, CAST(sum(n_trans) AS BIGINT) AS n_out
      FROM pairs GROUP BY cur
    ),
    ins AS (
      SELECT nxt, CAST(sum(n_trans) AS BIGINT) AS n_in
      FROM pairs GROUP BY nxt
    ),
    tot AS (SELECT CAST(sum(n_trans) AS BIGINT) AS n FROM pairs)
    SELECT p.cur, p.nxt, p.n_trans,
           CAST(p.n_trans AS DOUBLE) / o.n_out AS p_cond,
           (CAST(p.n_trans AS DOUBLE) / o.n_out)
             * (CAST(t.n AS DOUBLE) / i.n_in) AS lift
    FROM pairs p
    JOIN outs o ON p.cur = o.cur
    JOIN ins i ON p.nxt = i.nxt
    CROSS JOIN tot t
    """,
)
def q_ts_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    (current → next) event-type pair, the transition count, the
    conditional probability P(next|cur), and the lift against the
    unconditional next-event frequency — the "what do users do after
    X?" matrix behind next-action prediction, funnel design, and
    anomalous-flow detection (lift ≫ 1 marks sticky sequences).

    Plan: ONE lead window partitioned by user (distributed — state is
    one row per user partition, no global sort), a (cur, nxt) hash
    aggregate that collapses the stream to ≤ |types|² rows, and three
    broadcast joins of tiny marginal aggregates onto that frame.
    Determinism: counts are integers; P(next|cur) is one exact IEEE
    division; lift is written as (c/out)·(N/in) — two exact divisions
    and one multiply, identical in both engines — so no intermediate
    product can overflow integer range at any scale."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    pairs = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trans"))
        .localCheckpoint(eager=False)  # marginals + output: one pass
    )
    outs = pairs.groupBy("cur").agg(F.sum("n_trans").alias("n_out"))
    ins = pairs.groupBy("nxt").agg(F.sum("n_trans").alias("n_in"))
    tot = pairs.agg(F.sum("n_trans").alias("n"))
    p_cond = F.col("n_trans").cast("double") / F.col("n_out")
    return (
        pairs.join(F.broadcast(outs), "cur")
        .join(F.broadcast(ins), "nxt")
        .crossJoin(F.broadcast(tot))
        .select(
            "cur",
            "nxt",
            "n_trans",
            p_cond.alias("p_cond"),
            (
                p_cond * (F.col("n").cast("double") / F.col("n_in"))
            ).alias("lift"),
        )
    )


_DRIFT_PROFILE_COLS = ("value", "user_id", "event_type", "props")


@register(
    "q_quality_schema_drift",
    oracle=f"""
    WITH lab AS (
      SELECT *,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS ia
      FROM events
    ),
    per_col AS (
      {" UNION ALL ".join(
          f'''SELECT '{c}' AS column_name,
                 CAST(sum(ia) AS BIGINT) AS n_early,
                 CAST(sum(1 - ia) AS BIGINT) AS n_late,
                 CAST(sum(CASE WHEN ia = 1 AND {c} IS NULL THEN 1 ELSE 0
                          END) AS BIGINT) AS nulls_early,
                 CAST(sum(CASE WHEN ia = 0 AND {c} IS NULL THEN 1 ELSE 0
                          END) AS BIGINT) AS nulls_late,
                 CAST(count(DISTINCT CASE WHEN ia = 1 THEN {c} END)
                      AS BIGINT) AS ndv_early,
                 CAST(count(DISTINCT CASE WHEN ia = 0 THEN {c} END)
                      AS BIGINT) AS ndv_late
          FROM lab'''
          for c in _DRIFT_PROFILE_COLS
      )}
    )
    SELECT column_name, n_early, n_late, nulls_early, nulls_late,
           ndv_early, ndv_late,
           floor((CAST(ndv_late AS DOUBLE) / greatest(ndv_early, 1))
                 * 1000000.0 + 0.5) / 1000000.0 AS ndv_ratio
    FROM per_col
    """,
)
def q_quality_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal column-profile drift: per column, row/null/distinct
    counts for the early vs late half of the month plus the
    late/early ndv ratio — the schema-health diff a platform runs
    after an upstream deploy ("did a producer start nulling a field?
    did the enum cardinality explode?"). The temporal twin of the
    static q_quality_profile.

    Plan: ONE events scan computes all per-column conditional
    aggregates; the exact per-half distinct counts expand to one
    count(distinct CASE...) pair per column — Spark plans the
    multi-distinct aggregate with an expand + two-phase aggregate
    (each distinct column partial-aggregates map-side), so the shuffle
    carries (column-value, half) pairs, never rows. At 100 TB swap
    the exact ndv for approx_count_distinct (documented downgrade —
    exact is kept here because the driver compares values
    bit-exactly). Output is |columns| rows."""
    e = load_table(spark, sf_dir, "events")
    lab = e.withColumn(
        "ia",
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1
        ).otherwise(0),
    )
    aggs = [
        F.sum("ia").cast("bigint").alias("n_early"),
        F.sum(1 - F.col("ia")).cast("bigint").alias("n_late"),
    ]
    for c in _DRIFT_PROFILE_COLS:
        col = F.col(c)
        aggs += [
            F.sum(
                F.when((F.col("ia") == 1) & col.isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"{c}__nulls_early"),
            F.sum(
                F.when((F.col("ia") == 0) & col.isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"{c}__nulls_late"),
            F.count_distinct(F.when(F.col("ia") == 1, col))
            .cast("bigint")
            .alias(f"{c}__ndv_early"),
            F.count_distinct(F.when(F.col("ia") == 0, col))
            .cast("bigint")
            .alias(f"{c}__ndv_late"),
        ]
    # one multi-distinct aggregate row; the per-column unpivot below
    # reads that 1-row frame (localCheckpoint pins it so the scan runs
    # once), so events is scanned exactly once for all columns
    agg_row = lab.agg(*aggs).localCheckpoint(eager=False)
    parts = [
        agg_row.select(
            F.lit(c).alias("column_name"),
            "n_early",
            "n_late",
            F.col(f"{c}__nulls_early").alias("nulls_early"),
            F.col(f"{c}__nulls_late").alias("nulls_late"),
            F.col(f"{c}__ndv_early").alias("ndv_early"),
            F.col(f"{c}__ndv_late").alias("ndv_late"),
        )
        for c in _DRIFT_PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "column_name",
        "n_early",
        "n_late",
        "nulls_early",
        "nulls_late",
        "ndv_early",
        "ndv_late",
        dround(
            F.col("ndv_late").cast("double")
            / F.greatest(F.col("ndv_early"), F.lit(1)),
            6,
        ).alias("ndv_ratio"),
    )


# Candidate-key audit targets: (table, label, column list).
_UNIQ_TARGETS = (
    ("events", "event_id", ("event_id",)),
    ("events", "user_id", ("user_id",)),
    ("events", "user_id,event_type", ("user_id", "event_type")),
    ("events", "user_id,ts", ("user_id", "ts")),
    ("orders", "o_orderkey", ("o_orderkey",)),
    ("orders", "o_custkey,o_orderdate", ("o_custkey", "o_orderdate")),
)


def _uniq_sql(table: str, label: str, cols: tuple) -> str:
    tup = ", ".join(cols)
    return f"""
      SELECT '{table}' AS table_name, '{label}' AS key_cols,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT ({tup})) AS BIGINT) AS n_distinct,
             floor((CAST(count(DISTINCT ({tup})) AS DOUBLE) / count(*))
                   * 1000000.0 + 0.5) / 1000000.0 AS uniqueness,
             count(DISTINCT ({tup})) = count(*) AS is_key
      FROM {table}
    """


@register(
    "q_quality_uniqueness_audit",
    oracle=" UNION ALL ".join(
        _uniq_sql(t, lbl, cols) for t, lbl, cols in _UNIQ_TARGETS
    ),
)
def q_quality_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery audit: exact distinct ratio for a panel
    of column combinations over the fact tables — which columns (or
    combos) actually identify a row. uniqueness = 1.0 certifies a key
    (dedup/merge/upsert operators key on these); a near-1 ratio flags
    "almost keys" whose duplicates deserve a look (the
    q_quality_profile companion every schema-inference/maintenance
    layer runs before choosing merge keys or bucketing columns).

    Plan: one exact count-distinct hash aggregate per target (six
    two-phase aggregates unioned — each shuffles |distinct| not
    |rows|); no joins, no windows. At 100 TB the panel runs one pass
    per table with grouping-set-style sharing left to the optimizer.
    Determinism: pure integer counts; the ratio is one IEEE division,
    e6-rounded; composite distinctness uses the same struct equality
    in both engines (ts values are exact micros)."""
    out = None
    for table, label, cols in _UNIQ_TARGETS:
        t = load_table(spark, sf_dir, table)
        nd = F.count_distinct(*[F.col(c) for c in cols]).cast("bigint")
        row = t.agg(
            F.lit(table).alias("table_name"),
            F.lit(label).alias("key_cols"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            nd.alias("n_distinct"),
            dround(
                F.count_distinct(*[F.col(c) for c in cols]).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("uniqueness"),
            (
                F.count_distinct(*[F.col(c) for c in cols])
                == F.count(F.lit(1))
            ).alias("is_key"),
        )
        out = row if out is None else out.unionByName(row)
    return out
