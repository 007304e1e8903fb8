"""Round-5 breadth: analytic patterns a warehouse/training-pipeline user
expects that no existing registry entry exercised — RANGE window frames,
SCD2 change-log snapshots, gap-rule sessionization, gaps-and-islands,
non-equi band dimension joins, partial-aggregable argmax, exact moment
statistics, discrete medians, week-over-week deltas, deterministic mode,
first-touch attribution, and EXCEPT ALL / INTERSECT ALL multiset
semantics.

Exactness discipline as plans.relational: decimal accumulation for
money/measures, single double divisions at the end, every ordering fully
tie-broken so both engines rank identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tile_processor_spark.plans.registry import register
from tile_processor_spark.session import local_frame
from tile_processor_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


US = 1_000_000
SESSION_GAP_US = 30 * 60 * US
SCD2_SNAPSHOT = "2024-01-15 00:00:00"


@register(
    "window_range_frame_spend",
    oracle="""
    SELECT o_orderkey, o_custkey, day_idx,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY day_idx
             RANGE BETWEEN 89 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_90d
    FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                 date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_idx
          FROM orders)
    """,
    doc=(
        "RANGE window frame (value-based, not row-based): trailing-90-day "
        "customer spend per order. Same-day orders are frame peers, so "
        "the frame is deterministic without a row tie-break. One shuffle "
        "on the partition key; the frame is computed streaming within "
        "each sorted partition — scale-safe."
    ),
    tags=("relational-ext", "window"),
)
def window_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price_d"),
    )
    w = W.partitionBy("o_custkey").orderBy("day_idx").rangeBetween(-89, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "day_idx",
        F.sum("price_d").over(w).cast("double").alias("spend_90d"),
    )


@register(
    "scd2_snapshot_values",
    oracle=f"""
    SELECT user_id, event_type, value,
           epoch_us(ts) AS valid_from_us
    FROM (
      SELECT user_id, event_type, value, ts,
             lead(ts) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS valid_to
      FROM events
    )
    WHERE ts <= TIMESTAMP '{SCD2_SNAPSHOT}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{SCD2_SNAPSHOT}')
    """,
    doc=(
        "SCD2 from a change log: events as per-(entity, attribute) "
        "value changes; lead() closes each validity interval and the "
        "snapshot filter reconstructs the state as of a fixed instant — "
        "the standard dimension-history pattern without a MERGE-capable "
        "table format. Ordering is (ts, event_id)-tie-broken so both "
        "engines close intervals identically."
    ),
    tags=("relational-ext", "events", "window"),
)
def scd2_snapshot_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    snap = F.lit(SCD2_SNAPSHOT).cast("timestamp")
    return (
        ev.withColumn("valid_to", F.lead("ts").over(w))
        .filter(
            (F.col("ts") <= snap)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > snap))
        )
        .select(
            "user_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("valid_from_us"),
        )
    )


@register(
    "sessionize_gap_ids",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      -- running sum ordered EXACTLY like the lag (ts_us, event_id): an
      -- (user, ts) tie would otherwise let the tied peer of a
      -- session-opening row land in the previous session
      SELECT user_id, ts_us,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_seq
      FROM marked
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us
    FROM numbered GROUP BY user_id, session_seq
    """,
    doc=(
        "Gap-rule sessionization via windows (the batch form of "
        "session_window(): a new session starts after a 30-min silence; "
        "cumulative-sum of the gap marker numbers the sessions). "
        "Complements events_session_window by exposing session IDs and "
        "per-session stats rather than merged window bounds. One "
        "shuffle on user_id serves the lag, the running sum, and the "
        "final aggregate."
    ),
    tags=("relational-ext", "events", "window", "agg"),
)
def sessionize_gap_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(wo) > SESSION_GAP_US, 1
        ).otherwise(0),
    )
    wrun = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        marked.withColumn("session_seq", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        )
    )


@register(
    "islands_active_days",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx
      FROM events
    ), islands AS (
      SELECT user_id,
             day_idx - row_number() OVER (PARTITION BY user_id ORDER BY day_idx)
               AS island
      FROM days
    ), per_island AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS streak
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks,
           MAX(streak) AS longest_streak,
           CAST(SUM(streak) AS BIGINT) AS active_days
    FROM per_island GROUP BY user_id
    """,
    doc=(
        "Gaps-and-islands: consecutive-active-day streaks per user via "
        "the classic day_idx − row_number() island key. Exact integer "
        "arithmetic end to end; the distinct, both windows, and both "
        "aggregations share one user_id partitioning."
    ),
    tags=("relational-ext", "events", "window", "agg"),
)
def islands_active_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day_idx")
    islands = days.withColumn(
        "island", F.col("day_idx") - F.row_number().over(w)
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak").alias("longest_streak"),
        F.sum("streak").alias("active_days"),
    )


PRICE_BANDS = [
    ("p00_under_500", 0.0, 500.0),
    ("p01_500_2k", 500.0, 2000.0),
    ("p02_2k_8k", 2000.0, 8000.0),
    ("p03_8k_32k", 8000.0, 32000.0),
    ("p04_32k_plus", 32000.0, None),
]


@register(
    "price_band_assign",
    oracle="""
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders
    JOIN (VALUES
      ('p00_under_500', 0.0, 500.0),
      ('p01_500_2k', 500.0, 2000.0),
      ('p02_2k_8k', 2000.0, 8000.0),
      ('p03_8k_32k', 8000.0, 32000.0),
      ('p04_32k_plus', 32000.0, NULL)
    ) AS b(band, lo, hi)
      ON o_totalprice >= lo AND (hi IS NULL OR o_totalprice < hi)
    GROUP BY band
    """,
    doc=(
        "Non-equi dimension band join: assign each order to a price band "
        "by range containment against a literal bands table, then "
        "aggregate per band. The bands side is broadcast — a "
        "BroadcastNestedLoopJoin over 5 rows, which is the correct plan "
        "for range-bucketing against any dimension-sized band table "
        "(the alternative, a CASE chain, cannot come from a TABLE)."
    ),
    tags=("relational-ext", "join", "agg"),
)
def price_band_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bands = local_frame(spark, PRICE_BANDS, "band string, lo double, hi double")
    joined = o.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo"))
        & (F.col("hi").isNull() | (F.col("o_totalprice") < F.col("hi"))),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "argmax_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_price
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    doc=(
        "Partial-aggregable argmax: each customer's highest-value order, "
        "ties to the smallest orderkey. The Spark plan is min(struct("
        "-price, key)) — an ordinary aggregate with MAP-SIDE PARTIAL "
        "combine, so at 100 TB the shuffle carries one struct per "
        "(customer, mapper) instead of the full row stream a "
        "row_number() window would sort (the oracle uses the window "
        "form; both are exact and identically tie-broken)."
    ),
    tags=("relational-ext", "agg"),
)
def argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.min(
            F.struct(
                (-F.col("o_totalprice")).alias("np"),
                F.col("o_orderkey").alias("k"),
            )
        ).alias("m")
    )
    return m.select(
        "o_custkey",
        F.col("m.k").alias("best_orderkey"),
        (-F.col("m.np")).alias("best_price"),
    )


@register(
    "stats_second_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS s1,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS s2
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(s1 AS DOUBLE) / n AS mean_qty,
           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             / (n - 1) AS var_qty,
           sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             / (n - 1)) AS std_qty
    FROM s
    """,
    doc=(
        "Variance/stddev via exact decimal moment sums (n, Σx, Σx²) and "
        "a closed-form double finish — NOT the built-in var_samp, whose "
        "streaming float accumulation is partial-aggregation-order-"
        "dependent and cannot hash-match across engines. Quantities are "
        "integer-valued so the decimal sums are exact; sqrt is IEEE "
        "correctly-rounded, so both engines emit bit-identical doubles. "
        "The moment-sum shape is also the scalable one: three mergeable "
        "partials, map-side combined."
    ),
    tags=("relational-ext", "agg"),
)
def stats_second_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("s1"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(18,4)")).alias(
            "s2"
        ),
    )
    s1d, s2d, n = F.col("s1").cast("double"), F.col("s2").cast("double"), F.col("n")
    var = (s2d - s1d * s1d / n) / (n - 1)
    return s.select(
        "l_returnflag",
        "n",
        (s1d / n).alias("mean_qty"),
        var.alias("var_qty"),
        F.sqrt(var).alias("std_qty"),
    )


@register(
    "median_disc_by_priority",
    oracle="""
    SELECT o_orderpriority, o_totalprice AS median_price, cnt AS n_orders
    FROM (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
      FROM orders
    ) WHERE rn = (cnt + 1) // 2
    """,
    doc=(
        "Exact DISCRETE median (percentile_disc semantics): the lower "
        "median is an actual data value picked by rank, so it is exact "
        "and engine-independent — unlike interpolating percentile_cont "
        "or Spark's approx_percentile, neither of which can hash-match. "
        "Tie-break on orderkey pins which equal-priced row is chosen."
    ),
    tags=("relational-ext", "window", "agg"),
)
def median_disc_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.chunked_windows import banded_rank_pick

    o = _t(spark, sf_dir, "orders")
    # exact discrete median WITHOUT ranking or shuffling the fact
    # stream: per-(priority, floor(price/1000)) counts locate the one
    # price cell holding rank (n+1) div 2, only that cell's rows are
    # row-ranked (banded_rank_pick) — o_orderpriority has 5 values, so
    # any full-stream per-priority rank is the low-cardinality funnel
    # class (docs/SCALE.md §sf10).
    return banded_rank_pick(
        o.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        ["o_orderpriority"],
        ["o_totalprice", "o_orderkey"],
        F.floor(F.col("o_totalprice") / F.lit(1000)).cast("long"),
        {"med": F.expr("(n + 1) div 2")},
    ).select(
        "o_orderpriority",
        F.col("o_totalprice").alias("median_price"),
        F.col("n").alias("n_orders"),
    )


@register(
    "lineitem_weighted_median",
    oracle="""
    WITH q AS (
      SELECT l_returnflag, l_extendedprice,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cumw,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS w_total
      FROM lineitem
    )
    SELECT l_returnflag,
           MIN(l_extendedprice) AS wmedian_price,
           CAST(MIN(w_total) AS BIGINT) AS total_qty
    FROM q WHERE 2 * cumw >= w_total GROUP BY l_returnflag
    """,
    doc=(
        "QUANTITY-weighted median extended price per return flag — the "
        "weighted order statistic (lower weighted median: first value "
        "whose cumulative weight reaches half the total). Weights are "
        "integral quantities cast to BIGINT so both engines cross the "
        "threshold in exact integer arithmetic (2*cum >= W, never a "
        "float cumulative). Spark side is banded_weighted_pick "
        "(chunked_windows.py): per-(flag, price-cell) weight sums "
        "locate the crossing cell — facts scanned, never shuffled; "
        "only the crossing cells' rows get a cumulative-weight window. "
        "l_returnflag has 3 values, so any full-stream per-flag rank "
        "is the low-cardinality funnel class (docs/SCALE.md §sf10)."
    ),
    tags=("relational-ext", "agg", "window", "weighted"),
)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.chunked_windows import banded_weighted_pick

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("w"),
    )
    return banded_weighted_pick(
        li,
        ["l_returnflag"],
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        F.floor(F.col("l_extendedprice") / F.lit(1000)).cast("long"),
        "w",
        # lower weighted median: ceil(W/2) in integers — first row with
        # 2*cum >= W
        {"wmed": F.expr("(w_total + 1) div 2")},
    ).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("wmedian_price"),
        F.col("w_total").alias("total_qty"),
    )


@register(
    "weekly_revenue_wow",
    oracle="""
    WITH weekly AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7
               AS week_idx,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT week_idx, CAST(rev AS DOUBLE) AS revenue,
           CAST(rev - lag(rev) OVER (ORDER BY week_idx) AS DOUBLE) AS wow_delta,
           CAST(rev - lag(rev) OVER (ORDER BY week_idx) AS DOUBLE)
             / CAST(lag(rev) OVER (ORDER BY week_idx) AS DOUBLE) AS wow_pct
    FROM weekly
    """,
    doc=(
        "Week-over-week deltas on an aggregated series: lag() over the "
        "weekly decimal revenue (delta stays exact decimal; only the "
        "pct is a double division). The un-partitioned window is safe "
        "BECAUSE it runs on the aggregate — one row per week, not per "
        "order; never put a global window on the fact table itself."
    ),
    tags=("relational-ext", "window", "agg"),
)
def weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    weekly = o.groupBy(
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            / 7
        )
        .cast("long")
        .alias("week_idx")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    w = W.orderBy("week_idx")
    prev = F.lag("rev").over(w)
    return weekly.select(
        "week_idx",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev") - prev).cast("double").alias("wow_delta"),
        ((F.col("rev") - prev).cast("double") / prev.cast("double")).alias("wow_pct"),
    )


@register(
    "mode_priority_by_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
    FROM (
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ) WHERE rn = 1
    """,
    doc=(
        "Deterministic MODE per group: most frequent priority per order "
        "status, ties to the lexicographically smallest value (the "
        "built-in mode() leaves ties undefined in both engines). Count "
        "first, then a window over the tiny (status × priority) "
        "aggregate — the window never touches fact-table cardinality."
    ),
    tags=("relational-ext", "agg", "window"),
)
def mode_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("n"), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


@register(
    "events_first_touch",
    oracle="""
    SELECT user_id, first_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM (
      SELECT user_id, event_type,
             first_value(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS first_type
      FROM events
    )
    GROUP BY user_id, first_type
    """,
    doc=(
        "First-touch attribution: every user's activity credited to "
        "their chronologically first event type (first_value with a "
        "fully tie-broken ordering), with purchase conversion counts. "
        "The window and the aggregate share the user_id shuffle."
    ),
    tags=("relational-ext", "events", "window", "agg"),
)
def events_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("first_type", F.first("event_type").over(w))
        .groupBy("user_id", "first_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("n_purchases"),
        )
    )


@register(
    "multiset_except_intersect",
    oracle="""
    SELECT 'except' AS op, l_partkey, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
      EXCEPT ALL
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    ) GROUP BY l_partkey
    UNION ALL
    SELECT 'intersect' AS op, l_partkey, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
      INTERSECT ALL
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    ) GROUP BY l_partkey
    """,
    doc=(
        "EXCEPT ALL / INTERSECT ALL multiset semantics (multiplicity-"
        "preserving, unlike the DISTINCT set ops union_dedup/"
        "semi_join_intersection cover): per-part surplus of R-returns "
        "over A-returns and their overlap counts. Spark plans these as "
        "a single aggregate computing count differences — no join."
    ),
    tags=("relational-ext", "setop", "agg"),
)
def multiset_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    exc = (
        r.exceptAll(a)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except").alias("op"), "l_partkey", "n")
    )
    inter = (
        r.intersectAll(a)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect").alias("op"), "l_partkey", "n")
    )
    return exc.unionByName(inter)
