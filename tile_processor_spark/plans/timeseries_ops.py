"""Time-series analytics beyond windowed aggregation: interval
(range-overlap) self-join, exact per-group linear regression, and CUSUM
drift detection — the operators a monitoring / feature-engineering
pipeline runs over an event stream.

All three follow the engine's float discipline: partial aggregates stay
in exact integer/decimal domains (order-independent under any shuffle),
and doubles appear only in a final fixed scalar expression both engines
evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from tile_processor_spark.plans.registry import register
from tile_processor_spark.plans.relational_ext3 import SESSION_GAP_US
from tile_processor_spark.session import session_cached
from tile_processor_spark.sources.tables import load_table

HOUR_US = 3_600_000_000

# Grid cell for the interval-overlap candidate join. Semantics are
# cell-size-invariant (two intervals overlap iff they share a cell and
# pass the exact check; the pair is counted only in its overlap-start
# cell), so the cell is a pure performance knob: candidates scale with
# (concurrency per cell)^2 x cells while explode cost scales with
# interval_len/cell. Sessions here are near-points (median 0 s, avg
# 43 s, max ~67 min vs the 30-min gap), so 5-minute cells cut the
# candidate-pair volume 8.8x vs hour cells for +14% exploded rows
# (measured at sf0.1). At a different deployment's interval mix,
# re-derive: cell ≈ p95 interval length is a good starting point.
OVERLAP_CELL_US = 5 * 60 * 1_000_000

# Session-interval CTEs shared by the overlap oracle (same gap rule and
# tie-break as sessionize_gap_ids — the two queries must agree on what a
# "session" is).
_SESS_CTES = f"""
    WITH marked AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts_us,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_seq
      FROM marked
    ), sess AS (
      SELECT user_id, session_seq,
             MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
      FROM numbered GROUP BY user_id, session_seq
    )
"""


@register(
    "events_interval_overlap",
    oracle=f"""
    {_SESS_CTES},
    ov AS (
      SELECT a.user_id, a.session_seq, CAST(COUNT(*) AS BIGINT) AS n_concurrent
      FROM sess a JOIN sess b
        ON a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND NOT (a.user_id = b.user_id AND a.session_seq = b.session_seq)
      GROUP BY a.user_id, a.session_seq
    )
    SELECT s.user_id, s.session_seq, s.start_us, s.end_us,
           COALESCE(ov.n_concurrent, 0) AS n_concurrent
    FROM sess s LEFT JOIN ov USING (user_id, session_seq)
    """,
    doc=(
        "Interval-overlap self-join (the time-range join relational "
        "engines ship as RANGE JOIN): per session interval, how many "
        "OTHER sessions (any user) were concurrent at any point. Spark "
        "side needs NO pair enumeration at all: overlap({b}, a) = "
        "#{b: b.start <= a.end} - #{b: b.end < a.start} - 1 (self "
        "satisfies the first count, never the second), and each term "
        "is a rank-count read off a banded prefix sum over the tagged "
        "boundary-point union — O(n) rows, day-cell parallel, vs the "
        "former grid-cell candidate join whose cost was output-bound "
        "(concurrency x interval length; 8.6x on the sf1->sf10 step, "
        "docs/SCALE.md). Oracle runs the naive theta-join (n^2 is "
        "fine at gate scale). Same gap rule/tie-break as "
        "sessionize_gap_ids, so the session frames are interchangeable."
    ),
    tags=("events", "join", "interval", "headline"),
)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the session frame is the shared, session-cached materialization
    # (_sessions) — the boundary union below reads it twice
    sess = _sessions(spark, sf_dir)
    from tile_processor_spark.plans.chunked_windows import DAY_US, banded_running_sums

    # One tagged boundary point per interval END: each session emits
    # its start row (k=0, counts 1 toward the start prefix) and its
    # end row (k=2, counts 1 toward the end prefix); both carry the
    # session key. The inclusive prefix sums over (t, k) then read off
    # BOTH rank-counts with no separate query rows and no join-back:
    #   - at the END row, the start-prefix cs = #{b: b.start <= end}
    #     (starts at equal t sort first, k=0 < 2 -> inclusive <=);
    #   - at the START row, the end-prefix ce = #{b: b.end < start}
    #     (ends at equal t sort last, k=2 > 0 -> strict <).
    # Ties among equal (t, k) rows are safe: a row's own kind bit only
    # feeds the prefix the OTHER kind reads. Self satisfies the first
    # count and never the second, hence the -1.
    # One scan emits both boundary rows per session via explode (round
    # 17, guide §2.2 "fewer, larger tasks"): the former two-branch union
    # scanned the session checkpoint twice — same rows, double the scan
    # tasks per pass, and the day-totals aggregate below re-scanned the
    # union again (4 scans total; now 2).
    bounds = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("start_us").alias("t"),
                    F.lit(0).alias("k"),
                    F.lit(1).alias("i_s"),
                    F.lit(0).alias("i_e"),
                ),
                F.struct(
                    F.col("end_us").alias("t"),
                    F.lit(2).alias("k"),
                    F.lit(0).alias("i_s"),
                    F.lit(1).alias("i_e"),
                ),
            )
        ).alias("_b"),
        "user_id",
        "session_seq",
        "start_us",
        "end_us",
    ).select(
        "_b.t", "_b.k", "_b.i_s", "_b.i_e",
        "user_id", "session_seq", "start_us", "end_us",
    )
    summed = banded_running_sums(
        bounds,
        [],
        ["t", "k"],
        (F.col("t") / DAY_US).cast("long"),
        {"i_s": "cs", "i_e": "ce"},
        cell_name="day",  # bounded grain: the cross-cell window runs on days
    )
    return summed.groupBy("user_id", "session_seq", "start_us", "end_us").agg(
        (
            F.max(F.when(F.col("k") == 2, F.col("cs")))
            - F.max(F.when(F.col("k") == 0, F.col("ce")))
            - 1
        )
        .cast("long")
        .alias("n_concurrent")
    )


# Regression / CUSUM quantization: floor(value * 100) is exact and
# identical in both engines (same input double, same multiply, same
# floor); time is centered on a fixed epoch so x^2 sums stay far from
# the DECIMAL(38) ceiling even at 10^12 rows.
VAL_SCALE = 100
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


@register(
    "events_regression_slope",
    oracle=f"""
    WITH q AS (
      SELECT event_type,
             CAST(epoch_us(ts) - {T0_US} AS DECIMAL(38,0)) AS x,
             CAST(CAST(floor(value * {VAL_SCALE}) AS BIGINT) AS DECIMAL(38,0)) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM q GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_per_us,
           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x
    FROM s
    """,
    doc=(
        "Per-group least-squares trend (REGR_SLOPE) of event value over "
        "time: the five classical sufficient statistics (n, Sx, Sy, "
        "Sxy, Sxx) accumulate as EXACT DECIMAL(38,0) — fully "
        "map-side-combinable and order-independent, unlike a float "
        "covariance which drifts with partial-agg order — then one "
        "fixed double expression produces the slope. Time is centered "
        "on a constant epoch so Sxx stays ~10^37 even at 10^12 rows. "
        "Output is 1 row per event_type: the map-side combine does "
        "all the work; the shuffle carries 5 numbers per group."
    ),
    tags=("events", "agg", "stats"),
)
def events_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lit(T0_US)).cast("decimal(38,0)").alias("x"),
        F.floor(F.col("value") * VAL_SCALE).cast("long").cast("decimal(38,0)").alias("y"),
    )
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)).alias("slope_per_us"),
        (syd / nd).alias("mean_y"),
        (sxd / nd).alias("mean_x"),
    )


@register(
    "events_cusum_drift",
    oracle=f"""
    WITH q AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
             CAST(floor(value * {VAL_SCALE}) AS BIGINT) AS y
      FROM events
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s
      FROM q GROUP BY event_type
    ),
    dev AS (
      SELECT q.event_type, q.ts_us, q.event_id,
             CAST(tot.n * q.y - tot.s AS DECIMAL(38,0)) AS d
      FROM q JOIN tot USING (event_type)
    ),
    run AS (
      SELECT event_type,
             SUM(d) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM dev
    )
    SELECT event_type,
           CAST(MAX(c) AS DOUBLE) AS max_cusum,
           CAST(MIN(c) AS DOUBLE) AS min_cusum
    FROM run GROUP BY event_type
    """,
    doc=(
        "CUSUM drift statistic per event_type: deviations from the "
        "group mean, scaled by n to stay integral (d_i = n*y_i - S "
        "instead of y_i - S/n), accumulated as a running sum in event "
        "order; the max/min excursion is the classical "
        "change-detection statistic (a mean shift mid-stream drives "
        "|CUSUM| to a peak at the change point). Two passes: a 5-"
        "number-per-group total (map-side combine) broadcast back, "
        "then ONE window shuffle keyed by event_type. DECIMAL(38,0) "
        "running sums keep 10^12-row groups exact."
    ),
    tags=("events", "window", "stats"),
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * VAL_SCALE).cast("long").alias("y"),
    )
    tot = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").cast("long").alias("s")
    )
    dev = q.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "ts_us",
        "event_id",
        (F.col("n") * F.col("y") - F.col("s")).cast("decimal(38,0)").alias("d"),
    )
    from tile_processor_spark.plans.chunked_windows import (
        DAY_US,
        banded_running_extrema,
    )

    # the statistic only needs the prefix sum's EXTREMA, so skip the
    # per-row prefix entirely: day-local running sums collapse to
    # per-cell (total, lmax, lmin) in one pass, and exclusive cell
    # offsets shift the local extrema — no event_type-only (5-task)
    # fact sort, no fact-grain offset join
    ex = banded_running_extrema(
        dev,
        ["event_type"],
        ["ts_us", "event_id"],
        (F.col("ts_us") / DAY_US).cast("long"),
        "d",
        "mx",
        "mn",
    )
    return ex.select(
        "event_type",
        F.col("mx").cast("double").alias("max_cusum"),
        F.col("mn").cast("double").alias("min_cusum"),
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    row_tot AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_n FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n, r.row_n,
           CAST(t.n AS DOUBLE) / r.row_n AS p
    FROM trans t JOIN row_tot r USING (prev_type)
    """,
    doc=(
        "First-order Markov transition matrix of user behavior: "
        "lag(event_type) per user in event order -> transition counts "
        "-> row-normalized probabilities (one exact integer division "
        "per cell). The sequence-model summary of an event log "
        "(next-action prediction, anomaly scoring of improbable "
        "transitions). One window shuffle on user_id; the matrix "
        "itself is |types|^2 rows — map-side combine collapses the "
        "transition stream before the tiny final join."
    ),
    tags=("events", "window", "stats"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(wo).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint()  # |types|^2 rows; feeds both the join and row totals
    row_tot = trans.groupBy("prev_type").agg(F.sum("n").cast("long").alias("row_n"))
    return trans.join(F.broadcast(row_tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        "row_n",
        (F.col("n").cast("double") / F.col("row_n")).alias("p"),
    )


# percentile_cont positions: p in {0.5, 0.9, 0.99} over cents-exact
# o_totalprice. Interpolation = lo + frac * (hi - lo) with lo/hi exact
# decimals picked by rank and frac an exact multiple of 1/100 — every
# input to the one double expression is identical in both engines.
PCTL_PS = (50, 90, 99)


@register(
    "orders_percentile_cont",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS rk,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    pos AS (
      SELECT o_orderpriority, p.p,
             1 + ((n - 1) * p.p) // 100 AS lo_rk,
             CASE WHEN ((n - 1) * p.p) % 100 = 0 THEN 1 + ((n - 1) * p.p) // 100
                  ELSE 2 + ((n - 1) * p.p) // 100 END AS hi_rk,
             ((n - 1) * p.p) % 100 AS frac_pct
      FROM (SELECT DISTINCT o_orderpriority, n FROM ranked) g
      CROSS JOIN (VALUES {", ".join(f"({p})" for p in PCTL_PS)}) p(p)
    )
    SELECT pos.o_orderpriority, CAST(pos.p AS BIGINT) AS p,
           CAST(lo.o_totalprice AS DOUBLE)
             + (CAST(frac_pct AS DOUBLE) / 100.0)
               * (CAST(hi.o_totalprice AS DOUBLE) - CAST(lo.o_totalprice AS DOUBLE))
             AS pctl_cont
    FROM pos
    JOIN ranked lo ON lo.o_orderpriority = pos.o_orderpriority AND lo.rk = pos.lo_rk
    JOIN ranked hi ON hi.o_orderpriority = pos.o_orderpriority AND hi.rk = pos.hi_rk
    """,
    doc=(
        "PERCENTILE_CONT(0.5/0.9/0.99) WITHIN GROUP semantics, built "
        "from rank arithmetic so it is exact and engine-independent: "
        "position (n-1)*p splits into an integer rank and an exact "
        "1/100-quantum fraction; the two bracketing values are picked "
        "by row_number (decimal cents, fully tie-broken) and "
        "interpolated in ONE double expression. Scale: one window "
        "shuffle per group for ranking; the rank-probe join touches "
        "2 x |groups| x |ps| rows. Complements median_disc_by_priority "
        "(discrete) with the interpolated family."
    ),
    tags=("relational-ext", "window", "stats"),
)
def orders_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.chunked_windows import banded_rank_pick

    o = load_table(spark, "orders", sf_dir)
    # The six bracketing rows ((n-1)*p split into lo/hi ranks for each
    # p) are pulled WITHOUT ranking or shuffling the fact stream:
    # per-(priority, floor(price/1000)) counts locate each rank's
    # price cell, only those cells' rows are row-ranked
    # (banded_rank_pick) — o_orderpriority has 5 values, so any plan
    # that ranks the full stream per priority is the low-cardinality
    # funnel class (docs/SCALE.md §sf10).
    exprs: dict[str, Column] = {}
    for p in PCTL_PS:
        exprs[f"lo_{p}"] = 1 + ((F.col("n") - 1) * p / 100).cast("long")
        exprs[f"hi_{p}"] = (
            F.when(
                ((F.col("n") - 1) * p) % 100 == 0,
                1 + ((F.col("n") - 1) * p / 100).cast("long"),
            ).otherwise(2 + ((F.col("n") - 1) * p / 100).cast("long"))
        )
    picked = banded_rank_pick(
        o.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        ["o_orderpriority"],
        ["o_totalprice", "o_orderkey"],
        F.floor(F.col("o_totalprice") / F.lit(1000)).cast("long"),
        exprs,
    ).select(
        "o_orderpriority",
        "n",
        F.split("pick", "_").getItem(0).alias("kind"),
        F.split("pick", "_").getItem(1).cast("int").alias("p"),
        "o_totalprice",
    )
    pairs = picked.groupBy("o_orderpriority", "n", "p").agg(
        F.min(F.when(F.col("kind") == "lo", F.col("o_totalprice"))).alias("lo_v"),
        F.min(F.when(F.col("kind") == "hi", F.col("o_totalprice"))).alias("hi_v"),
    )
    frac = ((F.col("n") - 1) * F.col("p")) % 100
    return pairs.select(
        "o_orderpriority",
        F.col("p").cast("long").alias("p"),
        (
            F.col("lo_v").cast("double")
            + (frac.cast("double") / 100.0)
            * (F.col("hi_v").cast("double") - F.col("lo_v").cast("double"))
        ).alias("pctl_cont"),
    )


@register(
    "lineitem_corr_matrix",
    oracle="""
    WITH q AS (
      SELECT CAST(l_quantity AS DECIMAL(38,0)) AS a,
             CAST(l_extendedprice * 100 AS DECIMAL(38,0)) AS b,
             CAST(l_discount * 100 AS DECIMAL(38,0)) AS c
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc,
             SUM(a*a) AS saa, SUM(b*b) AS sbb, SUM(c*c) AS scc,
             SUM(a*b) AS sab, SUM(a*c) AS sac, SUM(b*c) AS sbc
      FROM q
    )
    SELECT 'quantity~extendedprice' AS pair,
           (CAST(n AS DOUBLE)*CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE)*CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)))
             AS corr FROM m
    UNION ALL
    SELECT 'quantity~discount',
           (CAST(n AS DOUBLE)*CAST(sac AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sc AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE)*CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE)*CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE)))
      FROM m
    UNION ALL
    SELECT 'extendedprice~discount',
           (CAST(n AS DOUBLE)*CAST(sbc AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sc AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE)*CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE)))
      FROM m
    """,
    doc=(
        "Pairwise Pearson correlation matrix over the lineitem "
        "numeric columns from ONE scan: all ten co-moment sums "
        "(n, 3 sums, 3 squares, 3 cross-products) accumulate as exact "
        "DECIMAL(38,0) over cents-quantized values in a single "
        "aggregate — the shape CORR_MATRIX/describe() wants, fully "
        "map-side combinable, then each coefficient is one fixed "
        "double expression. Contrast F.corr, whose float partials are "
        "partition-order-dependent; here any shuffle/AQE re-plan "
        "reproduces bit-identical coefficients."
    ),
    tags=("relational-ext", "stats", "agg"),
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    q = li.select(
        F.col("l_quantity").cast("decimal(38,0)").alias("a"),
        (F.col("l_extendedprice") * 100).cast("decimal(38,0)").alias("b"),
        (F.col("l_discount") * 100).cast("decimal(38,0)").alias("c"),
    )
    m = q.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum("c").alias("sc"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("c")).alias("sac"),
        F.sum(F.col("b") * F.col("c")).alias("sbc"),
    ).localCheckpoint()  # ten scalars; reused by the three rows

    def _corr(sxy: str, sx: str, sy: str, sxx: str, syy: str):
        nd = F.col("n").cast("double")
        return (
            nd * F.col(sxy).cast("double")
            - F.col(sx).cast("double") * F.col(sy).cast("double")
        ) / (
            F.sqrt(
                nd * F.col(sxx).cast("double")
                - F.col(sx).cast("double") * F.col(sx).cast("double")
            )
            * F.sqrt(
                nd * F.col(syy).cast("double")
                - F.col(sy).cast("double") * F.col(sy).cast("double")
            )
        )

    rows = [
        m.select(
            F.lit("quantity~extendedprice").alias("pair"),
            _corr("sab", "sa", "sb", "saa", "sbb").alias("corr"),
        ),
        m.select(
            F.lit("quantity~discount").alias("pair"),
            _corr("sac", "sa", "sc", "saa", "scc").alias("corr"),
        ),
        m.select(
            F.lit("extendedprice~discount").alias("pair"),
            _corr("sbc", "sb", "sc", "sbb", "scc").alias("corr"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "events_twap_hourly",
    oracle=f"""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS ts_us, event_id,
             CAST(floor(value * {VAL_SCALE}) AS BIGINT) AS y,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type
               ORDER BY ts, event_id) AS next_us
      FROM events
    ),
    seg AS (
      -- each observation holds until the next one (step interpolation);
      -- the last observation of a type carries zero weight
      SELECT event_type,
             ts_us // {HOUR_US} AS hour_idx,
             CAST(y AS DECIMAL(38,0)) * (next_us - ts_us) AS wy,
             next_us - ts_us AS w
      FROM seq WHERE next_us IS NOT NULL
    )
    SELECT event_type, CAST(hour_idx AS BIGINT) AS hour_idx,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(w) AS BIGINT) AS held_us,
           CAST(CAST(SUM(wy) AS DOUBLE) / SUM(w) / {VAL_SCALE} AS DOUBLE)
             AS twap
    FROM seg GROUP BY event_type, hour_idx
    """,
    doc=(
        "Time-weighted average price/value per (type, hour): each "
        "observation is step-held until the next one in its group "
        "(lead window), weight = held microseconds, TWAP = "
        "sum(y*w)/sum(w) with DECIMAL(38,0) numerators (y*w reaches "
        "~2^47 per segment; float partials would drift under shuffle "
        "order). The standard financial/telemetry downsampler that "
        "plain AVG gets wrong under irregular sampling — a value held "
        "55 min weighs 11x one held 5 min. One window shuffle on "
        "event_type, then an ordinary partial-aggregable groupBy; "
        "segments are assigned to the hour they START in (simple, "
        "deterministic; hour-straddling segments are not split — "
        "documented semantics, same in both engines)."
    ),
    tags=("events", "window", "agg"),
)
def events_twap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.chunked_windows import DAY_US, banded_next

    ev = load_table(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * VAL_SCALE).cast("long").alias("y"),
    )
    # per-type lead(ts) via day-banded stitch (local lead within
    # (type, day) + broadcast next-cell first-row table) — the naive
    # event_type-only window funnels the fact stream through 5 tasks
    seq = (
        banded_next(
            q,
            ["event_type"],
            ["ts_us", "event_id"],
            (F.col("ts_us") / DAY_US).cast("long"),
            ["ts_us"],
        )
        .withColumnRenamed("_next_ts_us", "next_us")
        .filter(F.col("next_us").isNotNull())
    )
    seg = seq.select(
        "event_type",
        (F.col("ts_us") / HOUR_US).cast("long").alias("hour_idx"),
        (F.col("y").cast("decimal(38,0)") * (F.col("next_us") - F.col("ts_us"))).alias("wy"),
        (F.col("next_us") - F.col("ts_us")).alias("w"),
    )
    return seg.groupBy("event_type", "hour_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("w").cast("long").alias("held_us"),
        (F.sum("wy").cast("double") / F.sum("w") / VAL_SCALE).cast("double").alias("twap"),
    )


ROLLMED_WINDOW = 50  # trailing rows preceding current


@register(
    "events_rolling_median",
    oracle=f"""
    WITH q AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
             CAST(floor(value * {VAL_SCALE}) AS BIGINT) AS y
      FROM events
    ),
    framed AS (
      SELECT event_type, event_id, ts_us,
             list_sort(list(y) OVER (PARTITION BY event_type
               ORDER BY ts_us, event_id
               ROWS BETWEEN {ROLLMED_WINDOW} PRECEDING AND CURRENT ROW)) AS l
      FROM q
    )
    SELECT event_type, event_id, ts_us,
           CAST(l[(len(l) + 1) // 2] AS DOUBLE) / {VAL_SCALE} AS rolling_median
    FROM framed
    """,
    doc=(
        "Rolling exact (lower discrete) median of event value over a "
        "trailing 51-row window per type — the robust rolling baseline "
        "for outlier scoring, where a rolling MEAN is dragged by the "
        "very outliers it should flag. Median-over-window exists in "
        "neither engine as an exact window aggregate, so both sides "
        "build it from the same primitive: collect the frame, sort, "
        "index (n+1)//2 — on cents-exact integers, so the pick is "
        "deterministic. Scale: bounded frame (51 longs) keeps state "
        "O(window) per row, and the frame is evaluated through the "
        "HALO-CHUNKED discipline (plans/chunked_windows.py): a plain "
        "partitionBy(event_type) window is a 5-task funnel — measured "
        "13.7× wall on the 10× sf1→sf10 rehearsal step — while the "
        "banded row index + overlap chunks give data-proportional "
        "parallelism with value-identical output (same oracle). The "
        "O(w log w) per-row sort is the honest cost — a two-heap or "
        "indexable-skiplist kernel is the constant-factor upgrade, not "
        "a different plan shape."
    ),
    tags=("events", "window", "stats"),
)
def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.chunked_windows import (
        DAY_US,
        banded_row_index,
        chunked_trailing_frame,
    )

    ev = load_table(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * VAL_SCALE).cast("long").alias("y"),
    )
    indexed = banded_row_index(
        q,
        ["event_type"],
        ["ts_us", "event_id"],
        (F.col("ts_us") / DAY_US).cast("long"),
    )

    def median_frame(df: DataFrame, w) -> DataFrame:
        return df.withColumn("l", F.sort_array(F.collect_list("y").over(w)))

    framed = chunked_trailing_frame(
        indexed, ["event_type"], ROLLMED_WINDOW, median_frame
    )
    return framed.select(
        "event_type",
        "event_id",
        "ts_us",
        (
            F.element_at(F.col("l"), ((F.size("l") + 1) / 2).cast("int")).cast("double")
            / VAL_SCALE
        ).alias("rolling_median"),
    )


# Truncated EWMA: alpha = 1/4; weight of lag k is alpha*(1-alpha)^k =
# 3^k / 4^(k+1). Scaling by 4^8 makes every weight an exact integer
# (w_k = 3^k * 4^(7-k)), so the smoothed value is an exact rational of
# BIGINTs; truncation at 8 lags bounds the tail mass at (3/4)^8 = 10%.
EWMA_LAGS = 8
EWMA_W = [3**k * 4 ** (7 - k) for k in range(EWMA_LAGS)]  # [16384, ..., 2187]


@register(
    "events_ewma_approx",
    oracle=f"""
    WITH q AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
             CAST(floor(value * {VAL_SCALE}) AS BIGINT) AS y
      FROM events
    ),
    lagged AS (
      SELECT event_type, event_id, ts_us,
             {", ".join(f"lag(y, {k}) OVER w AS y{k}" for k in range(EWMA_LAGS))}
      FROM q
      WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)
    )
    SELECT event_type, event_id, ts_us,
           CAST(({" + ".join(f"COALESCE(y{k} * {EWMA_W[k]}, 0)" for k in range(EWMA_LAGS))})
                AS DOUBLE)
             / ({" + ".join(f"CASE WHEN y{k} IS NULL THEN 0 ELSE {EWMA_W[k]} END" for k in range(EWMA_LAGS))})
             / {VAL_SCALE} AS ewma
    FROM lagged
    """,
    doc=(
        "Exponentially-weighted moving average, the shuffle-exact "
        "form: the geometric recursion is truncated at 8 lags with "
        "alpha = 1/4, making every weight an exact integer "
        "(3^k * 4^(7-k)) — the weighted sum is pure BIGINT window "
        "algebra, normalized by the weights actually present (early "
        "rows renormalize instead of biasing toward zero). Truncation "
        "error is bounded by the (3/4)^8 ~ 10% tail mass, but "
        "DETERMINISM is exact — unlike the recursive form, whose "
        "float accumulation is partition-history-dependent and which "
        "no bounded window can express. One window shuffle; 8 lags = "
        "O(1) state per row."
    ),
    tags=("events", "window", "stats"),
)
def events_ewma_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * VAL_SCALE).cast("long").alias("y"),
    )
    from tile_processor_spark.plans.chunked_windows import (
        DAY_US,
        banded_row_index,
        chunked_frame,
    )

    # halo-chunked lags: the 8 trailing values come from the chunk-local
    # window (thousands of (type, chunk) partitions), with the previous
    # chunk's last 7 rows as halo — no event_type-only fact sort
    indexed = banded_row_index(
        q,
        ["event_type"],
        ["ts_us", "event_id"],
        (F.col("ts_us") / DAY_US).cast("long"),
    )

    def lag_frame(df: DataFrame, spec) -> DataFrame:
        for k in range(1, EWMA_LAGS):
            df = df.withColumn(f"y{k}", F.lag("y", k).over(spec))
        return df

    lagged = chunked_frame(
        indexed, ["event_type"], EWMA_LAGS - 1, 0, lag_frame
    ).select(
        "event_type", "event_id", "ts_us", F.col("y").alias("y0"),
        *[f"y{k}" for k in range(1, EWMA_LAGS)],
    )
    num = None
    den = None
    for k in range(EWMA_LAGS):
        yk = F.col(f"y{k}")
        nk = F.coalesce(yk * EWMA_W[k], F.lit(0))
        dk = F.when(yk.isNull(), 0).otherwise(EWMA_W[k])
        num = nk if num is None else num + nk
        den = dk if den is None else den + dk
    return lagged.select(
        "event_type",
        "event_id",
        "ts_us",
        (num.cast("double") / den / VAL_SCALE).alias("ewma"),
    )


ANOMALY_K = 3  # flag events beyond K * MAD from the type median
ANOMALY_GAP_US = 30 * 60 * 1_000_000  # merge flags within 30 min


@register(
    "events_anomaly_intervals",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    ), med AS (
      SELECT event_type, value AS med_value FROM ranked WHERE rn = (cnt + 1) // 2
    ), dev AS (
      SELECT e.event_type, abs(e.value - m.med_value) AS ad, e.event_id
      FROM events e JOIN med m USING (event_type)
    ), ranked2 AS (
      SELECT event_type, ad,
             row_number() OVER (PARTITION BY event_type
               ORDER BY ad, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM dev
    ), mad AS (
      SELECT event_type, ad AS mad_value FROM ranked2 WHERE rn = (cnt + 1) // 2
    ),
    flagged AS (
      SELECT e.event_type, epoch_us(e.ts) AS ts_us, e.event_id
      FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
      WHERE abs(e.value - med.med_value) > {ANOMALY_K} * mad.mad_value
    ),
    marked AS (
      SELECT event_type, ts_us, event_id,
             CASE WHEN ts_us - lag(ts_us) OVER w > {ANOMALY_GAP_US}
                  THEN 1 ELSE 0 END AS new_island
      FROM flagged
      WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)
    ),
    numbered AS (
      SELECT event_type, ts_us,
             CAST(SUM(new_island) OVER (PARTITION BY event_type
               ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS island
      FROM marked
    )
    SELECT event_type, island,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
    FROM numbered GROUP BY event_type, island
    """,
    doc=(
        "Anomaly INTERVALS, the operator a monitoring pipeline pages "
        "on: robust point flags (|value - median| > 3 MAD, both picks "
        "rank-exact as in events_mad_by_type) merged into episodes by "
        "the gaps-and-islands rule (30-min silence closes an episode) "
        "— alert fatigue control by construction: one page per "
        "episode, not per point. Composes three registry primitives "
        "(discrete median, MAD, sessionization) into one lazy plan; "
        "per-type medians broadcast, then one window shuffle over the "
        "FLAGGED subset only."
    ),
    tags=("events", "window", "stats", "quality"),
)
def events_anomaly_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.relational_ext4 import robust_center_by_type

    ev = load_table(spark, "events", sf_dir)
    center = robust_center_by_type(ev).select("event_type", "med_value", "mad_value")
    flagged = (
        ev.join(F.broadcast(center), "event_type")
        .filter(
            F.abs(F.col("value") - F.col("med_value"))
            > ANOMALY_K * F.col("mad_value")
        )
        .select("event_type", F.unix_micros("ts").alias("ts_us"), "event_id")
        # the banded helpers reference their input twice each; without
        # a checkpoint the whole upstream (median/MAD picks + the full
        # scan-and-filter) is re-evaluated up to 4x. flagged is the
        # sparse anomaly set, so materializing it is cheap.
        .localCheckpoint()
    )
    from tile_processor_spark.plans.chunked_windows import (
        DAY_US,
        banded_prev,
        banded_running_sum,
    )

    # gap markers via day-banded lag, island ids via the banded prefix
    # sum — flagged rows are sparse but still data-proportional, so no
    # event_type-only window may sort them in 5 tasks
    cell = (F.col("ts_us") / DAY_US).cast("long")
    marked = banded_prev(
        flagged, ["event_type"], ["ts_us", "event_id"], cell, ["ts_us"]
    ).withColumn(
        "new_island",
        F.when(F.col("ts_us") - F.col("_prev_ts_us") > ANOMALY_GAP_US, 1).otherwise(0),
    ).drop("_prev_ts_us")
    numbered = banded_running_sum(
        marked, ["event_type"], ["ts_us", "event_id"], cell, "new_island", "island"
    )
    return numbered.groupBy("event_type", "island").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )


@register(
    "events_sequence_match",
    oracle="""
    WITH t1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS view_us
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS click_us
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1.view_us
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS purchase_us
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2.click_us
      GROUP BY e.user_id
    )
    SELECT t1.user_id, t1.view_us, t2.click_us, t3.purchase_us,
           CAST(CASE WHEN t3.purchase_us IS NOT NULL THEN 3
                     WHEN t2.click_us IS NOT NULL THEN 2 ELSE 1 END
                AS BIGINT) AS matched_upto,
           t3.purchase_us - t1.view_us AS total_us
    FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
            LEFT JOIN t3 ON t1.user_id = t3.user_id
    """,
    doc=(
        "Ordered sequence-pattern match (the MATCH_RECOGNIZE / "
        "sequential-funnel shape, which neither engine ships): per "
        "user, the EARLIEST chain view -> click-after-view -> "
        "purchase-after-click, built by chained min-after-anchor "
        "aggregates — each step one conditional aggregate over events "
        "later than the previous anchor, the non-contiguous-"
        "subsequence semantics a timestamp-window funnel "
        "(events_funnel counts users per stage) cannot express. "
        "matched_upto grades match depth (1 = view only, 2 = "
        "clicked, 3 = converted); total_us is the "
        "realized conversion latency. Scale: three aggregates + two "
        "broadcast-back joins, all keyed on user_id — one shuffle "
        "partitioning reused end-to-end."
    ),
    tags=("events", "agg", "funnel"),
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("view_us"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("us") > F.col("view_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("click_us"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("us") > F.col("click_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("purchase_us"))
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            "view_us",
            "click_us",
            "purchase_us",
            F.when(F.col("purchase_us").isNotNull(), 3)
            .when(F.col("click_us").isNotNull(), 2)
            .otherwise(1)
            .cast("long")
            .alias("matched_upto"),
            (F.col("purchase_us") - F.col("view_us")).alias("total_us"),
        )
    )


DAY_US = 86_400_000_000


# The offline-artifact pattern (same as the cached PQ fit): the
# sessionize pass is byte-identical across events_interval_overlap and
# both sweep queries, so one localCheckpoint per session serves them all.
@session_cached
def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_seq, start_us, end_us) under the 30-minute
    gap rule, (ts_us, event_id)-tie-broken — identical frame to
    sessionize_gap_ids' grouping."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    wrun = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    marked = ev.withColumn(
        "new_session",
        F.when(F.col("ts_us") - F.lag("ts_us").over(wo) > SESSION_GAP_US, 1).otherwise(0),
    )
    return (
        marked.withColumn("session_seq", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts_us").alias("start_us"), F.max("ts_us").alias("end_us"))
    ).localCheckpoint()


def _session_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize events and emit the sweep-line boundary deltas:
    +1 at each session start, -1 just past each session end (closed
    intervals, matching events_interval_overlap's convention)."""
    sess = _sessions(spark, sf_dir)
    # explode instead of a two-branch union: one scan of the session
    # checkpoint per consumer pass instead of two (guide §2.2)
    return sess.select(
        F.explode(
            F.array(
                F.struct(F.col("start_us").alias("t_us"), F.lit(1).alias("d")),
                F.struct((F.col("end_us") + 1).alias("t_us"), F.lit(-1).alias("d")),
            )
        ).alias("_b")
    ).select("_b.t_us", "_b.d")


def _sweep_hourly(swept: DataFrame) -> DataFrame:
    return swept.groupBy((F.col("t_us") / HOUR_US).cast("long").alias("hour_idx")).agg(
        F.max("active").cast("long").alias("max_active"),
        F.count(F.lit(1)).cast("long").alias("n_changes"),
    )


def sweep_global_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATEGY BASELINE — not registered, not part of the public query
    surface. The textbook single-window sweep (one running sum over the
    globally ordered delta stream) exists only so the equivalence test
    (tests/test_semantic_ts_plans.py) can prove the distributed two-pass
    prefix sum is value-invisible. Its plan funnels every boundary delta
    through one partition — a grain that scales with data — which is why
    the registered queries never serve it."""
    deltas = _session_deltas(spark, sf_dir)
    wsweep = W.orderBy("t_us", F.desc("d")).rowsBetween(W.unboundedPreceding, W.currentRow)
    return _sweep_hourly(deltas.withColumn("active", F.sum("d").over(wsweep)))


def _sweep_partitioned_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed two-pass prefix-sum sweep shared by both registered
    sweep queries (see events_sweep_partitioned's doc)."""
    deltas = _session_deltas(spark, sf_dir).withColumn(
        "day", (F.col("t_us") / DAY_US).cast("long")
    )
    # pass 1: local running sums within each day (parallel) + day totals
    wday = (
        W.partitionBy("day")
        .orderBy("t_us", F.desc("d"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = deltas.withColumn("local_run", F.sum("d").over(wday))
    # the unpartitioned offsets window needs its (bounded, day-grain)
    # input on one partition anyway: coalesce(1) the day totals in
    # place instead of paying a SinglePartition Exchange (guide §2.4)
    day_tot = deltas.groupBy("day").agg(F.sum("d").alias("day_sum")).coalesce(1)
    # pass 2: exclusive cumulative offsets over the tiny day series
    wdays = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    offsets = day_tot.withColumn(
        "day_offset", F.coalesce(F.sum("day_sum").over(wdays), F.lit(0))
    ).select("day", "day_offset")
    swept = local.join(F.broadcast(offsets), "day").withColumn(
        "active", F.col("day_offset") + F.col("local_run")
    )
    # Group by (day, hour_idx) instead of hour_idx alone: day is
    # functionally determined by hour_idx (DAY_US = 24·HOUR_US and
    # t_us ≥ 0, so day = hour_idx div 24) — identical groups — but the
    # probe side is already hash-partitioned by day from the pass-1
    # window, and hashpartitioning(day) satisfies clustering on
    # {day, hour_idx}, so the final aggregate runs WITHOUT its own
    # Exchange (guide §2.4 "two operations keyed the same way share
    # one exchange").
    return (
        swept.groupBy("day", (F.col("t_us") / HOUR_US).cast("long").alias("hour_idx"))
        .agg(
            F.max("active").cast("long").alias("max_active"),
            F.count(F.lit(1)).cast("long").alias("n_changes"),
        )
        .select("hour_idx", "max_active", "n_changes")
    )


@register(
    "events_active_sessions_sweep",
    oracle=f"""
    {_SESS_CTES},
    deltas AS (
      SELECT start_us AS t_us, 1 AS d FROM sess
      UNION ALL
      SELECT end_us + 1 AS t_us, -1 AS d FROM sess
    ),
    swept AS (
      SELECT t_us, d,
             SUM(d) OVER (ORDER BY t_us, d DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active
      FROM deltas
    )
    SELECT t_us // {HOUR_US} AS hour_idx,
           CAST(MAX(active) AS BIGINT) AS max_active,
           CAST(COUNT(*) AS BIGINT) AS n_changes
    FROM swept GROUP BY 1
    """,
    doc=(
        "Sweep-line concurrency: session intervals become +1/-1 "
        "boundary deltas; the running sum of deltas in time order IS "
        "the number of active sessions at every instant — max per "
        "hour WITHOUT any self-join (contrast events_interval_overlap, "
        "which enumerates pairs: the sweep is O(n log n) where the "
        "pair join is O(n * concurrency)). Ties: starts sort before "
        "ends at the same microsecond (d DESC), the closed-interval "
        "convention matching the overlap join. SERVED BY the "
        "distributed two-pass prefix sum (identical plan to "
        "events_sweep_partitioned): the single-window textbook form "
        "survives only as sweep_global_baseline inside the "
        "strategy-equivalence test — no registered query funnels the "
        "full delta stream through one partition."
    ),
    tags=("events", "window", "interval", "scale"),
)
def events_active_sessions_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sweep_partitioned_plan(spark, sf_dir)


@register(
    "events_sweep_partitioned",
    oracle=f"""
    {_SESS_CTES},
    deltas AS (
      SELECT start_us AS t_us, 1 AS d FROM sess
      UNION ALL
      SELECT end_us + 1 AS t_us, -1 AS d FROM sess
    ),
    swept AS (
      SELECT t_us, d,
             SUM(d) OVER (ORDER BY t_us, d DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active
      FROM deltas
    )
    SELECT t_us // {HOUR_US} AS hour_idx,
           CAST(MAX(active) AS BIGINT) AS max_active,
           CAST(COUNT(*) AS BIGINT) AS n_changes
    FROM swept GROUP BY 1
    """,
    doc=(
        "The DISTRIBUTED form of events_active_sessions_sweep — same "
        "semantics, same oracle, different physical strategy: the "
        "textbook two-pass prefix sum. Pass 1: running sums WITHIN "
        "each day partition (parallel windows) + per-day delta "
        "totals. Pass 2: cumulative day offsets (a window over the "
        "~30-row day series) broadcast back; global running value = "
        "day offset + local running sum. No window ever orders the "
        "full delta stream on one partition — the plan test pins "
        "that the only unpartitioned window is the day-grain one. "
        "The gate proving this frame EQUALS the single-window "
        "variant's oracle is the point: physical re-strategies must "
        "be value-invisible."
    ),
    # headline: the bench measures THIS scale-safe form, not the
    # single-window variant it is equivalence-gated against.
    tags=("events", "window", "interval", "scale", "headline"),
)
def events_sweep_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sweep_partitioned_plan(spark, sf_dir)


@register(
    "events_type_runs",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                    lag(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS run_idx
      FROM seq
    )
    SELECT user_id, run_idx, event_type,
           CAST(COUNT(*) AS BIGINT) AS run_len
    FROM runs GROUP BY user_id, run_idx, event_type
    """,
    doc=(
        "Run-length encoding of each user's event-type sequence: "
        "value-CHANGE islands (lag != current marks a new run; "
        "running sum numbers them) — the sequence-compression "
        "primitive behind repetition detection, bot-behavior "
        "signatures, and columnar RLE itself. The value-change twin "
        "of sessionize_gap_ids' time-gap islands. One window shuffle "
        "on user_id serves the lag, the numbering, and the final "
        "run aggregate."
    ),
    tags=("events", "window"),
)
def events_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    seq = ev.withColumn(
        "chg",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(wo)), 1
        ).otherwise(0),
    )
    runs = seq.withColumn("run_idx", F.sum("chg").over(wrun))
    return runs.groupBy("user_id", "run_idx", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )


@register(
    "events_winsorized_stats",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    cuts AS (
      SELECT event_type, n,
             MIN(CASE WHEN rn = (n * 5 + 99) // 100 THEN value END) AS p05_cut,
             MIN(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END) AS p95_cut
      FROM ranked GROUP BY event_type, n
    )
    SELECT r.event_type, c.n, c.p05_cut, c.p95_cut,
           CAST(SUM(CASE WHEN r.value < c.p05_cut THEN 1 ELSE 0 END) AS BIGINT)
             AS clipped_low,
           CAST(SUM(CASE WHEN r.value > c.p95_cut THEN 1 ELSE 0 END) AS BIGINT)
             AS clipped_high,
           CAST(SUM(CAST(GREATEST(LEAST(r.value, c.p95_cut), c.p05_cut)
                         AS DECIMAL(18,4))) AS DOUBLE) / c.n AS mean_winsorized
    FROM ranked r JOIN cuts c USING (event_type)
    GROUP BY r.event_type, c.n, c.p05_cut, c.p95_cut
    """,
    doc=(
        "Winsorization — the robust-stats prerequisite for anomaly-free "
        "aggregates: exact discrete p05/p95 cutoffs per event_type by "
        "rank arithmetic (position ceil(q·n) as integer (n·q+99) div "
        "100, ties by event_id), values clamped to the cutoffs, then "
        "clip counts and the winsorized mean through the decimal-"
        "accumulate discipline (one double division at the end). Two "
        "scans over the fact and NO fact-grain shuffle: per-cell "
        "counts locate the two cutoff ranks' value cells and only "
        "those cells' rows are row-ranked (banded_rank_pick), then the "
        "clamp+aggregate pass runs with the cuts broadcast. The "
        "approximate twin (sketch_histogram_quantiles) remains the "
        "single-scan option when exact cuts aren't required."
    ),
    tags=("events", "stats", "robust"),
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.chunked_windows import banded_rank_pick

    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    # exact p05/p95 cut VALUES without shuffling the fact stream:
    # per-(type, floor(value)) counts locate the two cut ranks' cells,
    # only those cells' rows are row-ranked (banded_rank_pick); the
    # clamp+aggregate pass then runs over the RAW stream with the two
    # cuts broadcast — two scans, no fact-grain shuffle at all.
    picked = banded_rank_pick(
        ev,
        ["event_type"],
        ["value", "event_id"],
        F.floor("value").cast("long"),
        {
            "p05": F.expr("(n * 5 + 99) div 100"),
            "p95": F.expr("(n * 95 + 99) div 100"),
        },
    )
    cuts = picked.groupBy("event_type", F.col("n").alias("n_type")).agg(
        F.min(F.when(F.col("pick") == "p05", F.col("value"))).alias("p05_cut"),
        F.min(F.when(F.col("pick") == "p95", F.col("value"))).alias("p95_cut"),
    )
    clamped = F.greatest(F.least(F.col("value"), F.col("p95_cut")), F.col("p05_cut"))
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "n_type", "p05_cut", "p95_cut")
        .agg(
            F.sum((F.col("value") < F.col("p05_cut")).cast("long")).alias(
                "clipped_low"
            ),
            F.sum((F.col("value") > F.col("p95_cut")).cast("long")).alias(
                "clipped_high"
            ),
            (
                F.sum(clamped.cast("decimal(18,4)")).cast("double")
                / F.col("n_type")
            ).alias("mean_winsorized"),
        )
        .withColumnRenamed("n_type", "n")
    )


#: seasonal decomposition quantization: trend is the only division in
#: the pipeline, taken as INTEGER div of non-negative operands (where
#: truncation == floor in both engines); everything downstream stays
#: integer so partial-aggregation order cannot move a bit.
SEASONAL_SCALE = 10_000
SEASONAL_HALF = 12  # centered ±12h moving-average trend window


@register(
    "events_seasonal_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, h, n,
             SUM(n) OVER wtrend AS tsum,
             COUNT(n) OVER wtrend AS tcnt
      FROM hourly
      WINDOW wtrend AS (PARTITION BY event_type ORDER BY h
                        ROWS BETWEEN {SEASONAL_HALF} PRECEDING
                                 AND {SEASONAL_HALF} FOLLOWING)
    ),
    det AS (
      SELECT event_type, h, n,
             (tsum * {SEASONAL_SCALE}) // tcnt AS trend_q,
             n * {SEASONAL_SCALE} - (tsum * {SEASONAL_SCALE}) // tcnt AS det_q
      FROM tr
    ),
    seas AS (
      SELECT event_type, EXTRACT(hour FROM h) AS hod,
             SUM(det_q) AS ssum, COUNT(*) AS scnt
      FROM det GROUP BY 1, 2
    )
    SELECT d.event_type, d.h,
           CAST(d.n AS BIGINT) AS n,
           CAST(d.trend_q AS BIGINT) AS trend_q,
           CAST(d.det_q AS BIGINT) AS det_q,
           CAST(s.ssum AS BIGINT) AS seasonal_sum,
           CAST(s.scnt AS BIGINT) AS seasonal_cnt,
           CAST(d.det_q * s.scnt - s.ssum AS BIGINT) AS resid_scaled
    FROM det d JOIN seas s
      ON d.event_type = s.event_type AND EXTRACT(hour FROM d.h) = s.hod
    """,
    doc=(
        "Classical seasonal decomposition of the hourly event series: "
        "centered ±12h moving-average trend, hour-of-day seasonal "
        "component, residual — the additive decompose every capacity/"
        "anomaly pipeline starts from. Numerics are EXACT: counts are "
        "integers, the trend is one integer division of non-negative "
        "operands (truncate == floor in both engines), the seasonal "
        "mean is carried as (sum, count), and the residual is emitted "
        "cross-multiplied (det·cnt − sum) so no float ever enters — "
        "partial-agg order cannot move a bit, which is what makes a "
        "hash gate possible on a statistics pipeline. Scale shape: "
        "windows run on the HOURLY aggregate (calendar-bounded series "
        "per type, exempt from the fact-grain funnel class by "
        "construction); the seasonal table is types×24 rows, "
        "broadcast-joined back."
    ),
    tags=("timeseries", "headline-adjacent"),
)
def events_seasonal_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    wtrend = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-SEASONAL_HALF, SEASONAL_HALF)
    )
    tr = hourly.withColumn("tsum", F.sum("n").over(wtrend)).withColumn(
        "tcnt", F.count("n").over(wtrend)
    )
    det = tr.select(
        "event_type",
        "h",
        "n",
        F.expr(f"(tsum * {SEASONAL_SCALE}) div tcnt").alias("trend_q"),
        F.expr(
            f"n * {SEASONAL_SCALE} - (tsum * {SEASONAL_SCALE}) div tcnt"
        ).alias("det_q"),
    )
    seas = det.groupBy(
        "event_type", F.hour("h").alias("hod")
    ).agg(
        F.sum("det_q").alias("seasonal_sum"),
        F.count(F.lit(1)).alias("seasonal_cnt"),
    )
    joined = det.join(
        F.broadcast(seas),
        (det["event_type"] == seas["event_type"])
        & (F.hour(det["h"]) == seas["hod"]),
    ).drop(seas["event_type"])
    return joined.select(
        "event_type",
        "h",
        F.col("n").cast("long").alias("n"),
        F.col("trend_q").cast("long").alias("trend_q"),
        F.col("det_q").cast("long").alias("det_q"),
        F.col("seasonal_sum").cast("long").alias("seasonal_sum"),
        F.col("seasonal_cnt").cast("long").alias("seasonal_cnt"),
        (F.col("det_q") * F.col("seasonal_cnt") - F.col("seasonal_sum"))
        .cast("long")
        .alias("resid_scaled"),
    )
