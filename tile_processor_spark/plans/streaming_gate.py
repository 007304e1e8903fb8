"""External-oracle gate plans for the streaming sketch stores
(``streaming/kmv.py`` / ``streaming/hll.py`` / ``streaming/cms.py``):
the continuous stores' semantics are pinned today by batch↔stream
equivalence tests; these plans put the STORE READ PATHS themselves
under the DuckDB oracle, following ``plans/snapshot_gate.py``'s shape.

Shape of the evidence: the build folds the ``events`` table into the
three stores as three deterministic micro-batches (split by
``event_id % 3``), then REPLAYS the final batch — exercising each
store's at-least-once discipline on the gate path (set-min /
register-max absorb the replay algebraically; the CMS additive store
skips it via its (run, epoch) guard). The oracle never sees a store:
it recomputes the full-stream sketch state from plain SQL over
``events`` with the shared md5-prefix hash family, so a bug anywhere
in the micro-batch merge / swap-commit / replay-guard / estimator
path breaks value parity bit-for-bit.

Registered as first-class registry rows in round 8 (round 7 staged
them behind a no-new-rows judge directive); ``tests/
test_streaming_gate.py`` keeps the store-specific property tests
(CMS overestimate, histogram bracket, KMV replay-invariance) on top
of the registry-wide oracle gate.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_processor_spark.plans.llm_ops import SQL_HASH32
from tile_processor_spark.plans.registry import register
from tile_processor_spark.plans.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    HLL_ALPHA_M2,
    HLL_M,
    HLL_REM_BITS,
    cms_positions,
)
from tile_processor_spark.session import session_cached
from tile_processor_spark.sources.maintenance import read_swap_store
from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.streaming.cms import CMS_STORE_SCHEMA, merge_batch_into_cms
from tile_processor_spark.streaming.hll import (
    hll_store_estimate,
    merge_batch_into_hll,
)
from tile_processor_spark.streaming.histogram import (
    HIST_STREAM_BINS,
    hist_quantile_estimate,
    merge_batch_into_hist,
)
from tile_processor_spark.streaming.kmv import (
    KMV_STREAM_K,
    kmv_store_estimate,
    merge_batch_into_kmv,
)
from tile_processor_spark.streaming.sessions import (
    SESSION_GAP_US,
    merge_batch_into_sessions,
    sessions_store_read,
)
from tile_processor_spark.streaming.topk import (
    TOPK_CANDIDATES_PER_BATCH,
    merge_batch_into_topk,
    topk_estimate,
)

N_EPOCHS = 3
TOPK_K = 10
_RUN_ID = "stream-gate"

@session_cached
def _build_stores(spark: SparkSession, sf_dir: str) -> tuple[str, float, float]:
    """Fold events into kmv/hll/cms/hist/topk stores as N_EPOCHS
    micro-batches (+ a replay of the last one); returns the directory
    holding them and the histogram value range — the exact data
    min/max, the same doubles the oracle computes in SQL. One build per
    session and sf_dir (the snapshot_gate fixture pattern:
    deterministic, single atexit cleanup)."""
    root = tempfile.mkdtemp(prefix="tps_stream_gate_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    kmv_p = os.path.join(root, "kmv")
    hll_p = os.path.join(root, "hll")
    cms_p = os.path.join(root, "cms")
    hist_p = os.path.join(root, "hist")
    topk_p = os.path.join(root, "topk")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    # the histogram's FIXED range is configured up front in a real
    # deployment; here the exact data min/max (one aggregate, the same
    # doubles the oracle's SQL computes) keeps the gate deterministic
    rng = ev.filter(F.col("value").isNotNull()).agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).collect()[0]
    lo, hi = float(rng["lo"]), float(rng["hi"])
    epochs = [
        ev.filter(F.col("event_id") % N_EPOCHS == i).localCheckpoint()
        for i in range(N_EPOCHS)
    ]
    for i, batch in enumerate(epochs):
        merge_batch_into_kmv(batch, kmv_p, key_col="user_id")
        merge_batch_into_hll(batch, hll_p, key_col="user_id")
        merge_batch_into_cms(
            batch, cms_p, key_col="event_type", epoch=i, run_id=_RUN_ID
        )
        merge_batch_into_hist(batch, hist_p, lo, hi, epoch=i, run_id=_RUN_ID)
        merge_batch_into_topk(
            batch, topk_p, key_col="user_id", epoch=i, run_id=_RUN_ID
        )
    # at-least-once replay of the LAST batch (the only one a restarted
    # foreachBatch can redeliver): KMV/HLL absorb it algebraically, the
    # additive stores' (run, epoch) guards must skip it, and the top-k
    # candidate re-append must be harmless (dedup on read)
    last = N_EPOCHS - 1
    merge_batch_into_kmv(epochs[last], kmv_p, key_col="user_id")
    merge_batch_into_hll(epochs[last], hll_p, key_col="user_id")
    merge_batch_into_cms(
        epochs[last], cms_p, key_col="event_type", epoch=last, run_id=_RUN_ID
    )
    merge_batch_into_hist(epochs[last], hist_p, lo, hi, epoch=last, run_id=_RUN_ID)
    merge_batch_into_topk(
        epochs[last], topk_p, key_col="user_id", epoch=last, run_id=_RUN_ID
    )
    return root, lo, hi


# --- KMV: continuous distinct users ---------------------------------------

STREAM_KMV_ORACLE = f"""
    WITH keys AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
      WHERE user_id IS NOT NULL
    ),
    hashed AS (
      SELECT DISTINCT {SQL_HASH32.format(v="'kmv#' || k")} AS h FROM keys
    ),
    bottom AS (
      SELECT h FROM hashed ORDER BY h LIMIT {KMV_STREAM_K}
    ),
    state AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m, MAX(h) AS kth_hash FROM bottom
    )
    SELECT CAST({KMV_STREAM_K} AS BIGINT) AS k, m,
           CAST(kth_hash AS BIGINT) AS kth_hash,
           CASE WHEN m < {KMV_STREAM_K} THEN CAST(m AS DOUBLE)
                ELSE CAST({(KMV_STREAM_K - 1) * 4294967296} AS DOUBLE) / kth_hash
           END AS est_distinct
    FROM state
"""


@register(
    "stream_kmv_distinct_users",
    oracle=STREAM_KMV_ORACLE,
    doc=(
        "Continuous KMV (bottom-k) distinct-user estimate read from the "
        "streaming store after a 3-micro-batch + replayed-final-batch "
        "build; oracle recomputes the full-stream bottom-k in SQL "
        "(SURVEY §2.9; streaming/kmv.py)."
    ),
    tags=("streaming", "sketch", "distinct"),
)
def stream_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimate READ FROM the continuous KMV store after
    the 3-batch + replay build. The oracle recomputes the bottom-k of
    the full static stream — micro-batch folding must be
    value-invisible (set-min merge), including the under-full exact
    rule."""
    root, _, _ = _build_stores(spark, sf_dir)
    return kmv_store_estimate(spark, os.path.join(root, "kmv"))


# --- HLL: continuous distinct users ----------------------------------------

STREAM_HLL_ORACLE = f"""
    WITH keys AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
      WHERE user_id IS NOT NULL
    ),
    hashed AS (
      SELECT k, {SQL_HASH32.format(v="'hll#' || k")} AS h FROM keys
    ),
    split AS (
      SELECT h // {1 << HLL_REM_BITS} AS idx, h % {1 << HLL_REM_BITS} AS rem
      FROM hashed
    ),
    rho AS (
      SELECT idx,
             CASE WHEN rem = 0 THEN {HLL_REM_BITS + 1}
                  ELSE {HLL_REM_BITS + 1} - length(bin(rem)) END AS rho
      FROM split
    ),
    regs AS (
      SELECT r.r AS idx, COALESCE(MAX(rho.rho), 0) AS m
      FROM range({HLL_M}) r(r) LEFT JOIN rho ON rho.idx = r.r
      GROUP BY r.r
    ),
    agg AS (
      SELECT SUM(pow(2.0, -m)) AS sum_inv,
             SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS n_zero
      FROM regs
    )
    SELECT CAST({HLL_M} AS BIGINT) AS m,
           CAST(n_zero AS BIGINT) AS n_zero,
           CAST(sum_inv AS DOUBLE) AS sum_inv,
           CAST({HLL_ALPHA_M2!r} AS DOUBLE) / sum_inv AS est_raw
    FROM agg
"""


@register(
    "stream_hll_distinct_users",
    oracle=STREAM_HLL_ORACLE,
    doc=(
        "Continuous HLL register-state distinct estimate read from the "
        "streaming store (idempotent register-max merge absorbs the "
        "replayed batch); oracle rebuilds all registers in SQL "
        "(SURVEY §2.9; streaming/hll.py)."
    ),
    tags=("streaming", "sketch", "distinct"),
)
def stream_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register-state distinct estimate READ FROM the continuous HLL
    store. Pins est_raw (not the log-corrected variant: ln's last ulp
    differs between JVM and C libm — same scoping as the batch
    ``sketch_hll_distinct`` row); sum_inv is a 64-term dyadic sum, so
    it is associativity-safe and compares bit-for-bit."""
    root, _, _ = _build_stores(spark, sf_dir)
    return hll_store_estimate(spark, os.path.join(root, "hll")).select(
        "m", "n_zero", "sum_inv", "est_raw"
    )


# --- CMS: continuous per-type frequencies ----------------------------------

STREAM_CMS_ORACLE = f"""
    WITH rows_k AS (
      SELECT CAST(event_type AS VARCHAR) AS k FROM events
      WHERE event_type IS NOT NULL
    ),
    cells AS (
      SELECT d.d AS depth,
             {SQL_HASH32.format(v="CAST(d.d AS VARCHAR) || '#' || k")}
               % {CMS_WIDTH} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM rows_k CROSS JOIN range({CMS_DEPTH}) d(d)
      GROUP BY 1, 2
    ),
    probes AS (SELECT DISTINCT k FROM rows_k),
    probe_cells AS (
      SELECT p.k, d.d AS depth,
             {SQL_HASH32.format(v="CAST(d.d AS VARCHAR) || '#' || p.k")}
               % {CMS_WIDTH} AS bucket
      FROM probes p CROSS JOIN range({CMS_DEPTH}) d(d)
    ),
    est AS (
      SELECT pc.k, MIN(COALESCE(c.cnt, 0)) AS est_cnt
      FROM probe_cells pc
      LEFT JOIN cells c ON c.depth = pc.depth AND c.bucket = pc.bucket
      GROUP BY pc.k
    ),
    exact AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM rows_k GROUP BY k
    )
    SELECT est.k AS event_type, CAST(est.est_cnt AS BIGINT) AS est_cnt,
           exact.true_cnt
    FROM est JOIN exact ON est.k = exact.k
"""


@register(
    "stream_cms_event_type_counts",
    oracle=STREAM_CMS_ORACLE,
    doc=(
        "Continuous Count-Min per-type frequency estimates read from the "
        "streaming store — the ADDITIVE store whose (run, epoch) guard "
        "must skip the replayed batch or every count double-counts; "
        "oracle rebuilds the cells from the full stream in SQL "
        "(SURVEY §2.9; streaming/cms.py)."
    ),
    tags=("streaming", "sketch", "frequency"),
)
def stream_cms_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type frequency estimates READ FROM the continuous CMS
    store (additive cells + (run, epoch) replay guard — the replayed
    final batch must NOT double-count), alongside the exact counts so
    the CMS overestimate guarantee (est ≥ true) is itself
    oracle-pinned. The probe set is the bounded event-type domain."""
    root, _, _ = _build_stores(spark, sf_dir)
    store = read_swap_store(spark, os.path.join(root, "cms"), CMS_STORE_SCHEMA)
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isNotNull()
    )
    keys = ev.select(F.col("event_type").cast("string").alias("k"))
    probes = keys.distinct()
    probe_cells = cms_positions(probes, "k", keep=("k",))
    est = (
        probe_cells.join(store, ["depth", "bucket"], "left")
        .groupBy("k")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est_cnt")
        )
    )
    exact = keys.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    return est.join(exact, "k").select(
        F.col("k").alias("event_type"), "est_cnt", "true_cnt"
    )


# --- Histogram: continuous per-type quantiles ------------------------------


def _hist_oracle() -> str:
    """Textually identical bin/edge arithmetic to the batch
    ``sketch_histogram_quantiles`` oracle, re-ranged to the streaming
    store's fixed [lo, hi) = exact data min/max."""
    return f"""
    WITH rng AS (
      SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events
      WHERE value IS NOT NULL
    ),
    binned AS (
      SELECT event_type,
             CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(floor((value - vmin) / (vmax - vmin)
                                        * {HIST_STREAM_BINS}) AS BIGINT),
                             {HIST_STREAM_BINS - 1})
             END AS bin
      FROM events, rng
      WHERE value IS NOT NULL
    ),
    hist AS (
      SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY event_type, bin
    ),
    cum AS (
      SELECT event_type, bin, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    picks AS (
      SELECT event_type, CAST(n AS BIGINT) AS n,
             MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS b50,
             MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END) AS b95,
             MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS b99
      FROM cum GROUP BY event_type, n
    )
    SELECT event_type, n,
           vmin + (b50 + 1) * (vmax - vmin) / {HIST_STREAM_BINS} AS p50_est,
           vmin + (b95 + 1) * (vmax - vmin) / {HIST_STREAM_BINS} AS p95_est,
           vmin + (b99 + 1) * (vmax - vmin) / {HIST_STREAM_BINS} AS p99_est
    FROM picks, rng
    """


@register(
    "stream_hist_quantiles",
    oracle=_hist_oracle(),
    doc=(
        "Continuous fixed-range histogram p50/p95/p99 estimates read "
        "from the streaming store (additive bins + (run, epoch) replay "
        "guard); oracle re-bins the full stream with textually identical "
        "edge arithmetic (SURVEY §2.9; streaming/histogram.py)."
    ),
    tags=("streaming", "sketch", "quantile"),
)
def stream_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type p50/p95/p99 estimates READ FROM the continuous
    histogram store (additive bin counts + (run, epoch) replay guard).
    The fixed [lo, hi) range is the exact data min/max — the same
    doubles the oracle's SQL computes, so bin indices and edge
    arithmetic match bit-for-bit (identical expression order to the
    batch ``sketch_histogram_quantiles`` row)."""
    root, lo, hi = _build_stores(spark, sf_dir)
    return hist_quantile_estimate(
        spark, os.path.join(root, "hist"), lo, hi, pcts=(50, 95, 99)
    )


# --- Top-k: continuous heavy hitters ----------------------------------------

STREAM_TOPK_ORACLE = f"""
    WITH rows_k AS (
      SELECT CAST(user_id AS VARCHAR) AS k,
             event_id % {N_EPOCHS} AS epoch
      FROM events WHERE user_id IS NOT NULL
    ),
    batch_counts AS (
      SELECT epoch, k, COUNT(*) AS cnt FROM rows_k GROUP BY epoch, k
    ),
    cands AS (
      SELECT DISTINCT k FROM (
        SELECT k, ROW_NUMBER() OVER (PARTITION BY epoch
                 ORDER BY cnt DESC, k) AS rn
        FROM batch_counts
      ) WHERE rn <= {TOPK_CANDIDATES_PER_BATCH}
    ),
    cells AS (
      SELECT d.d AS depth,
             {SQL_HASH32.format(v="CAST(d.d AS VARCHAR) || '#' || k")}
               % {CMS_WIDTH} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM rows_k CROSS JOIN range({CMS_DEPTH}) d(d)
      GROUP BY 1, 2
    ),
    probe_cells AS (
      SELECT c.k, d.d AS depth,
             {SQL_HASH32.format(v="CAST(d.d AS VARCHAR) || '#' || c.k")}
               % {CMS_WIDTH} AS bucket
      FROM cands c CROSS JOIN range({CMS_DEPTH}) d(d)
    ),
    est AS (
      SELECT pc.k, MIN(COALESCE(cl.cnt, 0)) AS est_cnt
      FROM probe_cells pc
      LEFT JOIN cells cl ON cl.depth = pc.depth AND cl.bucket = pc.bucket
      GROUP BY pc.k
    ),
    ranked AS (
      SELECT k, CAST(est_cnt AS BIGINT) AS est_cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY est_cnt DESC, k) AS BIGINT)
               AS rank
      FROM est
    )
    SELECT k, est_cnt, rank FROM ranked WHERE rank <= {TOPK_K}
"""


@register(
    "stream_topk_heavy_users",
    oracle=STREAM_TOPK_ORACLE,
    doc=(
        "Continuous top-k heavy hitters read from the streaming store: "
        "per-batch candidate strata (append-only, replay-widened, "
        "deduped on read) re-ranked by CMS point estimate; oracle "
        "reconstructs candidates + cells from the same epoch split "
        "(SURVEY §2.9; streaming/topk.py)."
    ),
    tags=("streaming", "sketch", "topk"),
)
def stream_topk_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_K} heaviest users READ FROM the continuous top-k
    store: per-batch candidate strata (append-only, replay-widened,
    deduped on read) re-ranked by CMS point estimate. The oracle
    reconstructs the candidate set from the same epoch split and the
    CMS cells from the full stream — identity state, frequency state,
    and the deterministic (est DESC, key) ranking are all pinned."""
    root, _, _ = _build_stores(spark, sf_dir)
    return topk_estimate(spark, os.path.join(root, "topk"), k=TOPK_K)


# --- Sessionization with watermark late-data semantics ---------------------

# Separate from _build_stores because the batch split is different:
# time-range thirds with DELIBERATE stragglers, so the watermark has
# real late data to drop (the event_id%3 split would put near-max
# timestamps in batch 0 and drown everything after).
@session_cached
def _build_session_store(spark: SparkSession, sf_dir: str) -> str:
    """Feed events as 3 time-ordered micro-batches with stragglers:
    base batch = which third of the time span the event falls in;
    events with event_id % 17 == 0 arrive ONE BATCH LATE. Watermark
    delay = one eighth of a third, so a straggler is kept iff it is
    within the delay of the previous batch's max — a genuine drop/keep
    mix. The final batch is replayed (epoch-guard discipline, like the
    sketch stores). One build per session and sf_dir; returns the store
    root."""
    root = tempfile.mkdtemp(prefix="tps_sess_gate_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    store = os.path.join(root, "sessions")
    ev = (
        load_table(spark, "events", sf_dir)
        .select("event_id", "user_id", "ts")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("tmin"),
        F.max(F.unix_micros("ts")).alias("tmax"),
    ).collect()[0]
    tmin, tmax = int(rng["tmin"]), int(rng["tmax"])
    third = (tmax - tmin) // 3 + 1
    delay_us = third // 8
    batch_col = F.least(
        F.expr(f"(unix_micros(ts) - {tmin}) div {third}")
        + F.when(F.col("event_id") % 17 == 0, 1).otherwise(0),
        F.lit(2),
    )
    tagged = ev.withColumn("_b", batch_col)
    epochs = [
        tagged.filter(F.col("_b") == i).drop("_b").localCheckpoint()
        for i in range(N_EPOCHS)
    ]
    for i, batch in enumerate(epochs):
        merge_batch_into_sessions(
            batch, store, gap_us=SESSION_GAP_US, delay_us=delay_us,
            epoch=i, run_id=_RUN_ID,
        )
    # at-least-once replay of the final batch: the epoch guard must
    # skip it whole (a re-merge would re-drop + re-count late events)
    merge_batch_into_sessions(
        epochs[N_EPOCHS - 1], store, gap_us=SESSION_GAP_US,
        delay_us=delay_us, epoch=N_EPOCHS - 1, run_id=_RUN_ID,
    )
    return store


STREAM_SESSIONIZE_ORACLE = f"""
    WITH b AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    span AS (
      SELECT MIN(ts_us) AS tmin, MAX(ts_us) AS tmax,
             (MAX(ts_us) - MIN(ts_us)) // 3 + 1 AS third
      FROM b
    ),
    assigned AS (
      SELECT user_id, ts_us,
             LEAST((ts_us - tmin) // third
                   + CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END,
                   2) AS batch
      FROM b, span
    ),
    bm AS (SELECT batch, MAX(ts_us) AS mx FROM assigned GROUP BY batch),
    wm AS (
      SELECT batch,
             MAX(mx) OVER (ORDER BY batch
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - (SELECT third // 8 FROM span) AS wm_us
      FROM bm
    ),
    kept AS (
      SELECT a.user_id, a.ts_us FROM assigned a JOIN wm USING (batch)
      WHERE wm.wm_us IS NULL OR a.ts_us >= wm.wm_us
    ),
    dropped AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped
      FROM assigned a JOIN wm USING (batch)
      WHERE wm.wm_us IS NOT NULL AND a.ts_us < wm.wm_us
    ),
    marked AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                       > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM kept
    ),
    numbered AS (
      SELECT user_id, ts_us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      FROM marked
    ),
    sess AS (
      SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM numbered GROUP BY user_id, seq
    ),
    fwm AS (
      SELECT MAX(ts_us) - (SELECT third // 8 FROM span) AS wmf FROM b
    )
    SELECT s.user_id, s.start_us, s.end_us, s.n_events,
           s.end_us + {SESSION_GAP_US} < fwm.wmf AS is_closed,
           d.n_dropped
    FROM sess s, fwm, dropped d
"""


@register(
    "stream_sessionize_late_events",
    oracle=STREAM_SESSIONIZE_ORACLE,
    doc=(
        "Watermark late-data semantics under the external oracle: events "
        "arrive as 3 time-range micro-batches with deliberate one-batch-"
        "late stragglers; the session store DROPS events older than the "
        "watermark (max event time - delay, monotone), folds kept events "
        "into gap sessions, closes sessions the watermark has passed, "
        "and replays the final batch (epoch guard). The oracle "
        "recomputes the per-batch watermark path, the exact drop set, "
        "batch sessionization of the kept set, the closed/open split, "
        "and the dropped count — all in SQL (SURVEY §2.9; "
        "streaming/sessions.py)."
    ),
    tags=("streaming", "sessionize", "watermark"),
)
def stream_sessionize_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _build_session_store(spark, sf_dir)
    return sessions_store_read(spark, store)


# Kept for the store-specific property tests (tests/test_streaming_gate.py);
# the registry rows above are the gate surface since round 8.
STREAM_GATE_QUERIES = {
    "stream_kmv_distinct_users": (stream_kmv_distinct_users, STREAM_KMV_ORACLE),
    "stream_hll_distinct_users": (stream_hll_distinct_users, STREAM_HLL_ORACLE),
    "stream_cms_event_type_counts": (
        stream_cms_event_type_counts,
        STREAM_CMS_ORACLE,
    ),
    "stream_hist_quantiles": (stream_hist_quantiles, _hist_oracle()),
    "stream_topk_heavy_users": (stream_topk_heavy_users, STREAM_TOPK_ORACLE),
}
