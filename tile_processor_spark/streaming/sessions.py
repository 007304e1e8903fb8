"""Continuous sessionization with WATERMARK late-data semantics — the
store-backed twin of ``streaming/stateful.py::stream_sessionize``, built
so the drop/keep discipline itself can sit under the external DuckDB
oracle (``plans/streaming_gate.py::stream_sessionize_late_events``).

Semantics (the same contract Structured Streaming's event-time
watermark gives a stateful operator):

- The store carries a monotone watermark ``wm = max(event time seen)
  - delay``. An arriving event with ``ts < wm`` (the watermark as of
  the START of its batch) is LATE: dropped and counted, never merged.
- Kept events fold into per-user OPEN sessions by the batch gap rule
  (same ``SESSION_GAP_US`` convention as ``sessionize_gap_ids``): an
  open session is a gap-maximal interval; merging open intervals with
  new points reproduces batch sessionization of the kept set exactly,
  BECAUSE closed sessions can never merge again — a session closes
  only when ``end + gap < wm``, and every kept event has ``ts >= wm``,
  so ``ts - end > gap`` for any closed session. That inequality is the
  whole correctness argument, and it is what the oracle pins.
- Closed sessions move to an APPEND-ONLY finalized log (deduped on
  read); open sessions + (wm, dropped count, applied epoch) live in a
  swap-committed store like ``streaming/cms.py``. The append happens
  BEFORE the swap commit: a crash between the two leaves a torn window
  that the at-least-once re-run of the uncommitted batch heals (the
  epoch marker only commits with the swap, so the batch replays whole;
  duplicate finalized appends collapse under the read-side dedup).

State scale: the swap store holds one row per ACTIVE (user, open
session) plus one meta row — bounded by concurrent users, not stream
length; the finalized log is a write-once session fact table a real
deployment would point at its sink. 100 TB shape: every step is a
partitioned window or hash aggregation on ``user_id``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tile_processor_spark.session import local_frame
from tile_processor_spark.sources.maintenance import atomic_swap_write, read_swap_store
from tile_processor_spark.streaming.store import is_replay, stamp_epoch

#: same gap rule as plans.relational_ext3.sessionize_gap_ids
SESSION_GAP_US = 30 * 60 * 1_000_000

#: the swap store: open-session rows (user_id NOT NULL) plus exactly one
#: meta sentinel row (user_id NULL) once any batch merged
SESS_OPEN_SCHEMA = (
    "user_id long, start_us long, end_us long, n_events long, "
    "wm_us long, n_dropped long, applied_epoch long, applied_run string"
)
SESS_FINAL_SCHEMA = "user_id long, start_us long, end_us long, n_events long"

_SESSION_COLS = ("user_id", "start_us", "end_us", "n_events")


def _open_path(store_path: str) -> str:
    return os.path.join(store_path, "open")


def _final_path(store_path: str) -> str:
    return os.path.join(store_path, "final")


def merge_batch_into_sessions(
    batch: DataFrame,
    store_path: str,
    gap_us: int = SESSION_GAP_US,
    delay_us: int = 0,
    epoch: int | None = None,
    run_id: str | None = None,
) -> None:
    """Fold one micro-batch (``user_id``, ``ts`` timestamp) into the
    session store under the watermark discipline described in the
    module docstring. ``delay_us`` is the allowed lateness."""
    spark = batch.sparkSession
    cur = read_swap_store(spark, _open_path(store_path), SESS_OPEN_SCHEMA)
    meta = cur.filter(F.col("user_id").isNull()).limit(1).collect()
    wm = meta[0]["wm_us"] if meta else None
    dropped = int(meta[0]["n_dropped"]) if meta else 0
    if is_replay(meta[0] if meta else None, epoch, run_id):
        return  # replayed batch: the swap commit already recorded it
    rows = (
        batch.select("user_id", F.unix_micros("ts").alias("ts_us"))
        .filter(F.col("user_id").isNotNull() & F.col("ts_us").isNotNull())
        .localCheckpoint()
    )
    stats = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("ts_us").alias("mx"),
        F.sum(
            F.when(F.col("ts_us") < F.lit(wm if wm is not None else -(1 << 62)), 1)
            .otherwise(0)
        ).alias("late"),
    ).collect()[0]
    if stats["n"] == 0:
        return
    late = int(stats["late"]) if wm is not None else 0
    kept = rows if wm is None else rows.filter(F.col("ts_us") >= F.lit(wm))
    opens = cur.filter(F.col("user_id").isNotNull()).select(*_SESSION_COLS)
    pts = kept.select(
        "user_id",
        F.col("ts_us").alias("start_us"),
        F.col("ts_us").alias("end_us"),
        F.lit(1).cast("long").alias("n_events"),
    )
    w = Window.partitionBy("user_id").orderBy("start_us", "end_us")
    prev_end = F.max("end_us").over(w.rowsBetween(Window.unboundedPreceding, -1))
    is_new = (
        F.when(F.col("start_us") - prev_end > F.lit(gap_us), 1).otherwise(0)
    )
    merged = (
        opens.unionByName(pts)
        .withColumn("grp", F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "grp")
        .agg(
            F.min("start_us").alias("start_us"),
            F.max("end_us").alias("end_us"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .select(*_SESSION_COLS)
        .localCheckpoint()
    )
    new_wm = int(stats["mx"]) - int(delay_us)
    if wm is not None:
        new_wm = max(int(wm), new_wm)  # watermarks never regress
    to_close = merged.filter(F.col("end_us") + F.lit(gap_us) < F.lit(new_wm))
    still_open = merged.filter(~(F.col("end_us") + F.lit(gap_us) < F.lit(new_wm)))
    # append finalized sessions FIRST (see module docstring: the epoch
    # marker commits with the swap, so a crash in between replays whole
    # and the read-side dedup absorbs the duplicate append)
    if not to_close.isEmpty():
        to_close.coalesce(1).write.mode("append").parquet(_final_path(store_path))
    meta_row = stamp_epoch(
        local_frame(spark, [(new_wm, dropped + late)], "wm_us long, n_dropped long"),
        epoch,
        run_id,
    )
    out = still_open.unionByName(meta_row, allowMissingColumns=True)
    atomic_swap_write(out, _open_path(store_path))


def sessions_store_read(spark: SparkSession, store_path: str) -> DataFrame:
    """Full session log from the store: finalized (closed) sessions
    deduped from the append log, open sessions from the swap store,
    each row also carrying the store's total late-dropped count — the
    externally checkable face of the watermark discipline."""
    cur = read_swap_store(spark, _open_path(store_path), SESS_OPEN_SCHEMA)
    fp = _final_path(store_path)
    if os.path.isdir(fp):
        closed = spark.read.schema(SESS_FINAL_SCHEMA).parquet(fp).distinct()
    else:
        closed = local_frame(spark, [], SESS_FINAL_SCHEMA)
    open_s = cur.filter(F.col("user_id").isNotNull()).select(*_SESSION_COLS)
    both = closed.withColumn("is_closed", F.lit(True)).unionByName(
        open_s.withColumn("is_closed", F.lit(False))
    )
    meta = cur.filter(F.col("user_id").isNull()).select("n_dropped")
    return both.crossJoin(F.broadcast(meta))
