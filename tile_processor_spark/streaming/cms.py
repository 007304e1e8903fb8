"""Continuous Count-Min sketch — the ADDITIVE streaming sketch,
complementing ``streaming/hll.py``'s idempotent one.

CMS merge is cell-wise ADDITION, so at-least-once ``foreachBatch``
replays would double-count (exactly the rollup's problem, not HLL's).
The whole store is ≤ depth×width rows, replaced by ONE crash-safe
double-rename swap per merge, so a replayed epoch is recognized by the
store's batch-level ``(run, epoch)`` mark and skipped whole
(``store.merge_counts``, shared with ``streaming/histogram.py``).

Registers are the SAME deterministic md5 cells as the batch
``sketch_count_min`` (depth 4 × width 1024), so the streaming store is
pinned bit-for-bit against the batch sketch over the same delivered
rows (tests/test_streaming_cms.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_processor_spark.plans.sketches import cms_positions
from tile_processor_spark.session import local_frame
from tile_processor_spark.sources.maintenance import read_swap_store
from tile_processor_spark.streaming.store import merge_counts

CMS_STORE_SCHEMA = (
    "depth long, bucket long, cnt long, applied_epoch long, applied_run string"
)


def cms_cells(keys: DataFrame, key_col: str) -> DataFrame:
    """(depth, bucket, cnt): Count-Min cell increments for a key column
    — same cells as ``sketch_count_min`` via the shared
    ``cms_positions`` expression (one source of truth; the parity test
    depends on it)."""
    return (
        cms_positions(keys.select(F.col(key_col).alias("k")), "k")
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def merge_batch_into_cms(
    batch: DataFrame,
    store_path: str,
    key_col: str = "user_id",
    epoch: int | None = None,
    run_id: str | None = None,
) -> None:
    """Add one (micro-)batch's cells into the store, skipping a replayed
    ``(run, epoch)`` (``store.merge_counts``)."""
    keys = batch.select(F.col(key_col).cast("string").alias("k")).filter(
        F.col("k").isNotNull()
    )
    cells = cms_cells(keys, "k")
    merge_counts(cells, store_path, CMS_STORE_SCHEMA, ("depth", "bucket"), epoch, run_id)


def cms_point_estimate(
    spark: SparkSession, store_path: str, keys: list[str]
) -> DataFrame:
    """(key, est_cnt): min-over-depths point estimates for given keys."""
    store = read_swap_store(spark, store_path, CMS_STORE_SCHEMA)
    probe = local_frame(spark, [(k,) for k in keys], "k string")
    cells = cms_positions(probe, "k", keep=("k",))
    return (
        cells.join(store, ["depth", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_cnt"))
    )
