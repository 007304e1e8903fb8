"""Continuous distinct-count: streaming HyperLogLog register
maintenance over an event stream — the sketch twin of
``streaming/rollup.py``'s continuous aggregate.

Why HLL is the *easy* streaming sketch: the register merge is
``groupBy(idx).max(m)`` — MAX is idempotent AND commutative, so
at-least-once ``foreachBatch`` replays are harmless by construction.
No epoch markers, no applied-run bookkeeping (contrast the additive
rollup merge, which needs both): replaying a batch re-maxes the same
registers to the same values.

Store: ONE parquet directory holding at most 64 rows (idx, m) — the
entire 100 TB distinct-count state is ~1 KB. Each merge rewrites it via
the same crash-safe double-rename swap ``sources/maintenance`` uses
(hidden staging dirs + self-heal), so a reader never observes a
half-written generation and a crash at any point leaves either the old
or the new store intact.

Equivalence contract (pinned by tests/test_streaming_hll.py): after
draining any partition of the input into any number of micro-batches in
any order, the store equals ``hll_registers`` of the full static frame
bit-for-bit — and therefore so does the estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_processor_spark.plans.sketches import (
    HLL_ALPHA_M2,
    HLL_M,
    hll_dense_registers,
    hll_registers,
)
from tile_processor_spark.sources.maintenance import atomic_swap_write, read_swap_store

HLL_STORE_SCHEMA = "idx long, m long"


def merge_batch_into_hll(
    batch: DataFrame, store_path: str, key_col: str = "user_id"
) -> None:
    """Fold one (micro-)batch's keys into the register store.

    union(current, batch registers) -> groupBy(idx).max(m) -> swap in a
    new store generation. Idempotent: replaying any batch (foreachBatch
    at-least-once) cannot change the result of the max. The state is
    <= 64 rows regardless of stream volume, so the rewrite is O(1)."""
    keys = batch.select(F.col(key_col).cast("string").alias("k")).filter(
        F.col("k").isNotNull()
    )
    delta = hll_registers(keys, "k")
    if delta.isEmpty():
        return
    merged = (
        read_swap_store(batch.sparkSession, store_path, HLL_STORE_SCHEMA)
        .unionByName(delta)
        .groupBy("idx")
        .agg(F.max("m").cast("long").alias("m"))
    )
    atomic_swap_write(merged, store_path)


def hll_store_estimate(spark: SparkSession, store_path: str) -> DataFrame:
    """One-row estimate frame from the current store — same formula
    (and bit-identical sum_inv) as ``sketch_hll_distinct``."""
    regs = hll_dense_registers(spark, read_swap_store(spark, store_path, HLL_STORE_SCHEMA))
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("sum_inv"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).cast("long").alias("n_zero"),
    )
    est_raw = F.lit(HLL_ALPHA_M2) / F.col("sum_inv")
    # Small-range (linear counting) correction: with V empty registers,
    # est = m * ln(m / V) — the standard fix for raw-HLL's upward bias
    # when est < 2.5m. (The batch gate query pins est_raw only, because
    # ln's last-ulp can differ between JVM and C libm; here both sides
    # of the test run in Spark.)
    est_linear = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("n_zero"))
    corrected = F.when(
        (F.col("n_zero") > 0) & (est_raw <= F.lit(2.5 * HLL_M)), est_linear
    ).otherwise(est_raw)
    return agg.select(
        F.lit(HLL_M).cast("long").alias("m"),
        "n_zero",
        F.col("sum_inv").cast("double").alias("sum_inv"),
        est_raw.alias("est_raw"),
        corrected.alias("est_corrected"),
    )
