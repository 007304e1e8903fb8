"""Continuous histogram-quantile store — the streaming twin of
``sketch_histogram_quantiles``.

Like the CMS store (additive cells, epoch-guarded atomic swap), with
one semantic difference forced by streaming: the batch sketch derives
its bin range from the GLOBAL min/max, which an unbounded stream never
knows. The streaming store therefore bins against a FIXED, declared
``[lo, hi)`` range (the standard streaming-histogram design);
out-of-range values clamp into the edge bins, and the clamp count is
an explicit cell (bin 0 / bin NB-1 absorb them) so range misjudgment
is observable, not silent.

Merge is cell-wise addition over ≤ |types|×NB rows through the same
epoch-guarded swap merge as the CMS (``store.merge_counts``).

Parity: ``hist_cells`` is the single source of truth for the bin
expression; the test pins the replayed store bit-for-bit against the
same expression evaluated in batch over the same rows, and the
quantile estimator reuses the batch sketch's exact integer ceil rule
((n·q + 99) div 100).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tile_processor_spark.sources.maintenance import read_swap_store
from tile_processor_spark.streaming.store import merge_counts

HIST_STREAM_BINS = 512

HIST_STORE_SCHEMA = (
    "event_type string, bin long, cnt long, applied_epoch long, applied_run string"
)


def hist_cells(batch: DataFrame, lo: float, hi: float) -> DataFrame:
    """(event_type, bin, cnt) for one batch against the FIXED [lo, hi)
    range — out-of-range values clamp into the edge bins. A degenerate
    range (lo == hi) maps everything to bin 0 rather than dividing by
    zero, mirroring the batch sketch's guard."""
    if hi == lo:
        raw_bin = F.lit(0).cast("long")
    else:
        raw_bin = F.floor(
            (F.col("value") - F.lit(lo)) / (F.lit(hi) - F.lit(lo)) * HIST_STREAM_BINS
        ).cast("long")
    clamped = F.greatest(
        F.least(raw_bin, F.lit(HIST_STREAM_BINS - 1).cast("long")),
        F.lit(0).cast("long"),
    )
    return (
        batch.filter(F.col("value").isNotNull())
        .select("event_type", clamped.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def merge_batch_into_hist(
    batch: DataFrame,
    store_path: str,
    lo: float,
    hi: float,
    epoch: int | None = None,
    run_id: str | None = None,
) -> None:
    """Add one micro-batch's cells, skipping a replayed ``(run, epoch)``
    (``store.merge_counts``)."""
    merge_counts(
        hist_cells(batch, lo, hi), store_path, HIST_STORE_SCHEMA, ("event_type", "bin"),
        epoch, run_id,
    )


def hist_quantile_estimate(
    spark: SparkSession,
    store_path: str,
    lo: float,
    hi: float,
    pcts: tuple[int, ...] = (50, 95, 99),
) -> DataFrame:
    """Per-type quantile estimates from the store: upper edge of the
    first bin whose cumulative count reaches ceil(q·n), the ceil as
    exact integer (n·q + 99) div 100 — identical rule to the batch
    sketch."""
    # collapse to one row per (type, bin) before the CDF window: a
    # no-op on the store's unique bins, but it keeps the window input
    # structurally grouped (≤ HIST_STREAM_BINS rows per type even if a
    # future store version carries per-commit rows) — the bounded-
    # grain shape the plan-invariant funnel check verifies.
    store = (
        read_swap_store(spark, store_path, HIST_STORE_SCHEMA)
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cum = store.select(
        "event_type",
        "bin",
        F.sum("cnt").over(W.partitionBy("event_type").orderBy("bin")).alias("cum"),
        F.sum("cnt").over(W.partitionBy("event_type")).alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"(n * {p} + 99) div 100"), F.col("bin")
            )
        ).alias(f"b{p}")
        for p in pcts
    ]
    agg = cum.groupBy("event_type", "n").agg(*picks)
    edges = [
        (
            F.lit(lo)
            + ((F.col(f"b{p}") + 1) * (F.lit(hi) - F.lit(lo))) / HIST_STREAM_BINS
        ).alias(f"p{p}_est")
        for p in pcts
    ]
    return agg.select("event_type", "n", *edges)
