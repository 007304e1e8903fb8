"""Incrementally-maintained continuous aggregate — the streaming
materialization of ``plans/events_windows.events_hypertable_rollup``'s
semantics (TimescaleDB continuous aggregates / the lakehouse
merge-into-rollup pattern), with plain parquet as the store.

Shape: ``foreachBatch`` over the event stream; each micro-batch is
aggregated to hour grain, unioned with the CURRENT stored rows for the
hours it touches, re-aggregated, and written back with **dynamic
partition overwrite** — only the touched hour partitions are replaced,
so the merge is O(touched hours), never a full rewrite. Late data
within the watermark simply lands in an old hour's partition and is
merged the same way.

Replay safety (``streaming/store.py`` has the shared rules): each
rewritten hour partition records the (run, epoch) that produced it
(``applied_run``/``applied_epoch``), and a replayed epoch skips every
hour partition already carrying its pair, so measures are never
double-counted. The marker travels INSIDE the partition data (not a
sidecar file), so even a partial dynamic-overwrite failure leaves each
partition either fully old (will re-merge) or fully new (will skip) —
per-partition exactly-once. Direct batch calls (``epoch=None``) are
additive by contract and perform no skip.

Exactness: the stored measures are an exact decimal sum and a count —
both mergeable (sum of sums, sum of counts) — so incremental
maintenance produces bit-identical results to a from-scratch batch
rollup over the same events (``tests/test_streaming_rollup.py`` pins
this equivalence, including under epoch replay).

Scale: state lives in the store, not the streaming state manager. The
merge never collects anything to the driver: the store read is pruned
to the touched hours by a broadcast semi-join on the partition column
(dynamic partition pruning), and the write relies on
``partitionOverwriteMode=dynamic`` to touch only the partitions present
in the output — a month-long backfill replayed in one batch costs the
same plan, just more partitions. 100 TB of history costs nothing per
batch — the working set is the batch's hour span.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_processor_spark.session import local_frame
from tile_processor_spark.streaming.store import stamp_epoch

US = 1_000_000

ROLLUP_SCHEMA = (
    "h_start_us long, event_type string, n_events long, "
    "value_sum decimal(18,4), applied_epoch long, applied_run string"
)

_MEASURES = ("h_start_us", "event_type", "n_events", "value_sum")


def _hour_rollup(events: DataFrame) -> DataFrame:
    return events.groupBy(
        ((F.unix_micros("ts") / F.lit(3600 * US)).cast("long") * (3600 * US)).alias(
            "h_start_us"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
    )


def read_rollup(spark: SparkSession, store_path: str) -> DataFrame:
    """Read the rollup store. Stores written before the epoch marker
    existed read ``applied_epoch`` as NULL (never skipped on replay)."""
    if not os.path.isdir(store_path) or not any(
        n.startswith("h_start_us=") for n in os.listdir(store_path)
    ):
        return local_frame(spark, [], ROLLUP_SCHEMA)
    return spark.read.schema(ROLLUP_SCHEMA).parquet(store_path).select(
        "h_start_us", "event_type", "n_events", "value_sum",
        "applied_epoch", "applied_run",
    )


def merge_batch_into_rollup(
    batch: DataFrame,
    store_path: str,
    epoch: int | None = None,
    run_id: str | None = None,
) -> None:
    """Merge one (micro-)batch of raw events into the hour-grain store.

    union(current rows for touched hours, batch rollup) → re-aggregate →
    dynamic-overwrite only those hour partitions. Nothing is collected
    to the driver: the store read is pruned via a broadcast left-semi
    join of the delta's hours against the partition column, and the
    dynamic-overwrite write only replaces partitions present in the
    merged output.

    With ``epoch`` set (the ``foreachBatch`` path), hours whose stored
    partition already carries this (run_id, epoch) pair are skipped on
    both sides of the union — replaying a batch after a
    crash-before-checkpoint is a no-op for every partition the first
    attempt committed. The run_id (from the checkpoint's uuid marker)
    scopes the skip to ONE logical stream: a recreated checkpoint gets
    a fresh run_id, so its restarted epoch counter can never false-match
    markers left by the previous incarnation. Direct calls
    (``epoch=None``) are additive by contract; do NOT run one against
    hours an active stream may need to replay (an out-of-band rewrite
    inside another writer's crash window is indistinguishable from the
    committed state, for this store as for any lakehouse table).
    """
    spark = batch.sparkSession
    # localCheckpoint: the delta feeds the semi-join prune and the merge
    # union — without materializing, every micro-batch would re-scan and
    # re-aggregate its source more than once. The delta is at most
    # O(touched hours × event types) rows.
    delta = _hour_rollup(batch).localCheckpoint()
    if delta.isEmpty():
        return
    touched = delta.select("h_start_us").distinct()
    current = read_rollup(spark, store_path).join(
        F.broadcast(touched), "h_start_us", "left_semi"
    )
    if epoch is not None:
        # Hour partitions already rewritten by this very (run, epoch):
        # a replay must neither re-add the delta nor rewrite them.
        # Materialize the (tiny) hour list eagerly so the two anti-joins
        # don't each re-scan the store mid-overwrite.
        same_run = (
            F.col("applied_run") == F.lit(run_id)
            if run_id is not None
            else F.col("applied_run").isNull()
        )
        applied = (
            current.filter((F.col("applied_epoch") == F.lit(int(epoch))) & same_run)
            .select("h_start_us")
            .distinct()
            .localCheckpoint()
        )
        delta = delta.join(F.broadcast(applied), "h_start_us", "left_anti")
        current = current.join(F.broadcast(applied), "h_start_us", "left_anti")
    merged = (
        delta.select(*_MEASURES)
        .unionByName(current.select(*_MEASURES))
        .groupBy("h_start_us", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("value_sum").cast("decimal(18,4)").alias("value_sum"),
        )
    )
    (
        stamp_epoch(merged, epoch, run_id).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("h_start_us")
        .parquet(store_path)
    )
