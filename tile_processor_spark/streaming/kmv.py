"""Continuous distinct-count via a streaming KMV (bottom-k) sketch —
the order-statistics twin of ``streaming/hll.py``.

Why KMV is also an *easy* streaming sketch: the merge is a SET-MIN —
``union -> distinct -> order by hash -> limit k`` — which is idempotent
and commutative, so at-least-once ``foreachBatch`` replays are harmless
by construction (replaying a batch re-inserts hashes the bottom-k set
already decided about). No epoch markers, no applied-run bookkeeping,
exactly like the HLL register max-merge and unlike the additive rollup.

Store: ONE parquet directory holding at most ``KMV_STREAM_K`` rows of
``(h)`` — bounded state regardless of stream volume — rewritten per
merge with the crash-safe double-rename swap ``sources/maintenance``
uses. Estimate = the batch engine's exact rule (shared code:
``plans.sketches.kmv_est_union``): (k−1)·2³²/h_k when the sketch is
full, the EXACT count m when under-full.

Equivalence contract (pinned by tests/test_streaming_kmv.py): after
draining any split of the input into any number of micro-batches in any
order, the store equals the bottom-k of the full static frame
bit-for-bit — the same batch↔streaming discipline as the CMS/HLL/
histogram stores.

Complements ``streaming/hll.py`` rather than duplicating it: KMV
supports the set-algebra path (union/intersection/Jaccard across
stores, ``sketch_kmv_set_ops``) that HLL registers cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_processor_spark.plans.llm_ops import hash32
from tile_processor_spark.plans.sketches import kmv_est_union
from tile_processor_spark.sources.maintenance import atomic_swap_write, read_swap_store

KMV_STREAM_K = 256
KMV_STORE_SCHEMA = "h long"


def kmv_batch_hashes(batch: DataFrame, key_col: str) -> DataFrame:
    """The batch's distinct bottom-k key hashes — the same ``kmv#``
    md5-prefix hash family as the batch sketches, so a store built from
    any split of the data equals the batch sketch of the whole."""
    return (
        batch.select(F.col(key_col).cast("string").alias("k"))
        .filter(F.col("k").isNotNull())
        .select(hash32(F.concat(F.lit("kmv#"), F.col("k"))).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_STREAM_K)
    )


def merge_batch_into_kmv(
    batch: DataFrame, store_path: str, key_col: str = "user_id"
) -> None:
    """Fold one (micro-)batch's keys into the bottom-k store.

    union(current, batch bottom-k) -> distinct -> keep the k smallest
    -> swap in a new store generation. Idempotent set-min: replays
    cannot change the result. State is <= k rows, so the rewrite is
    O(1) no matter the stream volume."""
    delta = kmv_batch_hashes(batch, key_col)
    if delta.isEmpty():
        return
    merged = (
        read_swap_store(batch.sparkSession, store_path, KMV_STORE_SCHEMA)
        .unionByName(delta)
        .distinct()
        .orderBy("h")
        .limit(KMV_STREAM_K)
    )
    atomic_swap_write(merged, store_path)


def kmv_store_estimate(spark: SparkSession, store_path: str) -> DataFrame:
    """One-row (k, m, kth_hash, est_distinct) from the current store —
    the exact estimator rule shared with the batch sketches, including
    the under-full case (m < k ⇒ the store saw every distinct key and
    the estimate IS the exact count)."""
    state = read_swap_store(spark, store_path, KMV_STORE_SCHEMA).agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.max("h").alias("kth_hash"),
    )
    return state.select(
        F.lit(KMV_STREAM_K).cast("long").alias("k"),
        "m",
        "kth_hash",
        kmv_est_union(KMV_STREAM_K).alias("est_distinct"),
    )


def kmv_stores_set_estimates(
    spark: SparkSession, store_a: str, store_b: str
) -> DataFrame:
    """Set algebra ACROSS two stores without touching either fact
    stream — the reason this store is KMV rather than HLL. One row:
    (k, m, kth_hash, est_union, inter_matches, est_intersection,
    jaccard_est), by the same matching-bottom-k rules as the batch
    ``sketch_kmv_set_ops`` (shared estimator code, including the
    under-full exact case). Use: distinct users across two streams,
    overlap between two ingest pipelines, audience intersection —
    all from ≤2k rows of state."""
    from tile_processor_spark.plans.sketches import (
        kmv_est_intersection,
        kmv_jaccard,
    )

    a = read_swap_store(spark, store_a, KMV_STORE_SCHEMA).localCheckpoint()
    b = read_swap_store(spark, store_b, KMV_STORE_SCHEMA).localCheckpoint()
    merged = (
        a.unionByName(b).distinct().orderBy("h").limit(KMV_STREAM_K).localCheckpoint()
    )
    kth = merged.agg(
        F.max("h").alias("kth_hash"), F.count(F.lit(1)).cast("long").alias("m")
    )
    inter = (
        merged.join(a, "h", "left_semi")
        .join(b, "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("inter_matches"))
    )
    return kth.crossJoin(inter).select(
        F.lit(KMV_STREAM_K).cast("long").alias("k"),
        "m",
        "kth_hash",
        kmv_est_union(KMV_STREAM_K).alias("est_union"),
        "inter_matches",
        kmv_est_intersection(KMV_STREAM_K).alias("est_intersection"),
        kmv_jaccard().alias("jaccard_est"),
    )
