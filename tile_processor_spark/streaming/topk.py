"""Continuous top-k heavy hitters — the classic bounded-state
composition: a Count-Min sketch for frequencies (streaming/cms.py's
store, exactly-once under replay) plus a CANDIDATE set of every key
ever seen in a batch's top stratum, re-ranked by CMS estimate on read.

Why this shape: exact per-key counts over an unbounded key domain need
unbounded state; CMS bounds the frequency state at depth x width cells,
and the candidate list bounds the identity state at O(k x batches'
churn) — the Space-Saving trade expressed with the engine's existing
mergeable pieces. CMS estimates only OVERcount, so the true top-k are
always contained in the estimate-ranked candidates when the candidate
set contains them (guaranteed here: every batch contributes its own
top-candidates, and a global heavy hitter is heavy in some batch).

State layout: cms store (swap-committed, epoch-guarded) + a candidates
parquet dir (append-only, deduped on read; append replays only widen
the candidate set, never corrupt rank order — max-merge semantics on
identity, additive semantics on counts, each handled by its own
store's discipline).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tile_processor_spark.session import local_frame
from tile_processor_spark.sources.maintenance import read_swap_store
from tile_processor_spark.streaming.cms import (
    CMS_STORE_SCHEMA,
    cms_positions,
    merge_batch_into_cms,
)

TOPK_CANDIDATES_PER_BATCH = 64


def merge_batch_into_topk(
    batch: DataFrame,
    store_path: str,
    key_col: str = "user_id",
    epoch: int | None = None,
    run_id: str | None = None,
) -> None:
    """Fold one micro-batch: counts into the CMS store (epoch-guarded),
    the batch's own most frequent keys into the candidate set
    (append-only; duplicate appends are harmless — dedup on read)."""
    cms_path = os.path.join(store_path, "cms")
    cand_path = os.path.join(store_path, "candidates")
    merge_batch_into_cms(batch, cms_path, key_col, epoch=epoch, run_id=run_id)
    cands = (
        batch.select(F.col(key_col).cast("string").alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "k")
        .limit(TOPK_CANDIDATES_PER_BATCH)
        .select("k")
    )
    if cands.isEmpty():
        return
    cands.coalesce(1).write.mode("append").parquet(cand_path)


def topk_estimate(
    spark: SparkSession, store_path: str, k: int = 10
) -> DataFrame:
    """(k, est_cnt, rank): the top-k candidates by CMS point estimate
    (min over depths), ties broken by key — fully deterministic."""
    cms_path = os.path.join(store_path, "cms")
    cand_path = os.path.join(store_path, "candidates")
    if not os.path.isdir(cand_path):
        return local_frame(spark, [], "k string, est_cnt long, rank long")
    cands = spark.read.parquet(cand_path).distinct()
    store = read_swap_store(spark, cms_path, CMS_STORE_SCHEMA)
    cells = cms_positions(cands, "k", keep=("k",))
    # The global ranking window runs over the CANDIDATE STORE, whose
    # cardinality is bounded by TOPK_CANDIDATES_PER_BATCH x batches
    # regardless of stream volume — a legitimate bounded-domain global
    # sort. The `_cand_` aliases declare that to the registry-wide plan
    # sweep (tests/test_plan_invariants.py), which VERIFIES the claim by
    # counting the window's input rows.
    est = (
        cells.join(store, ["depth", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_cnt"))
        .select(F.col("k").alias("_cand_key"), F.col("est_cnt").alias("_cand_est"))
    )
    w = F.row_number().over(Window.orderBy(F.desc("_cand_est"), "_cand_key"))
    return (
        est.withColumn("rank", w.cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_cand_key").alias("k"),
            F.col("_cand_est").alias("est_cnt"),
            "rank",
        )
    )
