"""Streaming HLL register store == batch hll_registers of the full
frame, under incremental merges, replays, and checkpointed streams."""

from __future__ import annotations

from pyspark.sql import functions as F

from tile_processor_spark.plans.sketches import hll_registers
from tile_processor_spark.sources.maintenance import read_swap_store
from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.streaming import read_events_stream
from tile_processor_spark.streaming.hll import (
    HLL_STORE_SCHEMA,
    hll_store_estimate,
    merge_batch_into_hll,
)
from tile_processor_spark.streaming.store import start_stream

SF = "/root/testdata/sf0.001"


def _batch_regs(spark):
    ev = load_table(spark, "events", SF)
    keys = ev.select(F.col("user_id").cast("string").alias("k")).filter(
        F.col("k").isNotNull()
    )
    return hll_registers(keys, "k")


def _canon(df):
    return sorted((r.idx, r.m) for r in df.collect())


def test_incremental_merges_match_batch(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "hll")
    for k in range(3):
        merge_batch_into_hll(ev.filter(F.col("event_id") % 3 == k), store)
    assert _canon(read_swap_store(spark, store, HLL_STORE_SCHEMA)) == _canon(_batch_regs(spark))


def test_replay_is_noop(spark, tmp_path):
    # foreachBatch is at-least-once; max-merge must make replays free.
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "hll")
    merge_batch_into_hll(ev.filter(F.col("event_id") % 2 == 0), store)
    once = _canon(read_swap_store(spark, store, HLL_STORE_SCHEMA))
    merge_batch_into_hll(ev.filter(F.col("event_id") % 2 == 0), store)
    assert _canon(read_swap_store(spark, store, HLL_STORE_SCHEMA)) == once


def test_streaming_drain_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    load_table(spark, "events", SF).write.parquet(src)
    store = str(tmp_path / "store")
    q = start_stream(
        read_events_stream(spark, src, max_files=1),
        str(tmp_path / "ckpt"),
        lambda b, _e, _r: merge_batch_into_hll(b, store),
    )
    q.awaitTermination(120)
    assert _canon(read_swap_store(spark, store, HLL_STORE_SCHEMA)) == _canon(_batch_regs(spark))
    est = hll_store_estimate(spark, store).collect()[0]
    true_distinct = (
        load_table(spark, "events", SF).select("user_id").distinct().count()
    )
    # 15 distinct users in 64 registers is deep small-range territory:
    # raw HLL overestimates there by design; the linear-counting
    # correction is the accurate path (observed ~13.3 vs 15 true).
    assert est.est_raw > 0
    assert abs(est.est_corrected / true_distinct - 1.0) < 0.5
    assert est.m == 64 and est.n_zero >= 0


def test_empty_batch_is_noop(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "hll")
    merge_batch_into_hll(ev, store)
    once = _canon(read_swap_store(spark, store, HLL_STORE_SCHEMA))
    merge_batch_into_hll(ev.filter(F.lit(False)), store)
    assert _canon(read_swap_store(spark, store, HLL_STORE_SCHEMA)) == once
