"""Streaming KMV bottom-k store == batch bottom-k of the full frame,
under incremental merges, replays, and checkpointed streams; the
estimate follows the shared batch rule including under-full exactness."""

from __future__ import annotations

from pyspark.sql import functions as F

from tile_processor_spark.sources.maintenance import read_swap_store
from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.streaming import read_events_stream
from tile_processor_spark.streaming.kmv import (
    KMV_STORE_SCHEMA,
    KMV_STREAM_K,
    kmv_batch_hashes,
    kmv_store_estimate,
    merge_batch_into_kmv,
)
from tile_processor_spark.streaming.store import start_stream

SF = "/root/testdata/sf0.001"


def _batch_bottom_k(spark):
    return kmv_batch_hashes(load_table(spark, "events", SF), "user_id")


def _canon(df):
    return sorted(r.h for r in df.collect())


def test_incremental_merges_match_batch(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "kmv")
    for k in range(3):
        merge_batch_into_kmv(ev.filter(F.col("event_id") % 3 == k), store)
    assert _canon(read_swap_store(spark, store, KMV_STORE_SCHEMA)) == _canon(_batch_bottom_k(spark))


def test_replay_is_noop(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "kmv")
    merge_batch_into_kmv(ev.filter(F.col("event_id") % 2 == 0), store)
    once = _canon(read_swap_store(spark, store, KMV_STORE_SCHEMA))
    merge_batch_into_kmv(ev.filter(F.col("event_id") % 2 == 0), store)
    assert _canon(read_swap_store(spark, store, KMV_STORE_SCHEMA)) == once


def test_streaming_drain_matches_batch_and_underfull_estimate(spark, tmp_path):
    src = str(tmp_path / "src")
    load_table(spark, "events", SF).write.parquet(src)
    store = str(tmp_path / "store")
    q = start_stream(
        read_events_stream(spark, src, max_files=1),
        str(tmp_path / "ckpt"),
        lambda b, _e, _r: merge_batch_into_kmv(b, store),
    )
    q.awaitTermination(120)
    assert _canon(read_swap_store(spark, store, KMV_STORE_SCHEMA)) == _canon(_batch_bottom_k(spark))
    est = kmv_store_estimate(spark, store).collect()[0]
    true_distinct = (
        load_table(spark, "events", SF)
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    if est.m < KMV_STREAM_K:
        # under-full sketch saw everything: estimate is EXACT
        assert est.m == true_distinct
        assert est.est_distinct == float(true_distinct)
    else:
        assert abs(est.est_distinct / true_distinct - 1.0) < 0.25


def test_empty_batch_is_noop(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "kmv")
    merge_batch_into_kmv(ev, store)
    once = _canon(read_swap_store(spark, store, KMV_STORE_SCHEMA))
    merge_batch_into_kmv(ev.filter(F.lit(False)), store)
    assert _canon(read_swap_store(spark, store, KMV_STORE_SCHEMA)) == once


def test_cross_store_set_estimates_underfull_exact(spark, tmp_path):
    # two overlapping halves of the user population, each folded into
    # its own store; both under-full at sf0.001 -> the set estimates
    # must be EXACT (the m < k rule), pinned against a direct count
    from tile_processor_spark.streaming.kmv import kmv_stores_set_estimates

    ev = load_table(spark, "events", SF).filter(F.col("user_id").isNotNull())
    sa, sb = str(tmp_path / "a"), str(tmp_path / "b")
    cond_a = F.col("user_id") % 3 != 0      # users not divisible by 3
    cond_b = F.col("user_id") % 2 == 0      # even users (overlaps A)
    merge_batch_into_kmv(ev.filter(cond_a), sa)
    merge_batch_into_kmv(ev.filter(cond_b), sb)
    est = kmv_stores_set_estimates(spark, sa, sb).collect()[0]
    users = {r.user_id for r in ev.select("user_id").distinct().collect()}
    ua = {u for u in users if u % 3 != 0}
    ub = {u for u in users if u % 2 == 0}
    if est.m < KMV_STREAM_K:
        assert est.est_union == float(len(ua | ub))
        assert est.est_intersection == float(len(ua & ub))
        assert est.jaccard_est == len(ua & ub) / len(ua | ub)
    else:  # corpus regenerated much larger: fall back to tolerance
        assert abs(est.est_union / len(ua | ub) - 1.0) < 0.25
