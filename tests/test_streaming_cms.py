"""Streaming CMS store == batch cms cells over the delivered rows,
with batch-atomic exactly-once under epoch replay."""

from __future__ import annotations

from pyspark.sql import functions as F

from tile_processor_spark.sources.maintenance import read_swap_store
from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.streaming import read_events_stream
from tile_processor_spark.streaming.cms import (
    CMS_STORE_SCHEMA,
    cms_cells,
    cms_point_estimate,
    merge_batch_into_cms,
)
from tile_processor_spark.streaming.store import start_stream

SF = "/root/testdata/sf0.001"


def _batch_cells(spark):
    ev = load_table(spark, "events", SF)
    keys = ev.select(F.col("user_id").cast("string").alias("k")).filter(
        F.col("k").isNotNull()
    )
    return cms_cells(keys, "k")


def _canon(df):
    return sorted((r.depth, r.bucket, r.cnt) for r in df.select("depth", "bucket", "cnt").collect())


def test_incremental_merges_match_batch(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "cms")
    for k in range(3):
        merge_batch_into_cms(ev.filter(F.col("event_id") % 3 == k), store)
    assert _canon(read_swap_store(spark, store, CMS_STORE_SCHEMA)) == _canon(_batch_cells(spark))


def test_epoch_replay_is_noop(spark, tmp_path):
    # Additive merge + at-least-once delivery: the (run, epoch) marker
    # must make an identical redelivery a no-op.
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "cms")
    run = "run-a"
    merge_batch_into_cms(ev.filter(F.col("event_id") % 2 == 0), store, epoch=0, run_id=run)
    once = _canon(read_swap_store(spark, store, CMS_STORE_SCHEMA))
    merge_batch_into_cms(ev.filter(F.col("event_id") % 2 == 0), store, epoch=0, run_id=run)
    assert _canon(read_swap_store(spark, store, CMS_STORE_SCHEMA)) == once
    # a different run's epoch 0 is NOT a replay (recreated checkpoint)
    merge_batch_into_cms(ev.filter(F.col("event_id") % 2 == 1), store, epoch=0, run_id="run-b")
    assert _canon(read_swap_store(spark, store, CMS_STORE_SCHEMA)) == _canon(_batch_cells(spark))


def test_streaming_drain_matches_batch_and_estimates(spark, tmp_path):
    src = str(tmp_path / "src")
    load_table(spark, "events", SF).write.parquet(src)
    store = str(tmp_path / "store")
    q = start_stream(
        read_events_stream(spark, src, max_files=1),
        str(tmp_path / "ckpt"),
        lambda b, e, r: merge_batch_into_cms(b, store, epoch=e, run_id=r),
    )
    q.awaitTermination(120)
    assert _canon(read_swap_store(spark, store, CMS_STORE_SCHEMA)) == _canon(_batch_cells(spark))
    # CMS point estimates always upper-bound the truth
    ev = load_table(spark, "events", SF)
    truth = {
        str(r.user_id): r.cnt
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    probes = list(truth)[:5] + ["absent-user"]
    est = {r.k: r.est_cnt for r in cms_point_estimate(spark, store, probes).collect()}
    for k in probes[:5]:
        assert est[k] >= truth[k]
    assert est["absent-user"] >= 0
