"""Continuous top-k heavy hitters: streaming store's ranking equals
the batch CMS ranking over the same delivered rows; replays harmless."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.streaming import read_events_stream
from tile_processor_spark.streaming.cms import cms_cells, cms_positions
from tile_processor_spark.streaming.store import start_stream
from tile_processor_spark.streaming.topk import merge_batch_into_topk, topk_estimate

SF = "/root/testdata/sf0.001"


def _batch_topk(spark, k=10):
    """Ground truth of what the store should produce: CMS estimates of
    ALL keys, ranked — at fixture scale every key is a candidate."""
    ev = load_table(spark, "events", SF)
    keys = ev.select(F.col("user_id").cast("string").alias("k")).filter(
        F.col("k").isNotNull()
    )
    cells = cms_cells(keys, "k")
    probes = cms_positions(keys.distinct(), "k", keep=("k",))
    est = (
        probes.join(cells, ["depth", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_cnt"))
    )
    w = F.row_number().over(Window.orderBy(F.desc("est_cnt"), "k"))
    return [
        (r.k, r.est_cnt, r.rank)
        for r in est.withColumn("rank", w.cast("long")).filter(F.col("rank") <= k).collect()
    ]


def test_streaming_topk_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    load_table(spark, "events", SF).write.parquet(src)
    store = str(tmp_path / "store")
    q = start_stream(
        read_events_stream(spark, src, max_files=1),
        str(tmp_path / "ckpt"),
        lambda b, e, r: merge_batch_into_topk(b, store, epoch=e, run_id=r),
    )
    q.awaitTermination(120)
    got = [
        (r.k, r.est_cnt, r.rank) for r in topk_estimate(spark, store, k=10).collect()
    ]
    assert got == _batch_topk(spark, k=10)
    # top-1 estimate upper-bounds the true max count
    truth_max = (
        load_table(spark, "events", SF)
        .groupBy("user_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert got[0][1] >= truth_max


def test_replayed_batch_does_not_change_ranking(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "store")
    merge_batch_into_topk(ev, store, epoch=0, run_id="r")
    once = [(r.k, r.est_cnt) for r in topk_estimate(spark, store, k=5).collect()]
    merge_batch_into_topk(ev, store, epoch=0, run_id="r")  # replay
    again = [(r.k, r.est_cnt) for r in topk_estimate(spark, store, k=5).collect()]
    assert once == again
