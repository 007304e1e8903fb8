"""Streaming histogram store == batch hist cells over the delivered
rows; quantile estimates follow the batch sketch's exact ceil rule;
replays are batch-atomic no-ops; out-of-range values land in edge bins."""

from __future__ import annotations

from pyspark.sql import functions as F

from tile_processor_spark.sources.maintenance import read_swap_store
from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.streaming import read_events_stream
from tile_processor_spark.streaming.histogram import (
    HIST_STORE_SCHEMA,
    HIST_STREAM_BINS,
    hist_cells,
    hist_quantile_estimate,
    merge_batch_into_hist,
)
from tile_processor_spark.streaming.store import start_stream

SF = "/root/testdata/sf0.001"
LO, HI = 0.0, 1000.0


def _canon(df):
    return sorted(
        (r.event_type, r.bin, r.cnt)
        for r in df.select("event_type", "bin", "cnt").collect()
    )


def test_incremental_merges_match_batch(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "hist")
    for k in range(3):
        merge_batch_into_hist(ev.filter(F.col("event_id") % 3 == k), store, LO, HI)
    assert _canon(read_swap_store(spark, store, HIST_STORE_SCHEMA)) == _canon(hist_cells(ev, LO, HI))


def test_epoch_replay_is_noop(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "hist")
    merge_batch_into_hist(ev, store, LO, HI, epoch=0, run_id="run-a")
    once = _canon(read_swap_store(spark, store, HIST_STORE_SCHEMA))
    merge_batch_into_hist(ev, store, LO, HI, epoch=0, run_id="run-a")
    assert _canon(read_swap_store(spark, store, HIST_STORE_SCHEMA)) == once


def test_streaming_replay_matches_batch_and_estimates(spark, tmp_path):
    src = str(tmp_path / "events_src")
    load_table(spark, "events", SF).write.parquet(src)
    store = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")

    q = start_stream(
        read_events_stream(spark, src),
        ckpt,
        lambda b, e, r: merge_batch_into_hist(b, store, LO, HI, epoch=e, run_id=r),
    )
    q.awaitTermination(120)

    ev = load_table(spark, "events", SF)
    assert _canon(read_swap_store(spark, store, HIST_STORE_SCHEMA)) == _canon(hist_cells(ev, LO, HI))

    est = hist_quantile_estimate(spark, store, LO, HI).collect()
    assert est, "no estimates"
    width = (HI - LO) / HIST_STREAM_BINS
    # estimates are bin upper edges within the declared range, ordered
    for r in est:
        assert LO < r.p50_est <= HI
        assert r.p50_est <= r.p95_est <= r.p99_est
    # error bound vs the DISCRETE quantile the sketch targets (the
    # ceil(q·n)-th order statistic): that value lies in the picked bin,
    # so the upper-edge estimate is within (v, v + width].
    vals = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for r in est:
        s = sorted(vals[r.event_type])
        k = (len(s) * 50 + 99) // 100
        v = s[k - 1]
        assert v - 1e-9 <= r.p50_est <= v + width + 1e-9


def test_out_of_range_values_clamp_to_edge_bins(spark):
    rows = spark.createDataFrame(
        [("t", -5.0), ("t", 1e9), ("t", 500.0)], "event_type string, value double"
    )
    cells = {r.bin: r.cnt for r in hist_cells(rows, LO, HI).collect()}
    assert cells[0] == 1
    assert cells[HIST_STREAM_BINS - 1] == 1


def test_degenerate_range_maps_to_bin_zero(spark):
    # lo == hi must not divide by zero: everything lands in bin 0,
    # matching the batch sketch's vmax == vmin guard
    rows = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", None)],
        "event_type string, value double",
    )
    cells = {
        (r.event_type, r.bin): r.cnt for r in hist_cells(rows, 5.0, 5.0).collect()
    }
    assert cells == {("a", 0): 2, ("b", 0): 1}  # NULL row excluded
