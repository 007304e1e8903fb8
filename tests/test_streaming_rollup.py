"""Incrementally-maintained hour rollup == from-scratch batch rollup,
and partial re-merges only touch their own hour partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.streaming import read_events_stream
from tile_processor_spark.streaming.rollup import (
    _hour_rollup,
    merge_batch_into_rollup,
    read_rollup,
)
from tile_processor_spark.streaming.store import start_stream


def _start_rollup(events, store, ckpt):
    return start_stream(
        events, ckpt, lambda b, e, r: merge_batch_into_rollup(b, store, epoch=e, run_id=r)
    )

SF = "/root/testdata/sf0.001"


def _canon(df):
    return sorted(
        (r.h_start_us, r.event_type, r.n_events, str(r.value_sum))
        for r in df.collect()
    )


def test_incremental_rollup_matches_batch(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    # Split the table into 3 disjoint "deliveries" overlapping in hours
    # (event_id mod), merge each incrementally, compare with one-shot.
    store = str(tmp_path / "rollup_store")
    for k in range(3):
        merge_batch_into_rollup(ev.filter(F.col("event_id") % 3 == k), store)
    got = _canon(read_rollup(spark, store))
    want = _canon(_hour_rollup(ev))
    assert got == want and len(got) > 0


def test_streaming_rollup_foreach_batch(spark, tmp_path):
    src = str(tmp_path / "events_src")
    load_table(spark, "events", SF).write.parquet(src)
    store = str(tmp_path / "store")
    q = _start_rollup(
        read_events_stream(spark, src, max_files=1),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = _canon(read_rollup(spark, store))
    want = _canon(_hour_rollup(load_table(spark, "events", SF)))
    assert got == want and len(got) > 0


def test_streaming_rollup_checkpoint_restart_exactly_once(spark, tmp_path):
    # Two runs over the SAME checkpoint: run 1 drains files 1-2, run 2
    # sees file 3 added and must process ONLY it — no double counting of
    # the first delivery (exactly-once via the file-source offset log).
    src = tmp_path / "src"
    src.mkdir()
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def deliver(k):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    deliver(0)
    deliver(1)
    q = _start_rollup(read_events_stream(spark, str(src)), store, ckpt)
    q.awaitTermination(120)
    deliver(2)
    q2 = _start_rollup(read_events_stream(spark, str(src)), store, ckpt)
    q2.awaitTermination(120)
    got = _canon(read_rollup(spark, store))
    want = _canon(_hour_rollup(ev))
    assert got == want


def test_epoch_replay_is_noop(spark, tmp_path):
    # foreachBatch is at-least-once: a crash between the store write and
    # the checkpoint commit redelivers the SAME batch with the SAME
    # epoch id. The applied_epoch partition marker must make the replay
    # a no-op — no double counting.
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "store")
    merge_batch_into_rollup(ev.filter(F.col("event_id") % 3 == 0), store, epoch=0)
    merge_batch_into_rollup(ev.filter(F.col("event_id") % 3 == 1), store, epoch=1)
    once = _canon(read_rollup(spark, store))
    # replay epoch 1 (identical batch, identical epoch id)
    merge_batch_into_rollup(ev.filter(F.col("event_id") % 3 == 1), store, epoch=1)
    assert _canon(read_rollup(spark, store)) == once
    # a LATER epoch over the same hours must still merge normally
    merge_batch_into_rollup(ev.filter(F.col("event_id") % 3 == 2), store, epoch=2)
    assert _canon(read_rollup(spark, store)) == _canon(_hour_rollup(ev))


def test_backfill_many_hours_one_batch(spark, tmp_path):
    # A month-scale backfill replayed as ONE batch: every hour in the
    # table lands in a single merge call. The merge path must not
    # enumerate hours on the driver — grep the merge source for
    # .collect( — and must still produce the exact batch rollup.
    import inspect

    from tile_processor_spark.streaming import rollup as rollup_mod

    src = inspect.getsource(rollup_mod.merge_batch_into_rollup)
    assert ".collect(" not in src, "merge path must stay driver-free"

    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "store")
    merge_batch_into_rollup(ev, store, epoch=0)
    n_hours = len([r for r in __import__("os").listdir(store) if r.startswith("h_start_us=")])
    assert n_hours > 100, f"backfill should span many hour partitions, got {n_hours}"
    assert _canon(read_rollup(spark, store)) == _canon(_hour_rollup(ev))


def test_merge_into_pre_epoch_store(spark, tmp_path):
    # Stores written before the applied_epoch marker existed have only
    # the four original columns: read_rollup must surface applied_epoch
    # as NULL (never replay-skipped) and epoch merges must still work.
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "store")
    # exactly what the pre-epoch merge wrote: measures cast to the
    # store types (decimal(18,4)), NO applied_epoch column
    old = _hour_rollup(ev.filter(F.col("event_id") % 2 == 0)).select(
        "h_start_us",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_sum").cast("decimal(18,4)").alias("value_sum"),
    )
    (
        old.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("h_start_us")
        .parquet(store)
    )
    assert read_rollup(spark, store).filter(
        F.col("applied_epoch").isNotNull()
    ).count() == 0
    merge_batch_into_rollup(ev.filter(F.col("event_id") % 2 == 1), store, epoch=5)
    assert _canon(read_rollup(spark, store)) == _canon(_hour_rollup(ev))


def test_fresh_checkpoint_never_false_skips(spark, tmp_path):
    # Same store, two LOGICAL streams (checkpoint deleted/recreated →
    # new run id, epoch counter restarts at 0): the second run's epoch 0
    # must MERGE even though partitions already carry applied_epoch=0
    # from the first run — while a replay within ONE run still skips.
    ev = load_table(spark, "events", SF)
    store = str(tmp_path / "store")
    half = ev.filter(F.col("event_id") % 2 == 0)
    merge_batch_into_rollup(half, store, epoch=0, run_id="run-A")
    once = _canon(read_rollup(spark, store))
    # replay within run A: no-op
    merge_batch_into_rollup(half, store, epoch=0, run_id="run-A")
    assert _canon(read_rollup(spark, store)) == once
    # fresh run B redelivers the same data as ITS epoch 0: must merge
    merge_batch_into_rollup(half, store, epoch=0, run_id="run-B")
    doubled = {
        (r.h_start_us, r.event_type): r.n_events
        for r in read_rollup(spark, store).collect()
    }
    base = {
        (r.h_start_us, r.event_type): r.n_events for r in _hour_rollup(half).collect()
    }
    assert doubled == {k: 2 * v for k, v in base.items()}


def test_checkpoint_run_id_marker(tmp_path):
    from tile_processor_spark.streaming.store import checkpoint_run_id

    ckpt = str(tmp_path / "ckpt")
    a = checkpoint_run_id(ckpt)
    assert a == checkpoint_run_id(ckpt), "stable across restarts"
    # the marker keeps its name, so a checkpoint made before the run id
    # moved out of rollup.py keeps its identity
    assert (tmp_path / "ckpt" / "_rollup_run_id").read_text().strip() == a
    (tmp_path / "ckpt" / "_rollup_run_id").write_text("made-by-an-older-version\n")
    assert checkpoint_run_id(ckpt) == "made-by-an-older-version"
    import shutil

    shutil.rmtree(ckpt)
    assert checkpoint_run_id(ckpt) != a, "recreated checkpoint → new id"
