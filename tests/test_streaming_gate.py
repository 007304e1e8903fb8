"""Streaming-store gate plans: the driver-identical DuckDB compare
(``testing.oracle.compare_query``) plus store-specific property tests
(CMS overestimate guarantee, histogram bracket bound, KMV replay
invariance, memoized build). The five queries are registered registry
rows since round 8, so tests/test_oracle_gate.py also covers them; the
compare here keeps a focused fast-fail for the store family."""

from __future__ import annotations

import pyspark.sql.functions as F

from tile_processor_spark.plans.streaming_gate import (
    STREAM_GATE_QUERIES,
    _build_stores,
)
from tile_processor_spark.streaming.histogram import HIST_STREAM_BINS
from tile_processor_spark.testing.oracle import compare_query

SF = "/root/testdata/sf0.01"


def test_staged_streaming_gate_rows_match_oracle(spark):
    for name, (fn, oracle) in STREAM_GATE_QUERIES.items():
        r = compare_query(spark, name, fn, oracle, SF)
        assert r.ok, (name, r)


def test_cms_overestimate_guarantee(spark):
    fn, _ = STREAM_GATE_QUERIES["stream_cms_event_type_counts"]
    rows = fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["est_cnt"] >= r["true_cnt"], r


def test_hist_estimates_bracket_exact_percentiles(spark):
    # histogram quantile error is bounded by one bin width
    fn, _ = STREAM_GATE_QUERIES["stream_hist_quantiles"]
    from tile_processor_spark.sources.tables import load_table

    est = {r["event_type"]: r for r in fn(spark, SF).collect()}
    ev = load_table(spark, "events", SF).filter(F.col("value").isNotNull())
    rng = ev.agg(F.min("value"), F.max("value")).collect()[0]
    bin_w = (rng[1] - rng[0]) / HIST_STREAM_BINS
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.50)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert est and set(est) == set(exact)
    for t, e in est.items():
        assert abs(e["p50_est"] - exact[t]["p50"]) <= 2 * bin_w, (t, e)
        assert abs(e["p95_est"] - exact[t]["p95"]) <= 2 * bin_w, (t, e)


def test_store_build_is_memoized(spark):
    a = _build_stores(spark, SF)
    b = _build_stores(spark, SF)
    assert a == b


def test_kmv_store_replay_equals_full_stream_bottom_k(spark):
    # the store's bottom-k equals the bottom-k of the full static
    # stream (set-min merge is micro-batch invariant)
    import os

    from tile_processor_spark.sources.maintenance import read_swap_store
    from tile_processor_spark.sources.tables import load_table
    from tile_processor_spark.streaming.kmv import (
        KMV_STORE_SCHEMA,
        kmv_batch_hashes,
    )

    root, _, _ = _build_stores(spark, SF)
    store = sorted(
        r["h"]
        for r in read_swap_store(
            spark, os.path.join(root, "kmv"), KMV_STORE_SCHEMA
        ).collect()
    )
    full = sorted(
        r["h"]
        for r in kmv_batch_hashes(
            load_table(spark, "events", SF), "user_id"
        ).collect()
    )
    assert store == full


# --- watermark sessionization store ----------------------------------------


def _sess_batch(spark, ts_us_list, user=1):
    return spark.createDataFrame(
        [(user, t) for t in ts_us_list], "user_id long, ts_us long"
    ).select("user_id", F.timestamp_micros("ts_us").alias("ts"))


def test_sessionize_late_events_matches_oracle(spark):
    from tile_processor_spark.plans.registry import all_specs

    spec = all_specs()["stream_sessionize_late_events"]
    r = compare_query(spark, spec.name, spec.spark_fn, spec.oracle, SF)
    assert r.ok, r


def test_sessionize_gate_has_real_drop_keep_mix(spark):
    # the gate is only meaningful if the watermark actually dropped
    # SOME stragglers and kept others, and both closed and open
    # sessions exist at the end
    from tile_processor_spark.plans.registry import all_specs

    rows = all_specs()["stream_sessionize_late_events"].spark_fn(spark, SF).collect()
    assert rows
    n_dropped = rows[0]["n_dropped"]
    assert n_dropped > 0, "watermark never dropped anything — gate is vacuous"
    from tile_processor_spark.sources.tables import load_table

    total = load_table(spark, "events", SF).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).count()
    kept = sum(r["n_events"] for r in rows)
    assert kept + n_dropped == total, "every event is either kept or dropped"
    assert 0 < n_dropped < total
    assert {r["is_closed"] for r in rows} == {True, False}


def test_session_merge_bridges_open_sessions(spark, tmp_path):
    from tile_processor_spark.streaming.sessions import (
        merge_batch_into_sessions,
        sessions_store_read,
    )

    store = str(tmp_path / "bridge")
    m = 60_000_000  # one minute in us
    huge = 1 << 60  # delay so large the watermark never bites
    # batch 0: two events 50 min apart -> two open sessions at gap 30
    merge_batch_into_sessions(
        _sess_batch(spark, [0, 50 * m]), store, gap_us=30 * m, delay_us=huge
    )
    # batch 1: a straggler at 25 min is within the 30-min gap of BOTH
    # open sessions — it must bridge them into ONE session
    merge_batch_into_sessions(
        _sess_batch(spark, [25 * m]), store, gap_us=30 * m, delay_us=huge
    )
    out = sessions_store_read(spark, store).collect()
    assert [(r["start_us"], r["end_us"], r["n_events"], r["is_closed"]) for r in out] == [
        (0, 50 * m, 3, False)
    ]
    assert out[0]["n_dropped"] == 0


def test_session_merge_drops_late_keeps_in_delay(spark, tmp_path):
    from tile_processor_spark.streaming.sessions import (
        merge_batch_into_sessions,
        sessions_store_read,
    )

    store = str(tmp_path / "late")
    m = 60_000_000
    # batch 0 at t=100min, delay 10min -> watermark 90min
    merge_batch_into_sessions(
        _sess_batch(spark, [100 * m]), store, gap_us=30 * m, delay_us=10 * m
    )
    # batch 1: t=50min is older than the watermark (dropped);
    # t=95min is within the delay (kept, merges with the open session)
    merge_batch_into_sessions(
        _sess_batch(spark, [50 * m, 95 * m]), store, gap_us=30 * m, delay_us=10 * m
    )
    out = sessions_store_read(spark, store).collect()
    assert [(r["start_us"], r["end_us"], r["n_events"], r["is_closed"]) for r in out] == [
        (95 * m, 100 * m, 2, False)
    ]
    assert out[0]["n_dropped"] == 1


def test_session_store_replay_is_skipped(spark, tmp_path):
    from tile_processor_spark.streaming.sessions import (
        merge_batch_into_sessions,
        sessions_store_read,
    )

    store = str(tmp_path / "replay")
    m = 60_000_000
    merge_batch_into_sessions(
        _sess_batch(spark, [0]), store, gap_us=30 * m, delay_us=10 * m,
        epoch=0, run_id="r",
    )
    merge_batch_into_sessions(
        _sess_batch(spark, [100 * m, 50 * m]), store, gap_us=30 * m,
        delay_us=10 * m, epoch=1, run_id="r",
    )
    once = sorted(
        (r["start_us"], r["end_us"], r["n_events"], r["n_dropped"])
        for r in sessions_store_read(spark, store).collect()
    )
    # replay the same epoch: a re-merge would re-drop t=50min and
    # inflate n_dropped — the (run, epoch) guard must skip it whole
    merge_batch_into_sessions(
        _sess_batch(spark, [100 * m, 50 * m]), store, gap_us=30 * m,
        delay_us=10 * m, epoch=1, run_id="r",
    )
    again = sorted(
        (r["start_us"], r["end_us"], r["n_events"], r["n_dropped"])
        for r in sessions_store_read(spark, store).collect()
    )
    assert once == again
