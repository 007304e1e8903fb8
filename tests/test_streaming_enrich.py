"""Stream-static enrichment against a snapshot dimension: batches use
the version committed at their processing time, rows are version-
tagged, and a mid-stream dimension republish is picked up with no
restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from tile_processor_spark.sources.snapshots import write_snapshot
from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.streaming import read_events_stream
from tile_processor_spark.streaming.enrich import enrich_batch
from tile_processor_spark.streaming.store import start_stream

SF = "/root/testdata/sf0.001"


def _dim(spark, tier):
    users = load_table(spark, "events", SF).select("user_id").distinct()
    return users.select("user_id", F.lit(tier).alias("tier"))


def test_enrichment_tracks_dimension_republish(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    dim = str(tmp_path / "dim")
    ev = load_table(spark, "events", SF).select("event_id", "user_id")

    write_snapshot(_dim(spark, "bronze"), dim)

    def deliver(k):
        ev.filter(F.col("event_id") % 2 == k).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    deliver(0)
    q = start_stream(
        read_events_stream(spark, str(src)),
        str(tmp_path / "ckpt"),
        lambda b, e, r: enrich_batch(b, dim, out, "user_id", epoch=e, run_id=r),
    )
    q.awaitTermination(120)

    # dimension republished BETWEEN stream runs — no restart of state,
    # same checkpoint; only the new file is processed, against v2
    write_snapshot(_dim(spark, "gold"), dim)
    deliver(1)
    q2 = start_stream(
        read_events_stream(spark, str(src)),
        str(tmp_path / "ckpt"),
        lambda b, e, r: enrich_batch(b, dim, out, "user_id", epoch=e, run_id=r),
    )
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # exactly-once despite two runs
    by_ver = {
        (r.dim_version, r.tier): r.cnt
        for r in got.groupBy("dim_version", "tier").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n0 = ev.filter(F.col("event_id") % 2 == 0).count()
    n1 = ev.filter(F.col("event_id") % 2 == 1).count()
    assert by_ver == {(1, "bronze"): n0, (2, "gold"): n1}


def test_unmatched_keys_survive_with_null_tier(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    dim = str(tmp_path / "dim")
    ev = load_table(spark, "events", SF).select("event_id", "user_id")
    # dimension covering only HALF the users: left join must keep all rows
    users = ev.select("user_id").distinct().filter(F.col("user_id") % 2 == 0)
    write_snapshot(users.select("user_id", F.lit("bronze").alias("tier")), dim)
    ev.coalesce(1).write.mode("append").parquet(str(src))
    q = start_stream(
        read_events_stream(spark, str(src)),
        str(tmp_path / "ckpt"),
        lambda b, e, r: enrich_batch(b, dim, out, "user_id", epoch=e, run_id=r),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == ev.count()
    assert got.filter(F.col("tier").isNull()).count() == ev.filter(
        F.col("user_id") % 2 == 1
    ).count()


def test_epoch_replay_overwrites_not_appends(spark, tmp_path):
    # at-least-once redelivery of the same epoch must rewrite its
    # partition, not append a duplicate of it.
    from tile_processor_spark.streaming.enrich import read_enriched

    out = str(tmp_path / "out")
    dim = str(tmp_path / "dim")
    ev = load_table(spark, "events", SF).select("event_id", "user_id").limit(20)
    write_snapshot(_dim(spark, "bronze"), dim)
    enrich_batch(ev, dim, out, "user_id", epoch=3, run_id="r1")
    once = read_enriched(spark, out).count()
    enrich_batch(ev, dim, out, "user_id", epoch=3, run_id="r1")  # replay
    assert read_enriched(spark, out).count() == once
    # a different epoch appends normally
    enrich_batch(ev, dim, out, "user_id", epoch=4, run_id="r1")
    assert read_enriched(spark, out).count() == 2 * once
