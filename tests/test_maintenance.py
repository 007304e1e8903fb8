"""Small-file compaction: fewer files, identical data, surgical
per-partition rewrites, cheap no-op when already compact."""

from __future__ import annotations

from pyspark.sql import functions as F

from tile_processor_spark.sources.maintenance import (
    _dir_stats,
    compact_dir,
    compact_partitioned,
)


def test_compact_dir_reduces_files_preserves_data(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(10_000).select("id", (F.col("id") * 2).alias("v"))
    df.repartition(20).write.parquet(path)
    assert _dir_stats(path)[1] == 20
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    res = compact_dir(spark, path, target_bytes=64 * 1024 * 1024)
    assert res["files_before"] == 20 and res["files_after"] == 1
    after_df = spark.read.parquet(path)
    assert sorted(r.id for r in after_df.collect()) == before
    # second call is a no-op
    res2 = compact_dir(spark, path, target_bytes=64 * 1024 * 1024)
    assert res2["files_before"] == res2["files_after"] == 1


def test_compact_partitioned_only_touches_fragmented(spark, tmp_path):
    path = str(tmp_path / "tiled")
    frag = spark.createDataFrame(
        [("a", i) for i in range(50)], "tile_id string, v int"
    ).repartition(10)
    compact = spark.createDataFrame([("b", 0)], "tile_id string, v int").coalesce(1)
    frag.write.partitionBy("tile_id").parquet(path)
    compact.write.mode("append").partitionBy("tile_id").parquet(path)
    res = compact_partitioned(spark, path, "tile_id", target_bytes=64 * 1024 * 1024)
    assert res["partitions"] == 2 and res["compacted"] == 1
    back = spark.read.parquet(path)
    assert back.count() == 51
    assert back.filter(F.col("tile_id") == "a").count() == 50


def test_compact_recovers_from_crash_between_renames(spark, tmp_path):
    # Simulate dying between rename(path->old) and rename(tmp->path):
    # live dir missing, .__old__ holds the data. Next call must restore.
    from tile_processor_spark.sources.maintenance import _staging_paths

    path = str(tmp_path / "t")
    spark.range(100).repartition(4).write.parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    tmp, old = _staging_paths(path)
    import os

    os.rename(path, old)  # the crash state
    res = compact_dir(spark, path, target_bytes=64 * 1024 * 1024)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before
    assert not os.path.exists(old) and not os.path.exists(tmp)
    assert res["files_after"] <= res["files_before"]


def test_staging_dirs_invisible_to_readers(spark, tmp_path):
    # Staging names are dot-prefixed siblings: partition discovery over
    # the parent must not surface superseded data as extra partitions.
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame([("a", i) for i in range(10)], "tile_id string, v int")
    df.write.partitionBy("tile_id").parquet(root)
    import os

    from tile_processor_spark.sources.maintenance import _staging_paths

    child = os.path.join(root, "tile_id=a")
    tmp, old = _staging_paths(child)
    # plant a stale .__old__ copy next to the live partition
    spark.read.parquet(child).write.parquet(old)
    back = spark.read.parquet(root)
    assert back.count() == 10  # not 20: the hidden dir is ignored
    res = compact_partitioned(spark, root, "tile_id", target_bytes=64 * 1024 * 1024)
    assert res["partitions"] == 1
    assert not os.path.exists(old)


def test_swap_store_read_recovers_previous_generation(spark, tmp_path):
    # A crash between the two swap renames leaves the live dir missing,
    # the previous generation in .__old__ and a half-written
    # .__compacting__ dir: the read restores the previous generation
    # and drops the stale staging dir.
    import os

    from tile_processor_spark.sources.maintenance import (
        _staging_paths,
        atomic_swap_write,
        read_swap_store,
    )

    path = str(tmp_path / "store")
    atomic_swap_write(spark.range(5).selectExpr("id AS h"), path)
    tmp, old = _staging_paths(path)
    os.rename(path, old)
    spark.range(100, 103).selectExpr("id AS h").write.parquet(tmp)
    got = sorted(r.h for r in read_swap_store(spark, path, "h long").collect())
    assert got == [0, 1, 2, 3, 4]
    assert os.path.isdir(path)
    assert not os.path.exists(old) and not os.path.exists(tmp)
    # one file per generation
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 1
