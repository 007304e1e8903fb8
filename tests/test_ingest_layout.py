"""Landing-zone ingest pins (sources/tables.py::_parallel_layout): big
single-row-group sources come back multi-split, values are unchanged,
the kill switch works, and regenerated sources are never served stale."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tile_processor_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


def test_big_tables_come_back_multi_split(spark):
    li = load_table(spark, "lineitem", SF)
    assert li.rdd.getNumPartitions() > 1
    # tiny dims are not worth a copy
    assert load_table(spark, "region", SF).rdd.getNumPartitions() == 1


def test_ingest_preserves_values_and_schema(spark):
    src = spark.read.parquet(f"{SF}/lineitem.parquet")
    laid = load_table(spark, "lineitem", SF)
    assert laid.schema == src.schema
    a = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("s"),
        F.sum(F.hash("l_orderkey", "l_linenumber").cast("long")).alias("h"),
    ).collect()[0]
    b = laid.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("s"),
        F.sum(F.hash("l_orderkey", "l_linenumber").cast("long")).alias("h"),
    ).collect()[0]
    assert tuple(a) == tuple(b)


def test_kill_switch_reads_source_layout(spark):
    os.environ["SPARK_GRAFT_NO_INGEST"] = "1"
    try:
        li = load_table(spark, "lineitem", SF)
        assert li.rdd.getNumPartitions() == 1  # the raw single-row-group file
    finally:
        del os.environ["SPARK_GRAFT_NO_INGEST"]


def test_cache_key_tracks_source_identity(spark, tmp_path):
    # two different source files (same name, different content/mtime)
    # must never share an ingest entry
    p1 = str(tmp_path / "v1")
    spark.range(0, 5000).withColumnRenamed("id", "k").coalesce(1).write.parquet(p1)
    src = os.path.join(p1, [f for f in os.listdir(p1) if f.endswith(".parquet")][0])
    st = os.stat(src)
    import hashlib

    key1 = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    st2 = os.stat(src)
    key2 = hashlib.md5(
        f"{os.path.abspath(src)}:{st2.st_size}:{st2.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    assert key1 != key2  # regenerated data gets a fresh ingest entry

    # a source rewritten in place with new rows (new size and mtime) in
    # the same session comes back with the new rows, not the stale plan
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    for n in (3000, 4000):  # above the ingest threshold, one row group
        pq.write_table(pa.table({"k": list(range(n))}), sf / "nation.parquet")
        assert load_table(spark, "nation", str(sf)).count() == n
