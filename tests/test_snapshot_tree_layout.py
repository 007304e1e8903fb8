"""One partitioned layout: every partitioned commit, by any writer on
either backend, puts its files under the table's one Hive tree
``<table>/data/tree/<col=val…>/`` and records that tree as ``base``,
so a partitioned table takes appends, stream micro-batches and
copy-on-write deletes from its first version on. A local table
committed in the older per-commit layout still reads, and refuses new
files with a recommit pointer."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from tests.test_s3_commit_fs import ACCESS, REGION, SECRET
from tile_processor_spark.sources.snapshot_datasource import (
    SnapshotStreamWriter,
    register,
)
from tile_processor_spark.sources.snapshot_store import open_store
from tile_processor_spark.sources.snapshots import (
    _commit_manifest,
    _read_manifest,
    append_snapshot,
    delete_snapshot,
    list_versions,
    read_snapshot,
    snapshot_history,
    write_snapshot,
)

BUCKET = "tree-bucket"
SCHEMA = "k long, grp string"


@pytest.fixture()
def fake_s3():
    from tile_processor_spark.testing.fake_s3 import start_fake_s3

    srv = start_fake_s3(ACCESS, SECRET)
    try:
        yield srv
    finally:
        srv.shutdown()
        srv.server_close()


def _s3_options(srv) -> dict:
    host, port = srv.server_address
    return {
        "s3_endpoint": f"http://{host}:{port}",
        "s3_access_key": ACCESS,
        "s3_secret_key": SECRET,
        "s3_region": REGION,
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _stream_batch(path: str, opts: dict, rows: list[dict], batch_id: int) -> None:
    """One stream micro-batch through the sink: a task's write on one
    writer instance, the commit on a fresh one (as Spark does)."""
    import pyarrow as pa

    arrow_schema = pa.schema([("k", pa.int64()), ("grp", pa.string())])
    writer_opts = {"path": path, **opts}
    spark_schema = _schema()
    task = SnapshotStreamWriter(spark_schema, writer_opts, overwrite=False)
    msg = task.write(iter(pa.Table.from_pylist(rows, schema=arrow_schema).to_batches()))
    SnapshotStreamWriter(spark_schema, writer_opts, overwrite=False).commit([msg], batch_id)


def _schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType([StructField("k", LongType()), StructField("grp", StringType())])


@pytest.mark.parametrize("writer", ["write_snapshot", "local_connector", "s3_connector"])
def test_partitioned_table_takes_append_stream_and_delete(spark, tmp_path, fake_s3, writer):
    register(spark)
    if writer == "s3_connector":
        opts = _s3_options(fake_s3)
        path = f"s3://{BUCKET}/tables/t_{uuid.uuid4().hex[:8]}"
    else:
        opts = {}
        path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    if writer == "write_snapshot":
        write_snapshot(df, path, partition_by=["grp"])
    else:
        w = df.write.format("tps_snapshot").option("path", path)
        for k, v in opts.items():
            w = w.option(k, v)
        w.option("partition_by", "grp").mode("overwrite").save()
    store = open_store(path, opts)
    tree = store.path("data/tree")

    # no conversion step: v1 takes an append, a stream batch and a delete
    append_snapshot(
        spark.createDataFrame([(3, "a"), (4, "c")], SCHEMA), path, s3_options=opts
    )
    _stream_batch(path, opts, [{"k": 5, "grp": "b"}], batch_id=0)
    delete_snapshot(spark, path, [("k", "=", 2)], s3_options=opts)

    assert store.versions() == [1, 2, 3, 4]
    for v in store.versions():
        m = store.manifest(v)
        assert m["base"] == tree, (v, m["base"])
        assert m["partition_by"] == ["grp"]
        assert "layout" not in m
    head = store.manifest(4)
    assert head["files"] and all(f.startswith(tree + "/grp=") for f in head["files"])
    assert store.manifest(3)["stream_batch_id"] == 0
    if not path.startswith("s3://"):
        # Spark's staging dirs (and their _SUCCESS and .crc leftovers) are gone
        assert os.listdir(os.path.join(path, "data")) == ["tree"]

    def read(**kw):
        return _rows(read_snapshot(spark, path, s3_options=opts, **kw).select("k", "grp"))

    assert read() == [(1, "a"), (3, "a"), (4, "c"), (5, "b")]
    assert read(partition_filter={"grp": "a"}) == [(1, "a"), (3, "a")]
    assert read(partition_filter={"grp": "b"}) == [(5, "b")]
    assert read(partition_filter={"grp": ["b", "c"]}) == [(4, "c"), (5, "b")]
    assert read(version=3, partition_filter={"grp": "b"}) == [(2, "b"), (5, "b")]


def _old_layout_table(spark, tbl: str) -> None:
    """A partitioned table as an older release committed it: Spark's
    ``partitionBy`` output in its own snap dir, recorded as ``base``."""
    snap = os.path.join(tbl, "data", uuid.uuid4().hex)
    df = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    df.write.partitionBy("grp").parquet(snap)
    files = sorted(
        os.path.join(d, n)
        for d, _dirs, names in os.walk(snap)
        for n in names
        if n.endswith(".parquet")
    )
    manifest = {
        "version": 1,
        "committed_at": time.time(),
        "files": files,
        "schema": df.schema.json(),
        "base": snap,
        "partition_by": ["grp"],
    }
    _commit_manifest(tbl, manifest, 1)


def test_old_layout_local_table_reads_refuses_deltas_and_recommits(spark, tmp_path):
    register(spark)
    tbl = str(tmp_path / "old")
    _old_layout_table(spark, tbl)

    # reads and history are unchanged
    assert _rows(read_snapshot(spark, tbl).select("k", "grp")) == [(1, "a"), (2, "b")]
    assert _rows(read_snapshot(spark, tbl, partition_filter={"grp": "b"}).select("k")) == [
        (2,)
    ]
    assert [h["operation"] for h in snapshot_history(tbl)] == ["create"]

    pointer = r"recommit it once with write_snapshot\(read_snapshot\(spark, p\), p, partition_by=\['grp'\]\)"
    delta = spark.createDataFrame([(3, "a")], SCHEMA)
    with pytest.raises(NotImplementedError, match=pointer):
        append_snapshot(delta, tbl)
    with pytest.raises(Exception, match="recommit it once"):
        delta.write.format("tps_snapshot").option("path", tbl).mode("append").save()
    with pytest.raises(NotImplementedError, match=pointer):
        SnapshotStreamWriter(_schema(), {"path": tbl}, overwrite=False)
    with pytest.raises(NotImplementedError, match=pointer):
        delete_snapshot(spark, tbl, [("k", "=", 1)])
    assert list_versions(tbl) == [1]

    # the pointer works: recommit, then the table takes an append
    assert write_snapshot(read_snapshot(spark, tbl), tbl, partition_by=["grp"]) == 2
    assert _read_manifest(tbl, 2)["base"] == os.path.join(tbl, "data", "tree")
    assert append_snapshot(delta, tbl) == 3
    assert _rows(read_snapshot(spark, tbl).select("k", "grp")) == [
        (1, "a"), (2, "b"), (3, "a"),
    ]
    assert _rows(read_snapshot(spark, tbl, version=1).select("k")) == [(1,), (2,)]
    assert _read_manifest(tbl, 3)["appended_to"] == 2
