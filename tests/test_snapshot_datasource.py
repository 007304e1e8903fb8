"""The tps_snapshot Python Data Source (Spark 4 connector surface) must
agree with read_snapshot on every axis: latest/time-travel reads,
committed schema (partition dtype included), and manifest-level
partition pruning — which here must shrink the PLANNED partition count,
not just the rows."""

from __future__ import annotations

import pytest

from tile_processor_spark.sources.snapshot_datasource import (
    SnapshotReader,
    register,
)
from tile_processor_spark.sources.snapshots import (
    compact_manifest,
    read_snapshot,
    upsert_snapshot,
    write_snapshot,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def tbl(spark, tmp_path):
    path = str(tmp_path / "ds_tbl")
    df = spark.createDataFrame(
        [("2024", 1, 10.0), ("2024", 2, 20.0), ("2025", 3, 30.0)],
        "yr string, k long, v double",
    )
    write_snapshot(df, path, partition_by=["yr"])
    upd = spark.createDataFrame([("2025", 3, 33.0)], "yr string, k long, v double")
    upsert_snapshot(upd, path, ["k"])  # v2
    register(spark)
    return path


def _read(spark, path, **opts):
    r = spark.read.format("tps_snapshot").option("path", path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_matches_read_snapshot_latest_and_time_travel(spark, tbl):
    for v in (1, 2):
        via_fn = read_snapshot(spark, tbl, version=v)
        via_ds = _read(spark, tbl, version=str(v))
        assert via_ds.schema == via_fn.schema  # committed dtype incl. yr string
        assert _rows(via_ds) == _rows(via_fn)
    assert _rows(_read(spark, tbl)) == _rows(read_snapshot(spark, tbl))


def test_partition_filter_prunes_planned_partitions(spark, tbl):
    from tile_processor_spark.sources.snapshots import _read_manifest, list_versions

    manifest = _read_manifest(tbl, list_versions(tbl)[-1])
    all_parts = SnapshotReader(
        _read(spark, tbl).schema, {"path": tbl}
    ).partitions()
    pruned_parts = SnapshotReader(
        _read(spark, tbl).schema,
        {"path": tbl, "partition_filter": '{"yr": "2025"}'},
    ).partitions()
    assert 0 < len(pruned_parts) < len(all_parts)
    got = _read(spark, tbl, partition_filter='{"yr": "2025"}')
    assert _rows(got) == _rows(
        read_snapshot(spark, tbl, partition_filter={"yr": "2025"})
    )
    with pytest.raises(Exception, match="non-partition"):
        _read(spark, tbl, partition_filter='{"k": 1}').collect()
    assert manifest["partition_by"] == ["yr"]


def test_reads_through_grouped_manifest(spark, tbl):
    v3 = compact_manifest(tbl)
    via_ds = _read(spark, tbl, version=str(v3))
    assert _rows(via_ds) == _rows(read_snapshot(spark, tbl, version=v3))


def test_sql_using_clause(spark, tbl):
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_ds "
        f"USING tps_snapshot OPTIONS (path '{tbl}')"
    )
    got = spark.sql("SELECT yr, k, v FROM snap_ds ORDER BY k").collect()
    assert [tuple(r) for r in got] == [
        ("2024", 1, 10.0), ("2024", 2, 20.0), ("2025", 3, 33.0),
    ]


def test_append_snapshot_is_o_new_data(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        append_snapshot,
    )

    path = str(tmp_path / "app_tbl")
    v1 = append_snapshot(
        spark.createDataFrame([(1, "a")], "k long, s string"), path
    )
    v2 = append_snapshot(
        spark.createDataFrame([(2, "b"), (3, "c")], "k long, s string"), path
    )
    m1, m2 = _read_manifest(path, v1), _read_manifest(path, v2)
    # the append commit reuses v1's files untouched and adds only new ones
    assert set(m1["files"]) < set(m2["files"])
    assert m2["appended_to"] == v1
    assert set(m2["appended_files"]) == set(m2["files"]) - set(m1["files"])
    assert _rows(read_snapshot(spark, path)) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(read_snapshot(spark, path, version=v1)) == [(1, "a")]
    with pytest.raises(ValueError, match="schema"):
        append_snapshot(spark.createDataFrame([(9,)], "k long"), path)
    part = str(tmp_path / "part_tbl")
    write_snapshot(
        spark.createDataFrame([("x", 1)], "p string, k long"), part,
        partition_by=["p"],
    )
    # a partitioned table appends O(new data) too, from its first version
    v2p = append_snapshot(
        spark.createDataFrame([("y", 2)], "p string, k long"), part
    )
    m1p, m2p = _read_manifest(part, 1), _read_manifest(part, v2p)
    assert set(m2p["appended_files"]) == set(m2p["files"]) - set(m1p["files"])
    assert _rows(read_snapshot(spark, part).select("p", "k")) == [("x", 1), ("y", 2)]


def test_version_stream_emits_appended_batches(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import append_snapshot, upsert_snapshot

    path = str(tmp_path / "stream_tbl")
    append_snapshot(spark.createDataFrame([(1, "a")], "k long, s string"), path)
    append_snapshot(spark.createDataFrame([(2, "b")], "k long, s string"), path)
    register(spark)
    q = (
        spark.readStream.format("tps_snapshot")
        .option("path", path)
        .load()
        .writeStream.format("memory")
        .queryName("snap_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql("SELECT * FROM snap_stream").collect())
        assert got == [(1, "a"), (2, "b")]
        append_snapshot(spark.createDataFrame([(3, "c")], "k long, s string"), path)
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql("SELECT * FROM snap_stream").collect())
        assert got == [(1, "a"), (2, "b"), (3, "c")]
    finally:
        q.stop()

    # a rewrite version breaks the append-only contract: planning the
    # next batch must raise, not re-emit or skip
    from tile_processor_spark.sources.snapshot_datasource import SnapshotStreamReader

    v_rewrite = upsert_snapshot(
        spark.createDataFrame([(1, "z")], "k long, s string"), path, ["k"]
    )
    reader = SnapshotStreamReader(
        read_snapshot(spark, path).schema, {"path": path}
    )
    with pytest.raises(ValueError, match="not an append commit"):
        reader.partitions({"version": v_rewrite - 1}, {"version": v_rewrite})


def test_writer_append_and_overwrite(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import _read_manifest, list_versions

    path = str(tmp_path / "w_tbl")
    register(spark)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    df1.write.format("tps_snapshot").option("path", path).mode("append").save()
    assert _rows(read_snapshot(spark, path)) == [(1, "a"), (2, "b")]

    # distributed append: previous files reused, delta recorded — the
    # stream-consumable commit shape
    df2 = spark.createDataFrame([(3, "c")], "k long, s string").repartition(2)
    df2.write.format("tps_snapshot").option("path", path).mode("append").save()
    v = list_versions(path)[-1]
    man = _read_manifest(path, v)
    assert man["appended_to"] == v - 1 and man["appended_files"]
    assert _rows(read_snapshot(spark, path)) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(read_snapshot(spark, path, version=v - 1)) == [(1, "a"), (2, "b")]

    # schema drift on append refuses
    with pytest.raises(Exception, match="does not match committed"):
        spark.createDataFrame([(9,)], "k long").write.format(
            "tps_snapshot"
        ).option("path", path).mode("append").save()

    # overwrite replaces state; history still readable
    spark.createDataFrame([(7, "z")], "k long, s string").write.format(
        "tps_snapshot"
    ).option("path", path).mode("overwrite").save()
    assert _rows(read_snapshot(spark, path)) == [(7, "z")]
    assert _rows(read_snapshot(spark, path, version=v)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_local_overwrite_honours_partition_by(spark, tmp_path):
    """A local connector overwrite with ``partition_by`` commits a
    Hive-partitioned table, exactly like the same write on an s3://
    path: the manifest records the scheme, the files sit under
    ``g=<v>/`` without the column, pruned reads return exactly the
    partition's rows, and a bad scheme raises the same errors as
    ``test_s3_partition_by_validation`` pins for s3://."""
    import os

    import pyarrow.parquet as pq

    from tile_processor_spark.sources.snapshots import _read_manifest, list_versions

    path = str(tmp_path / "p_tbl")
    register(spark)
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "g string, k long"
    ).repartition(2)
    df.write.format("tps_snapshot").option("path", path).option(
        "partition_by", "g"
    ).mode("overwrite").save()
    man = _read_manifest(path, list_versions(path)[-1])
    assert man["partition_by"] == ["g"]
    assert man["files"]
    for f in man["files"]:
        rel = os.path.relpath(f, man["base"]).split(os.sep)
        assert len(rel) == 2 and rel[0] in ("g=a", "g=b"), rel
        assert "g" not in pq.read_schema(f).names
    assert _rows(
        read_snapshot(spark, path, partition_filter={"g": "a"})
    ) == [("a", 1), ("a", 3)]
    assert _rows(_read(spark, path)) == [("a", 1), ("a", 3), ("b", 2)]

    w = df.write.format("tps_snapshot").option("path", str(tmp_path / "bad"))
    with pytest.raises(Exception, match="not in the written"):
        w.option("partition_by", "nope").mode("overwrite").save()
    with pytest.raises(Exception, match="every column"):
        w.option("partition_by", "g,k").mode("overwrite").save()


def test_writer_feeds_version_stream(spark, tmp_path):
    path = str(tmp_path / "ws_tbl")
    register(spark)
    spark.createDataFrame([(1, "a")], "k long, s string").write.format(
        "tps_snapshot"
    ).option("path", path).mode("append").save()
    q = (
        spark.readStream.format("tps_snapshot")
        .option("path", path)
        .load()
        .writeStream.format("memory")
        .queryName("ws_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame([(2, "b")], "k long, s string").write.format(
            "tps_snapshot"
        ).option("path", path).mode("append").save()
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql("SELECT * FROM ws_stream").collect())
        assert got == [(1, "a"), (2, "b")]
    finally:
        q.stop()


def test_stream_sink_commits_versions(spark, tmp_path):
    """rate-limited source → tps_snapshot sink: each micro-batch lands
    as an append version; a replayed batchId is dropped (idempotent
    commit). Uses the memory→file shape via a MemoryStream-less path:
    readStream from one snapshot table INTO another — source and sink
    both this connector."""
    import time as _t

    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        append_snapshot,
        list_versions,
    )

    src_tbl = str(tmp_path / "src_tbl")
    dst_tbl = str(tmp_path / "dst_tbl")
    register(spark)
    append_snapshot(spark.createDataFrame([(1, "a")], "k long, s string"), src_tbl)
    q = (
        spark.readStream.format("tps_snapshot")
        .option("path", src_tbl)
        .load()
        .writeStream.format("tps_snapshot")
        .option("path", dst_tbl)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        append_snapshot(
            spark.createDataFrame([(2, "b")], "k long, s string"), src_tbl
        )
        q.processAllAvailable()
        deadline = _t.time() + 30
        while _t.time() < deadline:
            if list_versions(dst_tbl) and sorted(
                tuple(r) for r in read_snapshot(spark, dst_tbl).collect()
            ) == [(1, "a"), (2, "b")]:
                break
            _t.sleep(0.5)
        assert _rows(read_snapshot(spark, dst_tbl)) == [(1, "a"), (2, "b")]
        man = _read_manifest(dst_tbl, list_versions(dst_tbl)[-1])
        assert "stream_batch_id" in man and man["appended_files"]
    finally:
        q.stop()

    # replayed batch id: committing the same batchId again is a no-op
    from tile_processor_spark.sources.snapshot_datasource import SnapshotStreamWriter

    schema = read_snapshot(spark, dst_tbl).schema
    w = SnapshotStreamWriter(schema, {"path": dst_tbl}, overwrite=False)
    last_batch = _read_manifest(dst_tbl, list_versions(dst_tbl)[-1])["stream_batch_id"]
    before = list_versions(dst_tbl)
    w.commit([], last_batch)
    assert list_versions(dst_tbl) == before  # dropped, no new version


def test_concurrent_appends_both_commit(spark, tmp_path):
    """Two appends racing on the version number must BOTH land
    (optimistic concurrency: appends commute; the race loser retries
    on top of the winner) — the multi-writer ingest contract."""
    import threading

    from tile_processor_spark.sources.snapshots import append_snapshot

    path = str(tmp_path / "race_tbl")
    append_snapshot(spark.createDataFrame([(0, "seed")], "k long, s string"), path)

    # force the interleaving deterministically: monkeypatch the commit
    # helper so the FIRST committer sleeps between manifest build and
    # link, guaranteeing the second lands first and the first retries
    import tile_processor_spark.sources.snapshots as snaps

    real_commit = snaps._commit_manifest
    slow_once = threading.Event()

    def contended_commit(table_path, manifest, version):
        if not slow_once.is_set():
            slow_once.set()
            import time as _t

            _t.sleep(1.5)  # the other thread commits this version first
        return real_commit(table_path, manifest, version)

    errs: list[Exception] = []

    def do_append(tag):
        try:
            append_snapshot(
                spark.createDataFrame([(hash(tag) % 100, tag)], "k long, s string"),
                path,
            )
        except Exception as e:  # pragma: no cover - the failure case
            errs.append(e)

    snaps._commit_manifest = contended_commit
    try:
        t1 = threading.Thread(target=do_append, args=("alpha",))
        t2 = threading.Thread(target=do_append, args=("beta",))
        t1.start(); t2.start(); t1.join(); t2.join()
    finally:
        snaps._commit_manifest = real_commit
    assert not errs, errs
    got = {r.s for r in read_snapshot(spark, path).collect()}
    assert got == {"seed", "alpha", "beta"}


def test_binpacked_partitions_scale_with_bytes(spark, tmp_path):
    """Task count must scale with BYTES, not file count: many small
    files bin-pack into few input partitions at the default target,
    split apart at a tiny target, and never group across a Hive
    partition boundary."""
    from tile_processor_spark.sources.snapshot_datasource import (
        _FileGroupPartition,
    )

    path = str(tmp_path / "bp_tbl")
    df = spark.createDataFrame(
        [("a", i) for i in range(20)] + [("b", i) for i in range(20)],
        "grp string, k long",
    ).repartition(10)
    # the connector's tasks each write one small file per partition
    # value they hold (write_snapshot clusters by value first)
    register(spark)
    df.write.format("tps_snapshot").option("path", path).option(
        "partition_by", "grp"
    ).mode("overwrite").save()
    schema = _read(spark, path).schema
    default_parts = SnapshotReader(schema, {"path": path}).partitions()
    n_files = sum(len(p.files) for p in default_parts)
    assert n_files >= 10
    # default 128 MB target: one group per Hive partition value
    assert len(default_parts) == 2
    assert all(isinstance(p, _FileGroupPartition) for p in default_parts)
    values = {tuple(sorted(p.part_values.items())) for p in default_parts}
    assert values == {(("grp", "a"),), (("grp", "b"),)}
    # a 1-byte target forces one file per partition — the split works
    tiny = SnapshotReader(
        schema, {"path": path, "target_partition_bytes": "1"}
    ).partitions()
    assert len(tiny) == n_files
    # rows and values identical either way
    assert _rows(_read(spark, path)) == _rows(read_snapshot(spark, path))
    assert _rows(
        _read(spark, path, target_partition_bytes="1")
    ) == _rows(read_snapshot(spark, path))


def test_version_stream_over_partitioned_appends(spark, tmp_path):
    """The version stream must carry Hive partition values for
    partitioned appends (the data files themselves don't store the
    partition column)."""
    from tile_processor_spark.sources.snapshots import append_snapshot

    path = str(tmp_path / "pstream_tbl")
    v1 = write_snapshot(
        spark.createDataFrame([("a", 1)], "grp string, k long"),
        path,
        partition_by=["grp"],
    )
    register(spark)
    q = (
        spark.readStream.format("tps_snapshot")
        .option("path", path)
        .option("starting_version", str(v1))
        .load()
        .writeStream.format("memory")
        .queryName("pstream")
        .start()
    )
    try:
        q.processAllAvailable()
        append_snapshot(
            spark.createDataFrame([("b", 2), ("a", 3)], "grp string, k long"), path
        )
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql("SELECT * FROM pstream").collect())
        assert got == [("a", 3), ("b", 2)]
    finally:
        q.stop()


def test_stream_replay_dropped_after_interleaved_append(spark, tmp_path):
    """ADVICE r10: a replayed micro-batch is dropped even when another
    append commits BETWEEN the batch's original commit and its replay —
    the high-water mark is carried forward by every commit, so the
    evidence survives (a latest-manifest-only marker check would not)."""
    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotStreamWriter,
        _WriteMessage,
    )
    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        list_versions,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    append_snapshot(df, tbl)  # v1
    w = SnapshotStreamWriter(df.schema, {"path": tbl}, overwrite=False)

    def staged(tag):
        d = tmp_path / tag
        df.write.parquet(str(d))
        return [
            _WriteMessage([(str(p), None)]) for p in sorted(d.glob("*.parquet"))
        ]

    w.commit(staged("b0"), 0)  # v2: batch 0
    append_snapshot(df, tbl)   # v3: interleaved non-stream append
    before = list_versions(tbl)
    rows_before = read_snapshot(spark, tbl).count()
    w.commit(staged("b0_replay"), 0)  # replay of batch 0: must drop
    assert list_versions(tbl) == before
    assert read_snapshot(spark, tbl).count() == rows_before
    # distinct app ids don't block each other
    w2 = SnapshotStreamWriter(
        df.schema, {"path": tbl, "stream_app_id": "other"}, overwrite=False
    )
    w2.commit(staged("other_b0"), 0)
    assert read_snapshot(spark, tbl).count() == rows_before + 1


def test_partitioned_batch_append_via_connector(spark, tmp_path):
    """VERDICT r10 worklist #3: mode('append') on a PARTITIONED table —
    tasks write per-partition-value files straight into the table's
    Hive tree, and pruned reads + time travel keep working across
    appends."""
    from tile_processor_spark.sources.snapshots import write_snapshot

    register(spark)
    tbl = str(tmp_path / "ptbl")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, grp string"),
        tbl,
        partition_by=["grp"],
    )
    spark.createDataFrame(
        [(3, "a"), (4, "c")], "k int, grp string"
    ).write.format("tps_snapshot").option("path", tbl).mode("append").save()  # v2
    got = read_snapshot(spark, tbl)
    assert _rows(got.select("k", "grp")) == [
        (1, "a"), (2, "b"), (3, "a"), (4, "c")
    ]
    # manifest-level pruning sees the appended partition values
    assert _rows(
        read_snapshot(spark, tbl, partition_filter={"grp": "a"}).select("k")
    ) == [(1,), (3,)]
    assert _rows(
        read_snapshot(spark, tbl, partition_filter={"grp": "c"}).select("k")
    ) == [(4,)]
    # time travel: pre-append state intact
    assert read_snapshot(spark, tbl, version=1).count() == 2
    # the connector READ path agrees (partition values from dir names)
    via_connector = (
        spark.read.format("tps_snapshot").option("path", tbl).load()
    )
    assert _rows(via_connector.select("k", "grp")) == [
        (1, "a"), (2, "b"), (3, "a"), (4, "c")
    ]


def test_partitioned_table_to_table_stream(spark, tmp_path):
    """Table-to-table streaming pipeline with a PARTITIONED sink: the
    stream writer routes every micro-batch into the table's tree,
    the appended version carries Hive partition values, and a pruned
    read of the sink works."""
    import time as _t

    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        list_versions,
        write_snapshot,
    )

    register(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    append_snapshot(
        spark.createDataFrame([(1, "a")], "k long, grp string"), src
    )
    # sink: partitioned, starts with one row
    write_snapshot(
        spark.createDataFrame([(0, "a")], "k long, grp string"),
        dst,
        partition_by=["grp"],
    )
    q = (
        spark.readStream.format("tps_snapshot")
        .option("path", src)
        .load()
        .writeStream.format("tps_snapshot")
        .option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        append_snapshot(
            spark.createDataFrame([(2, "b")], "k long, grp string"), src
        )
        q.processAllAvailable()
        deadline = _t.time() + 30
        while _t.time() < deadline:
            if read_snapshot(spark, dst).count() == 3:
                break
            _t.sleep(0.5)
    finally:
        q.stop()
    assert _rows(read_snapshot(spark, dst).select("k", "grp")) == [
        (0, "a"), (1, "a"), (2, "b")
    ]
    # pruned read of the streamed-into partition
    assert _rows(
        read_snapshot(spark, dst, partition_filter={"grp": "b"}).select("k")
    ) == [(2,)]
    # the appended versions are append commits (version-streamable)
    from tile_processor_spark.sources.snapshots import _read_manifest

    last = _read_manifest(dst, list_versions(dst)[-1])
    assert last.get("appended_files")
    assert all(f.startswith(last["base"] + "/grp=") for f in last["appended_files"])


def test_partitioned_stream_replay_dropped(spark, tmp_path):
    """Replay idempotence holds on the partitioned sink path too (the
    staged files of a dropped replay stay invisible orphans)."""
    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotStreamWriter,
    )
    from tile_processor_spark.sources.snapshots import (
        list_versions,
        write_snapshot,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, grp string")
    write_snapshot(df, tbl, partition_by=["grp"])
    w = SnapshotStreamWriter(df.schema, {"path": tbl}, overwrite=False)

    def staged_msgs(tag):
        # simulate one task's write() output
        import pyarrow as pa

        it = iter(
            pa.Table.from_pylist(
                [{"k": 2, "grp": "b"}],
                schema=pa.schema([("k", pa.int64()), ("grp", pa.string())]),
            ).to_batches()
        )
        return [w.write(it)]

    w.commit(staged_msgs("b0"), 0)
    assert read_snapshot(spark, tbl).count() == 2
    before = list_versions(tbl)
    w.commit(staged_msgs("b0_replay"), 0)  # replay: dropped
    assert list_versions(tbl) == before
    assert read_snapshot(spark, tbl).count() == 2


def test_hive_chain_escaping_roundtrip(spark, tmp_path):
    """Partition values with Hive-special characters ('=', '/', '%')
    survive the connector append → dir chain → read round trip."""
    from tile_processor_spark.sources.snapshots import write_snapshot

    register(spark)
    tbl = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a=b/c%d")], "k int, grp string"),
        tbl,
        partition_by=["grp"],
    )
    spark.createDataFrame(
        [(2, "a=b/c%d")], "k int, grp string"
    ).write.format("tps_snapshot").option("path", tbl).mode("append").save()
    assert _rows(read_snapshot(spark, tbl).select("k", "grp")) == [
        (1, "a=b/c%d"), (2, "a=b/c%d")
    ]
    assert _rows(
        read_snapshot(
            spark, tbl, partition_filter={"grp": "a=b/c%d"}
        ).select("k")
    ) == [(1,), (2,)]


def test_connector_append_null_partition_value_raises(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import write_snapshot

    register(spark)
    tbl = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, grp string"),
        tbl,
        partition_by=["grp"],
    )
    with pytest.raises(Exception, match="NULL value for partition column"):
        spark.createDataFrame(
            [(2, None)], "k int, grp string"
        ).write.format("tps_snapshot").option("path", tbl).mode(
            "append"
        ).save()


@pytest.mark.parametrize("g_type", ["string", "int"])
def test_connector_reads_null_partition_as_null(spark, tmp_path, g_type):
    """A NULL partition value lands in Spark's
    ``__HIVE_DEFAULT_PARTITION__`` directory; the connector reads it
    back as a null of the committed type, exactly like read_snapshot
    (not the directory string, and no cast failure for an int column)."""
    register(spark)
    tbl = str(tmp_path / "tbl")
    g = "a" if g_type == "string" else 7
    write_snapshot(
        spark.createDataFrame([(1, g), (2, None)], f"k int, g {g_type}"),
        tbl,
        partition_by=["g"],
    )
    via_fn = read_snapshot(spark, tbl)
    via_ds = _read(spark, tbl)
    assert via_ds.schema == via_fn.schema
    assert _rows(via_ds.select("k", "g")) == _rows(via_fn.select("k", "g"))
    assert (2, None) in _rows(via_ds.select("k", "g"))


def test_stream_commit_refuses_racing_schema_rewrite(spark, tmp_path):
    """ADVICE r11: the stream writer captures the committed schema at
    construction and passes it to commit_append, so a rewrite with a
    DIFFERENT schema racing a micro-batch raises instead of committing
    a manifest whose declared schema doesn't match the appended files
    (mirrors the batch writer's expected_schema contract)."""
    import pytest

    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotStreamWriter,
        _WriteMessage,
    )
    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        write_snapshot,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    append_snapshot(df, tbl)  # v1
    w = SnapshotStreamWriter(df.schema, {"path": tbl}, overwrite=False)

    d = tmp_path / "b0"
    df.write.parquet(str(d))
    msgs = [_WriteMessage([(str(p), None)]) for p in sorted(d.glob("*.parquet"))]

    # racing rewrite changes the schema before the micro-batch commits
    write_snapshot(
        spark.createDataFrame([(1, 2.5)], "k long, x double"), tbl
    )
    with pytest.raises(ValueError, match="schema"):
        w.commit(msgs, 0)
    # same-schema rewrite does NOT block the stream
    write_snapshot(df, tbl)
    w.commit(msgs, 0)
    assert read_snapshot(spark, tbl).count() == 2


def test_reader_class_selection_by_pushdown_option(spark, tbl):
    from pyspark.sql.datasource import DataSourceReader

    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
        SnapshotPushdownReader,
    )

    ds = SnapshotDataSource(options={"path": tbl})
    assert type(ds.reader(ds.schema())) is SnapshotPushdownReader
    ds_off = SnapshotDataSource(options={"path": tbl, "pushdown": "false"})
    assert type(ds_off.reader(ds_off.schema())) is SnapshotReader
    assert "pushFilters" not in SnapshotReader.__dict__
    assert (
        SnapshotPushdownReader.pushFilters is not DataSourceReader.pushFilters
    )


def test_ensure_pushdown_conf_respects_explicit_pin(spark):
    """register()'s conf enablement (both connectors route through
    ensure_python_pushdown_conf) flips the conf ONLY when the session
    never set it: an explicit admin pin — either value — is respected
    (ADVICE r13), with .option('pushdown','false') as the documented
    escape hatch for pinned-false environments."""
    from tile_processor_spark.sources.ds_conf import (
        ensure_python_pushdown_conf,
    )

    key = "spark.sql.python.filterPushdown.enabled"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")  # explicit pin
        ensure_python_pushdown_conf(spark)
        assert spark.conf.get(key) == "false"
        spark.conf.unset(key)  # never set -> enablement kicks in
        ensure_python_pushdown_conf(spark)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, orig)


def test_stream_writer_refuses_drifted_schema_at_construction(spark, tmp_path):
    """Round 15 (ADVICE r14 symmetry): the LOCAL stream sink validates
    its writer schema against the committed table at construction,
    like the batch writer and the s3 sink — a drifted streaming query
    must refuse before any object is appended, not depend on
    commit_append's committed-vs-fresh guard (which only fires if a
    rewrite races the batch)."""
    import pytest

    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotStreamWriter,
    )
    from tile_processor_spark.sources.snapshots import append_snapshot

    tbl = str(tmp_path / "tbl")
    append_snapshot(
        spark.createDataFrame([(1, "a")], "k long, s string"), tbl
    )
    with pytest.raises(ValueError, match="does not match committed"):
        SnapshotStreamWriter(
            spark.createDataFrame([(1,)], "k long").schema,
            {"path": tbl},
            overwrite=False,
        )
    # matching schema still constructs
    SnapshotStreamWriter(
        spark.createDataFrame([(2, "b")], "k long, s string").schema,
        {"path": tbl},
        overwrite=False,
    )
