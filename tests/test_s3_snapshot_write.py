"""S3-NATIVE snapshot writes (round 14): the connector commits straight
against an ``s3://`` path — executors PUT parquet objects, the driver
publishes the manifest via conditional PUT (``If-None-Match: *``), and
appends retry optimistically on a lost version race — proven against
the signature-verifying fake endpoint. The read half (round 13) then
consumes what the write half produced: every test reads back through
the same S3 read plane.
"""

from __future__ import annotations

import json

import pytest

from tests.test_s3_commit_fs import ACCESS, REGION, SECRET

BUCKET = "tbl-bucket"


@pytest.fixture()
def fake_s3():
    from tile_processor_spark.testing.fake_s3 import start_fake_s3

    srv = start_fake_s3(ACCESS, SECRET)
    try:
        yield srv
    finally:
        srv.shutdown()
        srv.server_close()


def _s3_opts(srv, prefix: str) -> dict:
    host, port = srv.server_address
    return {
        "path": f"s3://{BUCKET}/{prefix}",
        "s3_endpoint": f"http://{host}:{port}",
        "s3_access_key": ACCESS,
        "s3_secret_key": SECRET,
        "s3_region": REGION,
    }


def _write(df, srv, prefix: str, mode: str) -> None:
    df.write.format("tps_snapshot").options(**_s3_opts(srv, prefix)).mode(
        mode
    ).save()


def _read(spark, srv, prefix: str, **extra):
    r = spark.read.format("tps_snapshot")
    for k, v in {**_s3_opts(srv, prefix), **extra}.items():
        r = r.option(k, v)
    return r.load()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _client(srv):
    from tile_processor_spark.sources.s3_client import S3Client

    host, port = srv.server_address
    return S3Client(f"http://{host}:{port}", BUCKET, ACCESS, SECRET, region=REGION)


@pytest.fixture(autouse=True)
def _register(spark):
    from tile_processor_spark.sources.snapshot_datasource import register

    register(spark)


def test_s3_write_read_roundtrip_and_append(spark, fake_s3):
    """First write creates v1; mode('append') commits v2 referencing
    v1's objects untouched plus the delta; both versions time-travel
    through the S3 read plane; schema (committed dtypes) round-trips."""
    prefix = "warehouse/native"
    df1 = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "k long, s string, v double"
    )
    _write(df1, fake_s3, prefix, "overwrite")
    got1 = _read(spark, fake_s3, prefix)
    assert [f.dataType.simpleString() for f in got1.schema.fields] == [
        "bigint", "string", "double",
    ]
    assert _rows(got1) == [(1, "a", 1.5), (2, "b", 2.5)]

    df2 = spark.createDataFrame([(3, "c", 3.5)], "k long, s string, v double")
    _write(df2, fake_s3, prefix, "append")
    assert _rows(_read(spark, fake_s3, prefix)) == [
        (1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5),
    ]
    # time travel: v1 unchanged
    assert _rows(_read(spark, fake_s3, prefix, version="1")) == [
        (1, "a", 1.5), (2, "b", 2.5),
    ]
    # the append manifest records the delta for the version stream
    m2 = json.loads(_client(fake_s3).get_object(f"{prefix}/manifest-v00000002.json"))
    assert m2["appended_to"] == 1 and len(m2["appended_files"]) >= 1
    assert set(m2["appended_files"]) < set(m2["files"])
    # native manifests carry the virtual root; files re-root under it
    assert m2["root"] == f"/{BUCKET}/{prefix}"
    assert all(f.startswith(m2["root"] + "/data/") for f in m2["files"])
    assert not fake_s3.rejections  # every request signature-verified


def test_s3_write_overwrite_replaces_state(spark, fake_s3):
    prefix = "warehouse/native_ow"
    _write(spark.createDataFrame([(1,)], "k long"), fake_s3, prefix, "overwrite")
    _write(spark.createDataFrame([(9,)], "k long"), fake_s3, prefix, "overwrite")
    assert _rows(_read(spark, fake_s3, prefix)) == [(9,)]
    assert _rows(_read(spark, fake_s3, prefix, version="1")) == [(1,)]


def test_s3_write_stats_enable_data_skipping(spark, fake_s3):
    """Executor-side Arrow stats land in the manifest as file_stats in
    the same shape as the local footer collector — the pushdown reader
    then excludes whole objects from planning (`df.filter` compiles to
    min/max exclusions)."""
    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotPushdownReader,
    )

    prefix = "warehouse/native_stats"
    # two range-clustered appends -> two files with disjoint k ranges
    _write(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "k long, v double").coalesce(1),
        fake_s3, prefix, "overwrite",
    )
    _write(
        spark.createDataFrame([(i, float(i)) for i in range(100, 110)],
                              "k long, v double").coalesce(1),
        fake_s3, prefix, "append",
    )
    m2 = json.loads(_client(fake_s3).get_object(f"{prefix}/manifest-v00000002.json"))
    stats = m2.get("file_stats") or {}
    assert len(stats) == 2 and all("k" in s and "v" in s for s in stats.values())

    schema = _read(spark, fake_s3, prefix).schema
    rdr = SnapshotPushdownReader(schema, dict(_s3_opts(fake_s3, prefix)))
    list(rdr.pushFilters([]))  # no filters -> no exclusions
    all_parts = rdr.partitions()
    rdr2 = SnapshotPushdownReader(schema, dict(_s3_opts(fake_s3, prefix)))
    rdr2._where = [("k", ">=", 100)]
    pruned = rdr2.partitions()
    assert sum(len(p.files) for p in pruned) < sum(len(p.files) for p in all_parts)
    got = _read(spark, fake_s3, prefix).filter("k >= 100")
    assert got.count() == 10  # skipping is an optimization, never semantics


def test_s3_concurrent_appends_both_land(spark, fake_s3):
    """The lost-race path: two append jobs racing on the version number
    — the loser's conditional PUT answers 412, it re-reads the fresh
    manifest and retries on top. Both deltas must land, in some order."""
    from concurrent.futures import ThreadPoolExecutor

    prefix = "warehouse/native_race"
    _write(spark.createDataFrame([(0,)], "k long"), fake_s3, prefix, "overwrite")

    def _append(k: int) -> None:
        _write(spark.createDataFrame([(k,)], "k long"), fake_s3, prefix, "append")

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(_append, [1, 2]))
    assert _rows(_read(spark, fake_s3, prefix)) == [(0,), (1,), (2,)]
    # three versions, each time-travelable
    assert _rows(_read(spark, fake_s3, prefix, version="3")) == [(0,), (1,), (2,)]


def test_s3_append_schema_mismatch_refuses(spark, fake_s3):
    prefix = "warehouse/native_schema"
    _write(spark.createDataFrame([(1, "a")], "k long, s string"),
           fake_s3, prefix, "overwrite")
    with pytest.raises(Exception, match="does not match committed"):
        _write(spark.createDataFrame([(2,)], "k long"), fake_s3, prefix, "append")


def test_s3_committer_append_on_top_of_concurrent_commit(fake_s3, spark, tmp_path):
    """Unit-level: a committer that staged its objects, then lost the
    race to a concurrent append, retries and commits a manifest whose
    file list includes BOTH deltas (commit_append's commute contract)."""
    from tile_processor_spark.sources.snapshot_store import open_store
    from tile_processor_spark.sources.snapshots import commit_append

    prefix = "warehouse/native_unit"
    _write(spark.createDataFrame([(1,)], "k long"), fake_s3, prefix, "overwrite")
    store = open_store(f"s3://{BUCKET}/{prefix}", _s3_opts(fake_s3, prefix))
    schema_json = store.manifest(1)["schema"]
    c = _client(fake_s3)
    # our staged delta object
    import pyarrow as pa
    import pyarrow.parquet as pq
    import io

    buf = io.BytesIO()
    pq.write_table(pa.table({"k": pa.array([7], pa.int64())}), buf)
    key = f"{prefix}/data/unitsnap/part-unit.parquet"
    c.put_object(key, buf.getvalue())
    # a CONCURRENT append lands v2 before our commit
    _write(spark.createDataFrame([(5,)], "k long"), fake_s3, prefix, "append")
    v = commit_append(
        store, [store.vpath(key)], expected_schema=schema_json, file_stats={}
    )
    assert v == 3
    assert _rows(_read(spark, fake_s3, prefix)) == [(1,), (5,), (7,)]


def test_s3_stream_sink_exactly_once_and_roundtrip(spark, fake_s3, tmp_path):
    """End-to-end: a local snapshot version-stream feeds the s3-native
    streaming sink; each micro-batch lands as one append commit; a
    REPLAYED batch id is dropped (high-water carried in every
    manifest), so retries cannot duplicate rows."""
    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotStreamWriter,
    )
    from tile_processor_spark.sources.snapshots import append_snapshot

    src = str(tmp_path / "src")
    append_snapshot(spark.createDataFrame([(1, "a")], "k long, s string"), src)
    append_snapshot(spark.createDataFrame([(2, "b")], "k long, s string"), src)
    prefix = "warehouse/native_sink"
    reader = spark.readStream.format("tps_snapshot").option("path", src)
    writer = reader.load().writeStream.format("tps_snapshot")
    for k, v in _s3_opts(fake_s3, prefix).items():
        writer = writer.option(k, v)
    writer = writer.option("stream_app_id", "t1").option(
        "checkpointLocation", str(tmp_path / "ckpt")
    )
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _rows(_read(spark, fake_s3, prefix)) == [(1, "a"), (2, "b")]

    # replay the last committed batch id directly against the sink:
    # the high-water check must drop it without a new version
    store_versions_before = len(
        [k for k in _client(fake_s3).list_objects(prefix + "/")
         if "manifest-v" in k]
    )
    head = json.loads(
        _client(fake_s3).get_object(
            f"{prefix}/manifest-v{store_versions_before:08d}.json"
        )
    )
    last_batch = head["stream_high_water"]["t1"]
    sink = SnapshotStreamWriter(
        _read(spark, fake_s3, prefix).schema,
        {**_s3_opts(fake_s3, prefix), "stream_app_id": "t1"},
        False,
    )

    from tile_processor_spark.sources.snapshot_datasource import _WriteMessage

    key = f"{prefix}/data/replayed/part-x.parquet"
    _client(fake_s3).put_object(key, b"replayed bytes")
    sink.commit([_WriteMessage([(sink._store.vpath(key), None)])], last_batch)  # replay -> dropped
    manifests_after = [
        k for k in _client(fake_s3).list_objects(prefix + "/")
        if "manifest-v" in k
    ]
    assert len(manifests_after) == store_versions_before  # no new version
    assert _rows(_read(spark, fake_s3, prefix)) == [(1, "a"), (2, "b")]
    assert not fake_s3.rejections


def test_s3_aborted_objects_age_into_vacuum(spark, fake_s3):
    """A failed/aborted write's objects are invisible; once aged past
    the retention window, vacuum_store reclaims them even though no
    manifest's base covers their snap prefix (round 14: the table's own
    data/ prefix is always a reclaim candidate)."""
    import time

    from tile_processor_spark.sources.snapshots import vacuum

    prefix = "warehouse/native_orphans"
    _write(spark.createDataFrame([(1,)], "k long"), fake_s3, prefix, "overwrite")
    c = _client(fake_s3)
    orphan = f"{prefix}/data/crashedsnap/part-orphan.parquet"
    c.put_object(orphan, b"orphaned bytes")
    fake_s3.mtimes[orphan] = time.time() - 7200
    out = vacuum(
        f"s3://{BUCKET}/{prefix}",
        keep_last=2,
        claim_ttl_s=3600,
        s3_options={k: v for k, v in _s3_opts(fake_s3, prefix).items() if k != "path"},
    )
    assert out["files_removed"] == 1
    assert orphan not in c.list_objects(prefix + "/")
    assert _rows(_read(spark, fake_s3, prefix)) == [(1,)]


def test_s3_stream_born_table_base_and_vacuum_scope(spark, fake_s3, tmp_path):
    """A table born by the stream sink records the sink's own
    ``data/stream-<uuid>`` snap prefix as its ``base``, and every file
    the stream commits sits under it. vacuum_store's scope is the
    table's data/ prefix either way: it reclaims exactly the aged
    unreferenced parquet objects under data/ (in the stream prefix or
    a sibling one) and keeps the committed files and foreign objects."""
    import time

    from tile_processor_spark.sources.snapshots import vacuum
    from tile_processor_spark.sources.snapshots import append_snapshot

    src = str(tmp_path / "src")
    append_snapshot(spark.createDataFrame([(1, "a")], "k long, s string"), src)
    append_snapshot(spark.createDataFrame([(2, "b")], "k long, s string"), src)
    prefix = "warehouse/stream_born"
    writer = (
        spark.readStream.format("tps_snapshot").option("path", src).load()
        .repartition(2).writeStream.format("tps_snapshot")
    )
    for k, v in _s3_opts(fake_s3, prefix).items():
        writer = writer.option(k, v)
    q = writer.option("checkpointLocation", str(tmp_path / "ckpt")).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    c = _client(fake_s3)
    m1 = json.loads(c.get_object(f"{prefix}/manifest-v00000001.json"))
    assert m1["base"].startswith(f"{m1['root']}/data/stream-")
    assert m1["base"].count("/") == m1["root"].count("/") + 2
    head_v = max(
        int(k[-13:-5]) for k in c.list_objects(prefix + "/") if "manifest-v" in k
    )
    head = json.loads(c.get_object(f"{prefix}/manifest-v{head_v:08d}.json"))
    assert head["files"]
    assert all(f.startswith(m1["base"] + "/") for f in head["files"])

    stream_key = prefix + m1["base"][len(m1["root"]):]
    orphans = {
        f"{stream_key}/part-orphan.parquet",
        f"{prefix}/data/othersnap/part-orphan.parquet",
    }
    foreign = f"{stream_key}/notes.txt"
    for key in orphans | {foreign}:
        c.put_object(key, b"bytes")
    for key in c.list_objects(prefix + "/"):
        fake_s3.mtimes[key] = time.time() - 7200
    out = vacuum(
        f"s3://{BUCKET}/{prefix}",
        keep_last=head_v,
        claim_ttl_s=3600,
        s3_options={k: v for k, v in _s3_opts(fake_s3, prefix).items() if k != "path"},
    )
    assert out["files_removed"] == len(orphans)
    left = set(c.list_objects(prefix + "/"))
    assert not orphans & left and foreign in left
    assert _rows(_read(spark, fake_s3, prefix)) == [(1, "a"), (2, "b")]
    assert not fake_s3.rejections


def test_s3_write_survives_injected_throttle(spark, fake_s3):
    """503 SlowDown on a data PUT (executor) and on the manifest's
    conditional PUT (driver) must not fail the commit — a received 5xx
    means the server did NOT perform the operation, retriable for
    every verb including conditional writes."""
    prefix = "warehouse/native_throttle"
    fake_s3.faults.extend(
        [
            {"verb": "PUT", "status": 503, "code": "SlowDown"},
            {"verb": "PUT", "status": 503, "code": "SlowDown",
             "path_substr": "manifest-v"},
        ]
    )
    _write(spark.createDataFrame([(1,), (2,)], "k long"),
           fake_s3, prefix, "overwrite")
    assert _rows(_read(spark, fake_s3, prefix)) == [(1,), (2,)]
    assert len(fake_s3.fault_hits) == 2  # both throttles actually served
    assert not fake_s3.rejections


def test_s3_commit_ambiguous_failure_propagates(spark, fake_s3):
    """A torn connection during the manifest's CONDITIONAL PUT leaves
    the outcome ambiguous; the committer must FAIL LOUDLY (job error)
    rather than blind-retry — a retry that then sees 412 cannot tell
    our own landed manifest from a lost race. The staged data objects
    stay invisible orphans for vacuum_store's retention sweep."""
    import pytest as _pytest

    from tile_processor_spark.sources.snapshot_store import open_store
    from tile_processor_spark.sources.snapshots import _commit_overwrite

    prefix = "warehouse/native_torn"
    store = open_store(f"s3://{BUCKET}/{prefix}", _s3_opts(fake_s3, prefix))
    c = _client(fake_s3)
    key = f"{prefix}/data/tornsnap/part-a.parquet"
    c.put_object(key, b"staged bytes")
    fake_s3.faults.append(
        {"verb": "PUT", "kind": "close", "path_substr": "manifest-v"}
    )
    with _pytest.raises(Exception):
        _commit_overwrite(store, [store.vpath(key)],
                          '{"type":"struct","fields":[]}',
                          f"{store.root}/data/tornsnap", [], {})
    assert len(fake_s3.fault_hits) == 1
    # no manifest landed (the fake dropped the connection before
    # applying the PUT), the table stays nonexistent, data stays staged
    assert not [k for k in c.list_objects(prefix + "/") if "manifest-v" in k]
    assert key in c.list_objects(prefix + "/")


def test_s3_commit_ambiguity_resolved_by_readback(spark, fake_s3):
    """A connection that dies AFTER the manifest's conditional PUT
    landed leaves the outcome ambiguous; the store's publish reads the
    key back, finds its own bytes, and reports the commit — raising
    here would make a retrying caller append the same delta twice."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tile_processor_spark.sources.snapshot_store import open_store
    from tile_processor_spark.sources.snapshots import commit_append

    prefix = "warehouse/native_landed"
    _write(spark.createDataFrame([(1,)], "k long"), fake_s3, prefix, "overwrite")
    store = open_store(f"s3://{BUCKET}/{prefix}", _s3_opts(fake_s3, prefix))
    buf = io.BytesIO()
    pq.write_table(pa.table({"k": pa.array([7], pa.int64())}), buf)
    key = f"{prefix}/data/landedsnap/part-a.parquet"
    c = _client(fake_s3)
    c.put_object(key, buf.getvalue())

    client = store.client()
    orig_put = client.put_object

    def dying_put(key, body, if_none_match=False):
        orig_put(key, body, if_none_match=if_none_match)  # PUT lands...
        raise ConnectionError("socket died after the server committed")

    client.put_object = dying_put
    try:
        v = commit_append(
            store, [store.vpath(key)],
            expected_schema=store.manifest(1)["schema"], file_stats={},
        )
    finally:
        client.put_object = orig_put
    assert v == 2
    assert [k for k in c.list_objects(prefix + "/") if "manifest-v" in k] == [
        f"{prefix}/manifest-v00000001.json",
        f"{prefix}/manifest-v00000002.json",
    ]
    assert _rows(_read(spark, fake_s3, prefix)) == [(1,), (7,)]


def test_s3_partitioned_overwrite_write_and_pruned_read(spark, fake_s3):
    """Partitioned s3-native CREATE: .option('partition_by', 'status')
    makes executors PUT one object per occupied partition value under
    a Hive col=val key chain; the manifest records the scheme, so the
    round-13 reader's driver-side partition pruning and committed-dtype
    re-attachment work unchanged on a native table."""
    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotReader,
    )

    prefix = "warehouse/native_part"
    df = spark.createDataFrame(
        [("F", 1, 10.0), ("F", 2, 20.0), ("O", 3, 30.0), ("P", 4, 40.0)],
        "status string, k long, v double",
    )
    (
        df.write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, prefix))
        .option("partition_by", "status")
        .mode("overwrite")
        .save()
    )
    # partition columns live in the KEY CHAIN, not the data bytes
    keys = _client(fake_s3).list_objects(prefix + "/data/")
    assert keys and all("status=" in k for k in keys)

    got = _read(spark, fake_s3, prefix)
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        "string", "bigint", "double",
    ]
    assert _rows(got.select("status", "k", "v")) == [
        ("F", 1, 10.0), ("F", 2, 20.0), ("O", 3, 30.0), ("P", 4, 40.0),
    ]
    # manifest-level pruning: the F read PLANS fewer input partitions
    schema = got.schema
    opts = _s3_opts(fake_s3, prefix)
    all_parts = SnapshotReader(schema, dict(opts)).partitions()
    pruned = SnapshotReader(
        schema, {**opts, "partition_filter": '{"status": "F"}'}
    ).partitions()
    assert 0 < len(pruned) < len(all_parts)
    got_f = _read(spark, fake_s3, prefix, partition_filter='{"status": "F"}')
    assert _rows(got_f.select("k")) == [(1,), (2,)]
    assert not fake_s3.rejections


def test_s3_partitioned_append_roundtrip_and_pruning(spark, fake_s3):
    """Round 15: APPEND onto a partitioned native table — the delta's
    objects carry Hive key chains in the table's one tree, beside v1's;
    the append manifest carries the committed ``partition_by``
    forward; pruned reads resolve partition values for v1 and delta
    files alike; time travel sees v1 unchanged."""
    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotReader,
    )

    prefix = "warehouse/native_part_append"
    df1 = spark.createDataFrame(
        [("F", 1, 10.0), ("O", 2, 20.0)], "status string, k long, v double"
    )
    (
        df1.write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, prefix))
        .option("partition_by", "status")
        .mode("overwrite")
        .save()
    )
    df2 = spark.createDataFrame(
        [("F", 3, 30.0), ("P", 4, 40.0)], "status string, k long, v double"
    )
    _write(df2, fake_s3, prefix, "append")

    m2 = json.loads(
        _client(fake_s3).get_object(f"{prefix}/manifest-v00000002.json")
    )
    assert m2["partition_by"] == ["status"]
    assert m2["appended_to"] == 1
    # delta keys carry chains; partition cols stay OUT of the data bytes
    assert all("status=" in f for f in m2["appended_files"])

    got = _read(spark, fake_s3, prefix)
    assert _rows(got) == [
        ("F", 1, 10.0), ("F", 3, 30.0), ("O", 2, 20.0), ("P", 4, 40.0),
    ]
    assert _rows(_read(spark, fake_s3, prefix, version="1")) == [
        ("F", 1, 10.0), ("O", 2, 20.0),
    ]
    # pruning spans both commits: the F filter must keep exactly the
    # two F files (one per commit) and the P filter exactly the
    # delta's P file
    opts = _s3_opts(fake_s3, prefix)
    schema = got.schema
    all_parts = SnapshotReader(schema, dict(opts)).partitions()
    f_parts = SnapshotReader(
        schema, {**opts, "partition_filter": '{"status": "F"}'}
    ).partitions()
    assert 0 < len(f_parts) < len(all_parts)
    assert _rows(
        _read(spark, fake_s3, prefix, partition_filter='{"status": "F"}')
        .select("k")
    ) == [(1,), (3,)]
    assert _rows(
        _read(spark, fake_s3, prefix, partition_filter='{"status": "P"}')
        .select("k")
    ) == [(4,)]
    assert not fake_s3.rejections


def test_s3_partitioned_append_creates_new_table(spark, fake_s3):
    """mode('append') + partition_by on a nonexistent table creates v1
    PARTITIONED through commit_append's race-safe path (not
    commit_overwrite — a raced creator must never be silently
    replaced under append semantics)."""
    prefix = "warehouse/native_part_birth"
    df = spark.createDataFrame([("a", 1)], "g string, k long")
    (
        df.write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, prefix))
        .option("partition_by", "g")
        .mode("append")
        .save()
    )
    m1 = json.loads(
        _client(fake_s3).get_object(f"{prefix}/manifest-v00000001.json")
    )
    assert m1["partition_by"] == ["g"]
    assert m1["appended_files"] == m1["files"]  # version-stream contract
    assert _rows(_read(spark, fake_s3, prefix)) == [("a", 1)]


def test_s3_partitioned_concurrent_appends_both_land(spark, fake_s3):
    """The lost-race path on a PARTITIONED table: the loser's
    conditional PUT answers 412 and the retry re-validates the
    partition scheme against the fresh latest before committing on
    top — both deltas land, all partition values resolve."""
    from concurrent.futures import ThreadPoolExecutor

    prefix = "warehouse/native_part_race"
    (
        spark.createDataFrame([("a", 0)], "g string, k long")
        .write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, prefix))
        .option("partition_by", "g")
        .mode("overwrite")
        .save()
    )

    def _append(k: int) -> None:
        _write(
            spark.createDataFrame([(f"g{k}", k)], "g string, k long"),
            fake_s3, prefix, "append",
        )

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(_append, [1, 2]))
    assert _rows(_read(spark, fake_s3, prefix)) == [
        ("a", 0), ("g1", 1), ("g2", 2),
    ]
    m3 = json.loads(
        _client(fake_s3).get_object(f"{prefix}/manifest-v00000003.json")
    )
    assert m3["partition_by"] == ["g"]
    assert not fake_s3.rejections


def test_s3_partitioned_append_scheme_mismatch_refuses(spark, fake_s3):
    """Scheme drift refuses loudly at both layers: (a) a partition_by
    option that contradicts the committed scheme fails at writer init;
    (b) a raced creation whose scheme differs from the delta's key
    chains fails inside commit_append's retry — never a manifest whose
    declared scheme contradicts its files."""
    from tile_processor_spark.sources.snapshot_store import open_store
    from tile_processor_spark.sources.snapshots import commit_append

    prefix = "warehouse/native_part_drift"
    df = spark.createDataFrame([("a", 1)], "g string, k long")
    (
        df.write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, prefix))
        .option("partition_by", "g")
        .mode("overwrite")
        .save()
    )
    with pytest.raises(Exception, match="does not match the committed"):
        (
            df.write.format("tps_snapshot")
            .options(**_s3_opts(fake_s3, prefix))
            .option("partition_by", "k")
            .mode("append")
            .save()
        )
    # committer-level: flat delta keys vs a partitioned table (the
    # raced-creation shape the writer init cannot see)
    store = open_store(f"s3://{BUCKET}/{prefix}", _s3_opts(fake_s3, prefix))
    c = _client(fake_s3)
    key = f"{prefix}/data/driftsnap/part-flat.parquet"
    c.put_object(key, b"flat bytes")
    with pytest.raises(ValueError, match="partitioned by"):
        commit_append(
            store, [store.vpath(key)],
            expected_schema=store.manifest(1)["schema"], file_stats={},
        )


def test_s3_partitioned_stream_sink(spark, fake_s3, tmp_path):
    """The streaming sink inherits a partitioned table's scheme: each
    micro-batch's objects carry Hive key chains, partition values
    resolve on read, and a writer whose query schema drifted from the
    committed table refuses at sink construction (round-15 init
    check)."""
    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotStreamWriter,
    )
    from tile_processor_spark.sources.snapshots import append_snapshot

    prefix = "warehouse/native_part_sink"
    (
        spark.createDataFrame([("F", 1)], "status string, k long")
        .write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, prefix))
        .option("partition_by", "status")
        .mode("overwrite")
        .save()
    )
    src = str(tmp_path / "src")
    append_snapshot(
        spark.createDataFrame([("O", 2), ("F", 3)], "status string, k long"),
        src,
    )
    writer = (
        spark.readStream.format("tps_snapshot").option("path", src).load()
        .writeStream.format("tps_snapshot")
    )
    for k, v in _s3_opts(fake_s3, prefix).items():
        writer = writer.option(k, v)
    q = writer.option("stream_app_id", "p1").option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _rows(_read(spark, fake_s3, prefix)) == [("F", 1), ("F", 3), ("O", 2)]
    assert _rows(
        _read(spark, fake_s3, prefix, partition_filter='{"status": "O"}')
    ) == [("O", 2)]
    # schema drift refuses at sink construction, not at first commit
    with pytest.raises(ValueError, match="does not match\\s+committed"):
        SnapshotStreamWriter(
            spark.createDataFrame([(1,)], "k long").schema,
            {**_s3_opts(fake_s3, prefix), "stream_app_id": "p1"},
            False,
        )
    assert not fake_s3.rejections


def test_s3_partition_by_validation(spark, fake_s3):
    df = spark.createDataFrame([("a", 1)], "g string, k long")
    w = (
        df.write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, "warehouse/native_badpart"))
    )
    with pytest.raises(Exception, match="not in the written"):
        w.option("partition_by", "nope").mode("overwrite").save()
    with pytest.raises(Exception, match="every column"):
        w.option("partition_by", "g,k").mode("overwrite").save()


def test_s3_concurrent_appends_create_new_table(spark, fake_s3):
    """Raced TABLE CREATION under mode('append'): both jobs see an
    empty table; the loser's v1 conditional PUT answers 412 and the
    retry lands it as v2 on top of the winner — both deltas land
    (previously the empty-table case routed to commit_overwrite's
    single-writer contract and the loser failed outright)."""
    from concurrent.futures import ThreadPoolExecutor

    prefix = "warehouse/native_birthrace"

    def _append(k: int) -> None:
        _write(spark.createDataFrame([(k,)], "k long"), fake_s3, prefix, "append")

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(_append, [1, 2]))
    assert _rows(_read(spark, fake_s3, prefix)) == [(1,), (2,)]
    # two committed versions: the winner's v1 and the loser's retried v2
    manifests = [
        k for k in _client(fake_s3).list_objects(prefix + "/")
        if "manifest-v" in k
    ]
    assert len(manifests) == 2
    assert not fake_s3.rejections


def test_partition_values_resolve_across_snap_prefixes():
    """The mechanism partitioned s3-native appends rest on: a delta
    file under a DIFFERENT data/<uuid>/ prefix than the manifest base
    relativizes through '..' segments, which carry no '=' — so the
    Hive col=val pairs still parse, and an escaped '=' in a value
    cannot alias a pair boundary."""
    from tile_processor_spark.sources.snapshot_datasource import (
        _hive_chain,
    )
    from tile_processor_spark.sources.snapshots import _partition_values

    base = "/tbl-bucket/warehouse/t/data/aaaa1111"
    # same-prefix file (the v1 shape)
    assert _partition_values(
        f"{base}/status=F/part-1.parquet", base
    ) == {"status": "F"}
    # delta file under a sibling snap prefix (the append shape)
    assert _partition_values(
        "/tbl-bucket/warehouse/t/data/bbbb2222/status=O/part-2.parquet",
        base,
    ) == {"status": "O"}
    # multi-level chains + Hive escaping round-trip through the writer's
    # own escaper ('=' and '/' are in the escape set)
    chain = _hive_chain(["g", "s"], {"g": "a=b", "s": "x/y"})
    got = _partition_values(
        f"/tbl-bucket/warehouse/t/data/cccc3333/{chain}/part-3.parquet",
        base,
    )
    assert got == {"g": "a=b", "s": "x/y"}
