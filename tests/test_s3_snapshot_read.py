"""Object-store-RESIDENT snapshot reads: a table committed locally and
mirrored under an S3 prefix (exactly the layout ``S3CommitFS`` writes
when its mount is the table root) must read back through
``spark.read.format('tps_snapshot').option('path', 's3://...')``
byte-identically to the local read — manifests, grouped side files,
Hive partition values, manifest-level pruning, and the parquet bytes
all resolved through the SigV4 client against the signature-verifying
fake endpoint. Planning is one listing pass (sizes ride ListObjectsV2);
executors fetch only their partitions' objects.
"""

from __future__ import annotations

import os

import pytest

from tests.test_s3_commit_fs import ACCESS, REGION, SECRET
from tile_processor_spark.sources.snapshot_datasource import (
    S3SnapshotStore,
    SnapshotReader,
    register,
)
from tile_processor_spark.sources.snapshots import (
    compact_manifest,
    read_snapshot,
    upsert_snapshot,
    write_snapshot,
)

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


def _mirror(table_dir: str, srv, prefix: str) -> None:
    """Upload the table directory verbatim under the prefix — the
    key layout S3CommitFS(mount=table_dir) produces."""
    from tile_processor_spark.sources.s3_client import S3Client

    host, port = srv.server_address
    c = S3Client(f"http://{host}:{port}", BUCKET, ACCESS, SECRET, region=REGION)
    for root, _dirs, names in os.walk(table_dir):
        for n in names:
            p = os.path.join(root, n)
            rel = os.path.relpath(p, table_dir).replace(os.sep, "/")
            with open(p, "rb") as f:
                c.put_object(f"{prefix}/{rel}", f.read())


def _s3_opts(srv, prefix: str) -> dict:
    host, port = srv.server_address
    return {
        "path": f"s3://{BUCKET}/{prefix}",
        "s3_endpoint": f"http://{host}:{port}",
        "s3_access_key": ACCESS,
        "s3_secret_key": SECRET,
        "s3_region": REGION,
    }


def _read_s3(spark, srv, prefix: str, **extra):
    r = spark.read.format("tps_snapshot")
    for k, v in {**_s3_opts(srv, prefix), **extra}.items():
        r = r.option(k, v)
    return r.load()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def mirrored(spark, tmp_path, fake_s3):
    table = str(tmp_path / "s3tbl")
    df = spark.createDataFrame(
        [("2024", 1, 10.0), ("2024", 2, 20.0), ("2025", 3, 30.0)],
        "yr string, k long, v double",
    )
    write_snapshot(df, table, partition_by=["yr"])  # v1
    upd = spark.createDataFrame([("2025", 3, 33.0)], "yr string, k long, v double")
    upsert_snapshot(upd, table, ["k"])  # v2
    _mirror(table, fake_s3, "warehouse/s3tbl")
    register(spark)
    return table


def test_s3_read_matches_local_all_versions(spark, fake_s3, mirrored):
    for v in (1, 2):
        local = read_snapshot(spark, mirrored, version=v)
        remote = _read_s3(spark, fake_s3, "warehouse/s3tbl", version=str(v))
        assert remote.schema == local.schema  # committed dtypes incl. yr
        assert _rows(remote) == _rows(local)
    assert _rows(_read_s3(spark, fake_s3, "warehouse/s3tbl")) == _rows(
        read_snapshot(spark, mirrored)
    )
    assert not fake_s3.rejections  # every request signature-verified


def test_s3_partition_filter_prunes_planned_partitions(spark, fake_s3, mirrored):
    opts = _s3_opts(fake_s3, "warehouse/s3tbl")
    schema = _read_s3(spark, fake_s3, "warehouse/s3tbl").schema
    all_parts = SnapshotReader(schema, dict(opts)).partitions()
    pruned = SnapshotReader(
        schema, {**opts, "partition_filter": '{"yr": "2025"}'}
    ).partitions()
    assert 0 < len(pruned) < len(all_parts)
    got = _read_s3(
        spark, fake_s3, "warehouse/s3tbl", partition_filter='{"yr": "2025"}'
    )
    assert _rows(got) == _rows(
        read_snapshot(spark, mirrored, partition_filter={"yr": "2025"})
    )


def test_s3_read_through_grouped_manifest(spark, fake_s3, mirrored, tmp_path):
    v3 = compact_manifest(mirrored)
    # re-mirror: compaction added a manifest + group side files
    _mirror(mirrored, fake_s3, "warehouse/s3tbl")
    remote = _read_s3(spark, fake_s3, "warehouse/s3tbl", version=str(v3))
    assert _rows(remote) == _rows(read_snapshot(spark, mirrored, version=v3))


def test_s3_filter_pushdown_skips_and_matches(spark, fake_s3, mirrored):
    remote = _read_s3(spark, fake_s3, "warehouse/s3tbl").filter("k >= 3")
    local = read_snapshot(spark, mirrored).filter("k >= 3")
    assert _rows(remote) == _rows(local)


def test_s3_append_onto_mirrored_partitioned_table(spark, fake_s3, mirrored):
    """Round 15: s3-native APPENDS onto partitioned tables work — the
    delta's objects carry Hive key chains under their own snap prefix,
    the committed manifest's LOCAL root re-roots under the virtual
    root, and the reader's manifest-level pruning resolves partition
    values for old and new files alike (the delta relativizes to the
    old base through ``..`` segments, which carry no ``=``)."""
    before = _rows(_read_s3(spark, fake_s3, "warehouse/s3tbl"))
    df = spark.createDataFrame([("2026", 9, 1.0)], "yr string, k long, v double")
    (
        df.write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, "warehouse/s3tbl"))
        .mode("append")
        .save()
    )
    got = _read_s3(spark, fake_s3, "warehouse/s3tbl")
    assert _rows(got) == sorted(before + [("2026", 9, 1.0)])
    # pruning still plans strictly fewer partitions, and the NEW
    # partition resolves from the delta's own key chain
    only_new = _read_s3(
        spark, fake_s3, "warehouse/s3tbl", partition_filter='{"yr": "2026"}'
    )
    assert _rows(only_new) == [("2026", 9, 1.0)]
    opts = _s3_opts(fake_s3, "warehouse/s3tbl")
    schema = got.schema
    all_parts = SnapshotReader(schema, dict(opts)).partitions()
    pruned = SnapshotReader(
        schema, {**opts, "partition_filter": '{"yr": "2026"}'}
    ).partitions()
    assert 0 < len(pruned) < len(all_parts)
    assert not fake_s3.rejections


def test_s3_vacuum_pre_root_manifest_friendly_error(spark, fake_s3, mirrored):
    """vacuum_store on a mirror whose latest manifest predates the root
    field must raise the same friendly ValueError as the read paths —
    and must do so BEFORE deleting anything (the referenced-set build
    precedes the sweep)."""
    import json

    from tile_processor_spark.sources.s3_client import S3Client
    from tile_processor_spark.sources.snapshots import vacuum

    host, port = fake_s3.server_address
    c = S3Client(f"http://{host}:{port}", BUCKET, ACCESS, SECRET, region=REGION)
    key = "warehouse/s3tbl/manifest-v00000002.json"
    m = json.loads(c.get_object(key))
    m.pop("root", None)
    c.put_object(key, json.dumps(m).encode())
    keys_before = sorted(c.list_objects("warehouse/s3tbl/"))
    opts = {k: v for k, v in _s3_opts(fake_s3, "warehouse/s3tbl").items()
            if k != "path"}
    with pytest.raises(ValueError, match="root.*recommit|recommit"):
        vacuum(f"s3://{BUCKET}/warehouse/s3tbl", keep_last=1, s3_options=opts)
    assert sorted(c.list_objects("warehouse/s3tbl/")) == keys_before


def test_s3_pre_root_manifest_refuses(spark, fake_s3, mirrored):
    """Manifests committed before the root field existed cannot be
    key-translated — the reader must say so, not guess."""
    import json

    from tile_processor_spark.sources.s3_client import S3Client

    host, port = fake_s3.server_address
    c = S3Client(f"http://{host}:{port}", BUCKET, ACCESS, SECRET, region=REGION)
    key = "warehouse/s3tbl/manifest-v00000002.json"
    m = json.loads(c.get_object(key))
    m.pop("root", None)
    c.put_object(key, json.dumps(m).encode())
    with pytest.raises(Exception, match="root"):
        _read_s3(spark, fake_s3, "warehouse/s3tbl", version="2").collect()


def test_store_requires_config_and_valid_path():
    with pytest.raises(ValueError, match="s3://<bucket>/<prefix>"):
        S3SnapshotStore("s3://onlybucket", {})
    with pytest.raises(ValueError, match="s3_endpoint"):
        S3SnapshotStore("s3://b/p", {})


def test_s3_read_survives_injected_throttle(spark, fake_s3, mirrored):
    """A 503 SlowDown mid-plan (manifest GET) and mid-fetch (parquet
    GET) must not fail the read — the client's retry layer treats a
    received 5xx as not-performed for every verb."""
    fake_s3.faults.extend(
        [{"verb": "GET", "status": 503, "code": "SlowDown"}] * 3
    )
    remote = _read_s3(spark, fake_s3, "warehouse/s3tbl")
    assert _rows(remote) == _rows(read_snapshot(spark, mirrored))
    assert len(fake_s3.fault_hits) == 3  # all three throttles served


def test_s3_vacuum_store_reclaims_unreferenced(spark, fake_s3, mirrored):
    """vacuum_store drops retired manifests first, then data objects no
    retained manifest references; foreign keys under the prefix and
    every retained-version object survive; the latest version reads
    identically after the sweep."""
    from tile_processor_spark.sources.s3_client import S3Client
    from tile_processor_spark.sources.snapshots import vacuum

    host, port = fake_s3.server_address
    c = S3Client(f"http://{host}:{port}", BUCKET, ACCESS, SECRET, region=REGION)
    c.put_object("warehouse/s3tbl/notes.txt", b"not a snapshot artifact")
    before = _rows(_read_s3(spark, fake_s3, "warehouse/s3tbl"))
    n_keys_before = len(c.list_objects("warehouse/s3tbl/"))

    opts = {k: v for k, v in _s3_opts(fake_s3, "warehouse/s3tbl").items() if k != "path"}
    # claim_ttl_s=0 declares writer quiescence (everything here is
    # seconds old); the retention-window behavior has its own test
    out = vacuum(
        f"s3://{BUCKET}/warehouse/s3tbl", keep_last=1, claim_ttl_s=0, s3_options=opts
    )
    assert out["retired_versions"] == [1]
    assert out["kept_versions"] == [2]
    assert out["manifests_removed"] == 1
    assert out["files_removed"] >= 1  # v1's superseded partition file(s)

    keys = c.list_objects("warehouse/s3tbl/")
    assert len(keys) < n_keys_before
    assert "warehouse/s3tbl/notes.txt" in keys  # foreign object untouched
    assert not any("manifest-v00000001" in k for k in keys)
    # the retained version reads byte-identically post-vacuum
    assert _rows(_read_s3(spark, fake_s3, "warehouse/s3tbl")) == before
    # the retired version is gone (surfaces as AnalysisException — the
    # datasource worker wraps the reader's FileNotFoundError)
    with pytest.raises(Exception, match="version 1 not in"):
        _read_s3(spark, fake_s3, "warehouse/s3tbl", version="1").collect()
    assert not fake_s3.rejections


def test_s3_version_stream_emits_appended_batches(spark, fake_s3, tmp_path):
    """The version stream works against an s3:// mirror: offsets come
    from the store's manifest listing, batches carry exactly the
    appended delta (fetched executor-side), and new versions mirrored
    mid-stream arrive as their own micro-batches."""
    import uuid as uuid_mod

    from tile_processor_spark.sources.snapshots import append_snapshot

    table = str(tmp_path / "s3stream")
    append_snapshot(spark.createDataFrame([(1, "a")], "k long, s string"), table)
    append_snapshot(spark.createDataFrame([(2, "b")], "k long, s string"), table)
    prefix = "warehouse/s3stream"
    _mirror(table, fake_s3, prefix)
    register(spark)
    qn = f"s3_snap_stream_{uuid_mod.uuid4().hex[:8]}"
    reader = spark.readStream.format("tps_snapshot")
    for k, v in _s3_opts(fake_s3, prefix).items():
        reader = reader.option(k, v)
    q = reader.load().writeStream.format("memory").queryName(qn).start()
    try:
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {qn}").collect())
        assert got == [(1, "a"), (2, "b")]
        append_snapshot(spark.createDataFrame([(3, "c")], "k long, s string"), table)
        _mirror(table, fake_s3, prefix)  # mirror the new version
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {qn}").collect())
        assert got == [(1, "a"), (2, "b"), (3, "c")]
    finally:
        q.stop()
    assert not fake_s3.rejections


def test_s3_vacuum_store_retention_protects_inflight_append(spark, fake_s3, mirrored):
    """The mirror twin of the in-flight-append race (round 14): a data
    object uploaded under a kept manifest's base prefix but not yet
    referenced (its append's manifest commit hasn't landed) must
    survive a concurrent vacuum_store — LastModified retention from the
    same listing pass. Once aged past the window it is reclaimed."""
    import time

    from tile_processor_spark.sources.s3_client import S3Client
    from tile_processor_spark.sources.snapshots import vacuum

    host, port = fake_s3.server_address
    c = S3Client(f"http://{host}:{port}", BUCKET, ACCESS, SECRET, region=REGION)
    # find the head manifest's data prefix and stage an "in-flight" object
    keys = c.list_objects("warehouse/s3tbl/")
    data_key = next(k for k in keys if k.endswith(".parquet"))
    staged = data_key.rsplit("/", 1)[0] + "/inflight-part.parquet"
    c.put_object(staged, b"staged delta bytes")

    opts = {k: v for k, v in _s3_opts(fake_s3, "warehouse/s3tbl").items() if k != "path"}
    out = vacuum(f"s3://{BUCKET}/warehouse/s3tbl", keep_last=2, s3_options=opts)
    assert staged in c.list_objects("warehouse/s3tbl/"), "in-flight object reclaimed"
    assert out["files_removed"] == 0  # everything else referenced or young

    # age it past the window -> reclaimed on the next sweep
    fake_s3.mtimes[staged] = time.time() - 7200
    out2 = vacuum(
        f"s3://{BUCKET}/warehouse/s3tbl", keep_last=2, claim_ttl_s=3600, s3_options=opts
    )
    assert out2["files_removed"] == 1
    assert staged not in c.list_objects("warehouse/s3tbl/")
    assert not fake_s3.rejections


def test_s3_vacuum_store_sweeps_orphaned_multipart_uploads(fake_s3, mirrored):
    """A writer crash between CreateMultipartUpload and Complete/Abort
    leaves parts invisible but billed; vacuum_store aborts uploads
    older than the retention window and leaves live ones alone."""
    import time

    from tile_processor_spark.sources.snapshots import vacuum

    fake_s3.uploads["orphan1"] = {
        "key": "warehouse/s3tbl/data/x/part-a.parquet",
        "initiated": time.time() - 7200,
        "parts": {1: b"x"},
    }
    fake_s3.uploads["live1"] = {
        "key": "warehouse/s3tbl/data/x/part-b.parquet",
        "initiated": time.time(),
        "parts": {1: b"y"},
    }
    fake_s3.uploads["foreign"] = {
        "key": "elsewhere/part-c.parquet",  # other prefix: not ours to touch
        "initiated": time.time() - 7200,
        "parts": {},
    }
    opts = {k: v for k, v in _s3_opts(fake_s3, "warehouse/s3tbl").items() if k != "path"}
    out = vacuum(
        f"s3://{BUCKET}/warehouse/s3tbl", keep_last=2, claim_ttl_s=3600, s3_options=opts
    )
    assert out["uploads_aborted"] == 1
    assert "orphan1" not in fake_s3.uploads
    assert "live1" in fake_s3.uploads and "foreign" in fake_s3.uploads
    assert not fake_s3.rejections


def test_s3_vacuum_store_refuses_keep_last_zero_without_force(fake_s3, mirrored):
    import pytest as _pytest

    from tile_processor_spark.sources.snapshots import vacuum

    opts = {k: v for k, v in _s3_opts(fake_s3, "warehouse/s3tbl").items() if k != "path"}
    with _pytest.raises(ValueError, match="force=True"):
        vacuum(f"s3://{BUCKET}/warehouse/s3tbl", keep_last=0, s3_options=opts)


def test_s3_stream_pre_root_manifest_refuses_with_guidance(spark, fake_s3, tmp_path):
    """The STREAM path's twin of test_s3_pre_root_manifest_refuses
    (ADVICE r13): a pre-round-13 mirror manifest (no 'root' field) must
    raise the same friendly recommit-or-read-locally ValueError from
    partitions(), not a bare KeyError."""
    import json

    from tile_processor_spark.sources.s3_client import S3Client
    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotStreamReader,
    )
    from tile_processor_spark.sources.snapshots import append_snapshot

    table = str(tmp_path / "s3oldstream")
    append_snapshot(spark.createDataFrame([(1, "a")], "k long, s string"), table)
    prefix = "warehouse/s3oldstream"
    _mirror(table, fake_s3, prefix)
    host, port = fake_s3.server_address
    c = S3Client(f"http://{host}:{port}", BUCKET, ACCESS, SECRET, region=REGION)
    key = f"{prefix}/manifest-v00000001.json"
    m = json.loads(c.get_object(key))
    m.pop("root", None)
    c.put_object(key, json.dumps(m).encode())

    reader = SnapshotStreamReader(None, _s3_opts(fake_s3, prefix))
    with pytest.raises(ValueError, match="root.*recommit|recommit.*root"):
        reader.partitions({"version": 0}, {"version": 1})


def test_s3_append_onto_grouped_partitioned_mirror(spark, fake_s3, mirrored):
    """Appending s3-natively onto a COMPACTED (grouped-manifest)
    partitioned mirror: the old group side files are shared (re-rooted
    under the store's virtual root) and the delta lands as a new group,
    the scheme carries forward, and pruning resolves partition values
    for old groups and the new delta alike."""
    v3 = compact_manifest(mirrored)
    _mirror(mirrored, fake_s3, "warehouse/s3tbl")  # re-mirror v3 + sides
    before = _rows(_read_s3(spark, fake_s3, "warehouse/s3tbl", version=str(v3)))
    df = spark.createDataFrame([("2027", 11, 2.0)], "yr string, k long, v double")
    (
        df.write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, "warehouse/s3tbl"))
        .mode("append")
        .save()
    )
    got = _read_s3(spark, fake_s3, "warehouse/s3tbl")
    assert _rows(got) == sorted(before + [("2027", 11, 2.0)])
    assert _rows(
        _read_s3(
            spark, fake_s3, "warehouse/s3tbl",
            partition_filter='{"yr": "2027"}',
        )
    ) == [("2027", 11, 2.0)]
    # pre-existing partition still prunes correctly after the append
    assert _rows(
        _read_s3(
            spark, fake_s3, "warehouse/s3tbl",
            partition_filter='{"yr": "2024"}',
        )
    ) == [r for r in before if r[0] == "2024"]
    assert not fake_s3.rejections


def test_function_api_reads_s3_tables(spark, fake_s3, mirrored):
    """Round 15: the FUNCTION API is object-store-transparent —
    read_snapshot / snapshot_diff accept s3:// table paths and route
    through the connector's read plane with identical semantics
    (version resolution, partition pruning, where filters, committed
    dtypes)."""
    from tile_processor_spark.sources.snapshots import snapshot_diff

    url = f"s3://{BUCKET}/warehouse/s3tbl"
    opts = {k: v for k, v in _s3_opts(fake_s3, "warehouse/s3tbl").items()
            if k != "path"}
    for v in (1, 2, None):
        local = read_snapshot(spark, mirrored, version=v)
        remote = read_snapshot(spark, url, version=v, s3_options=opts)
        assert remote.schema == local.schema
        assert _rows(remote) == _rows(local)
    # partition pruning + where through the function API
    assert _rows(
        read_snapshot(spark, url, partition_filter={"yr": "2025"},
                      s3_options=opts)
    ) == _rows(read_snapshot(spark, mirrored, partition_filter={"yr": "2025"}))
    assert _rows(
        read_snapshot(spark, url, where=[("k", ">=", 3)], s3_options=opts)
    ) == _rows(read_snapshot(spark, mirrored, where=[("k", ">=", 3)]))
    with pytest.raises(ValueError, match="non-partition"):
        read_snapshot(spark, url, partition_filter={"k": "3"}, s3_options=opts)
    # CDC across the mirror matches the local diff
    d_local = _rows(snapshot_diff(spark, mirrored, 1, 2, ["k"]))
    d_remote = _rows(snapshot_diff(spark, url, 1, 2, ["k"], s3_options=opts))
    assert d_remote == d_local
    assert not fake_s3.rejections


def test_function_api_upserts_s3_tables(spark, fake_s3):
    """Round 15: upsert_snapshot MERGEs into an s3:// table — current
    state read through the s3 plane, merged state committed through
    the connector's native writer, partition layout preserved across
    MERGEs (the local contract, object-store-resident)."""
    from tile_processor_spark.sources.snapshots import upsert_snapshot

    prefix = "warehouse/fn_upsert"
    url = f"s3://{BUCKET}/{prefix}"
    all_opts = _s3_opts(fake_s3, prefix)
    opts = {k: v for k, v in all_opts.items() if k != "path"}
    df = spark.createDataFrame(
        [("F", 1, 10.0), ("O", 2, 20.0)], "status string, k long, v double"
    )
    (
        df.write.format("tps_snapshot").options(**all_opts)
        .option("partition_by", "status").mode("overwrite").save()
    )
    upd = spark.createDataFrame(
        [("O", 2, 22.0), ("P", 3, 30.0)], "status string, k long, v double"
    )
    v = upsert_snapshot(upd, url, ["k"], s3_options=opts)
    assert v == 2
    got = read_snapshot(spark, url, s3_options=opts)
    assert _rows(got) == [("F", 1, 10.0), ("O", 2, 22.0), ("P", 3, 30.0)]
    # rollback stays one time-travel away; partition layout preserved
    assert _rows(read_snapshot(spark, url, version=1, s3_options=opts)) == [
        ("F", 1, 10.0), ("O", 2, 20.0),
    ]
    assert _rows(
        read_snapshot(spark, url, partition_filter={"status": "P"},
                      s3_options=opts)
    ) == [("P", 3, 30.0)]
    assert not fake_s3.rejections


def test_function_api_writes_s3_tables(spark, fake_s3):
    """write_snapshot / append_snapshot accept s3:// paths (round 15):
    a partitioned create + append through the function API lands as
    native connector commits — scheme recorded, pruning works, and the
    returned version numbers match the local contract."""
    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        write_snapshot,
    )

    prefix = "warehouse/fn_write"
    url = f"s3://{BUCKET}/{prefix}"
    opts = {k: v for k, v in _s3_opts(fake_s3, prefix).items() if k != "path"}
    df1 = spark.createDataFrame(
        [("F", 1, 10.0), ("O", 2, 20.0)], "status string, k long, v double"
    )
    v1 = write_snapshot(df1, url, partition_by=["status"], s3_options=opts)
    assert v1 == 1
    df2 = spark.createDataFrame(
        [("P", 3, 30.0)], "status string, k long, v double"
    )
    v2 = append_snapshot(df2, url, s3_options=opts)
    assert v2 == 2
    got = read_snapshot(spark, url, s3_options=opts)
    assert _rows(got) == [("F", 1, 10.0), ("O", 2, 20.0), ("P", 3, 30.0)]
    assert _rows(
        read_snapshot(spark, url, partition_filter={"status": "P"},
                      s3_options=opts)
    ) == [("P", 3, 30.0)]
    assert not fake_s3.rejections


def test_function_api_s3_upsert_schema_evolution(spark, fake_s3):
    """Additive schema evolution through the s3 upsert path: the delta
    carries a new column, carried-over rows get NULL for it, and the
    evolved state commits natively; snapshot_diff(evolve) then
    classifies the backfill as updates — the local evolution contract,
    object-store-resident."""
    from tile_processor_spark.sources.snapshots import (
        snapshot_diff,
        upsert_snapshot,
        write_snapshot,
    )

    prefix = "warehouse/fn_evolve"
    url = f"s3://{BUCKET}/{prefix}"
    opts = {k: v for k, v in _s3_opts(fake_s3, prefix).items() if k != "path"}
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        url, s3_options=opts,
    )
    # extra column without the flag refuses (local contract)
    delta = spark.createDataFrame([(2, "B", 9.5)], "k long, s string, score double")
    with pytest.raises(ValueError, match="allow_new_columns"):
        upsert_snapshot(delta, url, ["k"], s3_options=opts)
    v2 = upsert_snapshot(
        delta, url, ["k"], allow_new_columns=True, s3_options=opts
    )
    assert v2 == 2
    got = read_snapshot(spark, url, s3_options=opts)
    assert got.columns == ["k", "s", "score"]
    assert _rows(got) == [(1, "a", None), (2, "B", 9.5)]
    d = snapshot_diff(
        spark, url, 1, 2, ["k"], on_schema_drift="evolve", s3_options=opts
    )
    assert _rows(d) == [(2, "update")]
    assert not fake_s3.rejections
