"""Round-16 snapshot-store additions (VERDICT r15 Missing #1-#3 +
ADVICE):

- optimistic-concurrency CONFLICT DETECTION on rewrite/upsert/delete
  commits: the commit pins the version it read and targets exactly
  read + 1, so a concurrent append landing between read and publish
  can never be silently dropped from the new head (the r15 lost-update
  hole) — the loser re-reads, re-derives, and retries;
- row-level DELETE (``delete_snapshot``): copy-on-write with
  stats/partition pruning — provably-untouched files carry by
  reference, SQL NULL-keeps semantics, s3-transparent;
- AS OF TIMESTAMP time travel (``read_snapshot(as_of=...)``,
  ``resolve_as_of``, ``snapshot_diff(from_as_of=...)``, connector
  ``.option("as_of", ...)``);
- exact committed-version plumbing through the s3 writer boundary
  (commit uuid, never a post-hoc ``versions()[-1]`` listing);
- the in-plan duplicate-key guard replacing the eager probe pass.
"""

from __future__ import annotations

import json
import time

import pytest

from tests.test_s3_commit_fs import ACCESS, REGION, SECRET
from tile_processor_spark.sources import snapshots as S
from tile_processor_spark.sources.snapshots import (
    ConcurrentCommitError,
    append_snapshot,
    delete_snapshot,
    list_versions,
    read_snapshot,
    resolve_as_of,
    snapshot_diff,
    snapshot_history,
    upsert_snapshot,
    write_snapshot,
    _read_manifest,
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


def _opts(srv) -> dict:
    host, port = srv.server_address
    return {
        "s3_endpoint": f"http://{host}:{port}",
        "s3_access_key": ACCESS,
        "s3_secret_key": SECRET,
        "s3_region": REGION,
    }


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, name string, v int")


# ---------------------------------------------------------------- conflicts


def test_write_snapshot_stale_expected_version_raises(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = _df(spark, [(1, "a", 10)])
    assert write_snapshot(df, tbl) == 1
    assert write_snapshot(df, tbl, expected_version=1) == 2
    with pytest.raises(ConcurrentCommitError, match="concurrent commit"):
        write_snapshot(df, tbl, expected_version=1)
    # a correct expectation still commits
    assert write_snapshot(df, tbl, expected_version=2) == 3


def test_upsert_retry_merges_concurrent_append(spark, tmp_path, monkeypatch):
    """The r15 lost-update hole, closed: an append landing between the
    upsert's read and its publish makes the first commit attempt lose
    (version collision at read+1); the retry re-reads and the final
    head contains BOTH the appended rows and the merged delta."""
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a", 10), (2, "b", 20)]), tbl)
    racer = _df(spark, [(9, "raced-append", 90)])
    orig = S._commit_manifest
    fired = {}

    def inject(table_path, manifest, version):
        if not fired and "appended_files" not in manifest:
            fired["x"] = True
            append_snapshot(racer, tbl)  # lands v2 under the upsert
        return orig(table_path, manifest, version)

    monkeypatch.setattr(S, "_commit_manifest", inject)
    v = upsert_snapshot(_df(spark, [(2, "b2", 25), (3, "c", 30)]), tbl, ["k"])
    assert v == 3 and list_versions(tbl) == [1, 2, 3]
    got = {r.k: r.name for r in read_snapshot(spark, tbl).collect()}
    # the raced append's row survived the merge — not silently dropped
    assert got == {1: "a", 2: "b2", 3: "c", 9: "raced-append"}


def test_upsert_gives_up_after_bounded_retries(spark, tmp_path, monkeypatch):
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a", 10)]), tbl)
    orig = S._commit_manifest

    def always_inject(table_path, manifest, version):
        if "appended_files" not in manifest:
            append_snapshot(_df(spark, [(99, "racer", 1)]), tbl)
        return orig(table_path, manifest, version)

    monkeypatch.setattr(S, "_commit_manifest", always_inject)
    with pytest.raises(ConcurrentCommitError, match="lost the commit race"):
        upsert_snapshot(_df(spark, [(1, "a2", 11)]), tbl, ["k"])


def test_delete_retry_after_concurrent_append(spark, tmp_path, monkeypatch):
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a", 10), (2, "b", 20)]), tbl)
    orig = S._commit_manifest
    fired = {}

    def inject(table_path, manifest, version):
        if not fired and manifest.get("deleted_where") is not None:
            fired["x"] = True
            append_snapshot(_df(spark, [(3, "mid", 5)]), tbl)
        return orig(table_path, manifest, version)

    monkeypatch.setattr(S, "_commit_manifest", inject)
    v = delete_snapshot(spark, tbl, [("v", ">=", 20)])
    assert v == 3
    got = {r.k for r in read_snapshot(spark, tbl).collect()}
    # the appended row (v=5, not matching the delete) survived
    assert got == {1, 3}


def test_s3_overwrite_stale_expected_version_raises(spark, fake_s3):
    url = f"s3://{BUCKET}/w16/conflict"
    opts = _opts(fake_s3)
    df = _df(spark, [(1, "a", 10)])
    assert write_snapshot(df, url, s3_options=opts) == 1
    assert write_snapshot(df, url, s3_options=opts, expected_version=1) == 2
    with pytest.raises(Exception) as ei:
        write_snapshot(df, url, s3_options=opts, expected_version=1)
    assert S._is_conflict(ei.value)


def test_s3_exact_version_return_via_commit_uuid(spark, fake_s3):
    """ADVICE r15: the committed version is located by the commit uuid
    stamped into the manifest, not a post-hoc listing."""
    from tile_processor_spark.sources.snapshot_datasource import (
        S3SnapshotStore,
    )

    url = f"s3://{BUCKET}/w16/uuidret"
    opts = _opts(fake_s3)
    df = _df(spark, [(1, "a", 10)])
    assert append_snapshot(df, url, s3_options=opts) == 1
    assert append_snapshot(df, url, s3_options=opts) == 2
    store = S3SnapshotStore(url, dict(opts))
    u1 = store.manifest(1).get("commit_uuid")
    u2 = store.manifest(2).get("commit_uuid")
    assert u1 and u2 and u1 != u2
    assert S._find_commit_version(store, u1) == 1
    assert S._find_commit_version(store, u2) == 2
    with pytest.raises(RuntimeError, match="not found"):
        S._find_commit_version(store, "nope")


# ------------------------------------------------------------------- delete


def test_delete_where_basic_and_null_semantics(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, 40)], "k int, v int"
    )
    write_snapshot(df, tbl)
    v = delete_snapshot(spark, tbl, [("v", ">=", 30)])
    assert v == 2
    got = sorted((r.k, r.v) for r in read_snapshot(spark, tbl).collect())
    # SQL DELETE semantics: the NULL-predicate row is KEPT
    assert got == [(1, 10), (2, None)]
    # pre-delete state still time-travels
    assert read_snapshot(spark, tbl, version=1).count() == 4


def test_delete_empty_where_raises(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a", 1)]), tbl)
    with pytest.raises(ValueError, match="non-empty where"):
        delete_snapshot(spark, tbl, [])


def test_delete_untouched_files_carried_not_rewritten(spark, tmp_path):
    """Copy-on-write proof: a file whose stats exclude the predicate is
    carried BY REFERENCE (same path in the new manifest), never
    rewritten."""
    tbl = str(tmp_path / "tbl")
    lo = spark.range(0, 100).selectExpr("CAST(id AS INT) k").coalesce(1)
    hi = spark.range(1000, 1100).selectExpr("CAST(id AS INT) k").coalesce(1)
    write_snapshot(lo, tbl)
    append_snapshot(hi, tbl)
    m2 = _read_manifest(tbl, 2)
    assert len(m2["files"]) == 2
    v = delete_snapshot(spark, tbl, [("k", ">=", 1050)])
    assert v == 3
    m3 = _read_manifest(tbl, 3)
    carried = set(m2["files"]) & set(m3["files"])
    assert len(carried) == 1  # the lo file untouched, the hi rewritten
    assert m3["rewrote_files"] == 1
    assert m3["deleted_where"] == [["k", ">=", 1050]]
    assert read_snapshot(spark, tbl).count() == 150
    # carried file kept its commit-time stats
    assert next(iter(carried)) in m3.get("file_stats", {})


def test_delete_noop_commits_nothing(spark, tmp_path):
    # coalesce(1): a multi-partition range writes 0-row files, which
    # carry no stats and so conservatively count as touched (a delete
    # would rewrite only those empty files — correct, just not a no-op)
    tbl = str(tmp_path / "tbl")
    write_snapshot(
        spark.range(10).selectExpr("CAST(id AS INT) k").coalesce(1), tbl
    )
    assert delete_snapshot(spark, tbl, [("k", ">", 10_000)]) == 1
    assert list_versions(tbl) == [1]


def test_delete_partitioned_shared_tree_prunes_by_partition(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("b", 4, 40)],
        "grp string, k int, v int",
    )
    write_snapshot(df, tbl, partition_by=["grp"])  # v1, in the tree
    m1 = _read_manifest(tbl, 1)
    v = delete_snapshot(spark, tbl, [("grp", "=", "b"), ("v", ">", 30)])
    assert v == 2
    m2 = _read_manifest(tbl, 2)
    # the grp=a files never matched the partition predicate: carried
    a_files = [f for f in m1["files"] if "grp=a" in f]
    assert a_files and all(f in m2["files"] for f in a_files)
    assert m2["base"] == m1["base"] == f"{tbl}/data/tree"
    assert all(f.startswith(m2["base"] + "/") for f in m2["files"])
    got = sorted((r.grp, r.k) for r in read_snapshot(spark, tbl).collect())
    assert got == [("a", 1), ("a", 2), ("b", 3)]
    # partition-pruned reads still work on the post-delete head
    got_b = read_snapshot(spark, tbl, partition_filter={"grp": "b"})
    assert [r.k for r in got_b.collect()] == [3]
    # and appends keep working on the tree after a delete
    append_snapshot(
        spark.createDataFrame([("c", 5, 50)], "grp string, k int, v int"), tbl
    )
    assert read_snapshot(spark, tbl).count() == 4


def test_delete_unconverted_partitioned_full_rewrite(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20)], "grp string, k int, v int"
    )
    write_snapshot(df, tbl, partition_by=["grp"])
    v = delete_snapshot(spark, tbl, [("v", ">=", 20)])
    assert v == 2
    m2 = _read_manifest(tbl, 2)
    assert m2["partition_by"] == ["grp"]  # layout survives the rewrite
    got = sorted((r.grp, r.k) for r in read_snapshot(spark, tbl).collect())
    assert got == [("a", 1)]
    assert read_snapshot(
        spark, tbl, partition_filter={"grp": "a"}
    ).count() == 1


def test_delete_grouped_manifest_flattens_correctly(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import compact_manifest

    tbl = str(tmp_path / "tbl")
    write_snapshot(spark.range(100).selectExpr("CAST(id AS INT) k"), tbl)
    compact_manifest(tbl)  # v2 grouped
    v = delete_snapshot(spark, tbl, [("k", "<", 10)])
    assert v == 3
    assert read_snapshot(spark, tbl).count() == 90
    assert "groups" not in _read_manifest(tbl, 3)


def test_s3_delete_copy_on_write_and_pruning(spark, fake_s3):
    from tile_processor_spark.sources.snapshot_datasource import (
        S3SnapshotStore,
    )

    url = f"s3://{BUCKET}/w16/del"
    opts = _opts(fake_s3)
    lo = spark.range(0, 100).selectExpr("CAST(id AS INT) k").coalesce(1)
    hi = spark.range(1000, 1100).selectExpr("CAST(id AS INT) k").coalesce(1)
    write_snapshot(lo, url, s3_options=opts)
    append_snapshot(hi, url, s3_options=opts)
    store = S3SnapshotStore(url, dict(opts))
    m2 = store.manifest(2)
    v = delete_snapshot(spark, url, [("k", ">=", 1050)], s3_options=opts)
    assert v == 3
    m3 = store.manifest(3)
    carried = set(m2["files"]) & set(m3["files"])
    assert len(carried) == 1
    assert m3["rewrote_files"] == 1
    assert m3["deleted_where"] == [["k", ">=", 1050]]
    assert read_snapshot(spark, url, s3_options=opts).count() == 150
    # no-op delete commits nothing
    assert delete_snapshot(
        spark, url, [("k", ">", 10**6)], s3_options=opts
    ) == 3
    assert store.versions() == [1, 2, 3]


def test_s3_delete_partitioned(spark, fake_s3):
    url = f"s3://{BUCKET}/w16/delpart"
    opts = _opts(fake_s3)
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)], "grp string, k int, v int"
    )
    write_snapshot(df, url, partition_by=["grp"], s3_options=opts)
    v = delete_snapshot(
        spark, url, [("grp", "=", "a"), ("v", ">", 10)], s3_options=opts
    )
    assert v == 2
    got = sorted(
        (r.grp, r.k)
        for r in read_snapshot(spark, url, s3_options=opts).collect()
    )
    assert got == [("a", 1), ("b", 3)]
    # partition pruning still works post-delete
    pf = read_snapshot(
        spark, url, partition_filter={"grp": "a"}, s3_options=opts
    )
    assert [r.k for r in pf.collect()] == [1]


# -------------------------------------------------------------- dup guard


def test_upsert_duplicate_delta_raises_valueerror(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a", 10)]), tbl)
    dup = _df(spark, [(5, "x", 1), (5, "y", 2)])
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_snapshot(dup, tbl, ["k"])
    # the failed merge committed nothing
    assert list_versions(tbl) == [1]


def test_s3_upsert_duplicate_delta_raises_valueerror(spark, fake_s3):
    url = f"s3://{BUCKET}/w16/dup"
    opts = _opts(fake_s3)
    write_snapshot(_df(spark, [(1, "a", 10)]), url, s3_options=opts)
    dup = _df(spark, [(5, "x", 1), (5, "y", 2)])
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_snapshot(dup, url, ["k"], s3_options=opts)


# ------------------------------------------------------------------- as-of


def _mid(tbl, a, b):
    ma, mb = _read_manifest(tbl, a), _read_manifest(tbl, b)
    return (ma["committed_at"] + mb["committed_at"]) / 2


def test_as_of_resolution_local(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a", 10)]), tbl)
    time.sleep(0.02)
    append_snapshot(_df(spark, [(2, "b", 20)]), tbl)
    time.sleep(0.02)
    append_snapshot(_df(spark, [(3, "c", 30)]), tbl)
    mid12 = _mid(tbl, 1, 2)
    assert resolve_as_of(tbl, mid12) == 1
    assert read_snapshot(spark, tbl, as_of=mid12).count() == 1
    assert resolve_as_of(tbl, _mid(tbl, 2, 3)) == 2
    # boundary is INCLUSIVE: exactly-at-commit sees that commit
    assert resolve_as_of(tbl, _read_manifest(tbl, 2)["committed_at"]) == 2
    assert resolve_as_of(tbl, time.time() + 60) == 3
    with pytest.raises(FileNotFoundError, match="at or before"):
        resolve_as_of(tbl, _read_manifest(tbl, 1)["committed_at"] - 10)
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_snapshot(spark, tbl, version=1, as_of=mid12)
    # datetime / ISO-string forms resolve identically
    import datetime as dt

    as_dt = dt.datetime.fromtimestamp(mid12)
    assert resolve_as_of(tbl, as_dt) == 1
    assert resolve_as_of(tbl, as_dt.isoformat()) == 1


def test_as_of_through_connector_and_diff(spark, tmp_path):
    from tile_processor_spark.sources.snapshot_datasource import register

    register(spark)
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a", 10)]), tbl)
    time.sleep(0.02)
    append_snapshot(_df(spark, [(2, "b", 20)]), tbl)
    mid = _mid(tbl, 1, 2)
    got = (
        spark.read.format("tps_snapshot")
        .option("path", tbl)
        .option("as_of", repr(mid))
        .load()
    )
    assert got.count() == 1
    with pytest.raises(Exception, match="mutually exclusive"):
        (
            spark.read.format("tps_snapshot")
            .option("path", tbl)
            .option("version", 1)
            .option("as_of", repr(mid))
            .load()
            .collect()
        )
    d = snapshot_diff(
        spark, tbl, from_as_of=mid, to_version=2, key_cols=["k"]
    ).collect()
    assert [(r.k, r.change_type) for r in d] == [(2, "insert")]
    with pytest.raises(ValueError, match="exactly one"):
        snapshot_diff(
            spark, tbl, from_version=1, from_as_of=mid, to_version=2,
            key_cols=["k"],
        )


def test_as_of_s3(spark, fake_s3):
    from tile_processor_spark.sources.snapshot_datasource import (
        S3SnapshotStore,
    )

    url = f"s3://{BUCKET}/w16/asof"
    opts = _opts(fake_s3)
    write_snapshot(_df(spark, [(1, "a", 10)]), url, s3_options=opts)
    time.sleep(0.02)
    append_snapshot(_df(spark, [(2, "b", 20)]), url, s3_options=opts)
    store = S3SnapshotStore(url, dict(opts))
    mid = (
        store.manifest(1)["committed_at"] + store.manifest(2)["committed_at"]
    ) / 2
    assert resolve_as_of(url, mid, opts) == 1
    assert read_snapshot(spark, url, as_of=mid, s3_options=opts).count() == 1


# ----------------------------------------------------------------- history


def test_history_delete_and_bytes(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a", 10), (2, "b", 20)]), tbl)
    delete_snapshot(spark, tbl, [("v", ">=", 20)])
    h = snapshot_history(tbl, include_bytes=True)
    assert [e["operation"] for e in h] == ["create", "delete"]
    assert h[1]["deleted_where"] == [["v", ">=", 20]]
    assert h[1]["rewrote_files"] >= 1
    assert all(isinstance(e["n_bytes"], int) and e["n_bytes"] > 0 for e in h)
    # default path stays metadata-cheap: no n_bytes key at all
    assert "n_bytes" not in snapshot_history(tbl)[0]


def test_history_stream_created_v1_is_create(spark, tmp_path):
    """VERDICT r15 minor #4: a version-1 born from a stream micro-batch
    classifies as 'create' like any other first commit, with the
    stream_batch_id still reported."""
    from tile_processor_spark.sources.snapshots import commit_append

    tbl = str(tmp_path / "tbl")
    d = tmp_path / "delta"
    _df(spark, [(1, "a", 10)]).write.parquet(str(d))
    files = sorted(str(p) for p in d.glob("*.parquet"))
    # a first commit carrying a stream mark (the sink's v1 shape)
    write_snapshot(_df(spark, [(1, "a", 10)]), tbl)
    import os
    import shutil

    shutil.rmtree(tbl)
    os.makedirs(tbl, exist_ok=True)
    S._commit_manifest(
        tbl,
        {
            "version": 1,
            "committed_at": time.time(),
            "files": files,
            "appended_files": files,
            "schema": _df(spark, [(1, "a", 10)]).schema.json(),
            "base": str(d),
            "partition_by": [],
            "stream_batch_id": 0,
            "stream_high_water": {"app": 0},
        },
        1,
    )
    h = snapshot_history(tbl)
    assert h[0]["operation"] == "create"
    assert h[0]["stream_batch_id"] == 0
