"""Store-native manifest compaction (round 15): ``compact_manifest``
on an ``s3://`` table rewrites a committed version's flat manifest into the two-level grouped
layout directly against the ``s3://`` prefix — driver-side metadata
only, no data bytes moved, no local mirror round-trip — and
``vacuum_store`` reclaims superseded group side objects like the local
vacuum's groups sweep.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from tests.test_s3_commit_fs import ACCESS, REGION, SECRET
from tests.test_s3_snapshot_write import _client, _read, _rows, _s3_opts

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


@pytest.fixture(autouse=True)
def _register(spark):
    from tile_processor_spark.sources.snapshot_datasource import register

    register(spark)


def test_compact_store_partitioned_grouped_pruned_read(spark, fake_s3):
    """Native partitioned table + append → compact_manifest groups by
    partition value; the grouped manifest reads identically, pruning
    opens only the matching group's side object, and stats survive."""
    from tile_processor_spark.sources.snapshots import compact_manifest

    prefix = "warehouse/native_compact"
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
    (
        df2.write.format("tps_snapshot")
        .options(**_s3_opts(fake_s3, prefix))
        .mode("append")
        .save()
    )
    before = _rows(_read(spark, fake_s3, prefix))

    opts = {k: v for k, v in _s3_opts(fake_s3, prefix).items() if k != "path"}
    v3 = compact_manifest(f"s3://{BUCKET}/{prefix}", s3_options=opts)
    assert v3 == 3
    m3 = json.loads(
        _client(fake_s3).get_object(f"{prefix}/manifest-v00000003.json")
    )
    assert "groups" in m3 and "files" not in m3
    assert m3["compacted_from"] == 2
    assert m3["partition_by"] == ["status"]
    # one group per partition value; the two F files (both snap
    # prefixes) merge into ONE group
    values = sorted(g["values"]["status"] for g in m3["groups"])
    assert values == ["F", "O", "P"]
    f_group = next(g for g in m3["groups"] if g["values"]["status"] == "F")
    assert f_group["n_files"] == 2
    # grouped head reads identically; pruning works through groups
    assert _rows(_read(spark, fake_s3, prefix)) == before
    assert _rows(
        _read(spark, fake_s3, prefix, partition_filter='{"status": "F"}')
        .select("k")
    ) == [(1,), (3,)]
    # side objects landed under the prefix and resolve via the root
    assert all(g["path"].startswith(m3["root"] + "/groups/") for g in m3["groups"])
    assert not fake_s3.rejections


def test_compact_store_rollback_guard_and_stats(spark, fake_s3):
    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotPushdownReader,
    )
    from tile_processor_spark.sources.snapshots import compact_manifest

    prefix = "warehouse/native_compact2"
    # two range-disjoint appends -> per-file stats in the manifest
    (
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "k long, v double").coalesce(1)
        .write.format("tps_snapshot").options(**_s3_opts(fake_s3, prefix))
        .mode("overwrite").save()
    )
    (
        spark.createDataFrame([(i, float(i)) for i in range(100, 110)],
                              "k long, v double").coalesce(1)
        .write.format("tps_snapshot").options(**_s3_opts(fake_s3, prefix))
        .mode("append").save()
    )
    opts = {k: v for k, v in _s3_opts(fake_s3, prefix).items() if k != "path"}
    with pytest.raises(ValueError, match="rolling back|allow_rollback"):
        compact_manifest(f"s3://{BUCKET}/{prefix}", version=1, s3_options=opts)
    v3 = compact_manifest(f"s3://{BUCKET}/{prefix}", group_files=1, s3_options=opts)
    # stats carried into group side files -> where-skipping still plans
    # fewer input partitions on the grouped head
    schema = _read(spark, fake_s3, prefix).schema
    all_opts = dict(_s3_opts(fake_s3, prefix))
    rdr_all = SnapshotPushdownReader(schema, dict(all_opts))
    rdr_skip = SnapshotPushdownReader(schema, dict(all_opts))
    rdr_skip._where = [("k", ">=", 100)]
    n_all = sum(len(p.files) for p in rdr_all.partitions())
    n_skip = sum(len(p.files) for p in rdr_skip.partitions())
    assert 0 < n_skip < n_all
    assert _read(spark, fake_s3, prefix).filter("k >= 100").count() == 10
    # re-compaction of a grouped head is idempotent in effect
    v4 = compact_manifest(f"s3://{BUCKET}/{prefix}", group_files=1, s3_options=opts)
    assert v4 == v3 + 1
    assert _read(spark, fake_s3, prefix).count() == 20


def test_vacuum_store_reclaims_superseded_group_objects(spark, fake_s3):
    from tile_processor_spark.sources.snapshots import vacuum
    from tile_processor_spark.sources.snapshots import compact_manifest

    prefix = "warehouse/native_compact3"
    (
        spark.createDataFrame([(1,), (2,)], "k long")
        .write.format("tps_snapshot").options(**_s3_opts(fake_s3, prefix))
        .mode("overwrite").save()
    )
    opts = {k: v for k, v in _s3_opts(fake_s3, prefix).items() if k != "path"}
    compact_manifest(f"s3://{BUCKET}/{prefix}", s3_options=opts)  # v2 grouped
    compact_manifest(f"s3://{BUCKET}/{prefix}", s3_options=opts)  # v3 grouped
    c = _client(fake_s3)
    group_keys = [k for k in c.list_objects(prefix + "/groups/")]
    assert len(group_keys) == 2  # one side object per compaction
    # age everything past the window, then vacuum keep_last=1: v3's
    # group object survives (referenced), the superseded one goes
    for k in group_keys:
        fake_s3.mtimes[k] = time.time() - 7200
    out = vacuum(
        f"s3://{BUCKET}/{prefix}", keep_last=1, claim_ttl_s=3600, s3_options=opts
    )
    assert out["kept_versions"] == [3]
    left = [k for k in c.list_objects(prefix + "/groups/")]
    assert len(left) == 1
    m3 = json.loads(c.get_object(f"{prefix}/manifest-v00000003.json"))
    assert m3["groups"][0]["path"].endswith(left[0].rsplit("/", 1)[-1])
    # the grouped head still reads after the sweep
    assert _rows(_read(spark, fake_s3, prefix)) == [(1,), (2,)]
    assert not fake_s3.rejections


def test_snapshot_history_local_and_s3(spark, fake_s3, tmp_path):
    """DESCRIBE HISTORY twin (round 15): one metadata row per version
    with the operation classified — create / append / rewrite /
    compact — identical through the local and s3 paths."""
    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        compact_manifest,
        snapshot_history,
        upsert_snapshot,
        write_snapshot,
    )

    # local: create -> append -> upsert(rewrite) -> compact
    tbl = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1, "a")], "k long, s string"), tbl)
    append_snapshot(spark.createDataFrame([(2, "b")], "k long, s string"), tbl)
    upsert_snapshot(
        spark.createDataFrame([(2, "B")], "k long, s string"), tbl, ["k"]
    )
    compact_manifest(tbl)
    h = snapshot_history(tbl)
    assert [e["operation"] for e in h] == [
        "create", "append", "rewrite", "compact",
    ]
    assert [e["version"] for e in h] == [1, 2, 3, 4]
    assert h[1]["n_appended"] >= 1 and h[1]["n_files"] > h[0]["n_files"]
    assert h[3]["compacted_from"] == 3
    # grouped head reports file counts without opening side files
    assert h[3]["n_files"] == h[2]["n_files"]

    # s3: the native write plane produces the same classified history
    prefix = "warehouse/fn_history"
    url = f"s3://{BUCKET}/{prefix}"
    opts = {k: v for k, v in _s3_opts(fake_s3, prefix).items() if k != "path"}
    write_snapshot(
        spark.createDataFrame([("F", 1)], "g string, k long"),
        url, partition_by=["g"], s3_options=opts,
    )
    append_snapshot(
        spark.createDataFrame([("O", 2)], "g string, k long"),
        url, s3_options=opts,
    )
    compact_manifest(url, s3_options=opts)
    hs = snapshot_history(url, s3_options=opts)
    assert [e["operation"] for e in hs] == ["create", "append", "compact"]
    assert all(e["partition_by"] == ["g"] for e in hs)
    assert hs[1]["n_appended"] == 1
    assert not fake_s3.rejections


def test_s3_append_onto_compacted_head_stays_grouped(spark, fake_s3):
    """An s3:// append onto a compacted head adds its delta as new
    group(s), as the local append does: the old group side objects are
    shared verbatim, one new group per partition value in the delta,
    and reads and pruning see old and new rows alike."""
    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        compact_manifest,
        write_snapshot,
    )

    prefix = "warehouse/native_grouped_append"
    url = f"s3://{BUCKET}/{prefix}"
    opts = {k: v for k, v in _s3_opts(fake_s3, prefix).items() if k != "path"}
    schema = "status string, k long, v double"
    write_snapshot(
        spark.createDataFrame([("F", 1, 10.0), ("O", 2, 20.0)], schema),
        url, partition_by=["status"], s3_options=opts,
    )
    append_snapshot(
        spark.createDataFrame([("F", 3, 30.0)], schema), url, s3_options=opts
    )
    assert compact_manifest(url, s3_options=opts) == 3
    v4 = append_snapshot(
        spark.createDataFrame([("O", 4, 40.0), ("P", 5, 50.0)], schema),
        url, s3_options=opts,
    )
    assert v4 == 4
    c = _client(fake_s3)
    m3 = json.loads(c.get_object(f"{prefix}/manifest-v00000003.json"))
    m4 = json.loads(c.get_object(f"{prefix}/manifest-v00000004.json"))
    assert "groups" in m4 and "files" not in m4
    assert m4["groups"][: len(m3["groups"])] == m3["groups"]
    new_groups = m4["groups"][len(m3["groups"]):]
    assert sorted(g["values"]["status"] for g in new_groups) == ["O", "P"]
    assert all(g["stats"]["k"] for g in new_groups)
    assert len(m4["appended_files"]) == 2 and m4["appended_to"] == 3
    assert _rows(_read(spark, fake_s3, prefix)) == [
        ("F", 1, 10.0), ("F", 3, 30.0), ("O", 2, 20.0), ("O", 4, 40.0),
        ("P", 5, 50.0),
    ]
    assert _rows(
        _read(spark, fake_s3, prefix, partition_filter='{"status": "O"}')
        .select("k")
    ) == [(2,), (4,)]
    assert not fake_s3.rejections


class _Table:
    """One snapshot table on either backend — a local directory or a
    prefix on the fake S3 — with the out-of-band file operations the
    tests below need, on paths relative to the table."""

    def __init__(self, backend: str, tmp_path, srv, name: str):
        self.srv = srv
        self.local = backend == "local"
        if self.local:
            self.url, self.opts = str(tmp_path / name), None
        else:
            self.prefix = f"warehouse/{name}"
            self.url = f"s3://{BUCKET}/{self.prefix}"
            self.opts = {
                k: v for k, v in _s3_opts(srv, self.prefix).items() if k != "path"
            }

    def files(self) -> dict[str, int]:
        """Every file under the table: relative path → size."""
        if self.local:
            return {
                os.path.relpath(os.path.join(d, n), self.url): os.path.getsize(
                    os.path.join(d, n)
                )
                for d, _dirs, names in os.walk(self.url)
                for n in names
            }
        listed = _client(self.srv).list_objects_sizes(self.prefix + "/")
        return {k[len(self.prefix) + 1 :]: size for k, size in listed}

    def age(self, rels, age_s: float) -> None:
        t = time.time() - age_s
        for rel in rels:
            if self.local:
                os.utime(os.path.join(self.url, rel), (t, t))
            else:
                self.srv.mtimes[f"{self.prefix}/{rel}"] = t

    def put(self, rel: str, age_s: float = 0.0) -> None:
        if self.local:
            path = os.path.join(self.url, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(b"bytes")
        else:
            _client(self.srv).put_object(f"{self.prefix}/{rel}", b"bytes")
        self.age([rel], age_s)

    def remove(self, rel: str) -> None:
        if self.local:
            os.unlink(os.path.join(self.url, rel))
        else:
            _client(self.srv).delete_object(f"{self.prefix}/{rel}")


@pytest.mark.parametrize("backend", ["local", "s3"])
def test_vacuum_same_history_on_both_backends(spark, fake_s3, tmp_path, backend):
    """One vacuum, one outcome on either backend: the same history
    retires the same versions; an aged unreferenced data file and the
    superseded group side file go, a young unreferenced data file stays
    until ``claim_ttl_s=0``, foreign files stay, and the head reads the
    same throughout."""
    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        compact_manifest,
        read_snapshot,
        vacuum,
        write_snapshot,
    )

    t = _Table(backend, tmp_path, fake_s3, "vacuum_both")
    write_snapshot(spark.createDataFrame([(1,), (2,)], "k long"), t.url, s3_options=t.opts)
    append_snapshot(spark.createDataFrame([(3,)], "k long"), t.url, s3_options=t.opts)
    compact_manifest(t.url, s3_options=t.opts)  # v3, grouped
    compact_manifest(t.url, s3_options=t.opts)  # v4 supersedes v3's side file
    assert len([f for f in t.files() if f.startswith("groups/")]) == 2
    t.age(t.files(), 7200)
    young, aged = "data/young/part-young.parquet", "data/old/part-old.parquet"
    foreign = {"data/old/notes.txt", "notes.txt"}
    t.put(young)
    t.put(aged, age_s=7200)
    for rel in foreign:
        t.put(rel, age_s=7200)

    out = vacuum(t.url, keep_last=1, claim_ttl_s=3600, s3_options=t.opts)
    assert out["retired_versions"] == [1, 2, 3]
    assert out["kept_versions"] == [4]
    left = t.files()
    assert young in left and aged not in left
    assert foreign <= set(left)
    assert len([f for f in left if f.startswith("groups/")]) == 1
    assert _rows(read_snapshot(spark, t.url, s3_options=t.opts)) == [(1,), (2,), (3,)]

    out = vacuum(t.url, keep_last=1, claim_ttl_s=0, s3_options=t.opts)
    assert out["retired_versions"] == [] and out["kept_versions"] == [4]
    left = t.files()
    assert young not in left and foreign <= set(left)
    assert _rows(read_snapshot(spark, t.url, s3_options=t.opts)) == [(1,), (2,), (3,)]
    assert not fake_s3.rejections


@pytest.mark.parametrize("backend", ["local", "s3"])
def test_history_bytes_sum_listed_sizes(spark, fake_s3, tmp_path, backend):
    """``snapshot_history(include_bytes=True)`` totals the sizes of each
    version's data files as the backend lists them, and reports None
    once a referenced file is gone (or, on s3, when a manifest has no
    table root to locate its files by)."""
    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        snapshot_history,
        write_snapshot,
    )

    def parquet():
        return {f: n for f, n in t.files().items() if f.endswith(".parquet")}

    t = _Table(backend, tmp_path, fake_s3, "history_bytes")
    write_snapshot(spark.createDataFrame([(1,), (2,)], "k long"), t.url, s3_options=t.opts)
    v1 = parquet()
    append_snapshot(spark.createDataFrame([(3,)], "k long"), t.url, s3_options=t.opts)
    v2 = parquet()
    h = snapshot_history(t.url, s3_options=t.opts, include_bytes=True)
    assert [e["n_bytes"] for e in h] == [sum(v1.values()), sum(v2.values())]

    t.remove(sorted(set(v2) - set(v1))[0])  # a file only v2 references
    h = snapshot_history(t.url, s3_options=t.opts, include_bytes=True)
    assert [e["n_bytes"] for e in h] == [sum(v1.values()), None]
    if not t.local:
        c = _client(fake_s3)
        key = f"{t.prefix}/manifest-v00000001.json"
        m = json.loads(c.get_object(key))
        del m["root"]
        c.put_object(key, json.dumps(m).encode())
        h = snapshot_history(t.url, s3_options=t.opts, include_bytes=True)
        assert [e["n_bytes"] for e in h] == [None, None]
    assert not fake_s3.rejections
