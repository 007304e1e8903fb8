"""The snapshot commit protocol on an OBJECT-STORE-shaped filesystem:
no hard links, no rename — only whole-file copy and atomic
create-if-absent (conditional PUT). Every protocol guarantee must hold
through `sources/commit_fs.py`'s interface alone, and a crash at any
declared fault point must leave the table readable and unchanged
(orphans allowed; corruption never). This is VERDICT r10 worklist #2:
the FS assumptions made an interface, with the safety argument tested
rather than implied."""

from __future__ import annotations

import os

import pytest

from tile_processor_spark.sources.commit_fs import (
    CopyCommitFS,
    FaultInjectingCopyFS,
    LocalCommitFS,
    set_commit_fs,
)
from tile_processor_spark.sources.snapshots import (
    append_snapshot,
    compact_manifest,
    list_versions,
    read_snapshot,
    vacuum,
    write_snapshot,
)


@pytest.fixture
def object_store_fs():
    prev = set_commit_fs(CopyCommitFS())
    yield
    set_commit_fs(prev)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_full_lifecycle_without_hardlinks_or_rename(spark, tmp_path, object_store_fs):
    """partitioned write → partitioned append → compact → time travel →
    vacuum, all on copy+conditional-create primitives only."""
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, grp string"
    )
    write_snapshot(df, tbl, partition_by=["grp"])                     # v1
    append_snapshot(
        spark.createDataFrame([(3, "a")], "k int, grp string"), tbl
    )                                                                  # v2
    compact_manifest(tbl)                                              # v3
    assert list_versions(tbl) == [1, 2, 3]
    assert _rows(read_snapshot(spark, tbl).select("k")) == [(1,), (2,), (3,)]
    # time travel intact through append + compaction
    assert _rows(read_snapshot(spark, tbl, version=1).select("k")) == [(1,), (2,)]
    # manifest-level pruning still works on the compacted head
    assert _rows(
        read_snapshot(spark, tbl, partition_filter={"grp": "a"}).select("k")
    ) == [(1,), (3,)]
    got = vacuum(tbl, keep_last=2, claim_ttl_s=0)
    assert got["retired_versions"] == [1]
    assert _rows(read_snapshot(spark, tbl).select("k")) == [(1,), (2,), (3,)]


def test_racing_committers_exactly_one_wins(spark, tmp_path, object_store_fs):
    """The conditional-PUT model: two committers of the same version —
    the loser raises, never clobbers."""
    import json
    import time

    from tile_processor_spark.sources.snapshots import _commit_manifest

    tbl = str(tmp_path / "tbl")
    os.makedirs(tbl)
    man = {
        "version": 1,
        "committed_at": time.time(),
        "files": [],
        "schema": spark.createDataFrame([(1,)], "k int").schema.json(),
        "base": tbl,
        "partition_by": [],
    }
    _commit_manifest(tbl, man, 1)
    with pytest.raises(RuntimeError, match="already committed"):
        _commit_manifest(tbl, dict(man, committed_at=0.0), 1)
    # winner's content intact
    with open(os.path.join(tbl, "manifest-v00000001.json")) as f:
        assert json.load(f)["committed_at"] == man["committed_at"]


def test_crash_before_publish_leaves_table_unchanged(spark, tmp_path):
    """A writer dying before the manifest publish leaves data-file
    orphans no reader can see; the table head is exactly the previous
    version, and vacuum reclaims the orphans."""
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "k int")
    write_snapshot(df, tbl)  # healthy v1 on the local FS
    fs = FaultInjectingCopyFS(crash_at="before_publish")
    prev = set_commit_fs(fs)
    try:
        with pytest.raises(FaultInjectingCopyFS.Crash):
            write_snapshot(spark.createDataFrame([(2,)], "k int"), tbl)
    finally:
        set_commit_fs(prev)
    assert list_versions(tbl) == [1]
    assert _rows(read_snapshot(spark, tbl)) == [(1,)]
    removed = vacuum(tbl, keep_last=1, claim_ttl_s=0)["files_removed"]
    assert removed >= 1  # the crashed writer's orphan data files
    assert _rows(read_snapshot(spark, tbl)) == [(1,)]


def test_crash_mid_rehome_is_recoverable(spark, tmp_path):
    """Object-store rehome is copy+delete, not atomic — a crash between
    the two leaves an orphan COPY plus the staged source, both
    unreferenced. The table head is unchanged and a retry (healthy FS)
    appends cleanly."""
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k int, grp string")
    write_snapshot(df, tbl, partition_by=["grp"])  # v1, in the tree
    delta = spark.createDataFrame([(2, "a")], "k int, grp string")
    fs = FaultInjectingCopyFS(crash_at="mid_rehome")
    prev = set_commit_fs(fs)
    try:
        with pytest.raises(FaultInjectingCopyFS.Crash):
            append_snapshot(delta, tbl)
    finally:
        set_commit_fs(prev)
    assert list_versions(tbl) == [1]
    assert _rows(read_snapshot(spark, tbl).select("k")) == [(1,)]
    # retry on the healthy FS: the orphan copy does not block anything
    append_snapshot(delta, tbl)
    assert _rows(read_snapshot(spark, tbl).select("k")) == [(1,), (2,)]
    # vacuum reclaims the crashed attempt's orphans, readers unharmed
    vacuum(tbl, keep_last=1, claim_ttl_s=0)
    assert _rows(read_snapshot(spark, tbl).select("k")) == [(1,), (2,)]


def test_local_fs_is_default_and_link_based(tmp_path):
    """The default commit FS publishes by hard link — pin that the
    local fast path didn't silently become a copy."""
    from tile_processor_spark.sources.commit_fs import get_commit_fs

    assert isinstance(get_commit_fs(), LocalCommitFS)
    src = tmp_path / "src.txt"
    src.write_text("x")
    dst = tmp_path / "dst.txt"
    get_commit_fs().publish_exclusive(str(src), str(dst))
    assert os.stat(src).st_ino == os.stat(dst).st_ino  # same inode
    with pytest.raises(FileExistsError):
        get_commit_fs().publish_exclusive(str(src), str(dst))


def test_publish_is_all_or_nothing(spark, tmp_path):
    """The conditional-PUT emulation is atomic AND exclusive in one
    operation: a crash before the PUT leaves the final path absent and
    the table head unchanged, with nothing blocking a clean retry (a
    real store's crashed PUT leaves no residue either — an earlier
    claim-file emulation poisoned the version number and raced vacuum;
    that whole failure class is gone by construction)."""
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "k int")
    write_snapshot(df, tbl)  # healthy v1
    fs = FaultInjectingCopyFS(crash_at="mid_publish")
    prev = set_commit_fs(fs)
    try:
        with pytest.raises(FaultInjectingCopyFS.Crash):
            write_snapshot(spark.createDataFrame([(2,)], "k int"), tbl)
    finally:
        set_commit_fs(prev)
    assert list_versions(tbl) == [1]
    assert _rows(read_snapshot(spark, tbl)) == [(1,)]
    # retry in the object-store world succeeds immediately — no stale
    # marker to clean up first
    prev = set_commit_fs(CopyCommitFS())
    try:
        write_snapshot(spark.createDataFrame([(2,)], "k int"), tbl)
    finally:
        set_commit_fs(prev)
    assert _rows(read_snapshot(spark, tbl)) == [(2,)]


def test_vacuum_reclaims_stale_commit_tmps(spark, tmp_path):
    """A committer killed hard (no finally) leaves its private
    .manifest.tmp.* staging file; vacuum reclaims it after the TTL and
    never touches fresh ones (they may be in-flight commits). Also:
    vacuum on a never-created table path returns empty stats instead
    of crashing (cron sweeps over configured paths)."""
    import time

    assert vacuum(str(tmp_path / "never_created")) == {
        "retired_versions": [],
        "kept_versions": [],
        "files_removed": 0,
    }
    tbl = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1,)], "k int"), tbl)
    stale = os.path.join(tbl, ".manifest.tmp.deadbeef")
    open(stale, "w").write("{}")
    vacuum(tbl, keep_last=1, claim_ttl_s=3600)
    assert os.path.exists(stale)  # fresh: possibly in-flight
    old = time.time() - 7200
    os.utime(stale, (old, old))
    got = vacuum(tbl, keep_last=1, claim_ttl_s=3600)
    assert not os.path.exists(stale)
    assert got["files_removed"] >= 1


def test_vacuum_keeps_fresh_empty_tree_dirs(tmp_path):
    """A tree writer makes its ``col=val`` directory and then writes
    its file into it; vacuum must not remove that directory in between.
    An empty directory is reclaimed only once it is older than the
    retention window."""
    import time

    tbl = tmp_path / "tbl"
    d = tbl / "data" / "tree" / "g=1"
    d.mkdir(parents=True)
    vacuum(str(tbl), claim_ttl_s=3600)
    assert d.is_dir()  # fresh: a writer may be about to fill it
    old = time.time() - 7200
    os.utime(d, (old, old))
    vacuum(str(tbl), claim_ttl_s=3600)
    assert not d.exists()


def test_copyfs_publish_never_partial_content(tmp_path, object_store_fs):
    """Direct primitive check: at no point does the final path hold
    anything but the complete content."""
    from tile_processor_spark.sources.commit_fs import get_commit_fs

    src = tmp_path / "src.json"
    src.write_text("x" * 100_000)
    dst = str(tmp_path / "dst.json")
    get_commit_fs().publish_exclusive(str(src), dst)
    assert open(dst).read() == "x" * 100_000
    with pytest.raises(FileExistsError):
        get_commit_fs().publish_exclusive(str(src), dst)
