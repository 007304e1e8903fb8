"""Snapshot-table contract: committed versions are immutable,
time-travel reproduces them bit-for-bit, readers never see a torn
state, and vacuum reclaims only unreferenced files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tile_processor_spark.sources.snapshots import (
    list_versions,
    read_snapshot,
    vacuum,
    write_snapshot,
)
from tile_processor_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_commit_and_time_travel(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    ev = load_table(spark, "events", SF).select("event_id", "user_id", "event_type")
    v1 = write_snapshot(ev.filter(F.col("event_id") % 2 == 0), tbl)
    v2 = write_snapshot(ev, tbl)
    assert (v1, v2) == (1, 2)
    assert list_versions(tbl) == [1, 2]
    # latest = v2; explicit version reproduces v1 exactly
    assert _rows(read_snapshot(spark, tbl)) == _rows(ev)
    assert _rows(read_snapshot(spark, tbl, version=1)) == _rows(
        ev.filter(F.col("event_id") % 2 == 0)
    )


def test_reader_pins_resolved_version_across_commits(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    ev = load_table(spark, "events", SF).select("event_id")
    write_snapshot(ev.limit(10), tbl)
    pinned = read_snapshot(spark, tbl)  # resolves file list NOW
    write_snapshot(ev.limit(3), tbl)  # concurrent commit
    assert pinned.count() == 10  # still the state it resolved
    assert read_snapshot(spark, tbl).count() == 3


def test_crash_orphan_is_invisible_and_vacuumed(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    ev = load_table(spark, "events", SF).select("event_id")
    write_snapshot(ev.limit(5), tbl)
    # simulate a writer that died before committing its manifest
    orphan = os.path.join(tbl, "data", "deadbeef")
    ev.limit(2).write.parquet(orphan)
    assert read_snapshot(spark, tbl).count() == 5  # orphan invisible
    write_snapshot(ev.limit(7), tbl)
    res = vacuum(tbl, keep_last=1, claim_ttl_s=0)
    assert res["kept_versions"] == [2]
    assert not os.path.isdir(orphan) or not os.listdir(orphan)
    assert read_snapshot(spark, tbl).count() == 7


def test_vacuum_keeps_referenced_files(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    ev = load_table(spark, "events", SF).select("event_id")
    write_snapshot(ev.limit(4), tbl)
    write_snapshot(ev.limit(6), tbl)
    write_snapshot(ev.limit(8), tbl)
    res = vacuum(tbl, keep_last=2, claim_ttl_s=0)
    assert res["retired_versions"] == [1]
    assert list_versions(tbl) == [2, 3]
    assert read_snapshot(spark, tbl, version=2).count() == 6
    assert read_snapshot(spark, tbl, version=3).count() == 8
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, tbl, version=1)


def test_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "nope"))


def test_upsert_updates_inserts_and_time_travels(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import upsert_snapshot

    tbl = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    assert upsert_snapshot(base, tbl, ["k"]) == 1
    updates = spark.createDataFrame(
        [(2, "B"), (4, "d")], "k long, v string"  # update k=2, insert k=4
    )
    assert upsert_snapshot(updates, tbl, ["k"]) == 2
    got = {r.k: r.v for r in read_snapshot(spark, tbl).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    # previous version untouched — rollback is a read away
    old = {r.k: r.v for r in read_snapshot(spark, tbl, version=1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}


def test_snapshot_diff_cdc(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import snapshot_diff

    tbl = str(tmp_path / "cdc_tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    v1 = write_snapshot(base, tbl)
    changed = spark.createDataFrame(
        [
            (1, "a", 10.0),     # unchanged → absent from diff
            (2, "b", 99.0),     # update (value change)
            (3, "c", 30.0),     # update (NULL → value, null-safe compare)
            (5, "e", 50.0),     # insert
        ],                       # 4 deleted
        "k long, name string, v double",
    )
    v2 = write_snapshot(changed, tbl)

    diff = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(spark, tbl, v1, v2, ["k"]).collect()
    }
    assert diff == {2: "update", 3: "update", 4: "delete", 5: "insert"}

    # reverse direction inverts insert/delete
    rev = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(spark, tbl, v2, v1, ["k"]).collect()
    }
    assert rev == {2: "update", 3: "update", 4: "insert", 5: "delete"}


def test_snapshot_diff_null_key_matches_itself(spark, tmp_path):
    # a key containing NULL must match itself across versions
    # (eqNullSafe), not explode into delete+insert
    from tile_processor_spark.sources.snapshots import snapshot_diff

    tbl = str(tmp_path / "nullkey_tbl")
    v1 = write_snapshot(
        spark.createDataFrame(
            [(None, "x", 1.0), (1, "a", 2.0)], "k long, name string, v double"
        ),
        tbl,
    )
    v2 = write_snapshot(
        spark.createDataFrame(
            [(None, "x", 9.0), (1, "a", 2.0)], "k long, name string, v double"
        ),
        tbl,
    )
    rows = snapshot_diff(spark, tbl, v1, v2, ["k"]).collect()
    assert [(r["k"], r["change_type"]) for r in rows] == [(None, "update")]


def test_snapshot_diff_schema_drift_raises(spark, tmp_path):
    import pytest

    from tile_processor_spark.sources.snapshots import snapshot_diff

    tbl = str(tmp_path / "drift_tbl")
    v1 = write_snapshot(
        spark.createDataFrame([(1, "a")], "k long, name string"), tbl
    )
    v2 = write_snapshot(
        spark.createDataFrame([(1, 5.0)], "k long, score double"), tbl
    )
    with pytest.raises(ValueError, match="schema drift"):
        snapshot_diff(spark, tbl, v1, v2, ["k"])


def test_upsert_schema_evolution(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import snapshot_diff, upsert_snapshot

    tbl = str(tmp_path / "evolve_tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"), tbl
    )
    delta = spark.createDataFrame(
        [(2, "B", 9.0), (3, "c", 7.0)], "k long, name string, score double"
    )
    # extra column without the flag is rejected
    with pytest.raises(ValueError, match="allow_new_columns"):
        upsert_snapshot(delta, tbl, ["k"])
    # a delta missing an existing column is ALWAYS rejected
    with pytest.raises(ValueError, match="missing existing columns"):
        upsert_snapshot(
            spark.createDataFrame([(2, 9.0)], "k long, score double"),
            tbl, ["k"], allow_new_columns=True,
        )
    v2 = upsert_snapshot(delta, tbl, ["k"], allow_new_columns=True)
    got = _rows(read_snapshot(spark, tbl, v2).select("k", "name", "score"))
    assert got == [(1, "a", None), (2, "B", 9.0), (3, "c", 7.0)]
    # strict diff still raises across the evolution; evolve classifies
    with pytest.raises(ValueError, match="schema drift"):
        snapshot_diff(spark, tbl, 1, 2, ["k"])
    diff = _rows(
        snapshot_diff(spark, tbl, 1, 2, ["k"], on_schema_drift="evolve")
    )
    assert diff == [(2, "update"), (3, "insert")]  # k=1 carried: no change
    # on_schema_drift only accepts the two documented modes
    with pytest.raises(ValueError, match="on_schema_drift"):
        snapshot_diff(spark, tbl, 1, 2, ["k"], on_schema_drift="merge")


def test_partitioned_snapshot_manifest_pruning(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import _read_manifest

    tbl = str(tmp_path / "part_tbl")
    df = spark.createDataFrame(
        [("F", 1, 10.0), ("F", 2, 20.0), ("O", 3, 30.0), ("P", 4, 40.0)],
        "status string, k long, v double",
    )
    v = write_snapshot(df, tbl, partition_by=["status"])
    man = _read_manifest(tbl, v)
    assert man["partition_by"] == ["status"]

    full = read_snapshot(spark, tbl)
    assert sorted(full.columns) == ["k", "status", "v"]  # basePath re-derives
    assert full.count() == 4

    pruned = read_snapshot(spark, tbl, partition_filter={"status": "F"})
    assert _rows(pruned.select("status", "k", "v")) == [("F", 1, 10.0), ("F", 2, 20.0)]
    # the pruning is MANIFEST-level: fewer files reach the reader
    f_files = [f for f in man["files"] if "status=F" in f]
    assert 0 < len(f_files) < len(man["files"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "status=O" not in plan

    # empty match -> empty frame with the committed schema
    none = read_snapshot(spark, tbl, partition_filter={"status": "X"})
    assert none.count() == 0 and sorted(none.columns) == ["k", "status", "v"]

    # non-partition column raises instead of silently scanning all
    with pytest.raises(ValueError, match="non-partition"):
        read_snapshot(spark, tbl, partition_filter={"k": 1})
    # unpartitioned versions reject partition filters too
    tbl2 = str(tmp_path / "plain_tbl")
    write_snapshot(df, tbl2)
    with pytest.raises(ValueError, match="non-partition"):
        read_snapshot(spark, tbl2, partition_filter={"status": "F"})


def test_vacuum_cleans_partition_dirs(spark, tmp_path):
    tbl = str(tmp_path / "vac_part_tbl")
    df = spark.createDataFrame([("F", 1), ("O", 2)], "status string, k long")
    write_snapshot(df, tbl, partition_by=["status"])
    write_snapshot(df.filter("k = 1"), tbl, partition_by=["status"])
    out = vacuum(tbl, keep_last=1, claim_ttl_s=0)
    assert out["retired_versions"] == [1] and out["files_removed"] > 0
    # v2 still reads; v1's partition dirs are gone from data/
    assert read_snapshot(spark, tbl).count() == 1


def test_upsert_preserves_partition_layout(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import _read_manifest, upsert_snapshot

    tbl = str(tmp_path / "part_upsert_tbl")
    df = spark.createDataFrame(
        [("F", 1, 10.0), ("O", 2, 20.0)], "status string, k long, v double"
    )
    write_snapshot(df, tbl, partition_by=["status"])
    delta = spark.createDataFrame([("F", 1, 99.0), ("P", 5, 50.0)], df.schema)
    v2 = upsert_snapshot(delta, tbl, ["k"])
    assert _read_manifest(tbl, v2)["partition_by"] == ["status"]
    pruned = read_snapshot(spark, tbl, partition_filter={"status": "F"})
    assert _rows(pruned.select("k", "v")) == [(1, 99.0)]
    assert read_snapshot(spark, tbl).count() == 3


def test_partition_filter_in_list(spark, tmp_path):
    tbl = str(tmp_path / "inlist_tbl")
    df = spark.createDataFrame(
        [("F", 1), ("O", 2), ("P", 3)], "status string, k long"
    )
    write_snapshot(df, tbl, partition_by=["status"])
    got = read_snapshot(spark, tbl, partition_filter={"status": ["F", "P"]})
    assert _rows(got.select("status", "k")) == [("F", 1), ("P", 3)]


def test_partition_dtype_and_order_survive_path_inference(spark, tmp_path):
    """Numeric-looking partition values must read back with the
    COMMITTED dtype (Spark path inference would guess int from the
    directory string), in the committed column order, identically for
    empty-match and non-empty reads — and upserts across that read
    must not silently evolve the partition column's type."""
    from tile_processor_spark.sources.snapshots import upsert_snapshot

    tbl = str(tmp_path / "numpart_tbl")
    df = spark.createDataFrame(
        [("2024", 1, 10.0), ("2025", 2, 20.0)], "yr string, k long, v double"
    )
    write_snapshot(df, tbl, partition_by=["yr"])

    full = read_snapshot(spark, tbl)
    assert [(f.name, f.dataType.simpleString()) for f in full.schema.fields] == [
        ("yr", "string"), ("k", "bigint"), ("v", "double"),
    ]
    assert _rows(full.select("yr", "k")) == [("2024", 1), ("2025", 2)]

    # empty partition match: same schema, same order
    none = read_snapshot(spark, tbl, partition_filter={"yr": "1999"})
    assert none.schema == full.schema

    # a MERGE after the read keeps the committed string dtype
    upd = spark.createDataFrame([("2024", 1, 11.0)], "yr string, k long, v double")
    v2 = upsert_snapshot(upd, tbl, ["k"])
    again = read_snapshot(spark, tbl, version=v2)
    assert again.schema == full.schema
    assert _rows(again.select("yr", "k", "v")) == [
        ("2024", 1, 11.0), ("2025", 2, 20.0),
    ]


def test_compact_manifest_read_equivalence(spark, tmp_path):
    """compact_manifest rewrites the manifest into the two-level
    grouped layout (data files untouched, committed as a new version);
    full reads, pruned reads, empty-match reads, and time travel to
    the flat source version must all be unchanged."""
    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        compact_manifest,
    )

    tbl = str(tmp_path / "grp_tbl")
    df = spark.createDataFrame(
        [("F", 1, 10.0), ("F", 2, 20.0), ("O", 3, 30.0), ("P", 4, 40.0)],
        "status string, k long, v double",
    )
    v1 = write_snapshot(df, tbl, partition_by=["status"])
    v2 = compact_manifest(tbl)
    man = _read_manifest(tbl, v2)
    assert "files" not in man and man["compacted_from"] == v1
    assert sorted(g["values"]["status"] for g in man["groups"]) == ["F", "O", "P"]

    flat = read_snapshot(spark, tbl, version=v1)
    grouped = read_snapshot(spark, tbl, version=v2)
    assert grouped.schema == flat.schema
    assert _rows(grouped.select("status", "k", "v")) == _rows(
        flat.select("status", "k", "v")
    )
    pruned = read_snapshot(spark, tbl, version=v2, partition_filter={"status": "F"})
    assert _rows(pruned.select("k")) == [(1,), (2,)]
    none = read_snapshot(spark, tbl, version=v2, partition_filter={"status": "X"})
    assert none.count() == 0 and none.schema == flat.schema
    # IN-list pruning through groups
    two = read_snapshot(
        spark, tbl, version=v2, partition_filter={"status": ["F", "P"]}
    )
    assert _rows(two.select("k")) == [(1,), (2,), (4,)]


def test_compact_manifest_unpartitioned_chunks(spark, tmp_path):
    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        compact_manifest,
    )

    tbl = str(tmp_path / "chunk_tbl")
    df = spark.range(100).repartition(8).withColumn("v", F.col("id") * 2)
    write_snapshot(df, tbl)
    v2 = compact_manifest(tbl, group_files=3)
    man = _read_manifest(tbl, v2)
    n_files = sum(g["n_files"] for g in man["groups"])
    assert len(man["groups"]) == -(-n_files // 3)  # ceil(files/3) groups
    got = read_snapshot(spark, tbl, version=v2)
    assert got.count() == 100
    assert _rows(got.select("id", "v")) == _rows(read_snapshot(spark, tbl, version=1))


def test_vacuum_respects_grouped_manifests(spark, tmp_path):
    """A kept grouped manifest must protect its (shared) data files
    from vacuum even when the flat source version retires; its group
    side files retire with their manifest."""
    import glob as g

    from tile_processor_spark.sources.snapshots import compact_manifest, vacuum

    tbl = str(tmp_path / "grpvac_tbl")
    df = spark.createDataFrame(
        [("F", 1), ("O", 2)], "status string, k long"
    )
    write_snapshot(df, tbl, partition_by=["status"])          # v1 (flat)
    compact_manifest(tbl)                                     # v2 (grouped, shares v1 files)
    write_snapshot(df.filter("k = 1"), tbl, partition_by=["status"])  # v3
    res = vacuum(tbl, keep_last=2, claim_ttl_s=0)  # retires v1; v2 still references its files
    assert res["retired_versions"] == [1]
    assert _rows(read_snapshot(spark, tbl, version=2).select("status", "k")) == [
        ("F", 1), ("O", 2),
    ]
    # retire the grouped version too: its group side files must go
    res2 = vacuum(tbl, keep_last=1, claim_ttl_s=0)
    assert res2["retired_versions"] == [2]
    assert g.glob(str(tmp_path / "grpvac_tbl" / "groups" / "*.json")) == []
    assert _rows(read_snapshot(spark, tbl).select("status", "k")) == [("F", 1)]


def test_partitioned_append_via_shared_tree(spark, tmp_path):
    """Partitioned appends: the first partitioned write already lives
    in the table's one Hive tree, so v1 takes appends O(new-data) with
    partition pruning, committed dtypes, and time travel all intact.
    Vacuuming the first version keeps the files later versions carry."""
    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        append_snapshot,
        vacuum,
    )

    tbl = str(tmp_path / "ptree_tbl")
    df = spark.createDataFrame(
        [("2024", 1, 10.0), ("2025", 2, 20.0)], "yr string, k long, v double"
    )
    v1 = write_snapshot(df, tbl, partition_by=["yr"])
    assert _read_manifest(tbl, v1)["base"] == os.path.join(tbl, "data", "tree")
    delta = spark.createDataFrame([("2025", 3, 30.0)], "yr string, k long, v double")

    v2 = append_snapshot(delta, tbl)
    m2 = _read_manifest(tbl, v2)
    assert m2["appended_to"] == v1 and m2["base"].endswith("tree")
    got = read_snapshot(spark, tbl)
    assert [(f.name, f.dataType.simpleString()) for f in got.schema.fields] == [
        ("yr", "string"), ("k", "bigint"), ("v", "double"),
    ]
    assert _rows(got.select("yr", "k")) == [("2024", 1), ("2025", 2), ("2025", 3)]
    # manifest-level pruning sees both old and appended 2025 files
    pruned = read_snapshot(spark, tbl, partition_filter={"yr": "2025"})
    assert _rows(pruned.select("k")) == [(2,), (3,)]
    # unpartitioned-shaped delta refuses
    with pytest.raises(ValueError, match="schema"):
        append_snapshot(spark.createDataFrame([(9,)], "k long"), tbl)

    # a second append stacks; ten-append histories stay readable
    append_snapshot(
        spark.createDataFrame([("2024", 4, 40.0)], "yr string, k long, v double"),
        tbl,
    )
    assert read_snapshot(spark, tbl).count() == 4

    # retire v1: its files stay, carried by v2 and v3
    res = vacuum(tbl, keep_last=2, claim_ttl_s=0)
    assert res["retired_versions"] == [1]
    assert _rows(read_snapshot(spark, tbl).select("k")) == [(1,), (2,), (3,), (4,)]
    assert _rows(read_snapshot(spark, tbl, version=v2).select("k")) == [
        (1,), (2,), (3,),
    ]


def test_shared_tree_survives_compaction(spark, tmp_path):
    """Compacting a partitioned table's manifest must keep it
    appendable: the files are still in the tree, only the manifest
    shape changed."""
    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        compact_manifest,
    )

    tbl = str(tmp_path / "treecomp_tbl")
    write_snapshot(
        spark.createDataFrame([("a", 1), ("b", 2)], "grp string, k long"),
        tbl,
        partition_by=["grp"],
    )
    compact_manifest(tbl)
    append_snapshot(
        spark.createDataFrame([("b", 3)], "grp string, k long"), tbl
    )
    got = read_snapshot(spark, tbl)
    assert _rows(got.select("grp", "k")) == [("a", 1), ("b", 2), ("b", 3)]
    pruned = read_snapshot(spark, tbl, partition_filter={"grp": "b"})
    assert _rows(pruned.select("k")) == [(2,), (3,)]


def test_append_raises_when_rewrite_changes_schema_mid_retry(spark, tmp_path):
    """ADVICE r10: commit_append re-validates the FRESH manifest's
    schema against the one the delta files were written under — a
    rewrite with a different schema racing an append raises instead of
    committing a manifest whose declared schema doesn't match its
    appended parquet files."""
    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        commit_append,
    )

    tbl = str(tmp_path / "tbl")
    df_a = spark.createDataFrame([(1, "x")], "k int, v string")
    write_snapshot(df_a, tbl)
    old_schema = _read_manifest(tbl, 1)["schema"]
    # delta files written against schema A (simulated: any parquet path)
    delta_dir = tmp_path / "delta"
    df_a.write.parquet(str(delta_dir))
    delta_files = sorted(
        str(p) for p in delta_dir.glob("*.parquet")
    )
    # a rewrite with a DIFFERENT schema lands before the append commits
    write_snapshot(
        spark.createDataFrame([(1, 2.5)], "k int, v double"), tbl
    )
    with pytest.raises(ValueError, match="schema changed under the append"):
        commit_append(tbl, delta_files, expected_schema=old_schema)
    # same-schema append still commits fine
    assert commit_append(tbl, [], expected_schema=_read_manifest(tbl, 2)["schema"]) == 3


def test_stream_replay_dropped_despite_interleaved_appends(spark, tmp_path):
    """ADVICE r10: the streaming sink's replay watermark is a per-app
    HIGH-WATER mark carried in every manifest — a replayed batch is
    dropped even when other appends (which would erase a
    latest-manifest-only marker) landed in between."""
    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        append_snapshot,
        commit_append,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "k int")
    write_snapshot(df, tbl)  # v1

    def delta(tag):
        d = tmp_path / f"delta_{tag}"
        df.write.parquet(str(d))
        return sorted(str(p) for p in d.glob("*.parquet"))

    v2 = commit_append(tbl, delta("b0"), stream_mark=("appA", 0))
    assert v2 == 2
    append_snapshot(df, tbl)  # v3: an unrelated append interleaves
    # the mark survived the interleaved commit
    assert _read_manifest(tbl, 3)["stream_high_water"] == {"appA": 0}
    # replay of batch 0 after the interleaving: dropped, no new version
    got = commit_append(tbl, delta("b0_replay"), stream_mark=("appA", 0))
    assert got == 3 and list_versions(tbl) == [1, 2, 3]
    # table contents unchanged by the dropped replay (3 copies, not 4)
    assert read_snapshot(spark, tbl).count() == 3
    # a genuinely new batch advances the mark and commits
    v4 = commit_append(tbl, delta("b1"), stream_mark=("appA", 1))
    assert v4 == 4
    assert _read_manifest(tbl, 4)["stream_high_water"] == {"appA": 1}
    # an independent app id is not blocked by appA's mark
    v5 = commit_append(tbl, delta("appB"), stream_mark=("appB", 0))
    assert _read_manifest(tbl, 5)["stream_high_water"] == {"appA": 1, "appB": 0}
    assert v5 == 5


def test_high_water_survives_rewrite_and_compaction(spark, tmp_path):
    """The replay watermark is carried forward by write_snapshot
    (rewrites) and compact_manifest too — a replayed batch landing
    after a rewrite must still be recognized as committed."""
    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        compact_manifest,
        commit_append,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "k int")
    write_snapshot(df, tbl)  # v1
    d = tmp_path / "d"
    df.write.parquet(str(d))
    files = sorted(str(p) for p in d.glob("*.parquet"))
    commit_append(tbl, files, stream_mark=("app", 7))  # v2
    write_snapshot(df, tbl)  # v3 rewrite
    assert _read_manifest(tbl, 3)["stream_high_water"] == {"app": 7}
    compact_manifest(tbl)  # v4
    assert _read_manifest(tbl, 4)["stream_high_water"] == {"app": 7}
    # replay of batch 7 post-rewrite: dropped
    d2 = tmp_path / "d2"
    df.write.parquet(str(d2))
    files2 = sorted(str(p) for p in d2.glob("*.parquet"))
    assert commit_append(tbl, files2, stream_mark=("app", 7)) == 4
    assert list_versions(tbl) == [1, 2, 3, 4]


def test_compact_non_latest_requires_rollback_flag(spark, tmp_path):
    """ADVICE r10: compacting a non-latest version is a table rollback
    in disguise — refused without the explicit flag."""
    from tile_processor_spark.sources.snapshots import (
        append_snapshot,
        compact_manifest,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "k int")
    write_snapshot(df, tbl)  # v1
    append_snapshot(df, tbl)  # v2
    with pytest.raises(ValueError, match="rolling back"):
        compact_manifest(tbl, version=1)
    # explicit opt-in: commits v1's file set as the new head (RESTORE)
    v3 = compact_manifest(tbl, version=1, allow_rollback=True)
    assert v3 == 3
    assert read_snapshot(spark, tbl).count() == 1  # back to v1 contents
    assert read_snapshot(spark, tbl, version=2).count() == 2  # v2 intact


def test_read_snapshot_empty_unpartitioned_commit(spark, tmp_path):
    """ADVICE r10: an unpartitioned version with an empty file list
    (reachable via the connector committing all-empty tasks) reads as
    an empty frame with the committed schema, like the partitioned
    branch — not a zero-path spark.read.parquet() crash."""
    import time as _time

    from tile_processor_spark.sources.snapshots import _commit_manifest

    tbl = str(tmp_path / "tbl")
    os.makedirs(tbl)
    schema_json = spark.createDataFrame([(1, "x")], "k int, v string").schema.json()
    _commit_manifest(
        tbl,
        {
            "version": 1,
            "committed_at": _time.time(),
            "files": [],
            "schema": schema_json,
            "base": tbl,
            "partition_by": [],
        },
        1,
    )
    got = read_snapshot(spark, tbl)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k", "v"]


def test_append_preserves_grouped_manifest(spark, tmp_path):
    """Appending onto a compacted (manifest-list) version must keep the
    two-level layout — commit cost O(groups + delta), not a silent
    flatten back to O(files) — while reads, pruning, time travel, and
    the version stream's appended_files all stay correct."""
    import json as _json

    from tile_processor_spark.sources.snapshots import (
        _manifest_path,
        _read_manifest,
        append_snapshot,
        compact_manifest,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, grp string"
    )
    write_snapshot(df, tbl, partition_by=["grp"])   # v1
    compact_manifest(tbl)                            # v2 grouped
    append_snapshot(
        spark.createDataFrame([(3, "a"), (4, "c")], "k int, grp string"), tbl
    )                                                # v3 must stay grouped
    man = _read_manifest(tbl, 3)
    assert "groups" in man and "files" not in man
    assert man["appended_files"] and len(man["appended_files"]) == 2
    # top-level manifest stays O(groups): raw JSON names no parquet file
    # except through side files
    raw = open(_manifest_path(tbl, 3)).read()
    assert raw.count(".parquet") == len(man["appended_files"])  # only appended_files
    # delta groups carry partition values -> pruning skips others
    got = read_snapshot(spark, tbl, partition_filter={"grp": "c"})
    assert [tuple(r) for r in got.select("k").collect()] == [(4,)]
    assert sorted(
        tuple(r) for r in read_snapshot(spark, tbl).select("k").collect()
    ) == [(1,), (2,), (3,), (4,)]
    # a second append accumulates one more group per touched value
    append_snapshot(
        spark.createDataFrame([(5, "a")], "k int, grp string"), tbl
    )                                                # v4
    man4 = _read_manifest(tbl, 4)
    assert len(man4["groups"]) == len(man["groups"]) + 1
    # re-compaction merges the append groups back to one per value
    compact_manifest(tbl)                            # v5
    man5 = _read_manifest(tbl, 5)
    assert len(man5["groups"]) == 3  # a, b, c
    assert sorted(
        tuple(r) for r in read_snapshot(spark, tbl).select("k").collect()
    ) == [(1,), (2,), (3,), (4,), (5,)]
    # unpartitioned grouped append too
    tbl2 = str(tmp_path / "tbl2")
    write_snapshot(spark.createDataFrame([(1,)], "k int"), tbl2)
    compact_manifest(tbl2, group_files=1)
    append_snapshot(spark.createDataFrame([(2,)], "k int"), tbl2)
    m = _read_manifest(tbl2, 3)
    assert "groups" in m and "files" not in m
    assert sorted(
        tuple(r) for r in read_snapshot(spark, tbl2).collect()
    ) == [(1,), (2,)]


def test_watermark_survives_connector_overwrite_and_conversion(spark, tmp_path):
    """Review r11: the replay watermark must survive the connector's
    overwrite path and a partitioned copy-on-write delete — every
    commit path carries it, so a replay after ANY intervening commit
    is dropped."""
    from tile_processor_spark.sources.snapshot_datasource import register
    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        commit_append,
        delete_snapshot,
    )

    register(spark)
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "k int")
    write_snapshot(df, tbl)  # v1
    d = tmp_path / "d"
    df.write.parquet(str(d))
    files = sorted(str(p) for p in d.glob("*.parquet"))
    commit_append(tbl, files, stream_mark=("app", 3))  # v2
    # connector overwrite (a rewrite) must carry the mark
    spark.createDataFrame([(9,)], "k int").write.format("tps_snapshot").option(
        "path", tbl
    ).mode("overwrite").save()  # v3
    assert _read_manifest(tbl, 3)["stream_high_water"] == {"app": 3}
    # replay of batch 3 after the overwrite: dropped
    d2 = tmp_path / "d2"
    df.write.parquet(str(d2))
    files2 = sorted(str(p) for p in d2.glob("*.parquet"))
    assert commit_append(tbl, files2, stream_mark=("app", 3)) == 3
    assert list_versions(tbl) == [1, 2, 3]
    # a partitioned delete carries it too
    tbl2 = str(tmp_path / "tbl2")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, grp string"),
        tbl2,
        partition_by=["grp"],
    )
    import json as _json

    from tile_processor_spark.sources.snapshots import _commit_manifest

    man = _read_manifest(tbl2, 1)
    man2 = dict(man, version=2, stream_high_water={"s": 5})
    _commit_manifest(tbl2, man2, 2)
    assert delete_snapshot(spark, tbl2, [("k", "=", 1)]) == 3
    assert _read_manifest(tbl2, 3)["stream_high_water"] == {"s": 5}


def test_legacy_stream_batch_id_still_drops_replay(spark, tmp_path):
    """A head committed by the pre-high-water sink (stream_batch_id
    only) still drops the first post-upgrade replay of that batch."""
    import time as _time

    from tile_processor_spark.sources.snapshots import (
        _commit_manifest,
        _read_manifest,
        commit_append,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "k int")
    write_snapshot(df, tbl)  # v1
    man = _read_manifest(tbl, 1)
    legacy = dict(
        man,
        version=2,
        committed_at=_time.time(),
        appended_files=man["files"],
        stream_batch_id=7,
    )
    _commit_manifest(tbl, legacy, 2)
    d = tmp_path / "d"
    df.write.parquet(str(d))
    files = sorted(str(p) for p in d.glob("*.parquet"))
    assert commit_append(tbl, files, stream_mark=("default", 7)) == 2
    assert list_versions(tbl) == [1, 2]


def test_vacuum_retention_protects_inflight_append(spark, tmp_path):
    """The vacuum/in-flight-append race (round 14): commit_append
    writes its delta files BEFORE publishing the manifest, so for that
    window they are unreferenced. A vacuum running inside the window
    must leave them (mtime retention, Delta's VACUUM contract) so the
    append can still publish a manifest whose files exist; a genuinely
    dead orphan is reclaimed once it ages past the window."""
    import glob
    import time

    from tile_processor_spark.sources.snapshots import (
        _read_manifest,
        commit_append,
    )

    tbl = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k long, s string"), tbl
    )
    # stage an append exactly like append_snapshot does: data first
    snap = os.path.join(tbl, "data", "inflight")
    spark.createDataFrame(
        [(2, "b")], "k long, s string"
    ).coalesce(1).write.parquet(snap)
    staged = sorted(glob.glob(os.path.join(snap, "*.parquet")))
    assert staged

    # concurrent maintenance sweep mid-commit: default retention window
    res = vacuum(tbl, keep_last=1)
    assert all(os.path.exists(f) for f in staged), "in-flight delta reclaimed"
    assert res["files_removed"] == 0 or all(os.path.exists(f) for f in staged)

    # the append publishes and the committed version reads back intact
    schema = _read_manifest(tbl, 1)["schema"]
    v = commit_append(tbl, staged, expected_schema=schema)
    got = sorted(tuple(r) for r in read_snapshot(spark, tbl, version=v).collect())
    assert got == [(1, "a"), (2, "b")]

    # an orphan that aged past the window IS reclaimed
    orphan = os.path.join(tbl, "data", "dead")
    spark.createDataFrame(
        [(9, "z")], "k long, s string"
    ).coalesce(1).write.parquet(orphan)
    old = time.time() - 7200
    for root, _dirs, names in os.walk(orphan):
        for n in names:
            os.utime(os.path.join(root, n), (old, old))
    res2 = vacuum(tbl, keep_last=2, claim_ttl_s=3600)
    assert res2["files_removed"] >= 1
    assert not os.path.isdir(orphan) or not any(
        n.endswith(".parquet")
        for _r, _d, ns in os.walk(orphan)
        for n in ns
    )
    # the table itself is untouched by the sweep
    got = sorted(tuple(r) for r in read_snapshot(spark, tbl).collect())
    assert got == [(1, "a"), (2, "b")]


def test_vacuum_refuses_keep_last_zero_without_force(spark, tmp_path):
    """keep_last=0 retires the live head — destroying the table must be
    an explicit act (force=True), never a typo."""
    tbl = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1,)], "k int"), tbl)
    with pytest.raises(ValueError, match="force=True"):
        vacuum(tbl, keep_last=0)
    assert list_versions(tbl) == [1]  # refused before touching anything
    res = vacuum(tbl, keep_last=0, claim_ttl_s=0, force=True)
    assert res["kept_versions"] == []
    assert list_versions(tbl) == []


def test_snapshot_commit_shapes_are_written_once():
    """The s3 store is opened only by ``open_store``, the store-only
    compactor is gone, and overwrite, append, replace and compact each
    have one definition, in ``snapshots.py``, over either backend. The
    connector is written once over the store's data plane: one batch
    writer, one stream writer, one commit message, one executor write
    body and one Arrow read body, with parquet data read only inside
    ``snapshot_store.py`` and no backend test in any connector class.
    Vacuum is one function over the store, and neither it nor the
    history tests the backend; the s3 object and upload listings are
    reached only through the store. Partitioned tables have one layout:
    no layout conversion, no ``share`` primitive, no ``layout`` manifest
    marker, and one old-layout refusal."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "tile_processor_spark"
    trees = {
        p.relative_to(pkg).as_posix(): ast.parse(p.read_text())
        for p in pkg.rglob("*.py")
    }
    constructed = sorted(
        f"{f}:{fn.name}"
        for f, tree in trees.items()
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and ast.unparse(n.func).endswith("S3SnapshotStore")
    )
    assert constructed == ["sources/snapshot_store.py:open_store"], constructed
    defined = {
        f: {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
        for f, tree in trees.items()
    }
    shapes = {"commit_append", "commit_overwrite", "commit_replace"}
    bases = {
        f"{f}:{n.name}": {ast.unparse(b) for b in n.bases}
        for f, tree in trees.items()
        for n in ast.walk(tree)
        if isinstance(n, ast.ClassDef)
    }

    def subclasses(base: str) -> list[str]:
        return sorted(c for c, bs in bases.items() if base in bs)

    connector = "sources/snapshot_datasource.py"
    assert subclasses("DataSourceArrowWriter") == [f"{connector}:SnapshotWriter"]
    assert subclasses("DataSourceStreamArrowWriter") == [
        f"{connector}:SnapshotStreamWriter"
    ]
    assert [c for c in subclasses("WriterCommitMessage") if "snapshot" in c] == [
        f"{connector}:_WriteMessage"
    ]

    def callers(tree, attr: str) -> list[str]:
        return sorted(
            fn.name
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            for n in ast.walk(fn)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
        )

    # one executor write body and one Arrow read body, over the store
    assert callers(trees[connector], "put_table") == ["_write_task"]
    assert callers(trees[connector], "read_table") == ["_read_arrow"]
    data_reads = sorted(
        f
        for f, tree in trees.items()
        if any(
            isinstance(n, ast.Call)
            and (
                ast.unparse(n.func) == "pq.read_table"
                or isinstance(n.func, ast.Attribute) and n.func.attr == "fetch"
            )
            for n in ast.walk(tree)
        )
    )
    assert data_reads == ["sources/snapshot_store.py"], data_reads
    # the connector classes never branch on the backend
    for cls in ast.walk(trees[connector]):
        if not isinstance(cls, ast.ClassDef):
            continue
        docs = {
            id(d.body[0].value)
            for d in ast.walk(cls)
            if isinstance(d, (ast.ClassDef, ast.FunctionDef))
            and d.body
            and isinstance(d.body[0], ast.Expr)
        }
        for n in ast.walk(cls):
            assert not (
                isinstance(n, ast.Constant)
                and id(n) not in docs
                and "s3://" in str(n.value)
            ), cls.name
            assert not (isinstance(n, ast.Name) and n.id == "S3SnapshotStore"), cls.name
            assert not (
                isinstance(n, ast.If) and ast.unparse(n.test) == "self._store"
            ), cls.name
    assert not [f for f, names in defined.items() if "compact_store" in names]
    commit_shapes = sorted(
        f"{f}:{name}"
        for f, names in defined.items()
        for name in names
        if name.lstrip("_") in shapes | {"compact_manifest"}
    )
    assert commit_shapes == [
        "sources/snapshots.py:_commit_overwrite",
        "sources/snapshots.py:_commit_replace",
        "sources/snapshots.py:commit_append",
        "sources/snapshots.py:compact_manifest",
    ], commit_shapes
    vacuums = sorted(
        f"{f}:{fn.name}"
        for f, tree in trees.items()
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name in {"vacuum", "vacuum_store"}
    )
    assert vacuums == ["sources/snapshots.py:vacuum"], vacuums
    for fn in ast.walk(trees["sources/snapshots.py"]):
        if not (isinstance(fn, ast.FunctionDef) and fn.name in {"vacuum", "snapshot_history"}):
            continue
        for n in ast.walk(fn):
            assert not (isinstance(n, ast.Name) and n.id == "is_s3"), fn.name
            assert not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "startswith"
                and any(isinstance(a, ast.Constant) and a.value == "s3://" for a in n.args)
            ), fn.name
    # the client's own wrappers aside, only the store lists objects
    # with their mtimes or lists multipart uploads
    listers = sorted(
        f
        for f, tree in trees.items()
        if f != "sources/s3_client.py"
        and any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in {"list_objects_meta", "list_multipart_uploads"}
            for n in ast.walk(tree)
        )
    )
    assert listers == ["sources/snapshot_store.py"], listers
    # one partitioned layout: every partitioned commit writes into the
    # table's one Hive tree, so nothing converts, shares or marks it
    gone = {"convert_to_shared_layout", "share", "shared_tree_appends"}
    assert not [f"{f}:{n}" for f, names in defined.items() for n in names & gone]
    layout_keys = sorted(
        f
        for f, tree in trees.items()
        for n in ast.walk(tree)
        if (
            isinstance(n, ast.Dict)
            and any(isinstance(k, ast.Constant) and k.value == "layout" for k in n.keys)
        )
        or (
            isinstance(n, ast.Subscript)
            and isinstance(n.slice, ast.Constant)
            and n.slice.value == "layout"
        )
        or (
            isinstance(n, ast.Call)
            and ast.unparse(n.func).endswith(".get")
            and n.args
            and isinstance(n.args[0], ast.Constant)
            and n.args[0].value == "layout"
        )
        or (isinstance(n, ast.Attribute) and n.attr in gone)
    )
    assert layout_keys == [], layout_keys
    refusals = sorted(
        f"{f}:{fn.name}"
        for f, tree in trees.items()
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        and any(
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and "recommit it once" in n.value
            for n in ast.walk(fn)
        )
    )
    assert refusals == ["sources/snapshots.py:_check_append_target"], refusals
