"""Min/max data skipping on snapshot tables: commit-time parquet
footer stats let range predicates drop files (and whole manifest-list
groups) before Spark plans a scan — the Delta/Iceberg skipping half
that partition pruning doesn't cover. The contract under test: the
pruned read's ROWS always equal the unpruned read + filter (skipping
is an optimization), and the file count actually drops when the data
is range-clustered."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tile_processor_spark.sources.snapshots import (
    _manifest_files,
    _read_manifest,
    append_snapshot,
    compact_manifest,
    list_versions,
    read_snapshot,
    write_snapshot,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ranged_table(spark, path):
    """Three appends with disjoint key ranges — the ingest-clustered
    shape where skipping pays."""
    for lo in (0, 100, 200):
        append_snapshot(
            spark.createDataFrame(
                [(lo + i, f"s{lo + i}") for i in range(10)], "k long, s string"
            ).coalesce(1),
            path,
        )
    return path


def _connector_ranged_table(spark, path):
    """The same three key ranges committed by ONE connector overwrite
    (``df.write.format("tps_snapshot")``, one file per task): a range
    repartition over all 30 keys puts each range in its own task."""
    from tile_processor_spark.sources.snapshot_datasource import register

    register(spark)
    df = spark.createDataFrame(
        [(lo + i, f"s{lo + i}") for lo in (0, 100, 200) for i in range(10)],
        "k long, s string",
    )
    df.repartitionByRange(3, "k").write.format("tps_snapshot").option(
        "path", path
    ).mode("overwrite").save()
    return path


def test_where_prunes_files_and_matches_filter(spark, tmp_path):
    # the same ranges committed by appends and by a connector overwrite
    for tbl in (
        _ranged_table(spark, str(tmp_path / "tbl")),
        _connector_ranged_table(spark, str(tmp_path / "conn")),
    ):
        _check_where_prunes(spark, tbl)


def _check_where_prunes(spark, tbl):
    man = _read_manifest(tbl, list_versions(tbl)[-1])
    all_files = _manifest_files(man)
    assert len(all_files) == 3
    # stats were collected at commit time for both columns
    assert set(man["file_stats"]) == set(all_files)
    pruned = _manifest_files(man, where=[("k", ">=", 200)])
    assert len(pruned) == 1
    # exactness: pruned read == unpruned read + filter
    got = read_snapshot(spark, tbl, where=[("k", ">=", 200)])
    want = read_snapshot(spark, tbl).filter(F.col("k") >= 200)
    assert _rows(got) == _rows(want)
    # range straddling two files
    assert len(_manifest_files(man, where=[("k", ">", 50), ("k", "<", 150)])) == 1
    got = read_snapshot(spark, tbl, where=[("k", ">", 50), ("k", "<", 150)])
    assert _rows(got.select("k")) == [(k,) for k in range(100, 110)]
    # equality point lookup
    assert len(_manifest_files(man, where=[("k", "=", 105)])) == 1
    assert _rows(read_snapshot(spark, tbl, where=[("k", "=", 105)]).select("s")) == [
        ("s105",)
    ]
    # string stats work too
    assert len(_manifest_files(man, where=[("s", "=", "s0")])) <= 2
    # unknown column: no stats -> no pruning, filter still exact (empty)
    with pytest.raises(Exception):
        read_snapshot(spark, tbl, where=[("nope", "=", 1)]).collect()




def test_where_survives_compaction_and_grouped_appends(spark, tmp_path):
    tbl = _ranged_table(spark, str(tmp_path / "tbl"))
    compact_manifest(tbl, group_files=1)  # grouped, one file per group
    man = _read_manifest(tbl, list_versions(tbl)[-1])
    assert "groups" in man
    # group-level stats present, group skipped without opening
    assert all("stats" in g for g in man["groups"])
    assert len(_manifest_files(man, where=[("k", ">=", 200)])) == 1
    # an append onto the compacted head keeps its stats
    append_snapshot(
        spark.createDataFrame(
            [(300 + i, f"s{300 + i}") for i in range(5)], "k long, s string"
        ).coalesce(1),
        tbl,
    )
    man2 = _read_manifest(tbl, list_versions(tbl)[-1])
    assert len(_manifest_files(man2, where=[("k", ">=", 300)])) == 1
    got = read_snapshot(spark, tbl, where=[("k", ">=", 295)])
    assert got.count() == 5
    # exactness on the grouped path
    assert _rows(got.select("k")) == [(300 + i,) for i in range(5)]


def test_where_exact_without_stats(spark, tmp_path):
    """A manifest WITHOUT stats (hand-built, modeling pre-skipping
    tables) prunes nothing but still filters exactly."""
    import json
    import time

    from tile_processor_spark.sources.snapshots import _commit_manifest

    tbl = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1,), (2,), (3,)], "k long"), tbl
    )
    man = _read_manifest(tbl, 1)
    legacy = {k: v for k, v in man.items() if k != "file_stats"}
    legacy["version"] = 2
    _commit_manifest(tbl, legacy, 2)
    man2 = _read_manifest(tbl, 2)
    assert "file_stats" not in man2
    assert len(_manifest_files(man2, where=[("k", ">", 99)])) == len(
        _manifest_files(man2)
    )
    assert read_snapshot(spark, tbl, version=2, where=[("k", ">", 2)]).count() == 1


def test_where_with_nulls_is_sound(spark, tmp_path):
    """Files containing NULLs in the filtered column are never
    wrongly skipped, and the residual filter gives SQL semantics
    (NULL rows never match)."""
    tbl = str(tmp_path / "tbl")
    append_snapshot(
        spark.createDataFrame(
            [(1, "a"), (None, "b"), (50, "c")], "k long, s string"
        ).coalesce(1),
        tbl,
    )
    got = read_snapshot(spark, tbl, where=[("k", "<", 10)])
    assert _rows(got.select("s")) == [("a",)]


def test_where_on_partitioned_table_composes(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame(
            [(i, "g%d" % (i // 10)) for i in range(30)], "k long, grp string"
        ).repartition("grp"),
        tbl,
        partition_by=["grp"],
    )
    man = _read_manifest(tbl, 1)
    assert man.get("file_stats")
    got = read_snapshot(
        spark, tbl, partition_filter={"grp": "g1"}, where=[("k", ">=", 15)]
    )
    assert _rows(got.select("k")) == [(k,) for k in range(15, 20)]


def test_bad_where_op_raises(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1,)], "k long"), tbl)
    with pytest.raises(ValueError, match="where op"):
        read_snapshot(spark, tbl, where=[("k", "!=", 1)])


def test_connector_pushdown_drives_skipping(spark, tmp_path):
    """A plain .filter() on a tps_snapshot read plans fewer input
    partitions via pushFilters -> stats exclusion, with identical
    results (every filter is still applied row-wise by Spark)."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from tile_processor_spark.sources.snapshot_datasource import (
        SnapshotPushdownReader,
        register,
    )

    register(spark)
    tbl = _ranged_table(spark, str(tmp_path / "tbl"))
    base = spark.read.format("tps_snapshot").option("path", tbl).load()
    got = base.filter("k >= 200")
    want = read_snapshot(spark, tbl).filter("k >= 200")
    assert _rows(got) == _rows(want)
    # unit level: the reader PLANS fewer files after pushdown (the
    # byte-binner may still pack tiny files into one task either way,
    # so assert on planned files, not task count)
    def planned_files(reader):
        return sum(len(p.files) for p in reader.partitions())

    r = SnapshotPushdownReader(base.schema, {"path": tbl})
    n_all = planned_files(r)
    leftover = list(r.pushFilters([GreaterThanOrEqual(("k",), 200)]))
    assert len(leftover) == 1  # everything handed back for row-wise eval
    assert planned_files(r) == 1 < n_all == 3


def test_stats_collection_never_fails_a_commit(spark, tmp_path):
    """Stats are optional metadata: committing file paths whose footers
    cannot be read (remote paths, fabricated rehearsal entries) still
    commits — just without stats for those files."""
    from tile_processor_spark.sources.snapshots import commit_append

    tbl = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1,)], "k long"), tbl)
    ghost = str(tmp_path / "nonexistent.parquet")
    v = commit_append(tbl, [ghost])
    assert v == 2
    man = _read_manifest(tbl, 2)
    assert ghost in man["files"]
    assert ghost not in (man.get("file_stats") or {})
    # and the ghost never prunes (no stats -> cannot exclude)
    assert ghost in _manifest_files(man, where=[("k", ">", 10**9)])


def test_nan_rows_are_never_skipped(spark, tmp_path):
    """Review r11b (execution-confirmed finding): Spark sorts NaN ABOVE
    every value, so a file containing NaN must never be excluded by a
    max-based `>` test. Stats for NaN-tainted columns are poisoned at
    collection, and float `>`/`>=` exclusions are disabled outright
    (parquet writers may record finite stats while ignoring NaNs)."""
    import math

    tbl = str(tmp_path / "tbl")
    append_snapshot(
        spark.createDataFrame(
            [(1, 1.0), (2, 5.0), (3, float("nan"))], "k long, x double"
        ).coalesce(1),
        tbl,
    )
    man = _read_manifest(tbl, 1)
    fstats = list((man.get("file_stats") or {}).values())
    # either the x column has no stats (NaN poisoned) or exclusion is
    # op-disabled — both must keep the file:
    files = _manifest_files(man, where=[("x", ">", 100.0)])
    assert len(files) == len(_manifest_files(man))
    got = read_snapshot(spark, tbl, where=[("x", ">", 100.0)])
    want = read_snapshot(spark, tbl).filter("x > 100.0")
    # NaN != NaN under tuple equality — compare keys, then NaN-ness
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    assert got.count() == 1 and math.isnan(got.collect()[0]["x"])
    # min-based float exclusion is still allowed and still sound
    append_snapshot(
        spark.createDataFrame([(4, 500.0), (5, 600.0)], "k long, x double")
        .coalesce(1),
        tbl,
    )
    man2 = _read_manifest(tbl, 2)
    pruned = _manifest_files(man2, where=[("x", "<", 100.0)])
    assert len(pruned) == 1  # the [500,600] file is provably out
    got = read_snapshot(spark, tbl, where=[("x", "<", 100.0)])
    assert _rows(got.select("k")) == [(1,), (2,)]  # NaN fails < too


def test_float_gt_never_excludes_even_clean_files(spark, tmp_path):
    """The conservative float rule: even a NaN-free float file is not
    max-excluded on > (stats alone cannot prove NaN absence when other
    writers produced the file)."""
    tbl = str(tmp_path / "tbl")
    append_snapshot(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, x double")
        .coalesce(1),
        tbl,
    )
    man = _read_manifest(tbl, 1)
    assert len(_manifest_files(man, where=[("x", ">", 100.0)])) == 1
    # integers keep full exclusion power
    assert len(_manifest_files(man, where=[("k", ">", 100)])) == 0


def test_statless_row_group_poisons_column(monkeypatch, tmp_path):
    """A NON-EMPTY row group with missing/unusable stats for a column
    must poison that column for the whole file: a range built from the
    other row groups would not cover its rows, and the pruner could
    wrongly exclude a file containing matches (parquet writers DO omit
    stats per row group, e.g. for long string values). Empty row
    groups contribute nothing and must NOT poison."""
    import pyarrow.parquet as pq

    from tile_processor_spark.sources.snapshots import _collect_stats

    class _St:
        def __init__(self, mn, mx):
            self.has_min_max = True
            self.min, self.max = mn, mx

    class _Col:
        def __init__(self, name, st):
            self.path_in_schema, self.statistics = name, st

    class _RG:
        def __init__(self, num_rows, cols):
            self.num_rows, self._cols = num_rows, cols

        def column(self, i):
            return self._cols[i]

    class _MD:
        def __init__(self, rgs):
            self._rgs = rgs
            self.num_row_groups = len(rgs)
            self.num_columns = len(rgs[0]._cols)

        def row_group(self, i):
            return self._rgs[i]

    class _PF:
        def __init__(self, md):
            self.metadata = md

    md = _MD(
        [
            _RG(2, [_Col("k", _St(1, 2)), _Col("s", _St("aa", "bb"))]),
            # non-empty row group, NO stats for s → poison s, keep k
            _RG(2, [_Col("k", _St(3, 4)), _Col("s", None)]),
            # EMPTY row group with no stats at all → no effect
            _RG(0, [_Col("k", None), _Col("s", None)]),
        ]
    )
    monkeypatch.setattr(pq, "ParquetFile", lambda f: _PF(md))
    stats = _collect_stats(["fake.parquet"])
    assert stats == {"fake.parquet": {"k": [1, 4]}}

    # order independence: the stats-less row group FIRST must also poison
    md2 = _MD(
        [
            _RG(2, [_Col("k", _St(3, 4)), _Col("s", None)]),
            _RG(2, [_Col("k", _St(1, 2)), _Col("s", _St("aa", "bb"))]),
        ]
    )
    monkeypatch.setattr(pq, "ParquetFile", lambda f: _PF(md2))
    assert _collect_stats(["f2"]) == {"f2": {"k": [1, 4]}}
