"""Version-stream incremental dedup: per corpus append version, only
the delta is fingerprinted and joined against everything ever kept —
never a history rescan — and the processing mark makes the whole loop
exactly-once per version across crashes and re-runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tile_processor_spark.sources.incremental_dedup import (
    dedup_new_versions,
    processed_through,
)
from tile_processor_spark.sources.snapshots import (
    append_snapshot,
    list_versions,
    read_snapshot,
    upsert_snapshot,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_across_versions(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    append_snapshot(_docs(spark, [(1, "alpha"), (2, "beta")]), corpus)   # v1
    append_snapshot(_docs(spark, [(3, "beta"), (4, "gamma")]), corpus)  # v2: beta dup
    append_snapshot(_docs(spark, [(5, "alpha"), (6, "delta")]), corpus) # v3: alpha dup

    stats = dedup_new_versions(spark, corpus, fps)
    assert stats == [
        {"version": 1, "new_rows": 2, "kept": 2, "dropped": 0},
        {"version": 2, "new_rows": 2, "kept": 1, "dropped": 1},
        {"version": 3, "new_rows": 2, "kept": 1, "dropped": 1},
    ]
    kept = read_snapshot(spark, fps)
    assert kept.count() == 4
    assert sorted(
        tuple(r) for r in kept.select("doc_key", "src_version").collect()
    ) == [(1, 1), (2, 1), (4, 2), (6, 3)]
    assert processed_through(fps) == 3

    # re-run: nothing new, nothing duplicated (exactly-once)
    assert dedup_new_versions(spark, corpus, fps) == []
    assert read_snapshot(spark, fps).count() == 4

    # the next append processes incrementally from the mark
    append_snapshot(_docs(spark, [(7, "gamma"), (8, "epsilon")]), corpus)  # v4
    stats = dedup_new_versions(spark, corpus, fps)
    assert stats == [{"version": 4, "new_rows": 2, "kept": 1, "dropped": 1}]
    assert processed_through(fps) == 4


def test_within_delta_duplicates_keep_min_key(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    append_snapshot(
        _docs(spark, [(9, "same"), (3, "same"), (5, "other")]), corpus
    )
    stats = dedup_new_versions(spark, corpus, fps)
    assert stats == [{"version": 1, "new_rows": 3, "kept": 2, "dropped": 1}]
    assert sorted(
        r["doc_key"] for r in read_snapshot(spark, fps).collect()
    ) == [3, 5]


def test_all_duplicate_version_still_advances_mark(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    append_snapshot(_docs(spark, [(1, "x")]), corpus)  # v1
    append_snapshot(_docs(spark, [(2, "x")]), corpus)  # v2: fully dup
    stats = dedup_new_versions(spark, corpus, fps)
    assert stats[-1] == {"version": 2, "new_rows": 1, "kept": 0, "dropped": 1}
    assert processed_through(fps) == 2
    # the zero-survivor commit appended no files but advanced the head
    assert list_versions(fps)[-1] >= 3


def test_rewrite_version_refuses(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    append_snapshot(_docs(spark, [(1, "a")]), corpus)     # v1
    upsert_snapshot(_docs(spark, [(1, "a2")]), corpus, ["doc_id"])  # v2 rewrite
    with pytest.raises(ValueError, match="not an append commit"):
        dedup_new_versions(spark, corpus, fps)


def test_crash_between_stage_and_commit_is_idempotent(spark, tmp_path):
    """A driver dying after computing survivors but BEFORE the marked
    commit re-processes the version on restart and reaches the same
    state: the uncommitted fingerprints were invisible to the
    anti-join, so the re-run commits the same survivors once."""
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    append_snapshot(_docs(spark, [(1, "a"), (2, "b")]), corpus)  # v1
    dedup_new_versions(spark, corpus, fps)
    append_snapshot(_docs(spark, [(3, "b"), (4, "c")]), corpus)  # v2

    # simulate the crash: stage v2's survivors without committing
    import tile_processor_spark.sources.incremental_dedup as mod

    orig = mod.commit_append
    calls = {"n": 0}

    def dying_commit(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("simulated crash before commit")

    mod.commit_append = dying_commit
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            dedup_new_versions(spark, corpus, fps)
    finally:
        mod.commit_append = orig
    assert calls["n"] == 1
    assert processed_through(fps) == 1  # v2 not marked
    # restart: v2 processes exactly once, same survivors
    stats = dedup_new_versions(spark, corpus, fps)
    assert stats == [{"version": 2, "new_rows": 2, "kept": 1, "dropped": 1}]
    assert sorted(
        r["doc_key"] for r in read_snapshot(spark, fps).collect()
    ) == [1, 2, 4]


def test_custom_fingerprint_column(spark, tmp_path):
    """Pluggable fingerprints: case-insensitive dedup via a normalized
    expression instead of exact md5."""
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    append_snapshot(_docs(spark, [(1, "Hello"), (2, "hello")]), corpus)
    stats = dedup_new_versions(
        spark,
        corpus,
        fps,
        fingerprint=F.md5(F.encode(F.lower(F.col("text")), "UTF-8")),
    )
    assert stats == [{"version": 1, "new_rows": 2, "kept": 1, "dropped": 1}]


def test_compaction_version_advances_mark_with_zero_rows(spark, tmp_path):
    """Review r11b: a compact_manifest on the corpus is metadata-only
    (provably empty delta) — it advances the mark instead of bricking
    the loop."""
    from tile_processor_spark.sources.snapshots import compact_manifest

    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    append_snapshot(_docs(spark, [(1, "a")]), corpus)   # v1
    dedup_new_versions(spark, corpus, fps)
    compact_manifest(corpus)                             # v2 metadata-only
    append_snapshot(_docs(spark, [(2, "a"), (3, "b")]), corpus)  # v3
    stats = dedup_new_versions(spark, corpus, fps)
    assert stats == [
        {"version": 2, "new_rows": 0, "kept": 0, "dropped": 0},
        {"version": 3, "new_rows": 2, "kept": 1, "dropped": 1},
    ]
    assert processed_through(fps) == 3


def test_vacuumed_gap_raises_instead_of_underdeduping(spark, tmp_path):
    """Review r11b: corpus versions vacuumed before being fingerprinted
    must raise — silently skipping them would under-deduplicate
    forever."""
    from tile_processor_spark.sources.snapshots import vacuum

    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    for i in range(4):
        append_snapshot(_docs(spark, [(i, f"t{i}")]), corpus)  # v1..v4
    vacuum(corpus, keep_last=2, claim_ttl_s=0)  # retires v1, v2
    with pytest.raises(ValueError, match="vacuumed before being fingerprinted"):
        dedup_new_versions(spark, corpus, fps)


def test_null_fingerprints_are_outside_the_dedup_domain(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    append_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, None)], "doc_id long, text string"
        ),
        corpus,
    )
    stats = dedup_new_versions(spark, corpus, fps)
    # only the fingerprintable row is recorded; NULL-text rows are
    # neither recorded nor suppressed
    assert stats == [{"version": 1, "new_rows": 3, "kept": 1, "dropped": 2}]
    assert sorted(
        r["doc_key"] for r in read_snapshot(spark, fps).collect()
    ) == [1]


def test_sharded_sidecar_end_to_end_parity(spark, tmp_path):
    """The full dedup loop with the sidecar split into several shards
    (tiny per-shard cap): identical stats and kept-set to the one-shard
    run — the shard count is a memory-layout decision, never a
    semantic one. Exercises the executor-side shard build and fold,
    hardlinked untouched shards, and the mmap prescreen inside the
    real loop."""
    from tile_processor_spark.sources.dedup_bloom import load_bloom

    def _build(corpus):
        append_snapshot(
            _docs(spark, [(i, f"t{i}") for i in range(40)]), corpus
        )  # v1
        append_snapshot(
            _docs(spark, [(100 + i, f"t{i}") for i in range(10)]
                  + [(200 + i, f"u{i}") for i in range(30)]),
            corpus,
        )  # v2: 10 dups
        append_snapshot(
            _docs(spark, [(300, "t5"), (301, "u7"), (302, "fresh")]), corpus
        )  # v3: 2 dups

    c1, f1 = str(tmp_path / "c1"), str(tmp_path / "f1")
    c2, f2 = str(tmp_path / "c2"), str(tmp_path / "f2")
    _build(c1)
    _build(c2)
    # one-shard reference (the default cap)
    ref = dedup_new_versions(spark, c1, f1)
    assert load_bloom(f1, list_versions(f1)[-1]).shards == 1
    # sharded: the minimum m is 2^21 bits; an 2^19 cap -> 4 shards
    got = dedup_new_versions(
        spark, c2, f2, bloom_shard_max_bits=1 << 19
    )
    assert got == ref
    a = sorted(tuple(r) for r in read_snapshot(spark, f1)
               .select("doc_key", "src_version").collect())
    b = sorted(tuple(r) for r in read_snapshot(spark, f2)
               .select("doc_key", "src_version").collect())
    assert a == b
    bloom = load_bloom(f2, list_versions(f2)[-1])
    assert bloom is not None and bloom.shards >= 4


def test_parent_format_sidecar_state_rebuilds(spark, tmp_path):
    """A state in the earlier layout (the bitmap inside the npz, meta
    ``shards: 1``, no shard file) never loads: the loop rebuilds and
    gives the same stats and kept set as a run that never had it."""
    import json
    import os
    import shutil

    import numpy as np

    from tile_processor_spark.sources.dedup_bloom import (
        _BLOOM_DIR,
        _HASH_SCHEME,
        _K,
        _state_path,
        load_bloom,
    )

    def _build(corpus):
        append_snapshot(_docs(spark, [(i, f"p{i}") for i in range(30)]), corpus)
        append_snapshot(
            _docs(spark, [(100 + i, f"p{i}") for i in range(5)]
                  + [(200, "q0"), (201, "q1")]),
            corpus,
        )  # v2: 5 dups

    c1, f1 = str(tmp_path / "c1"), str(tmp_path / "f1")
    c2, f2 = str(tmp_path / "c2"), str(tmp_path / "f2")
    _build(c1)
    _build(c2)
    ref = dedup_new_versions(spark, c1, f1)
    got = dedup_new_versions(spark, c2, f2, max_versions=1)
    head = list_versions(f2)[-1]
    m = load_bloom(f2, head).m
    # hand-written earlier-layout state: an ALL-ZERO bitmap, which
    # would miss every duplicate if it were trusted
    shutil.rmtree(os.path.join(f2, _BLOOM_DIR))
    os.makedirs(os.path.join(f2, _BLOOM_DIR))
    meta = {"m": m, "n": 30, "capacity": 1 << 17, "fp_version": head,
            "k": _K, "h": _HASH_SCHEME, "shards": 1, "clustered_n": 30}
    with open(_state_path(f2, head), "wb") as f:
        np.savez(f, bits=np.zeros(m // 8, dtype=np.uint8),
                 meta=np.array(json.dumps(meta)))
    assert load_bloom(f2, head) is None
    got += dedup_new_versions(spark, c2, f2)
    assert got == ref
    assert ref[1] == {"version": 2, "new_rows": 7, "kept": 2, "dropped": 5}
    a = sorted(tuple(r) for r in read_snapshot(spark, f1)
               .select("doc_key", "src_version").collect())
    b = sorted(tuple(r) for r in read_snapshot(spark, f2)
               .select("doc_key", "src_version").collect())
    assert a == b
