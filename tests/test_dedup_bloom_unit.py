"""Unit parity for the dedup-bloom kernels: the JVM-side probe
positions, the executor-side shard writer, and the membership UDF must
all agree with an independent numpy/pure-Python recomputation — the
superset invariant the dedup loop's correctness argument leans on.

The probe scheme is seeded 64-bit ``xxhash64`` (md5's 32-bit words
would cap addressable bits at 2^32). The reference here is a
from-the-spec XXH64 implementation: Spark's ``xxhash64(col, lit(w))``
is standard XXH64 over the column's UTF-8 bytes with seed 42, chained
as the seed of XXH64 over the 8-byte little-endian literal; ``pmod``
by a power-of-two ``m`` equals the unsigned value's low bits.
"""

from __future__ import annotations

import inspect
import json
import os
import struct

import numpy as np
import pytest

from tile_processor_spark.sources.dedup_bloom import (
    _BITS_PER_ELEMENT,
    _K,
    _SHARD_SEED,
    _capacity_for,
    _m_for,
    _position_cols,
    _shards_for,
    build_bloom,
    fold_in,
    load_bloom,
    save_bloom,
    with_maybe_kept,
)

# ---------------------------------------------------------------- XXH64
# from the published spec (xxHash, Yann Collet) — independent of both
# Spark and the module under test

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, k: int) -> int:
    return (_rotl((acc + k * _P2) & _M64, 31) * _P1) & _M64


def _merge(h: int, v: int) -> int:
    h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
    return (h * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int) -> int:
    n, i = len(data), 0
    seed &= _M64
    if n >= 32:
        v1, v2 = (seed + _P1 + _P2) & _M64, (seed + _P2) & _M64
        v3, v4 = seed, (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _spark_xxhash64(fp: str, lit: int) -> int:
    """Spark's xxhash64(fp, lit(w).cast('int')): hash the string's
    UTF-8 bytes with seed 42, then the 4-byte little-endian int with
    the previous hash as seed."""
    h = xxh64(fp.encode(), 42)
    return xxh64(struct.pack("<i", lit), h)


def ref_positions(fp: str, m: int) -> list[int]:
    return [_spark_xxhash64(fp, w) % m for w in range(_K)]


def ref_shard(fp: str, shards: int) -> int:
    return _spark_xxhash64(fp, _SHARD_SEED) % shards


def test_jvm_positions_match_reference(spark):
    fps = [f"fp-{i}" for i in range(64)] + ["", "ünïcode-fp", "a" * 100]
    df = spark.createDataFrame([(f,) for f in fps], "fp string")
    m = 1 << 20
    got = {
        r["fp"]: [r[f"_p{w}"] for w in range(_K)]
        for r in _position_cols(df, m).collect()
    }
    for f in fps:
        assert got[f] == ref_positions(f, m), f


def test_jvm_shard_selector_matches_reference(spark):
    fps = [f"doc:{i}" for i in range(128)]
    df = spark.createDataFrame([(f,) for f in fps], "fp string")
    got = {
        r["fp"]: r["_s"]
        for r in _position_cols(df, 1 << 12, shards=8).collect()
    }
    assert sorted(set(got.values())) == list(range(8))  # all shards hit
    for f in fps:
        assert got[f] == ref_shard(f, 8), f


def test_default_cap_sidecar_is_meta_plus_one_reference_shard(spark, tmp_path):
    """Below the shard cap the sidecar is the meta-only state plus
    exactly one shard file, and that shard holds exactly the bits a
    single m-bit filter over the kept set would (the reference
    positions at m_shard = m)."""
    import tile_processor_spark.sources.dedup_bloom as mod

    fps = [f"doc:{i}" for i in range(300)]
    root = str(tmp_path)
    b = build_bloom(
        root, 4, spark.createDataFrame([(f,) for f in fps], "fp string"), 300
    )
    save_bloom(b)
    assert b.shards == 1 and b.m_shard == b.m
    assert sorted(os.listdir(os.path.join(root, mod._BLOOM_DIR))) == [
        "state-v4-s0.npy", "state-v4.npz",
    ]
    with np.load(mod._state_path(root, 4)) as z:
        assert list(z.keys()) == ["meta"]
    expect = np.zeros(b.m // 8, dtype=np.uint8)
    for f in fps:
        for p in ref_positions(f, b.m):
            expect[p >> 3] |= 1 << (p & 7)
    assert np.array_equal(np.load(mod._shard_path(root, 4, 0)), expect)


def test_prescreen_plan_and_module_have_no_broadcast(spark, tmp_path):
    """The prescreen reads shard files executor-side: neither its plan
    nor the module ships a bitmap to executors."""
    import tile_processor_spark.sources.dedup_bloom as mod

    df = spark.createDataFrame([("a",), ("b",)], "fp string")
    b = build_bloom(str(tmp_path), 1, df, 2)
    save_bloom(b)
    plan = with_maybe_kept(df, b)._jdf.queryExecution().executedPlan()
    assert "broadcast" not in plan.toString().lower()
    assert "broadcast" not in inspect.getsource(mod).lower()


def test_capacity_and_m_sizing():
    assert _capacity_for(0) == 1 << 17
    assert _capacity_for(10**6) >= 2 * 10**6
    m = _m_for(_capacity_for(10**6))
    assert m >= _BITS_PER_ELEMENT * 10**6 and (m & (m - 1)) == 0


def test_shard_count_sizing():
    assert _shards_for(1 << 21, 1 << 33) == 1  # small bitmap: fast path
    assert _shards_for(1 << 33, 1 << 33) == 1  # exactly at the ceiling
    assert _shards_for(1 << 34, 1 << 33) == 2
    assert _shards_for(1 << 37, 1 << 33) == 16


def test_large_m_addresses_beyond_32_bits(spark):
    """The ADVICE r12 defect: md5-word probes could never address a bit
    >= 2^32. The xxh64 scheme must place some probes above 2^32 when m
    allows (64 fps × 4 probes over m=2^34 — P(all below 2^32) ~ 4^-256)."""
    m = 1 << 34
    df = spark.createDataFrame([(f"z{i}",) for i in range(64)], "fp string")
    pos = [
        r[f"_p{w}"]
        for r in _position_cols(df, m).collect()
        for w in range(_K)
    ]
    assert max(pos) >= 1 << 32
    assert min(pos) >= 0 and max(pos) < m


def test_sidecar_roundtrip_and_fold(spark, tmp_path):
    import tile_processor_spark.sources.dedup_bloom as mod

    root = str(tmp_path)
    df = spark.createDataFrame([(f"x{i}",) for i in range(50)], "fp string")
    b = build_bloom(root, 3, df, 50)
    save_bloom(b)
    r = load_bloom(root, 3)
    assert r is not None and r.n == 50 and r.clustered_n == 50
    assert (r.m, r.shards) == (b.m, 1)
    assert load_bloom(root, 4) is None  # stale stamp
    more = spark.createDataFrame([(f"y{i}",) for i in range(10)], "fp string")
    b2 = fold_in(r, more, 10, 4)
    assert b2.n == 60 and b2.fp_version == 4 and b2.clustered_n == 50
    save_bloom(b2)
    # folding only ADDS bits (superset preserved)
    before = np.load(mod._shard_path(root, 3, 0))
    after = np.load(mod._shard_path(root, 4, 0))
    assert not np.array_equal(after, before)
    assert np.array_equal(after & before, before)
    flagged = with_maybe_kept(df.union(more), load_bloom(root, 4))
    assert flagged.filter("NOT _maybe_kept").count() == 0


def _rewrite_meta(path: str, **changes) -> None:
    """Rewrite the meta-only state in place, setting (or, for None,
    dropping) the given meta keys."""
    with np.load(path) as z:
        meta = json.loads(str(z["meta"]))
    for k, v in changes.items():
        if v is None:
            meta.pop(k, None)
        else:
            meta[k] = v
    with open(path, "wb") as f:
        np.savez(f, meta=np.array(json.dumps(meta)))


def test_sidecar_with_different_probe_count_is_rejected(spark, tmp_path):
    """Review r12: a sidecar built with different probe parameters
    would yield Bloom FALSE NEGATIVES — it must fail the stamp check
    and trigger a rebuild, never load."""
    import tile_processor_spark.sources.dedup_bloom as mod

    df = spark.createDataFrame([("a",), ("b",)], "fp string")
    b = build_bloom(str(tmp_path), 1, df, 2)
    save_bloom(b)
    assert load_bloom(str(tmp_path), 1) is not None
    # rewrite the state file claiming k=2
    _rewrite_meta(mod._state_path(str(tmp_path), 1), k=2)
    assert load_bloom(str(tmp_path), 1) is None


def test_sidecar_with_foreign_hash_scheme_is_rejected(spark, tmp_path):
    """A state written under the old md5 scheme (no/different 'h' tag)
    must rebuild — its bitmap read under xxh64 positions would miss
    duplicates, the one forbidden failure mode."""
    import tile_processor_spark.sources.dedup_bloom as mod

    df = spark.createDataFrame([("a",), ("b",)], "fp string")
    b = build_bloom(str(tmp_path), 1, df, 2)
    save_bloom(b)
    path = mod._state_path(str(tmp_path), 1)
    _rewrite_meta(path, h="md5x32")
    assert load_bloom(str(tmp_path), 1) is None
    _rewrite_meta(path, h=None)  # files older than the tag have none
    assert load_bloom(str(tmp_path), 1) is None


# ---------------------------------------------------------------- sharded


@pytest.fixture()
def sharded(spark, tmp_path):
    """A 4-shard sidecar over 600 fps (tiny shard_max_bits forces the
    sharded path at test scale)."""
    fps = [f"s{i}" for i in range(600)]
    df = spark.createDataFrame([(f,) for f in fps], "fp string")
    b = build_bloom(
        str(tmp_path), 5, df, 600,
        shard_max_bits=(1 << 21) // 4,  # m for 600 rows is 2^21 -> 4 shards
    )
    save_bloom(b)
    return fps, df, b, str(tmp_path)


def test_sharded_build_roundtrip_no_false_negatives(sharded, spark):
    fps, df, b, root = sharded
    assert b.shards == 4
    r = load_bloom(root, 5)
    assert r is not None and r.shards == 4 and r.n == 600
    # every inserted fp tests maybe-present (superset, no false negs)
    flagged = with_maybe_kept(df, r)
    assert flagged.filter("NOT _maybe_kept").count() == 0
    # definite-new fps overwhelmingly test absent (fp rate ~0.24%)
    fresh = spark.createDataFrame(
        [(f"other{i}",) for i in range(500)], "fp string"
    )
    rejected = with_maybe_kept(fresh, r).filter("NOT _maybe_kept").count()
    assert rejected > 450


def test_sharded_positions_match_reference(sharded, spark):
    """Executor-side shard bit test == independent recomputation."""
    fps, df, b, root = sharded
    import tile_processor_spark.sources.dedup_bloom as mod

    shard_bits = [
        np.load(mod._shard_path(root, 5, s)) for s in range(b.shards)
    ]
    m_shard = b.m_shard

    def ref_member(fp: str) -> bool:
        bm = shard_bits[ref_shard(fp, b.shards)]
        return all(
            bm[p >> 3] & (1 << (p & 7)) for p in ref_positions(fp, m_shard)
        )

    probe = fps[:50] + [f"nope{i}" for i in range(50)]
    got = {
        r["fp"]: r["_maybe_kept"]
        for r in with_maybe_kept(
            spark.createDataFrame([(f,) for f in probe], "fp string"),
            load_bloom(root, 5),
        ).collect()
    }
    for f in probe:
        assert got[f] == ref_member(f), f


def test_sharded_fold_in_touches_only_hit_shards(sharded, spark, tmp_path):
    import tile_processor_spark.sources.dedup_bloom as mod

    fps, df, b, root = sharded
    r = load_bloom(root, 5)
    before = {
        s: np.load(mod._shard_path(root, 5, s)).copy() for s in range(4)
    }
    # one new fp -> exactly one shard's bitmap should change
    new = spark.createDataFrame([("brand-new-fp",)], "fp string")
    target = ref_shard("brand-new-fp", 4)
    b2 = fold_in(r, new, 1, 6)
    save_bloom(b2)
    r2 = load_bloom(root, 6)
    assert r2 is not None and r2.n == 601 and r2.shards == 4
    for s in range(4):
        after = np.load(mod._shard_path(root, 6, s))
        if s == target:
            assert not np.array_equal(after, before[s])
            # superset: old bits all still set
            assert np.array_equal(after & before[s], before[s])
        else:
            assert np.array_equal(after, before[s])
    # the v6 untouched file must still test all original fps
    # maybe-present
    flagged = with_maybe_kept(df, r2)
    assert flagged.filter("NOT _maybe_kept").count() == 0
    # round 15 retention: the immediately superseded v5 is RETAINED (a
    # reader mid-job on it never rebuilds); a v7 publish reclaims it
    st_old = mod._shard_path(root, 5, (target + 1) % 4)
    assert __import__("os").path.exists(st_old)
    assert load_bloom(root, 5) is not None
    b3 = fold_in(r2, spark.createDataFrame([("newer-fp",)], "fp string"), 1, 7)
    save_bloom(b3)
    assert not __import__("os").path.exists(st_old)  # two behind: pruned
    assert __import__("os").path.exists(mod._shard_path(root, 6, 0))


def test_sharded_missing_shard_file_is_stale(sharded):
    import os

    import tile_processor_spark.sources.dedup_bloom as mod

    fps, df, b, root = sharded
    os.unlink(mod._shard_path(root, 5, 2))
    assert load_bloom(root, 5) is None  # torn state -> rebuild


def test_sharded_crossdevice_copy_fallback_streams(sharded, spark, monkeypatch):
    """When hardlinks are unavailable (cross-device sidecar dir), the
    untouched-shard carry must still produce byte-identical shard files
    — and do it by STREAMING copy (shutil.copyfile), never an np.load
    materialization (ADVICE r13: O(shards) full bitmaps on the driver
    defeated the one-shard memory bound)."""
    import os

    import tile_processor_spark.sources.dedup_bloom as mod

    fps, df, b, root = sharded

    def _no_link(src, dst):
        raise OSError("EXDEV: cross-device link")

    monkeypatch.setattr(os, "link", _no_link)
    loads = []
    real_load = np.load

    def _spy_load(*a, **kw):
        loads.append(a[0] if a else kw.get("file"))
        return real_load(*a, **kw)

    monkeypatch.setattr(mod.np, "load", _spy_load)
    r = load_bloom(root, 5)
    before = {s: real_load(mod._shard_path(root, 5, s)).copy() for s in range(4)}
    new = spark.createDataFrame([("xdev-new-fp",)], "fp string")
    b2 = fold_in(r, new, 1, 7)
    save_bloom(b2)
    r2 = load_bloom(root, 7)
    assert r2 is not None and r2.shards == 4
    target = ref_shard("xdev-new-fp", 4)
    for s in range(4):
        after = real_load(mod._shard_path(root, 7, s))
        if s == target:
            assert np.array_equal(after & before[s], before[s])  # superset
        else:
            assert np.array_equal(after, before[s])  # streamed copy exact
    # np.load during publish touched only fold_in's ONE hit shard, not
    # the untouched carries (those went through copyfile)
    publish_loads = [p for p in loads if str(p).endswith(".npy")]
    assert len(publish_loads) <= 1
    # the original fps still all test maybe-present through the copies
    assert with_maybe_kept(df, r2).filter("NOT _maybe_kept").count() == 0
