#!/usr/bin/env python
"""Incremental-dedup scale rehearsal (VERDICT r11 worklist #4): bound
the per-version history join. The old loop anti-joined each delta
against the ENTIRE fingerprint snapshot — O(history) rows shuffled per
version, the one super-linear term left in the ingest loop. The round
12 design Bloom-prescreens the delta (rejected fingerprints are
provably new and never touch history) and exact-verifies the few
candidates against only the fingerprint files whose commit-time
min/max fp stats can contain them, with ``cluster_fingerprints``
re-sorting history globally on a doubling schedule.

Measures, at --versions x --rows-per-version (default 100 x 10k = 1M
fingerprints):

1. BLOOM PATH: per-version wall time, candidates, fingerprint files
   opened vs total, and history ROWS READ by the verify join —
   bucketed by version decade, expected ~flat while history grows
   100x.
2. NO-BLOOM BASELINE (--baseline-versions, default 30): the same
   corpus shape through the full anti-join — history rows read grows
   linearly with the version number.

Run on a calm host; never concurrently with another Spark session.

    python tools/rehearse_dedup.py [--versions 100] [--rows-per-version 10000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tile_processor_spark.sources.dedup_bloom import (  # noqa: E402
    _DEFAULT_SHARD_MAX_BITS,
)


def _mk_version_df(spark, v, rows, dup_rate):
    """Version v's delta: mostly fresh texts, ``dup_rate`` of rows
    repeating a text from an EARLIER version (true duplicates)."""
    from pyspark.sql import functions as F

    n_dup = int(rows * dup_rate) if v > 1 else 0
    fresh = spark.range(rows - n_dup).select(
        (F.lit(v * 10**9) + F.col("id")).alias("doc_id"),
        F.concat(F.lit(f"v{v}-fresh-"), F.col("id")).alias("text"),
    )
    if n_dup:
        prev = (v - 1) or 1
        dups = spark.range(n_dup).select(
            (F.lit(v * 10**9 + 5 * 10**8) + F.col("id")).alias("doc_id"),
            F.concat(F.lit(f"v{prev}-fresh-"), F.col("id")).alias("text"),
        )
        fresh = fresh.unionByName(dups)
    return fresh


def _maybe_start_fake_endpoint(sidecar: str | None):
    """An s3:// sidecar with no configured endpoint gets the in-process
    signature-verifying fake (the same one the test tier uses) — the
    rehearsal then measures the full wire path: SigV4 signing, HTTP,
    staged-object publish, CopyObject carries, fetch-through cache."""
    if not sidecar or os.environ.get("SPARK_GRAFT_S3_ENDPOINT"):
        return None
    from tile_processor_spark.testing.fake_s3 import start_fake_s3

    ak, sk = "REHEARSEKEY", "rehearse-secret"
    srv = start_fake_s3(ak, sk)
    host, port = srv.server_address
    os.environ["SPARK_GRAFT_S3_ENDPOINT"] = f"http://{host}:{port}"
    os.environ["SPARK_GRAFT_S3_ACCESS_KEY"] = ak
    os.environ["SPARK_GRAFT_S3_SECRET_KEY"] = sk
    print(f"sidecar endpoint: in-process fake at {host}:{port}", flush=True)
    return srv


def run(versions, rows, dup_rate, baseline_versions, cluster_every,
        cluster_files=None, shard_max_bits=_DEFAULT_SHARD_MAX_BITS,
        sidecar=None):
    from tile_processor_spark.session import get_spark
    from tile_processor_spark.sources.incremental_dedup import (
        cluster_fingerprints,
        dedup_new_versions,
    )
    from tile_processor_spark.sources.snapshots import append_snapshot

    fake = _maybe_start_fake_endpoint(sidecar)
    spark = get_spark(app_name="rehearse-dedup", shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="tps_rehearse_dedup_")
    out = {"versions": versions, "rows_per_version": rows,
           "dup_rate": dup_rate, "shard_max_bits": shard_max_bits,
           "sidecar": sidecar, "bloom": [], "baseline": []}
    try:
        corpus = os.path.join(root, "corpus")
        fps = os.path.join(root, "fps")
        print(f"building corpus: {versions} versions x {rows} rows", flush=True)
        for v in range(1, versions + 1):
            append_snapshot(_mk_version_df(spark, v, rows, dup_rate), corpus)
        print("corpus built; running BLOOM path", flush=True)
        kept_total = 0
        for v in range(1, versions + 1):
            tele: list = []
            t0 = time.time()
            stats = dedup_new_versions(
                spark, corpus, fps, telemetry=tele, max_versions=1,
                bloom_shard_max_bits=shard_max_bits,
                bloom_sidecar=sidecar,
            )
            wall = time.time() - t0
            assert len(stats) == 1 and stats[0]["version"] == v
            kept_total += stats[0]["kept"]
            te = tele[0]
            out["bloom"].append(
                {
                    "version": v,
                    "wall_s": round(wall, 3),
                    "mode": te["mode"],
                    "candidates": te["candidates"],
                    "fp_files_opened": te["fp_files_opened"],
                    "fp_files_total": te["fp_files_total"],
                    "history_rows": kept_total - stats[0]["kept"],
                }
            )
            if cluster_every and v % cluster_every == 0:
                t0 = time.time()
                cluster_fingerprints(
                    spark, fps, files_target=cluster_files, sidecar=sidecar
                )
                out["bloom"].append(
                    {"version": v, "mode": "cluster",
                     "wall_s": round(time.time() - t0, 3)}
                )
            if v % 10 == 0:
                print(f"  v{v}: {out['bloom'][-1]}", flush=True)
        print("running NO-BLOOM baseline", flush=True)
        fps2 = os.path.join(root, "fps_nobloom")
        corpus2 = os.path.join(root, "corpus2")
        for v in range(1, baseline_versions + 1):
            append_snapshot(_mk_version_df(spark, v, rows, dup_rate), corpus2)
        kept_total = 0
        for v in range(1, baseline_versions + 1):
            t0 = time.time()
            stats = dedup_new_versions(
                spark, corpus2, fps2, use_bloom=False, max_versions=1
            )
            wall = time.time() - t0
            kept_total += stats[0]["kept"]
            out["baseline"].append(
                {
                    "version": v,
                    "wall_s": round(wall, 3),
                    "history_rows": kept_total - stats[0]["kept"],
                }
            )
            if v % 10 == 0:
                print(f"  v{v}: {out['baseline'][-1]}", flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        if fake is not None:
            out["sidecar_rejections"] = len(fake.rejections)
            fake.shutdown()
            fake.server_close()

    def bucket(rows_, lo, hi):
        sel = [r for r in rows_ if r.get("mode") != "cluster"
               and lo <= r["version"] <= hi]
        if not sel:
            return {"versions": f"{lo}-{hi}", "empty": True}
        return {
            "versions": f"{lo}-{hi}",
            "wall_s_median": round(
                statistics.median(r["wall_s"] for r in sel), 3
            ),
            "files_opened_median": statistics.median(
                r.get("fp_files_opened", 0) for r in sel
            ),
            "files_total_median": statistics.median(
                r.get("fp_files_total", 0) for r in sel
            ),
            "candidates_median": statistics.median(
                r.get("candidates", 0) for r in sel
            ),
            "history_rows_max": max(r["history_rows"] for r in sel),
        }

    v3 = versions // 3
    out["bloom_buckets"] = [
        bucket(out["bloom"], 2, v3),
        bucket(out["bloom"], v3 + 1, 2 * v3),
        bucket(out["bloom"], 2 * v3 + 1, versions),
    ]
    b3 = baseline_versions // 3
    out["baseline_buckets"] = [
        bucket(out["baseline"], 2, b3),
        bucket(out["baseline"], b3 + 1, 2 * b3),
        bucket(out["baseline"], 2 * b3 + 1, baseline_versions),
    ]
    summary_keys = ["versions", "rows_per_version", "dup_rate",
                    "shard_max_bits", "sidecar", "bloom_buckets",
                    "baseline_buckets"]
    if "sidecar_rejections" in out:
        summary_keys.append("sidecar_rejections")
    print(json.dumps({k: out[k] for k in summary_keys}, indent=2))
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--versions", type=int, default=100)
    ap.add_argument("--rows-per-version", type=int, default=10_000)
    ap.add_argument("--dup-rate", type=float, default=0.002)
    ap.add_argument("--baseline-versions", type=int, default=30)
    ap.add_argument("--cluster-every", type=int, default=32)
    ap.add_argument(
        "--cluster-files", type=int, default=200,
        help="files_target for cluster_fingerprints: production "
        "tables have many narrow-range files per candidate (128MB "
        "files over billions of rows); 200 reproduces that regime "
        "at 1M rows",
    )
    ap.add_argument(
        "--sidecar", default=None,
        help="bloom sidecar location: an s3://bucket/prefix URL puts "
        "state + shard objects on the object store (SPARK_GRAFT_S3_* "
        "env, or an in-process fake endpoint is started when none is "
        "configured); default keeps the sidecar next to the table",
    )
    ap.add_argument(
        "--shard-max-bits", type=int, default=_DEFAULT_SHARD_MAX_BITS,
        help="per-shard bitmap cap in BITS (default 2**33, 1 GiB); a "
        "smaller cap only sets the shard size: e.g. 2**22 splits a "
        "1M-row table's sidecar into ~8 shard files",
    )
    a = ap.parse_args()
    run(a.versions, a.rows_per_version, a.dup_rate,
        a.baseline_versions, a.cluster_every, a.cluster_files,
        a.shard_max_bits, a.sidecar)
