#!/usr/bin/env python
"""Ingest-path scale rehearsal (VERDICT r10 worklist #5): measure the
snapshot store's metadata costs at ~100k manifest entries and a
100-version stream replay — the numbers docs/SCALE.md records.

Three measurements:

1. APPEND COMMIT LATENCY vs table file count, flat manifest vs grouped
   (manifest-list) layout. Fabricated file paths (the commit path never
   stats data files), so this isolates the metadata cost: flat commits
   re-serialize O(files); grouped commits write O(groups + delta).
2. FILE-LIST RESOLUTION at 100k entries across 1k partition values:
   full resolve and a one-partition pruned resolve, flat vs grouped.
3. STREAM CATCH-UP: a real table built by 100 one-row appends, then a
   fresh tps_snapshot stream replaying version 0 → 100 into a memory
   sink (real Spark query), wall time to full catch-up.

Run on a calm host; never concurrently with another Spark session.

    python tools/rehearse_ingest.py [--entries 100000] [--versions 100]
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
import uuid


def _fab_table(root: str, n_files: int, n_parts: int) -> str:
    """A snapshot table whose v1 manifest references ``n_files``
    fabricated paths spread over ``n_parts`` Hive partition values."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tile_processor_spark.sources.snapshots import _commit_manifest

    tbl = os.path.join(root, f"tbl_{n_files}_{uuid.uuid4().hex[:6]}")
    os.makedirs(tbl)
    base = os.path.join(tbl, "data", "tree")
    files = [
        os.path.join(base, f"grp={i % n_parts}", f"part-{i:08d}.parquet")
        for i in range(n_files)
    ]
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "grp", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    _commit_manifest(
        tbl,
        {
            "version": 1,
            "committed_at": time.time(),
            "files": files,
            "schema": schema,
            "base": base,
            "partition_by": ["grp"],
        },
        1,
    )
    return tbl


def _bench_commit(tbl: str, base: str, runs: int = 5) -> float:
    from tile_processor_spark.sources.snapshots import commit_append

    times = []
    for r in range(runs):
        delta = [
            os.path.join(base, "grp=0", f"delta-{uuid.uuid4().hex}.parquet")
            for _ in range(100)
        ]
        t0 = time.perf_counter()
        commit_append(tbl, delta, partition_by=["grp"])
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _bench_resolve(tbl: str, runs: int = 5) -> tuple[float, float, int]:
    from tile_processor_spark.sources.snapshots import (
        _manifest_files,
        _read_manifest,
        list_versions,
    )

    man = _read_manifest(tbl, list_versions(tbl)[-1])
    full_t, pruned_t = [], []
    n = 0
    for _ in range(runs):
        t0 = time.perf_counter()
        n = len(_manifest_files(man))
        full_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        _manifest_files(man, {"grp": "7"})
        pruned_t.append(time.perf_counter() - t0)
    return statistics.median(full_t), statistics.median(pruned_t), n


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--entries", type=int, default=100_000)
    ap.add_argument("--versions", type=int, default=100)
    ap.add_argument("--parts", type=int, default=1_000)
    ns = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from tile_processor_spark.sources.snapshots import (
        compact_manifest,
        list_versions,
    )

    root = tempfile.mkdtemp(prefix="ingest_rehearsal_")
    print(f"# ingest rehearsal in {root}")
    print("\n## append commit latency (100-file delta, median of 5)")
    print("| entries | flat commit | grouped commit | resolve full | resolve pruned |")
    print("|---|---|---|---|---|")
    for n in (1_000, 10_000, ns.entries):
        tbl = _fab_table(root, n, ns.parts)
        base = os.path.join(tbl, "data", "tree")
        flat_c = _bench_commit(tbl, base)
        compact_manifest(tbl)
        grp_c = _bench_commit(tbl, base)
        full_r, pruned_r, total = _bench_resolve(tbl)
        print(
            f"| {n:,} | {flat_c * 1e3:.1f} ms | {grp_c * 1e3:.1f} ms "
            f"| {full_r * 1e3:.2f} ms | {pruned_r * 1e3:.3f} ms |",
            flush=True,
        )
        assert total >= n

    print(f"\n## stream catch-up over {ns.versions} append versions (real data)")
    from tile_processor_spark.session import get_spark
    from tile_processor_spark.sources.snapshot_datasource import register
    from tile_processor_spark.sources.snapshots import append_snapshot

    spark = get_spark(app_name="ingest-rehearsal", shuffle_partitions=4)
    register(spark)
    stbl = os.path.join(root, "stream_tbl")
    t0 = time.perf_counter()
    for i in range(ns.versions):
        append_snapshot(
            spark.createDataFrame([(i, f"v{i}")], "k long, s string"), stbl
        )
    build_t = time.perf_counter() - t0
    print(f"built {ns.versions} append versions in {build_t:.1f}s "
          f"({build_t / ns.versions * 1e3:.0f} ms/commit incl. parquet write)")
    assert list_versions(stbl)[-1] == ns.versions

    t0 = time.perf_counter()
    q = (
        spark.readStream.format("tps_snapshot")
        .option("path", stbl)
        .load()
        .writeStream.format("memory")
        .queryName("catchup")
        .start()
    )
    q.processAllAvailable()
    rows = spark.sql("SELECT count(*) c FROM catchup").collect()[0]["c"]
    catchup_t = time.perf_counter() - t0
    q.stop()
    print(f"catch-up: {rows} rows from {ns.versions} versions in "
          f"{catchup_t:.1f}s")
    assert rows == ns.versions
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
