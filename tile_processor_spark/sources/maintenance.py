"""Table maintenance: small-file compaction and the swap store.

Streaming appends (``streaming/ingest.py``), per-batch merges
(``streaming/rollup.py``) and per-tile retry writes all accrete small
parquet files; scan cost then becomes file-open-bound (the classic
small-file problem). ``compact_dir`` rewrites a directory to
⌈bytes / target⌉ files; ``compact_partitioned`` does the same per
partition directory and replaces only partitions that are actually
fragmented, via dynamic partition overwrite.

The rewrite is atomic at the directory level: new files land in a
sibling ``<path>.__compacting__`` directory which is swapped in with
two renames — readers see either the old layout or the new one, never
a mix. (On object stores swap-by-rename becomes a manifest flip; the
table-format layer, not this library, owns that.) The same swap
commits the small swap-whole stores of ``streaming/``:
``atomic_swap_write`` writes a generation, ``read_swap_store`` reads one.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from tile_processor_spark.session import local_frame

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _dir_stats(path: str) -> tuple[int, int]:
    """(total_bytes, n_data_files) for the parquet files under path."""
    total, n = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return total, n


def _staging_paths(path: str) -> tuple[str, str]:
    """Staging dirs for the swap, DOT-PREFIXED in the parent directory:
    Spark's file index ignores names starting with '.' or '_', so a
    concurrent reader of the parent (partitioned-table case) never
    discovers half-written or superseded data as extra partitions."""
    parent, base = os.path.split(path.rstrip("/"))
    return (
        os.path.join(parent, f".{base}.__compacting__"),
        os.path.join(parent, f".{base}.__old__"),
    )


def _recover(path: str) -> None:
    """Self-heal from a crash at any point of a prior swap: if the live
    directory vanished mid-swap, the .__old__ staging dir is the intact
    previous generation — restore it. Stale tmp is always discardable;
    stale old is discardable only once the live dir exists again."""
    tmp, old = _staging_paths(path)
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    if os.path.exists(path) and os.path.exists(old):
        shutil.rmtree(old)


def compact_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """Rewrite a flat parquet directory into ⌈bytes/target⌉ files.

    Returns {"files_before", "files_after", "bytes"}. No-op (returns
    early) when the directory is already at or below the target count —
    compaction must be cheap to call on a schedule. Crash-safe: staging
    dirs are hidden from Spark file discovery, and `_recover` restores
    the previous generation if an earlier run died between the two
    swap renames.
    """
    _recover(path)
    total, n_before = _dir_stats(path)
    n_target = max(1, math.ceil(total / target_bytes))
    if n_before <= n_target:
        return {"files_before": n_before, "files_after": n_before, "bytes": total}
    df: DataFrame = spark.read.parquet(path)
    tmp, old = _staging_paths(path)
    # coalesce, not repartition: pack existing partitions without a
    # shuffle — compaction moves bytes once, through the narrowest plan.
    df.coalesce(n_target).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    _, n_after = _dir_stats(path)
    return {"files_before": n_before, "files_after": n_after, "bytes": total}


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_col: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """Compact each ``<partition_col>=v`` child directory that holds
    more files than its byte size warrants, rewriting ONLY fragmented
    partitions (dynamic-overwrite-style surgical maintenance)."""
    results: dict[str, dict] = {}
    for name in sorted(os.listdir(path)):
        child = os.path.join(path, name)
        if name.startswith(f"{partition_col}=") and os.path.isdir(child):
            results[name] = compact_dir(spark, child, target_bytes)
    return {
        "partitions": len(results),
        "compacted": sum(
            1 for r in results.values() if r["files_after"] < r["files_before"]
        ),
        "detail": results,
    }


def read_swap_store(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The swap store at ``path`` as a frame of ``schema``: empty before
    the first write, else the parquet read. Runs `_recover` first, so a
    crash mid-swap reads as the previous generation."""
    _recover(path)
    if not os.path.isdir(path):
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(path)


def atomic_swap_write(df: DataFrame, path: str) -> None:
    """Replace ``path``'s parquet contents with ``df``, as one file, via
    the crash-safe double-rename swap (hidden staging dirs + `_recover`
    self-heal). The commit primitive for small swap-whole stores
    (streaming sketch registers and open sessions), whose one reader is
    `read_swap_store`: a crash at any point leaves either the old or the
    new generation intact, never a torn mix."""
    tmp, old = _staging_paths(path)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)
