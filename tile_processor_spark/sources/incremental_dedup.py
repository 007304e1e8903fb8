"""Incremental corpus dedup over the snapshot version stream — the
production loop a continuously-ingesting 100 TB corpus needs: each
append version's NEW rows are checked against the fingerprints of
everything ever kept, WITHOUT rescanning history's raw text. History
is represented once, as a fingerprint snapshot table; per version the
work is O(delta), never O(corpus) — and with the Bloom sidecar not
even O(fingerprint-history): a delta fingerprint the sidecar rejects
is provably new and never touches history, and the few maybe-present
candidates are verified exactly against the file subset whose
commit-time min/max fp stats can contain them (fingerprint commits
are staged range-clustered by ``fp`` precisely so those stats are
tight; ``cluster_fingerprints`` re-sorts history globally so the
candidate read stays a handful of files as versions accumulate).

The loop is EXACTLY-ONCE per corpus version via the same per-app
high-water mark the streaming sink uses (``commit_append``'s
``stream_mark``): every fingerprint commit records the corpus version
it processed, carried forward by all commit paths, so a crashed or
re-run driver re-processes only unmarked versions — and re-processing
an uncommitted version is idempotent by construction (the anti-join
against the uncommitted fingerprints yields the same survivors). The
Bloom sidecar is a CACHE keyed to the fingerprint-table version: it
never participates in the correctness argument (a false positive is
exact-verified; false negatives cannot exist; a stale/torn sidecar is
detected by the version stamp and rebuilt).

Partitioned corpus tables work: delta files live in the shared Hive
tree, so reading them with ``basePath`` re-derives the partition
columns (cast back to the committed dtypes, same as ``read_snapshot``)
— the natural pipeline order (partition the corpus, then dedup
incrementally) holds.

Composition, not a new engine: the corpus table's ``appended_files``
give the delta (the version-stream contract), ``read_snapshot`` gives
the fingerprint state, and ``commit_append`` gives the marked commit.

Reference parity note: the reference engine has no ingest/dedup story
at all; this is part of the training-data-pipeline mandate, composing
the snapshot store (Iceberg-shaped) with the dedup family.
"""

from __future__ import annotations

import bisect
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_processor_spark.session import local_frame
from tile_processor_spark.sources.dedup_bloom import (
    _DEFAULT_SHARD_MAX_BITS,
    build_bloom,
    fold_in,
    load_bloom,
    save_bloom,
    with_maybe_kept,
)
from tile_processor_spark.sources.snapshots import (
    _DATA_DIR,
    _gather_file_stats,
    _manifest_files,
    _read_manifest,
    commit_append,
    list_versions,
    read_partitioned_files,
    read_snapshot,
    write_snapshot,
)

_APP_ID = "incremental_dedup"

#: candidate sets larger than this skip the driver-side file probe and
#: fall back to the full distributed anti-join (the driver never holds
#: an unbounded fingerprint list)
_CANDIDATE_CAP = 65_536

#: below this, the candidate verify is an IN-list filter pushed into
#: the parquet scan (row-group skipping) instead of a broadcast semi
#: join — above it, a 1000+-literal predicate bloats the plan for no
#: pushdown benefit
_ISIN_CAP = 1_024

#: the re-cluster schedule never rewrites tables smaller than this (the full
#: anti-join is trivially cheap there), and cluster_fingerprints sizes
#: output files to roughly this many rows each
_MIN_CLUSTER_ROWS = 100_000
_CLUSTER_FILE_ROWS = 100_000

#: fingerprint commits are staged through repartitionByRange(fp) so
#: each committed file covers a narrow fp range (tight min/max stats)
_STAGE_RANGE_PARTITIONS = 8


def _fingerprint_schema_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], "fp string, doc_key long, src_version int")


def processed_through(fp_path: str) -> int:
    """The corpus version the fingerprint table has processed through
    (0 = nothing yet)."""
    versions = list_versions(fp_path)
    if not versions:
        return 0
    man = _read_manifest(fp_path, versions[-1])
    return int((man.get("stream_high_water") or {}).get(_APP_ID, 0))


def _read_delta(
    spark: SparkSession, man: dict, delta_files: list[str]
) -> DataFrame:
    """Read one version's delta files. For a partitioned corpus the
    partition columns live in the directory names of the table's Hive
    tree — the SAME basePath/cast re-derivation as ``read_snapshot``
    (one shared helper, so the two read paths cannot diverge)."""
    if not (man.get("partition_by") or []):
        return spark.read.parquet(*delta_files)
    return read_partitioned_files(spark, man, delta_files)


def _prune_fp_files(fp_man: dict, candidates: list[str]) -> tuple[list[str], int]:
    """The fingerprint files whose commit-time ``fp`` min/max range can
    contain at least one candidate (sorted list) — files without fp
    stats always survive (pruning is sound, never required). Returns
    (files to read, total file count)."""
    all_files = _manifest_files(fp_man)
    fstats = _gather_file_stats(fp_man)
    keep = []
    for f in all_files:
        rng = (fstats.get(f) or {}).get("fp")
        if not rng:
            keep.append(f)
            continue
        lo, hi = rng
        i = bisect.bisect_left(candidates, lo)
        if i < len(candidates) and candidates[i] <= hi:
            keep.append(f)
    return keep, len(all_files)


def dedup_new_versions(
    spark: SparkSession,
    corpus_path: str,
    fp_path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    fingerprint: Column | None = None,
    use_bloom: bool = True,
    candidate_cap: int = _CANDIDATE_CAP,
    telemetry: list | None = None,
    max_versions: int | None = None,
    bloom_shard_max_bits: int = _DEFAULT_SHARD_MAX_BITS,
    bloom_sidecar: str | None = None,
) -> list[dict]:
    """Process every corpus append version newer than the fingerprint
    table's high-water mark, in order. Per version: read ONLY the
    delta's files, fingerprint each row (default: md5 of ``text_col``;
    pass ``fingerprint`` for MinHash keys, CDC chunk sets, etc.),
    drop rows whose fingerprint is already kept (corpus history) or
    duplicated within the delta (min ``key_col`` wins), and commit the
    survivors' fingerprints with the version mark.

    The history check is Bloom-prescreened by default (``use_bloom``):
    delta fingerprints the sidecar rejects are provably new; the
    maybe-present candidates (true duplicates + ~0.24% false
    positives) are verified exactly against only the fingerprint files
    whose min/max fp stats can contain them. Candidate sets above
    ``candidate_cap`` fall back to the full distributed anti-join, so
    the driver never holds an unbounded list. ``bloom_shard_max_bits``
    caps the per-shard bitmap (default 1 GiB of bits); the sidecar is
    S = m / cap shard files by fingerprint hash, built and folded by
    executors and memory-mapped by the prescreen (dedup_bloom module
    doc). ``bloom_sidecar`` relocates the sidecar store: None keeps it
    next to the fingerprint table (shared-FS deployments);
    ``"s3://bucket/prefix"`` puts state and shards on the object store
    (client config via ``SPARK_GRAFT_S3_*`` env), where executors
    fetch-through a per-host cache — the 100 TB deployment shape
    (dedup_bloom module doc). Pass ``telemetry=[]`` to
    receive per-version ``{"version", "mode", "candidates",
    "fp_files_total", "fp_files_opened"}`` alongside the stats.

    Returns per-version stats ``{"version", "new_rows", "kept",
    "dropped"}``. REWRITE versions raise like the version stream does
    — an incremental consumer cannot interpret a rewrite without
    re-emitting history — while ``compact_manifest`` versions (same
    file set, an empty delta) advance the mark with zero rows. A GAP
    between the processed-through mark and the oldest surviving corpus
    manifest (a too-aggressive ``vacuum``) raises rather than silently
    under-deduplicating: rows in the vacuumed versions were never
    fingerprinted.

    Rows whose fingerprint evaluates to NULL are OUTSIDE the dedup
    domain: they are never recorded and never suppressed (they count
    in ``new_rows`` but not ``kept``/``dropped`` bookkeeping beyond
    that). ``max_versions`` bounds how many pending versions one call
    processes (a driver's own checkpoint cadence); default is all.

    With the sidecar on, :func:`cluster_fingerprints` runs on a
    GEOMETRIC schedule — whenever the kept rows have doubled since the
    last rewrite — so each kept row is rewritten O(log versions) times
    total and the candidate verify's file pruning stays sharp without
    any manual maintenance call."""
    corpus_versions = list_versions(corpus_path)
    if not corpus_versions:
        raise FileNotFoundError(f"no committed snapshot at {corpus_path}")
    if not list_versions(fp_path):
        # bootstrap an EMPTY fingerprint table so every version's
        # fingerprints land as a marked append (a bootstrap that wrote
        # v1's fingerprints unmarked would re-add them on replay)
        write_snapshot(_fingerprint_schema_df(spark), fp_path)
    done = processed_through(fp_path)
    pending = [v for v in corpus_versions if v > done]
    if max_versions is not None:
        pending = pending[:max_versions]
    expected = done + 1
    if pending and pending[0] != expected:
        raise ValueError(
            f"corpus versions {expected}..{pending[0] - 1} were vacuumed "
            f"before being fingerprinted (processed through {done}, "
            f"oldest surviving manifest is {pending[0]}); their rows "
            "would silently never dedupe — re-bootstrap the fingerprint "
            "table from the full corpus instead"
        )
    fp_expr = (
        fingerprint
        if fingerprint is not None
        else F.md5(F.encode(F.col(text_col), "UTF-8"))
    )
    bloom = None
    if use_bloom and pending:
        fp_head = list_versions(fp_path)[-1]
        bloom = load_bloom(fp_path, fp_head, sidecar=bloom_sidecar)
        if bloom is None:
            kept = read_snapshot(spark, fp_path).select("fp")
            bloom = build_bloom(
                fp_path, fp_head, kept, kept.count(),
                shard_max_bits=bloom_shard_max_bits, sidecar=bloom_sidecar,
            )
            save_bloom(bloom)
    stats: list[dict] = []
    for v in pending:
        man = _read_manifest(corpus_path, v)
        delta_files = man.get("appended_files")
        if delta_files is None:
            if man.get("version") == 1 and "files" in man:
                delta_files = _manifest_files(man)
            elif "compacted_from" in man:
                # compaction: the file SET is unchanged, the delta is
                # provably empty — advance the mark, keep zero
                delta_files = []
            else:
                raise ValueError(
                    f"corpus version {v} is not an append commit; "
                    "incremental dedup cannot interpret a rewrite"
                )
        tele = {"version": v, "mode": "empty-delta", "candidates": 0,
                "fp_files_total": 0, "fp_files_opened": 0}
        if delta_files:
            delta = _read_delta(spark, man, delta_files).select(
                F.col(key_col).cast("long").alias("doc_key"),
                fp_expr.alias("fp"),
            )
            # NULL fingerprints are outside the dedup domain (an anti-
            # join could never match them anyway — SQL NULL inequality —
            # so recording them would only accumulate dead rows)
            delta = delta.filter(F.col("fp").isNotNull())
            # within-delta dedup first (min key wins), then against
            # every fingerprint ever kept. The grouped delta feeds up
            # to three actions (candidate collect, survivors write,
            # the semi-join fallback) — checkpoint it once instead of
            # re-reading and re-shuffling per action (the cache policy
            # docs/SCALE.md prescribes for multi-consumer frames)
            delta = (
                delta.groupBy("fp")
                .agg(F.min("doc_key").alias("doc_key"))
                .localCheckpoint()
            )
            dup_fps = None
            if bloom is not None:
                flagged = with_maybe_kept(delta, bloom)
                candidates = flagged.filter(F.col("_maybe_kept")).select("fp")
                # ONE action: collect up to cap+1 — the driver never
                # holds more than the cap, and the +1 row is the
                # overflow signal that triggers the distributed path
                cand_rows = candidates.limit(candidate_cap + 1).collect()
                n_cand = len(cand_rows)
                tele["candidates"] = n_cand
                if n_cand == 0:
                    # every delta fp PROVABLY new: no history read
                    tele["mode"] = "bloom-all-new"
                elif n_cand <= candidate_cap:
                    cand = sorted(r.fp for r in cand_rows)
                    fp_man = _read_manifest(
                        fp_path, list_versions(fp_path)[-1]
                    )
                    files, total = _prune_fp_files(fp_man, cand)
                    tele.update(
                        mode="bloom-pruned",
                        fp_files_total=total,
                        fp_files_opened=len(files),
                    )
                    if files:
                        pruned = spark.read.parquet(*files).select("fp")
                        if n_cand <= _ISIN_CAP:
                            # small candidate sets push an IN filter to
                            # the parquet readers: row-group min/max
                            # stats skip WITHIN the opened files too
                            # (fingerprint files are written fp-sorted,
                            # so row groups carry tight ranges) — rows
                            # decoded ∝ candidates, not file sizes
                            dup_fps = pruned.filter(F.col("fp").isin(cand))
                        else:
                            dup_fps = pruned.join(
                                F.broadcast(candidates), "fp", "left_semi"
                            )
                else:
                    tele["mode"] = "full-anti-join"
                    dup_fps = read_snapshot(spark, fp_path).select("fp")
            else:
                tele["mode"] = "full-anti-join"
                dup_fps = read_snapshot(spark, fp_path).select("fp")
            survivors = (
                delta
                if dup_fps is None
                else delta.join(dup_fps, "fp", "left_anti")
            ).select(
                "fp", "doc_key", F.lit(v).cast("int").alias("src_version")
            )
            new_files, n_kept = _stage_parquet(survivors, fp_path)
            n_new = sum(_parquet_rows(f) for f in delta_files)
        else:
            new_files, n_new, n_kept = [], 0, 0
        # the mark advances even for empty/no-survivor versions —
        # replay protection is per corpus version, not per row
        committed_v = commit_append(
            fp_path,
            new_files,
            stream_mark=(_APP_ID, v),
            extra={"src_corpus_version": v},
        )
        if bloom is not None and committed_v != bloom.fp_version:
            # a replay-dropped commit returns the unchanged head, so
            # the sidecar stamp still matches and nothing updates
            if bloom.n + n_kept > bloom.capacity:
                kept = read_snapshot(spark, fp_path).select("fp")
                bloom = build_bloom(
                    fp_path, committed_v, kept, kept.count(),
                    shard_max_bits=bloom_shard_max_bits,
                    sidecar=bloom_sidecar,
                )
            else:
                staged = (
                    spark.read.parquet(*new_files).select("fp")
                    if new_files
                    else None
                )
                bloom = fold_in(bloom, staged, n_kept, committed_v)
            save_bloom(bloom)
            if bloom.n >= 2 * max(bloom.clustered_n, _MIN_CLUSTER_ROWS):
                # geometric schedule: the table doubled since its last
                # global sort — re-cluster so the candidate verify's
                # file pruning stays sharp; each kept row is rewritten
                # O(log versions) times total
                cluster_fingerprints(spark, fp_path, sidecar=bloom_sidecar)
                bloom = load_bloom(
                    fp_path, list_versions(fp_path)[-1],
                    sidecar=bloom_sidecar,
                )
        if telemetry is not None:
            telemetry.append(tele)
        stats.append(
            {
                "version": v,
                "new_rows": n_new,
                "kept": n_kept,
                "dropped": n_new - n_kept,
            }
        )
    return stats


def cluster_fingerprints(
    spark: SparkSession,
    fp_path: str,
    files_target: int | None = None,
    sidecar: str | None = None,
) -> int:
    """Maintenance rewrite: re-sort the fingerprint table GLOBALLY by
    ``fp`` into files with disjoint, tight min/max ranges, so the
    per-version candidate verify opens files ∝ candidates instead of
    one file per historical commit. Run periodically (a geometric
    schedule — every time history doubles — keeps the amortized cost
    O(1) per kept row). ``write_snapshot`` carries the per-app
    high-water mark across the rewrite, so replay protection is
    untouched; the Bloom sidecar's content is identical (same fp set),
    so its version stamp is advanced in place rather than rebuilt."""
    df = read_snapshot(spark, fp_path)
    n = df.count()
    k = files_target or max(1, min(256, n // _CLUSTER_FILE_ROWS + 1))
    clustered = df.repartitionByRange(k, "fp").sortWithinPartitions("fp")
    pre = list_versions(fp_path)[-1]
    v = write_snapshot(clustered, fp_path)
    bloom = load_bloom(fp_path, pre, sidecar=sidecar)
    if bloom is not None:
        bloom.fp_version = v
        bloom.clustered_n = n
        save_bloom(bloom)
    return v


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _stage_parquet(df: DataFrame, table_path: str) -> tuple[list[str], int]:
    """Write ``df`` into a private staging dir under the table's data
    root, RANGE-CLUSTERED by fp (each file covers a narrow fp range,
    so its commit-time min/max stats prune hard); returns (file list
    with ZERO-ROW task files dropped, total rows) — one footer read
    per file serves both the filter and the row accounting (the
    fingerprint manifest stays proportional to kept rows, not task
    count; no Spark job)."""
    stage = os.path.join(
        os.path.abspath(table_path), _DATA_DIR, uuid.uuid4().hex
    )
    df = df.repartitionByRange(
        _STAGE_RANGE_PARTITIONS, "fp"
    ).sortWithinPartitions("fp")
    df.write.mode("error").parquet(stage)
    files: list[str] = []
    total = 0
    for root, _d, names in os.walk(stage):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            p = os.path.join(root, n)
            rows = _parquet_rows(p)
            if rows > 0:
                files.append(p)
                total += rows
    return sorted(files), total
