"""Stream enrichment against a snapshot-table dimension that can be
republished mid-stream — the streaming consumer of
``sources/snapshots.py``.

Problem shape: a 100 TB event stream joins a small, slowly-changing
dimension (user tier, tile index version, centroid table). Restarting
the stream on every dimension change is operationally wrong; joining a
live directory is read-torn under concurrent rewrite. The snapshot
manifest solves both: each micro-batch resolves the CURRENT committed
version once (one manifest read), broadcast-joins it, and tags output
rows with the dimension version used — so enrichment is torn-free,
auditable, and picks up dimension updates at the next batch boundary
with no restart.

Replay discipline (foreachBatch is at-least-once): each batch writes to
its own ``ingest_epoch=<run>-<epoch>`` partition directory with
overwrite mode — a redelivered epoch REWRITES its directory instead of
appending a duplicate. Idempotence by directory identity, the same
contract Delta's ``txn`` version gives foreachBatch writers. The run id
comes from the checkpoint's uuid marker, so a recreated checkpoint
(epoch counter reset) writes under fresh partition names rather than
clobbering the previous incarnation's output.

This is foreachBatch-side logic: the dimension is deliberately NOT a
stream (no state store, no watermark); per-batch re-resolution is the
lakehouse idiom for slowly-changing broadcast dims (Delta's
"stream-static join", with the manifest providing the isolation Delta
gets from its log).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tile_processor_spark.sources.snapshots import list_versions, read_snapshot


def enrich_batch(
    batch: DataFrame,
    dim_table_path: str,
    out_path: str,
    join_key: str,
    epoch: int | None = None,
    run_id: str | None = None,
) -> None:
    """Broadcast-join one micro-batch against the latest committed
    dimension snapshot and write it under its epoch partition. Output
    carries ``dim_version`` — every row is traceable to the exact
    dimension state that enriched it."""
    spark = batch.sparkSession
    versions = list_versions(dim_table_path)
    if not versions:
        raise FileNotFoundError(f"no committed dimension at {dim_table_path}")
    v = versions[-1]
    dim = read_snapshot(spark, dim_table_path, version=v)
    enriched = batch.join(F.broadcast(dim), join_key, "left").withColumn(
        "dim_version", F.lit(v).cast("long")
    )
    if epoch is None:
        enriched.write.mode("append").parquet(out_path)
        return
    # Epoch-keyed overwrite: replaying this epoch rewrites the same
    # directory — no duplicate rows survive a crash-before-checkpoint.
    # an 8-character run-id prefix keeps partition names short
    part = os.path.join(out_path, f"ingest_epoch={(run_id or 'run')[:8]}-{int(epoch)}")
    enriched.write.mode("overwrite").parquet(part)


def read_enriched(spark, out_path: str) -> DataFrame:
    """Read the enriched output across all epoch partitions."""
    return spark.read.option("basePath", out_path).parquet(out_path)
