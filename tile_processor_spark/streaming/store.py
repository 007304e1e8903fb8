"""The streaming rules every store shares, each written once.

``foreachBatch`` is at-least-once: a crash between a store write and
the checkpoint's offset commit redelivers the same batch under the same
epoch id. Stores whose merge is idempotent (HLL register max, KMV
set-min) need nothing more. Additive stores record the ``(run, epoch)``
that produced them (``applied_run`` / ``applied_epoch``) and skip a
batch that carries the pair already. The run id is a uuid marker inside
the checkpoint directory: it survives restarts of that checkpoint, so a
true replay is recognized, and dies with it, so a recreated checkpoint
(whose epoch counter restarts at 0) never false-matches the marks of
the previous incarnation.

Each store keeps its own format and replay rule (``rollup``: per-hour
partition overwrite with a per-partition guard; ``topk``: append-only
candidates; ``enrich``: per-epoch partition overwrite; ``sessions``:
its watermark meta row); what they share is here.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tile_processor_spark.sources.maintenance import atomic_swap_write, read_swap_store


def checkpoint_run_id(checkpoint_path: str) -> str:
    """Stable identity for one logical stream: a uuid written inside the
    checkpoint directory on first use and read back afterwards."""
    os.makedirs(checkpoint_path, exist_ok=True)
    # the name predates this module; kept so existing checkpoints keep
    # their run id
    marker = os.path.join(checkpoint_path, "_rollup_run_id")
    if not os.path.exists(marker):
        tmp = f"{marker}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(uuid.uuid4().hex)
        os.replace(tmp, marker)
    with open(marker) as f:
        return f.read().strip()


def is_replay(mark: Row | None, epoch: int | None, run_id: str | None) -> bool:
    """Whether a store whose marks are ``mark`` (a row carrying
    ``applied_epoch`` and ``applied_run``; None for an empty store)
    already holds this ``(run, epoch)``. Direct calls (``epoch=None``)
    are never replays."""
    return (
        epoch is not None
        and mark is not None
        and mark["applied_epoch"] == int(epoch)
        and mark["applied_run"] == run_id
    )


def stamp_epoch(df: DataFrame, epoch: int | None, run_id: str | None) -> DataFrame:
    """``df`` with the ``(run, epoch)`` marks that produced it; a direct
    call stamps epoch -1."""
    return df.withColumn(
        "applied_epoch", F.lit(int(epoch) if epoch is not None else -1).cast("long")
    ).withColumn("applied_run", F.lit(run_id).cast("string"))


def merge_counts(
    delta: DataFrame,
    store_path: str,
    schema: str,
    keys: Sequence[str],
    epoch: int | None = None,
    run_id: str | None = None,
) -> None:
    """Add ``delta``'s ``cnt`` per ``keys`` into the swap store.

    A store already carrying this ``(run, epoch)`` is a replay and is
    skipped whole: the check is batch-level because the swap commit is
    atomic, so the store is always exactly the state after some prefix
    of batches. Direct calls (``epoch=None``) are additive."""
    delta = delta.localCheckpoint()
    if delta.isEmpty():
        return
    current = read_swap_store(delta.sparkSession, store_path, schema)
    if epoch is not None:
        head = current.limit(1).collect()
        if is_replay(head[0] if head else None, epoch, run_id):
            return
    merged = (
        current.select(*keys, "cnt")
        .unionByName(delta)
        .groupBy(*keys)
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    atomic_swap_write(stamp_epoch(merged, epoch, run_id), store_path)


def start_stream(
    events: DataFrame,
    checkpoint_path: str,
    merge: Callable[[DataFrame, int, str], None],
) -> StreamingQuery:
    """Drain ``events`` through ``merge(batch, epoch, run_id)`` per
    micro-batch (``availableNow``: process the backlog, then stop), with
    the run id of ``checkpoint_path``."""
    run_id = checkpoint_run_id(checkpoint_path)
    return (
        events.writeStream.foreachBatch(lambda batch, epoch: merge(batch, epoch, run_id))
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
