"""Fan-out + failure collection + bounded retry — the reference's
``ThreadProcessor`` (tile_processor/processor.py:89-149) with Spark's
scheduler in place of the thread pool.

Result contract preserved exactly: ``{'failed_tiles': [...],
'nr_success': n}`` (processor.py:125). Retries are *driver-level* re-runs
of the failed-tile subset (``--restart``, cli.py:66-71), on top of
Spark's own task-attempt retries.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tile_processor_spark.pipeline.workers import run_worker_over_tiles

log = logging.getLogger(__name__)


def run_with_retry(
    data: DataFrame,
    worker_key: str,
    config: dict | None = None,
    restarts: int = 0,
) -> dict:
    """Run ``worker_key`` over every tile group in ``data``; re-run failed
    tiles up to ``restarts`` times (processor.py:106-123).
    """
    succeeded: set[str] = set()
    failed: set[str] = set()
    current = data
    for attempt in range(restarts + 1):
        status = run_worker_over_tiles(current, worker_key, config).collect()
        round_failed = sorted(r.tile_id for r in status if not r.success)
        succeeded.update(r.tile_id for r in status if r.success)
        failed = set(round_failed)
        if not failed:
            break
        log.warning("attempt %d: %d failed tiles: %s", attempt, len(failed), round_failed)
        if attempt < restarts:
            current = data.filter(F.col("tile_id").isin(round_failed))
    return {"failed_tiles": sorted(failed), "nr_success": len(succeeded)}
