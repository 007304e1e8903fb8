"""Streaming ingestion into the dedup index: documents arriving on a
stream have their MinHash band keys computed in-flight and appended to a
delta area of the band index.

Completes the dedup lifecycle: batch build (``plans/llm_ops`` +
``sources/bucketing.write_bucketed``) → streaming append (this module) →
incremental candidate lookup (``llm_ops.incremental_band_candidates``)
→ periodic compaction of the delta into the bucketed index.

The streaming sink is a plain parquet append (Structured Streaming
cannot ``bucketBy``); the delta directory is small between compactions,
so the candidate join reads [bucketed index: zero exchange] ∪ [delta:
one small shuffle]. Compaction = ``write_bucketed`` over
index ∪ delta, then truncate the delta — same idempotent
overwrite-by-table contract as the batch build.

Signature computation is the SAME one-Arrow-pass UDF as the batch path
(``_minhash_sig_udf``), so streamed and batch-built band keys are
bit-identical — an index built either way yields identical candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from tile_processor_spark.plans.llm_ops import minhash_bands, minhash_signatures
from tile_processor_spark.sources.bucketing import write_bucketed


def stream_bands(docs: DataFrame) -> DataFrame:
    """Streaming (doc_id, bk) band keys: one Arrow pass per micro-batch,
    32 rows per document. Pure map — safe under any trigger."""
    return minhash_bands(minhash_signatures(docs))


def start_band_index_append(
    docs: DataFrame, delta_path: str, checkpoint_path: str
) -> StreamingQuery:
    """Append the stream's band keys to the index delta area
    (``availableNow``: drain the backlog, then stop)."""
    return (
        stream_bands(docs)
        .writeStream.format("parquet")
        .option("path", delta_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def compact_band_index(
    spark: SparkSession,
    index_table: str,
    delta_path: str,
    target_table: str,
    target_path: str,
    num_buckets: int,
) -> None:
    """Fold the streaming delta into a NEW bucketed index generation.

    Writes ``target_table`` (must differ from ``index_table`` — Spark
    refuses to overwrite a table it is reading, and a versioned
    generation swap is the idempotent contract anyway: re-running a
    failed compaction just rewrites the same target). ``distinct()``
    absorbs re-delivered documents, so compaction after an
    at-least-once streaming replay converges to the same index. The
    caller repoints readers at the new generation and truncates the
    delta."""
    if target_table == index_table:
        raise ValueError("compaction must write a new index generation")
    merged = spark.table(index_table).unionByName(
        spark.read.parquet(delta_path)
    ).distinct()
    write_bucketed(
        merged, target_table, ["bk"], num_buckets, target_path, sort_cols=["bk"]
    )
