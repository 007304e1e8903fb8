"""SparkSession factory tuned for the engine.

Local-mode defaults follow the test/bench environment (single JVM,
``local[$SPARK_GRAFT_CPUS]``); on a real cluster every setting here is
still sane — AQE on, Arrow on, shuffle partitions sized explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every session the engine creates. At cluster scale
#: the same knobs hold: AQE re-plans shuffles at runtime (skew-join
#: splitting, partition coalescing), Arrow keeps the pandas-UDF path
#: vectorized, and an explicit session timezone makes timestamp semantics
#: reproducible against external oracles.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pandas-UDF batches: large enough to amortize Arrow transfer, small
    # enough that a batch of WKB geometries fits comfortably in memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.aggregatePushdown": "true",
    # let Python Data Sources (tps_postgres) receive pushFilters —
    # off by default in Spark 4.1, required for server-side predicates
    "spark.sql.python.filterPushdown.enabled": "true",
    # Whole-stage-codegen class cache (JVM-wide, keyed by generated
    # source). Spark's default of 100 is below the engine's working set:
    # the 15 non-llm headline queries generate about 233 distinct classes
    # at sf0.01 and all 23 about 500 at sf0.001, so with 100 entries every
    # repeat of a plan recompiled its classes with Janino (173-196
    # compiles per warm headline pass) and re-JITed them. Static conf:
    # Spark reads it once per JVM, at the first codegen, so it holds only
    # when an engine session runs that first codegen.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # PySpark's daemon behind a guard that keeps every Python task from
    # re-reading pyspark.zip's directory (~0.18 s CPU per task before
    # Python 3.13); see pydaemon.py. Executors must be able to import the
    # engine, as its UDFs already require.
    "spark.python.daemon.module": "tile_processor_spark.pydaemon",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "tile_processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured. ``shuffle_partitions`` defaults
    to the local core count — on a real cluster pass ~2-3x total cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # Shuffle/broadcast scratch on RAM-backed tmpfs: local-mode data
        # volumes are far below RAM, and the shared-host disk has shown
        # intermittent multi-second I/O stalls that surface as low-CPU
        # task slowdowns. Cluster deployments set their own local dirs.
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
            scratch = f"/dev/shm/spark-local-{os.getuid()}"
            os.makedirs(scratch, exist_ok=True)
            conf.setdefault("spark.local.dir", scratch)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
