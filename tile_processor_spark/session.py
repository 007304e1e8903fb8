"""SparkSession factory tuned for the engine, and the session cache.

Local-mode defaults follow the test/bench environment (single JVM,
``local[$SPARK_GRAFT_CPUS]``); on a real cluster every setting here is
still sane — AQE on, Arrow on, shuffle partitions sized explicitly.
A local driver JVM gets a host-sized heap and a JIT policy that leaves
C2 to code that stays hot (``LOCAL_JIT_OPTIONS``). ``session_cached``
holds state built for one SparkContext (plans, checkpoints, UDFs) until
that context's application is gone, and ``local_frame`` is the one way
to build a small frame from Python rows.
"""

from __future__ import annotations

import functools
import os
import time
from collections.abc import Callable, Sequence
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

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


#: HotSpot tier-4 thresholds at three times JDK 17's 5000 / 600 / 15000 /
#: 40000; see ``get_spark``.
LOCAL_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)


def host_driver_memory() -> str:
    """Local-mode driver memory: a quarter of this host's RAM in whole
    GiB, at least 2g and at most 48g."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{max(2, min(48, kb // (4 * 1024 * 1024)))}g"


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
    A local master also gets driver memory (``$SPARK_GRAFT_DRIVER_MEM``,
    else ``host_driver_memory()``), the JIT policy and RAM-backed scratch;
    ``extra_conf`` overrides any of them.
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
        conf.setdefault(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_memory()
        )
        # JIT policy: HotSpot's tier-4 (C2) thresholds x3, tier 3 (C1) as
        # is. Many small many-stage plans keep generated and planner code
        # hot only briefly; with JDK 17's defaults C2 compiled it anyway,
        # and its compiler threads held 14.3 of the 23.6 CPU-s of the first
        # warm headline pass (executor task threads 2.0). With x3
        # (tools/ab.py, 10 pairs, 4 cores) headline pass_cpu_s fell from
        # 18.6 to 13.0 CPU-s (10/10) and cold_cpu_s from 48.7 to 43.7;
        # tile_batch cold_cpu_s from 44.4 to 38.4; wall times stayed inside
        # the parent's quartiles. x5 made cold passes 9% slower in wall
        # time, and C1 only (-XX:TieredStopAtLevel=1) steady-state passes
        # ~40% slower.
        # Default (not extra) Java options: the launcher puts them in
        # front of spark.driver.extraJavaOptions, so a caller's own JVM
        # options add to the policy instead of replacing it. They hold
        # only when this call launches the JVM.
        conf.setdefault("spark.driver.defaultJavaOptions", LOCAL_JIT_OPTIONS)
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


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: str | StructType
) -> DataFrame:
    """A small DataFrame of ``rows`` (tuples in ``schema`` order; DDL
    string or ``StructType``) on a local relation.

    Built from an Arrow table, so it plans a ``LocalTableScan``: a
    DataFrame from a Python list scans a Python RDD instead and runs a
    Python task per partition on every action that reads it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    columns = [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.table(columns, schema=arrow), struct)


# --- session cache --------------------------------------------------------

#: (builder, args) -> built value, for the application ``_cache_app`` only
_entries: dict[tuple[Callable, tuple], object] = {}
_cache_app: str | None = None
#: builder name -> [hits, misses, build seconds], for the life of the process
_stats: dict[str, list] = {}

_T = TypeVar("_T")


def session_cached(fn: Callable[..., _T]) -> Callable[..., _T]:
    """Memoize ``fn(spark, *args)`` per ``(fn, args)`` for the live
    SparkContext. ``args`` must be hashable; the first lookup under a
    new ``applicationId`` drops every entry of the previous application,
    so no plan, checkpoint or UDF outlives (or crosses) its session.

    For built state only — resolved plans, localCheckpoints, gate
    fixture directories, UDFs — never query results: a hit must change
    nothing observable. Builds run without a lock, so two threads that
    miss together both build and the last one's value is kept.
    """
    counts = _stats.setdefault(f"{fn.__module__}.{fn.__qualname__}", [0, 0, 0.0])

    @functools.wraps(fn)
    def cached(spark: SparkSession, *args):
        global _cache_app
        app = spark.sparkContext.applicationId
        if app != _cache_app:
            _entries.clear()
            _cache_app = app
        key = (fn, args)
        if key in _entries:
            counts[0] += 1
            return _entries[key]
        counts[1] += 1
        t0 = time.perf_counter()
        out = fn(spark, *args)
        counts[2] += time.perf_counter() - t0
        _entries[key] = out
        return out

    return cached


def session_cache_stats() -> dict[str, dict[str, float]]:
    """Per builder: ``hits``, ``misses`` and ``build_s`` (seconds spent
    in misses), counted since the process started."""
    return {n: {"hits": h, "misses": m, "build_s": s} for n, (h, m, s) in _stats.items()}


def session_cache_clear() -> None:
    """Drop every cached entry; the next call of each builder rebuilds."""
    _entries.clear()
