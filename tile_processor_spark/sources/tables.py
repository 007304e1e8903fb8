"""Parquet table sources for the driver-generated testdata star schema.

At scale these would be partitioned/bucketed datasets on object storage;
the reader deliberately stays ``spark.read.parquet`` so Catalyst keeps
predicate pushdown, column pruning, and partition pruning.

Ingest layout: the driver's landing files are single-file /
SINGLE-ROW-GROUP parquet, and a parquet row group is the unit of split
assignment — so every scan stage over them (scan + filter + partial
aggregate, the whole first half of most queries) runs as ONE task no
matter how many cores the session has. That layout is an artifact of
the test harness; at 100 TB the same table is thousands of files and
the scan parallelizes by construction. ``load_table`` therefore
re-lays any big single-row-group source into a multi-file copy under
the engine's RAM-backed scratch, once per (session, source file) —
the classic landing-zone → optimized-storage ingest step (what Delta
OPTIMIZE / clustering does), cache-keyed by (path, size, mtime) so a
regenerated source is never served stale. Values are unchanged (same
rows, same types); only the physical split count changes. Disable
with ``SPARK_GRAFT_NO_INGEST=1``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tile_processor_spark.session import session_cached

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Re-layout sources with at least this many rows (tiny dims aren't worth
# a copy) and fewer than this many row groups (already splittable).
_INGEST_MIN_ROWS = 2_000
_INGEST_MAX_ROW_GROUPS = 3
_INGEST_LOCK = threading.Lock()


def _ingest_root() -> str | None:
    if os.environ.get("SPARK_GRAFT_NO_INGEST"):
        return None
    base = "/dev/shm" if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK) else None
    if base is None:
        return None
    root = os.path.join(base, f"tps-ingest-{os.getuid()}")
    os.makedirs(root, exist_ok=True)
    return root


def _gc_stale_ingests(root: str, keep_app: str) -> None:
    """Best-effort: drop other sessions' ingest dirs older than 2 h so
    tmpfs doesn't accumulate copies across many short-lived sessions."""
    cutoff = time.time() - 7200
    try:
        for entry in os.scandir(root):
            if entry.name != keep_app and entry.is_dir() and entry.stat().st_mtime < cutoff:
                shutil.rmtree(entry.path, ignore_errors=True)
    except OSError:
        pass


def _parallel_layout(
    spark: SparkSession,
    name: str,
    path: str,
    stamp: tuple[int, int] | None,
    df: DataFrame | None = None,
) -> DataFrame | None:
    """Return ``name`` read from a multi-file scratch copy (ingesting it
    first if this session hasn't yet), or None when re-layout is
    disabled, impossible, or not beneficial. ``path`` is absolute and
    ``stamp`` its (size, mtime_ns), None when it is not a local file;
    ``df`` overrides the frame to materialize (the normalized events
    frame)."""
    root = _ingest_root()
    if root is None or stamp is None:
        return None
    try:
        import pyarrow.parquet as pq

        key = hashlib.md5(f"{path}:{stamp[0]}:{stamp[1]}".encode()).hexdigest()[:16]
        app = spark.sparkContext.applicationId
        app_dir = os.path.join(root, app)
        # keep-alive: refresh our dir's mtime so another session's
        # stale-GC never reclaims a cache a >2h session is still using
        if os.path.isdir(app_dir):
            os.utime(app_dir)
        meta = pq.ParquetFile(path).metadata
        if meta.num_rows < _INGEST_MIN_ROWS or meta.num_row_groups > _INGEST_MAX_ROW_GROUPS:
            return None
        out = os.path.join(app_dir, f"{key}-{name}")
        with _INGEST_LOCK:  # serialize in-process probe-and-write races
            if not os.path.exists(os.path.join(out, "_SUCCESS")):
                _gc_stale_ingests(root, keep_app=app)
                cpus = spark.sparkContext.defaultParallelism
                n = min(cpus, max(8, (meta.num_rows + 19_999) // 20_000))
                src = df if df is not None else spark.read.parquet(path)
                # stage + rename so a concurrent reader never sees a
                # half-written or mid-overwrite dir (another process
                # racing us loses the rename and keeps the winner's copy)
                tmp = f"{out}.tmp-{os.getpid()}-{time.time_ns()}"
                src.repartition(n).write.mode("overwrite").parquet(tmp)
                try:
                    os.rename(tmp, out)
                except OSError:
                    # rename fails both when a complete winner already
                    # exists AND when `out` is stale/partial (or EXDEV);
                    # spark.read does not require _SUCCESS, so only trust
                    # `out` if the marker proves a completed write —
                    # otherwise skip ingest and read the original path.
                    shutil.rmtree(tmp, ignore_errors=True)
                    if not os.path.exists(os.path.join(out, "_SUCCESS")):
                        return None
        return spark.read.parquet(out)
    except Exception:
        return None  # ingest is an optimization; never fail the read


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one engine table; ``events`` is normalized to TIMESTAMP.

    .. warning:: Loading ``events`` may MUTATE the passed session, and
       the mutation persists beyond this call: if the parquet carries an
       NTZ timestamp the session timezone is pinned to ``UTC``, and if
       it carries int64 nanos ``spark.sql.legacy.parquet.nanosAsLong``
       stays set (the scan consults it lazily at execution time, so it
       cannot be restored here). On a session you intentionally run in a
       non-UTC timezone this changes the semantics of your OWN later
       timestamp queries — pass a dedicated session
       (``spark.newSession()``) if you need your confs untouched. The
       engine's own sessions already run UTC, so library-created
       sessions are unaffected. Rationale below.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        return _read_table(spark, name, path)
    # the ingest kill switch changes which PHYSICAL layout is returned;
    # a frame cached with ingest on must not be served after the switch
    # flips mid-session (and vice versa)
    return _read_table_cached(
        spark, name, os.path.abspath(path), st.st_size, st.st_mtime_ns,
        bool(os.environ.get("SPARK_GRAFT_NO_INGEST")),
    )


# The resolved plan of one source, per (path, size, mtime, ingest
# switch) and session. A bench/gate session calls load_table for the
# same table once per query; each call re-paid driver-side work (file
# listing + footer schema read + py4j round trips) to rebuild an
# identical immutable plan. Caching the PLAN is not result caching:
# execution still scans the parquet files every action. A regenerated
# source has a new size or mtime, so it is never served a stale plan.
@session_cached
def _read_table_cached(
    spark: SparkSession, name: str, path: str, size: int, mtime_ns: int, no_ingest: bool
) -> DataFrame:
    return _read_table(spark, name, path, (size, mtime_ns))


def _read_table(
    spark: SparkSession, name: str, path: str, stamp: tuple[int, int] | None = None
) -> DataFrame:
    """``name`` read from ``path``; see ``_parallel_layout`` for
    ``stamp``."""
    if name != "events":
        laid = _parallel_layout(spark, name, path, stamp)
        return laid if laid is not None else spark.read.parquet(path)
    # The driver has regenerated events.parquet with different physical
    # ts encodings across rounds; normalize to TIMESTAMP (LTZ) whatever
    # the on-disk flavor so downstream `unix_micros` / `window()` /
    # `session_window()` work uniformly:
    #   - timestamp[us] isAdjustedToUTC=false → Spark TIMESTAMP_NTZ:
    #     pin the session tz to UTC and cast. This deliberately mutates
    #     the session tz (NTZ→LTZ casts are tz-dependent and no
    #     tz-independent conversion exists — verified empirically); the
    #     engine's own sessions already run UTC, and the oracle compare
    #     assumes it. Wall-clock == instant under UTC, so the cast is
    #     exact (epoch-µs verified against DuckDB).
    #   - int64 nanos: TIMESTAMP(NANOS) parquet is rejected by a plain
    #     reader — retry under the legacy nanosAsLong conf and
    #     integer-divide to µs (`div`, not `/`: float division loses
    #     bits above 2^53). The conf stays set for the session: the
    #     scan itself consults it lazily at execution, so restoring it
    #     here would break the very read it enabled. The mutation is
    #     per-session and only fires when the data is actually nanos.
    nanos_conf = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        df = spark.read.parquet(path)
    except Exception:
        spark.conf.set(nanos_conf, "true")
        df = spark.read.parquet(path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.TimestampNTZType):
        # conf.get WITHOUT a default: passing one (even "") makes Spark
        # validate it as a timezone and raise on unset vanilla sessions.
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # the scratch copy stores the NORMALIZED frame (plain TIMESTAMP
    # micros), so cached reads need neither the nanos conf nor the cast
    laid = _parallel_layout(spark, "events", path, stamp, df=df)
    return laid if laid is not None else df


def table_row_count(name: str, sf_dir: str = DEFAULT_SF_DIR) -> int:
    """Exact row count of a source table from the parquet footer —
    no Spark job, ~ms. Used for size dispatches (e.g. banded_topk's
    naive-under-threshold branch) where a cheap, exact upper bound on
    an input's cardinality picks the plan."""
    import pyarrow.parquet as pq

    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` works on the
    same names the DuckDB oracle uses."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
