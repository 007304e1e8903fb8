"""Process resource monitor — the reference's per-tile child sampling
(worker.py:718-736) and SURVEY §7 step 6's 'metrics listener → TSV'
piece, as one sampler.

``ProcSampler`` samples one process's CPU/RSS every ``interval`` seconds
into the exact TSV layout ``recorder.parse_log`` consumes (timestamp,
tile, pid, cpu_user, cpu_sys, rss). ``_subprocess_worker`` wraps each
external binary in it; ``JobMonitor`` points it at the driver JVM and
adds the active-stage count from ``StatusTracker``, so the same per-tile
summary/plot tooling covers both subprocess workers and in-engine jobs.

Scale note: ``JobMonitor`` is a *driver* observer — O(1) memory, one
tiny row per interval, no executor-side hooks — so it is safe at any
cluster size;
per-task metrics remain the scheduler's job (Spark UI/event log), which
an engine library should not duplicate.
"""

from __future__ import annotations

import datetime
import os
import threading

from pyspark.sql import SparkSession


def _proc_cpu_rss(pid: int) -> tuple[float, float, int]:
    """(cpu_user_s, cpu_sys_s, rss_bytes) for a pid from /proc — the
    same counters psutil reads, no dependency."""
    tck = float(os.sysconf("SC_CLK_TCK"))
    page = os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/stat", "rb") as f:
        fields = f.read().rsplit(b")", 1)[1].split()
    return int(fields[11]) / tck, int(fields[12]) / tck, int(fields[21]) * page


class ProcSampler:
    """Sample one process's CPU/RSS while the body runs.

    >>> with ProcSampler(proc.pid, mon_dir, label="t1", interval=1.0):
    ...     proc.communicate()

    The first sample is taken on enter, so a process that exits within
    one interval still leaves a row; a daemon thread takes the rest every
    ``interval`` seconds until the process is gone or the body ends. On
    exit, also when the body raises, the rows go to
    ``<monitor_dir>/tile=<label>.pid=<pid>.tsv`` by write-temp + rename
    (one file per process, so concurrent tasks never share an append).
    """

    def __init__(self, pid: int, monitor_dir: str, label: str, interval: float):
        self.pid = pid
        self.monitor_dir = monitor_dir
        self.label = label
        self.interval = interval
        self._rows: list[str] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> bool:
        try:
            cpu_u, cpu_s, rss = _proc_cpu_rss(self.pid)
        except (OSError, IndexError, ValueError):
            return False  # the process exited and was reaped
        ts = datetime.datetime.now(datetime.timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )
        with self._lock:
            self._rows.append(f"{ts}\t{self.label}\t{self.pid}\t{cpu_u}\t{cpu_s}\t{rss}")
        return True

    def _loop(self) -> None:
        while not self._stop.wait(self.interval) and self._sample():
            pass

    def __enter__(self):
        self._stop.clear()
        if self._sample():
            self._thread = threading.Thread(target=self._loop, daemon=True)
            self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)
        # a thread still stuck in a /proc read may append: copy under the lock
        with self._lock:
            rows = list(self._rows)
        if not rows:
            return
        os.makedirs(self.monitor_dir, exist_ok=True)
        path = os.path.join(self.monitor_dir, f"tile={self.label}.pid={self.pid}.tsv")
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write("\n".join(rows) + "\n")
        os.replace(tmp, path)


def _jvm_pid(spark: SparkSession) -> int:
    """The driver JVM's pid: the process doing the work in local mode,
    and the right scope for a driver-side observer in cluster mode."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None and proc.pid:
        return int(proc.pid)
    return os.getpid()  # connect/embedded fallback: monitor ourselves


class JobMonitor(ProcSampler):
    """Sample driver resource usage while Spark jobs run.

    >>> with JobMonitor(spark, mon_dir, label="ingest", interval=1.0):
    ...     df.write.parquet(...)

    Writes ``<mon_dir>/tile=<label>.pid=<pid>.tsv`` on exit; read it
    back with ``recorder.parse_log`` / ``per_tile_summary``.
    """

    def __init__(
        self,
        spark: SparkSession,
        monitor_dir: str,
        label: str = "job",
        interval: float = 1.0,
    ) -> None:
        super().__init__(_jvm_pid(spark), monitor_dir, label, interval)
        self._tracker = spark.sparkContext.statusTracker()
        #: active-stage count per TSV row — driver-side job progress,
        #: exposed for callers; not part of the reference TSV layout.
        self.stage_samples: list[int] = []

    def _sample(self) -> bool:
        if not super()._sample():
            return False
        self.stage_samples.append(len(self._tracker.getActiveStageIds()))
        return True
