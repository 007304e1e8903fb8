"""Class-data archive for the local driver JVM that ``get_spark`` launches.

A dynamic AppCDS (Application Class-Data Sharing) archive holds the
classes a Spark driver loads from the JDK and ``$SPARK_HOME/jars``,
already parsed and verified; a JVM started from it maps them instead of
loading them again. ``launch`` wraps the JVM launch:

- **Class path.** CDS refuses to dump or map an archive while a
  non-empty directory is on the class path, and the launcher puts the
  conf dir there (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``, which
  ships ``*.template`` files). When that dir holds nothing but templates,
  the launch sees an empty conf dir of this module's instead (the
  launcher reads no file from it either way); otherwise no archive is
  used and one line is logged.
- **Hit.** The archive is ``driver-<key>.jsa`` under ``cache_dir()``;
  the key hashes the JDK's ``release`` file, the jar list and the
  class-path settings. The JVM gets ``-XX:SharedArchiveFile`` with the
  CDS log off (the JDK prints its CDS warnings to stdout), and after
  start ``/proc/<pid>/maps`` must show the file mapped. A JDK handed an
  archive it cannot use drops all class sharing, the JDK's own base
  archive too, so an unmapped file is logged and deleted.
- **Miss.** At exit, after the session's JVM has ended, one training
  child (``python -m tile_processor_spark.jvm_archive``) runs a fixed
  mix of engine work in a JVM started with ``-XX:ArchiveClassesAtExit``
  and the file is renamed into place. Dumping from the caller's own JVM
  instead put the dump (+16 s stop, 2.6 GB peak RSS) inside the
  caller's run; the child runs after it, never during it.

A caller that passes its own CDS flags (``-Xshare``,
``SharedArchiveFile``, ``ArchiveClassesAtExit``) gets the conf-dir swap
and nothing else: that is how the training child dumps.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import logging
import os
import shutil
import signal
import subprocess
import sys
from collections.abc import Callable
from typing import TypeVar

log = logging.getLogger(__name__)

_S = TypeVar("_S")

#: the CDS log, off: the JDK writes its CDS warnings to stdout
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
#: Java options through which a caller manages class sharing itself
OWN_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: launcher class-path entries besides the conf dir and the jars
CLASS_PATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
#: how long the training child may take before it is killed
TRAIN_TIMEOUT_S = 600


def cache_dir() -> str:
    """``$XDG_CACHE_HOME`` (else ``~/.cache``) ``/tile_processor_spark/jvm``."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "tile_processor_spark", "jvm")


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _java_home() -> str:
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else ""


def archive_path(extra_class_path: str = "") -> str:
    """The archive for this JDK, these jars and this class path."""
    h = hashlib.sha256()
    try:
        with open(os.path.join(_java_home(), "release"), "rb") as fh:
            h.update(fh.read())
    except OSError:
        h.update(_java_home().encode())
    jars = os.path.join(_spark_home(), "jars")
    for name in sorted(os.listdir(jars)) if os.path.isdir(jars) else ():
        h.update(f"{name}\0{os.path.getsize(os.path.join(jars, name))}\n".encode())
    settings = [extra_class_path] + [os.environ.get(v, "") for v in CLASS_PATH_ENV]
    h.update(repr(settings).encode())
    return os.path.join(os.path.realpath(cache_dir()), f"driver-{h.hexdigest()[:16]}.jsa")


def _empty_conf_dir() -> str | None:
    """An empty conf dir to launch with, or None (logged) when the
    effective conf dir holds more than ``*.template`` files."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")
    names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    extra = [n for n in names if not n.endswith(".template")]
    if extra:
        log.info("no JVM class-data archive: conf dir %s holds %s", conf_dir, ", ".join(extra))
        return None
    empty = os.path.join(cache_dir(), "conf")
    try:
        os.makedirs(empty, mode=0o700, exist_ok=True)
        os.chmod(cache_dir(), 0o700)
    except OSError as exc:
        log.info("no JVM class-data archive: %s", exc)
        return None
    if os.listdir(empty):
        log.info("no JVM class-data archive: %s is not empty", empty)
        return None
    return empty


@contextlib.contextmanager
def _conf_dir(path: str):
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _launches() -> bool:
    """Whether starting a session now launches a JVM."""
    from pyspark import SparkContext

    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def launch(conf: dict[str, str], start: Callable[[dict[str, str]], _S]) -> _S:
    """``start(conf)`` for a local master, from the class-data archive
    when one is ready; when none is, one is trained at exit. A JVM that
    is already running is left as it is."""
    if not _launches():
        return start(conf)
    empty = _empty_conf_dir()
    if empty is None:
        return start(conf)
    java_opts = " ".join(conf.get(f"spark.driver.{k}JavaOptions", "") for k in ("default", "extra"))
    if any(flag in java_opts for flag in OWN_CDS_FLAGS):
        with _conf_dir(empty):
            return start(conf)
    class_path = conf.get("spark.driver.extraClassPath", "")
    path = archive_path(class_path)
    hit = os.path.isfile(path)
    if hit:
        opts = conf.get("spark.driver.defaultJavaOptions", "")
        opts = f"{opts} -XX:SharedArchiveFile={path} {QUIET}".strip()
        conf = {**conf, "spark.driver.defaultJavaOptions": opts}
    with _conf_dir(empty):
        spark = start(conf)
    if hit:
        check_mapped(spark, path)
    else:
        atexit.register(train, path, class_path)
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def is_mapped(pid: int, path: str) -> bool:
    with open(f"/proc/{pid}/maps") as fh:
        return any(line.rstrip("\n").endswith(" " + path) for line in fh)


def check_mapped(spark, path: str) -> None:
    """When the driver JVM did not map ``path``, log it and delete the
    file, so that the next launch trains a new one."""
    pid = jvm_pid(spark)
    if not is_mapped(pid, path):
        log.warning("JVM %d did not map class-data archive %s; deleting it", pid, path)
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)


# --- training -----------------------------------------------------------------


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _take_lock(lock: str) -> bool:
    """Create ``lock`` holding this pid; a lock of a dead pid is removed."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600)
        except FileExistsError:
            try:
                with open(lock) as fh:
                    owner = int(fh.read().strip() or 0)
            except (OSError, ValueError):
                owner = 0
            if owner and _alive(owner):
                return False
            with contextlib.suppress(FileNotFoundError):
                os.unlink(lock)
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _remove_stale(directory: str) -> None:
    """``.tmp`` archives and training scratch dirs whose pid is dead."""
    for p in glob.glob(os.path.join(directory, "*.tmp")) + glob.glob(
            os.path.join(directory, "train-*")):
        tag = p[: -len(".tmp")].rsplit(".", 1)[-1] if p.endswith(".tmp") else p.rsplit("-", 1)[-1]
        if tag.isdigit() and not _alive(int(tag)):
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(p)


def _end_driver_jvm() -> None:
    """Let this process's driver JVM exit (its stdin closed, as at
    process exit) and wait for it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None or proc.poll() is not None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def train(path: str, class_path: str = "") -> None:
    """Build ``path`` in a training child, once this process's driver
    JVM has exited. Skipped while another process trains."""
    directory = os.path.dirname(path)
    lock = os.path.join(directory, "train.lock")
    if not _take_lock(lock):
        return
    pid = os.getpid()
    scratch = os.path.join(directory, f"train-{pid}")
    try:
        _remove_stale(directory)
        if os.path.isfile(path):
            return
        _end_driver_jvm()
        tmp = f"{path}.{pid}.tmp"
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(scratch, d))
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, TMPDIR=os.path.join(scratch, "tmp"),
                   SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
                   PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])))
        env.pop("PYSPARK_GATEWAY_PORT", None)
        with open(os.path.join(directory, "train.log"), "w") as err:
            child = subprocess.Popen(
                [sys.executable, "-m", __name__, tmp, scratch, class_path],
                cwd=root, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=err, start_new_session=True)
            try:
                code = child.wait(timeout=TRAIN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            with contextlib.suppress(ProcessLookupError):
                os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        if code == 0 and os.path.isfile(tmp) and os.path.getsize(tmp) > 0:
            os.replace(tmp, path)
            for other in glob.glob(os.path.join(directory, "driver-*.jsa")):
                if other != path:
                    os.unlink(other)
        else:
            log.warning("JVM class-data archive not built (training child exit %s); see %s",
                        code, os.path.join(directory, "train.log"))
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
    except OSError as exc:
        log.warning("JVM class-data archive not built: %s", exc)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock)


def _training_mix(spark, scratch: str) -> None:
    """A fixed, self-contained mix of the engine's work: SQL with
    codegen, parquet read and write, shuffle, broadcast join, window,
    ``applyInPandas`` and ``toPandas``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    facts = spark.range(0, 200_000, numPartitions=4).select(
        "id",
        (F.col("id") % 97).alias("k"),
        (F.rand(7) * 100).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
    )
    path = os.path.join(scratch, "facts")
    facts.write.mode("overwrite").parquet(path)
    t = spark.read.parquet(path)
    t.createOrReplaceTempView("facts")
    dim = spark.range(97).select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
    dim.createOrReplaceTempView("dim")
    agg = spark.sql(
        "SELECT k, count(*) AS n, sum(v) AS total, avg(v) AS mean, max(s) AS top, "
        "min(date_trunc('hour', ts)) AS first_hour FROM facts WHERE v > 10 GROUP BY k"
    )
    ranked = agg.join(F.broadcast(dim), "k").withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy(F.desc("total"))))
    ranked.write.mode("overwrite").parquet(os.path.join(scratch, "ranked"))
    spark.sql(
        "SELECT f.k, d.g, f.v FROM facts f JOIN dim d ON f.k = d.k WHERE f.id % 1000 = 0 "
        "ORDER BY f.v DESC LIMIT 50"
    ).toPandas()
    t.groupBy("k").applyInPandas(
        lambda pdf: pdf.nlargest(1, "v")[["k", "v"]], "k long, v double").toPandas()


def _main(tmp: str, scratch: str, class_path: str) -> int:
    """The training child: one session whose JVM dumps ``tmp`` at exit."""
    from pyspark import SparkContext

    from tile_processor_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-XX:ArchiveClassesAtExit={tmp} -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
    }
    if class_path:
        conf["spark.driver.extraClassPath"] = class_path
    spark = get_spark(app_name="tps-jvm-archive", shuffle_partitions=4, extra_conf=conf)
    try:
        _training_mix(spark, scratch)
    finally:
        spark.stop()
        _end_driver_jvm()  # the JVM writes the archive as it exits
    return 0 if SparkContext._gateway.proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(_main(*sys.argv[1:4]))
