"""The local-mode driver JVM that ``get_spark`` launches.

It carries the engine's JIT policy (``session.LOCAL_JIT_OPTIONS``) and G1
region size (``session.LOCAL_GC_OPTIONS``) even when the caller passes
its own ``spark.driver.extraJavaOptions``, as perfbench does, and its
heap is sized from the host when
``SPARK_GRAFT_DRIVER_MEM`` is unset. It starts from the engine's
class-data archive (``jvm_archive``) when one is ready, and fails soft
when none is, when the file is garbage and when the conf dir holds a
real file. Each case is a fresh JVM in a subprocess, since the test
session's JVM is already running; the archive cases keep their cache in
``tmp_path`` through ``XDG_CACHE_HOME``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tile_processor_spark import jvm_archive

REPO = str(Path(__file__).resolve().parents[1])

_SCRIPT = r"""
import json
from tile_processor_spark.session import get_spark

spark = get_spark(app_name="tps-jvm-policy", shuffle_partitions=2,
                  extra_conf={"spark.driver.extraJavaOptions": "-Dtps.probe=1"})
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
hotspot = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
out = {
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "tier4": hotspot.getVMOption("Tier4InvocationThreshold").getValue(),
    "region": hotspot.getVMOption("G1HeapRegionSize").getValue(),
    "driver_memory": spark.conf.get("spark.driver.memory"),
    "max_heap": jvm.java.lang.Runtime.getRuntime().maxMemory(),
}
print("JVM_RESULT " + json.dumps(out))
spark.stop()
"""


def _host_driver_gb() -> int:
    """A quarter of MemTotal in whole GiB, clamped to 2..48."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return max(2, min(48, kb // (4 * 1024 * 1024)))


def test_driver_jvm_policy_and_host_sized_heap():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run([sys.executable, "-c", _SCRIPT], capture_output=True, text=True,
                          timeout=600, cwd=REPO, env=env)
    assert proc.returncode == 0, f"session subprocess failed:\n{proc.stderr[-4000:]}"
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("JVM_RESULT "))
    out = json.loads(line[len("JVM_RESULT "):])

    # the policy and the caller's own option both reach the JVM
    for flag in ("-XX:Tier4InvocationThreshold=15000", "-XX:Tier4MinInvocationThreshold=1800",
                 "-XX:Tier4CompileThreshold=45000", "-XX:Tier4BackEdgeThreshold=120000",
                 "-XX:G1HeapRegionSize=16m", "-Dtps.probe=1"):
        assert flag in out["args"], (flag, out["args"])
    assert out["tier4"] == "15000"
    assert out["region"] == str(16 * 1024**2)

    gb = _host_driver_gb()
    assert out["driver_memory"] == f"{gb}g"
    assert out["max_heap"] <= gb * 1024**3


_ARCHIVE_SCRIPT = r"""
import json, os
from tile_processor_spark import jvm_archive
from tile_processor_spark.session import get_spark

conf_dir = os.environ.get("SPARK_CONF_DIR")
path = jvm_archive.archive_path()
existed = os.path.isfile(path)
spark = get_spark(app_name="tps-jvm-archive-probe", shuffle_partitions=2)
out = {
    "existed": existed,
    "mapped": jvm_archive.is_mapped(jvm_archive.jvm_pid(spark), path),
    "kept": os.path.isfile(path),
    "rows": spark.range(5).count(),
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
    "probe_conf": spark.sparkContext.getConf().get("spark.tps.probe", None),
}
print(json.dumps(out))
"""


def _archive_run(xdg: Path, **env_extra: str) -> tuple[dict, str]:
    """One session in a fresh process with its cache under ``xdg``: the
    one stdout line it printed, and its stderr. The process has ended,
    so any training it did at exit is over."""
    env = dict(os.environ, XDG_CACHE_HOME=str(xdg), SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="2g", PYTHONPATH=REPO, **env_extra)
    proc = subprocess.run([sys.executable, "-c", _ARCHIVE_SCRIPT], capture_output=True,
                          text=True, timeout=900, cwd=REPO, env=env)
    assert proc.returncode == 0, f"session subprocess failed:\n{proc.stderr[-4000:]}"
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, f"stdout holds more than the result line: {proc.stdout[-2000:]}"
    out = json.loads(lines[0])
    assert out["rows"] == 5
    return out, proc.stderr


def _archive_of(xdg: Path, monkeypatch) -> Path:
    monkeypatch.setenv("XDG_CACHE_HOME", str(xdg))
    return Path(jvm_archive.archive_path())


@pytest.fixture(scope="module")
def trained(tmp_path_factory):
    """A cache that a missing archive's session filled at exit."""
    xdg = tmp_path_factory.mktemp("xdg")
    out, _ = _archive_run(xdg)
    return xdg, out


def test_missing_archive_starts_as_today_and_is_trained_at_exit(trained, monkeypatch):
    xdg, out = trained
    assert not out["existed"] and not out["mapped"]
    path = _archive_of(xdg, monkeypatch)
    assert path.is_file() and path.stat().st_size > 0
    # the training child's lock, scratch dir and partial file are gone
    assert sorted(p.name for p in path.parent.iterdir()) == sorted(
        ["conf", path.name, "train.log"])
    assert path.parent.stat().st_mode & 0o777 == 0o700


def test_valid_archive_is_mapped(trained):
    xdg, _ = trained
    out, _ = _archive_run(xdg)
    assert out["existed"] and out["mapped"] and out["kept"]


def test_garbage_archive_is_not_mapped_logged_and_deleted(tmp_path, monkeypatch):
    path = _archive_of(tmp_path, monkeypatch)
    path.parent.mkdir(parents=True)
    path.write_bytes(os.urandom(64 * 1024))
    out, err = _archive_run(tmp_path)
    assert out["existed"] and not out["mapped"] and not out["kept"]
    assert f"did not map class-data archive {path}" in err
    assert not path.exists()  # and no training at exit: the next miss trains


def test_conf_dir_with_a_real_file_uses_no_archive(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.tps.probe yes\n")
    (conf / "log4j2.properties.template").write_text("")
    out, _ = _archive_run(tmp_path / "xdg", SPARK_CONF_DIR=str(conf))
    assert not out["existed"] and not out["mapped"]
    assert out["conf_dir_kept"] and out["probe_conf"] == "yes"
    assert not _archive_of(tmp_path / "xdg", monkeypatch).exists()
