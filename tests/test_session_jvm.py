"""The local-mode driver JVM that ``get_spark`` launches.

It carries the engine's JIT policy (``session.LOCAL_JIT_OPTIONS``) even
when the caller passes its own ``spark.driver.extraJavaOptions``, as
perfbench does, and its heap is sized from the host when
``SPARK_GRAFT_DRIVER_MEM`` is unset. One fresh JVM in a subprocess
checks all three, since the test session's JVM is already running.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

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
                 "-Dtps.probe=1"):
        assert flag in out["args"], (flag, out["args"])
    assert out["tier4"] == "15000"

    gb = _host_driver_gb()
    assert out["driver_memory"] == f"{gb}g"
    assert out["max_heap"] <= gb * 1024**3
