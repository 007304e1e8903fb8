"""A driver that stops its SparkSession and starts a new one must not
reuse Python UDFs bound to the old SparkContext.

``spatial.join`` caches its DE-9IM relate UDF per session. A UDF built
under the first context keeps that context's Python accumulator; used
again after a restart, the query still returns the right rows but every
task logs ``Failed to update accumulator ... Broken pipe``. The restart
runs in a subprocess so this suite's own session is left alone.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json
from tile_processor_spark.session import get_spark, stop_spark
from tile_processor_spark.spatial.join import region_relate_join


def run(spark):
    tiles = spark.createDataFrame(
        [("in", 0.0, 0.0, 1.0, 1.0), ("out", 5.0, 5.0, 6.0, 6.0)],
        "tile_id string, xmin double, ymin double, xmax double, ymax double",
    )
    regions = spark.createDataFrame(
        [(1, [[0.0, 0.0, 2.0, 2.0]])], "version int, rects array<array<double>>"
    )
    return sorted(
        (r.version, r.tile_id)
        for r in region_relate_join(tiles, regions).select("version", "tile_id").collect()
    )


out = {"first": run(get_spark(app_name="tps-restart-1", shuffle_partitions=2))}
stop_spark()
out["second"] = run(get_spark(app_name="tps-restart-2", shuffle_partitions=2))
print("RESTART_RESULT " + json.dumps(out))
stop_spark()
"""


def test_relate_join_after_session_restart():
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
        env=env,
    )
    assert proc.returncode == 0, f"restart subprocess failed:\n{proc.stderr[-4000:]}"
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("RESTART_RESULT "))
    out = json.loads(line[len("RESTART_RESULT "):])
    assert out["first"] == [[1, "in"]]
    assert out["second"] == [[1, "in"]]
    assert "Failed to update accumulator" not in proc.stderr, proc.stderr[-4000:]
