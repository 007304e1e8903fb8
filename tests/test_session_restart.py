"""A driver that stops its SparkSession and starts a new one must not
reuse state built for the old SparkContext.

Everything ``session_cached`` holds belongs to one application: the
first lookup under the new one drops every old entry, so the old
session's plans and UDFs become garbage. A relate UDF built under the
first context would keep that context's Python accumulator; used again
after a restart, the query still returns the right rows but every task
logs ``Failed to update accumulator ... Broken pipe``. The restart runs
in a subprocess so this suite's own session is left alone.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import gc
import json
import sys
import weakref

from tile_processor_spark.session import get_spark, session_cache_stats, stop_spark
from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.spatial.join import _relate_udf, region_relate_join

SF = sys.argv[1]
LOADER = "tile_processor_spark.sources.tables._read_table_cached"


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


def loader_counts():
    c = session_cache_stats().get(LOADER, {"hits": 0, "misses": 0})
    return c["hits"], c["misses"]


spark = get_spark(app_name="tps-restart-1", shuffle_partitions=2)
out = {"first": run(spark)}
old = [
    weakref.ref(load_table(spark, "region", SF)),
    weakref.ref(_relate_udf(spark, "212101212", True)),
]
del spark
stop_spark()
spark = get_spark(app_name="tps-restart-2", shuffle_partitions=2)
h0, m0 = loader_counts()
a = load_table(spark, "region", SF)
h1, m1 = loader_counts()
b = load_table(spark, "region", SF)
h2, m2 = loader_counts()
out["loads"] = [m1 - m0, h1 - h0, m2 - m1, h2 - h1, a is b]
out["second"] = run(spark)
gc.collect()
out["old_alive"] = [r() is not None for r in old]
print("RESTART_RESULT " + json.dumps(out))
stop_spark()
"""


def test_relate_join_after_session_restart():
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, SF_SMOKE],
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
    # [misses, hits] of the first load, then of the second: a miss under
    # the new application, then a hit on the same plan
    assert out["loads"] == [1, 0, 0, 1, True]
    # the old application's plan and UDF are no longer held by anything
    assert out["old_alive"] == [False, False]
    assert "Failed to update accumulator" not in proc.stderr, proc.stderr[-4000:]
