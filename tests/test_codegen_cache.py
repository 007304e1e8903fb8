"""Repeating a plan reuses its generated classes.

Spark keeps whole-stage-codegen classes in a JVM-wide cache keyed by the
generated source. A repeat of a plan whose classes are still cached
compiles nothing; one that misses pays a Janino compile per class and
the JIT work on the fresh class. The engine sizes that cache to its
working set (``spark.sql.codegen.cache.maxEntries`` in ``ENGINE_CONF``)
and keeps the tile-selection path free of per-call generated names.
Both are checked here by counting compiles with Spark's
``CodegenMetrics`` across a second, identical run.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tile_processor_spark.pipeline.tiles import TileSet
from tile_processor_spark.plans.registry import all_specs


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_headline_repeat_compiles_nothing(spark):
    specs = all_specs()
    names = [n for n, s in specs.items() if "headline" in s.tags and "llm" not in s.tags]
    assert len(names) >= 15

    def run_all() -> dict[str, int]:
        """Compiles per query that compiled anything."""
        added = {}
        for name in names:
            before = _compiles(spark)
            specs[name].spark_fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
            added[name] = _compiles(spark) - before
        return {n: c for n, c in added.items() if c}

    run_all()
    # Rarely a repeat plans a variant no earlier run produced (once, 4
    # classes in about 15 runs of this test). A variant is compiled once
    # and then cached, so the run after it must compile nothing; with an
    # undersized cache every run recompiles most classes.
    second = run_all()
    if second:
        assert run_all() == {}, f"second run compiled {second}"


def test_with_list_repeat_compiles_nothing(spark):
    ts = TileSet(spark.range(20).selectExpr("concat('t', id) AS tile_id"))
    request = ["t3", "t7", "t7", "missing"]
    first = sorted(r.tile_id for r in ts.with_list(request).collect())
    before = _compiles(spark)
    second = sorted(r.tile_id for r in ts.with_list(request).collect())
    assert _compiles(spark) - before == 0
    assert first == second == ["t3", "t7", "t7"]
