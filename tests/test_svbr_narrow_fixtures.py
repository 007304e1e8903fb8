"""Round-16 pin: spatial_version_boundary_region's narrowed fixtures.

The query's two inputs are FIXED dimension frames (100 rows each); at
the session-default parallelism every tiny stage — and the Arrow relate
batch — fans out to cluster width. The function coalesces both to 2
partitions (stage width pinned to the data, not the cluster). These
tests pin (a) that the narrowing is present in the physical plan and
(b) that it changes nothing observable: the coalesced formulation
returns exactly the rows of the un-coalesced one.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_plan_carries_fixture_coalesce(spark, tmp_path):
    from tile_processor_spark.plans.spatial_gate import (
        spatial_version_boundary_region,
    )

    # sf_dir is unused by this plan (both inputs are fixed literal
    # frames); pass a dummy path so the test carries no machine layout
    df = spatial_version_boundary_region(spark, str(tmp_path))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # BOTH fixture frames must stay narrowed: one Coalesce on the grid
    # side feeding the Arrow relate pass, one on the elev side before
    # the groupBy Exchange — a single surviving node is a regression
    assert plan.count("Coalesce") >= 2, plan


def test_narrowed_result_identical_to_wide(spark, tmp_path):
    from tile_processor_spark.plans.spatial_gate import (
        elevation_tiles,
        spatial_version_boundary_region,
        tile_grid,
    )
    from tile_processor_spark.spatial.join import region_relate_join

    # the pre-narrowing formulation, inline (no coalesce anywhere); the
    # border is a cross-version bbox self-join written here, so this
    # reference does not share the query's code
    elev = elevation_tiles(spark)
    a_, b_ = elev.alias("a"), elev.alias("b")
    border = a_.join(
        b_,
        (F.col("a.version") != F.col("b.version"))
        & (F.col("a.xmin") <= F.col("b.xmax"))
        & (F.col("b.xmin") <= F.col("a.xmax"))
        & (F.col("a.ymin") <= F.col("b.ymax"))
        & (F.col("b.ymin") <= F.col("a.ymax")),
    ).select(F.col("a.elev_id").alias("elev_id")).distinct()
    nb = elev.join(border, "elev_id", "left_anti")
    regions = nb.groupBy("version").agg(
        F.collect_list(F.array("xmin", "ymin", "xmax", "ymax")).alias("rects")
    )
    grid = tile_grid(spark).drop("geom")
    matched = region_relate_join(grid, regions, pattern="212101212", covers=True)
    wide = matched.groupBy("version").agg(
        F.array_join(F.array_sort(F.collect_list("tile_id")), ",").alias("tiles"),
        F.count(F.lit(1)).alias("n_tiles"),
    )

    # sf_dir unused by the plan (see above)
    narrow = spatial_version_boundary_region(spark, str(tmp_path))
    a = sorted(map(tuple, narrow.collect()))
    b = sorted(map(tuple, wide.collect()))
    assert a == b and len(a) > 0
