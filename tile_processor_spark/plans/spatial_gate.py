"""Spatial correctness-gate queries.

The driver's oracle gate only ships relational tables, so geometry is
synthesized *deterministically* from them with integer arithmetic:

- **points**: one per ``customer`` row at
  ``x = (c_custkey*7919) % 1000 + 0.5``, ``y = (c_custkey*104729) % 1000
  + 0.5`` (the +0.5 keeps every point off all tile/extent boundaries),
  ``z = c_acctbal``;
- **tile grid**: 10×10 tiles of 100×100 over [0,1000)², ``tile_id =
  't<i>_<j>'`` — the reference's feature tile index
  (tile_index.bag_tiles, SURVEY §1.1);
- **elevation tiles**: 100 overlapping 120×120 rects at 100-step offsets,
  version 2 (west half) / 3 (east half) — tile_index.ahn_tiles;
- **extent**: a fixed convex pentagon — the GeoJSON extent polygon of
  ``DbTiles.read_extent`` (tileconfig.py:98-126).

The Spark side runs the engine's *real* machinery — WKB geometry, pandas
UDF predicates, grid-bucketed spatial joins — while the DuckDB oracle
verifies with plain arithmetic (floor division, half-plane tests,
interval overlap, unit-cell counting). Reference parity per query in the
docstrings.

Rows that check a user-facing rule call the one implementation of it, so
the oracle checks the code users run: the extent rows call
``pipeline.tiles.TileSet`` (``with_extent``, ``intersecting_extent``),
the version rows call ``AhnTileSet`` (``versions``, ``version_boundary``,
``version_not_boundary``; the elevation fixture's ``elev_id`` is its
``tile_id``), and the alpha-shape and TIN rows run the registered
``AlphaShape`` and ``TIN`` workers per tile group.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tile_processor_spark.pipeline.tiles import AhnTileSet, TileSet
from tile_processor_spark.pipeline.workers import get_worker
from tile_processor_spark.plans import _tin_oracle_values as _TIN_VALUES
from tile_processor_spark.plans.registry import register
from tile_processor_spark.plans.relational import dsum
from tile_processor_spark.session import session_cached
from tile_processor_spark.sources.tables import load_table
from tile_processor_spark.spatial import kernel, wkb
from tile_processor_spark.spatial.join import bbox_join, points_in_polygons
from tile_processor_spark.spatial.udfs import st_rect

# --- shared synthetic-geometry definitions (Spark + SQL must agree) -------

PENTAGON = np.array(
    [[150.0, 50.0], [850.0, 150.0], [900.0, 700.0], [500.0, 950.0], [100.0, 600.0]]
)  # CCW convex
PENTAGON_WKB = wkb.polygon_wkb([PENTAGON])

PTS_SQL = """
  SELECT c_custkey AS pk,
         (c_custkey*7919) % 1000 AS ix, (c_custkey*104729) % 1000 AS iy,
         (c_custkey*7919) % 1000 + 0.5 AS x, (c_custkey*104729) % 1000 + 0.5 AS y,
         c_acctbal AS z
  FROM customer
"""
GRID_SQL = """
  SELECT t1.i AS i, t2.j AS j, 't' || t1.i || '_' || t2.j AS tile_id
  FROM range(10) t1(i), range(10) t2(j)
"""
ELEV_SQL = """
  SELECT k AS elev_id, (k%10)*100 - 10 AS x0, (k//10)*100 - 10 AS y0,
         CASE WHEN k%10 < 5 THEN 2 ELSE 3 END AS version
  FROM range(100) t(k)
"""


def _halfplanes(px: str, py: str) -> str:
    """SQL: point strictly inside the CCW pentagon (all edge cross
    products > 0)."""
    conds = []
    n = len(PENTAGON)
    for a in range(n):
        x1, y1 = PENTAGON[a]
        x2, y2 = PENTAGON[(a + 1) % n]
        conds.append(
            f"(({x2}-{x1})*({py}-{y1}) - ({y2}-{y1})*({px}-{x1})) > 0"
        )
    return " AND ".join(conds)


def _halfplanes_closed(px: str, py: str) -> str:
    conds = []
    n = len(PENTAGON)
    for a in range(n):
        x1, y1 = PENTAGON[a]
        x2, y2 = PENTAGON[(a + 1) % n]
        conds.append(
            f"(({x2}-{x1})*({py}-{y1}) - ({y2}-{y1})*({px}-{x1})) >= 0"
        )
    return " AND ".join(conds)


def synthetic_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return c.select(
        F.col("c_custkey").alias("pk"),
        ((F.col("c_custkey") * 7919) % 1000 + 0.5).cast("double").alias("x"),
        ((F.col("c_custkey") * 104729) % 1000 + 0.5).cast("double").alias("y"),
        F.col("c_acctbal").alias("z"),
    )


# The fixture frames are session-cached constructed plans: they are pure literals, so re-running a builder per
# query invocation only re-pays py4j round trips and analyzer passes —
# measured ~40-80 ms per spatial query in the round-17 construction
# profile. NOT result caching: every action still computes the rows.


@session_cached
def tile_grid(spark: SparkSession) -> DataFrame:
    """10×10 tile index with real WKB geometry + bbox columns. Tiny and
    broadcastable — exactly the reference's tile-index table."""
    g = spark.range(100).select(
        (F.col("id") % 10).alias("i"),
        F.expr("id div 10").alias("j"),
    )
    g = g.select(
        "i",
        "j",
        F.concat(F.lit("t"), F.col("i").cast("string"), F.lit("_"), F.col("j").cast("string")).alias("tile_id"),
        (F.col("i") * 100).cast("double").alias("xmin"),
        (F.col("j") * 100).cast("double").alias("ymin"),
        (F.col("i") * 100 + 100).cast("double").alias("xmax"),
        (F.col("j") * 100 + 100).cast("double").alias("ymax"),
    )
    return g.withColumn("geom", st_rect("xmin", "ymin", "xmax", "ymax"))


@session_cached
def elevation_tiles(spark: SparkSession) -> DataFrame:
    return spark.range(100).select(
        F.col("id").alias("elev_id"),
        ((F.col("id") % 10) * 100 - 10).cast("double").alias("xmin"),
        (F.expr("id div 10") * 100 - 10).cast("double").alias("ymin"),
        ((F.col("id") % 10) * 100 + 110).cast("double").alias("xmax"),
        (F.expr("id div 10") * 100 + 110).cast("double").alias("ymax"),
        F.when(F.col("id") % 10 < 5, 2).otherwise(3).alias("version"),
    )


def _elevation_tileset(elev: DataFrame, **kw) -> AhnTileSet:
    """``AhnTileSet`` over an elevation fixture frame, its ``elev_id``
    as the index's ``tile_id``."""
    return AhnTileSet(elev.withColumnRenamed("elev_id", "tile_id"), **kw)


def _per_tile_worker(pts: DataFrame, worker_key: str, config: dict, schema: str) -> DataFrame:
    """The registered worker's output rows, one call per tile group."""
    fn = get_worker(worker_key)
    return pts.groupBy("tile_id").applyInPandas(
        lambda pdf: fn(str(pdf["tile_id"].iloc[0]), pdf, config), schema
    )


# --------------------------------------------------------------------------


@register(
    "spatial_point_in_tile_join",
    oracle=f"""
    WITH pts AS ({PTS_SQL})
    SELECT pk, 't' || (ix // 100) || '_' || (iy // 100) AS tile_id FROM pts
    """,
    doc=(
        "J1/J2 point-in-polygon tile assignment: grid-bucketed equi-join "
        "(cell 80, unaligned with the tile grid so polygons replicate) + "
        "bbox refine + exact ray-cast refine. Replaces the reference's "
        "per-tile N+1 match queries (tileconfig.py:600-678) with one "
        "set-based join."
    ),
    tags=("spatial", "join", "headline"),
)
def spatial_point_in_tile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = synthetic_points(spark, sf_dir)
    grid = tile_grid(spark)
    joined = points_in_polygons(pts, grid, cell_size=80.0, rects=True)
    return joined.select("pk", "tile_id")


@register(
    "spatial_within_extent",
    oracle=f"""
    WITH pts AS ({PTS_SQL})
    SELECT DISTINCT 't' || (ix // 100) || '_' || (iy // 100) AS tile_id
    FROM pts WHERE {_halfplanes('x', 'y')}
    """,
    doc=(
        "within_extent (tileconfig.py:128-194; test pins "
        "tests/test_tiles.py:144-166): DISTINCT tiles whose features lie "
        "ST_Within an extent polygon. Engine: TileSet.with_extent over the "
        "point-in-tile join — bbox prefilter → exact ray cast compiled "
        "from the pentagon literal → distinct."
    ),
    tags=("spatial", "filter", "headline"),
)
def spatial_within_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = tile_grid(spark)
    features = points_in_polygons(synthetic_points(spark, sf_dir), grid, cell_size=80.0, rects=True)
    return TileSet(grid).with_extent(features, PENTAGON_WKB)


@register(
    "spatial_tiles_intersecting_extent",
    oracle=f"""
    WITH grid AS ({GRID_SQL}),
    verts(vx, vy) AS (VALUES {", ".join(f"({x}, {y})" for x, y in PENTAGON)}),
    corners AS (
      SELECT g.tile_id, g.i*100 + d.dx*100 AS cx, g.j*100 + d.dy*100 AS cy
      FROM grid g, (VALUES (0,0),(1,0),(0,1),(1,1)) d(dx, dy)
    )
    SELECT tile_id FROM grid g
    WHERE EXISTS (SELECT 1 FROM verts v
                  WHERE v.vx BETWEEN g.i*100 AND g.i*100+100
                    AND v.vy BETWEEN g.j*100 AND g.j*100+100)
       OR EXISTS (SELECT 1 FROM corners c
                  WHERE c.tile_id = g.tile_id AND {_halfplanes_closed('c.cx', 'c.cy')})
    """,
    doc=(
        "P6/J4 boundary-mode selection (tileconfig.py:187-193): tiles whose "
        "polygon ST_Intersects the extent. Engine: "
        "TileSet.intersecting_extent — bbox prefilter → exact "
        "polygon×polygon kernel (vertex containment + segment crossing). "
        "Oracle: convex "
        "case decomposition — a pentagon vertex inside the tile OR a tile "
        "corner inside the pentagon (valid because the pentagon's edges "
        "are long relative to the 100-unit tiles)."
    ),
    tags=("spatial", "filter"),
)
def spatial_tiles_intersecting_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TileSet(tile_grid(spark)).intersecting_extent(PENTAGON_WKB)


@register(
    "spatial_dissolve_union_area",
    oracle=f"""
    WITH elev AS ({ELEV_SQL}),
    cells AS (
      SELECT DISTINCT version, x0 + ux.u AS cx, y0 + uy.u AS cy
      FROM elev, range(120) ux(u), range(120) uy(u)
    )
    SELECT version, CAST(COUNT(*) AS DOUBLE) AS area FROM cells GROUP BY version
    """,
    doc=(
        "A3 dissolve (ST_UnaryUnion(ST_Collect(geom)) GROUP BY version, "
        "tileconfig.py:565-586): union area of overlapping elevation tiles "
        "per version. Engine: spatial partial aggregation — rects exploded "
        "to disjoint 500-unit cells, clipped, exact sweepline union per "
        "cell (applyInPandas), then sum — the two-level pattern that keeps "
        "a 100 TB dissolve off a single task (SURVEY §7 risk register). "
        "Oracle: distinct covered unit cells (coords are integral)."
    ),
    tags=("spatial", "agg", "dissolve"),
)
def spatial_dissolve_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    cs = 500.0
    elev = elevation_tiles(spark)
    cellized = (
        elev.withColumn(
            "_cx", F.explode(F.sequence(F.floor(F.col("xmin") / cs), F.floor(F.col("xmax") / cs)))
        )
        .withColumn(
            "_cy", F.explode(F.sequence(F.floor(F.col("ymin") / cs), F.floor(F.col("ymax") / cs)))
        )
        .select(
            "version",
            "_cx",
            "_cy",
            F.greatest(F.col("xmin"), F.col("_cx") * cs).alias("cxmin"),
            F.greatest(F.col("ymin"), F.col("_cy") * cs).alias("cymin"),
            F.least(F.col("xmax"), (F.col("_cx") + 1) * cs).alias("cxmax"),
            F.least(F.col("ymax"), (F.col("_cy") + 1) * cs).alias("cymax"),
        )
    )

    def _cell_union(pdf: pd.DataFrame) -> pd.DataFrame:
        area = kernel.rect_union_area(
            pdf[["cxmin", "cymin", "cxmax", "cymax"]].to_numpy()
        )
        return pd.DataFrame({"version": [int(pdf["version"].iloc[0])], "area": [area]})

    partial = cellized.groupBy("version", "_cx", "_cy").applyInPandas(
        _cell_union, schema="version int, area double"
    )
    return partial.groupBy("version").agg(F.sum("area").alias("area"))


@register(
    "spatial_match_elevation_versions",
    oracle=f"""
    WITH grid AS ({GRID_SQL}), elev AS ({ELEV_SQL})
    SELECT tile_id,
           array_to_string(list_sort(array_agg(DISTINCT version)), ',') AS versions,
           COUNT(*) AS n_elev
    FROM grid g JOIN elev e
      ON g.i*100 <= e.x0 + 120 AND e.x0 <= g.i*100 + 100
     AND g.j*100 <= e.y0 + 120 AND e.y0 <= g.j*100 + 100
    GROUP BY tile_id
    """,
    doc=(
        "match_elevation_tile (J2/J3, tileconfig.py:600-678) + A4/A10 "
        "version aggregation: one set-based bbox-intersect join (grid "
        "bucketing, reporting-cell dedup) replacing the reference's "
        "per-tile loop; versions collected per feature tile."
    ),
    tags=("spatial", "join", "agg"),
)
def spatial_match_elevation_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = tile_grid(spark).drop("geom")
    elev = elevation_tiles(spark)
    matched = bbox_join(grid, elev, cell_size=250.0)
    return matched.groupBy("tile_id").agg(
        F.array_join(F.sort_array(F.collect_set("version")).cast("array<string>"), ",").alias("versions"),
        F.count(F.lit(1)).alias("n_elev"),
    )


@register(
    "spatial_version_not_boundary",
    oracle=f"""
    WITH grid AS ({GRID_SQL}), elev AS ({ELEV_SQL}),
    matched AS (
      SELECT tile_id, version
      FROM grid g JOIN elev e
        ON g.i*100 <= e.x0 + 120 AND e.x0 <= g.i*100 + 100
       AND g.j*100 <= e.y0 + 120 AND e.y0 <= g.j*100 + 100
    )
    SELECT tile_id, MIN(version) AS version FROM matched
    GROUP BY tile_id HAVING COUNT(DISTINCT version) = 1
    """,
    doc=(
        "version_not_boundary (J5 left-anti + dissolve region logic, "
        "tileconfig.py:565-598; pinned by tests/test_tiles.py:291-313): "
        "tiles touching exactly one AHN version. Engine: bbox join → "
        "boundary tiles (≥2 versions) → left_anti → per-tile version."
    ),
    tags=("spatial", "antijoin"),
)
def spatial_version_not_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = tile_grid(spark).drop("geom")
    elev = elevation_tiles(spark)
    matched = bbox_join(grid, elev, cell_size=250.0).select("tile_id", "version")
    boundary = (
        matched.groupBy("tile_id")
        .agg(F.count_distinct("version").alias("nv"))
        .filter(F.col("nv") >= 2)
        .select("tile_id")
    )
    return (
        matched.join(boundary, "tile_id", "left_anti")
        .groupBy("tile_id")
        .agg(F.min("version").alias("version"))
    )


# Shared SQL fragment: elevation tiles on the border of two AHN versions —
# derived as "intersects a tile of a different version" (the reference keeps
# this as a materialized companion table, tile_index.ahn_tiles_border).
BORDER_SQL = """
  SELECT DISTINCT a.elev_id
  FROM elev a JOIN elev b
    ON a.version <> b.version
   AND a.x0 <= b.x0 + 120 AND b.x0 <= a.x0 + 120
   AND a.y0 <= b.y0 + 120 AND b.y0 <= a.y0 + 120
"""


@register(
    "spatial_versions",
    oracle=f"""
    WITH elev AS ({ELEV_SQL})
    SELECT DISTINCT version FROM elev
    """,
    doc=(
        "versions() (A2, tileconfig.py:500-523): DISTINCT AHN versions in "
        "the elevation tile index, through AhnTileSet.versions()."
    ),
    tags=("spatial", "projection"),
)
def spatial_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _elevation_tileset(elevation_tiles(spark)).versions()


@register(
    "spatial_version_boundary",
    oracle=f"""
    WITH elev AS ({ELEV_SQL})
    {BORDER_SQL}
    """,
    doc=(
        "version_boundary() (tileconfig.py:524-541; pinned by reference "
        "tests/test_tiles.py:274-289): elevation tiles on the boundary of "
        "two AHN versions. The reference reads a precomputed borders "
        "table; AhnTileSet.version_boundary() derives it with a "
        "cross-version self bbox-join — broadcast, predicate-only, "
        "codegen-friendly."
    ),
    tags=("spatial", "join"),
)
def spatial_version_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    boundary = _elevation_tileset(elevation_tiles(spark)).version_boundary()
    return boundary.withColumnRenamed("tile_id", "elev_id")


@register(
    "spatial_version_boundary_region",
    oracle=f"""
    WITH grid AS ({GRID_SQL}), elev AS ({ELEV_SQL}),
    border AS ({BORDER_SQL}),
    nb AS (SELECT * FROM elev WHERE elev_id NOT IN (SELECT elev_id FROM border)),
    cells AS (
      SELECT DISTINCT version, x0 + ux.u AS cx, y0 + uy.u AS cy
      FROM nb, range(120) ux(u), range(120) uy(u)
    ),
    nreg AS (SELECT version, COUNT(*) AS n_region FROM cells GROUP BY version),
    vb AS (
      SELECT c.version, c.cx AS x, c.cy AS y
      FROM cells c LEFT JOIN cells n
        ON n.version = c.version AND n.cx = c.cx - 1 AND n.cy = c.cy
      WHERE n.cx IS NULL
      UNION ALL
      SELECT c.version, c.cx + 1, c.cy
      FROM cells c LEFT JOIN cells n
        ON n.version = c.version AND n.cx = c.cx + 1 AND n.cy = c.cy
      WHERE n.cx IS NULL
    ),
    hb AS (
      SELECT c.version, c.cx AS x, c.cy AS y
      FROM cells c LEFT JOIN cells n
        ON n.version = c.version AND n.cx = c.cx AND n.cy = c.cy - 1
      WHERE n.cy IS NULL
      UNION ALL
      SELECT c.version, c.cx, c.cy + 1
      FROM cells c LEFT JOIN cells n
        ON n.version = c.version AND n.cx = c.cx AND n.cy = c.cy + 1
      WHERE n.cy IS NULL
    ),
    nbedge AS (
      SELECT version, COUNT(*) AS n_bedges FROM (
        SELECT version, x, y FROM vb UNION ALL SELECT version, x, y FROM hb
      ) GROUP BY version
    ),
    bverts AS (
      SELECT DISTINCT version, x, y FROM (
        SELECT version, x, y FROM vb UNION ALL SELECT version, x, y + 1 FROM vb
        UNION ALL
        SELECT version, x, y FROM hb UNION ALL SELECT version, x + 1, y FROM hb
      )
    ),
    pairs AS (
      SELECT g.tile_id, g.i*100 AS tx0, g.j*100 AS ty0, v.version
      FROM grid g, (SELECT DISTINCT version FROM nb) v(version)
    ),
    perim_v AS (
      SELECT p.tile_id, p.version, p.tx0 + d.dx AS x, p.ty0 + r.u AS y
      FROM pairs p, (VALUES (0), (100)) d(dx), range(100) r(u)
    ),
    perim_h AS (
      SELECT p.tile_id, p.version, p.tx0 + r.u AS x, p.ty0 + d.dy AS y
      FROM pairs p, (VALUES (0), (100)) d(dy), range(100) r(u)
    ),
    f_in AS (
      SELECT p.tile_id, p.version, COUNT(c.cx) AS n_in
      FROM pairs p LEFT JOIN cells c
        ON c.version = p.version
       AND c.cx >= p.tx0 AND c.cx < p.tx0 + 100
       AND c.cy >= p.ty0 AND c.cy < p.ty0 + 100
      GROUP BY p.tile_id, p.version
    ),
    f_ib AS (
      SELECT q.tile_id, q.version, COUNT(*) > 0 AS ib FROM (
        SELECT pv.tile_id, pv.version FROM perim_v pv
        JOIN cells c1 ON c1.version = pv.version AND c1.cx = pv.x - 1 AND c1.cy = pv.y
        JOIN cells c2 ON c2.version = pv.version AND c2.cx = pv.x AND c2.cy = pv.y
        UNION ALL
        SELECT ph.tile_id, ph.version FROM perim_h ph
        JOIN cells c1 ON c1.version = ph.version AND c1.cx = ph.x AND c1.cy = ph.y - 1
        JOIN cells c2 ON c2.version = ph.version AND c2.cx = ph.x AND c2.cy = ph.y
      ) q GROUP BY 1, 2
    ),
    f_eb AS (
      SELECT q.tile_id, q.version, COUNT(*) > 0 AS eb FROM (
        SELECT pv.tile_id, pv.version FROM perim_v pv
        WHERE NOT EXISTS (SELECT 1 FROM cells c
                          WHERE c.version = pv.version AND c.cx = pv.x - 1 AND c.cy = pv.y)
          AND NOT EXISTS (SELECT 1 FROM cells c
                          WHERE c.version = pv.version AND c.cx = pv.x AND c.cy = pv.y)
        UNION ALL
        SELECT ph.tile_id, ph.version FROM perim_h ph
        WHERE NOT EXISTS (SELECT 1 FROM cells c
                          WHERE c.version = ph.version AND c.cx = ph.x AND c.cy = ph.y - 1)
          AND NOT EXISTS (SELECT 1 FROM cells c
                          WHERE c.version = ph.version AND c.cx = ph.x AND c.cy = ph.y)
      ) q GROUP BY 1, 2
    ),
    f_bb1 AS (
      SELECT q.tile_id, q.version, COUNT(*) > 0 AS bb1 FROM (
        SELECT pv.tile_id, pv.version FROM perim_v pv
        JOIN vb ON vb.version = pv.version AND vb.x = pv.x AND vb.y = pv.y
        UNION ALL
        SELECT ph.tile_id, ph.version FROM perim_h ph
        JOIN hb ON hb.version = ph.version AND hb.x = ph.x AND hb.y = ph.y
      ) q GROUP BY 1, 2
    ),
    f_bb0 AS (
      SELECT p.tile_id, p.version, COUNT(*) > 0 AS bb0
      FROM pairs p JOIN bverts v ON v.version = p.version
       AND ( (v.x IN (p.tx0, p.tx0 + 100) AND v.y BETWEEN p.ty0 AND p.ty0 + 100)
          OR (v.y IN (p.ty0, p.ty0 + 100) AND v.x BETWEEN p.tx0 AND p.tx0 + 100) )
      GROUP BY 1, 2
    ),
    f_bi AS (
      SELECT q.tile_id, q.version, COUNT(*) > 0 AS bi FROM (
        SELECT p.tile_id, p.version FROM pairs p JOIN vb
          ON vb.version = p.version AND vb.x > p.tx0 AND vb.x < p.tx0 + 100
         AND vb.y >= p.ty0 AND vb.y + 1 <= p.ty0 + 100
        UNION ALL
        SELECT p.tile_id, p.version FROM pairs p JOIN hb
          ON hb.version = p.version AND hb.y > p.ty0 AND hb.y < p.ty0 + 100
         AND hb.x >= p.tx0 AND hb.x + 1 <= p.tx0 + 100
      ) q GROUP BY 1, 2
    ),
    f_bin AS (
      SELECT q.tile_id, q.version, COUNT(*) AS n_bin FROM (
        SELECT p.tile_id, p.version FROM pairs p JOIN vb
          ON vb.version = p.version AND vb.x BETWEEN p.tx0 AND p.tx0 + 100
         AND vb.y >= p.ty0 AND vb.y + 1 <= p.ty0 + 100
        UNION ALL
        SELECT p.tile_id, p.version FROM pairs p JOIN hb
          ON hb.version = p.version AND hb.y BETWEEN p.ty0 AND p.ty0 + 100
         AND hb.x >= p.tx0 AND hb.x + 1 <= p.tx0 + 100
      ) q GROUP BY 1, 2
    ),
    flags AS (
      SELECT p.tile_id, p.version,
             COALESCE(fi.n_in, 0) AS n_in,
             nr.n_region, nbe.n_bedges,
             COALESCE(ib.ib, FALSE) AS ib,
             COALESCE(bi.bi, FALSE) AS bi,
             COALESCE(b1.bb1, FALSE) AS bb1,
             COALESCE(b0.bb0, FALSE) AS bb0,
             COALESCE(bn.n_bin, 0) AS n_bin,
             COALESCE(eb.eb, FALSE) AS eb
      FROM pairs p
      LEFT JOIN f_in fi USING (tile_id, version)
      JOIN nreg nr USING (version)
      JOIN nbedge nbe USING (version)
      LEFT JOIN f_ib ib USING (tile_id, version)
      LEFT JOIN f_bi bi USING (tile_id, version)
      LEFT JOIN f_bb1 b1 USING (tile_id, version)
      LEFT JOIN f_bb0 b0 USING (tile_id, version)
      LEFT JOIN f_bin bn USING (tile_id, version)
      LEFT JOIN f_eb eb USING (tile_id, version)
    ),
    matched AS (
      SELECT tile_id, version FROM flags
      WHERE n_in = 10000  -- ST_Covers: every unit cell of the tile covered
         OR (n_in > 0                       -- II = 2
             AND ib                         -- IB = 1
             AND n_region > n_in            -- IE = 2
             AND bi                         -- BI = 1
             AND NOT bb1 AND bb0            -- BB = 0
             AND n_bedges > n_bin           -- BE = 1
             AND n_in < 10000               -- EI = 2
             AND eb)                        -- EB = 1
    )
    SELECT version,
           array_to_string(list_sort(array_agg(tile_id)), ',') AS tiles,
           COUNT(*) AS n_tiles
    FROM matched GROUP BY version
    """,
    doc=(
        "version_not_boundary the reference's way (J6+A3+A4, "
        "tileconfig.py:565-598; pinned by tests/test_tiles.py:291-313): "
        "dissolve non-border elevation tiles per AHN version, then join "
        "feature tiles on ST_Relate(region, tile, '212101212') OR "
        "ST_Covers(region, tile), array_agg per version. Engine: "
        "AhnTileSet.version_not_boundary — real DE-9IM kernel "
        "(kernel.rect_union_de9im — the dissolve is implicit in the covered-cell model, never materialized) applied "
        "via Arrow-batched pandas UDF over a broadcast per-version rect "
        "list. Oracle: exact unit-cell/unit-edge DE-9IM reconstruction "
        "(integer coordinates make every matrix entry a finite check)."
    ),
    tags=("spatial", "join", "relate", "headline"),
)
def spatial_version_boundary_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both inputs are FIXED dimension frames (100 rows each, forever):
    # left at the session default they fan every tiny stage — and the
    # Arrow relate batch — out to cluster width (32 tasks of ~3 rows
    # locally; thousands on a real cluster). coalesce(2) pins the stage
    # width to the data, not the cluster (guide §2.2 fewer-larger tasks,
    # §4.2 fewer-larger Arrow batches): interleaved A/B measured
    # 0.534 → 0.399 s min-of-5 (−25%), identical rows. Not a local
    # tuning knob — a 100-row frame never warrants wide fan-out.
    elev = elevation_tiles(spark).coalesce(2)
    grid = tile_grid(spark).drop("geom").coalesce(2)
    matched = _elevation_tileset(elev, feature_index=grid).version_not_boundary()
    return matched.groupBy("version").agg(
        F.array_join(F.array_sort(F.collect_list("tile_id")), ",").alias("tiles"),
        F.count(F.lit(1)).alias("n_tiles"),
    )


@register(
    "spatial_percentile_heights",
    oracle=f"""
    WITH pts AS ({PTS_SQL})
    SELECT 't' || (ix // 100) || '_' || (iy // 100) AS tile_id,
           quantile_cont(z, 0.95) AS roof_h,
           quantile_cont(z, 0.10) AS ground_h,
           COUNT(*) AS n_points
    FROM pts GROUP BY 1
    """,
    doc=(
        "Delegated per-tile semantics (SURVEY §2.11 row 1; worker.py:158-164): "
        "roof = 95th / ground = 10th percentile of point heights per "
        "footprint. Engine: point-in-polygon join then exact interpolated "
        "percentile (bit-identical to quantile_cont)."
    ),
    tags=("spatial", "agg", "percentile", "headline"),
)
def spatial_percentile_heights(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = synthetic_points(spark, sf_dir)
    grid = tile_grid(spark)
    joined = points_in_polygons(pts, grid, cell_size=80.0, rects=True)
    return joined.groupBy("tile_id").agg(
        F.expr("percentile(z, 0.95)").alias("roof_h"),
        F.expr("percentile(z, 0.10)").alias("ground_h"),
        F.count(F.lit(1)).alias("n_points"),
    )


def spatial_percentile_heights_approx(
    spark: SparkSession, sf_dir: str, accuracy: int = 10_000
) -> DataFrame:
    """The 100×-scale twin of ``spatial_percentile_heights``: identical
    join and grouping, but ``percentile_approx`` (Greenwald-Khanna, fixed
    per-group state of O(accuracy) regardless of points-per-tile) instead
    of exact ``percentile`` (which buffers every z value of a tile in the
    aggregation buffer — fine at gate scale, a per-group memory scaling
    hazard at 100× points per tile). The exact row stays the gate/oracle
    semantic (reference worker.py:158-164); this variant is what you run
    when tiles carry millions of points. Equivalence vs the exact row
    is pinned by tests/test_percentile_approx_twin.py as a ±1-order-
    statistic RANK bound (GK returns an actual order statistic; exact
    ``percentile`` interpolates between the bracketing pair, so an
    absolute-delta compare would be wrong for small tiles). The
    registered gate row below externalizes the same rank bound to the
    DuckDB oracle; docs/SCALE.md notes which variant to run at scale."""
    pts = synthetic_points(spark, sf_dir)
    grid = tile_grid(spark)
    joined = points_in_polygons(pts, grid, cell_size=80.0, rects=True)
    return joined.groupBy("tile_id").agg(
        F.percentile_approx("z", 0.95, accuracy).alias("roof_h"),
        F.percentile_approx("z", 0.10, accuracy).alias("ground_h"),
        F.count(F.lit(1)).alias("n_points"),
    )


@register(
    "spatial_percentile_heights_approx",
    oracle=f"""
    WITH pts AS ({PTS_SQL})
    SELECT 't' || (ix // 100) || '_' || (iy // 100) AS tile_id,
           COUNT(*) AS n_points,
           TRUE AS roof_rank_ok, TRUE AS ground_rank_ok, TRUE AS ordered_ok
    FROM pts GROUP BY 1
    """,
    doc=(
        "Gate row for the 100×-scale percentile twin: runs the REAL "
        "percentile_approx (Greenwald-Khanna) plan of "
        "spatial_percentile_heights_approx, then verifies per tile that "
        "each approx value lands inside the ±1-order-statistic rank "
        "envelope of its quantile (the approx value is an actual data "
        "value, so it is not SQL-reproducible bit-for-bit — the rank "
        "PROPERTY is what the oracle pins, as TRUE per tile, plus the "
        "exact tile set and point counts). Call "
        "spatial_percentile_heights_approx() directly for the values; "
        "the exact row keeps the reference semantic (worker.py:158-164). "
        "Rank envelope also pinned Spark-vs-driver-side by "
        "tests/test_percentile_approx_twin.py."
    ),
    tags=("spatial", "agg", "percentile", "approx"),
)
def spatial_percentile_heights_approx_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    approx = spatial_percentile_heights_approx(spark, sf_dir)
    pts = points_in_polygons(
        synthetic_points(spark, sf_dir), tile_grid(spark), cell_size=80.0, rects=True
    ).select("tile_id", "z")
    # Per-tile rank envelope: the order statistics one below / one above
    # the interpolation bracket of each target quantile. The window is
    # PARTITIONED by tile_id (bounded rows per tile), so this verifier
    # is itself scale-shaped.
    rn = F.row_number().over(W.partitionBy("tile_id").orderBy("z"))
    n = F.count(F.lit(1)).over(W.partitionBy("tile_id"))
    ranked = pts.select("tile_id", "z", rn.alias("rn"), n.alias("n"))

    def _env(p: float, lo_name: str, hi_name: str) -> list:
        r = F.lit(p) * (F.col("n") - 1)
        lo_i = F.greatest(F.floor(r) - 1, F.lit(0)) + 1  # 1-based
        hi_i = F.least(F.ceil(r) + 1, F.col("n") - 1) + 1
        return [
            F.min(F.when(F.col("rn") == lo_i, F.col("z"))).alias(lo_name),
            F.min(F.when(F.col("rn") == hi_i, F.col("z"))).alias(hi_name),
        ]

    bounds = ranked.groupBy("tile_id").agg(
        *_env(0.95, "roof_lo", "roof_hi"), *_env(0.10, "ground_lo", "ground_hi")
    )
    return approx.join(bounds, "tile_id").select(
        "tile_id",
        "n_points",
        ((F.col("roof_h") >= F.col("roof_lo")) & (F.col("roof_h") <= F.col("roof_hi"))).alias("roof_rank_ok"),
        ((F.col("ground_h") >= F.col("ground_lo")) & (F.col("ground_h") <= F.col("ground_hi"))).alias("ground_rank_ok"),
        (F.col("roof_h") >= F.col("ground_h")).alias("ordered_ok"),
    )


@register(
    "spatial_rasterize",
    oracle=f"""
    WITH pts AS ({PTS_SQL})
    SELECT ix // 50 AS cell_x, iy // 50 AS cell_y,
           COUNT(*) AS n_points,
           CAST(SUM(CAST(z AS DECIMAL(18,4))) AS DOUBLE) AS sum_z
    FROM pts GROUP BY 1, 2
    """,
    doc=(
        "PCRasterise (worker.py:561-584): snap points to a 50-unit raster "
        "grid, aggregate per cell — pure map-side bucket + one hash agg."
    ),
    tags=("spatial", "agg", "raster"),
)
def spatial_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = synthetic_points(spark, sf_dir)
    return (
        pts.groupBy(
            F.floor(F.col("x") / 50).alias("cell_x"),
            F.floor(F.col("y") / 50).alias("cell_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"), dsum(F.col("z"), "sum_z"))
    )


@register(
    "tile_file_index",
    oracle=f"""
    WITH grid AS ({GRID_SQL}),
    files AS (
      SELECT '/data/ahn_a/C_T' || i || '_' || j || '.LAZ' AS path, 1 AS priority, tile_id
      FROM grid WHERE (i*10 + j) % 3 != 0
      UNION ALL
      SELECT '/data/ahn_b/c_t' || i || '_' || j || '.laz', 1, tile_id
      FROM grid WHERE (i*10 + j) % 4 != 0
      UNION ALL
      SELECT '/data/ahn_c/C_t' || i || '_' || j || '.LaZ', 2, tile_id
      FROM grid
    ),
    extracted AS (
      SELECT regexp_extract(lower(path), 'c_(t[0-9]+_[0-9]+)\\.laz', 1) AS tile_id,
             path, priority,
             RANK() OVER (PARTITION BY regexp_extract(lower(path), 'c_(t[0-9]+_[0-9]+)\\.laz', 1)
                          ORDER BY priority) AS rk
      FROM files
    )
    SELECT tile_id, COUNT(*) AS n_files,
           array_to_string(list_sort(array_agg(path)), ';') AS paths,
           MIN(priority) AS best_priority
    FROM extracted WHERE rk = 1 GROUP BY tile_id
    """,
    doc=(
        "S5 elevation file index (tileconfig.py:395-499; pinned by "
        "tests/test_tiles.py:477-482): filename → tile-ID via "
        "case-insensitive regex (P10/F1/F2), multi-directory merge (§2.7), "
        "priority dedup keeping ties — RANK not ROW_NUMBER "
        "(tileconfig.py:464-497). Engine runs the same plan on a "
        "DataFrame of paths; at scale the listing comes from the "
        "binaryFile source, here synthesized deterministically."
    ),
    tags=("spatial", "source", "window"),
)
def tile_file_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = tile_grid(spark).select("i", "j", "tile_id")
    k = F.col("i") * 10 + F.col("j")
    istr = F.col("i").cast("string")
    jstr = F.col("j").cast("string")
    d1 = grid.filter(k % 3 != 0).select(
        F.concat(F.lit("/data/ahn_a/C_T"), istr, F.lit("_"), jstr, F.lit(".LAZ")).alias("path"),
        F.lit(1).alias("priority"),
    )
    d2 = grid.filter(k % 4 != 0).select(
        F.concat(F.lit("/data/ahn_b/c_t"), istr, F.lit("_"), jstr, F.lit(".laz")).alias("path"),
        F.lit(1).alias("priority"),
    )
    d3 = grid.select(
        F.concat(F.lit("/data/ahn_c/C_t"), istr, F.lit("_"), jstr, F.lit(".LaZ")).alias("path"),
        F.lit(2).alias("priority"),
    )
    files = d1.unionByName(d2).unionByName(d3)
    extracted = files.withColumn(
        "tile_id", F.regexp_extract(F.lower(F.col("path")), r"c_(t[0-9]+_[0-9]+)\.laz", 1)
    )
    w = W.partitionBy("tile_id").orderBy("priority")
    kept = extracted.withColumn("rk", F.rank().over(w)).filter(F.col("rk") == 1)
    return kept.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.array_join(F.sort_array(F.collect_list("path")), ";").alias("paths"),
        F.min("priority").alias("best_priority"),
    )


@register(
    "spatial_alpha_shape",
    # Delaunay construction is not SQL-expressible, but the per-tile stats
    # are a deterministic pure function of the sf0.01 custkey set (Delaunay
    # uniqueness; cocircular flips cannot change area/boundary stats), so a
    # literal-VALUES frame is a value-level REGRESSION pin. Unlike the
    # independently-derived DuckDB oracles, this one is SELF-GENERATED
    # (tools/gen_tin_oracles.py runs the engine and pins its output) — the
    # independent checks on the kernel itself live in tests/test_tin.py
    # (exact unit-cell oracle) and tests/test_tin_properties.py.
    # tests/test_tin.py::test_alpha_gate_frame_is_nondegenerate guards the
    # pin against going vacuous (the bare modular-line points produced
    # all-collinear slivers → r²=inf → an all-zero frame any kernel passes).
    # Regenerate with tools/gen_tin_oracles.py after a testdata refresh.
    oracle=_TIN_VALUES.SPATIAL_ALPHA_SHAPE_ORACLE,
    doc=(
        "AlphaShapeWorker (reference worker.py:587-610, delegated to a "
        "PostGIS ST_AlphaShape helper): per-tile alpha shape over the "
        "synthetic points — circumradius-filtered Delaunay triangles, "
        "exact area/perimeter/boundary-edge stats. Engine: arithmetic "
        "tile assignment (stays in codegen) → applyInPandas over tile "
        "groups → the registered AlphaShape worker (numpy Bowyer-Watson "
        "kernel, spatial/tin.py). Per-tile "
        "parallelism is the scale model, exactly like the reference's "
        "per-tile worker fan-out."
    ),
    tags=("spatial", "tin", "worker"),
)
def spatial_alpha_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthetic_points puts every point on ONE modular line
    # (y ≡ α·x mod 1000) — fine for bbox/containment queries, but all
    # Delaunay triangles over it are collinear slivers (r² = inf), which
    # made the alpha frame identically zero for any r_max. A query-local
    # NONLINEAR jitter (quadratic/cubic in custkey, still a pure function
    # of the custkey set) breaks the collinearity; at r_max=25, all 100
    # tiles keep triangles and 99 also drop some, so the circumradius
    # filter, area, and boundary paths are all genuinely exercised.
    pts = (
        synthetic_points(spark, sf_dir)
        # pk is pre-reduced mod the prime before squaring/cubing —
        # identical residues by modular arithmetic, but no int64
        # overflow however large custkey grows with SF.
        .withColumn("_r89", F.col("pk") % 89)
        .withColumn("_r97", F.col("pk") % 97)
        .withColumn(
            "x",
            (F.col("x") + ((F.col("_r89") * F.col("_r89")) % 89).cast("double") / 89.0 * 60.0 - 30.0 + 1000.0) % 1000.0,
        )
        .withColumn(
            "y",
            (F.col("y") + ((F.col("_r97") * F.col("_r97") * F.col("_r97")) % 97).cast("double") / 97.0 * 60.0 - 30.0 + 1000.0) % 1000.0,
        )
        .withColumn(
            "tile_id",
            F.concat(
                F.lit("t"), F.floor(F.col("x") / 100).cast("string"),
                F.lit("_"), F.floor(F.col("y") / 100).cast("string"),
            ),
        )
    )
    return _per_tile_worker(
        pts,
        "AlphaShape",
        {"r_max": 25.0},
        "tile_id string, n_triangles long, area double, n_boundary_edges long, perimeter double",
    )


@register(
    "spatial_tin_simplify",
    # Greedy TIN insertion is not SQL-expressible, but with z derived from
    # the custkey (see below) the per-tile result is a deterministic pure
    # function of the sf0.01 custkey set — pinned as a literal-VALUES
    # frame. Regenerate with tools/gen_tin_oracles.py after a refresh.
    oracle=_TIN_VALUES.SPATIAL_TIN_SIMPLIFY_ORACLE,
    doc=(
        "Terrain TIN with simplification threshold (3dfier TIN lifting + "
        "simplification_tinsimp, reference worker.py:288-293): per tile, "
        "greedy-insertion TIN over (x, y, z=acctbal) until max vertical "
        "error ≤ 5.0; reports selected-vertex count, achieved error, "
        "triangle count. Engine: the registered TIN worker in the same "
        "per-tile applyInPandas fan-out as every worker (spatial/tin.py "
        "kernel, pinned by tests/test_tin.py)."
    ),
    tags=("spatial", "tin", "worker"),
)
def spatial_tin_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # z is custkey-derived (not acctbal): the literal-VALUES oracle is then
    # a pure function of the custkey set, immune to value-column refreshes
    # of the testdata (the driver regenerated events in round 3; this keeps
    # the pin valid across the same kind of refresh for customer).
    pts = (
        synthetic_points(spark, sf_dir)
        .withColumn("z", ((F.col("pk") * 31) % 97).cast("double"))
        .withColumn(
            "tile_id",
            F.concat(
                F.lit("t"), F.floor(F.col("x") / 100).cast("string"),
                F.lit("_"), F.floor(F.col("y") / 100).cast("string"),
            ),
        )
    )
    return _per_tile_worker(
        pts,
        "TIN",
        {"max_error": 5.0, "max_points": 60},
        "tile_id string, n_selected long, max_error double, n_triangles long",
    )


@register(
    "spatial_las_class_mapping",
    oracle=f"""
    WITH grid AS ({GRID_SQL}), elev AS ({ELEV_SQL}),
    matched AS (
      SELECT tile_id, version
      FROM grid g JOIN elev e
        ON g.i*100 <= e.x0 + 120 AND e.x0 <= g.i*100 + 100
       AND g.j*100 <= e.y0 + 120 AND e.y0 <= g.j*100 + 100
    ),
    vsets AS (
      SELECT tile_id, array_to_string(list_sort(array_agg(DISTINCT version)), ',') AS vs
      FROM matched GROUP BY tile_id
    )
    SELECT tile_id,
           CASE vs WHEN '2' THEN '1' WHEN '3' THEN '6' WHEN '2,3' THEN '1,6' END AS las_classes
    FROM vsets
    """,
    doc=(
        "A10 (worker.py:115,139-147): AHN-version set → LAS point-class "
        "selection — {2}→[1] (AHN2 unclassified), {3}→[6] (AHN3 "
        "building), {2,3}→[1,6] on version-boundary tiles. collect_set + "
        "when/otherwise over the elevation match join."
    ),
    tags=("spatial", "agg", "mapping"),
)
def spatial_las_class_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = tile_grid(spark).drop("geom")
    elev = elevation_tiles(spark)
    matched = bbox_join(grid, elev, cell_size=250.0).select("tile_id", "version")
    vs = matched.groupBy("tile_id").agg(
        F.array_join(F.sort_array(F.collect_set("version")).cast("array<string>"), ",").alias("vs")
    )
    las = (
        F.when(F.col("vs") == "2", "1")
        .when(F.col("vs") == "3", "6")
        .when(F.col("vs") == "2,3", "1,6")
    )
    return vs.select("tile_id", las.alias("las_classes"))


@register(
    "spatial_zorder_keys",
    oracle=f"""
    WITH pts AS ({PTS_SQL})
    SELECT pk, CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy,
           CAST(list_sum(list_transform(range(0, 10),
             b -> ((ix // CAST(pow(2, b) AS BIGINT)) % 2)
                    * CAST(pow(2, 2*b) AS BIGINT)
                + ((iy // CAST(pow(2, b) AS BIGINT)) % 2)
                    * CAST(pow(2, 2*b+1) AS BIGINT))) AS BIGINT) AS zkey
    FROM pts
    """,
    doc=(
        "Z-order (Morton) layout keys for the point set "
        "(sources/layout.py): bit-interleaved quantized coordinates - "
        "the lakehouse OPTIMIZE ZORDER BY technique that makes bbox "
        "scans prune whole parquet files by min/max stats at 100 TB. "
        "Pure integer column algebra, mirrored exactly by the oracle."
    ),
    tags=("spatial", "layout"),
)
def spatial_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.sources.layout import zorder_key

    c = load_table(spark, "customer", sf_dir)
    ix = ((F.col("c_custkey") * 7919) % 1000).cast("long")
    iy = ((F.col("c_custkey") * 104729) % 1000).cast("long")
    return c.select(
        F.col("c_custkey").alias("pk"),
        ix.alias("ix"),
        iy.alias("iy"),
        zorder_key(ix, iy).alias("zkey"),
    )


KNN_K = 3


@register(
    "spatial_knn_tile_center",
    oracle=f"""
    WITH pts AS ({PTS_SQL}), grid AS ({GRID_SQL}),
    centers AS (
      SELECT tile_id, i*100 + 50.0 AS cx, j*100 + 50.0 AS cy FROM grid
    ),
    scored AS (
      SELECT p.pk, c.tile_id,
             (p.x - c.cx)*(p.x - c.cx) + (p.y - c.cy)*(p.y - c.cy) AS d2
      FROM pts p CROSS JOIN centers c
    )
    SELECT pk, tile_id, d2, rk FROM (
      SELECT pk, tile_id, d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY pk ORDER BY d2, tile_id)
                  AS BIGINT) AS rk
      FROM scored
    ) WHERE rk <= {KNN_K}
    """,
    doc=(
        "KNN join: each point's k=3 nearest tile centers — the spatial "
        "join family member the within/intersects predicates don't "
        "cover (NN tile assignment, fallback routing for points outside "
        "every polygon). Distances are exact in double (half-integer "
        "coordinates), ties break on tile_id, so ranking is engine-"
        "independent. The center table is dimension-sized → broadcast + "
        "per-point top-k; at a 100-TB point volume the same query runs "
        "grid-pruned (candidate cells from the point's cell "
        "neighborhood, spatial/join.py bbox machinery) instead of "
        "all-centers — the broadcast variant is exact and is the oracle "
        "shape."
    ),
    tags=("spatial", "join", "knn"),
)
def spatial_knn_tile_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = synthetic_points(spark, sf_dir)
    centers = tile_grid(spark).select(
        "tile_id",
        (F.col("i") * 100 + 50.0).alias("cx"),
        (F.col("j") * 100 + 50.0).alias("cy"),
    )
    scored = pts.crossJoin(F.broadcast(centers)).select(
        "pk",
        "tile_id",
        (
            (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
            + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy"))
        ).alias("d2"),
    )
    w = W.partitionBy("pk").orderBy("d2", "tile_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= KNN_K)
    )


@register(
    "spatial_raster_smooth",
    oracle=f"""
    WITH pts AS ({PTS_SQL}),
    occupied AS (
      SELECT ix // 50 AS cell_x, iy // 50 AS cell_y,
             CAST(COUNT(*) AS BIGINT) AS n_points
      FROM pts GROUP BY 1, 2
    ),
    cells AS (
      SELECT gx.g AS cell_x, gy.g AS cell_y, COALESCE(o.n_points, 0) AS n_points
      FROM range(20) gx(g) CROSS JOIN range(20) gy(g)
      LEFT JOIN occupied o ON o.cell_x = gx.g AND o.cell_y = gy.g
    ),
    scattered AS (
      SELECT c.cell_x + dx.dx AS tx, c.cell_y + dy.dy AS ty, c.n_points
      FROM cells c
      CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
      CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
    ),
    smooth AS (
      SELECT tx AS cell_x, ty AS cell_y,
             CAST(SUM(n_points) AS BIGINT) AS neigh_sum,
             CAST(COUNT(*) AS BIGINT) AS n_neigh_cells
      FROM scattered
      WHERE tx BETWEEN 0 AND 19 AND ty BETWEEN 0 AND 19
      GROUP BY tx, ty
    )
    SELECT s.cell_x, s.cell_y, c.n_points,
           s.neigh_sum, s.n_neigh_cells,
           CAST(s.neigh_sum AS DOUBLE) / s.n_neigh_cells AS neigh_mean
    FROM smooth s JOIN cells c USING (cell_x, cell_y)
    """,
    doc=(
        "Raster stencil (3x3 box smoothing) over the point-density "
        "grid — the convolution shape (focal statistics in GIS terms) "
        "expressed as SCATTER: each occupied cell explodes its count "
        "to the 9 cells it contributes to, then one groupBy per "
        "target cell — a map-side 9x fan-out + ONE shuffle, versus "
        "the gather formulation's 8-way self-join. The grid is "
        "densified first (empty cells contribute 0), so the mean "
        "divides by the TRUE window size - 9 interior, 6 edge, 4 "
        "corner - never by the occupied-neighbor count. At 100 TB "
        "rasters, scatter is the only "
        "shape that stays one-pass; wider kernels just widen the "
        "offset array."
    ),
    tags=("spatial", "raster", "agg"),
)
def spatial_raster_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = synthetic_points(spark, sf_dir)
    occupied = (
        pts.select(
            (F.floor((F.col("x") - 0.5) / 50)).cast("long").alias("cell_x"),
            (F.floor((F.col("y") - 0.5) / 50)).cast("long").alias("cell_y"),
        )
        .groupBy("cell_x", "cell_y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    )
    gx = spark.range(20).withColumnRenamed("id", "cell_x")
    gy = spark.range(20).withColumnRenamed("id", "cell_y")
    cells = (
        gx.crossJoin(gy)
        .join(occupied, ["cell_x", "cell_y"], "left")
        .select(
            "cell_x",
            "cell_y",
            F.coalesce(F.col("n_points"), F.lit(0)).cast("long").alias("n_points"),
        )
        .localCheckpoint()  # 400 cells; feeds the scatter and the final join
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    scattered = cells.select(
        F.explode(offsets).alias("o"), "cell_x", "cell_y", "n_points"
    ).select(
        (F.col("cell_x") + F.col("o.dx")).alias("tx"),
        (F.col("cell_y") + F.col("o.dy")).alias("ty"),
        "n_points",
    )
    smooth = (
        scattered.filter(F.col("tx").between(0, 19) & F.col("ty").between(0, 19))
        .groupBy(F.col("tx").alias("cell_x"), F.col("ty").alias("cell_y"))
        .agg(
            F.sum("n_points").cast("long").alias("neigh_sum"),
            F.count(F.lit(1)).cast("long").alias("n_neigh_cells"),
        )
    )
    return smooth.join(cells, ["cell_x", "cell_y"]).select(
        "cell_x",
        "cell_y",
        "n_points",
        "neigh_sum",
        "n_neigh_cells",
        (F.col("neigh_sum").cast("double") / F.col("n_neigh_cells")).alias("neigh_mean"),
    )


@register(
    "spatial_region_labeling",
    oracle=f"""
    WITH RECURSIVE pts AS ({PTS_SQL}),
    occ AS (
      SELECT DISTINCT ix // 50 AS cx, iy // 50 AS cy FROM pts
    ),
    nodes AS (SELECT cx * 20 + cy AS node, cx, cy FROM occ),
    edges AS (
      SELECT a.node AS s, b.node AS t
      FROM nodes a JOIN nodes b
        ON (abs(a.cx - b.cx) + abs(a.cy - b.cy)) = 1
    ),
    reach(id, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t
    ),
    comp AS (SELECT id AS node, MIN(lbl) AS region FROM reach GROUP BY id),
    sizes AS (
      SELECT region, CAST(COUNT(*) AS BIGINT) AS region_cells
      FROM comp GROUP BY region
    )
    SELECT n.cx AS cell_x, n.cy AS cell_y, c.region, s.region_cells
    FROM nodes n JOIN comp c USING (node) JOIN sizes s USING (region)
    """,
    doc=(
        "Connected-component labeling of the occupied raster "
        "(flood-fill / region labeling, the segmentation primitive): "
        "4-neighbor adjacency edges between occupied cells -> "
        "alternating-star connected components (cc_star.py, O(log^2 n) "
        "rounds) -> min-node region ids + region sizes. The third "
        "consumer of the star-CC kernel (text clusters, embedding "
        "clusters, now raster regions) — one distributed CC "
        "implementation serving all three domains. Adjacency is an "
        "equi-join on the neighbor-shifted cell key (scatter by 4 "
        "offsets), never a distance cross join."
    ),
    tags=("spatial", "raster", "graph"),
)
def spatial_region_labeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tile_processor_spark.plans.cc_star import connected_components_star

    pts = synthetic_points(spark, sf_dir)
    occ = (
        pts.select(
            (F.floor((F.col("x") - 0.5) / 50)).cast("long").alias("cx"),
            (F.floor((F.col("y") - 0.5) / 50)).cast("long").alias("cy"),
        )
        .distinct()
        .localCheckpoint()  # <= 400 cells; feeds edges and the label join
    )
    nodes = occ.select((F.col("cx") * 20 + F.col("cy")).alias("node"), "cx", "cy")
    # scatter by the 4 neighbor offsets, equi-join on the shifted key
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        ]
    )
    shifted = nodes.select(
        "node", F.explode(offs).alias("o"), "cx", "cy"
    ).select(
        "node",
        ((F.col("cx") + F.col("o.dx")) * 20 + (F.col("cy") + F.col("o.dy"))).alias(
            "nkey"
        ),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    ).filter(F.col("nx").between(0, 19) & F.col("ny").between(0, 19))
    edges = shifted.join(
        nodes.select(F.col("node").alias("nkey")), "nkey"
    ).select(F.col("node").alias("a"), F.col("nkey").alias("b"))
    comp = connected_components_star(edges).withColumnRenamed("node", "n")
    labeled = nodes.join(comp, nodes["node"] == F.col("n"), "left").select(
        "cx", "cy", F.coalesce(F.col("component"), F.col("node")).alias("region")
    )
    sizes = labeled.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("region_cells")
    )
    return labeled.join(sizes, "region").select(
        F.col("cx").alias("cell_x"),
        F.col("cy").alias("cell_y"),
        "region",
        "region_cells",
    )
