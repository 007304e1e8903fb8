"""Spatial join patterns — the engine's replacement for PostGIS GiST-indexed
``ST_Intersects``/``ST_Within`` joins (reference tileconfig.py:156-193,
600-678, which issues one query per tile; here a single set-based join).

Pattern (scales to 100 TB):
1. bucket both sides into a uniform grid (``cell_size``) — polygons are
   replicated to every cell their bbox covers via ``explode(sequence)``;
2. equi-join on the cell key — one shuffle, prunable, AQE-skew-splittable;
3. cheap bbox refine (Catalyst-side comparisons, no UDF);
4. exact geometry refine with the WKB kernel UDF (only for survivors).

For box-box joins the duplicate-pair problem (two bboxes sharing several
cells) is solved with the standard reporting-cell trick — a pair is
emitted only in the cell containing the intersection's min corner — so no
global distinct is needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_processor_spark.session import session_cached
from tile_processor_spark.spatial.udfs import st_contains_point


def _cell(col: Column, cell_size: float) -> Column:
    return F.floor(col / F.lit(float(cell_size))).cast("long")


def _cells_seq(cmin: Column, cmax: Column, cell_size: float) -> Column:
    return F.sequence(_cell(cmin, cell_size), _cell(cmax, cell_size))


def points_in_polygons(
    points: DataFrame,
    polys: DataFrame,
    cell_size: float,
    x: str = "x",
    y: str = "y",
    geom: str = "geom",
    rects: bool = False,
) -> DataFrame:
    """Inner-join points to the polygons containing them.

    ``polys`` must carry ``geom`` (WKB) and bbox columns xmin/ymin/xmax/ymax.
    Result: all point columns + all polygon columns (bbox/helper cols
    dropped). Each point joins in exactly its own cell, so no dedup pass.

    ``rects=True`` declares every polygon an axis-aligned rectangle whose
    ring IS its bbox (``st_rect`` output — tile indexes). For such rings
    the even-odd ray cast reduces ALGEBRAICALLY to the half-open box test
    ``xmin <= x < xmax AND ymin <= y < ymax`` (horizontal edges never
    cross the ray; the two vertical edges cross iff ymin <= y < ymax and
    contribute hits (x < xmax), (x < xmin), whose XOR is xmin <= x < xmax
    — identical for every input, boundaries included), so the exact
    refine runs as whole-stage-codegen comparisons and the geometry
    column is never shipped to a Python worker. Non-rect geometry keeps
    the general WKB kernel path.
    """
    p = points.withColumn("_cx", _cell(F.col(x), cell_size)).withColumn(
        "_cy", _cell(F.col(y), cell_size)
    )
    g = (
        polys.withColumn("_cx", F.explode(_cells_seq(F.col("xmin"), F.col("xmax"), cell_size)))
        .withColumn("_cy", F.explode(_cells_seq(F.col("ymin"), F.col("ymax"), cell_size)))
    )
    if rects:
        joined = p.join(g, ["_cx", "_cy"]).filter(
            (F.col(x) >= F.col("xmin"))
            & (F.col(x) < F.col("xmax"))
            & (F.col(y) >= F.col("ymin"))
            & (F.col(y) < F.col("ymax"))
        )
        return joined.drop("_cx", "_cy", "xmin", "ymin", "xmax", "ymax")
    joined = p.join(g, ["_cx", "_cy"]).filter(
        (F.col(x) >= F.col("xmin"))
        & (F.col(x) <= F.col("xmax"))
        & (F.col(y) >= F.col("ymin"))
        & (F.col(y) <= F.col("ymax"))
    ).filter(st_contains_point(F.col(geom), F.col(x), F.col(y)))
    return joined.drop("_cx", "_cy", "xmin", "ymin", "xmax", "ymax")


def st_contains_point_ring(ring, x: Column, y: Column) -> Column:
    """Even-odd ray cast against a LITERAL ring (vertex list, open or
    closed), compiled to Catalyst expressions: the same float64
    operations in the same order as ``kernel.points_in_ring`` —
    ``crosses = (y1 > y) != (y2 > y)``, ``x_at = x1 + (y - y1)·(x2 - x1)
    / (y2 - y1)``, odd hit parity — so whole-stage codegen produces
    bit-identical booleans to the Python kernel for every input, while
    the extent literal never crosses the JVM↔Python boundary. Horizontal
    edges are skipped at compile time (the kernel's ``np.inf`` divisor
    makes their hit test False). Use for fixed extent polygons; dynamic
    geometry keeps the WKB kernel UDF."""
    pts = [(float(px), float(py)) for px, py in ring]
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    terms = []
    for a in range(len(pts)):
        x1, y1 = pts[a]
        x2, y2 = pts[(a + 1) % len(pts)]
        if y1 == y2:
            continue
        crosses = (F.lit(y1) > y) != (F.lit(y2) > y)
        x_at = F.lit(x1) + (y - F.lit(y1)) * F.lit(x2 - x1) / F.lit(y2 - y1)
        terms.append((crosses & (x < x_at)).cast("int"))
    if not terms:
        return F.lit(False)
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total % 2 == F.lit(1)


def region_relate_join(
    tiles: DataFrame,
    regions: DataFrame,
    pattern: str = "212101212",
    covers: bool = True,
) -> DataFrame:
    """Join a tile index against per-group dissolved regions on
    ``ST_Relate(region, tile, pattern) [OR ST_Covers(region, tile)]`` —
    the reference's version-region join (tileconfig.py:587-598).

    ``tiles`` needs xmin/ymin/xmax/ymax; ``regions`` needs a ``rects``
    column of ``array<array<double>>`` (the group's undissolved rect
    list, e.g. from ``collect_list(array(xmin, ymin, xmax, ymax))``) —
    the union/dissolve is implicit in the DE-9IM covered-cell kernel, so
    no geometry union is ever materialized. ``regions`` is dimension-
    sized (one row per version) → broadcast nested-loop, then one
    Arrow-batched pandas-UDF pass for the exact matrix.
    """
    relate = _relate_udf(tiles.sparkSession, pattern, covers)
    return tiles.crossJoin(F.broadcast(regions)).filter(
        relate("rects", "xmin", "ymin", "xmax", "ymax")
    )


@session_cached
def _relate_udf(spark: SparkSession, pattern: str, covers: bool):
    """The DE-9IM relate UDF for one (pattern, covers). Building a
    pandas_udf is a driver-side py4j + cloudpickle round trip, so each
    variant is built once per session, not once per query invocation; a
    UDF binds the SparkContext it first ran under (its Python
    accumulator included), so it must not outlive the session."""
    from tile_processor_spark.spatial import kernel

    @F.pandas_udf("boolean")
    def _relate(
        rects: pd.Series,
        xmin: pd.Series,
        ymin: pd.Series,
        xmax: pd.Series,
        ymax: pd.Series,
    ) -> pd.Series:
        out = []
        for rl, x0, y0, x1, y1 in zip(rects, xmin, ymin, xmax, ymax):
            arr = (
                np.stack([np.asarray(r, dtype=np.float64) for r in rl])
                if len(rl)
                else np.empty((0, 4))
            )
            m = kernel.rect_union_de9im(arr, (x0, y0, x1, y1))
            ok = kernel.relate_pattern(m, pattern)
            if covers:
                ok = ok or (m[6] == "F" and m[7] == "F")  # ST_Covers
            out.append(ok)
        return pd.Series(out)

    return _relate


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    cell_size: float,
    suffix: str = "_r",
) -> DataFrame:
    """Join rows whose bboxes intersect (closed intervals — boundary touch
    counts, like ST_Intersects). Both sides need xmin/ymin/xmax/ymax; right
    bbox columns come back suffixed. One pair is emitted exactly once via
    the reporting-cell filter."""
    r = right
    for c in ("xmin", "ymin", "xmax", "ymax"):
        r = r.withColumnRenamed(c, c + suffix)
    l_ = (
        left.withColumn("_cx", F.explode(_cells_seq(F.col("xmin"), F.col("xmax"), cell_size)))
        .withColumn("_cy", F.explode(_cells_seq(F.col("ymin"), F.col("ymax"), cell_size)))
    )
    r_ = (
        r.withColumn("_cx", F.explode(_cells_seq(F.col(f"xmin{suffix}"), F.col(f"xmax{suffix}"), cell_size)))
        .withColumn("_cy", F.explode(_cells_seq(F.col(f"ymin{suffix}"), F.col(f"ymax{suffix}"), cell_size)))
    )
    joined = l_.join(r_, ["_cx", "_cy"]).filter(
        (F.col("xmin") <= F.col(f"xmax{suffix}"))
        & (F.col(f"xmin{suffix}") <= F.col("xmax"))
        & (F.col("ymin") <= F.col(f"ymax{suffix}"))
        & (F.col(f"ymin{suffix}") <= F.col("ymax"))
        # reporting cell: the cell of the intersection's min corner
        & (F.col("_cx") == F.floor(F.greatest("xmin", f"xmin{suffix}") / F.lit(float(cell_size))))
        & (F.col("_cy") == F.floor(F.greatest("ymin", f"ymin{suffix}") / F.lit(float(cell_size))))
    )
    return joined.drop("_cx", "_cy")
