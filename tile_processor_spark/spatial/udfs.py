"""Arrow-batched pandas UDFs over the WKB kernel.

These are the engine's ``ST_*`` functions (PostGIS names kept for
familiarity; reference usage at tile_processor/tileconfig.py:170-193,
565-598). All are vectorized per Arrow batch; predicate UDFs group the
batch by distinct polygon so each unique geometry is decoded and swept
once. Always pair with a bbox pre-filter in the query plan — the UDF is
the exact refine step, not the pruning step.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from tile_processor_spark.spatial import kernel, wkb


@pandas_udf(T.BinaryType())
def st_rect(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    return pd.Series(
        [wkb.rect_wkb(a, b, c, d) for a, b, c, d in zip(xmin, ymin, xmax, ymax)]
    )


@pandas_udf(T.ArrayType(T.DoubleType()))
def st_bbox(geom: pd.Series) -> pd.Series:
    """[xmin, ymin, xmax, ymax] of a WKB point or polygon."""
    out = []
    for buf in geom:
        b = bytes(buf)
        if b[1] == wkb.WKB_POINT:
            x, y = wkb.parse_point(b)
            out.append([x, y, x, y])
        else:
            out.append(list(wkb.polygon_bbox(b)))
    return pd.Series(out)


@pandas_udf(T.BooleanType())
def st_contains_point(poly: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    """polygon contains point — vectorized ray cast, one sweep per
    distinct polygon in the batch."""
    xs = x.to_numpy(dtype=np.float64)
    ys = y.to_numpy(dtype=np.float64)
    result = np.zeros(len(poly), dtype=bool)
    groups: dict[bytes, list[int]] = {}
    for i, buf in enumerate(poly):
        groups.setdefault(bytes(buf), []).append(i)
    for buf, idxs in groups.items():
        rings = wkb.parse_polygon(buf)
        ii = np.asarray(idxs)
        result[ii] = kernel.points_in_polygon(rings, xs[ii], ys[ii])
    return pd.Series(result)


@pandas_udf(T.BooleanType())
def st_intersects(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact polygon-polygon intersection (boundary touch counts)."""
    cache: dict[bytes, list[np.ndarray]] = {}

    def rings_of(buf: bytes) -> list[np.ndarray]:
        if buf not in cache:
            cache[buf] = wkb.parse_polygon(buf)
        return cache[buf]

    out = [
        kernel.polygons_intersect(rings_of(bytes(pa)), rings_of(bytes(pb)))
        for pa, pb in zip(a, b)
    ]
    return pd.Series(out)

