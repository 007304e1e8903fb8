"""Tile selection — the ``DbTiles``/``DbTilesAHN`` query surface
(tile_processor/tileconfig.py) as lazy DataFrame ops.

A *tile index* here is any DataFrame with a ``tile_id`` string column
(plus optional geometry/bbox columns); a *feature index* maps features to
tiles. Selection never collects feature data — only the (small) chosen
tile-ID set, mirroring the reference where tile selection is metadata
work and per-tile processing is the heavy phase.
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def _local_ids(spark: SparkSession, ids: list[str]) -> DataFrame:
    """A one-column ``tile_id string`` DataFrame on a local relation."""
    return spark.createDataFrame(pa.table({"tile_id": pa.array(ids, pa.string())}))


class TileSet:
    """Immutable wrapper over a tile-index DataFrame.

    Reference parity: ``configure(tiles=[...])`` → :meth:`with_list`,
    ``tiles=['all']`` → :meth:`all_in_index`, ``extent=poly`` →
    :meth:`with_extent`; the ``reorder`` shuffle (tileconfig.py:128-140)
    is :meth:`reorder`.
    """

    def __init__(self, index: DataFrame, tile_col: str = "tile_id"):
        if tile_col != "tile_id":
            index = index.withColumnRenamed(tile_col, "tile_id")
        self.index = index

    def all_in_index(self) -> DataFrame:
        """P2: SELECT DISTINCT tile FROM index (tileconfig.py:218-222)."""
        return self.index.select("tile_id").distinct()

    def with_list(self, tiles: list[str]) -> DataFrame:
        """P3 + J9 (tileconfig.py:196-249): keep requested tiles that
        exist; *warn* about unknown IDs; *raise* if none match.

        One action: a left join of the request against the distinct index
        IDs, flagged and collected once. The found request rows (duplicates
        kept) come back as a local DataFrame, so callers joining on it
        re-run no index scan. Both the request and the result are built
        from Arrow tables, which Spark plans as local relations: a Python
        list would become a parallelized Python RDD, one Python task per
        partition on every action."""
        spark = self.index.sparkSession
        req = _local_ids(spark, tiles)
        known = self.all_in_index().withColumn("known", F.lit(True))
        rows = req.join(known, "tile_id", "left").collect()
        found = [r.tile_id for r in rows if r.known]
        missing = [r.tile_id for r in rows if not r.known]
        if missing:
            log.warning("tiles not in index (skipped): %s", sorted(missing))
        if not found:
            raise ValueError(f"none of the requested tiles exist in the index: {tiles}")
        return _local_ids(spark, found)

    def with_extent(self, features: DataFrame, extent_wkb: bytes) -> DataFrame:
        """within_extent (tileconfig.py:128-194): DISTINCT tiles whose
        features (point x/y + tile_id columns) fall within the extent
        polygon. bbox prefilter keeps the exact UDF off pruned rows."""
        from tile_processor_spark.spatial import wkb as _wkb
        from tile_processor_spark.spatial.udfs import st_contains_point

        x0, y0, x1, y1 = _wkb.polygon_bbox(extent_wkb)
        return (
            features.filter(
                (F.col("x") >= x0) & (F.col("x") <= x1)
                & (F.col("y") >= y0) & (F.col("y") <= y1)
            )
            .filter(st_contains_point(F.lit(extent_wkb), F.col("x"), F.col("y")))
            .select("tile_id")
            .distinct()
        )

    @staticmethod
    def reorder(tiles: DataFrame, seed: int = 42) -> DataFrame:
        """O2 (tileconfig.py:128-140): randomize processing order so heavy
        neighboring tiles spread across executors. With Spark's task
        scheduler this is rarely needed — kept for contract parity, and
        made deterministic via the seed."""
        return tiles.orderBy(F.rand(seed))


class AhnTileSet:
    """The ``DbTilesAHN`` selection surface (tileconfig.py:255-393,
    500-598) over DataFrames.

    ``elevation_index`` needs ``tile_id``, bbox columns
    (xmin/ymin/xmax/ymax) and ``version``; ``feature_index`` needs
    ``tile_id`` + bbox columns and defaults to the elevation index (the
    reference's "identical indexes" mode, tests/conftest.py:99-122).
    ``borders`` is the reference's precomputed companion table
    (tile_index.ahn_tiles_border) — when absent it is derived with a
    cross-version bbox self-join (the index is dimension-sized →
    broadcast, predicate-only, stays in codegen).
    """

    def __init__(
        self,
        elevation_index: DataFrame,
        feature_index: DataFrame | None = None,
        borders: DataFrame | None = None,
    ):
        self.elevation_index = elevation_index
        self.feature_index = feature_index if feature_index is not None else elevation_index
        self._borders = borders

    def versions(self) -> DataFrame:
        """A2 (tileconfig.py:500-523): DISTINCT non-NULL AHN versions."""
        return (
            self.elevation_index.filter(F.col("version").isNotNull())
            .select("version")
            .distinct()
        )

    def version_boundary(self) -> DataFrame:
        """Elevation tiles on the boundary of two AHN versions
        (tileconfig.py:524-541; pinned by reference
        tests/test_tiles.py:274-289)."""
        if self._borders is not None:
            return self._borders.select("tile_id")
        a, b = self.elevation_index.alias("a"), self.elevation_index.alias("b")
        pairs = a.join(
            F.broadcast(b),
            (F.col("a.version") != F.col("b.version"))
            & (F.col("a.xmin") <= F.col("b.xmax"))
            & (F.col("b.xmin") <= F.col("a.xmax"))
            & (F.col("a.ymin") <= F.col("b.ymax"))
            & (F.col("b.ymin") <= F.col("a.ymax")),
        )
        return pairs.select(F.col("a.tile_id").alias("tile_id")).distinct()

    def version_not_boundary(self) -> DataFrame:
        """(version, tile_id) of feature tiles matched to single-version
        dissolved regions via ``ST_Relate(region, tile, '212101212') OR
        ST_Covers`` — the reference query verbatim (tileconfig.py:565-598;
        pinned by tests/test_tiles.py:291-313), as one relate join instead
        of SQL-in-a-loop."""
        from tile_processor_spark.spatial.join import region_relate_join

        nb = self.elevation_index.join(self.version_boundary(), "tile_id", "left_anti")
        regions = nb.filter(F.col("version").isNotNull()).groupBy("version").agg(
            F.collect_list(F.array("xmin", "ymin", "xmax", "ymax")).alias("rects")
        )
        tiles = self.feature_index.select("tile_id", "xmin", "ymin", "xmax", "ymax")
        return region_relate_join(tiles, regions).select("version", "tile_id")

    def configure(
        self,
        tiles: list[str] | None = None,
        version: int | None = None,
        on_border: bool | None = False,
    ) -> DataFrame:
        """The DbTilesAHN.configure precedence matrix (tileconfig.py:
        279-393): select feature tiles first (list or all), then restrict
        by ``version`` (excludes the version boundary) OR ``on_border``;
        both at once is the reference's AttributeError branch. Returns the
        to_process tile-ID DataFrame."""
        if version is not None and on_border:
            raise AttributeError(
                f"Unknown configuration tiles:{tiles}, version:{version}, "
                f"on_border:{on_border}."
            )
        ts = TileSet(self.feature_index.select("tile_id"))
        chosen = (
            ts.with_list(tiles) if tiles and tiles != ["all"] else ts.all_in_index()
        )
        if version is not None:
            known = [r.version for r in self.versions().collect()]
            if version not in known:
                raise ValueError(f"AHN version {version} is not in the index.")
            per_version = self.version_not_boundary().filter(
                F.col("version") == version
            )
            return chosen.join(per_version.select("tile_id"), "tile_id", "left_semi")
        if on_border:
            return chosen.join(self.version_boundary(), "tile_id", "left_semi")
        return chosen
