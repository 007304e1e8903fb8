"""Reference-parity tests: the pinned tile-selection semantics of
tile_processor/tests/test_tiles.py re-created on synthetic grids
(SURVEY.md §5: "port the expected tile-ID sets verbatim as golden
assertions against synthetic tile geometry").

Layout mirrors the reference fixture corpus (FIXTURES.md):
- a 4×4 grid named 25gn1_1..25gn1_16 ("identical" variant),
- a 2×3 grid named u1..u6 ("different" variant),
- an extent centered on the grid middle.

Reference expectations (tests/test_tiles.py:144-166, 183-207):
- within_extent → {25gn1_6, 25gn1_7, 25gn1_10, 25gn1_11} resp. {u2, u5}
- tiles_in_index([... , 'not_in_index']) → known subset, warn not fail
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tile_processor_spark.pipeline.tiles import AhnTileSet, TileSet
from tile_processor_spark.spatial import kernel, wkb
from tile_processor_spark.spatial.join import points_in_polygons
from tile_processor_spark.spatial.udfs import st_rect

EXTENT = wkb.rect_wkb(1.4, 1.4, 2.6, 2.6)  # centered on the 4x4 grid middle


def _grid(spark, ncols, nrows, cell_w, cell_h, namer):
    rows = []
    for r in range(nrows):
        for c in range(ncols):
            rows.append(
                (namer(r, c), c * cell_w, r * cell_h, (c + 1) * cell_w, (r + 1) * cell_h)
            )
    df = spark.createDataFrame(
        rows, "tile_id string, xmin double, ymin double, xmax double, ymax double"
    )
    return df.withColumn("geom", st_rect("xmin", "ymin", "xmax", "ymax"))


@pytest.fixture
def features(spark):
    # one feature at the center of every 1x1 cell of the 4x4 domain
    pts = [
        (r * 4 + c, c + 0.5, r + 0.5) for r in range(4) for c in range(4)
    ]
    return spark.createDataFrame(pts, "fid long, x double, y double")


def _assign(features, grid):
    return points_in_polygons(features, grid, cell_size=1.0)


def test_within_extent_identical_grid(spark, features):
    grid = _grid(spark, 4, 4, 1.0, 1.0, lambda r, c: f"25gn1_{r * 4 + c + 1}")
    assigned = _assign(features, grid)
    got = {r.tile_id for r in TileSet(grid).with_extent(assigned, EXTENT).collect()}
    assert got == {"25gn1_6", "25gn1_7", "25gn1_10", "25gn1_11"}


def test_within_extent_different_grid(spark, features):
    grid = _grid(spark, 3, 2, 4.0 / 3.0, 2.0, lambda r, c: f"u{r * 3 + c + 1}")
    assigned = _assign(features, grid)
    got = {r.tile_id for r in TileSet(grid).with_extent(assigned, EXTENT).collect()}
    assert got == {"u2", "u5"}


# exterior ring over most of the 4×4 domain with a square hole over its
# middle four cells (rings as GeoJSON gives them: closed, hole CW)
HOLED = [
    [[0.2, 0.2], [3.8, 0.2], [3.8, 3.8], [0.2, 3.8], [0.2, 0.2]],
    [[1.2, 1.2], [1.2, 2.8], [2.8, 2.8], [2.8, 1.2], [1.2, 1.2]],
]


def test_within_extent_excludes_hole(spark, features):
    grid = _grid(spark, 4, 4, 1.0, 1.0, lambda r, c: f"25gn1_{r * 4 + c + 1}")
    assigned = _assign(features, grid)
    extent = wkb.polygon_wkb([np.asarray(r) for r in HOLED])
    got = {r.tile_id for r in TileSet(grid).with_extent(assigned, extent).collect()}
    # the four middle tiles have their only feature inside the hole
    assert got == {f"25gn1_{n}" for n in range(1, 17)} - {"25gn1_6", "25gn1_7", "25gn1_10", "25gn1_11"}
    pts = assigned.select("x", "y", "tile_id").toPandas()
    inside = kernel.points_in_polygon(
        wkb.parse_polygon(extent), pts["x"].to_numpy(), pts["y"].to_numpy()
    )
    assert got == set(pts["tile_id"][inside])


def test_within_extent_plans_no_python_udf(spark):
    features = spark.createDataFrame(
        [(f"25gn1_{r * 4 + c + 1}", c + 0.5, r + 0.5) for r in range(4) for c in range(4)],
        "tile_id string, x double, y double",
    )
    extent = wkb.polygon_wkb([np.asarray(r) for r in HOLED])
    df = TileSet(features).with_extent(features, extent)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert df.count() == 12


def test_tiles_in_index_parity(spark):
    # tests/test_tiles.py:183-207: unknown IDs skipped with a warning.
    grid = _grid(spark, 4, 4, 1.0, 1.0, lambda r, c: f"25gn1_{r * 4 + c + 1}")
    ts = TileSet(grid)
    got = {
        r.tile_id
        for r in ts.with_list(["25gn1_10", "25gn1_11", "25gn1_6", "not_in_index"]).collect()
    }
    assert got == {"25gn1_10", "25gn1_11", "25gn1_6"}


# ---- AhnTileSet: the DbTilesAHN version/border matrix --------------------
# Expected sets ported verbatim from reference tests/test_tiles.py:264-475
# (bag_index_identical branch): AHN3 upper-left, AHN2 lower-right, border
# along the diagonal.

V3_TILES = {"25gn1_1", "25gn1_2", "25gn1_5", "25gn1_9", "25gn1_13"}
V2_TILES = {"25gn1_8", "25gn1_11", "25gn1_12", "25gn1_15", "25gn1_16"}
BORDER_TILES = {"25gn1_3", "25gn1_4", "25gn1_6", "25gn1_7", "25gn1_10", "25gn1_14"}


@pytest.fixture
def ahn_tileset(spark):
    # Identical elevation/feature indexes on the 4×4 grid; the borders
    # companion table is passed precomputed, exactly like the reference's
    # tile_index.ahn_tiles_border.
    grid = _grid(spark, 4, 4, 1.0, 1.0, lambda r, c: f"25gn1_{r * 4 + c + 1}").drop("geom")

    def ver(n: int) -> int:
        name = f"25gn1_{n}"
        return 3 if name in V3_TILES | {"25gn1_3", "25gn1_4", "25gn1_6"} else 2

    vdf = spark.createDataFrame(
        [(f"25gn1_{n}", ver(n)) for n in range(1, 17)], "tile_id string, version int"
    )
    elev = grid.join(vdf, "tile_id")
    borders = spark.createDataFrame(
        [(t,) for t in sorted(BORDER_TILES)], "tile_id string"
    )
    return AhnTileSet(elev, borders=borders)


def test_versions_parity(ahn_tileset):
    # tests/test_tiles.py:264-272
    assert {r.version for r in ahn_tileset.versions().collect()} == {2, 3}


def test_version_boundary_parity(ahn_tileset):
    # tests/test_tiles.py:274-289
    got = {r.tile_id for r in ahn_tileset.version_boundary().collect()}
    assert got == BORDER_TILES


def test_version_not_boundary_parity(ahn_tileset):
    # tests/test_tiles.py:291-313: {3: [1,2,5,9,13], 2: [8,11,12,15,16]}
    got = {(r.version, r.tile_id) for r in ahn_tileset.version_not_boundary().collect()}
    want = {(3, t) for t in V3_TILES} | {(2, t) for t in V2_TILES}
    assert got == want


def test_configure_v3_v2_border(ahn_tileset):
    # tests/test_tiles.py:315-405 (configure matrix, tiles=['all'])
    got3 = {r.tile_id for r in ahn_tileset.configure(tiles=["all"], version=3).collect()}
    assert got3 == V3_TILES
    got2 = {r.tile_id for r in ahn_tileset.configure(tiles=["all"], version=2).collect()}
    assert got2 == V2_TILES
    gotb = {
        r.tile_id
        for r in ahn_tileset.configure(tiles=["all"], on_border=True).collect()
    }
    assert gotb == BORDER_TILES


def test_configure_list_intersection(ahn_tileset):
    # version selection intersects the requested list (tileconfig.py:344-348)
    got = {
        r.tile_id
        for r in ahn_tileset.configure(
            tiles=["25gn1_5", "25gn1_6", "not_in_index"], version=3
        ).collect()
    }
    assert got == {"25gn1_5"}  # _6 is on the border, unknown ID warned away


def test_configure_error_branches(ahn_tileset):
    # tileconfig.py:338-343 / :389-393
    with pytest.raises(ValueError, match="version 4"):
        ahn_tileset.configure(tiles=["all"], version=4)
    with pytest.raises(AttributeError):
        ahn_tileset.configure(tiles=["all"], version=3, on_border=True)


def test_version_boundary_derived(spark):
    # Without a borders table the boundary is derived: tiles touching a
    # tile of a different version. Columns 0-1 → v2, 2-3 → v3 ⇒ border
    # is the two middle columns.
    grid = _grid(spark, 4, 4, 1.0, 1.0, lambda r, c: f"t{c}_{r}").drop("geom")
    elev = grid.withColumn(
        "version", F.when(F.col("xmin") < 2.0, 2).otherwise(3)
    )
    got = {r.tile_id for r in AhnTileSet(elev).version_boundary().collect()}
    assert got == {f"t{c}_{r}" for c in (1, 2) for r in range(4)}


def test_ahn_boundary_controller(spark):
    # controller.py:496-625: three parts, each processed separately.
    from tile_processor_spark.pipeline.controller import get_controller

    grid = _grid(spark, 4, 4, 1.0, 1.0, lambda r, c: f"25gn1_{r * 4 + c + 1}").drop("geom")

    def ver(n: int) -> int:
        name = f"25gn1_{n}"
        return 3 if name in V3_TILES | {"25gn1_3", "25gn1_4", "25gn1_6"} else 2

    vdf = spark.createDataFrame(
        [(f"25gn1_{n}", ver(n)) for n in range(1, 17)], "tile_id string, version int"
    )
    elev = grid.join(vdf, "tile_id")
    borders = spark.createDataFrame([(t,) for t in sorted(BORDER_TILES)], "tile_id string")
    features = spark.createDataFrame(
        [(f"25gn1_{n}", float(n)) for n in range(1, 17)], "tile_id string, z double"
    )
    result = get_controller("AHNboundary")(
        features, elev, "Example", borders=borders, tiles=["all"]
    )
    assert set(result) == {"AHN2", "AHN3", "AHN_border"}
    assert result["AHN2"] == {"failed_tiles": [], "nr_success": len(V2_TILES)}
    assert result["AHN3"] == {"failed_tiles": [], "nr_success": len(V3_TILES)}
    assert result["AHN_border"] == {"failed_tiles": [], "nr_success": len(BORDER_TILES)}


def test_registry_count_matches_docs():
    # Docs drifted once (PARITY.md said 101 while the registry was 115):
    # any literal "<N> registered queries" claim in docs/ must equal
    # len(all_specs()), or not exist at all.
    import pathlib
    import re

    from tile_processor_spark.plans.registry import all_specs

    n = len(all_specs())
    assert n >= 187
    docs = list(pathlib.Path("docs").glob("*.md")) + [
        pathlib.Path(p) for p in ("COVERAGE.md", "README.md") if pathlib.Path(p).exists()
    ]
    for doc in docs:
        for m in re.finditer(r"(\d+) registered queries", doc.read_text()):
            assert int(m.group(1)) == n, f"{doc} claims {m.group(1)}, registry has {n}"
