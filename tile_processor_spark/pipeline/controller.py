"""Controller presets — the ``ControllerFactory`` surface
(tile_processor/controller.py:146-166, registrations at :670-676) as
named pipeline functions over the Spark engine.

A controller wires: configuration → tile selection → (optionally)
elevation matching → worker fan-out with bounded retry → the
``{'failed_tiles': [...], 'nr_success': n}`` result. The reference ships
Example / AHN / AHNboundary (+TIN variants); here the Spark-representable
pair, with the factory open for user registration exactly like the
worker registry.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tile_processor_spark.pipeline.processor import run_with_retry
from tile_processor_spark.pipeline.tiles import TileSet, requests_all

Controller = Callable[..., dict]

_REGISTRY: dict[str, Controller] = {}


def register_controller(key: str, fn: Controller) -> None:
    _REGISTRY[key] = fn


def get_controller(key: str) -> Controller:
    if key not in _REGISTRY:
        raise KeyError(f"unknown controller {key!r}; registered: {sorted(_REGISTRY)}")
    return _REGISTRY[key]


def list_controllers() -> list[str]:
    return sorted(_REGISTRY)


def example_controller(
    features: DataFrame,
    worker_key: str = "Example",
    tiles: list[str] | None = None,
    config: dict | None = None,
    restarts: int = 0,
) -> dict:
    """Example controller (controller.py:223-372 shape): restrict the
    features to the listed tiles, run the worker over each tile group,
    bounded retry. An all-request runs every tile group without joining
    the features to an index."""
    if not requests_all(tiles):
        chosen = TileSet(features.select("tile_id")).with_list(tiles)
        features = features.join(chosen, "tile_id", "left_semi")
    return run_with_retry(features, worker_key, config, restarts=restarts)


def ahn_controller(
    features: DataFrame,
    tile_index: DataFrame,
    elevation_index: DataFrame,
    worker_key: str,
    tiles: list[str] | None = None,
    config: dict | None = None,
    restarts: int = 0,
    cell_size: float = 250.0,
) -> dict:
    """AHN controller (controller.py:375-435): select feature tiles, match
    elevation tiles by bbox intersection (one set-based join — not the
    reference's per-tile loop), attach the per-tile version set as a
    ``versions`` COLUMN of each worker's group, skip tiles with no
    elevation coverage (P9), fan out.

    ``tile_index`` needs tile_id + bbox columns; ``elevation_index``
    needs bbox columns + version. Workers read the tile's version set
    from ``pdf["versions"].iloc[0]`` — it is never collected to the
    driver (a per-tile dict in the task closure was a driver-memory and
    closure-broadcast bottleneck at a 100× tile index).
    """
    from tile_processor_spark.spatial.join import bbox_join

    config = dict(config or {})
    chosen = TileSet(tile_index.select("tile_id")).configure(tiles)
    idx = tile_index.join(chosen, "tile_id", "left_semi")

    matched = bbox_join(idx, elevation_index, cell_size=cell_size)
    versions = matched.groupBy("tile_id").agg(
        F.sort_array(F.collect_set("version")).alias("versions")
    )
    # P9 existence filter + version attachment in ONE inner join: tiles
    # without elevation coverage drop out, covered tiles carry their
    # version array to the executor as ordinary column data.
    covered = features.join(versions, "tile_id", "inner")
    return run_with_retry(covered, worker_key, config, restarts=restarts)


def ahn_boundary_controller(
    features: DataFrame,
    elevation_index: DataFrame,
    worker_key: str,
    feature_index: DataFrame | None = None,
    borders: DataFrame | None = None,
    tiles: list[str] | None = None,
    config: dict | None = None,
    restarts: int = 0,
) -> dict:
    """AHNboundary controller (controller.py:496-625, registered at
    :675): split the tile set into one part per AHN version (excluding
    the version boundary) plus an ``AHN_border`` part, and run the worker
    over each part separately — each part gets its own output subpath via
    ``config['part']``, mirroring the reference's per-part DirOutput.
    Versions are derived from the index rather than hardcoding AHN2/AHN3.

    Returns ``{part: {'failed_tiles': [...], 'nr_success': n}}``.
    """
    from tile_processor_spark.pipeline.tiles import AhnTileSet

    ts = AhnTileSet(elevation_index, feature_index=feature_index, borders=borders)
    versions = sorted(r.version for r in ts.versions().collect())
    parts: list[tuple[str, dict]] = [
        (f"AHN{v}", {"version": v}) for v in versions
    ] + [("AHN_border", {"on_border": True})]
    results = {}
    for part, kw in parts:
        chosen = ts.configure(tiles=tiles, **kw)
        part_data = features.join(chosen, "tile_id", "left_semi")
        cfg = dict(config or {})
        cfg["part"] = part
        results[part] = run_with_retry(part_data, worker_key, cfg, restarts=restarts)
    return results


def ahn_tin_controller(
    elevation_points: DataFrame,
    elevation_index: DataFrame,
    worker_key: str = "TIN",
    tiles: list[str] | None = None,
    config: dict | None = None,
    restarts: int = 0,
) -> dict:
    """AHNTin controller (controller.py:438-493): the elevation tiles ARE
    the feature tiles ("the AHN tile boundaries are the features
    themselves") — select elevation tiles by list, skip tiles with no
    point data (P9 existence filter falls out of the groupBy), run the
    TIN worker per tile."""
    chosen = TileSet(elevation_index.select("tile_id")).configure(tiles)
    data = elevation_points.join(chosen, "tile_id", "left_semi")
    return run_with_retry(data, worker_key, config, restarts=restarts)


register_controller("Example", example_controller)
register_controller("AHN", ahn_controller)
register_controller("AHNboundary", ahn_boundary_controller)
register_controller("AHNTin", ahn_tin_controller)
# AHNboundaryTIN (controller.py:627-667): the AHNboundary part split with
# the TIN worker as the default per-tile payload.
register_controller("AHNboundaryTIN", partial(ahn_boundary_controller, worker_key="TIN"))
