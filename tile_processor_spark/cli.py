"""Command-line surface — tile_processor/cli.py re-expressed for the
Spark engine. The library API (pipeline.*) is primary; this is the thin
shim the reference's CLI users would reach for:

- ``run``        ≙ cli.py:48-96   (controller+worker over selected tiles;
                   the worker-only form runs the Example controller)
- ``run-controller`` — the controller form: each config frame is bound
                   to the controller parameter of the same name
- ``export-tile-inputs`` ≙ cli.py:99-143 (per-tile extraction: the
                   Example controller with the TileExporter worker)
- ``list-workers``       ≙ factory keys listing
- ``register-schema`` / ``list-schemas`` / ``remove-schema``
                         ≙ cli.py:146-175 → controller.py:72-116
- ``plot-monitor-log``   ≙ cli.py:178-192 (summary table + PDF/SVG charts)
- ``compact``            — engine-native table maintenance (no reference
                           analogue; sources/maintenance.py)
"""

from __future__ import annotations

import inspect
import json
import logging
import sys
import time

import click

from tile_processor_spark.session import get_spark


@click.group()
@click.option("--verbose", is_flag=True, default=False)
def main(verbose: bool) -> None:
    logging.basicConfig(level=logging.DEBUG if verbose else logging.INFO)


@main.command("run")
@click.argument("worker_key")
@click.argument("data_path")
@click.argument("tiles", nargs=-1)
@click.option("--restart", default=0, show_default=True, help="re-runs of failed tiles")
@click.option("--config-json", default="{}", help="worker config as JSON")
@click.option(
    "--threads",
    default=3,
    show_default=True,
    help="Only used by the controller-shaped invocation (reference "
    "cli.py:61-67); forwarded to run-controller.",
)
@click.pass_context
def run_cmd(ctx, worker_key, data_path, tiles, restart, config_json, threads) -> None:
    """Run WORKER_KEY over the tile groups of the parquet dataset at
    DATA_PATH (optionally restricted to TILES).

    ALSO accepts the reference's exact single-command shape
    (cli.py:48-96): ``run CONTROLLER_KEY WORKER_KEY CONFIGURATION.yml
    [TILES...]`` — when the first argument names a registered
    controller, the invocation is dispatched to ``run-controller``
    unchanged, so reference users' existing command lines work
    verbatim.
    """
    from tile_processor_spark.pipeline.controller import (
        example_controller,
        list_controllers,
    )
    from tile_processor_spark.pipeline.workers import list_workers

    # Reference-shape detection must be unambiguous: some keys (e.g.
    # "Example") name BOTH a controller and a worker, so the first
    # argument alone cannot decide. The controller shape additionally
    # requires its second argument to be a registered worker key —
    # which a parquet data path (the worker shape's second argument)
    # never is.
    if worker_key.lower() in {k.lower() for k in list_controllers()} and (
        data_path.lower() in {k.lower() for k in list_workers()}
    ):
        # reference shape: run <controller> <worker> <config> <tiles...>
        if not tiles:
            raise click.ClickException(
                "controller-shaped run needs: run CONTROLLER_KEY "
                "WORKER_KEY CONFIGURATION [TILES...]"
            )
        configuration, ref_tiles = tiles[0], tuple(tiles[1:])
        import os

        if not os.path.isfile(configuration):
            raise click.ClickException(
                f"configuration file {configuration!r} does not exist"
            )
        ctx.invoke(
            run_controller_cmd,
            controller_key=worker_key,
            worker_key=data_path,
            configuration=configuration,
            tiles=ref_tiles,
            threads=threads,
            restart=restart,
            monitor_dir=None,
            monitor_interval=5.0,
            extent_path=None,
        )
        return

    spark = get_spark(app_name=f"tps-run-{worker_key}")
    t0 = time.monotonic()
    result = example_controller(
        spark.read.parquet(data_path), worker_key, list(tiles), json.loads(config_json), restart
    )
    click.echo(json.dumps(result))
    click.echo(f"Done in {(time.monotonic() - t0) / 60:.1f} min", err=True)
    sys.exit(1 if result["failed_tiles"] else 0)


@main.command("run-controller")
@click.argument("controller_key")
@click.argument("worker_key")
@click.argument("configuration", type=click.Path(exists=True, dir_okay=False))
@click.argument("tiles", nargs=-1)
@click.option(
    "--threads",
    default=3,
    show_default=True,
    help="Parity option (reference cli.py:61-67). Spark's scheduler owns "
    "task parallelism; this caps concurrent tile tasks only insofar as it "
    "is forwarded to workers as config['threads'].",
)
@click.option("--restart", default=0, show_default=True, help="re-runs of failed tiles")
@click.option(
    "--monitor",
    "monitor_dir",
    default=None,
    help="Write per-tile resource-usage TSVs (recorder layout: timestamp, "
    "tile, pid, cpu_user, cpu_sys, rss) into this directory; read them "
    "back with plot-monitor-log.",
)
@click.option("--monitor-interval", default=5.0, show_default=True, help="seconds")
@click.option(
    "--extent",
    "extent_path",
    type=click.Path(exists=True, dir_okay=False),
    default=None,
    help="Single-polygon GeoJSON: select the tiles whose bbox geometry "
    "intersects the extent (tileconfig.py:128-194 semantics) instead of "
    "listing TILES. Requires features_tiles.boundaries with bbox columns.",
)
def run_controller_cmd(
    controller_key, worker_key, configuration, tiles, threads, restart,
    monitor_dir, monitor_interval, extent_path,
) -> None:
    """Reference ``run`` parity (cli.py:48-96): run CONTROLLER_KEY +
    WORKER_KEY over the tiles described by a bag3d-style CONFIGURATION
    YAML, optionally restricted to TILES (or 'all').

    The YAML's data sections each carry a ``path:`` key pointing at a
    parquet dataset (the engine's format swap for the reference's
    PostGIS tables; ``Engine.read_jdbc`` builds the native scan).
    Controller keys are matched case-insensitively like the reference's
    click.Choice(case_sensitive=False).
    """
    from tile_processor_spark.pipeline.config import (
        load_config_frames,
        parse_configuration,
    )
    from tile_processor_spark.pipeline.controller import (
        get_controller,
        list_controllers,
    )

    if tiles and extent_path:
        raise click.UsageError("give TILES or --extent, not both")
    resolved = {k.lower(): k for k in list_controllers()}.get(controller_key.lower())
    if resolved is None:
        raise click.ClickException(
            f"unknown controller {controller_key!r}; registered: {list_controllers()}"
        )
    cfg = parse_configuration(configuration)
    spark = get_spark(app_name=f"tps-run-{resolved}-{worker_key}")
    t0 = time.monotonic()
    frames = load_config_frames(spark, cfg)

    wcfg = dict(cfg.get("config") or {})
    wcfg["threads"] = threads
    if monitor_dir:
        wcfg["monitor_dir"] = monitor_dir
        wcfg["monitor_interval"] = monitor_interval
    out_dir = (cfg.get("output") or {}).get("dir")
    if out_dir and "out_dir" not in wcfg:
        wcfg["out_dir"] = str(out_dir)

    tile_list = list(tiles) or None
    if extent_path:
        from tile_processor_spark.pipeline.extent import read_extent
        from tile_processor_spark.pipeline.tiles import TileSet

        if "tile_index" not in frames:
            raise click.ClickException(
                "--extent needs features_tiles.boundaries (with "
                "xmin/ymin/xmax/ymax columns) in the configuration"
            )
        _, ewkb, _ = read_extent(extent_path)
        chosen = TileSet(frames["tile_index"]).intersecting_extent(ewkb)
        # tile set is dimension-sized by construction (the reference also
        # materializes the selected id list on the driver)
        tile_list = sorted(r.tile_id for r in chosen.collect())
        if not tile_list:
            raise click.ClickException("extent selects no tiles")
    ctrl = get_controller(resolved)
    kwargs = dict(
        worker_key=worker_key, tiles=tile_list, config=wcfg, restarts=restart
    )
    # Frames bind by parameter name (the reference's factory passes the
    # config file itself; here the frames are resolved DataFrames); a
    # **kwargs controller takes every frame. Any other parameter without
    # a default must be a frame the configuration has a path for.
    params = inspect.signature(ctrl).parameters.values()
    if any(p.kind is p.VAR_KEYWORD for p in params):
        kwargs.update(frames)
    for p in params:
        if p.name in frames:
            kwargs[p.name] = frames[p.name]
        elif p.name not in kwargs and p.default is p.empty and p.kind in (
            p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY
        ):
            raise click.ClickException(
                f"configuration lacks a path for the {p.name!r} frame "
                f"required by {resolved}"
            )
    result = ctrl(**kwargs)
    click.echo(json.dumps(result))
    click.echo(f"Done in {(time.monotonic() - t0) / 60:.1f} min", err=True)
    failed = (
        result.get("failed_tiles")
        if "failed_tiles" in result
        else [t for part in result.values() for t in part["failed_tiles"]]
    )
    sys.exit(1 if failed else 0)


@main.command("export-tile-inputs")
@click.argument("data_path")
@click.argument("out_dir")
@click.argument("tiles", nargs=-1)
def export_cmd(data_path, out_dir, tiles) -> None:
    """Per-tile extraction of a dataset into OUT_DIR (TileExporter)."""
    from tile_processor_spark.pipeline.controller import example_controller

    spark = get_spark(app_name="tps-export")
    result = example_controller(
        spark.read.parquet(data_path), "TileExporter", list(tiles), {"out_dir": out_dir}
    )
    click.echo(json.dumps(result))
    sys.exit(1 if result["failed_tiles"] else 0)


@main.command("list-workers")
def list_workers_cmd() -> None:
    from tile_processor_spark.pipeline.workers import list_workers

    for key in list_workers():
        click.echo(key)


@main.command("list-queries")
def list_queries_cmd() -> None:
    """Registered gate queries (the engine's capability inventory)."""
    from tile_processor_spark.plans.registry import all_specs

    for name, spec in sorted(all_specs().items()):
        click.echo(f"{name}\t{','.join(spec.tags)}")


_SCHEMA_DB_OPT = click.option(
    "--db",
    "db_path",
    default="~/.tile_processor_spark/schemas.json",
    show_default=True,
    help="schema registry JSON db",
)


def _registry(db_path: str):
    from pathlib import Path

    from tile_processor_spark.pipeline.config import SchemaRegistry

    p = Path(db_path).expanduser()
    p.parent.mkdir(parents=True, exist_ok=True)
    return SchemaRegistry(p)


@main.command("register-schema")
@click.argument("name")
@click.argument("schema_path")
@_SCHEMA_DB_OPT
def register_schema_cmd(name, schema_path, db_path) -> None:
    """Register a config-schema YAML under NAME (controller.py:72-95)."""
    _registry(db_path).register(name, schema_path)
    click.echo(f"registered {name} -> {schema_path}")


@main.command("list-schemas")
@_SCHEMA_DB_OPT
def list_schemas_cmd(db_path) -> None:
    """List registered config schemas (cli.py:146-175)."""
    for name, path in sorted(_registry(db_path).list().items()):
        click.echo(f"{name}\t{path}")


@main.command("remove-schema")
@click.argument("name")
@_SCHEMA_DB_OPT
def remove_schema_cmd(name, db_path) -> None:
    """Remove a registered config schema (controller.py:97-116)."""
    try:
        _registry(db_path).remove(name)
    except KeyError:
        raise click.ClickException(f"unknown schema {name!r}")
    click.echo(f"removed {name}")


@main.command("plot-monitor-log")
@click.argument("log_path")
@click.option(
    "--plot-dir",
    default=None,
    help="Also write per-tile memory/CPU charts here (S13 plot sink: "
    "reference-format PDFs via the built-in writer, plus SVG; "
    "recorder.py:106-133).",
)
def monitor_cmd(log_path, plot_dir) -> None:
    """Per-tile resource summary from a monitor TSV (recorder.py:75-133)."""
    from tile_processor_spark.pipeline.recorder import (
        parse_log,
        per_tile_summary,
        save_monitor_plots,
    )

    spark = get_spark(app_name="tps-monitor")
    log_df = parse_log(spark, log_path)
    for r in per_tile_summary(log_df).orderBy("tile").collect():
        click.echo(
            f"{r.tile}\tcpu_min={r.max_cpu_min:.2f}\trss_mb={r.peak_rss_mb:.1f}"
            f"\tsamples={r.n_samples}\twall_min={r.wall_min:.2f}"
        )
    if plot_dir:
        for path in save_monitor_plots(log_df, plot_dir):
            click.echo(f"wrote {path}")


@main.command("compact")
@click.argument("path")
@click.option("--partition-col", default=None, help="compact per-partition child dirs")
@click.option(
    "--target-mb", default=128, show_default=True, help="target file size in MB"
)
def compact_cmd(path, partition_col, target_mb) -> None:
    """Small-file compaction of a parquet dataset (sources/maintenance.py)."""
    from tile_processor_spark.sources.maintenance import (
        compact_dir,
        compact_partitioned,
    )

    spark = get_spark(app_name="tps-compact")
    target = target_mb * 1024 * 1024
    if partition_col:
        res = compact_partitioned(spark, path, partition_col, target)
        click.echo(
            f"partitions={res['partitions']} compacted={res['compacted']}"
        )
    else:
        res = compact_dir(spark, path, target)
        click.echo(
            f"files {res['files_before']} -> {res['files_after']} "
            f"({res['bytes']} bytes)"
        )


if __name__ == "__main__":
    main()
