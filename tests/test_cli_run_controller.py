"""Reference CLI ``run`` parity (cli.py:48-96, tests/test_cli.py:29-38):
drive a controller + worker end-to-end from the CLI over a bag3d-style
YAML config, and the Engine.read_jdbc option-builder contract
(db.py:23-41 — the native form of the S1 scan)."""

from __future__ import annotations

import json

import pytest
from click.testing import CliRunner

from tile_processor_spark.cli import main
from tile_processor_spark.engine import Engine


@pytest.fixture
def ahn_fixture(spark, tmp_path):
    """Parquet fixtures + YAML mirroring bag3d_config_geof.yml, with the
    engine's path: extension for the format-swapped sources."""
    features = tmp_path / "features"
    tile_index = tmp_path / "tile_index"
    elev_index = tmp_path / "elev_index"
    spark.createDataFrame(
        [("t0", 1), ("t0", 2), ("t1", 3)], "tile_id string, v int"
    ).write.parquet(str(features))
    spark.createDataFrame(
        [("t0", 0.0, 0.0, 10.0, 10.0), ("t1", 10.0, 0.0, 20.0, 10.0)],
        "tile_id string, xmin double, ymin double, xmax double, ymax double",
    ).write.parquet(str(tile_index))
    spark.createDataFrame(
        [(0.0, 0.0, 9.0, 9.0, 2), (1.0, 1.0, 8.0, 8.0, 3)],
        "xmin double, ymin double, xmax double, ymax double, version int",
    ).write.parquet(str(elev_index))
    cfg = tmp_path / "cfg.yml"
    cfg.write_text(
        f"""
database:
    dbname: db3dbag
    host: localhost
    port: 5560
    user: db3dbag_user
    password: db3dbag_1234
features:
    schema: reconstruction_input
    table: reconstruction_input
    path: {features}
    field: {{pk: gid, geometry: geometrie, uniqueid: identificatie}}
features_tiles:
    boundaries: {{path: {tile_index}}}
elevation:
    directories:
        /data/AHN3: {{file_pattern: "t_{{tile}}.laz", priority: 1}}
elevation_tiles:
    boundaries: {{path: {elev_index}}}
output:
    dir: {tmp_path / "out"}
"""
    )
    return cfg


def test_run_controller_ahn_end_to_end(spark, ahn_fixture):
    # Case-insensitive controller key like the reference's click.Choice;
    # t1 has no elevation coverage → P9-skipped, t0 succeeds.
    r = CliRunner().invoke(
        main, ["run-controller", "ahn", "Example", str(ahn_fixture), "all"]
    )
    assert r.exit_code == 0, r.output
    # CliRunner mixes the "Done in ..." stderr line into output: take
    # the JSON line.
    json_line = next(
        ln for ln in r.output.strip().splitlines() if ln.startswith("{")
    )
    assert json.loads(json_line) == {"failed_tiles": [], "nr_success": 1}


def test_run_alias_reference_shape(spark, ahn_fixture):
    # The reference's exact single-command spelling (cli.py:48-96):
    # ``run <controller> <worker> <config> <tiles...>`` — the repo's
    # ``run`` detects the controller key and dispatches to
    # run-controller, so reference command lines work verbatim.
    r = CliRunner().invoke(
        main, ["run", "ahn", "Example", str(ahn_fixture), "all"]
    )
    assert r.exit_code == 0, r.output
    json_line = next(
        ln for ln in r.output.strip().splitlines() if ln.startswith("{")
    )
    assert json.loads(json_line) == {"failed_tiles": [], "nr_success": 1}


def test_run_worker_shape_wins_for_dual_registered_key(spark, tmp_path):
    # "Example" names BOTH a controller and a worker; with a parquet
    # data path as the second argument the invocation must stay
    # worker-shaped (the controller dispatch requires a worker key
    # there).
    data = tmp_path / "data"
    spark.createDataFrame(
        [("t0", 1), ("t1", 2)], "tile_id string, v int"
    ).write.parquet(str(data))
    r = CliRunner().invoke(main, ["run", "Example", str(data), "all"])
    assert r.exit_code == 0, r.output
    json_line = next(
        ln for ln in r.output.strip().splitlines() if ln.startswith("{")
    )
    assert json.loads(json_line)["failed_tiles"] == []


def test_run_alias_missing_config_is_loud(ahn_fixture):
    r = CliRunner().invoke(
        main, ["run", "AHN", "Example", "/nonexistent/cfg.yml", "all"]
    )
    assert r.exit_code != 0 and "does not exist" in r.output


def test_run_controller_unknown_key(ahn_fixture):
    r = CliRunner().invoke(
        main, ["run-controller", "nope", "Example", str(ahn_fixture)]
    )
    assert r.exit_code != 0 and "unknown controller" in r.output


def test_run_controller_monitor_tsv(spark, ahn_fixture, tmp_path):
    # --monitor wires monitor_dir/interval into the worker config: the
    # subprocess worker then emits recorder-layout TSVs that
    # plot-monitor-log parses.
    mon = tmp_path / "mon"
    out = tmp_path / "subout"
    out.mkdir()
    cfgd = {"cmd": ["cat"], "out_dir": str(out), "monitor_interval": 0.1}
    import yaml

    y = yaml.safe_load(ahn_fixture.read_text())
    y["config"] = cfgd
    ahn_fixture.write_text(yaml.safe_dump(y))
    r = CliRunner().invoke(
        main,
        [
            "run-controller", "AHN", "Subprocess", str(ahn_fixture), "all",
            "--monitor", str(mon), "--monitor-interval", "0.1",
        ],
    )
    assert r.exit_code == 0, r.output
    tsvs = list(mon.glob("tile=*.tsv"))
    assert tsvs, "monitor TSVs missing"
    from tile_processor_spark.pipeline.recorder import parse_log, per_tile_summary

    summary = per_tile_summary(parse_log(spark, str(mon))).collect()
    assert any(row.tile == "t0" for row in summary)


BAG3D_CFG = {
    "database": {
        "dbname": "db3dbag", "host": "localhost", "port": 5560,
        "user": "db3dbag_user", "password": "db3dbag_1234",
    },
    "features": {
        "schema": "reconstruction_input",
        "table": "reconstruction_input",
        "field": {"pk": "gid", "geometry": "geometrie", "uniqueid": "identificatie"},
    },
    "elevation": {"directories": {}},
    "output": {"dir": "/tmp/out"},
}


def test_jdbc_options_contract(spark):
    eng = Engine(spark=spark, config=BAG3D_CFG)
    opts = eng.jdbc_options(num_partitions=8, lower_bound=0, upper_bound=100000)
    assert opts["url"] == "jdbc:postgresql://localhost:5560/db3dbag"
    assert opts["dbtable"] == "reconstruction_input.reconstruction_input"
    assert opts["driver"] == "org.postgresql.Driver"
    assert opts["user"] == "db3dbag_user" and opts["password"] == "db3dbag_1234"
    # partition column defaults to the section's field.pk — the same key
    # the reference splits work on
    assert opts["partitionColumn"] == "gid"
    assert opts["numPartitions"] == "8"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "100000"
    # a partitioned read without bounds must refuse, not probe the DB
    with pytest.raises(ValueError, match="lower_bound"):
        eng.jdbc_options(num_partitions=8)
    # option-building must not connect: constructing the reader is safe
    reader = eng.read_jdbc(num_partitions=8, lower_bound=0, upper_bound=100)
    assert reader is not None


def test_jdbc_options_consistent_with_dboutput(spark):
    # The read path and the write path (DbOutput.jdbc_url) must build
    # the same URL from the same params.
    from tile_processor_spark.pipeline.output import DbOutput, DbParams

    eng = Engine(spark=spark, config=BAG3D_CFG)
    p = DbParams(dbname="db3dbag", host="localhost", port=5560, user="db3dbag_user")
    assert eng.jdbc_options()["url"] == DbOutput(p).jdbc_url


def test_run_controller_extent_selection(spark, ahn_fixture, tmp_path):
    # Extent polygon covering only t0's tile square: --extent replaces
    # the positional tile list (tileconfig.py:128-194 semantics).
    import json as _json

    ext = tmp_path / "extent.geojson"
    ext.write_text(_json.dumps({
        "type": "Feature",
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[1, 1], [9, 1], [9, 9], [1, 9], [1, 1]]],
        },
    }))
    r = CliRunner().invoke(
        main,
        ["run-controller", "AHN", "Example", str(ahn_fixture),
         "--extent", str(ext)],
    )
    assert r.exit_code == 0, r.output
    json_line = next(
        ln for ln in r.output.strip().splitlines() if ln.startswith("{")
    )
    assert json.loads(json_line) == {"failed_tiles": [], "nr_success": 1}

    # an extent off the grid selects nothing → explicit error
    ext2 = tmp_path / "nowhere.geojson"
    ext2.write_text(_json.dumps({
        "type": "Polygon",
        "coordinates": [[[500, 500], [510, 500], [510, 510], [500, 510], [500, 500]]],
    }))
    r2 = CliRunner().invoke(
        main,
        ["run-controller", "AHN", "Example", str(ahn_fixture),
         "--extent", str(ext2)],
    )
    assert r2.exit_code != 0 and "selects no tiles" in r2.output


def test_run_controller_tiles_with_extent_is_usage_error(spark, ahn_fixture, tmp_path):
    # --extent selects the tiles "instead of listing TILES": both at once
    # is refused, not resolved by silently dropping the listed tiles.
    ext = tmp_path / "extent.geojson"
    ext.write_text(json.dumps({
        "type": "Polygon",
        "coordinates": [[[1, 1], [9, 1], [9, 9], [1, 9], [1, 1]]],
    }))
    r = CliRunner().invoke(
        main,
        ["run-controller", "AHN", "Example", str(ahn_fixture), "t1",
         "--extent", str(ext)],
    )
    assert r.exit_code == 2, r.output
    assert "not both" in r.output


def test_run_controller_unknown_worker_not_misreported(spark, ahn_fixture):
    # A KeyError raised INSIDE the run (unknown worker key) must surface
    # as its own error, not be misdiagnosed as a missing config frame.
    r = CliRunner().invoke(
        main, ["run-controller", "AHN", "NoSuchWorker", str(ahn_fixture), "all"],
        catch_exceptions=True,
    )
    assert r.exit_code != 0
    assert "configuration lacks" not in r.output
    assert isinstance(r.exception, KeyError) and "NoSuchWorker" in str(r.exception)


def test_run_controller_binds_only_named_frames(spark, ahn_fixture, monkeypatch):
    # A user controller naming only the frame it uses: the configuration's
    # other path: sections (tile_index, elevation_index) are not passed.
    from tile_processor_spark.pipeline import controller as ctl

    def features_only(features, worker_key, tiles=None, config=None, restarts=0):
        return ctl.example_controller(features, worker_key, tiles, config, restarts)

    monkeypatch.setattr(ctl, "_REGISTRY", dict(ctl._REGISTRY))
    ctl.register_controller("FeaturesOnly", features_only)
    r = CliRunner().invoke(
        main, ["run-controller", "FeaturesOnly", "Example", str(ahn_fixture), "all"]
    )
    assert r.exit_code == 0, r.output
    json_line = next(
        ln for ln in r.output.strip().splitlines() if ln.startswith("{")
    )
    assert json.loads(json_line) == {"failed_tiles": [], "nr_success": 2}


def test_jdbc_num_partitions_without_pk_refuses(spark):
    cfg = {k: dict(v) if isinstance(v, dict) else v for k, v in BAG3D_CFG.items()}
    cfg["features"] = {"schema": "s", "table": "t"}  # no field.pk
    eng = Engine(spark=spark, config=cfg)
    with pytest.raises(ValueError, match="no partition column"):
        eng.jdbc_options(num_partitions=8, lower_bound=0, upper_bound=10)
