"""Orchestration contract tests — mirrors the reference's pure unit tier
(tests/test_processor.py:44-88: success map, failure collection, restart
counting; tests/test_tiles.py: selection semantics)."""

from __future__ import annotations

import ast
import inspect
import pathlib

import pytest
from pyspark.sql import functions as F

from tile_processor_spark.pipeline.processor import run_with_retry
from tile_processor_spark.pipeline.recorder import parse_log, per_tile_summary
from tile_processor_spark.pipeline.tiles import TileSet
from tile_processor_spark.pipeline.workers import list_workers, run_worker_over_tiles


@pytest.fixture
def tiled_df(spark):
    return spark.createDataFrame(
        [(t, v) for t in ("a", "b", "c") for v in range(5)], "tile_id string, v int"
    )


def test_worker_status_rows(spark, tiled_df):
    status = run_worker_over_tiles(tiled_df, "Example").collect()
    assert {r.tile_id: r.success for r in status} == {"a": True, "b": True, "c": True}
    assert all(r.n_rows == 5 for r in status)


def test_worker_failure_captured_not_raised(spark, tiled_df):
    status = run_worker_over_tiles(
        tiled_df, "Example", {"fail_tiles": ["b"]}
    ).collect()
    by_tile = {r.tile_id: r for r in status}
    assert by_tile["b"].success is False
    assert "simulated failure" in by_tile["b"].error
    assert by_tile["a"].success and by_tile["c"].success


def test_retry_contract(spark, tiled_df):
    # Deterministic failure: retries exhaust, result contract preserved
    # ({'failed_tiles': [...], 'nr_success': n}, processor.py:125).
    res = run_with_retry(tiled_df, "Example", {"fail_tiles": ["b", "c"]}, restarts=1)
    assert res == {"failed_tiles": ["b", "c"], "nr_success": 1}
    res2 = run_with_retry(tiled_df, "Example", restarts=0)
    assert res2 == {"failed_tiles": [], "nr_success": 3}


def test_builtin_workers_registered():
    # worker.py:754-763 registration parity (Spark-representable subset).
    assert {
        "Example",
        "TileExporter",
        "PercentileHeights",
        "Subprocess",
        "AlphaShape",
        "TIN",
    } <= set(list_workers())


@pytest.fixture
def point_tiles(spark):
    # two tiles of deterministic scattered points with a curved z surface
    rows = []
    for t, ox in (("ta", 0.0), ("tb", 100.0)):
        for k in range(60):
            x = ox + (k * 17 % 50) + 0.3
            y = (k * 29 % 50) + 0.7
            rows.append((t, x, y, 0.02 * (x - ox - 25) ** 2 + 0.01 * (y - 25) ** 2))
    return spark.createDataFrame(rows, "tile_id string, x double, y double, z double")


def test_alpha_shape_worker(spark, point_tiles):
    out = (
        run_worker_over_tiles(point_tiles, "AlphaShape", {"r_max": 30.0})
        .collect()
    )
    assert all(r.success for r in out)
    # direct worker output (not just status): run via the engine surface
    from tile_processor_spark.pipeline.workers import get_worker

    pdf = point_tiles.filter(F.col("tile_id") == "ta").toPandas()
    row = get_worker("AlphaShape")("ta", pdf, {"r_max": 30.0}).iloc[0]
    assert row["n_triangles"] > 0 and row["area"] > 0 and row["perimeter"] > 0


def test_tin_worker_threshold(spark, point_tiles):
    from tile_processor_spark.pipeline.workers import get_worker

    pdf = point_tiles.filter(F.col("tile_id") == "tb").toPandas()
    res = get_worker("TIN")("tb", pdf, {"max_error": 1.0}).iloc[0]
    assert res["max_error"] <= 1.0
    assert 0 < res["n_selected"] < len(pdf)


def test_ahn_tin_controller(spark, point_tiles):
    from tile_processor_spark.pipeline.controller import get_controller, list_controllers

    assert {"Example", "AHN", "AHNboundary", "AHNTin", "AHNboundaryTIN"} <= set(
        list_controllers()
    )
    index = spark.createDataFrame([("ta",), ("tb",)], "tile_id string")
    res = get_controller("AHNTin")(
        point_tiles, index, tiles=["ta"], config={"max_error": 1.0}
    )
    assert res == {"failed_tiles": [], "nr_success": 1}
    # AHNboundaryTIN is the boundary controller with the TIN worker by default
    params = inspect.signature(get_controller("AHNboundaryTIN")).parameters
    assert params["worker_key"].default == "TIN"


def test_subprocess_worker_runs_external_binary(spark, tiled_df, tmp_path):
    # run_subprocess parity (worker.py:694-751): python -c stands in for
    # the external binary; it reads the tile's CSV on stdin and emits a
    # transformed product on stdout.
    cmd = [
        "python",
        "-c",
        "import sys; d=sys.stdin.read(); sys.stdout.write(d.upper())",
    ]
    res = run_with_retry(
        tiled_df, "Subprocess", {"cmd": cmd, "out_dir": str(tmp_path)}
    )
    assert res == {"failed_tiles": [], "nr_success": 3}
    names = sorted(p.name for p in tmp_path.iterdir())
    assert names == ["tile=a.out", "tile=b.out", "tile=c.out"]
    body = (tmp_path / "tile=a.out").read_text()
    assert body.startswith("TILE_ID,V") and "A,0" in body


def test_subprocess_worker_idempotent_rerun(spark, tiled_df, tmp_path):
    # Overwrite-by-tile: a driver-level re-run (or a Spark task retry)
    # must replace per-tile outputs, never duplicate or append them.
    cfg = {
        "cmd": ["python", "-c", "import sys; sys.stdout.write(sys.stdin.read())"],
        "out_dir": str(tmp_path),
    }
    for _ in range(2):
        res = run_with_retry(tiled_df, "Subprocess", cfg)
        assert res["nr_success"] == 3
    names = sorted(p.name for p in tmp_path.iterdir())
    assert names == ["tile=a.out", "tile=b.out", "tile=c.out"]  # no extras
    # exactly one header + 5 rows per tile — not doubled by the re-run
    assert (tmp_path / "tile=b.out").read_text().strip().count("\n") == 5


def test_subprocess_worker_monitor_tsv(spark, tiled_df, tmp_path):
    # Monitor produce side (reference worker.py:718-736): with
    # monitor_dir set, the worker samples the child's CPU/RSS every
    # monitor_interval seconds into the TSV layout that the repo's own
    # parse_log / per_tile_summary consume — the full round trip.
    out_dir = tmp_path / "out"
    mon_dir = tmp_path / "monitor"
    out_dir.mkdir()
    cmd = [
        "python",
        "-c",
        "import sys, time; d=sys.stdin.read(); time.sleep(0.4); sys.stdout.write(d)",
    ]
    res = run_with_retry(
        tiled_df,
        "Subprocess",
        {
            "cmd": cmd,
            "out_dir": str(out_dir),
            "monitor_dir": str(mon_dir),
            "monitor_interval": 0.05,
        },
    )
    assert res == {"failed_tiles": [], "nr_success": 3}
    log = parse_log(spark, str(mon_dir))
    summary = {r.tile: r for r in per_tile_summary(log).collect()}
    assert set(summary) == {"a", "b", "c"}
    for r in summary.values():
        assert r.n_samples >= 1
        assert r.peak_rss_mb > 0
        assert r.max_cpu_min >= 0


def test_job_monitor_tsv(spark, tiled_df, tmp_path):
    # Driver-side engine monitor (SURVEY §7.6 metrics→TSV): sample the
    # JVM's CPU/RSS while a Spark job runs, then read the log back
    # through the same recorder tooling as the subprocess monitor.
    from tile_processor_spark.pipeline.monitor import JobMonitor

    mon_dir = tmp_path / "mon"
    with JobMonitor(spark, str(mon_dir), label="agg_job", interval=0.05) as jm:
        for _ in range(3):
            tiled_df.groupBy("tile_id").count().collect()
    summary = {r.tile: r for r in per_tile_summary(parse_log(spark, str(mon_dir))).collect()}
    assert set(summary) == {"agg_job"}
    assert summary["agg_job"].n_samples >= 1
    assert summary["agg_job"].peak_rss_mb > 0
    assert len(jm.stage_samples) == summary["agg_job"].n_samples


def test_subprocess_worker_failure_collected(spark, tiled_df, tmp_path):
    # returncode != 0 → success=False status row (reference worker.py:751),
    # collected by the retry loop rather than failing the job.
    cfg = {
        "cmd": ["python", "-c", "import sys; sys.exit(3)"],
        "out_dir": str(tmp_path),
    }
    res = run_with_retry(tiled_df, "Subprocess", cfg)
    assert res == {"failed_tiles": ["a", "b", "c"], "nr_success": 0}


def test_subprocess_worker_timeout_kills_and_keeps_monitor_tsv(spark, tiled_df, tmp_path):
    # A child past timeout_s is killed and its tile fails; no product is
    # written, but the sampler's TSV for the tile is.
    out_dir = tmp_path / "out"
    mon_dir = tmp_path / "monitor"
    out_dir.mkdir()
    cfg = {
        "cmd": ["python", "-c", "import time; time.sleep(30)"],
        "out_dir": str(out_dir),
        "timeout_s": 1,
        "monitor_dir": str(mon_dir),
        "monitor_interval": 0.05,
    }
    res = run_with_retry(tiled_df, "Subprocess", cfg)
    assert res == {"failed_tiles": ["a", "b", "c"], "nr_success": 0}
    assert not list(out_dir.glob("tile=*.out"))
    summary = {r.tile: r for r in per_tile_summary(parse_log(spark, str(mon_dir))).collect()}
    assert set(summary) == {"a", "b", "c"}
    assert all(r.n_samples >= 1 for r in summary.values())


def test_exporter_writes_per_tile(spark, tiled_df, tmp_path):
    res = run_with_retry(tiled_df, "TileExporter", {"out_dir": str(tmp_path)})
    assert res["nr_success"] == 3
    assert sorted(p.name for p in tmp_path.iterdir()) == [
        "tile=a.parquet", "tile=b.parquet", "tile=c.parquet",
    ]


def test_tileset_with_list_warns_and_filters(spark, caplog):
    idx = spark.createDataFrame([("t1",), ("t2",), ("t3",)], "tile_id string")
    ts = TileSet(idx)
    for select in (ts.with_list, ts.configure):
        caplog.clear()
        with caplog.at_level("WARNING"):
            got = {r.tile_id for r in select(["t1", "nope", "t3"]).collect()}
        assert got == {"t1", "t3"}
        assert any("nope" in rec.message for rec in caplog.records)


def test_tileset_with_list_raises_when_none_match(spark):
    ts = TileSet(spark.createDataFrame([("t1",)], "tile_id string"))
    with pytest.raises(ValueError, match="none of the requested"):
        ts.with_list(["zzz"])


def test_tileset_with_list_result_is_local(spark):
    # a DataFrame from a Python list scans a Python RDD (ExistingRDD):
    # one Python task per partition on every action
    ts = TileSet(spark.range(5).selectExpr("concat('t', id) AS tile_id"))
    got = ts.with_list(["t1", "t4", "t1", "nope"])
    assert "ExistingRDD" not in got._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.tile_id for r in got.collect()) == ["t1", "t1", "t4"]


def test_tileset_all_and_reorder(spark):
    idx = spark.createDataFrame([("t1",), ("t1",), ("t2",)], "tile_id string")
    ts = TileSet(idx)
    assert {r.tile_id for r in ts.all_in_index().collect()} == {"t1", "t2"}
    for request in (None, [], ["all"]):
        assert sorted(r.tile_id for r in ts.configure(request).collect()) == ["t1", "t2"]
    # deterministic seed → stable order
    o1 = [r.tile_id for r in TileSet.reorder(ts.all_in_index(), seed=7).collect()]
    o2 = [r.tile_id for r in TileSet.reorder(ts.all_in_index(), seed=7).collect()]
    assert o1 == o2 and set(o1) == {"t1", "t2"}


def test_recorder_roundtrip(spark, tmp_path):
    log = tmp_path / "monitor.tsv"
    rows = [
        "2024-01-01T00:00:00\tt1\t100\t60.0\t30.0\t1048576",
        "2024-01-01T00:01:00\tt1\t100\t120.0\t60.0\t2097152",
        "2024-01-01T00:00:00\tt2\t101\t6.0\t6.0\t1048576",
    ]
    log.write_text("\n".join(rows) + "\n")
    df = parse_log(spark, str(log))
    summary = {r.tile: r for r in per_tile_summary(df).collect()}
    assert summary["t1"].max_cpu_min == pytest.approx(3.0)  # (120+60)/60
    assert summary["t1"].peak_rss_mb == pytest.approx(2.0)
    assert summary["t1"].n_samples == 2
    assert summary["t1"].wall_min == pytest.approx(1.0)
    assert summary["t2"].max_cpu_min == pytest.approx(0.2)


def test_monitor_plot_sink(spark, tmp_path):
    # S13 (recorder.save_mem_plot/save_cpu_log, recorder.py:106-133) with
    # the documented PDF→SVG format swap: one polyline per tile.
    from tile_processor_spark.pipeline.recorder import parse_log, save_monitor_plots

    log = tmp_path / "monitor.tsv"
    rows = [
        "2024-01-01T00:00:00\tt1\t100\t60.0\t30.0\t1048576",
        "2024-01-01T00:01:00\tt1\t100\t120.0\t60.0\t2097152",
        "2024-01-01T00:00:00\tt2\t101\t6.0\t6.0\t1048576",
    ]
    log.write_text("\n".join(rows) + "\n")
    written = save_monitor_plots(parse_log(spark, str(log)), str(tmp_path / "plots"))
    assert sorted(p.split("/")[-1] for p in written) == [
        "cpu_time.pdf", "cpu_time.svg", "memory_usage.pdf", "memory_usage.svg",
    ]
    body = (tmp_path / "plots" / "memory_usage.svg").read_text()
    assert body.startswith("<svg") and body.count("<polyline") == 2
    assert "t1" in body and "t2" in body
    # PDFs (reference format): valid header/trailer, xref offset resolves
    # to the xref table, both tiles appear as text operands.
    for pdf_name in ("memory_usage.pdf", "cpu_time.pdf"):
        raw = (tmp_path / "plots" / pdf_name).read_bytes()
        assert raw.startswith(b"%PDF-1.4") and raw.rstrip().endswith(b"%%EOF")
        xref_at = int(raw.rsplit(b"startxref", 1)[1].split()[0])
        assert raw[xref_at : xref_at + 4] == b"xref"
        assert b"(t1)" in raw and b"(t2)" in raw


def test_full_reference_worker_registry_parity():
    # All nine reference registrations (worker.py:754-763) resolve here,
    # external-binary ones under their reference names via the
    # subprocess/TIN analogues.
    assert {
        "Example", "ExampleDb", "3dfier", "3dfierTIN",
        "BuildingReconstruction", "BR-AHN34-Compare", "PCRasterise",
        "AlphaShape", "TileExporter",
    } <= set(list_workers())


def test_example_db_worker_builds_reference_dsn(spark, tiled_df):
    from tile_processor_spark.pipeline.workers import get_worker
    import pandas as pd

    fn = get_worker("ExampleDb")
    out = fn("T25GN1", pd.DataFrame({"v": [1, 2]}), {
        "db": {"dbname": "baz", "host": "localhost", "port": 5432, "user": "foo",
               "password": "bar"},
        "table": "tiles",
    })
    assert out["dsn"].iloc[0] == (
        "PG:dbname=baz host=localhost port=5432 user=foo password=bar "
        "tables=tiles_t25gn1"
    )
    assert out["n_rows"].iloc[0] == 2


def test_rasterise_worker_cells(spark, point_tiles):
    status = run_worker_over_tiles(point_tiles, "PCRasterise", {"cell": 10.0})
    rows = {r.tile_id: r for r in status.collect()}
    assert rows["ta"].success and rows["tb"].success
    # direct check of the cell math on one tile
    from tile_processor_spark.pipeline.workers import get_worker
    pdf = point_tiles.filter(F.col("tile_id") == "ta").toPandas()
    cells = get_worker("PCRasterise")("ta", pdf, {"cell": 10.0})
    assert (cells["n"] > 0).all()
    assert cells["n"].sum() == len(pdf)
    assert set(cells.columns) == {"tile_id", "cx", "cy", "n", "z_mean"}


def test_ahn34_compare_worker(spark):
    import pandas as pd
    from tile_processor_spark.pipeline.workers import get_worker

    pdf = pd.DataFrame({
        "version": [3] * 50 + [4] * 50,
        "z": [float(i) for i in range(50)] + [float(i) + 2.5 for i in range(50)],
    })
    out = get_worker("BR-AHN34-Compare")("t1", pdf, {})
    assert out["delta"].iloc[0] == pytest.approx(2.5)


PKG = pathlib.Path(__file__).resolve().parents[1] / "tile_processor_spark"


def test_tile_run_rules_are_written_once():
    """The tiles request is decided in ``tiles.py`` alone, one sampler
    reads ``/proc``, the subprocess worker has one launch, no
    orchestration function takes a ``tile_col``, and the CLI and the
    spatial gate rows select tiles and run the alpha-shape and TIN
    kernels only through ``tiles.py`` and the registered workers."""
    trees = {p.relative_to(PKG).as_posix(): ast.parse(p.read_text()) for p in PKG.rglob("*.py")}
    sentinel = sorted(
        f for f, tree in trees.items() for n in ast.walk(tree)
        if isinstance(n, (ast.List, ast.Tuple)) and ast.unparse(n) in ("['all']", "('all',)")
    )
    assert sentinel == ["pipeline/tiles.py"], sentinel
    samplers = [
        f for f, tree in trees.items() for n in ast.walk(tree)
        if isinstance(n, ast.Call) and ast.unparse(n.func).endswith("_proc_cpu_rss")
    ]
    assert samplers == ["pipeline/monitor.py"], samplers
    assert "subprocess.run(" not in (PKG / "pipeline" / "workers.py").read_text()
    with_tile_col = sorted(
        f"{f}:{n.name}" for f, tree in trees.items()
        if f.startswith("pipeline/") or f in ("engine.py", "cli.py")
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and "tile_col" in {a.arg for a in n.args.args + n.args.kwonlyargs}
    )
    assert not with_tile_col, with_tile_col

    def called(f: str) -> set[str]:
        return {ast.unparse(n.func) for n in ast.walk(trees[f]) if isinstance(n, ast.Call)}

    assert not {c for c in called("cli.py") if c.split(".")[-1] in ("st_intersects", "st_rect")}
    gate = "plans/spatial_gate.py"
    gate_defs = {n.name for n in ast.walk(trees[gate]) if isinstance(n, ast.FunctionDef)}
    assert not gate_defs & {"_version_border_tiles", "_pentagon_ray"}, gate_defs
    copies = {"region_relate_join", "st_contains_point_ring", "tin.alpha_shape", "tin.tin_simplify"}
    assert not called(gate) & copies, called(gate) & copies
    tiles_refs = [
        n for n in ast.walk(trees["pipeline/tiles.py"])
        if (isinstance(n, ast.Name) and n.id == "st_contains_point")
        or (isinstance(n, ast.Attribute) and n.attr == "st_contains_point")
        or (isinstance(n, ast.alias) and n.name == "st_contains_point")
    ]
    assert not tiles_refs, [ast.dump(n) for n in tiles_refs]
