"""Engine facade (library embedding API, SURVEY §3.3)."""

from __future__ import annotations

import pytest

from tile_processor_spark import Engine


@pytest.fixture
def engine(spark):
    return Engine(spark, config={"worker": {"fail_tiles": []}})


def test_engine_run_contract(engine, spark):
    data = spark.createDataFrame(
        [(t, v) for t in ("a", "b", "c") for v in range(3)], "tile_id string, v int"
    )
    res = engine.run(data, worker="Example", tiles=["a", "c"])
    assert res == {"failed_tiles": [], "nr_success": 2}
    # per-call config overrides merged over engine config
    res2 = engine.run(data, worker="Example", config={"fail_tiles": ["b"]}, restarts=0)
    assert res2 == {"failed_tiles": ["b"], "nr_success": 2}


def test_engine_from_config(tmp_path, spark):
    p = tmp_path / "cfg.yml"
    p.write_text(
        "features: {table: f}\nelevation: {directories: {}}\noutput: {dir: /tmp/o}\n"
    )
    eng = Engine.from_config(p, spark=spark)
    assert eng.config["features"]["table"] == "f"


def test_engine_query_registry(engine):
    specs = engine.queries()
    assert "q1_pricing_summary" in specs
    df = engine.query("distinct_projection", "/root/testdata/sf0.001")
    assert df.count() >= 1


def test_engine_ahn_tile_set(engine, spark):
    elev = spark.createDataFrame(
        [
            ("e1", 0.0, 0.0, 10.0, 10.0, 2),
            ("e2", 10.0, 0.0, 20.0, 10.0, 3),
            ("e3", 30.0, 0.0, 40.0, 10.0, 3),
        ],
        "tile_id string, xmin double, ymin double, xmax double, ymax double, version int",
    )
    ahn = engine.ahn_tile_set(elev)
    assert {r.version for r in ahn.versions().collect()} == {2, 3}
    # e1/e2 touch across versions; e3 is isolated
    assert {r.tile_id for r in ahn.version_boundary().collect()} == {"e1", "e2"}
    got = {(r.version, r.tile_id) for r in ahn.version_not_boundary().collect()}
    assert got == {(3, "e3")}


def test_engine_connected_components_and_zorder(spark, tmp_path):
    from tile_processor_spark.engine import Engine

    eng = Engine(spark)
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "a long, b long")
    comp = {r["node"]: r["component"] for r in eng.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    df = spark.range(256).selectExpr("id", "id % 16 as xi", "id % 13 as yi")
    eng.write_zordered(df, str(tmp_path / "z"), "xi", "yi", num_files=4)
    assert spark.read.parquet(str(tmp_path / "z")).count() == 256


def test_engine_rollup_and_compact(spark, tmp_path):
    from tile_processor_spark.engine import Engine
    from tile_processor_spark.streaming.rollup import read_rollup

    eng = Engine(spark)
    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00", 1, "click", 2.5, "{}"),
         (2, "2024-01-01 10:55:00", 2, "click", 1.5, "{}"),
         (3, "2024-01-01 11:05:00", 1, "view", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["col"]).col("ts").cast("timestamp"))
    store = str(tmp_path / "store")
    eng.merge_rollup(ev, store)
    rows = {(r.event_type, int(r.n_events)) for r in read_rollup(spark, store).collect()}
    assert rows == {("click", 2), ("view", 1)}

    frag = str(tmp_path / "frag")
    spark.range(100).repartition(8).write.parquet(frag)
    res = eng.compact(frag)
    assert res["files_after"] < res["files_before"]


def test_engine_curate_writes_training_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from tile_processor_spark.engine import Engine

    eng = Engine(spark)
    out = str(tmp_path / "curated")
    manifest = eng.curate("/root/testdata/sf0.01", out)
    n = manifest.count()
    assert n > 0
    back = spark.read.parquet(out)
    assert back.count() == n
    # layout: split/shard partition dirs exist and every file's rows are
    # sorted by pos_key (the loader's streaming order)
    assert {r.split for r in back.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }
    one = back.filter((F.col("split") == "train")).limit(0)
    assert {"doc_id", "quality", "pos_key"} <= set(one.columns)
    files = spark.read.parquet(out).inputFiles()
    assert any("/split=train/" in f and "/shard=" in f for f in files)
    import pyarrow.parquet as pq

    probe = next(f for f in files if "/split=train/" in f)
    t = pq.read_table(probe.replace("file:", "")).to_pydict()
    keys = list(zip(t["pos_key"], t["doc_id"]))
    assert keys == sorted(keys)


def test_engine_sql_surface(spark):
    from tile_processor_spark.engine import Engine

    eng = Engine(spark)
    df = eng.sql(
        "SELECT COUNT(*) AS n FROM documents", sf_dir="/root/testdata/sf0.001"
    )
    assert df.collect()[0].n > 0


def test_engine_snapshot_roundtrip(spark, tmp_path):
    from tile_processor_spark.engine import Engine

    eng = Engine(spark)
    tbl = str(tmp_path / "snap")
    df = spark.range(10).withColumnRenamed("id", "k")
    assert eng.commit_snapshot(df, tbl) == 1
    assert eng.commit_snapshot(df.limit(4), tbl) == 2
    assert eng.read_table_snapshot(tbl).count() == 4
    assert eng.read_table_snapshot(tbl, version=1).count() == 10
    # round 16: row-level DELETE + AS-OF time travel through the facade
    import time

    assert eng.delete_from_snapshot(tbl, [("k", ">=", 2)]) == 3
    assert eng.read_table_snapshot(tbl).count() == 2
    assert eng.read_table_snapshot(tbl, as_of=time.time()).count() == 2
