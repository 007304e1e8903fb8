"""The streaming store rules are written once, and small frames built
from Python rows plan no Python task."""

from __future__ import annotations

import ast
import pathlib

from tests.conftest import SF_SMOKE

PKG = pathlib.Path(__file__).resolve().parents[1] / "tile_processor_spark"


def test_streaming_store_rules_are_written_once():
    """One ``foreachBatch`` starter, one swap-store reader (the only
    user of ``_recover``), one checkpoint run id, one small-frame
    builder, and no ``available_now`` option."""
    trees = {p.relative_to(PKG).as_posix(): ast.parse(p.read_text()) for p in PKG.rglob("*.py")}

    def sites(pred):
        return sorted(f for f, tree in trees.items() for n in ast.walk(tree) if pred(n))

    def calls(attr):
        return lambda n: (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
        )

    assert sites(calls("foreachBatch")) == ["streaming/store.py"]
    recover = sites(
        lambda n: (isinstance(n, ast.Name) and n.id == "_recover")
        or (isinstance(n, ast.Attribute) and n.attr == "_recover")
        or (isinstance(n, ast.alias) and n.name == "_recover")
    )
    assert set(recover) == {"sources/maintenance.py"}, recover
    run_id_defs = sites(
        lambda n: isinstance(n, ast.FunctionDef) and n.name.endswith("checkpoint_run_id")
    )
    assert run_id_defs == ["streaming/store.py"], run_id_defs
    assert sites(calls("createDataFrame")) == ["session.py"]
    local_frame = next(
        n for n in trees["session.py"].body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    assert sum(calls("createDataFrame")(n) for n in ast.walk(local_frame)) == 1
    with_available_now = sorted(
        f"{f}:{n.name}" for f, tree in trees.items() for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and "available_now" in {
            a.arg for a in n.args.posonlyargs + n.args.args + n.args.kwonlyargs
        }
    )
    assert not with_available_now, with_available_now


def test_small_frames_plan_no_python_task(spark, tmp_path):
    from tile_processor_spark.plans.relational_ext3 import price_band_assign
    from tile_processor_spark.sources.maintenance import read_swap_store
    from tile_processor_spark.streaming.cms import CMS_STORE_SCHEMA, cms_point_estimate
    from tile_processor_spark.streaming.rollup import read_rollup
    from tile_processor_spark.streaming.sessions import sessions_store_read
    from tile_processor_spark.streaming.topk import topk_estimate

    # a DataFrame from a Python list scans a Python RDD (ExistingRDD):
    # one Python task per partition on every action
    missing = str(tmp_path / "none")
    frames = {
        "empty swap store": read_swap_store(spark, missing, CMS_STORE_SCHEMA),
        "cms probe": cms_point_estimate(spark, missing, ["a", "b"]),
        "price bands": price_band_assign(spark, SF_SMOKE),
        "empty rollup": read_rollup(spark, missing),
        "empty topk": topk_estimate(spark, missing),
        "empty sessions": sessions_store_read(spark, missing),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)
    assert {r.k: r.est_cnt for r in frames["cms probe"].collect()} == {"a": 0, "b": 0}
