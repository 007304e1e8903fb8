"""The session cache (``session.session_cached``): one build per
(builder, args) while a SparkContext lives, with per-builder counts, and
no other module keeping its own cache keyed by applicationId."""

from __future__ import annotations

import ast
import pathlib

from tile_processor_spark.session import (
    session_cache_clear,
    session_cache_stats,
    session_cached,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "tile_processor_spark"


def test_builder_runs_once_per_args_until_cleared(spark):
    builds = []

    @session_cached
    def build(spark, n):
        builds.append(n)
        return [n]

    name = f"{build.__module__}.{build.__qualname__}"
    first = build(spark, 1)
    assert build(spark, 1) is first
    counts = session_cache_stats()[name]
    assert (counts["misses"], counts["hits"]) == (1, 1)
    assert counts["build_s"] >= 0.0
    build(spark, 2)  # other args: their own entry
    assert builds == [1, 2]
    session_cache_clear()
    assert build(spark, 1) is not first
    assert builds == [1, 2, 1]
    assert session_cache_stats()[name]["misses"] == 3


def test_application_id_is_read_only_by_the_session_cache():
    """Session-scoped state goes through ``session_cached``; the only
    other reader of the applicationId names the on-disk ingest
    directory of ``tables._parallel_layout``."""
    hits = sorted(
        (p.relative_to(PKG).as_posix(), i)
        for p in PKG.rglob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".applicationId" in line
    )
    assert {f for f, _ in hits} == {"session.py", "sources/tables.py"}, hits
    tree = ast.parse((PKG / "sources" / "tables.py").read_text())
    layout = next(
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "_parallel_layout"
    )
    assert all(
        layout.lineno <= i <= layout.end_lineno for f, i in hits if f == "sources/tables.py"
    ), hits
