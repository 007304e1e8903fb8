"""The gate-window rotation policy, pinned: flagship first, red rows
before everything, declared-changed rows next, never-gated rows next,
then stalest-first. Also pins that the registry's CURRENT
``_GATE_PRIORITY`` window equals what the tool derives from the
checked-in CORRECTNESS history — the hand-maintained list cannot
silently drift from policy."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from gate_rotation import (  # noqa: E402
    FLAGSHIP,
    WINDOW_SIZE,
    load_history,
    propose_window,
    record_is_green,
)

REPO = str(Path(__file__).resolve().parents[1])


def test_record_is_green_semantics():
    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    assert record_is_green(ok)
    # rows-only check (non-SQL-expressible op): hash absent is green
    assert record_is_green({"rows_match": True, "schema_match": True})
    assert not record_is_green({**ok, "hash_match": False})
    assert not record_is_green({**ok, "rows_match": False})
    assert not record_is_green({**ok, "schema_match": False})


def test_policy_tiers():
    names = [FLAGSHIP, "red_row", "changed_b", "changed_a", "never1", "old5", "old4"]
    latest_green = {FLAGSHIP: 8, "old5": 5, "old4": 4, "changed_a": 8, "changed_b": 8}
    latest_any = {**latest_green, "red_row": 8}
    latest_any["red_row"] = 8  # red: has a record, never green
    del latest_green["changed_a"]  # make changed_a ALSO red → tier 1 wins
    latest_any["changed_a"] = 8

    got = propose_window(
        names, latest_green, latest_any, changed=["changed_a", "changed_b"], size=7
    )
    # flagship, then reds (registry order), then changed (stalest-first),
    # then never-gated, then stalest ascending
    assert got == [
        FLAGSHIP,
        "red_row",
        "changed_a",
        "changed_b",
        "never1",
        "old4",
        "old5",
    ]


def test_unknown_changed_name_raises():
    with pytest.raises(ValueError, match="not in registry"):
        propose_window([FLAGSHIP], {}, {}, changed=["nope"])


def test_stale_tie_breaks_by_registry_order():
    names = [FLAGSHIP, "b", "a"]
    latest_green = {FLAGSHIP: 8, "a": 4, "b": 4}
    got = propose_window(names, latest_green, dict(latest_green), size=3)
    assert got == [FLAGSHIP, "b", "a"]  # same round → registration order


def test_load_history_before_round_bound():
    latest_green, latest_any = load_history(REPO, before_round=9)
    full_green, full_any = load_history(REPO)
    assert all(r < 9 for r in latest_green.values())
    assert all(r < 9 for r in latest_any.values())
    # the bound only removes/ages entries, never adds
    assert set(latest_any) <= set(full_any)


def test_current_gate_priority_matches_derived_window():
    """The committed _GATE_PRIORITY's first WINDOW_SIZE names must be
    exactly the tool's proposal for the correctness history AS OF the
    round the window was staged for (registry._STAGED_FOR_ROUND), plus
    the round's declared changed-row list (registry._ROUND_CHANGED).
    Deriving from rounds < _STAGED_FOR_ROUND keeps this green when the
    driver deposits the staged round's own CORRECTNESS file mid-round
    (the round-9 lifecycle bug: the pin went stale the moment
    CORRECTNESS_r09.json landed)."""
    from tile_processor_spark.plans.registry import (
        _GATE_PRIORITY,
        _ROUND_CHANGED,
        _STAGED_FOR_ROUND,
        all_specs,
    )

    names = list(all_specs())
    latest_green, latest_any = load_history(REPO, before_round=_STAGED_FOR_ROUND)
    derived = propose_window(
        names, latest_green, latest_any, changed=_ROUND_CHANGED, size=WINDOW_SIZE
    )
    assert list(_GATE_PRIORITY[:WINDOW_SIZE]) == derived


# ---- mechanical changed-row derivation (VERDICT r10 item 1) ----

from gate_rotation import (  # noqa: E402
    NoWorkTree,
    derive_changed,
    package_import_graph,
    reverse_closure,
)


def test_reverse_closure_transitive():
    graph = {
        "a": set(),          # kernel
        "b": {"a"},          # imports kernel
        "c": {"b"},          # imports b → transitively a
        "d": set(),          # unrelated
    }
    assert reverse_closure(graph, {"a"}) == {"a", "b", "c"}
    assert reverse_closure(graph, {"d"}) == {"d"}
    assert reverse_closure(graph, {"nope"}) == set()


def test_package_import_graph_sees_deferred_imports():
    """snapshot_gate consumes sources.snapshots (possibly via deferred
    in-function imports); the static graph must see it so a snapshots.py
    re-plan marks the snapshot gate rows."""
    graph = package_import_graph(REPO)
    gate = "tile_processor_spark.plans.snapshot_gate"
    snaps = "tile_processor_spark.sources.snapshots"
    assert gate in graph and snaps in graph
    assert gate in reverse_closure(graph, {snaps})
    # chunked-window kernel consumers (the r10 'what's wrong' case)
    kern = "tile_processor_spark.plans.chunked_windows"
    consumers = reverse_closure(graph, {kern})
    assert "tile_processor_spark.plans.timeseries_ops" in consumers


class _Fn:
    def __init__(self, module: str, name: str):
        self.__module__ = module
        self.__name__ = name


class _Spec:
    def __init__(self, module: str, name: str):
        self.spark_fn = _Fn(module, name)


def _mini_repo(tmp_path):
    """A throwaway git repo with a mini package: kernel.py (shared
    helper), mod.py (two registered fns, one importing kernel inside
    the function body), other.py (independent)."""
    import subprocess

    repo = tmp_path / "mini"
    plans = repo / "tile_processor_spark" / "plans"
    plans.mkdir(parents=True)
    (repo / "tile_processor_spark" / "__init__.py").write_text("")
    (plans / "__init__.py").write_text("")
    (plans / "kernel.py").write_text("def helper(x):\n    return x + 1\n")
    (plans / "mod.py").write_text(
        "CONST = 1\n"
        "\n"
        "def f1(spark, sf):\n"
        "    from tile_processor_spark.plans.kernel import helper\n"
        "    return helper(1)\n"
        "\n"
        "def f2(spark, sf):\n"
        "    return CONST\n"
    )
    (plans / "other.py").write_text("def g1(spark, sf):\n    return 0\n")
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    subprocess.run(["git", "add", "-A"], cwd=repo, check=True)
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t", "commit", "-qm", "base"],
        cwd=repo,
        check=True,
    )
    specs = {
        "row_f1": _Spec("tile_processor_spark.plans.mod", "f1"),
        "row_f2": _Spec("tile_processor_spark.plans.mod", "f2"),
        "row_g1": _Spec("tile_processor_spark.plans.other", "g1"),
    }
    return repo, plans, specs


def test_derive_changed_function_granularity(tmp_path):
    """An edit inside ONE registered def marks only that row."""
    repo, plans, specs = _mini_repo(tmp_path)
    src = (plans / "mod.py").read_text()
    (plans / "mod.py").write_text(src.replace("helper(1)", "helper(2)"))
    assert derive_changed(str(repo), "HEAD", specs) == ["row_f1"]


def test_derive_changed_kernel_marks_consumers(tmp_path):
    """A shared-kernel edit marks every row of every module that
    (transitively, even via a deferred import) consumes it — and no
    unrelated module's rows."""
    repo, plans, specs = _mini_repo(tmp_path)
    (plans / "kernel.py").write_text("def helper(x):\n    return x + 2\n")
    assert derive_changed(str(repo), "HEAD", specs) == ["row_f1", "row_f2"]


def test_derive_changed_const_edit_marks_only_referencing_rows(tmp_path):
    """A changed module-level CONSTANT resolves through the module's
    internal reference graph: only the registered defs that reference
    it are marked (round 12 — previously the whole module)."""
    repo, plans, specs = _mini_repo(tmp_path)
    src = (plans / "mod.py").read_text()
    (plans / "mod.py").write_text(src.replace("CONST = 1", "CONST = 2"))
    assert derive_changed(str(repo), "HEAD", specs) == ["row_f2"]


def test_derive_changed_helper_edit_resolves_transitively(tmp_path):
    """An unregistered helper chain: editing the INNER helper marks
    only the rows whose defs reach it through the reference graph."""
    repo, plans, specs = _mini_repo(tmp_path)
    (plans / "mod.py").write_text(
        "CONST = 1\n"
        "\n"
        "def _inner(x):\n"
        "    return x * 3\n"
        "\n"
        "def _outer(x):\n"
        "    return _inner(x) + 1\n"
        "\n"
        "def f1(spark, sf):\n"
        "    return _outer(1)\n"
        "\n"
        "def f2(spark, sf):\n"
        "    return CONST\n"
    )
    import subprocess

    subprocess.run(["git", "add", "-A"], cwd=repo, check=True)
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t", "commit",
         "-qm", "helpers"],
        cwd=repo,
        check=True,
    )
    src = (plans / "mod.py").read_text()
    (plans / "mod.py").write_text(src.replace("x * 3", "x * 4"))
    assert derive_changed(str(repo), "HEAD", specs) == ["row_f1"]


def test_derive_changed_import_edit_still_marks_whole_module(tmp_path):
    """A change no named node owns (an import line) keeps the
    whole-module conservatism."""
    repo, plans, specs = _mini_repo(tmp_path)
    src = (plans / "mod.py").read_text()
    (plans / "mod.py").write_text("import os\n" + src)
    assert derive_changed(str(repo), "HEAD", specs) == ["row_f1", "row_f2"]


def test_derive_changed_comment_only_edit_marks_nothing(tmp_path):
    """Blank/comment-only touched lines attribute to nothing — a new
    helper's surrounding blank lines must not blow up to whole-module."""
    repo, plans, specs = _mini_repo(tmp_path)
    src = (plans / "mod.py").read_text()
    (plans / "mod.py").write_text(src + "\n# trailing comment\n")
    assert derive_changed(str(repo), "HEAD", specs) == []


def test_derive_changed_clean_tree_is_empty(tmp_path):
    repo, _plans, specs = _mini_repo(tmp_path)
    assert derive_changed(str(repo), "HEAD", specs) == []


def test_derive_changed_dep_change_overrides_function_granularity(tmp_path):
    """When a module's dep changed AND the module itself was edited in
    one def, ALL its rows are marked (the dep feeds every row)."""
    repo, plans, specs = _mini_repo(tmp_path)
    (plans / "kernel.py").write_text("def helper(x):\n    return x + 3\n")
    src = (plans / "mod.py").read_text()
    (plans / "mod.py").write_text(src.replace("return CONST", "return CONST + 0"))
    assert derive_changed(str(repo), "HEAD", specs) == ["row_f1", "row_f2"]


def test_derive_changed_real_repo_smoke():
    """Against the real repo/history: derives without error and returns
    registry names only (content depends on git state, so assert shape,
    not the exact set)."""
    from tile_processor_spark.plans.registry import all_specs

    names = set(all_specs())
    try:
        got = derive_changed(REPO, "HEAD")
    except NoWorkTree as exc:  # an exported copy of the tree has no history
        pytest.skip(str(exc))
    assert set(got) <= names


def test_derive_changed_outside_a_work_tree_names_it(tmp_path):
    with pytest.raises(NoWorkTree, match=str(tmp_path)):
        derive_changed(str(tmp_path), "HEAD", {})


def test_changed_tier_orders_stalest_first():
    """Within the changed tier, the window budget goes to rows with the
    OLDEST driver evidence (never-green first), not declaration order."""
    names = [FLAGSHIP, "c_fresh", "c_stale", "c_never"]
    latest_green = {FLAGSHIP: 9, "c_fresh": 9, "c_stale": 4}
    latest_any = dict(latest_green)
    got = propose_window(
        names,
        latest_green,
        latest_any,
        changed=["c_fresh", "c_stale", "c_never"],
        size=4,
    )
    assert got == [FLAGSHIP, "c_never", "c_stale", "c_fresh"]
