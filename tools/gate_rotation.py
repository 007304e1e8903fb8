"""Derive the next round's ``_GATE_PRIORITY`` window from the recorded
CORRECTNESS_r*.json history, so the hand-maintained 50-name list in
``plans/registry.py`` cannot drift from the rotation policy.

Policy (the prose at ``registry.py`` made executable):

1. the flagship ``q1_pricing_summary`` always holds slot 1;
2. rows that are RED in their most recent driver record (never healed)
   come next — a red row must be re-gated before anything else;
3. ``changed`` rows (code re-planned this round), stalest driver
   evidence first (never-green rows lead; ties by registry order) —
   derived MECHANICALLY by ``derive_changed`` from the git diff since
   the previous window's staging commit (``--since <ref>``): changed
   files map to package modules, a transitive reverse-import closure
   finds every plan module affected (so a re-planned shared kernel like
   ``plans/chunked_windows.py`` or ``sources/snapshots.py`` marks its
   consumers), and within a row's own defining module the granularity
   is per-NAME: every changed line attributes to its owning top-level
   node (registered def, helper function, constant) and the module's
   internal reference graph resolves which registered defs consume it —
   only a change no named node owns (imports, bare statements, the
   docstring) still marks the whole module's rows conservatively;
4. rows that have NEVER had a driver record, in registry order;
5. everything else, stalest first (ascending latest-green round),
   tie-broken by registry order.

The window is the first ``size`` names of that ordering. Run as a
script to print the proposed window for review:

    python tools/gate_rotation.py --since <staging-commit>
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
from collections.abc import Sequence

FLAGSHIP = "q1_pricing_summary"
WINDOW_SIZE = 50
PACKAGE = "tile_processor_spark"

#: modules that are GATE METADATA / pure wiring, removed from the
#: import graph entirely (not just the seed set). registry.py is
#: imported by every plan module (``register``) AND imports every plan
#: module back (``all_specs``), so leaving it in the graph fuses all
#: plan modules into one strongly-connected component — any edit
#: anywhere would mark all 213 rows and the mechanical derivation
#: would be useless. Its per-round window paste is also an
#: every-round edit by design. A semantic change to the registration
#: machinery is caught by the pin tests, not by re-gating every row.
METADATA_MODULES = frozenset({f"{PACKAGE}.plans.registry"})


def record_is_green(rec: dict) -> bool:
    """A driver correctness record is green when rows and schema match
    and the value hash matches (hash may be absent for rows-only
    checks of non-SQL-expressible ops)."""
    return bool(
        rec.get("rows_match")
        and rec.get("schema_match")
        and rec.get("hash_match") in (True, None)
    )


def load_history(
    repo_dir: str, before_round: int | None = None
) -> tuple[dict[str, int], dict[str, int]]:
    """Scan CORRECTNESS_r*.json; return (latest_green, latest_any):
    per query name, the highest round with a green record and the
    highest round with any record at all.

    ``before_round`` bounds the history to rounds strictly below it.
    A window staged for round N is derived from rounds < N, so the
    driver depositing CORRECTNESS_rN.json mid-round cannot retroactively
    invalidate the committed window (the round-9 lifecycle bug: the
    pin test was red by construction the moment the new round's file
    landed)."""
    latest_green: dict[str, int] = {}
    latest_any: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if before_round is not None and rnd >= before_round:
            continue
        with open(path) as f:
            records = json.load(f)
        for name, rec in records.items():
            latest_any[name] = max(latest_any.get(name, 0), rnd)
            if record_is_green(rec):
                latest_green[name] = max(latest_green.get(name, 0), rnd)
    return latest_green, latest_any


def propose_window(
    registry_names: Sequence[str],
    latest_green: dict[str, int],
    latest_any: dict[str, int],
    changed: Sequence[str] = (),
    size: int = WINDOW_SIZE,
) -> list[str]:
    """The next gate window under the rotation policy (see module doc).
    ``registry_names`` is the full registry in registration order;
    ``changed`` lists rows whose code was re-planned this round.
    Unknown ``changed`` names raise (same misspelling hazard the
    registry's own unknown-name check guards against)."""
    known = set(registry_names)
    unknown = [c for c in changed if c not in known]
    if unknown:
        raise ValueError(f"changed names not in registry: {unknown}")
    reg_order = {n: i for i, n in enumerate(registry_names)}

    def tier(name: str) -> tuple:
        if name == FLAGSHIP:
            return (0, 0)
        green, any_rec = latest_green.get(name), latest_any.get(name)
        if any_rec is not None and (green is None or green < any_rec):
            return (1, reg_order[name])  # red in its latest record
        if name in changed:
            # among re-planned rows, spend the window budget on those
            # with the OLDEST driver evidence first (never-green rows
            # lead); a large mechanical changed-set can exceed the
            # window, and the freshest-evidence rows can wait a round
            return (2, green if green is not None else -1, reg_order[name])
        if any_rec is None:
            return (3, reg_order[name])  # never driver-gated
        return (4, green, reg_order[name])  # stalest first

    ordered = sorted(registry_names, key=tier)
    return ordered[:size]


def import_detail(
    repo_dir: str,
) -> tuple[dict[str, set[str]], dict[str, set[str]], dict[tuple[str, str], set[str]]]:
    """Static import analysis of the package, three views:

    - ``module_graph``: module → package modules it imports (any form);
    - ``wholesale``: dep module → importers holding the MODULE OBJECT
      (``import pkg.m`` / ``from pkg import m`` / ``from pkg.m import
      *``) — these can reach any attribute, so any change in ``m``
      affects them;
    - ``symbol_importers``: (dep module, symbol) → importers of exactly
      that symbol (``from pkg.m import f``) — a change confined to
      ``f`` affects only these.

    ``ast.walk`` sees imports in function bodies too, so deferred
    imports count. ``METADATA_MODULES`` are removed from all views
    (see the constant's doc: registry.py fuses the graph into one SCC)."""
    root = os.path.join(repo_dir, PACKAGE)
    raw: dict[str, list] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, repo_dir)
            mod = rel[: -len(".py")].replace(os.sep, ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
            with open(path) as f:
                raw[mod] = list(ast.walk(ast.parse(f.read(), filename=path)))
    known = set(raw) - METADATA_MODULES
    module_graph: dict[str, set[str]] = {m: set() for m in known}
    wholesale: dict[str, set[str]] = {}
    symbol_importers: dict[tuple[str, str], set[str]] = {}
    for mod in known:
        for node in raw[mod]:
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name in known and a.name != mod:
                        module_graph[mod].add(a.name)
                        wholesale.setdefault(a.name, set()).add(mod)
            elif isinstance(node, ast.ImportFrom):
                m0 = node.module or ""
                if not m0.startswith(PACKAGE):
                    continue
                for a in node.names:
                    sub = f"{m0}.{a.name}"
                    if sub in known and sub != mod:
                        # `from pkg.plans import llm_ops`: module object
                        module_graph[mod].add(sub)
                        wholesale.setdefault(sub, set()).add(mod)
                    elif m0 in known and m0 != mod:
                        module_graph[mod].add(m0)
                        if a.name == "*":
                            wholesale.setdefault(m0, set()).add(mod)
                        else:
                            symbol_importers.setdefault(
                                (m0, a.name), set()
                            ).add(mod)
    return module_graph, wholesale, symbol_importers


def package_import_graph(repo_dir: str) -> dict[str, set[str]]:
    """Module → package-internal modules it imports (any import form);
    see ``import_detail`` for the finer-grained views."""
    return import_detail(repo_dir)[0]


def reverse_closure(graph: dict[str, set[str]], seeds: set[str]) -> set[str]:
    """``seeds`` plus every module that transitively imports one."""
    rev: dict[str, set[str]] = {}
    for m, deps in graph.items():
        for d in deps:
            rev.setdefault(d, set()).add(m)
    out: set[str] = set()
    stack = [s for s in seeds if s in graph]
    while stack:
        m = stack.pop()
        if m in out:
            continue
        out.add(m)
        stack.extend(rev.get(m, ()))
    return out


def _changed_new_lines(repo_dir: str, since_ref: str, rel_path: str) -> list[int]:
    """New-side line numbers touched since ``since_ref`` (committed or
    working-tree), from ``git diff -U0`` hunk headers."""
    out = subprocess.run(
        ["git", "diff", "-U0", since_ref, "--", rel_path],
        cwd=repo_dir,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    lines: list[int] = []
    for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", out, re.M):
        start = int(m.group(1))
        count = int(m.group(2)) if m.group(2) is not None else 1
        # a pure deletion has count 0 on the new side; the surrounding
        # line still marks the touch point
        lines.extend(range(start, start + max(count, 1)))
    return lines


def _top_level_nodes(tree: ast.Module) -> tuple[dict, dict]:
    """Named top-level nodes of a module: ``spans`` (name → (start,
    end) line span, decorators included) and ``refs`` (name → the set
    of OTHER top-level names its body references) — the intra-module
    dependency view that lets a helper-level change resolve to the
    registered defs that actually consume it."""
    spans: dict[str, tuple[int, int]] = {}
    node_names: list[tuple[list[str], ast.stmt]] = []
    for node in tree.body:
        names: list[str] = []
        start = node.lineno
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
            if node.decorator_list:
                start = min([start] + [d.lineno for d in node.decorator_list])
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    names.append(t.id)
                elif isinstance(t, (ast.Tuple, ast.List)):
                    names.extend(
                        e.id for e in t.elts if isinstance(e, ast.Name)
                    )
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            names = [node.target.id]
        for nm in names:
            spans[nm] = (start, node.end_lineno or node.lineno)
        if names:
            node_names.append((names, node))
    all_names = set(spans)
    refs: dict[str, set[str]] = {}
    for names, node in node_names:
        used = {
            n.id
            for n in ast.walk(node)
            if isinstance(n, ast.Name) and n.id in all_names
        } - set(names)
        for nm in names:
            refs[nm] = refs.get(nm, set()) | used
    return spans, refs


def _rows_for_direct_change(
    repo_dir: str, since_ref: str, mod: str, rows_by_fn: dict[str, list[str]]
) -> tuple[list[str], set[str]] | None:
    """Function-level granularity for a registry row's OWN module.
    Every changed line is attributed to its owning NAMED top-level node
    (registered def, unregistered helper, constant assignment); the
    semantically-changed name set is closed over the module's internal
    reference graph, and the hit rows are the registered defs inside
    that closure. Returns ``(hit_rows, changed_names)`` — the names
    feed cross-module symbol seeding — or None (= mark the whole
    module) when a non-trivial changed line falls outside every named
    node (imports, bare module statements, the module docstring: those
    may feed any row)."""
    rel_path = mod.replace(".", os.sep) + ".py"
    path = os.path.join(repo_dir, rel_path)
    if not os.path.exists(path):
        return None
    changed = _changed_new_lines(repo_dir, since_ref, rel_path)
    if not changed:
        return [], set()
    with open(path) as f:
        src_lines = f.read().splitlines()
    tree = ast.parse("\n".join(src_lines), filename=path)
    spans, refs = _top_level_nodes(tree)
    changed_names: set[str] = set()
    for line in changed:
        # blank / comment-only touched lines (new helpers arrive with
        # surrounding blank lines) attribute to nothing
        text = src_lines[line - 1].strip() if line - 1 < len(src_lines) else ""
        if not text or text.startswith("#"):
            continue
        owners = [nm for nm, (a, b) in spans.items() if a <= line <= b]
        if not owners:
            return None  # import / bare statement / docstring
        changed_names.update(owners)
    # close over "references a changed name": a def whose body calls a
    # changed helper (possibly through another helper) changed too
    affected = set(changed_names)
    moved = True
    while moved:
        moved = False
        for nm, used in refs.items():
            if nm not in affected and used & affected:
                affected.add(nm)
                moved = True
    hit_rows: list[str] = []
    for fn, rows in rows_by_fn.items():
        if fn in affected:
            hit_rows.extend(r for r in rows if r not in hit_rows)
    return hit_rows, affected


class NoWorkTree(RuntimeError):
    """``derive_changed`` was pointed at a directory without git history."""


def derive_changed(
    repo_dir: str, since_ref: str, specs: dict | None = None
) -> list[str]:
    """Registry rows whose plan code changed since ``since_ref``
    (committed AND working-tree changes), derived mechanically:

    - ``git diff --name-only`` → changed package files → modules;
    - a DIRECTLY-changed module attributes every changed line to its
      owning NAMED top-level node (registered def, unregistered
      helper, constant) and closes over the module's internal
      reference graph: the marked rows are exactly the registered defs
      that (transitively) reference a changed name. Cross-module
      propagation seeds from modules importing any changed name (or
      the module wholesale);
    - a change no named node owns (imports, bare module statements,
      the docstring), or any change in a module with no registered
      rows (a shared kernel like ``plans/chunked_windows.py`` or
      ``sources/snapshots.py``), seeds the transitive reverse-import
      closure: every consumer module's rows are marked;
    - rows of transitively-affected modules are all marked.

    Output is in registry order. ``specs`` defaults to the live
    registry (injectable for tests). Raises ``NoWorkTree`` when
    ``repo_dir`` is not the root of a git work tree (say, a ``git
    archive`` export): there is no history to diff."""
    top = subprocess.run(
        ["git", "rev-parse", "--show-toplevel"],
        cwd=repo_dir,
        capture_output=True,
        text=True,
    ).stdout.strip()
    if not top or os.path.realpath(top) != os.path.realpath(repo_dir):
        raise NoWorkTree(
            f"{repo_dir} is not the root of a git work tree; derive_changed "
            f"diffs it against {since_ref} and needs its history"
        )
    if specs is None:
        import sys

        sys.path.insert(0, repo_dir)
        from tile_processor_spark.plans.registry import all_specs

        specs = all_specs()
    rows_by_module: dict[str, dict[str, list[str]]] = {}
    for name, spec in specs.items():
        fn_name = spec.spark_fn.__name__
        rows_by_module.setdefault(spec.spark_fn.__module__, {}).setdefault(
            fn_name, []
        ).append(name)
    diff_files = subprocess.run(
        ["git", "diff", "--name-only", since_ref, "--", PACKAGE],
        cwd=repo_dir,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    changed_mods = {
        f[: -len(".py")].replace("/", ".")
        for f in diff_files
        if f.endswith(".py")
    }
    changed_mods = {
        m[: -len(".__init__")] if m.endswith(".__init__") else m
        for m in changed_mods
    } - METADATA_MODULES
    if not changed_mods:
        return []
    graph, wholesale, symbol_importers = import_detail(repo_dir)
    # pass 1: split each directly-changed module into (fn-confined row
    # hits, propagation seeds)
    full_seeds: set[str] = set()
    fn_hit_rows: list[str] = []
    for mod in sorted(changed_mods):
        rows_by_fn = rows_by_module.get(mod)
        res = (
            _rows_for_direct_change(repo_dir, since_ref, mod, rows_by_fn)
            if rows_by_fn
            else None
        )
        if res is None:
            full_seeds.add(mod)  # unattributable change: whole module + consumers
            continue
        hits, changed_names = res
        fn_hit_rows.extend(hits)
        # every semantically-changed top-level name (registered def OR
        # helper) still affects modules that import that symbol (or
        # the module wholesale) — seed from THEM
        for nm in changed_names:
            full_seeds.update(symbol_importers.get((mod, nm), ()))
        if changed_names:
            full_seeds.update(wholesale.get(mod, ()))
    affected = reverse_closure(graph, full_seeds)
    out = list(fn_hit_rows)
    for mod, rows_by_fn in rows_by_module.items():
        if mod in affected:
            out.extend(r for fns in rows_by_fn.values() for r in fns)
    order = {n: i for i, n in enumerate(specs)}
    return sorted(set(out), key=lambda n: order[n])


def main(argv: Sequence[str] | None = None) -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--changed",
        default=None,
        help="comma-separated rows whose code was re-planned this round "
        "(default: the registry's _ROUND_CHANGED)",
    )
    ap.add_argument(
        "--since",
        default=None,
        help="derive the changed-row set mechanically from the git diff "
        "since this ref (the previous window's staging commit) instead "
        "of --changed/_ROUND_CHANGED",
    )
    ap.add_argument("--size", type=int, default=WINDOW_SIZE)
    ap.add_argument(
        "--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    ap.add_argument(
        "--report",
        action="store_true",
        help="print the staleness histogram and red/never-gated rows "
        "instead of a window proposal",
    )
    ap.add_argument(
        "--staged-round",
        type=int,
        default=None,
        help="derive from CORRECTNESS rounds strictly below this round "
        "(default: the registry's _STAGED_FOR_ROUND; 0 = all rounds)",
    )
    ns = ap.parse_args(argv)

    import sys

    sys.path.insert(0, ns.repo)
    from tile_processor_spark.plans.registry import (
        _ROUND_CHANGED,
        _STAGED_FOR_ROUND,
        all_specs,
    )

    names = list(all_specs())
    staged = ns.staged_round if ns.staged_round is not None else _STAGED_FOR_ROUND
    latest_green, latest_any = load_history(
        ns.repo, before_round=staged if staged else None
    )

    if ns.report:
        from collections import Counter

        hist = Counter(latest_green.get(n) for n in names)
        print("latest-green histogram (None = never driver-gated):")
        for rnd in sorted(hist, key=lambda r: (r is None, r)):
            print(f"  r{rnd}: {hist[rnd]}" if rnd else f"  never: {hist[rnd]}")
        red = [
            n
            for n in names
            if latest_any.get(n) is not None
            and latest_green.get(n, -1) < latest_any[n]
        ]
        if red:
            print("RED in latest record:", red)
        never = [n for n in names if n not in latest_any]
        if never:
            print("never gated:", never)
        return

    if ns.since is not None:
        changed = derive_changed(ns.repo, ns.since)
        print(f"# derived changed rows since {ns.since}: {len(changed)}")
        for c in changed:
            print(f"#   {c}")
    else:
        changed = (
            list(_ROUND_CHANGED)
            if ns.changed is None
            else [c for c in ns.changed.split(",") if c]
        )
    window = propose_window(names, latest_green, latest_any, changed, ns.size)
    for i, name in enumerate(window, 1):
        green = latest_green.get(name)
        tag = f"green r{green}" if green else "never gated"
        print(f"{i:3d}  {name}  [{tag}]")


if __name__ == "__main__":
    main()
