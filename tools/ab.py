#!/usr/bin/env python3
"""Paired A/B of a parent commit against the working tree on perfbench.

Usage (from the repository root)::

    python3 tools/ab.py --workload headline --pairs 10 --seed 1
    python3 tools/ab.py --workload headline --workload tile_batch --parent HEAD~1

The parent is built from ``git archive <rev>`` and the change from the
working tree's files (tracked and untracked, not ignored), each in its
own temporary directory. For each workload, seeds ``seed .. seed+pairs-1``
each run one fresh-process pair of ``perfbench/run.py --workload W
--seed N --seconds S --trace 0``, the parent first for odd seeds and
the change first for even ones; ``S`` is BENCHMARK.json's
``run_seconds``.

Before the first pair and after the last it prints the driver JVM's
class-data archive (``tile_processor_spark.jvm_archive``): its path,
whether it exists and its size. A change run that misses the archive
trains it at exit, so only the first line tells whether the timed runs
started from it.

Every pair prints its ``cold_s`` and ``pass_s`` (wall time, which
BENCHMARK.json does not gate) beside the gated metrics as it finishes.
Then, for every end-to-end metric of BENCHMARK.json, it prints each
side's median and quartiles, the pairs the change won and two
verdicts. ``bound`` is whether the change's median is within the
bound by which BENCHMARK.json lets it worsen. ``claim`` is whether a
gain may be claimed: at least ten pairs ran, the change wins at least
nine tenths of them (ties count for neither) and the medians differ by
more than the parent's interquartile range.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: ungated wall-time metrics printed per pair
WALL = ("cold_s", "pass_s")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3), linearly interpolated as in perfbench."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent: list[float], change: list[float], better: str = "lower",
            bound: float | None = None) -> dict:
    """Compare paired runs of one metric: ``parent[i]`` and ``change[i]``
    come from the same seed. Returns both sides' quartiles, the change's
    relative median difference, its wins, and the ``bound`` and
    ``claim`` verdicts described in the module docstring."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same, non-zero number of runs on each side")
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
    pq, cq = quartiles(parent), quartiles(change)
    gap = sign * (pq[1] - cq[1])  # > 0 when the change's median is better
    rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
    return {
        "parent": pq,
        "change": cq,
        "rel": rel,
        "wins": wins,
        "pairs": len(parent),
        "bound": None if bound is None else sign * rel <= bound,
        "claim": len(parent) >= 10 and 10 * wins >= 9 * len(parent) and gap > pq[2] - pq[0],
    }


def archive_state() -> str:
    """The class-data archive's path, whether it exists and its size."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from tile_processor_spark import jvm_archive

    path = jvm_archive.archive_path()
    size = os.path.getsize(path) if os.path.isfile(path) else None
    return f"[archive] {path} exists {size is not None}" + (
        f" size {size} B" if size is not None else "")


def _export_parent(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def _export_working_tree(dest: str) -> None:
    listed = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        check=True, capture_output=True, text=True).stdout
    for rel in filter(None, listed.split("\0")):
        src = os.path.join(ROOT, rel)
        if os.path.isfile(src):
            os.makedirs(os.path.join(dest, os.path.dirname(rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One fresh perfbench process in ``tree``: its report's metrics plus
    ``correct`` and ``failed``."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=1800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} in {tree} failed "
                           f"(exit {proc.returncode}):\n{proc.stderr[-3000:]}")
    report, last = json.loads(lines[-2])["report"], json.loads(lines[-1])
    out = {k: m["value"] for k, m in report["metrics"].items()}
    out.update(correct=last["correct"], failed=last["failed"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", required=True,
                    help="a BENCHMARK.json workload; repeat for several")
    ap.add_argument("--parent", default="HEAD", help="the parent revision (default HEAD)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    gated, seconds = bench["end_to_end"], bench["run_seconds"]

    work = tempfile.mkdtemp(prefix="ab-")
    trees = {"parent": os.path.join(work, "parent"), "change": os.path.join(work, "change")}
    try:
        _export_parent(args.parent, trees["parent"])
        _export_working_tree(trees["change"])
        all_ok = True
        print(archive_state(), flush=True)
        for workload in args.workload:
            runs: dict[str, list[dict]] = {"parent": [], "change": []}
            for seed in range(args.seed, args.seed + args.pairs):
                order = ("parent", "change") if seed % 2 else ("change", "parent")
                for side in order:
                    runs[side].append(run_once(trees[side], workload, seed, seconds))
                p, c = runs["parent"][-1], runs["change"][-1]
                cells = "  ".join(f"{k} {p[k]:.2f} -> {c[k]:.2f}"
                                  for k in WALL + tuple(d["name"] for d in gated))
                print(f"[{workload} seed {seed} {order[0]} first] {cells}  "
                      f"failed {p['failed']}/{c['failed']}", flush=True)
            ok = all(r["correct"] for side in runs.values() for r in side)
            all_ok &= ok
            print(f"== {workload}: {args.pairs} pairs, parent {args.parent}, "
                  f"every output correct: {ok}")
            print(f"   {'metric':12s} {'parent median [Q1, Q3]':>28s} "
                  f"{'change median [Q1, Q3]':>28s} {'diff':>7s} {'wins':>6s} bound claim")
            rows = [(d["name"], d.get("better", "lower"), d["bound"]) for d in gated]
            rows += [(name, "lower", None) for name in WALL]
            for name, better, bound in rows:
                v = verdict([r[name] for r in runs["parent"]],
                            [r[name] for r in runs["change"]], better, bound)
                (p1, pm, p3), (c1, cm, c3) = v["parent"], v["change"]
                print(f"   {name:12s} {pm:10.2f} [{p1:7.2f}, {p3:7.2f}] "
                      f"{cm:10.2f} [{c1:7.2f}, {c3:7.2f}] {100 * v['rel']:+6.1f}% "
                      f"{v['wins']:>2d}/{v['pairs']:<2d}  {'-' if bound is None else v['bound']!s:5s} "
                      f"{v['claim']}", flush=True)
        print(archive_state(), flush=True)
        return 0 if all_ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
