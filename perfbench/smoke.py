#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs.

Usage (from the repository root)::

    python3 perfbench/smoke.py

Runs every workload once, traced, on shrunken inputs (an sf0.001-sized
star, a 6×6 tile grid) and checks that:

- the run exits 0 and its last line has exactly ``correct``,
  ``attempted``, ``failed`` and ``metrics``, with no failed operation;
- the report carries every end-to-end metric of BENCHMARK.json with its
  unit, and the wall-clock pass and operation metrics; the last line
  carries every per-layer metric with its unit;
- every span of the trace nests, by parent links, under the root span
  of its own operation, inside that span's interval, and the spans cover
  at least 95% of each operation's traced wall time.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("headline", "tile_batch", "relstar")
MIN_COVERAGE = 0.95
#: wall-clock metrics every report carries besides BENCHMARK.json's
REPORTED = ("cold_s", "pass_s", "op_p50_s", "op_tail_s", "items_per_s")


def check_metrics(got: dict, defs: list[dict], what: str) -> list[str]:
    want = {d["name"]: d["unit"] for d in defs}
    bad = [f"{what}: missing {sorted(set(want) - set(got))}"] if set(want) - set(got) else []
    bad += [f"{what}: {name} has unit {got[name].get('unit')}, expected {unit}"
            for name, unit in want.items()
            if name in got and got[name].get("unit") != unit]
    bad += [f"{what}: {name} is not a number" for name, m in got.items()
            if not isinstance(m.get("value"), (int, float))]
    return bad


def check_trace(path: str) -> list[str]:
    with open(path) as fh:
        trace = json.load(fh)
    spans = {s["id"]: s for s in trace["spans"]}
    bad = []
    for s in spans.values():
        if s["op"] is None:
            continue
        root = s
        while root["parent"] is not None:
            parent = spans[root["parent"]]
            if not (parent["start"] - 1e-3 <= root["start"] and root["end"] <= parent["end"] + 1e-3):
                bad.append(f"span {root['id']} {root['name']} lies outside its parent")
            root = parent
        if root["layer"] != "op" or root["op"] != s["op"]:
            bad.append(f"span {s['id']} {s['name']} ({s['op']}) is not under its operation")
    if not any(s["layer"] == "op" for s in spans.values()):
        bad.append("no operation spans")
    if trace["coverage_min"] < MIN_COVERAGE:
        bad.append(f"spans cover {trace['coverage_min']:.3f} of an operation, "
                   f"below {MIN_COVERAGE}")
    return bad


def smoke(name: str, bench: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", name,
           "--seed", "7", "--seconds", "1", "--trace", "1", "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return [f"exit {proc.returncode}: {proc.stderr[-1500:]}"]
    last, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    bad = []
    if sorted(last) != ["attempted", "correct", "failed", "metrics"]:
        bad.append(f"last line has keys {sorted(last)}")
    if not (last["correct"] and last["failed"] == 0 and last["attempted"] >= 1):
        bad.append(f"correct={last['correct']} attempted={last['attempted']} "
                   f"failed={last['failed']}")
    bad += check_metrics(report["metrics"], bench["end_to_end"], "end-to-end")
    bad += check_metrics(last["metrics"], bench["per_layer"], "per-layer")
    for key in ("error_rate", "op_tail_percentile", "op_samples", "host", "inputs"):
        if key not in report:
            bad.append(f"report lacks {key}")
    bad += [f"report lacks metric {name}" for name in REPORTED if name not in report["metrics"]]
    bad += check_trace(os.path.join(ROOT, report["layers"]["trace_file"]))
    return bad


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failed = False
    for name in WORKLOADS:
        problems = smoke(name, bench)
        print(f"{name}: {'ok' if not problems else 'FAILED'}")
        for p in problems:
            print(f"  {p}")
        failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
