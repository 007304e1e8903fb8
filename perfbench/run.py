#!/usr/bin/env python3
"""Benchmark of the engine: one workload per process, closed loop.

Usage (from the repository root)::

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

A single client calls the engine's public functions one operation at a
time on ``local[nproc]``. A run generates its inputs from ``--seed``,
starts the session and reads the inputs once (set-up), runs one cold
pass, checks every output once against an oracle, then repeats warm
passes for ``--seconds``. Outputs of tile operations are checked after
every operation, outside the timed window.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it is a fuller report: every measured end-to-end metric, wall
clock and CPU time, with the error rate, tail percentile name, sample
counts, per-pass CPU and steal seconds, host and data sizes.
``--workload all`` runs each workload in its own process and prints
every measured metric in one table.

BENCHMARK.json gates on set-up wall time, CPU seconds of the cold and
warm passes and peak RSS. On a shared 4-core guest the hypervisor can
steal 10-25% of the CPUs for tens of seconds, which made 3-4 of 10 runs'
warm passes up to twice as slow in wall time while their CPU seconds
moved by about 10%; with one warm pass per run no median removes that.

Workloads: ``headline`` and ``tile_batch`` (listed in BENCHMARK.json)
and ``relstar``, which ``--workload all`` and the smoke test also run
but BENCHMARK.json leaves out: a third workload's runs do not fit the
benchmark's time budget on 4 cores.

Everything a run writes stays under ``.perfbench_work/`` in the
repository root; the run's scratch is deleted at exit, the trace of a
traced run is kept under ``.perfbench_work/traces/`` and DuckDB oracle
results under ``.perfbench_work/oracle/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from collections import defaultdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "BENCHMARK.json")
# One warm pass already holds 6 (tile_batch) to 15 (headline) operations
# and takes 5-15 s on 4 cores; a traced run needs an untraced and a
# traced pass to report the tracing overhead.
MIN_WARM_PASSES = {0: 1, 1: 2}
# A warm pass gives 6-15 operation samples, too few for any percentile
# with ten samples beyond it, so the tail is a fixed p90 and the report
# states how many samples lie beyond it.
TAIL_P = 90


# --- statistics ---------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


# --- process hygiene ----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and its live descendants,
    plus those of the descendants they have reaped. Time the hypervisor
    steals from the guest is not counted."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.wait(self.interval):
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def host_env(work: str) -> dict[str, str]:
    """Environment for the session: the repository on the Python
    workers' path, cores and driver memory sized to this host, and every
    scratch directory inside the run's work directory."""
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    driver_gb = max(1, min(3, mem_kb // (5 * 1024 * 1024)))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    return {
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(paths)),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the ingest step re-lays sources outside the work directory; the
        # generator writes splittable files instead
        "SPARK_GRAFT_NO_INGEST": "1",
    }


def start_session(app_name: str, conf: dict[str, str]):
    """``get_spark`` with ``conf`` on top of the engine's defaults.

    For a local master ``get_spark`` creates ``/dev/shm/spark-local-<uid>``
    even when ``spark.local.dir`` is given; hiding ``/dev/shm`` from that
    one check keeps every write of the run inside its work directory.
    """
    from unittest import mock

    from tile_processor_spark import session

    real_access = os.access

    def access(path, mode, **kw):
        return False if path == "/dev/shm" else real_access(path, mode, **kw)

    with mock.patch.object(session.os, "access", access):
        return session.get_spark(app_name=app_name, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait until every child has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# --- the run ------------------------------------------------------------------


def run_op(op, tr, records: list, pass_no: int, op_no: int) -> bool:
    """Time one operation, then check its output outside the timed window.
    Appends (name, seconds, result) to ``records``; returns success."""
    op_id = f"p{pass_no}.{op_no}.{op.name}"
    t0 = time.perf_counter()
    try:
        with tr.span(op.name, "op", op=op_id, **{"pass": pass_no}):
            result = op.run(tr)
    except Exception as exc:  # noqa: BLE001 - the benchmark counts failures
        print(f"[perfbench] {op_id} raised {type(exc).__name__}: {exc}"[:500], file=sys.stderr)
        records.append((op.name, time.perf_counter() - t0, None))
        return False
    took = time.perf_counter() - t0
    records.append((op.name, took, result))
    why = op.check(result) if op.check else None
    if why:
        print(f"[perfbench] {op_id} wrong output: {why}", file=sys.stderr)
    return why is None


def run_workload(args) -> dict:
    from perfbench import trace as tracing
    from perfbench.workloads import TileBatch, make

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = host_env(work)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(env)
    cores = int(env["SPARK_GRAFT_CPUS"])

    wl = make(args.workload, args.tiny)
    tr = tracing.Tracer()
    t0 = time.perf_counter()
    inputs = wl.prepare(work, args.seed)
    gen_s = time.perf_counter() - t0

    sampler = RssSampler()
    sampler.start()
    conf = {
        "spark.local.dir": env["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    with tr.span("session.get_spark", "session") as sp_session:
        spark = start_session(f"perfbench-{args.workload}", conf)
    if args.trace:
        sc = spark.sparkContext
        tr.set_group = lambda g: sc.setLocalProperty("spark.jobGroup.id", g)
    try:
        with tr.span("sources.load", "sources") as sp_load:
            wl.load(spark, tr)
        setup_s = time.perf_counter() - T_PROCESS - gen_s

        attempted = failed = 0
        tr.enabled = False
        cold: list = []
        t_cold, c_cold = time.perf_counter(), tree_cpu_s()
        for i, op in enumerate(wl.ops(0)):
            attempted += 1
            failed += not run_op(op, tr, cold, 0, i)
        cold_s = time.perf_counter() - t_cold
        cold_cpu_s = tree_cpu_s() - c_cold

        t_check = time.perf_counter()
        checks = wl.check_once()
        for name, why in checks:
            attempted += 1
            if why:
                failed += 1
                print(f"[perfbench] check {name} failed: {why}", file=sys.stderr)
        check_s = time.perf_counter() - t_check

        passes: list[tuple[bool, list]] = []  # (traced, records)
        cpu_log: list[tuple[float, float]] = []  # (CPU, steal) seconds per pass
        t_warm = time.perf_counter()
        while (time.perf_counter() - t_warm < args.seconds
               or len(passes) < MIN_WARM_PASSES[args.trace]):
            traced = bool(args.trace) and len(passes) % 2 == 1
            tr.enabled = traced
            records: list = []
            c0, s0 = tree_cpu_s(), steal_s()
            for i, op in enumerate(wl.ops(len(passes) + 1)):
                attempted += 1
                failed += not run_op(op, tr, records, len(passes) + 1, i)
            passes.append((traced, records))
            cpu_log.append((tree_cpu_s() - c0, steal_s() - s0))
        tr.enabled = False
        warm_s = time.perf_counter() - t_warm
        extras = wl.layer_extras() if hasattr(wl, "layer_extras") else {}
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        sampler.stop()
    stop_s = time.perf_counter() - t_stop

    untraced = [r for t, r in passes if not t]
    pass_cpu = [c for (t, _), (c, _) in zip(passes, cpu_log) if not t]
    pass_times = [sum(t for _, t, _ in r) for r in untraced]
    ops = [t for r in untraced for _, t, _ in r]
    by_op: dict[str, list[float]] = defaultdict(list)
    for r in untraced:
        for name, t, _ in r:
            by_op[name].append(t)
    if isinstance(wl, TileBatch):
        done = sum(res["nr_success"] for r in untraced for _, _, res in r
                   if isinstance(res, dict))
        per_s_what = "successful tile-worker completions per warm-pass second"
    else:
        done = len(ops)
        per_s_what = "queries per warm-pass second"
    tail_v = percentile(ops, TAIL_P)
    measured = {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold_s, "s"),
        "cold_cpu_s": (cold_cpu_s, "s"),
        "pass_s": (statistics.median(pass_times), "s"),
        "pass_cpu_s": (statistics.median(pass_cpu), "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (tail_v, "s"),
        "items_per_s": (done / sum(pass_times), "1/s"),
        "peak_rss_mb": (sampler.peak_kb / 1024, "MB"),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "closed_loop_clients": 1,
        "error_rate": failed / attempted,
        "op_tail_percentile": f"p{TAIL_P}",
        "op_samples": len(ops),
        "op_samples_beyond_tail": sum(t > tail_v for t in ops),
        "warm_passes": len(untraced),
        "pass_times_s": pass_times,
        "pass_cpu_steal": cpu_log,
        "op_median_s": {n: statistics.median(ts) for n, ts in by_op.items()},
        "items_per_s_means": per_s_what,
        "phases_s": {"gen": gen_s, "session_start": sp_session.dur, "load": sp_load.dur,
                     "cold": cold_s, "check": check_s, "warm": warm_s, "stop": stop_s},
        "checks": {n: (why or "ok") for n, why in checks},
        "host": {
            "nproc": cores,
            "spark": __import__("pyspark").__version__,
            "python": platform.python_version(),
            "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        },
        "inputs": inputs,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in measured.items()},
    }
    if args.trace:
        report["layers"], per_layer = traced_metrics(
            tr, log_dir, passes, cores, extras, args)
        metrics = per_layer
    else:
        with open(BENCH) as fh:
            metrics = {d["name"]: report["metrics"][d["name"]]
                       for d in json.load(fh)["end_to_end"]}
    shutil.rmtree(work, ignore_errors=True)
    return {"report": report, "correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def traced_metrics(tr, log_dir, passes, cores, extras, args):
    """Per-layer metrics of the traced passes, from the spans and the
    event log. Values are medians over traced passes of per-pass sums."""
    from perfbench import trace as tracing

    spans = tr.spans
    tracing.attach_jobs(spans, tracing.read_event_log(log_dir))
    kids = tracing.children_of(spans)
    ops = [s for s in spans if s.layer == "op"]
    traced_passes = sorted({s.attrs["pass"] for s in ops})
    jobs_of_op: dict[str, list] = defaultdict(list)
    for s in spans:
        if s.layer == "execution" and s.name.startswith("job "):
            jobs_of_op[s.op].append((s.start, s.end))

    pass_of = {o.op: o.attrs["pass"] for o in ops}
    per: dict[int, dict[str, float]] = {p: defaultdict(float) for p in traced_passes}
    skew = 0.0
    for s in spans:
        op_pass = pass_of.get(s.op)
        if op_pass is None:
            continue
        m = per[op_pass]
        ev = s.attrs.get("events")
        job_kids = [(k.start, k.end) for k in kids[s.id] if k.name.startswith("job ")]
        if ev is not None:
            m["execution.jobs"] += len(ev.jobs)
            m["execution.stages"] += ev.stages
            m["execution.tasks"] += ev.tasks
            m["execution.single_task_stages"] += ev.single_task_stages
            m["execution.task_run_s"] += ev.task_run_s
            m["execution.task_cpu_s"] += ev.task_cpu_s
            m["execution.shuffle_write_bytes"] += ev.shuffle_write_bytes
            m["execution.shuffle_fetch_wait_s"] += ev.shuffle_fetch_wait_s
            m["execution.spill_bytes"] += ev.spill_bytes
            m["execution.gc_s"] += ev.gc_s
            m["sources.scan_bytes"] += ev.scan_bytes
        if s.layer == "op":
            m["execution.exec_s"] += tracing.union_length(jobs_of_op[s.op])
            m["op_wall_s"] += s.dur
        elif s.name == "plans.build":
            m["plans.build_s"] += s.dur
            m["plans.eager_s"] += tracing.union_length(job_kids)
            m["plans.eager_jobs"] += len(job_kids)
        elif s.name == "catalyst.plan":
            for phase in ("analysis", "optimization", "planning"):
                m[f"catalyst.{phase}_s"] += s.attrs[phase]
        elif s.name == "pipeline.select":
            m["pipeline.select_s"] += s.dur
            m["pipeline.select_jobs"] += len(job_kids)
        elif s.name == "pipeline.worker":
            m[f"pipeline.worker_s.{s.attrs['worker']}"] += s.dur
            rounds = max(1, len(ev.sql_roots)) if ev is not None else 1
            failed = s.attrs.get("tiles_failed", 0)
            m["pipeline.attempts"] += s.attrs.get("nr_success", 0) + failed * rounds
            m["pipeline.retry_rounds"] += rounds - 1
            m["pipeline.tiles_failed"] += failed
            for runs in (ev.stage_task_runs if ev is not None else []):
                if len(runs) >= 2 and statistics.median(runs) > 0:
                    skew = max(skew, max(runs) / statistics.median(runs))

    def med(key: str) -> float:
        return tracing.median_or_zero([per[p][key] for p in traced_passes])

    with open(BENCH) as fh:
        layer_defs = json.load(fh)["per_layer"]
    setup = {s.name: s.dur for s in spans if s.op is None and s.parent is None}
    traced_pass_s = [sum(t for _, t, _ in r) for t_, r in passes if t_]
    untraced_pass_s = [sum(t for _, t, _ in r) for t_, r in passes if not t_]
    cover = [tracing.coverage(o, kids[o.id]) for o in ops]
    values = {
        "session.start_s": setup.get("session.get_spark", 0.0),
        "sources.load_s": setup.get("sources.load", 0.0),
        "pipeline.task_skew": skew,
        "trace.pass_s": tracing.median_or_zero(traced_pass_s),
        "trace.overhead_s": (tracing.median_or_zero(traced_pass_s)
                             - tracing.median_or_zero(untraced_pass_s)),
        "trace.coverage_min": min(cover) if cover else 0.0,
        **extras,
    }
    exec_s = med("execution.exec_s")
    values["execution.slot_busy_ratio"] = (
        med("execution.task_run_s") / (exec_s * cores) if exec_s > 0 else 0.0)
    metrics = {}
    for d in layer_defs:
        name = d["name"]
        metrics[name] = {"value": values[name] if name in values else med(name),
                         "unit": d["unit"]}
    layers = tracing.layer_table(spans, max(1, len(traced_passes)))
    problems = tracing.check_nesting(spans)
    out_dir = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}.json")
    tracing.dump(path, spans, {"layers": layers, "nesting_problems": problems,
                               "coverage_min": values["trace.coverage_min"]})
    for row in layers:
        print(f"[layer] {args.workload:10s} {row['layer']:10s} self {row['self_s']:8.3f} s"
              f"  spans {row['spans']:5d}  share {row['share_of_op_wall']:6.1%}")
    if problems:
        print(f"[perfbench] span nesting problems: {problems[:3]}", file=sys.stderr)
    return {"table": layers, "trace_file": os.path.relpath(path, ROOT),
            "nesting_problems": len(problems)}, metrics


def run_all(args) -> int:
    """Each workload in its own process; one table of every metric."""
    from perfbench.workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--tiny"] if args.tiny else [])
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{name}: failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            return 1
        results[name] = (json.loads(lines[-2])["report"], json.loads(lines[-1]))
    for name, (report, last) in results.items():
        print(f"== {name}: correct={last['correct']} attempted={last['attempted']} "
              f"failed={last['failed']} error_rate={report['error_rate']:.4f} "
              f"tail={report['op_tail_percentile']} of {report['op_samples']} ops")
        for key, m in report["metrics"].items():
            print(f"   {key:36s} {m['value']:14.4f} {m['unit']}")
    return 0 if all(last["correct"] for _, last in results.values()) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="shrink every input (the smoke test)")
    args = ap.parse_args()
    try:
        import tile_processor_spark
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(tile_processor_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine was imported from {tile_processor_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    if not os.path.exists(BENCH):
        print(f"perfbench: {BENCH} is missing", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    out = run_workload(args)
    print(json.dumps({"report": out.pop("report")}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
