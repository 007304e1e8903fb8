"""The benchmark workloads: inputs, operations and output checks.

An operation is one call a user makes: one query build plus its sink,
one tile selection, or one ``run_with_retry`` call. Each workload gives
the operations of one pass; the runner times them, runs their checks
outside the timed window and repeats passes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
from collections.abc import Callable
from dataclasses import dataclass

from perfbench import gen
from perfbench.trace import Tracer

#: the relstar queries and the row counts they return on the star
RELSTAR_ROWS = {
    "q3_shipping_priority": 10,
    "q4_order_priority": 5,
    "q5_local_supplier_volume": 5,
    "q10_returned_items": 20,
}


@dataclass
class Op:
    name: str
    run: Callable[[Tracer], object]
    check: Callable[[object], str | None] | None = None  # None = fine, else why not


class QueryWorkload:
    """Registry queries over a generated star: each op builds the query
    (``spark_fn``) and drains it through the ``noop`` sink."""

    def __init__(self, names: list[str] | None, size: gen.StarSize, data_seed: int,
                 expected_rows: dict[str, int] | None = None):
        self.names = names
        self.size = size
        self.data_seed = data_seed
        self.expected_rows = expected_rows or {}

    def prepare(self, work: str, seed: int) -> dict:
        from tile_processor_spark.plans.registry import all_specs

        self.dir = os.path.join(work, "data")
        rows = gen.write_star(self.dir, self.size, self.data_seed)
        self.seed = seed
        self.specs = all_specs()
        if self.names is None:
            self.names = [n for n, s in self.specs.items()
                          if "headline" in s.tags and not HEADLINE_SKIP.intersection(s.tags)]
        self.oracle_sql = self._store_oracles(os.path.join(os.path.dirname(work), "oracle"))
        return {"rows": rows, "data_seed": self.data_seed}

    def _store_oracles(self, store: str) -> dict[str, str | None]:
        """Each query's oracle, as a read of its stored result.

        The star does not depend on the run seed, so every run in one
        checkout compares against the same oracle results. DuckDB computes
        a missing one (the spatial boundary oracle alone takes ~8 s on 4
        cores) in a child process, so that its memory stays out of the
        run's peak RSS. A result is keyed by its oracle, the generator and
        the DuckDB version.
        """
        import duckdb

        with open(gen.__file__, "rb") as fh:
            gen_digest = hashlib.sha256(fh.read()).hexdigest()
        out: dict[str, str | None] = {}
        missing: dict[str, str] = {}
        for name in self.names:
            sql = self.specs[name].oracle
            if sql is None:
                out[name] = None
                continue
            key = hashlib.sha256(f"{gen_digest}|{self.size}|{self.data_seed}|"
                                 f"{duckdb.__version__}|{sql}".encode()).hexdigest()[:16]
            path = os.path.join(store, f"{name}-{key}.parquet")
            if not os.path.exists(path):
                missing[path] = sql
            out[name] = f"SELECT * FROM read_parquet('{path}')"
        if missing:
            os.makedirs(store, exist_ok=True)
            code = ("import json, sys; from perfbench.workloads import _write_oracles; "
                    "_write_oracles(*json.load(sys.stdin))")
            subprocess.run([sys.executable, "-c", code], input=json.dumps([self.dir, missing]),
                           text=True, check=True, timeout=600)
        return out

    def load(self, spark, tr: Tracer) -> None:
        from tile_processor_spark.sources.tables import load_tables

        self.spark = spark
        with tr.span("sources.load_tables", "sources"):
            for df in load_tables(spark, self.dir).values():
                df.count()

    def ops(self, pass_no: int) -> list[Op]:
        """Pass 0 is the cold pass: its sink collects each result, as a
        one-shot user would, and keeps it for :meth:`check_once`. Warm
        passes drain each query through the ``noop`` sink."""
        order = list(self.names)
        random.Random(self.seed * 1_000 + pass_no).shuffle(order)
        if pass_no == 0:
            self.collected: dict[str, object] = {}
        return [Op(name, self._query_op(name, collect=pass_no == 0)) for name in order]

    def _query_op(self, name: str, collect: bool) -> Callable[[Tracer], None]:
        spec = self.specs[name]

        def run(tr: Tracer) -> None:
            with tr.span("plans.build", "plans"):
                df = spec.spark_fn(self.spark, self.dir)
            if tr.enabled:
                with tr.span("catalyst.plan", "catalyst") as sp:
                    sp.attrs.update(catalyst_phases(df))
            with tr.span("execution.sink", "execution"):
                if collect:
                    self.collected[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()

        return run

    def check_once(self) -> list[tuple[str, str | None]]:
        """Each cold-pass result against its DuckDB oracle (and its known
        row count where one is set)."""
        from tile_processor_spark.testing.oracle import compare_query

        out = []
        for name in self.names:
            if name not in self.collected:
                out.append((name, "no result from the cold pass"))
                continue
            result = _Collected(self.collected[name])
            try:
                res = compare_query(self.spark, name, lambda *_: result,
                                    self.oracle_sql[name], self.dir)
            except Exception as exc:  # noqa: BLE001 - a failed check is a result
                out.append((name, f"raised {type(exc).__name__}: {exc}"[:300]))
                continue
            why = None if res.ok else res.detail
            want = self.expected_rows.get(name)
            if why is None and want is not None and res.spark_rows != want:
                why = f"{res.spark_rows} rows, expected {want}"
            out.append((name, why))
        return out



def _write_oracles(data_dir: str, queries: dict[str, str]) -> None:
    """Write each oracle's DuckDB result to its path (``queries`` maps a
    path to its SQL)."""
    from tile_processor_spark.testing.oracle import duckdb_connection

    with duckdb_connection(data_dir) as con:
        for path, sql in queries.items():
            tmp = f"{path}.{os.getpid()}.tmp"
            con.execute(f"COPY ({sql.strip().rstrip(';')}) TO '{tmp}' (FORMAT parquet)")
            os.replace(tmp, path)


class _Collected:
    """An already collected result, in the one shape ``compare_query``
    reads from a query's DataFrame."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method's name
        return self.pdf


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df``'s own QueryExecution and return its tracker's phase
    times in seconds. The sink plans its write command again; this
    replica is what the traced run can read back."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = got.get().durationMs() / 1000 if got.isDefined() else 0.0
    return out


class TileBatch:
    """The reference's batch job: select tiles by ID list and by
    elevation version, then fan workers out over the listed tiles."""

    WORKERS = ("PercentileHeights", "PCRasterise", "TileExporter", "Example")

    def __init__(self, points: int, grid: int = 16):
        self.points = points
        self.grid = grid

    def prepare(self, work: str, seed: int) -> dict:
        self.tb = gen.make_tile_batch(os.path.join(work, "data"), seed, self.points, self.grid)
        self.out_dir = os.path.join(work, "export")
        os.makedirs(self.out_dir)
        self.exported: list[tuple[int, int]] = []  # (files, bytes) per checked pass
        return {"sizes": self.tb.sizes, "version": self.tb.version}

    def load(self, spark, tr: Tracer) -> None:
        self.spark = spark
        with tr.span("sources.read_points", "sources"):
            self.points_df = spark.read.parquet(self.tb.points_path)
            self.index_df = spark.read.parquet(self.tb.index_path)
            self.points_df.count()
            self.index_df.count()
        self.listed: list[str] = sorted(self.tb.expected_list)

    def ops(self, pass_no: int) -> list[Op]:
        tb = self.tb
        listed = sorted(tb.expected_list)
        ops = [
            Op("select_list", self._select_list, lambda got: _same("tiles", got, tb.expected_list)),
            Op("select_version", self._select_version,
               lambda got: _same("tiles", got, tb.expected_version)),
        ]
        configs = {
            "PercentileHeights": ({}, 0, []),
            "PCRasterise": ({"cell": 5.0}, 0, []),
            "TileExporter": ({"out_dir": self.out_dir}, 0, []),
            "Example": ({"fail_tiles": tb.fail_tiles}, 1, tb.fail_tiles),
        }
        for worker, (config, restarts, fails) in configs.items():
            want = {"failed_tiles": fails, "nr_success": len(listed) - len(fails)}
            ops.append(Op(f"worker_{worker}", self._worker_op(worker, config, restarts),
                          self._worker_check(worker, want)))
        return ops

    def _select_list(self, tr: Tracer) -> set[str]:
        from tile_processor_spark.pipeline.tiles import TileSet

        with tr.span("pipeline.select", "pipeline"):
            found = TileSet(self.index_df.select("tile_id")).with_list(self.tb.tile_list)
            self.listed = sorted(r.tile_id for r in found.collect())
        return set(self.listed)

    def _select_version(self, tr: Tracer) -> set[str]:
        from tile_processor_spark.pipeline.tiles import AhnTileSet

        with tr.span("pipeline.select", "pipeline"):
            chosen = AhnTileSet(self.index_df).configure(version=self.tb.version)
            return {r.tile_id for r in chosen.collect()}

    def _worker_op(self, worker: str, config: dict, restarts: int):
        from pyspark.sql import functions as F

        from tile_processor_spark.pipeline.processor import run_with_retry

        def run(tr: Tracer) -> dict:
            with tr.span("pipeline.worker", "pipeline", worker=worker) as sp:
                data = self.points_df.filter(F.col("tile_id").isin(self.listed))
                res = run_with_retry(data, worker, config, restarts=restarts)
            if sp is not None:
                sp.attrs.update(nr_success=res["nr_success"],
                                tiles_failed=len(res["failed_tiles"]))
            return res

        return run

    def _worker_check(self, worker: str, want: dict):
        def check(res: dict) -> str | None:
            if res != want:
                return f"{worker}: got {res}, expected {want}"
            if worker == "TileExporter":
                return self._check_exports()
            return None

        return check

    def _check_exports(self) -> str | None:
        """One file per listed tile with that tile's rows; the directory
        is emptied afterwards so the next pass must write them again."""
        import pyarrow.parquet as pq

        files = sorted(os.listdir(self.out_dir))
        paths = [os.path.join(self.out_dir, f) for f in files]
        self.exported.append((len(files), sum(os.path.getsize(p) for p in paths)))
        want = {f"tile={t}.parquet": n for t, n in self.tb.rows_per_tile.items()}
        why = None
        if set(files) != set(want):
            why = f"exported {len(files)} files, expected {len(want)}"
        for f, path in zip(files, paths):
            rows = pq.ParquetFile(path).metadata.num_rows
            if why is None and rows != want.get(f):
                why = f"{f}: {rows} rows, expected {want.get(f)}"
        shutil.rmtree(self.out_dir)
        os.makedirs(self.out_dir)
        return why

    def layer_extras(self) -> dict[str, float]:
        """Files and bytes the exporter wrote, per pass (median)."""
        import statistics

        if not self.exported:
            return {}
        return {"sources.files_written": statistics.median(f for f, _ in self.exported),
                "sources.bytes_written": statistics.median(b for _, b in self.exported)}

    def check_once(self) -> list[tuple[str, str | None]]:
        """p95/p10 heights of the sampled tiles, computed by the
        PercentileHeights worker inside Spark, against numpy."""
        from pyspark.sql import functions as F

        from tile_processor_spark.pipeline.workers import get_worker

        fn = get_worker("PercentileHeights")

        def heights(pdf):
            return fn(str(pdf["tile_id"].iloc[0]), pdf, {})

        want = self.tb.heights
        rows = (self.points_df.filter(F.col("tile_id").isin(sorted(want)))
                .groupBy("tile_id")
                .applyInPandas(heights, "tile_id string, roof_h double, ground_h double")
                .collect())
        got = {r.tile_id: (r.roof_h, r.ground_h) for r in rows}
        why = None
        if set(got) != set(want):
            why = f"heights for {sorted(got)}, expected {sorted(want)}"
        else:
            for t, (p95, p10) in want.items():
                if not (math.isclose(got[t][0], p95, rel_tol=1e-9)
                        and math.isclose(got[t][1], p10, rel_tol=1e-9)):
                    why = f"{t}: heights {got[t]}, expected {(p95, p10)}"
                    break
        return [("percentile_heights", why)]


def _same(what: str, got: set, want: set) -> str | None:
    if got == want:
        return None
    return f"{what}: missing {sorted(want - got)[:5]}, unexpected {sorted(got - want)[:5]}"


HEADLINE_SF = 0.01
DATA_SEED = 42
#: Tags of headline queries the ``headline`` workload leaves out. On 4
#: cores all 23 headline queries make a run of 85-100 s, and the
#: benchmark's runs must fit a fixed time budget; the 8 ``llm`` queries
#: (text, dedup, ANN, sketch) are the family furthest from tile
#: processing, and the 15 left keep the relational, event and spatial
#: plans.
HEADLINE_SKIP = {"llm"}


def make(name: str, tiny: bool):
    """The workload called ``name``; ``tiny`` shrinks its inputs for the
    smoke test."""
    if name == "headline":
        return QueryWorkload(None, gen.StarSize.scaled(0.001 if tiny else HEADLINE_SF), DATA_SEED)
    if name == "relstar":
        size = gen.StarSize.scaled(0.002) if tiny else gen.RELSTAR_SIZE
        return QueryWorkload(list(RELSTAR_ROWS), size, DATA_SEED,
                             None if tiny else RELSTAR_ROWS)
    if name == "tile_batch":
        return TileBatch(points=20_000, grid=6) if tiny else TileBatch(points=600_000)
    raise KeyError(name)


WORKLOADS = ("headline", "tile_batch", "relstar")
