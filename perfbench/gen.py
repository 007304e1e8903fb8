"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
size give byte-identical tables. Nothing here touches Spark.

- :func:`write_star` writes the ten engine tables (``TABLE_NAMES``) in the
  driver's schema. The relational columns follow the TPC-H-ish marginals
  of the engine's test data (2-dp non-negative money, 1995-2001 order and
  ship epoch); ``events``, ``documents`` and ``embeddings`` follow the
  same data's shapes (31-word vocabulary, 10 embedding clusters in R^64).
- :func:`make_tile_batch` builds the point cloud, tile index and the
  expected results of the ``tile_batch`` workload.

Files are written with several row groups so that scans split across
cores, which is the layout the engine's ingest step would otherwise
produce in a scratch directory.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
ORDER_T0_US = 788_918_400_000_000 - DAY_US  # 1995-01-01T00:00:00Z
SHIP_T0_US = 788_918_400_000_000  # 1995-01-02T00:00:00Z
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = np.array(["MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
ORDER_STATUSES = np.array(["F", "O", "P"])
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUSES = np.array(["F", "O"])
PART_ADJ = np.array(["blue", "hot", "small", "old", "red", "new", "cold", "large"])
PART_NOUN = np.array(["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"])
PART_TYPES = np.array(["PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
LANGS = {"en": 0.44, "es": 0.14, "fr": 0.13, "zh": 0.15, "de": 0.14}
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)


@dataclass(frozen=True)
class StarSize:
    """Row counts of one generated star. ``key_share`` is the share of
    order keys that lineitem references (the join selectivity)."""

    lineitem: int
    orders: int
    customer: int
    supplier: int
    part: int
    events: int
    users: int
    documents: int
    embeddings: int
    key_share: float = 1.0

    @classmethod
    def scaled(cls, sf: float) -> StarSize:
        """The engine test data's row counts at scale factor ``sf``."""
        return cls(
            lineitem=int(6_000_000 * sf),
            orders=int(1_500_000 * sf),
            customer=int(150_000 * sf),
            supplier=max(10, int(10_000 * sf)),
            part=int(200_000 * sf),
            events=int(1_000_000 * sf),
            users=max(150, int(15_000 * sf)),
            documents=500,
            embeddings=500,
        )


#: The relational star of the ``relstar`` workload: 600k lineitem rows
#: over the first 10% of 1.5M order keys, the shape of
#: ``tools/gen_sf1.py --relational`` at scale 1.
RELSTAR_SIZE = StarSize(
    lineitem=600_000, orders=1_500_000, customer=15_000, supplier=1_000,
    part=20_000, events=1_000, users=150, documents=200, embeddings=200,
    key_share=0.1,
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(size: StarSize, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = size
    order_span = int(6.6 * 365 * DAY_US)
    ship_span = int(6.8 * 365 * DAY_US)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n.customer + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n.customer + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n.customer), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n.customer)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n.customer)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n.supplier), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n.supplier)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n.supplier), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n.supplier)),
    })
    adj, noun = rng.integers(0, 8, n.part), rng.integers(0, 8, n.part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n.part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(PART_ADJ[adj], " "), PART_NOUN[noun])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n.part)]),
        "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n.part)]),
        "p_size": pa.array(rng.integers(1, 51, n.part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n.part) % 1000) / 10, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n.customer + 1, n.orders), pa.int64()),
        "o_orderstatus": pa.array(ORDER_STATUSES[rng.integers(0, 3, n.orders)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n.orders)),
        "o_orderdate": pa.array(rng.integers(0, order_span, n.orders) + ORDER_T0_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n.orders)]),
    })
    li = n.lineitem
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, int(n.orders * n.key_share)), li),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n.part, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n.supplier, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, li)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, li) / 100.0, 2)),
        "l_returnflag": pa.array(RETURN_FLAGS[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(LINE_STATUSES[rng.integers(0, 2, li)]),
        "l_shipdate": pa.array(rng.integers(0, ship_span, li) + SHIP_T0_US,
                               pa.timestamp("us")),
    })
    ne = n.events
    props = np.array([json.dumps({"k": k}) for k in range(100)])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.sort(rng.integers(0, 30 * DAY_US, ne)) + EVENT_T0_US,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n.users, ne), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne).clip(0.01, 490.0), 2)),
        "props": pa.array(props[rng.integers(0, 100, ne)]),
    })
    t["documents"] = _documents(rng, n.documents)
    t["embeddings"] = _embeddings(rng, n.embeddings)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    langs = np.array(list(LANGS))
    lang = langs[rng.choice(len(langs), n, p=list(LANGS.values()))]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.03:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = list(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    vec = centers[label] * 0.8 + rng.standard_normal((n, dim)) * 0.25
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_table(table: pa.Table, path: str, parts: int = 4) -> None:
    """Write ``table`` with ``parts`` row groups (one when it is tiny)."""
    rows = max(1, -(-table.num_rows // parts)) if table.num_rows >= 2_000 else None
    pq.write_table(table, path, row_group_size=rows)


def write_star(out_dir: str, size: StarSize, seed: int) -> dict[str, int]:
    """Write the ten engine tables under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_tables(size, seed).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --- tile_batch --------------------------------------------------------------

UNKNOWN_TILE = "zz_not_in_index"


@dataclass
class TileBatch:
    """The ``tile_batch`` input and what every pass must produce."""

    points_path: str
    index_path: str
    tile_list: list[str]  # requested IDs, including UNKNOWN_TILE
    version: int  # the version the AHN selection asks for
    fail_tiles: list[str]
    expected_list: set[str]  # with_list result
    expected_version: set[str]  # configure(version=...) result
    rows_per_tile: dict[str, int]  # over the listed tiles
    heights: dict[str, tuple[float, float]]  # sampled tile -> (p95, p10)
    sizes: dict[str, int]


def _tile_id(r: int, c: int) -> str:
    return f"t{r:02d}_{c:02d}"


def make_tile_batch(out_dir: str, seed: int, points: int, grid: int = 16,
                    tile_m: float = 100.0) -> TileBatch:
    """Seeded point cloud over a ``grid``×``grid`` tile index.

    Tile sizes are Pareto-distributed with one hot tile holding a tenth
    of the points. Versions 3 and 4 split the grid along a seeded
    staircase; a tile is on the version boundary when its closed bbox
    touches a tile of the other version. Expected results are computed
    here with numpy, independently of the engine.
    """
    rng = np.random.default_rng(seed)
    ids = [_tile_id(r, c) for r in range(grid) for c in range(grid)]
    n_tiles = grid * grid
    weights = rng.pareto(1.5, n_tiles) + 1.0
    hot = int(rng.integers(0, n_tiles))
    weights[hot] = 0.0
    weights = weights / weights.sum() * 0.9
    weights[hot] = 0.1
    counts = rng.multinomial(points - 20 * n_tiles, weights) + 20

    # staircase split: tiles left of split[r] are version 3, the rest 4
    split = np.clip(grid // 2 + np.cumsum(rng.integers(-1, 2, grid)), 2, grid - 2)
    rr, cc = np.divmod(np.arange(n_tiles), grid)
    version = np.where(cc < split[rr], 3, 4)
    vgrid = version.reshape(grid, grid)
    boundary = np.zeros((grid, grid), bool)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            shifted = np.full((grid + 2, grid + 2), -1)
            shifted[1:-1, 1:-1] = vgrid
            nb = shifted[1 + dr:grid + 1 + dr, 1 + dc:grid + 1 + dc]
            boundary |= (nb != -1) & (nb != vgrid)
    boundary = boundary.ravel()

    xmin, ymin = cc * tile_m, rr * tile_m
    index = pa.table({
        "tile_id": pa.array(ids),
        "xmin": pa.array(xmin.astype(float)), "ymin": pa.array(ymin.astype(float)),
        "xmax": pa.array((xmin + tile_m).astype(float)),
        "ymax": pa.array((ymin + tile_m).astype(float)),
        "version": pa.array(version, pa.int32()),
    })

    tile_of = np.repeat(np.arange(n_tiles), counts)
    x = xmin[tile_of] + rng.uniform(0.0, tile_m, len(tile_of))
    y = ymin[tile_of] + rng.uniform(0.0, tile_m, len(tile_of))
    ground = 2.0 + 0.01 * x + 0.005 * y
    roof = rng.random(len(tile_of)) < 0.3  # a third of returns hit buildings
    z = np.round(ground + rng.normal(0.0, 0.2, len(tile_of))
                 + roof * rng.uniform(3.0, 30.0, len(tile_of)), 3)
    perm = rng.permutation(len(tile_of))
    tile_names = np.array(ids)[tile_of]
    pts = pa.table({
        "tile_id": pa.array(tile_names[perm]),
        "x": pa.array(x[perm]), "y": pa.array(y[perm]), "z": pa.array(z[perm]),
    })

    listed = sorted(rng.choice(ids, size=(3 * n_tiles) // 4, replace=False).tolist())
    fail = sorted(rng.choice(listed, size=max(1, n_tiles // 50), replace=False).tolist())
    want_version = int(rng.integers(3, 5))
    sample = sorted({ids[hot], *rng.choice(listed, size=min(7, len(listed)), replace=False)})
    heights = {}
    for t in sample:
        zt = z[tile_of == ids.index(t)]
        heights[t] = (float(np.quantile(zt, 0.95)), float(np.quantile(zt, 0.10)))

    os.makedirs(out_dir, exist_ok=True)
    points_path = os.path.join(out_dir, "points.parquet")
    index_path = os.path.join(out_dir, "tile_index.parquet")
    write_table(pts, points_path, parts=8)
    write_table(index, index_path)
    by_id = dict(zip(ids, counts.tolist()))
    return TileBatch(
        points_path=points_path,
        index_path=index_path,
        tile_list=listed + [UNKNOWN_TILE],
        version=want_version,
        fail_tiles=fail,
        expected_list=set(listed),
        expected_version={
            t for t, v, b in zip(ids, version, boundary) if v == want_version and not b
        },
        rows_per_tile={t: by_id[t] for t in listed},
        heights=heights,
        sizes={"points": int(counts.sum()), "tiles": n_tiles, "listed": len(listed),
               "hot_tile_points": int(counts[hot]), "fail_tiles": len(fail)},
    )
