"""Alternating large-star / small-star connected components — the one
CC algorithm (``pipeline_ops.dedup_connected_components``,
``Engine.connected_components``, the semantic and spatial clustering
rows).

Simple min-label propagation needs O(diameter) rounds: fine for
near-dup clusters (near-cliques, 2-3 rounds) but pathological for
chain-shaped graphs. The alternating algorithm of Kiveris et al.
("Connected Components in MapReduce and Beyond", SoCC'14) converges in
O(log² n) rounds regardless of shape:

- large-star(E): per node u with neighborhood Γ(u), let
  m = min(Γ(u) ∪ {u}); emit (v, m) for every v ∈ Γ(u) with v > u.
- small-star(E): emit (v, m) for every v ∈ Γ(u) with v ≤ u, plus
  (u, m).

Each phase is one symmetrize + groupBy(min) + join, and the fixpoint
is a star forest:
every node points at its component's minimum. ``localCheckpoint`` per
round bounds lineage; convergence is detected by the edge multiset
stabilizing (checksum + count, two scalar aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CC_STAR_MAX_ROUNDS = 50  # log²-bounded; 50 covers any conceivable input


def _neighborhood_min(edges: DataFrame) -> DataFrame:
    """(u, v, m): symmetrized adjacency annotated with
    m = min(Γ(u) ∪ {u}) per source node."""
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    return sym.join(m, "u")


def _canon(df: DataFrame) -> DataFrame:
    """Undirected canonical form (a < b), deduped."""
    return (
        df.select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    nm = _neighborhood_min(edges)
    return _canon(
        nm.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    nm = _neighborhood_min(edges)
    leq = nm.filter(F.col("v") <= F.col("u")).select(
        F.col("v").alias("a"), F.col("m").alias("b")
    )
    self_edges = nm.select(F.col("u").alias("a"), F.col("m").alias("b")).distinct()
    return _canon(leq.unionByName(self_edges))


def _signature(edges: DataFrame) -> tuple[int, int]:
    # decimal(38,0) accumulator: summing raw xxhash64 longs overflows
    # int64 (ANSI mode raises); the wide decimal is exact and
    # order-independent.
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components_star(edges: DataFrame) -> DataFrame:
    """(node, component): component = the minimum node id reachable.
    ``edges``: DataFrame with long columns (a, b); isolated nodes are the
    caller's concern (they are their own component)."""
    e = _canon(edges).localCheckpoint()
    sig = _signature(e)
    for _ in range(CC_STAR_MAX_ROUNDS):
        e = _small_star(_large_star(e)).localCheckpoint()
        new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:  # pragma: no cover
        raise RuntimeError(f"star CC did not converge in {CC_STAR_MAX_ROUNDS} rounds")
    # Fixpoint is a star forest: each edge points a node at its root.
    members = e.select(F.col("b").alias("node"), F.col("a").alias("component"))
    roots = e.select(F.col("a").alias("node"), F.col("a").alias("component"))
    return (
        members.unionByName(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
