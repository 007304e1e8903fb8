"""Large-star/small-star connected components vs a union-find reference,
including chain-shaped graphs, whose diameter grows with their size."""

from __future__ import annotations

import pytest

from tile_processor_spark.plans.cc_star import connected_components_star


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


CASES = {
    "chain_200": [(i, i + 1) for i in range(200)],
    "two_cliques_bridge": [(i, j) for i in range(5) for j in range(i)]
    + [(i, j) for i in range(10, 15) for j in range(10, i)]
    + [(4, 10)],
    "star_and_isolated_pair": [(50, i) for i in range(7)] + [(97, 99)],
    "reversed_chain": [(i + 1, i) for i in range(60)],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_star_cc_matches_union_find(spark, name):
    edges = CASES[name]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(df).collect()
    }
    want = _union_find(edges)
    assert got == want
