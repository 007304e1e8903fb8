"""Numpy-vectorized geometry math backing the spatial pandas UDFs.

Everything operates on float64 arrays; per-batch work is grouped by
distinct polygon so a tile join with K unique tiles per Arrow batch costs
K ray-cast sweeps, each vectorized over all points in the batch
(reference semantics: PostGIS ``ST_Within``/``ST_Intersects``/
``ST_UnaryUnion``, tile_processor/tileconfig.py:170-193, 565-586).
"""

from __future__ import annotations

import numpy as np


def points_in_ring(ring: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: which (xs, ys) lie strictly inside
    the closed ring. Points exactly on an edge are implementation-defined
    (callers keep test data off boundaries; the reference inherits the
    same ambiguity from PostGIS vs shapely)."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    xs = xs[:, None]
    ys = ys[:, None]
    crosses = (y1 > ys) != (y2 > ys)
    # x coordinate where the edge crosses the horizontal ray at ys
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = x1 + (ys - y1) * (x2 - x1) / np.where(y2 == y1, np.inf, y2 - y1)
    hits = crosses & (xs < x_at)
    return hits.sum(axis=1) % 2 == 1


def points_in_polygon(rings: list[np.ndarray], xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Inside exterior ring and outside every hole (even-odd rule)."""
    inside = points_in_ring(rings[0], xs, ys)
    for hole in rings[1:]:
        inside &= ~points_in_ring(hole, xs, ys)
    return inside


def _segments_intersect(p1, p2, q1, q2) -> bool:
    def orient(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    d1, d2 = orient(q1, q2, p1), orient(q1, q2, p2)
    d3, d4 = orient(p1, p2, q1), orient(p1, p2, q2)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True

    def on_seg(a, b, c):
        return (
            orient(a, b, c) == 0
            and min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    return on_seg(q1, q2, p1) or on_seg(q1, q2, p2) or on_seg(p1, p2, q1) or on_seg(p1, p2, q2)


def polygons_intersect(a_rings: list[np.ndarray], b_rings: list[np.ndarray]) -> bool:
    """Exact polygon-polygon intersection (boundaries touching counts,
    matching PostGIS ST_Intersects). Exterior rings only — adequate for
    tile/extent geometries, which are hole-free."""
    a, b = a_rings[0], b_rings[0]
    if points_in_polygon(a_rings, b[:-1, 0], b[:-1, 1]).any():
        return True
    if points_in_polygon(b_rings, a[:-1, 0], a[:-1, 1]).any():
        return True
    for i in range(len(a) - 1):
        for j in range(len(b) - 1):
            if _segments_intersect(a[i], a[i + 1], b[j], b[j + 1]):
                return True
    return False


def rect_union_de9im(rects: np.ndarray, b: tuple[float, float, float, float]) -> str:
    """DE-9IM matrix (9-char string, row order A-interior/boundary/exterior
    × column order B-interior/boundary/exterior) for A = the *union* of
    closed axis-aligned rects (n,4)=(xmin,ymin,xmax,ymax) and B = one
    closed rect. A enters as the raw rect list — the union (the
    reference's dissolve, ST_UnaryUnion(ST_Collect(...)),
    tile_processor/tileconfig.py:565-586) is implicit in the covered-cell
    model, so no geometric union is ever materialized.

    Exactness: coordinate compression over all rect edges makes every
    cell homogeneously in/out of both A and B, so each matrix entry is an
    exact finite check. For rectilinear inputs the possible dimensions
    collapse: open∩open entries (II, IE, EI, EE) are F or 2; mixed
    entries (IB, BI, BE, EB) are F or 1, because a boundary point inside
    an open set always drags a positive-length boundary piece with it;
    only BB can be 0 (boundaries crossing at grid vertices) — which is
    exactly what the reference's `ST_Relate(..., '212101212')`
    (tileconfig.py:591) discriminates on.
    """
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    rects = rects[(rects[:, 2] > rects[:, 0]) & (rects[:, 3] > rects[:, 1])]
    bx0, by0, bx1, by1 = (float(v) for v in b)
    xs = np.unique(np.concatenate([rects[:, 0], rects[:, 2], [bx0, bx1]]))
    ys = np.unique(np.concatenate([rects[:, 1], rects[:, 3], [by0, by1]]))
    nx, ny = len(xs) - 1, len(ys) - 1
    covered = np.zeros((nx, ny), dtype=bool)
    xi0 = np.searchsorted(xs, rects[:, 0])
    xi1 = np.searchsorted(xs, rects[:, 2])
    yi0 = np.searchsorted(ys, rects[:, 1])
    yi1 = np.searchsorted(ys, rects[:, 3])
    for k in range(len(rects)):
        covered[xi0[k] : xi1[k], yi0[k] : yi1[k]] = True
    inb = ((xs[:-1] >= bx0) & (xs[1:] <= bx1))[:, None] & (
        (ys[:-1] >= by0) & (ys[1:] <= by1)
    )[None, :]

    pad = np.zeros((nx + 2, ny + 2), dtype=bool)
    pad[1:-1, 1:-1] = covered

    # Vertical grid-edge pieces: x = xs[i], y ∈ (ys[j], ys[j+1]).
    left, right = pad[:-1, 1:-1], pad[1:, 1:-1]  # (nx+1, ny)
    on_a_v = left != right
    int_a_v = left & right
    ext_a_v = ~left & ~right
    y_in_b = ((ys[:-1] >= by0) & (ys[1:] <= by1))[None, :]
    on_b_v = np.isin(xs, (bx0, bx1))[:, None] & y_in_b
    int_b_v = ((xs > bx0) & (xs < bx1))[:, None] & y_in_b
    ext_b_v = ((xs < bx0) | (xs > bx1))[:, None] | (
        (ys[1:] <= by0) | (ys[:-1] >= by1)
    )[None, :]

    # Horizontal grid-edge pieces: y = ys[j], x ∈ (xs[i], xs[i+1]).
    below, above = pad[1:-1, :-1], pad[1:-1, 1:]  # (nx, ny+1)
    on_a_h = below != above
    int_a_h = below & above
    ext_a_h = ~below & ~above
    x_in_b = ((xs[:-1] >= bx0) & (xs[1:] <= bx1))[:, None]
    on_b_h = x_in_b & np.isin(ys, (by0, by1))[None, :]
    int_b_h = x_in_b & ((ys > by0) & (ys < by1))[None, :]
    ext_b_h = ((xs[1:] <= bx0) | (xs[:-1] >= bx1))[:, None] | (
        (ys < by0) | (ys > by1)
    )[None, :]

    ib = (on_b_v & int_a_v).any() or (on_b_h & int_a_h).any()
    bi = (on_a_v & int_b_v).any() or (on_a_h & int_b_h).any()
    bb1 = (on_a_v & on_b_v).any() or (on_a_h & on_b_h).any()
    be = (on_a_v & ext_b_v).any() or (on_a_h & ext_b_h).any()
    eb = (on_b_v & ext_a_v).any() or (on_b_h & ext_a_h).any()

    bb0 = False
    if not bb1:
        # Boundary crossings can only sit on grid vertices: ∂A and ∂B both
        # run along grid lines, so point contacts are vertex contacts.
        quad_any = pad[:-1, :-1] | pad[1:, :-1] | pad[:-1, 1:] | pad[1:, 1:]
        quad_all = pad[:-1, :-1] & pad[1:, :-1] & pad[:-1, 1:] & pad[1:, 1:]
        on_a_vert = quad_any & ~quad_all  # (nx+1, ny+1)
        vx, vy = xs[:, None], ys[None, :]
        on_b_vert = (np.isin(xs, (bx0, bx1))[:, None] & (vy >= by0) & (vy <= by1)) | (
            np.isin(ys, (by0, by1))[None, :] & (vx >= bx0) & (vx <= bx1)
        )
        bb0 = bool((on_a_vert & on_b_vert).any())

    return "".join(
        [
            "2" if (covered & inb).any() else "F",
            "1" if ib else "F",
            "2" if (covered & ~inb).any() else "F",
            "1" if bi else "F",
            "1" if bb1 else ("0" if bb0 else "F"),
            "1" if be else "F",
            "2" if (inb & ~covered).any() else "F",
            "1" if eb else "F",
            "2",
        ]
    )


def relate_pattern(matrix: str, pattern: str) -> bool:
    """DE-9IM pattern match (PostGIS ST_Relate 3-arg semantics):
    ``*`` any, ``T`` any non-F, ``F`` empty, ``0``/``1``/``2`` exact dim."""
    if len(matrix) != 9 or len(pattern) != 9:
        raise ValueError("DE-9IM matrix and pattern must be 9 chars")
    for m, p in zip(matrix, pattern):
        if p == "*":
            continue
        if p == "T":
            if m == "F":
                return False
        elif m != p:
            return False
    return True


def rect_union_covers(rects: np.ndarray, b: tuple[float, float, float, float]) -> bool:
    """ST_Covers(A, B) — no point of B in A's exterior — i.e. the EI and
    EB entries of the DE-9IM matrix are both F (tileconfig.py:592)."""
    m = rect_union_de9im(rects, b)
    return m[6] == "F" and m[7] == "F"


def rect_union_area(rects: np.ndarray) -> float:
    """Exact area of the union of axis-aligned rectangles
    (n,4)=(xmin,ymin,xmax,ymax) — coordinate-compression sweep; the
    engine's dissolve (ST_UnaryUnion(ST_Collect(...)), A3 in SURVEY §2.4)
    reports union area per group."""
    rects = np.asarray(rects, dtype=np.float64)
    if len(rects) == 0:
        return 0.0
    xs = np.unique(np.concatenate([rects[:, 0], rects[:, 2]]))
    ys = np.unique(np.concatenate([rects[:, 1], rects[:, 3]]))
    if len(xs) < 2 or len(ys) < 2:
        return 0.0
    # covered[i, j] = cell (xs[i], xs[i+1]) x (ys[j], ys[j+1]) covered?
    covered = np.zeros((len(xs) - 1, len(ys) - 1), dtype=bool)
    xi0 = np.searchsorted(xs, rects[:, 0])
    xi1 = np.searchsorted(xs, rects[:, 2])
    yi0 = np.searchsorted(ys, rects[:, 1])
    yi1 = np.searchsorted(ys, rects[:, 3])
    for k in range(len(rects)):
        covered[xi0[k] : xi1[k], yi0[k] : yi1[k]] = True
    wx = np.diff(xs)
    wy = np.diff(ys)
    return float((covered * wx[:, None] * wy[None, :]).sum())
