"""Vectorized numpy geometry kernels.

The environment has no GEOS/shapely, so every predicate the reference
delegates to the ``geos``/``geo`` crates is hand-built here over packed
coordinate arrays (Arrow-friendly):

* ``covers``      — boundary-inclusive containment, matching GEOS ``covers``
                    as used at reference src/zone_ext.rs:236-277 (the comment
                    at :244-246 explains why covers, not contains: a polygon
                    does NOT contain its boundary, but covers it).
* ``pip``         — strict even-odd point-in-polygon, matching the ``geo``
                    crate ``contains`` at src/zone_ext.rs:279-284.
* ``intersects``  — any-polygon intersects, src/zone_ext.rs:286-293.
* ``centroid``    — shoelace centroid with the NaN guard of
                    src/zone_ext.rs:195-208.
* ``bbox``        — bounding rect, src/zone_ext.rs:184.

Geometry representation: a *multipolygon* is a list of rings, each ring a
tuple ``(poly_idx, ring_idx, xs, ys)`` with ``xs``/``ys`` float64 numpy
arrays (closed or open — we treat the first==last duplicate as optional).
``ring_idx == 0`` is the exterior of polygon ``poly_idx``; higher ring
indices are holes. This maps 1:1 onto the Spark column
``array<struct<poly:int, ring:int, xs:array<double>, ys:array<double>>>``.
"""

from __future__ import annotations

import numpy as np

EPS = 1e-12

Ring = tuple  # (poly_idx:int, ring_idx:int, xs:np.ndarray, ys:np.ndarray)


def make_rect(minx: float, miny: float, maxx: float, maxy: float) -> list[Ring]:
    """Single-polygon axis-aligned rectangle multipolygon."""
    xs = np.array([minx, minx, maxx, maxx], dtype=np.float64)
    ys = np.array([miny, maxy, maxy, miny], dtype=np.float64)
    return [(0, 0, xs, ys)]


def _close_ring(xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Drop the duplicated closing vertex if present."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        return xs[:-1], ys[:-1]
    return xs, ys


def _ring_edges(xs: np.ndarray, ys: np.ndarray):
    """(x1, y1, x2, y2) edge arrays for a ring (auto-closing)."""
    xs, ys = _close_ring(xs, ys)
    return xs, ys, np.roll(xs, -1), np.roll(ys, -1)


def bbox(rings: list[Ring]) -> tuple[float, float, float, float]:
    minx = min(float(np.min(r[2])) for r in rings)
    maxx = max(float(np.max(r[2])) for r in rings)
    miny = min(float(np.min(r[3])) for r in rings)
    maxy = max(float(np.max(r[3])) for r in rings)
    return minx, miny, maxx, maxy


def bbox_overlaps(a, b) -> bool:
    return a[0] <= b[2] and b[0] <= a[2] and a[1] <= b[3] and b[1] <= a[3]


def bbox_contains_bbox(a, b) -> bool:
    """bbox a fully contains bbox b (boundary-inclusive)."""
    return a[0] <= b[0] and a[1] <= b[1] and a[2] >= b[2] and a[3] >= b[3]


# 2D tile sizes for the (points × edges) intermediates: each temporary
# stays ~L2-resident (256 KB), so many-vertex polygons remain
# compute-bound even with many concurrent workers sharing L3/memory
_EDGE_TILE = 256
_TILE_ELEMS = 1 << 15  # 32k float64 = 256 KB per temporary


# point-tile width of the y-banded kernels: per tile an O(E) edge
# prefilter runs once, then only the surviving edges pay the
# (points × edges) arithmetic — 512 keeps the prefilter overhead
# negligible while keeping tiles y-narrow enough that localized point
# sets (a cogroup cell, a raster pixel row, a child zone's samples)
# drop ~all of a large polygon's edges
_BAND_PTS = 512


def pip(px: np.ndarray, py: np.ndarray, rings: list[Ring]) -> np.ndarray:
    """Strict even-odd point-in-multipolygon (boundary points undefined;
    use ``pip_covers`` for boundary-inclusive).

    r7: points are processed in y-sorted tiles and each tile prefilters
    the polygon's edges EXACTLY — an edge contributes a crossing to
    point (p, q) only if q ∈ [min(ey), max(ey)) (the upward-ray
    convention) and the edge has x-extent right of p, so edges whose
    y-span misses the tile's [qmin, qmax] band or whose max x is left of
    the tile's min x contribute zero to every point in the tile.
    Per-pair arithmetic is unchanged, so results are bit-identical to
    the untiled kernel; for spatially-localized query sets (cogroup
    cells, sample points of a small child zone) the per-tile edge count
    collapses from |E| to the handful crossing the band.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = len(px)
    result = np.zeros(n, dtype=bool)
    if n == 0 or not rings:
        return result
    order = np.argsort(py, kind="stable")
    spx = px[order]
    spy = py[order]
    res_s = np.zeros(n, dtype=bool)
    polys: dict[int, list[Ring]] = {}
    for r in rings:
        polys.setdefault(r[0], []).append(r)
    for poly_rings in polys.values():
        xs1, ys1, xs2, ys2 = [], [], [], []
        for _, _, xs, ys in poly_rings:
            x1, y1, x2, y2 = _ring_edges(xs, ys)
            xs1.append(x1)
            ys1.append(y1)
            xs2.append(x2)
            ys2.append(y2)
        x1 = np.concatenate(xs1)
        y1 = np.concatenate(ys1)
        x2 = np.concatenate(xs2)
        y2 = np.concatenate(ys2)
        with np.errstate(divide="ignore", invalid="ignore"):
            dyall = np.where(y2 - y1 == 0, np.inf, y2 - y1)
            dxall = x2 - x1
        eylo = np.minimum(y1, y2)
        eyhi = np.maximum(y1, y2)
        exhi = np.maximum(x1, x2)
        cross = np.zeros(n, dtype=np.int64)
        for s in range(0, n, _BAND_PTS):
            hi = min(n, s + _BAND_PTS)
            q = spy[s:hi]
            p = spx[s:hi]
            sel = (eyhi > q[0]) & (eylo <= q[-1]) & (exhi > p.min())
            ns = int(np.count_nonzero(sel))
            if ns == 0:
                continue
            bx1 = x1[sel]
            by1 = y1[sel]
            by2 = y2[sel]
            bdy = dyall[sel]
            bdx = dxall[sel]
            pcol = p[:, None]
            qcol = q[:, None]
            et = min(ns, _EDGE_TILE)
            for es in range(0, ns, et):
                e1 = bx1[es : es + et][None, :]
                f1 = by1[es : es + et][None, :]
                f2 = by2[es : es + et][None, :]
                gdy = bdy[es : es + et][None, :]
                gdx = bdx[es : es + et][None, :]
                cond = (f1 <= qcol) != (f2 <= qcol)
                t = (qcol - f1) / gdy
                xint = e1 + t * gdx
                cross[s:hi] += (cond & (pcol < xint)).sum(axis=1)
        res_s |= (cross & 1) == 1
    result[order] = res_s
    return result


def on_boundary(px: np.ndarray, py: np.ndarray, rings: list[Ring], eps: float = EPS) -> np.ndarray:
    """Point lies on any ring segment (within eps).

    r7: same y-sorted tiling as ``pip`` with an exact bbox prefilter —
    a point within eps of a segment necessarily lies inside the
    segment's bbox expanded by eps, so edges whose expanded bbox misses
    the tile's point bbox are skipped wholesale."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = len(px)
    out = np.zeros(n, dtype=bool)
    if n == 0 or not rings:
        return out
    xs1, ys1, xs2, ys2 = [], [], [], []
    for _, _, xs, ys in rings:
        x1, y1, x2, y2 = _ring_edges(xs, ys)
        xs1.append(x1)
        ys1.append(y1)
        xs2.append(x2)
        ys2.append(y2)
    x1 = np.concatenate(xs1)
    y1 = np.concatenate(ys1)
    x2 = np.concatenate(xs2)
    y2 = np.concatenate(ys2)
    dx = x2 - x1
    dy = y2 - y1
    seg_len2 = np.where(dx * dx + dy * dy == 0, 1.0, dx * dx + dy * dy)
    exlo = np.minimum(x1, x2) - eps
    exhi = np.maximum(x1, x2) + eps
    eylo = np.minimum(y1, y2) - eps
    eyhi = np.maximum(y1, y2) + eps
    order = np.argsort(py, kind="stable")
    spx = px[order]
    spy = py[order]
    out_s = np.zeros(n, dtype=bool)
    for s in range(0, n, _BAND_PTS):
        hi = min(n, s + _BAND_PTS)
        q = spy[s:hi]
        p = spx[s:hi]
        sel = (
            (eyhi >= q[0])
            & (eylo <= q[-1])
            & (exhi >= p.min())
            & (exlo <= p.max())
        )
        ns = int(np.count_nonzero(sel))
        if ns == 0:
            continue
        bx1 = x1[sel]
        by1 = y1[sel]
        bdx = dx[sel]
        bdy = dy[sel]
        bsl = seg_len2[sel]
        pcol = p[:, None]
        qcol = q[:, None]
        et = min(ns, _EDGE_TILE)
        for es in range(0, ns, et):
            gx1 = bx1[es : es + et][None, :]
            gy1 = by1[es : es + et][None, :]
            gdx = bdx[es : es + et][None, :]
            gdy = bdy[es : es + et][None, :]
            gsl = bsl[es : es + et][None, :]
            wx = pcol - gx1
            wy = qcol - gy1
            t = np.clip((wx * gdx + wy * gdy) / gsl, 0.0, 1.0)
            distx = wx - t * gdx
            disty = wy - t * gdy
            d2 = distx * distx + disty * disty
            out_s[s:hi] |= (d2 <= eps * eps).any(axis=1)
    out[order] = out_s
    return out


def pip_covers(px: np.ndarray, py: np.ndarray, rings: list[Ring]) -> np.ndarray:
    """Boundary-inclusive point-in-multipolygon (GEOS covers semantics
    for a point operand). r7: the boundary-distance kernel (the more
    expensive of the two) only runs on points the even-odd test did not
    already accept — identical result to ``pip | on_boundary``."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = pip(px, py, rings)
    rem = ~inside
    if rem.any():
        inside[rem] = on_boundary(px[rem], py[rem], rings)
    return inside


def _segments(rings: list[Ring]):
    """All edges of a multipolygon as stacked arrays."""
    xs1, ys1, xs2, ys2 = [], [], [], []
    for _, _, xs, ys in rings:
        x1, y1, x2, y2 = _ring_edges(xs, ys)
        xs1.append(x1)
        ys1.append(y1)
        xs2.append(x2)
        ys2.append(y2)
    return (
        np.concatenate(xs1),
        np.concatenate(ys1),
        np.concatenate(xs2),
        np.concatenate(ys2),
    )


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_properly_cross(rings_a: list[Ring], rings_b: list[Ring]) -> bool:
    """True iff some edge of A *properly* crosses some edge of B (interiors
    of the segments intersect at a single point, not mere touching)."""
    ax1, ay1, ax2, ay2 = _segments(rings_a)
    bx1, by1, bx2, by2 = _segments(rings_b)
    # broadcast A edges (rows) against B edges (cols)
    d1 = _orient(ax1[:, None], ay1[:, None], ax2[:, None], ay2[:, None], bx1[None, :], by1[None, :])
    d2 = _orient(ax1[:, None], ay1[:, None], ax2[:, None], ay2[:, None], bx2[None, :], by2[None, :])
    d3 = _orient(bx1[None, :], by1[None, :], bx2[None, :], by2[None, :], ax1[:, None], ay1[:, None])
    d4 = _orient(bx1[None, :], by1[None, :], bx2[None, :], by2[None, :], ax2[:, None], ay2[:, None])
    proper = ((d1 > EPS) & (d2 < -EPS) | (d1 < -EPS) & (d2 > EPS)) & (
        (d3 > EPS) & (d4 < -EPS) | (d3 < -EPS) & (d4 > EPS)
    )
    return bool(proper.any())


def _sample_points(rings: list[Ring]) -> tuple[np.ndarray, np.ndarray]:
    """Vertices plus edge midpoints of a multipolygon."""
    pxs, pys = [], []
    for _, _, xs, ys in rings:
        x1, y1, x2, y2 = _ring_edges(xs, ys)
        pxs.append(x1)
        pys.append(y1)
        pxs.append((x1 + x2) / 2.0)
        pys.append((y1 + y2) / 2.0)
    return np.concatenate(pxs), np.concatenate(pys)


def covers(rings_a: list[Ring], rings_b: list[Ring]) -> bool:
    """Boundary-inclusive containment: A covers B.

    Matches GEOS ``covers`` for valid admin polygons
    (reference src/zone_ext.rs:236-277): every vertex and edge midpoint
    of B is inside-or-on A, no edge of B properly crosses an edge of A,
    bbox(B) ⊆ bbox(A), and no hole of A lies strictly inside B (a hole
    whose ring sits in B's interior exposes uncovered interior of B even
    though all of B's own samples pass and no edges properly cross).
    """
    if not bbox_contains_bbox(bbox(rings_a), bbox(rings_b)):
        return False
    px, py = _sample_points(rings_b)
    # r7: the boundary-distance kernel only runs on samples the even-odd
    # test missed (identical decision to `(pip | on_boundary).all()`) —
    # for true containment pairs that subset is empty or tiny
    miss = ~pip(px, py, rings_a)
    if miss.any() and not on_boundary(px[miss], py[miss], rings_a).all():
        return False
    if segments_properly_cross(rings_a, rings_b):
        return False
    # hole-of-A check: any sample point of an A-hole ring strictly
    # interior to B (inside and not on B's boundary) means B's interior
    # pokes into A's hole → not covered. A hole identical to a hole of B
    # passes (its samples are ON B's boundary), and B fully inside A's
    # hole was already rejected by the even-odd pip above.
    bb = bbox(rings_b)
    for p, r, xs, ys in rings_a:
        if r == 0:
            continue
        hb = bbox([(p, r, xs, ys)])
        if not bbox_overlaps(hb, bb):
            continue
        hx, hy = _sample_points([(p, r, xs, ys)])
        inb = pip(hx, hy, rings_b)
        # strictly-interior ⟺ inside and not on B's boundary; only the
        # inside samples can be strict, so test boundary on those alone
        if inb.any() and (~on_boundary(hx[inb], hy[inb], rings_b)).any():
            return False
    return True


def intersects(rings_a: list[Ring], rings_b: list[Ring]) -> bool:
    """Any polygon of A intersects B (reference src/zone_ext.rs:286-293)."""
    if not bbox_overlaps(bbox(rings_a), bbox(rings_b)):
        return False
    pbx, pby = _sample_points(rings_b)
    if pip(pbx, pby, rings_a).any() or on_boundary(pbx, pby, rings_a).any():
        return True
    pax, pay = _sample_points(rings_a)
    if pip(pax, pay, rings_b).any() or on_boundary(pax, pay, rings_b).any():
        return True
    return segments_properly_cross(rings_a, rings_b)


def area(rings: list[Ring]) -> float:
    """Unsigned multipolygon area: exterior rings add, holes subtract."""
    total = 0.0
    for _, ring_idx, xs, ys in rings:
        xs, ys = _close_ring(xs, ys)
        a = 0.5 * abs(float(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys)))
        total += a if ring_idx == 0 else -a
    return total


def centroid(rings: list[Ring]) -> tuple[float, float] | None:
    """Area-weighted shoelace centroid; None on degenerate geometry
    (the NaN guard at reference src/zone_ext.rs:198-207)."""
    sa = 0.0
    sx = 0.0
    sy = 0.0
    for _, ring_idx, xs, ys in rings:
        xs, ys = _close_ring(xs, ys)
        cross = xs * np.roll(ys, -1) - np.roll(xs, -1) * ys
        a = float(np.sum(cross)) / 2.0
        sign = 1.0 if ring_idx == 0 else -1.0
        a = sign * abs(a)
        if a == 0.0:
            continue
        # normalize orientation so the centroid formula is consistent
        cx = float(np.sum((xs + np.roll(xs, -1)) * cross)) / (3.0 * float(np.sum(cross))) if np.sum(cross) != 0 else 0.0
        cy = float(np.sum((ys + np.roll(ys, -1)) * cross)) / (3.0 * float(np.sum(cross))) if np.sum(cross) != 0 else 0.0
        sa += a
        sx += a * cx
        sy += a * cy
    if sa == 0.0 or not np.isfinite(sx / sa) or not np.isfinite(sy / sa):
        return None
    return sx / sa, sy / sa


def bbox_covered_by(rect, rings: list[Ring]) -> bool:
    """True iff the axis-aligned rect (minx,miny,maxx,maxy) is fully
    covered by the multipolygon — used to mark grid cells as FULL so the
    fact-side PIP refinement can be skipped for them (the big win at
    10^12 rows: interior cells of a zone need no geometry test)."""
    minx, miny, maxx, maxy = rect
    return covers(rings, make_rect(minx, miny, maxx, maxy))


def rects_fully_covered(
    minx: np.ndarray, miny: np.ndarray, maxx: np.ndarray, maxy: np.ndarray,
    rings: list[Ring],
) -> np.ndarray:
    """Vectorized FULL-cell marking: rect i is marked covered iff all 4
    corners are strictly inside the multipolygon AND no ring edge's bbox
    overlaps the rect. Sound: if no boundary edge touches the rect, the
    rect lies entirely on one side of the boundary, and inside corners
    pin that side. Conservative vs exact ``covers`` (an edge bbox can
    overlap without the edge entering the rect — such cells just keep
    paying the exact PIP), which is what makes it O(cells) instead of
    O(cells × covers()): index build at 1024 cells/zone needs this.
    Holes are handled for free — a rect containing (or inside) a hole
    either has outside corners or overlaps the hole ring's edges."""
    minx = np.asarray(minx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)
    k = len(minx)
    if k == 0:
        return np.zeros(0, dtype=bool)
    edge_hit = _rect_edge_hits(minx, miny, maxx, maxy, rings)
    out = np.zeros(k, dtype=bool)
    clear = np.nonzero(~edge_hit)[0]
    if len(clear):
        # no boundary edge touches these rects → the whole rect lies on
        # one side of the boundary; ONE strictly-interior point decides
        cx = (minx[clear] + maxx[clear]) / 2.0
        cy = (miny[clear] + maxy[clear]) / 2.0
        out[clear] = pip(cx, cy, rings)
    return out


def rects_classify(
    minx: np.ndarray, miny: np.ndarray, maxx: np.ndarray, maxy: np.ndarray,
    rings: list[Ring],
) -> np.ndarray:
    """Three-way rect/multipolygon classification, vectorized:
    0 = OUTSIDE (rect ∩ polygon = ∅), 1 = FULL (rect entirely covered),
    2 = BOUNDARY (a ring edge may touch the rect — the only class that
    needs per-pixel work downstream).

    Soundness is one lemma: if no boundary edge touches a rect
    (``edge_hit`` false — conservative, bbox-overlap + line-separation
    refined), the rect lies entirely on one side of the boundary, so its
    center pins OUTSIDE vs FULL exactly. A polygon wholly inside a rect
    always trips edge_hit (its edges' bboxes overlap the rect), so class
    0/1 are never wrong; class 2 may include rects an exact test would
    resolve — those just pay the per-pixel kernel. This powers the
    hierarchical raster descent (``raster.zone_raster_cover``)."""
    minx = np.asarray(minx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)
    k = len(minx)
    if k == 0:
        return np.zeros(0, dtype=np.int8)
    edge_hit = _rect_edge_hits(minx, miny, maxx, maxy, rings)
    out = np.full(k, 2, dtype=np.int8)
    clear = np.nonzero(~edge_hit)[0]
    if len(clear):
        cx = (minx[clear] + maxx[clear]) / 2.0
        cy = (miny[clear] + maxy[clear]) / 2.0
        out[clear] = pip(cx, cy, rings).astype(np.int8)
    return out


def _rect_edge_hits(
    minx: np.ndarray, miny: np.ndarray, maxx: np.ndarray, maxy: np.ndarray,
    rings: list[Ring],
) -> np.ndarray:
    """Per-rect: does any ring edge's bbox overlap the rect without the
    edge's LINE separating all 4 rect corners? (shared by
    ``rects_fully_covered`` / ``rects_classify``)"""
    k = len(minx)
    edge_hit = np.zeros(k, dtype=bool)
    for _, _, xs, ys in rings:
        x1, y1, x2, y2 = _ring_edges(xs, ys)
        eminx = np.minimum(x1, x2)
        emaxx = np.maximum(x1, x2)
        eminy = np.minimum(y1, y2)
        emaxy = np.maximum(y1, y2)
        e = len(x1)
        step = max(64, _TILE_ELEMS // max(4 * e, 1))
        for s in range(0, k, step):
            bb = (
                (eminx[None, :] <= maxx[s : s + step, None])
                & (emaxx[None, :] >= minx[s : s + step, None])
                & (eminy[None, :] <= maxy[s : s + step, None])
                & (emaxy[None, :] >= miny[s : s + step, None])
            )
            # bbox overlap alone is too blunt for long diagonal edges
            # (one hypotenuse's bbox can cover the whole polygon);
            # refine: the edge's LINE must also separate the rect's
            # corners — all 4 on one strict side ⟹ the segment misses
            # the rect. Evaluated only on the bbox-overlapping (rect,
            # edge) pairs, a handful per rect on detailed rings.
            ri, ei = np.nonzero(bb)
            ri += s
            dx = x2[ei] - x1[ei]
            dy = y2[ei] - y1[ei]
            ex = x1[ei]
            ey = y1[ei]
            d1 = dx * (miny[ri] - ey) - dy * (minx[ri] - ex)
            d2 = dx * (miny[ri] - ey) - dy * (maxx[ri] - ex)
            d3 = dx * (maxy[ri] - ey) - dy * (minx[ri] - ex)
            d4 = dx * (maxy[ri] - ey) - dy * (maxx[ri] - ex)
            one_side = ((d1 > EPS) & (d2 > EPS) & (d3 > EPS) & (d4 > EPS)) | (
                (d1 < -EPS) & (d2 < -EPS) & (d3 < -EPS) & (d4 < -EPS)
            )
            edge_hit[ri[~one_side]] = True
    return edge_hit


def pack_rings(rings: list[Ring]) -> bytes:
    """Flat binary encoding of a multipolygon: per ring
    int32 poly | int32 ring | int32 n | n×float64 xs | n×float64 ys.
    Used where the nested array<struct<..array<double>>> column cannot
    travel (pyspark's cogroup Arrow deserializer segfaults on it)."""
    parts = []
    for p, r, xs, ys in rings:
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        head = np.array([p, r, len(xs)], dtype=np.int32)
        parts.append(head.tobytes())
        parts.append(xs.tobytes())
        parts.append(ys.tobytes())
    return b"".join(parts)


def unpack_rings(buf: bytes) -> list[Ring]:
    out: list[Ring] = []
    mv = memoryview(buf)
    off = 0
    while off < len(mv):
        p, r, n = np.frombuffer(mv, dtype=np.int32, count=3, offset=off)
        off += 12
        xs = np.frombuffer(mv, dtype=np.float64, count=n, offset=off)
        off += 8 * n
        ys = np.frombuffer(mv, dtype=np.float64, count=n, offset=off)
        off += 8 * n
        out.append((int(p), int(r), xs, ys))
    return out


# ---------------------------------------------------------------------------
# (de)serialization between the Spark rings column and numpy rings


def rings_to_rows(rings: list[Ring]) -> list[dict]:
    return [
        {"poly": int(p), "ring": int(r), "xs": [float(v) for v in xs], "ys": [float(v) for v in ys]}
        for (p, r, xs, ys) in rings
    ]


def rows_to_rings(rows) -> list[Ring]:
    out = []
    for row in rows:
        if isinstance(row, dict):
            p, r, xs, ys = row["poly"], row["ring"], row["xs"], row["ys"]
        else:  # pyspark Row or tuple-like
            p, r, xs, ys = row[0], row[1], row[2], row[3]
        out.append((int(p), int(r), np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)))
    return out
