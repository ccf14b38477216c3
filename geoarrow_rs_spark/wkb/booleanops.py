"""Polygon boolean operations (union / intersection / difference /
symmetric difference) — the Spark-side implementation of the reference's
GEOS overlay surface (/root/reference/rust/geoarrow-old/src/algorithm/geos/
bool_ops.rs:24-80), built from scratch (no GEOS in this runtime).

Algorithm: classic subdivide-and-classify overlay
1. split every edge of A at its intersections with edges of B (and vice
   versa);
2. classify each sub-edge by the location of its midpoint w.r.t. the other
   polygon (interior / boundary / exterior);
3. select sub-edges per operation (e.g. intersection = A-edges inside B +
   B-edges inside A; boundary-collinear edges are kept once, from A, when
   tangent orientations agree with the op);
4. stitch selected directed edges into rings (D edges reversed for
   difference), then assemble shells/holes by signed area + containment.

Supports polygons and multipolygons with holes. Lines/points fall back to
clipping/membership semantics. Robustness: coordinates are snapped to a
1e-9 grid at stitch time; collinear overlaps handled via boundary
classification.
"""

from __future__ import annotations

import math

import numpy as np

from .algorithms import point_in_polygon
from .core import (
    MULTIPOLYGON,
    POLYGON,
    Geom,
    empty,
    iter_parts,
)

_SNAP = 1e-9


def _polys_of(g):
    """list of polygon part ring-lists (each a list of rings)."""
    out = []
    for p in iter_parts(g):
        if p.kind == POLYGON and p.data:
            out.append([np.asarray(r[:, :2], dtype=np.float64) for r in p.data])
    return out


def _locate(x, y, polys):
    """0 exterior / 1 boundary / 2 interior w.r.t. a multipolygon (list of
    ring-lists)."""
    best = 0
    for rings in polys:
        loc = point_in_polygon(x, y, rings)
        if loc == 1:
            return 1
        best = max(best, loc)
    return best


def _ring_locate_many(px, py, ring):
    """Vectorized _point_in_ring over point arrays: 0/1/2 per point,
    replicating algorithms._point_in_ring's epsilon and crossing rules
    term for term."""
    n = len(ring) - 1
    m = len(px)
    out = np.zeros(m, dtype=np.int8)
    if n < 3:
        return out
    ax = ring[:-1, 0][None, :]
    ay = ring[:-1, 1][None, :]
    bx = ring[1:, 0][None, :]
    by = ring[1:, 1][None, :]
    qx = np.asarray(px, dtype=np.float64)[:, None]
    qy = np.asarray(py, dtype=np.float64)[:, None]
    cross = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
    L = np.hypot(bx - ax, by - ay)
    near = np.abs(cross) <= 1e-9 * np.maximum(L, 1.0)
    dot = (qx - ax) * (bx - ax) + (qy - ay) * (by - ay)
    onb = (near & (dot >= -1e-9) & (dot <= L * L + 1e-9)).any(axis=1)
    crossed = (ay > qy) != (by > qy)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qy - ay) / np.where(by != ay, by - ay, 1.0)
        xi = ax + t * (bx - ax)
    inside = ((crossed & (xi > qx)).sum(axis=1) & 1).astype(bool)
    out[inside] = 2
    out[onb] = 1
    return out


def _pip_many(px, py, rings):
    """Vectorized point_in_polygon (shell + ordered holes, first hit wins)."""
    res = _ring_locate_many(px, py, rings[0])
    active = res == 2
    for hole in rings[1:]:
        if not active.any():
            break
        h = _ring_locate_many(px, py, hole)
        res = np.where(active & (h == 2), 0, res)
        res = np.where(active & (h == 1), 1, res)
        active &= ~((h == 2) | (h == 1))
    return res


def _locate_many(px, py, polys):
    """Vectorized _locate: boundary of ANY part wins, else interior of any."""
    m = len(px)
    any1 = np.zeros(m, dtype=bool)
    any2 = np.zeros(m, dtype=bool)
    for rings in polys:
        r = _pip_many(px, py, rings)
        any1 |= r == 1
        any2 |= r == 2
    return np.where(any1, 1, np.where(any2, 2, 0)).astype(np.int8)


def _seg_param_intersections(a1, a2, segs):
    """Parameters t in (0,1) where segment a1->a2 crosses any seg in segs."""
    ts = []
    ax, ay = a1
    dx, dy = a2[0] - ax, a2[1] - ay
    for (b1, b2) in segs:
        ex, ey = b2[0] - b1[0], b2[1] - b1[1]
        denom = dx * ey - dy * ex
        rx, ry = b1[0] - ax, b1[1] - ay
        if abs(denom) > 1e-18:
            t = (rx * ey - ry * ex) / denom
            u = (rx * dy - ry * dx) / denom
            if -1e-12 < t < 1 + 1e-12 and -1e-12 <= u <= 1 + 1e-12:
                if 1e-12 < t < 1 - 1e-12:
                    ts.append(t)
        else:
            # collinear: project b endpoints onto a
            if abs(rx * dy - ry * dx) < 1e-9 * max(1.0, math.hypot(dx, dy)):
                L2 = dx * dx + dy * dy
                if L2 > 0:
                    for (px, py) in (b1, b2):
                        t = ((px - ax) * dx + (py - ay) * dy) / L2
                        if 1e-12 < t < 1 - 1e-12:
                            ts.append(t)
    return ts


def _split_edges(rings, other_segs):
    """Yield sub-edges (p, q) of rings split at intersections with other_segs."""
    out = []
    if other_segs:
        # vectorized bbox prefilter: per ring, one (edges x other_segs)
        # comparison matrix replaces the all-pairs scalar min/max loop
        sarr = np.asarray(
            [[s[0][0], s[0][1], s[1][0], s[1][1]] for s in other_segs]
        )
        sxmin = np.minimum(sarr[:, 0], sarr[:, 2])
        sxmax = np.maximum(sarr[:, 0], sarr[:, 2])
        symin = np.minimum(sarr[:, 1], sarr[:, 3])
        symax = np.maximum(sarr[:, 1], sarr[:, 3])
    for r in rings:
        n = len(r) - 1
        if n <= 0:
            continue
        if other_segs:
            ex0 = np.minimum(r[:-1, 0], r[1:, 0])
            ex1 = np.maximum(r[:-1, 0], r[1:, 0])
            ey0 = np.minimum(r[:-1, 1], r[1:, 1])
            ey1 = np.maximum(r[:-1, 1], r[1:, 1])
            overlap = ~(
                (sxmax[None, :] < ex0[:, None] - 1e-12)
                | (sxmin[None, :] > ex1[:, None] + 1e-12)
                | (symax[None, :] < ey0[:, None] - 1e-12)
                | (symin[None, :] > ey1[:, None] + 1e-12)
            )
        for i in range(n):
            a1, a2 = r[i], r[i + 1]
            if a1[0] == a2[0] and a1[1] == a2[1]:
                continue
            cands = (
                [other_segs[j] for j in np.flatnonzero(overlap[i])]
                if other_segs
                else []
            )
            ts = sorted(set([0.0, 1.0] + _seg_param_intersections(a1, a2, cands)))
            pts = [(a1[0] + (a2[0] - a1[0]) * t, a1[1] + (a2[1] - a1[1]) * t) for t in ts]
            for j in range(len(pts) - 1):
                p, q = pts[j], pts[j + 1]
                if abs(p[0] - q[0]) > 1e-15 or abs(p[1] - q[1]) > 1e-15:
                    out.append((p, q))
    return out


def _segs_of(rings):
    segs = []
    for r in rings:
        for i in range(len(r) - 1):
            segs.append((tuple(r[i]), tuple(r[i + 1])))
    return segs


def _snap(p):
    # decimal rounding (round(x, 9)), NOT round(x/1e-9)*1e-9 — the latter
    # perturbs exactly-representable coordinates because 1e-9 is not
    # binary-exact, breaking shoelace exactness on integer inputs
    return (round(p[0], 9), round(p[1], 9))


def _stitch(edges):
    """Assemble directed edges into closed rings."""
    from collections import defaultdict

    emap = defaultdict(list)
    for (p, q) in edges:
        sp, sq = _snap(p), _snap(q)
        if sp != sq:
            emap[sp].append(sq)
    rings = []
    while emap:
        start = next(iter(emap))
        ring = [start]
        cur = start
        prev = None
        for _ in range(len(edges) * 2 + 10):
            nexts = emap.get(cur)
            if not nexts:
                break
            if len(nexts) == 1 or prev is None:
                nxt = nexts.pop(0)
            else:
                # choose the most counterclockwise turn for consistent rings
                vin = (cur[0] - prev[0], cur[1] - prev[1])
                ang_in = math.atan2(vin[1], vin[0])

                def turn(c):
                    a = math.atan2(c[1] - cur[1], c[0] - cur[0]) - (ang_in + math.pi)
                    while a <= -math.pi:
                        a += 2 * math.pi
                    while a > math.pi:
                        a -= 2 * math.pi
                    return a

                nexts.sort(key=turn)
                nxt = nexts.pop(0)
            if not emap[cur]:
                del emap[cur]
            if nxt == start:
                rings.append(ring[:])
                break
            ring.append(nxt)
            prev, cur = cur, nxt
        else:
            pass
        # drop any unclosed leftovers naturally (loop guard)
        if emap.get(start) == []:
            emap.pop(start, None)
    return [r for r in rings if len(r) >= 3]


def _ring_area(ring):
    a = 0.0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        a += x1 * y2 - x2 * y1
    return a / 2


def _assemble(rings):
    """Group stitched rings into polygons: CCW = shell, CW = hole (assigned
    to the smallest containing shell)."""
    if not rings:
        return empty(POLYGON)
    shells = []
    holes = []
    for r in rings:
        a = _ring_area(r)
        if abs(a) < _SNAP:
            continue
        closed = np.asarray(r + [r[0]], dtype=np.float64)
        if a > 0:
            shells.append((abs(a), closed))
        else:
            holes.append(closed[::-1])
    if not shells:
        return empty(POLYGON)
    shells.sort(key=lambda t: t[0])
    polys = [[s] for _, s in shells]
    for h in holes:
        hx, hy = float(h[0, 0]), float(h[0, 1])
        placed = False
        for rings_list in polys:  # smallest shell first
            if point_in_polygon(hx, hy, [rings_list[0]]) == 2:
                rings_list.append(h[::-1])  # store holes CW? keep reversed
                placed = True
                break
        if not placed:
            pass  # dangling hole: dropped
    if len(polys) == 1:
        return Geom(POLYGON, polys[0])
    return Geom(MULTIPOLYGON, polys)


_OPS = {
    "intersection": lambda a, b: a and b,
    "union": lambda a, b: a or b,
    "difference": lambda a, b: a and not b,
    "symdifference": lambda a, b: a != b,
}


def overlay(g1, g2, op: str):
    """op in {'intersection','union','difference','symdifference'}.

    Universal side-probe selection: a sub-edge lies on the result boundary
    iff result-membership differs between its two sides; the edge is oriented
    so the result interior is on its left (CCW shells / CW holes fall out of
    this automatically). Shared/collinear edges from both inputs are
    de-duplicated by snapped endpoints."""
    if g1 is None or g2 is None:
        return None
    rule = _OPS[op]
    pa = _polys_of(g1)
    pb = _polys_of(g2)
    if not pa and not pb:
        return empty(POLYGON)
    if not pa:
        return g2 if op in ("union", "symdifference") else empty(POLYGON)
    if not pb:
        return g1 if op in ("union", "difference", "symdifference") else empty(POLYGON)

    ra = [r for rings in pa for r in rings]
    rb = [r for rings in pb for r in rings]
    segs_a = _segs_of(ra)
    segs_b = _segs_of(rb)
    sub_edges = _split_edges(ra, segs_b) + _split_edges(rb, segs_a)

    uniq = []
    seen = set()
    for (p, q) in sub_edges:
        sp, sq = _snap(p), _snap(q)
        key = (sp, sq) if sp <= sq else (sq, sp)
        if key in seen or sp == sq:
            continue
        seen.add(key)
        uniq.append((p, q))
    if not uniq:
        return _assemble(_stitch([]))

    # classify every sub-edge's two side probes in one vectorized ray cast
    # per back-off round (the per-edge scalar loop was the overlay's hot
    # spot: ~45 _point_in_ring calls per input row). A probe can land
    # exactly ON a coincident stretch of the other (or same) boundary
    # (degenerate seams); a boundary answer is useless for the in/out rule,
    # so edges whose any probe reports boundary retry at a larger epsilon
    ed = np.asarray([[p[0], p[1], q[0], q[1]] for (p, q) in uniq])
    mx = (ed[:, 0] + ed[:, 2]) / 2
    my = (ed[:, 1] + ed[:, 3]) / 2
    dx = ed[:, 2] - ed[:, 0]
    dy = ed[:, 3] - ed[:, 1]
    L = np.hypot(dx, dy)
    nx = -dy / L
    ny = dx / L
    m = len(uniq)
    la = np.zeros(m, dtype=np.int8)
    lb = np.zeros(m, dtype=np.int8)
    ra_ = np.zeros(m, dtype=np.int8)
    rb_ = np.zeros(m, dtype=np.int8)
    pending = np.ones(m, dtype=bool)
    for scale in (1e-7, 1e-6, 1e-5, 1e-4):
        if not pending.any():
            break
        idx = np.flatnonzero(pending)
        eps = np.maximum(L[idx], 1.0) * scale
        k = len(idx)
        px = np.concatenate([mx[idx] + nx[idx] * eps, mx[idx] - nx[idx] * eps])
        py = np.concatenate([my[idx] + ny[idx] * eps, my[idx] - ny[idx] * eps])
        resa = _locate_many(px, py, pa)
        resb = _locate_many(px, py, pb)
        la_p, ra_p = resa[:k], resa[k:]
        lb_p, rb_p = resb[:k], resb[k:]
        la[idx], lb[idx], ra_[idx], rb_[idx] = la_p, lb_p, ra_p, rb_p
        pending[idx] = (la_p == 1) | (lb_p == 1) | (ra_p == 1) | (rb_p == 1)

    sel = []
    for i, (p, q) in enumerate(uniq):
        left_in = rule(la[i] == 2, lb[i] == 2)
        right_in = rule(ra_[i] == 2, rb_[i] == 2)
        if left_in and not right_in:
            sel.append((p, q))
        elif right_in and not left_in:
            sel.append((q, p))

    return _assemble(_stitch(sel))


def _top_dim(g):
    from .algorithms import _top_dim as td

    return td(g)


def _line_arrays(g):
    from .core import LINESTRING

    return [
        np.asarray(p.data[:, :2], dtype=np.float64)
        for p in iter_parts(g)
        if p.kind == LINESTRING and len(p.data) >= 2
    ]


def _points_arr(g):
    from .core import POINT

    pts = [
        (float(p.data[0]), float(p.data[1]))
        for p in iter_parts(g)
        if p.kind == POINT and not p.is_empty()
    ]
    return pts


def _line_poly_parts(lines, polys, keep_inside):
    """Split lines at polygon boundaries; keep sub-edges by midpoint side."""
    segs = _segs_of([r for rings in polys for r in rings])
    pieces = _split_edges(lines, segs)
    kept = []
    for (p, q) in pieces:
        mx, my = (p[0] + q[0]) / 2, (p[1] + q[1]) / 2
        loc = _locate(mx, my, polys)
        inside = loc > 0
        if inside == keep_inside:
            kept.append((p, q))
    return _chain_lines(kept)


def _chain_lines(edges):
    """Merge consecutive collinear-adjacent sub-edges back into linestrings."""
    from collections import defaultdict

    nxt = defaultdict(list)
    for (p, q) in edges:
        nxt[_snap(p)].append((_snap(p), _snap(q)))
    used = set()
    lines = []
    starts = {e[0] for es in nxt.values() for e in es}
    ends = defaultdict(int)
    for es in nxt.values():
        for (_, q) in es:
            ends[q] += 1
    for es in list(nxt.values()):
        for e in es:
            if e in used:
                continue
            # walk forward
            chain = [e[0], e[1]]
            used.add(e)
            cur = e[1]
            while True:
                cands = [x for x in nxt.get(cur, []) if x not in used]
                if len(cands) != 1:
                    break
                used.add(cands[0])
                cur = cands[0][1]
                chain.append(cur)
            lines.append(np.asarray(chain, dtype=np.float64))
    return lines


def _as_lines_geom(lines):
    from .core import LINESTRING, MULTILINESTRING

    lines = [l for l in lines if len(l) >= 2]
    if not lines:
        return empty(LINESTRING)
    if len(lines) == 1:
        return Geom(LINESTRING, lines[0])
    return Geom(MULTILINESTRING, lines)


def _as_points_geom(pts):
    from .core import MULTIPOINT, POINT
    from .core import multipoint, point as mk_point

    if not pts:
        return empty(POINT)
    if len(pts) == 1:
        return mk_point(pts[0][0], pts[0][1])
    return multipoint(np.asarray(sorted(set(pts)), dtype=np.float64))


def geom_intersection(g1, g2):
    """Type-dispatching ST_Intersection (geos bool_ops.rs:24)."""
    if g1 is None or g2 is None:
        return None
    d1, d2 = _top_dim(g1), _top_dim(g2)
    if d1 == 2 and d2 == 2:
        return overlay(g1, g2, "intersection")
    # order so d1 <= d2
    if d1 > d2:
        g1, g2, d1, d2 = g2, g1, d2, d1
    if d1 == 0:
        pts = [
            p
            for p in _points_arr(g1)
            if _pt_in_geom(p, g2)
        ]
        return _as_points_geom(pts)
    if d1 == 1 and d2 == 2:
        return _as_lines_geom(_line_poly_parts(_line_arrays(g1), _polys_of(g2), True))
    # line/line: proper crossing points
    pts = []
    la, lb = _line_arrays(g1), _line_arrays(g2)
    segs_b = _segs_of(lb)
    for line in la:
        for i in range(len(line) - 1):
            a1, a2 = line[i], line[i + 1]
            for t in _seg_param_intersections(a1, a2, segs_b):
                pts.append(
                    (a1[0] + (a2[0] - a1[0]) * t, a1[1] + (a2[1] - a1[1]) * t)
                )
    return _as_points_geom([_snap(p) for p in pts])


def _pt_in_geom(p, g):
    from .algorithms import _locate_point_in_geom

    return _locate_point_in_geom(p[0], p[1], g) > 0


def geom_union(g1, g2):
    from .core import collection

    if g1 is None or g2 is None:
        return None
    d1, d2 = _top_dim(g1), _top_dim(g2)
    if d1 == 2 and d2 == 2:
        return overlay(g1, g2, "union")
    if d1 == d2 == 0:
        return _as_points_geom(sorted(set(_points_arr(g1) + _points_arr(g2))))
    if d1 == d2 == 1:
        return _as_lines_geom(_line_arrays(g1) + _line_arrays(g2))
    return collection([g1, g2])


def geom_difference(g1, g2):
    if g1 is None or g2 is None:
        return None
    d1, d2 = _top_dim(g1), _top_dim(g2)
    if d1 == 2 and d2 == 2:
        return overlay(g1, g2, "difference")
    if d1 == 0:
        pts = [p for p in _points_arr(g1) if not _pt_in_geom(p, g2)]
        return _as_points_geom(pts)
    if d1 == 1 and d2 == 2:
        return _as_lines_geom(_line_poly_parts(_line_arrays(g1), _polys_of(g2), False))
    return g1  # difference with lower-dim geometry leaves g1 unchanged (area/length preserved)


def geom_sym_difference(g1, g2):
    if g1 is None or g2 is None:
        return None
    if _top_dim(g1) == 2 and _top_dim(g2) == 2:
        return overlay(g1, g2, "symdifference")
    from .core import collection

    return collection([geom_difference(g1, g2), geom_difference(g2, g1)])


# back-compat names
def intersection(g1, g2):
    return geom_intersection(g1, g2)


def union(g1, g2):
    return geom_union(g1, g2)


def difference(g1, g2):
    return geom_difference(g1, g2)


def sym_difference(g1, g2):
    return geom_sym_difference(g1, g2)
