"""Geometry algorithms over the numpy Geom model (no shapely/GEOS).

Covers the unary/binary kernel inventory of SURVEY.md §2.4/§2.5, mirroring the
reference's semantics:

- measures: area/signed_area (/root/reference/rust/geoarrow-expr-geo/src/area.rs:11-64),
  spherical area (chamberlain_duquette_area.rs:61), length
  (length.rs:12 + haversine/geodesic variants), centroid (centroid.rs:10),
  bounding_rect (bounding_rect.rs:13), distance (distance.rs:9),
  frechet (frechet_distance.rs:25)
- transforms: affine ops (affine_ops.rs:24), simplify (simplify.rs:19,
  simplify_vw.rs:19), densify (densify.rs:18), chaikin (chaikin_smoothing.rs:22),
  remove_repeated_points (remove_repeated_points.rs:19)
- hulls: convex (convex_hull.rs:10), minimum rotated rect
  (minimum_rotated_rect.rs:10)
- predicates: intersects/contains/within/... (intersects.rs:9, contains.rs:9,
  within.rs, geos/bool_ops.rs:11-28)

Null-in → null-out is handled at the UDF layer; here inputs are Geom or None.
All planar math is exact shoelace/segment arithmetic; geodesic variants use a
spherical earth (haversine / Chamberlain–Duquette) with the WGS84 mean radius.
"""

from __future__ import annotations

import math

import numpy as np

from .core import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geom,
    all_coords,
    box,
    collection,
    empty,
    iter_parts,
    multipoint,
    point,
)

EARTH_RADIUS_M = 6_371_008.8  # mean earth radius (IUGG), as used by geo crate
WGS84_A = 6_378_137.0
WGS84_F = 1 / 298.257223563


# ---------------------------------------------------------------------------
# bounds / area / length / centroid
# ---------------------------------------------------------------------------

def bounds(g):
    """(xmin, ymin, xmax, ymax) or None for empty. Mirrors bounding_rect.rs:13."""
    if g is None:
        return None
    c = all_coords(g)
    if len(c) == 0:
        return None
    return (
        float(np.min(c[:, 0])),
        float(np.min(c[:, 1])),
        float(np.max(c[:, 0])),
        float(np.max(c[:, 1])),
    )


def _ring_signed_area(r):
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def signed_area(g):
    """Planar signed area (shell orientation respected). area.rs:15."""
    if g is None:
        return None
    total = 0.0
    for p in iter_parts(g):
        if p.kind == POLYGON and p.data:
            shell = _ring_signed_area(p.data[0])
            holes = sum(abs(_ring_signed_area(r)) for r in p.data[1:])
            total += shell - math.copysign(holes, shell)
    return total


def area(g):
    """Planar unsigned area. area.rs:11-64 (euclidean method)."""
    if g is None:
        return None
    total = 0.0
    for p in iter_parts(g):
        if p.kind == POLYGON and p.data:
            total += abs(_ring_signed_area(p.data[0]))
            total -= sum(abs(_ring_signed_area(r)) for r in p.data[1:])
    return total


def _ring_spherical_excess(r):
    # Chamberlain–Duquette signed spherical area on unit sphere
    # (chamberlain_duquette_area.rs:61)
    if len(r) < 3:
        return 0.0
    lam = np.radians(r[:, 0])
    phi = np.radians(r[:, 1])
    lam2 = np.roll(lam, -1)
    phi2 = np.roll(phi, -1)
    return float(np.sum((lam2 - lam) * (2 + np.sin(phi) + np.sin(phi2))) / 2.0)


def spherical_area(g, radius=EARTH_RADIUS_M):
    """Signed spherical (CD) area in m^2 for lon/lat input."""
    if g is None:
        return None
    total = 0.0
    for p in iter_parts(g):
        if p.kind == POLYGON and p.data:
            shell = _ring_spherical_excess(p.data[0]) * radius * radius
            holes = sum(
                abs(_ring_spherical_excess(r)) * radius * radius for r in p.data[1:]
            )
            total += shell - math.copysign(holes, shell)
    return total


# Gauss-Legendre nodes/weights mapped to [0, 1] for per-edge area quadrature
_GL8_T, _GL8_W = np.polynomial.legendre.leggauss(8)
_GL8_T = (_GL8_T + 1.0) / 2.0
_GL8_W = _GL8_W / 2.0


def _authalic_F(phi):
    """Exact meridian area integral F(phi) = int_0^phi M(p) N(p) cos p dp
    on WGS84, so that polygon area = contour integral of F(phi) dlambda
    (Green's theorem with the exact ellipsoidal area element)."""
    e2 = WGS84_F * (2 - WGS84_F)
    e = math.sqrt(e2)
    b2 = WGS84_A * WGS84_A * (1 - e2)
    s = np.sin(phi)
    return b2 / 2.0 * (s / (1 - e2 * s * s) + np.arctanh(e * s) / e)


def _ring_ellipsoidal_area(r):
    """Signed ellipsoidal area of one lon/lat ring (m^2, CCW positive).

    Each edge contributes dlam * int_0^1 F(phi(t)) dt with phi linear in
    lambda along the edge (8-pt Gauss-Legendre — exact for meridian and
    parallel edges, sub-mm^2-relative for short general edges). Matches the
    reference's ellipsoidal method (geodesic_area.rs:17, Karney) up to the
    edge-path convention; for densely-digitized boundaries the two agree to
    ~1e-9 relative."""
    if len(r) < 3:
        return 0.0
    lon = r[:, 0]
    phi = np.radians(r[:, 1])
    dlam = np.radians((np.roll(lon, -1) - lon + 180.0) % 360.0 - 180.0)
    phi2 = np.roll(phi, -1)
    # (n_edges, 8) latitude samples along each edge
    pt = phi[:, None] + (phi2 - phi)[:, None] * _GL8_T[None, :]
    fvals = _authalic_F(pt) @ _GL8_W
    return float(np.sum(dlam * fvals))


def ellipsoidal_area(g):
    """Unsigned ellipsoidal (geodesic) polygon area on WGS84, m^2.
    Reference parity: geoarrow-old/src/algorithm/geo/geodesic_area.rs:17."""
    if g is None:
        return None
    total = 0.0
    for p in iter_parts(g):
        if p.kind == POLYGON and p.data:
            total += abs(_ring_ellipsoidal_area(p.data[0]))
            total -= sum(abs(_ring_ellipsoidal_area(r)) for r in p.data[1:])
    return total


def _seg_lengths(line):
    d = np.diff(line[:, :2], axis=0)
    return np.hypot(d[:, 0], d[:, 1])


def length(g):
    """Planar euclidean length of linear parts. length.rs:12."""
    if g is None:
        return None
    total = 0.0
    for p in iter_parts(g):
        if p.kind == LINESTRING and len(p.data) >= 2:
            total += float(np.sum(_seg_lengths(p.data)))
        elif p.kind == POLYGON:
            pass  # length of polygon = 0 in geo crate euclidean_length
    return total


def perimeter(g):
    """Sum of ring lengths of polygonal parts."""
    if g is None:
        return None
    total = 0.0
    for p in iter_parts(g):
        if p.kind == POLYGON:
            for r in p.data:
                total += float(np.sum(_seg_lengths(r)))
    return total


def haversine_length(g, radius=EARTH_RADIUS_M):
    """Great-circle length for lon/lat linestrings (haversine_length.rs:18)."""
    if g is None:
        return None
    total = 0.0
    for p in iter_parts(g):
        if p.kind == LINESTRING and len(p.data) >= 2:
            lon = np.radians(p.data[:, 0])
            lat = np.radians(p.data[:, 1])
            dlon = np.diff(lon)
            dlat = np.diff(lat)
            a = (
                np.sin(dlat / 2) ** 2
                + np.cos(lat[:-1]) * np.cos(lat[1:]) * np.sin(dlon / 2) ** 2
            )
            total += float(np.sum(2 * radius * np.arcsin(np.sqrt(np.clip(a, 0, 1)))))
    return total


def centroid(g):
    """Dimension-weighted centroid (GEOS semantics): areal parts dominate,
    then linear, then puntal. centroid.rs:42."""
    if g is None or g.is_empty():
        return empty(POINT)
    # areal
    asum = 0.0
    acx = acy = 0.0
    lsum = 0.0
    lcx = lcy = 0.0
    pn = 0
    pcx = pcy = 0.0
    for p in iter_parts(g):
        if p.kind == POLYGON and p.data:
            for i, r in enumerate(p.data):
                sa = _ring_signed_area(r)
                w = abs(sa) * (1 if i == 0 else -1)
                if len(r) >= 3:
                    x, y = r[:, 0], r[:, 1]
                    x2, y2 = np.roll(x, -1), np.roll(y, -1)
                    cross = x * y2 - x2 * y
                    ssum = np.sum(cross)
                    if ssum != 0:
                        cx = float(np.sum((x + x2) * cross) / (3 * ssum))
                        cy = float(np.sum((y + y2) * cross) / (3 * ssum))
                        asum += w
                        acx += cx * w
                        acy += cy * w
        elif p.kind == LINESTRING and len(p.data) >= 2:
            seg = _seg_lengths(p.data)
            mids = (p.data[:-1, :2] + p.data[1:, :2]) / 2
            w = float(np.sum(seg))
            if w > 0:
                lsum += w
                lcx += float(np.sum(mids[:, 0] * seg))
                lcy += float(np.sum(mids[:, 1] * seg))
            else:  # zero-length line: treat as point
                pn += 1
                pcx += float(p.data[0, 0])
                pcy += float(p.data[0, 1])
        elif p.kind == POINT and not p.is_empty():
            pn += 1
            pcx += float(p.data[0])
            pcy += float(p.data[1])
    if asum != 0:
        return point(acx / asum, acy / asum)
    if lsum > 0:
        return point(lcx / lsum, lcy / lsum)
    if pn > 0:
        return point(pcx / pn, pcy / pn)
    return empty(POINT)


def center(g):
    """Bbox center. center.rs:13."""
    b = bounds(g)
    if b is None:
        return empty(POINT)
    return point((b[0] + b[2]) / 2, (b[1] + b[3]) / 2)


def envelope(g):
    """Bounding box as Polygon (degenerate cases -> Point/LineString)."""
    b = bounds(g)
    if b is None:
        return empty(POLYGON)
    xmin, ymin, xmax, ymax = b
    if xmin == xmax and ymin == ymax:
        return point(xmin, ymin)
    return box(xmin, ymin, xmax, ymax)


# ---------------------------------------------------------------------------
# hulls
# ---------------------------------------------------------------------------

def convex_hull(g):
    """Andrew monotone chain. convex_hull.rs:10. Returns Polygon (or
    Point/LineString for degenerate inputs)."""
    if g is None:
        return None
    pts = all_coords(g)[:, :2]
    if len(pts) == 0:
        return empty(POLYGON)
    pts = np.unique(pts, axis=0)
    if len(pts) == 1:
        return point(pts[0, 0], pts[0, 1])
    # lexicographic sort
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    if len(hull) == 2:
        return Geom(LINESTRING, np.asarray(hull, dtype=np.float64))
    ring = np.asarray(hull + [hull[0]], dtype=np.float64)
    return Geom(POLYGON, [ring])


def minimum_rotated_rect(g):
    """Rotating calipers over the convex hull. minimum_rotated_rect.rs:10."""
    h = convex_hull(g)
    if h is None or h.kind != POLYGON or not h.data:
        return h
    ring = h.data[0][:-1]
    n = len(ring)
    best = None
    for i in range(n):
        e = ring[(i + 1) % n] - ring[i]
        norm = math.hypot(e[0], e[1])
        if norm == 0:
            continue
        ux, uy = e[0] / norm, e[1] / norm
        # rotate all points into edge frame
        rx = ring[:, 0] * ux + ring[:, 1] * uy
        ry = -ring[:, 0] * uy + ring[:, 1] * ux
        w = rx.max() - rx.min()
        hgt = ry.max() - ry.min()
        a = w * hgt
        if best is None or a < best[0]:
            best = (a, ux, uy, rx.min(), rx.max(), ry.min(), ry.max())
    if best is None:
        return h
    _, ux, uy, x0, x1, y0, y1 = best
    corners = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    world = np.column_stack(
        (corners[:, 0] * ux - corners[:, 1] * uy, corners[:, 0] * uy + corners[:, 1] * ux)
    )
    return Geom(POLYGON, [world])


# ---------------------------------------------------------------------------
# point location / predicates
# ---------------------------------------------------------------------------

_EPS = 1e-12


def _on_segment(px, py, ax, ay, bx, by, eps=1e-9):
    cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    L = math.hypot(bx - ax, by - ay)
    if abs(cross) > eps * max(L, 1.0):
        return False
    dot = (px - ax) * (bx - ax) + (py - ay) * (by - ay)
    return -eps <= dot <= L * L + eps


def _point_in_ring(px, py, ring):
    """2=inside, 1=on boundary, 0=outside (ray casting)."""
    n = len(ring) - 1
    if n < 3:
        return 0
    inside = False
    x, y = ring[:, 0], ring[:, 1]
    for i in range(n):
        ax, ay, bx, by = x[i], y[i], x[i + 1], y[i + 1]
        if _on_segment(px, py, ax, ay, bx, by):
            return 1
        if (ay > py) != (by > py):
            t = (py - ay) / (by - ay)
            xi = ax + t * (bx - ax)
            if xi > px:
                inside = not inside
    return 2 if inside else 0


def point_in_polygon(px, py, poly_data):
    """2=interior, 1=boundary, 0=exterior; poly_data = list of rings."""
    if not poly_data:
        return 0
    r = _point_in_ring(px, py, poly_data[0])
    if r != 2:
        return r
    for hole in poly_data[1:]:
        h = _point_in_ring(px, py, hole)
        if h == 2:
            return 0
        if h == 1:
            return 1
    return 2


def points_in_ring(px, py, ring, eps=1e-9):
    """Vectorized ``_point_in_ring``: int8 array of 2/1/0 for many points
    against one ring. The per-edge float expressions (cross, dot, t, xi)
    are written in the SAME order as the scalar version, so both paths
    produce bit-identical classifications — callers may mix them."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = len(ring) - 1
    if n < 3:
        return np.zeros(px.shape, dtype=np.int8)
    inside = np.zeros(px.shape, dtype=bool)
    onb = np.zeros(px.shape, dtype=bool)
    x, y = ring[:, 0], ring[:, 1]
    for i in range(n):
        ax, ay, bx, by = x[i], y[i], x[i + 1], y[i + 1]
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        L = math.hypot(bx - ax, by - ay)
        near = np.abs(cross) <= eps * max(L, 1.0)
        if near.any():
            dot = (px - ax) * (bx - ax) + (py - ay) * (by - ay)
            onb |= near & (dot >= -eps) & (dot <= L * L + eps)
        if ay != by:
            crossing = (ay > py) != (by > py)
            if crossing.any():
                t = (py - ay) / (by - ay)
                xi = ax + t * (bx - ax)
                inside ^= crossing & (xi > px)
    out = np.where(inside, np.int8(2), np.int8(0))
    out[onb] = 1
    return out


def points_in_polygon(px, py, poly_data):
    """Vectorized ``point_in_polygon``: int8 array of 2=interior,
    1=boundary, 0=exterior; identical classification to the scalar."""
    px = np.atleast_1d(np.asarray(px, dtype=np.float64))
    py = np.atleast_1d(np.asarray(py, dtype=np.float64))
    if not poly_data:
        return np.zeros(px.shape, dtype=np.int8)
    res = points_in_ring(px, py, poly_data[0])
    interior = res == 2
    for hole in poly_data[1:]:
        if not interior.any():
            break
        idx = np.flatnonzero(interior)
        h = points_in_ring(px[idx], py[idx], hole)
        res[idx[h == 2]] = 0
        res[idx[h == 1]] = 1
        interior = res == 2
    return res


def _seg_intersect(a1, a2, b1, b2, eps=1e-12):
    """Segment intersection test. Returns 0 none, 1 proper, 2 touching/collinear.

    Symmetric in its two segments: every epsilon is scaled by the segment
    lengths so swapping (a, b) cannot change the classification, and
    zero-length segments are handled as points before the parallel branch
    (an absolute denom epsilon would otherwise swallow tiny segments).
    """
    d1x, d1y = a2[0] - a1[0], a2[1] - a1[1]
    d2x, d2y = b2[0] - b1[0], b2[1] - b1[1]
    L1 = math.hypot(d1x, d1y)
    L2 = math.hypot(d2x, d2y)
    scale = max(L1, L2, 1.0)
    if L1 <= eps * scale and L2 <= eps * scale:
        near = abs(a1[0] - b1[0]) <= eps * scale and abs(a1[1] - b1[1]) <= eps * scale
        return 2 if near else 0
    if L1 <= eps * scale:
        return 2 if _on_segment(a1[0], a1[1], b1[0], b1[1], b2[0], b2[1]) else 0
    if L2 <= eps * scale:
        return 2 if _on_segment(b1[0], b1[1], a1[0], a1[1], a2[0], a2[1]) else 0
    denom = d1x * d2y - d1y * d2x
    ex, ey = b1[0] - a1[0], b1[1] - a1[1]
    if abs(denom) > eps * L1 * L2:
        t = (ex * d2y - ey * d2x) / denom
        u = (ex * d1y - ey * d1x) / denom
        if -eps <= t <= 1 + eps and -eps <= u <= 1 + eps:
            proper = eps < t < 1 - eps and eps < u < 1 - eps
            return 1 if proper else 2
        return 0
    # parallel: perpendicular offset of one segment's start from the other's
    # line, tested against BOTH directions so the check is swap-invariant
    # (under a<->b swap the two cross products exchange up to sign).
    cross1 = ex * d1y - ey * d1x
    cross2 = ex * d2y - ey * d2x
    if max(abs(cross1) / L1, abs(cross2) / L2) > eps * scale:
        return 0  # parallel non-collinear
    # collinear: 1-D overlap on the dominant axis of the combined direction
    if abs(d1x) + abs(d2x) >= abs(d1y) + abs(d2y):
        a_lo, a_hi = sorted((a1[0], a2[0]))
        b_lo, b_hi = sorted((b1[0], b2[0]))
    else:
        a_lo, a_hi = sorted((a1[1], a2[1]))
        b_lo, b_hi = sorted((b1[1], b2[1]))
    tol = eps * scale
    if a_hi < b_lo - tol or b_hi < a_lo - tol:
        return 0
    return 2


def _bbox_disjoint(g1, g2):
    b1, b2 = bounds(g1), bounds(g2)
    if b1 is None or b2 is None:
        return True
    return b1[2] < b2[0] or b2[2] < b1[0] or b1[3] < b2[1] or b2[3] < b1[1]


def _lines_of(p):
    """Segments source arrays for a part: rings for polygons, the line for lines."""
    if p.kind == LINESTRING:
        return [p.data]
    if p.kind == POLYGON:
        return list(p.data)
    return []


def _any_seg_intersection(lines1, lines2):
    for l1 in lines1:
        if len(l1) < 2:
            continue
        b1 = (l1[:, 0].min(), l1[:, 1].min(), l1[:, 0].max(), l1[:, 1].max())
        for l2 in lines2:
            if len(l2) < 2:
                continue
            if (
                l2[:, 0].max() < b1[0]
                or l2[:, 0].min() > b1[2]
                or l2[:, 1].max() < b1[1]
                or l2[:, 1].min() > b1[3]
            ):
                continue
            for i in range(len(l1) - 1):
                a1, a2 = l1[i], l1[i + 1]
                sxmin, sxmax = min(a1[0], a2[0]), max(a1[0], a2[0])
                symin, symax = min(a1[1], a2[1]), max(a1[1], a2[1])
                for j in range(len(l2) - 1):
                    b1_, b2_ = l2[j], l2[j + 1]
                    if (
                        max(b1_[0], b2_[0]) < sxmin
                        or min(b1_[0], b2_[0]) > sxmax
                        or max(b1_[1], b2_[1]) < symin
                        or min(b1_[1], b2_[1]) > symax
                    ):
                        continue
                    if _seg_intersect(a1, a2, b1_, b2_):
                        return True
    return False


def _parts_intersect(p1, p2):
    k1, k2 = p1.kind, p2.kind
    if k1 > k2:
        return _parts_intersect(p2, p1)
    if p1.is_empty() or p2.is_empty():
        return False
    if k1 == POINT:
        x, y = float(p1.data[0]), float(p1.data[1])
        if k2 == POINT:
            return abs(x - p2.data[0]) < 1e-9 and abs(y - p2.data[1]) < 1e-9
        if k2 == LINESTRING:
            L = p2.data
            return any(
                _on_segment(x, y, L[i, 0], L[i, 1], L[i + 1, 0], L[i + 1, 1])
                for i in range(len(L) - 1)
            )
        return point_in_polygon(x, y, p2.data) > 0
    if k1 == LINESTRING:
        if k2 == LINESTRING:
            return _any_seg_intersection([p1.data], [p2.data])
        # line vs polygon
        if _any_seg_intersection([p1.data], _lines_of(p2)):
            return True
        return point_in_polygon(p1.data[0, 0], p1.data[0, 1], p2.data) > 0
    # polygon vs polygon
    if _any_seg_intersection(_lines_of(p1), _lines_of(p2)):
        return True
    if point_in_polygon(p1.data[0][0, 0], p1.data[0][0, 1], p2.data) > 0:
        return True
    return point_in_polygon(p2.data[0][0, 0], p2.data[0][0, 1], p1.data) > 0


def intersects(g1, g2):
    """intersects.rs:9 semantics."""
    if g1 is None or g2 is None:
        return None
    if _bbox_disjoint(g1, g2):
        return False
    for p1 in iter_parts(g1):
        for p2 in iter_parts(g2):
            if not _bbox_disjoint(p1, p2) and _parts_intersect(p1, p2):
                return True
    return False


def disjoint(g1, g2):
    r = intersects(g1, g2)
    return None if r is None else not r


def _locate_point_in_geom(x, y, g):
    """0 exterior, 1 boundary, 2 interior, w.r.t. the (areal/linear/puntal) geom."""
    best = 0
    for p in iter_parts(g):
        if p.is_empty():
            continue
        if p.kind == POLYGON:
            best = max(best, point_in_polygon(x, y, p.data))
        elif p.kind == LINESTRING:
            L = p.data
            for i in range(len(L) - 1):
                if _on_segment(x, y, L[i, 0], L[i, 1], L[i + 1, 0], L[i + 1, 1]):
                    # interior of a line unless at an endpoint of the whole line
                    closed = np.allclose(L[0, :2], L[-1, :2])
                    at_end = (not closed) and (
                        (abs(x - L[0, 0]) < 1e-9 and abs(y - L[0, 1]) < 1e-9)
                        or (abs(x - L[-1, 0]) < 1e-9 and abs(y - L[-1, 1]) < 1e-9)
                    )
                    best = max(best, 1 if at_end else 2)
        else:
            if abs(x - p.data[0]) < 1e-9 and abs(y - p.data[1]) < 1e-9:
                best = max(best, 2)
        if best == 2:
            return 2
    return best


def _densified_probe_points(line, k=4):
    """Sample points along segments (midpoints + quarters) for containment probing."""
    pts = []
    for i in range(len(line) - 1):
        a, b = line[i], line[i + 1]
        for t in (0.5, 0.25, 0.75)[: max(1, k - 1)]:
            pts.append((a[0] + (b[0] - a[0]) * t, a[1] + (b[1] - a[1]) * t))
    return pts


def contains(g1, g2):
    """g1 contains g2: g2 in closure(g1), interiors intersect, and no part of
    g2 in exterior(g1). contains.rs:9 semantics (pragmatic implementation)."""
    if g1 is None or g2 is None:
        return None
    if g1.is_empty() or g2.is_empty():
        return False
    if not covers(g1, g2):
        return False
    # need at least one interior-interior intersection
    return _interiors_touch(g1, g2)


def _interiors_touch(g1, g2):
    dim1 = _top_dim(g1)
    # probe candidate interior points of g2 and test interior of g1
    for p2 in iter_parts(g2):
        if p2.is_empty():
            continue
        probes = []
        if p2.kind == POINT:
            probes = [(float(p2.data[0]), float(p2.data[1]))]
        elif p2.kind == LINESTRING:
            probes = _densified_probe_points(p2.data)
        else:
            c = centroid(p2)
            if not c.is_empty():
                probes = [(float(c.data[0]), float(c.data[1]))]
            probes += _densified_probe_points(p2.data[0])
        for (x, y) in probes:
            loc = _locate_point_in_geom(x, y, g1)
            if loc == 2:
                return True
            if loc == 1 and dim1 < 2 and p2.kind == POINT:
                pass
    return False


def _top_dim(g):
    d = -1
    for p in iter_parts(g):
        if p.is_empty():
            continue
        d = max(d, {POINT: 0, LINESTRING: 1, POLYGON: 2}[p.kind])
    return d


def covers(g1, g2):
    """Every point of g2 within closure of g1 (geos/bool_ops.rs covers)."""
    if g1 is None or g2 is None:
        return None
    if g1.is_empty() or g2.is_empty():
        return False
    if _bbox_disjoint(g1, g2):
        return False
    b1, b2 = bounds(g1), bounds(g2)
    if b2[0] < b1[0] - 1e-12 or b2[1] < b1[1] - 1e-12 or b2[2] > b1[2] + 1e-12 or b2[3] > b1[3] + 1e-12:
        return False
    for p2 in iter_parts(g2):
        if p2.is_empty():
            continue
        if p2.kind == POINT:
            if _locate_point_in_geom(float(p2.data[0]), float(p2.data[1]), g1) == 0:
                return False
        elif p2.kind == LINESTRING:
            for (x, y) in [tuple(r[:2]) for r in p2.data] + _densified_probe_points(p2.data):
                if _locate_point_in_geom(x, y, g1) == 0:
                    return False
            # no proper crossings out of g1's area: if g1 areal, a segment
            # crossing the shell would put a probe outside — probes cover it.
        else:  # polygon within
            for ring in p2.data:
                for (x, y) in [tuple(r[:2]) for r in ring] + _densified_probe_points(ring):
                    if _locate_point_in_geom(x, y, g1) == 0:
                        return False
            # also ensure no hole of g1 sits strictly inside p2
            for p1 in iter_parts(g1):
                if p1.kind == POLYGON:
                    for hole in p1.data[1:]:
                        hx, hy = float(hole[0, 0]), float(hole[0, 1])
                        if point_in_polygon(hx, hy, p2.data) == 2:
                            # hole boundary point inside g2's interior => g2 pokes into hole
                            if point_in_polygon(hx, hy, p1.data) != 1:
                                continue
                            return False
    return True


def covered_by(g1, g2):
    return covers(g2, g1)


def within(g1, g2):
    return contains(g2, g1)


def touches(g1, g2):
    """Boundaries meet, interiors don't."""
    r = intersects(g1, g2)
    if r is None:
        return None
    if not r:
        return False
    return not _interiors_intersect(g1, g2)


def _interiors_intersect(g1, g2):
    # pragmatic: probe interior points of the lower-dimension geometry
    a, b = (g1, g2) if _top_dim(g1) <= _top_dim(g2) else (g2, g1)
    for p in iter_parts(a):
        if p.is_empty():
            continue
        if p.kind == POINT:
            probes = [(float(p.data[0]), float(p.data[1]))]
            if any(_locate_point_in_geom(x, y, b) == 2 for x, y in probes):
                return True
        elif p.kind == LINESTRING:
            for (x, y) in _densified_probe_points(p.data, k=6):
                if (
                    _locate_point_in_geom(x, y, a) == 2
                    and _locate_point_in_geom(x, y, b) == 2
                ):
                    return True
        else:
            c = centroid(p)
            probes = [(float(c.data[0]), float(c.data[1]))] if not c.is_empty() else []
            for ring in p.data:
                probes += _densified_probe_points(ring)
            for (x, y) in probes:
                if (
                    _locate_point_in_geom(x, y, a) == 2
                    and _locate_point_in_geom(x, y, b) == 2
                ):
                    return True
            # proper edge crossings imply interior overlap for areal pairs
            for p2 in iter_parts(b):
                if p2.kind == POLYGON and _has_proper_crossing(p.data, p2.data):
                    return True
    return False


def _has_proper_crossing(rings1, rings2):
    for l1 in rings1:
        for l2 in rings2:
            for i in range(len(l1) - 1):
                for j in range(len(l2) - 1):
                    if _seg_intersect(l1[i], l1[i + 1], l2[j], l2[j + 1]) == 1:
                        return True
    return False


def crosses(g1, g2):
    """Interiors intersect, dims differ (or line/line point-crossing)."""
    if g1 is None or g2 is None:
        return None
    d1, d2 = _top_dim(g1), _top_dim(g2)
    if not intersects(g1, g2):
        return False
    if d1 == d2 == 1:
        # line/line: crosses iff a proper (point) intersection exists and
        # lines are not collinear-overlapping
        for p1 in iter_parts(g1):
            for p2 in iter_parts(g2):
                if p1.kind == LINESTRING and p2.kind == LINESTRING:
                    for i in range(len(p1.data) - 1):
                        for j in range(len(p2.data) - 1):
                            if _seg_intersect(
                                p1.data[i], p1.data[i + 1], p2.data[j], p2.data[j + 1]
                            ) == 1:
                                return True
        return False
    if d1 == d2:
        return False
    if not _interiors_intersect(g1, g2):
        return False
    # lower-dim geometry must not be fully contained
    lo, hi = (g1, g2) if d1 < d2 else (g2, g1)
    return not covers(hi, lo)


def overlaps(g1, g2):
    """Same dim, interiors intersect, neither contains the other."""
    if g1 is None or g2 is None:
        return None
    if _top_dim(g1) != _top_dim(g2):
        return False
    if not intersects(g1, g2):
        return False
    if covers(g1, g2) or covers(g2, g1):
        return False
    return _interiors_intersect(g1, g2)


def equals(g1, g2):
    """Topological equality (pragmatic: mutual covers)."""
    if g1 is None or g2 is None:
        return None
    if g1.is_empty() and g2.is_empty():
        return True
    if g1.is_empty() != g2.is_empty():
        return False
    return covers(g1, g2) and covers(g2, g1)


def equals_exact(g1, g2, tolerance=0.0):
    """Structural equality within tolerance (geos equals_exact)."""
    if g1 is None or g2 is None:
        return None
    if g1.kind != g2.kind or g1.dim != g2.dim:
        return False
    c1, c2 = all_coords(g1), all_coords(g2)
    if c1.shape != c2.shape:
        return False
    if len(c1) == 0:
        return True
    return bool(np.all(np.abs(c1 - c2) <= max(tolerance, 1e-12)))


# ---------------------------------------------------------------------------
# distance
# ---------------------------------------------------------------------------

def _pt_seg_dist(px, py, ax, ay, bx, by):
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 == 0:
        return math.hypot(px - ax, py - ay)
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2))
    return math.hypot(px - (ax + t * dx), py - (ay + t * dy))


def _pts_to_lines_min(pts, lines):
    best = math.inf
    for line in lines:
        if len(line) == 1:
            for p in pts:
                best = min(best, math.hypot(p[0] - line[0, 0], p[1] - line[0, 1]))
            continue
        for i in range(len(line) - 1):
            a, b = line[i], line[i + 1]
            for p in pts:
                d = _pt_seg_dist(p[0], p[1], a[0], a[1], b[0], b[1])
                if d < best:
                    best = d
    return best


def _pt_seg_closest(px, py, ax, ay, bx, by):
    """Closest point on segment (a, b) to p."""
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 == 0:
        return ax, ay
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2))
    return ax + t * dx, ay + t * dy


def closest_points(g1, g2):
    """The pair (point on g1, point on g2) realizing the minimum distance
    (PostGIS ST_ClosestPoint / ST_ShortestLine semantics). For intersecting
    inputs both points coincide on a shared location."""
    if g1 is None or g2 is None or g1.is_empty() or g2.is_empty():
        return None
    if intersects(g1, g2):
        from . import booleanops as bo

        inter = bo.geom_intersection(g1, g2)
        c = all_coords(inter) if inter is not None else None
        if c is None or len(c) == 0:
            c = all_coords(g1)
        p = (float(c[0, 0]), float(c[0, 1]))
        return p, p
    best = math.inf
    bp = None
    for p1 in iter_parts(g1):
        for p2 in iter_parts(g2):
            if p1.is_empty() or p2.is_empty():
                continue
            l1 = _lines_of(p1) or [p1.data.reshape(1, -1)]
            l2 = _lines_of(p2) or [p2.data.reshape(1, -1)]
            v1 = np.vstack([a[:, :2] for a in l1])
            v2 = np.vstack([a[:, :2] for a in l2])
            # vertex-of-one vs segments-of-other, both sweeps (same coverage
            # argument as distance())
            for p in v1:
                for line in l2:
                    if len(line) == 1:
                        q = (float(line[0, 0]), float(line[0, 1]))
                        d = math.hypot(p[0] - q[0], p[1] - q[1])
                        if d < best:
                            best, bp = d, ((float(p[0]), float(p[1])), q)
                    else:
                        for i in range(len(line) - 1):
                            q = _pt_seg_closest(
                                p[0], p[1],
                                line[i, 0], line[i, 1], line[i + 1, 0], line[i + 1, 1],
                            )
                            d = math.hypot(p[0] - q[0], p[1] - q[1])
                            if d < best:
                                best, bp = d, ((float(p[0]), float(p[1])), q)
            for p in v2:
                for line in l1:
                    if len(line) == 1:
                        q = (float(line[0, 0]), float(line[0, 1]))
                        d = math.hypot(p[0] - q[0], p[1] - q[1])
                        if d < best:
                            best, bp = d, (q, (float(p[0]), float(p[1])))
                    else:
                        for i in range(len(line) - 1):
                            q = _pt_seg_closest(
                                p[0], p[1],
                                line[i, 0], line[i, 1], line[i + 1, 0], line[i + 1, 1],
                            )
                            d = math.hypot(p[0] - q[0], p[1] - q[1])
                            if d < best:
                                best, bp = d, (q, (float(p[0]), float(p[1])))
    return bp


def closest_point(g1, g2):
    """Point on g1 nearest to g2 (ST_ClosestPoint)."""
    cp = closest_points(g1, g2)
    return point(cp[0][0], cp[0][1]) if cp else None


def shortest_line(g1, g2):
    """Minimum-distance connector line (ST_ShortestLine)."""
    cp = closest_points(g1, g2)
    if cp is None:
        return None
    return Geom(LINESTRING, np.array([cp[0], cp[1]], dtype=np.float64))


def distance(g1, g2):
    """Min euclidean distance; 0 if intersecting. distance.rs:9."""
    if g1 is None or g2 is None:
        return None
    if g1.is_empty() or g2.is_empty():
        return None
    if intersects(g1, g2):
        return 0.0
    best = math.inf
    for p1 in iter_parts(g1):
        for p2 in iter_parts(g2):
            if p1.is_empty() or p2.is_empty():
                continue
            l1 = _lines_of(p1) or [p1.data.reshape(1, -1)]
            l2 = _lines_of(p2) or [p2.data.reshape(1, -1)]
            # vertex-to-segment both directions (sufficient for disjoint convex
            # pieces since min distance is attained at a vertex of one side
            # or between two segment interiors — covered by both sweeps)
            v1 = np.vstack([a[:, :2] for a in l1])
            v2 = np.vstack([a[:, :2] for a in l2])
            best = min(best, _pts_to_lines_min(v1, l2), _pts_to_lines_min(v2, l1))
    return float(best)


def haversine_distance(x1, y1, x2, y2, radius=EARTH_RADIUS_M):
    lon1, lat1, lon2, lat2 = map(math.radians, (x1, y1, x2, y2))
    a = (
        math.sin((lat2 - lat1) / 2) ** 2
        + math.cos(lat1) * math.cos(lat2) * math.sin((lon2 - lon1) / 2) ** 2
    )
    return 2 * radius * math.asin(min(1.0, math.sqrt(a)))


def vincenty_distance(lon1, lat1, lon2, lat2, a=WGS84_A, f=WGS84_F, tol=1e-12, max_iter=200):
    """Vincenty inverse on the WGS84 ellipsoid (meters). Public formula
    (Vincenty 1975); mirrors vincenty_length.rs:16 semantics."""
    if lon1 == lon2 and lat1 == lat2:
        return 0.0
    b = a * (1 - f)
    L = math.radians(lon2 - lon1)
    U1 = math.atan((1 - f) * math.tan(math.radians(lat1)))
    U2 = math.atan((1 - f) * math.tan(math.radians(lat2)))
    sinU1, cosU1 = math.sin(U1), math.cos(U1)
    sinU2, cosU2 = math.sin(U2), math.cos(U2)
    lam = L
    for _ in range(max_iter):
        sinLam, cosLam = math.sin(lam), math.cos(lam)
        sinSigma = math.sqrt(
            (cosU2 * sinLam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) ** 2
        )
        if sinSigma == 0:
            return 0.0
        cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
        sigma = math.atan2(sinSigma, cosSigma)
        sinAlpha = cosU1 * cosU2 * sinLam / sinSigma
        cos2Alpha = 1 - sinAlpha * sinAlpha
        cos2SigmaM = cosSigma - 2 * sinU1 * sinU2 / cos2Alpha if cos2Alpha else 0.0
        C = f / 16 * cos2Alpha * (4 + f * (4 - 3 * cos2Alpha))
        lam_prev = lam
        lam = L + (1 - C) * f * sinAlpha * (
            sigma
            + C * sinSigma * (cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM**2))
        )
        if abs(lam - lam_prev) < tol:
            break
    u2 = cos2Alpha * (a * a - b * b) / (b * b)
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    deltaSigma = B * sinSigma * (
        cos2SigmaM
        + B / 4 * (
            cosSigma * (-1 + 2 * cos2SigmaM**2)
            - B / 6 * cos2SigmaM * (-3 + 4 * sinSigma**2) * (-3 + 4 * cos2SigmaM**2)
        )
    )
    return b * A * (sigma - deltaSigma)


def project_sphere(lon, lat, distance, azimuth, radius=EARTH_RADIUS_M):
    """Great-circle destination point (closed form): start lon/lat degrees,
    distance meters, azimuth radians clockwise from north. Returns (lon, lat)
    degrees. The spherical ST_Project."""
    phi1 = math.radians(lat)
    lam1 = math.radians(lon)
    delta = distance / radius
    sphi2 = math.sin(phi1) * math.cos(delta) + math.cos(phi1) * math.sin(delta) * math.cos(azimuth)
    phi2 = math.asin(max(-1.0, min(1.0, sphi2)))
    lam2 = lam1 + math.atan2(
        math.sin(azimuth) * math.sin(delta) * math.cos(phi1),
        math.cos(delta) - math.sin(phi1) * sphi2,
    )
    return math.degrees(lam2), math.degrees(phi2)


def project_spheroid(lon, lat, distance, azimuth, a=WGS84_A, f=WGS84_F):
    """Vincenty DIRECT problem on WGS84: destination point given start,
    geodesic distance (m) and initial azimuth (radians). Public Vincenty
    (1975) formulas; iterates on sigma (converges in a few rounds)."""
    phi1 = math.radians(lat)
    b = a * (1 - f)
    tanU1 = (1 - f) * math.tan(phi1)
    U1 = math.atan(tanU1)
    sigma1 = math.atan2(tanU1, math.cos(azimuth))
    sinAlpha = math.cos(U1) * math.sin(azimuth)
    cos2Alpha = 1 - sinAlpha * sinAlpha
    u2 = cos2Alpha * (a * a - b * b) / (b * b)
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    sigma = distance / (b * A)
    for _ in range(200):
        cos2Sm = math.cos(2 * sigma1 + sigma)
        sinS, cosS = math.sin(sigma), math.cos(sigma)
        dSigma = B * sinS * (
            cos2Sm
            + B / 4 * (
                cosS * (-1 + 2 * cos2Sm * cos2Sm)
                - B / 6 * cos2Sm * (-3 + 4 * sinS * sinS) * (-3 + 4 * cos2Sm * cos2Sm)
            )
        )
        new_sigma = distance / (b * A) + dSigma
        if abs(new_sigma - sigma) < 1e-13:
            sigma = new_sigma
            break
        sigma = new_sigma
    cos2Sm = math.cos(2 * sigma1 + sigma)
    sinS, cosS = math.sin(sigma), math.cos(sigma)
    phi2 = math.atan2(
        math.sin(U1) * cosS + math.cos(U1) * sinS * math.cos(azimuth),
        (1 - f) * math.hypot(sinAlpha, math.sin(U1) * sinS - math.cos(U1) * cosS * math.cos(azimuth)),
    )
    lam = math.atan2(
        sinS * math.sin(azimuth),
        math.cos(U1) * cosS - math.sin(U1) * sinS * math.cos(azimuth),
    )
    C = f / 16 * cos2Alpha * (4 + f * (4 - 3 * cos2Alpha))
    L = lam - (1 - C) * f * sinAlpha * (
        sigma + C * sinS * (cos2Sm + C * cosS * (-1 + 2 * cos2Sm * cos2Sm))
    )
    return lon + math.degrees(L), math.degrees(phi2)


def vincenty_length(g):
    """Ellipsoidal length of linestrings via Vincenty per segment
    (vincenty_length.rs:16)."""
    if g is None:
        return None
    total = 0.0
    for p in iter_parts(g):
        if p.kind == LINESTRING and len(p.data) >= 2:
            for i in range(len(p.data) - 1):
                total += vincenty_distance(
                    p.data[i, 0], p.data[i, 1], p.data[i + 1, 0], p.data[i + 1, 1]
                )
    return total


def ellipsoidal_perimeter(g):
    """Geodesic (WGS84 Vincenty) perimeter of polygonal parts, meters.
    Reference parity: geodesic_area.rs geodesic_perimeter()."""
    if g is None:
        return None
    total = 0.0
    for p in iter_parts(g):
        if p.kind == POLYGON:
            for r in p.data:
                for i in range(len(r) - 1):
                    total += vincenty_distance(r[i, 0], r[i, 1], r[i + 1, 0], r[i + 1, 1])
    return total


def concave_hull(g, k=3):
    """Concave hull via the Moreira–Santos k-nearest-neighbors gift wrap
    (concave_hull.rs:20 capability; concavity param maps to k)."""
    pts = np.unique(all_coords(g)[:, :2], axis=0)
    if len(pts) < 4:
        return convex_hull(g)
    k = max(3, min(int(k), len(pts) - 1))
    while k < len(pts):
        hull = _concave_hull_knn(pts, k)
        if hull is not None:
            return hull
        k += 1
    return convex_hull(g)


def _concave_hull_knn(pts, k):
    used = np.zeros(len(pts), dtype=bool)
    start = int(np.lexsort((pts[:, 0], pts[:, 1]))[0])  # lowest y
    hull = [pts[start]]
    used[start] = True
    cur = pts[start]
    prev_ang = 0.0
    first = True
    for _ in range(len(pts) * 2):
        if not first and np.allclose(cur, pts[start]):
            break
        cand_idx = np.flatnonzero(~used) if first or True else None
        # allow closing with the start point after a few steps
        allowed = np.flatnonzero(~used)
        if len(hull) > 2:
            allowed = np.append(allowed, start)
        if len(allowed) == 0:
            break
        d = np.hypot(pts[allowed, 0] - cur[0], pts[allowed, 1] - cur[1])
        near = allowed[np.argsort(d)[:k]]
        # sort by right-hand turn angle
        angs = np.arctan2(pts[near, 1] - cur[1], pts[near, 0] - cur[0])
        rel = (prev_ang - angs) % (2 * math.pi)
        order = near[np.argsort(-rel)]
        chosen = None
        for cand in order:
            nxt = pts[cand]
            # no intersection with existing hull edges
            ok = True
            for i in range(len(hull) - 2):
                if _seg_intersect(np.asarray(cur), nxt, np.asarray(hull[i]), np.asarray(hull[i + 1])) == 1:
                    ok = False
                    break
            if ok:
                chosen = cand
                break
        if chosen is None:
            return None
        if chosen == start and len(hull) > 2:
            hull.append(pts[start])
            break
        prev_ang = math.atan2(pts[chosen, 1] - cur[1], pts[chosen, 0] - cur[0])
        used[chosen] = True
        hull.append(pts[chosen])
        cur = pts[chosen]
        first = False
    if len(hull) < 4 or not np.allclose(hull[0], hull[-1]):
        return None
    ring = np.asarray(hull)
    # all points must be inside/on the hull
    for p in pts:
        if _point_in_ring(p[0], p[1], ring) == 0:
            return None
    if _ring_signed_area(ring) < 0:
        ring = ring[::-1]
    return Geom(POLYGON, [np.asarray(ring)])


def frechet_distance(g1, g2):
    """Discrete Fréchet between two linestrings. frechet_distance.rs:25."""
    if g1 is None or g2 is None:
        return None
    a = all_coords(g1)[:, :2]
    b = all_coords(g2)[:, :2]
    if len(a) == 0 or len(b) == 0:
        return None
    n, m = len(a), len(b)
    d = np.sqrt(((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2))
    ca = np.full((n, m), -1.0)
    ca[0, 0] = d[0, 0]
    for i in range(1, n):
        ca[i, 0] = max(ca[i - 1, 0], d[i, 0])
    for j in range(1, m):
        ca[0, j] = max(ca[0, j - 1], d[0, j])
    for i in range(1, n):
        for j in range(1, m):
            ca[i, j] = max(min(ca[i - 1, j], ca[i - 1, j - 1], ca[i, j - 1]), d[i, j])
    return float(ca[n - 1, m - 1])


def hausdorff_distance(g1, g2):
    if g1 is None or g2 is None:
        return None
    a = all_coords(g1)[:, :2]
    b = all_coords(g2)[:, :2]
    if len(a) == 0 or len(b) == 0:
        return None
    d = np.sqrt(((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2))
    return float(max(d.min(axis=1).max(), d.min(axis=0).max()))


# ---------------------------------------------------------------------------
# line referencing
# ---------------------------------------------------------------------------

def line_substring(g, start_frac, end_frac):
    """Sub-linestring between two fractional arc-length positions (PostGIS
    ST_LineSubstring semantics; interior vertices preserved). start > end
    returns empty; equal fractions return the interpolated point."""
    if g is None or start_frac is None or end_frac is None:
        return None
    f1 = min(1.0, max(0.0, float(start_frac)))
    f2 = min(1.0, max(0.0, float(end_frac)))
    if f1 > f2:
        return empty(LINESTRING)
    line = None
    for p in iter_parts(g):
        if p.kind == LINESTRING and len(p.data) >= 2:
            line = p.data
            break
    if line is None:
        return empty(LINESTRING)
    if f1 == f2:
        return line_interpolate_point(g, f1)
    seg = _seg_lengths(line)
    total = float(np.sum(seg))
    if total == 0:
        return empty(LINESTRING)
    t1, t2 = f1 * total, f2 * total

    def locate(target):
        acc = 0.0
        for i, s in enumerate(seg):
            if acc + s >= target or i == len(seg) - 1:
                t = 0.0 if s == 0 else min(1.0, max(0.0, (target - acc) / s))
                a, b = line[i], line[i + 1]
                return i, (float(a[0] + (b[0] - a[0]) * t), float(a[1] + (b[1] - a[1]) * t))
            acc += s
        return len(seg) - 1, (float(line[-1, 0]), float(line[-1, 1]))

    i1, p1 = locate(t1)
    i2, p2 = locate(t2)
    pts = [p1]
    for j in range(i1 + 1, i2 + 1):
        v = (float(line[j, 0]), float(line[j, 1]))
        if v != pts[-1]:
            pts.append(v)
    if p2 != pts[-1]:
        pts.append(p2)
    if len(pts) < 2:
        pts.append(pts[-1])
    return Geom(LINESTRING, np.asarray(pts, dtype=np.float64))


def line_interpolate_point(g, fraction):
    """Point at fraction of length along a linestring.
    line_interpolate_point.rs:42."""
    if g is None or fraction is None:
        return None
    line = None
    for p in iter_parts(g):
        if p.kind == LINESTRING and len(p.data) >= 2:
            line = p.data
            break
    if line is None:
        return empty(POINT)
    f = min(1.0, max(0.0, float(fraction)))
    seg = _seg_lengths(line)
    total = float(np.sum(seg))
    if total == 0:
        return point(float(line[0, 0]), float(line[0, 1]))
    target = f * total
    acc = 0.0
    for i, s in enumerate(seg):
        if acc + s >= target or i == len(seg) - 1:
            t = 0.0 if s == 0 else (target - acc) / s
            a, b = line[i], line[i + 1]
            return point(
                float(a[0] + (b[0] - a[0]) * t), float(a[1] + (b[1] - a[1]) * t)
            )
        acc += s
    return point(float(line[-1, 0]), float(line[-1, 1]))


def line_locate_point(g, pt):
    """Fraction of length at nearest point on line. line_locate_point.rs:22."""
    if g is None or pt is None:
        return None
    line = None
    for p in iter_parts(g):
        if p.kind == LINESTRING and len(p.data) >= 2:
            line = p.data
            break
    if line is None or pt.is_empty():
        return None
    px, py = float(pt.data[0]), float(pt.data[1])
    seg = _seg_lengths(line)
    total = float(np.sum(seg))
    if total == 0:
        return 0.0
    best = (math.inf, 0.0)
    acc = 0.0
    for i in range(len(line) - 1):
        ax, ay = line[i, :2]
        bx, by = line[i + 1, :2]
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        t = 0.0 if L2 == 0 else max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2))
        d = math.hypot(px - (ax + t * dx), py - (ay + t * dy))
        if d < best[0]:
            best = (d, acc + t * seg[i])
        acc += seg[i]
    return best[1] / total


# ---------------------------------------------------------------------------
# transforms
# ---------------------------------------------------------------------------

def _map_coords(g, fn):
    """Apply fn((n,2) array) -> (n,2) to xy of every coord array; preserves Z/M.
    Mirrors map_coords.rs:19."""
    if g is None:
        return None

    def tx(a):
        if a is None or len(a) == 0:
            return a
        a = np.array(a, dtype=np.float64)
        flat = a.reshape(-1, a.shape[-1]) if a.ndim > 1 else a.reshape(1, -1)
        xy = fn(flat[:, :2])
        flat = flat.copy()
        flat[:, :2] = xy
        return flat.reshape(a.shape) if a.ndim > 1 else flat[0]

    k, d = g.kind, g.data
    if k == POINT:
        return Geom(k, tx(d), g.has_z, g.has_m)
    if k in (LINESTRING, MULTIPOINT):
        return Geom(k, tx(d), g.has_z, g.has_m)
    if k in (POLYGON, MULTILINESTRING):
        return Geom(k, [tx(r) for r in d], g.has_z, g.has_m)
    if k == MULTIPOLYGON:
        return Geom(k, [[tx(r) for r in rings] for rings in d], g.has_z, g.has_m)
    return Geom(k, [_map_coords(sub, fn) for sub in d], g.has_z, g.has_m)


def affine_transform(g, a, b, d, e, xoff, yoff):
    """2D affine: x' = a*x + b*y + xoff ; y' = d*x + e*y + yoff.
    (shapely parameter order; affine_ops.rs:24)."""
    return _map_coords(
        g,
        lambda xy: np.column_stack(
            (a * xy[:, 0] + b * xy[:, 1] + xoff, d * xy[:, 0] + e * xy[:, 1] + yoff)
        ),
    )


def translate(g, xoff=0.0, yoff=0.0):
    return affine_transform(g, 1, 0, 0, 1, xoff, yoff)


def transform_crs(g, src_epsg, dst_epsg):
    """Reproject every coordinate src_epsg -> dst_epsg (vectorized per array).
    Mirrors reproject.rs:105 (geodesy crate) with from-scratch closed forms
    — see :mod:`geoarrow_rs_spark.wkb.proj`."""
    from . import proj

    src = proj.parse_crs(src_epsg)
    dst = proj.parse_crs(dst_epsg)
    if src == dst:
        return g

    def fn(xy):
        x, y = proj.transform_xy(xy[:, 0], xy[:, 1], src, dst)
        return np.column_stack((x, y))

    return _map_coords(g, fn)


def _origin_xy(g, origin):
    if isinstance(origin, (tuple, list)):
        return float(origin[0]), float(origin[1])
    if origin == "centroid":
        c = centroid(g)
        return (float(c.data[0]), float(c.data[1])) if not c.is_empty() else (0.0, 0.0)
    b = bounds(g)
    if b is None:
        return 0.0, 0.0
    return (b[0] + b[2]) / 2, (b[1] + b[3]) / 2


def scale(g, xfact=1.0, yfact=1.0, origin="center"):
    ox, oy = _origin_xy(g, origin)
    return affine_transform(g, xfact, 0, 0, yfact, ox - xfact * ox, oy - yfact * oy)


def rotate(g, angle_deg, origin="center"):
    ox, oy = _origin_xy(g, origin)
    t = math.radians(angle_deg)
    c, s = math.cos(t), math.sin(t)
    return affine_transform(g, c, -s, s, c, ox - ox * c + oy * s, oy - ox * s - oy * c)


def skew(g, xs_deg=0.0, ys_deg=0.0, origin="center"):
    ox, oy = _origin_xy(g, origin)
    tx, ty = math.tan(math.radians(xs_deg)), math.tan(math.radians(ys_deg))
    return affine_transform(g, 1, tx, ty, 1, -tx * oy, -ty * ox)


def remove_repeated_points(g, tolerance=0.0):
    """remove_repeated_points.rs:19."""
    tol = max(tolerance, 0.0)

    def dedup(a, closed):
        if len(a) < 2:
            return a
        keep = [0]
        for i in range(1, len(a)):
            d = math.hypot(a[i, 0] - a[keep[-1], 0], a[i, 1] - a[keep[-1], 1])
            if d > tol:
                keep.append(i)
        out = a[keep]
        if closed and (len(out) < 2 or not np.allclose(out[0, :2], out[-1, :2])):
            out = np.vstack([out, out[0]])
        return out

    k, d = g.kind, g.data
    if g is None or k == POINT:
        return g
    if k in (LINESTRING, MULTIPOINT):
        return Geom(k, dedup(d, False), g.has_z, g.has_m)
    if k == POLYGON:
        return Geom(k, [dedup(r, True) for r in d], g.has_z, g.has_m)
    if k == MULTILINESTRING:
        return Geom(k, [dedup(l, False) for l in d], g.has_z, g.has_m)
    if k == MULTIPOLYGON:
        return Geom(k, [[dedup(r, True) for r in rings] for rings in d], g.has_z, g.has_m)
    return Geom(k, [remove_repeated_points(sub, tol) for sub in d], g.has_z, g.has_m)


def _rdp(points, eps):
    """Ramer-Douglas-Peucker, iterative (same keep-set as the textbook
    recursion: endpoints plus each span's first-argmax point with distance
    > eps; kept coordinates are the original rows, so output bytes match
    the recursive form). Short spans use plain-float scalar math, long
    spans one vectorized distance pass — per-point numpy scalar indexing
    is what made the recursive form slow."""
    n = len(points)
    if n < 3:
        return points
    xs = points[:, 0].tolist()
    ys = points[:, 1].tolist()
    keep = [False] * n
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    hyp = math.hypot
    while stack:
        i0, i1 = stack.pop()
        if i1 - i0 < 2:
            continue
        ax, ay, bx, by = xs[i0], ys[i0], xs[i1], ys[i1]
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        if i1 - i0 > 64:
            seg = points[i0 + 1:i1, :2]
            if L2 == 0.0:
                d = np.hypot(seg[:, 0] - ax, seg[:, 1] - ay)
            else:
                t = np.clip(
                    ((seg[:, 0] - ax) * dx + (seg[:, 1] - ay) * dy) / L2, 0.0, 1.0
                )
                d = np.hypot(seg[:, 0] - (ax + t * dx), seg[:, 1] - (ay + t * dy))
            j = int(np.argmax(d))
            dmax = float(d[j])
            im = i0 + 1 + j
        else:
            dmax = -1.0
            im = i0
            for j in range(i0 + 1, i1):
                px, py = xs[j], ys[j]
                if L2 == 0.0:
                    d = hyp(px - ax, py - ay)
                else:
                    t = ((px - ax) * dx + (py - ay) * dy) / L2
                    if t < 0.0:
                        t = 0.0
                    elif t > 1.0:
                        t = 1.0
                    d = hyp(px - (ax + t * dx), py - (ay + t * dy))
                if d > dmax:
                    dmax = d
                    im = j
        if dmax > eps:
            keep[im] = True
            stack.append((i0, im))
            stack.append((im, i1))
    return points[np.asarray(keep, dtype=bool)]


def simplify(g, epsilon):
    """Ramer–Douglas–Peucker. simplify.rs:19."""
    if g is None:
        return None

    def simp(a, closed):
        if len(a) < 3:
            return a
        out = _rdp(a, epsilon)
        if closed and len(out) < 4:
            return a  # keep valid ring
        return out

    k, d = g.kind, g.data
    if k in (POINT, MULTIPOINT):
        return g
    if k == LINESTRING:
        return Geom(k, simp(d, False), g.has_z, g.has_m)
    if k == POLYGON:
        return Geom(k, [simp(r, True) for r in d], g.has_z, g.has_m)
    if k == MULTILINESTRING:
        return Geom(k, [simp(l, False) for l in d], g.has_z, g.has_m)
    if k == MULTIPOLYGON:
        return Geom(k, [[simp(r, True) for r in rings] for rings in d], g.has_z, g.has_m)
    return Geom(k, [simplify(sub, epsilon) for sub in d], g.has_z, g.has_m)


def simplify_vw(g, epsilon):
    """Visvalingam–Whyatt: drop points whose triangle area < epsilon.
    simplify_vw.rs:19."""
    if g is None:
        return None

    def vw(a, closed):
        pts = list(range(len(a)))
        if len(pts) < 3:
            return a

        def tri_area(i, j, k):
            return abs(
                (a[j, 0] - a[i, 0]) * (a[k, 1] - a[i, 1])
                - (a[k, 0] - a[i, 0]) * (a[j, 1] - a[i, 1])
            ) / 2

        changed = True
        while changed and len(pts) > (4 if closed else 2):
            changed = False
            areas = [
                (tri_area(pts[i - 1], pts[i], pts[i + 1]), i)
                for i in range(1, len(pts) - 1)
            ]
            if not areas:
                break
            amin, imin = min(areas)
            if amin < epsilon:
                pts.pop(imin)
                changed = True
        return a[pts]

    k, d = g.kind, g.data
    if k in (POINT, MULTIPOINT):
        return g
    if k == LINESTRING:
        return Geom(k, vw(d, False), g.has_z, g.has_m)
    if k == POLYGON:
        return Geom(k, [vw(r, True) for r in d], g.has_z, g.has_m)
    if k == MULTILINESTRING:
        return Geom(k, [vw(l, False) for l in d], g.has_z, g.has_m)
    if k == MULTIPOLYGON:
        return Geom(k, [[vw(r, True) for r in rings] for rings in d], g.has_z, g.has_m)
    return Geom(k, [simplify_vw(sub, epsilon) for sub in d], g.has_z, g.has_m)


def simplify_vw_preserve(g, epsilon):
    """Topology-preserving Visvalingam–Whyatt (simplify_vw_preserve.rs:19
    parity): a vertex is only dropped if the replacement segment does not
    cross any OTHER current segment of the same geometry — the variant users
    want for shared borders, where plain RDP/VW can create invalid rings."""
    if g is None:
        return None

    def collect_lines(gg):
        out = []
        for p in iter_parts(gg):
            if p.kind == LINESTRING:
                out.append((p.data, False))
            elif p.kind == POLYGON:
                out.extend((r, True) for r in p.data)
        return out

    # active vertex index lists per component; all components' live segments
    # participate in every crossing check (shared-border safety)
    comps = [(a, list(range(len(a))), closed) for a, closed in collect_lines(g)]

    def live_segments(skip_comp, skip_range):
        for ci, (a, pts, _closed) in enumerate(comps):
            for si in range(len(pts) - 1):
                if ci == skip_comp and si in skip_range:
                    continue
                yield a[pts[si]], a[pts[si + 1]]

    def tri_area(a, i, j, k):
        return abs(
            (a[j, 0] - a[i, 0]) * (a[k, 1] - a[i, 1])
            - (a[k, 0] - a[i, 0]) * (a[j, 1] - a[i, 1])
        ) / 2

    for ci, (a, pts, closed) in enumerate(comps):
        min_pts = 4 if closed else 2
        changed = True
        while changed and len(pts) > min_pts:
            changed = False
            areas = sorted(
                (tri_area(a, pts[i - 1], pts[i], pts[i + 1]), i)
                for i in range(1, len(pts) - 1)
            )
            for amin, imin in areas:
                if amin >= epsilon:
                    break
                p_prev, p_next = a[pts[imin - 1]], a[pts[imin + 1]]
                # removal replaces segments (imin-1,imin),(imin,imin+1) with
                # (imin-1,imin+1); reject if the new segment properly crosses
                # any other live segment anywhere in the geometry
                crosses = False
                for s1, s2 in live_segments(ci, {imin - 1, imin}):
                    if _seg_intersect(p_prev, p_next, s1, s2) == 1:
                        crosses = True
                        break
                if not crosses:
                    pts.pop(imin)
                    changed = True
                    break

    def rebuild():
        lines = [(a[pts],) for a, pts, _c in comps]
        it = iter(lines)

        def take():
            return next(it)[0]

        k = g.kind
        if k == LINESTRING:
            return Geom(k, take(), g.has_z, g.has_m)
        if k == POLYGON:
            return Geom(k, [take() for _ in g.data], g.has_z, g.has_m)
        if k == MULTILINESTRING:
            return Geom(k, [take() for _ in g.data], g.has_z, g.has_m)
        if k == MULTIPOLYGON:
            return Geom(
                k, [[take() for _ in rings] for rings in g.data], g.has_z, g.has_m
            )
        return g

    if g.kind in (POINT, MULTIPOINT):
        return g
    if g.kind == GEOMETRYCOLLECTION:
        return Geom(
            g.kind,
            [simplify_vw_preserve(sub, epsilon) for sub in g.data],
            g.has_z,
            g.has_m,
        )
    return rebuild()


def densify(g, max_distance):
    """Insert vertices so no segment exceeds max_distance. densify.rs:18."""
    if g is None:
        return None
    md = float(max_distance)
    if md <= 0:
        raise ValueError("max_distance must be > 0")

    def dens(a):
        if len(a) < 2:
            return a
        rows = [a[0]]
        for i in range(len(a) - 1):
            seg = a[i + 1] - a[i]
            L = math.hypot(seg[0], seg[1])
            n = max(1, int(math.ceil(L / md)))
            for j in range(1, n + 1):
                rows.append(a[i] + seg * (j / n))
        return np.asarray(rows)

    k, d = g.kind, g.data
    if k in (POINT, MULTIPOINT):
        return g
    if k == LINESTRING:
        return Geom(k, dens(d), g.has_z, g.has_m)
    if k == POLYGON:
        return Geom(k, [dens(r) for r in d], g.has_z, g.has_m)
    if k == MULTILINESTRING:
        return Geom(k, [dens(l) for l in d], g.has_z, g.has_m)
    if k == MULTIPOLYGON:
        return Geom(k, [[dens(r) for r in rings] for rings in d], g.has_z, g.has_m)
    return Geom(k, [densify(sub, md) for sub in d], g.has_z, g.has_m)


def chaikin_smoothing(g, n_iterations=1):
    """Chaikin corner cutting. chaikin_smoothing.rs:22."""
    if g is None:
        return None

    def one(a, closed):
        if len(a) < 3:
            return a
        pts = a
        for _ in range(int(n_iterations)):
            new = []
            rng = range(len(pts) - 1)
            for i in rng:
                p, q = pts[i], pts[i + 1]
                new.append(0.75 * p + 0.25 * q)
                new.append(0.25 * p + 0.75 * q)
            if closed:
                new.append(new[0])
            else:
                new = [pts[0]] + new + [pts[-1]]
            pts = np.asarray(new)
        return pts

    k, d = g.kind, g.data
    if k in (POINT, MULTIPOINT):
        return g
    if k == LINESTRING:
        return Geom(k, one(d, False), g.has_z, g.has_m)
    if k == POLYGON:
        return Geom(k, [one(r, True) for r in d], g.has_z, g.has_m)
    if k == MULTILINESTRING:
        return Geom(k, [one(l, False) for l in d], g.has_z, g.has_m)
    if k == MULTIPOLYGON:
        return Geom(k, [[one(r, True) for r in rings] for rings in d], g.has_z, g.has_m)
    return Geom(k, [chaikin_smoothing(sub, n_iterations) for sub in d], g.has_z, g.has_m)


def buffer(g, width, quadsegs=8):
    """Buffer (geos/buffer.rs:7-12). Points -> circle polygons; lines ->
    union of segment capsules (rectangle + round caps); polygons -> union of
    the polygon with its boundary's capsule buffer. Negative width supported
    only as EMPTY for puntal/lineal input."""
    if g is None:
        return None
    n = max(4, int(quadsegs) * 4)
    ang = np.linspace(0, 2 * math.pi, n, endpoint=False)
    circ = np.column_stack((np.cos(ang), np.sin(ang))) * abs(float(width))

    def circle_at(x, y):
        ring = circ + (x, y)
        return Geom(POLYGON, [np.vstack([ring, ring[:1]])])

    def capsule(a, b, w):
        dx, dy = b[0] - a[0], b[1] - a[1]
        L = math.hypot(dx, dy)
        if L == 0:
            return circle_at(a[0], a[1])
        ux, uy = dx / L, dy / L
        nx, ny = -uy * w, ux * w
        # rectangle + semicircle caps approximated by the union engine
        rect = np.array(
            [
                [a[0] + nx, a[1] + ny],
                [b[0] + nx, b[1] + ny],
                [b[0] - nx, b[1] - ny],
                [a[0] - nx, a[1] - ny],
                [a[0] + nx, a[1] + ny],
            ]
        )
        return Geom(POLYGON, [rect])

    from . import booleanops as bo

    if width <= 0:
        if _top_dim(g) < 2:
            return empty(POLYGON)
        if width == 0:
            return g
        # negative polygon buffer = morphological erosion: subtract the
        # |width|-buffer of the boundary from the polygon (same capsule
        # approximation as the positive line buffer; geos buffer.rs parity
        # for the negative-distance case)
        rings = [
            np.asarray(r[:, :2])
            for p in iter_parts(g)
            if p.kind == POLYGON
            for r in p.data
            if len(r) >= 2
        ]
        if not rings:
            return empty(POLYGON)
        ring_buf = buffer(Geom(MULTILINESTRING, rings), abs(float(width)), quadsegs)
        if ring_buf is None or ring_buf.is_empty():
            return g
        return bo.difference(g, ring_buf)

    w = float(width)
    pieces = []
    # duplicate vertex circles (closed rings repeat their first vertex;
    # shared vertices across parts) must union ONCE — unioning two
    # identical circles creates degenerate boundary seams that break the
    # overlay's side probes
    seen_circles = set()

    def circle_once(x, y):
        key = (x, y)
        if key not in seen_circles:
            seen_circles.add(key)
            pieces.append(circle_at(x, y))

    for p in iter_parts(g):
        if p.is_empty():
            continue
        if p.kind == POINT:
            circle_once(float(p.data[0]), float(p.data[1]))
        elif p.kind == LINESTRING:
            line = p.data[:, :2]
            for i in range(len(line) - 1):
                pieces.append(capsule(line[i], line[i + 1], w))
            for v in line:
                circle_once(float(v[0]), float(v[1]))
        else:  # polygon: self + buffered boundary
            pieces.append(Geom(POLYGON, [r[:, :2] for r in p.data]))
            for ring in p.data:
                rr = ring[:, :2]
                for i in range(len(rr) - 1):
                    pieces.append(capsule(rr[i], rr[i + 1], w))
                for v in rr[:-1]:
                    circle_once(float(v[0]), float(v[1]))
    if not pieces:
        return empty(POLYGON)
    acc = pieces[0]
    for piece in pieces[1:]:
        acc = bo.geom_union(acc, piece)
    return acc


def interior_point(g):
    """A point guaranteed on the geometry (representative point).
    interior_point.rs:10."""
    if g is None or g.is_empty():
        return empty(POINT)
    d = _top_dim(g)
    if d == 0:
        for p in iter_parts(g):
            if p.kind == POINT and not p.is_empty():
                return point(float(p.data[0]), float(p.data[1]))
    if d == 1:
        for p in iter_parts(g):
            if p.kind == LINESTRING and len(p.data):
                mid = len(p.data) // 2
                return point(float(p.data[mid, 0]), float(p.data[mid, 1]))
    # areal: scanline through bbox mid-y; midpoint of widest inside interval
    best = None
    for p in iter_parts(g):
        if p.kind != POLYGON or not p.data:
            continue
        c = centroid(p)
        if not c.is_empty() and point_in_polygon(float(c.data[0]), float(c.data[1]), p.data) == 2:
            cand = (area(p), float(c.data[0]), float(c.data[1]))
        else:
            b = bounds(p)
            ymid = (b[1] + b[3]) / 2
            xs = []
            for ring in p.data:
                for i in range(len(ring) - 1):
                    ay, by = ring[i, 1], ring[i + 1, 1]
                    if (ay > ymid) != (by > ymid):
                        t = (ymid - ay) / (by - ay)
                        xs.append(ring[i, 0] + t * (ring[i + 1, 0] - ring[i, 0]))
            xs.sort()
            if len(xs) >= 2:
                widths = [(xs[i + 1] - xs[i], i) for i in range(0, len(xs) - 1, 2)]
                w, i = max(widths)
                cand = (area(p), (xs[i] + xs[i + 1]) / 2, ymid)
            else:
                cand = (area(p), float(p.data[0][0, 0]), float(p.data[0][0, 1]))
        if best is None or cand[0] > best[0]:
            best = cand
    if best is None:
        return empty(POINT)
    return point(best[1], best[2])


def polylabel(g, tolerance=1.0):
    """Pole of inaccessibility via grid refinement (quadtree-ish).
    polylabel.rs:24."""
    if g is None or g.is_empty():
        return empty(POINT)
    poly = None
    best_a = -1.0
    for p in iter_parts(g):
        if p.kind == POLYGON and p.data:
            a = area(p)
            if a > best_a:
                best_a, poly = a, p
    if poly is None:
        return interior_point(g)

    rings = poly.data
    segs = []
    for r in rings:
        for i in range(len(r) - 1):
            segs.append((r[i, 0], r[i, 1], r[i + 1, 0], r[i + 1, 1]))

    def dist_to_boundary(x, y):
        d = min(_pt_seg_dist(x, y, *s) for s in segs)
        return d if point_in_polygon(x, y, rings) == 2 else -d

    b = bounds(poly)
    cell = max(b[2] - b[0], b[3] - b[1]) / 2
    cx, cy = (b[0] + b[2]) / 2, (b[1] + b[3]) / 2
    best = (dist_to_boundary(cx, cy), cx, cy)
    c = centroid(poly)
    if not c.is_empty():
        d = dist_to_boundary(float(c.data[0]), float(c.data[1]))
        if d > best[0]:
            best = (d, float(c.data[0]), float(c.data[1]))
    # breadth-first grid refinement
    queue = [(cx, cy, cell)]
    while queue:
        nxt = []
        for (x, y, h) in queue:
            for dx in (-h / 2, h / 2):
                for dy in (-h / 2, h / 2):
                    px, py = x + dx, y + dy
                    d = dist_to_boundary(px, py)
                    if d > best[0]:
                        best = (d, px, py)
                    # potential max in this cell = d + h*sqrt2/2
                    if d + h * 0.7071067811865476 - best[0] > tolerance:
                        nxt.append((px, py, h / 2))
        queue = nxt
        if len(queue) > 4096:
            queue = sorted(queue, key=lambda t: -dist_to_boundary(t[0], t[1]))[:1024]
    return point(best[1], best[2])


# ---------------------------------------------------------------------------
# validity & structure checks
# ---------------------------------------------------------------------------

def is_ring(g):
    """Closed and simple linestring. geos/is_ring.rs."""
    if g is None:
        return None
    for p in iter_parts(g):
        if p.kind == LINESTRING:
            a = p.data
            if len(a) < 4:
                return False
            return bool(np.allclose(a[0, :2], a[-1, :2])) and is_simple(p)
    return False


def is_simple(g):
    """No self-intersection (pragmatic O(n^2) check). geos/is_simple.rs:12."""
    if g is None:
        return None
    for p in iter_parts(g):
        if p.kind == LINESTRING:
            a = p.data
            n = len(a) - 1
            closed = n >= 1 and np.allclose(a[0, :2], a[-1, :2])
            for i in range(n):
                for j in range(i + 1, n):
                    r = _seg_intersect(a[i], a[i + 1], a[j], a[j + 1])
                    if r == 0:
                        continue
                    adjacent = j == i + 1 or (closed and i == 0 and j == n - 1)
                    if r == 1 or not adjacent:
                        return False
        elif p.kind == MULTIPOINT:
            u = np.unique(p.data[:, :2], axis=0)
            if len(u) != len(p.data):
                return False
    return True


def validity_reason(g):
    """None if valid, else a reason string. validation.rs:9,28 (subset)."""
    if g is None:
        return None
    for p in iter_parts(g):
        if p.kind == POLYGON:
            for idx, r in enumerate(p.data):
                if 0 < len(r) < 4:
                    return f"ring {idx} has fewer than 4 points"
                if len(r) and not np.allclose(r[0, :2], r[-1, :2]):
                    return f"ring {idx} is not closed"
            if p.data:
                ring_geom = Geom(LINESTRING, p.data[0])
                if len(p.data[0]) >= 4 and not is_simple(ring_geom):
                    return "shell is self-intersecting"
                shell = p.data[0]
                for hidx, hole in enumerate(p.data[1:], 1):
                    if len(hole) >= 4:
                        hx, hy = float(hole[0, 0]), float(hole[0, 1])
                        if _point_in_ring(hx, hy, shell) == 0:
                            return f"hole {hidx} lies outside shell"
        elif p.kind == LINESTRING:
            if len(p.data) == 1:
                return "linestring has a single point"
    return None


def is_valid(g):
    if g is None:
        return None
    return validity_reason(g) is None


# ---------------------------------------------------------------------------
# rectangle clipping (ST_ClipByBox2D / intersection-with-envelope)
# ---------------------------------------------------------------------------

def _clip_ring_rect(ring, xmin, ymin, xmax, ymax):
    """Sutherland–Hodgman clip of a ring against an axis-aligned rect."""
    def clip_edge(pts, inside, intersect):
        out = []
        n = len(pts)
        for i in range(n):
            cur, prv = pts[i], pts[i - 1]
            ci, pi = inside(cur), inside(prv)
            if ci:
                if not pi:
                    out.append(intersect(prv, cur))
                out.append(cur)
            elif pi:
                out.append(intersect(prv, cur))
        return out

    def ix(p, q, axis, v):
        t = (v - p[axis]) / (q[axis] - p[axis])
        r = p + (q - p) * t
        r[axis] = v
        return r

    pts = [np.array(p, dtype=np.float64) for p in ring[:-1]] if len(ring) else []
    for axis, v, keep_ge in ((0, xmin, True), (0, xmax, False), (1, ymin, True), (1, ymax, False)):
        if not pts:
            return None
        if keep_ge:
            pts = clip_edge(pts, lambda p: p[axis] >= v, lambda p, q: ix(p, q, axis, v))
        else:
            pts = clip_edge(pts, lambda p: p[axis] <= v, lambda p, q: ix(p, q, axis, v))
    if len(pts) < 3:
        return None
    pts.append(pts[0])
    return np.asarray(pts)


def _clip_line_rect(line, xmin, ymin, xmax, ymax):
    """Clip a linestring to a rect; returns list of clipped sub-lines."""
    out = []
    cur = []

    def inside(p):
        return xmin - 1e-12 <= p[0] <= xmax + 1e-12 and ymin - 1e-12 <= p[1] <= ymax + 1e-12

    def clip_seg(a, b):
        # Liang–Barsky
        t0, t1 = 0.0, 1.0
        dx, dy = b[0] - a[0], b[1] - a[1]
        for p, q in ((-dx, a[0] - xmin), (dx, xmax - a[0]), (-dy, a[1] - ymin), (dy, ymax - a[1])):
            if p == 0:
                if q < 0:
                    return None
            else:
                r = q / p
                if p < 0:
                    if r > t1:
                        return None
                    t0 = max(t0, r)
                else:
                    if r < t0:
                        return None
                    t1 = min(t1, r)
        pa = np.array([a[0] + t0 * dx, a[1] + t0 * dy])
        pb = np.array([a[0] + t1 * dx, a[1] + t1 * dy])
        return pa, pb

    for i in range(len(line) - 1):
        seg = clip_seg(line[i], line[i + 1])
        if seg is None:
            if len(cur) >= 2:
                out.append(np.asarray(cur))
            cur = []
            continue
        pa, pb = seg
        if cur and np.allclose(cur[-1], pa):
            cur.append(pb)
        else:
            if len(cur) >= 2:
                out.append(np.asarray(cur))
            cur = [pa, pb]
    if len(cur) >= 2:
        out.append(np.asarray(cur))
    return out


def clip_by_rect(g, xmin, ymin, xmax, ymax):
    """Intersection with an axis-aligned rectangle (PostGIS ST_ClipByBox2D;
    covers the reference's bbox row-filter semantics,
    /root/reference/rust/geoparquet/src/reader/spatial_filter.rs:183-254)."""
    if g is None:
        return None
    polys = []
    lines = []
    pts = []
    for p in iter_parts(g):
        if p.is_empty():
            continue
        if p.kind == POINT:
            x, y = float(p.data[0]), float(p.data[1])
            if xmin <= x <= xmax and ymin <= y <= ymax:
                pts.append([x, y])
        elif p.kind == LINESTRING:
            lines.extend(_clip_line_rect(p.data[:, :2], xmin, ymin, xmax, ymax))
        else:
            shell = _clip_ring_rect(p.data[0][:, :2], xmin, ymin, xmax, ymax)
            if shell is None:
                continue
            rings = [shell]
            for hole in p.data[1:]:
                h = _clip_ring_rect(hole[:, :2], xmin, ymin, xmax, ymax)
                if h is not None:
                    rings.append(h)
            polys.append(rings)
    if polys:
        return Geom(POLYGON, polys[0]) if len(polys) == 1 else Geom(MULTIPOLYGON, polys)
    if lines:
        return Geom(LINESTRING, lines[0]) if len(lines) == 1 else Geom(MULTILINESTRING, lines)
    if pts:
        return (
            point(pts[0][0], pts[0][1])
            if len(pts) == 1
            else multipoint(np.asarray(pts))
        )
    return empty(GEOMETRYCOLLECTION)


# ---------------------------------------------------------------------------
# geohash (grid keys for spatial partitioning / joins)
# ---------------------------------------------------------------------------

_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_decode(gh: str):
    """Geohash -> (lon, lat) cell center + (lon_err, lat_err) half-widths.
    Standard base-32 bit de-interleave (inverse of geohash_encode)."""
    if not gh:
        return None
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    even = True
    for ch in gh:
        v = _GH32.index(ch)
        for shift in (4, 3, 2, 1, 0):
            bit = (v >> shift) & 1
            if even:
                mid = (lon_lo + lon_hi) / 2
                if bit:
                    lon_lo = mid
                else:
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if bit:
                    lat_lo = mid
                else:
                    lat_hi = mid
            even = not even
    return (
        (lon_lo + lon_hi) / 2,
        (lat_lo + lat_hi) / 2,
        (lon_hi - lon_lo) / 2,
        (lat_hi - lat_lo) / 2,
    )


def geohash_encode(lon, lat, precision=9):
    """Standard geohash of a lon/lat point."""
    if lon is None or lat is None or math.isnan(lon) or math.isnan(lat):
        return None
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True
    while len(bits) < precision * 5:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        even = not even
    chars = []
    for i in range(0, len(bits), 5):
        v = 0
        for b in bits[i:i + 5]:
            v = (v << 1) | b
        chars.append(_GH32[v])
    return "".join(chars)


# ---------------------------------------------------------------------------
# snap / split (PostGIS ST_Snap / ST_Split semantics, 2-D)
# ---------------------------------------------------------------------------

def _snap_path(path, refv, tol, insert=True):
    """Snap one coordinate path to reference vertices (GEOS snap rules):
    1) each vertex within tol of a reference vertex moves onto the nearest
       such vertex; 2) reference vertices within tol of an edge (but not of
       its endpoints) are inserted into the edge in projection order."""
    path = np.asarray(path, dtype=np.float64)
    snapped = []
    for v in path[:, :2]:
        d = np.hypot(refv[:, 0] - v[0], refv[:, 1] - v[1])
        j = int(np.argmin(d))
        if d[j] <= tol:
            snapped.append((float(refv[j, 0]), float(refv[j, 1])))
        else:
            snapped.append((float(v[0]), float(v[1])))
    if not insert or len(snapped) < 2:
        return np.asarray(snapped)
    res = []
    for i in range(len(snapped)):
        res.append(snapped[i])
        if i == len(snapped) - 1:
            break
        a, b = snapped[i], snapped[i + 1]
        ins = []
        for r in refv:
            if (
                math.hypot(r[0] - a[0], r[1] - a[1]) <= tol
                or math.hypot(r[0] - b[0], r[1] - b[1]) <= tol
            ):
                continue
            if _pt_seg_dist(r[0], r[1], a[0], a[1], b[0], b[1]) <= tol:
                dx, dy = b[0] - a[0], b[1] - a[1]
                L2 = dx * dx + dy * dy
                t = 0.0 if L2 == 0 else ((r[0] - a[0]) * dx + (r[1] - a[1]) * dy) / L2
                ins.append((t, (float(r[0]), float(r[1]))))
        for _, p in sorted(ins):
            if p != res[-1]:
                res.append(p)
    out = [res[0]]
    for p in res[1:]:
        if p != out[-1]:
            out.append(p)
    return np.asarray(out)


def snap(g, ref, tolerance):
    """ST_Snap(g, ref, tol): vertices of g snap to nearby ref vertices; ref
    vertices near g's edges are inserted. 2-D output; input geometry
    structure (rings, multiplicity) preserved. No reference equivalent —
    PostGIS-parity addition built on the same Geom model."""
    if g is None or ref is None or tolerance is None:
        return None
    if g.is_empty() or ref.is_empty():
        return g
    refv = all_coords(ref)[:, :2]
    if len(refv) == 0:
        return g
    tol = float(tolerance)
    k = g.kind

    if k == POINT:
        p = _snap_path(g.data.reshape(1, -1), refv, tol, insert=False)
        return point(float(p[0, 0]), float(p[0, 1]))
    if k == MULTIPOINT:
        p = _snap_path(g.data, refv, tol, insert=False)
        return multipoint(p)
    if k == LINESTRING:
        q = _snap_path(g.data, refv, tol)
        if len(q) < 2:
            return empty(LINESTRING)
        return Geom(LINESTRING, q)
    if k == POLYGON:
        rings = [_snap_path(r, refv, tol) for r in g.data]
        rings = [r for r in rings if len(r) >= 4]
        return Geom(POLYGON, rings)
    if k == MULTILINESTRING:
        return Geom(MULTILINESTRING, [_snap_path(l, refv, tol) for l in g.data])
    if k == MULTIPOLYGON:
        return Geom(
            MULTIPOLYGON,
            [
                [r for r in (_snap_path(rr, refv, tol) for rr in rings) if len(r) >= 4]
                for rings in g.data
            ],
        )
    return Geom(GEOMETRYCOLLECTION, [snap(sub, ref, tolerance) for sub in g.data])


def _seg_seg_points(a1, a2, b1, b2, eps=1e-12):
    """Intersection point(s) of two segments: [] / [p] / [p, q] (collinear
    overlap yields the overlap's endpoints)."""
    d1x, d1y = a2[0] - a1[0], a2[1] - a1[1]
    d2x, d2y = b2[0] - b1[0], b2[1] - b1[1]
    L1 = math.hypot(d1x, d1y)
    L2 = math.hypot(d2x, d2y)
    if L1 == 0 or L2 == 0:
        return []
    denom = d1x * d2y - d1y * d2x
    ex, ey = b1[0] - a1[0], b1[1] - a1[1]
    if abs(denom) > eps * L1 * L2:
        t = (ex * d2y - ey * d2x) / denom
        u = (ex * d1y - ey * d1x) / denom
        if -eps <= t <= 1 + eps and -eps <= u <= 1 + eps:
            return [(a1[0] + t * d1x, a1[1] + t * d1y)]
        return []
    scale = max(L1, L2, 1.0)
    if max(abs(ex * d1y - ey * d1x) / L1, abs(ex * d2y - ey * d2x) / L2) > eps * scale:
        return []
    L1sq = L1 * L1
    t1 = ((b1[0] - a1[0]) * d1x + (b1[1] - a1[1]) * d1y) / L1sq
    t2 = ((b2[0] - a1[0]) * d1x + (b2[1] - a1[1]) * d1y) / L1sq
    lo, hi = max(0.0, min(t1, t2)), min(1.0, max(t1, t2))
    if hi < lo:
        return []
    pts = [(a1[0] + lo * d1x, a1[1] + lo * d1y)]
    if hi > lo:
        pts.append((a1[0] + hi * d1x, a1[1] + hi * d1y))
    return pts


def _blade_segments(blade):
    """Segments of a line-ish blade (linestrings + polygon boundaries)."""
    segs = []
    for part in iter_parts(blade):
        if part.kind == LINESTRING and len(part.data) >= 2:
            arr = np.asarray(part.data, dtype=np.float64)
            segs += [(arr[i, :2], arr[i + 1, :2]) for i in range(len(arr) - 1)]
        elif part.kind == POLYGON:
            for ring in part.data:
                arr = np.asarray(ring, dtype=np.float64)
                segs += [(arr[i, :2], arr[i + 1, :2]) for i in range(len(arr) - 1)]
    return segs


def split(g, blade, eps=1e-9):
    """ST_Split(line, blade): split a (Multi)LineString by a point, multipoint,
    line, or polygon-boundary blade at their exact intersection locations.
    Returns a GeometryCollection of the pieces (PostGIS shape); blade points
    not ON the line (within eps) do not split. No reference equivalent —
    PostGIS-parity addition."""
    if g is None or blade is None:
        return None
    pieces = []
    blade_segs = _blade_segments(blade)
    blade_pts = [
        (float(p.data[0]), float(p.data[1]))
        for p in iter_parts(blade)
        if p.kind == POINT and not p.is_empty()
    ]
    for part in iter_parts(g):
        if part.kind != LINESTRING or len(part.data) < 2:
            pieces.append(part)
            continue
        line = np.asarray(part.data, dtype=np.float64)
        seg = _seg_lengths(line)
        cum = np.concatenate([[0.0], np.cumsum(seg)])
        total = float(cum[-1])
        if total == 0:
            pieces.append(Geom(LINESTRING, line))
            continue

        cuts = set()

        def locate_and_add(px, py):
            best = (math.inf, None)
            for i in range(len(line) - 1):
                ax, ay = line[i, 0], line[i, 1]
                bx, by = line[i + 1, 0], line[i + 1, 1]
                dx, dy = bx - ax, by - ay
                L2 = dx * dx + dy * dy
                t = 0.0 if L2 == 0 else max(
                    0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2)
                )
                d = math.hypot(px - (ax + t * dx), py - (ay + t * dy))
                if d < best[0]:
                    best = (d, float(cum[i] + t * seg[i]))
            if best[0] <= eps and eps < best[1] < total - eps:
                cuts.add(best[1])

        for px, py in blade_pts:
            locate_and_add(px, py)
        for i in range(len(line) - 1):
            for b1, b2 in blade_segs:
                for px, py in _seg_seg_points(line[i], line[i + 1], b1, b2):
                    locate_and_add(px, py)

        if not cuts:
            pieces.append(Geom(LINESTRING, line))
            continue

        def at(target):
            for i in range(len(seg)):
                if cum[i + 1] >= target or i == len(seg) - 1:
                    s = seg[i]
                    t = 0.0 if s == 0 else min(1.0, max(0.0, (target - cum[i]) / s))
                    return i, (
                        float(line[i, 0] + (line[i + 1, 0] - line[i, 0]) * t),
                        float(line[i, 1] + (line[i + 1, 1] - line[i, 1]) * t),
                    )
            return len(seg) - 1, (float(line[-1, 0]), float(line[-1, 1]))

        positions = [0.0] + sorted(cuts) + [total]
        for s0, s1 in zip(positions[:-1], positions[1:]):
            i1, p1 = at(s0)
            i2, p2 = at(s1)
            pts = [p1]
            for j in range(i1 + 1, i2 + 1):
                v = (float(line[j, 0]), float(line[j, 1]))
                if v != pts[-1]:
                    pts.append(v)
            if p2 != pts[-1]:
                pts.append(p2)
            if len(pts) >= 2:
                pieces.append(Geom(LINESTRING, np.asarray(pts, dtype=np.float64)))
    return Geom(GEOMETRYCOLLECTION, pieces)


def subdivide(g, max_vertices=128):
    """ST_Subdivide: recursively bisect each part along the longer axis of
    its bbox until every piece has <= max_vertices coordinates; returns a
    GeometryCollection of the pieces. The scale operator for 100 TB spatial
    joins: huge polygons (coastlines, admin boundaries) otherwise make
    single grid cells/tasks arbitrarily expensive — subdividing first
    bounds per-candidate refine cost and grid-cell fanout. PostGIS-parity
    addition (no reference equivalent)."""
    if g is None:
        return None
    mv = max(8, int(max_vertices))
    pieces = []

    def rec(gg, depth):
        if gg is None or gg.is_empty():
            return
        if len(all_coords(gg)) <= mv or depth > 60:
            pieces.append(gg)
            return
        b = bounds(gg)
        if b is None:
            return
        xmin, ymin, xmax, ymax = b
        if xmax - xmin >= ymax - ymin:
            mid = (xmin + xmax) / 2.0
            lo = clip_by_rect(gg, xmin, ymin, mid, ymax)
            hi = clip_by_rect(gg, mid, ymin, xmax, ymax)
        else:
            mid = (ymin + ymax) / 2.0
            lo = clip_by_rect(gg, xmin, ymin, xmax, mid)
            hi = clip_by_rect(gg, xmin, mid, xmax, ymax)
        # a degenerate split (everything lands on one side) must terminate
        if lo is None or lo.is_empty() or hi is None or hi.is_empty():
            pieces.append(gg)
            return
        rec(lo, depth + 1)
        rec(hi, depth + 1)

    for part in iter_parts(g):
        rec(part, 0)
    return Geom(GEOMETRYCOLLECTION, pieces)


def line_merge(g):
    """ST_LineMerge: sew the linestrings of a (Multi)LineString together at
    endpoints shared by exactly two line-ends (degree-2 nodes), reversing
    pieces as needed; junctions of degree != 2 stay breaks. Returns a
    LineString when everything merges into one chain, else a
    MultiLineString. Non-line inputs pass through unchanged (PostGIS
    behavior)."""
    if g is None:
        return None
    lines = [
        np.asarray(p.data, dtype=np.float64)[:, :2]
        for p in iter_parts(g)
        if p.kind == LINESTRING and len(p.data) >= 2
    ]
    if not lines:
        return g

    def key(pt):
        return (float(pt[0]), float(pt[1]))

    # endpoint -> list of (line index, which end)
    adj = {}
    for i, ln in enumerate(lines):
        for end, pt in ((0, ln[0]), (1, ln[-1])):
            adj.setdefault(key(pt), []).append((i, end))

    used = [False] * len(lines)
    chains = []

    def other_end(i, end):
        return key(lines[i][-1] if end == 0 else lines[i][0])

    def extendable(k):
        return len(adj[k]) == 2

    for i in range(len(lines)):
        if used[i]:
            continue
        # walk backward to the chain start (a node of degree != 2), guarding
        # against closed loops
        start_i, start_end = i, 0
        seen = {i}
        while extendable(key(lines[start_i][0] if start_end == 0 else lines[start_i][-1])):
            k = key(lines[start_i][0] if start_end == 0 else lines[start_i][-1])
            nxt = [(j, e) for j, e in adj[k] if j != start_i]
            if not nxt or nxt[0][0] in seen or used[nxt[0][0]]:
                break
            j, e = nxt[0]
            seen.add(j)
            # arriving at line j via its end e; continue from its other end
            start_i, start_end = j, 1 - e
        # now walk forward collecting coords
        coords = []
        cur_i, cur_end = start_i, start_end
        while True:
            ln = lines[cur_i] if cur_end == 0 else lines[cur_i][::-1]
            used[cur_i] = True
            if coords:
                coords.extend(ln[1:])
            else:
                coords.extend(ln)
            k = key(ln[-1])
            if not extendable(k):
                break
            nxt = [(j, e) for j, e in adj[k] if not used[j]]
            if not nxt:
                break
            cur_i, cur_end = nxt[0][0], nxt[0][1]
        chains.append(np.asarray(coords, dtype=np.float64))

    if len(chains) == 1:
        return Geom(LINESTRING, chains[0])
    return Geom(MULTILINESTRING, chains)
