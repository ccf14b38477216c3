"""ST_* kernel implementations as Arrow-vectorized pandas UDFs over WKB.

This module is the Spark-side of the reference's compute surface
(/root/reference/python/geoarrow-compute/python/geoarrow/rust/compute/_compute.pyi):
every kernel is elementwise over a WKB BinaryType column, evaluated inside an
``ArrowEvalPython`` node — Spark streams Arrow batches into these functions,
which is the distributed analogue of the reference's chunked-kernel dispatch
(/root/reference/python/geoarrow-compute/src/algorithm/geo/area.rs:46-55).

Hot-path note: Point columns get a fully vectorized numpy fast path (fixed
21/29-byte WKB records decoded with ``np.frombuffer`` — no per-row Python).
Batches of XY little-endian values of every other type, in any mix, decode
whole-batch through ``batchdecode`` into one coordinate table plus offset
arrays, and the kernels run numpy over it. Only batches with big-endian,
Z/M or EWKB SRID values fall back to per-row ``Geom`` parsing.

Kernels keep no memo of their own: repeated argument values are folded
once per batch by ``registry._dedup_wrap`` before a kernel runs. The
per-row parse (``geoms_of``) and the batch decode (``decoded_of``) each
sit behind a small content-keyed LRU (``batchdecode.content_lru``), so
chained ST_ calls on one column inside one ArrowEvalPython node parse or
decode it once.
"""

from __future__ import annotations

import json
import math
import struct

import numpy as np
import pandas as pd

from ..wkb import algorithms as alg
from ..wkb import core as wc
from ..wkb import spherical as sph
from ..wkb.core import Geom, from_wkb, from_wkt, to_ewkb, to_wkb, to_wkt
from ..wkb.relate import relate
from . import batchdecode as bd

# ---------------------------------------------------------------------------
# point fast-path codecs
# ---------------------------------------------------------------------------

_PT_XY = np.dtype(
    {"names": ["e", "t", "x", "y"], "formats": ["u1", "<u4", "<f8", "<f8"],
     "offsets": [0, 1, 5, 13], "itemsize": 21}
)


def pack_points_xy(xs, ys):
    """Vectorized (x, y) -> list of 21-byte WKB point blobs."""
    n = len(xs)
    rec = np.empty(n, dtype=_PT_XY)
    rec["e"] = 1
    rec["t"] = 1
    rec["x"] = xs
    rec["y"] = ys
    raw = rec.tobytes()
    return [raw[i * 21:(i + 1) * 21] for i in range(n)]


def try_unpack_points_xy(vals):
    """If every non-null value is a little-endian XY WKB point, return
    (xs, ys, mask_null) arrays; else None."""
    n = len(vals)
    xs = np.full(n, np.nan)
    ys = np.full(n, np.nan)
    null = np.zeros(n, dtype=bool)
    chunks = []
    idx = []
    for i, v in enumerate(vals):
        if v is None:
            null[i] = True
            continue
        if len(v) != 21 or v[0] != 1 or v[1:5] != b"\x01\x00\x00\x00":
            return None
        chunks.append(v)
        idx.append(i)
    if chunks:
        rec = np.frombuffer(b"".join(chunks), dtype=_PT_XY)
        idx = np.asarray(idx)
        xs[idx] = rec["x"]
        ys[idx] = rec["y"]
    return xs, ys, null


_LS_HDR = b"\x01\x02\x00\x00\x00"
_PG_HDR = b"\x01\x03\x00\x00\x00"


@bd.content_lru
def _parse_batch(vals):
    return [from_wkb(v) if v is not None else None for v in vals]


def geoms_of(s: pd.Series):
    """Parse a WKB batch to Geoms through the same kind of content-keyed
    cache as decode_batch_cached (``bd.content_lru``, its own 4 entries):
    chained slow-path kernels on one column inside an ArrowEvalPython
    node (Simplify + SimplifyVW, a predicate stack on the same pair, ...)
    parse the batch once. INVARIANT: callers must treat the returned
    Geoms as immutable — every mutating kernel (k_set_srid) parses
    privately, and algorithms copy before writing."""
    return _parse_batch(list(s))


def decoded_of(vals, allow_gc=False):
    """Whole-batch offset-table decode (cached across chained ST_ calls on
    the same column in one ArrowEvalPython node); None -> use geoms_of.

    Batches containing GeometryCollection rows are returned only to
    callers that pass ``allow_gc=True`` — i.e. kernels whose math is a
    pure function of the coordinate set (bounds, hulls) or a structure-
    preserving byte splice (the affine family). Everything else (area,
    length, centroid, ...) has per-dimension GC semantics the flat batch
    tables don't model, and falls back to the per-row Geom path."""
    try:
        db = bd.decode_batch_cached(vals)
    except Exception:
        return None
    if db is not None and db.has_gc and not allow_gc:
        return None
    return db


def _f64(vals):
    return pd.Series(np.asarray(vals, dtype=np.float64))


# ---------------------------------------------------------------------------
# unary kernels: Series[bytes] -> Series
# ---------------------------------------------------------------------------

def k_area(s):
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:
        return _f64(bd.batch_area(db))
    return _f64([alg.area(g) if g is not None else np.nan for g in geoms_of(s)])


def k_signed_area(s):
    db = decoded_of(list(s))
    if db is not None:
        return _f64(bd.batch_signed_area(db))
    return _f64([alg.signed_area(g) if g is not None else np.nan for g in geoms_of(s)])


def k_area_spherical(s):
    return _f64([
        alg.spherical_area(g) if g is not None else np.nan for g in geoms_of(s)
    ])


def k_length(s):
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:
        return _f64(bd.batch_length(db))
    return _f64([alg.length(g) if g is not None else np.nan for g in geoms_of(s)])


def k_length_spherical(s):
    return _f64([
        alg.haversine_length(g) if g is not None else np.nan for g in geoms_of(s)
    ])


def k_perimeter(s):
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:
        return _f64(bd.batch_perimeter(db))
    return _f64([alg.perimeter(g) if g is not None else np.nan for g in geoms_of(s)])


def k_area_spheroid(s):
    """Ellipsoidal (geodesic) area, geodesic_area.rs:17 parity."""
    return _f64([
        alg.ellipsoidal_area(g) if g is not None else np.nan for g in geoms_of(s)
    ])


def k_perimeter_spheroid(s):
    """Geodesic (Vincenty) perimeter, geodesic_area.rs perimeter parity."""
    return _f64([
        alg.ellipsoidal_perimeter(g) if g is not None else np.nan for g in geoms_of(s)
    ])


def _geom_out(geoms):
    return pd.Series([to_wkb(g) if g is not None else None for g in geoms], dtype=object)


def k_centroid(s):
    vals = list(s)
    fast = try_unpack_points_xy(vals)
    if fast is not None:
        # centroid of a point is the point: pass the input records through
        return pd.Series(vals, dtype=object)
    db = decoded_of(vals)
    if db is not None:
        cx, cy, ok = bd.batch_centroid(db)
        pts = pack_points_xy(np.where(ok, cx, 0.0), np.where(ok, cy, 0.0))
        ep = to_wkb(wc.empty(wc.POINT))
        out = [None] * len(vals)
        for i in db.idx:
            out[i] = pts[i] if ok[i] else ep
        return pd.Series(out, dtype=object)
    return _geom_out([alg.centroid(g) if g is not None else None for g in geoms_of(s)])


def _bounds_geom_out(vals, mk):
    """Shared decode path for bounds-derived geometry kernels: mk(b) maps a
    (xmin,ymin,xmax,ymax) tuple or None (empty) to a Geom."""
    db = decoded_of(vals, allow_gc=True)
    if db is None:
        return None
    xmin, ymin, xmax, ymax = bd.batch_bounds(db)
    out = [None] * len(vals)
    for i in db.idx:
        b = None if np.isnan(xmin[i]) else (xmin[i], ymin[i], xmax[i], ymax[i])
        out[i] = to_wkb(mk(b))
    return pd.Series(out, dtype=object)


def k_center(s):
    vals = list(s)
    fast = _bounds_geom_out(
        vals,
        lambda b: wc.empty(wc.POINT) if b is None
        else wc.point((b[0] + b[2]) / 2, (b[1] + b[3]) / 2),
    )
    if fast is not None:
        return fast
    return _geom_out([alg.center(g) if g is not None else None for g in geoms_of(s)])


def k_envelope(s):
    def mk(b):
        if b is None:
            return wc.empty(wc.POLYGON)
        xmin, ymin, xmax, ymax = b
        if xmin == xmax and ymin == ymax:
            return wc.point(xmin, ymin)
        return wc.box(xmin, ymin, xmax, ymax)

    vals = list(s)
    fast = _bounds_geom_out(vals, mk)
    if fast is not None:
        return fast
    return _geom_out([alg.envelope(g) if g is not None else None for g in geoms_of(s)])


def _hull_geom_out(vals, mk):
    """Shared decode path for hull-derived geometry kernels: mk(hull) maps
    each row's batch-computed convex hull Geom to the output Geom. None
    when the batch does not decode."""
    db = decoded_of(vals, allow_gc=True)
    if db is None:
        return None
    out = [None] * len(vals)
    for (kind, data), i in zip(bd.batch_hulls(db), db.idx):
        if kind == "empty":
            g = wc.empty(wc.POLYGON)
        elif kind == "point":
            g = wc.point(data[0], data[1])
        elif kind == "line":
            g = Geom(wc.LINESTRING, np.asarray(data, dtype=np.float64))
        else:
            g = Geom(wc.POLYGON, [np.asarray(data, dtype=np.float64)])
        out[i] = to_wkb(mk(g))
    return pd.Series(out, dtype=object)


def k_convex_hull(s):
    fast = _hull_geom_out(list(s), lambda h: h)
    if fast is not None:
        return fast
    return _geom_out([alg.convex_hull(g) if g is not None else None for g in geoms_of(s)])


def k_min_rotated_rect(s):
    # calipers run on the batch-computed hull; convex_hull is
    # deterministic in the point SET (unique+lexsort), so re-hulling
    # the hull inside minimum_rotated_rect reproduces the same ring
    # and the same tie-breaking as the slow path
    fast = _hull_geom_out(list(s), alg.minimum_rotated_rect)
    if fast is not None:
        return fast
    return _geom_out([
        alg.minimum_rotated_rect(g) if g is not None else None for g in geoms_of(s)
    ])


def k_interior_point(s):
    return _geom_out([
        alg.interior_point(g) if g is not None else None for g in geoms_of(s)
    ])


def k_bbox_struct(s):
    """geometry -> struct(xmin,ymin,xmax,ymax) — the covering column
    (mirrors /root/reference/rust/geoparquet/src/total_bounds.rs:292)."""
    fast = try_unpack_points_xy(list(s))
    if fast is not None:
        xs, ys, null = fast
        return pd.DataFrame({
            "xmin": np.where(null, np.nan, xs),
            "ymin": np.where(null, np.nan, ys),
            "xmax": np.where(null, np.nan, xs),
            "ymax": np.where(null, np.nan, ys),
        })
    vals = list(s)
    db = decoded_of(vals, allow_gc=True)
    if db is not None:
        xmin, ymin, xmax, ymax = bd.batch_bounds(db)
        return pd.DataFrame({"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax})
    rows = []
    for g in geoms_of(s):
        b = alg.bounds(g) if g is not None else None
        rows.append(b if b is not None else (np.nan,) * 4)
    a = np.asarray(rows, dtype=np.float64).reshape(-1, 4)
    return pd.DataFrame({"xmin": a[:, 0], "ymin": a[:, 1], "xmax": a[:, 2], "ymax": a[:, 3]})


def _coord_accessor(idx_name):
    def k(s):
        if idx_name in ("x", "y"):
            fast = try_unpack_points_xy(list(s))
            if fast is not None:
                xs, ys, null = fast
                v = xs if idx_name == "x" else ys
                return pd.Series(np.where(null, np.nan, v))
        out = []
        for g in geoms_of(s):
            if g is None or g.kind != wc.POINT or g.is_empty():
                out.append(np.nan)
                continue
            if idx_name == "x":
                out.append(float(g.data[0]))
            elif idx_name == "y":
                out.append(float(g.data[1]))
            elif idx_name == "z":
                out.append(float(g.data[2]) if g.has_z else np.nan)
            else:  # m
                out.append(float(g.data[g.dim - 1]) if g.has_m else np.nan)
        return _f64(out)

    return k


k_x = _coord_accessor("x")
k_y = _coord_accessor("y")
k_z = _coord_accessor("z")
k_m = _coord_accessor("m")


def _bound_accessor(i):
    def k(s):
        out = []
        for g in geoms_of(s):
            b = alg.bounds(g) if g is not None else None
            out.append(b[i] if b is not None else np.nan)
        return _f64(out)

    return k


k_xmin = _bound_accessor(0)
k_ymin = _bound_accessor(1)
k_xmax = _bound_accessor(2)
k_ymax = _bound_accessor(3)


def k_geometry_type(s):
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:
        out = [None] * len(vals)
        for j, i in enumerate(db.idx):
            out[i] = "ST_" + wc.KIND_NAMES[int(db.kind[j])]
        return pd.Series(out, dtype=object)
    out = []
    for g in geoms_of(s):
        out.append(None if g is None else "ST_" + g.type_name)
    return pd.Series(out, dtype=object)


def k_type_id(s):
    """GeoArrow type id (dim_order*10 + kind),
    /root/reference/rust/geoarrow-schema/src/type_id.rs:23."""
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:  # XY-only batches: dim_order 0, id == kind code
        out = [None] * len(vals)
        for j, i in enumerate(db.idx):
            out[i] = int(db.kind[j])
        return pd.Series(out, dtype="Int32")
    out = []
    for g in geoms_of(s):
        out.append(None if g is None else g.type_id)
    return pd.Series(out, dtype="Int32")


def k_is_empty(s):
    return pd.Series(
        [None if g is None else g.is_empty() for g in geoms_of(s)], dtype=object
    )


def k_is_valid(s):
    return pd.Series([alg.is_valid(g) for g in geoms_of(s)], dtype=object)


def k_is_valid_reason(s):
    out = []
    for g in geoms_of(s):
        if g is None:
            out.append(None)
        else:
            r = alg.validity_reason(g)
            out.append("Valid Geometry" if r is None else r)
    return pd.Series(out, dtype=object)


def k_is_simple(s):
    return pd.Series([alg.is_simple(g) for g in geoms_of(s)], dtype=object)


def k_is_ring(s):
    return pd.Series([alg.is_ring(g) for g in geoms_of(s)], dtype=object)


def k_has_z(s):
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:  # decode accepts plain XY only
        out = [None] * len(vals)
        for i in db.idx:
            out[i] = False
        return pd.Series(out, dtype=object)
    return pd.Series([None if g is None else g.has_z for g in geoms_of(s)], dtype=object)


def k_has_m(s):
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:
        out = [None] * len(vals)
        for i in db.idx:
            out[i] = False
        return pd.Series(out, dtype=object)
    return pd.Series([None if g is None else g.has_m for g in geoms_of(s)], dtype=object)


def _row_point_is_nan(db):
    """Per decoded row: True when the row is a standalone Point whose
    coordinate is NaN (the POINT EMPTY encoding)."""
    flag = np.zeros(len(db.idx), dtype=bool)
    pts = db.kind == 1
    if pts.any():
        flag[pts] = np.isnan(db.coords[db.row_start[pts], 0])
    return flag


def k_num_geometries(s):
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:
        empty = (db.row_topcount == 0) | _row_point_is_nan(db)
        n = np.where(empty, 0, db.row_nparts)
        out = [None] * len(vals)
        for j, i in enumerate(db.idx):
            out[i] = int(n[j])
        return pd.Series(out, dtype="Int32")
    out = []
    for g in geoms_of(s):
        if g is None:
            out.append(None)
        elif g.is_empty():
            out.append(0)
        else:
            out.append(sum(1 for _ in wc.iter_parts(g)))
    return pd.Series(out, dtype="Int32")


def k_npoints(s):
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:
        # all_coords drops ONLY standalone NaN points (nested multipoint
        # members are counted as-is)
        n = np.where(_row_point_is_nan(db), 0, db.row_npt)
        out = [None] * len(vals)
        for j, i in enumerate(db.idx):
            out[i] = int(n[j])
        return pd.Series(out, dtype="Int32")
    out = []
    for g in geoms_of(s):
        out.append(None if g is None else int(len(wc.all_coords(g))))
    return pd.Series(out, dtype="Int32")


def k_srid(s):
    vals = list(s)
    db = decoded_of(vals)
    if db is not None:  # plain WKB has no SRID flag
        out = [None] * len(vals)
        for i in db.idx:
            out[i] = 0
        return pd.Series(out, dtype="Int32")
    return pd.Series(
        [None if g is None else int(g.srid) for g in geoms_of(s)], dtype="Int32"
    )


def k_reverse(s):
    vals = list(s)
    db = decoded_of(vals, allow_gc=True)
    if db is not None:
        # reverse point order within every ring/line in one gather; 1-point
        # rings (points, multipoint members) are fixed points of the formula
        npts = db.ring_npt
        if len(npts):
            ends = np.cumsum(npts)
            starts = ends - npts
            total = int(ends[-1])
            gidx = np.repeat(starts + ends - 1, npts) - np.arange(total, dtype=np.int64)
            return pd.Series(bd.batch_rebuild(db, vals, db.coords[gidx]), dtype=object)
        return pd.Series(bd.batch_rebuild(db, vals, db.coords), dtype=object)

    def rev(g):
        if g is None:
            return None
        def r(a):
            return np.ascontiguousarray(a[::-1])
        k, d = g.kind, g.data
        if k in (wc.POINT, wc.MULTIPOINT):
            return g
        if k == wc.LINESTRING:
            return Geom(k, r(d), g.has_z, g.has_m)
        if k in (wc.POLYGON, wc.MULTILINESTRING):
            return Geom(k, [r(x) for x in d], g.has_z, g.has_m)
        if k == wc.MULTIPOLYGON:
            return Geom(k, [[r(x) for x in rings] for rings in d], g.has_z, g.has_m)
        return Geom(k, [from_wkb(to_wkb(sub)) for sub in d], g.has_z, g.has_m)

    return _geom_out([rev(g) for g in geoms_of(s)])


def k_flip_coordinates(s):
    vals = list(s)
    db = decoded_of(vals, allow_gc=True)
    if db is not None:
        return pd.Series(
            bd.batch_rebuild(db, vals, db.coords[:, ::-1]), dtype=object
        )
    return _geom_out([
        alg._map_coords(g, lambda xy: xy[:, ::-1]) if g is not None else None
        for g in geoms_of(s)
    ])


def k_multi(s):
    """X -> Multi-X cast (infallible side of the reference's cast matrix,
    /root/reference/rust/geoarrow-cast/src/cast.rs:56-82)."""
    return _geom_out([wc.to_multi(g) for g in geoms_of(s)])


def _force_2d(g):
    if g is None:
        return None
    if g.kind == wc.GEOMETRYCOLLECTION:
        return wc.collection([_force_2d(p) for p in g.data])
    if not (g.has_z or g.has_m):
        return g
    if g.is_empty():
        return wc.empty(g.kind, False, False)
    k = g.kind
    if k == wc.POINT:
        return Geom(k, np.asarray(g.data, dtype=np.float64)[:2], False, False)
    if k in (wc.LINESTRING, wc.MULTIPOINT):
        return Geom(k, np.asarray(g.data)[:, :2], False, False)
    if k in (wc.POLYGON, wc.MULTILINESTRING):
        return Geom(k, [np.asarray(r)[:, :2] for r in g.data], False, False)
    return Geom(
        k, [[np.asarray(r)[:, :2] for r in rings] for rings in g.data], False, False
    )


def k_force_2d(s):
    """Drop Z/M ordinates everywhere (the XY dimension cast of the
    reference's cast matrix, /root/reference/rust/geoarrow-cast/src/cast.rs
    dimension handling)."""
    return _geom_out([_force_2d(g) for g in geoms_of(s)])


def k_force_3d(s, z):
    """Add a constant Z to 2D input (existing Z is preserved) — the
    XY->XYZ dimension cast. M ordinates are dropped (XYZM->XYZ keeps Z)."""
    zv = list(z) if hasattr(z, "__len__") else [z] * len(s)

    def f3(g, zz):
        if g is None:
            return None
        if g.kind == wc.GEOMETRYCOLLECTION:
            return wc.collection([f3(p, zz) for p in g.data])
        if g.is_empty():
            return wc.empty(g.kind, True, False)
        base = _force_2d(g)
        if g.has_z:
            # keep original z column, drop m
            def zcol(a):
                return np.asarray(a, dtype=np.float64)[:, 2:3]
        else:
            def zcol(a):
                return np.full((np.asarray(a).shape[0], 1), float(zz))
        k = g.kind
        if k == wc.POINT:
            zval = float(g.data[2]) if g.has_z else float(zz)
            return Geom(k, np.append(base.data[:2], zval), True, False)
        src = g.data
        if k in (wc.LINESTRING, wc.MULTIPOINT):
            return Geom(
                k, np.hstack([base.data, zcol(src)]), True, False
            )
        if k in (wc.POLYGON, wc.MULTILINESTRING):
            return Geom(
                k,
                [np.hstack([b, zcol(r)]) for b, r in zip(base.data, src)],
                True,
                False,
            )
        return Geom(
            k,
            [
                [np.hstack([b, zcol(r)]) for b, r in zip(brings, rings)]
                for brings, rings in zip(base.data, src)
            ],
            True,
            False,
        )

    return _geom_out([f3(g, zz) for g, zz in zip(geoms_of(s), zv)])


def k_force_collection(s):
    """Wrap any geometry as a GEOMETRYCOLLECTION of its single parts
    (PostGIS ST_ForceCollection semantics; collections pass through)."""
    def fc(g):
        if g is None:
            return None
        if g.kind == wc.GEOMETRYCOLLECTION:
            return g
        if g.kind in (wc.POINT, wc.LINESTRING, wc.POLYGON):
            return wc.collection([g])
        return wc.collection(list(alg.iter_parts(g)))

    return _geom_out([fc(g) for g in geoms_of(s)])


def k_dump(s):
    """Multi/collection -> array of single-part WKBs (ST_Dump; the offsets
    flatten of /root/reference/rust/geoarrow-old/src/algorithm/native/explode.rs:58)."""
    out = []
    for g in geoms_of(s):
        if g is None:
            out.append(None)
        elif g.is_empty():
            out.append([])
        else:
            out.append([to_wkb(p) for p in wc.iter_parts(g)])
    return pd.Series(out, dtype=object)


def k_geometry_n(s, idx):
    """1-based part accessor (PostGIS ST_GeometryN semantics)."""
    n = len(s)
    ii = list(idx) if hasattr(idx, "__iter__") else [idx] * n
    out = []
    for g, i in zip(geoms_of(s), ii):
        if g is None or i is None:
            out.append(None)
            continue
        parts = list(wc.iter_parts(g))
        i = int(i)
        out.append(to_wkb(parts[i - 1]) if 1 <= i <= len(parts) else None)
    return pd.Series(out, dtype=object)


def _collection_of_polygons_to_mp(v):
    """GEOMETRYCOLLECTION whose parts are all non-empty XY LE Polygons ->
    MultiPolygon WKB by header swap (part bytes are reused verbatim);
    None if the value doesn't have that shape."""
    if v is None or len(v) < 9 or v[:5] != b"\x01\x07\x00\x00\x00":
        return None
    ib = int.from_bytes
    nparts = ib(v[5:9], "little")
    if nparts == 0:
        return None
    lv = len(v)
    o = 9
    for _ in range(nparts):
        if v[o:o + 5] != _PG_HDR or lv < o + 9:
            return None
        nr = ib(v[o + 5:o + 9], "little")
        if nr == 0:
            return None  # empty polygon part: slow path drops it
        o += 9
        for _ in range(nr):
            if lv < o + 4:
                return None
            o += 4 + 16 * ib(v[o:o + 4], "little")
            if lv < o:
                return None
    if o != lv:
        return None
    return b"\x01\x06\x00\x00\x00" + v[5:]


def k_collection_extract(s, kind):
    """Extract parts of the requested dimension family (1=points, 2=lines,
    3=polygons) as a Multi* geometry (PostGIS ST_CollectionExtract)."""
    n = len(s)
    kk = list(kind) if hasattr(kind, "__iter__") else [kind] * n
    if all(k == 3 for k in kk if k is not None):
        vals = list(s)
        fast = [
            None if v is None or k is None else _collection_of_polygons_to_mp(v)
            for v, k in zip(vals, kk)
        ]
        if all(
            f is not None or v is None or k is None
            for f, v, k in zip(fast, vals, kk)
        ):
            return pd.Series(fast, dtype=object)
    out = []
    for g, want in zip(geoms_of(s), kk):
        if g is None or want is None:
            out.append(None)
            continue
        want = int(want)
        target = {1: wc.POINT, 2: wc.LINESTRING, 3: wc.POLYGON}[want]
        parts = [p for p in wc.iter_parts(g) if p.kind == target and not p.is_empty()]
        if not parts:
            out.append(to_wkb(wc.empty({1: wc.MULTIPOINT, 2: wc.MULTILINESTRING, 3: wc.MULTIPOLYGON}[want])))
        elif target == wc.POINT:
            out.append(to_wkb(wc.multipoint(np.vstack([p.data[:2] for p in parts]))))
        elif target == wc.LINESTRING:
            out.append(to_wkb(wc.Geom(wc.MULTILINESTRING, [p.data for p in parts])))
        else:
            out.append(to_wkb(wc.Geom(wc.MULTIPOLYGON, [p.data for p in parts])))
    return pd.Series(out, dtype=object)


def k_cast_single(s):
    """Fallible Multi->single downcast: single-part multis collapse to their
    part; multi-part inputs pass through (the fallible side of the cast
    matrix, /root/reference/rust/geoarrow-cast/src/cast.rs:56-82)."""
    out = []
    for g in geoms_of(s):
        if g is None:
            out.append(None)
            continue
        parts = list(wc.iter_parts(g))
        out.append(to_wkb(parts[0]) if len(parts) == 1 else to_wkb(g))
    return pd.Series(out, dtype=object)


def k_start_point(s):
    out = []
    for g in geoms_of(s):
        if g is None or g.kind != wc.LINESTRING or len(g.data) == 0:
            out.append(None)
        else:
            out.append(to_wkb(wc.point(float(g.data[0, 0]), float(g.data[0, 1]))))
    return pd.Series(out, dtype=object)


def k_end_point(s):
    out = []
    for g in geoms_of(s):
        if g is None or g.kind != wc.LINESTRING or len(g.data) == 0:
            out.append(None)
        else:
            out.append(to_wkb(wc.point(float(g.data[-1, 0]), float(g.data[-1, 1]))))
    return pd.Series(out, dtype=object)


def k_exterior_ring(s):
    out = []
    for g in geoms_of(s):
        if g is None or g.kind != wc.POLYGON or not g.data:
            out.append(None)
        else:
            out.append(to_wkb(wc.Geom(wc.LINESTRING, g.data[0])))
    return pd.Series(out, dtype=object)


def k_boundary(s):
    """Topological boundary (polygon->rings, line->endpoints)."""
    from ..wkb.relate import _boundary

    out = []
    for g in geoms_of(s):
        if g is None:
            out.append(None)
            continue
        b = _boundary(g).as_geom()
        out.append(to_wkb(b) if b is not None else to_wkb(wc.empty(wc.GEOMETRYCOLLECTION)))
    return pd.Series(out, dtype=object)


def _native_coord(v):
    """Leaf coordinate: struct {'x':..,'y':..[,'z']} (separated) or a plain
    sequence (interleaved fixed-size-list)."""
    if isinstance(v, dict):
        c = [v["x"], v["y"]]
        if "z" in v and v["z"] is not None:
            c.append(v["z"])
        return c
    return list(v)


def _native_ring(seq):
    return np.asarray([_native_coord(p) for p in seq], dtype=np.float64)


def k_from_native(s, enc):
    """Native GeoArrow nested-layout column -> WKB. ``enc`` is the GeoParquet
    encoding name (point/linestring/polygon/multipoint/multilinestring/
    multipolygon), /root/reference/rust/geoparquet/src/reader/parse.rs:30."""
    n = len(s)
    encs = list(enc) if hasattr(enc, "__iter__") and not isinstance(enc, str) else [enc] * n
    out = []
    for v, e in zip(s, encs):
        if v is None:
            out.append(None)
            continue
        e = str(e).lower()
        if e == "point":
            c = _native_coord(v)
            g = wc.point(*c[:4])
        elif e == "multipoint":
            g = wc.multipoint(_native_ring(v))
        elif e == "linestring":
            g = wc.Geom(wc.LINESTRING, _native_ring(v))
        elif e == "multilinestring":
            g = wc.Geom(wc.MULTILINESTRING, [_native_ring(l) for l in v])
        elif e == "polygon":
            g = wc.Geom(wc.POLYGON, [_native_ring(r) for r in v])
        elif e == "multipolygon":
            g = wc.Geom(
                wc.MULTIPOLYGON, [[_native_ring(r) for r in rings] for rings in v]
            )
        else:
            out.append(None)
            continue
        out.append(to_wkb(g))
    return pd.Series(out, dtype=object)


def k_to_native(s, enc: str):
    """WKB -> native GeoArrow nested-layout values (the inverse of
    k_from_native; writer parity with
    /root/reference/rust/geoparquet/src/writer/encode.rs:21-79). Returns
    nested python lists matching the array<double> leaf layout the read
    side expects. Geometry type must match the declared encoding — mixed
    columns need WKB (same constraint as the reference writer)."""
    e = str(enc).lower()
    out = []
    for g in geoms_of(s):
        if g is None:
            out.append(None)
            continue
        if g.has_z or g.has_m:
            # the native interleaved layouts here are XY; silently
            # dropping Z/M would corrupt round trips (WKB keeps them)
            raise ValueError(
                f"native encoding {e!r} is XY-only; geometry has "
                f"{'Z' if g.has_z else ''}{'M' if g.has_m else ''} — "
                "write encoding='WKB' for 3D/measured columns"
            )
        k = g.kind
        if e == "point":
            if k != wc.POINT:
                raise ValueError(f"encoding 'point' got {g.type_name}")
            out.append([float(g.data[0]), float(g.data[1])])
        elif e in ("linestring", "multipoint"):
            want = wc.LINESTRING if e == "linestring" else wc.MULTIPOINT
            if k != want:
                raise ValueError(f"encoding {e!r} got {g.type_name}")
            out.append(np.asarray(g.data, dtype=np.float64)[:, :2].tolist())
        elif e in ("polygon", "multilinestring"):
            want = wc.POLYGON if e == "polygon" else wc.MULTILINESTRING
            if k != want:
                raise ValueError(f"encoding {e!r} got {g.type_name}")
            out.append([
                np.asarray(r, dtype=np.float64)[:, :2].tolist() for r in g.data
            ])
        elif e == "multipolygon":
            if k != wc.MULTIPOLYGON:
                raise ValueError(f"encoding 'multipolygon' got {g.type_name}")
            out.append([
                [np.asarray(r, dtype=np.float64)[:, :2].tolist() for r in rings]
                for rings in g.data
            ])
        else:
            raise ValueError(f"unknown native encoding: {enc!r}")
    return pd.Series(out, dtype=object)


def k_geom_from_wkt(s):
    out = []
    for v in s:
        try:
            out.append(to_wkb(from_wkt(v)) if v is not None else None)
        except ValueError:
            out.append(None)
    return pd.Series(out, dtype=object)


def k_as_wkt(s):
    return pd.Series(
        [to_wkt(g) if g is not None else None for g in geoms_of(s)], dtype=object
    )


def k_geom_from_wkb(s):
    """Validate + normalize any (E)WKB to canonical ISO little-endian WKB."""
    out = []
    for v in s:
        if v is None:
            out.append(None)
        else:
            try:
                out.append(to_wkb(from_wkb(v)))
            except (ValueError, struct.error, IndexError):
                out.append(None)
    return pd.Series(out, dtype=object)


# --- GeoJSON ---------------------------------------------------------------

def _geom_to_gj(g):
    k = g.kind
    if k == wc.POINT:
        coords = [] if g.is_empty() else [float(v) for v in g.data]
    elif k in (wc.LINESTRING, wc.MULTIPOINT):
        coords = np.asarray(g.data).tolist()
    elif k in (wc.POLYGON, wc.MULTILINESTRING):
        coords = [np.asarray(r).tolist() for r in g.data]
    elif k == wc.MULTIPOLYGON:
        coords = [[np.asarray(r).tolist() for r in rings] for rings in g.data]
    else:
        return {
            "type": "GeometryCollection",
            "geometries": [_geom_to_gj(sub) for sub in g.data],
        }
    return {"type": g.type_name, "coordinates": coords}


def _gj_to_geom(obj):
    t = obj["type"]
    if t == "GeometryCollection":
        return wc.collection([_gj_to_geom(o) for o in obj["geometries"]])
    c = obj["coordinates"]
    kind = wc.NAME_KINDS[t.upper()]
    if kind == wc.POINT:
        if not c:
            return wc.empty(wc.POINT)
        return wc.point(*c[:4])
    has_z = False

    def depth_first(x):
        while isinstance(x[0], (list, tuple)):
            x = x[0]
        return x

    if c:
        has_z = len(depth_first(c)) >= 3
    if kind in (wc.LINESTRING, wc.MULTIPOINT):
        return Geom(kind, wc._coerce(c, has_z, False), has_z, False)
    if kind in (wc.POLYGON, wc.MULTILINESTRING):
        return Geom(kind, [wc._coerce(r, has_z, False) for r in c], has_z, False)
    return Geom(
        kind, [[wc._coerce(r, has_z, False) for r in rings] for rings in c], has_z, False
    )


def k_as_geojson(s):
    """Mirrors /root/reference/rust/geoarrow-geojson/src/writer/mod.rs:51-175."""
    out = []
    for g in geoms_of(s):
        out.append(None if g is None else json.dumps(_geom_to_gj(g), separators=(",", ":")))
    return pd.Series(out, dtype=object)


def k_geom_from_geojson(s):
    out = []
    for v in s:
        if v is None:
            out.append(None)
        else:
            try:
                out.append(to_wkb(_gj_to_geom(json.loads(v))))
            except (ValueError, KeyError, TypeError):
                out.append(None)
    return pd.Series(out, dtype=object)


def k_geohash_decode(s):
    """Geohash string -> center point WKB (inverse of ST_GeoHash)."""
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        dec = alg.geohash_decode(str(v))
        out.append(to_wkb(wc.point(dec[0], dec[1])) if dec else None)
    return pd.Series(out, dtype=object)


def k_geohash(s, prec):
    out = []
    p_iter = prec if hasattr(prec, "__iter__") else [prec] * len(s)
    for v, p in zip(s, p_iter):
        if v is None or p is None:
            out.append(None)
            continue
        g = from_wkb(v)
        c = alg.centroid(g)
        if c.is_empty():
            out.append(None)
        else:
            out.append(alg.geohash_encode(float(c.data[0]), float(c.data[1]), int(p)))
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# parameterized unary kernels (geometry + scalar args)
# ---------------------------------------------------------------------------

def _param_geom_kernel(fn):
    """Build kernel over (geom_series, *scalar-or-series args) -> geom series."""

    def k(s, *args):
        n = len(s)
        cols = []
        for a in args:
            if hasattr(a, "__len__") and not isinstance(a, (str, bytes)):
                cols.append(list(a))
            else:
                cols.append([a] * n)
        out = []
        for i, g in enumerate(geoms_of(s)):
            vals = [c[i] for c in cols]
            if g is None or any(v is None for v in vals):
                out.append(None)
            else:
                out.append(to_wkb(fn(g, *vals)))
        return pd.Series(out, dtype=object)

    return k


k_simplify = _param_geom_kernel(lambda g, eps: alg.simplify(g, float(eps)))
k_simplify_vw = _param_geom_kernel(lambda g, eps: alg.simplify_vw(g, float(eps)))
k_simplify_vw_preserve = _param_geom_kernel(
    lambda g, eps: alg.simplify_vw_preserve(g, float(eps))
)
k_densify = _param_geom_kernel(lambda g, d: alg.densify(g, float(d)))
k_chaikin = _param_geom_kernel(lambda g, n: alg.chaikin_smoothing(g, int(n)))
k_remove_repeated = _param_geom_kernel(
    lambda g, tol: alg.remove_repeated_points(g, float(tol))
)
_k_buffer_slow = _param_geom_kernel(lambda g, w, q: alg.buffer(g, float(w), int(q)))


def k_buffer(s, w, q=8):
    """ST_Buffer(geom, width[, quadsegs]), quadsegs 8 when omitted as in
    PostGIS, with a fully vectorized fast path for the common case: an
    all-XY-point column, positive widths, uniform quadsegs. Builds every
    circle ring in one (rows, verts, 2) numpy op and packs the WKB polygons
    in one buffer — byte-identical to the per-row path (same op order)."""
    vals = list(s)
    pts = try_unpack_points_xy(vals)
    if pts is not None:
        n_rows = len(vals)
        wv = (
            np.asarray(pd.to_numeric(pd.Series(list(w)), errors="coerce"), dtype=np.float64)
            if hasattr(w, "__len__")
            else np.full(n_rows, float(w))
        )
        qv = list(q) if hasattr(q, "__len__") else [q] * n_rows
        q_set = {v for v in qv if v is not None}
        xs, ys, null = pts
        valid = ~null & np.isfinite(wv) & (wv > 0)
        # fall back if any non-null row needs the slow path (w<=0 => EMPTY)
        if len(q_set) == 1 and bool(np.all(valid | null | ~np.isfinite(wv))):
            nv = max(4, int(next(iter(q_set))) * 4)
            ang = np.linspace(0, 2 * math.pi, nv, endpoint=False)
            unit = np.column_stack((np.cos(ang), np.sin(ang)))
            sel = np.flatnonzero(valid)
            if len(sel):
                # same op order as alg.buffer: (unit * |w|) + center
                rings = unit[None, :, :] * np.abs(wv[sel])[:, None, None]
                rings = rings + np.column_stack((xs[sel], ys[sel]))[:, None, :]
                closed = np.concatenate([rings, rings[:, :1, :]], axis=1)
                m = nv + 1
                size = 13 + 16 * m
                arr = np.empty((len(sel), size), np.uint8)
                arr[:, :9] = np.frombuffer(bd._PG1_HDR9, np.uint8)
                arr[:, 9:13] = np.frombuffer(
                    np.uint32(m).tobytes(), np.uint8
                )
                arr[:, 13:] = np.ascontiguousarray(
                    closed.reshape(len(sel), -1)
                ).view(np.uint8)
                raw = arr.tobytes()
                blobs = {
                    int(i): raw[j * size:(j + 1) * size] for j, i in enumerate(sel)
                }
            else:
                blobs = {}
            return pd.Series(
                [blobs.get(i) for i in range(n_rows)], dtype=object
            )
    return _k_buffer_slow(s, w, q)
_k_translate_slow = _param_geom_kernel(lambda g, dx, dy: alg.translate(g, float(dx), float(dy)))
_k_rotate_slow = _param_geom_kernel(lambda g, a: alg.rotate(g, float(a), origin="center"))
_k_scale_slow = _param_geom_kernel(lambda g, fx, fy: alg.scale(g, float(fx), float(fy), origin="center"))
_k_skew_slow = _param_geom_kernel(lambda g, xs, ys: alg.skew(g, float(xs), float(ys), origin="center"))
_k_affine_slow = _param_geom_kernel(
    lambda g, a, b, d, e, xo, yo: alg.affine_transform(
        g, float(a), float(b), float(d), float(e), float(xo), float(yo)
    )
)


def _param_arr(p, n):
    """Scalar or per-row parameter -> float64[n], or None if any value is
    null (the batch affine path then defers to the per-row kernel, which
    emits None for those rows)."""
    if hasattr(p, "__len__") and not isinstance(p, (str, bytes)):
        ser = pd.Series(list(p))
        if ser.isna().any():
            return None
        return ser.astype(float).to_numpy()
    if p is None or (isinstance(p, float) and np.isnan(p)):
        return None
    return np.full(n, float(p))


def _bbox_centers(db):
    """Per-input-row bbox centers; (0, 0) for empty rows — the
    algorithms._origin_xy 'center' convention."""
    xmin, ymin, xmax, ymax = bd.batch_bounds(db)
    ox = np.where(np.isnan(xmin), 0.0, (xmin + xmax) / 2)
    oy = np.where(np.isnan(ymin), 0.0, (ymin + ymax) / 2)
    return ox, oy


def k_translate(s, dx, dy):
    vals = list(s)
    n = len(vals)
    db = decoded_of(vals, allow_gc=True)
    if db is not None:
        DX, DY = _param_arr(dx, n), _param_arr(dy, n)
        if DX is not None and DY is not None:
            return pd.Series(
                bd.batch_affine(db, vals, 1.0, 0.0, 0.0, 1.0, DX, DY), dtype=object
            )
    return _k_translate_slow(s, dx, dy)


def k_rotate(s, ang):
    vals = list(s)
    n = len(vals)
    db = decoded_of(vals, allow_gc=True)
    if db is not None:
        A = _param_arr(ang, n)
        if A is not None:
            ox, oy = _bbox_centers(db)
            t = np.radians(A)
            c, si = np.cos(t), np.sin(t)
            return pd.Series(
                bd.batch_affine(
                    db, vals, c, -si, si, c,
                    ox - ox * c + oy * si, oy - ox * si - oy * c,
                ),
                dtype=object,
            )
    return _k_rotate_slow(s, ang)


def k_scale(s, fx, fy):
    vals = list(s)
    n = len(vals)
    db = decoded_of(vals, allow_gc=True)
    if db is not None:
        FX, FY = _param_arr(fx, n), _param_arr(fy, n)
        if FX is not None and FY is not None:
            ox, oy = _bbox_centers(db)
            return pd.Series(
                bd.batch_affine(
                    db, vals, FX, 0.0, 0.0, FY, ox - FX * ox, oy - FY * oy
                ),
                dtype=object,
            )
    return _k_scale_slow(s, fx, fy)


def k_skew(s, xs_deg, ys_deg):
    vals = list(s)
    n = len(vals)
    db = decoded_of(vals, allow_gc=True)
    if db is not None:
        XS, YS = _param_arr(xs_deg, n), _param_arr(ys_deg, n)
        if XS is not None and YS is not None:
            ox, oy = _bbox_centers(db)
            tx, ty = np.tan(np.radians(XS)), np.tan(np.radians(YS))
            return pd.Series(
                bd.batch_affine(db, vals, 1.0, tx, ty, 1.0, -tx * oy, -ty * ox),
                dtype=object,
            )
    return _k_skew_slow(s, xs_deg, ys_deg)


def k_affine(s, a, b, d, e, xo, yo):
    vals = list(s)
    n = len(vals)
    db = decoded_of(vals, allow_gc=True)
    if db is not None:
        ps = [_param_arr(p, n) for p in (a, b, d, e, xo, yo)]
        if all(p is not None for p in ps):
            return pd.Series(bd.batch_affine(db, vals, *ps), dtype=object)
    return _k_affine_slow(s, a, b, d, e, xo, yo)
k_clip_by_box = _param_geom_kernel(
    lambda g, x0, y0, x1, y1: alg.clip_by_rect(g, float(x0), float(y0), float(x1), float(y1))
)
k_polylabel = _param_geom_kernel(lambda g, tol: alg.polylabel(g, float(tol)))
k_subdivide = _param_geom_kernel(lambda g, mv: alg.subdivide(g, int(mv)))
k_line_substring = _param_geom_kernel(
    lambda g, f1, f2: alg.line_substring(g, float(f1), float(f2))
)


def k_line_interpolate_point(s, frac):
    """Supports scalar OR per-row fraction (two-column form),
    line_interpolate_point.rs:42."""
    n = len(s)
    fr = list(frac) if hasattr(frac, "__len__") else [frac] * n
    out = []
    for g, f in zip(geoms_of(s), fr):
        if g is None or f is None:
            out.append(None)
        else:
            out.append(to_wkb(alg.line_interpolate_point(g, float(f))))
    return pd.Series(out, dtype=object)


def k_transform(s, src, dst):
    """ST_Transform(geom, src_crs, dst_crs): CRS reprojection
    (reproject.rs:105 parity; closed-form transforms in wkb/proj.py).
    Point columns reproject fully vectorized — one numpy call per Arrow batch."""
    from ..wkb import proj

    n = len(s)
    src_iter = list(src) if hasattr(src, "__len__") and not isinstance(src, (str, bytes)) else [src] * n
    dst_iter = list(dst) if hasattr(dst, "__len__") and not isinstance(dst, (str, bytes)) else [dst] * n
    vals = list(s)
    # fast path: uniform CRS pair + all-XY-point column
    u_src = {v for v in src_iter if v is not None}
    u_dst = {v for v in dst_iter if v is not None}
    if len(u_src) == 1 and len(u_dst) == 1:
        se, de = proj.parse_crs(next(iter(u_src))), proj.parse_crs(next(iter(u_dst)))
        pts = try_unpack_points_xy(vals)
        if pts is not None:
            xs, ys, null = pts
            tx, ty = proj.transform_xy(xs, ys, se, de)
            blobs = pack_points_xy(tx, ty)
            return pd.Series(
                [None if null[i] else blobs[i] for i in range(n)], dtype=object
            )
        # any-geometry batch: reproject the whole flat coord table at once
        # and splice back into the original WKB structure — the exact Spark
        # analogue of reproject.rs operating on CoordBuffers
        db = decoded_of(vals, allow_gc=True)
        if db is not None and proj.supported_crs(se) and proj.supported_crs(de):
            tx, ty = proj.transform_xy(db.coords[:, 0], db.coords[:, 1], se, de)
            return pd.Series(
                bd.batch_rebuild(db, vals, np.column_stack((tx, ty))), dtype=object
            )
    out = []
    for v, a, b in zip(vals, src_iter, dst_iter):
        if v is None or a is None or b is None:
            out.append(None)
        else:
            out.append(to_wkb(alg.transform_crs(from_wkb(v), a, b)))
    return pd.Series(out, dtype=object)


def _project_kernel(fn):
    def k(s, dist, az):
        n = len(s)
        d_it = list(dist) if hasattr(dist, "__len__") else [dist] * n
        a_it = list(az) if hasattr(az, "__len__") else [az] * n
        out = []
        for v, d, a in zip(s, d_it, a_it):
            if v is None or d is None or a is None:
                out.append(None)
                continue
            g = from_wkb(v)
            if g is None or g.kind != wc.POINT or g.is_empty():
                out.append(None)
                continue
            lon2, lat2 = fn(float(g.data[0]), float(g.data[1]), float(d), float(a))
            out.append(to_wkb(wc.point(lon2, lat2)))
        return pd.Series(out, dtype=object)

    return k


# ST_Project(point, distance_m, azimuth_rad): geodesic destination point.
# Spheroid (Vincenty direct) as the default, sphere variant for closed-form
# cross-engine checks.
k_project = _project_kernel(alg.project_spheroid)
k_project_sphere = _project_kernel(alg.project_sphere)


def k_set_srid(s, srid):
    """PostGIS ST_SetSRID: returns EWKB with the SRID flag in the top-level
    header (srid 0/NULL degrades to plain ISO WKB = "unknown")."""
    n = len(s)
    sr = list(srid) if hasattr(srid, "__len__") else [srid] * n
    out = []
    for v, sid in zip(s, sr):
        if v is None:
            out.append(None)
        else:
            # private parse: this kernel mutates the Geom, so it must not
            # touch the shared geoms_of cache
            g = from_wkb(v)
            g.srid = int(sid) if sid is not None else 0
            out.append(to_ewkb(g))
    return pd.Series(out, dtype=object)


def k_geom_from_ewkb(s):
    """PostGIS ST_GeomFromEWKB: normalize structure/endianness like
    ST_GeomFromWKB but KEEP the embedded SRID (reader.rs:171's wire format
    retains per-value SRID; ST_GeomFromWKB strips it to canonical ISO)."""
    out = []
    for v in s:
        if v is None:
            out.append(None)
        else:
            try:
                out.append(to_ewkb(from_wkb(v)))
            except (ValueError, struct.error, IndexError):
                out.append(None)
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# binary kernels (geom ⊗ geom); array⊗scalar broadcast comes free because a
# lit() WKB arrives as a constant series (relate.rs:15-18 zip semantics)
# ---------------------------------------------------------------------------

def _binary_kernel(fn, out_dtype=object):
    """Binary kernel: fn over each parsed geometry pair (None for a NULL
    side; fn decides what a NULL pair yields)."""
    def k(s1, s2):
        return pd.Series(
            [fn(a, b) for a, b in zip(geoms_of(s1), geoms_of(s2))],
            dtype=out_dtype,
        )

    return k


# slow paths; the public k_intersects / k_intersects_sphere below add a
# vectorized whole-batch fast path for two-point-segment columns
_k_intersects_slow = _binary_kernel(alg.intersects)
_k_intersects_sphere_slow = _binary_kernel(sph.sph_intersects)
def k_line_merge(s):
    return _geom_out([alg.line_merge(g) if g is not None else None for g in geoms_of(s)])


k_split = _binary_kernel(
    lambda a, b: to_wkb(alg.split(a, b)) if a is not None and b is not None else None
)


def k_snap(s1, s2, tol):
    g1s = geoms_of(s1)
    g2s = geoms_of(s2)
    tols = list(tol) if hasattr(tol, "__len__") else [tol] * len(g1s)
    return pd.Series(
        [
            to_wkb(alg.snap(a, b, t)) if a is not None and b is not None else None
            for a, b, t in zip(g1s, g2s, tols)
        ],
        dtype=object,
    )


_LS2_WKB = np.dtype(
    {"names": ["e", "t", "npt", "x1", "y1", "x2", "y2"],
     "formats": ["u1", "<u4", "<u4"] + ["<f8"] * 4,
     "offsets": [0, 1, 5, 9, 17, 25, 33], "itemsize": 41}
)


def pack_lines2(x1, y1, x2, y2):
    """Vectorized two-point LINESTRING WKB records."""
    n = len(x1)
    rec = np.empty(n, dtype=_LS2_WKB)
    rec["e"] = 1
    rec["t"] = 2
    rec["npt"] = 2
    rec["x1"] = x1
    rec["y1"] = y1
    rec["x2"] = x2
    rec["y2"] = y2
    raw = rec.tobytes()
    return [raw[i * 41:(i + 1) * 41] for i in range(n)]


_LS2_HDR = _LS_HDR + b"\x02\x00\x00\x00"


def try_unpack_lines2(vals):
    """If every non-null value is a little-endian XY two-point LINESTRING
    (41 bytes), return (x1, y1, x2, y2, mask_null) arrays; else None."""
    n = len(vals)
    null = np.zeros(n, dtype=bool)
    chunks = []
    idx = []
    for i, v in enumerate(vals):
        if v is None:
            null[i] = True
            continue
        if len(v) != 41 or v[:9] != _LS2_HDR:
            return None
        chunks.append(v)
        idx.append(i)
    out = np.full((4, n), np.nan)
    if chunks:
        rec = np.frombuffer(b"".join(chunks), dtype=_LS2_WKB)
        idx = np.asarray(idx)
        for j, f in enumerate(("x1", "y1", "x2", "y2")):
            out[j][idx] = rec[f]
    return out[0], out[1], out[2], out[3], null


def k_intersects(s1, s2):
    """Planar intersects with a vectorized fast path for two-point-segment
    pairs: strict-straddle rows decide in numpy; boundary rows (any
    orientation exactly 0: touching, collinear, NaN) fall back to the
    exact per-row geometry path so semantics are bit-identical."""
    v1 = list(s1)
    f1 = try_unpack_lines2(v1)
    if f1 is None:
        return _k_intersects_slow(s1, s2)
    v2 = list(s2)
    f2 = try_unpack_lines2(v2)
    if f2 is None:
        return _k_intersects_slow(s1, s2)
    ax1, ay1, ax2, ay2, n1 = f1
    bx1, by1, bx2, by2, n2 = f2
    o1 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    o2 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
    o3 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    o4 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    with np.errstate(invalid="ignore"):
        strict_true = (o1 * o2 < 0) & (o3 * o4 < 0)
        strict_false = (o1 * o2 > 0) | (o3 * o4 > 0)
    anynull = n1 | n2
    out = np.empty(len(v1), dtype=object)
    out[:] = False
    out[strict_true] = True
    out[anynull] = None
    fb = ~(strict_true | strict_false) & ~anynull
    for i in np.flatnonzero(fb):
        out[i] = alg.intersects(from_wkb(v1[i]), from_wkb(v2[i]))
    return pd.Series(out, dtype=object)


def k_intersects_sphere(s1, s2):
    """Great-circle intersects (wkb/spherical.py) with the same whole-batch
    two-point-segment fast path; degenerate/coplanar rows fall back to the
    scalar path, which owns the antipodal ValueError contract."""
    v1 = list(s1)
    f1 = try_unpack_lines2(v1)
    if f1 is None:
        return _k_intersects_sphere_slow(s1, s2)
    v2 = list(s2)
    f2 = try_unpack_lines2(v2)
    if f2 is None:
        return _k_intersects_sphere_slow(s1, s2)
    ax1, ay1, ax2, ay2, n1 = f1
    bx1, by1, bx2, by2, n2 = f2
    hit, fb = sph.sph_seg2_batch(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
    anynull = n1 | n2
    out = np.empty(len(v1), dtype=object)
    out[:] = False
    out[hit] = True
    out[anynull] = None
    for i in np.flatnonzero(fb & ~anynull):
        out[i] = sph.sph_intersects(from_wkb(v1[i]), from_wkb(v2[i]))
    return pd.Series(out, dtype=object)


def _closest_candidates(s_geom, s_pt_unpacked):
    """Shared fast-path plumbing for ClosestPoint/ShortestLine: returns
    (vals_geom, db, cx, cy, ok, fb, qx, qy, nullp) or None."""
    vals = list(s_geom)
    db = decoded_of(vals)
    if db is None:
        return None
    xs, ys, nullp = s_pt_unpacked
    cx, cy, ok, fb = bd.batch_point_closest(xs, ys, db)
    ok = ok & ~nullp
    fb = fb & ~nullp
    return vals, db, cx, cy, ok, fb, xs, ys, nullp


def k_closest_point(s1, s2):
    """ST_ClosestPoint(g1, g2): nearest point ON g1 to g2."""
    f2 = try_unpack_points_xy(list(s2))
    if f2 is not None:
        got = _closest_candidates(s1, f2)
        if got is not None:
            vals, db, cx, cy, ok, fb, _, _, _ = got
            blobs = pack_points_xy(np.where(ok, cx, 0.0), np.where(ok, cy, 0.0))
            out = [blobs[i] if ok[i] else None for i in range(len(vals))]
            if fb.any():
                g1 = geoms_of(s1)
                pv = list(s2)
                for i in np.flatnonzero(fb):
                    b = from_wkb(pv[i]) if pv[i] is not None else None
                    r = alg.closest_point(g1[i], b) if g1[i] is not None and b is not None else None
                    out[i] = to_wkb(r) if r is not None else None
            return pd.Series(out, dtype=object)
    f1 = try_unpack_points_xy(list(s1))
    if f1 is not None:
        vals2 = list(s2)
        db = decoded_of(vals2)
        if db is not None:
            xs, ys, nullp = f1
            # the closest point ON a point is the point itself (also the
            # intersection branch: point-on-anything intersections return
            # the point); None when either side is null/empty
            nonempty = np.zeros(len(vals2), dtype=bool)
            ne_d = (db.row_topcount > 0) & ~_row_point_is_nan(db)
            nonempty[db.idx] = ne_d
            okp = nonempty & ~nullp & ~np.isnan(xs)
            blobs = pack_points_xy(np.where(okp, xs, 0.0), np.where(okp, ys, 0.0))
            return pd.Series(
                [blobs[i] if okp[i] else None for i in range(len(vals2))],
                dtype=object,
            )
    return _binary_kernel(
        lambda a, b: to_wkb(alg.closest_point(a, b)) if a is not None and b is not None else None
    )(s1, s2)


def k_shortest_line(s1, s2):
    """ST_ShortestLine(g1, g2): 2-point connector [on-g1, on-g2]."""
    f2 = try_unpack_points_xy(list(s2))
    if f2 is not None:
        got = _closest_candidates(s1, f2)
        if got is not None:
            vals, db, cx, cy, ok, fb, qx, qy, _ = got
            blobs = pack_lines2(
                np.where(ok, cx, 0.0), np.where(ok, cy, 0.0),
                np.where(ok, qx, 0.0), np.where(ok, qy, 0.0),
            )
            out = [blobs[i] if ok[i] else None for i in range(len(vals))]
            if fb.any():
                g1 = geoms_of(s1)
                pv = list(s2)
                for i in np.flatnonzero(fb):
                    b = from_wkb(pv[i]) if pv[i] is not None else None
                    r = alg.shortest_line(g1[i], b) if g1[i] is not None and b is not None else None
                    out[i] = to_wkb(r) if r is not None else None
            return pd.Series(out, dtype=object)
    f1 = try_unpack_points_xy(list(s1))
    if f1 is not None:
        got = _closest_candidates(s2, f1)
        if got is not None:
            vals, db, cx, cy, ok, fb, qx, qy, _ = got
            blobs = pack_lines2(
                np.where(ok, qx, 0.0), np.where(ok, qy, 0.0),
                np.where(ok, cx, 0.0), np.where(ok, cy, 0.0),
            )
            out = [blobs[i] if ok[i] else None for i in range(len(vals))]
            if fb.any():
                g2 = geoms_of(s2)
                pv = list(s1)
                for i in np.flatnonzero(fb):
                    a = from_wkb(pv[i]) if pv[i] is not None else None
                    r = alg.shortest_line(a, g2[i]) if a is not None and g2[i] is not None else None
                    out[i] = to_wkb(r) if r is not None else None
            return pd.Series(out, dtype=object)
    return _binary_kernel(
        lambda a, b: to_wkb(alg.shortest_line(a, b)) if a is not None and b is not None else None
    )(s1, s2)
k_contains = _binary_kernel(alg.contains)
k_within = _binary_kernel(alg.within)
k_disjoint = _binary_kernel(alg.disjoint)
k_touches = _binary_kernel(alg.touches)
k_crosses = _binary_kernel(alg.crosses)
k_overlaps = _binary_kernel(alg.overlaps)
k_equals = _binary_kernel(alg.equals)
k_covers = _binary_kernel(alg.covers)
k_covered_by = _binary_kernel(alg.covered_by)


def k_dwithin(s1, s2, d):
    """ST_DWithin(g1, g2, dist): distance <= dist (with the same point
    fast path as ST_Distance)."""
    dist = k_distance(s1, s2)
    n = len(s1)
    d_it = np.asarray(list(d) if hasattr(d, "__len__") else [d] * n, dtype=np.float64)
    return pd.Series(np.asarray(dist) <= d_it, dtype=object).where(
        ~np.isnan(np.asarray(dist)), None
    )


def k_distance(s1, s2):
    f1 = try_unpack_points_xy(list(s1))
    f2 = try_unpack_points_xy(list(s2))
    if f1 is not None and f2 is not None:
        x1, y1, n1 = f1
        x2, y2, n2 = f2
        d = np.hypot(x1 - x2, y1 - y2)
        return pd.Series(np.where(n1 | n2, np.nan, d))
    if f1 is not None or f2 is not None:
        # point column x any-geometry column: one flat segment sweep +
        # interior parity; rows inside the slow path's epsilon boundary
        # band are recomputed per row for bit-compatibility
        pts, pt_s, other = (f1, s1, s2) if f1 is not None else (f2, s2, s1)
        vals = list(other)
        db = decoded_of(vals)
        if db is not None:
            xs, ys, nullp = pts
            dist, fb = bd.batch_point_distance(xs, ys, db)
            dist = np.where(nullp, np.nan, dist)
            fb = fb & ~nullp
            if fb.any():
                go = geoms_of(other)
                pv = list(pt_s)
                for i in np.flatnonzero(fb):
                    a = from_wkb(pv[i]) if pv[i] is not None else None
                    v = alg.distance(a, go[i]) if a is not None else None
                    dist[i] = np.nan if v is None else v
            return pd.Series(dist)
    return pd.Series(
        [alg.distance(a, b) for a, b in zip(geoms_of(s1), geoms_of(s2))],
        dtype=np.float64,
    )


def k_azimuth(s1, s2):
    """Bearing from point a to point b, radians clockwise from north
    (PostGIS ST_Azimuth convention); null for coincident points."""
    f1 = try_unpack_points_xy(list(s1))
    f2 = try_unpack_points_xy(list(s2))
    if f1 is not None and f2 is not None:
        x1, y1, n1 = f1
        x2, y2, n2 = f2
        az = np.arctan2(x2 - x1, y2 - y1) % (2 * np.pi)
        bad = n1 | n2 | ((x1 == x2) & (y1 == y2))
        return pd.Series(np.where(bad, np.nan, az))
    out = []
    for a, b in zip(geoms_of(s1), geoms_of(s2)):
        if a is None or b is None or a.is_empty() or b.is_empty():
            out.append(np.nan)
            continue
        dx = float(b.data[0]) - float(a.data[0])
        dy = float(b.data[1]) - float(a.data[1])
        if dx == 0 and dy == 0:
            out.append(np.nan)
        else:
            out.append(math.atan2(dx, dy) % (2 * math.pi))
    return _f64(out)


def k_length_spheroid(s):
    return _f64([
        alg.vincenty_length(g) if g is not None else np.nan for g in geoms_of(s)
    ])


def k_distance_spheroid(s1, s2):
    out = []
    for a, b in zip(geoms_of(s1), geoms_of(s2)):
        if a is None or b is None or a.is_empty() or b.is_empty():
            out.append(np.nan)
        else:
            ca, cb = alg.centroid(a), alg.centroid(b)
            out.append(
                alg.vincenty_distance(
                    float(ca.data[0]), float(ca.data[1]),
                    float(cb.data[0]), float(cb.data[1]),
                )
            )
    return _f64(out)


k_concave_hull = _param_geom_kernel(lambda g, k: alg.concave_hull(g, int(k)))


def k_line_from_arrays(xs, ys):
    out = []
    for x, y in zip(xs, ys):
        if x is None or y is None or len(x) != len(y):
            out.append(None)
        else:
            out.append(
                to_wkb(wc.linestring(np.column_stack([np.asarray(x), np.asarray(y)])))
            )
    return pd.Series(out, dtype=object)


def k_make_polygon(s):
    """Closed linestring -> polygon shell (PostGIS ST_MakePolygon)."""
    out = []
    for g in geoms_of(s):
        if g is None or g.kind != wc.LINESTRING or len(g.data) < 4:
            out.append(None)
            continue
        ring = np.asarray(g.data)
        if not np.allclose(ring[0, :2], ring[-1, :2]):
            ring = np.vstack([ring, ring[:1]])
        out.append(to_wkb(wc.Geom(wc.POLYGON, [ring], g.has_z, g.has_m)))
    return pd.Series(out, dtype=object)


def k_distance_sphere(s1, s2):
    """Great-circle distance: point-point pairs keep the haversine formula
    (established oracle parity); every other kind combination is the TRUE
    minimum distance (sph_min_distance: 0 on spherical intersection /
    containment, else s2-style vertex-vs-arc cross-track reduction) —
    PostGIS ST_DistanceSphere semantics, replacing the old
    centroid-to-centroid approximation. Point-vs-segment batches
    vectorize (sph_pt_seg2_dist_batch)."""
    v1 = list(s1)
    v2 = list(s2)
    fast = _sph_pt_seg2_fast(v1, v2)
    if fast is not None:
        m, nulls, fb = fast
        m[nulls] = np.nan
        for i in np.flatnonzero(fb & ~nulls):
            m[i] = _sph_dist_row(from_wkb(v1[i]), from_wkb(v2[i]))
        return _f64(list(m))
    out = []
    for a, b in zip(geoms_of(s1), geoms_of(s2)):
        if a is None or b is None or a.is_empty() or b.is_empty():
            out.append(np.nan)
        elif a.kind == wc.POINT and b.kind == wc.POINT:
            out.append(
                alg.haversine_distance(
                    float(a.data[0]), float(a.data[1]), float(b.data[0]), float(b.data[1])
                )
            )
        else:
            out.append(sph.sph_min_distance(a, b))
    return _f64(out)


def _sph_pt_seg2_fast(v1, v2):
    """(meters, null_mask, fallback_mask) for point-vs-2pt-segment batches
    (either argument order), or None when the shapes don't apply."""
    fp = try_unpack_points_xy(v1)
    if fp is not None:
        fl = try_unpack_lines2(v2)
        if fl is None:
            return None
    else:
        fl = try_unpack_lines2(v1)
        if fl is None:
            return None
        fp = try_unpack_points_xy(v2)
        if fp is None:
            return None
    px, py, n1 = fp
    x1, y1, x2, y2, n2 = fl
    m, fb = sph.sph_pt_seg2_dist_batch(px, py, x1, y1, x2, y2)
    return m, (n1 | n2), fb


def _sph_dist_row(a, b):
    if a is None or b is None or a.is_empty() or b.is_empty():
        return np.nan
    return sph.sph_min_distance(a, b)


def k_dwithin_sphere(s1, s2, dist):
    """ST_DWithinSphere(g1, g2, meters): great-circle DWithin via
    sph_min_distance (0 on intersection, so containment passes any
    non-negative threshold). Point-vs-segment batches vectorize."""
    n = len(s1)
    dv = list(dist) if hasattr(dist, "__len__") else [dist] * n
    v1 = list(s1)
    v2 = list(s2)
    fast = _sph_pt_seg2_fast(v1, v2)
    if fast is not None:
        m, nulls, fb = fast
        for i in np.flatnonzero(fb & ~nulls):
            m[i] = _sph_dist_row(from_wkb(v1[i]), from_wkb(v2[i]))
        out = [
            None
            if nulls[i] or dv[i] is None or m[i] != m[i]
            else bool(m[i] <= float(dv[i]))
            for i in range(n)
        ]
        return pd.Series(out, dtype=object)
    out = []
    for a, b, d in zip(geoms_of(s1), geoms_of(s2), dv):
        if a is None or b is None or d is None or a.is_empty() or b.is_empty():
            out.append(None)
        else:
            m = sph.sph_min_distance(a, b)
            out.append(None if m != m else bool(m <= float(d)))
    return pd.Series(out, dtype=object)


k_frechet = _binary_kernel(alg.frechet_distance, out_dtype=np.float64)
k_hausdorff = _binary_kernel(alg.hausdorff_distance, out_dtype=np.float64)


def _binary_geom_kernel(fn):
    """Geometry-output binary kernel: NULL if either side is NULL, else
    the WKB of fn over the parsed pair."""
    return _binary_kernel(
        lambda a, b: to_wkb(fn(a, b)) if a is not None and b is not None else None
    )


def _overlay(name):
    from ..wkb import booleanops as bo

    return _binary_geom_kernel(getattr(bo, name))


k_relate = _binary_kernel(relate)


def k_relate_pattern(s1, s2, pat):
    from ..wkb.relate import relate_pattern

    n = len(s1)
    pats = list(pat) if hasattr(pat, "__iter__") and not isinstance(pat, str) else [pat] * n
    return pd.Series(
        [
            relate_pattern(a, b, p)
            for a, b, p in zip(geoms_of(s1), geoms_of(s2), pats)
        ],
        dtype=object,
    )


k_intersection = _overlay("geom_intersection")
k_union2 = _overlay("geom_union")
k_difference = _overlay("geom_difference")
k_sym_difference = _overlay("geom_sym_difference")


def k_equals_exact(s1, s2, tol):
    n = len(s1)
    t = list(tol) if hasattr(tol, "__len__") else [tol] * n
    return pd.Series(
        [
            alg.equals_exact(a, b, float(tt) if tt is not None else 0.0)
            for a, b, tt in zip(geoms_of(s1), geoms_of(s2), t)
        ],
        dtype=object,
    )


def k_line_locate_point(s1, s2):
    f2 = try_unpack_points_xy(list(s2))
    if f2 is not None:
        vals = list(s1)
        db = decoded_of(vals)
        if db is not None:
            xs, ys, nullp = f2
            frac, ok = bd.batch_line_locate(xs, ys, db)
            ok = ok & ~nullp
            # not-ok rows (no >=2-point line part, NaN/null point, null
            # geometry) are exactly the slow path's None -> NaN rows
            return pd.Series(np.where(ok, frac, np.nan))
    return pd.Series(
        [alg.line_locate_point(a, b) for a, b in zip(geoms_of(s1), geoms_of(s2))],
        dtype=np.float64,
    )


def k_make_line(s1, s2):
    f1 = try_unpack_points_xy(list(s1))
    f2 = try_unpack_points_xy(list(s2))
    if f1 is not None and f2 is not None:
        x1, y1, n1 = f1
        x2, y2, n2 = f2
        bad = n1 | n2 | np.isnan(x1) | np.isnan(x2)
        blobs = pack_lines2(
            np.where(bad, 0.0, x1), np.where(bad, 0.0, y1),
            np.where(bad, 0.0, x2), np.where(bad, 0.0, y2),
        )
        return pd.Series(
            [None if bad[i] else blobs[i] for i in range(len(blobs))], dtype=object
        )
    out = []
    for a, b in zip(geoms_of(s1), geoms_of(s2)):
        if a is None or b is None or a.is_empty() or b.is_empty():
            out.append(None)
        else:
            out.append(
                to_wkb(wc.linestring([[float(a.data[0]), float(a.data[1])],
                                      [float(b.data[0]), float(b.data[1])]]))
            )
    return pd.Series(out, dtype=object)


_GC2_HDR = b"\x01\x07\x00\x00\x00\x02\x00\x00\x00"


def _plain_xy_wkb(v):
    """True if v starts like canonical XY little-endian WKB of type 1..7 —
    for such inputs re-serializing the parsed Geom reproduces the input
    bytes, so collection/multi wrappers can concatenate without parsing.
    (Type 7 included: a GeometryCollection embeds its children verbatim,
    which is exactly what the concat fast path produces — this is what
    makes chained ST_Collect calls O(bytes), not O(parse).)"""
    return v is not None and len(v) >= 5 and v[0] == 1 and v[2] == 0 \
        and v[3] == 0 and v[4] == 0 and 1 <= v[1] <= 7


def k_collect_two(s1, s2):
    v1 = list(s1)
    v2 = list(s2)
    if all(v is None or _plain_xy_wkb(v) for v in v1) and all(
        v is None or _plain_xy_wkb(v) for v in v2
    ):
        # GEOMETRYCOLLECTION(a, b) body is exactly the two input WKBs
        return pd.Series(
            [None if a is None or b is None else _GC2_HDR + a + b
             for a, b in zip(v1, v2)],
            dtype=object,
        )
    return _k_collect_two_slow(s1, s2)


_k_collect_two_slow = _binary_geom_kernel(lambda a, b: wc.collection([a, b]))


# constructors from plain numeric columns ----------------------------------

def k_point(xs, ys):
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    blobs = pack_points_xy(x, y)
    mask = pd.isna(pd.Series(xs)) | pd.isna(pd.Series(ys))
    return pd.Series(
        [None if m else b for b, m in zip(blobs, mask)], dtype=object
    )


def k_point_z(xs, ys, zs):
    out = []
    for x, y, z in zip(xs, ys, zs):
        if pd.isna(x) or pd.isna(y) or pd.isna(z):
            out.append(None)
        else:
            out.append(to_wkb(wc.point(float(x), float(y), float(z))))
    return pd.Series(out, dtype=object)


_BOX_WKB = np.dtype(
    {
        "names": ["e", "t", "nr", "npt",
                  "x0", "y0", "x1", "y1", "x2", "y2", "x3", "y3", "x4", "y4"],
        "formats": ["u1", "<u4", "<u4", "<u4"] + ["<f8"] * 10,
        "offsets": [0, 1, 5, 9] + [13 + 8 * i for i in range(10)],
        "itemsize": 93,
    }
)


def k_make_envelope(x0, y0, x1, y1):
    """Vectorized: a box polygon is a fixed 93-byte WKB record (header + one
    5-point CCW ring), so the whole batch packs with one structured-dtype
    fill — byte-identical to to_wkb(wc.box(...))."""
    xa = np.asarray(x0, dtype=np.float64)
    ya = np.asarray(y0, dtype=np.float64)
    xb = np.asarray(x1, dtype=np.float64)
    yb = np.asarray(y1, dtype=np.float64)
    n = len(xa)
    rec = np.empty(n, dtype=_BOX_WKB)
    rec["e"] = 1
    rec["t"] = 3
    rec["nr"] = 1
    rec["npt"] = 5
    rec["x0"] = rec["x3"] = rec["x4"] = xa
    rec["x1"] = rec["x2"] = xb
    rec["y0"] = rec["y1"] = rec["y4"] = ya
    rec["y2"] = rec["y3"] = yb
    raw = rec.tobytes()
    mask = (
        pd.isna(pd.Series(x0)) | pd.isna(pd.Series(y0))
        | pd.isna(pd.Series(x1)) | pd.isna(pd.Series(y1))
    )
    return pd.Series(
        [None if m else raw[i * 93:(i + 1) * 93] for i, m in enumerate(mask)],
        dtype=object,
    )


# ---------------------------------------------------------------------------
# fused construction->stat composite kernels (one ArrowEvalPython node)
# ---------------------------------------------------------------------------
# Catalyst extracts nested ST_* pandas UDFs into one ArrowEvalPython node PER
# NESTING LEVEL, so a construction->collect->stat chain pays 3+ Arrow round
# trips through the python worker (JVM->Arrow->python->Arrow->JVM each).
# These composites run the SAME kernel chain worker-side in a single call, so
# the hot path plans as ONE ArrowEvalPython node. Every composite delegates
# to the existing kernels above — identical code paths, bit-identical
# results, no new math; the registry-level value dedup applies to the whole
# fused chain (construction AND stats run once per distinct argument tuple).


def k_box_pair_stats(x0a, y0a, x1a, y1a, x0b, y0b, x1b, y1b):
    """Summary stats of the MultiPolygon of two per-row envelope boxes:
    fuses ST_MakeEnvelope x2 -> ST_Collect -> ST_CollectionExtract(3) ->
    {ST_Area, ST_Perimeter, ST_Centroid x/y, ST_ConvexHull area}."""
    mp = k_collection_extract(
        k_collect_two(
            k_make_envelope(x0a, y0a, x1a, y1a),
            k_make_envelope(x0b, y0b, x1b, y1b),
        ),
        3,
    )
    cen = k_centroid(mp)
    return pd.DataFrame(
        {
            "area": k_area(mp),
            "perimeter": k_perimeter(mp),
            "cx": k_x(cen),
            "cy": k_y(cen),
            "hull_area": k_area(k_convex_hull(mp)),
        }
    )


def _uniform_crs_pair(src, dst):
    """(src_epsg, dst_epsg) when both CRS columns hold one non-null value
    and the closed-form path supports them, else None — the precondition of
    k_transform's vectorized point fast path."""
    from ..wkb import proj

    u_src = {v for v in src if v is not None} if hasattr(src, "__iter__") and not isinstance(src, (str, bytes)) else {src}
    u_dst = {v for v in dst if v is not None} if hasattr(dst, "__iter__") and not isinstance(dst, (str, bytes)) else {dst}
    if len(u_src) != 1 or len(u_dst) != 1:
        return None
    se, de = proj.parse_crs(next(iter(u_src))), proj.parse_crs(next(iter(u_dst)))
    if not (proj.supported_crs(se) and proj.supported_crs(de)):
        return None
    return se, de


def _nanmask_xy(xs, ys):
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    null = pd.isna(pd.Series(xs)).to_numpy() | pd.isna(pd.Series(ys)).to_numpy()
    return x, y, null


def k_transform_xy(xs, ys, src, dst):
    """ST_X/ST_Y of ST_Transform(ST_Point(x, y), src, dst), fused. Uniform
    supported CRS pairs skip the WKB detour: proj.transform_xy runs on the
    coordinate arrays directly — the very same call k_transform's point
    fast path makes after unpacking, so results are bit-identical."""
    from ..wkb import proj

    pair = _uniform_crs_pair(src, dst)
    if pair is not None:
        x, y, null = _nanmask_xy(xs, ys)
        tx, ty = proj.transform_xy(x, y, *pair)
        return pd.DataFrame(
            {"x": np.where(null, np.nan, tx), "y": np.where(null, np.nan, ty)}
        )
    p = k_transform(k_point(xs, ys), src, dst)
    return pd.DataFrame({"x": k_x(p), "y": k_y(p)})


def k_transform_rt_xy(xs, ys, src, dst):
    """Forward reprojection plus the inverse round trip, fused: returns
    struct{fx, fy, ix, iy} where (fx, fy) = transform(src->dst) and
    (ix, iy) = transform(dst->src) applied to the forward result — the
    standard projection-closure accuracy probe as one kernel call. Same
    direct-array fast path as k_transform_xy."""
    from ..wkb import proj

    pair = _uniform_crs_pair(src, dst)
    if pair is not None:
        x, y, null = _nanmask_xy(xs, ys)
        fx, fy = proj.transform_xy(x, y, *pair)
        ix, iy = proj.transform_xy(fx, fy, pair[1], pair[0])
        nan = np.nan
        return pd.DataFrame(
            {
                "fx": np.where(null, nan, fx),
                "fy": np.where(null, nan, fy),
                "ix": np.where(null, nan, ix),
                "iy": np.where(null, nan, iy),
            }
        )
    fwd = k_transform(k_point(xs, ys), src, dst)
    inv = k_transform(fwd, dst, src)
    return pd.DataFrame(
        {"fx": k_x(fwd), "fy": k_y(fwd), "ix": k_x(inv), "iy": k_y(inv)}
    )


def k_distance_xy(x1, y1, x2, y2):
    """ST_Distance(ST_Point(x1, y1), ST_Point(x2, y2)), fused: the same
    np.hypot the point-point fast path of k_distance computes, minus the
    pack/unpack WKB detour (nulls -> NaN, identical to the kernel chain)."""
    ax, ay, n1 = _nanmask_xy(x1, y1)
    bx, by, n2 = _nanmask_xy(x2, y2)
    d = np.hypot(ax - bx, ay - by)
    return pd.Series(np.where(n1 | n2, np.nan, d))


def _seg2(p1x, p1y, p2x, p2y):
    return k_make_line(k_point(p1x, p1y), k_point(p2x, p2y))


def k_seg_intersects_xy(p1x, p1y, p2x, p2y, q1x, q1y, q2x, q2y):
    """Planar segment-pair ST_Intersects from 8 coordinate columns, fused
    (ST_Point x4 -> ST_MakeLine x2 -> ST_Intersects)."""
    return k_intersects(_seg2(p1x, p1y, p2x, p2y), _seg2(q1x, q1y, q2x, q2y))


def k_seg_intersects_sphere_xy(p1x, p1y, p2x, p2y, q1x, q1y, q2x, q2y):
    """Great-circle segment-pair ST_IntersectsSphere from 8 coordinate
    columns, fused."""
    return k_intersects_sphere(
        _seg2(p1x, p1y, p2x, p2y), _seg2(q1x, q1y, q2x, q2y)
    )


def k_pt_arc_distance_sphere_xy(px, py, a1x, a1y, a2x, a2y):
    """ST_DistanceSphere(point, 2-point arc) from coordinate columns,
    fused."""
    return k_distance_sphere(k_point(px, py), _seg2(a1x, a1y, a2x, a2y))


def k_pt_arc_dwithin_sphere_xy(px, py, a1x, a1y, a2x, a2y, dist):
    """ST_DWithinSphere(point, 2-point arc, meters) from coordinate
    columns, fused."""
    return k_dwithin_sphere(k_point(px, py), _seg2(a1x, a1y, a2x, a2y), dist)


def k_subdivide_box_stats_xy(x0, y0, x1, y1, dens, maxv):
    """array<struct{area, xmin}> over the ST_Dump pieces of
    ST_Subdivide(ST_Densify(ST_MakeEnvelope(x0, y0, x1, y1), dens), maxv),
    fused: the whole construct -> densify -> subdivide -> dump -> per-piece
    stat chain runs worker-side in ONE call (the unfused plan paid five
    ArrowEvalPython round trips), delegating to the same kernels — piece
    order, areas and bounds are bit-identical. Per-piece stats run as one
    batched kernel call over the flattened piece list, and the registry
    value-dedup covers the entire chain, so repetitive box domains pay per
    distinct box rather than per row."""
    pieces = k_dump(
        k_subdivide(k_densify(k_make_envelope(x0, y0, x1, y1), dens), maxv)
    )
    flat, spans = [], []
    for lst in pieces:
        if lst is None:
            spans.append(None)
        else:
            spans.append((len(flat), len(lst)))
            flat.extend(lst)
    if flat:
        fs = pd.Series(flat, dtype=object)
        areas = k_area(fs).to_numpy()
        xmins = k_xmin(fs).to_numpy()
    out = []
    for sp in spans:
        if sp is None:
            out.append(None)
        else:
            st, m = sp
            out.append(
                [
                    {"area": float(areas[st + j]), "xmin": float(xmins[st + j])}
                    for j in range(m)
                ]
            )
    return pd.Series(out, dtype=object)


def k_envelope_areas_xy(x0, y0, x1, y1):
    """struct{spheroid, spherical} areas of the same per-row
    ST_MakeEnvelope(x0, y0, x1, y1), fused: the envelope is constructed
    ONCE (the unfused plan nested a separate ST_MakeEnvelope inside each
    area UDF) and both area kernels run on it in one worker call.

    Coordinate batches additionally take a whole-batch array path: the box
    ring layout is fixed (wc.box's 5-point CCW shell), so the exact
    per-ring formulas of _ring_ellipsoidal_area / _ring_spherical_excess
    run over an (n, 5) coordinate matrix — the same elementwise op
    sequence, 5-element axis reductions and (rows, 8) @ (8,) quadrature
    dot products the per-geometry path performs, minus the WKB pack/parse
    detour and the tiny-array numpy dispatch overhead per row."""
    xa, ya, n0 = _nanmask_xy(x0, y0)
    xb, yb, n1 = _nanmask_xy(x1, y1)
    null = n0 | n1
    lon = np.stack([xa, xb, xb, xa, xa], axis=1)  # wc.box ring order
    lat = np.stack([ya, ya, yb, yb, ya], axis=1)
    phi = np.radians(lat)
    phi2 = np.roll(phi, -1, axis=1)
    # ellipsoidal: dlam * GL8 quadrature of the authalic integral per edge
    dlam = np.radians((np.roll(lon, -1, axis=1) - lon + 180.0) % 360.0 - 180.0)
    pt = phi[..., None] + (phi2 - phi)[..., None] * alg._GL8_T[None, None, :]
    # stacked matmul: each ring gets the SAME (5, 8) @ (8,) dgemv call the
    # per-geometry path makes (a flattened (n*5, 8) gemv accumulates
    # differently at the ULP level)
    fvals = np.matmul(alg._authalic_F(pt), alg._GL8_W)
    spheroid = np.abs(np.sum(dlam * fvals, axis=1))
    # spherical: Chamberlain-Duquette excess * R^2 (signed, shell only)
    lam = np.radians(lon)
    lam2 = np.roll(lam, -1, axis=1)
    sph = (
        np.sum((lam2 - lam) * (2 + np.sin(phi) + np.sin(phi2)), axis=1) / 2.0
    ) * alg.EARTH_RADIUS_M * alg.EARTH_RADIUS_M
    return pd.DataFrame(
        {
            "spheroid": np.where(null, np.nan, spheroid),
            "spherical": np.where(null, np.nan, sph),
        }
    )
