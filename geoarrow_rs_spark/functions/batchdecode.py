"""Vectorized mixed-type WKB batch decode for the kernel hot path.

``decode_batch`` is the one WKB batch decoder: every batch-decoded kernel
reaches it through ``kernels.decoded_of``. It decodes a whole Arrow batch
of XY little-endian WKB values — Point, LineString, Polygon (any ring
count), MultiPoint, MultiLineString, MultiPolygon, in any per-row mix —
into ONE flat coordinate table plus ring/part/row offset arrays. Kernels
then run whole-batch numpy (reduceat / bincount over the offset
structure) instead of building a per-row Geom object tree, which is the
slow path's dominant cost.

This mirrors the decode the reference performs once per array when
materializing WKB into typed offset buffers
(/root/reference/rust/geoarrow-array/src/array/wkb.rs): coordinates land
in a single contiguous buffer and structure lands in offset arrays.

Two routes fill the same ``DecodedBatch``:

- a fixed-layout shortcut (``_decode_fixed_layout``) for batches whose
  every non-null value is a LineString, or every one a one-ring Polygon:
  those values are a fixed-size header plus coordinates, so headers and
  counts are checked with numpy and the tables are built without a walk;
- the header walk (``_parse_structure``) for every other batch. Its
  per-row Python work is only the fixed-size header walk (a few
  ``int.from_bytes`` per ring); every coordinate byte is moved by one
  join.

Batches containing big-endian values, Z/M dimensions, or EWKB SRID flags
bail (return None) and the caller falls back to the per-row Geom path.
GeometryCollections decode recursively and set ``has_gc``; only consumers
whose math is coordinate-set or structure-preserving (bounds, hulls,
affine splice) accept such batches — see
``kernels.decoded_of(allow_gc=...)``.

A small content-keyed cache lets chained ST_ calls inside one
ArrowEvalPython node (e.g. ``ST_Area(g), ST_Centroid(g), ST_ConvexHull(g)``
in a single projection) decode the batch once: the key is the tuple of
the batch's byte values, so a hit requires full content equality — no
false sharing is possible.
"""

from __future__ import annotations

import functools
from collections import OrderedDict

import numpy as np

_WKB_POINT = 1
_WKB_LINESTRING = 2
_WKB_POLYGON = 3
_WKB_MULTIPOINT = 4
_WKB_MULTILINESTRING = 5
_WKB_MULTIPOLYGON = 6
_WKB_GEOMETRYCOLLECTION = 7

_PT_HDR5 = b"\x01\x01\x00\x00\x00"
_LS_HDR5 = b"\x01\x02\x00\x00\x00"
_PG_HDR5 = b"\x01\x03\x00\x00\x00"
_PG1_HDR9 = _PG_HDR5 + b"\x01\x00\x00\x00"  # polygon with exactly one ring


class DecodedBatch:
    """Flat decode of one WKB batch.

    Rows are decoded in input order; all rings of a row are contiguous,
    so per-row point spans are contiguous slices of ``coords``.

    Attributes
    ----------
    n          : batch length (including nulls)
    idx        : int64[nd] input row index of each decoded (non-null) row
    kind       : uint8[nd]  WKB type code (1..7) per decoded row
    has_gc     : bool — batch contains GeometryCollection rows
    coords     : (P, 2) float64 — every coordinate of every decoded row
    ring_npt   : int64[R] points per ring (Point parts are 1-point rings)
    ring_off   : int64[R] byte offset of the ring's coord block in its value
    ring_drow  : int64[R] DECODED-row ordinal (0..nd-1) of each ring
    ring_dim   : uint8[R] 0=point part, 1=line part, 2=polygon ring
    ring_role  : uint8[R] 0=shell/standalone, 1=interior ring (hole)
    ring_part  : int64[R] global part ordinal (polygon parts group rings)
    row_npt    : int64[nd] total points per decoded row
    row_start  : int64[nd] start offset of each decoded row in coords
    row_nparts : int64[nd] iter_parts count (multis count members, incl.
                 empty ones; singles count 1)
    row_topcount: int64[nd] top-level WKB count field (npt / nrings /
                 nparts; 1 for Point) — drives is_empty semantics
    """

    __slots__ = (
        "n", "idx", "kind", "coords", "ring_npt", "ring_drow", "ring_dim",
        "ring_role", "ring_part", "row_npt", "row_start", "ring_off",
        "row_nparts", "row_topcount", "has_gc",
    )

    # ring-level start offsets into coords (derived, used by reduceat)
    def ring_starts(self):
        return np.cumsum(self.ring_npt) - self.ring_npt


def _parse_structure(vals):
    """Header walk. Returns (idx, kind, chunks, npts, drow, dim, role, part,
    row_parts, row_top, has_gc) where chunks are per-ring coordinate
    memoryviews (joined once by the caller), or None if any value is not
    plain XY LE WKB of types 1..7. GeometryCollections (type 7) recurse
    into their children (depth-capped); batches containing them set
    has_gc so consumers whose math is not coordinate-set/structure-
    preserving can decline (see decoded_of's allow_gc gate)."""
    idx, kinds = [], []
    chunks, r_npt, r_drow, r_dim, r_role, r_part = [], [], [], [], [], []
    r_off = []
    row_parts, row_top = [], []
    drow = -1         # decoded-row ordinal
    part = -1         # global part ordinal
    has_gc = False
    ib = int.from_bytes

    def parse_geom(v, mv, lv, o, drow, depth):
        """Parse one geometry at byte offset o; returns
        (end_offset, nparts, topcount) or None. Appends ring records."""
        nonlocal part, has_gc
        if lv < o + 5 or v[o] != 1:
            return None
        t = ib(v[o + 1:o + 5], "little")
        if t == _WKB_POINT:
            if lv < o + 21:
                return None
            part += 1
            chunks.append(mv[o + 5:o + 21])
            r_off.append(o + 5)
            r_npt.append(1)
            r_drow.append(drow)
            r_dim.append(0)
            r_role.append(0)
            r_part.append(part)
            return o + 21, 1, 1
        if t == _WKB_LINESTRING:
            if lv < o + 9:
                return None
            npt = ib(v[o + 5:o + 9], "little")
            end = o + 9 + 16 * npt
            if lv < end:
                return None
            part += 1
            if npt:
                chunks.append(mv[o + 9:end])
                r_off.append(o + 9)
                r_npt.append(npt)
                r_drow.append(drow)
                r_dim.append(1)
                r_role.append(0)
                r_part.append(part)
            return end, 1, npt
        if t == _WKB_POLYGON:
            if lv < o + 9:
                return None
            nr = ib(v[o + 5:o + 9], "little")
            oo = o + 9
            part += 1
            for ri in range(nr):
                if lv < oo + 4:
                    return None
                npt = ib(v[oo:oo + 4], "little")
                oo += 4
                end = oo + 16 * npt
                if lv < end:
                    return None
                if npt:
                    chunks.append(mv[oo:end])
                    r_off.append(oo)
                    r_npt.append(npt)
                    r_drow.append(drow)
                    r_dim.append(2)
                    r_role.append(0 if ri == 0 else 1)
                    r_part.append(part)
                oo = end
            return oo, 1, nr
        if t == _WKB_MULTIPOINT:
            if lv < o + 9:
                return None
            npt = ib(v[o + 5:o + 9], "little")
            end = o + 9 + 21 * npt
            if lv < end:
                return None
            oo = o + 9
            for _ in range(npt):
                if v[oo:oo + 5] != _PT_HDR5:
                    return None
                part += 1
                chunks.append(mv[oo + 5:oo + 21])
                r_off.append(oo + 5)
                r_npt.append(1)
                r_drow.append(drow)
                r_dim.append(0)
                r_role.append(0)
                r_part.append(part)
                oo += 21
            return oo, npt, npt
        if t == _WKB_MULTILINESTRING:
            if lv < o + 9:
                return None
            nls = ib(v[o + 5:o + 9], "little")
            oo = o + 9
            for _ in range(nls):
                if v[oo:oo + 5] != _LS_HDR5 or lv < oo + 9:
                    return None
                npt = ib(v[oo + 5:oo + 9], "little")
                oo += 9
                end = oo + 16 * npt
                if lv < end:
                    return None
                part += 1
                if npt:
                    chunks.append(mv[oo:end])
                    r_off.append(oo)
                    r_npt.append(npt)
                    r_drow.append(drow)
                    r_dim.append(1)
                    r_role.append(0)
                    r_part.append(part)
                oo = end
            return oo, nls, nls
        if t == _WKB_MULTIPOLYGON:
            if lv < o + 9:
                return None
            npg = ib(v[o + 5:o + 9], "little")
            oo = o + 9
            for _ in range(npg):
                if v[oo:oo + 5] != _PG_HDR5 or lv < oo + 9:
                    return None
                nr = ib(v[oo + 5:oo + 9], "little")
                oo += 9
                part += 1
                for ri in range(nr):
                    if lv < oo + 4:
                        return None
                    npt = ib(v[oo:oo + 4], "little")
                    oo += 4
                    end = oo + 16 * npt
                    if lv < end:
                        return None
                    if npt:
                        chunks.append(mv[oo:end])
                        r_off.append(oo)
                        r_npt.append(npt)
                        r_drow.append(drow)
                        r_dim.append(2)
                        r_role.append(0 if ri == 0 else 1)
                        r_part.append(part)
                    oo = end
            return oo, npg, npg
        if t == _WKB_GEOMETRYCOLLECTION:
            if depth >= 8 or lv < o + 9:
                return None
            has_gc = True
            ng = ib(v[o + 5:o + 9], "little")
            oo = o + 9
            nparts = 0
            for _ in range(ng):
                got = parse_geom(v, mv, lv, oo, drow, depth + 1)
                if got is None:
                    return None
                oo, np_, _tc = got
                nparts += np_
            return oo, nparts, ng
        return None  # Z / M / EWKB flags / ISO 1000+

    for i, v in enumerate(vals):
        if v is None:
            continue
        lv = len(v)
        mv = memoryview(v)
        drow += 1
        got = parse_geom(v, mv, lv, 0, drow, 0)
        if got is None or got[0] != lv:
            return None
        idx.append(i)
        kinds.append(ib(v[1:5], "little"))
        row_parts.append(got[1])
        row_top.append(got[2])
    return (idx, kinds, chunks, r_npt, r_off, r_drow, r_dim, r_role,
            r_part, row_parts, row_top, has_gc)


def _decode_fixed_layout(vals):
    """DecodedBatch for a batch whose every non-null value is an XY LE
    LineString, or every one a one-ring Polygon; None for any other batch.

    Such values are a fixed header (9 or 13 bytes, ending in the point
    count) followed by the coordinates, so one row's structure is known
    from its length alone: the headers and counts are checked with numpy
    and the ring and row tables are built without a per-ring walk. The
    result equals _parse_structure's decode slot for slot."""
    idx = [i for i, v in enumerate(vals) if v is not None]
    if not idx:
        return None
    first = vals[idx[0]]
    if first[:5] == _LS_HDR5:
        kind, dim, hdr = _WKB_LINESTRING, 1, _LS_HDR5
    elif first[:9] == _PG1_HDR9:
        kind, dim, hdr = _WKB_POLYGON, 2, _PG1_HDR9
    else:
        return None
    hlen = len(hdr) + 4
    nn = [vals[i] for i in idx]
    nd = len(nn)
    body = np.fromiter(map(len, nn), dtype=np.int64, count=nd) - hlen
    if (body < 0).any() or (body & 15).any():
        return None
    npt = body >> 4
    heads = np.frombuffer(b"".join([v[:hlen] for v in nn]), dtype=np.uint8)
    heads = heads.reshape(nd, hlen)
    if not (heads[:, :-4] == np.frombuffer(hdr, dtype=np.uint8)).all():
        return None
    if (heads[:, -4:].copy().view("<u4")[:, 0] != npt).any():
        return None
    db = DecodedBatch()
    db.n = len(vals)
    db.has_gc = False
    db.idx = np.asarray(idx, dtype=np.int64)
    db.kind = np.full(nd, kind, dtype=np.uint8)
    db.coords = np.frombuffer(
        b"".join([memoryview(v)[hlen:] for v in nn]), dtype="<f8"
    ).reshape(-1, 2)
    # each row is one part; a row with no points records no ring
    db.ring_drow = np.flatnonzero(npt).astype(np.int64)
    nr = len(db.ring_drow)
    db.ring_npt = npt[db.ring_drow]
    db.ring_off = np.full(nr, hlen, dtype=np.int64)
    db.ring_dim = np.full(nr, dim, dtype=np.uint8)
    db.ring_role = np.zeros(nr, dtype=np.uint8)
    db.ring_part = db.ring_drow.copy()
    db.row_npt = npt
    db.row_start = np.cumsum(npt) - npt
    db.row_nparts = np.ones(nd, dtype=np.int64)
    db.row_topcount = (
        npt.copy() if kind == _WKB_LINESTRING else np.ones(nd, dtype=np.int64)
    )
    return db


def decode_batch(vals):
    """Decode a list of WKB bytes/None into a DecodedBatch, or None."""
    db = _decode_fixed_layout(vals)
    if db is not None:
        return db
    parsed = _parse_structure(vals)
    if parsed is None:
        return None
    (idx, kinds, chunks, r_npt, r_off, r_drow, r_dim, r_role, r_part,
     row_parts, row_top, has_gc) = parsed
    db = DecodedBatch()
    db.n = len(vals)
    db.has_gc = has_gc
    db.idx = np.asarray(idx, dtype=np.int64)
    db.kind = np.asarray(kinds, dtype=np.uint8)
    nd = len(idx)
    npts = np.asarray(r_npt, dtype=np.int64)
    db.ring_npt = npts
    db.ring_off = np.asarray(r_off, dtype=np.int64)
    db.row_nparts = np.asarray(row_parts, dtype=np.int64)
    db.row_topcount = np.asarray(row_top, dtype=np.int64)
    db.ring_drow = np.asarray(r_drow, dtype=np.int64)
    db.ring_dim = np.asarray(r_dim, dtype=np.uint8)
    db.ring_role = np.asarray(r_role, dtype=np.uint8)
    db.ring_part = np.asarray(r_part, dtype=np.int64)
    if len(npts):
        # one join = one sequential memcpy per ring; no index arrays
        db.coords = np.frombuffer(b"".join(chunks), dtype="<f8").reshape(-1, 2)
    else:
        db.coords = np.empty((0, 2), dtype=np.float64)
    db.row_npt = np.bincount(db.ring_drow, weights=npts, minlength=nd).astype(np.int64) \
        if nd else np.empty(0, dtype=np.int64)
    db.row_start = np.cumsum(db.row_npt) - db.row_npt
    return db


_MISS = object()


def content_lru(build, maxsize=4):
    """Wrap ``build(vals)`` in a small LRU keyed on the batch content: the
    key is ``tuple(vals)``, so a hit requires equal values (equal bytes),
    never mere identity, and no false sharing is possible. Each wrapped
    function keeps its own ``maxsize`` entries."""
    cache = OrderedDict()

    @functools.wraps(build)
    def cached(vals):
        key = tuple(vals)
        hit = cache.get(key, _MISS)
        if hit is not _MISS:
            cache.move_to_end(key)
            return hit
        out = cache[key] = build(vals)
        if len(cache) > maxsize:
            cache.popitem(last=False)
        return out

    return cached


@content_lru
def decode_batch_cached(vals):
    """decode_batch with a small content-equality cache (see module doc)."""
    return decode_batch(vals)


# ---------------------------------------------------------------------------
# whole-batch kernels over a DecodedBatch
# ---------------------------------------------------------------------------

def _ring_cross_sums(db):
    """Per-ring shoelace sums: (ssum, sx, sy) where ssum = 2*signed area,
    sx/sy are the centroid moment numerators. Junk terms that straddle ring
    boundaries are replaced by each ring's wrap term (last->first), so the
    term set matches algorithms._ring_signed_area's np.roll formulation for
    closed and unclosed rings alike."""
    x = db.coords[:, 0]
    y = db.coords[:, 1]
    m = len(x)
    x2 = np.empty_like(x)
    y2 = np.empty_like(y)
    if m:
        x2[:-1], x2[-1] = x[1:], x[-1]
        y2[:-1], y2[-1] = y[1:], y[-1]
    cross = x * y2 - x2 * y
    ends = np.cumsum(db.ring_npt)
    starts = ends - db.ring_npt
    if m:
        last = ends - 1
        x2[last] = x[starts]
        y2[last] = y[starts]
        cross[last] = x[last] * y[starts] - x[starts] * y[last]
    sxterm = (x + x2) * cross
    syterm = (y + y2) * cross
    return (
        np.add.reduceat(cross, starts) if len(starts) else cross[:0],
        np.add.reduceat(sxterm, starts) if len(starts) else sxterm[:0],
        np.add.reduceat(syterm, starts) if len(starts) else syterm[:0],
    )


def _ring_seg_lengths(db):
    """Per-ring sum of segment lengths (ring-boundary junk zeroed)."""
    x = db.coords[:, 0]
    y = db.coords[:, 1]
    m = len(x)
    d = np.empty(m)
    if m:
        d[:-1] = np.hypot(x[1:] - x[:-1], y[1:] - y[:-1])
        d[-1] = 0.0
    ends = np.cumsum(db.ring_npt)
    if m:
        d[ends - 1] = 0.0
    starts = ends - db.ring_npt
    return np.add.reduceat(d, starts) if len(starts) else d[:0]


def batch_area(db):
    """Planar unsigned area per input row (nan for nulls): |shell| - sum|holes|
    per polygon part, matching algorithms.area term-for-term (rings with
    fewer than 3 points contribute exactly 0, as _ring_signed_area does)."""
    ssum, _, _ = _ring_cross_sums(db)
    sa = np.where(db.ring_npt >= 3, 0.5 * ssum, 0.0)
    poly = db.ring_dim == 2
    w = np.where(db.ring_role == 0, 1.0, -1.0) * np.abs(sa)
    per_row = np.bincount(db.ring_drow[poly], weights=w[poly], minlength=len(db.idx))
    out = np.full(db.n, np.nan)
    out[db.idx] = per_row
    return out


def batch_signed_area(db):
    """Signed planar area per row: shell orientation respected, hole areas
    subtracted with the shell's sign (algorithms.signed_area parity)."""
    ssum, _, _ = _ring_cross_sums(db)
    poly = db.ring_dim == 2
    sa = np.where(db.ring_npt >= 3, 0.5 * ssum, 0.0)
    nparts = int(db.ring_part.max()) + 1 if len(db.ring_part) else 0
    shell_sa = np.zeros(nparts)
    hole_abs = np.zeros(nparts)
    shell_sel = poly & (db.ring_role == 0)
    hole_sel = poly & (db.ring_role == 1)
    shell_sa[db.ring_part[shell_sel]] = sa[shell_sel]
    np.add.at(hole_abs, db.ring_part[hole_sel], np.abs(sa[hole_sel]))
    part_total = shell_sa - np.copysign(hole_abs, shell_sa)
    # map each part back to its decoded row via any of its shell rings
    part_row = np.zeros(nparts, dtype=np.int64)
    part_row[db.ring_part[shell_sel]] = db.ring_drow[shell_sel]
    part_is_poly = np.zeros(nparts, dtype=bool)
    part_is_poly[db.ring_part[shell_sel]] = True
    per_row = np.bincount(
        part_row[part_is_poly], weights=part_total[part_is_poly], minlength=len(db.idx)
    )
    out = np.full(db.n, np.nan)
    out[db.idx] = per_row
    return out


def batch_length(db):
    """Euclidean length of linear parts per row (polygon rings excluded),
    algorithms.length parity: single-point linestrings contribute 0."""
    rl = _ring_seg_lengths(db)
    lin = db.ring_dim == 1
    per_row = np.bincount(db.ring_drow[lin], weights=rl[lin], minlength=len(db.idx))
    out = np.full(db.n, np.nan)
    out[db.idx] = per_row
    return out


def batch_perimeter(db):
    """Sum of polygon ring lengths per row (algorithms.perimeter parity)."""
    rl = _ring_seg_lengths(db)
    poly = db.ring_dim == 2
    per_row = np.bincount(db.ring_drow[poly], weights=rl[poly], minlength=len(db.idx))
    out = np.full(db.n, np.nan)
    out[db.idx] = per_row
    return out


def batch_bounds(db):
    """(xmin, ymin, xmax, ymax) per input row; nan rows = null or empty.
    NaN coordinates (the POINT EMPTY encoding) are excluded, matching
    algorithms.bounds, where all_coords skips empty points; rows whose
    every coordinate is nan come back nan."""
    nd = len(db.idx)
    xmin = np.full(db.n, np.nan)
    ymin = np.full(db.n, np.nan)
    xmax = np.full(db.n, np.nan)
    ymax = np.full(db.n, np.nan)
    if nd == 0:
        return xmin, ymin, xmax, ymax
    nz = db.row_npt > 0
    if not nz.any():
        return xmin, ymin, xmax, ymax
    starts = db.row_start[nz]
    x = db.coords[:, 0]
    y = db.coords[:, 1]
    bad = np.isnan(x) | np.isnan(y)
    rows = db.idx[nz]
    if bad.any():
        real = np.bincount(
            np.repeat(np.arange(nd), db.row_npt), weights=~bad, minlength=nd
        )[nz] > 0
        rows = rows[real]
        starts = starts[real]
        xlo = np.where(bad, np.inf, x)
        ylo = np.where(bad, np.inf, y)
        xhi = np.where(bad, -np.inf, x)
        yhi = np.where(bad, -np.inf, y)
    else:
        xlo = xhi = x
        ylo = yhi = y
    if len(starts):
        xmin[rows] = np.minimum.reduceat(xlo, starts)
        ymin[rows] = np.minimum.reduceat(ylo, starts)
        xmax[rows] = np.maximum.reduceat(xhi, starts)
        ymax[rows] = np.maximum.reduceat(yhi, starts)
    return xmin, ymin, xmax, ymax


def batch_centroid(db):
    """Dimension-weighted centroid per decoded row (algorithms.centroid
    parity: areal parts dominate, then linear, then puntal; zero-length
    linestrings degrade to their first point).

    Returns (cx, cy, ok) each of length db.n; ok False where the row is
    null or the centroid is empty."""
    nd = len(db.idx)
    ssum, sx, sy = _ring_cross_sums(db)

    # areal: rings with >=3 points and nonzero shoelace sum
    poly = (db.ring_dim == 2) & (db.ring_npt >= 3) & (ssum != 0.0)
    w = np.where(db.ring_role == 0, 1.0, -1.0) * np.abs(0.5 * ssum)
    with np.errstate(divide="ignore", invalid="ignore"):
        rcx = sx / (3.0 * ssum)
        rcy = sy / (3.0 * ssum)
    asum = np.bincount(db.ring_drow[poly], weights=w[poly], minlength=nd)
    acx = np.bincount(db.ring_drow[poly], weights=(rcx * w)[poly], minlength=nd)
    acy = np.bincount(db.ring_drow[poly], weights=(rcy * w)[poly], minlength=nd)

    # a batch of polygon rings only has no linear or puntal terms
    lsum = lcx = lcy = pn = pcx = pcy = np.zeros(nd)
    if (db.ring_dim < 2).any():
        lsum, lcx, lcy, pn, pcx, pcy = _centroid_low_dim_terms(db)

    cx = np.full(db.n, np.nan)
    cy = np.full(db.n, np.nan)
    ok = np.zeros(db.n, dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        use_a = asum != 0.0
        use_l = ~use_a & (lsum > 0.0)
        use_p = ~use_a & ~use_l & (pn > 0.0)
        dcx = np.where(use_a, acx / asum, np.where(use_l, lcx / lsum, pcx / np.where(pn, pn, 1.0)))
        dcy = np.where(use_a, acy / asum, np.where(use_l, lcy / lsum, pcy / np.where(pn, pn, 1.0)))
    dok = use_a | use_l | use_p
    cx[db.idx] = np.where(dok, dcx, np.nan)
    cy[db.idx] = np.where(dok, dcy, np.nan)
    ok[db.idx] = dok
    return cx, cy, ok


def _centroid_low_dim_terms(db):
    """batch_centroid's per-row linear (length sum, weighted midpoint sums)
    and puntal (count, coordinate sums) terms."""
    nd = len(db.idx)
    rl = _ring_seg_lengths(db)

    # linear: length-weighted segment midpoints; zero-length lines (npt>=2)
    # degrade to a point contribution at their first coordinate
    lin = (db.ring_dim == 1) & (db.ring_npt >= 2)
    linpos = lin & (rl > 0.0)
    x = db.coords[:, 0]
    y = db.coords[:, 1]
    m = len(x)
    mx = np.empty(m)
    my = np.empty(m)
    if m:
        mx[:-1] = (x[:-1] + x[1:]) * 0.5
        my[:-1] = (y[:-1] + y[1:]) * 0.5
        mx[-1] = my[-1] = 0.0
        seg = np.empty(m)
        seg[:-1] = np.hypot(x[1:] - x[:-1], y[1:] - y[:-1])
        seg[-1] = 0.0
        ends = np.cumsum(db.ring_npt)
        # zero the junk entries straddling ring boundaries in BOTH factors:
        # a NaN midpoint (next ring starts with an empty point) times a
        # zeroed segment would otherwise poison the reduceat with NaN*0
        seg[ends - 1] = 0.0
        mx[ends - 1] = 0.0
        my[ends - 1] = 0.0
        starts = ends - db.ring_npt
        ring_lx = np.add.reduceat(mx * seg, starts) if len(starts) else seg[:0]
        ring_ly = np.add.reduceat(my * seg, starts) if len(starts) else seg[:0]
    else:
        ring_lx = ring_ly = np.empty(0)
    lsum = np.bincount(db.ring_drow[linpos], weights=rl[linpos], minlength=nd)
    lcx = np.bincount(db.ring_drow[linpos], weights=ring_lx[linpos], minlength=nd)
    lcy = np.bincount(db.ring_drow[linpos], weights=ring_ly[linpos], minlength=nd)

    # puntal: point parts with non-nan coords, plus zero-length linestrings
    if m:
        ring_x0 = x[np.cumsum(db.ring_npt) - db.ring_npt]
        ring_y0 = y[np.cumsum(db.ring_npt) - db.ring_npt]
    else:
        ring_x0 = ring_y0 = np.empty(0)
    pt = (db.ring_dim == 0) & ~np.isnan(ring_x0)
    linzero = lin & (rl == 0.0)
    ptsel = pt | linzero
    pn = np.bincount(db.ring_drow[ptsel], minlength=nd).astype(np.float64)
    pcx = np.bincount(db.ring_drow[ptsel], weights=ring_x0[ptsel], minlength=nd)
    pcy = np.bincount(db.ring_drow[ptsel], weights=ring_y0[ptsel], minlength=nd)
    return lsum, lcx, lcy, pn, pcx, pcy


def batch_hulls(db):
    """Convex hull per decoded row: one global lexsort + dedup (the per-row
    np.unique/np.lexsort calls dominate small-geometry batches), then an
    Andrew monotone chain per row over plain Python floats — identical
    point order, tie handling and degeneracy rules to
    algorithms.convex_hull, so outputs are byte-identical after encoding.

    Returns a list over decoded rows of ('empty'|'point'|'line'|'poly', data)
    where data is None, (x, y), or a list of (x, y) vertices (poly rings are
    closed)."""
    nd = len(db.idx)
    if nd == 0:
        return []
    x = db.coords[:, 0]
    y = db.coords[:, 1]
    rowid = np.repeat(np.arange(nd, dtype=np.int64), db.row_npt)
    good = ~(np.isnan(x) | np.isnan(y))
    x, y, rowid = x[good], y[good], rowid[good]
    if len(x) == 0:
        return [("empty", None)] * nd
    order = np.lexsort((y, x, rowid))
    x, y, rowid = x[order], y[order], rowid[order]
    keep = np.empty(len(x), dtype=bool)
    keep[0] = True
    keep[1:] = (x[1:] != x[:-1]) | (y[1:] != y[:-1]) | (rowid[1:] != rowid[:-1])
    x, y, rowid = x[keep], y[keep], rowid[keep]
    counts = np.bincount(rowid, minlength=nd)
    starts = np.cumsum(counts) - counts
    xs = x.tolist()
    ys = y.tolist()
    out = []
    for j in range(nd):
        c = int(counts[j])
        if c == 0:
            out.append(("empty", None))
            continue
        s0 = int(starts[j])
        if c == 1:
            out.append(("point", (xs[s0], ys[s0])))
            continue
        pts = list(zip(xs[s0:s0 + c], ys[s0:s0 + c]))
        lower = []
        for p in pts:
            while len(lower) >= 2:
                o1, a = lower[-2], lower[-1]
                if (a[0] - o1[0]) * (p[1] - o1[1]) - (a[1] - o1[1]) * (p[0] - o1[0]) <= 0:
                    lower.pop()
                else:
                    break
            lower.append(p)
        upper = []
        for p in reversed(pts):
            while len(upper) >= 2:
                o1, a = upper[-2], upper[-1]
                if (a[0] - o1[0]) * (p[1] - o1[1]) - (a[1] - o1[1]) * (p[0] - o1[0]) <= 0:
                    upper.pop()
                else:
                    break
            upper.append(p)
        hull = lower[:-1] + upper[:-1]
        if len(hull) == 2:
            out.append(("line", hull))
        else:
            out.append(("poly", hull + [hull[0]]))
    return out


def batch_point_distance(px, py, db):
    """Min euclidean distance from per-row points (px, py over INPUT rows)
    to the decoded geometries, vectorized over one flat segment table.

    Returns (dist, needs_fallback): dist is nan for rows the decode didn't
    cover; needs_fallback marks rows whose result is within the slow
    path's epsilon-tolerant boundary band (algorithms.intersects snaps
    near-boundary points to 0 with scaled epsilons) — the caller must
    recompute those per row to stay bit-compatible. Interior-of-polygon
    rows are exactly 0 (ray-cast parity over the polygon rings, the
    even-odd equivalent of point_in_polygon for valid nesting)."""
    nd = len(db.idx)
    dist = np.full(db.n, np.nan)
    fb = np.zeros(db.n, dtype=bool)
    if nd == 0:
        return dist, fb
    # segment table: consecutive pairs inside each ring; 1-point rings
    # contribute a degenerate segment (vertex distance)
    npts = db.ring_npt
    nseg = np.maximum(npts - 1, 1)
    ends = np.cumsum(npts)
    starts = ends - npts
    sstart = np.repeat(starts, nseg) + _ranges(nseg)
    send = np.minimum(sstart + 1, np.repeat(ends - 1, nseg))
    ax = db.coords[sstart, 0]
    ay = db.coords[sstart, 1]
    bx = db.coords[send, 0]
    by = db.coords[send, 1]
    seg_drow = np.repeat(db.ring_drow, nseg)
    seg_dim = np.repeat(db.ring_dim, nseg)
    segcnt = np.bincount(seg_drow, minlength=nd)
    qx = np.repeat(np.asarray(px, dtype=np.float64)[db.idx], segcnt)
    qy = np.repeat(np.asarray(py, dtype=np.float64)[db.idx], segcnt)
    dx = bx - ax
    dy = by - ay
    L2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.clip(((qx - ax) * dx + (qy - ay) * dy) / np.where(L2, L2, 1.0), 0.0, 1.0)
    d = np.hypot(qx - (ax + t * dx), qy - (ay + t * dy))
    # per-row min (segments are row-contiguous)
    has = segcnt > 0
    rs = np.cumsum(segcnt) - segcnt
    dmin = np.full(nd, np.inf)
    if has.any():
        dmin[has] = np.minimum.reduceat(d, rs[has])
    # interior test, exact point_in_polygon semantics: per-RING ray-cast
    # parity, then per polygon part inside = shell odd AND no hole odd
    # (global even-odd would diverge on invalid nesting)
    poly = seg_dim == 2
    if poly.any():
        R = len(db.ring_npt)
        seg_ring = np.repeat(np.arange(R, dtype=np.int64), nseg)
        crossed = ((ay > qy) != (by > qy))
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = ax + (qy - ay) / np.where(by - ay, by - ay, 1.0) * dx
        hit = poly & crossed & (xi > qx)
        ring_par = (np.bincount(seg_ring[hit], minlength=R) & 1).astype(bool)
        # alg._point_in_ring needs >= 3 distinct segments to call inside
        ring_par &= db.ring_npt >= 4  # closed ring: 4 rows = 3 edges
        nparts = int(db.ring_part.max()) + 1 if R else 0
        shell_odd = np.zeros(nparts, dtype=bool)
        hole_odd = np.zeros(nparts, dtype=bool)
        shell_sel = (db.ring_dim == 2) & (db.ring_role == 0)
        hole_sel = (db.ring_dim == 2) & (db.ring_role == 1)
        shell_odd[db.ring_part[shell_sel]] = ring_par[shell_sel]
        np.logical_or.at(hole_odd, db.ring_part[hole_sel], ring_par[hole_sel])
        part_in = shell_odd & ~hole_odd
        row_in = np.zeros(nd, dtype=bool)
        np.logical_or.at(row_in, db.ring_drow[shell_sel], part_in[db.ring_part[shell_sel]])
        dmin = np.where(row_in, 0.0, dmin)
    # epsilon band: the slow path snaps near-boundary points to 0 with
    # coordinate-scaled tolerances — recompute anything suspiciously close
    scale = np.maximum.reduceat(
        np.abs(db.coords).max(axis=1), db.row_start[db.row_npt > 0]
    ) if (db.row_npt > 0).any() else np.empty(0)
    eps_row = np.full(nd, 1e-9)
    eps_row[db.row_npt > 0] += 1e-9 * scale
    needs = (dmin > 0.0) & (dmin < eps_row)
    empty_row = ~has
    # NaN mins (empty-point members inside a non-empty geometry) defer to
    # the slow path's exact empty-part handling
    needs |= np.isnan(dmin) & has
    out = np.where(empty_row, np.nan, dmin)
    dist[db.idx] = out
    fb[db.idx] = needs | empty_row
    return dist, fb


def batch_point_closest(px, py, db):
    """Closest point ON the decoded geometries to per-row query points.

    Returns (cx, cy, ok, fb) over INPUT rows: ok marks rows with a valid
    result; fb marks rows the caller must recompute per row (epsilon
    boundary band, exact-distance ties between DISTINCT candidate
    locations — the slow path breaks those by its own sweep order — and
    empty/NaN cases). Interior/touching rows return the query point
    itself, matching closest_points' intersection branch for point
    arguments."""
    nd = len(db.idx)
    cx = np.full(db.n, np.nan)
    cy = np.full(db.n, np.nan)
    ok = np.zeros(db.n, dtype=bool)
    fb = np.zeros(db.n, dtype=bool)
    if nd == 0:
        return cx, cy, ok, fb
    npts = db.ring_npt
    nseg = np.maximum(npts - 1, 1)
    ends = np.cumsum(npts)
    starts = ends - npts
    sstart = np.repeat(starts, nseg) + _ranges(nseg)
    send = np.minimum(sstart + 1, np.repeat(ends - 1, nseg))
    ax = db.coords[sstart, 0]
    ay = db.coords[sstart, 1]
    bx = db.coords[send, 0]
    by = db.coords[send, 1]
    seg_drow = np.repeat(db.ring_drow, nseg)
    seg_dim = np.repeat(db.ring_dim, nseg)
    segcnt = np.bincount(seg_drow, minlength=nd)
    qxf = np.asarray(px, dtype=np.float64)[db.idx]
    qyf = np.asarray(py, dtype=np.float64)[db.idx]
    qx = np.repeat(qxf, segcnt)
    qy = np.repeat(qyf, segcnt)
    dx = bx - ax
    dy = by - ay
    L2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.clip(((qx - ax) * dx + (qy - ay) * dy) / np.where(L2, L2, 1.0), 0.0, 1.0)
    candx = ax + t * dx
    candy = ay + t * dy
    d = np.hypot(qx - candx, qy - candy)
    has = segcnt > 0
    rs = np.cumsum(segcnt) - segcnt
    dmin = np.full(nd, np.inf)
    if has.any():
        dmin[has] = np.minimum.reduceat(d, rs[has])
    # interior parity (same per-part semantics as batch_point_distance)
    row_in = np.zeros(nd, dtype=bool)
    poly = seg_dim == 2
    if poly.any():
        R = len(db.ring_npt)
        seg_ring = np.repeat(np.arange(R, dtype=np.int64), nseg)
        crossed = ((ay > qy) != (by > qy))
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = ax + (qy - ay) / np.where(by - ay, by - ay, 1.0) * dx
        hit = poly & crossed & (xi > qx)
        ring_par = (np.bincount(seg_ring[hit], minlength=R) & 1).astype(bool)
        ring_par &= db.ring_npt >= 4
        nparts = int(db.ring_part.max()) + 1 if R else 0
        shell_odd = np.zeros(nparts, dtype=bool)
        hole_odd = np.zeros(nparts, dtype=bool)
        shell_sel = (db.ring_dim == 2) & (db.ring_role == 0)
        hole_sel = (db.ring_dim == 2) & (db.ring_role == 1)
        shell_odd[db.ring_part[shell_sel]] = ring_par[shell_sel]
        np.logical_or.at(hole_odd, db.ring_part[hole_sel], ring_par[hole_sel])
        part_in = shell_odd & ~hole_odd
        np.logical_or.at(
            row_in, db.ring_drow[shell_sel], part_in[db.ring_part[shell_sel]]
        )
    # first segment attaining the min, and tie spread over candidates
    dmin_rep = np.repeat(dmin, segcnt)
    tied = d == dmin_rep
    pos = np.arange(len(d), dtype=np.int64)
    big = len(d)
    first = np.full(nd, -1, dtype=np.int64)
    if has.any():
        first[has] = np.minimum.reduceat(np.where(tied, pos, big), rs[has])
    tiecnt = np.bincount(seg_drow[tied], minlength=nd)
    spreadx = np.zeros(nd)
    spready = np.zeros(nd)
    multi = tiecnt > 1
    if multi.any():
        hi = np.where(tied, candx, -np.inf)
        lo = np.where(tied, candx, np.inf)
        spreadx[has] = np.maximum.reduceat(hi, rs[has]) - np.minimum.reduceat(lo, rs[has])
        hi = np.where(tied, candy, -np.inf)
        lo = np.where(tied, candy, np.inf)
        spready[has] = np.maximum.reduceat(hi, rs[has]) - np.minimum.reduceat(lo, rs[has])
    # per-decoded-row results; rows with no attained min (NaN distances,
    # empty geometries) keep first out of range and are fallback rows
    if big:
        good_first = (first >= 0) & (first < big)
        safe = np.clip(first, 0, big - 1)
        rx = np.where(
            row_in | (dmin == 0.0), qxf, np.where(good_first, candx[safe], np.nan)
        )
        ry = np.where(
            row_in | (dmin == 0.0), qyf, np.where(good_first, candy[safe], np.nan)
        )
    else:  # no segments at all: every row is empty -> fallback/None
        rx = np.full(nd, np.nan)
        ry = np.full(nd, np.nan)
    scale = np.maximum.reduceat(
        np.abs(db.coords).max(axis=1), db.row_start[db.row_npt > 0]
    ) if (db.row_npt > 0).any() else np.empty(0)
    eps_row = np.full(nd, 1e-9)
    eps_row[db.row_npt > 0] += 1e-9 * scale
    needs = (dmin > 0.0) & (dmin < eps_row)
    needs |= multi & ((spreadx != 0.0) | (spready != 0.0)) & ~row_in & (dmin > 0.0)
    needs |= np.isnan(dmin) & has
    needs |= ~has
    cx[db.idx] = rx
    cy[db.idx] = ry
    ok[db.idx] = ~needs
    fb[db.idx] = needs
    return cx, cy, ok, fb


def batch_line_locate(px, py, db):
    """ST_LineLocatePoint: fraction of length at the nearest point on each
    row's FIRST >=2-point linestring part (line_locate_point semantics).
    Returns (frac, ok) over input rows; ok False where the row has no such
    part (caller emits null) or the query point is NaN."""
    nd = len(db.idx)
    frac = np.full(db.n, np.nan)
    ok = np.zeros(db.n, dtype=bool)
    if nd == 0:
        return frac, ok
    R = len(db.ring_npt)
    mask = (db.ring_dim == 1) & (db.ring_npt >= 2)
    ring_cnt = np.bincount(db.ring_drow, minlength=nd)
    ring_rs = np.cumsum(ring_cnt) - ring_cnt
    cand = np.where(mask, np.arange(R, dtype=np.int64), R)
    first_ring = np.full(nd, R, dtype=np.int64)
    hasr = ring_cnt > 0
    if hasr.any():
        first_ring[hasr] = np.minimum.reduceat(cand, ring_rs[hasr])
    sel = first_ring[first_ring < R]
    rows = np.flatnonzero(first_ring < R)          # decoded-row ordinals
    if len(sel) == 0:
        return frac, ok
    ends = np.cumsum(db.ring_npt)
    starts = ends - db.ring_npt
    npt = db.ring_npt[sel]
    nseg = npt - 1
    sstart = np.repeat(starts[sel], nseg) + _ranges(nseg)
    ax = db.coords[sstart, 0]
    ay = db.coords[sstart, 1]
    bx = db.coords[sstart + 1, 0]
    by = db.coords[sstart + 1, 1]
    qx = np.repeat(np.asarray(px, dtype=np.float64)[db.idx][rows], nseg)
    qy = np.repeat(np.asarray(py, dtype=np.float64)[db.idx][rows], nseg)
    dx = bx - ax
    dy = by - ay
    L2 = dx * dx + dy * dy
    seglen = np.hypot(dx, dy)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(
            L2 == 0.0, 0.0,
            np.clip(((qx - ax) * dx + (qy - ay) * dy) / np.where(L2, L2, 1.0), 0.0, 1.0),
        )
    d = np.hypot(qx - (ax + t * dx), qy - (ay + t * dy))
    srs = np.cumsum(nseg) - nseg
    dmin = np.minimum.reduceat(d, srs)
    pos = np.arange(len(d), dtype=np.int64)
    big = len(d)
    first = np.minimum.reduceat(np.where(d == np.repeat(dmin, nseg), pos, big), srs)
    # cumulative length before the winning segment, within its ring:
    # cum[k-1] - cum[ring_start-1] via the cum[x] - seglen[x] identity
    cum = np.cumsum(seglen)
    total = np.add.reduceat(seglen, srs)
    good = (first >= 0) & (first < big) & ~np.isnan(dmin)
    safe = np.clip(first, 0, max(big - 1, 0))
    before = (cum[safe] - seglen[safe]) - (cum[srs] - seglen[srs])
    val = before + t[safe] * seglen[safe]
    with np.errstate(divide="ignore", invalid="ignore"):
        res = np.where(total == 0.0, 0.0, val / np.where(total, total, 1.0))
    out_rows = db.idx[rows]
    frac[out_rows] = np.where(good, res, np.nan)
    ok[out_rows] = good
    return frac, ok


def _ranges(counts):
    """[0..c0-1, 0..c1-1, ...] for int counts (vectorized)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    out = np.arange(total, dtype=np.int64)
    out -= np.repeat(ends - counts, counts)
    return out


def batch_rebuild(db, vals, new_coords):
    """Re-emit each decoded row's WKB with its coordinates replaced by the
    matching rows of ``new_coords`` ((P, 2), same layout as db.coords).
    Structure bytes are reused verbatim, so output is byte-identical to
    re-serializing the slow path's Geom for canonical inputs. Returns a
    list[bytes|None] of length db.n."""
    out = [None] * db.n
    raw = memoryview(np.ascontiguousarray(new_coords, dtype="<f8").tobytes())
    R = len(db.ring_npt)
    starts = np.cumsum(db.ring_npt) - db.ring_npt
    j = 0
    for d, i in enumerate(db.idx):
        ba = bytearray(vals[i])
        while j < R and db.ring_drow[j] == d:
            o = db.ring_off[j]
            s0 = starts[j] << 4
            nb = db.ring_npt[j] << 4
            ba[o:o + nb] = raw[s0:s0 + nb]
            j += 1
        out[i] = bytes(ba)
    return out


def batch_affine(db, vals, a, b, d, e, xoff, yoff):
    """x' = a*x + b*y + xoff ; y' = d*x + e*y + yoff per input row
    (coefficients are scalars or per-input-row arrays), spliced back into
    the original WKB structure. algorithms.affine_transform parity."""
    def pick(v):
        arr = np.asarray(v, dtype=np.float64)
        if arr.ndim == 0:
            arr = np.full(db.n, float(arr))
        return np.repeat(arr[db.idx], db.row_npt)

    pa, pb, pd_, pe, pxo, pyo = map(pick, (a, b, d, e, xoff, yoff))
    x = db.coords[:, 0]
    y = db.coords[:, 1]
    nc = np.column_stack((pa * x + pb * y + pxo, pd_ * x + pe * y + pyo))
    return batch_rebuild(db, vals, nc)
