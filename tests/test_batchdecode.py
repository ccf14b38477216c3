"""Fast-path parity: batchdecode vectorized kernels vs the per-row Geom
slow path, over randomized mixed-type WKB batches.

The decode path activates exactly when a batch is all plain XY
little-endian WKB of types 1..6; these tests build such batches from every
supported shape (including empties, holes, zero-length lines, unclosed
rings) and require the vectorized results to match the algorithms.*
answers to tight tolerance (identical term sets, summation order differs).
"""

import math
import os
import random

import numpy as np
import pandas as pd
import pytest

from geoarrow_rs_spark.functions import batchdecode as bd
from geoarrow_rs_spark.functions import kernels as K
from geoarrow_rs_spark.wkb import algorithms as alg
from geoarrow_rs_spark.wkb import core as wc
from geoarrow_rs_spark.wkb.core import Geom, from_wkb, to_wkb


def _ring(cx, cy, r, n, rng, close=True):
    ang = np.sort(rng.uniform(0, 2 * math.pi, n))
    pts = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    if close:
        pts = np.vstack([pts, pts[:1]])
    return pts


def _random_geom(rng):
    k = rng.integers(0, 10)
    if k == 0:
        return wc.point(rng.uniform(-50, 50), rng.uniform(-50, 50))
    if k == 1:  # empty point
        return wc.empty(wc.POINT)
    if k == 2:
        return Geom(wc.LINESTRING, rng.uniform(-50, 50, (int(rng.integers(2, 8)), 2)))
    if k == 3:  # zero-length line
        p = rng.uniform(-50, 50, 2)
        return Geom(wc.LINESTRING, np.stack([p, p]))
    if k == 4:  # polygon, maybe with a hole
        shell = _ring(0, 0, 10, int(rng.integers(3, 9)), rng)
        rings = [shell]
        if rng.random() < 0.5:
            rings.append(_ring(0, 0, 2, 4, rng))
        return Geom(wc.POLYGON, rings)
    if k == 5:  # unclosed-ring polygon (tolerated invalid input)
        return Geom(wc.POLYGON, [_ring(5, 5, 3, 5, rng, close=False)])
    if k == 6:
        return wc.multipoint(rng.uniform(-50, 50, (int(rng.integers(1, 5)), 2)))
    if k == 7:
        return Geom(
            wc.MULTILINESTRING,
            [rng.uniform(-50, 50, (int(rng.integers(2, 6)), 2))
             for _ in range(int(rng.integers(1, 4)))],
        )
    if k == 8:
        polys = []
        for i in range(int(rng.integers(1, 4))):
            rings = [_ring(i * 30, 0, 8, int(rng.integers(3, 7)), rng)]
            if rng.random() < 0.4:
                rings.append(_ring(i * 30, 0, 1.5, 4, rng))
            polys.append(rings)
        return Geom(wc.MULTIPOLYGON, polys)
    return None  # null row


@pytest.fixture(scope="module")
def batch():
    rng = np.random.default_rng(42)
    geoms = [_random_geom(rng) for _ in range(300)]
    # make sure every shape family is present
    geoms += [
        wc.empty(wc.LINESTRING), wc.empty(wc.POLYGON),
        wc.empty(wc.MULTIPOINT), wc.empty(wc.MULTILINESTRING),
        wc.empty(wc.MULTIPOLYGON),
    ]
    return geoms, pd.Series([to_wkb(g) for g in geoms], dtype=object)


def test_decode_activates_on_mixed_batch(batch):
    geoms, s = batch
    db = bd.decode_batch(list(s))
    assert db is not None
    assert len(db.idx) == sum(g is not None for g in geoms)


def test_decode_bails_on_unsupported():
    z = to_wkb(wc.point(1.0, 2.0, 3.0))
    assert bd.decode_batch([z]) is None
    # GeometryCollections decode now, flagged so consumers can decline
    coll = to_wkb(wc.collection([wc.point(0, 0), wc.point(1, 1)]))
    db = bd.decode_batch([coll])
    assert db is not None and db.has_gc and db.row_npt.tolist() == [2]
    from geoarrow_rs_spark.functions.kernels import decoded_of

    assert decoded_of([coll]) is None  # default: GC batches decline
    assert decoded_of([coll], allow_gc=True) is not None
    be = b"\x00" + to_wkb(wc.point(0, 0))[1:]  # big-endian marker
    assert bd.decode_batch([be]) is None
    assert bd.decode_batch([b"\x01\x01\x00\x00"]) is None  # truncated


def test_decode_cache_content_keyed(batch):
    _, s = batch
    a = bd.decode_batch_cached(list(s))
    b = bd.decode_batch_cached([bytes(v) if v is not None else None for v in s])
    assert a is b  # equal content, distinct objects -> same decode


def test_area_parity(batch):
    geoms, s = batch
    got = np.asarray(K.k_area(s))
    want = np.asarray(
        [alg.area(g) if g is not None else np.nan for g in geoms], dtype=np.float64
    )
    assert np.allclose(got, want, rtol=1e-12, atol=1e-9, equal_nan=True)


def test_signed_area_parity(batch):
    geoms, s = batch
    got = np.asarray(K.k_signed_area(s))
    want = np.asarray(
        [alg.signed_area(g) if g is not None else np.nan for g in geoms],
        dtype=np.float64,
    )
    assert np.allclose(got, want, rtol=1e-12, atol=1e-9, equal_nan=True)


def test_length_parity(batch):
    geoms, s = batch
    got = np.asarray(K.k_length(s))
    want = np.asarray(
        [alg.length(g) if g is not None else np.nan for g in geoms], dtype=np.float64
    )
    assert np.allclose(got, want, rtol=1e-12, atol=1e-9, equal_nan=True)


def test_perimeter_parity(batch):
    geoms, s = batch
    got = np.asarray(K.k_perimeter(s))
    want = np.asarray(
        [alg.perimeter(g) if g is not None else np.nan for g in geoms],
        dtype=np.float64,
    )
    assert np.allclose(got, want, rtol=1e-12, atol=1e-9, equal_nan=True)


def _pt_xy(b):
    if b is None:
        return None
    g = from_wkb(b)
    if g.is_empty():
        return "empty"
    return (float(g.data[0]), float(g.data[1]))


def test_centroid_parity(batch):
    geoms, s = batch
    got = [_pt_xy(b) for b in K.k_centroid(s)]
    want = [_pt_xy(to_wkb(alg.centroid(g)) if g is not None else None) for g in geoms]
    for gv, wv in zip(got, want):
        if isinstance(wv, tuple):
            assert isinstance(gv, tuple)
            assert math.isclose(gv[0], wv[0], rel_tol=1e-12, abs_tol=1e-9)
            assert math.isclose(gv[1], wv[1], rel_tol=1e-12, abs_tol=1e-9)
        else:
            assert gv == wv


def test_bbox_struct_parity(batch):
    geoms, s = batch
    got = K.k_bbox_struct(s)
    for i, g in enumerate(geoms):
        b = alg.bounds(g) if g is not None else None
        if b is None:
            assert np.isnan(got["xmin"][i])
        else:
            assert np.allclose(
                [got["xmin"][i], got["ymin"][i], got["xmax"][i], got["ymax"][i]],
                b, rtol=1e-15,
            )


def test_convex_hull_parity(batch):
    geoms, s = batch
    got = list(K.k_convex_hull(s))
    want = [to_wkb(alg.convex_hull(g)) for g in geoms]
    assert got == want  # identical algorithm on identical coords -> same bytes


def test_envelope_center_parity(batch):
    geoms, s = batch
    assert list(K.k_envelope(s)) == [
        to_wkb(alg.envelope(g)) if g is not None else None for g in geoms
    ]
    assert list(K.k_center(s)) == [
        to_wkb(alg.center(g)) if g is not None else None for g in geoms
    ]


def test_uniform_multipolygon_batch():
    """The countries-shaped case: every row a MultiPolygon with holes."""
    rng = np.random.default_rng(7)
    geoms = []
    for _ in range(200):
        polys = []
        for i in range(int(rng.integers(1, 5))):
            rings = [_ring(i * 25, 0, 9, int(rng.integers(4, 40)), rng)]
            for _ in range(int(rng.integers(0, 3))):
                rings.append(_ring(i * 25, 0, 1.0 + rng.random(), 5, rng))
            polys.append(rings)
        geoms.append(Geom(wc.MULTIPOLYGON, polys))
    s = pd.Series([to_wkb(g) for g in geoms], dtype=object)
    got = np.asarray(K.k_area(s))
    want = np.asarray([alg.area(g) for g in geoms])
    assert np.allclose(got, want, rtol=1e-12)
    gotc = [_pt_xy(b) for b in K.k_centroid(s)]
    wantc = [_pt_xy(to_wkb(alg.centroid(g))) for g in geoms]
    for gv, wv in zip(gotc, wantc):
        assert math.isclose(gv[0], wv[0], rel_tol=1e-9)
        assert math.isclose(gv[1], wv[1], rel_tol=1e-9)
    assert list(K.k_convex_hull(s)) == [to_wkb(alg.convex_hull(g)) for g in geoms]


def test_affine_family_parity(batch):
    """Batch coordinate-splice affine vs the per-row _param_geom_kernel
    slow path — byte-identical output for canonical inputs."""
    geoms, s = batch
    cases = [
        (K.k_translate, K._k_translate_slow, (3.5, -2.25)),
        (K.k_rotate, K._k_rotate_slow, (37.0,)),
        (K.k_scale, K._k_scale_slow, (2.0, 0.5)),
        (K.k_skew, K._k_skew_slow, (15.0, -10.0)),
        (K.k_affine, K._k_affine_slow, (1.5, 0.25, -0.5, 2.0, 10.0, -20.0)),
    ]
    for fast, slow, args in cases:
        got = list(fast(s, *args))
        want = list(slow(s, *args))
        assert got == want, fast

    # per-row parameters
    n = len(s)
    dx = pd.Series(np.arange(n, dtype=np.float64))
    dy = pd.Series(np.arange(n, dtype=np.float64) * -0.5)
    assert list(K.k_translate(s, dx, dy)) == list(K._k_translate_slow(s, dx, dy))

    # a null parameter forces the slow path's per-row None semantics
    dxn = dx.copy()
    dxn[3] = None
    assert list(K.k_translate(s, dxn, dy)) == list(K._k_translate_slow(s, dxn, dy))


def test_flip_and_transform_batch_parity(batch):
    geoms, s = batch
    from geoarrow_rs_spark.wkb import algorithms as _alg

    want = [
        to_wkb(_alg._map_coords(g, lambda xy: xy[:, ::-1])) if g is not None else None
        for g in geoms
    ]
    assert list(K.k_flip_coordinates(s)) == want

    # non-point batch through a real projection: batch splice vs slow path
    want_t = [
        to_wkb(_alg.transform_crs(g, 4326, 3857)) if g is not None else None
        for g in geoms
    ]
    # domain guard: batch coords exceed lat 85 for some random geoms, which
    # mercator clips identically in both paths (same formula)
    got_t = list(K.k_transform(s, "EPSG:4326", "EPSG:3857"))
    assert got_t == want_t


COUNTRIES_FGB = "/root/reference/fixtures/flatgeobuf/countries.fgb"


@pytest.mark.skipif(
    not os.path.exists(COUNTRIES_FGB), reason=f"needs {COUNTRIES_FGB}"
)
def test_real_world_countries_batch(spark):
    """179 real country multipolygons (holes, many rings, mixed Polygon/
    MultiPolygon) through the batch decode path — results must match the
    per-row Geom path exactly."""
    from geoarrow_rs_spark.io import read_flatgeobuf

    df = read_flatgeobuf(spark, COUNTRIES_FGB)
    wkb_vals = [r["geometry"] for r in df.select("geometry").collect()]
    assert len(wkb_vals) == 179
    s = pd.Series(wkb_vals, dtype=object)
    db = bd.decode_batch(wkb_vals)
    assert db is not None, "countries batch must take the decode path"

    geoms = [from_wkb(v) for v in wkb_vals]
    got_area = np.asarray(K.k_area(s))
    want_area = np.asarray([alg.area(g) for g in geoms])
    assert np.allclose(got_area, want_area, rtol=1e-12)

    gotc = [_pt_xy(b) for b in K.k_centroid(s)]
    wantc = [_pt_xy(to_wkb(alg.centroid(g))) for g in geoms]
    for gv, wv in zip(gotc, wantc):
        assert math.isclose(gv[0], wv[0], rel_tol=1e-9, abs_tol=1e-12)
        assert math.isclose(gv[1], wv[1], rel_tol=1e-9, abs_tol=1e-12)

    assert list(K.k_convex_hull(s)) == [to_wkb(alg.convex_hull(g)) for g in geoms]
    assert list(K.k_translate(s, 1.5, -0.5)) == list(K._k_translate_slow(s, 1.5, -0.5))

    got_b = K.k_bbox_struct(s)
    for i, g in enumerate(geoms):
        b = alg.bounds(g)
        assert np.allclose(
            [got_b["xmin"][i], got_b["ymin"][i], got_b["xmax"][i], got_b["ymax"][i]], b
        )


def test_structural_accessors_parity(batch):
    """Type/count/emptiness accessors from the offset structure alone must
    match the per-row Geom path, including empty-geometry conventions."""
    geoms, s = batch
    want_type = [None if g is None else "ST_" + g.type_name for g in geoms]
    assert list(K.k_geometry_type(s)) == want_type
    want_tid = [None if g is None else g.type_id for g in geoms]
    assert [None if pd.isna(v) else int(v) for v in K.k_type_id(s)] == want_tid

    want_np = [None if g is None else int(len(wc.all_coords(g))) for g in geoms]
    assert [None if pd.isna(v) else int(v) for v in K.k_npoints(s)] == want_np

    def ng(g):
        if g is None:
            return None
        if g.is_empty():
            return 0
        return sum(1 for _ in wc.iter_parts(g))

    assert [None if pd.isna(v) else int(v) for v in K.k_num_geometries(s)] == [
        ng(g) for g in geoms
    ]
    assert list(K.k_has_z(s)) == [None if g is None else g.has_z for g in geoms]
    assert list(K.k_has_m(s)) == [None if g is None else g.has_m for g in geoms]
    assert [None if pd.isna(v) else int(v) for v in K.k_srid(s)] == [
        None if g is None else 0 for g in geoms
    ]


def test_reverse_batch_parity(batch):
    geoms, s = batch

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
        return Geom(k, [[r(x) for x in rings] for rings in d], g.has_z, g.has_m)

    assert list(K.k_reverse(s)) == [to_wkb(rev(g)) for g in geoms]


def test_min_rotated_rect_batch_parity(batch):
    geoms, s = batch
    got = list(K.k_min_rotated_rect(s))
    want = [
        to_wkb(alg.minimum_rotated_rect(g)) if g is not None else None for g in geoms
    ]
    assert got == want


def test_point_to_geometry_distance_parity(batch):
    """Vectorized point-to-geometry distance vs alg.distance, including
    interior-of-polygon zeros and the epsilon fallback band."""
    geoms, s = batch
    rng = np.random.default_rng(5)
    n = len(geoms)
    px = rng.uniform(-60, 60, n)
    py = rng.uniform(-60, 60, n)
    # make some query points exact interior/boundary/vertex cases
    for i, g in enumerate(geoms):
        if g is not None and g.kind == wc.POLYGON and g.data and i % 3 == 0:
            px[i], py[i] = 0.0, 0.0  # shell centers are at (0,0) or (5,5)
        if g is not None and g.kind == wc.LINESTRING and len(g.data) and i % 4 == 0:
            px[i], py[i] = g.data[0, 0], g.data[0, 1]  # exact vertex
    pt_s = pd.Series(
        [to_wkb(wc.point(px[i], py[i])) for i in range(n)], dtype=object
    )
    got = np.asarray(K.k_distance(pt_s, s))
    want = np.asarray(
        [
            np.nan if (g is None or (v := alg.distance(from_wkb(b), g)) is None) else v
            for b, g in zip(pt_s, geoms)
        ]
    )
    # identical candidate set; np.hypot vs math.hypot may differ by 1 ulp
    assert np.allclose(got, want, rtol=1e-12, atol=0, equal_nan=True), (
        np.nanmax(np.abs(got - want))
    )
    # symmetric argument order
    got_sym = np.asarray(K.k_distance(s, pt_s))
    assert np.allclose(got_sym, want, rtol=1e-12, atol=0, equal_nan=True)


def test_closest_point_shortest_line_parity(batch):
    geoms, s = batch
    rng = np.random.default_rng(9)
    n = len(geoms)
    px = rng.uniform(-60, 60, n)
    py = rng.uniform(-60, 60, n)
    for i, g in enumerate(geoms):
        if g is not None and g.kind == wc.POLYGON and g.data and i % 3 == 0:
            px[i], py[i] = 0.0, 0.0
        if g is not None and g.kind == wc.LINESTRING and len(g.data) and i % 4 == 0:
            px[i], py[i] = g.data[0, 0], g.data[0, 1]
    pt_s = pd.Series([to_wkb(wc.point(px[i], py[i])) for i in range(n)], dtype=object)

    def want_pt(gfun):
        out = []
        for b, g in zip(pt_s, geoms):
            if g is None:
                out.append(None)
                continue
            r = gfun(g, from_wkb(b))
            out.append(to_wkb(r) if r is not None else None)
        return out

    def close_geom(a, b, tol=1e-9):
        if a is None or b is None:
            return a == b
        ga, gb = from_wkb(a), from_wkb(b)
        ca, cb = wc.all_coords(ga), wc.all_coords(gb)
        return ca.shape == cb.shape and np.allclose(ca, cb, rtol=0, atol=tol)

    got = list(K.k_closest_point(s, pt_s))
    want = want_pt(alg.closest_point)
    for i, (gv, wv) in enumerate(zip(got, want)):
        assert close_geom(gv, wv), (i, geoms[i].kind if geoms[i] else None)

    got = list(K.k_shortest_line(s, pt_s))
    want = want_pt(alg.shortest_line)
    for i, (gv, wv) in enumerate(zip(got, want)):
        assert close_geom(gv, wv), (i, geoms[i].kind if geoms[i] else None)

    # flipped argument order: closest point ON the point side
    got = list(K.k_closest_point(pt_s, s))
    want = [
        None if g is None else (
            to_wkb(r) if (r := alg.closest_point(from_wkb(b), g)) is not None else None
        )
        for b, g in zip(pt_s, geoms)
    ]
    for i, (gv, wv) in enumerate(zip(got, want)):
        assert close_geom(gv, wv), i

    got = list(K.k_shortest_line(pt_s, s))
    want = [
        None if g is None else (
            to_wkb(r) if (r := alg.shortest_line(from_wkb(b), g)) is not None else None
        )
        for b, g in zip(pt_s, geoms)
    ]
    for i, (gv, wv) in enumerate(zip(got, want)):
        assert close_geom(gv, wv), i


def test_line_locate_and_make_line_parity(batch):
    geoms, s = batch
    rng = np.random.default_rng(13)
    n = len(geoms)
    px = rng.uniform(-60, 60, n)
    py = rng.uniform(-60, 60, n)
    pt_s = pd.Series([to_wkb(wc.point(px[i], py[i])) for i in range(n)], dtype=object)
    got = np.asarray(K.k_line_locate_point(s, pt_s))
    want = np.asarray(
        [
            np.nan if (g is None or (v := alg.line_locate_point(g, from_wkb(b))) is None)
            else v
            for b, g in zip(pt_s, geoms)
        ]
    )
    assert np.allclose(got, want, rtol=1e-12, atol=1e-15, equal_nan=True)

    a = pd.Series([to_wkb(wc.point(float(i), 0.0)) for i in range(50)]
                  + [to_wkb(wc.empty(wc.POINT)), None], dtype=object)
    b = pd.Series([to_wkb(wc.point(0.0, float(i))) for i in range(50)]
                  + [to_wkb(wc.point(1.0, 1.0)), to_wkb(wc.point(2.0, 2.0))], dtype=object)
    got_ml = list(K.k_make_line(a, b))
    want_ml = [
        to_wkb(wc.linestring([[float(i), 0.0], [0.0, float(i)]])) for i in range(50)
    ] + [None, None]
    assert got_ml == want_ml


def test_gc_batch_safe_consumers_match_slow_path():
    """GeometryCollection batches through the opted-in kernels (bounds
    family, hulls, affine splice) are byte/value-identical to the per-row
    Geom path; unsafe consumers (area/centroid/num_geometries) keep using
    the slow path and stay correct."""
    import pandas as pd

    gcs = [
        wc.collection([wc.point(0, 0), wc.point(3, 0), wc.point(0, 4)]),
        wc.collection(
            [wc.collection([wc.point(1, 1), wc.point(2, 5)]), wc.point(-1, 0)]
        ),
        wc.collection([
            wc.box(0, 0, 2, 2),
            Geom(wc.LINESTRING, np.array([[0.0, 0.0], [5.0, 5.0]])),
            wc.point(9, 9),
        ]),
    ]
    vals = [to_wkb(g) for g in gcs]
    s = pd.Series(vals, dtype=object)

    db = bd.decode_batch(vals)
    assert db is not None and db.has_gc

    hull_fast = [bytes(v) for v in K.k_convex_hull(s)]
    hull_slow = [to_wkb(alg.convex_hull(g)) for g in gcs]
    assert hull_fast == hull_slow

    env_fast = [bytes(v) for v in K.k_envelope(s)]
    env_slow = [to_wkb(alg.envelope(g)) for g in gcs]
    assert env_fast == env_slow

    tr_fast = [bytes(v) for v in K.k_translate(s, 1.5, -2.0)]
    tr_slow = [
        to_wkb(alg.affine_transform(g, 1.0, 0.0, 0.0, 1.0, 1.5, -2.0))
        for g in gcs
    ]
    assert tr_fast == tr_slow

    # unsafe consumers fall back and still match per-row semantics
    area_got = list(K.k_area(s))
    area_want = [alg.area(g) for g in gcs]
    assert area_got == area_want
    ng = list(K.k_num_geometries(s))
    # iter_parts semantics: recursive single-part count (nested GC flattens)
    assert ng == [3, 3, 3]


def test_degenerate_one_ring_polygons_do_not_depend_on_batch_mix():
    """An unclosed ring and a 2-point ring get the same area, perimeter
    and centroid in a batch of only one-ring polygons (the fixed-layout
    decode) as in a mixed batch (the header walk), and as algorithms.*."""
    geoms = [
        Geom(wc.POLYGON, [np.array([[1.0, 1.0], [5.0, 1.0], [5.0, 4.0]])]),
        Geom(wc.POLYGON, [np.array([[1.0, 1.0], [5.0, 1.0]])]),
    ]
    uniform = pd.Series([to_wkb(g) for g in geoms] + [None], dtype=object)
    mixed = pd.Series(list(uniform) + [to_wkb(wc.point(0.0, 0.0))], dtype=object)
    for kernel, ref in ((K.k_area, alg.area), (K.k_perimeter, alg.perimeter)):
        want = [ref(g) for g in geoms]
        assert list(kernel(uniform))[:2] == want
        assert list(kernel(mixed))[:2] == want
    want = [_pt_xy(to_wkb(alg.centroid(g))) for g in geoms]
    assert want[1] == "empty"
    for s in (uniform, mixed):
        got = [_pt_xy(b) for b in K.k_centroid(s)]
        assert got[1:] == ["empty", None, (0.0, 0.0)][:len(s) - 1]
        assert math.isclose(got[0][0], want[0][0], rel_tol=1e-12)
        assert math.isclose(got[0][1], want[0][1], rel_tol=1e-12)


def _walk_decode(vals, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(bd, "_decode_fixed_layout", lambda v: None)
        return bd.decode_batch(vals)


def _assert_same_decode(a, b):
    for name in bd.DecodedBatch.__slots__:
        x, y = getattr(a, name), getattr(b, name)
        if isinstance(y, np.ndarray):
            assert x.dtype == y.dtype and x.shape == y.shape, name
            assert np.array_equal(x, y, equal_nan=True), name
        else:
            assert x == y, name


def _random_simple(rng, kind):
    npt = int(rng.integers(0, 8))
    if kind == wc.LINESTRING:
        return Geom(wc.LINESTRING, rng.uniform(-50, 50, (npt, 2)))
    return Geom(wc.POLYGON, [_ring(0, 0, 10, npt, rng, close=npt > 2)])


@pytest.mark.parametrize("kind", [wc.LINESTRING, wc.POLYGON], ids=["linestring", "polygon"])
def test_fixed_layout_decode_equals_header_walk(kind, monkeypatch):
    """Random uniform LineString / one-ring Polygon batches with NULLs
    (empty, 1-point, 2-point and unclosed rings included) decode through
    the fixed-layout shortcut to the header walk's tables, slot for slot."""
    rng = np.random.default_rng(11 + kind)
    for _ in range(40):
        vals = [
            None if rng.random() < 0.2 else to_wkb(_random_simple(rng, kind))
            for _ in range(int(rng.integers(1, 60)))
        ]
        want = _walk_decode(vals, monkeypatch)
        assert want is not None
        if any(v is not None for v in vals):
            _assert_same_decode(bd._decode_fixed_layout(vals), want)
        _assert_same_decode(bd.decode_batch(vals), want)


def test_fixed_layout_decode_falls_through(monkeypatch):
    """Batches outside the fixed layout skip the shortcut and return the
    header walk's result (a decode or None)."""
    rng = np.random.default_rng(5)
    lines = [to_wkb(_random_simple(rng, wc.LINESTRING)) for _ in range(6)]
    polys = [
        to_wkb(Geom(wc.POLYGON, [_ring(0, 0, 10, 5, rng)])),
        to_wkb(Geom(wc.POLYGON, [_ring(3, 3, 4, 6, rng)])),
    ]
    holed = to_wkb(Geom(wc.POLYGON, [_ring(0, 0, 10, 6, rng), _ring(0, 0, 2, 4, rng)]))
    bad_count = bytearray(polys[0])
    bad_count[9] += 1
    big_endian = b"\x00\x00\x00\x00\x02" + (2).to_bytes(4, "big") + bytes(32)
    cases = {
        "multi_ring": polys + [None, holed],
        "mixed_types": lines + polys,
        "count_mismatch": [polys[1], bytes(bad_count)],
        "trailing_bytes": [lines[0], lines[1] + b"\x00" * 16],
        "big_endian_first": [big_endian, lines[0]],
        "big_endian_later": [lines[0], big_endian],
        "point_header": [to_wkb(wc.point(1.0, 2.0)), lines[0]],
    }
    for name, vals in cases.items():
        assert bd._decode_fixed_layout(vals) is None, name
        want = _walk_decode(vals, monkeypatch)
        got = bd.decode_batch(vals)
        if want is None:
            assert got is None, name
        else:
            _assert_same_decode(got, want)
    assert bd.decode_batch(cases["multi_ring"]) is not None
    assert bd.decode_batch(cases["count_mismatch"]) is None


def test_make_envelope_bytes_equal_per_row_box():
    rng = np.random.default_rng(3)
    cols = [pd.Series(rng.uniform(-180, 180, 64)) for _ in range(4)]
    for c, i in zip(cols, (3, 10, 10, 40)):
        c[i] = np.nan
    got = list(K.k_make_envelope(*cols))
    want = [
        None if any(np.isnan(v) for v in r) else to_wkb(wc.box(*map(float, r)))
        for r in zip(*cols)
    ]
    assert got == want
    assert sum(v is None for v in got) == 3


def test_collect_two_bytes_equal_per_row_collection(batch):
    geoms, s = batch
    rev = pd.Series(list(s)[::-1], dtype=object)
    got = list(K.k_collect_two(s, rev))
    want = [
        None if a is None or b is None else to_wkb(wc.collection([a, b]))
        for a, b in zip(geoms, geoms[::-1])
    ]
    assert got == want


def test_collection_extract_polygons_bytes_equal_per_row_geom():
    """The header-swap fast path for collections of polygons returns the
    per-row Geom extraction's bytes; rows it cannot swap (an empty
    polygon part, a point part) take the Geom path for the whole batch."""
    rng = np.random.default_rng(9)

    def polys(k):
        return [Geom(wc.POLYGON, [_ring(i * 20, 0, 8, 5, rng)]) for i in range(k)]

    def ref(g):
        parts = [p for p in wc.iter_parts(g) if p.kind == wc.POLYGON and not p.is_empty()]
        if not parts:
            return to_wkb(wc.empty(wc.MULTIPOLYGON))
        return to_wkb(Geom(wc.MULTIPOLYGON, [p.data for p in parts]))

    swappable = [wc.collection(polys(k)) for k in (1, 2, 3)]
    other = swappable + [
        wc.collection(polys(1) + [wc.empty(wc.POLYGON)]),
        wc.collection(polys(2) + [wc.point(1.0, 1.0)]),
    ]
    for geoms in (swappable, other):
        s = pd.Series([to_wkb(g) for g in geoms] + [None], dtype=object)
        got = list(K.k_collection_extract(s, 3))
        assert got == [ref(g) for g in geoms] + [None]
