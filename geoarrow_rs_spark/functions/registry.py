"""Function registry: every kernel registered for SQL (`spark.sql("ST_...")`)
and usable from the Column API via :mod:`geoarrow_rs_spark.functions`.

Mirrors the reference's Python function surface
(/root/reference/python/geoarrow-compute/python/geoarrow/rust/compute/_compute.pyi)
re-expressed as Spark SQL functions, like ``spark.udf.register`` entries.

Design notes (scale):
- Kernels are Arrow-batched pandas UDFs (JVM->Arrow->numpy, no per-row Python
  boundary crossings beyond geometry parse).
- bbox predicates are **native column expressions** (see ``bbox_intersects_expr``)
  so Catalyst pushes them to Parquet row-group stats — the same trick as the
  reference's spatial pushdown
  (/root/reference/rust/geoparquet/src/reader/spatial_filter.rs:167-181).
- ``ST_Extent_Agg`` is a grouped-agg pandas UDF; at scale prefer the native
  min/max aggregation in :func:`geoarrow_rs_spark.ops.table.total_bounds`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from . import kernels as K

BBOX_SCHEMA = StructType(
    [
        StructField("xmin", DoubleType()),
        StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("ymax", DoubleType()),
    ]
)

# name -> (kernel fn, return type)
_SCALAR_UDFS = {
    # constructors / conversions
    "ST_Point": (K.k_point, BinaryType()),
    "ST_MakePoint": (K.k_point, BinaryType()),
    "ST_PointZ": (K.k_point_z, BinaryType()),
    "ST_MakeEnvelope": (K.k_make_envelope, BinaryType()),
    "ST_PolygonFromEnvelope": (K.k_make_envelope, BinaryType()),
    "ST_MakeLine": (K.k_make_line, BinaryType()),
    "ST_Collect": (K.k_collect_two, BinaryType()),
    "ST_GeomFromWKT": (K.k_geom_from_wkt, BinaryType()),
    "ST_GeomFromText": (K.k_geom_from_wkt, BinaryType()),
    "ST_AsText": (K.k_as_wkt, StringType()),
    "ST_AsWKT": (K.k_as_wkt, StringType()),
    "ST_GeomFromWKB": (K.k_geom_from_wkb, BinaryType()),
    "ST_GeomFromEWKB": (K.k_geom_from_ewkb, BinaryType()),
    "ST_GeomFromNative": (K.k_from_native, BinaryType()),
    "ST_AsGeoJSON": (K.k_as_geojson, StringType()),
    "ST_GeomFromGeoJSON": (K.k_geom_from_geojson, BinaryType()),
    "ST_Multi": (K.k_multi, BinaryType()),
    "ST_GeometryN": (K.k_geometry_n, BinaryType()),
    "ST_CollectionExtract": (K.k_collection_extract, BinaryType()),
    "ST_CastToSingle": (K.k_cast_single, BinaryType()),
    "ST_Force2D": (K.k_force_2d, BinaryType()),
    "ST_Force3D": (K.k_force_3d, BinaryType()),
    "ST_ForceCollection": (K.k_force_collection, BinaryType()),
    "ST_StartPoint": (K.k_start_point, BinaryType()),
    "ST_EndPoint": (K.k_end_point, BinaryType()),
    "ST_ExteriorRing": (K.k_exterior_ring, BinaryType()),
    "ST_Boundary": (K.k_boundary, BinaryType()),
    "ST_Dump": (K.k_dump, ArrayType(BinaryType())),
    "ST_SetSRID": (K.k_set_srid, BinaryType()),
    "ST_SRID": (K.k_srid, IntegerType()),
    "ST_GeoHash": (K.k_geohash, StringType()),
    "ST_GeoHashDecode": (K.k_geohash_decode, BinaryType()),
    "ST_PointFromGeoHash": (K.k_geohash_decode, BinaryType()),
    # accessors / metadata
    "ST_GeometryType": (K.k_geometry_type, StringType()),
    "ST_GeoArrowTypeId": (K.k_type_id, IntegerType()),
    "ST_X": (K.k_x, DoubleType()),
    "ST_Y": (K.k_y, DoubleType()),
    "ST_Z": (K.k_z, DoubleType()),
    "ST_M": (K.k_m, DoubleType()),
    "ST_XMin": (K.k_xmin, DoubleType()),
    "ST_YMin": (K.k_ymin, DoubleType()),
    "ST_XMax": (K.k_xmax, DoubleType()),
    "ST_YMax": (K.k_ymax, DoubleType()),
    "ST_NumGeometries": (K.k_num_geometries, IntegerType()),
    "ST_NPoints": (K.k_npoints, IntegerType()),
    "ST_HasZ": (K.k_has_z, BooleanType()),
    "ST_HasM": (K.k_has_m, BooleanType()),
    "ST_IsEmpty": (K.k_is_empty, BooleanType()),
    "ST_IsValid": (K.k_is_valid, BooleanType()),
    "ST_IsValidReason": (K.k_is_valid_reason, StringType()),
    "ST_IsSimple": (K.k_is_simple, BooleanType()),
    "ST_IsRing": (K.k_is_ring, BooleanType()),
    # measures
    "ST_Area": (K.k_area, DoubleType()),
    "ST_SignedArea": (K.k_signed_area, DoubleType()),
    "ST_AreaSpherical": (K.k_area_spherical, DoubleType()),
    "ST_AreaSpheroid": (K.k_area_spheroid, DoubleType()),
    "ST_PerimeterSpheroid": (K.k_perimeter_spheroid, DoubleType()),
    "ST_Length": (K.k_length, DoubleType()),
    "ST_LengthSphere": (K.k_length_spherical, DoubleType()),
    "ST_LengthSpheroid": (K.k_length_spheroid, DoubleType()),
    "ST_DistanceSpheroid": (K.k_distance_spheroid, DoubleType()),
    "ST_Azimuth": (K.k_azimuth, DoubleType()),
    "ST_Project": (K.k_project, BinaryType()),
    "ST_ProjectSphere": (K.k_project_sphere, BinaryType()),
    "ST_ConcaveHull": (K.k_concave_hull, BinaryType()),
    "ST_LineFromArrays": (K.k_line_from_arrays, BinaryType()),
    "ST_MakePolygon": (K.k_make_polygon, BinaryType()),
    "ST_Perimeter": (K.k_perimeter, DoubleType()),
    # derived geometries
    "ST_Centroid": (K.k_centroid, BinaryType()),
    "ST_Center": (K.k_center, BinaryType()),
    "ST_Envelope": (K.k_envelope, BinaryType()),
    "ST_BBox": (K.k_bbox_struct, BBOX_SCHEMA),
    "ST_ConvexHull": (K.k_convex_hull, BinaryType()),
    "ST_MinimumRotatedRectangle": (K.k_min_rotated_rect, BinaryType()),
    "ST_PointOnSurface": (K.k_interior_point, BinaryType()),
    "ST_InteriorPoint": (K.k_interior_point, BinaryType()),
    "ST_Polylabel": (K.k_polylabel, BinaryType()),
    "ST_Reverse": (K.k_reverse, BinaryType()),
    "ST_FlipCoordinates": (K.k_flip_coordinates, BinaryType()),
    # transforms
    "ST_Simplify": (K.k_simplify, BinaryType()),
    "ST_SimplifyVW": (K.k_simplify_vw, BinaryType()),
    "ST_SimplifyPreserveTopology": (K.k_simplify_vw_preserve, BinaryType()),
    "ST_SimplifyVWPreserve": (K.k_simplify_vw_preserve, BinaryType()),
    "ST_Densify": (K.k_densify, BinaryType()),
    "ST_ChaikinSmoothing": (K.k_chaikin, BinaryType()),
    "ST_RemoveRepeatedPoints": (K.k_remove_repeated, BinaryType()),
    "ST_Buffer": (K.k_buffer, BinaryType()),
    "ST_Translate": (K.k_translate, BinaryType()),
    "ST_Rotate": (K.k_rotate, BinaryType()),
    "ST_Scale": (K.k_scale, BinaryType()),
    "ST_Skew": (K.k_skew, BinaryType()),
    "ST_Affine": (K.k_affine, BinaryType()),
    "ST_ClipByBox2D": (K.k_clip_by_box, BinaryType()),
    "ST_Transform": (K.k_transform, BinaryType()),
    "ST_LineInterpolatePoint": (K.k_line_interpolate_point, BinaryType()),
    "ST_LineSubstring": (K.k_line_substring, BinaryType()),
    # binary predicates / measures
    "ST_Intersects": (K.k_intersects, BooleanType()),
    "ST_IntersectsSphere": (K.k_intersects_sphere, BooleanType()),
    "ST_Contains": (K.k_contains, BooleanType()),
    "ST_Within": (K.k_within, BooleanType()),
    "ST_Disjoint": (K.k_disjoint, BooleanType()),
    "ST_Touches": (K.k_touches, BooleanType()),
    "ST_Crosses": (K.k_crosses, BooleanType()),
    "ST_Overlaps": (K.k_overlaps, BooleanType()),
    "ST_Equals": (K.k_equals, BooleanType()),
    "ST_EqualsExact": (K.k_equals_exact, BooleanType()),
    "ST_Relate": (K.k_relate, StringType()),
    "ST_RelateMatch": (K.k_relate_pattern, BooleanType()),
    "ST_Covers": (K.k_covers, BooleanType()),
    "ST_CoveredBy": (K.k_covered_by, BooleanType()),
    "ST_Intersection": (K.k_intersection, BinaryType()),
    "ST_Union": (K.k_union2, BinaryType()),
    "ST_Difference": (K.k_difference, BinaryType()),
    "ST_SymDifference": (K.k_sym_difference, BinaryType()),
    "ST_Distance": (K.k_distance, DoubleType()),
    "ST_DWithin": (K.k_dwithin, BooleanType()),
    "ST_ClosestPoint": (K.k_closest_point, BinaryType()),
    "ST_ShortestLine": (K.k_shortest_line, BinaryType()),
    "ST_Snap": (K.k_snap, BinaryType()),
    "ST_Split": (K.k_split, BinaryType()),
    "ST_Subdivide": (K.k_subdivide, BinaryType()),
    "ST_LineMerge": (K.k_line_merge, BinaryType()),
    "ST_DistanceSphere": (K.k_distance_sphere, DoubleType()),
    "ST_DWithinSphere": (K.k_dwithin_sphere, BooleanType()),
    "ST_FrechetDistance": (K.k_frechet, DoubleType()),
    "ST_HausdorffDistance": (K.k_hausdorff, DoubleType()),
    "ST_LineLocatePoint": (K.k_line_locate_point, DoubleType()),
    # fused construction->stat composites (one ArrowEvalPython node for a
    # whole chain; see the composite section at the end of kernels.py)
    "ST_BoxPairStats": (
        K.k_box_pair_stats,
        StructType(
            [
                StructField("area", DoubleType()),
                StructField("perimeter", DoubleType()),
                StructField("cx", DoubleType()),
                StructField("cy", DoubleType()),
                StructField("hull_area", DoubleType()),
            ]
        ),
    ),
    "ST_TransformXY": (
        K.k_transform_xy,
        StructType(
            [StructField("x", DoubleType()), StructField("y", DoubleType())]
        ),
    ),
    "ST_TransformRoundtripXY": (
        K.k_transform_rt_xy,
        StructType(
            [
                StructField("fx", DoubleType()),
                StructField("fy", DoubleType()),
                StructField("ix", DoubleType()),
                StructField("iy", DoubleType()),
            ]
        ),
    ),
    "ST_DistanceXY": (K.k_distance_xy, DoubleType()),
    "ST_SubdivideBoxStatsXY": (
        K.k_subdivide_box_stats_xy,
        ArrayType(
            StructType(
                [
                    StructField("area", DoubleType()),
                    StructField("xmin", DoubleType()),
                ]
            )
        ),
    ),
    "ST_EnvelopeAreasXY": (
        K.k_envelope_areas_xy,
        StructType(
            [
                StructField("spheroid", DoubleType()),
                StructField("spherical", DoubleType()),
            ]
        ),
    ),
    "ST_SegIntersectsXY": (K.k_seg_intersects_xy, BooleanType()),
    "ST_SegIntersectsSphereXY": (K.k_seg_intersects_sphere_xy, BooleanType()),
    "ST_PointArcDistanceSphereXY": (K.k_pt_arc_distance_sphere_xy, DoubleType()),
    "ST_PointArcDWithinSphereXY": (K.k_pt_arc_dwithin_sphere_xy, BooleanType()),
}

_registered_sessions = set()

# expensive array-returning composites that feed posexplode: see the
# asNondeterministic note in register_functions
_NONDETERMINISTIC_MARK = {"ST_SubdivideBoxStatsXY"}

_DEDUP_PROBE = 512  # strided sample rows screened for a repeated key


def _dedup_wrap(fn):
    """Batch-level value dedup for a pure kernel, the one value dedup of
    the ST_* kernels: every ST_* scalar kernel is a deterministic function
    of its argument VALUES, and real batches are often highly repetitive
    (tiled envelopes, admin polygons, grid cells, CASE literals, constant
    parameters). When at most half of the batch's argument tuples are
    distinct, the kernel runs once per distinct tuple and the results
    scatter back positionally — byte-identical output, decode and kernel
    cost paid per distinct value instead of per row. The rule looks at
    the whole batch, at any batch size; a strided sample of at most 512
    rows with no repeated key first sends unique batches straight to the
    kernel, so they pay ~0.2 ms per 8k rows instead of a full key build.

    Calls the raw kernel on: struct args (DataFrame), unhashable args
    (arrays), and batches with more than n/2 distinct tuples. Float
    columns key on their IEEE-754 bit pattern (8-byte slices of the raw
    buffer), so 0.0 and -0.0 never merge (a WKB constructor writes the
    sign bit) and equal NaN payloads merge safely (same input bits ->
    same kernel output).
    """

    def _keys_of(c, rows):
        # float dtypes: bit-pattern keys (0.0 != -0.0, NaN == same-bits NaN)
        a = c.to_numpy()[rows]
        if a.dtype.kind == "f":
            raw = np.ascontiguousarray(a).tobytes()
            w = a.dtype.itemsize
            return [raw[i * w:(i + 1) * w] for i in range(len(a))]
        return list(a)

    def _tuples(cols, rows):
        if len(cols) == 1:
            return _keys_of(cols[0], rows)
        return list(zip(*(_keys_of(c, rows) for c in cols)))

    def wrapped(*cols):
        n = len(cols[0]) if cols else 0
        if n == 0 or any(isinstance(c, pd.DataFrame) for c in cols):
            return fn(*cols)
        step = -(-n // _DEDUP_PROBE)
        try:
            sample = _tuples(cols, slice(None, None, step))
            if len(set(sample)) == len(sample):
                return fn(*cols)
            keys = sample if step == 1 else _tuples(cols, slice(None))
            uniq = {}
            order = []  # first-occurrence row index per distinct key
            for i, k in enumerate(keys):
                if k not in uniq:
                    uniq[k] = len(uniq)
                    order.append(i)
        except TypeError:  # unhashable argument (array columns)
            return fn(*cols)
        if len(uniq) * 2 > n:
            return fn(*cols)
        u_cols = [c.iloc[order].reset_index(drop=True) for c in cols]
        res = fn(*u_cols)
        idx = [uniq[k] for k in keys]
        return res.take(idx).reset_index(drop=True)

    return wrapped


def _extent_agg(s: pd.Series) -> list:
    """Grouped-agg: union of bboxes -> [xmin,ymin,xmax,ymax]."""
    from ..wkb import algorithms as alg
    from ..wkb.core import from_wkb

    xmin = ymin = np.inf
    xmax = ymax = -np.inf
    for v in s:
        if v is None:
            continue
        b = alg.bounds(from_wkb(v))
        if b is None:
            continue
        xmin, ymin = min(xmin, b[0]), min(ymin, b[1])
        xmax, ymax = max(xmax, b[2]), max(ymax, b[3])
    if xmin > xmax:
        return None
    return [xmin, ymin, xmax, ymax]


def _union_agg(s: pd.Series) -> bytes:
    """Grouped-agg: combine geometries into one Multi*/Collection (merge-only
    union — no dissolve; matches collecting semantics, and is exact for
    disjoint inputs)."""
    from ..wkb import core as wc

    parts = []
    for v in s:
        if v is None:
            continue
        g = wc.from_wkb(v)
        if g is not None and not g.is_empty():
            parts.extend(wc.iter_parts(g))
    if not parts:
        return None
    kinds = {p.kind for p in parts}
    if kinds == {wc.POINT}:
        return wc.to_wkb(wc.multipoint(np.vstack([p.data[:2] for p in parts])))
    if kinds == {wc.LINESTRING}:
        return wc.to_wkb(wc.Geom(wc.MULTILINESTRING, [p.data for p in parts]))
    if kinds == {wc.POLYGON}:
        return wc.to_wkb(wc.Geom(wc.MULTIPOLYGON, [p.data for p in parts]))
    return wc.to_wkb(wc.collection(parts))


def register_functions(spark):
    """Register all ST_* functions with the session (idempotent)."""
    key = id(spark)
    if key in _registered_sessions:
        return spark
    for name, (fn, rtype) in _SCALAR_UDFS.items():
        udf = F.pandas_udf(_dedup_wrap(fn), rtype)
        if name in _NONDETERMINISTIC_MARK:
            # guide §4.4: generator-feeding UDFs get duplicated when the
            # optimizer pushes the Generate's inferred size()/isnotnull
            # filter below the projection that computes them; marking them
            # non-deterministic forces a single evaluation (the kernels
            # ARE deterministic — this only constrains the optimizer)
            udf = udf.asNondeterministic()
        spark.udf.register(name, udf)
    # Series -> scalar type hints make these grouped-agg pandas UDFs
    spark.udf.register("ST_Extent_Agg", F.pandas_udf(_extent_agg, ArrayType(DoubleType())))
    spark.udf.register("ST_Union_Agg", F.pandas_udf(_union_agg, BinaryType()))
    _registered_sessions.add(key)
    return spark


# ---------------------------------------------------------------------------
# native (non-UDF) expressions — stay inside WholeStageCodegen
# ---------------------------------------------------------------------------

def bbox_struct_expr(xmin, ymin, xmax, ymax):
    """Build a covering struct column from plain doubles (native)."""
    return F.struct(
        F.col(xmin).alias("xmin") if isinstance(xmin, str) else xmin.alias("xmin"),
        F.col(ymin).alias("ymin") if isinstance(ymin, str) else ymin.alias("ymin"),
        F.col(xmax).alias("xmax") if isinstance(xmax, str) else xmax.alias("xmax"),
        F.col(ymax).alias("ymax") if isinstance(ymax, str) else ymax.alias("ymax"),
    )


def bbox_intersects_expr(bbox_col, xmin, ymin, xmax, ymax):
    """Native rect-overlap predicate on a covering struct column. Pushes to
    Parquet row-group stats (spatial_filter.rs:167-181 equivalent)."""
    b = F.col(bbox_col) if isinstance(bbox_col, str) else bbox_col
    return (
        (b["xmin"] <= F.lit(xmax))
        & (b["xmax"] >= F.lit(xmin))
        & (b["ymin"] <= F.lit(ymax))
        & (b["ymax"] >= F.lit(ymin))
    )


def intersects_with_pretest(geom_col, query_wkt: str, bbox_col: str | None = None):
    """SURVEY §4 predicate rewrite (geo_ext.rs:140-148 parity):
    ``ST_Intersects(g, Q)`` expands to
    ``bbox_overlap(bbox, env(Q)) AND ST_Intersects(g, Q)``.

    The native bbox conjunct is pushed by Catalyst into the Parquet scan
    (row-group stats pruning), so the exact-predicate pandas UDF only runs
    on the bbox-surviving minority — the reference's two-stage spatial
    filter, expressed as plain Spark predicates. Requires a covering bbox
    struct column for the pretest; without one the exact test runs alone
    (an ST_BBox pretest would itself be a UDF and save nothing)."""
    from ..wkb import from_wkt, to_wkb
    from ..wkb import algorithms as alg

    q = from_wkt(query_wkt)
    exact = F.call_udf("ST_Intersects", F.col(geom_col), F.lit(to_wkb(q)))
    if bbox_col is None:
        return exact
    xmin, ymin, xmax, ymax = alg.bounds(q)
    return bbox_intersects_expr(bbox_col, xmin, ymin, xmax, ymax) & exact


def extent_agg_expr(geom_col, alias: str = "extent"):
    """Native extent aggregation: ST_BBox once (scalar pUDF), then codegen'd
    min/max with map-side partial aggregation. Use this instead of the
    ``ST_Extent_Agg`` grouped-agg UDF in hot paths — the UDF shuffles raw WKB
    to Python per group; this shuffles four doubles with partial combine."""
    b = F.expr(f"ST_BBox({geom_col})")
    return F.array(
        F.min(b["xmin"]), F.min(b["ymin"]), F.max(b["xmax"]), F.max(b["ymax"])
    ).alias(alias)


def point_in_polygon_expr(x, y, ring, boundary: str = "exclude"):
    """Native (codegen) point-in-CONSTANT-polygon predicate — the scalable
    geofencing primitive: at 100 TB a constant-region filter must compile to
    whole-stage-codegen arithmetic, not a per-row WKB pandas UDF.

    ``ring`` is a Python list of (x, y) vertex tuples (closed or open; the
    closing edge is implied). Concave rings are supported (even-odd ray
    cast). ``boundary``: "exclude" (ST_Within semantics: interior only) or
    "include" (ST_Intersects/ST_Covers semantics).

    Exactness: crossing parity uses only comparisons and one multiply-compare
    per edge (same IEEE doubles in any engine); the on-edge test is exact
    cross-product arithmetic — both reproducible in plain SQL for oracles.
    Reference semantics: geo's coord_pos_relative_to_ring
    (/root/reference/rust/geoarrow-expr-geo/src/util/mod.rs equivalent).
    """
    px = F.col(x) if isinstance(x, str) else x
    py = F.col(y) if isinstance(y, str) else y
    pts = [(float(a), float(b)) for a, b in ring]
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    n = len(pts)
    crossing_terms = []
    on_edge_terms = []
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        # Even-odd rule, half-open in y so a vertex hit counts once:
        # edge crosses the upward ray iff (y1 > py) != (y2 > py) and the
        # intersection x lies strictly right of px. The division is
        # rearranged into a multiply so the expression stays exact-compare
        # friendly (sign handled by the parity of the y test).
        if y1 != y2:
            cond = (F.lit(y1) > py) != (F.lit(y2) > py)
            # x_int > px  <=>  (x1 + (py-y1)*(x2-x1)/(y2-y1)) > px
            lhs = (F.lit(x1) - px) * F.lit(y2 - y1) + (py - F.lit(y1)) * F.lit(x2 - x1)
            xgt = F.when(F.lit(y2 - y1) > 0, lhs > 0).otherwise(lhs < 0)
            crossing_terms.append((cond & xgt).cast("int"))
        # exact on-segment: collinear (cross == 0) and within the edge bbox
        cross = (F.lit(x2 - x1)) * (py - F.lit(y1)) - (F.lit(y2 - y1)) * (px - F.lit(x1))
        on_edge_terms.append(
            (cross == 0)
            & (px >= F.lit(min(x1, x2)))
            & (px <= F.lit(max(x1, x2)))
            & (py >= F.lit(min(y1, y2)))
            & (py <= F.lit(max(y1, y2)))
        )
    parity_odd = (sum(crossing_terms[1:], crossing_terms[0]) % 2) == 1
    on_boundary = on_edge_terms[0]
    for t in on_edge_terms[1:]:
        on_boundary = on_boundary | t
    if boundary == "include":
        return parity_odd | on_boundary
    return parity_odd & ~on_boundary


def bbox_overlap_expr(b1, b2):
    """Native rect-overlap between two covering struct columns (join cond)."""
    a = F.col(b1) if isinstance(b1, str) else b1
    b = F.col(b2) if isinstance(b2, str) else b2
    return (
        (a["xmin"] <= b["xmax"])
        & (a["xmax"] >= b["xmin"])
        & (a["ymin"] <= b["ymax"])
        & (a["ymax"] >= b["ymin"])
    )
