"""ST_* registry tests through real Spark SQL + Column API."""

import math
import warnings

import pytest
from pyspark.sql import Row, functions as F

from geoarrow_rs_spark import functions as stf


@pytest.fixture(scope="module")
def golden(spark):
    rows = [
        Row(id=0, wkt="POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))"),
        Row(
            id=1,
            wkt="POLYGON ((35 10, 45 45, 15 40, 10 20, 35 10), (20 30, 35 35, 30 20, 20 30))",
        ),
        Row(id=2, wkt=None),
        Row(id=3, wkt="POLYGON EMPTY"),
    ]
    return spark.createDataFrame(rows).withColumn("geom", F.expr("ST_GeomFromWKT(wkt)"))


def test_area_golden_sql(golden):
    # area.rs:73-93 golden values through the full Spark path
    out = {r["id"]: r["a"] for r in golden.selectExpr("id", "ST_Area(geom) AS a").collect()}
    assert out[0] == 550.0
    assert out[1] == 675.0
    assert out[2] is None or math.isnan(out[2])
    assert out[3] == 0.0


def test_wkt_roundtrip_sql(golden):
    out = golden.selectExpr("id", "ST_AsText(geom) AS wkt2", "wkt").collect()
    for r in out:
        if r["wkt"] is None:
            assert r["wkt2"] is None
        else:
            assert r["wkt2"].replace(", ", ",") == r["wkt"].replace(", ", ",")


def test_point_accessors(spark):
    df = spark.range(5).selectExpr(
        "id",
        "ST_Point(CAST(id AS DOUBLE), CAST(id*2 AS DOUBLE)) AS p",
    )
    rows = df.selectExpr("ST_X(p) AS x", "ST_Y(p) AS y", "ST_GeometryType(p) AS t").collect()
    for i, r in enumerate(rows):
        assert r["x"] == float(i)
        assert r["y"] == float(2 * i)
        assert r["t"] == "ST_Point"


def test_distance_and_makeline(spark):
    df = spark.createDataFrame([Row(x1=0.0, y1=0.0, x2=3.0, y2=4.0)])
    r = df.selectExpr(
        "ST_Distance(ST_Point(x1,y1), ST_Point(x2,y2)) AS d",
        "ST_Length(ST_MakeLine(ST_Point(x1,y1), ST_Point(x2,y2))) AS l",
    ).collect()[0]
    assert r["d"] == 5.0
    assert r["l"] == 5.0


def test_predicates_sql(spark):
    df = spark.createDataFrame([Row(dummy=1)])
    r = df.selectExpr(
        "ST_Intersects(ST_GeomFromWKT('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'), ST_Point(5.0, 5.0)) AS i",
        "ST_Contains(ST_GeomFromWKT('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'), ST_Point(15.0, 5.0)) AS c",
        "ST_Within(ST_Point(5.0, 5.0), ST_GeomFromWKT('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')) AS w",
    ).collect()[0]
    assert r["i"] is True
    assert r["c"] is False
    assert r["w"] is True


def test_envelope_bbox_dump(spark):
    df = spark.createDataFrame([Row(wkt="MULTIPOINT (1 2, 5 9, -3 4)")])
    r = df.selectExpr(
        "ST_BBox(ST_GeomFromWKT(wkt)) AS b",
        "ST_Area(ST_Envelope(ST_GeomFromWKT(wkt))) AS a",
        "size(ST_Dump(ST_GeomFromWKT(wkt))) AS n",
        "ST_NumGeometries(ST_GeomFromWKT(wkt)) AS ng",
    ).collect()[0]
    assert r["b"]["xmin"] == -3.0 and r["b"]["ymax"] == 9.0
    assert r["a"] == 8 * 7
    assert r["n"] == 3 and r["ng"] == 3


def test_transforms_sql(spark):
    df = spark.createDataFrame([Row(wkt="POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")])
    r = df.selectExpr(
        "ST_Area(ST_Scale(ST_GeomFromWKT(wkt), 2.0, 2.0)) AS sa",
        "ST_XMin(ST_Translate(ST_GeomFromWKT(wkt), 5.0, 0.0)) AS tx",
        "ST_Area(ST_ClipByBox2D(ST_GeomFromWKT(wkt), 5.0, 5.0, 20.0, 20.0)) AS ca",
    ).collect()[0]
    assert r["sa"] == 400.0
    assert r["tx"] == 5.0
    assert r["ca"] == 25.0


def test_buffer_quadsegs_defaults_to_8(spark):
    """The two-argument PostGIS form ST_Buffer(geom, width) uses quadsegs 8,
    for points (vectorized path) and polygons (per-row path)."""
    df = spark.createDataFrame([
        Row(id=0, wkt="POINT (1 2)"),
        Row(id=1, wkt="POLYGON ((0 0, 4 0, 4 3, 0 0))"),
        Row(id=2, wkt=None),
    ]).selectExpr("id", "ST_GeomFromWKT(wkt) AS g")
    out = df.selectExpr(
        "id", "ST_Buffer(g, 5D) AS two",
        "ST_Buffer(g, 5D, 8) AS three",
    ).orderBy("id").collect()
    assert [r["two"] for r in out] == [r["three"] for r in out]
    assert out[0]["two"] is not None and out[2]["two"] is None


def test_geojson_roundtrip(spark):
    df = spark.createDataFrame([Row(wkt="LINESTRING (0 0, 10 0, 10 10)")])
    r = df.selectExpr(
        "ST_AsGeoJSON(ST_GeomFromWKT(wkt)) AS gj",
    ).collect()[0]
    assert '"type":"LineString"' in r["gj"]
    r2 = df.selectExpr(
        "ST_Length(ST_GeomFromGeoJSON(ST_AsGeoJSON(ST_GeomFromWKT(wkt)))) AS l"
    ).collect()[0]
    assert r2["l"] == 20.0


def test_column_api(spark, golden=None):
    df = spark.range(3).select(
        stf.st_point(F.col("id").cast("double"), F.lit(1.0)).alias("p")
    )
    out = df.select(stf.st_x("p").alias("x")).collect()
    assert [r["x"] for r in out] == [0.0, 1.0, 2.0]


def test_extent_union_agg(spark):
    df = spark.createDataFrame(
        [Row(grp=1, x=1.0, y=2.0), Row(grp=1, x=5.0, y=-1.0), Row(grp=2, x=0.0, y=0.0)]
    ).selectExpr("grp", "ST_Point(x, y) AS p")
    rows = {
        r["grp"]: r
        for r in df.groupBy("grp")
        .agg(
            F.expr("ST_Extent_Agg(p) AS ext"),
            F.expr("ST_NumGeometries(ST_Union_Agg(p)) AS n"),
        )
        .collect()
    }
    assert rows[1]["ext"] == [1.0, -1.0, 5.0, 2.0]
    assert rows[1]["n"] == 2
    assert rows[2]["n"] == 1


def test_register_functions_warns_nothing(spark):
    """Every pandas UDF is declared by type hints, not by the deprecated
    PandasUDFType (SPARK-28264), so registering raises no UserWarning."""
    from geoarrow_rs_spark.functions.registry import register_functions

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        register_functions(spark.newSession())
    assert [w for w in caught if issubclass(w.category, UserWarning)] == []


def test_geohash(spark):
    df = spark.createDataFrame([Row(x=-5.6, y=42.6)])
    r = df.selectExpr("ST_GeoHash(ST_Point(x, y), 5) AS gh").collect()[0]
    assert r["gh"] == "ezs42"


def test_null_propagation(spark):
    df = spark.createDataFrame([Row(wkt=None)], schema="wkt string")
    r = df.selectExpr(
        "ST_Area(ST_GeomFromWKT(wkt)) AS a",
        "ST_Intersects(ST_GeomFromWKT(wkt), ST_Point(1.0, 1.0)) AS i",
        "ST_AsText(ST_GeomFromWKT(wkt)) AS t",
    ).collect()[0]
    assert r["a"] is None or math.isnan(r["a"])
    assert r["i"] is None
    assert r["t"] is None


def test_bbox_native_exprs(spark):
    from geoarrow_rs_spark.functions import bbox_intersects_expr, bbox_struct_expr

    df = spark.createDataFrame(
        [Row(xmin=0.0, ymin=0.0, xmax=1.0, ymax=1.0), Row(xmin=5.0, ymin=5.0, xmax=6.0, ymax=6.0)]
    ).select(bbox_struct_expr("xmin", "ymin", "xmax", "ymax").alias("bbox"))
    hits = df.filter(bbox_intersects_expr("bbox", 0.5, 0.5, 2.0, 2.0)).count()
    assert hits == 1


def test_simplify_vw_preserve_topology():
    """simplify_vw_preserve.rs:19 parity: a vertex whose removal would make
    the new segment cross another live segment is kept; plain VW removes it."""
    from geoarrow_rs_spark.wkb import from_wkt, to_wkt
    from geoarrow_rs_spark.wkb import algorithms as alg

    ml = from_wkt("MULTILINESTRING ((0 0, 5 2, 10 0), (7 -1, 7 1))")
    assert to_wkt(alg.simplify_vw(ml, 10.5)) == "MULTILINESTRING ((0 0, 10 0), (7 -1, 7 1))"
    assert (
        to_wkt(alg.simplify_vw_preserve(ml, 10.5))
        == "MULTILINESTRING ((0 0, 5 2, 10 0), (7 -1, 7 1))"
    )
    # polygons stay valid across a sweep of tolerances
    poly = from_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 5.2 10, 4.6 1, 4.4 9.8, 0 9.6, 0 0))"
    )
    for eps in (0.5, 3.0, 8.0, 30.0):
        assert alg.is_valid(alg.simplify_vw_preserve(poly, eps))
    # tiny epsilon is identity
    assert to_wkt(alg.simplify_vw_preserve(poly, 1e-12)) == to_wkt(poly)


def test_line_substring_vertices_and_edges():
    """ST_LineSubstring keeps interior vertices and handles edge fractions."""
    from geoarrow_rs_spark.wkb import from_wkt, to_wkt
    from geoarrow_rs_spark.wkb import algorithms as alg

    bent = from_wkt("LINESTRING (0 0, 10 0, 10 10)")  # total length 20
    sub = alg.line_substring(bent, 0.25, 0.75)
    assert to_wkt(sub) == "LINESTRING (5 0, 10 0, 10 5)"
    assert alg.length(sub) == pytest.approx(10.0)
    # full range is identity, inverted range empty, equal fractions -> point
    assert to_wkt(alg.line_substring(bent, 0.0, 1.0)) == to_wkt(bent)
    assert alg.line_substring(bent, 0.8, 0.2).is_empty()
    assert to_wkt(alg.line_substring(bent, 0.5, 0.5)) == "POINT (10 0)"


def test_geohash_decode_roundtrip():
    from geoarrow_rs_spark.wkb import algorithms as alg

    for lon, lat in [(2.3522, 48.8566), (-122.42, 37.77), (151.2, -33.87), (0.0, 0.0)]:
        gh = alg.geohash_encode(lon, lat, 9)
        dlon, dlat, elon, elat = alg.geohash_decode(gh)
        assert abs(dlon - lon) <= elon
        assert abs(dlat - lat) <= elat
        # re-encoding the center reproduces the hash
        assert alg.geohash_encode(dlon, dlat, 9) == gh


def test_closest_point_and_shortest_line():
    from geoarrow_rs_spark.wkb import from_wkt, to_wkt
    from geoarrow_rs_spark.wkb import algorithms as alg

    seg = from_wkt("LINESTRING (0 0, 10 0)")
    pt = from_wkt("POINT (3 4)")
    assert to_wkt(alg.closest_point(seg, pt)) == "POINT (3 0)"
    assert to_wkt(alg.shortest_line(seg, pt)) == "LINESTRING (3 0, 3 4)"
    assert alg.length(alg.shortest_line(seg, pt)) == pytest.approx(4.0)
    # beyond the end: clamps to the endpoint
    far = from_wkt("POINT (15 2)")
    assert to_wkt(alg.closest_point(seg, far)) == "POINT (10 0)"
    # polygon to polygon
    a = from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    b = from_wkt("POLYGON ((5 0, 7 0, 7 2, 5 2, 5 0))")
    sl = alg.shortest_line(a, b)
    assert alg.length(sl) == pytest.approx(3.0)
    assert alg.length(sl) == pytest.approx(alg.distance(a, b))
    # intersecting -> coincident points, zero length
    c = from_wkt("POLYGON ((1 1, 6 1, 6 1.5, 1 1.5, 1 1))")
    assert alg.length(alg.shortest_line(a, c)) == pytest.approx(0.0)


def test_point_in_polygon_expr_matches_pudf(spark):
    """Native constant-polygon ray cast == pUDF ST_Within / ST_Intersects on
    a concave polygon, over a grid that includes vertices, edges, interior
    notch, and far-outside points."""
    from pyspark.sql import functions as F

    from geoarrow_rs_spark.functions.registry import point_in_polygon_expr

    # concave "L" shape, vertices on integers
    ring = [(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)]
    wkt = "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
    pts = [
        (x * 0.5, y * 0.5) for x in range(-2, 11) for y in range(-2, 11)
    ]
    df = spark.createDataFrame(pts, ["x", "y"])
    out = df.select(
        "x",
        "y",
        point_in_polygon_expr("x", "y", ring, boundary="exclude").alias("native_in"),
        point_in_polygon_expr("x", "y", ring, boundary="include").alias("native_cov"),
        F.expr(f"ST_Within(ST_Point(x, y), ST_GeomFromWKT('{wkt}'))").alias("pudf_in"),
        F.expr(f"ST_Intersects(ST_Point(x, y), ST_GeomFromWKT('{wkt}'))").alias("pudf_cov"),
    ).collect()
    for r in out:
        assert r.native_in == r.pudf_in, (r.x, r.y, r.native_in, r.pudf_in)
        assert r.native_cov == r.pudf_cov, (r.x, r.y, r.native_cov, r.pudf_cov)


def test_spatial_join_bbox_refine_matches_exact(spark):
    """refine='bbox' (pure codegen) returns the same pairs as refine='exact'
    for points-vs-envelopes, and rejects non-intersects predicates."""
    import pytest as _pytest

    from geoarrow_rs_spark.join import spatial_join

    pts = spark.range(300).selectExpr(
        "id AS pid",
        "ST_Point(CAST(id % 50 AS DOUBLE), CAST(id % 37 AS DOUBLE)) AS geometry",
        "named_struct('xmin', CAST(id % 50 AS DOUBLE), 'ymin', CAST(id % 37 AS DOUBLE), "
        "'xmax', CAST(id % 50 AS DOUBLE), 'ymax', CAST(id % 37 AS DOUBLE)) AS bbox",
    )
    boxes = spark.range(20).selectExpr(
        "id AS bid",
        "ST_MakeEnvelope(CAST(id * 2 AS DOUBLE), CAST(id AS DOUBLE), "
        "CAST(id * 2 + 10 AS DOUBLE), CAST(id + 8 AS DOUBLE)) AS box_geom",
        "named_struct('xmin', CAST(id * 2 AS DOUBLE), 'ymin', CAST(id AS DOUBLE), "
        "'xmax', CAST(id * 2 + 10 AS DOUBLE), 'ymax', CAST(id + 8 AS DOUBLE)) AS box_bbox",
    )
    kw = dict(
        left_geom="geometry", right_geom="box_geom",
        predicate="intersects", strategy="grid", cell_size=8.0,
    )
    exact = {
        (r.pid, r.bid)
        for r in spatial_join(pts, boxes, **kw).select("pid", "bid").collect()
    }
    fast = spatial_join(
        pts, boxes, refine="bbox", left_bbox="bbox", right_bbox="box_bbox", **kw
    ).select("pid", "bid")
    # once the unused geometry columns are pruned, the whole join is native
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    got = {(r.pid, r.bid) for r in fast.collect()}
    assert got == exact and len(exact) > 0
    with _pytest.raises(ValueError):
        spatial_join(pts, boxes, refine="bbox", left_geom="geometry",
                     right_geom="box_geom", predicate="within")


def test_snap_and_split():
    from geoarrow_rs_spark.wkb import from_wkt, to_wkt
    from geoarrow_rs_spark.wkb import algorithms as alg

    line = from_wkt("LINESTRING (0 0, 10 0)")
    # split by on-line point
    out = alg.split(line, from_wkt("POINT (4 0)"))
    assert to_wkt(out) == "GEOMETRYCOLLECTION (LINESTRING (0 0, 4 0), LINESTRING (4 0, 10 0))"
    # off-line point: no split
    out = alg.split(line, from_wkt("POINT (4 2)"))
    assert to_wkt(out) == "GEOMETRYCOLLECTION (LINESTRING (0 0, 10 0))"
    # crossing blade
    out = alg.split(line, from_wkt("LINESTRING (5 -1, 5 1)"))
    assert to_wkt(out) == "GEOMETRYCOLLECTION (LINESTRING (0 0, 5 0), LINESTRING (5 0, 10 0))"
    # multipoint blade, multiple cuts, order-independent
    out = alg.split(line, from_wkt("MULTIPOINT (7 0, 2 0)"))
    assert (
        to_wkt(out)
        == "GEOMETRYCOLLECTION (LINESTRING (0 0, 2 0), LINESTRING (2 0, 7 0), LINESTRING (7 0, 10 0))"
    )
    # blade at endpoints: no split
    out = alg.split(line, from_wkt("MULTIPOINT (0 0, 10 0)"))
    assert to_wkt(out) == "GEOMETRYCOLLECTION (LINESTRING (0 0, 10 0))"
    # polygon-boundary blade
    out = alg.split(line, from_wkt("POLYGON ((3 -1, 6 -1, 6 1, 3 1, 3 -1))"))
    assert (
        to_wkt(out)
        == "GEOMETRYCOLLECTION (LINESTRING (0 0, 3 0), LINESTRING (3 0, 6 0), LINESTRING (6 0, 10 0))"
    )

    # snap: vertex pull + edge insertion
    g = from_wkt("LINESTRING (0 0.2, 10 0)")
    ref = from_wkt("MULTIPOINT (0 0, 5 0.3)")
    out = alg.snap(g, ref, 0.5)
    assert to_wkt(out) == "LINESTRING (0 0, 5 0.3, 10 0)"
    # out of tolerance: unchanged
    out = alg.snap(g, ref, 0.05)
    assert to_wkt(out) == "LINESTRING (0 0.2, 10 0)"
    # polygon ring stays closed after snapping
    poly = from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10.4, 0 0))")
    out = alg.snap(poly, from_wkt("POINT (0 10)"), 0.5)
    assert to_wkt(out) == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"


def test_subdivide_invariants():
    """Pieces partition the input: areas sum exactly (integer coords), every
    piece respects the vertex budget, bboxes stay inside the parent."""
    from geoarrow_rs_spark.wkb import from_wkt
    from geoarrow_rs_spark.wkb import algorithms as alg

    shapes = [
        "POLYGON ((0 0, 40 0, 40 6, 22 6, 22 20, 0 20, 0 0))",  # L-shape
        "POLYGON ((0 0, 30 0, 30 30, 0 30, 0 0), (10 10, 20 10, 20 20, 10 20, 10 10))",  # hole
        "MULTIPOLYGON (((0 0, 12 0, 12 4, 0 4, 0 0)), ((20 0, 34 0, 34 8, 20 8, 20 0)))",
    ]
    for wkt in shapes:
        g = alg.densify(from_wkt(wkt), 1.0)
        total = alg.area(g)
        out = alg.subdivide(g, 16)
        pieces = list(out.data)
        assert len(pieces) > 1
        assert sum(alg.area(p) for p in pieces) == pytest.approx(total, rel=1e-12)
        b = alg.bounds(g)
        for p in pieces:
            assert len(alg.all_coords(p)) <= 16
            pb = alg.bounds(p)
            assert pb[0] >= b[0] - 1e-9 and pb[2] <= b[2] + 1e-9
            assert pb[1] >= b[1] - 1e-9 and pb[3] <= b[3] + 1e-9
    # small geometry is returned whole
    simple = from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    out = alg.subdivide(simple, 16)
    assert len(out.data) == 1 and alg.area(out.data[0]) == 16.0


def test_line_merge():
    from geoarrow_rs_spark.wkb import from_wkt, to_wkt
    from geoarrow_rs_spark.wkb import algorithms as alg

    # chain + stray
    out = alg.line_merge(from_wkt("MULTILINESTRING ((0 0, 3 0), (3 0, 3 2), (5 5, 5 9))"))
    assert to_wkt(out) == "MULTILINESTRING ((0 0, 3 0, 3 2), (5 5, 5 9))"
    # full merge with reversal -> single LineString
    out = alg.line_merge(from_wkt("MULTILINESTRING ((3 0, 0 0), (3 0, 3 2))"))
    assert to_wkt(out) in ("LINESTRING (3 2, 3 0, 0 0)", "LINESTRING (0 0, 3 0, 3 2)")
    # three collinear segments
    out = alg.line_merge(from_wkt("MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (2 0, 3 0))"))
    assert to_wkt(out) == "LINESTRING (0 0, 1 0, 2 0, 3 0)"
    # degree-3 junction blocks merging (PostGIS rule)
    out = alg.line_merge(from_wkt("MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (1 0, 1 5))"))
    assert out.kind == 5 and len(out.data) == 3
    # closed loop merges into one ring-shaped line
    out = alg.line_merge(from_wkt("MULTILINESTRING ((0 0, 1 0), (1 0, 1 1), (1 1, 0 0))"))
    assert out.kind == 2
    assert alg.length(out) == pytest.approx(2.0 + 2 ** 0.5)
    # single linestring passes through
    ls = from_wkt("LINESTRING (0 0, 5 5)")
    assert to_wkt(alg.line_merge(ls)) == "LINESTRING (0 0, 5 5)"


def test_centroid_and_bbox_batch_fast_paths(spark):
    """Vectorized centroid/bbox batch paths agree with the per-row kernels
    on points, linestrings, and single-ring polygons (incl. a degenerate
    zero-area ring falling back to per-row)."""
    import pandas as pd

    from geoarrow_rs_spark.functions import kernels as K
    from geoarrow_rs_spark.wkb import from_wkt, to_wkb, from_wkb
    from geoarrow_rs_spark.wkb import algorithms as alg

    polys = [
        to_wkb(from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")),
        None,
        to_wkb(from_wkt("POLYGON ((1 1, 7.5 1.25, 6 9, 1 6.5, 1 1))")),
        to_wkb(from_wkt("POLYGON ((2 2, 5 2, 5 5, 2 5, 2 2))")),
    ]
    out = K.k_centroid(pd.Series(polys, dtype=object))
    for v, w in zip(polys, out):
        if v is None:
            assert w is None
            continue
        exp = alg.centroid(from_wkb(v))
        got = from_wkb(w)
        assert got.data[0] == pytest.approx(exp.data[0], rel=1e-12)
        assert got.data[1] == pytest.approx(exp.data[1], rel=1e-12)
    bb = K.k_bbox_struct(pd.Series(polys, dtype=object))
    assert bb["xmin"][0] == 0.0 and bb["ymax"][2] == 9.0 and bb["xmax"][3] == 5.0

    lines = [
        to_wkb(from_wkt("LINESTRING (0 0, 10 2, -3 4)")),
        to_wkb(from_wkt("LINESTRING (5 5, 6 6)")),
    ]
    bb = K.k_bbox_struct(pd.Series(lines, dtype=object))
    assert (bb["xmin"][0], bb["xmax"][0], bb["ymax"][0]) == (-3.0, 10.0, 4.0)
    assert bb["ymin"][1] == 5.0

    pts = [to_wkb(from_wkt("POINT (3 7)")), None]
    out = K.k_centroid(pd.Series(pts, dtype=object))
    assert from_wkb(out[0]).data[0] == 3.0 and out[1] is None
    # degenerate ring (zero area): falls back to the per-row path
    degen = [to_wkb(from_wkt("POLYGON ((0 0, 2 0, 4 0, 0 0)))".replace(")))", "))")))]
    out = K.k_centroid(pd.Series(degen, dtype=object))
    exp = alg.centroid(from_wkb(degen[0]))
    got = from_wkb(out[0])
    assert got.is_empty() == exp.is_empty()
    if not exp.is_empty():
        assert got.data[0] == pytest.approx(exp.data[0])


def test_length_batch_fast_path():
    import pandas as pd

    from geoarrow_rs_spark.functions import kernels as K
    from geoarrow_rs_spark.wkb import from_wkt, to_wkb
    from geoarrow_rs_spark.wkb import algorithms as alg

    lines = [
        to_wkb(from_wkt("LINESTRING (0 0, 3 4)")),
        None,
        to_wkb(from_wkt("LINESTRING (0 0, 1 0, 1 7.25, -2 7.25)")),
        to_wkb(from_wkt("LINESTRING (5 5, 5 5)")),
    ]
    from geoarrow_rs_spark.wkb import from_wkb

    out = K.k_length(pd.Series(lines, dtype=object))
    for v, got in zip(lines, out):
        if v is None:
            assert math.isnan(got)
        else:
            assert got == pytest.approx(alg.length(from_wkb(v)), rel=1e-12)


def test_force_dimension_casts():
    import pandas as pd

    from geoarrow_rs_spark.functions import kernels as K
    from geoarrow_rs_spark.wkb import from_wkb, from_wkt, to_wkb

    def run(fn, wkt, *args):
        s = pd.Series([None if wkt is None else to_wkb(from_wkt(wkt))], dtype=object)
        out = fn(s, *args) if args else fn(s)
        return None if out[0] is None else from_wkb(out[0])

    # Force2D: drops Z and M on every kind, keeps XY values
    g = run(K.k_force_2d, "LINESTRING ZM (1 2 3 4, 5 6 7 8)")
    assert (not g.has_z) and (not g.has_m)
    assert g.data.tolist() == [[1.0, 2.0], [5.0, 6.0]]
    g = run(K.k_force_2d, "POLYGON Z ((0 0 9, 4 0 9, 4 4 9, 0 0 9))")
    assert not g.has_z and g.data[0].shape == (4, 2)
    g = run(K.k_force_2d, "MULTIPOLYGON Z (((0 0 1, 2 0 1, 2 2 1, 0 0 1)))")
    assert not g.has_z and g.data[0][0].shape == (4, 2)
    g = run(K.k_force_2d, "GEOMETRYCOLLECTION (POINT Z (1 2 3), LINESTRING M (0 0 5, 1 1 6))")
    assert all((not p.has_z) and (not p.has_m) for p in g.data)
    assert run(K.k_force_2d, "POINT (1 2)").data.tolist() == [1.0, 2.0]
    assert run(K.k_force_2d, None) is None
    assert run(K.k_force_2d, "LINESTRING Z EMPTY").is_empty()

    # Force3D: adds constant Z to 2D, preserves existing Z, drops M
    g = run(K.k_force_3d, "LINESTRING (0 0, 1 1)", pd.Series([7.0]))
    assert g.has_z and not g.has_m
    assert g.data.tolist() == [[0.0, 0.0, 7.0], [1.0, 1.0, 7.0]]
    g = run(K.k_force_3d, "LINESTRING ZM (1 2 3 4, 5 6 7 8)", pd.Series([0.0]))
    assert g.has_z and not g.has_m
    assert g.data.tolist() == [[1.0, 2.0, 3.0], [5.0, 6.0, 7.0]]
    g = run(K.k_force_3d, "LINESTRING M (1 2 4, 5 6 8)", pd.Series([2.5]))
    assert g.data.tolist() == [[1.0, 2.0, 2.5], [5.0, 6.0, 2.5]]
    g = run(K.k_force_3d, "POLYGON ((0 0, 4 0, 4 4, 0 0))", pd.Series([1.5]))
    assert g.has_z and g.data[0].shape == (4, 3) and g.data[0][0][2] == 1.5
    g = run(
        K.k_force_3d,
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 0)))",
        pd.Series([3.0]),
    )
    assert g.has_z and g.data[0][0][0][2] == 3.0
    g = run(K.k_force_3d, "GEOMETRYCOLLECTION (POINT (1 2))", pd.Series([9.0]))
    assert g.data[0].has_z and g.data[0].data.tolist() == [1.0, 2.0, 9.0]

    # ForceCollection: wraps parts; collections pass through
    g = run(K.k_force_collection, "MULTIPOINT (1 1, 2 2)")
    assert g.type_name == "GeometryCollection" and len(g.data) == 2
    g = run(K.k_force_collection, "POINT (1 2)")
    assert g.type_name == "GeometryCollection" and len(g.data) == 1
    g = run(K.k_force_collection, "GEOMETRYCOLLECTION (POINT (1 2))")
    assert g.type_name == "GeometryCollection" and len(g.data) == 1
