"""Shapefile and Arrow IPC round-trip tests."""

import os

import pytest
from pyspark.sql import Row


def test_shapefile_roundtrip(spark, tmp_path):
    from geoarrow_rs_spark.io import read_shapefile, write_shapefile

    df = spark.createDataFrame(
        [
            Row(name="pt", value=1, score=1.5, wkt="POINT (3 4)"),
            Row(name="line", value=2, score=2.5, wkt="LINESTRING (0 0, 5 0, 5 5)"),
            Row(
                name="poly",
                value=3,
                score=3.5,
                wkt="POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
            ),
            Row(name="mpoly", value=4, score=4.5,
                wkt="MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))"),
            Row(name="mpt", value=5, score=5.5, wkt="MULTIPOINT (1 1, 2 2)"),
        ]
    ).selectExpr("name", "value", "score", "ST_GeomFromWKT(wkt) AS geometry")
    shp = os.path.join(str(tmp_path), "test.shp")
    write_shapefile(df, shp)
    assert os.path.exists(shp.replace(".shp", ".shx"))
    assert os.path.exists(shp.replace(".shp", ".dbf"))

    back = read_shapefile(spark, shp, shp.replace(".shp", ".dbf"))
    rows = {r["name"]: r for r in back.selectExpr(
        "name", "value", "score",
        "ST_GeometryType(geometry) AS t", "ST_Area(geometry) AS a",
        "ST_Length(geometry) AS l", "ST_NPoints(geometry) AS np").collect()}
    assert len(rows) == 5
    assert rows["pt"]["t"] == "ST_Point"
    assert rows["line"]["l"] == 10.0
    assert rows["poly"]["a"] == 96.0  # 100 - 4 hole
    assert rows["mpoly"]["a"] == 8.0
    assert rows["mpoly"]["t"] == "ST_MultiPolygon"
    assert rows["mpt"]["np"] == 2
    assert rows["poly"]["value"] == 3
    assert rows["line"]["score"] == 2.5


FGB_DIR = "/root/reference/fixtures/flatgeobuf"
COUNTRIES_FGB = f"{FGB_DIR}/countries.fgb"


def _needs(*paths):
    """Skip unless every reference fixture the test reads is on this host."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference fixture absent: {', '.join(missing)}"
    )


@_needs(COUNTRIES_FGB)
def test_flatgeobuf_countries(spark):
    from geoarrow_rs_spark.io import read_flatgeobuf

    df = read_flatgeobuf(spark, f"{FGB_DIR}/countries.fgb")
    assert df.columns == ["id", "name", "geometry"]
    assert df.count() == 179
    r = df.selectExpr(
        "name", "ST_GeometryType(geometry) AS t", "ST_IsValid(geometry) AS v"
    ).where("name = 'Brazil'").collect()[0]
    assert r["t"] == "ST_MultiPolygon"
    # bbox-pruned read: subset of the full read, matches brute-force filter
    bbox = (0.0, 40.0, 20.0, 60.0)
    pruned = read_flatgeobuf(spark, f"{FGB_DIR}/countries.fgb", bbox=bbox)
    names_pruned = {x["name"] for x in pruned.select("name").collect()}
    from geoarrow_rs_spark.functions.registry import bbox_intersects_expr
    from pyspark.sql import functions as F

    brute = (
        df.withColumn("__b", F.expr("ST_BBox(geometry)"))
        .filter(bbox_intersects_expr("__b", *bbox))
    )
    names_brute = {x["name"] for x in brute.select("name").collect()}
    assert names_pruned == names_brute
    assert "France" in names_pruned and "Brazil" not in names_pruned


@_needs(COUNTRIES_FGB)
def test_flatgeobuf_column_projection(spark):
    from geoarrow_rs_spark.io import read_flatgeobuf

    df = read_flatgeobuf(spark, f"{FGB_DIR}/countries.fgb", columns=["name"])
    assert df.columns == ["name", "geometry"]


@_needs(f"{FGB_DIR}/ns-water_water-line_small.fgb", f"{FGB_DIR}/poly00.fgb")
def test_flatgeobuf_lines_and_polys(spark):
    from geoarrow_rs_spark.io import read_flatgeobuf

    lines = read_flatgeobuf(spark, f"{FGB_DIR}/ns-water_water-line_small.fgb")
    assert lines.count() > 0
    t = lines.selectExpr("ST_GeometryType(geometry) AS t").distinct().collect()
    assert all("LineString" in r["t"] for r in t)
    total_len = lines.selectExpr("sum(ST_Length(geometry)) AS s").collect()[0]["s"]
    assert total_len > 0
    poly = read_flatgeobuf(spark, f"{FGB_DIR}/poly00.fgb")
    assert poly.count() > 0
    a = poly.selectExpr("sum(ST_Area(geometry)) AS a").collect()[0]["a"]
    assert a > 0


def test_flatgeobuf_write_roundtrip(spark, tmp_path):
    from geoarrow_rs_spark.io import read_flatgeobuf, write_flatgeobuf

    df = spark.createDataFrame(
        [
            Row(name="pt", score=1.5, n=7, wkt="POINT (3 4)"),
            Row(name="line", score=2.5, n=8, wkt="LINESTRING (0 0, 5 0, 5 5)"),
            Row(name="poly", score=3.5, n=9,
                wkt="POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"),
            Row(name="mpoly", score=4.5, n=10,
                wkt="MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))"),
        ]
    ).selectExpr("name", "score", "CAST(n AS LONG) AS n", "ST_GeomFromWKT(wkt) AS geometry")
    p = os.path.join(str(tmp_path), "rt.fgb")
    # promote_to_multi=False: this test checks TYPE-STABLE round trips
    # (the default matches the reference and promotes X -> MultiX)
    write_flatgeobuf(df, p, promote_to_multi=False)
    back = read_flatgeobuf(spark, p)
    rows = {r["name"]: r for r in back.selectExpr(
        "name", "score", "n",
        "ST_GeometryType(geometry) AS t", "ST_Area(geometry) AS a",
        "ST_Length(geometry) AS l").collect()}
    assert len(rows) == 4
    assert rows["pt"]["t"] == "ST_Point" and rows["pt"]["score"] == 1.5
    assert rows["line"]["l"] == 10.0 and rows["line"]["n"] == 8
    assert rows["poly"]["a"] == 96.0
    assert rows["mpoly"]["a"] == 8.0 and rows["mpoly"]["t"] == "ST_MultiPolygon"


@_needs(COUNTRIES_FGB)
def test_flatgeobuf_rewrite_countries(spark, tmp_path):
    """Read the reference fixture, write with our writer, read back — full
    fidelity on 179 real multipolygons."""
    from geoarrow_rs_spark.io import read_flatgeobuf, write_flatgeobuf

    orig = read_flatgeobuf(spark, f"{FGB_DIR}/countries.fgb")
    p = os.path.join(str(tmp_path), "countries2.fgb")
    write_flatgeobuf(orig, p)
    back = read_flatgeobuf(spark, p)
    assert back.count() == 179
    a1 = orig.selectExpr("round(sum(ST_Area(geometry)), 6) AS a").collect()[0]["a"]
    a2 = back.selectExpr("round(sum(ST_Area(geometry)), 6) AS a").collect()[0]["a"]
    assert a1 == a2
    n1 = {r["name"] for r in orig.select("name").collect()}
    n2 = {r["name"] for r in back.select("name").collect()}
    assert n1 == n2


GP_DIR = "/root/reference/fixtures/geoparquet"


@_needs(
    f"{GP_DIR}/nybb_wkb.parquet",
    f"{GP_DIR}/nybb_wkb_covering.parquet",
    f"{GP_DIR}/nybb_geoarrow.parquet",
)
def test_geoparquet_reference_fixtures_all_encodings(spark):
    """nybb in WKB / WKB+covering / native-multipolygon encodings must yield
    identical geometry (round(area) match across encodings)."""
    from geoarrow_rs_spark.io import read_geoparquet

    sums = {}
    for f in ("nybb_wkb.parquet", "nybb_wkb_covering.parquet", "nybb_geoarrow.parquet"):
        df = read_geoparquet(spark, f"{GP_DIR}/{f}")
        assert df.count() == 5
        sums[f] = df.selectExpr("round(sum(ST_Area(geometry)), 3) AS a").collect()[0]["a"]
    assert len(set(sums.values())) == 1, sums
    names = {
        r["BoroName"]
        for r in read_geoparquet(spark, f"{GP_DIR}/nybb_wkb.parquet")
        .select("BoroName")
        .collect()
    }
    assert "Brooklyn" in names and "Manhattan" in names


@_needs(f"{GP_DIR}/overture_buildings.parquet")
def test_geoparquet_overture_real_world(spark):
    from geoarrow_rs_spark.io import read_geoparquet

    df = read_geoparquet(spark, f"{GP_DIR}/overture_buildings.parquet")
    n = df.count()
    assert n > 0
    kinds = {
        r["t"]
        for r in df.selectExpr("ST_GeometryType(geometry) AS t").distinct().collect()
    }
    assert kinds <= {"ST_Polygon", "ST_MultiPolygon"}
    valid = df.selectExpr("sum(CAST(ST_IsValid(geometry) AS INT)) AS v").collect()[0]["v"]
    assert valid >= n * 0.95


@_needs("/root/reference/fixtures/roads.geojson")
def test_geojson_wholefile_roads(spark):
    from geoarrow_rs_spark.io import read_geojson

    df = read_geojson(spark, "/root/reference/fixtures/roads.geojson")
    n = df.count()
    assert n > 0
    t = df.selectExpr("ST_GeometryType(geometry) AS t").distinct().collect()
    assert {r["t"] for r in t} == {"ST_LineString"}
    assert df.selectExpr("sum(ST_NPoints(geometry)) AS s").collect()[0]["s"] > n


def test_accessor_functions(spark):
    df = spark.createDataFrame(
        [Row(wkt="MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 9 5, 9 9, 5 9, 5 5)))")]
    ).selectExpr("ST_GeomFromWKT(wkt) AS g")
    r = df.selectExpr(
        "ST_Area(ST_GeometryN(g, 2)) AS a2",
        "ST_GeometryType(ST_CollectionExtract(g, 3)) AS ce",
        "ST_GeometryType(ST_CastToSingle(ST_Multi(ST_Point(1.0, 2.0)))) AS single",
        "ST_X(ST_StartPoint(ST_GeomFromWKT('LINESTRING (7 0, 8 1)'))) AS sx",
        "ST_X(ST_EndPoint(ST_GeomFromWKT('LINESTRING (7 0, 8 1)'))) AS ex",
        "ST_Length(ST_ExteriorRing(ST_GeomFromWKT('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'))) AS rl",
        "ST_Length(ST_Boundary(ST_GeomFromWKT('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'))) AS bl",
    ).collect()[0]
    assert r["a2"] == 16.0
    assert r["ce"] == "ST_MultiPolygon"
    assert r["single"] == "ST_Point"
    assert r["sx"] == 7.0 and r["ex"] == 8.0
    assert r["rl"] == 16.0 and r["bl"] == 16.0


def test_arrow_ipc_roundtrip(spark, tmp_path):
    from geoarrow_rs_spark.io import read_arrow_ipc, write_arrow_ipc

    df = spark.createDataFrame(
        [Row(id=i, name=f"n{i}", val=float(i) * 1.5) for i in range(100)]
    )
    p = os.path.join(str(tmp_path), "t.arrow")
    write_arrow_ipc(df, p)
    back = read_arrow_ipc(spark, p)
    assert back.count() == 100
    assert {r["id"] for r in back.collect()} == set(range(100))


def test_arrow_ipc_multifile(spark, tmp_path):
    from geoarrow_rs_spark.io import read_arrow_ipc, write_arrow_ipc

    d = os.path.join(str(tmp_path), "ipcdir")
    os.makedirs(d)
    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(50)])
    write_arrow_ipc(df.where("id < 25"), os.path.join(d, "a.arrow"))
    write_arrow_ipc(df.where("id >= 25"), os.path.join(d, "b.arrow"))
    back = read_arrow_ipc(spark, d)
    assert back.count() == 50


def test_flatgeobuf_written_index_bbox_seek(spark, tmp_path):
    """A repo-written FGB file carries a packed Hilbert R-tree that the
    repo's own reader uses for byte-range pruning: a small bbox touches only
    a fraction of the leaf nodes, and results equal brute force."""
    import struct as _struct

    from geoarrow_rs_spark.io import flatgeobuf as fgb
    from geoarrow_rs_spark.functions import register_functions

    register_functions(spark)
    path = str(tmp_path / "grid.fgb")
    # 20x20 grid of points with an id property
    pts = spark.range(400).selectExpr(
        "id",
        "ST_Point(CAST(id % 20 AS DOUBLE), CAST(id div 20 AS DOUBLE)) AS geometry",
    )
    fgb.write_flatgeobuf(pts, path, name="grid")

    with open(path, "rb") as f:
        assert f.read(8)[:7] == fgb.MAGIC
        (hsize,) = _struct.unpack("<I", f.read(4))
        header = fgb._parse_header(f.read(hsize))
        assert header["features_count"] == 400
        assert header["index_node_size"] == 16
        env = header["envelope"]
        assert list(env) == [0.0, 0.0, 19.0, 19.0]
        leaves = fgb._read_leaf_nodes(f, 12 + hsize, 400, 16)
    # leaf pruning: a 3x3-cell bbox covers exactly 16 of the 400 leaf boxes
    keep = ~(
        (leaves["maxx"] < 2.5) | (leaves["minx"] > 5.5)
        | (leaves["maxy"] < 2.5) | (leaves["miny"] > 5.5)
    )
    assert int(keep.sum()) == 9
    # read with bbox == brute force filter
    got = sorted(
        r["id"]
        for r in fgb.read_flatgeobuf(spark, path, bbox=(2.5, 2.5, 5.5, 5.5)).collect()
    )
    exp = sorted(
        i for i in range(400) if 2.5 <= i % 20 <= 5.5 and 2.5 <= i // 20 <= 5.5
    )
    assert got == exp
    # full read preserves everything (hilbert reorder is content-preserving)
    assert fgb.read_flatgeobuf(spark, path).count() == 400


def test_geojson_featurecollection_write_roundtrip(spark, tmp_path):
    """write_geojson emits one FeatureCollection document (writer/mod.rs
    parity) that json.load accepts and read_geojson round-trips."""
    import json

    from geoarrow_rs_spark.io.geojson import read_geojson, write_geojson
    from geoarrow_rs_spark.functions import register_functions

    register_functions(spark)
    df = spark.range(25).selectExpr(
        "id",
        "concat('name-', id) AS name",
        "ST_Point(CAST(id AS DOUBLE), CAST(id % 5 AS DOUBLE)) AS geometry",
    )
    path = str(tmp_path / "out.geojson")
    write_geojson(df, path)
    doc = json.load(open(path))
    assert doc["type"] == "FeatureCollection"
    assert len(doc["features"]) == 25
    assert doc["features"][0]["type"] == "Feature"
    back = read_geojson(spark, path)
    rows = {r["id"]: r for r in back.collect()}
    assert len(rows) == 25 and rows[3]["name"] == "name-3"


def test_geoparquet_native_point_encoding_roundtrip(spark, tmp_path):
    """encoding='point' writes interleaved array<double> (reference writer's
    native layout); reading converts back to WKB and bbox pushdown still
    works off the covering struct."""
    import os as _os

    from pyspark.sql import functions as F

    from geoarrow_rs_spark.io import read_geoparquet, write_geoparquet

    df = spark.range(200).selectExpr(
        "id", "ST_Point(CAST(id % 20 AS DOUBLE), CAST(id div 20 AS DOUBLE)) AS geometry"
    )
    path = _os.path.join(str(tmp_path), "native_pts")
    doc = write_geoparquet(df, path, "geometry", encoding="point")
    assert doc["columns"]["geometry"]["encoding"] == "point"
    # raw file stores arrays, not binary
    raw = spark.read.parquet(path)
    assert raw.schema["geometry"].dataType.typeName() == "array"

    back = read_geoparquet(spark, path)
    got = {
        (r.id, r.x, r.y)
        for r in back.selectExpr("id", "ST_X(geometry) AS x", "ST_Y(geometry) AS y").collect()
    }
    exp = {(i, float(i % 20), float(i // 20)) for i in range(200)}
    assert got == exp

    filt = read_geoparquet(spark, path, bbox=(0, 0, 5, 3))
    n = filt.count()
    assert n == len([1 for i in range(200) if i % 20 <= 5 and i // 20 <= 3])
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "xmin" in plan.split("PushedFilters")[1][:400]


def test_geoparquet_footer_geo_metadata_all_parts(spark, tmp_path):
    """Every part file of a distributed write must carry the spec ``geo``
    key in its own parquet footer (external readers never see the sidecar;
    rust/geoparquet/src/writer/metadata.rs:670 behavior)."""
    import glob
    import json as _json
    import os as _os

    import pyarrow.parquet as pq

    from geoarrow_rs_spark.io import read_geoparquet, write_geoparquet
    from geoarrow_rs_spark.io.geoparquet import write_geoparquet_partitioned

    df = spark.range(400).repartition(4).selectExpr(
        "id", "ST_Point(CAST(id % 20 AS DOUBLE), CAST(id div 20 AS DOUBLE)) AS geometry"
    )
    path = _os.path.join(str(tmp_path), "footered")
    doc = write_geoparquet(df, path, "geometry")
    parts = [
        p for p in glob.glob(_os.path.join(path, "*.parquet"))
        if not _os.path.basename(p).startswith("_")
    ]
    assert len(parts) >= 2  # distributed write produced multiple parts
    for p in parts:
        md = pq.read_schema(p).metadata or {}
        assert b"geo" in md, p
        got = _json.loads(md[b"geo"])
        assert got["primary_column"] == "geometry"
        assert got["columns"]["geometry"]["encoding"] == doc["columns"]["geometry"]["encoding"]

    # rewritten parts stay readable with identical content + bbox pushdown
    back = read_geoparquet(spark, path)
    assert back.count() == 400
    assert read_geoparquet(spark, path, bbox=(0, 0, 5, 3)).count() == len(
        [1 for i in range(400) if i % 20 <= 5 and i // 20 <= 3]
    )

    # hive-partitioned writes stamp every nested part too
    ppath = _os.path.join(str(tmp_path), "footered_cells")
    write_geoparquet_partitioned(df, ppath, "geometry", cell_size=5.0)
    nested = [
        p for p in glob.glob(_os.path.join(ppath, "**", "*.parquet"), recursive=True)
        if not _os.path.basename(p).startswith("_")
    ]
    assert nested
    for p in nested:
        md = pq.read_schema(p).metadata or {}
        assert b"geo" in md, p
    assert read_geoparquet(spark, ppath).count() == 400


@_needs(COUNTRIES_FGB)
def test_flatgeobuf_python_datasource(spark):
    """spark.read.format('flatgeobuf') — the Python Data Source wrapper
    must return exactly what the function API returns: full scan, Hilbert
    bbox pruning, and column projection, row-for-row."""
    import geoarrow_rs_spark as gs
    from geoarrow_rs_spark.io.flatgeobuf import read_flatgeobuf

    gs.register_all(spark)
    p = f"{FGB_DIR}/countries.fgb"

    full = spark.read.format("flatgeobuf").load(p)
    ref = read_flatgeobuf(spark, p)
    assert full.count() == ref.count() == 179
    assert set(full.columns) == set(ref.columns)

    bbox = (-20.0, 30.0, 40.0, 70.0)
    ds = spark.read.format("flatgeobuf").option(
        "bbox", ",".join(str(v) for v in bbox)
    ).load(p)
    fn = read_flatgeobuf(spark, p, bbox=bbox)
    got = sorted((r["id"], bytes(r["geometry"])) for r in ds.collect())
    want = sorted((r["id"], bytes(r["geometry"])) for r in fn.collect())
    assert got == want and len(got) > 0

    proj = spark.read.format("flatgeobuf").option("columns", "name").load(p)
    assert proj.columns == ["name", "geometry"]
    assert proj.count() == 179


def test_shapefile_python_datasource(spark, tmp_path):
    """spark.read.format('shapefile') and read_shapefile both return the
    written rows of a repo-written shapefile (geometry + dbf columns)."""
    import geoarrow_rs_spark as gs
    from geoarrow_rs_spark.io import read_shapefile, write_shapefile

    gs.register_all(spark)
    df = spark.createDataFrame(
        [
            Row(name="a", value=1, wkt="POINT (3 4)"),
            Row(name="b", value=2, wkt="LINESTRING (0 0, 5 0)"),
            Row(name="c", value=3, wkt="POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
        ]
    ).selectExpr("name", "value", "ST_GeomFromWKT(wkt) AS geometry")
    shp = os.path.join(str(tmp_path), "ds.shp")
    write_shapefile(df, shp)

    # the writer stores the polygon's outer ring clockwise (shapefile
    # convention), so geometries compare topologically, not byte for byte
    written = df.selectExpr("name AS w_name", "geometry AS w_geom")
    ds = spark.read.format("shapefile").load(shp)
    fn = read_shapefile(spark, shp, shp.replace(".shp", ".dbf"))
    for back in (ds, fn):
        got = (
            back.join(written, back["name"] == written["w_name"], "full")
            .selectExpr("name", "value", "ST_Equals(geometry, w_geom) AS same")
            .collect()
        )
        assert sorted((r.name, r.value, r.same) for r in got) == [
            ("a", 1, True), ("b", 2, True), ("c", 3, True)
        ]


def test_coalesce_ranges_merges_and_splits():
    from geoarrow_rs_spark.io.ranges import coalesce_ranges

    # adjacent + small-gap extents merge; big gaps split; max_size bounds
    runs = coalesce_ranges([(0, 10), (10, 20), (25, 30), (200000, 200010)],
                           gap=16, max_size=1 << 20)
    assert [(r[0], r[1]) for r in runs] == [(0, 30), (200000, 200010)]
    assert runs[0][2] == [(0, 10), (10, 20), (25, 30)]
    capped = coalesce_ranges([(0, 600), (600, 1200)], gap=16, max_size=1000)
    assert len(capped) == 2


@_needs(COUNTRIES_FGB)
def test_fgb_file_url_through_generic_range_path(spark):
    """file:// URLs route through the generic RangeSource machinery (the
    sandbox stand-in for remote object stores): planning and feature
    reads go through read_at() byte ranges, and results are identical to
    the plain local-path read — object_store.rs:13 parity."""
    from geoarrow_rs_spark.io.flatgeobuf import read_flatgeobuf
    from geoarrow_rs_spark.io.ranges import LocalRange, open_range_source

    src = open_range_source(f"file://{FGB_DIR}/countries.fgb")
    assert isinstance(src, LocalRange)
    assert src.read_at(0, 3) == b"fgb"
    assert src.size() > 1000
    src.close()

    local = read_flatgeobuf(spark, f"{FGB_DIR}/countries.fgb")
    via_url = read_flatgeobuf(spark, f"file://{FGB_DIR}/countries.fgb")
    a = sorted(map(tuple, local.collect()))
    b = sorted(map(tuple, via_url.collect()))
    assert a == b and len(a) == 179

    bbox = (-20.0, 30.0, 40.0, 70.0)
    pl = sorted(map(tuple, read_flatgeobuf(spark, f"{FGB_DIR}/countries.fgb", bbox=bbox).collect()))
    pu = sorted(map(tuple, read_flatgeobuf(spark, f"file://{FGB_DIR}/countries.fgb", bbox=bbox).collect()))
    assert pl == pu and 0 < len(pl) < 179


@_needs(COUNTRIES_FGB)
def test_fgb_http_range_read(spark):
    """End-to-end object-store read: a localhost HTTP server that honors
    Range headers serves countries.fgb; read_flatgeobuf plans the scan
    with three small GETs (magic+header+leaves) and fetches features by
    coalesced byte ranges — no local copy of the file anywhere."""
    import http.server
    import os
    import re
    import threading

    serve_dir = FGB_DIR

    class RangeHandler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _path(self):
            return os.path.join(serve_dir, self.path.lstrip("/"))

        def do_HEAD(self):
            p = self._path()
            self.send_response(200)
            self.send_header("Content-Length", str(os.path.getsize(p)))
            self.end_headers()

        def do_GET(self):
            p = self._path()
            size = os.path.getsize(p)
            m = re.match(r"bytes=(\d+)-(\d+)$", self.headers.get("Range", ""))
            with open(p, "rb") as f:
                if m:
                    lo, hi = int(m.group(1)), min(int(m.group(2)), size - 1)
                    f.seek(lo)
                    data = f.read(hi - lo + 1)
                    self.send_response(206)
                    self.send_header("Content-Range", f"bytes {lo}-{hi}/{size}")
                else:
                    data = f.read()
                    self.send_response(200)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), RangeHandler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        from geoarrow_rs_spark.io.flatgeobuf import read_flatgeobuf

        url = f"http://127.0.0.1:{port}/countries.fgb"
        df = read_flatgeobuf(spark, url)
        assert df.count() == 179
        bbox = (-20.0, 30.0, 40.0, 70.0)
        pruned = sorted(map(tuple, read_flatgeobuf(spark, url, bbox=bbox).collect()))
        local = sorted(map(tuple, read_flatgeobuf(
            spark, f"{FGB_DIR}/countries.fgb", bbox=bbox).collect()))
        assert pruned == local
    finally:
        srv.shutdown()
        srv.server_close()


def test_geoparquet_native_nested_encodings_roundtrip(spark, tmp_path):
    """Native nested write encodings beyond point (writer/encode.rs:21-79
    parity): linestring / polygon / multipoint / multilinestring /
    multipolygon each write the interleaved nested-array layout, read
    back to byte-identical WKB."""
    import os as _os

    from geoarrow_rs_spark.io import read_geoparquet, write_geoparquet

    cases = {
        "linestring": "ST_MakeLine(ST_Point(CAST(id AS DOUBLE), 0.0),"
                      " ST_Point(CAST(id + 1 AS DOUBLE), 2.0))",
        "multipoint": "ST_CastToSingle(ST_Multi(ST_Point(CAST(id AS DOUBLE), 1.0)))",
        "polygon": "ST_MakeEnvelope(0.0, 0.0, CAST(id + 1 AS DOUBLE), 2.0)",
        "multilinestring": "ST_Multi(ST_MakeLine(ST_Point(CAST(id AS DOUBLE), 0.0),"
                           " ST_Point(0.0, CAST(id + 1 AS DOUBLE))))",
        "multipolygon": "ST_Multi(ST_MakeEnvelope(0.0, 0.0, CAST(id + 1 AS DOUBLE), 2.0))",
    }
    for enc, expr in cases.items():
        df = spark.range(50).selectExpr("id", f"{expr} AS geometry")
        if enc == "multipoint":
            df = spark.range(50).selectExpr(
                "id", "ST_Multi(ST_Point(CAST(id AS DOUBLE), 1.0)) AS geometry"
            )
        path = _os.path.join(str(tmp_path), f"native_{enc}")
        doc = write_geoparquet(df, path, "geometry", encoding=enc)
        assert doc["columns"]["geometry"]["encoding"] == enc
        raw = spark.read.parquet(path)
        assert raw.schema["geometry"].dataType.typeName() == "array", enc
        back = read_geoparquet(spark, path)
        exp = {(r.id, bytes(r.geometry)) for r in df.collect()}
        got = {(r.id, bytes(r.geometry)) for r in back.collect()}
        assert got == exp, enc


@_needs(f"{GP_DIR}/nybb_geoarrow.parquet")
def test_geoparquet_nybb_native_rewrite_identical(spark, tmp_path):
    """The reference's native-multipolygon nybb fixture, re-written by this
    repo's native multipolygon encoder and read back: identical WKB per
    borough (writer completes the read/write encoding symmetry)."""
    import os as _os

    from geoarrow_rs_spark.io import read_geoparquet, write_geoparquet

    src = read_geoparquet(spark, f"{GP_DIR}/nybb_geoarrow.parquet")
    path = _os.path.join(str(tmp_path), "nybb_native_rewrite")
    doc = write_geoparquet(src, path, "geometry", encoding="multipolygon")
    assert doc["columns"]["geometry"]["encoding"] == "multipolygon"
    back = read_geoparquet(spark, path)
    exp = {(r.BoroName, bytes(r.geometry)) for r in src.collect()}
    got = {(r.BoroName, bytes(r.geometry)) for r in back.collect()}
    assert got == exp and len(got) == 5


def test_geoparquet_native_encoding_rejects_mixed(spark, tmp_path):
    """A mixed-type geometry column must fail fast with a clear error when
    a single-type native encoding is requested (the reference writer's
    constraint), not silently corrupt."""
    import os as _os

    import pytest as _pytest

    from geoarrow_rs_spark.io import write_geoparquet

    df = spark.range(4).selectExpr(
        "id",
        "CASE WHEN id % 2 = 0 THEN ST_Point(1.0, 2.0)"
        " ELSE ST_MakeLine(ST_Point(0.0, 0.0), ST_Point(1.0, 1.0)) END AS geometry",
    )
    path = _os.path.join(str(tmp_path), "mixed_native")
    with _pytest.raises(Exception, match="encoding"):
        write_geoparquet(df, path, "geometry", encoding="linestring")


def test_geoparquet_geometry_types_metadata(spark, tmp_path):
    """Native encodings pin geometry_types in the geo doc (writer parity);
    WKB stays [] = unknown unless the caller declares the set."""
    import os as _os

    from geoarrow_rs_spark.io import write_geoparquet

    df = spark.range(5).selectExpr(
        "id", "ST_Point(CAST(id AS DOUBLE), 1.0) AS geometry"
    )
    doc = write_geoparquet(df, _os.path.join(str(tmp_path), "p"), "geometry",
                           encoding="point")
    assert doc["columns"]["geometry"]["geometry_types"] == ["Point"]
    doc = write_geoparquet(df, _os.path.join(str(tmp_path), "w"), "geometry")
    assert doc["columns"]["geometry"]["geometry_types"] == []
    doc = write_geoparquet(df, _os.path.join(str(tmp_path), "d"), "geometry",
                           geometry_types=["Point"])
    assert doc["columns"]["geometry"]["geometry_types"] == ["Point"]


def test_geoparquet_info_accessors(spark, tmp_path):
    """geoparquet_info mirrors the reference's GeoParquetFile metadata
    surface from parquet footers: row counts, row-group counts, crs,
    file bbox, and per-row-group covering bounds (the same stats bbox
    pushdown prunes against)."""
    import os as _os

    from geoarrow_rs_spark.io import geoparquet_info, write_geoparquet

    df = spark.range(500).selectExpr(
        "id",
        "ST_Point(CAST(id % 50 AS DOUBLE), CAST(id div 50 AS DOUBLE)) AS geometry",
    )
    path = _os.path.join(str(tmp_path), "info")
    write_geoparquet(df.coalesce(2), path, "geometry", crs="EPSG:4326")
    info = geoparquet_info(path)
    assert info["num_rows"] == 500
    assert info["num_row_groups"] >= info["files"] >= 1
    assert info["primary_column"] == "geometry"
    assert info["crs"] == "EPSG:4326"
    assert info["encoding"] == "WKB"
    fb = info["file_bbox"]
    assert fb == [0.0, 0.0, 49.0, 9.0]
    rgb = info["row_group_bounds"]
    assert rgb is not None and len(rgb) == info["num_row_groups"]
    # every row-group bound is inside the file bbox
    for b in rgb:
        assert b is not None
        assert b[0] >= fb[0] and b[1] >= fb[1] and b[2] <= fb[2] and b[3] <= fb[3]


@_needs(COUNTRIES_FGB)
def test_fgb_read_geometry_false(spark):
    """read_geometry=False omits the geometry column (properties-only
    scan); with bbox it still filters exactly, then drops geometry."""
    from geoarrow_rs_spark.io.flatgeobuf import read_flatgeobuf

    props = read_flatgeobuf(spark, f"{FGB_DIR}/countries.fgb", read_geometry=False)
    assert "geometry" not in props.columns and props.count() == 179

    bbox = (-20.0, 30.0, 40.0, 70.0)
    with_geom = read_flatgeobuf(spark, f"{FGB_DIR}/countries.fgb", bbox=bbox)
    no_geom = read_flatgeobuf(
        spark, f"{FGB_DIR}/countries.fgb", bbox=bbox, read_geometry=False
    )
    assert "geometry" not in no_geom.columns
    a = sorted(r["name"] for r in no_geom.select("name").collect())
    b = sorted(r["name"] for r in with_geom.select("name").collect())
    assert a == b


def test_fgb_writer_header_options_roundtrip(spark, tmp_path):
    """write_flatgeobuf's reference-parity options: promote_to_multi
    (X -> MultiX cast), crs (EPSG org/code table), title / description /
    metadata header strings — all readable back from the header."""
    import os as _os

    from geoarrow_rs_spark.io.flatgeobuf import (
        _parse_header, read_flatgeobuf, write_flatgeobuf,
    )

    df = spark.range(5).selectExpr(
        "id", "ST_Point(CAST(id AS DOUBLE), 2.0) AS geometry"
    )
    p = _os.path.join(str(tmp_path), "opts.fgb")
    write_flatgeobuf(
        df, p, promote_to_multi=True, crs="EPSG:4326",
        title="t", description="d", metadata='{"k":1}',
    )
    import struct as _struct

    with open(p, "rb") as f:
        f.read(8)
        (hsize,) = _struct.unpack("<I", f.read(4))
        h = _parse_header(f.read(hsize))
    assert h["crs"] == {"org": "EPSG", "code": 4326, "wkt": None}
    assert h["title"] == "t" and h["description"] == "d"
    assert h["metadata"] == '{"k":1}'
    assert h["geometry_type"] == 4  # MultiPoint after promotion

    back = read_flatgeobuf(spark, p)
    types = {r["t"] for r in back.selectExpr(
        "ST_GeometryType(geometry) AS t").collect()}
    assert types == {"ST_MultiPoint"}
    assert back.count() == 5


def test_geoparquet_read_limit_offset(spark, tmp_path):
    """read_geoparquet(limit=, offset=) mirrors GeoParquetFile.read's
    post-filter row-selection semantics (_parquet.pyi:31-170): offset rows
    skipped, limit rows taken, in scan order."""
    import os

    from geoarrow_rs_spark.io.geoparquet import read_geoparquet, write_geoparquet

    df = spark.range(100).selectExpr(
        "id", "ST_Point(CAST(id AS DOUBLE), CAST(id AS DOUBLE)) AS geometry"
    ).coalesce(1)
    p = os.path.join(str(tmp_path), "lo.parquet")
    write_geoparquet(df, p)

    assert read_geoparquet(spark, p, limit=7).count() == 7
    assert read_geoparquet(spark, p, offset=90).count() == 10
    got = read_geoparquet(spark, p, limit=5, offset=10)
    rows = sorted(r["id"] for r in got.collect())
    assert len(rows) == 5
    # single-file scan order is the write order: offset 10 -> ids 10..14
    assert rows == [10, 11, 12, 13, 14]
    # composes with bbox: filter first, then limit
    few = read_geoparquet(spark, p, bbox=(50, 50, 60, 60), limit=3)
    ids = sorted(r["id"] for r in few.collect())
    assert len(ids) == 3 and all(50 <= i <= 60 for i in ids)


def test_shapefile_prj_sidecar_roundtrip(spark, tmp_path):
    """A CRS-tagged frame writes a .prj; reading tags the geometry column
    with the sidecar text; parse_crs resolves all three dialects the
    sidecar may carry (WKT1, ESRI WKT1, WKT2)."""
    from geoarrow_rs_spark.io import read_shapefile, write_shapefile
    from geoarrow_rs_spark.types.geo_types import get_crs, set_crs
    from geoarrow_rs_spark.wkb.proj import parse_crs

    df = spark.createDataFrame(
        [Row(name="pt", wkt="POINT (9 52)")]
    ).selectExpr("name", "ST_GeomFromWKT(wkt) AS geometry")

    # EPSG:4326 tag -> canonical WGS84 WKT1 .prj
    shp = os.path.join(str(tmp_path), "w84.shp")
    write_shapefile(set_crs(df, "geometry", "EPSG:4326"), shp)
    prj = shp[:-4] + ".prj"
    assert os.path.exists(prj)
    back = read_shapefile(spark, shp, shp.replace(".shp", ".dbf"))
    assert parse_crs(get_crs(back, "geometry")) == 4326

    # ESRI WKT1 text tag -> verbatim .prj -> parses to the same CustomCRS
    esri = (
        'PROJCS["WGS_1984_UTM_Zone_33N",GEOGCS["GCS_WGS_1984",'
        'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
        'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
        'PROJECTION["Transverse_Mercator"],'
        'PARAMETER["False_Easting",500000.0],'
        'PARAMETER["False_Northing",0.0],'
        'PARAMETER["Central_Meridian",15.0],'
        'PARAMETER["Scale_Factor",0.9996],'
        'PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]'
    )
    shp2 = os.path.join(str(tmp_path), "esri.shp")
    write_shapefile(set_crs(df, "geometry", esri), shp2)
    with open(shp2[:-4] + ".prj") as fh:
        assert fh.read() == esri
    back2 = read_shapefile(spark, shp2, shp2.replace(".shp", ".dbf"))
    assert parse_crs(get_crs(back2, "geometry")) == parse_crs(esri)

    # untagged frame -> no .prj, read leaves the column untagged
    shp3 = os.path.join(str(tmp_path), "none.shp")
    write_shapefile(df, shp3)
    assert not os.path.exists(shp3[:-4] + ".prj")
    back3 = read_shapefile(spark, shp3, shp3.replace(".shp", ".dbf"))
    assert get_crs(back3, "geometry") is None


# Rows whose geometries survive both writers byte for byte: the polygon's
# outer ring is clockwise (the shapefile convention) and nothing is Multi
# (write_flatgeobuf runs with promote_to_multi=False). Bounds are listed
# for the bbox expectations; the NULL geometry has none.
_WRITTEN = [
    ("a", 1, 1.5, True, "POINT (1 2)", (1, 2, 1, 2)),
    (None, 2, None, False, "POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))", (0, 0, 4, 4)),
    ("c", 3, 2.5, None, "LINESTRING (10 10, 12 13)", (10, 10, 12, 13)),
    ("d", None, -4.25, True, "POINT (-5 7)", (-5, 7, -5, 7)),
    ("e", 5, 0.0, False, None, None),
    ("f", 6, 9.5, True, "LINESTRING (3 -2, 6 -1, 8 -6)", (3, -6, 8, -1)),
]
_WRITTEN_TYPES = {"name": "string", "n": "bigint", "score": "double",
                  "flag": "boolean", "geometry": "binary"}


def _written_df(spark, with_null_geometry=True):
    rows = [r[:5] for r in _WRITTEN if with_null_geometry or r[4] is not None]
    return spark.createDataFrame(
        rows, "name string, n long, score double, flag boolean, wkt string"
    ).selectExpr("name", "n", "score", "flag", "ST_GeomFromWKT(wkt) AS geometry")


def _intersects(b, bbox):
    return b is not None and not (
        b[2] < bbox[0] or b[0] > bbox[2] or b[3] < bbox[1] or b[1] > bbox[3]
    )


def _rows(df):
    return sorted(
        (tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
               for v in r) for r in df.collect()),
        key=repr,
    )


@pytest.mark.parametrize("write_index", [True, False])
def test_flatgeobuf_reader_matches_written_rows(spark, tmp_path, write_index):
    """read_flatgeobuf over a write_flatgeobuf file, with and without the
    packed R-tree, across bbox x columns x read_geometry: rows, names,
    types and field metadata equal the written input's."""
    from geoarrow_rs_spark.io import read_flatgeobuf, write_flatgeobuf

    df = _written_df(spark)
    p = str(tmp_path / "w.fgb")
    write_flatgeobuf(df, p, write_index=write_index, promote_to_multi=False)
    wkb = {r["name"]: bytes(r["geometry"]) if r["geometry"] else None
           for r in df.collect()}
    bbox = (0.5, -3.0, 11.0, 11.0)
    for use_bbox in (False, True):
        for columns in (None, ["score", "name"]):
            for read_geometry in (True, False):
                back = read_flatgeobuf(
                    spark, p, bbox=bbox if use_bbox else None,
                    columns=columns, read_geometry=read_geometry,
                )
                names = [c for c in ("name", "n", "score", "flag")
                         if columns is None or c in columns]
                if read_geometry:
                    names.append("geometry")
                case = (use_bbox, columns, read_geometry)
                assert back.columns == names, case
                assert dict(back.dtypes) == {
                    c: _WRITTEN_TYPES[c] for c in names
                }, case
                assert all(f.metadata == {} for f in back.schema.fields), case
                full = {"name": 0, "n": 1, "score": 2, "flag": 3}
                want = sorted(
                    (tuple(w[full[c]] if c != "geometry" else wkb[w[0]]
                           for c in names)
                     for w in _WRITTEN
                     if not use_bbox or _intersects(w[5], bbox)),
                    key=repr,
                )
                assert _rows(back) == want, case
                assert len(want) == (4 if use_bbox else 6), case


def test_shapefile_reader_matches_written_rows(spark, tmp_path):
    """read_shapefile over a write_shapefile file: with dbf_path it returns
    the written rows and types; without, the geometry column alone; a
    custom geometry_col carries the geometries (all non-NULL)."""
    from geoarrow_rs_spark.io import read_shapefile, write_shapefile

    df = _written_df(spark, with_null_geometry=False)
    shp = str(tmp_path / "w.shp")
    write_shapefile(df, shp)
    want = _rows(df)

    back = read_shapefile(spark, shp, shp.replace(".shp", ".dbf"))
    assert back.columns == ["name", "n", "score", "flag", "geometry"]
    assert dict(back.dtypes) == _WRITTEN_TYPES
    assert all(f.metadata == {} for f in back.schema.fields)
    assert _rows(back) == want and len(want) == 5

    geom_only = read_shapefile(spark, shp)
    assert geom_only.columns == ["geometry"]
    assert geom_only.dtypes == [("geometry", "binary")]
    assert _rows(geom_only) == sorted(((w[4],) for w in want), key=repr)

    custom = read_shapefile(spark, shp, geometry_col="geom")
    assert custom.columns == ["geom"]
    assert custom.where("geom IS NOT NULL").count() == 5
    assert _rows(custom) == _rows(geom_only)

    both = read_shapefile(
        spark, shp, shp.replace(".shp", ".dbf"), geometry_col="geom"
    )
    assert both.columns == ["name", "n", "score", "flag", "geom"]
    assert _rows(both) == want
