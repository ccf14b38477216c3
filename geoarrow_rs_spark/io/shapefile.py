"""Shapefile read/write (SURVEY.md §2.1; mirrors the reference's
read_shapefile(shp, dbf) surface,
/root/reference/rust/geoarrow-old/src/io/shapefile/reader.rs:34).

Pure-python parsing of the public ESRI shapefile spec (no external libs):

- **Read (distributed)**: the ``shapefile`` Python data source
  (``io/datasource.py``) reads the tiny ``.shx`` index (one (offset,
  length) pair per record) on the driver and turns record ranges into its
  InputPartitions; each task opens the files itself and decodes its slice
  into Arrow batches. This is the byte-range-planning pattern the
  reference uses for FlatGeobuf reads, applied to the .shx index.
  ``read_shapefile`` is a thin wrapper over that source (plus the .prj CRS
  tag); this module holds the format itself.
- **Write (driver-side)**: collects to the driver and writes .shp/.shx/.dbf
  — shapefiles are a small-data interchange format; a 100 TB pipeline exports
  extracts, not full tables.

Supported shapes: Point, MultiPoint, PolyLine, Polygon (XY; Z variants read
as XY). DBF: C (text), N/F (numeric), L (logical), D (date-as-text).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from ..wkb import core as wc
from ..wkb.algorithms import _ring_signed_area, point_in_polygon

SHAPE_NULL = 0
SHAPE_POINT = 1
SHAPE_POLYLINE = 3
SHAPE_POLYGON = 5
SHAPE_MULTIPOINT = 8


def _decode_record(buf):
    """One .shp record content -> Geom (or None)."""
    (stype,) = struct.unpack_from("<i", buf, 0)
    base = stype % 10  # Z/M variants share the base layout prefix
    if stype == SHAPE_NULL:
        return None
    if base == SHAPE_POINT:
        x, y = struct.unpack_from("<dd", buf, 4)
        return wc.point(x, y)
    if base == SHAPE_MULTIPOINT:
        (n,) = struct.unpack_from("<i", buf, 36)
        pts = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=40).reshape(n, 2)
        return wc.multipoint(np.array(pts))
    if base in (SHAPE_POLYLINE, SHAPE_POLYGON):
        nparts, npoints = struct.unpack_from("<ii", buf, 36)
        parts = struct.unpack_from(f"<{nparts}i", buf, 44)
        off = 44 + 4 * nparts
        pts = np.frombuffer(buf, dtype="<f8", count=2 * npoints, offset=off).reshape(
            npoints, 2
        )
        rings = []
        bounds_list = list(parts) + [npoints]
        for i in range(nparts):
            rings.append(np.array(pts[bounds_list[i]:bounds_list[i + 1]]))
        if base == SHAPE_POLYLINE:
            if len(rings) == 1:
                return wc.Geom(wc.LINESTRING, rings[0])
            return wc.Geom(wc.MULTILINESTRING, rings)
        # polygon: shapefile convention — outer rings clockwise (negative
        # signed area in math orientation), holes counter-clockwise
        outers = []
        holes = []
        for r in rings:
            if _ring_signed_area(r) <= 0:
                outers.append([r])
            else:
                holes.append(r)
        if not outers:  # degenerate: treat all as outers
            outers = [[r] for r in holes]
            holes = []
        for h in holes:
            for rings_list in outers:
                if point_in_polygon(float(h[0, 0]), float(h[0, 1]), [rings_list[0]]) == 2:
                    rings_list.append(h)
                    break
        if len(outers) == 1:
            return wc.Geom(wc.POLYGON, outers[0])
        return wc.Geom(wc.MULTIPOLYGON, outers)
    raise ValueError(f"unsupported shape type {stype}")


def _read_shx(path):
    with open(path, "rb") as f:
        data = f.read()
    n = (len(data) - 100) // 8
    out = []
    for i in range(n):
        off, length = struct.unpack_from(">ii", data, 100 + 8 * i)
        out.append((off * 2, length * 2))  # 16-bit words -> bytes
    return out


def _read_dbf_header(path):
    with open(path, "rb") as f:
        head = f.read(32)
        nrec, hsize, rsize = struct.unpack_from("<iHH", head, 4)
        fields = []
        while True:
            fd = f.read(32)
            if fd[0:1] == b"\r" or len(fd) < 32:
                break
            name = fd[:11].split(b"\x00")[0].decode("ascii", "replace")
            ftype = chr(fd[11])
            flen = fd[16]
            fdec = fd[17]
            fields.append((name, ftype, flen, fdec))
    return nrec, hsize, rsize, fields


def _parse_dbf_value(raw: bytes, ftype: str, fdec: int):
    s = raw.decode("latin-1").strip()
    if not s:
        return None
    if ftype in ("N", "F"):
        try:
            return float(s) if (fdec > 0 or "." in s or "e" in s.lower()) else int(s)
        except ValueError:
            return None
    if ftype == "L":
        return s[0] in "TtYy"
    return s


def _shp_schema(dbf_fields, geometry_col="geometry"):
    """Spark schema of a shapefile scan: the .dbf fields in file order
    (N/F with decimals -> double, N/F without -> long, L -> boolean,
    anything else -> string), then the WKB geometry column."""
    from pyspark.sql.types import (
        BinaryType, BooleanType, DoubleType, LongType, StringType,
        StructField, StructType,
    )

    def spark_type(ftype, fdec):
        if ftype in ("N", "F"):
            return DoubleType() if fdec > 0 else LongType()
        if ftype == "L":
            return BooleanType()
        return StringType()

    return StructType(
        [StructField(n, spark_type(t, d)) for (n, t, _l, d) in dbf_fields]
        + [StructField(geometry_col, BinaryType())]
    )


def read_shapefile(spark, shp_path: str, dbf_path: str = None, geometry_col="geometry"):
    """Read a shapefile into a DataFrame through the ``shapefile`` Python
    data source (:class:`..datasource.ShapefileDataSource`), which owns
    the scan: WKB geometry under ``geometry_col``, preceded by the
    ``dbf_path`` property columns when one is given. With
    ``dbf_path=None`` only the geometry column comes back and no .dbf is
    read, even when one sits next to the .shp."""
    import os

    from .datasource import register_datasources

    register_datasources(spark)
    fields = _read_dbf_header(dbf_path)[3] if dbf_path else []
    reader = (
        spark.read.format("shapefile")
        .schema(_shp_schema(fields, geometry_col))
        .option("geometry_col", geometry_col)
    )
    if dbf_path:
        reader = reader.option("dbf", dbf_path)
    out = reader.load(shp_path)

    # .prj sidecar (WKT1 / ESRI WKT1 / WKT2): tag the geometry column so
    # ST_Transform and the edges-aware kernels see the source CRS. The
    # raw text is attached verbatim — parse_crs resolves all three
    # dialects lazily at use time — and an unreadable sidecar never
    # fails the read (the geometry column just stays untagged).
    prj_path = shp_path[:-4] + ".prj" if shp_path.endswith(".shp") else None
    if prj_path and os.path.exists(prj_path):
        try:
            with open(prj_path, "r", encoding="utf-8", errors="replace") as fh:
                wkt = fh.read().strip()
            if wkt:
                from ..types.geo_types import set_crs

                out = set_crs(out, geometry_col, wkt)
        except OSError:
            pass
    return out


def _encode_geom(g):
    """Geom -> (shape_type, content bytes)."""
    if g is None or g.is_empty():
        return SHAPE_NULL, struct.pack("<i", SHAPE_NULL)
    k = g.kind
    if k == wc.POINT:
        return SHAPE_POINT, struct.pack(
            "<idd", SHAPE_POINT, float(g.data[0]), float(g.data[1])
        )
    if k == wc.MULTIPOINT:
        pts = np.asarray(g.data[:, :2])
        bbox = (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max())
        return SHAPE_MULTIPOINT, (
            struct.pack("<i4d", SHAPE_MULTIPOINT, *bbox)
            + struct.pack("<i", len(pts))
            + np.ascontiguousarray(pts, dtype="<f8").tobytes()
        )
    if k in (wc.LINESTRING, wc.MULTILINESTRING):
        lines = [g.data] if k == wc.LINESTRING else g.data
        lines = [np.asarray(l[:, :2]) for l in lines]
        return _encode_parts(SHAPE_POLYLINE, lines)
    if k in (wc.POLYGON, wc.MULTIPOLYGON):
        polys = [g.data] if k == wc.POLYGON else g.data
        rings = []
        for p in polys:
            for i, r in enumerate(p):
                r = np.asarray(r[:, :2])
                sa = _ring_signed_area(r)
                # outer CW (negative), holes CCW (positive)
                if (i == 0 and sa > 0) or (i > 0 and sa < 0):
                    r = r[::-1]
                rings.append(r)
        return _encode_parts(SHAPE_POLYGON, rings)
    raise ValueError(f"cannot encode {g.type_name} to shapefile")


def _encode_parts(stype, parts):
    all_pts = np.vstack(parts)
    bbox = (
        all_pts[:, 0].min(),
        all_pts[:, 1].min(),
        all_pts[:, 0].max(),
        all_pts[:, 1].max(),
    )
    offsets = []
    acc = 0
    for p in parts:
        offsets.append(acc)
        acc += len(p)
    body = (
        struct.pack("<i4d", stype, *bbox)
        + struct.pack("<ii", len(parts), acc)
        + struct.pack(f"<{len(parts)}i", *offsets)
        + np.ascontiguousarray(all_pts, dtype="<f8").tobytes()
    )
    return stype, body


def write_shapefile(df, shp_path: str, geometry_col="geometry"):
    """Driver-side shapefile writer (single-file format => single writer),
    but STREAMING: rows arrive via ``toLocalIterator()`` one partition at a
    time and go straight to disk; headers (bbox, lengths, record count) are
    patched by seek afterward. Driver memory stays bounded (8 bytes of .shx
    bookkeeping per record), unlike the old full ``collect()``.

    Throughput ceiling: single driver writer => single-disk bandwidth, and
    the format itself caps at 2 GB per .shp — interchange-sized exports
    only. At scale write GeoParquet (distributed) instead."""
    from ..wkb import algorithms as alg

    other = [c for c in df.columns if c != geometry_col]
    schema_fields = [f for f in df.schema.fields if f.name != geometry_col]
    descs = []
    for fld in schema_fields:
        t = fld.dataType.typeName()
        if t in ("long", "integer", "short"):
            descs.append((fld.name, "N", 18, 0))
        elif t in ("double", "float"):
            descs.append((fld.name, "N", 24, 8))
        elif t == "boolean":
            descs.append((fld.name, "L", 1, 0))
        else:
            descs.append((fld.name, "C", 64, 0))
    rsize = 1 + sum(l for (_n, _t, l, _d) in descs)
    hsize = 32 + 32 * len(descs) + 1

    def header(file_len_bytes, main_type, bbox):
        return (
            struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, file_len_bytes // 2)
            + struct.pack("<ii", 1000, main_type)
            + struct.pack("<4d", *bbox)
            + struct.pack("<4d", 0, 0, 0, 0)
        )

    placeholder = header(100, SHAPE_NULL, (0.0, 0.0, 0.0, 0.0))
    xmin = ymin = float("inf")
    xmax = ymax = float("-inf")
    main_type = SHAPE_NULL
    n_rec = 0
    shx_entries = []

    shx_path = shp_path.replace(".shp", ".shx")
    dbf_path = shp_path.replace(".shp", ".dbf")
    with open(shp_path, "wb") as fshp, open(dbf_path, "wb") as fdbf:
        fshp.write(placeholder)
        # .dbf header with a 0 record count, patched at the end
        fdbf.write(struct.pack("<4B", 3, 24, 1, 1))
        fdbf.write(struct.pack("<iHH", 0, hsize, rsize))
        fdbf.write(b"\x00" * 20)
        for (n, t, l, d) in descs:
            fdbf.write(n.encode("ascii")[:10].ljust(11, b"\x00"))
            fdbf.write(t.encode("ascii"))
            fdbf.write(b"\x00" * 4)
            fdbf.write(struct.pack("<BB", l, d))
            fdbf.write(b"\x00" * 14)
        fdbf.write(b"\r")

        off = 100
        for r in df.toLocalIterator():
            g = wc.from_wkb(r[geometry_col]) if r[geometry_col] is not None else None
            stype, body = _encode_geom(g)
            if g is not None and not g.is_empty():
                if main_type == SHAPE_NULL:
                    main_type = stype
                b = alg.bounds(g)
                if b is not None:
                    xmin, ymin = min(xmin, b[0]), min(ymin, b[1])
                    xmax, ymax = max(xmax, b[2]), max(ymax, b[3])
            n_rec += 1
            fshp.write(struct.pack(">ii", n_rec, len(body) // 2))
            fshp.write(body)
            shx_entries.append((off // 2, len(body) // 2))
            off += 8 + len(body)

            fdbf.write(b" ")
            for (v, (n, t, l, d)) in zip((r[c] for c in other), descs):
                if v is None:
                    fdbf.write(b" " * l)
                elif t == "N" and d > 0:
                    fdbf.write(f"{float(v):>{l}.{d}f}".encode("ascii")[:l])
                elif t == "N":
                    fdbf.write(f"{int(v):>{l}d}".encode("ascii")[:l])
                elif t == "L":
                    fdbf.write(b"T" if v else b"F")
                else:
                    fdbf.write(str(v).encode("latin-1", "replace")[:l].ljust(l, b" "))
        fdbf.write(b"\x1a")
        fdbf.seek(4)
        fdbf.write(struct.pack("<i", n_rec))

        bbox = (xmin, ymin, xmax, ymax) if xmin <= xmax else (0.0, 0.0, 0.0, 0.0)
        fshp.seek(0)
        fshp.write(header(off, main_type, bbox))

    with open(shx_path, "wb") as fshx:
        fshx.write(header(100 + 8 * n_rec, main_type, bbox))
        for (o, l) in shx_entries:
            fshx.write(struct.pack(">ii", o, l))

    # .prj sidecar from the geometry column's CRS tag: WKT text is
    # written verbatim; the WGS84 codes get the canonical WKT1; anything
    # else is skipped (emitting invented WKT would be worse than none).
    from ..types.geo_types import get_crs

    crs = get_crs(df, geometry_col)
    prj = None
    if isinstance(crs, str) and crs.lstrip()[:7].upper() in (
        "PROJCS[", "GEOGCS[", "PROJCRS", "GEOGCRS", "COMPOUN", "BOUNDCR",
    ):
        prj = crs
    elif crs in (4326, "4326", "EPSG:4326", "OGC:CRS84"):
        prj = (
            'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
            'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
            'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]'
        )
    if prj and shp_path.endswith(".shp"):  # same guard as the read side
        with open(shp_path[:-4] + ".prj", "w", encoding="utf-8") as fprj:
            fprj.write(prj)
