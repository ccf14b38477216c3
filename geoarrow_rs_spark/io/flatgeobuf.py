"""FlatGeobuf reader (SURVEY.md §2.1; mirrors read_flatgeobuf(path, bbox=,
columns=), /root/reference/rust/geoarrow-flatgeobuf/src/reader/).

Implemented from the public FlatGeobuf spec (flatgeobuf.org): magic bytes,
flatbuffers-encoded Header/Feature/Geometry tables, packed Hilbert R-tree
index. No flatbuffers library exists in this runtime, so a minimal
flatbuffers table decoder is included (vtable-indirected field access).

Distribution model (the reference's byte-range planning re-expressed for
Spark): the driver parses the header and the R-tree **leaf level** — which
stores each feature's byte offset — optionally filters leaves by bbox
(/root/reference/python/geoarrow-io/src/flatgeobuf/sync.rs:122-123
``select_bbox`` semantics), and the ``flatgeobuf`` Python data source
(``io/datasource.py``) turns the surviving [off, end) extents into its
InputPartitions. Each task reads its extents in coalesced range requests
and decodes and exactly refines its features there. ``read_flatgeobuf``
is a thin wrapper over that source; this module holds the format itself
(flatbuffers decode, header, index, writer).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from ..wkb import core as wc

MAGIC = b"fgb\x03fgb"  # 8th byte is the patch version (0x00/0x01)

# GeometryType enum (spec)
GT_UNKNOWN = 0
GT_POINT = 1
GT_LINESTRING = 2
GT_POLYGON = 3
GT_MULTIPOINT = 4
GT_MULTILINESTRING = 5
GT_MULTIPOLYGON = 6
GT_GEOMETRYCOLLECTION = 7

# ColumnType enum (spec)
CT_SIZES = {0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 4, 6: 4, 7: 8, 8: 8, 9: 4, 10: 8}
CT_FMT = {0: "<b", 1: "<B", 2: "<?", 3: "<h", 4: "<H", 5: "<i", 6: "<I", 7: "<q", 8: "<Q", 9: "<f", 10: "<d"}


class _FB:
    """Minimal flatbuffers table reader."""

    def __init__(self, buf, pos):
        self.buf = buf
        self.pos = pos
        (soff,) = struct.unpack_from("<i", buf, pos)
        self.vt = pos - soff
        (self.vt_size,) = struct.unpack_from("<H", buf, self.vt)

    def _voff(self, field_id):
        entry = 4 + 2 * field_id
        if entry + 2 > self.vt_size:
            return 0
        (v,) = struct.unpack_from("<H", self.buf, self.vt + entry)
        return v

    def scalar(self, field_id, fmt, default=0):
        v = self._voff(field_id)
        if not v:
            return default
        return struct.unpack_from(fmt, self.buf, self.pos + v)[0]

    def _indirect(self, field_id):
        v = self._voff(field_id)
        if not v:
            return None
        (u,) = struct.unpack_from("<I", self.buf, self.pos + v)
        return self.pos + v + u

    def string(self, field_id):
        t = self._indirect(field_id)
        if t is None:
            return None
        (n,) = struct.unpack_from("<I", self.buf, t)
        return self.buf[t + 4:t + 4 + n].decode("utf-8")

    def vector(self, field_id, dtype):
        t = self._indirect(field_id)
        if t is None:
            return None
        (n,) = struct.unpack_from("<I", self.buf, t)
        return np.frombuffer(self.buf, dtype=dtype, count=n, offset=t + 4)

    def vector_bytes(self, field_id):
        t = self._indirect(field_id)
        if t is None:
            return None
        (n,) = struct.unpack_from("<I", self.buf, t)
        return self.buf[t + 4:t + 4 + n]

    def table_vector(self, field_id):
        t = self._indirect(field_id)
        if t is None:
            return []
        (n,) = struct.unpack_from("<I", self.buf, t)
        out = []
        for i in range(n):
            (u,) = struct.unpack_from("<I", self.buf, t + 4 + 4 * i)
            out.append(_FB(self.buf, t + 4 + 4 * i + u))
        return out

    def table(self, field_id):
        t = self._indirect(field_id)
        return None if t is None else _FB(self.buf, t)


def _root(buf, base=0):
    (u,) = struct.unpack_from("<I", buf, base)
    return _FB(buf, base + u)


def _parse_header(buf):
    h = _root(buf)
    cols = []
    for c in h.table_vector(7):
        cols.append({"name": c.string(0), "type": c.scalar(1, "<B")})
    crs_t = h.table(10)
    crs = None
    if crs_t is not None:
        # Crs table (spec field ids): 0 org, 1 code, 4 wkt — the reference
        # writer populates only wkt, so code-less tables must not read as
        # a bogus code 0
        crs = {
            "org": crs_t.string(0),
            "code": crs_t.scalar(1, "<i", None),
            "wkt": crs_t.string(4),
        }
        if all(v is None for v in crs.values()):
            crs = None
    return {
        "name": h.string(0),
        "envelope": h.vector(1, "<f8"),
        "geometry_type": h.scalar(2, "<B"),
        "has_z": bool(h.scalar(3, "<?", False)),
        "columns": cols,
        "features_count": h.scalar(8, "<Q"),
        "index_node_size": h.scalar(9, "<H", 16),
        "crs": crs,
        "title": h.string(11),
        "description": h.string(12),
        "metadata": h.string(13),
    }


def _index_level_sizes(n_items, node_size):
    sizes = []
    n = n_items
    while True:
        sizes.append(n)
        if n == 1:
            break
        n = (n + node_size - 1) // node_size
    return sizes[::-1]  # root first


def _read_leaf_nodes(f, index_pos, features_count, node_size):
    """(minx,miny,maxx,maxy,offset) for each feature from the R-tree leaves."""
    sizes = _index_level_sizes(features_count, node_size)
    non_leaf = sum(sizes[:-1]) if len(sizes) > 1 else 0
    f.seek(index_pos + non_leaf * 40)
    raw = f.read(features_count * 40)
    dt = np.dtype([("minx", "<f8"), ("miny", "<f8"), ("maxx", "<f8"), ("maxy", "<f8"), ("off", "<u8")])
    return np.frombuffer(raw, dtype=dt)


def _index_size(features_count, node_size):
    return sum(_index_level_sizes(features_count, node_size)) * 40


def _geometry_to_geom(g: _FB, gtype_hint, has_z):
    gt = g.scalar(6, "<B") or gtype_hint
    if gt in (GT_MULTIPOLYGON, GT_GEOMETRYCOLLECTION):
        parts = [
            _geometry_to_geom(p, GT_POLYGON if gt == GT_MULTIPOLYGON else GT_UNKNOWN, has_z)
            for p in g.table_vector(7)
        ]
        if gt == GT_MULTIPOLYGON:
            return wc.Geom(wc.MULTIPOLYGON, [p.data for p in parts])
        return wc.collection(parts)
    xy = g.vector(1, "<f8")
    if xy is None or len(xy) == 0:
        return wc.empty({GT_POINT: wc.POINT, GT_LINESTRING: wc.LINESTRING, GT_POLYGON: wc.POLYGON}.get(gt, wc.GEOMETRYCOLLECTION))
    coords = np.array(xy).reshape(-1, 2)
    ends = g.vector(0, "<u4")
    if gt == GT_POINT:
        return wc.point(coords[0, 0], coords[0, 1])
    if gt == GT_MULTIPOINT:
        return wc.multipoint(coords)
    if gt == GT_LINESTRING:
        return wc.Geom(wc.LINESTRING, coords)
    if gt == GT_MULTILINESTRING:
        return wc.Geom(wc.MULTILINESTRING, _split_by_ends(coords, ends))
    if gt == GT_POLYGON:
        return wc.Geom(wc.POLYGON, _split_by_ends(coords, ends))
    raise ValueError(f"unsupported FGB geometry type {gt}")


def _split_by_ends(coords, ends):
    if ends is None or len(ends) <= 1:
        return [coords]
    out = []
    start = 0
    for e in ends:
        out.append(coords[start:int(e)])
        start = int(e)
    return out


def _decode_properties(props: bytes, columns):
    out = {}
    if props is None:
        return out
    pos = 0
    n = len(props)
    while pos + 2 <= n:
        (ci,) = struct.unpack_from("<H", props, pos)
        pos += 2
        col = columns[ci]
        t = col["type"]
        if t in CT_FMT:
            out[col["name"]] = struct.unpack_from(CT_FMT[t], props, pos)[0]
            pos += CT_SIZES[t]
        else:  # String / Json / DateTime / Binary: u32 len + bytes
            (ln,) = struct.unpack_from("<I", props, pos)
            pos += 4
            raw = props[pos:pos + ln]
            pos += ln
            out[col["name"]] = raw if t == 14 else raw.decode("utf-8", "replace")
    return out


class _FBBuilder:
    """Minimal flatbuffers builder (reverse-chunk construction; offsets are
    measured as distances from the buffer END, so relative uoffsets are
    position-independent: value = E_field - E_target)."""

    def __init__(self):
        self.chunks = []
        self.total = 0

    def _push(self, b: bytes):
        self.chunks.append(b)
        self.total += len(b)
        return self.total  # end-distance of this chunk's start

    def _align(self, a: int, extra: int = 0):
        pad = (-(self.total + extra)) % a
        if pad:
            self._push(b"\x00" * pad)

    def vector_f64(self, arr):
        data = np.ascontiguousarray(arr, dtype="<f8").tobytes()
        self._align(8, extra=len(data) + 4)
        return self._push(struct.pack("<I", len(arr)) + data)

    def vector_u32(self, arr):
        data = np.ascontiguousarray(arr, dtype="<u4").tobytes()
        self._align(4, extra=len(data) + 4)
        return self._push(struct.pack("<I", len(arr)) + data)

    def vector_bytes(self, b: bytes):
        self._align(4, extra=len(b) + 4)
        return self._push(struct.pack("<I", len(b)) + bytes(b))

    def string(self, s: str):
        b = s.encode("utf-8") + b"\x00"
        self._align(4, extra=len(b) + 4)
        return self._push(struct.pack("<I", len(b) - 1) + b)

    def vector_offsets(self, offs):
        """Vector of uoffsets to already-built elements (tables/strings)."""
        self._align(4, extra=4 * len(offs) + 4)
        # field i sits at end-distance E_vec_start - 4 - 4*i; value = E_field - E_target
        n = len(offs)
        total_after = self.total + 4 + 4 * n
        parts = [struct.pack("<I", n)]
        for i, et in enumerate(offs):
            e_field = total_after - 4 - 4 * i
            parts.append(struct.pack("<I", e_field - et))
        return self._push(b"".join(parts))

    def table(self, fields):
        """fields: list of (field_id, kind, value); kind in
        {'u8','u16','u64','bool','offset'}. Returns end-distance of table."""
        fields = [f for f in fields if f is not None]
        fields.sort(key=lambda t: t[0])
        sizes = {"u8": 1, "bool": 1, "u16": 2, "u32": 4, "i32": 4, "u64": 8,
                 "offset": 4}
        # lay out table body (after the 4-byte soffset), descending size for
        # natural alignment
        order = sorted(fields, key=lambda t: -sizes[t[1]])
        layout = {}
        pos = 4
        for (fid, kind, val) in order:
            sz = sizes[kind]
            pos = (pos + sz - 1) // sz * sz
            layout[fid] = (pos, kind, val)
            pos += sz
        table_size = pos
        max_id = max(fid for fid, _k, _v in fields) if fields else -1
        vt_size = 4 + 2 * (max_id + 1)
        # build table bytes; offsets resolved against the table's final
        # end-distance: E_table = total + table_size (we push table first)
        self._align(8, extra=table_size)  # ensure decent alignment
        e_table = self.total + table_size
        body = bytearray(table_size)
        struct.pack_into("<i", body, 0, vt_size)  # soffset: vtable right before
        for fid, (p, kind, val) in layout.items():
            if kind == "offset":
                e_field = e_table - p
                struct.pack_into("<I", body, p, e_field - val)
            else:
                fmt = {"u8": "<B", "bool": "<?", "u16": "<H", "u32": "<I",
                       "i32": "<i", "u64": "<Q"}[kind]
                struct.pack_into(fmt, body, p, val)
        self._push(bytes(body))
        vt = bytearray(vt_size)
        struct.pack_into("<HH", vt, 0, vt_size, table_size)
        for fid, (p, _k, _v) in layout.items():
            struct.pack_into("<H", vt, 4 + 2 * fid, p)
        self._push(bytes(vt))
        return e_table

    def finish(self, root_table_e):
        self._align(4, extra=4)
        e_field = self.total + 4
        self._push(struct.pack("<I", e_field - root_table_e))
        return b"".join(reversed(self.chunks))


def _encode_geometry_fb(b: _FBBuilder, g, top=True):
    """Build a Geometry table for Geom g; returns its end-distance."""
    k = g.kind
    if k == wc.MULTIPOLYGON:
        parts = [
            _encode_geometry_fb(b, wc.Geom(wc.POLYGON, rings), top=False)
            for rings in g.data
        ]
        vec = b.vector_offsets(parts)
        return b.table([(6, "u8", GT_MULTIPOLYGON), (7, "offset", vec)])
    if k == wc.GEOMETRYCOLLECTION:
        parts = [_encode_geometry_fb(b, sub, top=False) for sub in g.data]
        vec = b.vector_offsets(parts)
        return b.table([(6, "u8", GT_GEOMETRYCOLLECTION), (7, "offset", vec)])
    fields = []
    if k == wc.POINT:
        xy = np.asarray(g.data[:2]).reshape(1, 2)
        gt = GT_POINT
        fields.append((1, "offset", b.vector_f64(xy.ravel())))
    elif k == wc.MULTIPOINT:
        gt = GT_MULTIPOINT
        fields.append((1, "offset", b.vector_f64(np.asarray(g.data[:, :2]).ravel())))
    elif k == wc.LINESTRING:
        gt = GT_LINESTRING
        fields.append((1, "offset", b.vector_f64(np.asarray(g.data[:, :2]).ravel())))
    elif k in (wc.POLYGON, wc.MULTILINESTRING):
        gt = GT_POLYGON if k == wc.POLYGON else GT_MULTILINESTRING
        rings = [np.asarray(r[:, :2]) for r in g.data]
        coords = np.vstack(rings) if rings else np.zeros((0, 2))
        ends = np.cumsum([len(r) for r in rings]).astype("u4")
        if len(rings) > 1:
            fields.append((0, "offset", b.vector_u32(ends)))
        fields.append((1, "offset", b.vector_f64(coords.ravel())))
    else:
        raise ValueError(f"cannot encode {g.type_name} to FlatGeobuf")
    fields.append((6, "u8", gt))
    return b.table(fields)


_CT_BY_SPARK = {
    "long": 7, "integer": 5, "short": 3, "byte": 0, "boolean": 2,
    "double": 10, "float": 9, "string": 11, "binary": 14,
}


def _hilbert_codes(cx, cy, extent, order: int = 16):
    """Hilbert curve codes of points within extent (vectorized xy2d; the
    standard public-domain iterative rotation algorithm). FGB parity:
    writer.rs sorts node items by Hilbert value of the bbox center."""
    xmin, ymin, xmax, ymax = extent
    n = 1 << order
    sx = (xmax - xmin) or 1.0
    sy = (ymax - ymin) or 1.0
    cx = np.nan_to_num(np.asarray(cx, dtype=np.float64))
    cy = np.nan_to_num(np.asarray(cy, dtype=np.float64))
    x = np.clip((cx - xmin) / sx * (n - 1), 0, n - 1).astype(np.int64)
    y = np.clip((cy - ymin) / sy * (n - 1), 0, n - 1).astype(np.int64)
    d = np.zeros(len(x), dtype=np.uint64)
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += (np.uint64(s) * np.uint64(s)) * ((3 * rx) ^ ry).astype(np.uint64)
        flip = (ry == 0) & (rx == 1)
        xf = np.where(flip, s - 1 - x, x)
        yf = np.where(flip, s - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, yf, xf), np.where(swap, xf, yf)
        s >>= 1
    return d


def _build_packed_rtree(boxes, feat_offsets, node_size: int = 16):
    """Packed Hilbert R-tree bytes (FGB spec layout, 40-byte NodeItem):
    levels root-first, leaves last; leaf ``off`` = feature byte offset in the
    feature section, internal ``off`` = byte offset of the first child node
    within the index. Mirrors packed_r_tree.rs semantics; readable by this
    module's _read_leaf_nodes and by stock FGB readers."""
    n = len(boxes)
    sizes = _index_level_sizes(n, node_size)
    level_starts = np.concatenate(([0], np.cumsum(sizes[:-1]))) * 40
    dt = np.dtype([("minx", "<f8"), ("miny", "<f8"), ("maxx", "<f8"),
                   ("maxy", "<f8"), ("off", "<u8")])
    levels = [None] * len(sizes)
    leaves = np.empty(n, dtype=dt)
    leaves["minx"], leaves["miny"] = boxes[:, 0], boxes[:, 1]
    leaves["maxx"], leaves["maxy"] = boxes[:, 2], boxes[:, 3]
    leaves["off"] = feat_offsets
    levels[-1] = leaves
    for li in range(len(sizes) - 2, -1, -1):
        child = levels[li + 1]
        m = sizes[li]
        parents = np.empty(m, dtype=dt)
        for j in range(m):
            grp = child[j * node_size:(j + 1) * node_size]
            parents["minx"][j] = grp["minx"].min()
            parents["miny"][j] = grp["miny"].min()
            parents["maxx"][j] = grp["maxx"].max()
            parents["maxy"][j] = grp["maxy"].max()
            parents["off"][j] = level_starts[li + 1] + j * node_size * 40
        levels[li] = parents
    return b"".join(lv.tobytes() for lv in levels)


def write_flatgeobuf(
    df,
    path: str,
    geometry_col: str = "geometry",
    name: str = "layer",
    write_index: bool = True,
    node_size: int = 16,
    promote_to_multi: bool = True,
    title: str = None,
    description: str = None,
    metadata: str = None,
    crs=None,
):
    """Driver-side FlatGeobuf writer with a packed Hilbert R-tree index
    (rust/geoarrow-flatgeobuf/src/writer.rs write_index parity).

    Single-file formats force a single writer, but the input streams through
    ``toLocalIterator()`` — bounded driver memory (one partition of rows plus
    40 bytes of bbox/offset bookkeeping per feature), never a full
    ``collect()``. Features are staged size-prefixed in a temp file, then
    re-emitted in Hilbert order behind the index.

    Throughput ceiling: the single driver writer (plus the Hilbert sort
    pass) bounds this to single-disk bandwidth — fine for map-layer-sized
    exports (up to a few GB), not a 100 TB path. At scale, write
    GeoParquet (distributed, one file per task) and produce FGB only for
    the final serving artifact."""
    import os
    import tempfile

    from ..wkb import algorithms as alg

    schema_fields = [f for f in df.schema.fields if f.name != geometry_col]
    col_types = []
    for f in schema_fields:
        t = _CT_BY_SPARK.get(f.dataType.typeName())
        if t is None:
            t = 11  # stringify unknown types
        col_types.append((f.name, t))

    # pass 1: stream + encode features into a temp stage, tracking bboxes
    gts = set()
    boxes = []
    sizes = []
    xmin = ymin = math.inf
    xmax = ymax = -math.inf
    tmp_fd, tmp_path = tempfile.mkstemp(
        prefix=".fgb-stage-", dir=os.path.dirname(os.path.abspath(path)) or "."
    )
    try:
        with os.fdopen(tmp_fd, "wb") as tf:
            for r in df.toLocalIterator():
                g = (
                    wc.from_wkb(r[geometry_col])
                    if r[geometry_col] is not None
                    else None
                )
                if promote_to_multi and g is not None:
                    # matches the reference writer's default
                    # (FlatGeobufWriterOptions promote_to_multi: true) —
                    # a uniform Multi* header type even for mixed
                    # single/multi inputs; pass False for type-stable
                    # round trips
                    g = wc.to_multi(g)
                fb = _FBBuilder()
                props = bytearray()
                for ci, (cname, ctype) in enumerate(col_types):
                    v = r[cname]
                    if v is None:
                        continue
                    props += struct.pack("<H", ci)
                    if ctype in CT_FMT:
                        props += struct.pack(CT_FMT[ctype], v)
                    elif ctype == 14:
                        props += struct.pack("<I", len(v)) + bytes(v)
                    else:
                        enc = str(v).encode("utf-8")
                        props += struct.pack("<I", len(enc)) + enc
                fields = []
                b = None
                if g is not None and not g.is_empty():
                    gts.add(g.kind)
                    b = alg.bounds(g)
                    fields.append((0, "offset", _encode_geometry_fb(fb, g)))
                if props:
                    fields.append((1, "offset", fb.vector_bytes(bytes(props))))
                buf = fb.finish(fb.table(fields))
                tf.write(struct.pack("<I", len(buf)))
                tf.write(buf)
                sizes.append(4 + len(buf))
                if b is not None:
                    boxes.append(tuple(b))
                    xmin, ymin = min(xmin, b[0]), min(ymin, b[1])
                    xmax, ymax = max(xmax, b[2]), max(ymax, b[3])
                else:
                    boxes.append((0.0, 0.0, 0.0, 0.0))

        n = len(sizes)
        gtype = {
            frozenset([wc.POINT]): GT_POINT,
            frozenset([wc.LINESTRING]): GT_LINESTRING,
            frozenset([wc.POLYGON]): GT_POLYGON,
            frozenset([wc.MULTIPOINT]): GT_MULTIPOINT,
            frozenset([wc.MULTILINESTRING]): GT_MULTILINESTRING,
            frozenset([wc.MULTIPOLYGON]): GT_MULTIPOLYGON,
        }.get(frozenset(gts), GT_UNKNOWN)

        has_index = write_index and n > 0
        box_arr = np.asarray(boxes, dtype=np.float64).reshape(n, 4)
        size_arr = np.asarray(sizes, dtype=np.int64)
        if has_index:
            extent = (xmin, ymin, xmax, ymax) if xmin <= xmax else (0, 0, 0, 0)
            codes = _hilbert_codes(
                (box_arr[:, 0] + box_arr[:, 2]) / 2.0,
                (box_arr[:, 1] + box_arr[:, 3]) / 2.0,
                extent,
            )
            order = np.argsort(codes, kind="stable")
        else:
            order = np.arange(n)
        staged_off = np.concatenate(([0], np.cumsum(size_arr)[:-1])) if n else np.empty(0, np.int64)
        out_sizes = size_arr[order]
        out_offsets = np.concatenate(([0], np.cumsum(out_sizes)[:-1])) if n else np.empty(0, np.int64)
        index_bytes = (
            _build_packed_rtree(box_arr[order], out_offsets, node_size)
            if has_index
            else b""
        )

        # header (after the stream: feature count and extent are now known)
        hb = _FBBuilder()
        col_offs = []
        for (cname, ctype) in col_types:
            s = hb.string(cname)
            col_offs.append(hb.table([(0, "offset", s), (1, "u8", ctype)]))
        cols_vec = hb.vector_offsets(col_offs) if col_offs else None
        env_vec = hb.vector_f64([xmin, ymin, xmax, ymax]) if xmin <= xmax else None
        name_off = hb.string(name)
        header_fields = [
            (0, "offset", name_off),
            (2, "u8", gtype),
            (8, "u64", n),
            (9, "u16", node_size if has_index else 0),
        ]
        if env_vec is not None:
            header_fields.append((1, "offset", env_vec))
        if cols_vec is not None:
            header_fields.append((7, "offset", cols_vec))
        if crs is not None:
            from ..wkb import proj as _proj

            org_off = hb.string("EPSG")
            crs_tbl = hb.table(
                [(0, "offset", org_off), (1, "i32", int(_proj.parse_crs(crs)))]
            )
            header_fields.append((10, "offset", crs_tbl))
        for fid, val in ((11, title), (12, description), (13, metadata)):
            if val is not None:
                header_fields.append((fid, "offset", hb.string(val)))
        header = hb.finish(hb.table(header_fields))

        with open(path, "wb") as f, open(tmp_path, "rb") as tf:
            f.write(MAGIC + b"\x00")
            f.write(struct.pack("<I", len(header)))
            f.write(header)
            f.write(index_bytes)
            for i in order:
                tf.seek(int(staged_off[i]))
                f.write(tf.read(int(size_arr[i])))
    finally:
        if os.path.exists(tmp_path):
            os.unlink(tmp_path)


class _SeekAdapter:
    """seek/read file interface over a RangeSource, so the canonical leaf
    parser (_read_leaf_nodes) serves both local handles and range
    sources — one implementation, no drift."""

    def __init__(self, src):
        self._src = src
        self._pos = 0

    def seek(self, pos):
        self._pos = int(pos)

    def read(self, n):
        data = self._src.read_at(self._pos, n)
        self._pos += len(data)
        return data


def _read_header(src, path):
    """(header, header byte size) from an open range source."""
    head = src.read_at(0, 12)
    if head[:7] != MAGIC:
        raise ValueError(f"{path} is not a FlatGeobuf file")
    (hsize,) = struct.unpack("<I", head[8:12])
    return _parse_header(src.read_at(12, hsize)), hsize


def _fgb_header(path: str):
    """The parsed header alone: two range reads, no index."""
    from .ranges import open_range_source

    with open_range_source(path) as src:
        return _read_header(src, path)[0]


def _plan_fgb(path: str, bbox=None):
    """Driver-side scan planning of the 'flatgeobuf' Python DataSource:
    parse the header and compute per-feature [off, end) byte extents —
    bbox-pruned through the packed Hilbert R-tree leaf boxes when the file
    carries an index, sequential size-prefix scan otherwise. Returns
    (header, extents).

    Everything goes through :mod:`..ranges` byte-range requests, so the
    same planner serves local paths, file:// URLs, http(s):// objects and
    fsspec schemes (reference parity:
    rust/geoarrow-flatgeobuf/src/reader/object_store.rs:13) — planning
    costs exactly three range reads on an indexed file: magic+header
    size, header, leaf level."""
    from .ranges import open_range_source

    with open_range_source(path) as src:
        header, hsize = _read_header(src, path)
        fc = header["features_count"]
        node_size = header["index_node_size"]
        index_pos = 12 + hsize
        has_index = node_size > 0 and fc > 0
        isize = _index_size(fc, node_size) if has_index else 0
        feat_base = index_pos + isize
        file_size = src.size()
        if has_index:
            leaves = _read_leaf_nodes(
                _SeekAdapter(src), index_pos, fc, node_size
            )
            offs = leaves["off"].astype(np.int64) + feat_base
            # each feature's extent ends where the next (in file order)
            # begins; the last runs to EOF (the feature section is the
            # file's tail per the FGB spec)
            order = np.argsort(offs, kind="stable")
            ends = np.empty_like(offs)
            sorted_offs = offs[order]
            ends[order] = np.append(sorted_offs[1:], file_size)
            keep = np.ones(len(offs), dtype=bool)
            if bbox is not None:
                xmin, ymin, xmax, ymax = bbox
                keep = ~(
                    (leaves["maxx"] < xmin)
                    | (leaves["minx"] > xmax)
                    | (leaves["maxy"] < ymin)
                    | (leaves["miny"] > ymax)
                )
            extents = [
                (int(o), int(e)) for o, e in zip(offs[keep], ends[keep])
            ]
        else:
            # no index: sequential size-prefix scan, buffered in 4 MB
            # range requests (a 4-byte-at-a-time loop would be one round
            # trip per feature against an object store)
            chunk = 4 << 20
            extents = []
            pos = feat_base
            buf = b""
            buf_start = pos
            while pos < file_size and (fc == 0 or len(extents) < fc):
                if pos + 4 > buf_start + len(buf):
                    buf = src.read_at(pos, min(chunk, file_size - pos))
                    buf_start = pos
                (sz,) = struct.unpack_from("<I", buf, pos - buf_start)
                extents.append((pos, pos + 4 + sz))
                pos += 4 + sz
    return header, extents


def _fgb_spark_type(t):
    from pyspark.sql.types import (
        BinaryType, BooleanType, DoubleType, LongType, StringType,
    )

    if t in (0, 1, 2):
        return BooleanType() if t == 2 else LongType()
    if t in (3, 4, 5, 6, 7, 8):
        return LongType()
    if t in (9, 10):
        return DoubleType()
    if t == 14:
        return BinaryType()
    return StringType()


def _fgb_schema(header, columns=None, geometry_col="geometry",
                read_geometry=True):
    """Spark schema of a FlatGeobuf scan: the header's property columns in
    header order (only those named in ``columns`` when given), then the
    WKB geometry column unless ``read_geometry`` is False."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    want = None if columns is None else set(columns)
    fields = [
        StructField(c["name"], _fgb_spark_type(c["type"]))
        for c in header["columns"]
        if want is None or c["name"] in want
    ]
    if read_geometry:
        fields.append(StructField(geometry_col, BinaryType()))
    return StructType(fields)


def read_flatgeobuf(
    spark,
    path: str,
    bbox=None,
    columns=None,
    geometry_col: str = "geometry",
    read_geometry: bool = True,
):
    """Read a FlatGeobuf file into a DataFrame (WKB geometry + properties)
    through the ``flatgeobuf`` Python data source
    (:class:`..datasource.FlatGeobufDataSource`), which owns the scan.

    ``bbox=(xmin,ymin,xmax,ymax)`` prunes features via the file's Hilbert
    R-tree leaf boxes before any feature bytes are read, then refines
    each decoded feature exactly (NULL and empty geometries drop).
    ``columns`` projects the property columns (header order kept).
    ``read_geometry=False`` omits the geometry column entirely
    (properties-only scans skip WKB construction — reference parity with
    read_flatgeobuf's read_geometry flag); with ``bbox`` the geometry is
    still decoded for the refine, but never encoded or returned.
    ``path`` may be local, file://, http(s):// or an fsspec URL; each task
    reads its features in coalesced range requests of at most 8 MB."""
    from .datasource import register_datasources

    register_datasources(spark)
    schema = _fgb_schema(
        _fgb_header(path), columns, geometry_col, read_geometry
    )
    reader = (
        spark.read.format("flatgeobuf").schema(schema)
        .option("geometry_col", geometry_col)
    )
    if bbox is not None:
        reader = reader.option("bbox", ",".join(str(float(v)) for v in bbox))
    return reader.load(path)
