"""Python Data Source API (Spark 4) readers and the GeoParquet writer —
the one scan per file format.

Each reader class here is the package's only code that decodes a
partition of its format (Spark's own parquet scan serves the other
GeoParquet reads). ``read_flatgeobuf`` and ``read_shapefile`` are thin wrappers that
load through these sources (passing the schema they want), and
``read_geoparquet``'s native-encoding bbox path loads through the
``geoparquet`` source. The planner sees real InputPartitions (feature-
offset chunks, .shx record ranges, surviving row groups), executors open
the files themselves, and options ride the standard reader API:

    spark.read.format("flatgeobuf")
        .option("bbox", "-20,30,40,70")      # Hilbert R-tree pruned
        .option("columns", "name,pop")       # projection
        .load("countries.fgb")

Register once per session with ``register_datasources(spark)`` (done by
``geoarrow_rs_spark.register_all`` and by the wrapping functions), so
format-string pipelines and SQL ``CREATE TABLE ... USING flatgeobuf``
work as well.
"""

from __future__ import annotations

import struct
from contextlib import nullcontext

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

try:  # added in pyspark 4.1; on 4.0 the batch surfaces must still import
    from pyspark.sql.datasource import DataSourceStreamArrowWriter
except ImportError:  # pragma: no cover - env ships 4.1
    class DataSourceStreamArrowWriter:  # subclass base only; Spark 4.0
        pass                            # never plans a Python stream sink
from pyspark.sql.types import BinaryType, StructField, StructType

_CHUNK = 20000  # feature offsets per partition

# SQL catalog tables (CREATE TABLE ... USING <source>) reach schema()
# with the full option map but reach reader() with an EMPTY one in this
# Spark build — only the schema survives the catalog round trip. So
# schema() stamps the reader-relevant options into the first field's
# metadata and reader() recovers them when its own options are bare.
_OPT_STAMP_KEY = "__geoarrow_source_options"


def _strip_file_scheme(p):
    """Catalog tables URI-ize paths ('file:/x' or 'file:///x'). Defers
    to geoparquet._local_path — ONE parser for file: URIs — but keeps
    non-file schemes (http(s) for FlatGeobuf) intact."""
    if p and p.startswith("file:"):
        from .geoparquet import _local_path

        return _local_path(p)
    return p


_BATCH_ROWS = 4096
# footer-planning pool engages only when one footer fetch costs at least
# this much (object-store latency); warm local page-cache parses are
# GIL-bound and the pool measurably hurts them (see _GpqReader.partitions)
_POOL_LATENCY_S = 0.001


def _rows_to_batches(rows, schema):
    """Accumulate per-row tuples into Arrow RecordBatches: the Python
    DataSource ships a batch to the JVM in one Arrow transfer instead of
    pickling every row. Decode loops that are inherently per-feature
    (FlatGeobuf flatbuffers, shapefile records) wrap their row generator
    with this."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    aschema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
    )

    def flush(buf):
        cols = list(zip(*buf))
        arrays = []
        for i, f in enumerate(aschema):
            try:
                arrays.append(pa.array(cols[i], type=f.type))
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                # e.g. a dbf numeric field with fdec=0 that still holds a
                # decimal point — same leniency the row-tuple path had
                arrays.append(pa.array(cols[i]).cast(f.type, safe=False))
        return pa.RecordBatch.from_arrays(arrays, schema=aschema)

    buf = []
    for row in rows:
        buf.append(row)
        if len(buf) >= _BATCH_ROWS:
            yield flush(buf)
            buf = []
    if buf:
        yield flush(buf)


def _stamp_options(schema, options, keys):
    rel = {k: str(options[k]) for k in keys if options.get(k)}
    if not schema.fields or not rel:
        return schema
    f0 = schema.fields[0]
    md = dict(f0.metadata or {})
    md[_OPT_STAMP_KEY] = rel
    return StructType(
        [StructField(f0.name, f0.dataType, f0.nullable, md)]
        + list(schema.fields[1:])
    )


def _recover_options(options, schema):
    """Reader-side twin of _stamp_options: prefer live options (the
    DataFrame-reader path), fall back to the stamped copy (catalog
    tables)."""
    if options.get("path"):
        return options
    for f in schema.fields:
        md = f.metadata or {}
        if _OPT_STAMP_KEY in md:
            merged = dict(md[_OPT_STAMP_KEY])
            for k, v in dict(options).items():
                merged[k] = v
            return merged
    return options


class _AttrFilterMixin:
    """Shared Catalyst attribute-filter pushdown (Spark 4.1 pushFilters)
    for the Python sources: accept simple comparisons / In / IsNull /
    IsNotNull on non-geometry columns and apply them EXACTLY, row-level,
    inside read() — rows drop before WKB encode + Arrow transfer. Readers
    with planning statistics (GeoParquet) additionally prune partitions.

    Subclasses set ``self.pushed = []`` in __init__ and define
    ``_filterable_names()``."""

    _PUSH_VAL_TYPES = (int, float, bool, str)

    def _accepts_attr(self, attr):
        """Default: top-level non-geometry columns only. Readers with
        nested-field support (GeoParquet) override."""
        return len(attr) == 1 and attr[0] in self._filterable_names()

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        simple = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
                  LessThanOrEqual)
        for f in filters:
            attr = getattr(f, "attribute", None)
            ok = attr is not None and self._accepts_attr(attr)
            if ok and isinstance(f, simple):
                ok = isinstance(f.value, self._PUSH_VAL_TYPES)
            elif ok and isinstance(f, In):
                ok = all(isinstance(v, self._PUSH_VAL_TYPES)
                         for v in f.value)
            elif ok and isinstance(f, (IsNull, IsNotNull)):
                pass
            elif ok:
                ok = False
            if ok:
                self.pushed.append(f)
            else:
                yield f  # Spark keeps evaluating it

    @staticmethod
    def _row_matches(value, flt):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        if isinstance(flt, IsNull):
            return value is None
        if isinstance(flt, IsNotNull):
            return value is not None
        if value is None:
            return False
        try:
            if isinstance(flt, EqualTo):
                return value == flt.value
            if isinstance(flt, In):
                return value in flt.value
            if isinstance(flt, GreaterThan):
                return value > flt.value
            if isinstance(flt, GreaterThanOrEqual):
                return value >= flt.value
            if isinstance(flt, LessThan):
                return value < flt.value
            if isinstance(flt, LessThanOrEqual):
                return value <= flt.value
        except TypeError:
            return False
        return True

    def _props_pass(self, getval):
        """Evaluate every accepted filter; ``getval(col)`` supplies the
        row's value for a column."""
        for flt in self.pushed:
            if not self._row_matches(getval(flt.attribute[0]), flt):
                return False
        return True


class _FgbPartition(InputPartition):
    def __init__(self, extents):
        self.extents = extents  # [(off, end)]


class FlatGeobufDataSource(DataSource):
    """``format("flatgeobuf")``: schema from the FGB header, partitions
    from the feature offset table, optional bbox pushdown via the file's
    packed Hilbert R-tree."""

    @classmethod
    def name(cls):
        return "flatgeobuf"

    def _path(self):
        p = _strip_file_scheme(self.options.get("path"))
        if not p:
            raise ValueError("flatgeobuf: .load(path) or .option('path', ...) required")
        return p

    def schema(self):
        from .flatgeobuf import _fgb_header, _fgb_schema

        want = None
        if self.options.get("columns"):
            want = [c.strip() for c in self.options["columns"].split(",")]
        out = _fgb_schema(
            _fgb_header(self._path()), want,
            self.options.get("geometry_col", "geometry"),
        )
        return _stamp_options(
            out, self.options, ("path", "bbox", "columns", "geometry_col")
        )

    def reader(self, schema):
        self.options = _recover_options(self.options, schema)
        return _FgbReader(self._path(), self.options, schema)


class _FgbReader(_AttrFilterMixin, DataSourceReader):
    """Emits the schema's fields by name: header properties, and WKB for
    the ``geometry_col`` field. A schema without that field (a
    properties-only read) never encodes geometry, and decodes it only for
    the bbox refine."""

    def __init__(self, path, options, schema):
        from .flatgeobuf import _plan_fgb

        self.path = path
        self.schema = schema
        self.gcol = options.get("geometry_col", "geometry")
        self.pushed = []
        self.bbox = None
        if options.get("bbox"):
            self.bbox = tuple(float(v) for v in options["bbox"].split(","))
        # plan at construction: the reader object is pickled to executors,
        # so header + extents computed here ship with it
        self._header, self._extents = _plan_fgb(path, self.bbox)

    def _filterable_names(self):
        return {f.name for f in self.schema.fields} - {self.gcol}

    def partitions(self):
        extents = self._extents
        chunks = [
            extents[i : i + _CHUNK] for i in range(0, len(extents), _CHUNK)
        ] or [[]]
        return [_FgbPartition(c) for c in chunks]

    def read(self, partition):
        return _rows_to_batches(self._rows(partition), self.schema)

    def _rows(self, partition):
        from ..wkb import algorithms as alg
        from ..wkb import core as wc
        from .flatgeobuf import _decode_properties, _geometry_to_geom, _root
        from .ranges import coalesce_ranges, open_range_source

        header = self._header
        cols_meta = header["columns"]
        gtype_hint = header["geometry_type"]
        has_z = header["has_z"]
        names = [f.name for f in self.schema.fields]
        emit_geom = self.gcol in names
        bbox = self.bbox
        geom = None
        with open_range_source(self.path) as src:
            for roff, rend, members in coalesce_ranges(partition.extents):
                blob = src.read_at(roff, rend - roff)
                for off, _end in members:
                    rel = int(off) - roff
                    (sz,) = struct.unpack_from("<I", blob, rel)
                    buf = blob[rel + 4 : rel + 4 + sz]
                    feat = _root(buf)
                    if emit_geom or bbox is not None:
                        geom_t = feat.table(0)
                        geom = _geometry_to_geom(geom_t, gtype_hint, has_z) if geom_t else None
                    if bbox is not None:
                        # exact refine after the conservative index prune;
                        # NULL and empty geometries never intersect
                        b = alg.bounds(geom) if geom is not None else None
                        if b is None or (
                            b[2] < bbox[0] or b[0] > bbox[2]
                            or b[3] < bbox[1] or b[1] > bbox[3]
                        ):
                            continue
                    props = _decode_properties(feat.vector_bytes(1), cols_meta)
                    if self.pushed and not self._props_pass(props.get):
                        continue  # dropped before WKB encode + transfer
                    if emit_geom:
                        props[self.gcol] = (
                            wc.to_wkb(geom) if geom is not None else None
                        )
                    yield tuple(props.get(n) for n in names)


class _ShpPartition(InputPartition):
    def __init__(self, records):
        self.records = records  # [(rid, off, length)]


class ShapefileDataSource(DataSource):
    """``format("shapefile")``: .shx record index drives the partitions,
    .dbf supplies property columns. Pass the .shp path to ``.load``; the
    .shx/.dbf siblings are found next to it (option ``dbf`` names another
    .dbf)."""

    @classmethod
    def name(cls):
        return "shapefile"

    def _paths(self):
        p = _strip_file_scheme(self.options.get("path"))
        if not p:
            raise ValueError("shapefile: .load(path.shp) required")
        import os

        # splitext, not str.replace: a '.shp' elsewhere in the path (e.g.
        # a directory named data.shp.d) must not be rewritten.
        dbf = _strip_file_scheme(
            self.options.get("dbf") or os.path.splitext(p)[0] + ".dbf"
        )
        return p, (dbf if os.path.exists(dbf) else None)

    def schema(self):
        from .shapefile import _read_dbf_header, _shp_schema

        _, dbf = self._paths()
        out = _shp_schema(
            _read_dbf_header(dbf)[3] if dbf else [],
            self.options.get("geometry_col", "geometry"),
        )
        return _stamp_options(
            out, self.options, ("path", "dbf", "geometry_col")
        )

    def reader(self, schema):
        self.options = _recover_options(self.options, schema)
        return _ShpReader(
            *self._paths(), schema, self.options.get("geometry_col", "geometry")
        )


class _ShpReader(_AttrFilterMixin, DataSourceReader):
    """Emits the schema's fields by name: .dbf fields, and WKB for the
    ``geometry_col`` field. The .dbf is opened only when the schema names
    one of its fields."""

    def __init__(self, shp_path, dbf_path, schema, geometry_col):
        import os

        from .shapefile import _read_dbf_header, _read_shx

        self.shp_path = shp_path
        self.schema = schema
        self.gcol = geometry_col
        self.pushed = []
        self._index = _read_shx(os.path.splitext(shp_path)[0] + ".shx")
        self._fields = []  # (name, type, byte offset, length, decimals)
        self._dbf_meta = None
        if dbf_path:
            names = set(schema.names)
            _, hsize, rsize, fields = _read_dbf_header(dbf_path)
            pos = 0
            for (n, t, l, d) in fields:
                if n in names:
                    self._fields.append((n, t, pos, l, d))
                pos += l
            self._dbf_meta = (hsize, rsize)
        self.dbf_path = dbf_path if self._fields else None

    def _filterable_names(self):
        return {f[0] for f in self._fields}

    def partitions(self):
        recs = [
            (i, off, length) for i, (off, length) in enumerate(self._index)
        ]
        chunks = [recs[i : i + 10000] for i in range(0, len(recs), 10000)] or [[]]
        return [_ShpPartition(c) for c in chunks]

    def read(self, partition):
        return _rows_to_batches(self._rows(partition), self.schema)

    def _rows(self, partition):
        from ..wkb import core as wc
        from .shapefile import _decode_record, _parse_dbf_value

        names = self.schema.names
        emit_geom = self.gcol in names
        row = {}
        with open(self.shp_path, "rb") as shp, (
            open(self.dbf_path, "rb") if self.dbf_path else nullcontext()
        ) as dbf:
            for rid, off, length in partition.records:
                if dbf is not None:
                    hsize, rsize = self._dbf_meta
                    dbf.seek(hsize + rid * rsize + 1)  # +1 deletion flag
                    raw = dbf.read(rsize - 1)
                    row = {
                        n: _parse_dbf_value(raw[p : p + l], t, d)
                        for (n, t, p, l, d) in self._fields
                    }
                # dbf attributes filter BEFORE the geometry record is even
                # read — pushed predicates skip the .shp seek entirely
                if self.pushed and not self._props_pass(row.get):
                    continue
                if emit_geom:
                    shp.seek(off + 8)  # skip the record header
                    geom = _decode_record(shp.read(length))
                    row[self.gcol] = wc.to_wkb(geom) if geom is not None else None
                yield tuple(row.get(n) for n in names)


class _GpqPartition(InputPartition):
    def __init__(self, file, rg, part_vals):
        self.file = file
        self.rg = rg
        self.part_vals = part_vals  # hive key=value dirs: str, None = NULL


class GeoParquetDataSource(DataSource):
    """``format("geoparquet")``: one InputPartition per SURVIVING row group.

    Planning prunes row groups from parquet footer statistics alone — the
    covering struct's leaves when the file has one (GeoParquet 1.1 bbox
    covering), else the native coordinate leaves themselves (the
    reference's with_intersecting_row_groups over ParquetBboxStatistics,
    rust/geoparquet/src/reader/spatial_filter.rs:57-181) — then each task
    reads exactly one row group and refines with the exact per-row bbox
    test. Geometry comes back as canonical WKB whatever the stored
    encoding. Options: ``bbox`` ("xmin,ymin,xmax,ymax"), ``columns``
    (top-level projection, pushed into the row-group read), ``geometry_col``.
    Hive ``key=value`` directory levels surface as string columns, decoded
    as Spark decodes them (``%XX`` escapes undone, the default partition
    as NULL).

    ``read_geoparquet`` reads through this source when a bbox meets a
    native encoding with no covering column; its other paths are Spark's
    own parquet scan. The pruning is visible to Spark as real
    InputPartitions."""

    @classmethod
    def name(cls):
        return "geoparquet"

    def _path(self):
        p = self.options.get("path")
        if not p:
            raise ValueError("geoparquet: .load(path) or .option('path', ...) required")
        local = _strip_file_scheme(p)
        if "://" in local:
            raise ValueError(
                "geoparquet data source reads local/file:// paths; use "
                "read_geoparquet / spark.read.parquet for object stores"
            )
        return local

    def _plan_meta(self):
        # memoized: schema() and reader() both need the plan, and each
        # used to re-glob the parts and re-read the geo footer
        cached = getattr(self, "_plan_meta_cache", None)
        if cached is not None:
            return cached

        from .geoparquet import _parquet_parts, read_geo_metadata

        path = self._path()
        meta = read_geo_metadata(path) or {}
        gcol = self.options.get("geometry_col") or meta.get(
            "primary_column", "geometry"
        )
        col_meta = meta.get("columns", {}).get(gcol, {})
        cov = col_meta.get("covering", {}).get("bbox")
        covering = cov["xmin"][0] if cov else None
        enc = col_meta.get("encoding", "WKB")
        cached = (path, _parquet_parts(path), gcol, enc, covering)
        self._plan_meta_cache = cached
        return cached

    def schema(self):
        import os

        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type

        path, parts, gcol, enc, _cov = self._plan_meta()
        if not parts:
            raise ValueError(f"geoparquet: no part files under {path}")
        aschema = pq.read_schema(parts[0])
        want = None
        if self.options.get("columns"):
            want = {c.strip() for c in self.options["columns"].split(",")}
            want.add(gcol)
        fields = []
        for f in aschema:
            if want is not None and f.name not in want:
                continue
            if f.name == gcol:
                fields.append(StructField(gcol, BinaryType()))
            else:
                fields.append(StructField(f.name, from_arrow_type(f.type)))
        seen = {f.name for f in fields}
        root = path if os.path.isdir(path) else os.path.dirname(path)
        from .geoparquet import _hive_partition_values
        hive_keys = []  # union over ALL parts — a stray rootless part
        for part in parts:  # file must not hide the dataset's keys
            for k in _hive_partition_values(part, root):
                if k not in hive_keys:
                    hive_keys.append(k)
        for k in hive_keys:
            if k not in seen and (want is None or k in want):
                from pyspark.sql.types import StringType

                fields.append(StructField(k, StringType()))
        return _stamp_options(
            StructType(fields), self.options,
            ("path", "bbox", "columns", "geometry_col"),
        )

    def reader(self, schema):
        self.options = _recover_options(self.options, schema)
        return _GpqReader(self._plan_meta(), self.options, schema)

    def writer(self, schema, overwrite):
        p = self.options.get("path")
        if not p:
            raise ValueError("geoparquet: .save(path) required")
        local = _strip_file_scheme(p)
        if "://" in local:
            raise ValueError(
                "geoparquet data source writes local/file:// paths; use "
                "write_geoparquet for Hadoop-filesystem destinations"
            )
        return _GpqWriter(local, schema, self.options, overwrite)

    def streamWriter(self, schema, overwrite):
        p = self.options.get("path")
        if not p:
            raise ValueError("geoparquet: .start(path) required")
        local = _strip_file_scheme(p)
        if "://" in local:
            raise ValueError(
                "geoparquet stream sink writes local/file:// paths"
            )
        # streaming epochs only ever append; replay dedup lives in the
        # sink log, not in SaveMode semantics
        return _GpqStreamWriter(local, schema, self.options, overwrite=False)


class _GpqReader(_AttrFilterMixin, DataSourceReader):
    """Accepted filters are FULLY applied: row-group stats pruning +
    hive-directory pruning in partitions(), exact row-level evaluation in
    read() — so Spark drops them from its post-scan Filter. The geometry
    bbox filter stays option-driven; ST_* predicates never reach the V2
    filter API."""

    def __init__(self, plan_meta, options, schema):
        import os

        path, parts, gcol, enc, covering = plan_meta
        self.path = path
        self.parts = parts
        self.gcol = gcol
        self.enc = enc
        self.covering = covering
        self.schema = schema
        self.root = path if os.path.isdir(path) else os.path.dirname(path)
        self.bbox = None
        if options.get("bbox"):
            self.bbox = tuple(float(v) for v in options["bbox"].split(","))
        self.pushed = []  # accepted attribute Filters (AND semantics)

    def _filterable_names(self):
        return {f.name for f in self.schema.fields} - {self.gcol}

    def _accepts_attr(self, attr):
        """Top-level non-geometry columns, plus NESTED struct-field paths
        (e.g. the covering column's ('bbox', 'xmin')) — parquet keeps
        min/max statistics per LEAF, so a filter on a covering leaf
        prunes row groups exactly like the bbox option does, straight
        from a WHERE clause."""
        if len(attr) == 1:
            return attr[0] in self._filterable_names()
        if attr[0] == self.gcol:
            return False
        from pyspark.sql.types import StructType

        node = self.schema
        for name in attr:
            if not isinstance(node, StructType) or name not in node.names:
                return False
            node = node[name].dataType
        return not isinstance(node, StructType)  # must end on a leaf

    @staticmethod
    def _rg_possibly_matches(stats_by_col, flt):
        """False only when footer statistics PROVE no row in the row
        group satisfies ``flt``. Strings are never range-pruned (parquet
        byte-array stats may be writer-truncated); numeric min/max are
        exact."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        col = ".".join(flt.attribute)  # parquet stats key by leaf path
        st = stats_by_col.get(col)
        if st is None:
            return True
        n_values, null_count, mn, mx = st
        all_null = null_count is not None and null_count == n_values
        if isinstance(flt, IsNull):
            return null_count is None or null_count > 0
        if isinstance(flt, IsNotNull):
            return not all_null
        if all_null:
            return False  # comparisons never match NULL
        numeric = isinstance(mn, (int, float)) and not isinstance(mn, bool)
        if mn is None or mx is None or not numeric:
            return True
        v = getattr(flt, "value", None)
        if isinstance(flt, EqualTo):
            return isinstance(v, (int, float)) and mn <= v <= mx
        if isinstance(flt, In):
            return any(isinstance(x, (int, float)) and mn <= x <= mx
                       for x in flt.value)
        if not isinstance(v, (int, float)):
            return True
        if isinstance(flt, GreaterThan):
            return mx > v
        if isinstance(flt, GreaterThanOrEqual):
            return mx >= v
        if isinstance(flt, LessThan):
            return mn < v
        if isinstance(flt, LessThanOrEqual):
            return mn <= v
        return True

    def _hive_prunes(self, part_vals):
        """True when an accepted filter on a hive partition column rejects
        the file's directory value (a constant for every row; None for
        the default partition). Exact, so read() never re-checks it."""
        return any(
            len(f.attribute) == 1
            and f.attribute[0] in part_vals
            and not self._row_matches(part_vals[f.attribute[0]], f)
            for f in self.pushed
        )

    def partitions(self):
        import os
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        from .geoparquet import _file_rowgroup_tasks, _hive_partition_values

        filter_paths = {".".join(f.attribute) for f in self.pushed}

        # hive pruning first: pure path arithmetic, no I/O
        survivors = []
        for f in self.parts:
            pv = _hive_partition_values(f, self.root)
            if self.pushed and self._hive_prunes(pv):
                continue
            survivors.append((f, pv))

        def plan_file(item, md=None):
            f, pv = item
            if md is None:
                md = pq.read_metadata(f)
            if self.bbox is None:
                rgs = [(rg, True) for rg in range(md.num_row_groups)]
            else:
                rgs = _file_rowgroup_tasks(f, self.gcol, self.bbox,
                                           self.covering, md=md)
            want_stats = [c for c in filter_paths if c not in pv]
            out = []
            for rg, keep in rgs:
                if not keep:
                    continue
                if want_stats:
                    rgmd = md.row_group(rg)
                    stats = {}
                    for ci in range(rgmd.num_columns):
                        cc = rgmd.column(ci)
                        name = cc.path_in_schema
                        if name in want_stats and cc.statistics is not None:
                            s = cc.statistics
                            stats[name] = (
                                rgmd.num_rows, s.null_count,
                                s.min if s.has_min_max else None,
                                s.max if s.has_min_max else None,
                            )
                    if not all(
                        self._rg_possibly_matches(stats, flt)
                        for flt in self.pushed
                        if ".".join(flt.attribute) in want_stats
                    ):
                        continue
                out.append(_GpqPartition(f, rg, pv))
            return out

        # Footer planning strategy, decided by a latency probe on the
        # first footer. When footers are warm local page-cache hits
        # (~0.1 ms, GIL-bound thrift parse) a thread pool only adds
        # contention — measured 4x SLOWER on a 240-file local dataset —
        # so the serial loop stays. When a footer fetch is genuinely
        # I/O-bound (object storage: 2-50 ms/footer, pyarrow releases
        # the GIL while waiting), the serial loop at 1e5 files is minutes
        # of driver planning; a bounded pool makes it aggregate-latency
        # bound (measured 3.9x faster at 2 ms injected latency, 240
        # files). Results are ordered identically either way.
        if not survivors:
            return [_GpqPartition(None, -1, {})]
        import time as _time

        # probe ONLY the footer fetch (ADVICE r7: timing the whole
        # plan_file let row-group pruning CPU masquerade as object-store
        # latency and engage the pool in exactly the GIL-bound case);
        # the fetched metadata is reused, not re-read
        t0 = _time.perf_counter()
        md0 = pq.read_metadata(survivors[0][0])
        probe = _time.perf_counter() - t0
        first = plan_file(survivors[0], md=md0)
        rest = survivors[1:]
        workers = min(16, len(rest), (os.cpu_count() or 8))
        if rest and workers > 1 and probe >= _POOL_LATENCY_S:
            chunks = [rest[i::workers] for i in range(workers)]

            def plan_chunk(chunk):
                return [plan_file(item) for item in chunk]

            with ThreadPoolExecutor(max_workers=workers) as ex:
                chunk_results = list(ex.map(plan_chunk, chunks))
            # de-interleave back to input order: chunk i holds files
            # i, i+workers, i+2*workers, ...
            per_file = [None] * len(rest)
            for ci, res in enumerate(chunk_results):
                for j, lst in enumerate(res):
                    per_file[ci + j * workers] = lst
        else:
            per_file = [plan_file(s) for s in rest]
        tasks = [t for lst in [first] + per_file for t in lst]
        return tasks or [_GpqPartition(None, -1, {})]

    @staticmethod
    def _arrow_filter_mask(arr, flt):
        """Arrow-compute mask for one accepted filter over one column
        (nulls fail comparisons, matching _row_matches). Raises on type
        mismatch — the caller falls back to per-row Python for that
        filter only."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        if isinstance(flt, IsNull):
            return pc.is_null(arr)
        if isinstance(flt, IsNotNull):
            return pc.is_valid(arr)
        if isinstance(flt, EqualTo):
            m = pc.equal(arr, flt.value)
        elif isinstance(flt, In):
            m = pc.is_in(arr, value_set=pa.array(list(flt.value)))
        elif isinstance(flt, GreaterThan):
            m = pc.greater(arr, flt.value)
        elif isinstance(flt, GreaterThanOrEqual):
            m = pc.greater_equal(arr, flt.value)
        elif isinstance(flt, LessThan):
            m = pc.less(arr, flt.value)
        elif isinstance(flt, LessThanOrEqual):
            m = pc.less_equal(arr, flt.value)
        else:
            raise TypeError(f"unexpected pushed filter {flt!r}")
        return pc.fill_null(m, False)

    def read(self, partition):
        if partition.file is None:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        gcol = self.gcol
        names = [f.name for f in self.schema.fields]
        want = [n for n in names if n not in partition.part_vals]
        # a fully-pushed filter's column may have been pruned from the
        # projected schema — read it anyway so the filter can be applied
        for flt in self.pushed:
            c = flt.attribute[0]
            if c not in want and c not in partition.part_vals:
                want.append(c)
        pf = pq.ParquetFile(partition.file)
        avail = set(pf.schema_arrow.names)
        # mixed layouts: a part may lack a column other parts carry
        # (e.g. hive keys unioned into the schema) — absent columns
        # surface as nulls rather than crashing the row-group read
        file_cols = [c for c in want if c in avail]
        tbl = pf.read_row_group(partition.rg, columns=file_cols)

        # geometry -> canonical WKB, Arrow-side for the WKB encoding
        if gcol in file_cols:
            if self.enc != "WKB":
                import pandas as pd

                from ..functions import kernels as K

                wkb = K.k_from_native(
                    pd.Series(tbl.column(gcol).to_pylist()), self.enc
                )
                arr = pa.array(list(wkb), type=pa.binary())
            else:
                arr = tbl.column(gcol).cast(pa.binary())
            tbl = tbl.set_column(
                tbl.schema.get_field_index(gcol), gcol, arr
            )

        mask = None

        def and_mask(m):
            nonlocal mask
            mask = m if mask is None else pc.and_(mask, m)

        if self.bbox is not None and gcol in file_cols:
            # vectorized exact refine: the batch bbox kernel decodes the
            # whole column in one pass (numpy fast path for points) —
            # the per-row from_wkb loop cost ~40µs/row, which dominated
            # the scan whenever stats pruning couldn't narrow the read
            import numpy as np
            import pandas as pd

            from ..functions.kernels import k_bbox_struct

            bx0, by0, bx1, by1 = self.bbox
            frame = k_bbox_struct(pd.Series(tbl.column(gcol).to_pylist()))
            xmin = frame["xmin"].to_numpy()
            ymin = frame["ymin"].to_numpy()
            xmax = frame["xmax"].to_numpy()
            ymax = frame["ymax"].to_numpy()
            with np.errstate(invalid="ignore"):
                keep = (
                    (xmax >= bx0) & (xmin <= bx1)
                    & (ymax >= by0) & (ymin <= by1)
                )
            keep &= ~np.isnan(xmin)  # null / empty geometries drop
            and_mask(pa.array(keep))
        # accepted pushed filters are FULLY applied here (the contract:
        # Spark no longer re-evaluates them post-scan)
        for flt in self.pushed:
            attr = flt.attribute
            root = attr[0]
            if len(attr) == 1 and root in partition.part_vals:
                continue  # decided for the whole file by _hive_prunes
            if root not in tbl.schema.names:
                # column absent in this part -> all-null: IsNull matches
                # every row, everything else matches none
                from pyspark.sql.datasource import IsNull

                if isinstance(flt, IsNull):
                    continue
                return
            arr = tbl.column(root)
            for name in attr[1:]:  # nested struct leaf (covering fields)
                arr = pc.struct_field(arr, name)
            try:
                and_mask(self._arrow_filter_mask(arr, flt))
            except Exception:
                # type-mismatched literal etc. — per-row semantics on
                # this one column only
                and_mask(pa.array(
                    [self._row_matches(v, flt) for v in arr.to_pylist()],
                    type=pa.bool_(),
                ))
        if mask is not None:
            tbl = tbl.filter(mask)

        # assemble in schema order: file columns cast to the declared
        # type, hive values as constants, absent columns as nulls
        n = tbl.num_rows
        arrays, fields = [], []
        for f in self.schema.fields:
            at = to_arrow_type(f.dataType)
            if f.name in tbl.schema.names:
                arrays.append(tbl.column(f.name).cast(at))
            elif f.name in partition.part_vals:
                arrays.append(
                    pa.array([partition.part_vals[f.name]] * n, type=at)
                )
            else:
                arrays.append(pa.nulls(n, type=at))
            fields.append(pa.field(f.name, at))
        out = pa.table(arrays, schema=pa.schema(fields))
        # Arrow RecordBatches cross to the JVM as-is — no per-row
        # Python tuples, no column-wide to_pylist of non-geometry data
        for batch in out.to_batches():
            yield batch


class _GpqCommit(WriterCommitMessage):
    """Per-task commit message: the finalized part file and its exact
    data bbox."""

    def __init__(self, file, bbox, rows):
        self.file = file
        self.bbox = bbox  # (xmin, ymin, xmax, ymax) or None (no geometry)
        self.rows = rows


class _GpqWriter(DataSourceArrowWriter):
    """``df.write.format("geoparquet").save(path)`` — a SINGLE-PASS
    distributed GeoParquet write.

    Each task streams its Arrow batches straight into its own part file
    whose parquet footer already carries the ``geo`` key-value metadata
    (per-part covering column generated inline; row groups coalesced to
    ``rowgroup_rows``). The function API (``write_geoparquet``) must
    re-open every part AFTER Spark's parquet sink to stamp footers — a
    second full pass over everything written, which at 100 TB doubles the
    job; here the task owns the file, so spec-compliant footers cost
    nothing extra. The dataset bbox is unioned from per-task commit
    messages on the driver — no post-hoc aggregation scan either.

    The footer's geo doc omits the optional file-level ``bbox`` (unknown
    until the part is finished, and pyarrow can't amend footer metadata
    after streaming); read-side row-group pruning keys off the covering
    column's statistics, which each written row group carries, so nothing
    is lost. The exact dataset bbox lands in the sidecar at commit.

    Options: ``geometry_col`` (default 'geometry', must be WKB binary),
    ``crs`` (PROJJSON text or any parse_crs-able string — stored
    verbatim/decoded in the geo doc), ``covering`` ('false' disables the
    covering column), ``covering_col`` (default 'bbox'),
    ``rowgroup_rows`` (default 65536). Native (non-WKB) encodings stay on
    ``write_geoparquet`` — they are Catalyst-side column rewrites.

    Save modes: Spark only plans Python data source writes as Append or
    Overwrite (``UNSUPPORTED_DATA_SOURCE_SAVE_MODE`` otherwise) — pass
    ``.mode("overwrite")`` or ``.mode("append")`` explicitly.
    """

    def __init__(self, path, schema, options, overwrite):
        import glob
        import json as _json
        import os

        self.path = path
        self.schema = schema
        names = [f.name for f in schema.fields]
        self.gcol = options.get("geometry_col", "geometry")
        if self.gcol not in names:
            raise ValueError(
                f"geoparquet write: geometry column {self.gcol!r} not in "
                f"schema {names}; pass .option('geometry_col', ...)"
            )
        crs = options.get("crs")
        if crs:
            try:
                crs = _json.loads(crs)  # PROJJSON text -> dict in the doc
            except ValueError:
                pass  # WKT / authority string: store verbatim
        self.crs = crs
        self.covering = str(options.get("covering", "true")).lower() != "false"
        self.covering_col = options.get("covering_col", "bbox")
        self.rowgroup_rows = int(options.get("rowgroup_rows", 65536))
        # the doc's declared encoding: write_geoparquet delegates here
        # after converting the column Catalyst-side, so non-WKB values
        # only label the doc — covering can't be derived from them
        self.encoding = str(options.get("encoding", "WKB"))
        if self.covering and self.encoding != "WKB" and self.covering_col not in names:
            # write() can only generate the covering column from WKB; for a
            # native encoding with no pre-built covering column the footer
            # would otherwise declare a column that no part contains (and
            # _empty_schema would diverge from data parts)
            self.covering = False
        gt = options.get("geometry_types")
        self.geometry_types = _json.loads(gt) if gt else None
        self.compute_bbox = (
            str(options.get("compute_bbox", "true")).lower() != "false"
        )
        self.overwrite = overwrite
        os.makedirs(path, exist_ok=True)
        # recorded on the driver BEFORE tasks run: overwrite replaces
        # exactly these at commit (new parts have unique names, so a
        # failed job never destroys the old data). Recursive, matching
        # the reader's _parquet_parts glob — a previously hive-
        # partitioned dataset's key=*/part files must be replaced too.
        self._pre_existing = sorted(
            glob.glob(
                os.path.join(glob.escape(path), "**", "*.parquet"),
                recursive=True,
            )
        )
        self._doc_json = None  # built lazily (shared by tasks + commit)

    def _geo_doc_json(self, with_bbox=None):
        import json as _json

        from .geoparquet import _geo_doc

        doc = _geo_doc(
            self.gcol, self.crs, with_bbox,
            self.covering_col if self.covering else None,
            encoding=self.encoding,
            geometry_types=self.geometry_types,
        )
        return _json.dumps(doc)

    def write(self, it):
        import math
        import os
        import uuid

        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..functions.kernels import k_bbox_struct

        try:
            from pyspark import TaskContext

            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else 0
        except Exception:
            pid = 0
        fname = f"part-{pid:05d}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{fname}.inprogress")
        final = os.path.join(self.path, fname)

        footer = {b"geo": self._geo_doc_json().encode()}
        writer = None
        buf, buffered = [], 0
        rows = 0
        bb = [math.inf, math.inf, -math.inf, -math.inf]

        def flush(final=False):
            # write only FULL multiples of rowgroup_rows until the end —
            # flushing the overshoot remainder would fragment the file
            # into runt row groups and blunt covering-stats pruning
            nonlocal writer, buf, buffered
            if not buf:
                return
            tbl = pa.Table.from_batches(buf)
            if writer is None:
                writer = pq.ParquetWriter(
                    tmp, tbl.schema.with_metadata(footer)
                )
            n = tbl.num_rows
            take = (
                n if final else (n // self.rowgroup_rows) * self.rowgroup_rows
            )
            if take:
                writer.write_table(
                    tbl.slice(0, take), row_group_size=self.rowgroup_rows
                )
            rem = tbl.slice(take)
            buf = rem.to_batches() if rem.num_rows else []
            buffered = rem.num_rows

        for batch in it:
            tbl = pa.Table.from_batches([batch])
            if (
                self.covering
                and self.covering_col not in tbl.schema.names
                and self.encoding == "WKB"
            ):
                frame = k_bbox_struct(
                    pd.Series(tbl.column(self.gcol).to_pylist())
                )
                null = np.isnan(frame["xmin"].to_numpy())
                fields = [
                    pa.array(frame[k], from_pandas=True)
                    for k in ("xmin", "ymin", "xmax", "ymax")
                ]
                cov = pa.StructArray.from_arrays(
                    fields, ["xmin", "ymin", "xmax", "ymax"],
                    mask=pa.array(null),
                )
                tbl = tbl.append_column(self.covering_col, cov)
                if not bool(null.all()):
                    bb[0] = min(bb[0], float(np.nanmin(frame["xmin"])))
                    bb[1] = min(bb[1], float(np.nanmin(frame["ymin"])))
                    bb[2] = max(bb[2], float(np.nanmax(frame["xmax"])))
                    bb[3] = max(bb[3], float(np.nanmax(frame["ymax"])))
            elif self.covering_col in tbl.schema.names:
                # a covering column exists (caller's, or pre-converted by
                # write_geoparquet): union the dataset bbox from it even
                # when the doc won't declare it
                import pyarrow.compute as pc

                col = tbl.column(self.covering_col)
                for fld, i, op in (("xmin", 0, min), ("ymin", 1, min),
                                   ("xmax", 2, max), ("ymax", 3, max)):
                    agg = pc.min if op is min else pc.max
                    v = agg(pc.struct_field(col, fld)).as_py()
                    if v is not None:
                        bb[i] = op(bb[i], float(v))
            rows += tbl.num_rows
            buffered += tbl.num_rows
            buf.extend(tbl.to_batches())
            if buffered >= self.rowgroup_rows:
                flush()
        flush(final=True)
        if writer is None:
            # empty task: still emit a zero-row part so the schema (and
            # geo footer) survive an empty write
            empty = pa.Table.from_pylist([], schema=self._empty_schema())
            writer = pq.ParquetWriter(tmp, empty.schema.with_metadata(footer))
            writer.write_table(empty)
        writer.close()
        # r8 (ADVICE r7): tasks do NOT finalize. The part stays at its
        # .inprogress name; driver-side commit() renames exactly the
        # acknowledged parts — so a losing attempt (speculation, executor
        # lost after close but before its message reached the driver) can
        # never leave a committed-looking part that is read back as
        # duplicate rows. This is the built-in sink's task-commit shape.
        del final  # finalization is commit()'s job
        bbox = None if bb[0] is math.inf else tuple(bb)
        return _GpqCommit(fname, bbox, rows)

    def _empty_schema(self):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        fields = [
            pa.field(f.name, to_arrow_type(f.dataType))
            for f in self.schema.fields
        ]
        if self.covering and self.covering_col not in [f.name for f in fields]:
            bb = pa.struct(
                [(k, pa.float64()) for k in ("xmin", "ymin", "xmax", "ymax")]
            )
            fields.append(pa.field(self.covering_col, bb))
        return pa.schema(fields)

    def _tmp_of(self, fname):
        import os

        return os.path.join(self.path, f".{fname}.inprogress")

    def _finalize_parts(self, messages):
        """Driver-side task commit: rename exactly the acknowledged parts
        from their .inprogress names. Runs before any sidecar/log work so
        a crash mid-commit leaves either an unrenamed (invisible) part or
        a renamed one — never a half-written visible file."""
        import os

        for m in messages:
            if m is None:
                continue
            tmp = self._tmp_of(m.file)
            final = os.path.join(self.path, m.file)
            if os.path.exists(tmp):
                os.replace(tmp, final)
            elif not os.path.exists(final):
                # neither name present: the acknowledged part is GONE —
                # surface the data loss instead of committing silently
                raise FileNotFoundError(
                    f"acknowledged part missing at commit: {m.file}"
                )
            # else: already finalized (retried commit) — idempotent

    def _sweep_inprogress(self):
        """Remove leftover .inprogress files (losing task attempts).
        Overwrite mode only — under append a CONCURRENT job's in-flight
        parts would be swept; stray dotfiles are invisible to readers
        (parts glob matches *.parquet), so leaving them costs nothing."""
        import glob as _glob
        import os

        for p in _glob.glob(
            os.path.join(_glob.escape(self.path), ".*.inprogress")
        ):
            try:
                os.remove(p)
            except OSError:
                pass

    @staticmethod
    def _union_bbox(messages):
        import math

        bb = [math.inf, math.inf, -math.inf, -math.inf]
        for m in messages:
            if m is None or m.bbox is None:
                continue
            bb[0] = min(bb[0], m.bbox[0])
            bb[1] = min(bb[1], m.bbox[1])
            bb[2] = max(bb[2], m.bbox[2])
            bb[3] = max(bb[3], m.bbox[3])
        return bb

    def _sidecar_path(self):
        import os

        from .geoparquet import SIDECAR

        return os.path.join(self.path, SIDECAR)

    def _union_existing_sidecar(self, bb):
        """Fold the existing sidecar's bbox into ``bb`` (append paths)."""
        import json as _json
        import os

        side = self._sidecar_path()
        if not os.path.exists(side):
            return bb
        try:
            with open(side) as f:
                old = _json.load(f)
            obb = old["columns"][self.gcol].get("bbox")
        except (KeyError, ValueError):
            obb = None
        if obb:
            bb[0] = min(bb[0], obb[0])
            bb[1] = min(bb[1], obb[1])
            bb[2] = max(bb[2], obb[2])
            bb[3] = max(bb[3], obb[3])
        return bb

    def _write_sidecar(self, bb):
        import math

        bbox = None if bb[0] is math.inf else list(bb)
        with open(self._sidecar_path(), "w") as f:
            f.write(self._geo_doc_json(with_bbox=bbox))

    def commit(self, messages):
        import glob as _glob
        import json as _json
        import math
        import os

        written = {m.file for m in messages if m is not None}
        # r8 task-commit protocol (ADVICE r7): acknowledged parts are
        # renamed HERE, driver-side — tasks leave their output at
        # .inprogress names, so losing attempts never produce a
        # committed-looking file in either mode
        self._finalize_parts(messages)
        bb = (
            self._union_bbox(messages)
            if self.compute_bbox
            else [math.inf, math.inf, -math.inf, -math.inf]
        )
        if self.overwrite:
            for old in self._pre_existing:
                if os.path.basename(old) not in written:
                    os.remove(old)
            self._sweep_inprogress()
            # defense in depth from the pre-r8 protocol: finalized parts
            # that are neither pre-existing nor acknowledged (e.g. left by
            # a job that crashed mid-commit) are orphans. Overwrite mode
            # ONLY — under append a concurrent job's freshly-renamed parts
            # would be removed between our plan snapshot and commit (data
            # loss the standard parquet sink avoids via unique filenames).
            keep = written | {os.path.basename(p) for p in self._pre_existing}
            for p in _glob.glob(os.path.join(_glob.escape(self.path),
                                             "*.parquet")):
                if os.path.basename(p) not in keep:
                    try:
                        os.remove(p)
                    except OSError:
                        pass
        elif self.compute_bbox:
            bb = self._union_existing_sidecar(bb)
        # else: append with compute_bbox=false — appended rows may fall
        # outside the old bbox, so the sidecar must say "unknown" (null)
        # rather than preserve a now-possibly-stale extent
        # stream-log hygiene for a directory that was once a stream sink:
        # overwrite replaces the dataset wholesale (a stale log would make
        # a future stream misclassify fresh epochs as replays); append
        # registers its parts so a future stream's orphan GC keeps them
        logp = os.path.join(self.path, _GpqStreamWriter.STREAM_LOG)
        if os.path.exists(logp):
            if self.overwrite:
                os.remove(logp)
            else:
                try:
                    with open(logp) as f:
                        log = _json.load(f)
                except ValueError:
                    log = {}
                pre = set(log.get("_preexisting", []))
                log["_preexisting"] = sorted(pre | written)
                tmp = logp + ".tmp"
                with open(tmp, "w") as f:
                    _json.dump(log, f)
                os.replace(tmp, logp)
        self._write_sidecar(bb)

    def abort(self, messages):
        import os

        for m in messages:
            if m is None:
                continue
            # r8 protocol: parts live at .inprogress names until commit;
            # the final-name removal stays for defense in depth
            for p in (self._tmp_of(m.file),
                      os.path.join(self.path, m.file)):
                try:
                    os.remove(p)
                except OSError:
                    pass


class _GpqStreamWriter(_GpqWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("geoparquet")`` — a streaming GeoParquet
    sink with the same single-pass part writes as the batch writer.

    Every microbatch's tasks stream their Arrow batches into unique part
    files (geo footer + covering column in place); ``commit(batchId)``
    unions the epoch's bboxes into the sidecar and appends the epoch to a
    sink log (``_geo_stream_log.json``: batchId -> part files). The log
    makes epoch replay idempotent: after a restart Spark re-runs the last
    unacknowledged epoch, and a commit for a batchId already in the log
    discards the replayed duplicate parts instead of double-counting them
    (the standard transactional-sink dedup contract). Aborted epochs
    remove their finalized parts. Output mode: append (geo parts are
    immutable once committed)."""

    STREAM_LOG = "_geo_stream_log.json"

    # NOTE on lifecycle: Spark constructs a _GpqStreamWriter in EVERY
    # python task worker (write() runs there) and one on the driver for
    # commit()/abort(). __init__ therefore stays side-effect-light
    # (the inherited makedirs is idempotent); ALL log bookkeeping and
    # garbage collection happen inside commit(), which only ever runs on
    # the driver, serialized between epochs — executor-side GC would race
    # sibling tasks finalizing their parts.

    def _log_path(self):
        import os

        return os.path.join(self.path, self.STREAM_LOG)

    def _gc_orphans(self, log):
        """Remove finalized parts that are neither pre-existing
        (batch-written before any stream touched this directory) nor in a
        committed epoch: leftovers of aborted epochs whose Python-level
        abort never ran (query killed mid-epoch — observed on
        query.stop()), from this run or a previous one. Safe because
        commit() is driver-only and epochs are serialized, so every
        legitimate part is in the log by the time this runs. One
        streaming query per sink directory; batch appends while a stream
        is attached are unsupported."""
        import glob as _glob
        import os

        known = set()
        for v in log.values():
            known.update(v)
        for p in _glob.glob(
            os.path.join(_glob.escape(self.path), "*.parquet")
        ):
            if os.path.basename(p) not in known:
                try:
                    os.remove(p)
                except OSError:
                    pass

    def commit(self, messages, batchId):
        import glob as _glob
        import json as _json
        import os

        logp = self._log_path()
        log = None
        if os.path.exists(logp):
            with open(logp) as f:
                log = _json.load(f)
        files = [m.file for m in messages if m is not None]
        if log is None:
            # first-ever commit against this directory: everything on
            # disk that this epoch didn't just write is batch-written
            # data to preserve forever
            log = {"_preexisting": sorted(
                os.path.basename(p)
                for p in _glob.glob(
                    os.path.join(_glob.escape(self.path), "*.parquet")
                )
                if os.path.basename(p) not in files
            )}
        if str(batchId) in log:
            # replayed epoch, already committed: the re-written parts are
            # duplicates of data the sidecar/log already account for —
            # they are still at their .inprogress names (r8 protocol), so
            # discard the tmp files and never finalize them
            for fname in files:
                if fname in log[str(batchId)]:
                    continue
                for p in (self._tmp_of(fname),
                          os.path.join(self.path, fname)):
                    try:
                        os.remove(p)
                    except OSError:
                        pass
            return
        # r8 task-commit protocol: finalize this epoch's acknowledged
        # parts driver-side (see _GpqWriter.commit)
        self._finalize_parts(messages)
        bb = self._union_existing_sidecar(self._union_bbox(messages))
        self._write_sidecar(bb)
        log[str(batchId)] = files
        tmp = logp + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(log, f)
        os.replace(tmp, logp)
        self._gc_orphans(log)

    def abort(self, messages, batchId):
        _GpqWriter.abort(self, messages)


def register_datasources(spark):
    """Register the Python data sources on this session (idempotent;
    sources the session already has are left as they are).

    Only the one expected benign case is swallowed — re-registration of
    the same source. Any other failure is a real registration problem and
    is re-raised so ``format("flatgeobuf")`` doesn't silently go missing.

    Side effect (warned, not silent): the readers implement
    ``pushFilters()``, and Spark refuses to plan any reader that defines
    it while ``spark.sql.python.filterPushdown.enabled`` is false — so
    registration enables that flag when it isn't already on. The flag is
    session-wide: other Python data sources in the session that define
    ``pushFilters`` start being consulted too.
    """
    registry = spark.dataSource
    flag = "spark.sql.python.filterPushdown.enabled"
    try:
        cur = spark.conf.get(flag, None)
    except Exception:
        cur = None  # Spark 4.0: conf (and pushFilters) don't exist yet
    if cur is not None and str(cur).lower() != "true":
        import warnings

        warnings.warn(
            f"register_datasources: enabling {flag} (session-wide) — "
            "required to plan readers that define pushFilters()",
            stacklevel=2,
        )
        spark.conf.set(flag, "true")
    elif cur is None:
        try:
            spark.conf.set(flag, "true")
        except Exception:
            pass  # conf doesn't exist on this build: nothing to enable
    try:  # the readers call this on every read: skip sources already
        # registered, which Spark would replace with a warning each time
        exists = spark._jsparkSession.sessionState().dataSourceManager(
        ).dataSourceExists
    except Exception:
        exists = None  # no JVM handle (Spark Connect): always register
    for src in (FlatGeobufDataSource, ShapefileDataSource, GeoParquetDataSource):
        if exists is not None and exists(src.name()):
            continue
        try:
            registry.register(src)
        except Exception as exc:
            msg = str(exc).lower()
            if "already" in msg and "register" in msg:
                continue
            raise
