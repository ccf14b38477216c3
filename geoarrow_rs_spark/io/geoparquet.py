"""GeoParquet reader/writer (SURVEY.md §2.1).

Mirrors the reference's GeoParquet surface
(/root/reference/rust/geoparquet/src/reader/geo_ext.rs:107-178 read path,
/root/reference/rust/geoparquet/src/writer/encode.rs:21-79 write path):

Read: ``spark.read.parquet`` + driver-side footer parse of the ``geo`` key
(pyarrow), bbox option compiled to **native covering-struct predicates** so
Spark's Parquet source prunes row groups from column statistics — the exact
Spark translation of the reference's ``with_intersecting_row_groups``
(/root/reference/rust/geoparquet/src/reader/spatial_filter.rs:167-181).

Write: geometry stays WKB (canonical), optional bbox covering struct is
generated per row (the covering generator,
/root/reference/rust/geoparquet/src/total_bounds.rs:292), and the ``geo``
file metadata is written two ways: a ``_geo_metadata.json`` sidecar next
to the parts (fast driver reads, partition scheme lives only here) AND the
spec-mandated ``geo`` key in every part file's footer (matching
rust/geoparquet/src/writer/metadata.rs:670), so external readers
(geopandas, DuckDB spatial, the reference) see repo-written datasets as
GeoParquet. ``write_geoparquet`` saves through the ``geoparquet`` Python
data source, whose tasks write each footer in place;
``write_geoparquet_partitioned`` stamps them post-write by a distributed
pyarrow rewrite.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.registry import bbox_intersects_expr

GEO_KEY = b"geo"
SIDECAR = "_geo_metadata.json"
GEOPARQUET_VERSION = "1.1.0"


_ENC_GEOM_TYPE = {
    "point": "Point",
    "linestring": "LineString",
    "polygon": "Polygon",
    "multipoint": "MultiPoint",
    "multilinestring": "MultiLineString",
    "multipolygon": "MultiPolygon",
}


def _geo_doc(geometry_col: str, crs, bbox, covering_col, encoding: str = "WKB",
             geometry_types=None):
    if geometry_types is None:
        # native encodings pin the type by construction (writer/encode.rs
        # populates geometry_types the same way); WKB stays [] = unknown
        gt = _ENC_GEOM_TYPE.get(str(encoding).lower())
        geometry_types = [gt] if gt else []
    col_meta = {
        "encoding": encoding,
        "geometry_types": list(geometry_types),
    }
    if crs is not None:
        col_meta["crs"] = crs
    if bbox is not None:
        col_meta["bbox"] = list(bbox)
    if covering_col is not None:
        col_meta["covering"] = {
            "bbox": {
                "xmin": [covering_col, "xmin"],
                "ymin": [covering_col, "ymin"],
                "xmax": [covering_col, "xmax"],
                "ymax": [covering_col, "ymax"],
            }
        }
    return {
        "version": GEOPARQUET_VERSION,
        "primary_column": geometry_col,
        "columns": {geometry_col: col_meta},
    }


def _stamp_geo_footers(spark: SparkSession, path: str, doc: dict):
    """Rewrite every part file under ``path`` so its parquet footer carries
    the ``geo`` key-value metadata. Runs as a mapInPandas job over the file
    list, so each executor rewrites its own chunk of parts in parallel
    against the shared filesystem (one extra read+write pass over the just-
    written data — the price of spec-compliant footers from a distributed
    writer; the sidecar alone is not visible to external readers)."""
    import glob

    parts = sorted(
        p for p in glob.glob(
            os.path.join(glob.escape(path), "**", "*.parquet"), recursive=True
        )
        if not os.path.basename(p).startswith("_")
    )
    if not parts:
        return
    geo_json = json.dumps(doc)

    def rewrite(batches):
        import pyarrow.parquet as pq

        for b in batches:
            n = 0
            for p in b["path"]:
                t = pq.read_table(p)
                md = dict(t.schema.metadata or {})
                md[GEO_KEY] = geo_json.encode()
                pq.write_table(t.replace_schema_metadata(md), p)
                # local-FS Hadoop keeps .part.crc checksums; ours are stale now
                crc = os.path.join(
                    os.path.dirname(p), "." + os.path.basename(p) + ".crc"
                )
                if os.path.exists(crc):
                    os.remove(crc)
                n += 1
            import pandas as pd

            yield pd.DataFrame({"n": [n]})

    sc = spark.sparkContext
    (
        spark.createDataFrame([(p,) for p in parts], "path string")
        .repartition(min(len(parts), sc.defaultParallelism))
        .mapInPandas(rewrite, "n long")
        .collect()
    )


def write_geoparquet(
    df: DataFrame,
    path: str,
    geometry_col: str = "geometry",
    crs=None,
    generate_covering: bool = True,
    covering_col: str = "bbox",
    mode: str = "overwrite",
    compute_bbox: bool = True,
    encoding: str = "WKB",
    geometry_types=None,
):
    """Write a DataFrame with a WKB geometry column as GeoParquet to a
    local path, through the ``geoparquet`` Python data source: each task
    streams its batches into its own part with the geo footer in place,
    and the file-level bbox is merged from the tasks' bboxes — one scan
    total. Returns the written ``geo`` metadata.

    ``mode``: ``overwrite`` or ``append``; ``error``/``errorifexists``
    raise ``FileExistsError`` and ``ignore`` writes nothing and returns the
    existing dataset's metadata when ``path`` exists. A non-local path
    (``scheme://``) raises ``ValueError`` before anything is written.

    Native GeoArrow encodings (``encoding="point" / "linestring" /
    "polygon" / "multipoint" / "multilinestring" / "multipolygon"``)
    write the interleaved nested-array layout instead of WKB — the full
    reference writer encoding matrix
    (rust/geoparquet/src/writer/encode.rs:21-79); ``read_geoparquet``
    converts any of them back via ST_GeomFromNative. The geometry column
    must be uniformly of the declared type (the reference writer's
    constraint too — mixed columns keep WKB). Covering structs are
    generated BEFORE the conversion so bbox pushdown works identically."""
    out = df
    if generate_covering and covering_col not in df.columns:
        out = out.withColumn(covering_col, F.expr(f"ST_BBox({geometry_col})"))
    enc = str(encoding)
    if enc.lower() == "point":
        out = out.withColumn(
            geometry_col,
            F.array(
                F.expr(f"ST_X({geometry_col})"), F.expr(f"ST_Y({geometry_col})")
            ),
        )
    elif enc.lower() in _ENC_DEPTH:
        out = out.withColumn(
            geometry_col, _to_native_expr(geometry_col, enc.lower())
        )
    elif enc != "WKB":
        raise ValueError(f"unsupported write encoding: {encoding}")

    doc_enc = (
        enc.lower()
        if enc.lower() in _ENC_DEPTH or enc.lower() == "point"
        else "WKB"
    )

    local = _local_path(path)
    if local is None:
        raise ValueError(
            f"write_geoparquet: {path!r} is not a local path; the geoparquet "
            "data source writes local files only"
        )
    # the Python data source takes append/overwrite only: settle the
    # other two modes here
    if mode in ("error", "errorifexists", "ignore"):
        if os.path.exists(local):
            if mode == "ignore":
                return read_geo_metadata(local)
            raise FileExistsError(f"write_geoparquet: {path!r} already exists")
        mode = "append"
    from .datasource import register_datasources

    register_datasources(df.sparkSession)
    w = (
        out.write.format("geoparquet").mode(mode)
        .option("geometry_col", geometry_col)
        .option("covering", "true" if generate_covering else "false")
        .option("covering_col", covering_col)
        .option("encoding", doc_enc)
        .option("compute_bbox", "true" if compute_bbox else "false")
    )
    if crs is not None:
        w = w.option(
            "crs",
            json.dumps(crs) if not isinstance(crs, str) else crs,
        )
    if geometry_types is not None:
        w = w.option("geometry_types", json.dumps(list(geometry_types)))
    w.save(local)
    with open(os.path.join(local, SIDECAR)) as f:
        return json.load(f)


_CELL_PACK = 1 << 21


def write_geoparquet_partitioned(
    df: DataFrame,
    path: str,
    geometry_col: str = "geometry",
    cell_size: float = 1.0,
    crs=None,
    covering_col: str = "bbox",
    mode: str = "overwrite",
):
    """GeoParquet write hive-partitioned by owning grid cell — adds
    DIRECTORY-level spatial pruning on top of the row-group pruning of the
    flat writer. Each row is stored once, in the cell containing its bbox
    center; the sidecar records the cell size and the maximum observed
    bbox extent, and ``read_geoparquet``'s bbox path expands the query
    window by that extent (halo), so pruning is exact for any geometry
    size — no duplication, no missed matches. At 100 TB this turns a
    small-window query from a full-listing scan into a handful of
    directories before a single row group is opened."""
    out = df
    if covering_col not in df.columns:
        out = out.withColumn(covering_col, F.expr(f"ST_BBox({geometry_col})"))
    cs = float(cell_size)
    cx = (F.col(f"{covering_col}.xmin") + F.col(f"{covering_col}.xmax")) / 2.0
    cy = (F.col(f"{covering_col}.ymin") + F.col(f"{covering_col}.ymax")) / 2.0
    gpcell = (
        F.floor(cx / cs).cast("long") * F.lit(_CELL_PACK)
        + F.floor(cy / cs).cast("long")
    )
    out = out.withColumn("gpcell", gpcell)

    from pyspark.sql import Observation

    obs = Observation()
    out = out.observe(
        obs,
        F.min(f"{covering_col}.xmin").alias("xmin"),
        F.min(f"{covering_col}.ymin").alias("ymin"),
        F.max(f"{covering_col}.xmax").alias("xmax"),
        F.max(f"{covering_col}.ymax").alias("ymax"),
        F.max(F.col(f"{covering_col}.xmax") - F.col(f"{covering_col}.xmin")).alias("ext_x"),
        F.max(F.col(f"{covering_col}.ymax") - F.col(f"{covering_col}.ymin")).alias("ext_y"),
    )
    out.write.mode(mode).partitionBy("gpcell").parquet(path)

    m = obs.get
    file_bbox = None
    if m.get("xmin") is not None:
        file_bbox = [m["xmin"], m["ymin"], m["xmax"], m["ymax"]]
    doc = _geo_doc(geometry_col, crs, file_bbox, covering_col)
    doc["partition"] = {
        "scheme": "grid-center",
        "column": "gpcell",
        "cell_size": cs,
        "pack": _CELL_PACK,
        "max_extent_x": float(m.get("ext_x") or 0.0),
        "max_extent_y": float(m.get("ext_y") or 0.0),
    }
    with open(os.path.join(path, SIDECAR), "w") as f:
        json.dump(doc, f)
    _stamp_geo_footers(df.sparkSession, path, doc)
    return doc


def _partition_cells_for_bbox(part, bbox, max_cells=20_000):
    """Packed cell ids whose owned geometries could intersect ``bbox``:
    the query window expanded by half the max extent (center-ownership
    halo). None if the enumeration would be absurdly large (caller then
    skips partition pruning and relies on row-group stats)."""
    import math as _math

    cs = float(part["cell_size"])
    hx = float(part.get("max_extent_x", 0.0)) / 2.0
    hy = float(part.get("max_extent_y", 0.0)) / 2.0
    xmin, ymin, xmax, ymax = bbox
    px0 = _math.floor((xmin - hx) / cs)
    px1 = _math.floor((xmax + hx) / cs)
    py0 = _math.floor((ymin - hy) / cs)
    py1 = _math.floor((ymax + hy) / cs)
    n = (px1 - px0 + 1) * (py1 - py0 + 1)
    if n > max_cells:
        return None
    pack = int(part.get("pack", _CELL_PACK))
    return [
        px * pack + py
        for px in range(px0, px1 + 1)
        for py in range(py0, py1 + 1)
    ]


def read_geo_metadata(path: str):
    """Parse GeoParquet ``geo`` metadata: parquet footer KV first
    (/root/reference/rust/geoparquet/src/metadata.rs:481-519), sidecar next."""
    import pyarrow.parquet as pq

    candidates = []
    if os.path.isdir(path):
        side = os.path.join(path, SIDECAR)
        if os.path.exists(side):
            with open(side) as f:
                return json.load(f)
        # recursive: hive-partitioned layouts keep parts in key=value
        # subdirectories, each stamped with the same geo footer
        candidates = _parquet_parts(path)[:1]
    else:
        candidates = [path]
    for c in candidates:
        try:
            md = pq.read_schema(c).metadata or {}
        except Exception:
            continue
        if GEO_KEY in md:
            return json.loads(md[GEO_KEY])
    return None


_ENC_DEPTH = {
    "point": 0,
    "multipoint": 1,
    "linestring": 1,
    "polygon": 2,
    "multilinestring": 2,
    "multipolygon": 3,
}


def _to_native_expr(gcol, enc):
    """Column expression: WKB -> interleaved nested-array native layout
    (pandas UDF over kernels.k_to_native, return type = the array nesting
    depth of the encoding)."""
    from pyspark.sql.types import ArrayType, DoubleType

    from ..functions import kernels as K

    rtype = ArrayType(DoubleType())
    for _ in range(_ENC_DEPTH[str(enc).lower()]):
        rtype = ArrayType(rtype)
    udf = F.pandas_udf(lambda s: K.k_to_native(s, enc), rtype)
    return udf(F.col(gcol))


def _native_coords_to_arrays(df, gcol, enc):
    """Rewrite struct<x,y[,z]> coordinate leaves to array<double> natively
    (separated-coord GeoArrow layout; interleaved is already arrays)."""
    depth = _ENC_DEPTH[str(enc).lower()]
    # find leaf element type
    dt = df.schema[gcol].dataType
    for _ in range(depth):
        dt = dt.elementType
    if dt.typeName() != "struct":
        return F.col(gcol)  # interleaved: already arrays of double
    fields = [f.name for f in dt.fields]

    def leaf(c):
        return F.array(*[c[f] for f in fields])

    def wrap(prev):
        # single-parameter lambda: pyspark treats 2-arg callables (including
        # ones with defaults) as (element, index)
        return lambda c: F.transform(c, prev)

    fn = leaf
    for _ in range(depth):
        fn = wrap(fn)
    return fn(F.col(gcol))


# ---------------------------------------------------------------------------
# Row-group pruning from footer statistics (no Spark predicate needed)
#
# The Spark translation of the reference's native-stats path
# (/root/reference/rust/geoparquet/src/reader/spatial_filter.rs:57-135
# ParquetBboxStatistics over the coordinate LEAF columns themselves, and
# :167-181 bbox_row_groups): for a native-encoded geometry column the
# parquet column statistics of the x / y coordinate leaves ARE per-row-group
# bbox bounds, so a bbox query can skip row groups from footer metadata
# alone. Spark's built-in parquet source cannot express a pushed predicate
# over list-nested leaves, so the pruned scan is the ``geoparquet`` Python
# data source (io/datasource.py): one InputPartition per surviving row
# group, planned by _file_rowgroup_tasks below.
# ---------------------------------------------------------------------------


def _local_path(path: str):
    """Filesystem path for local / file: URIs; None for remote schemes.

    The single parser for file: URIs (the DataSource wrappers route
    through it too): 'file:/x', 'file:///x' and 'file://x' all denote
    local '/x' — catalog tables URI-ize paths in any of these shapes.
    """
    if path.startswith("file:"):
        rest = path[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    if "://" in path:
        return None
    return path


def _parquet_parts(root: str):
    import glob

    if os.path.isdir(root):
        return sorted(
            p
            for p in glob.glob(
                os.path.join(glob.escape(root), "**", "*.parquet"), recursive=True
            )
            if not os.path.basename(p).startswith("_")
        )
    return [root]


# SQL confs that change what schema Spark infers from parquet footers and
# partition directories
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_SCHEMA_CACHE_MAX = 64
_schema_cache: dict = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job on a
    repeat read of an unchanged local dataset.

    The schema Spark inferred is kept per path, part files' (path, size,
    mtime_ns) and schema confs; a hit reads with ``spark.read.schema``.
    Only the schema is cached, never the DataFrame, so two reads of one
    path never share attribute ids. Remote paths infer on every read."""
    local = _local_path(path)
    if local is None:
        return spark.read.parquet(path)
    try:
        parts = tuple(
            (p, st.st_size, st.st_mtime_ns)
            for p in _parquet_parts(local)
            for st in (os.stat(p),)
        )
    except OSError:
        parts = ()
    if not parts:
        return spark.read.parquet(path)
    key = (path, parts, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    schema = _schema_cache.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if len(_schema_cache) >= _SCHEMA_CACHE_MAX:
        _schema_cache.pop(next(iter(_schema_cache)))
    _schema_cache[key] = df.schema
    return df


def _native_stat_leaves(md, gcol: str):
    """Locate the parquet leaf columns carrying the native coordinates of
    ``gcol`` in a file's footer metadata. Returns ("separated", x_idx, y_idx)
    for struct{x,y} coords (exact per-axis stats — the GeoParquet 1.1 layout,
    chosen by the spec precisely for this pushdown), ("interleaved", idx) for
    a single doubles leaf (stats mix x and y; still usable conservatively),
    or None when the layout is unrecognized (no pruning).

    Mirrors ParquetBboxStatistics::try_new's path walk
    (spatial_filter.rs:59-135) — there the native case is detected by the
    min and max paths resolving to the SAME leaf (:188-190)."""
    rg0 = md.row_group(0)
    x_idx = y_idx = None
    under = []
    for i in range(rg0.num_columns):
        parts = rg0.column(i).path_in_schema.split(".")
        if parts[0] != gcol:
            continue
        last = parts[-1]
        if last == "x":
            x_idx = i
        elif last == "y":
            y_idx = i
        elif last in ("z", "m"):
            continue
        else:
            under.append(i)
    if x_idx is not None and y_idx is not None:
        return ("separated", x_idx, y_idx)
    if x_idx is None and y_idx is None and len(under) == 1:
        return ("interleaved", under[0])
    return None


def _covering_stat_leaves(md, covering: str):
    """Leaf indices of the covering struct's xmin/ymin/xmax/ymax columns
    (GeoParquet 1.1 bounding-box covering — the stats the reference's
    construct_bbox_columns_predicate prunes with, spatial_filter.rs:258+)."""
    rg0 = md.row_group(0)
    idx = {}
    for i in range(rg0.num_columns):
        parts = rg0.column(i).path_in_schema.split(".")
        if len(parts) == 2 and parts[0] == covering and parts[1] in (
            "xmin", "ymin", "xmax", "ymax"
        ):
            idx[parts[1]] = i
    if len(idx) == 4:
        return idx
    return None


def _file_rowgroup_tasks(
    file_path: str, gcol: str, bbox, covering: str = None, md=None
):
    """(row_group_index, intersects) pairs for one file from footer stats.

    Prunes via the covering struct's leaf statistics when ``covering`` is
    given and resolvable, else via the native coordinate leaves. Row groups
    with missing/disabled statistics are kept (can't prune — same
    conservative fallback as parse_statistics_f64 erroring out of the
    reference's pruning path). Pass ``md`` (a pre-read FileMetaData) to
    avoid a second footer fetch when the caller already has it."""
    import pyarrow.parquet as pq

    if md is None:
        md = pq.read_metadata(file_path)
    if md.num_row_groups == 0:
        return []
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    cov = _covering_stat_leaves(md, covering) if covering else None
    if cov is not None:
        out = []
        for rg in range(md.num_row_groups):
            keep = True
            try:
                g = md.row_group(rg)
                sts = {k: g.column(i).statistics for k, i in cov.items()}
                if all(s is not None and s.has_min_max for s in sts.values()):
                    keep = not (
                        float(sts["xmax"].max) < xmin
                        or float(sts["xmin"].min) > xmax
                        or float(sts["ymax"].max) < ymin
                        or float(sts["ymin"].min) > ymax
                    )
            except (TypeError, ValueError):
                keep = True
            out.append((rg, keep))
        return out
    leaves = _native_stat_leaves(md, gcol)
    out = []
    for rg in range(md.num_row_groups):
        keep = True
        if leaves is not None:
            try:
                if leaves[0] == "separated":
                    sx = md.row_group(rg).column(leaves[1]).statistics
                    sy = md.row_group(rg).column(leaves[2]).statistics
                    if (
                        sx is not None and sy is not None
                        and sx.has_min_max and sy.has_min_max
                    ):
                        keep = not (
                            float(sx.max) < xmin or float(sx.min) > xmax
                            or float(sy.max) < ymin or float(sy.min) > ymax
                        )
                else:
                    # interleaved: one leaf's stats bound BOTH axes, so a
                    # row group can only be skipped when the combined range
                    # misses the query window on either axis entirely
                    sc = md.row_group(rg).column(leaves[1]).statistics
                    if sc is not None and sc.has_min_max:
                        lo, hi = float(sc.min), float(sc.max)
                        keep = not (
                            hi < xmin or lo > xmax or hi < ymin or lo > ymax
                        )
            except (TypeError, ValueError):
                keep = True
        out.append((rg, keep))
    return out


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _unescape_path_name(s: str) -> str:
    """Spark's ``unescapePathName``: each ``%XX`` becomes ``chr(0xXX)``."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s)


def _hive_partition_values(file_path: str, root: str):
    """key=value directory segments between dataset root and the part
    file, decoded as Spark decodes them: escapes undone in keys and
    values, and the default partition read as None (NULL)."""
    rel = os.path.relpath(os.path.dirname(file_path), root)
    out = {}
    if rel in (".", ""):
        return out
    for seg in rel.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[_unescape_path_name(k)] = (
                None if v == _HIVE_NULL else _unescape_path_name(v)
            )
    return out


def _native_bbox_filter_expr(df, gcol, enc, bbox):
    """Exact bbox-intersects predicate expressed ON the stored native layout
    (no WKB decode): for point encodings this is four scalar comparisons on
    the coordinate leaves — which Spark's parquet source pushes down to
    row-group statistics, including for struct fields (PushedFilters on
    geometry.x/geometry.y) — and for nested encodings it is array_min/
    array_max over the flattened coordinate list. The native analogue of the
    reference's construct_native_predicate (spatial_filter.rs:205-255)."""
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    depth = _ENC_DEPTH[str(enc).lower()]
    dt = df.schema[gcol].dataType
    if depth == 0:
        if dt.typeName() == "struct":
            x, y = F.col(f"{gcol}.x"), F.col(f"{gcol}.y")
        else:
            x, y = F.col(gcol)[0], F.col(gcol)[1]
        return (x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax)
    arrs = _native_coords_to_arrays(df, gcol, enc)
    flat = arrs
    for _ in range(depth - 1):
        flat = F.flatten(flat)
    xs = F.transform(flat, lambda c: c[0])
    ys = F.transform(flat, lambda c: c[1])
    return (
        (F.array_max(xs) >= xmin) & (F.array_min(xs) <= xmax)
        & (F.array_max(ys) >= ymin) & (F.array_min(ys) <= ymax)
    )


def read_geoparquet(
    spark: SparkSession,
    path: str,
    bbox=None,
    geometry_col: str = None,
    parse_to_native: bool = True,
    limit: int = None,
    offset: int = None,
):
    """Read GeoParquet; optional ``bbox=(xmin,ymin,xmax,ymax)`` filter uses the
    covering column when present (native predicate -> row-group pruning) and
    falls back to an on-the-fly ST_BBox prefilter otherwise (the reference's
    native-encoding row-filter path, spatial_filter.rs:183-254).

    ``parse_to_native=False`` mirrors the reference flag (_parquet.pyi:
    141-142): native-encoded geometry columns are returned AS STORED (the
    nested struct layout) with no conversion cost, instead of being
    parsed to the canonical WKB form.

    ``limit``/``offset`` mirror ``GeoParquetFile.read(limit=, offset=)``:
    applied AFTER the bbox filter, in scan order. Scan order is the row
    order WITHIN each file; across a multi-file dataset it follows
    Spark's split packing (size-ordered), not lexical file order — stable
    for a given file set, but only single-file (or coalesced) datasets
    reproduce the reference reader's byte order exactly.

    bbox + a native encoding WITHOUT a covering column on a local dataset
    reads through the ``geoparquet`` Python data source
    (spatial_filter.rs:167-181 parity): row groups are skipped from the
    coordinate leaves' own footer statistics, each survivor is one task
    that decodes to WKB and applies the exact per-row bbox test, and the
    columns are cast to the types ``spark.read.parquet`` infers (hive
    partition columns included)."""
    meta = read_geo_metadata(path)
    gcol = geometry_col
    covering = None
    enc = "WKB"
    if meta:
        gcol = gcol or meta.get("primary_column")
        col_meta = meta.get("columns", {}).get(gcol, {})
        cov = col_meta.get("covering", {}).get("bbox")
        if cov:
            covering = cov["xmin"][0]
        enc = col_meta.get("encoding", "WKB")

    bbox_exact = False  # set once an exact bbox test is in the plan
    local = _local_path(path)
    if (
        bbox is not None
        and enc != "WKB"
        and parse_to_native
        and covering is None
        and gcol is not None
        and local is not None
    ):
        # the geoparquet source prunes row groups from the coordinate
        # leaves' footer stats, decodes native -> WKB and refines exactly;
        # the cast restores the types Spark infers (typed hive columns)
        from pyspark.sql.types import BinaryType

        from .datasource import register_datasources

        register_datasources(spark)
        src = (
            spark.read.format("geoparquet")
            .option("geometry_col", gcol)
            .option("bbox", ",".join(str(float(v)) for v in bbox))
            .load(local)
        )
        df = src.select([
            src[f.name].cast(
                BinaryType() if f.name == gcol else f.dataType
            ).alias(f.name)
            for f in _read_parquet(spark, path).schema.fields
        ])
        bbox_exact = True
    else:
        df = _read_parquet(spark, path)
        if meta and enc != "WKB":
            if bbox is not None and covering is None and gcol is not None:
                # exact bbox predicate on the STORED layout, before any
                # decode: point-struct comparisons reach the parquet scan
                # as PushedFilters (remote datasets too, where the
                # footer-pruning source above doesn't apply)
                df = df.filter(_native_bbox_filter_expr(df, gcol, enc, bbox))
                bbox_exact = True
            if parse_to_native:
                # native GeoArrow nested layout -> canonical WKB (the
                # reference's parse_record_batch path, reader/parse.rs:
                # 132-160, inverted: our canonical form is WKB). Struct
                # coords are flattened to plain double arrays NATIVELY
                # first — deeply nested structs break the Arrow->pandas
                # conversion inside pandas UDFs.
                df = df.withColumn(gcol, _native_coords_to_arrays(df, gcol, enc))
                df = df.withColumn(
                    gcol, F.call_udf("ST_GeomFromNative", F.col(gcol), F.lit(enc))
                )
    gcol = gcol or ("geometry" if "geometry" in df.columns else None)

    if bbox is not None:
        xmin, ymin, xmax, ymax = bbox
        part = (meta or {}).get("partition")
        if part and part.get("column") in df.columns:
            cells = _partition_cells_for_bbox(part, bbox)
            if cells is not None:
                # partition-column IN-list -> Catalyst directory pruning
                # (PartitionFilters): only matching cell directories are
                # listed/opened, before any row group is touched
                df = df.filter(F.col(part["column"]).isin(cells))
        if bbox_exact:
            pass  # the source's refine or the stored-layout predicate ran
        elif covering and covering in df.columns:
            df = df.filter(bbox_intersects_expr(covering, xmin, ymin, xmax, ymax))
        elif gcol is not None:
            df = df.withColumn("__qb", F.expr(f"ST_BBox({gcol})")).filter(
                bbox_intersects_expr("__qb", xmin, ymin, xmax, ymax)
            ).drop("__qb")
        else:
            raise ValueError("bbox filter requires a geometry or covering column")
    if offset:
        df = df.offset(int(offset))
    if limit is not None:
        df = df.limit(int(limit))
    return df


def geoparquet_info(path: str) -> dict:
    """File/dataset-level GeoParquet metadata accessors, mirroring the
    reference's GeoParquetFile surface (python/geoarrow-io _parquet.pyi:
    num_rows / num_row_groups / crs / file_bbox / row_group_bounds) from
    parquet FOOTER metadata only — no data pages are read.

    Metadata resolution: the sidecar (repo-written datasets) when present,
    else the ``geo`` key of the part footers the function enumerates
    anyway — so externally-written datasets (including hive-partitioned
    layouts with per-part bboxes, whose bboxes are unioned) resolve too.

    ``row_group_bounds`` comes from the covering-struct column statistics
    (min of xmin / max of xmax per row group — exactly the stats the bbox
    predicate pushdown prunes against); None when the file carries no
    covering column or stats.

    Returns: dict(num_rows, num_row_groups, primary_column, crs,
    encoding, file_bbox, row_group_bounds, files).
    """
    import pyarrow.parquet as pq

    parts = _parquet_parts(path)
    metas = [pq.read_metadata(p) for p in parts]

    meta = read_geo_metadata(path)
    # per-part footers are always scanned: they are the only metadata
    # source for external datasets, and external writers stamp each part
    # with its own bbox (unioned below for file_bbox)
    part_bboxes = []
    for md in metas:
        kv = md.metadata or {}
        if GEO_KEY in kv:
            try:
                doc = json.loads(kv[GEO_KEY])
            except Exception:
                continue
            if meta is None:
                meta = doc
            pc = doc.get("primary_column")
            bb = doc.get("columns", {}).get(pc, {}).get("bbox")
            if bb is not None:
                part_bboxes.append(bb)
    meta = meta or {}
    gcol = meta.get("primary_column")
    col_meta = meta.get("columns", {}).get(gcol, {}) if gcol else {}
    cov = col_meta.get("covering", {}).get("bbox")

    file_bbox = col_meta.get("bbox")
    if part_bboxes and (file_bbox is None or len(part_bboxes) > 1):
        # distinct per-part bboxes (external writers stamp each part with
        # its own) -> the dataset bbox is their union
        uniq = {tuple(b) for b in part_bboxes}
        if file_bbox is not None:
            uniq.add(tuple(file_bbox))
        if len(uniq) > 1 or file_bbox is None:
            file_bbox = [
                min(b[0] for b in uniq), min(b[1] for b in uniq),
                max(b[2] for b in uniq), max(b[3] for b in uniq),
            ]

    num_rows = sum(md.num_rows for md in metas)
    num_row_groups = sum(md.num_row_groups for md in metas)
    rg_bounds = [] if cov else None
    if cov:
        names = {k: ".".join(cov[k]) for k in ("xmin", "ymin", "xmax", "ymax")}

        def stat(g, col_idx, key, lo):
            i = col_idx.get(names[key])
            if i is None:
                return None
            st = g.column(i).statistics
            if st is None or not st.has_min_max:
                return None
            return st.min if lo else st.max

        for md in metas:
            col_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                vals = [stat(g, col_idx, "xmin", True), stat(g, col_idx, "ymin", True),
                        stat(g, col_idx, "xmax", False), stat(g, col_idx, "ymax", False)]
                rg_bounds.append(None if any(v is None for v in vals) else vals)
    elif gcol and col_meta.get("encoding", "WKB") != "WKB":
        # native encoding: the coordinate leaves' own statistics bound each
        # row group (the reference returns row-group bounds for native
        # columns the same way — spatial_filter.rs:137-164 get_bbox, where
        # the min and max columns coincide). Exact for separated struct{x,y}
        # coords; interleaved single-leaf stats mix the axes, so None.
        rg_bounds = []
        for md in metas:
            if md.num_row_groups == 0:
                continue
            leaves = _native_stat_leaves(md, gcol)
            for rg in range(md.num_row_groups):
                vals = None
                if leaves is not None and leaves[0] == "separated":
                    sx = md.row_group(rg).column(leaves[1]).statistics
                    sy = md.row_group(rg).column(leaves[2]).statistics
                    if (sx is not None and sy is not None
                            and sx.has_min_max and sy.has_min_max):
                        vals = [float(sx.min), float(sy.min),
                                float(sx.max), float(sy.max)]
                rg_bounds.append(vals)
        if all(v is None for v in rg_bounds):
            rg_bounds = None
    return {
        "num_rows": int(num_rows),
        "num_row_groups": int(num_row_groups),
        "primary_column": gcol,
        "crs": col_meta.get("crs"),
        "encoding": col_meta.get("encoding"),
        "file_bbox": file_bbox,
        "row_group_bounds": rg_bounds,
        "files": len(parts),
    }
