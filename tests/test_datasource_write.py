"""df.write.format("geoparquet") — the single-pass distributed writer.

Unlike write_geoparquet (Spark parquet sink + a second footer-stamping
pass over every part), the DataSource writer streams each task's batches
into its own part file with the ``geo`` footer already in place and
unions the dataset bbox from per-task commit messages — one pass total.
Reference write surface: rust/geoparquet/src/writer (GeoParquetWriter
options/encoder); the distributed shape is ours.
"""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

import geoarrow_rs_spark as gs
from geoarrow_rs_spark.io.geoparquet import SIDECAR, read_geoparquet


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    gs.register_all(spark)


def _points_df(spark, n=1000):
    return spark.sql(
        "SELECT id, CONCAT('n', id) AS name, "
        "ST_Point(CAST(id AS DOUBLE), CAST(id % 50 AS DOUBLE)) AS geometry "
        f"FROM range({n}) t(id)"
    )


def test_write_roundtrip_with_footers(tmp_path, spark):
    out = str(tmp_path / "ds")
    _points_df(spark).write.format("geoparquet").mode("overwrite").save(out)

    parts = sorted(glob.glob(out + "/*.parquet"))
    assert parts
    for p in parts:
        md = pq.read_metadata(p).metadata
        assert b"geo" in md  # every part footer, no stamping pass
        doc = json.loads(md[b"geo"])
        assert doc["primary_column"] == "geometry"
        assert doc["columns"]["geometry"]["encoding"] == "WKB"
        cov = doc["columns"]["geometry"]["covering"]["bbox"]
        assert cov["xmin"] == ["bbox", "xmin"]

    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["geometry"]["bbox"] == [0.0, 0.0, 999.0, 49.0]

    back = spark.read.format("geoparquet").load(out)
    assert back.count() == 1000
    assert set(back.columns) == {"id", "name", "geometry", "bbox"}
    # covering stats drive row-group pruning on the read side
    assert (
        spark.read.format("geoparquet").option("bbox", "100,0,200,50")
        .load(out).count() == 101
    )
    # the function reader understands the layout too
    assert read_geoparquet(spark, out, bbox=(100, 0, 200, 50)).count() == 101


def test_write_append_unions_bbox(tmp_path, spark):
    out = str(tmp_path / "ds")
    _points_df(spark, 100).write.format("geoparquet").mode("append").save(out)
    spark.sql(
        "SELECT id + 5000 AS id, 'x' AS name, "
        "ST_Point(-100.0, -20.0) AS geometry FROM range(10) t(id)"
    ).write.format("geoparquet").mode("append").save(out)
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["geometry"]["bbox"] == [-100.0, -20.0, 99.0, 49.0]
    assert spark.read.format("geoparquet").load(out).count() == 110


def test_write_overwrite_replaces_old_parts(tmp_path, spark):
    out = str(tmp_path / "ds")
    _points_df(spark, 500).write.format("geoparquet").mode("append").save(out)
    old_parts = set(glob.glob(out + "/*.parquet"))
    _points_df(spark, 50).write.format("geoparquet").mode("overwrite").save(out)
    new_parts = set(glob.glob(out + "/*.parquet"))
    assert not (old_parts & new_parts)  # unique names; old ones removed
    assert spark.read.format("geoparquet").load(out).count() == 50
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["geometry"]["bbox"] == [0.0, 0.0, 49.0, 49.0]


def test_write_geoparquet_error_and_ignore_modes(tmp_path, spark):
    """``mode="error"`` refuses an existing dataset and ``mode="ignore"``
    leaves it as it is — sidecar bbox and part footers included — and
    returns its metadata; on a new path both write it."""
    from geoarrow_rs_spark.io.geoparquet import write_geoparquet

    out = str(tmp_path / "ds")
    doc = write_geoparquet(_points_df(spark, 20), out, mode="error")
    assert doc["columns"]["geometry"]["bbox"] == [0.0, 0.0, 19.0, 19.0]
    stamp = {p: os.stat(p).st_mtime_ns for p in glob.glob(out + "/*")}

    with pytest.raises(FileExistsError):
        write_geoparquet(_points_df(spark, 5), out, mode="error")
    assert write_geoparquet(_points_df(spark, 5), out, mode="ignore") == doc
    assert {p: os.stat(p).st_mtime_ns for p in glob.glob(out + "/*")} == stamp
    assert spark.read.format("geoparquet").load(out).count() == 20

    fresh = str(tmp_path / "fresh")
    assert write_geoparquet(_points_df(spark, 5), fresh, mode="ignore")[
        "columns"]["geometry"]["bbox"] == [0.0, 0.0, 4.0, 4.0]


def test_write_geoparquet_remote_path_raises_before_writing(spark):
    from geoarrow_rs_spark.io.geoparquet import write_geoparquet

    with pytest.raises(ValueError, match="not a local path"):
        write_geoparquet(_points_df(spark, 5), "s3://bucket/ds")


def test_write_crs_and_no_covering(tmp_path, spark):
    out = str(tmp_path / "ds")
    (
        _points_df(spark, 20).write.format("geoparquet")
        .option("crs", "EPSG:3857").option("covering", "false")
        .mode("overwrite").save(out)
    )
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["geometry"]["crs"] == "EPSG:3857"
    assert "covering" not in side["columns"]["geometry"]
    back = spark.read.format("geoparquet").load(out)
    assert set(back.columns) == {"id", "name", "geometry"}
    assert back.count() == 20


def test_write_caller_covering_column_kept(tmp_path, spark):
    out = str(tmp_path / "ds")
    df = _points_df(spark, 30).selectExpr(
        "id", "name", "geometry", "ST_BBox(geometry) AS bbox"
    )
    df.write.format("geoparquet").mode("overwrite").save(out)
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["geometry"]["bbox"] == [0.0, 0.0, 29.0, 29.0]
    assert spark.read.format("geoparquet").load(out).count() == 30


def test_write_missing_geometry_column_raises(tmp_path, spark):
    out = str(tmp_path / "ds")
    df = spark.range(5)
    with pytest.raises(Exception, match="geometry"):
        df.write.format("geoparquet").mode("overwrite").save(out)


def test_write_null_geometries(tmp_path, spark):
    out = str(tmp_path / "ds")
    spark.sql(
        "SELECT id, IF(id % 2 = 0, ST_Point(CAST(id AS DOUBLE), 1.0), "
        "CAST(NULL AS BINARY)) AS geometry FROM range(10) t(id)"
    ).write.format("geoparquet").mode("overwrite").save(out)
    back = spark.read.format("geoparquet").load(out)
    assert back.count() == 10
    assert back.where("geometry IS NULL").count() == 5
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["geometry"]["bbox"] == [0.0, 1.0, 8.0, 1.0]


def test_stream_sink_roundtrip(tmp_path, spark):
    """writeStream.format('geoparquet'): deterministic availableNow runs —
    first run writes the backlog, a second run after more source data
    appends WITHOUT duplicating the already-committed epochs; parts carry
    geo footers and the sink log accounts for every file on disk."""
    src = tmp_path / "src"
    out = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    os.makedirs(src)

    def add_source(lo, hi, name):
        spark.range(lo, hi).selectExpr(
            "id", "CAST(id AS DOUBLE) AS x", "CAST(id % 7 AS DOUBLE) AS y"
        ).coalesce(1).write.mode("append").parquet(str(src / name))

    add_source(0, 100, "a")

    def run_once():
        sdf = (
            spark.readStream.schema("id LONG, x DOUBLE, y DOUBLE")
            .option("recursiveFileLookup", "true").parquet(str(src))
        )
        pts = sdf.selectExpr("id", "ST_Point(x, y) AS geometry")
        q = (
            pts.writeStream.format("geoparquet")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True).start(out)
        )
        assert q.awaitTermination(120) is True

    run_once()
    back = spark.read.format("geoparquet").load(out)
    assert back.count() == 100
    assert sorted(r.id for r in back.select("id").collect()) == list(range(100))

    add_source(100, 150, "b")
    run_once()
    back = spark.read.format("geoparquet").load(out)
    assert back.count() == 150
    dup = back.groupBy("id").count().where("count > 1").count()
    assert dup == 0  # no epoch replayed into duplicates

    parts = glob.glob(out + "/*.parquet")
    for p in parts:
        assert b"geo" in pq.read_metadata(p).metadata
    log = json.load(open(os.path.join(out, "_geo_stream_log.json")))
    logged = {f for v in log.values() for f in v}
    assert {os.path.basename(p) for p in parts} <= logged
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["geometry"]["bbox"] == [0.0, 0.0, 149.0, 6.0]


def test_stream_sink_commit_protocol(tmp_path):
    """Driver-side commit bookkeeping without Spark: replayed batchIds
    discard duplicate parts, unlogged finalized parts are GC'd, and
    batch-written pre-existing parts survive forever."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from geoarrow_rs_spark.io.datasource import _GpqCommit, _GpqStreamWriter

    out = str(tmp_path / "sink")
    os.makedirs(out)

    def touch(name):
        open(os.path.join(out, name), "wb").write(b"PAR1")

    touch("batch-part.parquet")  # pre-existing batch data
    schema = StructType([StructField("g", BinaryType())])
    w = _GpqStreamWriter(out, schema, {"geometry_col": "g"}, overwrite=False)

    touch("e0-a.parquet"); touch("e0-b.parquet")
    w.commit([_GpqCommit("e0-a.parquet", (0, 0, 1, 1), 10),
              _GpqCommit("e0-b.parquet", None, 0)], batchId=0)
    names = set(os.listdir(out))
    assert {"batch-part.parquet", "e0-a.parquet", "e0-b.parquet"} <= names

    # replay of epoch 0 with a fresh duplicate part: dropped, log unchanged
    touch("e0-replay.parquet")
    w.commit([_GpqCommit("e0-replay.parquet", (5, 5, 6, 6), 10)], batchId=0)
    names = set(os.listdir(out))
    assert "e0-replay.parquet" not in names
    log = json.load(open(os.path.join(out, "_geo_stream_log.json")))
    assert log["0"] == ["e0-a.parquet", "e0-b.parquet"]
    assert log["_preexisting"] == ["batch-part.parquet"]
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["g"]["bbox"] == [0.0, 0.0, 1.0, 1.0]  # no replay union

    # epoch 1: a finalized part from an aborted earlier attempt (the
    # Python-level abort never ran) is GC'd at the next commit; the
    # sidecar bbox unions; batch data survives
    touch("orphan.parquet")
    touch("e1-a.parquet")
    w.commit([_GpqCommit("e1-a.parquet", (-3, 0, 0, 9), 5)], batchId=1)
    names = set(os.listdir(out))
    assert "orphan.parquet" not in names
    assert "batch-part.parquet" in names
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["g"]["bbox"] == [-3.0, 0.0, 1.0, 9.0]


def test_nested_covering_filter_pushdown(tmp_path, spark):
    """A WHERE clause on the covering struct's leaves prunes row groups
    from parquet leaf statistics — the bbox option's pruning, reachable
    from plain SQL. The filter is fully absorbed by the source (gone from
    the executed plan) and results are exact."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from geoarrow_rs_spark.io.datasource import GeoParquetDataSource

    out = str(tmp_path / "ds")
    df = spark.sql(
        "SELECT id, ST_Point(CAST(id AS DOUBLE), CAST(id % 50 AS DOUBLE)) "
        "AS geometry FROM range(1000) t(id)"
    )
    (
        df.repartition(1).sortWithinPartitions("id")
        .write.format("geoparquet").mode("overwrite")
        .option("rowgroup_rows", "100").save(out)
    )
    p = glob.glob(out + "/*.parquet")[0]
    assert pq.read_metadata(p).num_row_groups == 10  # rowgroup_rows honored

    ds = spark.read.format("geoparquet").load(out)
    q = ds.where("bbox.xmin >= 250.0 AND bbox.xmax < 420.0")
    assert sorted(r.id for r in q.collect()) == list(range(250, 420))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "xmin" not in plan  # fully applied inside the source

    src = GeoParquetDataSource({"path": out})
    rdr = src.reader(src.schema())
    left = list(rdr.pushFilters([
        GreaterThanOrEqual(("bbox", "xmin"), 250.0),
        LessThan(("bbox", "xmax"), 420.0),
    ]))
    assert left == []
    assert len(rdr.partitions()) == 3  # row groups [200,300),[300,400),[400,500)


def test_isnull_filter_on_absent_column(tmp_path, spark):
    """Mixed layout: IS NULL on a hive key must match every row of a part
    that lacks the column (absent == all-null), not drop the part."""
    root = tmp_path / "mixed"
    os.makedirs(root / "key=a")
    _points_df(spark, 40).write.format("geoparquet").mode(
        "overwrite").save(str(root / "key=a"))
    # rootless part without the hive key column
    _points_df(spark, 25).write.format("geoparquet").mode(
        "overwrite").save(str(root / "tmp_stage"))
    import shutil
    for p in glob.glob(str(root / "tmp_stage" / "*.parquet")):
        shutil.move(p, str(root / ("a" + os.path.basename(p))))
    shutil.rmtree(root / "tmp_stage")
    os.remove(root / "key=a" / SIDECAR)  # single dataset, one sidecar
    for extra in glob.glob(str(root / "key=a" / "_geo_stream_log.json")):
        os.remove(extra)
    # dataset-level sidecar so the reader finds the geo doc
    side = {"version": "1.1.0", "primary_column": "geometry",
            "columns": {"geometry": {"encoding": "WKB",
                                     "geometry_types": []}}}
    json.dump(side, open(root / SIDECAR, "w"))

    ds = spark.read.format("geoparquet").load(str(root))
    assert ds.count() == 65
    assert ds.where("key IS NULL").count() == 25   # absent column = null
    assert ds.where("key IS NOT NULL").count() == 40


def test_overwrite_replaces_hive_subdir_parts(tmp_path, spark):
    """Overwriting a directory that previously held a hive-partitioned
    dataset must remove the key=*/part files too — the reader globs
    recursively, so leftovers would surface as stale rows."""
    from geoarrow_rs_spark.io.geoparquet import write_geoparquet_partitioned

    out = str(tmp_path / "ds")
    write_geoparquet_partitioned(
        _points_df(spark, 200).selectExpr("id", "geometry"), out,
        cell_size=50.0,
    )
    assert glob.glob(out + "/gpcell=*/*.parquet")  # partitioned layout
    _points_df(spark, 30).write.format("geoparquet").mode(
        "overwrite").save(out)
    assert not glob.glob(out + "/gpcell=*/*.parquet")
    assert spark.read.format("geoparquet").load(out).count() == 30


def test_batch_commit_gc_and_stream_log_hygiene(tmp_path):
    """Driver-side batch commit: losing-task-attempt orphans are removed,
    overwrite clears a stale stream log, append registers its parts in an
    existing log's _preexisting set."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from geoarrow_rs_spark.io.datasource import _GpqCommit, _GpqWriter

    out = str(tmp_path / "ds")
    os.makedirs(out)

    def touch(name):
        open(os.path.join(out, name), "wb").write(b"PAR1")

    schema = StructType([StructField("g", BinaryType())])
    json.dump({"_preexisting": [], "0": ["old-epoch.parquet"]},
              open(os.path.join(out, "_geo_stream_log.json"), "w"))
    touch("old-epoch.parquet")

    w = _GpqWriter(out, schema, {"geometry_col": "g"}, overwrite=True)
    touch("win.parquet")
    touch("loser-attempt.parquet")  # speculative duplicate, no message
    w.commit([_GpqCommit("win.parquet", (0, 0, 1, 1), 5)])
    names = set(os.listdir(out))
    assert "loser-attempt.parquet" not in names     # attempt orphan GC'd
    assert "old-epoch.parquet" not in names         # overwritten
    assert "_geo_stream_log.json" not in names      # stale log cleared
    assert "win.parquet" in names

    # append into a stream-sink dir registers the new parts in the log
    json.dump({"_preexisting": [], "0": ["s0.parquet"]},
              open(os.path.join(out, "_geo_stream_log.json"), "w"))
    touch("s0.parquet")
    w2 = _GpqWriter(out, schema, {"geometry_col": "g"}, overwrite=False)
    touch("appended.parquet")
    w2.commit([_GpqCommit("appended.parquet", None, 3)])
    log = json.load(open(os.path.join(out, "_geo_stream_log.json")))
    assert "appended.parquet" in log["_preexisting"]
    assert set(os.listdir(out)) >= {"s0.parquet", "appended.parquet",
                                    "win.parquet"}


def test_no_runt_row_groups(tmp_path, spark):
    """flush() writes only full rowgroup_rows multiples until the final
    flush, so arrow-batch overshoot never fragments the file."""
    out = str(tmp_path / "ds")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "150")
    try:
        (
            _points_df(spark, 1030).repartition(1)
            .write.format("geoparquet").mode("overwrite")
            .option("rowgroup_rows", "100").save(out)
        )
    finally:
        if old is not None:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
    p = glob.glob(out + "/*.parquet")[0]
    md = pq.read_metadata(p)
    sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    assert sizes[:-1] == [100] * (len(sizes) - 1)  # only the tail may be short
    assert sum(sizes) == 1030


def test_append_commit_leaves_concurrent_parts(tmp_path):
    """ADVICE r6: append-mode commit must NOT GC unrecognized fresh parts
    — a concurrent append job's freshly-renamed part that appeared between
    this job's plan snapshot and its commit survives (the standard parquet
    sink is safe here via unique filenames; so are we now)."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from geoarrow_rs_spark.io.datasource import _GpqCommit, _GpqWriter

    out = str(tmp_path / "ds")
    os.makedirs(out)

    def touch(name):
        open(os.path.join(out, name), "wb").write(b"PAR1")

    schema = StructType([StructField("g", BinaryType())])
    w = _GpqWriter(out, schema, {"geometry_col": "g"}, overwrite=False)
    # appears AFTER the plan snapshot (not in _pre_existing), owned by a
    # concurrent job — so it is not in this job's commit messages either
    touch("part-00000-deadbeefdeadbeefdeadbeefdeadbeef.parquet")
    touch("mine.parquet")
    w.commit([_GpqCommit("mine.parquet", (0, 0, 1, 1), 5)])
    names = set(os.listdir(out))
    assert "part-00000-deadbeefdeadbeefdeadbeefdeadbeef.parquet" in names
    assert "mine.parquet" in names


def test_append_compute_bbox_false_nulls_sidecar_bbox(tmp_path):
    """ADVICE r6: append with compute_bbox=false must write bbox null
    (unknown) — appended rows may fall outside the old extent, so
    preserving the stale sidecar bbox under-reports."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from geoarrow_rs_spark.io.datasource import _GpqCommit, _GpqWriter

    out = str(tmp_path / "ds")
    os.makedirs(out)
    schema = StructType([StructField("g", BinaryType())])

    w = _GpqWriter(out, schema, {"geometry_col": "g"}, overwrite=True)
    open(os.path.join(out, "a.parquet"), "wb").write(b"PAR1")
    w.commit([_GpqCommit("a.parquet", (0.0, 0.0, 1.0, 1.0), 5)])
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["g"]["bbox"] == [0.0, 0.0, 1.0, 1.0]

    w2 = _GpqWriter(
        out, schema, {"geometry_col": "g", "compute_bbox": "false"},
        overwrite=False,
    )
    open(os.path.join(out, "b.parquet"), "wb").write(b"PAR1")
    w2.commit([_GpqCommit("b.parquet", None, 3)])
    side = json.load(open(os.path.join(out, SIDECAR)))
    assert side["columns"]["g"].get("bbox") is None


def test_native_encoding_without_covering_col_drops_covering(tmp_path):
    """ADVICE r6: encoding != WKB with no pre-built covering column must
    not declare 'covering' in the geo doc (write() can only generate the
    column from WKB, so the footer would reference a nonexistent column
    and _empty_schema would diverge from data parts)."""
    from pyspark.sql.types import (
        DoubleType, StructField, StructType,
    )

    from geoarrow_rs_spark.io.datasource import _GpqWriter

    out = str(tmp_path / "ds")
    schema = StructType([
        StructField("x", DoubleType()), StructField("geometry", DoubleType()),
    ])
    w = _GpqWriter(
        out, schema, {"geometry_col": "geometry", "encoding": "point"},
        overwrite=True,
    )
    assert w.covering is False
    doc = json.loads(w._geo_doc_json())
    assert "covering" not in doc["columns"]["geometry"]
    assert [f.name for f in w._empty_schema()] == ["x", "geometry"]


def test_int_conf_tolerates_auto():
    """ADVICE r6: spark.sql.shuffle.partitions='auto' (Databricks AQE
    auto-optimized shuffle) must not raise in the geofence batch twin."""
    from geoarrow_rs_spark.streaming.ops import _int_conf

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, key):
            return self._v

    class _S:
        def __init__(self, v):
            self.conf = _Conf(v)

    assert _int_conf(_S("auto"), "spark.sql.shuffle.partitions") == 0
    assert _int_conf(_S(None), "spark.sql.shuffle.partitions") == 0
    assert _int_conf(_S("64"), "spark.sql.shuffle.partitions") == 64


def test_task_commit_protocol_losing_attempt_never_visible(tmp_path):
    """r8 (ADVICE r7): tasks leave parts at .inprogress names; commit()
    renames ONLY acknowledged parts. A losing attempt's finalized-looking
    output can no longer appear: its tmp file is swept (overwrite) or left
    invisible to readers (append), never read back as duplicate rows."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from geoarrow_rs_spark.io.datasource import _GpqCommit, _GpqWriter

    out = str(tmp_path / "ds")
    os.makedirs(out)
    schema = StructType([StructField("g", BinaryType())])

    def tmp_part(name):
        open(os.path.join(out, f".{name}.inprogress"), "wb").write(b"PAR1")

    w = _GpqWriter(out, schema, {"geometry_col": "g"}, overwrite=True)
    tmp_part("winner.parquet")
    tmp_part("loser.parquet")   # speculative duplicate: no commit message
    w.commit([_GpqCommit("winner.parquet", (0, 0, 1, 1), 5)])
    names = set(os.listdir(out))
    assert "winner.parquet" in names
    assert "loser.parquet" not in names
    assert ".loser.parquet.inprogress" not in names  # swept in overwrite

    # append mode: losing tmp is left alone (concurrent-append safety)
    # but stays invisible to the parts glob
    w2 = _GpqWriter(out, schema, {"geometry_col": "g"}, overwrite=False)
    tmp_part("mine.parquet")
    tmp_part("concurrent-loser.parquet")
    w2.commit([_GpqCommit("mine.parquet", None, 3)])
    names = set(os.listdir(out))
    assert "mine.parquet" in names
    assert "concurrent-loser.parquet" not in names
    assert ".concurrent-loser.parquet.inprogress" in names
    assert not [p for p in glob.glob(out + "/*.parquet")
                if "concurrent-loser" in p]


def test_task_commit_protocol_abort_removes_tmp(tmp_path):
    from pyspark.sql.types import BinaryType, StructField, StructType

    from geoarrow_rs_spark.io.datasource import _GpqCommit, _GpqWriter

    out = str(tmp_path / "ds")
    os.makedirs(out)
    schema = StructType([StructField("g", BinaryType())])
    w = _GpqWriter(out, schema, {"geometry_col": "g"}, overwrite=False)
    open(os.path.join(out, ".aborted.parquet.inprogress"), "wb").write(b"x")
    w.abort([_GpqCommit("aborted.parquet", None, 1)])
    assert os.listdir(out) == []


def test_task_commit_missing_acknowledged_part_raises(tmp_path):
    from pyspark.sql.types import BinaryType, StructField, StructType

    import pytest as _pytest

    from geoarrow_rs_spark.io.datasource import _GpqCommit, _GpqWriter

    out = str(tmp_path / "ds")
    os.makedirs(out)
    schema = StructType([StructField("g", BinaryType())])
    w = _GpqWriter(out, schema, {"geometry_col": "g"}, overwrite=False)
    with _pytest.raises(FileNotFoundError):
        w.commit([_GpqCommit("ghost.parquet", None, 1)])
