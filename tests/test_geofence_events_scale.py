"""Round-6 cross-checks at events-table scale:

1. The streaming geofence path (applyInPandasWithState, multi-trigger)
   must emit exactly the batch twin's transitions on the sf0.001 events
   positions — the batch twin is itself oracle-checked against DuckDB
   (events_geofence_transitions), so this closes stream == batch == SQL.
2. The PROJ-string parser and the PROJJSON parser are independent front
   ends onto the same engines: the same parameters fed through both must
   produce identical transforms.
"""

import os

import numpy as np
import pytest
from pyspark.sql import Row, SparkSession

from geoarrow_rs_spark.wkb import proj as P


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


def _positions(spark):
    from geoarrow_rs_spark.queries import _t

    e = _t(spark, "/root/testdata/sf0.001", "events")
    return e.selectExpr(
        "CAST(user_id AS STRING) AS entity_id",
        "ts",
        "CAST(event_id % 360 AS DOUBLE) - 179.5 AS x",
        "CAST((event_id * 7) % 170 AS DOUBLE) - 84.5 AS y",
    )


def _fences(spark):
    from geoarrow_rs_spark.wkb import core as C

    box = np.array([[-60.5, -40.5], [60.5, -40.5], [60.5, 40.5],
                    [-60.5, 40.5], [-60.5, -40.5]])
    hole = np.array([[-20.5, -10.5], [0.5, -10.5], [0.5, 10.5],
                     [-20.5, 10.5], [-20.5, -10.5]])
    dia = np.array([[100.0, 10.0], [40.0, 70.0], [-20.0, 10.0],
                    [40.0, -50.0], [100.0, 10.0]])
    return spark.createDataFrame(
        [(1, bytearray(C.to_wkb(C.polygon([box, hole])))),
         (2, bytearray(C.to_wkb(C.polygon([dia]))))],
        "fence_id long, geometry binary",
    )


def test_stream_equals_batch_on_events(spark, tmp_path):
    """1000 events, 15 entities, split into 3 parquet files = 3 triggers:
    the stream's keyed state must carry membership across micro-batches
    and reproduce the batch twin exactly."""
    from geoarrow_rs_spark.streaming import streaming_geofence_transitions

    pos = _positions(spark)
    fences = _fences(spark)

    batch_out = streaming_geofence_transitions(pos, fences)
    expect = {(r["entity"], r["ts"], r["fence_id"], r["transition"])
              for r in batch_out.collect()}
    assert len(expect) >= 100  # meaningful volume at sf0.001

    src = os.path.join(str(tmp_path), "positions")
    # time-sliced files so entities straddle trigger boundaries mid-walk
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    q = pos.withColumn("__slice", F.ntile(3).over(Window.orderBy("ts")))
    for i in (1, 2, 3):
        q.where(F.col("__slice") == i).drop("__slice").coalesce(1) \
            .write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_geofence_transitions(stream, fences)
    qs = (
        out.writeStream.format("memory").queryName("geofence_events_scale")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert qs.awaitTermination(300) is True
    got = {(r["entity"], r["ts"], r["fence_id"], r["transition"])
           for r in spark.sql("SELECT * FROM geofence_events_scale").collect()}
    assert got == expect


PROJ_EQUIV = [
    # (proj string, equivalent PROJJSON builder args)
    ("+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +y_0=0 "
     "+ellps=GRS80",
     ("Transverse Mercator", 9807,
      [(8801, 0, "degree"), (8802, 9, "degree"), (8805, 0.9996, "unity"),
       (8806, 500000, "metre"), (8807, 0, "metre")],
      (6378137.0, 298.257222101), (6.0, 12.0), (40.0, 60.0))),
    ("+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 +x_0=1 +y_0=2 "
     "+ellps=GRS80",
     ("Albers Equal Area", 9822,
      [(8821, 23, "degree"), (8822, -96, "degree"), (8823, 29.5, "degree"),
       (8824, 45.5, "degree"), (8826, 1, "metre"), (8827, 2, "metre")],
      (6378137.0, 298.257222101), (-120.0, -75.0), (25.0, 49.0))),
    ("+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 +ellps=GRS80",
     ("Lambert Azimuthal Equal Area", 9820,
      [(8801, 52, "degree"), (8802, 10, "degree"),
       (8806, 4321000, "metre"), (8807, 3210000, "metre")],
      (6378137.0, 298.257222101), (-10.0, 30.0), (35.0, 65.0))),
]


@pytest.mark.parametrize("case", range(len(PROJ_EQUIV)))
def test_proj_string_equals_projjson_frontend(case):
    pstr, (mname, mcode, prms, (a, rf), lon_rng, lat_rng) = PROJ_EQUIV[case]
    d = {
        "type": "ProjectedCRS",
        "name": f"equiv {mname}",
        "base_crs": {
            "type": "GeographicCRS",
            "name": "base",
            "datum": {
                "type": "GeodeticReferenceFrame", "name": "base",
                "ellipsoid": {"name": "e", "semi_major_axis": a,
                              "inverse_flattening": rf},
            },
        },
        "conversion": {
            "name": mname,
            "method": {"name": mname,
                       "id": {"authority": "EPSG", "code": mcode}},
            "parameters": [
                {"name": str(c), "value": v, "unit": u,
                 "id": {"authority": "EPSG", "code": c}}
                for c, v, u in prms
            ],
        },
    }
    crs_s = P.parse_crs(pstr)
    crs_j = P.parse_crs(d)
    rng = np.random.default_rng(7)
    lon = rng.uniform(*lon_rng, 500)
    lat = rng.uniform(*lat_rng, 500)
    xs, ys = P.transform_xy(lon, lat, 4326, crs_s)
    xj, yj = P.transform_xy(lon, lat, 4326, crs_j)
    assert np.array_equal(xs, xj) and np.array_equal(ys, yj)


def test_geofence_skewed_entity_state_bounded(spark, tmp_path):
    """VERDICT r6 #6: one entity owns ~50% of all events. The stateful
    operator must (a) keep the state store at one row per DISTINCT
    entity (skew shows up as a fat batch for the hot key, never as state
    growth), and (b) stay within the catalog's per-entry time bar on
    sf0.1-scale input."""
    import time

    import pyspark.sql.functions as F

    from geoarrow_rs_spark.queries import _t
    from geoarrow_rs_spark.streaming import streaming_geofence_transitions

    def skewed_positions(sf):
        e = _t(spark, f"/root/testdata/{sf}", "events")
        return e.selectExpr(
            "CASE WHEN event_id % 2 = 0 THEN 'hot' "
            "ELSE CAST(user_id AS STRING) END AS entity_id",
            "ts",
            "CAST(event_id % 360 AS DOUBLE) - 179.5 AS x",
            "CAST((event_id * 7) % 170 AS DOUBLE) - 84.5 AS y",
        )

    fences = _fences(spark)

    # (a) streaming state bound, checked through the engine's own state
    # metrics on a 2-trigger run
    pos = skewed_positions("sf0.001")
    n_entities = pos.select("entity_id").distinct().count()
    src = os.path.join(str(tmp_path), "skewed_positions")
    from pyspark.sql.window import Window

    q = pos.withColumn(
        "__slice", F.ntile(2).over(Window.orderBy("ts"))
    )
    for i in (1, 2):
        q.where(F.col("__slice") == i).drop("__slice").coalesce(1) \
            .write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_geofence_transitions(stream, fences)
    qs = (
        out.writeStream.format("memory").queryName("geofence_skew")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert qs.awaitTermination(300) is True
    state_rows = [
        op["numRowsTotal"]
        for p in qs.recentProgress
        for op in p.get("stateOperators", [])
        if op.get("numRowsTotal") is not None
    ]
    assert state_rows, "no state metrics reported"
    assert max(state_rows) <= n_entities, (max(state_rows), n_entities)
    # the hot entity really is ~half the stream
    hot_frac = pos.where("entity_id = 'hot'").count() / pos.count()
    assert 0.4 < hot_frac < 0.6

    # (b) batch twin on sf0.1 volume with the same skew: completes well
    # inside the catalog bar (5 s cold in SF01_TIMING; generous CI slack
    # here — the point is no blowup, the committed log holds the bar)
    pos01 = skewed_positions("sf0.1")
    t0 = time.perf_counter()
    n = streaming_geofence_transitions(pos01, fences).count()
    dt = time.perf_counter() - t0
    assert n > 0
    assert dt < 15.0, f"skewed batch twin took {dt:.1f}s"
