"""Integration tests: table ops, spatial join, IO round-trips, datapipe,
streaming helpers (batch mode)."""

import os

import pytest
from pyspark.sql import Row, functions as F


def test_explode_and_total_bounds(spark):
    from geoarrow_rs_spark.ops import explode_geometries, total_bounds

    df = spark.createDataFrame(
        [
            Row(id=1, wkt="MULTIPOINT (0 0, 1 1, 2 2)"),
            Row(id=2, wkt="POINT (5 5)"),
        ]
    ).selectExpr("id", "ST_GeomFromWKT(wkt) AS geometry")
    ex = explode_geometries(df, "geometry")
    assert ex.count() == 4
    ex_pos = explode_geometries(df, "geometry", keep_position=True)
    assert ex_pos.where("part_index = 2").count() == 1
    assert total_bounds(df, "geometry") == (0.0, 0.0, 5.0, 5.0)


def test_downcast_inference(spark):
    from geoarrow_rs_spark.ops import downcast_geometry_type, infer_geometry_type

    df = spark.createDataFrame(
        [Row(wkt="POINT (0 0)"), Row(wkt="MULTIPOINT (1 1, 2 2)")]
    ).selectExpr("ST_GeomFromWKT(wkt) AS geometry")
    assert infer_geometry_type(df, "geometry") == [1, 4]
    assert downcast_geometry_type(df, "geometry") == "MultiPoint"


def test_spatial_join_broadcast_vs_grid(spark):
    from geoarrow_rs_spark.join import spatial_join

    pts = spark.createDataFrame(
        [Row(pid=i, x=float(i), y=float(i)) for i in range(10)]
    ).selectExpr("pid", "ST_Point(x, y) AS geometry")
    boxes = spark.createDataFrame(
        [Row(bid=1, x0=0.0, y0=0.0, x1=4.5, y1=4.5), Row(bid=2, x0=7.5, y0=7.5, x1=20.0, y1=20.0)]
    ).selectExpr("bid", "ST_MakeEnvelope(x0, y0, x1, y1) AS box_geom")
    for strategy in ("broadcast", "grid"):
        out = spatial_join(
            pts, boxes, "geometry", "box_geom", strategy=strategy, cell_size=3.0
        )
        got = sorted((r["bid"], r["pid"]) for r in out.collect())
        assert got == [(1, 0), (1, 1), (1, 2), (1, 3), (1, 4), (2, 8), (2, 9)], strategy


def test_geoparquet_roundtrip(spark, tmp_path):
    from geoarrow_rs_spark.io import read_geoparquet, write_geoparquet
    from geoarrow_rs_spark.io.geoparquet import read_geo_metadata

    df = spark.createDataFrame(
        [Row(id=i, x=float(i * 10), y=float(i * 5)) for i in range(10)]
    ).selectExpr("id", "ST_Point(x, y) AS geometry")
    path = os.path.join(str(tmp_path), "gp")
    doc = write_geoparquet(df, path, "geometry", crs="EPSG:4326")
    assert doc["columns"]["geometry"]["encoding"] == "WKB"
    meta = read_geo_metadata(path)
    assert meta["primary_column"] == "geometry"
    assert meta["columns"]["geometry"]["crs"] == "EPSG:4326"
    assert meta["columns"]["geometry"]["bbox"] == [0.0, 0.0, 90.0, 45.0]

    back = read_geoparquet(spark, path)
    assert back.count() == 10
    assert "bbox" in back.columns
    # bbox pushdown filter
    filt = read_geoparquet(spark, path, bbox=(0, 0, 31, 100))
    assert filt.count() == 4
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert "xmin" in plan  # native predicate, not a UDF


def test_csv_wkt_roundtrip(spark, tmp_path):
    from geoarrow_rs_spark.io import read_csv_wkt, write_csv_wkt

    df = spark.createDataFrame(
        [Row(id=1, wkt="POINT (1 2)"), Row(id=2, wkt="LINESTRING (0 0, 3 4)")]
    ).selectExpr("id", "ST_GeomFromWKT(wkt) AS geometry")
    path = os.path.join(str(tmp_path), "csv")
    write_csv_wkt(df, path, "geometry")
    back = read_csv_wkt(spark, path, "geometry")
    out = {r["id"]: r["l"] for r in back.selectExpr("id", "ST_Length(geometry) AS l").collect()}
    assert out[2] == 5.0


def test_geojson_lines_roundtrip(spark, tmp_path):
    from geoarrow_rs_spark.io import read_geojson_lines, write_geojson_lines

    df = spark.createDataFrame(
        [Row(name="a", wkt="POINT (1 2)"), Row(name="b", wkt="POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")]
    ).selectExpr("name", "ST_GeomFromWKT(wkt) AS geometry")
    path = os.path.join(str(tmp_path), "gj")
    write_geojson_lines(df, path, "geometry")
    back = read_geojson_lines(spark, path, "geometry")
    out = {r["name"]: r["a"] for r in back.selectExpr("name", "ST_Area(geometry) AS a").collect()}
    assert out["b"] == 16.0
    assert out["a"] == 0.0


def test_exact_dedup(spark):
    from geoarrow_rs_spark.datapipe.dedup import exact_dedup

    df = spark.createDataFrame(
        [Row(doc_id=1, text="aaa"), Row(doc_id=2, text="aaa"), Row(doc_id=3, text="bbb")]
    )
    kept = exact_dedup(df, "text", "doc_id", keep="min")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_minhash_pairs_finds_near_dups(spark):
    from geoarrow_rs_spark.datapipe.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + " x"),     # near-dup of 1
        Row(doc_id=3, text="completely different content about spark and parquet files"),
    ]
    df = spark.createDataFrame(rows)
    pairs = minhash_lsh_pairs(df, "doc_id", "text", jaccard_threshold=0.5)
    got = sorted((r["a_id"], r["b_id"]) for r in pairs.collect())
    assert (1, 2) in got
    assert all(p == (1, 2) for p in got)


def test_simhash_near_pairs(spark):
    from geoarrow_rs_spark.datapipe.dedup import simhash_near_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base.replace("today", "tonite")),
            Row(doc_id=3, text="zzzz qqqq completely unrelated words xylophone quartz"),
        ]
    )
    pairs = simhash_near_pairs(df, "doc_id", "text", max_hamming=16)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got


def test_embedding_near_pairs_and_ivf(spark):
    from geoarrow_rs_spark.datapipe.dedup import embedding_near_pairs
    from geoarrow_rs_spark.datapipe.similarity import ivf_topk

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0, 0.0]),
        Row(vec_id=3, embedding=[-1.0, 0.2, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    pairs = embedding_near_pairs(df, "vec_id", "embedding", threshold=0.99)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert got == {(1, 2)}
    out = ivf_topk(df.where("vec_id = 1"), df, k=2, n_planes=4)
    ranked = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert ranked[0] == 1 and ranked[1] == 2


def test_multimodal_fake_pipeline(spark):
    from geoarrow_rs_spark.datapipe.multimodal import (
        blob_stats,
        extract_features,
        sample_frames,
    )

    df = spark.createDataFrame(
        [Row(id=1, blob=bytearray(b"fake-image-bytes")), Row(id=2, blob=bytearray(b"x"))]
    )
    stats = blob_stats(df, "blob")
    r = {x["id"]: x for x in stats.collect()}
    assert r[1]["blob_bytes"] == 16 and len(r[1]["blob_sha256"]) == 64
    feats = extract_features(df, "blob", dim=8, fake=True)
    rows = feats.collect()
    assert all(len(x["features"]) == 8 for x in rows)
    # determinism
    rows2 = extract_features(df, "blob", dim=8, fake=True).collect()
    assert [list(x["features"]) for x in rows] == [list(x["features"]) for x in rows2]
    frames = sample_frames(df, "blob", fake=True)
    assert frames.count() >= 2
    # real decode path is an explicit stub
    with pytest.raises(Exception):
        extract_features(df, "blob", dim=8, fake=False).collect()


def _events_with_ts(spark, sf_dir):
    """events with a true timestamp ts, whether stored as ns-int64 or micros."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    kind = e.schema["ts"].dataType.typeName()
    if kind == "long":
        # exact integer division: ns epochs exceed 2^53, double division
        # could shift a timestamp ~1us across a window boundary
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif kind == "timestamp_ntz":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e


def test_streaming_helpers_batch_mode(spark, sf_dir):
    from geoarrow_rs_spark.streaming import sessionize_stream, windowed_counts

    e = _events_with_ts(spark, sf_dir)
    w = windowed_counts(e, "ts", "1 hour")
    assert w.count() > 0
    assert {"window_start", "window_end", "event_type", "n_events", "sum_value"} <= set(
        w.columns
    )
    s = sessionize_stream(e, "ts", "user_id", "30 minutes")
    assert s.count() > 0


def test_streaming_real_stream(spark, sf_dir, tmp_path):
    from geoarrow_rs_spark.streaming import read_stream_parquet, windowed_counts

    batch = _events_with_ts(spark, sf_dir)
    src = os.path.join(str(tmp_path), "stream_src")
    batch.limit(2000).write.mode("overwrite").parquet(src)
    stream = read_stream_parquet(spark, src, schema=batch.schema)
    assert stream.isStreaming
    agg = windowed_counts(stream, "ts", "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    out = spark.sql("SELECT * FROM win_counts")
    assert out.count() > 0


def test_ivf_multiprobe_recall(spark, sf_dir):
    """Hamming-1 multiprobe must recover strictly more true neighbors than
    single-probe, radius-2 more again (monotone), and every returned
    (pair, cosine) must agree exactly with brute force — the approximation
    is candidate coverage only, never scoring.

    Note on absolute recall: the synthetic embeddings are near-random
    (top-5 neighbor cosine ~0.32 vs background ~0), so bucket-LSH recall is
    bounded by collision probability, not implementation quality; on
    clustered real-world embeddings the same pipeline sits near 1.0."""
    from geoarrow_rs_spark.datapipe.similarity import cosine_topk, ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where("vec_id < 20")
    c = e.where("vec_id >= 20")
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(q, c, k=5).collect()
    }

    def run(radius):
        return {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in ivf_topk(q, c, k=5, n_planes=6, probe_radius=radius).collect()
        }

    r0, r1, r2 = run(0), run(1), run(2)
    rec = [len(set(exact) & set(r)) / len(exact) for r in (r0, r1, r2)]
    assert rec[1] > rec[0], f"multiprobe did not improve recall: {rec}"
    assert rec[2] >= rec[1], f"radius-2 lost recall: {rec}"
    # scores of returned true pairs are exact
    for pair in set(exact) & set(r1):
        assert r1[pair] == exact[pair]


def test_dedup_clusters_components(spark):
    """Hand-built graph: chain 1-2-3, pair 10-11, singleton 99 — every node
    gets the min id of its component; iteration converges past diameter 2."""
    from pyspark.sql import Row

    from geoarrow_rs_spark.datapipe.dedup import dedup_clusters

    docs = spark.createDataFrame([Row(doc_id=i) for i in [1, 2, 3, 10, 11, 99]])
    pairs = spark.createDataFrame(
        [Row(a_id=2, b_id=3), Row(a_id=1, b_id=2), Row(a_id=10, b_id=11)]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, pairs, id_col="doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_dedup_clusters_long_chain_and_random_graphs(spark):
    """Star-contraction must close a 500-node path in far fewer rounds
    than its diameter (min-label propagation would silently truncate at
    the 25-round cap), and must match a union-find reference on random
    graphs with shuffled ids."""
    import random

    from pyspark.sql import Row

    from geoarrow_rs_spark.datapipe.dedup import dedup_clusters

    n = 500
    perm = list(range(n))
    random.seed(17)
    random.shuffle(perm)  # chain order decoupled from id order
    docs = spark.createDataFrame([Row(doc_id=i) for i in range(n)])
    pairs = spark.createDataFrame(
        [Row(a_id=perm[i], b_id=perm[i + 1]) for i in range(n - 1)]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, pairs, id_col="doc_id").collect()
    }
    assert got == {i: 0 for i in range(n)}

    # random sparse graphs vs union-find
    for seed in (1, 2):
        rng = random.Random(seed)
        m = 400
        edges = [(rng.randrange(m), rng.randrange(m)) for _ in range(180)]
        parent = list(range(m))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {i: find(i) for i in range(m)}
        # canonicalize to component-min
        comp_min = {}
        for i in range(m):
            r = expect[i]
            comp_min[r] = min(comp_min.get(r, i), i)
        expect = {i: comp_min[expect[i]] for i in range(m)}

        docs = spark.createDataFrame([Row(doc_id=i) for i in range(m)])
        pdf = spark.createDataFrame(
            [Row(a_id=a, b_id=b) for a, b in edges if a != b]
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(docs, pdf, id_col="doc_id").collect()
        }
        assert got == expect, seed


def test_asof_join_semantics_and_plan(spark):
    """Backward as-of: latest right at-or-before each left ts per key;
    equal-ts right matches; unmatched stays null. ONE exchange total (the
    union sorts once per key — no range explosion)."""
    from pyspark.sql import Row

    from geoarrow_rs_spark.join.asof import asof_join

    left = spark.createDataFrame(
        [Row(id=1, k="a", ts=10), Row(id=2, k="a", ts=20), Row(id=3, k="b", ts=5)]
    )
    right = spark.createDataFrame(
        [Row(k="a", ts=10, v=1.0), Row(k="a", ts=15, v=2.0), Row(k="b", ts=6, v=9.0)]
    )
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"])
    got = {r["id"]: r["v_r"] for r in out.collect()}
    assert got == {1: 1.0, 2: 2.0, 3: None}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # union sides feed one shuffle each, no more
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_multimodal_real_bmp_wav_pipeline(spark):
    """REAL decode path (no stub): BMP and WAV blobs built in-test decode in
    pure numpy inside mapInPandas — features reflect actual content, meta
    sniffing fills real dimensions, resize round-trips."""
    import struct

    import numpy as np
    from pyspark.sql import Row

    from geoarrow_rs_spark.datapipe import multimodal as mm

    red = np.zeros((8, 6, 3), dtype=np.uint8)
    red[:, :, 0] = 255
    gray = np.full((4, 4, 3), 128, dtype=np.uint8)
    rate = 8000
    mono = (np.sin(2 * np.pi * 440 * np.arange(800) / rate) * 20000).astype("<i2")
    data = np.column_stack([mono, mono]).astype("<i2").tobytes()
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 2, rate, rate * 4, 4, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    df = spark.createDataFrame(
        [
            Row(id=1, blob=bytearray(mm.encode_bmp(red))),
            Row(id=2, blob=bytearray(mm.encode_bmp(gray))),
            Row(id=3, blob=bytearray(wav)),
        ]
    )
    meta = {r["id"]: r["media_meta"] for r in mm.attach_media_meta(df, "blob").collect()}
    assert meta[1]["media_type"] == "image/bmp" and meta[1]["width"] == 6 and meta[1]["height"] == 8
    assert meta[3]["media_type"] == "audio/wav" and meta[3]["duration_ms"] == 100

    feats = {r["id"]: r["features"] for r in mm.extract_features(df, "blob", dim=8).collect()}
    assert feats[1][0] == pytest.approx(1.0)      # red channel mean of pure red
    assert feats[1][1] == pytest.approx(0.0)      # green mean
    assert feats[2][0] == pytest.approx(128 / 255, abs=1e-6)
    assert feats[3][3] == pytest.approx(0.1, abs=1e-6)  # 100 ms duration

    resized = {r["id"]: r["resized"] for r in mm.resize_images(df.where("id < 3"), "blob", 3, 3).collect()}
    out = mm.decode_bmp(bytes(resized[2]))
    assert out.shape == (3, 3, 3) and int(out[0, 0, 0]) == 128


def test_png_decode_all_filter_types():
    """decode_png inverts every PNG filter type. The test builds filtered
    scanlines with an independent straightforward filterer (the spec's
    forward direction) and asserts the decoder recovers the raw image."""
    import struct as st
    import zlib

    import numpy as np

    from geoarrow_rs_spark.datapipe import multimodal as mm

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    h, w, c = img.shape
    flat = img.reshape(h, w * c).astype(np.int64)

    def paeth(a, b, cc):
        p = a + b - cc
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)

    # forward-filter each row with a different filter type (0..4)
    body = b""
    for y in range(h):
        f = y % 5
        row, prev = flat[y], (flat[y - 1] if y > 0 else np.zeros(w * c, np.int64))
        out = np.zeros(w * c, np.int64)
        for x in range(w * c):
            left = row[x - c] if x >= c else 0
            up = prev[x]
            ul = prev[x - c] if x >= c else 0
            pred = {0: 0, 1: left, 2: up, 3: (left + up) // 2, 4: paeth(left, up, ul)}[f]
            out[x] = (row[x] - pred) % 256
        body += bytes([f]) + out.astype(np.uint8).tobytes()

    def chunk(cid, data):
        return st.pack(">I", len(data)) + cid + data + st.pack(
            ">I", zlib.crc32(cid + data) & 0xFFFFFFFF
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )
    got = mm.decode_png(blob)
    assert np.array_equal(got, img)


def test_png_roundtrip_gray_rgb_rgba():
    import numpy as np

    from geoarrow_rs_spark.datapipe import multimodal as mm

    rng = np.random.RandomState(3)
    for c in (1, 2, 3, 4):
        img = rng.randint(0, 256, size=(6, 5, c), dtype=np.uint8)
        assert np.array_equal(mm.decode_png(mm.encode_png(img)), img)
    g2d = rng.randint(0, 256, size=(4, 4), dtype=np.uint8)
    assert np.array_equal(mm.decode_png(mm.encode_png(g2d))[:, :, 0], g2d)


def test_png_spark_pipeline(spark):
    """PNG blobs flow through the REAL decode paths in meta/features/resize
    inside mapInPandas, mixed with BMP in the same column."""
    import numpy as np
    from pyspark.sql import Row

    from geoarrow_rs_spark.datapipe import multimodal as mm

    blue = np.zeros((8, 6, 3), dtype=np.uint8)
    blue[:, :, 2] = 255
    gray = np.full((4, 4), 77, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            Row(id=1, blob=bytearray(mm.encode_png(blue))),
            Row(id=2, blob=bytearray(mm.encode_png(gray))),
            Row(id=3, blob=bytearray(mm.encode_bmp(blue))),
        ]
    )
    meta = {r["id"]: r["media_meta"] for r in mm.attach_media_meta(df, "blob").collect()}
    assert meta[1]["media_type"] == "image/png" and meta[1]["width"] == 6
    assert meta[2]["n_channels"] == 1 and meta[2]["height"] == 4

    feats = {r["id"]: r["features"] for r in mm.extract_features(df, "blob", dim=8).collect()}
    assert feats[1][2] == pytest.approx(1.0)           # blue mean
    assert feats[1][0] == pytest.approx(0.0)           # red mean
    assert feats[2][0] == pytest.approx(77 / 255, abs=1e-6)
    assert feats[3][2] == pytest.approx(1.0)           # same content via BMP

    resized = {r["id"]: r["resized"] for r in mm.resize_images(df, "blob", 3, 3).collect()}
    png_out = mm.decode_png(bytes(resized[1]))
    assert png_out.shape == (3, 3, 3) and int(png_out[0, 0, 2]) == 255
    assert int(mm.decode_png(bytes(resized[2]))[1, 1, 0]) == 77
    assert mm.decode_bmp(bytes(resized[3])).shape == (3, 3, 3)


def test_kmeans_ivf_recall_and_exhaustive_probe(spark, sf_dir):
    """Learned-centroid IVF: (a) recall is monotone in nprobe, (b) beats the
    data-agnostic SRP planes at a comparable probe budget on this corpus,
    (c) probing ALL cells reproduces brute force exactly (the approximation
    is cell coverage only — scoring and ranking are identical code paths)."""
    from geoarrow_rs_spark.datapipe.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_ivf_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where("vec_id < 8")
    c = e.where("vec_id >= 8")
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(q, c, k=5).collect()
    }

    def km(nprobe):
        return {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in kmeans_ivf_topk(
                q, c, k=5, k_clusters=8, iters=2, nprobe=nprobe
            ).collect()
        }

    k1, k2, k_all = km(1), km(2), km(8)
    srp = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, c, k=5, n_planes=6, probe_radius=1).collect()
    }
    rec = lambda got: len(set(exact) & set(got)) / len(exact)
    assert rec(k2) >= rec(k1), (rec(k1), rec(k2))
    assert rec(k2) >= rec(srp), (rec(k2), rec(srp))
    # exhaustive probe == brute force, scores included
    assert k_all == exact


def test_pyarrow_interop_roundtrip(spark):
    """to_pyarrow tags the geometry field with GeoArrow extension metadata;
    from_pyarrow finds it by tag and restores an identical DataFrame."""
    from geoarrow_rs_spark.interop import GEOARROW_WKB_EXT, from_pyarrow, to_pyarrow

    df = spark.range(50).selectExpr(
        "id", "ST_Point(CAST(id AS DOUBLE), CAST(id * 2 AS DOUBLE)) AS geometry"
    )
    table = to_pyarrow(df, crs={"id": {"authority": "EPSG", "code": 4326}})
    field = table.schema.field("geometry")
    assert field.metadata[b"ARROW:extension:name"].decode() == GEOARROW_WKB_EXT
    assert b"EPSG" in field.metadata[b"ARROW:extension:metadata"]

    back = from_pyarrow(spark, table)
    got = {
        (r.id, r.x, r.y)
        for r in back.selectExpr("id", "ST_X(geometry) AS x", "ST_Y(geometry) AS y").collect()
    }
    assert got == {(i, float(i), float(2 * i)) for i in range(50)}


def test_ann_recall_floor_guard(spark):
    """Regression floor for ivf_topk recall vs brute force, so bucket/probe
    changes cannot silently trade recall for speed.

    Two regimes:
    - sf0.01 embeddings (near-random vectors, top-5 cosine ~0.3): recall is
      bounded by SRP collision probability, not implementation quality —
      calibrated floors (measured 0.44 / 0.80 at planes=4 radius=1/2) with
      headroom for sampling noise.
    - clustered synthetic (tight clusters, in-cluster cosine ~0.99): the
      regime the index is FOR — radius-1 recall must be >= 0.9.
    """
    import os as _os

    import numpy as np
    from pyspark.sql import Row

    from geoarrow_rs_spark.datapipe.similarity import cosine_topk, ivf_topk

    sf001 = "/root/testdata/sf0.01"
    if _os.path.isdir(sf001):
        e = spark.read.parquet(f"{sf001}/embeddings.parquet")
        q = e.where("vec_id < 50")
        c = e.where("vec_id >= 50")
        exact = {
            (r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, c, k=5).collect()
        }
        got1 = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(q, c, k=5, n_planes=4, probe_radius=1).collect()
        }
        got2 = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(q, c, k=5, n_planes=4, probe_radius=2).collect()
        }
        r1 = len(exact & got1) / len(exact)
        r2 = len(exact & got2) / len(exact)
        assert r1 >= 0.35, f"radius-1 recall floor broken: {r1:.3f}"
        assert r2 >= 0.70, f"radius-2 recall floor broken: {r2:.3f}"

    # clustered regime: 20 centers x 25 members, noise sigma 0.05
    rng = np.random.default_rng(3)
    centers = rng.normal(size=(20, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(20):
        for _ in range(25):
            v = centers[ci] + rng.normal(scale=0.05, size=16)
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows)
    q = df.where("vec_id % 25 = 0")
    c = df.where("vec_id % 25 != 0")
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, c, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, c, k=5, n_planes=8, probe_radius=1).collect()
    }
    rec = len(exact & got) / len(exact)
    assert rec >= 0.9, f"clustered radius-1 recall {rec:.3f} < 0.9"


def test_ivfpq_codes_and_adc_consistency(spark, sf_dir):
    """IVF-PQ self-consistency: every corpus vector gets exactly m codes
    in range; the ADC distance returned for each (query, neighbor) equals
    the sum of per-subspace distances to the neighbor's assigned codebook
    entries, recomputed independently in numpy from the collected
    codebooks; ranks are ascending in adc_d2."""
    import numpy as np

    from geoarrow_rs_spark.datapipe import similarity

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where("vec_id < 4")
    corpus = e.where("vec_id >= 4")
    m, k_codes, dim = 4, 8, 64
    w = dim // m

    cents = similarity.pq_train(corpus, m=m, k_codes=k_codes, iters=2, dim=dim)
    assert len(cents) == m * k_codes
    codes = similarity.pq_encode(corpus, cents, m=m, dim=dim).collect()
    n_corpus = corpus.count()
    assert len(codes) == n_corpus * m
    assert all(0 <= r["code"] < k_codes for r in codes)

    out = similarity.ivfpq_topk(
        q, corpus, k=5, k_clusters=4, iters=1, nprobe=4,  # probe ALL cells
        m=m, k_codes=k_codes, pq_iters=2, dim=dim,
    ).collect()

    cb = {(s, c): np.array(v) for s, c, v in cents}
    code_map = {}
    for r in codes:
        code_map.setdefault(r["vid"], {})[r["s"]] = r["code"]
    qvecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
             for r in q.collect()}

    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_query.items():
        rows.sort(key=lambda r: r["rank"])
        dists = [r["adc_d2"] for r in rows]
        assert dists == sorted(dists)
        for r in rows:
            qv = qvecs[qid]
            expect = 0.0
            for s in range(m):
                sub = qv[s * w:(s + 1) * w]
                cent = cb[(s, code_map[r["neighbor_id"]][s])]
                d = sub - cent
                # mirror the engine's per-term decimal rounding
                expect += float(np.sum(np.round(d * d, 12)))
            assert abs(r["adc_d2"] - round(expect, 8)) < 1e-6, (qid, r)


def test_ivfpq_retrieves_separable_clusters(spark):
    """Retrieval quality on data PQ should handle well: vectors are four
    well-separated prototypes plus small deterministic noise. ADC cannot
    rank WITHIN a quantization cell (same-cluster members share codes, so
    their estimated distances tie), but it must never confuse clusters:
    every returned neighbor comes from the query's own prototype, with a
    full k of them, and their ADC distances are far below any
    cross-cluster candidate's exact distance."""
    import numpy as np

    from geoarrow_rs_spark.datapipe import similarity

    rng = np.random.default_rng(21)
    protos = rng.uniform(-1, 1, (4, 64)) * 10.0
    rows = []
    for i in range(80):
        p = i % 4
        v = protos[p] + rng.uniform(-0.05, 0.05, 64)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where("vec_id < 4")          # one query per prototype
    corpus = df.where("vec_id >= 4")

    got = similarity.ivfpq_topk(
        q, corpus, k=3, k_clusters=4, iters=2, nprobe=4,
        m=4, k_codes=8, pq_iters=2, dim=64,
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    vecs = dict(rows)
    for qid in range(4):
        assert len(by_q[qid]) == 3, qid
        assert all(c % 4 == qid for c in by_q[qid]), (qid, by_q[qid])
        qv = np.array(vecs[qid])
        worst_same = max(
            float(np.sum((np.array(vecs[c]) - qv) ** 2)) for c in by_q[qid]
        )
        best_other = min(
            float(np.sum((np.array(vecs[c]) - qv) ** 2))
            for c in range(4, 80) if c % 4 != qid
        )
        assert worst_same * 10 < best_other, qid


def test_gif_lzw_matches_published_spec_example():
    """The LZW decoder reproduces the published GIF spec walkthrough
    example (the 10x10 three-color image whose compressed bytes appear in
    the classic 'What's In A GIF' guide) and the encoder regenerates the
    published stream byte-identically — external validation, not just
    self-round-trip."""
    from geoarrow_rs_spark.datapipe.multimodal import (
        _gif_lzw_decode, _gif_lzw_encode,
    )

    data = bytes.fromhex("8C2D99872A1CDC33A00275EC95FAA8DE608C04914C01")
    rows = ["1111122222", "1111122222", "1111122222", "1110000222",
            "1110000222", "2220000111", "2220000111", "2222211111",
            "2222211111", "2222211111"]
    expect = [int(c) for r in rows for c in r]
    assert _gif_lzw_decode(data, 2) == expect
    assert _gif_lzw_encode(expect, 2) == data


def test_gif_roundtrip_and_pipeline(spark):
    """GIF encode->decode round trips across width growth, KwKwK
    sequences and a 64x64 image; the mapInPandas feature/resize/meta
    paths treat GIF as a real decodable format."""
    import numpy as np

    from pyspark.sql import Row

    from geoarrow_rs_spark.datapipe.multimodal import (
        _gif_lzw_decode, _gif_lzw_encode, attach_media_meta, decode_gif,
        encode_gif, extract_features, resize_images,
    )

    rng = np.random.default_rng(2)
    for n, ncol, mc in [(40, 2, 2), (3000, 8, 3), (6000, 2, 2)]:
        seq = rng.integers(0, ncol, n).tolist()
        assert _gif_lzw_decode(_gif_lzw_encode(seq, mc), mc) == seq
    seq = [0, 1] * 50  # KwKwK pattern
    assert _gif_lzw_decode(_gif_lzw_encode(seq, 2), 2) == seq

    img = (rng.integers(0, 255, (13, 9, 3)) // 64 * 64).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif(img)), img)
    big = rng.integers(0, 6, (64, 64)).astype(np.uint8)
    big3 = np.stack([big * 40, big * 20, 255 - big * 30], axis=2).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif(big3)), big3)

    df = spark.createDataFrame(
        [Row(id=1, blob=bytearray(encode_gif(img)))]
    )
    meta = attach_media_meta(df, "blob").collect()[0]["media_meta"]
    assert meta["media_type"] == "image/gif"
    assert (meta["width"], meta["height"]) == (9, 13)
    feats = extract_features(df, "blob", dim=8).collect()[0]["features"]
    assert len(feats) == 8
    rz = resize_images(df, "blob", 4, 4).collect()[0]["resized"]
    out = decode_gif(bytes(rz))
    assert out.shape == (4, 4, 3)


def test_model_persistence_roundtrip(spark, tmp_path, sf_dir):
    """Trained models (k-means centroids, PQ codebooks, BPE merges)
    round-trip through parquet exactly, so training runs once and
    assignment/encoding jobs reload identical models."""
    from geoarrow_rs_spark.datapipe import similarity
    from geoarrow_rs_spark.datapipe.text import bpe_train_merges

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id >= 4")
    cents = similarity.kmeans_train(e, k=4, iters=1)
    similarity.save_centroids(spark, cents, str(tmp_path / "cents"))
    assert similarity.load_centroids(spark, str(tmp_path / "cents")) == sorted(cents)

    pq = similarity.pq_train(e, m=4, k_codes=4, iters=1, dim=64)
    similarity.save_pq_codebooks(spark, pq, str(tmp_path / "pq"))
    assert similarity.load_pq_codebooks(spark, str(tmp_path / "pq")) == sorted(pq)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train_merges(d, n_merges=4)
    merges.write.mode("overwrite").parquet(str(tmp_path / "bpe"))
    back = spark.read.parquet(str(tmp_path / "bpe"))
    assert sorted(map(tuple, merges.collect())) == sorted(map(tuple, back.collect()))


def test_ppm_roundtrip_and_pipeline(spark):
    """netpbm P6/P5 encode->decode round trips (including comment-bearing
    headers), and the mapInPandas meta/feature/resize paths treat netpbm
    as a real decodable format."""
    import numpy as np

    from pyspark.sql import Row

    from geoarrow_rs_spark.datapipe.multimodal import (
        attach_media_meta, decode_ppm, encode_ppm, extract_features,
        resize_images,
    )

    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, (11, 7, 3)).astype(np.uint8)
    gray = rng.integers(0, 256, (6, 9)).astype(np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(rgb)), rgb)
    assert np.array_equal(decode_ppm(encode_ppm(gray)), gray)
    commented = b"P6\n# made by hand\n2 2\n255\n" + bytes(range(12))
    assert decode_ppm(commented).shape == (2, 2, 3)

    df = spark.createDataFrame([Row(id=1, blob=bytearray(encode_ppm(rgb)))])
    meta = attach_media_meta(df, "blob").collect()[0]["media_meta"]
    assert meta["media_type"] == "image/x-portable-pixmap"
    assert (meta["width"], meta["height"], meta["n_channels"]) == (7, 11, 3)
    feats = extract_features(df, "blob", dim=8).collect()[0]["features"]
    assert len(feats) == 8
    rz = resize_images(df, "blob", 5, 3).collect()[0]["resized"]
    assert decode_ppm(bytes(rz)).shape == (5, 3, 3)


def test_tiff_roundtrip_and_boundaries():
    import struct

    import numpy as np
    import pytest

    from geoarrow_rs_spark.datapipe import multimodal as mm

    rng = np.random.RandomState(3)
    for shape in [(7, 5, 3), (9, 4), (1, 1), (3, 17, 3)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        blob = mm.encode_tiff(img)
        back = mm.decode_tiff(blob)
        assert back.shape == img.shape and (back == img).all()
        meta = mm.sniff_media_meta(blob)
        assert meta["media_type"] == "image/tiff"
        assert meta["width"] == shape[1] and meta["height"] == shape[0]
    # big-endian hand-built 2x2 grayscale
    def e_be(tag, typ, cnt, val, short=False):
        b = struct.pack(">HHI", tag, typ, cnt)
        return b + (struct.pack(">HH", val, 0) if short else struct.pack(">I", val))
    n = 8
    data_off = 8 + 2 + 12 * n + 4
    ents = [e_be(256, 3, 1, 2, True), e_be(257, 3, 1, 2, True),
            e_be(258, 3, 1, 8, True), e_be(259, 3, 1, 1, True),
            e_be(262, 3, 1, 1, True), e_be(273, 4, 1, data_off),
            e_be(277, 3, 1, 1, True), e_be(279, 4, 1, 4)]
    blob = (b"MM\x00\x2a" + struct.pack(">I", 8) + struct.pack(">H", n)
            + b"".join(ents) + struct.pack(">I", 0) + bytes([1, 2, 3, 4]))
    assert mm.decode_tiff(blob).tolist() == [[1, 2], [3, 4]]
    # honest boundaries: LZW-compressed tag rejects
    bad = bytearray(mm.encode_tiff(np.zeros((2, 2), np.uint8)))
    # compression entry is the 4th (tag 259): flip its value to 5 (LZW)
    comp_off = 8 + 2 + 12 * 3 + 8
    struct.pack_into("<H", bad, comp_off, 5)
    with pytest.raises(NotImplementedError):
        mm.decode_tiff(bytes(bad))


def test_tiff_spark_pipeline(spark):
    import numpy as np

    from geoarrow_rs_spark.datapipe import multimodal as mm

    rng = np.random.RandomState(4)
    rows = []
    for i in range(6):
        img = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
        rows.append((i, mm.encode_tiff(img)))
    df = spark.createDataFrame(rows, "id INT, blob BINARY")
    feats = mm.extract_features(df, "blob", dim=8).collect()
    assert all(len(r["features"]) == 8 for r in feats)
    resized = mm.resize_images(df, "blob", 4, 3).collect()
    for r in resized:
        out = mm.decode_tiff(bytes(r["resized"]))
        assert out.shape == (4, 3, 3)
    tagged = mm.attach_media_meta(df, "blob").collect()
    assert all(r["media_meta"]["media_type"] == "image/tiff" for r in tagged)


def test_tiff_singleton_channel_and_bad_shapes():
    """(h, w, 1) squeezes to (h, w) on encode (spp=1 TIFFs decode 2-D);
    unsupported channel counts are rejected up front, not mis-encoded."""
    import numpy as np
    import pytest

    from geoarrow_rs_spark.datapipe import multimodal as mm

    img = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    back = mm.decode_tiff(mm.encode_tiff(img))
    assert back.shape == (3, 4) and (back == img[:, :, 0]).all()
    with pytest.raises(ValueError, match="encode_tiff"):
        mm.encode_tiff(np.zeros((3, 4, 2), np.uint8))
    with pytest.raises(ValueError, match="encode_tiff"):
        mm.encode_tiff(np.zeros((3, 4, 4), np.uint8))
    with pytest.raises(ValueError, match="encode_tiff"):
        mm.encode_tiff(np.zeros((5,), np.uint8))


def _crossjoin_assign(df, cents, vec="embedding", id_col="vec_id"):
    """The broadcast cross-join plan ``assign_clusters`` replaced, kept as
    its oracle: exact decimal distances, ``min(struct(d2, cid))``."""
    from geoarrow_rs_spark.datapipe import similarity as S

    cdf = S._centroid_df(df.sparkSession, cents)
    d2 = S.dist2_decimal_expr(F.col(vec), F.col("__cvec")).alias("__d2")
    scored = df.crossJoin(F.broadcast(cdf)).select(
        F.col(id_col), F.col(vec), F.col("__cid"), d2
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct(F.col("__d2"), F.col("__cid"))).alias("__m"),
        F.first(vec).alias(vec),
    )
    return best.select(id_col, vec, F.col("__m.__cid").alias("cid"))


def _crossjoin_pq_encode(corpus, cents, vec="embedding", id_col="vec_id",
                         m=4, dim=64):
    """The subspace broadcast-join plan ``pq_encode`` replaced (its oracle)."""
    from geoarrow_rs_spark.datapipe import similarity as S

    cdf = S._pq_centroid_df(corpus.sparkSession, cents)
    sub = S._subspace_rows(corpus, vec, id_col, m, dim // m)
    d2 = S.dist2_decimal_expr(F.col("subvec"), F.col("__cvec")).alias("__d2")
    scored = sub.join(F.broadcast(cdf), on="s").select("vid", "s", "code", d2)
    return scored.groupBy("vid", "s").agg(
        F.min(F.struct(F.col("__d2"), F.col("code"))).alias("__m")
    ).select("vid", "s", F.col("__m.code").alias("code"))


def _crossjoin_probes(queries, query_id, query_vec, cents, nprobe):
    """The broadcast cross-join probe choice of ``kmeans_ivf_topk`` and
    ``ivfpq_topk`` that ``_probe_cells`` replaced, kept as its oracle (same
    signature): per query id, the ``nprobe`` centroids first by (exact
    decimal distance NULLS FIRST, cid)."""
    from pyspark.sql import Window

    from geoarrow_rs_spark.datapipe import similarity as S

    cdf = S._centroid_df(queries.sparkSession, cents)
    qd = queries.crossJoin(F.broadcast(cdf)).select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.col("__cid"),
        S.dist2_decimal_expr(F.col(query_vec), F.col("__cvec")).alias("__d2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("__d2").asc(), F.col("__cid").asc())
    return (
        qd.withColumn("__pr", F.row_number().over(wq))
        .where(F.col("__pr") <= nprobe)
        .select("query_id", "__qv", F.col("__cid").alias("cid"))
    )


def _sorted_rows(df):
    # repr: NaN elements compare equal by text, not by value
    return sorted(map(repr, map(tuple, df.collect())))


def test_local_assignment_bit_identical_to_distributed(spark, sf_dir):
    """The numpy assigner behind ``assign_clusters`` and ``pq_encode``
    (``_assign_local`` under ``mapInArrow``) reproduces the former
    cross-join plan exactly on the embeddings corpus — same (id, vec,
    cid) and (vid, s, code) rows — or the kmeans-IVF / IVF-PQ oracles
    would silently break."""
    from geoarrow_rs_spark.datapipe import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id >= 8")
    rows = S._collect_if_small(e, "vec_id", "embedding")
    assert rows is not None
    cents = S._kmeans_train_local(rows, 8, 2)
    pcents = S._pq_train_local(rows, 4, 8, 2, 16)

    got = S.assign_clusters(e, cents, vec="embedding", id_col="vec_id")
    want = _crossjoin_assign(e, cents)
    assert got.dtypes == want.dtypes
    assert _sorted_rows(got) == _sorted_rows(want)
    assert got.count() == e.count()
    got = S.pq_encode(e, pcents, vec="embedding", id_col="vec_id", m=4, dim=64)
    assert _sorted_rows(got) == _sorted_rows(_crossjoin_pq_encode(e, pcents))


# centroids for the seeded cases: ids 0 and 1 tie exactly for the zero
# vector (0.5000000000004**2 casts to 0.25 at 12 dp, as 0.5**2 does) while
# float64 calls id 1 nearer; ids 2 and 3 hold the same values in another
# order
_TIE_CENTS = [
    (0, [0.5000000000004, 0.0, 0.0, 0.0]),
    (1, [0.5, 0.0, 0.0, 0.0]),
    (2, [0.1, 0.2, 0.3, 0.7]),
    (3, [0.7, 0.3, 0.2, 0.1]),
    (4, [2.0, 2.0, 2.0, 2.0]),
]

_NAN, _INF = float("nan"), float("inf")
_ASSIGN_CASES = {
    "null-vector": [None, [2.0, 2.0, 2.0, 2.0]],
    "null-element": [[None, 2.0, 2.0, 2.0], [2.0, 2.0, 2.0, None],
                     [0.1, 0.2, None, 0.7]],
    "length-mismatch": [[2.0, 2.0, 2.0], [2.0, 2.0, 2.0, 2.0, 2.0], [], [2.0]],
    "exact-ties": [[0.4, 0.25, 0.25, 0.4], [1.25, 1.0, 1.0, 1.0],
                   [0.0, 0.0, 0.0, 0.0], [0.4, 0.25, 0.25, 0.4]],
    "near-ties": [[0.0, 0.0, 0.0, 0.0], [1e-12, 0.0, 0.0, 0.0],
                  [0.5000000000001, 0.0, 0.0, 0.0],
                  [0.2500000000002, 0.0, 0.0, 0.0],
                  [0.4, 0.25 + 4e-13, 0.25, 0.4 - 3e-13]],
    "duplicate-vectors": [[1.9, 2.0, 2.0, 2.0]] * 3 + [[0.1, 0.2, 0.3, 0.7]] * 2,
    "nan-inf": [[_NAN, 2.0, 2.0, 2.0], [2.0, _INF, 2.0, 2.0],
                [2.0, 2.0, 1e200, 2.0], [2.0, 2.0, 2.0, -_INF]],
    "large": [[1e12, 1e12, 1e12, 1e12], [-3e12, 2.0, 2.0, 2.0]],
    # centroids of _CASE_CENTS: in "ragged-centroids" id 0 is one value
    # short, so its distance to a 4-vector is NULL and sorts before every
    # number, while a 3-vector gets a NULL distance from ids 1-5 only; in
    # "nan-centroid" id 2's distance is NULL for every vector
    # and a 3-vector with a NULL element is NULL to every id, so id 0 wins
    "ragged-centroids": [[2.0, 2.0, 2.0, 2.0], [2.0, 2.0, 2.0], None, [0.5],
                         [0.1, 0.2, 0.3], [2.0, None, 2.0]],
    "nan-centroid": [[2.0, 2.0, 2.0, 2.0], [0.5, 0.0, 0.0, 0.0], [2.0]],
}
_CASE_CENTS = {
    "ragged-centroids": [(0, [2.0, 2.0, 2.0])] + [(c + 1, v) for c, v in _TIE_CENTS],
    "nan-centroid": [(c, [_NAN, 0.0, 0.0, 0.0] if c == 2 else v) for c, v in _TIE_CENTS],
}


def _edge_frame(spark, vectors, parts=2):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    rows = list(enumerate(vectors))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)


def _random_vectors(seed, n=300):
    """Near ties by construction: the tie centroids' values perturbed in
    the last decimal places, permuted, duplicated, with NULLs and
    ragged rows mixed in."""
    import numpy as np

    rng = np.random.default_rng([20261020, seed])
    out = []
    for _ in range(n):
        u = rng.random()
        if u < 0.03:
            out.append(None)
            continue
        base = list(_TIE_CENTS[int(rng.integers(len(_TIE_CENTS)))][1])
        v = [x + float(rng.choice([0.0, 1e-13, -4e-13, 5e-12, 1e-3])) for x in base]
        v = list(rng.permutation(v)) if rng.random() < 0.3 else v
        if rng.random() < 0.05:
            v[int(rng.integers(4))] = None
        if rng.random() < 0.05:
            v = v[: int(rng.integers(0, 6))]
        out.append([None if x is None else float(x) for x in v])
    return out + out[:20]  # duplicate vectors


@pytest.mark.parametrize(
    "case", list(_ASSIGN_CASES) + [f"random-{i}" for i in range(3)])
def test_assignment_matches_crossjoin_plan_on_edge_cases(spark, case):
    """Seeded edge cases against the former cross-join plans: a NULL
    vector, element or length mismatch makes the distance NULL, which
    sorts first (lowest such id wins); exact decimal ties go to the lowest id
    although float64 orders them; NaN and inf terms are NULL too. Several
    Arrow batches per partition."""
    from geoarrow_rs_spark.datapipe import similarity as S

    vectors = (_ASSIGN_CASES[case] if case in _ASSIGN_CASES
               else _random_vectors(int(case.rsplit("-", 1)[1])))
    df = _edge_frame(spark, vectors)
    cents = _CASE_CENTS.get(case, _TIE_CENTS)
    pcents = [(s, c, v[2 * s: 2 * s + 2]) for c, v in cents for s in range(2)]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = S.assign_clusters(df, cents)
        want = _crossjoin_assign(df, cents)
        assert got.dtypes == want.dtypes
        assert _sorted_rows(got) == _sorted_rows(want)
        got = S.pq_encode(df, pcents, m=2, dim=4)
        assert _sorted_rows(got) == _sorted_rows(_crossjoin_pq_encode(df, pcents, m=2, dim=4))
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("vector", [[-1e13, 0.0, 0.0, 0.0], [8e12, 8e12, 0.0, 0.0]])
def test_assignment_overflow_raises_like_crossjoin_plan(spark, vector):
    """A squared term or partial sum of 1e26 or more does not fit
    DECIMAL(38,12): the former plan raised (ANSI mode), so the assigner
    raises too, for the whole vector and for a PQ slice."""
    from geoarrow_rs_spark.datapipe import similarity as S

    df = _edge_frame(spark, [[1.0, 1.0, 1.0, 1.0], vector])
    pcents = [(0, 0, [0.0, 0.0, 0.0, 0.0])]
    for plan in (_crossjoin_assign(df, _TIE_CENTS), S.assign_clusters(df, _TIE_CENTS),
                 _crossjoin_pq_encode(df, pcents, m=1, dim=4),
                 S.pq_encode(df, pcents, m=1, dim=4),
                 _crossjoin_probes(df, "vec_id", "embedding", _TIE_CENTS, 2),
                 S._probe_cells(df, "vec_id", "embedding", _TIE_CENTS, 2)):
        with pytest.raises(Exception, match="Decimal"):
            plan.collect()


@pytest.mark.parametrize(
    "case", list(_ASSIGN_CASES) + [f"random-{i}" for i in range(3)])
def test_probe_cells_match_crossjoin_plan_on_edge_cases(spark, case):
    """Each query's ``nprobe`` cells from the assigner equal the former
    cross-join window's at nprobe 1, 2, 3 and one above the centroid
    count, on the assigner's seeded edge cases: same rows, names, types."""
    from geoarrow_rs_spark.datapipe import similarity as S

    vectors = (_ASSIGN_CASES[case] if case in _ASSIGN_CASES
               else _random_vectors(int(case.rsplit("-", 1)[1])))
    df = _edge_frame(spark, vectors)
    cents = _CASE_CENTS.get(case, _TIE_CENTS)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for nprobe in (1, 2, 3, len(cents) + 1):
            got = S._probe_cells(df, "vec_id", "embedding", cents, nprobe)
            want = _crossjoin_probes(df, "vec_id", "embedding", cents, nprobe)
            assert got.columns == want.columns and got.dtypes == want.dtypes
            assert _sorted_rows(got) == _sorted_rows(want), nprobe
    finally:
        spark.conf.set(key, old)


def test_probe_cells_are_chosen_per_query_row(spark):
    """Rows that share a query id (NULL included) each probe their own
    cells: the former window picked ``nprobe`` cells from the union of
    their centroid distances. Per row, the choice is the former plan's."""
    from geoarrow_rs_spark.datapipe import similarity as S

    df = _edge_frame(spark, [[2.0, 2.0, 2.0, 1.9], [0.1, 0.2, 0.3, 0.6],
                             [0.7, 0.3, 0.2, 0.2], [0.5, 0.0, 0.1, 0.0],
                             [2.0, 2.1, 2.0, 2.0]])
    df = df.withColumn("__row", F.col("vec_id")).withColumn(
        "vec_id", F.when(F.col("vec_id") < 2, 1).when(F.col("vec_id") < 4, None)
        .otherwise(F.col("vec_id")))
    for nprobe in (1, 2):
        got = S._probe_cells(df, "vec_id", "embedding", _TIE_CENTS, nprobe)
        per_row = _crossjoin_probes(df, "__row", "embedding", _TIE_CENTS, nprobe).join(
            df.select(F.col("__row").alias("query_id"), "vec_id"), "query_id"
        ).select(F.col("vec_id").alias("query_id"), "__qv", "cid")
        assert _sorted_rows(got) == _sorted_rows(per_row)
        assert got.count() == 5 * nprobe
        assert _crossjoin_probes(df, "vec_id", "embedding", _TIE_CENTS,
                                 nprobe).count() == 3 * nprobe


def test_ivf_topk_match_former_probe_plan(spark, sf_dir, monkeypatch):
    """``kmeans_ivf_topk`` and ``ivfpq_topk`` give the rows, names and types
    they gave with the cross-join probe (patched back in as
    ``_probe_cells``) on the embeddings corpus and a seeded edge-case
    corpus, at nprobe 1, 3 and above ``k_clusters``."""
    from geoarrow_rs_spark.datapipe import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edge = _edge_frame(spark, [v for v in _random_vectors(0)
                               if v is not None and len(v) == 4])
    runs = []
    for nprobe in (1, 3, 9):
        runs.append(lambda n=nprobe: S.kmeans_ivf_topk(
            e.where("vec_id < 8"), e.where("vec_id >= 8"), k=5, k_clusters=8,
            iters=2, nprobe=n))
        runs.append(lambda n=nprobe: S.ivfpq_topk(
            e.where("vec_id < 8"), e.where("vec_id >= 8"), k=5, k_clusters=8,
            iters=2, nprobe=n, m=4, k_codes=8, pq_iters=2, dim=64))
    runs.append(lambda: S.kmeans_ivf_topk(
        edge.where("vec_id < 12"), edge, k=4, k_clusters=5, iters=2, nprobe=2))
    runs.append(lambda: S.ivfpq_topk(
        edge.where("vec_id < 12"), edge, k=4, k_clusters=5, iters=2, nprobe=2,
        m=2, k_codes=4, pq_iters=2, dim=4))
    got = [run() for run in runs]
    monkeypatch.setattr(S, "_probe_cells", _crossjoin_probes)
    for g, run in zip(got, runs):
        want = run()
        assert g.dtypes == want.dtypes
        assert _sorted_rows(g) == _sorted_rows(want)


def test_srp_dim_hint_bit_identical(spark, sf_dir):
    """r8: the literal-weight SRP fast path must be bit-identical to the
    runtime-md5 expression — for a CORRECT hint, and (via the per-row size
    guard) for a WRONG hint too."""
    from pyspark.sql import functions as F

    from geoarrow_rs_spark.datapipe.similarity import srp_bucket_expr

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.select(
        "vec_id", srp_bucket_expr("embedding", n_planes=6).alias("b")
    ).collect()
    hinted = e.select(
        "vec_id",
        srp_bucket_expr("embedding", n_planes=6, dim_hint=64).alias("b"),
    ).collect()
    wrong = e.select(
        "vec_id",
        srp_bucket_expr("embedding", n_planes=6, dim_hint=48).alias("b"),
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, hinted))
    assert sorted(map(tuple, base)) == sorted(map(tuple, wrong))
    # null vectors fall through the size guard to the md5 path, which
    # yields the all-zeros bucket (null proj -> otherwise branch) — the
    # hinted expression must reproduce that exactly
    nuldf = spark.createDataFrame([(1, None)], "id long, v array<double>")
    plain = nuldf.select(srp_bucket_expr("v", n_planes=4).alias("b"))
    hinted = nuldf.select(
        srp_bucket_expr("v", n_planes=4, dim_hint=64).alias("b")
    )
    assert plain.collect()[0]["b"] == hinted.collect()[0]["b"] == "0000"


def test_dot_dim_hint_bit_identical(spark, sf_dir):
    """r8: the unrolled dim-hinted in-order dot must be bit-identical to
    the HOF left fold — correct hint, wrong hint (size-guard fallback),
    short vectors, and nulls. The leading literal 0.0 of the unrolled
    chain reproduces the fold's 0.0 + x1 first step exactly (including
    -0.0 products)."""
    from pyspark.sql import functions as F

    from geoarrow_rs_spark.datapipe.similarity import dot_inorder_expr

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = e.select(
        "vec_id",
        F.col("embedding").alias("v1"),
        F.reverse("embedding").alias("v2"),
    )
    plain = pairs.select("vec_id", dot_inorder_expr(F.col("v1"), F.col("v2")).alias("d")).collect()
    hinted = pairs.select("vec_id", dot_inorder_expr(F.col("v1"), F.col("v2"), 64).alias("d")).collect()
    wrong = pairs.select("vec_id", dot_inorder_expr(F.col("v1"), F.col("v2"), 48).alias("d")).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, hinted))
    assert sorted(map(tuple, plain)) == sorted(map(tuple, wrong))

    odd = spark.createDataFrame(
        [
            (1, [1.5, -2.5, 3.0], [0.5, 4.0, -1.0]),
            (2, [-0.0, 0.0], [0.5, 1.0]),
            (3, None, [1.0]),
            (4, [2.0], None),
        ],
        "id long, v1 array<double>, v2 array<double>",
    )
    p = odd.select("id", dot_inorder_expr(F.col("v1"), F.col("v2")).alias("d")).collect()
    h = odd.select("id", dot_inorder_expr(F.col("v1"), F.col("v2"), 3).alias("d")).collect()
    assert sorted(map(tuple, p)) == sorted(map(tuple, h))
