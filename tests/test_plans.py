"""Physical-plan shape assertions: pushdown, broadcast, equi-join (not
cartesian), codegen — the scale properties that make these operators viable
at 100 TB, checked explicitly."""

import os
import re

import pytest
from pyspark.sql import Row, functions as F


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_is_pure_codegen(spark):
    from geoarrow_rs_spark.queries import QUERIES

    df = QUERIES["q1_pricing_summary"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan
    # filter reaches the parquet scan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "l_shipdate" in optimized


def test_q5_broadcasts_dims(spark):
    from geoarrow_rs_spark.queries import QUERIES

    df = QUERIES["q5_local_supplier_volume"][0](spark, "/root/testdata/sf0.001")
    assert "BroadcastHashJoin" in _plan(df)


def test_parquet_filter_pushdown(spark, tmp_path):
    from geoarrow_rs_spark.io import read_geoparquet, write_geoparquet

    df = spark.createDataFrame(
        [Row(id=i, x=float(i), y=float(i)) for i in range(100)]
    ).selectExpr("id", "ST_Point(x, y) AS geometry")
    path = os.path.join(str(tmp_path), "pp")
    write_geoparquet(df, path, "geometry")
    filt = read_geoparquet(spark, path, bbox=(0, 0, 10, 10))
    plan = _plan(filt)
    # bbox predicate compiled to native comparisons pushed into the scan
    assert "PushedFilters" in plan
    assert "xmin" in plan.split("PushedFilters")[1][:400]
    assert "ArrowEvalPython" not in plan


def test_grid_spatial_join_is_equi_join(spark):
    from geoarrow_rs_spark.join import spatial_join

    pts = spark.createDataFrame([Row(pid=i, x=float(i), y=float(i)) for i in range(20)]
                                ).selectExpr("pid", "ST_Point(x, y) AS geometry")
    boxes = spark.createDataFrame([Row(bid=1, x0=0.0, y0=0.0, x1=5.0, y1=5.0)]
                                  ).selectExpr("bid", "ST_MakeEnvelope(x0, y0, x1, y1) AS box_geom")
    out = spatial_join(pts, boxes, "geometry", "box_geom", strategy="grid", cell_size=2.0)
    plan = _plan(out)
    # the join key is the grid cell -> hash-partitioned equi join, never a
    # cartesian/nested-loop product
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_broadcast_spatial_join_strategy(spark):
    from geoarrow_rs_spark.join import spatial_join

    pts = spark.createDataFrame([Row(pid=i, x=float(i), y=float(i)) for i in range(20)]
                                ).selectExpr("pid", "ST_Point(x, y) AS geometry")
    boxes = spark.createDataFrame([Row(bid=1, x0=0.0, y0=0.0, x1=5.0, y1=5.0)]
                                  ).selectExpr("bid", "ST_MakeEnvelope(x0, y0, x1, y1) AS box_geom")
    out = spatial_join(pts, boxes, "geometry", "box_geom", strategy="broadcast")
    plan = _plan(out)
    assert "Broadcast" in plan


def test_text_ops_stay_native(spark, sf_dir):
    from geoarrow_rs_spark.datapipe import text

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = d.select(
        text.token_count("text").alias("t"),
        text.quality_score("text").alias("q"),
        text.lang_id("text").alias("l"),
        text.fingerprint("text").alias("f"),
        text.gopher_rules("text").alias("g"),
    )
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_minhash_stays_native(spark, sf_dir):
    from geoarrow_rs_spark.datapipe.dedup import minhash_signature

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = d.select(minhash_signature("text").alias("sig"))
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_column_pruning_through_st_function(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = c.selectExpr("ST_Point(c_acctbal, 1.0) AS p").selectExpr("ST_X(p) AS x")
    plan = _plan(out)
    # only the needed column is read from parquet
    assert "c_acctbal" in plan
    assert "c_name" not in plan.split("ReadSchema")[-1]


def test_simhash_signatures_stay_native_and_match_expression(spark, sf_dir):
    """The explode+bit-vote rewrite must stay UDF-free AND produce the exact
    same 60-bit signatures as the original per-row expression variant."""
    from geoarrow_rs_spark.datapipe.dedup import simhash64, simhash_signatures

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = simhash_signatures(d, "doc_id", "text")
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    got = {r["doc_id"]: r["simhash"] for r in out.collect()}
    exp = {
        r["doc_id"]: r["sh"]
        for r in d.select("doc_id", simhash64("text").alias("sh")).collect()
    }
    assert got == exp


def test_spatial_join_auto_uses_plan_stats(spark, sf_dir):
    """auto strategy decides from Catalyst sizeInBytes (no count() job):
    a small parquet right side must choose broadcast."""
    from geoarrow_rs_spark.join.spatial import spatial_join

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey", "ST_Point(c_acctbal, CAST(c_custkey AS DOUBLE)) AS lgeom"
    )
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").selectExpr(
        "n_nationkey", "ST_Point(CAST(n_nationkey AS DOUBLE), 0.0) AS rgeom"
    )
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    out = spatial_join(c, n, left_geom="lgeom", right_geom="rgeom", strategy="auto")
    jobs_after = len(tracker.getJobIdsForGroup() or [])
    assert jobs_after == jobs_before, "auto strategy launched a job at plan time"
    plan = _plan(out)
    assert "Broadcast" in plan


def test_extent_agg_expr_is_native_aggregation(spark, sf_dir):
    """extent_agg_expr: only the scalar ST_BBox crosses to Python; the
    aggregation itself is a codegen'd HashAggregate with partial combine
    (vs the grouped-agg UDF, which ships raw WKB per group)."""
    from geoarrow_rs_spark.functions import register_functions
    from geoarrow_rs_spark.functions.registry import extent_agg_expr

    register_functions(spark)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_nationkey", "ST_Point(c_acctbal, CAST(c_custkey AS DOUBLE)) AS g"
    )
    out = c.groupBy("c_nationkey").agg(extent_agg_expr("g"))
    plan = _plan(out)
    assert "AggregateInPandas" not in plan
    assert "HashAggregate" in plan
    # values match the grouped-agg UDF fallback
    got = {r["c_nationkey"]: r["extent"] for r in out.collect()}
    exp = {
        r["c_nationkey"]: r["extent"]
        for r in c.groupBy("c_nationkey")
        .agg(F.expr("ST_Extent_Agg(g)").alias("extent"))
        .collect()
    }
    assert got.keys() == exp.keys()
    for k in got:
        assert got[k] == pytest.approx(exp[k])


def test_new_tpch_queries_broadcast_dims(spark, sf_dir):
    """q7/q8/q14 must broadcast every dimension join — the only exchange on
    the big side should be lineitem->orders (q7/q8) or none (q14)."""
    from geoarrow_rs_spark.queries import (
        q7_volume_shipping,
        q8_market_share,
        q14_promo_revenue,
    )

    for fn, min_bcasts in [
        (q7_volume_shipping, 4),
        (q8_market_share, 6),
        (q14_promo_revenue, 1),
    ]:
        plan = _plan(fn(spark, sf_dir))
        n_bcast = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
        assert n_bcast >= min_bcasts, f"{fn.__name__}: {n_bcast} broadcasts\n{plan[:2000]}"
        assert "CartesianProduct" not in plan


def test_q4_semi_join_shape(spark, sf_dir):
    from geoarrow_rs_spark.queries import q4_late_shipments

    plan = _plan(q4_late_shipments(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q21_exists_shapes(spark, sf_dir):
    """q21: EXISTS/NOT-EXISTS compile to LeftSemi + LeftAnti equi-joins on
    l_orderkey (never a CartesianProduct); supplier/nation dims broadcast."""
    from geoarrow_rs_spark.queries import q21_sole_fault_supplier

    plan = _plan(q21_sole_fault_supplier(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q15_and_q22_scalar_subquery_broadcast(spark, sf_dir):
    """q15/q22: the scalar aggregate (max revenue / avg balance) joins back
    via broadcast — no shuffle of the probe side against a 1-row relation."""
    from geoarrow_rs_spark.queries import q15_top_supplier, q22_idle_customers

    for fn in (q15_top_supplier, q22_idle_customers):
        plan = _plan(fn(spark, sf_dir))
        assert (
            "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        ), f"{fn.__name__}:\n{plan[:2000]}"
        assert "CartesianProduct" not in plan


def test_intersects_pretest_pushes_bbox_to_scan(spark, tmp_path):
    """intersects_with_pretest: the native bbox conjunct reaches the Parquet
    scan (PushedFilters) while the exact ST_Intersects pUDF stays post-scan
    on the pre-filtered rows — the reference's two-stage spatial filter."""
    from geoarrow_rs_spark.functions import register_functions
    from geoarrow_rs_spark.functions.registry import intersects_with_pretest

    register_functions(spark)
    path = str(tmp_path / "pts")
    spark.range(1000).selectExpr(
        "id",
        "ST_Point(CAST(id % 100 AS DOUBLE), CAST(id div 100 AS DOUBLE)) AS geometry",
        "named_struct('xmin', CAST(id % 100 AS DOUBLE), 'ymin', CAST(id div 100 AS DOUBLE),"
        " 'xmax', CAST(id % 100 AS DOUBLE), 'ymax', CAST(id div 100 AS DOUBLE)) AS bbox",
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    tri = "POLYGON ((0 0, 9.5 0, 0 9.5, 0 0))"
    out = df.filter(intersects_with_pretest("geometry", tri, bbox_col="bbox"))
    plan = _plan(out)
    pushed = plan.split("PushedFilters: [")[1].split("]")[0] if "PushedFilters: [" in plan else ""
    assert "xmin" in pushed and "ymax" in pushed, plan[:1500]
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan  # exact refine
    # correctness: equals brute-force exact predicate
    brute = df.filter(intersects_with_pretest("geometry", tri, bbox_col=None))
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in brute.collect()
    )


def test_bucketed_spatial_join_is_exchange_free(spark, tmp_path):
    """Both sides written by write_grid_bucketed with the same bucket spec:
    the grid join must read the bucket layout directly — ZERO Exchange in
    the plan (vs the plain grid join, which shuffles both sides) — and
    return exactly the same pairs as the ad-hoc spatial_join."""
    import os as _os

    from geoarrow_rs_spark.join import (
        bucketed_spatial_join,
        spatial_join,
        write_grid_bucketed,
    )

    pts = spark.range(400).selectExpr(
        "id AS pid",
        "ST_Point(CAST(id % 40 AS DOUBLE), CAST(id % 29 AS DOUBLE)) AS geometry",
        "named_struct('xmin', CAST(id % 40 AS DOUBLE), 'ymin', CAST(id % 29 AS DOUBLE), "
        "'xmax', CAST(id % 40 AS DOUBLE), 'ymax', CAST(id % 29 AS DOUBLE)) AS pbbox",
    )
    boxes = spark.range(15).selectExpr(
        "id AS bid",
        "ST_MakeEnvelope(CAST(id * 3 AS DOUBLE), CAST(id AS DOUBLE), "
        "CAST(id * 3 + 6 AS DOUBLE), CAST(id + 7 AS DOUBLE)) AS box_geom",
        "named_struct('xmin', CAST(id * 3 AS DOUBLE), 'ymin', CAST(id AS DOUBLE), "
        "'xmax', CAST(id * 3 + 6 AS DOUBLE), 'ymax', CAST(id + 7 AS DOUBLE)) AS bbbox",
    )
    expected = {
        (r.pid, r.bid)
        for r in spatial_join(
            pts, boxes, left_geom="geometry", right_geom="box_geom",
            predicate="intersects", strategy="grid", cell_size=8.0,
            refine="bbox", left_bbox="pbbox", right_bbox="bbbox",
        ).select("pid", "bid").collect()
    }
    write_grid_bucketed(
        pts.drop("pbbox"), "bkt_pts", geom="geometry", cell_size=8.0,
        n_buckets=4, path=_os.path.join(str(tmp_path), "bkt_pts"),
    )
    write_grid_bucketed(
        boxes.drop("bbbox"), "bkt_boxes", geom="box_geom", cell_size=8.0,
        n_buckets=4, path=_os.path.join(str(tmp_path), "bkt_boxes"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = bucketed_spatial_join(
            spark, "bkt_pts", "bkt_boxes",
            left_geom="geometry", right_geom="box_geom",
            predicate="intersects", cell_size=8.0, refine="bbox",
        ).select("pid", "bid")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:3000]
        got = {(r.pid, r.bid) for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_pts")
        spark.sql("DROP TABLE IF EXISTS bkt_boxes")
    assert got == expected and len(expected) > 0


def test_partitioned_geoparquet_prunes_directories(spark, tmp_path):
    """Grid-partitioned write + bbox read: the partition IN-list must reach
    PartitionFilters (directory pruning — only matching cell dirs open),
    results must equal the unpruned filter exactly, and the scan must
    touch a strict subset of the files."""
    from geoarrow_rs_spark.io import read_geoparquet
    from geoarrow_rs_spark.io.geoparquet import write_geoparquet_partitioned

    path = os.path.join(str(tmp_path), "gpart")
    pts = spark.range(2000).selectExpr(
        "id",
        "ST_Point(CAST(id % 100 AS DOUBLE), CAST(id div 100 AS DOUBLE)) AS geometry",
    )
    doc = write_geoparquet_partitioned(pts, path, cell_size=25.0)
    assert doc["partition"]["cell_size"] == 25.0

    full = spark.read.parquet(path)
    out = read_geoparquet(spark, path, bbox=(0, 0, 10, 10))
    got = sorted(r.id for r in out.collect())
    exp = sorted(
        r.id for r in pts.collect()
        if (r.id % 100) <= 10 and (r.id // 100) <= 10
    )
    assert got == exp and len(got) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "gpcell" in plan.split("PartitionFilters")[1][:200]
    # decisive proof of directory pruning: corrupt every parquet file in a
    # far-away cell directory — the pruned read must never open it
    import glob as _glob

    far = [d for d in _glob.glob(os.path.join(path, "gpcell=*"))
           if d.rstrip("/").split("=")[-1] != "0"]
    assert far, "expected multiple cell directories"
    for d in far:
        for fpath in _glob.glob(os.path.join(d, "*.parquet")):
            with open(fpath, "wb") as fh:
                fh.write(b"not a parquet file")
    again = read_geoparquet(spark, path, bbox=(0, 0, 10, 10))
    assert sorted(r.id for r in again.collect()) == exp
    with pytest.raises(Exception):
        spark.read.parquet(path).select("id").collect()


def test_knn_join_broadcasts_neither_side(spark, sf_dir):
    """The kNN self-join must stay a shuffle equi-join on the bucket key:
    at scale BOTH sides are the full corpus, so a broadcast would OOM and
    a nested loop would be all-pairs."""
    from geoarrow_rs_spark.datapipe.similarity import knn_join

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = knn_join(e, k=3, n_planes=6, probe_radius=1)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cosine_topk_scores_under_map_in_arrow(spark, sf_dir):
    """cosine_topk collects the query set while it is built (its one job),
    scores the corpus in one Python map-in-Arrow node and ranks the
    candidates in one window: no broadcast nested loop, no cartesian."""
    from geoarrow_rs_spark.datapipe.similarity import cosine_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    out = cosine_topk(e.where(F.col("vec_id") < 4), e, k=3)
    jobs_after = len(tracker.getJobIdsForGroup() or [])
    assert jobs_after - jobs_before == 1, "cosine_topk build must be one collect"
    plan = _plan(out)
    assert len(re.findall(r"\bMapInArrow ", plan)) == 1, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_multipolygon_stats_plan_shape(spark, sf_dir):
    """geo_multipolygon_stats must (a) run the whole fused construction->
    stats chain as ONE ArrowEvalPython node with a single ST_BoxPairStats
    slot (the r8 composite-kernel contract: five textually-repeated calls
    share one evaluation; a regression would show multiple slots or extra
    ArrowEvalPython levels), and (b) spread the single-split fixture scan
    before the pUDF chain."""
    from geoarrow_rs_spark.queries import QUERIES

    df = QUERIES["geo_multipolygon_stats"][0](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ST_BoxPairStats(0.0, 0.0") == 1, plan[:2000]
    assert "RoundRobinPartitioning" in plan, plan[:2000]
    # the r7 plan had THREE ArrowEvalPython levels (construction ->
    # collect -> extract+stats); the fused kernel plans exactly one
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]


def test_catalog_wide_no_unintended_cartesian(spark, sf_dir):
    """Safety net across the WHOLE catalog: no query may plan a cartesian
    product unless it is one of the known deliberate broadcast scalar/
    centroid/query-set cross joins (documented allowlist). Catches any
    future query or kernel change that silently degrades a join."""
    from geoarrow_rs_spark.queries import QUERIES
    from geoarrow_rs_spark.queries.geo_proj import COUNTRIES_FGB

    # entries that read a reference fixture file: skipped (only them)
    # where that file is absent
    fixture_of = {"geo_countries_spherical": COUNTRIES_FGB}
    absent = {n for n, f in fixture_of.items() if not os.path.exists(f)}

    # deliberate broadcast cross joins: tiny side is a scalar aggregate,
    # centroid set, or broadcast query set — reviewed and bounded
    allowed = {
        "q11_important_values",      # scalar threshold row
        "q22_idle_customers",        # scalar avg balance row
        "sim_near_dup_pairs",        # broadcast query set, exact refine
        "text_bm25_topk",            # single-row corpus stats
        "dedup_lsh_eval",            # deliberate bounded all-pairs EVAL sample
    }
    bad = {}
    for name, (fn, _sql) in QUERIES.items():
        if name in absent:
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # plan build must never fail either
            bad[name] = f"plan build failed: {exc}"
            continue
        if "CartesianProduct" in plan and name not in allowed:
            bad[name] = "unexpected CartesianProduct"
        if name in allowed and "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan:
            # allowlist entry no longer crosses — tighten the list
            bad[name] = "allowlisted but no cross join found (remove from allowlist)"
    assert not bad, bad


def test_file_readers_scan_through_python_sources(spark, tmp_path):
    """read_flatgeobuf(bbox=...), read_shapefile(...) and a native-encoded
    read_geoparquet(bbox=...) execute as their format's Python data
    source scan — one scan per format, no mapInPandas decoder."""
    from geoarrow_rs_spark.io import (
        read_flatgeobuf, read_geoparquet, read_shapefile, write_flatgeobuf,
        write_geoparquet, write_shapefile,
    )

    pts = spark.range(50).selectExpr(
        "id", "ST_Point(CAST(id AS DOUBLE), CAST(id % 7 AS DOUBLE)) AS geometry"
    )
    fgb, shp, gpq = (str(tmp_path / n) for n in ("p.fgb", "p.shp", "gpq"))
    write_flatgeobuf(pts, fgb)
    write_shapefile(pts, shp)
    write_geoparquet(pts, gpq, encoding="point", generate_covering=False)
    bbox = (10.0, 0.0, 20.0, 3.0)
    for fmt, df in (
        ("flatgeobuf", read_flatgeobuf(spark, fgb, bbox=bbox)),
        ("shapefile", read_shapefile(spark, shp, shp[:-4] + ".dbf")),
        ("geoparquet", read_geoparquet(spark, gpq, bbox=bbox)),
    ):
        df.collect()  # executed, not just planned
        plan = _plan(df)
        assert f"BatchScan {fmt}" in plan and "(Python)" in plan, plan
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """RAG chunking is per-row work only: the whole plan (split, sequence,
    explode, slice) must contain no Exchange and no Python eval."""
    from geoarrow_rs_spark.datapipe.corpus import chunk_documents

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(chunk_documents(d))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_semantic_dedup_pairs_are_equi_join(spark, sf_dir):
    """SemDeDup candidate pairs come from a cluster-id equi-join — never a
    cartesian over the corpus. Centroid assignment joins nothing (a numpy
    argmin per batch under mapInArrow); the pair join is equi."""
    from geoarrow_rs_spark.datapipe.similarity import semantic_dedup

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(semantic_dedup(e, k_clusters=4, iters=1))
    assert "CartesianProduct" not in plan
    # cid self-join planned as a real equi-join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_tfidf_and_quantized_native_no_cartesian(spark, sf_dir):
    """tf-idf and int8-quantized scoring run no Python UDF (no
    ArrowEvalPython/BatchEvalPython; the quantized codes are scored by
    cosine_topk's numpy scorer under mapInArrow) and plan no
    CartesianProduct — tf-idf's cross joins are broadcast single-row/tiny
    tables (BroadcastNestedLoopJoin)."""
    from geoarrow_rs_spark.datapipe.corpus import tfidf_topk
    from geoarrow_rs_spark.datapipe.similarity import quantized_topk

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 4)
    c = e.where(F.col("vec_id") >= 4)
    for df in (tfidf_topk(d, ["spark", "join"], k=5), quantized_topk(q, c, k=3)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_integer_and_ivf_probe_sites_plan_no_nested_loop(spark, sf_dir):
    """The four rankings that moved onto a numpy scorer plan no
    BroadcastNestedLoopJoin or CartesianProduct: quantized_topk and the
    text-hash retrieval score through cosine_topk, and kmeans_ivf_topk /
    ivfpq_topk take their probe cells from the nearest-centroid assigner."""
    from geoarrow_rs_spark.datapipe import similarity as S
    from geoarrow_rs_spark.queries import QUERIES

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 4)
    c = e.where(F.col("vec_id") >= 4)
    for df in (
        S.quantized_topk(q, c, k=3),
        QUERIES["sim_text_hash_retrieval"][0](spark, sf_dir),
        S.kmeans_ivf_topk(q, c, k=3, k_clusters=4, iters=1, nprobe=2),
        S.ivfpq_topk(q, c, k=3, k_clusters=4, iters=1, nprobe=2, m=4,
                     k_codes=4, pq_iters=1, dim=64),
    ):
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
        assert "MapInArrow" in plan, plan


def test_stratified_sample_single_exchange(spark, sf_dir):
    """Per-stratum sampling shuffles once on the stratum key (the window)
    and nothing else."""
    from geoarrow_rs_spark.datapipe.sampling import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(stratified_sample(d, "doc_id", "lang", 5))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_interval_join_is_bin_equi_join(spark, sf_dir):
    """The banded interval join must plan a real equi-join on the bin key
    — never a BroadcastNestedLoopJoin over the raw inequality (the naive
    plan Catalyst produces for range predicates)."""
    from geoarrow_rs_spark.queries import events_interval_join

    plan = _plan(events_interval_join(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_window_analytics_single_exchange(spark, sf_dir):
    """TWA and rolling-anomaly reuse the user_id window partitioning for
    their final aggregation — exactly ONE hash exchange each; retention
    needs three (distinct, cohort window, final rollup)."""
    from geoarrow_rs_spark.queries import (
        events_retention, events_rolling_anomaly, events_time_weighted_avg,
    )

    for fn, max_ex in (
        (events_time_weighted_avg, 1),
        (events_rolling_anomaly, 1),
        (events_retention, 3),
    ):
        plan = _plan(fn(spark, sf_dir))
        n = plan.count("Exchange hashpartitioning")
        assert n <= max_ex, (fn.__name__, n, max_ex)


def test_funnel_counts_is_one_exchange_and_builds_without_jobs(spark):
    """funnel_counts is one checkpoint-free plan: building it launches no
    job, and its plan shuffles the events exactly once, by user."""
    from geoarrow_rs_spark.datapipe.events import funnel_counts

    events = spark.range(400).select(
        (F.col("id") % 37).alias("user_id"),
        F.element_at(F.array(*map(F.lit, ("view", "cart", "buy", "x"))),
                     (F.col("id") % 4 + 1).cast("int")).alias("event_type"),
        (F.col("id") * 7919 % 1000).alias("ts"),
    )
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    out = funnel_counts(events, ["view", "cart", "buy"], window=500)
    jobs_after = len(tracker.getJobIdsForGroup() or [])
    assert jobs_after == jobs_before, "funnel_counts launched a job at build time"
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert "ExistingRDD" not in plan, plan  # no checkpoint scan
    assert len(out.collect()) == 3


def test_repeat_geoparquet_read_builds_without_jobs(spark, tmp_path):
    """A second read_geoparquet(bbox=...) of an unchanged local dataset
    reuses the inferred schema, so building it launches no job; rewriting
    the dataset (new part files, new column) is read with its new schema."""
    from geoarrow_rs_spark.io import read_geoparquet, write_geoparquet

    def points(extra):
        df = spark.range(200).selectExpr(
            "id", "ST_Point(CAST(id AS DOUBLE), CAST(id AS DOUBLE)) AS geometry")
        return df.withColumn("tag", F.lit("t")) if extra else df

    path = os.path.join(str(tmp_path), "window")
    write_geoparquet(points(False), path, "geometry")
    bbox = (10.0, 10.0, 20.0, 20.0)
    first = read_geoparquet(spark, path, bbox=bbox)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    again = read_geoparquet(spark, path, bbox=bbox)
    jobs_after = len(tracker.getJobIdsForGroup() or [])
    assert jobs_after == jobs_before, "a repeat read launched a job at build time"
    assert again.schema == first.schema
    assert sorted(r.id for r in again.collect()) == list(range(10, 21))
    # the schema is shared, the relation is not: no attribute id in common
    out_ids = [
        set(re.findall(r"#\d+", df._jdf.queryExecution().analyzed().output().toString()))
        for df in (first, again)
    ]
    assert out_ids[0] and not out_ids[0] & out_ids[1], out_ids

    write_geoparquet(points(True), path, "geometry")
    rewritten = read_geoparquet(spark, path, bbox=bbox)
    assert "tag" in rewritten.columns
    assert sorted((r.id, r.tag) for r in rewritten.collect()) == [
        (i, "t") for i in range(10, 21)]


def test_mmr_and_mixture_and_budget_fill_plans(spark, sf_dir, monkeypatch):
    """Round-4 pipeline operators stay native and scale-shaped:
    mmr_rerank plans no Python eval and no CartesianProduct (its joins
    are all query-key equi-joins); mixture_plan and budget_fill broadcast
    their tiny plan tables and never shuffle document text (no
    ArrowEvalPython, no cartesian, and the only exchanges key on
    domain/bucket)."""
    from geoarrow_rs_spark.datapipe.sampling import budget_fill, mixture_plan
    from geoarrow_rs_spark.datapipe.similarity import cosine_topk, mmr_rerank
    from geoarrow_rs_spark.datapipe.text import quality_score, token_count

    from geoarrow_rs_spark import checkpoint as CK

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 4)
    c = e.where(F.col("vec_id") >= 4)
    topk = cosine_topk(q, c, k=4)
    cands = topk.join(
        c.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("vec")),
        "neighbor_id",
    ).select("query_id", "neighbor_id", F.col("cosine").alias("rel"), "vec")
    # assert the DISTRIBUTED plan (the local fast path would show only a
    # LocalTableScan)
    monkeypatch.setattr(CK, "_FORCE_DISTRIBUTED", True)
    plan = _plan(mmr_rerank(cands, k=3, lam=0.7))
    monkeypatch.undo()
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b").alias("domain"),
        token_count("text").cast("long").alias("n_tok"),
        F.round(quality_score("text"), 6).alias("q"),
    )
    mp = mixture_plan(toks, "domain", {"a": 0.6, "b": 0.4}, 10_000, "n_tok")
    bf = budget_fill(toks, "domain", "n_tok", "q", budget_tokens=5_000)
    for df in (mp, bf):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "BroadcastHashJoin" in plan  # the tiny plan table broadcasts


def test_domain_plan_broadcast_is_size_gated(spark, sf_dir):
    """mixture_plan / budget_fill hint the per-domain plan table for
    broadcast only when the plan-time size estimate proves it small; above
    the gate the hint is dropped (no static rightHint in the optimized
    logical plan) and the equi-join is left to AQE. Guards the web-scale
    domain-cardinality edge (a 1e8-domain plan must not be force-broadcast)."""
    import geoarrow_rs_spark.datapipe.sampling as S
    from geoarrow_rs_spark.datapipe.sampling import budget_fill, mixture_plan
    from geoarrow_rs_spark.datapipe.text import quality_score, token_count

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b").alias("domain"),
        token_count("text").cast("long").alias("n_tok"),
        F.round(quality_score("text"), 6).alias("q"),
    )

    def builds():
        return (
            mixture_plan(toks, "domain", {"a": 0.6, "b": 0.4}, 10_000, "n_tok"),
            budget_fill(toks, "domain", "n_tok", "q", budget_tokens=5_000),
        )

    def hinted(df):
        return "strategy=broadcast" in (
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    # small domain count: the estimate is under the gate -> hint present
    for df in builds():
        assert hinted(df)
    # force "above the gate": the hint must disappear; the join survives as
    # a plain equi-join (AQE picks the runtime strategy)
    saved = S._PLAN_BROADCAST_MAX_BYTES
    S._PLAN_BROADCAST_MAX_BYTES = -1
    try:
        for df in builds():
            assert not hinted(df)
            assert "CartesianProduct" not in _plan(df)
    finally:
        S._PLAN_BROADCAST_MAX_BYTES = saved


def test_geoparquet_datasource_pushed_filter_leaves_plan(spark, tmp_path):
    """A fully-pushed attribute filter must DISAPPEAR from the executed
    plan (no Filter node above the Python BatchScan) — proof Spark
    accepted the pushFilters contract and isn't double-evaluating."""
    import json
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq
    import geoarrow_rs_spark as gs

    gs.register_all(spark)
    xs = [float(i) for i in range(1000)]
    coords = pa.StructArray.from_arrays(
        [pa.array(xs), pa.array([x % 50 for x in xs])], ["x", "y"]
    )
    tbl = pa.table({"id": pa.array(list(range(1000))), "geometry": coords})
    tbl = tbl.replace_schema_metadata({b"geo": json.dumps({
        "version": "1.1.0", "primary_column": "geometry",
        "columns": {"geometry": {"encoding": "point",
                                 "geometry_types": ["Point"]}},
    })})
    f = str(tmp_path / "pts.parquet")
    pq.write_table(tbl, f, row_group_size=100)

    ds = spark.read.format("geoparquet").load(f).where(
        "id >= 250 AND id < 420"
    )
    plan = ds._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan geoparquet" in plan
    # fully pushed, not re-evaluated ("RuntimeFilters:" is not a node)
    assert re.search(r"Filter \(", plan) is None
    assert ds.count() == 170

    # an UNSUPPORTED predicate (arithmetic) must stay in the plan
    ds2 = spark.read.format("geoparquet").load(f).where("id % 2 = 0")
    plan2 = ds2._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Filter \(", plan2) is not None
    assert ds2.count() == 500
