#!/usr/bin/env python
"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a hash-of-all-columns aggregate so
Catalyst cannot prune away the measured work (a plain count() would skip
projected kernel columns)."""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "geo_distance",
    "geo_box_measures",
    "geo_spatial_join",
    "geo_within_triangle",
    "geo_multipolygon_stats",
    "geo_transform_conic",
    "geo_zorder",
    "geo_knn_join",
    "dedup_minhash_pairs",
    "text_fingerprint",
    "sim_cosine_topk",
    "text_tfidf_topk",
    "sim_quantized_topk",
    "text_chunks",
    "events_hourly",
    "events_geo_extent",
    "events_sessions",
    "events_interval_join",
    "events_retention",
    "events_attribution",
    # round-4 additions
    "geo_transform_cyl",
    "sim_mmr_rerank",
    "pipe_budget_fill",
    # round-5 additions
    "geo_spherical_predicates",
    "geo_spherical_distance",
    "sim_binary_hamming_topk",
    "text_url_canonical",
    "dedup_graph_kcore",
    # round-6 additions (geo_native_pruned_read stays catalog-only: its
    # driver-side fixture staging write would dominate the timing)
    "events_geofence_transitions",
    # round-7 additions (VERDICT r6 #6: the dwell variant of the stateful
    # geofence pair joins its transitions sibling in the headliners)
    "events_geofence_dwell",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from pyspark.sql import SparkSession, functions as F

    import geoarrow_rs_spark as gs
    from geoarrow_rs_spark.queries import QUERIES

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("geoarrow-rs-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        # pinned up front so queries._t's lazy set is a no-op, not a
        # first-query side effect
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8k batches: pUDF chains pipeline across their ArrowEvalPython
        # workers per batch, and per-batch memory stays GC-friendly —
        # measured 3-4x faster than 65536 on multi-node pUDF chains
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # NB: do NOT set a large spark.driver.memory here — a 24g heap costs
        # ~55s of first-query heap pre-allocation in this VM (measured);
        # defaults are fine for sf0.1 and SPARK_GRAFT_DRIVER_MEM can override
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    gs.register_all(spark)

    # Warmup (untimed): python UDF workers, JVM heap growth (VM page zeroing
    # costs ~10s/GB here on first touch), shuffle machinery, parquet codegen
    # and FS cache for the input tables.
    spark.range(1000).selectExpr("sum(ST_X(ST_Point(CAST(id AS DOUBLE), 0.0)))").collect()
    spark.range(30_000_000).groupBy((F.col("id") % 500_000).alias("k")).count().count()
    for t in ("lineitem", "orders", "customer", "documents", "embeddings", "events", "part", "supplier", "nation", "region"):
        if t == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        df.select([F.count(c) for c in df.columns[:3]]).collect()

    def force(df):
        # hash every column so no measured work is pruned; long arithmetic
        # (ANSI mode would raise on int overflow)
        cols = [F.hash(F.col(c)).cast("long") for c in df.columns]
        acc = cols[0]
        for c in cols[1:]:
            acc = acc + c
        return df.select(F.sum(acc)).collect()

    # Compile warmup: run every headline query once at the smallest SF so the
    # timed sf0.1 runs measure steady-state execution, not whole-stage-codegen
    # javac compilation of each new plan shape (~1-3 s per distinct query the
    # first time; the codegen cache is keyed on generated source, which is
    # identical across scale factors for the same query).
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            try:
                force(QUERIES[name][0](spark, warm_dir))
            except Exception as exc:  # stdout must stay one JSON line
                print(f"[bench] warmup failed for {name}: {exc!r}", file=sys.stderr)

    # q1 phase probe: 3 timed reps right after warmup. Host load phases
    # inflate pure-JVM relational queries first, so the probe median goes
    # into the JSON line (phase_probe_q1_sec) for consumers to see which
    # phase a run came from. It is reported only; emission never depends
    # on it.
    probe_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        force(QUERIES["q1_pricing_summary"][0](spark, sf_dir))
        probe_runs.append(time.perf_counter() - t0)
    probe_median = round(sorted(probe_runs)[1], 3)

    # Median-of-N per query (default 3): single-run numbers cannot distinguish
    # a real regression from GC/OS noise (round-2 postmortem). Runs interleave
    # per query (A A A, B B B ...) so each query's runs share cache state.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings = {}
    spreads = {}
    for name in HEADLINE:
        fn = QUERIES[name][0]
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 3)
        spreads[name] = round(runs[-1] - runs[0], 3)

    total = round(sum(timings.values()), 3)
    # r8 emission-contract hardening (VERDICT r7 #4): stdout carries ONE
    # compact JSON line — the per-query spreads (which doubled the line's
    # size every round) go to stderr, and the line is round-tripped through
    # json.loads before exit 0 so an unparseable emission can never become
    # the round's committed artifact silently. The q1 phase-probe median is
    # included so consumers can see which host phase a run came from.
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus),
        "reps": reps,
        "timing": "median",
        "phase_probe_q1_sec": probe_median,
    }
    line = json.dumps(payload)
    parsed = json.loads(line)  # self-check: must round-trip
    assert parsed["value"] == total and len(parsed["queries"]) == len(timings)
    print("[bench] spread_max_minus_min: " + json.dumps(spreads), file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
