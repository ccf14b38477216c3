"""Spatial kNN join + distributed DBSCAN: adversarial unit coverage
(grid-resolution guarantees, broadcast fallback, ties, role assignment)
beyond the brute-force oracle parity in test_oracle_parity."""

import numpy as np
from pyspark.sql import functions as F

from geoarrow_rs_spark import checkpoint as CK
from geoarrow_rs_spark.join.spatial import knn_spatial_join
from geoarrow_rs_spark.ops.dbscan import dbscan, eps_neighbor_pairs


def _brute_knn(left, right, k):
    """numpy reference: per left id, k nearest (dist, then id) rights."""
    out = set()
    for lid, lx, ly in left:
        cand = sorted(
            (np.sqrt((lx - rx) ** 2 + (ly - ry) ** 2), rid) for rid, rx, ry in right
        )
        for rn, (d, rid) in enumerate(cand[:k], start=1):
            out.add((lid, rid, rn))
    return out


def test_knn_join_matches_brute_force_with_stragglers(spark):
    """Dense blob + far-isolated stragglers: the stragglers cannot resolve
    within max_radius_cells and must come out of the broadcast fallback —
    results still exactly match brute force, including ties."""
    rng = np.random.default_rng(3)
    dense = [(i, float(x), float(y))
             for i, (x, y) in enumerate(rng.uniform(0, 10, (200, 2)))]
    # stragglers 1000+ cells away; duplicate coordinates force id ties
    far = [(900, 5000.0, 5000.0), (901, 5000.0, 5000.0), (902, 5003.0, 5000.0)]
    pts = dense + far
    df = spark.createDataFrame(pts, "id long, x double, y double")
    got = {
        (r["l_id"], r["r_id"], r["rn"])
        for r in knn_spatial_join(
            df, df, k=4, cell_size=1.0, max_radius_cells=4
        ).collect()
    }
    assert got == _brute_knn(pts, pts, 4)


def test_knn_join_k_exceeds_candidates(spark):
    """k larger than the right side: every left still gets all available
    neighbors (fallback emits fewer than k rows, never errors)."""
    left = [(1, 0.0, 0.0), (2, 9.0, 9.0)]
    right = [(10, 1.0, 0.0), (11, 2.0, 0.0)]
    L = spark.createDataFrame(left, "id long, x double, y double")
    R = spark.createDataFrame(right, "id long, x double, y double")
    got = {
        (r["l_id"], r["r_id"], r["rn"])
        for r in knn_spatial_join(L, R, k=5, cell_size=1.0).collect()
    }
    assert got == _brute_knn(left, right, 5)


def test_knn_join_plan_is_native(spark):
    df = spark.range(100).selectExpr(
        "id", "CAST(id % 10 AS DOUBLE) AS x", "CAST(id div 10 AS DOUBLE) AS y"
    )
    plan = knn_spatial_join(df, df, k=2)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_dbscan_roles_and_clusters_handbuilt(spark):
    """Textbook fixture: two tight 5-point blobs (all core), one border
    point reachable from exactly one core, one noise point. eps=1,
    min_pts=5 (count includes the point itself)."""
    blob_a = [(1, 0.0, 0.0), (2, 0.5, 0.0), (3, 0.0, 0.5), (4, 0.5, 0.5), (5, 0.25, 0.25)]
    border = [(6, 1.4, 0.5)]   # within 1.0 only of point 4
    noise = [(7, 50.0, 50.0)]
    blob_b = [(8, 10.0, 10.0), (9, 10.5, 10.0), (10, 10.0, 10.5),
              (11, 10.5, 10.5), (12, 10.25, 10.25)]
    df = spark.createDataFrame(
        blob_a + border + noise + blob_b, "id long, x double, y double"
    )
    got = {
        r["id"]: (r["cluster_id"], r["role"])
        for r in dbscan(df, "id", "x", "y", eps=1.0, min_pts=5).collect()
    }
    for i in (1, 2, 3, 4, 5):
        assert got[i] == (1, "core")
    assert got[6] == (1, "border")
    assert got[7] == (None, "noise")
    for i in (8, 9, 10, 11, 12):
        assert got[i] == (8, "core")


def test_eps_neighbor_pairs_equals_brute_force(spark):
    """Grid candidate generation with cell=eps finds exactly the brute
    force pairs — including pairs straddling cell boundaries."""
    rng = np.random.default_rng(5)
    pts = [(i, float(x), float(y))
           for i, (x, y) in enumerate(rng.uniform(0, 8, (150, 2)))]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    eps = 1.3
    got = {
        (r["a"], r["b"]) for r in eps_neighbor_pairs(df, "id", "x", "y", eps).collect()
    }
    exp = {
        (a, b)
        for a, xa, ya in pts
        for b, xb, yb in pts
        if a != b and (xa - xb) ** 2 + (ya - yb) ** 2 <= eps * eps
    }
    assert got == exp


def test_dbscan_negative_coordinates(spark):
    """floor-based cells must work below zero (floor, not truncation)."""
    blob = [(i, -5.0 + 0.3 * i, -5.0) for i in range(5)]
    df = spark.createDataFrame(blob + [(99, 30.0, 30.0)], "id long, x double, y double")
    got = {
        r["id"]: (r["cluster_id"], r["role"])
        for r in dbscan(df, "id", "x", "y", eps=0.5, min_pts=3).collect()
    }
    # chain: interior points have 2 neighbors + self = 3 -> core;
    # endpoints have 1 neighbor + self = 2 -> border of the chain cluster
    assert got[1] == (1, "core") and got[2] == (1, "core") and got[3] == (1, "core")
    assert got[0] == (1, "border") and got[4] == (1, "border")
    assert got[99] == (None, "noise")


def test_lof_flags_the_planted_outlier(spark):
    """Uniform blob + one far point: the planted outlier's LOF must be
    the maximum and well above 1; blob interior stays near 1."""
    rng = np.random.default_rng(8)
    pts = [(i, float(x), float(y))
           for i, (x, y) in enumerate(rng.uniform(0, 10, (300, 2)))]
    pts.append((999, 30.0, 30.0))
    df = spark.createDataFrame(pts, "id long, x double, y double")

    from geoarrow_rs_spark.ops.outliers import lof_scores

    got = {r["id"]: r["lof"] for r in lof_scores(df, "id", "x", "y", k=5).collect()}
    assert len(got) == 301
    outlier = got.pop(999)
    assert outlier == max([outlier] + list(got.values()))
    assert outlier > 3.0
    # bulk of the uniform blob is near 1
    import numpy as np_

    vals = np_.array(list(got.values()))
    assert np_.median(vals) < 1.3


def test_null_coordinates_are_excluded_not_fatal(spark):
    """Rows with NULL coordinates drop out of kNN/DBSCAN/LOF candidate
    generation (null cells join nothing) instead of crashing the job —
    the 100 TB few-bad-rows case."""
    pts = [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 0.0, 1.0), (4, 1.0, 1.0),
           (5, None, 2.0), (6, 2.0, None)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    got = {
        (r["l_id"], r["r_id"])
        for r in knn_spatial_join(df, df, k=2, cell_size=1.0).collect()
    }
    assert all(l in (1, 2, 3, 4) and r in (1, 2, 3, 4) for l, r in got)
    assert {l for l, _ in got} == {1, 2, 3, 4}

    roles = {
        r["id"]: r["role"]
        for r in dbscan(df, "id", "x", "y", eps=1.5, min_pts=3).collect()
    }
    assert roles[1] == "core" and roles[5] == "noise" and roles[6] == "noise"


def test_adaptive_knn_cell_results_invariant(spark, monkeypatch):
    """The distributed grid kNN's density-adaptive cell sizing (r8) must
    not change results: the probe square + kdist <= R*cs resolution rule
    are exact for ANY cell size. Dense cluster + sparse outliers so both
    the round ladder and the broadcast fallback engage, forced onto the
    distributed path, adaptive vs pinned-to-caller cell size."""
    import numpy as np

    from geoarrow_rs_spark.join import spatial as SP

    rng = np.random.default_rng(7)
    dense = rng.uniform(0, 2, (400, 2))            # ~100 pts per 1x1 cell
    sparse = rng.uniform(40, 90, (20, 2))          # isolated stragglers
    pts = [(i, float(x), float(y))
           for i, (x, y) in enumerate(np.vstack([dense, sparse]))]
    df = spark.createDataFrame(pts, "id long, x double, y double")

    def knn_rows():
        return sorted(
            (r["l_id"], r["r_id"], r["rn"], round(r["dist"], 12))
            for r in knn_spatial_join(
                df, df, k=3, cell_size=1.0, max_radius_cells=2
            ).collect()
        )

    monkeypatch.setattr(CK, "_FORCE_DISTRIBUTED", True)
    adaptive = knn_rows()
    monkeypatch.setattr(SP, "_ADAPTIVE_KNN_CELL_DISABLED", True)
    pinned = knn_rows()
    assert len(adaptive) == 420 * 3
    assert adaptive == pinned
