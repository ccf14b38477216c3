"""geo clustering/indexing/join catalog entries (split from geo.py)."""

from ._shared import *  # noqa: F401,F403
from ._shared import (  # noqa: F401
    _BM25_K1P1,
    _BM25_TERMS,
    _GRAM8_SQL,
    _NG3,
    _NS_GAP,
    _NS_HOUR,
    _banded_block,
    _hits_sql,
    _luhn_sql,
    _minhash_pairs_cte,
    _money_sum,
    _money_sum_sql,
    _spread,
    _t,
)
def geo_zorder(spark, sf_dir):
    """Space-filling-curve keys (functions/curves.py): level-16 Morton
    (Z-order) and Hilbert keys of customer points, computed entirely as
    native Catalyst expressions (bit interleave resp. the unrolled
    rotate/flip loop — no Python anywhere in the plan). These are the
    write-clustering keys behind cluster_geoparquet; the oracle restates
    the same integer algorithms in DuckDB SQL (Hilbert as one chained
    subquery per level)."""
    from ..functions import curves

    c = _t(spark, sf_dir, "customer")
    df = _spread(c).select(
        "c_custkey",
        (F.col("c_custkey").cast("double") % 3600 / 10.0 - 180.0).alias("lon"),
        (F.col("c_custkey").cast("double") % 1700 / 10.0 - 85.0).alias("lat"),
    )
    df = df.withColumn("morton", curves.morton_key_expr("lon", "lat", 16))
    df = curves.with_hilbert_key(df, "lon", "lat", "hilbert", 16)
    return df.select("c_custkey", "morton", "hilbert")


def _zorder_oracle_sql() -> str:
    from ..functions import curves

    n = 1 << 16
    base = (
        "SELECT c_custkey,\n"
        f"  CAST(greatest(0, least({n - 1}, floor(((lon - (-180.0)) / 360.0) * {float(n)!r}))) AS BIGINT) AS ix,\n"
        f"  CAST(greatest(0, least({n - 1}, floor(((lat - (-90.0)) / 180.0) * {float(n)!r}))) AS BIGINT) AS iy\n"
        "FROM (SELECT c_custkey,\n"
        "        CAST(c_custkey AS DOUBLE) % 3600 / 10.0 - 180.0 AS lon,\n"
        "        CAST(c_custkey AS DOUBLE) % 1700 / 10.0 - 85.0 AS lat\n"
        "      FROM customer)"
    )

    def spread(col):
        s = col
        for shift, mask in curves._SPREAD_STEPS:
            s = f"(({s} | ({s} << {shift})) & {mask})"
        return s

    morton = f"({spread('ix')} | ({spread('iy')} << 1))"
    ctes = [
        f"h0 AS (SELECT c_custkey, ix AS x, iy AS y, CAST(0 AS BIGINT) AS d,\n"
        f"        {morton} AS morton FROM cells)"
    ]
    prev = "h0"
    for step, i in enumerate(range(15, -1, -1)):
        s = 1 << i
        cur = f"h{step + 1}"
        ctes.append(
            f"{cur} AS (SELECT c_custkey, morton,\n"
            f"  d + CAST({s * s} AS BIGINT) * CAST(xor(3 * rx, ry) AS BIGINT) AS d,\n"
            f"  CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END) ELSE x END AS x,\n"
            f"  CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END) ELSE y END AS y\n"
            f"  FROM (SELECT *, CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,\n"
            f"               CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry FROM {prev}))"
        )
        prev = cur
    joined = ",\n".join(ctes)
    return (
        f"WITH cells AS ({base}),\n{joined}\n"
        f"SELECT c_custkey, morton, d AS hilbert FROM {prev}"
    )


ORACLE_GEO_ZORDER = _zorder_oracle_sql()


_KNN_PX = (
    "CAST(conv(substring(md5(concat('knx:', CAST(c_custkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    " % 5000 / 100.0 AS px"
)
_KNN_PY = (
    "CAST(conv(substring(md5(concat('kny:', CAST(c_custkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    " % 5000 / 100.0 AS py"
)

_KNN_PTS_DUCK = (
    "SELECT c_custkey,"
    " CAST(concat('0x', substr(md5(concat('knx:', CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT)"
    " % 5000 / 100.0 AS px,"
    " CAST(concat('0x', substr(md5(concat('kny:', CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT)"
    " % 5000 / 100.0 AS py"
)


def geo_knn_join(spark, sf_dir):
    """Exact spatial kNN join (join.knn_spatial_join): every 4th customer
    point finds its 3 nearest neighbors among all customer points
    (md5-uniform coordinates in a 50x50 plane) via grid rounds with the
    geometric resolution guarantee + broadcast fallback — fully native
    plan. Oracle is the brute-force cross join ranked by (distance, id)."""
    from ..join.spatial import knn_spatial_join

    c = _t(spark, sf_dir, "customer")
    pts = _spread(c).selectExpr("c_custkey", _KNN_PX, _KNN_PY)
    left = pts.filter(F.col("c_custkey") % 4 == 0)
    out = knn_spatial_join(
        left,
        pts,
        k=3,
        left_id="c_custkey",
        right_id="c_custkey",
        left_xy=("px", "py"),
        right_xy=("px", "py"),
        cell_size=2.0,
    )
    return out.select(
        "l_id",
        "r_id",
        F.col("rn").cast("long").alias("rn"),
        F.round("dist", 6).alias("dist"),
    )


ORACLE_GEO_KNN = f"""
WITH pts AS ({_KNN_PTS_DUCK} FROM customer)
SELECT a.c_custkey AS l_id, b.c_custkey AS r_id,
       CAST(row_number() OVER (PARTITION BY a.c_custkey
            ORDER BY sqrt((a.px - b.px) * (a.px - b.px)
                        + (a.py - b.py) * (a.py - b.py)), b.c_custkey) AS BIGINT) AS rn,
       round(sqrt((a.px - b.px) * (a.px - b.px)
                + (a.py - b.py) * (a.py - b.py)), 6) AS dist
FROM pts a CROSS JOIN pts b
WHERE a.c_custkey % 4 = 0
QUALIFY rn <= 3
"""


def geo_lof_outliers(spark, sf_dir):
    """Local Outlier Factor (ops.outliers.lof_scores; Breunig et al.
    SIGMOD 2000): density-based outlier scores for customer points,
    composed from the exact spatial kNN join (k=5, deterministic ties) —
    reachability/LOF means accumulate rounded decimals so the brute-force
    oracle matches bit-exactly."""
    from ..ops.outliers import lof_scores

    c = _t(spark, sf_dir, "customer")
    # no _spread: px/py are native expressions; a repartition would only
    # add an exchange in front of the small-input probe
    pts = c.selectExpr("c_custkey", _KNN_PX, _KNN_PY)
    return lof_scores(pts, "c_custkey", "px", "py", k=5, cell_size=2.0)


ORACLE_GEO_LOF = f"""
WITH pts AS ({_KNN_PTS_DUCK} FROM customer),
d AS (
  SELECT a.c_custkey AS l_id, b.c_custkey AS r_id,
         sqrt((a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)) AS dist
  FROM pts a JOIN pts b ON a.c_custkey <> b.c_custkey
),
nn AS (
  SELECT l_id, r_id, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY dist, r_id) AS rk FROM d
  ) WHERE rk <= 5
),
kd AS (SELECT l_id, MAX(dist) AS kdist FROM nn GROUP BY l_id),
rch AS (
  SELECT nn.l_id, nn.r_id, greatest(kd.kdist, nn.dist) AS reach
  FROM nn JOIN kd ON kd.l_id = nn.r_id
),
lrd AS (
  SELECT l_id,
         5.0 / CAST(SUM(CAST(round(reach, 12) AS DECIMAL(38,12))) AS DOUBLE) AS lrd
  FROM rch GROUP BY l_id
)
SELECT nn.l_id AS c_custkey,
       round(CAST(SUM(CAST(round(lo.lrd, 12) AS DECIMAL(38,12))) AS DOUBLE)
             / 5.0 / lp.lrd, 8) AS lof
FROM nn
JOIN lrd lo ON lo.l_id = nn.r_id
JOIN lrd lp ON lp.l_id = nn.l_id
GROUP BY nn.l_id, lp.lrd
"""


def geo_hexbin(spark, sf_dir):
    """Hexagonal density rollup (curves.hex_cell_expr; PostGIS
    ST_HexagonGrid-style): customer points binned to flat-top axial hex
    cells (circumradius 2.5), counts + mean coordinates per cell, hex
    centers for rendering — one codegen'd groupBy, the standard heatmap
    aggregation at scale. Oracle restates the fractional-axial + cube
    rounding closed form in SQL."""
    from ..functions import curves

    c = _t(spark, sf_dir, "customer")
    pts = _spread(c).selectExpr("c_custkey", _KNN_PX, _KNN_PY)
    pts = pts.select(
        "c_custkey",
        F.col("px").cast("double").alias("px"),
        F.col("py").cast("double").alias("py"),
    )
    q, r = curves.hex_cell_expr("px", "py", 2.5)
    binned = pts.select("c_custkey", "px", "py", q.alias("hq"), r.alias("hr"))
    # px/py carry exactly 2 decimals -> mean as an exact integer-cents sum
    # + one double division (order-independent, engine-exact)
    agg = binned.groupBy("hq", "hr").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.round(
            F.sum(F.round(F.col("px") * 100).cast("long")).cast("double")
            / (F.count(F.lit(1)) * 100.0), 6,
        ).alias("mean_x"),
        F.round(
            F.sum(F.round(F.col("py") * 100).cast("long")).cast("double")
            / (F.count(F.lit(1)) * 100.0), 6,
        ).alias("mean_y"),
    )
    cx, cy = curves.hex_center_expr("hq", "hr", 2.5)
    return agg.select(
        "hq", "hr", "n_pts", "mean_x", "mean_y",
        F.round(cx, 6).alias("hex_cx"), F.round(cy, 6).alias("hex_cy"),
    )


def _hexbin_oracle_sql(size=2.5) -> str:
    R = float(size)
    fq = f"((px * (2.0 / 3.0)) / {R!r})"
    fr = f"((px * (-1.0 / 3.0) + py * (sqrt(3.0) / 3.0)) / {R!r})"
    return f"""
WITH pts AS ({_KNN_PTS_DUCK} FROM customer),
frac AS (
  SELECT c_custkey, px, py, {fq} AS fq, {fr} AS fr, (-{fq} - {fr}) AS fs
  FROM pts
),
rounded AS (
  SELECT *, round(fq) AS rq, round(fr) AS rr, round(fs) AS rs,
         abs(round(fq) - fq) AS dq, abs(round(fr) - fr) AS dr,
         abs(round(fs) - fs) AS ds
  FROM frac
),
cells AS (
  SELECT c_custkey, px, py,
         CAST(CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS BIGINT) AS hq,
         CAST(CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -rq - rs ELSE rr END AS BIGINT) AS hr
  FROM rounded
)
SELECT hq, hr, COUNT(*) AS n_pts,
       round(CAST(SUM(CAST(round(px * 100) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 100.0), 6) AS mean_x,
       round(CAST(SUM(CAST(round(py * 100) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 100.0), 6) AS mean_y,
       round({R!r} * (hq * 1.5), 6) AS hex_cx,
       round({R!r} * sqrt(3.0) * (CAST(hr AS DOUBLE) + CAST(hq AS DOUBLE) / 2.0), 6) AS hex_cy
FROM cells
GROUP BY hq, hr
"""


ORACLE_GEO_HEXBIN = _hexbin_oracle_sql()


def geo_cluster_kmeans(spark, sf_dir):
    """ST_ClusterKMeans parity: k-means over 2-D points, reusing the
    embeddings k-means machinery (similarity.kmeans_train /
    assign_clusters — a numpy nearest-centroid argmin per batch, exact
    decimal distances, deterministic lowest-id init). Output: every
    point's cluster id after 2 Lloyd's iterations, k=6, mirrored
    bit-exactly by the unrolled-CTE oracle."""
    from ..datapipe.similarity import assign_clusters, kmeans_train

    c = _t(spark, sf_dir, "customer")
    pts = _spread(c).selectExpr("c_custkey", _KNN_PX, _KNN_PY).select(
        "c_custkey", F.array(F.col("px"), F.col("py")).alias("v")
    )
    cents = kmeans_train(pts, vec="v", id_col="c_custkey", k=6, iters=2)
    out = assign_clusters(pts, cents, vec="v", id_col="c_custkey")
    return out.select("c_custkey", F.col("cid").cast("long").alias("cluster"))


def _cluster_kmeans_oracle_sql(k=6, iters=2) -> str:
    d2 = "SUM(CAST(round((av - cv) * (av - cv), 12) AS DECIMAL(38,12))) AS d2"
    ctes = [
        f"pts AS (SELECT c_custkey, [px, py] AS v FROM ({_KNN_PTS_DUCK} FROM customer))",
        f"""cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS BIGINT) AS cid, v AS cvec
  FROM (SELECT * FROM pts ORDER BY c_custkey LIMIT {k})
)""",
        """vals AS (
  SELECT c_custkey AS vid, unnest(v)::DOUBLE AS val, unnest(range(len(v))) AS dim
  FROM pts
)""",
    ]
    for i in range(iters):
        ctes += [
            f"""t{i} AS (
  SELECT p.c_custkey AS vid, kk.cid,
         unnest(p.v)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM pts p CROSS JOIN cent{i} kk
)""",
            f"d{i} AS (SELECT vid, cid, {d2} FROM t{i} GROUP BY vid, cid)",
            f"""a{i} AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn
    FROM d{i}
  ) WHERE rn = 1
)""",
            f"""cent{i + 1} AS (
  SELECT cid, list(cval ORDER BY dim) AS cvec FROM (
    SELECT a.cid, v.dim,
           CAST(SUM(CAST(round(v.val, 12) AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS cval
    FROM a{i} a JOIN vals v ON a.vid = v.vid
    GROUP BY a.cid, v.dim
  ) GROUP BY cid
)""",
        ]
    fin = iters
    ctes += [
        f"""tf AS (
  SELECT p.c_custkey AS vid, kk.cid,
         unnest(p.v)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM pts p CROSS JOIN cent{fin} kk
)""",
        f"df_ AS (SELECT vid, cid, {d2} FROM tf GROUP BY vid, cid)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT vid AS c_custkey, cid AS cluster FROM (
  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn
  FROM df_
) WHERE rn = 1
"""
    )


ORACLE_GEO_CLUSTER_KMEANS = _cluster_kmeans_oracle_sql()


def geo_dbscan(spark, sf_dir):
    """Distributed DBSCAN (ops.dbscan; ST_ClusterDBSCAN parity): customer
    points on the same md5-uniform 50x50 plane, eps=1.5, min_pts=5.
    Neighbor pairs come from the PBSM grid (never all-pairs), cluster ids
    from the reused min-label connected-components loop; border points
    take the smallest neighboring core cluster. The oracle recomputes all
    of it brute-force with a recursive-CTE closure."""
    from ..ops.dbscan import dbscan

    c = _t(spark, sf_dir, "customer")
    # no _spread: px/py are native md5 expressions (no python kernels
    # before dbscan's own shuffles), so a repartition would only add an
    # exchange in front of the small-input probe
    pts = c.selectExpr("c_custkey", _KNN_PX, _KNN_PY)
    out = dbscan(pts, "c_custkey", "px", "py", eps=1.5, min_pts=5)
    return out.select("c_custkey", "cluster_id", "role")


ORACLE_GEO_DBSCAN = f"""
WITH RECURSIVE pts AS ({_KNN_PTS_DUCK} FROM customer),
pairs AS (
  SELECT a.c_custkey AS a, b.c_custkey AS b
  FROM pts a JOIN pts b
    ON a.c_custkey <> b.c_custkey
   AND (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) <= 1.5 * 1.5
),
cnt AS (SELECT a, COUNT(*) + 1 AS n_nb FROM pairs GROUP BY a),
core AS (
  SELECT p.c_custkey AS pid FROM pts p
  JOIN cnt ON cnt.a = p.c_custkey WHERE cnt.n_nb >= 5
),
core_edges AS (
  SELECT pr.a AS src, pr.b AS dst FROM pairs pr
  JOIN core ca ON ca.pid = pr.a JOIN core cb ON cb.pid = pr.b
),
cc(node, label) AS (
  SELECT pid, pid FROM core
  UNION
  SELECT e.src, cc.label FROM core_edges e JOIN cc ON e.dst = cc.node
),
assign AS (SELECT node, MIN(label) AS cluster_id FROM cc GROUP BY node),
border AS (
  SELECT pr.a AS pid, MIN(asg.cluster_id) AS b_cluster
  FROM pairs pr
  JOIN core cb ON cb.pid = pr.b
  JOIN assign asg ON asg.node = pr.b
  WHERE pr.a NOT IN (SELECT pid FROM core)
  GROUP BY pr.a
)
SELECT p.c_custkey,
       CASE WHEN co.pid IS NOT NULL THEN asg.cluster_id ELSE bo.b_cluster END AS cluster_id,
       CASE WHEN co.pid IS NOT NULL THEN 'core'
            WHEN bo.b_cluster IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role
FROM pts p
LEFT JOIN core co ON co.pid = p.c_custkey
LEFT JOIN assign asg ON asg.node = p.c_custkey
LEFT JOIN border bo ON bo.pid = p.c_custkey
"""


def geo_geodesic_area(spark, sf_dir):
    """Ellipsoidal (geodesic) polygon area, geodesic_area.rs:17 parity.
    Envelope quads have meridian/parallel edges, for which the engine's
    Green's-theorem integral is EXACT — the oracle mirrors the closed form
    A = dlam * (F(lat2) - F(lat1)), F(p) = b^2/2 (sin p/(1-e2 sin^2 p)
    + atanh(e sin p)/e), in plain SQL."""
    p = _t(spark, sf_dir, "part")
    lon1 = "CAST(p_partkey % 30 AS DOUBLE) * 2.0 - 30.0"
    lon2 = f"({lon1}) + 1.0 + CAST(p_partkey % 3 AS DOUBLE)"
    lat1 = "CAST(p_size % 60 AS DOUBLE) - 30.0"
    lat2 = f"({lat1}) + 1.0 + CAST(p_size % 5 AS DOUBLE)"
    # fused composite (r8): one envelope construction + both area kernels
    # in a single worker call (ST_EnvelopeAreasXY delegates to the exact
    # same kernels, so results are bit-identical)
    return p.selectExpr(
        "p_partkey",
        f"ST_EnvelopeAreasXY({lon1}, {lat1}, {lon2}, {lat2}) AS __ea",
    ).selectExpr(
        "p_partkey",
        "round(__ea.spheroid / 1e6, 3) AS geod_area_km2",
        "round(abs(__ea.spherical) / 1e6, 3) AS sphere_area_km2",
    )


# WGS84: a=6378137, f=1/298.257223563, e2=f(2-f), b2=a^2(1-e2)
ORACLE_GEO_GEODESIC_AREA = """
WITH params AS (
  SELECT 6378137.0 AS a, 1.0/298.257223563 AS f
), consts AS (
  SELECT a, f, f*(2.0-f) AS e2, sqrt(f*(2.0-f)) AS e, a*a*(1.0-f*(2.0-f)) AS b2
  FROM params
), quads AS (
  SELECT p_partkey,
         radians((CAST(p_partkey % 30 AS DOUBLE) * 2.0 - 30.0)) AS lam1,
         radians((CAST(p_partkey % 30 AS DOUBLE) * 2.0 - 30.0) + 1.0 + CAST(p_partkey % 3 AS DOUBLE)) AS lam2,
         radians(CAST(p_size % 60 AS DOUBLE) - 30.0) AS phi1,
         radians((CAST(p_size % 60 AS DOUBLE) - 30.0) + 1.0 + CAST(p_size % 5 AS DOUBLE)) AS phi2
  FROM part
)
SELECT p_partkey,
       round((lam2 - lam1) * (
           b2/2.0 * (sin(phi2)/(1.0 - e2*sin(phi2)*sin(phi2)) + 0.5*ln((1.0 + e*sin(phi2))/(1.0 - e*sin(phi2)))/e)
         - b2/2.0 * (sin(phi1)/(1.0 - e2*sin(phi1)*sin(phi1)) + 0.5*ln((1.0 + e*sin(phi1))/(1.0 - e*sin(phi1)))/e)
       ) / 1e6, 3) AS geod_area_km2,
       round((lam2 - lam1) * (sin(phi2) - sin(phi1))
             * 6371008.8 * 6371008.8 / 1e6, 3) AS sphere_area_km2
FROM quads, consts
"""


ORACLE_GEO_TRANSFORM = """
SELECT c_custkey,
       round(6378137.0 * radians(CAST(c_custkey % 360 AS DOUBLE) - 179.5), 4) AS merc_x,
       round(6378137.0 * ln(tan(pi() / 4.0 + radians(CAST(c_custkey % 170 AS DOUBLE) - 84.5) / 2.0)), 4) AS merc_y,
       round(CAST(c_custkey % 600 AS DOUBLE) / 100.0, 6) AS utm_rt_lon,
       round(CAST(c_custkey % 1600 AS DOUBLE) / 10.0 - 80.0, 6) AS utm_rt_lat
FROM customer
"""


def geo_line_substring(spark, sf_dir):
    """ST_LineSubstring + ST_DWithin: fractional sub-line of a straight line
    has closed-form endpoints/length; DWithin on axis-aligned points is an
    exact integer comparison."""
    p = _t(spark, sf_dir, "part")
    L = "CAST(p_size AS DOUBLE)"  # 1..50, integer-valued
    line = f"ST_MakeLine(ST_Point(0.0, 0.0), ST_Point({L}, 0.0))"
    sub = f"ST_LineSubstring({line}, 0.25, 0.75)"
    return p.selectExpr(
        "p_partkey",
        f"ST_X(ST_StartPoint({sub})) AS sub_x0",
        f"ST_X(ST_EndPoint({sub})) AS sub_x1",
        f"ST_Length({sub}) AS sub_len",
        f"ST_DWithin(ST_Point({L}, 0.0), ST_Point(0.0, 0.0), 25.0) AS within_25",
    )


ORACLE_GEO_LINE_SUBSTRING = """
SELECT p_partkey,
       CAST(p_size AS DOUBLE) * 0.25 AS sub_x0,
       CAST(p_size AS DOUBLE) * 0.75 AS sub_x1,
       CAST(p_size AS DOUBLE) * 0.5 AS sub_len,
       CAST(p_size AS DOUBLE) <= 25.0 AS within_25
FROM part
"""


def geo_closest_point(spark, sf_dir):
    """ST_ClosestPoint / ST_ShortestLine: nearest point on a horizontal
    segment to a derived point is a closed-form clamp."""
    o = _t(spark, sf_dir, "orders")
    x = "CAST(o_orderkey % 200 AS DOUBLE) - 50.0"  # -50..149 vs segment [0,100]
    y = "CAST(o_custkey % 40 AS DOUBLE) + 1.0"
    seg = "ST_MakeLine(ST_Point(0.0, 0.0), ST_Point(100.0, 0.0))"
    cp = f"ST_ClosestPoint({seg}, ST_Point({x}, {y}))"
    sl = f"ST_ShortestLine({seg}, ST_Point({x}, {y}))"
    return o.selectExpr(
        "o_orderkey",
        f"round(ST_X({cp}), 6) AS cp_x",
        f"ST_Y({cp}) AS cp_y",
        f"round(ST_Length({sl}), 6) AS sep",
    )


ORACLE_GEO_CLOSEST = """
SELECT o_orderkey,
       round(LEAST(GREATEST(CAST(o_orderkey % 200 AS DOUBLE) - 50.0, 0.0), 100.0), 6) AS cp_x,
       0.0 AS cp_y,
       round(sqrt(
         (CAST(o_orderkey % 200 AS DOUBLE) - 50.0
          - LEAST(GREATEST(CAST(o_orderkey % 200 AS DOUBLE) - 50.0, 0.0), 100.0)) *
         (CAST(o_orderkey % 200 AS DOUBLE) - 50.0
          - LEAST(GREATEST(CAST(o_orderkey % 200 AS DOUBLE) - 50.0, 0.0), 100.0)) +
         (CAST(o_custkey % 40 AS DOUBLE) + 1.0) * (CAST(o_custkey % 40 AS DOUBLE) + 1.0)
       ), 6) AS sep
FROM orders
"""


def geo_project(spark, sf_dir):
    """Geodesic destination point (ST_Project family). The spherical variant
    has a closed form mirrored in SQL; the spheroid (Vincenty direct) variant
    is covered by pytest round-trip checks."""
    s = _t(spark, sf_dir, "supplier")
    lon = "CAST(s_suppkey % 360 AS DOUBLE) - 180.0 + 0.25"
    lat = "CAST(s_suppkey % 160 AS DOUBLE) / 2.0 - 40.0"
    dist = "CAST(s_suppkey % 100 + 1 AS DOUBLE) * 1000.0"
    az = "radians(CAST(s_suppkey % 360 AS DOUBLE))"
    p = f"ST_ProjectSphere(ST_Point({lon}, {lat}), {dist}, {az})"
    return s.selectExpr(
        "s_suppkey",
        f"round(ST_X({p}), 6) AS dest_lon",
        f"round(ST_Y({p}), 6) AS dest_lat",
    )


ORACLE_GEO_PROJECT = """
WITH inp AS (
  SELECT s_suppkey,
         radians(CAST(s_suppkey % 360 AS DOUBLE) - 180.0 + 0.25) AS lam1,
         radians(CAST(s_suppkey % 160 AS DOUBLE) / 2.0 - 40.0) AS phi1,
         (CAST(s_suppkey % 100 + 1 AS DOUBLE) * 1000.0) / 6371008.8 AS delta,
         radians(CAST(s_suppkey % 360 AS DOUBLE)) AS az
  FROM supplier
), d AS (
  SELECT s_suppkey, lam1, phi1, delta, az,
         sin(phi1) * cos(delta) + cos(phi1) * sin(delta) * cos(az) AS sphi2
  FROM inp
)
SELECT s_suppkey,
       round(degrees(lam1 + atan2(sin(az) * sin(delta) * cos(phi1),
                                  cos(delta) - sin(phi1) * sphi2)), 6) AS dest_lon,
       round(degrees(asin(GREATEST(-1.0, LEAST(1.0, sphi2)))), 6) AS dest_lat
FROM d
"""


def _geohash_oracle_sql():
    """Geohash base-32 in plain SQL: integer cell indices (floor maps exactly
    to the bisection's tie-up rule — dyadic boundary values are exactly
    representable), bit interleave, 5-bit groups into the geohash alphabet."""
    interleave = " + ".join(
        [f"(((loni >> {i}) & 1) << {2 * i + 1})" for i in range(15)]
        + [f"(((lati >> {i}) & 1) << {2 * i})" for i in range(15)]
    )
    chars = " || ".join(
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((inter >> {25 - 5 * c}) & 31) AS INT) + 1, 1)"
        for c in range(6)
    )
    return f"""
WITH pts AS (
  SELECT c_custkey,
         CAST(c_custkey % 360 - 180 AS DOUBLE) + 0.5 AS lon,
         CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.5 AS lat
  FROM customer
), idx AS (
  SELECT c_custkey,
         CAST(floor((lon + 180.0) / 360.0 * 32768.0) AS BIGINT) AS loni,
         CAST(floor((lat + 90.0) / 180.0 * 32768.0) AS BIGINT) AS lati
  FROM pts
), interleaved AS (
  SELECT c_custkey, {interleave} AS inter FROM idx
)
SELECT interleaved.c_custkey, {chars} AS gh,
       -180.0 + (idx.loni + 0.5) * (360.0 / 32768.0) AS cell_lon,
       -90.0 + (idx.lati + 0.5) * (180.0 / 32768.0) AS cell_lat
FROM interleaved JOIN idx USING (c_custkey)
"""


ORACLE_GEO_GEOHASH = _geohash_oracle_sql()


def geo_line_merge(spark, sf_dir):
    """ST_LineMerge: two touching segments sew into one chain, a detached
    segment stays separate — piece count and exact integer lengths are
    closed-form per row."""
    p = _t(spark, sf_dir, "part")
    a = "CAST(p_size AS DOUBLE)"
    ml = (
        f"ST_Collect(ST_Collect(ST_MakeLine(ST_Point(0.0, 0.0), ST_Point({a}, 0.0)), "
        f"ST_MakeLine(ST_Point({a}, 0.0), ST_Point({a}, 2.0))), "
        f"ST_MakeLine(ST_Point(100.0, 5.0), ST_Point(100.0, 9.0)))"
    )
    merged = f"ST_LineMerge({ml})"
    return (
        p.selectExpr("p_partkey", f"{merged} AS m")
        .selectExpr("p_partkey", "posexplode(ST_Dump(m)) AS (piece_idx, piece)")
        .selectExpr(
            "p_partkey",
            "CAST(piece_idx AS INT) AS piece_idx",
            "ST_Length(piece) AS piece_len",
            "ST_NPoints(piece) AS n_points",
        )
    )


ORACLE_GEO_LINE_MERGE = """
SELECT p_partkey, CAST(t.idx AS INT) AS piece_idx,
       CASE WHEN t.idx = 0 THEN CAST(p_size AS DOUBLE) + 2.0 ELSE 4.0 END AS piece_len,
       CAST(CASE WHEN t.idx = 0 THEN 3 ELSE 2 END AS BIGINT) AS n_points
FROM part CROSS JOIN (SELECT unnest([0, 1]) AS idx) t
"""


def geo_split_line(spark, sf_dir):
    """ST_Split + ST_Dump + ST_Length: split LINESTRING(0 0, 2s 0) at the
    point (s/2, 0); piece lengths are closed-form (s/2 and 1.5s, exact in
    doubles for integer s)."""
    p = _t(spark, sf_dir, "part")
    L = "CAST(p_size * 2 AS DOUBLE)"
    cut = "CAST(p_size AS DOUBLE) / 2.0"
    return (
        p.selectExpr(
            "p_partkey",
            f"ST_Split(ST_MakeLine(ST_Point(0.0, 0.0), ST_Point({L}, 0.0)), "
            f"ST_Point({cut}, 0.0)) AS pieces",
        )
        .selectExpr("p_partkey", "posexplode(ST_Dump(pieces)) AS (piece_idx, piece)")
        .selectExpr(
            "p_partkey",
            "CAST(piece_idx AS INT) AS piece_idx",
            "ST_Length(piece) AS piece_len",
        )
    )


ORACLE_GEO_SPLIT = """
SELECT p_partkey, CAST(t.idx AS INT) AS piece_idx,
       CASE WHEN t.idx = 0 THEN CAST(p_size AS DOUBLE) / 2.0
            ELSE CAST(p_size * 2 AS DOUBLE) - CAST(p_size AS DOUBLE) / 2.0
       END AS piece_len
FROM part CROSS JOIN (SELECT unnest([0, 1]) AS idx) t
"""


def geo_snap_points(spark, sf_dir):
    """ST_Snap to a per-row reference vertex: the point (acctbal, k) snaps
    to (round(acctbal), k) iff the distance is within tolerance 0.3 —
    closed-form mirror with identical HALF_UP rounding in both engines."""
    c = _t(spark, sf_dir, "customer")
    y = "CAST(c_custkey % 450 AS DOUBLE)"
    snapped = (
        f"ST_Snap(ST_Point(c_acctbal, {y}), "
        f"ST_Point(CAST(round(c_acctbal, 0) AS DOUBLE), {y}), 0.3)"
    )
    return c.selectExpr(
        "c_custkey",
        f"ST_X({snapped}) AS sx",
        f"ST_Y({snapped}) AS sy",
    )


ORACLE_GEO_SNAP = """
SELECT c_custkey,
       CASE WHEN abs(c_acctbal - round(c_acctbal, 0)) <= 0.3
            THEN CAST(round(c_acctbal, 0) AS DOUBLE) ELSE c_acctbal
       END AS sx,
       CAST(c_custkey % 450 AS DOUBLE) AS sy
FROM customer
"""


def geo_subdivide(spark, sf_dir):
    """ST_Subdivide: a densified 8x2 rectangle (21 ring coords) bisected
    under a 12-vertex budget yields four 2x2 quarters — piece order, areas,
    and bounds are closed-form (integer-valued coords keep every clip and
    shoelace step exact)."""
    c = _t(spark, sf_dir, "customer")
    t = "CAST(c_custkey % 100 AS DOUBLE)"
    # fused composite (r8): construct -> densify -> subdivide -> dump ->
    # per-piece stats as ONE ArrowEvalPython node (was five), with the
    # posexplode staying in the JVM; delegates to the same kernels, so
    # piece order/areas/bounds are bit-identical
    return (
        c.selectExpr(
            "c_custkey",
            f"ST_SubdivideBoxStatsXY({t}, 0.0, {t} + 8.0, 2.0, 1.0, 12) AS pieces",
        )
        .selectExpr("c_custkey", "posexplode(pieces) AS (piece_idx, p)")
        .selectExpr(
            "c_custkey",
            "CAST(piece_idx AS INT) AS piece_idx",
            "p.area AS piece_area",
            "p.xmin AS piece_xmin",
        )
    )


ORACLE_GEO_SUBDIVIDE = """
SELECT c_custkey, CAST(t.idx AS INT) AS piece_idx, 4.0 AS piece_area,
       CAST(c_custkey % 100 AS DOUBLE) + 2.0 * t.idx AS piece_xmin
FROM customer CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS idx) t
"""


def geo_shape_metrics(spark, sf_dir):
    """Closed-form oracle coverage for six kernels that previously had only
    unit tests: Frechet/Hausdorff (parallel equal-length segments -> the
    vertical offset, exactly), Densify (axis-aligned line: npoints =
    ceil(L/d)+1, length preserved), MinimumRotatedRectangle of a rectangle
    (itself: area w*h, perimeter 2(w+h)), and Polylabel of a rectangle
    (the exact center — halves are exact doubles, so no rounding)."""
    p = _spread(_t(spark, sf_dir, "part"))
    L = "CAST(p_size % 7 + 2 AS DOUBLE)"
    k = "CAST(p_partkey % 9 + 1 AS DOUBLE)"
    w = "CAST(p_size % 5 + 1 AS DOUBLE)"
    h = "CAST(p_partkey % 4 + 1 AS DOUBLE)"
    la = f"ST_MakeLine(ST_Point(0.0, 0.0), ST_Point({L}, 0.0))"
    lb = f"ST_MakeLine(ST_Point(0.0, {k}), ST_Point({L}, {k}))"
    box = f"ST_MakeEnvelope(0.0, 0.0, {w}, {h})"
    # construct-once two-step select (same trick as geo_affine_parts):
    # shared geometries and the Densify/MRR derivations run once each
    staged = p.selectExpr(
        "p_partkey",
        "CAST(p_partkey % 11 AS DOUBLE) AS locx",
        f"{la} AS la",
        f"{lb} AS lb",
        f"ST_Densify({la}, 2.0) AS dens",
        f"ST_MinimumRotatedRectangle({box}) AS mrr",
        f"{box} AS box",
        f"ST_ChaikinSmoothing(ST_LineFromArrays(array(0.0, {w}, {w}), array(0.0, 0.0, {h})), 1) AS chaik",
    )
    return staged.selectExpr(
        "p_partkey",
        "ST_FrechetDistance(la, lb) AS frechet",
        "ST_HausdorffDistance(la, lb) AS hausdorff",
        "CAST(ST_NPoints(dens) AS BIGINT) AS dens_npoints",
        "ST_Length(dens) AS dens_length",
        "ST_Area(mrr) AS mrr_area",
        "ST_Perimeter(mrr) AS mrr_perim",
        # tol 0.25: still the exact center for rectangles (the first probe
        # wins); finer tolerances degenerate on the symmetric distance-field
        # ties of a rectangle (quadtree can't prune) — 100x slower, same
        # answer
        "ST_X(ST_Polylabel(box, 0.25)) AS pl_x",
        "ST_Y(ST_Polylabel(box, 0.25)) AS pl_y",
        # Chaikin on an open 3-point corner keeps endpoints and replaces
        # each segment with its 1/4-3/4 points: 2(n-1)+2 = 6 vertices
        "CAST(ST_NPoints(chaik) AS BIGINT) AS chaikin_npoints",
        # locate on a horizontal segment = clamp(x/L, 0, 1), exact division
        "ST_LineLocatePoint(la, ST_Point(locx, 5.0)) AS line_loc",
    )


ORACLE_GEO_SHAPE_METRICS = """
SELECT p_partkey,
       CAST(p_partkey % 9 + 1 AS DOUBLE) AS frechet,
       CAST(p_partkey % 9 + 1 AS DOUBLE) AS hausdorff,
       CAST(ceil(CAST(p_size % 7 + 2 AS DOUBLE) / 2.0) + 1 AS BIGINT) AS dens_npoints,
       CAST(p_size % 7 + 2 AS DOUBLE) AS dens_length,
       CAST(p_size % 5 + 1 AS DOUBLE) * CAST(p_partkey % 4 + 1 AS DOUBLE) AS mrr_area,
       2.0 * (CAST(p_size % 5 + 1 AS DOUBLE) + CAST(p_partkey % 4 + 1 AS DOUBLE)) AS mrr_perim,
       CAST(p_size % 5 + 1 AS DOUBLE) / 2.0 AS pl_x,
       CAST(p_partkey % 4 + 1 AS DOUBLE) / 2.0 AS pl_y,
       CAST(6 AS BIGINT) AS chaikin_npoints,
       LEAST(CAST(p_partkey % 11 AS DOUBLE), CAST(p_size % 7 + 2 AS DOUBLE))
         / CAST(p_size % 7 + 2 AS DOUBLE) AS line_loc
FROM part
"""


def geo_affine_parts(spark, sf_dir):
    """Closed-form oracles for the affine family and multi-part accessors
    (previously pytest-only): rotate-90-about-center bbox, translate
    offsets, scale-about-center area/extent, skew-about-center extent
    (tan via the same libm on both engines), ST_Collect/NumGeometries/
    GeometryN, boundary length of a box, RemoveRepeatedPoints counts.
    All params derive from part columns; results are exact halves/quarters
    except the rotation/skew trig, rounded to 9 dp (error ~1e-16)."""
    p = _spread(_t(spark, sf_dir, "part"))
    w = "CAST(p_size % 5 + 1 AS DOUBLE)"
    h = "CAST(p_partkey % 4 + 1 AS DOUBLE)"
    dx = "CAST(p_partkey % 7 AS DOUBLE)"
    # construct-once two-step select (same trick as geo_multipolygon_stats):
    # every shared sub-geometry — the box, its rotated/scaled variants, the
    # collections — is built in the first projection, so downstream accessor
    # columns reference one pUDF result instead of re-running the whole
    # construction chain per output column (CollapseProject won't inline a
    # Python UDF referenced by several downstream columns).
    box = f"ST_MakeEnvelope(0.0, 0.0, {w}, {h})"
    coll = f"ST_Collect(ST_Point({dx}, {h}), ST_Point({w}, 0.0))"
    dup_line = (
        f"ST_LineFromArrays(array(0.0, 0.0, {w}, {w}, {w}),"
        f" array(0.0, 0.0, {h}, {h} + 1.0, {h} + 1.0))"
    )
    staged = p.selectExpr(
        "p_partkey",
        f"{dx} AS dxv",
        f"{box} AS box",
        f"ST_Rotate({box}, 90.0) AS rot",
        f"ST_Scale({box}, 0.5, 0.5) AS scl",
        f"{coll} AS coll",
        f"{dup_line} AS dup_line",
        f"ST_Collect(ST_Collect(ST_Point(0.0, 0.0), ST_Point({w}, 0.0)), ST_Collect(ST_Point({w}, {h}), ST_Point(0.0, {h}))) AS corners",
    )
    return staged.selectExpr(
        "p_partkey",
        "round(ST_XMin(rot), 9) AS rot_xmin",
        "round(ST_XMax(rot), 9) AS rot_xmax",
        "round(ST_YMin(rot), 9) AS rot_ymin",
        "ST_X(ST_StartPoint(ST_Translate(ST_MakeLine(ST_Point(1.0, 1.0), ST_Point(2.0, 2.0)), dxv, -1.0))) AS trans_x",
        "ST_Area(scl) AS scale_area",
        "ST_XMin(scl) AS scale_xmin",
        "round(ST_XMax(ST_Skew(box, 30.0, 0.0)), 9) AS skew_xmax",
        "CAST(ST_NumGeometries(coll) AS BIGINT) AS n_parts",
        "ST_X(ST_GeometryN(coll, 2)) AS part2_x",
        "ST_Length(ST_Boundary(box)) AS boundary_len",
        "CAST(ST_NPoints(ST_RemoveRepeatedPoints(dup_line, 0.0)) AS BIGINT) AS rrp_npoints",
        # concave hull at max concavity ratio = convex hull: the 4 box
        # corners hull back to the full box area
        "ST_Area(ST_ConcaveHull(corners, 1.0)) AS chull_area",
        # interior point of a rectangle is its exact center (scanline
        # midpoint of the widest row)
        "ST_X(ST_InteriorPoint(box)) AS ip_x",
        "ST_Y(ST_InteriorPoint(box)) AS ip_y",
    )


ORACLE_GEO_AFFINE_PARTS = """
SELECT p_partkey,
       round((CAST(p_size % 5 + 1 AS DOUBLE) - CAST(p_partkey % 4 + 1 AS DOUBLE)) / 2.0, 9) AS rot_xmin,
       round((CAST(p_size % 5 + 1 AS DOUBLE) + CAST(p_partkey % 4 + 1 AS DOUBLE)) / 2.0, 9) AS rot_xmax,
       round((CAST(p_partkey % 4 + 1 AS DOUBLE) - CAST(p_size % 5 + 1 AS DOUBLE)) / 2.0, 9) AS rot_ymin,
       1.0 + CAST(p_partkey % 7 AS DOUBLE) AS trans_x,
       CAST(p_size % 5 + 1 AS DOUBLE) * CAST(p_partkey % 4 + 1 AS DOUBLE) / 4.0 AS scale_area,
       CAST(p_size % 5 + 1 AS DOUBLE) / 4.0 AS scale_xmin,
       round(CAST(p_size % 5 + 1 AS DOUBLE)
             + tan(radians(30.0)) * CAST(p_partkey % 4 + 1 AS DOUBLE) / 2.0, 9) AS skew_xmax,
       CAST(2 AS BIGINT) AS n_parts,
       CAST(p_size % 5 + 1 AS DOUBLE) AS part2_x,
       2.0 * (CAST(p_size % 5 + 1 AS DOUBLE) + CAST(p_partkey % 4 + 1 AS DOUBLE)) AS boundary_len,
       CAST(3 AS BIGINT) AS rrp_npoints,
       CAST(p_size % 5 + 1 AS DOUBLE) * CAST(p_partkey % 4 + 1 AS DOUBLE) AS chull_area,
       CAST(p_size % 5 + 1 AS DOUBLE) / 2.0 AS ip_x,
       CAST(p_partkey % 4 + 1 AS DOUBLE) / 2.0 AS ip_y
FROM part
"""


def geo_spherical(spark, sf_dir):
    """Spherical-earth oracles (previously pytest-only kernels): the
    Chamberlain-Duquette signed spherical area of a 2°x2° lon-lat box
    (|(dλ)(sin φ0 − sin φ1)|·R², the CD edge sum in closed form) and the
    haversine length/distance of a 2-point line — the oracle states the
    SAME published formulas in SQL on the same libm, with rounding far
    above ulp drift (areas to whole m², lengths to mm)."""
    p = _t(spark, sf_dir, "part")
    x0 = "CAST(p_partkey % 30 AS DOUBLE)"
    y0 = "CAST(p_size % 20 + 10 AS DOUBLE)"
    box = f"ST_MakeEnvelope({x0}, {y0}, {x0} + 2.0, {y0} + 2.0)"
    line = f"ST_MakeLine(ST_Point({x0}, {y0}), ST_Point({x0} + 2.0, {y0} + 2.0))"
    return p.selectExpr(
        "p_partkey",
        f"round(abs(ST_AreaSpherical({box})), 0) AS cd_area",
        f"round(ST_LengthSphere({line}), 3) AS hav_len",
        f"round(ST_DistanceSphere(ST_Point({x0}, {y0}), ST_Point({x0} + 2.0, {y0} + 2.0)), 3) AS hav_dist",
    )


ORACLE_GEO_SPHERICAL = """
WITH params AS (
  SELECT p_partkey,
         radians(CAST(p_partkey % 30 AS DOUBLE)) AS lam0,
         radians(CAST(p_partkey % 30 AS DOUBLE) + 2.0) AS lam1,
         radians(CAST(p_size % 20 + 10 AS DOUBLE)) AS phi0,
         radians(CAST(p_size % 20 + 10 AS DOUBLE) + 2.0) AS phi1
  FROM part
)
SELECT p_partkey,
       round(abs((lam1 - lam0) * (sin(phi0) - sin(phi1)))
             * 6371008.8 * 6371008.8, 0) AS cd_area,
       round(2.0 * 6371008.8 * asin(sqrt(
           sin((phi1 - phi0) / 2.0) * sin((phi1 - phi0) / 2.0)
           + cos(phi0) * cos(phi1)
             * sin((lam1 - lam0) / 2.0) * sin((lam1 - lam0) / 2.0))), 3) AS hav_len,
       round(2.0 * 6371008.8 * asin(sqrt(
           sin((phi1 - phi0) / 2.0) * sin((phi1 - phi0) / 2.0)
           + cos(phi0) * cos(phi1)
             * sin((lam1 - lam0) / 2.0) * sin((lam1 - lam0) / 2.0))), 3) AS hav_dist
FROM params
"""


def geo_edges_aware(spark, sf_dir):
    """Edges-metadata-aware measure defaults (edges.rs:35-60): the SAME
    geometry and the SAME ``geom_length``/``geom_area``/``geom_distance``
    API calls, with the method chosen by the column's ``edges`` tag —
    planar-tagged columns measure euclidean, spherical-tagged columns
    haversine/Chamberlain-Duquette. The oracle restates both families'
    closed forms, so a dispatch bug in EITHER direction fails the check."""
    from ..ops.table import geom_area, geom_distance, geom_length
    from ..types.geo_types import tag_geometry_column

    p = _t(spark, sf_dir, "part")
    x0 = "CAST(p_partkey % 30 AS DOUBLE)"
    y0 = "CAST(p_size % 20 + 10 AS DOUBLE)"
    dx = "CAST(p_partkey % 3 + 1 AS DOUBLE)"
    dy = "CAST(p_size % 4 + 1 AS DOUBLE)"
    base = p.selectExpr(
        "p_partkey",
        f"ST_MakeLine(ST_Point({x0}, {y0}), ST_Point({x0} + {dx}, {y0} + {dy})) AS g_pl",
        f"ST_MakeEnvelope({x0}, {y0}, {x0} + {dx}, {y0} + {dy}) AS b_pl",
        f"ST_Point({x0}, {y0}) AS pa_pl",
        f"ST_Point({x0} + {dx}, {y0} + {dy}) AS pb_pl",
    ).selectExpr(
        "p_partkey",
        "g_pl", "b_pl", "pa_pl", "pb_pl",
        "g_pl AS g_sp", "b_pl AS b_sp", "pa_pl AS pa_sp", "pb_pl AS pb_sp",
    )
    tagged = base
    for c in ("g_pl", "b_pl", "pa_pl", "pb_pl"):
        tagged = tag_geometry_column(tagged, c, edges="planar")
    for c in ("g_sp", "b_sp", "pa_sp", "pb_sp"):
        tagged = tag_geometry_column(tagged, c, edges="spherical")
    return tagged.select(
        "p_partkey",
        F.round(geom_length(tagged, "g_pl"), 6).alias("planar_len"),
        F.round(geom_area(tagged, "b_pl"), 6).alias("planar_area"),
        F.round(geom_distance(tagged, "pa_pl", "pb_pl"), 6).alias("planar_dist"),
        F.round(geom_length(tagged, "g_sp"), 3).alias("sph_len"),
        F.round(F.abs(geom_area(tagged, "b_sp")), 0).alias("sph_area"),
        F.round(geom_distance(tagged, "pa_sp", "pb_sp"), 3).alias("sph_dist"),
    )


ORACLE_GEO_EDGES = """
WITH params AS (
  SELECT p_partkey,
         CAST(p_partkey % 3 + 1 AS DOUBLE) AS dx,
         CAST(p_size % 4 + 1 AS DOUBLE) AS dy,
         radians(CAST(p_partkey % 30 AS DOUBLE)) AS lam0,
         radians(CAST(p_partkey % 30 AS DOUBLE) + CAST(p_partkey % 3 + 1 AS DOUBLE)) AS lam1,
         radians(CAST(p_size % 20 + 10 AS DOUBLE)) AS phi0,
         radians(CAST(p_size % 20 + 10 AS DOUBLE) + CAST(p_size % 4 + 1 AS DOUBLE)) AS phi1
  FROM part
)
SELECT p_partkey,
       round(sqrt(dx * dx + dy * dy), 6) AS planar_len,
       round(dx * dy, 6) AS planar_area,
       round(sqrt(dx * dx + dy * dy), 6) AS planar_dist,
       round(2.0 * 6371008.8 * asin(sqrt(
           sin((phi1 - phi0) / 2.0) * sin((phi1 - phi0) / 2.0)
           + cos(phi0) * cos(phi1)
             * sin((lam1 - lam0) / 2.0) * sin((lam1 - lam0) / 2.0))), 3) AS sph_len,
       round(abs((lam1 - lam0) * (sin(phi0) - sin(phi1)))
             * 6371008.8 * 6371008.8, 0) AS sph_area,
       round(2.0 * 6371008.8 * asin(sqrt(
           sin((phi1 - phi0) / 2.0) * sin((phi1 - phi0) / 2.0)
           + cos(phi0) * cos(phi1)
             * sin((lam1 - lam0) / 2.0) * sin((lam1 - lam0) / 2.0))), 3) AS sph_dist
FROM params
"""


def geo_cast_matrix(spark, sf_dir):
    """Dimension + multiplicity cast surface (cast.rs parity, now the full
    matrix): Force2D drops Z with XY preserved, Force3D adds a constant Z
    (and keeps an existing Z), Multi/CastToSingle round-trip multiplicity,
    ForceCollection wraps parts. Values derive from part columns; the
    oracle states the independently-known results."""
    p = _t(spark, sf_dir, "part")
    w = "CAST(p_size % 5 + 1 AS DOUBLE)"
    h = "CAST(p_partkey % 4 + 1 AS DOUBLE)"
    k = "CAST(p_partkey % 9 + 1 AS DOUBLE)"
    return p.selectExpr(
        "p_partkey",
        f"ST_X(ST_Force2D(ST_PointZ({w}, {h}, 9.0))) AS f2_x",
        f"ST_HasZ(ST_Force2D(ST_PointZ({w}, {h}, 9.0))) AS f2_hasz",
        f"ST_Z(ST_Force3D(ST_Point({w}, {h}), {k})) AS f3_z",
        f"ST_Z(ST_Force3D(ST_PointZ({w}, {h}, 9.0), {k})) AS f3_keep_z",
        f"CAST(ST_NumGeometries(ST_ForceCollection(ST_Multi(ST_Point({w}, {h})))) AS BIGINT) AS fc_n",
        f"ST_GeometryType(ST_Multi(ST_Point({w}, {h}))) AS multi_t",
        f"ST_GeometryType(ST_CastToSingle(ST_Multi(ST_Point({w}, {h})))) AS single_t",
    )


ORACLE_GEO_CAST = """
SELECT p_partkey,
       CAST(p_size % 5 + 1 AS DOUBLE) AS f2_x,
       FALSE AS f2_hasz,
       CAST(p_partkey % 9 + 1 AS DOUBLE) AS f3_z,
       9.0 AS f3_keep_z,
       CAST(1 AS BIGINT) AS fc_n,
       'ST_MultiPoint' AS multi_t,
       'ST_Point' AS single_t
FROM part
"""
