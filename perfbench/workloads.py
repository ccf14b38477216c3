"""The benchmark workloads: seeded inputs, a fixed op list, and a numpy
check for every op.

An op's ``build`` calls the package's public functions and returns the
DataFrame whose single ``collect()`` is the op's action; ``check`` compares
the collected rows with numpy over the generated arrays and runs outside
the timed region.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pandas as pd

import gen


def _close(got, want, rel=1e-9):
    got = 0.0 if got is None else float(got)
    return math.isclose(got, float(want), rel_tol=rel, abs_tol=1e-9)


class Op:
    def __init__(self, kind, size, build, check, refine_udf=None):
        self.kind = kind
        self.size = size  # the op's input size, as the workload defines it
        self.build = build
        self.check = check
        self.refine_udf = refine_udf
        self.layer = {}  # per-op inputs to the per-layer ratios


def _stratified_kinds(rng, kinds, n, draw):
    """n ops, kinds in equal shares, each kind's sizes stratified over its
    own range by ``draw(kind, rng, count)``; the order is shuffled."""
    per = {k: list(draw(k, rng, n // len(kinds))) for k in kinds}
    seq = [(k, s) for k in kinds for s in per[k]]
    order = rng.permutation(len(seq))
    return [seq[i] for i in order]


# ---------------------------------------------------------------------------
# geoparquet_window
# ---------------------------------------------------------------------------

class GeoParquetWindow:
    """Bbox window reads over a spatially sorted GeoParquet dataset, each
    followed by one ST_* aggregate."""

    name = "geoparquet_window"
    n_polygons = 40_000
    rowgroup_rows = 8192
    ops_per_second = 1.25
    kinds = ("area_perimeter", "centroid", "convex_hull", "simplify", "distance")
    simplify_tol = 1e-9  # vertices are never this close: every one survives

    def __init__(self, spark, seed, work):
        self.spark, self.seed, self.work = spark, seed, work
        self.path = os.path.join(work, "window.parquet")

    def prepare(self, rep, n=None):
        """Generate the polygons and write them with ``write_geoparquet``
        (bbox covering); returns write-side layers. The writer puts each
        partition in one row group, so range-partitioning on the Z-order id
        gives row groups of about ``rowgroup_rows`` compact polygons."""
        from geoarrow_rs_spark.io import geoparquet_info, write_geoparquet

        n = n or self.n_polygons
        self.poly = gen.Polygons(self.seed, n)
        wkb = self.poly.wkb()
        pdf = pd.DataFrame({"id": self.poly.ids, "geometry": wkb})
        input_bytes = sum(map(len, wkb)) + 8 * len(wkb)
        path = os.path.join(self.work, f"window-{rep}.parquet")
        t0 = time.perf_counter()
        df = self.spark.createDataFrame(pdf).repartitionByRange(
            -(-n // self.rowgroup_rows), "id")
        write_geoparquet(df, path)
        t1 = time.perf_counter()
        info = geoparquet_info(path)
        t2 = time.perf_counter()
        if info["num_rows"] != n:
            raise RuntimeError(f"wrote {info['num_rows']} rows, expected {n}")
        disk = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(path) for f in fs)
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.rename(path, self.path)
        return {"write_s": t1 - t0, "info_s": t2 - t1, "disk_bytes": disk,
                "input_bytes": input_bytes, "files": info["files"],
                "rowgroups": info["num_row_groups"]}

    def _op(self, kind, frac, rng):
        from pyspark.sql import functions as F

        from geoarrow_rs_spark.io import read_geoparquet

        w = gen.windows(rng, 1, frac, frac)[0]
        px, py = rng.uniform(0.0, gen.EXTENT, 2)
        poly = self.poly
        spark, path = self.spark, self.path
        n = F.count(F.lit(1))
        aggs = {
            "area_perimeter": lambda d: d.agg(n, F.sum(F.expr("ST_Area(geometry)")),
                                              F.sum(F.expr("ST_Perimeter(geometry)"))),
            "centroid": lambda d: d.select(F.expr("ST_Centroid(geometry)").alias("c")).agg(
                n, F.sum(F.expr("ST_X(c)")), F.sum(F.expr("ST_Y(c)"))),
            "convex_hull": lambda d: d.agg(n, F.sum(F.expr("ST_Area(ST_ConvexHull(geometry))"))),
            "simplify": lambda d: d.agg(n, F.sum(F.expr(
                f"ST_NPoints(ST_Simplify(geometry, {self.simplify_tol!r}))"))),
            "distance": lambda d: d.agg(n, F.sum(F.expr(
                f"ST_Distance(geometry, ST_Point({px!r}, {py!r}))"))),
        }

        def build():
            return aggs[kind](read_geoparquet(spark, path, bbox=w))

        def check(rows):
            m = poly.in_window(w)
            got = tuple(rows[0])
            op.layer["rows_returned"] = int(m.sum())
            want = {
                "area_perimeter": lambda: (poly.area[m].sum(), poly.perimeter[m].sum()),
                "centroid": lambda: (poly.cx[m].sum(), poly.cy[m].sum()),
                "convex_hull": lambda: (poly.area[m].sum(),),
                "simplify": lambda: (int(poly.npoints[m].sum()),),
                "distance": lambda: (poly.distance_to(px, py, m).sum(),),
            }[kind]()
            return got[0] == m.sum() and all(_close(g, e) for g, e in zip(got[1:], want))

        op = Op(kind, frac, build, check)
        return op

    def warm_ops(self):
        rng = np.random.default_rng([self.seed, 1])
        return [self._op(k, 0.002, rng) for k in self.kinds]

    def ops(self, n):
        rng = np.random.default_rng([self.seed, 2])
        seq = _stratified_kinds(
            rng, self.kinds, n,
            lambda _k, r, c: gen.log_uniform_strata(r, c, 1e-3, 1.0))
        return [self._op(k, f, rng) for k, f in seq]


# ---------------------------------------------------------------------------
# point_cluster
# ---------------------------------------------------------------------------

_FAR_ID0 = 10**9


class PointCluster:
    """Point-in-polygon grid joins, kNN joins and DBSCAN over clustered
    points, plus the table ops of ``datapipe``: cosine top-k over seeded
    embeddings and an event funnel; no GeoParquet anywhere."""

    name = "point_cluster"
    n_points = 80_000
    n_polygons = 6_000
    n_far = 1_000
    knn_k = 8
    pip_points = (30, 3_000)  # left side of the point-in-polygon join
    knn_candidates = (4_000, 48_000)  # below the 50k driver-local gate
    knn_queries = (200, 2_000)
    query_id0 = 60_000  # query points are ids >= this; candidates are ids below
    far_share = 0.01  # query points outside the candidates' region
    dbscan_eps, dbscan_min_pts = 0.2, 8
    dbscan_points = (6_000, 28_000)  # below the 30k driver-local gate
    vec_dim, vec_queries, topk_k = 16, 32, 8
    topk_corpus = (2_000, 16_000)  # corpus rows; queries are ids past the largest corpus
    n_users = 20_000
    funnel_users = (2_000, 20_000)
    funnel_steps = ("view", "cart", "buy")
    funnel_window = 200_000
    ops_per_second = 1.25
    kinds = ("pip_join", "knn_join", "dbscan", "cosine_topk", "funnel")

    def __init__(self, spark, seed, work):
        self.spark, self.seed, self.work = spark, seed, work
        self._cached = []

    def prepare(self, rep, n=None):
        from pyspark.sql import functions as F

        for df in self._cached:
            df.unpersist()
        spark = self.spark
        # a prepare of n < n_points rows (the session boot) scales every input down
        scale = (n or self.n_points) / self.n_points
        ids, xs, ys = gen.clustered_points(self.seed, n or self.n_points)
        self.ids, self.xs, self.ys = ids, xs, ys
        rng = np.random.default_rng([self.seed, 3])
        self.fx = rng.uniform(110.0, 130.0, self.n_far)
        self.fy = rng.uniform(0.0, gen.EXTENT, self.n_far)
        self.poly = gen.Polygons(self.seed + 1, max(1, int(self.n_polygons * scale)), scale=5.0)
        # point geometries and their (degenerate) bboxes are built once, as
        # a point table would store them
        self.pts = spark.createDataFrame(pd.DataFrame({"id": ids, "x": xs, "y": ys})) \
            .withColumn("geometry", F.expr("ST_Point(x, y)")) \
            .withColumn("bbox", F.struct(F.col("x").alias("xmin"), F.col("y").alias("ymin"),
                                         F.col("x").alias("xmax"), F.col("y").alias("ymax")))
        self.far = spark.createDataFrame(pd.DataFrame({
            "id": np.arange(_FAR_ID0, _FAR_ID0 + self.n_far, dtype=np.int64),
            "x": self.fx, "y": self.fy}))
        self.polys = spark.createDataFrame(pd.DataFrame({
            "pid": self.poly.ids, "pgeom": self.poly.wkb()})).withColumn(
            "pbbox", F.expr("ST_BBox(pgeom)"))
        vid, self.vec = gen.vectors(
            self.seed, int(self.topk_corpus[1] * scale) + self.vec_queries, self.vec_dim)
        self.vecs = spark.createDataFrame(pd.DataFrame({"vec_id": vid,
                                                        "embedding": list(self.vec)}))
        self.ev_user, self.ev_kind, self.ev_ts = gen.events(
            self.seed, max(1, int(self.n_users * scale)))
        self.events = spark.createDataFrame(pd.DataFrame({
            "user_id": self.ev_user, "event_type": np.array(gen.EVENT_TYPES)[self.ev_kind],
            "ts": self.ev_ts}))
        self._cached = [d.cache() for d in (self.pts, self.far, self.polys,
                                            self.vecs, self.events)]
        for d in self._cached:
            d.count()
        return {}

    # -- op kinds ----------------------------------------------------------

    def _pip(self, n_pts, rng):
        from pyspark.sql import functions as F

        from geoarrow_rs_spark.join import spatial_join

        # the square around a random point that holds exactly n_pts points
        i = int(rng.integers(0, self.n_points))
        cheb = np.maximum(np.abs(self.xs - self.xs[i]), np.abs(self.ys - self.ys[i]))
        r = float(np.partition(cheb, int(n_pts) - 1)[int(n_pts) - 1])
        w = (self.xs[i] - r, self.ys[i] - r, self.xs[i] + r, self.ys[i] + r)
        pts, polys, poly = self.pts, self.polys, self.poly
        sel = (self.xs >= w[0]) & (self.xs <= w[2]) & (self.ys >= w[1]) & (self.ys <= w[3])

        def build():
            left = pts.filter(F.col("x").between(w[0], w[2]) & F.col("y").between(w[1], w[3]))
            joined = spatial_join(left, polys, left_geom="geometry", right_geom="pgeom",
                                  predicate="within", strategy="grid", cell_size=2.0,
                                  left_bbox="bbox", right_bbox="pbbox")
            return joined.agg(F.count(F.lit(1)), F.sum("pid"), F.sum("id"))

        def check(rows):
            qi, pj = poly.containing(self.xs[sel], self.ys[sel])
            n, spid, sid = rows[0]
            op.layer["matches"] = len(qi)
            return (n == len(qi) and (spid or 0) == int(poly.ids[pj].sum())
                    and (sid or 0) == int(self.ids[sel][qi].sum()))

        op = Op("pip_join", int(sel.sum()), build, check, refine_udf="ST_Within")
        return op

    def _knn(self, sizes, rng):
        from pyspark.sql import functions as F

        from geoarrow_rs_spark.join.spatial import knn_spatial_join

        m, q = (int(v) for v in sizes)
        f = max(1, int(round(q * self.far_share)))
        k = self.knn_k
        q0 = self.query_id0
        sample = [int(v) for v in rng.choice(np.arange(q0, q0 + q), 20, replace=False)]
        sample += [_FAR_ID0 + j for j in range(min(f, 4))]
        pts, far = self.pts, self.far

        def build():
            left = pts.filter((F.col("id") >= q0) & (F.col("id") < q0 + q)).select(
                "id", "x", "y").unionByName(
                far.filter(F.col("id") < _FAR_ID0 + f))
            right = pts.filter(F.col("id") < m)
            res = knn_spatial_join(left, right, k)
            keep = F.when(F.col("l_id").isin(sample), F.struct("l_id", "rn", "r_id", "dist"))
            return res.agg(F.count(F.lit(1)), F.collect_list(keep))

        def check(rows):
            n, picked = rows[0]
            if n != (q + f) * k or len(picked) != len(sample) * k:
                return False
            got = {}
            for r in picked:
                got.setdefault(r["l_id"], []).append((r["rn"], r["r_id"], r["dist"]))
            sid = np.array(sample)
            is_far = sid >= _FAR_ID0
            fi = np.clip(sid - _FAR_ID0, 0, self.n_far - 1)
            pi = np.clip(sid, 0, self.n_points - 1)
            qx = np.where(is_far, self.fx[fi], self.xs[pi])
            qy = np.where(is_far, self.fy[fi], self.ys[pi])
            dist, rid = gen.knn_brute(qx, qy, self.ids[:m], self.xs[:m], self.ys[:m], k)
            for j, lid in enumerate(sample):
                rowsj = sorted(got.get(lid, []))
                if [r[1] for r in rowsj] != rid[j].tolist():
                    return False
                if any(not _close(r[2], d, 1e-12) for r, d in zip(rowsj, dist[j])):
                    return False
            return True

        return Op("knn_join", m, build, check)

    def _dbscan(self, m, rng):
        from pyspark.sql import functions as F

        from geoarrow_rs_spark.ops.dbscan import dbscan

        m = int(m)
        pts, eps, mp = self.pts, self.dbscan_eps, self.dbscan_min_pts

        def build():
            res = dbscan(pts.filter(F.col("id") < m), "id", "x", "y", eps, mp)
            role = F.col("role")
            return res.agg(
                F.sum((role == "core").cast("long")), F.sum((role == "border").cast("long")),
                F.sum((role == "noise").cast("long")), F.countDistinct("cluster_id"))

        def check(rows):
            return tuple(rows[0]) == gen.dbscan_roles(self.xs[:m], self.ys[:m], eps, mp)

        return Op("dbscan", m, build, check)

    def _topk(self, m, rng):
        from pyspark.sql import functions as F

        from geoarrow_rs_spark.datapipe.similarity import cosine_topk

        m, k = int(m), self.topk_k
        q0 = self.topk_corpus[1]
        vecs = self.vecs

        def build():
            qs = vecs.filter(F.col("vec_id") >= q0)
            return cosine_topk(qs, vecs.filter(F.col("vec_id") < m), k=k)

        def check(rows):
            # every returned neighbour is within 1e-8 of its numpy cosine and
            # no better than the numpy k-th best is missing; rounding may
            # order neighbours whose cosines tie within 1e-8 either way
            cos = gen.cosine_matrix(self.vec[q0:], self.vec[:m])
            kth = -np.partition(-cos, k - 1, axis=1)[:, k - 1]
            got = {}
            for r in rows:
                got.setdefault(r["query_id"] - q0, []).append(
                    (r["rank"], r["neighbor_id"], r["cosine"]))
            if sorted(got) != list(range(self.vec_queries)):
                return False
            for qi, rs in got.items():
                rs.sort()
                ids = [r[1] for r in rs]
                if [r[0] for r in rs] != list(range(1, k + 1)) or len(set(ids)) != k:
                    return False
                if any(not 0 <= i < m or abs(c - cos[qi, i]) > 1e-8 for _, i, c in rs):
                    return False
                if rs[-1][2] < kth[qi] - 1e-8 or any(
                        a[2] < b[2] for a, b in zip(rs, rs[1:])):
                    return False
            return True

        return Op("cosine_topk", m, build, check)

    def _funnel(self, m, rng):
        from pyspark.sql import functions as F

        from geoarrow_rs_spark.datapipe.events import funnel_counts

        m = int(m)
        steps, window, events = list(self.funnel_steps), self.funnel_window, self.events

        def build():
            return funnel_counts(events.filter(F.col("user_id") < m), steps, window=window)

        def check(rows):
            sel = self.ev_user < m
            want = gen.funnel_counts(self.ev_user[sel], self.ev_kind[sel], self.ev_ts[sel],
                                     [gen.EVENT_TYPES.index(s) for s in steps], window)
            got = sorted((r["step"], r["step_name"], r["n_users"], r["conv_ppm"]) for r in rows)
            return got == [(i + 1, s, n, n * 1_000_000 // want[0])
                           for i, (s, n) in enumerate(zip(steps, want))]

        return Op("funnel", m, build, check)

    def _make(self, kind, size, rng):
        return {"pip_join": self._pip, "knn_join": self._knn, "dbscan": self._dbscan,
                "cosine_topk": self._topk, "funnel": self._funnel}[kind](size, rng)

    def warm_ops(self):
        rng = np.random.default_rng([self.seed, 1])
        return [self._pip(300, rng), self._knn((4_000, 200), rng), self._dbscan(6_000, rng),
                self._topk(2_000, rng), self._funnel(2_000, rng)]

    def ops(self, n):
        rng = np.random.default_rng([self.seed, 2])

        def draw(kind, r, c):
            if kind == "pip_join":
                return gen.log_uniform_strata(r, c, *self.pip_points)
            if kind == "knn_join":
                return zip(gen.log_uniform_strata(r, c, *self.knn_candidates),
                           gen.log_uniform_strata(r, c, *self.knn_queries))
            if kind == "dbscan":
                return gen.log_uniform_strata(r, c, *self.dbscan_points)
            if kind == "cosine_topk":
                return gen.log_uniform_strata(r, c, *self.topk_corpus)
            return gen.log_uniform_strata(r, c, *self.funnel_users)

        return [self._make(k, s, rng) for k, s in _stratified_kinds(rng, self.kinds, n, draw)]


WORKLOADS = {w.name: w for w in (GeoParquetWindow, PointCluster)}
