"""Distributed spatial join strategies (SURVEY.md §2.6 / §7 item 6).

The reference ships only the building blocks of a spatial join — bbox filters
(/root/reference/rust/geoparquet/src/reader/spatial_filter.rs:183-254), binary
predicates, and an experimental R-tree
(/root/reference/rust/geoarrow-old/src/indexed/array.rs:20-31). The join itself
is net-new Spark design, and the main scale lever at 100 TB:

Strategies
----------
1. ``broadcast`` — small build side: native broadcast join on the bbox
   range predicate (BroadcastNestedLoopJoin), then exact-predicate refine.
   Right for dim-table-sized polygon sides (countries, admin areas).
2. ``grid`` — both sides large: map each geometry to the integer grid cells
   its bbox covers (explode), shuffle both sides **by cell id** (an
   equi-join key -> sort-merge/shuffled-hash join, never a cartesian),
   bbox-filter within cell, then exact refine and de-dup pairs. This is the
   classic PBSM/GeoSpark-style partitioned spatial join; cell_size trades
   duplication factor vs per-cell fanout. Skewed cells are handled by AQE
   (skew-join splitting) since the join is a plain equi-join.

Both paths run the cheap native bbox test BEFORE any Python UDF so the
pUDF refine (``ST_Intersects``) only sees candidate pairs — the reference's
two-stage bbox-pretest-then-exact design
(/root/reference/rust/geoparquet/src/reader/geo_ext.rs:140-148).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpoint import checkpoint_df, collect_small
from ..functions.registry import bbox_overlap_expr


def grid_cells_expr(bbox_col, cell_size: float):
    """Array of int64 cell ids covered by a bbox struct (native expression).

    Cell id packs (ix, iy) as ix*2^21 + iy offset-encoded; geometries whose
    bbox spans multiple cells are duplicated into each (standard PBSM
    duplication; pairs are de-duplicated after the join)."""
    b = F.col(bbox_col) if isinstance(bbox_col, str) else bbox_col
    cs = float(cell_size)
    x0 = F.floor(b["xmin"] / cs).cast("long")
    x1 = F.floor(b["xmax"] / cs).cast("long")
    y0 = F.floor(b["ymin"] / cs).cast("long")
    y1 = F.floor(b["ymax"] / cs).cast("long")
    # sequence() is native; flatten the 2-D cover
    return F.flatten(
        F.transform(
            F.sequence(x0, x1),
            lambda ix: F.transform(F.sequence(y0, y1), lambda iy: ix * F.lit(1 << 21) + iy),
        )
    )


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    predicate: str = "intersects",
    how: str = "inner",
    strategy: str = "auto",
    cell_size: float = 1.0,
    broadcast_bytes: int = 64 << 20,
    refine: str = "exact",
    left_bbox: str | None = None,
    right_bbox: str | None = None,
) -> DataFrame:
    """Join rows whose geometries satisfy the predicate.

    Column name collisions must be resolved by the caller (alias first).
    ``predicate`` in {intersects, contains, within, covers, touches,
    overlaps, crosses, distance_lt:<x>} — refine runs the matching ST_* pUDF.

    ``refine``: "exact" (default) runs the ST_* pandas-UDF predicate on the
    bbox-surviving candidates. "bbox" skips it — valid ONLY when the bbox
    test already equals the predicate: ``intersects`` where every geometry
    on both sides equals its own bounding box (points, envelopes,
    axis-aligned rect polygons). Then the join is 100% whole-stage-codegen
    with zero Python — the right plan for point-in-rectangle joins at scale.

    ``left_bbox`` / ``right_bbox``: name of a precomputed covering struct
    column (xmin/ymin/xmax/ymax) — e.g. a GeoParquet covering column read
    straight off the scan, or a native struct built at construction time.
    When given, the join never parses WKB to derive bboxes (the ST_BBox
    pandas UDF is skipped entirely); combined with refine="bbox" the whole
    join plan is native.
    """
    lb, rb = "__lbbox", "__rbbox"
    if left_bbox is not None:
        L = left.withColumn(lb, F.col(left_bbox))
    else:
        L = left.withColumn(lb, F.expr(f"ST_BBox({left_geom})"))
    if right_bbox is not None:
        R = right.withColumn(rb, F.col(right_bbox))
    else:
        R = right.withColumn(rb, F.expr(f"ST_BBox({right_geom})"))

    if strategy == "auto":
        # plan-time size estimate from Catalyst statistics (file sizes /
        # catalog stats) — NO job is launched. The old right.count() ran a
        # full scan of the big side before the join even planned; at 100 TB
        # that is an extra job over the entire input.
        strategy = "grid"
        try:
            if not right.isStreaming:
                jstats = right._jdf.queryExecution().optimizedPlan().stats()
                size = jstats.sizeInBytes()
                # Py4J maps scala BigInt to a Python int directly; older
                # bridges hand back the Java object
                size = size if isinstance(size, int) else int(size.toString())
                strategy = "broadcast" if size <= broadcast_bytes else "grid"
        except Exception:
            pass

    if refine == "bbox":
        if predicate != "intersects":
            raise ValueError("refine='bbox' is only exact for predicate='intersects'")
        refine_pred = None
    else:
        refine_pred = _refine_expr(predicate, left_geom, right_geom)

    def _refined(df):
        return df if refine_pred is None else df.filter(refine_pred)

    if strategy == "broadcast":
        joined = L.join(F.broadcast(R), on=bbox_overlap_expr(lb, rb), how="inner")
        return _refined(joined).drop(lb, rb)

    # grid strategy: equi-join on exploded cell ids
    Lg = L.withColumn("__cell", F.explode(grid_cells_expr(lb, cell_size)))
    Rg = R.withColumn("__cell", F.explode(grid_cells_expr(rb, cell_size)))
    joined = Lg.join(Rg, on="__cell", how="inner").filter(bbox_overlap_expr(lb, rb))
    # de-dup pairs duplicated across cells: keep the pair only in the cell
    # that owns the overlap's lower-left corner (standard PBSM reference-point
    # rule — no distinct() shuffle needed)
    cs = float(cell_size)
    ref_x = F.greatest(F.col(f"{lb}.xmin"), F.col(f"{rb}.xmin"))
    ref_y = F.greatest(F.col(f"{lb}.ymin"), F.col(f"{rb}.ymin"))
    owner = (
        F.floor(ref_x / cs).cast("long") * F.lit(1 << 21)
        + F.floor(ref_y / cs).cast("long")
    )
    joined = joined.filter(F.col("__cell") == owner)
    return _refined(joined).drop("__cell", lb, rb)


def write_grid_bucketed(
    df: DataFrame,
    table: str,
    geom: str = "geometry",
    bbox: str | None = None,
    cell_size: float = 1.0,
    n_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a geometry table pre-exploded onto the PBSM grid and BUCKETED
    by cell id — the co-location lever for repeated spatial joins.

    Spark only avoids a shuffle when both join inputs are bucketed tables
    with matching bucket spec on the join key; a grid spatial join's key is
    the cell id, so bucketing by ``__cell`` makes every later
    ``bucketed_spatial_join`` between two such tables exchange-free (each
    task reads matching buckets from both sides — at 100 TB that deletes
    the dominant cost of re-joining the same corpus many times, e.g. a
    polygon layer joined against monthly point batches).

    Rows are duplicated per covered cell (standard PBSM); downstream joins
    apply the reference-point rule to de-dup. ``bbox`` names a precomputed
    covering struct (skips the WKB parse)."""
    b = "__bbox"
    src = df.withColumn(b, F.col(bbox) if bbox else F.expr(f"ST_BBox({geom})"))
    exploded = src.withColumn("__cell", F.explode(grid_cells_expr(b, cell_size)))
    w = exploded.write.mode(mode).bucketBy(n_buckets, "__cell").sortBy("__cell")
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_spatial_join(
    spark,
    left_table: str,
    right_table: str,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    predicate: str = "intersects",
    cell_size: float = 1.0,
    refine: str = "exact",
) -> DataFrame:
    """Grid spatial join between two tables written by ``write_grid_bucketed``
    with the SAME cell_size and bucket count: the equi-join on ``__cell``
    uses the bucket layout directly (SortMergeJoin with zero Exchange on
    either side — assert it in the plan), then bbox filter, PBSM
    reference-point de-dup, and the exact refine."""
    L = spark.table(left_table)
    R = spark.table(right_table)
    lb, rb = "__lbbox", "__rbbox"
    L = L.withColumnRenamed("__bbox", lb)
    R = R.withColumnRenamed("__bbox", rb)
    joined = L.join(R, on="__cell", how="inner").filter(bbox_overlap_expr(lb, rb))
    cs = float(cell_size)
    ref_x = F.greatest(F.col(f"{lb}.xmin"), F.col(f"{rb}.xmin"))
    ref_y = F.greatest(F.col(f"{lb}.ymin"), F.col(f"{rb}.ymin"))
    owner = (
        F.floor(ref_x / cs).cast("long") * F.lit(1 << 21)
        + F.floor(ref_y / cs).cast("long")
    )
    joined = joined.filter(F.col("__cell") == owner)
    if refine == "bbox":
        if predicate != "intersects":
            raise ValueError("refine='bbox' is only exact for predicate='intersects'")
    else:
        joined = joined.filter(_refine_expr(predicate, left_geom, right_geom))
    return joined.drop("__cell", lb, rb)


def _refine_expr(predicate: str, lg: str, rg: str):
    if predicate.startswith("distance_lt:"):
        dist = float(predicate.split(":", 1)[1])
        return F.expr(f"ST_Distance({lg}, {rg})") < F.lit(dist)
    fn = {
        "intersects": "ST_Intersects",
        "contains": "ST_Contains",
        "within": "ST_Within",
        "covers": "ST_Covers",
        "covered_by": "ST_CoveredBy",
        "touches": "ST_Touches",
        "overlaps": "ST_Overlaps",
        "crosses": "ST_Crosses",
        "equals": "ST_Equals",
    }[predicate]
    return F.expr(f"{fn}({lg}, {rg})")


# test hook: pin the distributed kNN grid to the caller's cell_size
# instead of sizing it from the right side's measured density
_ADAPTIVE_KNN_CELL_DISABLED = False
_LOCAL_KNN_MAX = 50_000


def _knn_local(l_ids, lxs, lys, r_ids, rxs, rys, k, cs, max_radius_cells):
    """Driver-local replica of the grid-rounds kNN join below: same cell
    hashing, same (2R+1)^2 probe square, same resolution rule
    (cnt >= k and k-th distance <= R*cs), same doubling ladder, same
    brute-force fallback, same (dist, r_id) tie-break and the identical
    IEEE dist expression — so results match the distributed plan row for
    row. Requires integer ids (returns None otherwise, as for any bail)."""
    import numpy as np

    if not (
        np.issubdtype(np.asarray(l_ids).dtype, np.integer)
        and np.issubdtype(np.asarray(r_ids).dtype, np.integer)
    ):
        return None
    l_ids = np.asarray(l_ids, dtype=np.int64)
    lxs = np.asarray(lxs, dtype=np.float64)
    lys = np.asarray(lys, dtype=np.float64)
    r_ids = np.asarray(r_ids, dtype=np.int64)
    rxs = np.asarray(rxs, dtype=np.float64)
    rys = np.asarray(rys, dtype=np.float64)
    nl, nr = len(l_ids), len(r_ids)
    if nr == 0 or nl == 0:
        return [], [], [], []
    P = 1 << 21
    rkey = (
        np.floor(rxs / cs).astype(np.int64) * P
        + np.floor(rys / cs).astype(np.int64)
    )
    order = np.argsort(rkey, kind="stable")
    sk = rkey[order]
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    bounds = np.r_[starts, nr]
    rcells = {int(sk[s]): order[s:e] for s, e in zip(bounds[:-1], bounds[1:])}
    lcx = np.floor(lxs / cs).astype(np.int64)
    lcy = np.floor(lys / cs).astype(np.int64)

    chunks_l, chunks_r, chunks_rn, chunks_d = [], [], [], []
    # dense (left x cand) matrix bound: ~0.5 GB of f8 — bigger blocks
    # bail to the distributed path, which streams them on executors
    max_cells = 1 << 26

    def rank(lidx, cand):
        """(top_d, top_i, cnt, kdist): (dist, r_id)-sorted top-k per left
        row. np.partition finds each row's k-th distance; only entries at
        or under it (ties included) are lexsorted."""
        dx = lxs[lidx][:, None] - rxs[cand][None, :]
        dy = lys[lidx][:, None] - rys[cand][None, :]
        dist = np.sqrt(dx * dx + dy * dy)
        m, cnt = dist.shape
        take = min(int(k), cnt)
        if take == 0:
            return dist[:, :0], np.zeros((m, 0), np.int64), cnt, np.full(m, np.inf)
        kth = np.partition(dist, take - 1, axis=1)[:, take - 1]
        # a NaN k-th distance keeps the whole row (NaN sorts last)
        rows, cols = np.nonzero((dist <= kth[:, None]) | np.isnan(kth)[:, None])
        d, rid = dist[rows, cols], r_ids[cand][cols]
        o = np.lexsort((rid, d, rows))
        rows, d, rid = rows[o], d[o], rid[o]
        # rank within each row; every row keeps >= take entries
        first = np.searchsorted(rows, rows)
        keep = (np.arange(len(rows)) - first) < take
        top_d = d[keep].reshape(m, take)
        return top_d, rid[keep].reshape(m, take), cnt, top_d[:, -1]

    def emit(lidx, top_d, top_i):
        m, take = top_d.shape
        if m == 0 or take == 0:
            return
        chunks_l.append(np.repeat(l_ids[lidx], take))
        chunks_r.append(top_i.ravel())
        chunks_rn.append(np.tile(np.arange(1, take + 1, dtype=np.int64), m))
        chunks_d.append(top_d.ravel())

    unresolved = np.arange(nl)
    radius = 1
    while len(unresolved) and radius <= max_radius_cells:
        # group unresolved lefts by TRUE home cell (lexsort on the coord
        # pair, not the packed key: packing collides at |cell| >= 2^20
        # and a collided group would probe around the wrong center —
        # the distributed plan computes probe cells per row, so the
        # packed rcells lookup below only ever ADDS spurious candidates
        # there, identical to its behavior)
        uorder = np.lexsort((lcy[unresolved], lcx[unresolved]))
        ux = lcx[unresolved][uorder]
        uy = lcy[unresolved][uorder]
        ustarts = np.flatnonzero(
            np.r_[True, (ux[1:] != ux[:-1]) | (uy[1:] != uy[:-1])]
        )
        ubounds = np.r_[ustarts, len(ux)]
        still = []
        for s, e in zip(ubounds[:-1], ubounds[1:]):
            lidx = unresolved[uorder[s:e]]
            ccx = int(lcx[lidx[0]])
            ccy = int(lcy[lidx[0]])
            parts = [
                rcells[(ccx + ox) * P + (ccy + oy)]
                for ox in range(-radius, radius + 1)
                for oy in range(-radius, radius + 1)
                if ((ccx + ox) * P + (ccy + oy)) in rcells
            ]
            if not parts:
                still.extend(lidx)
                continue
            cand = np.concatenate(parts)
            if len(lidx) * len(cand) > max_cells:
                return None
            top_d, top_i, cnt, kdist = rank(lidx, cand)
            ok = (kdist <= radius * cs) if cnt >= int(k) else np.zeros(
                len(lidx), dtype=bool
            )
            emit(lidx[ok], top_d[ok], top_i[ok])
            still.extend(lidx[~ok])
        unresolved = np.asarray(still, dtype=np.int64)
        radius *= 2

    if len(unresolved):
        # brute-force fallback, same as the broadcast scan (blocked so
        # the dense matrix stays under the memory bound)
        block = max(1, max_cells // max(1, nr))
        cand = np.arange(nr)
        for i0 in range(0, len(unresolved), block):
            part = unresolved[i0 : i0 + block]
            top_d, top_i, _cnt, _kd = rank(part, cand)
            emit(part, top_d, top_i)
    if not chunks_l:
        return [], [], [], []
    return (
        np.concatenate(chunks_l),
        np.concatenate(chunks_r),
        np.concatenate(chunks_rn),
        np.concatenate(chunks_d),
    )


def knn_spatial_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str = "id",
    right_id: str = "id",
    left_xy=("x", "y"),
    right_xy=("x", "y"),
    cell_size: float = 1.0,
    max_radius_cells: int = 8,
) -> DataFrame:
    """Exact k-nearest-neighbor spatial join over point sets, distributed.

    The relational operator the reference leaves to its R-tree building
    blocks (rust/geoarrow-old/src/indexed/array.rs) — here as a two-phase
    DataFrame plan that stays exact:

    1. **Grid rounds.** Each right point hashes to its home cell once
       (native floor arithmetic). Each unresolved left point probes the
       (2R+1)^2 cells around it via a native sequence-explode, candidates
       equi-join on cell id, and a per-left window keeps the k nearest.
       A left is RESOLVED only when it has >= k candidates whose k-th
       distance <= R*cell_size — the geometric guarantee that nothing
       closer can live outside the probed square. Unresolved lefts
       (sparse-area stragglers) carry to the next round with R doubled;
       round count is logarithmic and each round's input shrinks.
    2. **Broadcast fallback.** Lefts still unresolved at max_radius_cells
       (isolated points whose neighbors are arbitrarily far) are
       broadcast against the full right side in one linear scan — exact,
       and costed to the pathological minority only.

    Everything is native Catalyst (no UDFs); ties break on right id so
    results are deterministic. At 100 TB: the right side shuffles once by
    cell, each round's probe is an equi-join sized by the unresolved set,
    and the fallback broadcast is bounded by the straggler count.

    Returns columns: ``l_id, r_id, rn`` (1-based rank) ``, dist``.
    Ids must be unique per side (ranking windows key on them); rows with
    NULL coordinates are excluded.
    """
    lx, ly = left_xy
    rx, ry = right_xy
    cs = float(cell_size)
    # rows with NULL coordinates have no well-defined neighbors; drop them
    # up front (otherwise they bypass the grid and reach the fallback with
    # NULL distances)
    L = left.select(
        F.col(left_id).alias("l_id"),
        F.col(lx).cast("double").alias("lx"),
        F.col(ly).cast("double").alias("ly"),
    ).filter(F.col("lx").isNotNull() & F.col("ly").isNotNull())
    R = right.select(
        F.col(right_id).alias("r_id"),
        F.col(rx).cast("double").alias("rx"),
        F.col(ry).cast("double").alias("ry"),
    ).filter(F.col("rx").isNotNull() & F.col("ry").isNotNull())

    # Small-input fast path: probe both sides with limit(cap + 1) — when
    # they fit on the driver, the identical grid-rounds algorithm (same
    # resolution rule, same escalation ladder, same dist expression, same
    # (dist, r_id) tie-break) runs vectorized in numpy: two bounded jobs
    # + one Arrow createDataFrame instead of per-round shuffle stages.
    lp = collect_small(L, _LOCAL_KNN_MAX)
    if lp is not None:
        self_join = (
            right is left and left_id == right_id and tuple(left_xy) == tuple(right_xy)
        )
        if self_join:
            rp = lp.rename(columns={"l_id": "r_id", "lx": "rx", "ly": "ry"})
        else:
            rp = collect_small(R, _LOCAL_KNN_MAX)
        if rp is not None:
            local = _knn_local(
                lp["l_id"].to_numpy(), lp["lx"].to_numpy(), lp["ly"].to_numpy(),
                rp["r_id"].to_numpy(), rp["rx"].to_numpy(), rp["ry"].to_numpy(),
                k, cs, max_radius_cells,
            )
            if local is not None:
                import numpy as np
                import pandas as pd

                pdf = pd.DataFrame(
                    {
                        "l_id": np.asarray(local[0], dtype=np.int64),
                        "r_id": np.asarray(local[1], dtype=np.int64),
                        "rn": np.asarray(local[2], dtype=np.int32),
                        "dist": np.asarray(local[3], dtype=np.float64),
                    }
                )
                # Arrow path (no nulls, fixed dtypes) — avoids
                # pickling n*k rows through parallelize
                return left.sparkSession.createDataFrame(pdf)

    R = checkpoint_df(R, eager=True)

    # Density-adaptive cell size (distributed path only; results are
    # provably invariant to cell size — the (2R+1)^2 probe square plus the
    # kdist <= R*cs resolution rule stay exact for ANY cs). A fixed
    # cell_size is a scale trap: candidate pairs per left grow linearly
    # with point density, so 10x the rows in the same extent means 100x
    # the rows through the ranking window (measured: geo_lof_outliers
    # 478 s / executor OOM at 10x sf0.1). Size cells from the right side's
    # measured density instead, targeting ~4k/9 points per cell so a
    # radius-1 probe square carries ~4k candidates — enough to resolve a
    # uniform-density left in round one, independent of scale. One extra
    # metadata-cheap aggregate over the already-checkpointed R pays for it.
    cs_eff, max_radius_eff = cs, max_radius_cells
    n_right_total = None
    if not _ADAPTIVE_KNN_CELL_DISABLED:
        import math

        st = R.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rx").alias("x0"), F.max("rx").alias("x1"),
            F.min("ry").alias("y0"), F.max("ry").alias("y1"),
        ).first()
        n_r = int(st["n"] or 0)
        n_right_total = n_r
        if n_r > 0 and None not in (st["x0"], st["x1"], st["y0"], st["y1"]):
            ex, ey = st["x1"] - st["x0"], st["y1"] - st["y0"]
            if ex > 0.0 and ey > 0.0 and math.isfinite(ex * ey):
                cs_ad = math.sqrt(4.0 * float(k) * ex * ey / (9.0 * n_r))
                # packed-key guard: keep |floor(coord/cs)| well under 2^20
                # (collisions would only add spurious candidates — still
                # exact — but degrade the equi-join's selectivity)
                lim = max(abs(st["x0"]), abs(st["x1"]),
                          abs(st["y0"]), abs(st["y1"]))
                if lim > 0.0:
                    cs_ad = max(cs_ad, lim / float(1 << 19))
                if math.isfinite(cs_ad) and cs_ad > 0.0:
                    cs_eff = cs_ad
                    # preserve the ABSOLUTE straggler cutoff the caller
                    # implied (max_radius_cells * cs) before the broadcast
                    # fallback engages; the doubling ladder keeps round
                    # count logarithmic in the ratio
                    max_radius_eff = max(
                        1, math.ceil(max_radius_cells * cs / cs_eff)
                    )

    R = R.withColumn(
        "__cell",
        F.floor(F.col("rx") / cs_eff).cast("long") * F.lit(1 << 21)
        + F.floor(F.col("ry") / cs_eff).cast("long"),
    )

    from pyspark.sql import Window

    w = Window.partitionBy("l_id").orderBy("dist", "r_id")
    wa = Window.partitionBy("l_id")
    dx = F.col("lx") - F.col("rx")
    dy = F.col("ly") - F.col("ry")
    dist = F.sqrt(dx * dx + dy * dy)  # explicit products: IEEE-identical
    # to the same expression in any other engine (pow() would not be)

    def topk(cand):
        ranked = cand.withColumn("dist", dist).withColumn(
            "rn", F.row_number().over(w)
        )
        return ranked.withColumn("cnt", F.count(F.lit(1)).over(wa)).withColumn(
            "kdist", F.max(F.when(F.col("rn") <= k, F.col("dist"))).over(wa)
        )

    out = []
    remaining = checkpoint_df(L, eager=True)
    n_rem = remaining.count()
    radius = 1
    while radius <= max_radius_eff and n_rem > 0:
        # Straggler tail: once the remaining-lefts x right-rows product fits
        # the same dense budget the local path uses, one bounded broadcast
        # scan is strictly cheaper than more grid rounds (each round is 3
        # sequential job barriers; measured 0.77 s for a SINGLE remaining
        # left at 10x sf0.1). Exact either way — the fallback ranks against
        # ALL rights.
        if (
            n_right_total is not None
            and n_rem * n_right_total <= (1 << 26)
        ):
            break
        cx = F.floor(F.col("lx") / cs_eff).cast("long")
        cy = F.floor(F.col("ly") / cs_eff).cast("long")
        cells = F.flatten(
            F.transform(
                F.sequence(cx - radius, cx + radius),
                lambda ix: F.transform(
                    F.sequence(cy - radius, cy + radius),
                    lambda iy: ix * F.lit(1 << 21) + iy,
                ),
            )
        )
        probe = remaining.withColumn("__cell", F.explode(cells))
        ranked = topk(probe.join(R, on="__cell"))
        # checkpoint the resolved top-k ONCE; both the emitted rows and
        # the anti-join read it, so the candidate join + window never
        # recompute (they are the round's dominant cost)
        resolved = checkpoint_df(
            ranked.filter(
                (F.col("cnt") >= k)
                & (F.col("kdist") <= F.lit(radius * cs_eff))
                & (F.col("rn") <= k)
            ).select("l_id", "r_id", "rn", "dist"),
            eager=True,
        )
        out.append(resolved)
        remaining = checkpoint_df(
            remaining.join(
                resolved.select("l_id").distinct(), on="l_id", how="left_anti"
            ),
            eager=True,
        )
        n_rem = remaining.count()  # cheap: counts the checkpointed blocks
        radius *= 2

    if n_rem > 0:
        # exact fallback: linear scan for the isolated stragglers
        ranked = topk(F.broadcast(remaining).crossJoin(R.drop("__cell")))
        out.append(ranked.filter(F.col("rn") <= k).select("l_id", "r_id", "rn", "dist"))

    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def haversine_expr(lon1, lat1, lon2, lat2, radius_m: float = 6371008.8):
    """Great-circle distance in meters as a NATIVE column expression
    (whole-stage codegen; mirrors wkb.algorithms.haversine_distance's
    formula so SQL oracles replay it verbatim)."""
    s_lat = F.sin(F.radians(lat2 - lat1) / F.lit(2.0))
    s_lon = F.sin(F.radians(lon2 - lon1) / F.lit(2.0))
    h = s_lat * s_lat + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * s_lon * s_lon
    return F.lit(2.0 * radius_m) * F.asin(F.sqrt(F.least(F.lit(1.0), h)))


def dwithin_sphere_join(
    left: DataFrame,
    right: DataFrame,
    eps_m: float,
    l_id: str = "l_id",
    l_lon: str = "lon",
    l_lat: str = "lat",
    r_id: str = "r_id",
    r_lon: str = "lon",
    r_lat: str = "lat",
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """Distributed great-circle DWithin join over lon/lat point tables —
    the geography twin of the planar PBSM grid join. Candidates come from
    a lat/lon grid equi-join whose LONGITUDE cells are MODULAR, so pairs
    straddling the ±180 antimeridian land in adjacent (wrapped) cells
    instead of opposite map edges; refine is the exact native haversine.

    Cell sizing: lat cells are eps degrees; lon cells are
    eps / cos(max_abs_lat) degrees, so a 3x3 neighborhood still covers
    eps at the highest latitude in the equatorial band (max_abs_lat).
    Rows beyond max_abs_lat are NOT dropped: they route through a
    polar-cap partition per pole, gridded in azimuthal-equidistant
    coordinates about that pole (x, y) = (colat*cos(lon), colat*sin(lon)),
    where lon/lat cells degenerate. AEQD's tangential scale at colatitude
    theta is theta/sin(theta) >= 1 and radial scale is 1, and a short
    geodesic between two cap points stays within their max colatitude, so
    Euclidean AEQD distance overestimates great-circle separation by at
    most c = theta_max/sin(theta_max); cells of c*eps with a 3x3
    neighborhood therefore cover every true pair. Band/cap outputs are
    made disjoint by mutually-exclusive pair predicates (a missed-by-band
    pair has >=1 endpoint beyond max_abs_lat), so no pair is duplicated.

    Shape at scale: per partition (band, N cap, S cap) one explode(9) on
    the probe side + one shuffle keyed on the packed cell id + a codegen
    filter — no cartesian anywhere; empty caps cost empty scans.
    Output: (l_id, r_id, dist_m).
    """
    import math

    R = 6371008.8
    eps_deg = math.degrees(eps_m / R)
    # polar caps take rows within eps_deg of the band limit too (a cap
    # pair may have its second endpoint just inside the band)
    cap_margin_deg = 1.001 * eps_deg
    cap_floor = max_abs_lat - cap_margin_deg
    if cap_floor < 5.0:
        raise ValueError(
            f"dwithin_sphere_join: eps_m={eps_m!r} is too large for "
            f"max_abs_lat={max_abs_lat!r} (polar caps would reach within 5 "
            "degrees of the equator); use a smaller radius or a different "
            "join strategy"
        )
    cell_lat = eps_deg
    # exact max lon separation of an in-eps pair with both |lat| <=
    # max_abs_lat (haversine worst case: both points AT max_abs_lat):
    # 2*asin(sin(eps/2R)/cos(lat)) — strictly larger than the small-angle
    # eps_deg/cos(lat), so cells sized by the latter MISS pairs in the
    # last fraction of a degree below the limit. 1.001 guards the exact-
    # wrap floor below from landing a hair under the requirement.
    s = math.sin(eps_m / (2.0 * R)) / max(0.05, math.cos(math.radians(max_abs_lat)))
    req_lon = 1.001 * math.degrees(2.0 * math.asin(min(1.0, s)))
    # exact wrap with cells >= req_lon: FLOOR the cell count (ceil would
    # shrink cells below the requirement)
    n_lon = max(1, int(360.0 // req_lon)) if req_lon < 360.0 else 1
    cell_lon = 360.0 / n_lon
    PACK = 4 * n_lon  # lon index < n_lon; keep lat rows disjoint

    def lon_idx(lon):
        return F.floor((lon + F.lit(180.0)) / F.lit(cell_lon)).cast("long")

    def lat_idx(lat):
        return F.floor((lat + F.lit(90.0)) / F.lit(cell_lat)).cast("long")

    L = left.select(
        F.col(l_id).alias("__lid"),
        F.col(l_lon).cast("double").alias("__llon"),
        F.col(l_lat).cast("double").alias("__llat"),
    )
    Rt = right.select(
        F.col(r_id).alias("__rid"),
        F.col(r_lon).cast("double").alias("__rlon"),
        F.col(r_lat).cast("double").alias("__rlat"),
    )
    d = haversine_expr(
        F.col("__llon"), F.col("__llat"), F.col("__rlon"), F.col("__rlat")
    )

    def refine(candidates):
        return (
            candidates.withColumn("dist_m", d)
            .filter(F.col("dist_m") <= F.lit(float(eps_m)))
        )

    # --- equatorial band: modular lon/lat grid over |lat| <= max_abs_lat
    band_l = L.filter(F.abs(F.col("__llat")) <= F.lit(max_abs_lat))
    band_r = Rt.filter(F.abs(F.col("__rlat")) <= F.lit(max_abs_lat))
    home = band_r.withColumn(
        "__cell",
        lat_idx(F.col("__rlat")) * F.lit(PACK)
        + F.pmod(lon_idx(F.col("__rlon")), F.lit(n_lon)),
    )
    cx = lon_idx(F.col("__llon"))
    cy = lat_idx(F.col("__llat"))
    cells = F.flatten(
        F.transform(
            F.sequence(cy - 1, cy + 1),
            lambda iy: F.transform(
                F.sequence(cx - 1, cx + 1),
                lambda ix: iy * F.lit(PACK) + F.pmod(ix, F.lit(n_lon)),
            ),
        )
    )
    # array_distinct: with very large eps (n_lon < 3) the wrapped lon
    # neighborhood collapses onto itself — dedupe so each (probe, home)
    # pair joins exactly once
    probe = band_l.withColumn("__cell", F.explode(F.array_distinct(cells)))
    res = refine(probe.join(home, on="__cell"))

    # --- polar caps: AEQD grid about each pole over |lat| > cap_floor,
    # keeping exactly the pairs the band cannot see (>=1 endpoint beyond
    # max_abs_lat), with the south cap additionally excluding any pair the
    # north cap already claims so the three outputs partition the matches.
    theta_max = math.radians(90.0 - cap_floor)
    c_scale = theta_max / math.sin(theta_max)
    # |x|, |y| <= colat <= 90 - cap_floor deg -> |ix|,|iy| <= colat/cell.
    # The packed id (ix+off)*stride + iy+off must stay injective, so the
    # cell is floored such that the index range fits the offset — a
    # LARGER cell is always safe (the exact refine stands), it just
    # admits more candidates; aliasing across AEQD strips would too, but
    # then the grid no longer bounds candidate counts.
    cap_off = 1 << 29  # 4*off^2 < 2^60: packed ids fit a long
    cap_pack = 1 << 30
    cap_cell = max(c_scale * eps_deg, (90.0 - cap_floor) / (cap_off - 2))

    def aeqd_xy(lat_col, lon_col, pole: int):
        theta = F.lit(90.0) - F.lit(float(pole)) * lat_col  # colat, degrees
        lon_r = F.radians(lon_col)
        return theta * F.cos(lon_r), theta * F.sin(lon_r)

    def cap_join(pole: int, keep):
        sgn = F.lit(float(pole))
        cl = L.filter(sgn * F.col("__llat") > F.lit(cap_floor))
        cr = Rt.filter(sgn * F.col("__rlat") > F.lit(cap_floor))
        rx, ry = aeqd_xy(F.col("__rlat"), F.col("__rlon"), pole)
        chome = cr.withColumn(
            "__cell",
            (F.floor(rx / F.lit(cap_cell)).cast("long") + F.lit(cap_off))
            * F.lit(cap_pack)
            + F.floor(ry / F.lit(cap_cell)).cast("long") + F.lit(cap_off),
        )
        lx, ly = aeqd_xy(F.col("__llat"), F.col("__llon"), pole)
        cix = F.floor(lx / F.lit(cap_cell)).cast("long")
        ciy = F.floor(ly / F.lit(cap_cell)).cast("long")
        ccells = F.flatten(
            F.transform(
                F.sequence(cix - 1, cix + 1),
                lambda ix: F.transform(
                    F.sequence(ciy - 1, ciy + 1),
                    lambda iy: (ix + F.lit(cap_off)) * F.lit(cap_pack)
                    + iy + F.lit(cap_off),
                ),
            )
        )
        cprobe = cl.withColumn("__cell", F.explode(ccells))
        return refine(cprobe.join(chome, on="__cell")).filter(keep)

    beyond_n = (F.col("__llat") > F.lit(max_abs_lat)) | (
        F.col("__rlat") > F.lit(max_abs_lat)
    )
    beyond_s = (F.col("__llat") < F.lit(-max_abs_lat)) | (
        F.col("__rlat") < F.lit(-max_abs_lat)
    )
    res = res.unionByName(cap_join(1, beyond_n))
    res = res.unionByName(cap_join(-1, beyond_s & ~beyond_n))
    return res.select(
        F.col("__lid").alias(l_id),
        F.col("__rid").alias(r_id),
        "dist_m",
    )
