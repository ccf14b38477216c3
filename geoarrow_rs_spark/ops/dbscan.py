"""Distributed DBSCAN over point columns (ST_ClusterDBSCAN parity).

Density clustering the reference leaves to its R-tree building blocks
(rust/geoarrow-old/src/indexed/array.rs + rstar); PostGIS ships it as the
window function ST_ClusterDBSCAN. Here it is a composition of the
engine's existing scale patterns — no new physical machinery:

1. eps-neighbor pairs via the PBSM grid (cell = eps, 3x3 probe explode,
   equi-join on cell id, native distance filter) — exactly the
   spatial-join candidate plan, so no all-pairs stage ever exists;
2. core points = neighbor count >= min_pts (map-side combinable count);
3. cluster ids = connected components over core-core edges, reusing the
   min-label-propagation loop from datapipe.dedup (a checkpoint per
   round, driver checks convergence only);
4. border points take the smallest cluster id among their core
   neighbors (deterministic, unlike "first reached" textbook DBSCAN);
   everything else is noise (NULL cluster).

All candidate generation is bucketed equi-joins — the operator scales
exactly as far as the spatial join and dedup clustering it is built from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpoint import checkpoint_df, collect_small

_PACK = 1 << 21


def _home_cell(x, y, cs: float):
    return (
        F.floor(x / F.lit(cs)).cast("long") * F.lit(_PACK)
        + F.floor(y / F.lit(cs)).cast("long")
    )


def eps_neighbor_pairs(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
) -> DataFrame:
    """All ordered pairs (a, b) with euclidean distance <= eps, a != b.

    Grid equi-join with cell size = eps: every true neighbor of a point
    lies within its 3x3 cell neighborhood, so the probe explode is a
    constant 9 cells per row and the join is a plain shuffle on cell id."""
    cs = float(eps)
    P = df.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x_col).cast("double").alias("px"),
        F.col(y_col).cast("double").alias("py"),
    )
    home = P.select(
        F.col("pid").alias("b"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        _home_cell(F.col("px"), F.col("py"), cs).alias("__cell"),
    )
    cx = F.floor(F.col("px") / cs).cast("long")
    cy = F.floor(F.col("py") / cs).cast("long")
    cells = F.flatten(
        F.transform(
            F.sequence(cx - 1, cx + 1),
            lambda ix: F.transform(
                F.sequence(cy - 1, cy + 1), lambda iy: ix * F.lit(_PACK) + iy
            ),
        )
    )
    probe = P.withColumn("__cell", F.explode(cells))
    dx = F.col("px") - F.col("bx")
    dy = F.col("py") - F.col("by")
    return (
        probe.join(home, on="__cell")
        .filter(F.col("pid") != F.col("b"))
        .filter(dx * dx + dy * dy <= F.lit(cs * cs))
        .select(F.col("pid").alias("a"), "b")
    )


_LOCAL_DBSCAN_MAX_POINTS = 30_000
_LOCAL_DBSCAN_MAX_EDGES = 5_000_000


def _dbscan_local(ids, xs, ys, eps: float, min_pts: int):
    """Driver-local DBSCAN over collected points — the same arithmetic as
    the distributed composition (dx*dx + dy*dy <= eps*eps in IEEE doubles,
    cluster id = smallest core id in the component, border = min
    neighboring core cluster), computed block-wise in numpy. Returns a
    ``pyarrow.Table`` ``(id, cluster_id, role)`` with NULL cluster ids for
    noise, or None if the edge set exceeds the local cap (caller falls
    back to the distributed path)."""
    import numpy as np
    import pyarrow as pa

    from ..datapipe.dedup import _cc_local

    ids = np.asarray(ids, dtype=np.int64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(ids)
    eps = float(eps)
    eps2 = eps * eps
    # same grid-cell candidate generation as the distributed plan: only
    # 3x3 neighborhoods are ever compared (O(n * density), not O(n^2))
    key = (
        np.floor(xs / eps).astype(np.int64) * _PACK
        + np.floor(ys / eps).astype(np.int64)
    )
    order = np.argsort(key, kind="stable")
    sk = key[order]
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]]) if n else np.empty(0, int)
    bounds = np.r_[starts, n]
    cells = {
        int(sk[s]): order[s:e] for s, e in zip(bounds[:-1], bounds[1:])
    }
    ea, eb = [], []
    counts = np.zeros(n, dtype=np.int64)
    n_edges = 0
    for ck, idx in cells.items():
        cand_parts = [
            cells[ck + ox * _PACK + oy]
            for ox in (-1, 0, 1)
            for oy in (-1, 0, 1)
            if (ck + ox * _PACK + oy) in cells
        ]
        cand = np.concatenate(cand_parts)
        if len(idx) * len(cand) > (1 << 26):
            # one hyper-dense cell would materialize a multi-GB matrix
            # before the edge cap could fire — distributed path instead
            return None
        dx = xs[idx][:, None] - xs[cand][None, :]
        dy = ys[idx][:, None] - ys[cand][None, :]
        mask = (dx * dx + dy * dy) <= eps2
        mask &= idx[:, None] != cand[None, :]
        counts[idx] = mask.sum(axis=1)
        ii, jj = np.nonzero(mask)
        n_edges += len(ii)
        if n_edges > _LOCAL_DBSCAN_MAX_EDGES:
            return None
        ea.append(idx[ii])
        eb.append(cand[jj])
    a = np.concatenate(ea) if ea else np.empty(0, dtype=np.int64)
    b = np.concatenate(eb) if eb else np.empty(0, dtype=np.int64)
    is_core = (counts + 1) >= int(min_pts)
    cc_mask = is_core[a] & is_core[b]
    labels = _cc_local(ids[a[cc_mask]], ids[b[cc_mask]])
    if labels is None:
        return None
    # cluster id per point index: core points take their component min
    # (singleton cores keep their own id), vectorized via sorted-id lookup
    lab_nodes, lab_vals = labels
    sort_ids = np.argsort(ids, kind="stable")
    sorted_ids = ids[sort_ids]
    cluster = np.where(is_core, ids, np.int64(-1))
    cluster[sort_ids[np.searchsorted(sorted_ids, lab_nodes)]] = lab_vals
    # border: non-core with >= 1 core neighbor -> min neighboring cluster
    bmask = ~is_core[a] & is_core[b]
    none = np.iinfo(np.int64).max
    border_min = np.full(n, none)
    np.minimum.at(border_min, a[bmask], cluster[b[bmask]])
    noise = ~is_core & (border_min == none)
    return pa.table({
        "id": ids,
        "cluster_id": pa.array(np.where(is_core, cluster, border_min), mask=noise),
        "role": np.where(is_core, "core", np.where(noise, "noise", "border")),
    })


def dbscan(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
    max_iter: int = 25,
) -> DataFrame:
    """DBSCAN cluster assignment.

    Returns one row per input id: ``(id_col, cluster_id, role)`` where
    role is 'core' | 'border' | 'noise', cluster_id is the smallest core
    id in the cluster (NULL for noise). ``min_pts`` counts the point
    itself, matching the classic |N_eps(p)| >= minPts definition."""
    from ..datapipe.dedup import dedup_clusters

    # Small-input fast path: probe with limit(cap + 1) — if the point set
    # fits on the driver, the whole algorithm runs in numpy with identical
    # arithmetic (one job + one Arrow createDataFrame instead of ~8 shuffle
    # stages). The grid/CC composition below remains the at-scale path.
    probe = collect_small(
        df.select(
            F.col(id_col).cast("long").alias("pid"),
            F.col(x_col).cast("double").alias("px"),
            F.col(y_col).cast("double").alias("py"),
        ),
        _LOCAL_DBSCAN_MAX_POINTS,
    )
    if probe is not None:
        local = _dbscan_local(
            probe["pid"].to_numpy(), probe["px"].to_numpy(),
            probe["py"].to_numpy(), eps, min_pts,
        )
        if local is not None:
            return df.sparkSession.createDataFrame(
                local.rename_columns([id_col, "cluster_id", "role"]),
                f"{id_col} long, cluster_id long, role string",
            )

    pairs = checkpoint_df(
        eps_neighbor_pairs(df, id_col, x_col, y_col, eps), eager=True
    )
    # neighbor count includes the point itself
    counts = pairs.groupBy("a").agg((F.count(F.lit(1)) + 1).alias("n_nb"))
    ids = df.select(F.col(id_col).cast("long").alias("pid"))
    core = checkpoint_df(
        ids.join(counts, ids.pid == counts.a, "left").select(
            "pid", (F.coalesce("n_nb", F.lit(1)) >= min_pts).alias("is_core")
        ),
        eager=True,
    )
    core_ids = core.filter("is_core").select("pid")
    core_edges = (
        pairs.join(core_ids.withColumnRenamed("pid", "a"), on="a")
        .join(core_ids.withColumnRenamed("pid", "b"), on="b")
        .select("a", "b")
    )
    assign = dedup_clusters(
        core_ids.withColumnRenamed("pid", "doc_id"),
        core_edges,
        id_col="doc_id",
        a_col="a",
        b_col="b",
        max_iter=max_iter,
    ).select(F.col("doc_id").alias("cpid"), "cluster_id")

    # border: non-core with >= 1 core neighbor -> min neighbor-core cluster
    border = (
        pairs.join(core.filter("is_core").select(F.col("pid").alias("b")), on="b")
        .join(assign, F.col("b") == F.col("cpid"))
        .groupBy("a")
        .agg(F.min("cluster_id").alias("b_cluster"))
    )
    out = (
        core.join(assign, core.pid == assign.cpid, "left")
        .join(border, core.pid == border.a, "left")
        .select(
            F.col("pid").alias(id_col),
            F.when(F.col("is_core"), F.col("cluster_id"))
            .otherwise(F.col("b_cluster"))
            .alias("cluster_id"),
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("b_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
    )
    return out
