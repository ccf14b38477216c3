"""Local Outlier Factor over point columns (Breunig, Kriegel, Ng,
Sander: "LOF: Identifying Density-Based Local Outliers", SIGMOD 2000 —
public algorithm), composed entirely from the engine's exact spatial kNN
join.

Variant note: classic LOF's k-distance NEIGHBORHOOD can exceed k rows
under distance ties; this implementation uses EXACTLY k neighbors with
deterministic (distance, id) tie-break — the same definition on both
engines, which is what makes the oracle bit-exact.

Scale shape: one kNN join (grid rounds + straggler broadcast, see
join.knn_spatial_join), then three keyed joins/aggregations over the
n*k neighbor table — no stage ever materializes more than k rows per
point. Reachability and LOF means accumulate round(x, 12) decimals, so
partition/summation order cannot change the rounded result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..checkpoint import checkpoint_df, collect_small

_LOCAL_LOF_MAX = 50_000


def _lof_local(ids, xs, ys, k, cs, max_radius_cells):
    """Driver-local LOF: the local grid kNN (bit-identical to the
    distributed join) plus the reachability/lrd/lof chain with every
    decimal operation replicated exactly — round(x, 12) is HALF_UP on the
    shortest repr (Spark F.round), DECIMAL(38,12) sums are exact integer
    sums at 1e12 scale, CAST AS DOUBLE is the nearest double. Returns
    [(id, lof)] or None on bail."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from ..join.spatial import _knn_local

    E12 = Decimal("1e-12")

    def r12(x):
        # F.round(double, 12): HALF_UP at 12 dp, result as double
        return float(Decimal(repr(float(x))).quantize(E12, rounding=ROUND_HALF_UP))

    def dec12_scaled(x):
        # CAST(double AS DECIMAL(38,12)) as an integer at 1e12 scale
        return int(
            Decimal(repr(float(x))).quantize(E12, rounding=ROUND_HALF_UP).scaleb(12)
        )

    # degenerate inputs (NaN coordinates, all-co-located neighborhoods
    # that zero out reach sums) take the distributed path rather than
    # risk a local/distributed behavior divergence
    if not (np.isfinite(np.asarray(xs, dtype=np.float64)).all()
            and np.isfinite(np.asarray(ys, dtype=np.float64)).all()):
        return None
    res = _knn_local(ids, xs, ys, ids, xs, ys, k + 1, cs, max_radius_cells)
    if res is None:
        return None
    l_arr, r_arr, _rn, d_arr = (np.asarray(a) for a in res)
    # drop self, re-rank by (dist, r_id), keep exactly k — mirrors the
    # re-rank window in the distributed pipeline
    keep = l_arr != r_arr
    l_arr, r_arr, d_arr = l_arr[keep], r_arr[keep], d_arr[keep]
    order = np.lexsort((r_arr, d_arr, l_arr))
    l_arr, r_arr, d_arr = l_arr[order], r_arr[order], d_arr[order]
    starts = np.flatnonzero(np.r_[True, l_arr[1:] != l_arr[:-1]])
    bounds = np.r_[starts, len(l_arr)]
    sel = np.concatenate(
        [np.arange(s, min(s + k, e)) for s, e in zip(bounds[:-1], bounds[1:])]
    ) if len(l_arr) else np.empty(0, dtype=np.int64)
    l_arr, r_arr, d_arr = l_arr[sel], r_arr[sel], d_arr[sel]

    uids = np.unique(l_arr)
    kdist = {}
    reach_sum = {}
    nn_by_l = {}
    i = 0
    while i < len(l_arr):
        j = i
        lid = l_arr[i]
        while j < len(l_arr) and l_arr[j] == lid:
            j += 1
        kdist[int(lid)] = float(d_arr[j - 1])
        nn_by_l[int(lid)] = (r_arr[i:j], d_arr[i:j])
        i = j
    lrd = {}
    for lid in uids:
        rs, ds = nn_by_l[int(lid)]
        s = 0
        for rid, dist in zip(rs, ds):
            reach = max(kdist[int(rid)], float(dist))
            # distributed: round(reach, 12) to double FIRST, then the
            # decimal cast — compose both steps
            s += dec12_scaled(r12(reach))
        if s == 0:
            # >= k co-located duplicates: Spark's double division yields
            # Infinity and nulls propagate through the decimal casts —
            # let the distributed path own that edge case
            return None
        lrd[int(lid)] = float(k) / float(Decimal(s).scaleb(-12))
    out = []
    for lid in uids:
        rs, _ds = nn_by_l[int(lid)]
        s = 0
        for rid in rs:
            s += dec12_scaled(r12(lrd[int(rid)]))
        val = float(Decimal(s).scaleb(-12)) / float(k) / lrd[int(lid)]
        out.append((int(lid), r12_8(val)))
    return out


def r12_8(x):
    """F.round(double, 8) replica."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(Decimal("1e-8"), rounding=ROUND_HALF_UP)
    )


def lof_scores(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    k: int = 5,
    cell_size: float = 1.0,
    max_radius_cells: int = 8,
) -> DataFrame:
    """LOF score per point: ~1 inside uniform-density regions, >> 1 for
    points whose local density is far below their neighbors'. Returns
    ``(id_col, lof)`` with lof rounded to 8 decimals."""
    from ..join.spatial import knn_spatial_join

    # Small-input fast path (limit probe, same pattern as dbscan): the
    # whole kNN + reachability chain runs on the driver with bit-exact
    # decimal replication — one job + one createDataFrame.
    probe = collect_small(
        df.select(
            F.col(id_col).cast("long").alias("pid"),
            F.col(x_col).cast("double").alias("px"),
            F.col(y_col).cast("double").alias("py"),
        ),
        _LOCAL_LOF_MAX,
    )
    if probe is not None:
        local = _lof_local(
            probe["pid"].to_numpy(), probe["px"].to_numpy(),
            probe["py"].to_numpy(), k, cell_size, max_radius_cells,
        )
        if local is not None:
            import numpy as np
            import pandas as pd

            pdf = pd.DataFrame(
                {
                    id_col: np.asarray([r[0] for r in local], dtype=np.int64),
                    "lof": np.asarray([r[1] for r in local], dtype=np.float64),
                }
            )
            return df.sparkSession.createDataFrame(pdf)

    nn = knn_spatial_join(
        df, df, k=k + 1,
        left_id=id_col, right_id=id_col,
        left_xy=(x_col, y_col), right_xy=(x_col, y_col),
        cell_size=cell_size, max_radius_cells=max_radius_cells,
    ).filter(F.col("l_id") != F.col("r_id"))
    # exactly k neighbors after dropping self (self may not be rank 1 when
    # duplicate coordinates tie at distance 0 — re-rank to be safe)
    w = Window.partitionBy("l_id").orderBy("dist", "r_id")
    nn = checkpoint_df(
        nn.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("l_id", "r_id", "dist"),
        eager=True,
    )

    kdist = nn.groupBy("l_id").agg(F.max("dist").alias("kdist"))
    reach = nn.join(
        kdist.select(F.col("l_id").alias("r_id"), "kdist"), on="r_id"
    ).select(
        "l_id", "r_id",
        F.greatest(F.col("kdist"), F.col("dist")).alias("reach"),
    )
    # lrd(p) = k / sum(reach) — one double division over an exact decimal sum
    lrd = reach.groupBy("l_id").agg(
        (
            F.lit(float(k))
            / F.sum(F.round(F.col("reach"), 12).cast("decimal(38,12)")).cast("double")
        ).alias("lrd")
    )
    lof = (
        nn.join(lrd.select(F.col("l_id").alias("r_id"), F.col("lrd").alias("lrd_o")), on="r_id")
        .join(lrd, on="l_id")
        .groupBy("l_id", "lrd")
        .agg(
            F.sum(F.round(F.col("lrd_o"), 12).cast("decimal(38,12)")).alias("__ls")
        )
        .select(
            F.col("l_id").alias(id_col),
            F.round(
                F.col("__ls").cast("double") / F.lit(float(k)) / F.col("lrd"), 8
            ).alias("lof"),
        )
    )
    return lof
