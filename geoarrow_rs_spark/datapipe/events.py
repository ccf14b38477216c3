"""Event-funnel analytics as native DataFrame ops.

The ordered k-step funnel ("of users who did A, how many then did B,
then C, within a window") is the flagship product-analytics query; no
reference-engine analogue exists (geoarrow-rs is an array-kernel
library), so this sits in the beyond-reference event family next to
retention / sessions / attribution in queries.py.

Semantics: FIRST-TOUCH with greedy step matching — t1 is the user's
earliest step-1 event; each later step is the earliest qualifying event
after the previous step's match, optionally capped at ``t1 + window``.
This is the semantics of the standard funnel tools; note the greedy
window-capped chain is not guaranteed to find a completion that a later
t1 would have found (the documented first-touch trade-off).

Scale shape: one plan with a single exchange keyed on the user column.
Step times come from unordered windows over ``partitionBy(user)`` (t_i
depends on t_{i-1}, so the k windows stack on the same partitioning),
the per-user row is a distinct over that partitioning, and the report is
one global aggregate. No checkpoint and no job runs while the plan is
built. State per user is k timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def funnel(
    events: DataFrame,
    steps: list,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    window=None,
) -> DataFrame:
    """Per-user step-completion times for an ordered funnel.

    Output: one row per user who completed ALL ``len(steps)`` steps, with
    columns ``t1 .. tk`` (the matched event times). A user whose step-1
    events all have NULL times starts the funnel with ``t1`` NULL and goes
    no further; a NULL user reaches step 1 only. Use :func:`funnel_counts`
    for the usual step-counts report. ``window`` (same unit as ``ts_col``)
    caps every step at ``t1 + window``.
    """
    per_user = _funnel_per_user(events, steps, user_col, type_col, ts_col, window)
    last = F.col("__has1") if len(steps) == 1 else F.col(f"t{len(steps)}").isNotNull()
    return per_user.where(last).drop("__has1")


def _funnel_per_user(events, steps, user_col, type_col, ts_col, window):
    """One row per user with a step-1 event: ``user_col, __has1, t1..tk``
    (t_i NULL where the user stopped before step i)."""
    w = Window.partitionBy(user_col)
    ts = F.col(ts_col)
    is_step = [F.col(type_col) == F.lit(s) for s in steps]
    df = events.where(F.col(type_col).isin(*steps)).select(
        user_col, type_col, ts_col,
        F.max(is_step[0]).over(w).alias("__has1"),
        F.min(F.when(is_step[0], ts)).over(w).alias("t1"),
    )
    for i in range(2, len(steps) + 1):
        # a NULL user never reaches step 2: the staged definition joins
        # each step on the user key, and NULL keys never match
        cond = is_step[i - 1] & F.col(user_col).isNotNull() & (ts > F.col(f"t{i - 1}"))
        if window is not None:
            cond = cond & (ts <= F.col("t1") + F.lit(window))
        df = df.withColumn(f"t{i}", F.min(F.when(cond, ts)).over(w))
    cols = [user_col, "__has1"] + [f"t{i}" for i in range(1, len(steps) + 1)]
    return df.select(*cols).where(F.col("__has1")).distinct()


def funnel_counts(
    events: DataFrame,
    steps: list,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    window=None,
) -> DataFrame:
    """The funnel report: one row per step with the user count and the
    exact integer-ppm conversion vs step 1 — one global aggregate over
    the per-user funnel rows, exploded into the k report rows (one user
    exchange, no per-step count() jobs)."""
    per_user = _funnel_per_user(events, steps, user_col, type_col, ts_col, window)
    counts = per_user.agg(
        F.count(F.lit(1)).alias("n1"),
        *[F.count(f"t{i}").alias(f"n{i}") for i in range(2, len(steps) + 1)],
    )
    rows = F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("step"),
            F.lit(name).alias("step_name"),
            F.col(f"n{i}").alias("n_users"),
        )
        for i, name in enumerate(steps, start=1)
    ])).alias("r")
    return counts.select(rows, "n1").select(
        "r.step", "r.step_name", "r.n_users",
        F.when(
            F.col("n1") > 0, F.expr("r.n_users * 1000000 div n1")
        ).otherwise(F.lit(0)).cast("long").alias("conv_ppm"),
    )
