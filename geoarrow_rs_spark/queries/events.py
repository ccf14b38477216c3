"""events query-catalog entries (split from queries.py, round 6)."""

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



def events_sliding_windows(spark, sf_dir):
    """Sliding windows (1h window, 30m slide) — native window() over
    microsecond timestamps."""
    e = _t(spark, sf_dir, "events")
    ts = F.timestamp_micros(F.expr("ts div 1000"))
    return (
        e.withColumn("__ts", ts)
        .groupBy(F.window("__ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


ORACLE_EVENTS_SLIDING = """
SELECT win_start, event_type, COUNT(*) AS n_events
FROM (
  SELECT ((epoch_ns(ts) // 1000) // 1800000000) * 1800 - k.k AS win_start, event_type
  FROM events, (SELECT UNNEST([0, 1800]) AS k) k
)
GROUP BY win_start, event_type
"""


def events_retention(spark, sf_dir):
    """Cohort retention: users bucketed by first-active day, distinct
    users counted per (cohort day, day offset) — the classic engagement
    matrix. Day arithmetic is exact int64-ns integer division; the
    cohort join keys on user_id, the same key as the groupBy that
    produced it, so the cohort table arrives pre-shuffled (no extra
    exchange at scale)."""
    e = _t(spark, sf_dir, "events")
    day = F.expr("ts div 86400000000000")
    ud = e.select("user_id", day.alias("day")).distinct()
    # cohort via an unordered user window (min over the partition) instead
    # of groupBy + self-join: one fewer exchange, same values
    w = Window.partitionBy("user_id")
    ud = ud.withColumn("cohort_day", F.min("day").over(w))
    return ud.groupBy(
        "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
    ).agg(F.countDistinct("user_id").alias("n_users"))


def events_funnel_windowed(spark, sf_dir):
    """Ordered 3-step funnel view -> click -> purchase within 7 days
    (datapipe.events.funnel_counts): first-touch greedy matching as
    windows over one user_id exchange, per-step user counts + exact
    integer-ppm conversion vs step 1. The oracle is the staged
    min-after-previous-step construction (join + groupBy per step), so it
    checks the windowed plan independently."""
    from ..datapipe.events import funnel_counts

    e = _t(spark, sf_dir, "events")
    week_ns = 7 * 86_400_000_000_000
    return funnel_counts(
        e, ["view", "click", "purchase"], window=week_ns
    )


ORACLE_EVENTS_FUNNEL_WINDOWED = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events
), s1 AS (
  SELECT user_id, MIN(tns) AS t1 FROM e WHERE event_type = 'view'
  GROUP BY user_id
), s2 AS (
  SELECT e.user_id, s1.t1, MIN(e.tns) AS t2
  FROM e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.tns > s1.t1
    AND e.tns <= s1.t1 + 604800000000000
  GROUP BY e.user_id, s1.t1
), s3 AS (
  SELECT e.user_id, s2.t1, s2.t2, MIN(e.tns) AS t3
  FROM e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.tns > s2.t2
    AND e.tns <= s2.t1 + 604800000000000
  GROUP BY e.user_id, s2.t1, s2.t2
), counts AS (
  SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', COUNT(*) FROM s2
  UNION ALL
  SELECT 3, 'purchase', COUNT(*) FROM s3
)
SELECT CAST(step AS INT) AS step, step_name,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(CASE WHEN (SELECT n_users FROM counts WHERE step = 1) > 0
            THEN n_users * 1000000 // (SELECT n_users FROM counts WHERE step = 1)
            ELSE 0 END AS BIGINT) AS conv_ppm
FROM counts
"""


ORACLE_EVENTS_RETENTION = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
),
coh AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id)
SELECT c.cohort_day, u.day - c.cohort_day AS day_offset,
       COUNT(DISTINCT u.user_id) AS n_users
FROM ud u JOIN coh c ON u.user_id = c.user_id
GROUP BY 1, 2
"""


def events_interval_join(spark, sf_dir):
    """Banded interval join (join.interval.interval_join): every event
    within the 5 minutes following an error event, across ALL users — a
    pure interval-overlap join with no equi key. Left intervals explode
    to the time bins they cover, right points key to their single bin, so
    the join is a plain bin equi-join + codegen refine (each pair meets
    in exactly one bin — no dedup). Output: per error event, the count of
    trailing events and the min lag. Oracle is the brute-force
    inequality join — an independent algorithm."""
    from ..join.interval import interval_join

    e = _t(spark, sf_dir, "events")
    ns5m = 300 * 1_000_000_000
    errs = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
        (F.col("ts") + F.lit(ns5m)).alias("err_end"),
    )
    pts = e.select(F.col("event_id").alias("evt_id"), F.col("ts").alias("evt_ts"))
    joined = interval_join(
        errs, pts, "err_ts", "err_end", "evt_ts", bin_width=ns5m, closed="right"
    )
    return joined.groupBy("err_id").agg(
        F.count(F.lit(1)).alias("n_trailing"),
        F.min(F.col("evt_ts") - F.col("err_ts")).alias("min_lag_ns"),
    )


ORACLE_EVENTS_INTERVAL = """
SELECT a.event_id AS err_id, COUNT(*) AS n_trailing,
       MIN(epoch_ns(b.ts) - epoch_ns(a.ts)) AS min_lag_ns
FROM events a JOIN events b
  ON epoch_ns(b.ts) > epoch_ns(a.ts)
 AND epoch_ns(b.ts) <= epoch_ns(a.ts) + 300000000000
WHERE a.event_type = 'error'
GROUP BY a.event_id
"""


def events_kmv_distinct(spark, sf_dir):
    """KMV distinct-user sketch per event type (datapipe.sketch): k=16
    minimum md5-hash values, estimate (k-1)/h_k — deterministic, so the
    ESTIMATOR itself is oracle-checked (impossible with HLL), alongside
    the exact distinct for accuracy reading."""
    from ..datapipe import sketch

    e = _t(spark, sf_dir, "events")
    est = sketch.kmv_distinct(e, "user_id", ["event_type"], k=16)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, on="event_type")


ORACLE_EVENTS_KMV = """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substr(md5(concat('kmv:', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 AS hh
  FROM events
), r AS (
  SELECT event_type, hh,
         row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn
  FROM h
), t AS (
  SELECT event_type, COUNT(*) AS n_seen, MAX(hh) AS hk
  FROM r WHERE rn <= 16 GROUP BY event_type
), x AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct FROM events GROUP BY event_type
)
SELECT t.event_type, t.n_seen,
       CASE WHEN t.n_seen < 16 THEN CAST(t.n_seen AS DOUBLE)
            ELSE round(15.0 / t.hk, 6) END AS est_distinct,
       x.exact_distinct
FROM t JOIN x ON t.event_type = x.event_type
"""


def events_value_quantiles(spark, sf_dir):
    """Histogram quantile sketch (datapipe.sketch.histogram_quantiles):
    p50/p90/p99 of the value column per event type from 64 fixed-width
    buckets over [0, 600] — constant per-group state, one shuffle,
    linear interpolation inside the crossing bucket. Deterministic, so
    the whole estimator is oracle-replayed (percentile_approx/t-digest
    merges are engine-private and never could be)."""
    from ..datapipe import sketch

    e = _t(spark, sf_dir, "events")
    return sketch.histogram_quantiles(
        e, "value", ["event_type"], lo=0.0, hi=600.0, n_bins=64,
        quantiles=(0.5, 0.9, 0.99),
    )


ORACLE_EVENTS_HIST_QUANTILES = """
WITH h AS (
  SELECT event_type,
         least(63, greatest(0, CAST(floor((CAST(value AS DOUBLE) - 0.0) / 9.375) AS INT))) AS bin
  FROM events
), hist AS (SELECT event_type, bin, COUNT(*) AS cnt FROM h GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM hist
),
tot AS (SELECT event_type, SUM(cnt) AS total FROM hist GROUP BY 1),
qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
cand AS (
  SELECT c.event_type, q.q, c.bin, c.cnt, c.cum, t.total,
         row_number() OVER (PARTITION BY c.event_type, q.q ORDER BY c.bin) AS rn
  FROM cum c JOIN tot t ON c.event_type = t.event_type CROSS JOIN qs q
  WHERE CAST(c.cum AS DOUBLE) >= q.q * CAST(t.total AS DOUBLE)
)
SELECT event_type, q,
       round(0.0 + (CAST(bin AS DOUBLE)
                    + greatest(0.0, (q * CAST(total AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
                               / CAST(cnt AS DOUBLE))) * 9.375, 6) AS est
FROM cand WHERE rn = 1
"""


def events_hourly(spark, sf_dir):
    """Hourly event rollup with exact integer-cents value sums."""
    # ts column is int64 nanoseconds (see _t); hour bucket via exact
    # integer division — the batch analogue of window(ts, '1 hour')
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("hour_epoch", F.expr(f"(ts div {_NS_HOUR}) * 3600"))
        .groupBy("hour_epoch", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money_sum(F.col("value"), "sum_value"),
        )
    )


def events_funnel(spark, sf_dir):
    """Ordered-sequence funnel analysis (view -> click -> purchase, the
    MATCH_RECOGNIZE / funnel-chart workload): per user, the earliest view,
    the earliest click strictly after it, the earliest purchase strictly
    after that; stage user-counts plus exact int64-ns total latency for
    users converting within 24h. All native: three filtered min-aggregates
    chained by equi-joins on user_id — each stage's input is one row per
    user, so the joins broadcast/AQE-shrink at any scale."""
    e = _t(spark, sf_dir, "events")
    v = e.where("event_type = 'view'").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        e.where("event_type = 'click'")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.where("event_type = 'purchase'")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t3"))
    )
    day_ns = 24 * 3600 * 1_000_000_000
    conv = p.where(F.col("t3") - F.col("t1") <= day_ns)
    stages = [
        v.agg(F.lit("1_view").alias("stage"), F.count(F.lit(1)).alias("n_users"),
              F.lit(0).cast("long").alias("total_latency_ns")),
        c.agg(F.lit("2_click").alias("stage"), F.count(F.lit(1)).alias("n_users"),
              F.lit(0).cast("long").alias("total_latency_ns")),
        p.agg(F.lit("3_purchase").alias("stage"), F.count(F.lit(1)).alias("n_users"),
              F.lit(0).cast("long").alias("total_latency_ns")),
        conv.agg(
            F.lit("4_converted_24h").alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
            F.coalesce(F.sum(F.col("t3") - F.col("t1")), F.lit(0)).cast("long")
            .alias("total_latency_ns"),
        ),
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out


ORACLE_EVENTS_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(epoch_ns(ts)) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, v.t1, MIN(epoch_ns(e.ts)) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.t1
  GROUP BY e.user_id, v.t1
),
p AS (
  SELECT e.user_id, c.t1, MIN(epoch_ns(e.ts)) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t2
  GROUP BY e.user_id, c.t1
),
conv AS (SELECT * FROM p WHERE t3 - t1 <= 86400000000000)
SELECT '1_view' AS stage, COUNT(*) AS n_users, CAST(0 AS BIGINT) AS total_latency_ns FROM v
UNION ALL
SELECT '2_click', COUNT(*), CAST(0 AS BIGINT) FROM c
UNION ALL
SELECT '3_purchase', COUNT(*), CAST(0 AS BIGINT) FROM p
UNION ALL
SELECT '4_converted_24h', COUNT(*), CAST(COALESCE(SUM(t3 - t1), 0) AS BIGINT) FROM conv
"""


def events_windowed_topk(spark, sf_dir):
    """Per-window heavy hitters: top-2 event types by count in every
    6-hour window (count ties broken by type name) — the batch analogue
    of a streaming windowed top-k dashboard. One shuffle for the count,
    one for the per-window rank window; both keyed, both AQE-coalesced."""
    e = _t(spark, sf_dir, "events")
    counts = (
        e.withColumn("w6_epoch", F.expr(f"(ts div ({_NS_HOUR} * 6)) * 21600"))
        .groupBy("w6_epoch", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    from pyspark.sql import Window as W

    rank = F.row_number().over(
        W.partitionBy("w6_epoch").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
    )
    return (
        counts.withColumn("rank", rank.cast("long"))
        .where(F.col("rank") <= 2)
    )


ORACLE_EVENTS_TOPK = """
WITH counts AS (
  SELECT (epoch_ns(ts) // (3600000000000 * 6)) * 21600 AS w6_epoch,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT w6_epoch, event_type, n_events, rank FROM (
  SELECT w6_epoch, event_type, n_events,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY w6_epoch
             ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
  FROM counts
) WHERE rank <= 2
"""


def events_user_stats(spark, sf_dir):
    """Exact distinct users + exact linear-interpolation percentiles per
    event type (Spark `percentile` == DuckDB `quantile_cont` bit-exactly:
    same sort, same interpolation arithmetic)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.expr("percentile(value, 0.5)").alias("p50_value"),
        F.expr("percentile(value, 0.9)").alias("p90_value"),
    )


ORACLE_EVENTS_USER_STATS = """
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       quantile_cont(value, 0.5) AS p50_value,
       quantile_cont(value, 0.9) AS p90_value
FROM events
GROUP BY event_type
"""


def events_props_json(spark, sf_dir):
    """Semi-structured payload parsing stays native: get_json_object path
    extraction compiled by Catalyst (no UDF), exact integer aggregation."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.withColumn("__k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__k").alias("sum_k"),
            F.min("__k").alias("min_k"),
            F.max("__k").alias("max_k"),
        )
    )


ORACLE_EVENTS_PROPS = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def events_asof_join(spark, sf_dir):
    """As-of join: every click matched to the user's most recent purchase at
    or before it (backward, left-outer). Oracle uses DuckDB's NATIVE ASOF
    JOIN — this implementation is checked against a reference engine's own
    operator, not a SQL re-derivation."""
    from ..join.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("pvalue"))
        .withColumn("pts", F.col("ts"))
    )
    j = asof_join(clicks, purch, on="ts", by=["user_id"], value_cols=["pvalue", "pts"])
    return j.select(
        "event_id",
        F.col("pvalue_r").alias("last_purchase_value"),
        # DuckDB parses TIMESTAMP_NS parquet at microsecond precision, so the
        # oracle's epoch_ns is us-truncated; mirror that for the compare (the
        # join itself runs at full ns precision on the Spark side)
        (F.expr("pts_r div 1000") * 1000).alias("last_purchase_ts"),
    )


ORACLE_EVENTS_ASOF = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, ts, max_by(value, event_id) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id,
       p.pvalue AS last_purchase_value,
       epoch_ns(p.ts) AS last_purchase_ts
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def events_asof_forward(spark, sf_dir):
    """FORWARD as-of join: every click matched to the user's NEXT purchase
    at or after it (the time-to-conversion shape). Same one-shuffle
    tag-union pattern as backward with the scan order reversed; oracle is
    DuckDB's native ASOF with the inequality flipped."""
    from ..join.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("pvalue"))
        .withColumn("pts", F.col("ts"))
    )
    j = asof_join(
        clicks, purch, on="ts", by=["user_id"],
        value_cols=["pvalue", "pts"], direction="forward",
    )
    return j.select(
        "event_id",
        F.col("pvalue_r").alias("next_purchase_value"),
        (F.expr("pts_r div 1000") * 1000).alias("next_purchase_ts"),
    )


ORACLE_EVENTS_ASOF_FORWARD = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, ts, max_by(value, event_id) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id,
       p.pvalue AS next_purchase_value,
       epoch_ns(p.ts) AS next_purchase_ts
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts <= p.ts
"""


def events_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per user: each event's value weighted
    by the nanoseconds until the user's next event (lead window, ties
    broken by event_id), the classic sensor/price TWA. Numerator is an
    exact decimal sum of cent x ns products (too big for int64), so the
    result is engine-exact."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    dt = (F.lead("ts").over(w) - F.col("ts")).alias("__dt")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    d = e.select("user_id", cents.alias("__c"), dt).where(F.col("__dt").isNotNull())
    num = F.sum(F.col("__c").cast("decimal(38,0)") * F.col("__dt"))
    den = F.sum("__dt")
    return d.groupBy("user_id").agg(
        F.round(
            num.cast("double") / F.lit(100.0) / den.cast("double"), 6
        ).alias("twa"),
        den.alias("total_ns"),
    )


ORACLE_EVENTS_TWA = """
WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t, value FROM events),
d AS (
  SELECT user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
         lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dt
  FROM e
)
SELECT user_id,
       round(CAST(SUM(CAST(c AS DECIMAL(38,0)) * dt) AS DOUBLE) / 100.0
             / CAST(SUM(dt) AS DOUBLE), 6) AS twa,
       CAST(SUM(dt) AS BIGINT) AS total_ns
FROM d WHERE dt IS NOT NULL GROUP BY user_id
"""


def events_rolling_anomaly(spark, sf_dir):
    """Rolling-baseline anomaly detection: per user (ordered by ts,
    event_id), the mean of the previous 10 values (exact decimal cents
    over a ROWS frame — frame sums are order-defined, decimal makes them
    engine-exact); flag events whose value exceeds 2x the baseline with
    at least 5 priors. Returns flagged events only."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-10, -1)
    )
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    d = e.select(
        "user_id", "event_id", "ts", "value", cents.alias("__c")
    ).select(
        "user_id", "event_id", "value",
        F.sum(F.col("__c").cast("decimal(38,0)")).over(w).alias("__s"),
        F.count(F.lit(1)).over(w).alias("__n"),
    )
    mean = F.col("__s").cast("double") / F.col("__n").cast("double") / F.lit(100.0)
    return (
        d.where(F.col("__n") >= 5)
        .where(F.col("value") > F.lit(2.0) * mean)
        .select("user_id", "event_id", "value", F.round(mean, 6).alias("baseline"))
    )


ORACLE_EVENTS_ROLLING = """
WITH d AS (
  SELECT user_id, event_id, value,
         SUM(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DECIMAL(38,0)))
           OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                 ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS s,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                        ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS n
  FROM events
)
SELECT user_id, event_id, value,
       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS baseline
FROM d
WHERE n >= 5 AND value > 2.0 * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
"""


def events_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase credits the user's most
    recent preceding non-purchase event (backward as-of), revenue then
    rolls up by attributed channel — the standard marketing-attribution
    shape, built from the same one-shuffle as-of machinery. Unattributed
    purchases (no prior touch) fall into the 'none' bucket."""
    from ..join.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = (
        e.where(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("channel"))
    )
    j = asof_join(purchases, touches, on="ts", by=["user_id"], value_cols=["channel"])
    return (
        j.select(F.coalesce(F.col("channel_r"), F.lit("none")).alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            _money_sum(F.col("value"), "revenue"),
        )
    )


ORACLE_EVENTS_ATTRIBUTION = f"""
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, ts, MAX(event_type) AS channel
  FROM events WHERE event_type <> 'purchase' GROUP BY user_id, ts
),
attributed AS (
  SELECT COALESCE(t.channel, 'none') AS channel, p.value
  FROM purchases p ASOF LEFT JOIN touches t
    ON p.user_id = t.user_id AND p.ts >= t.ts
)
SELECT channel, COUNT(*) AS n_purchases,
       {_money_sum_sql('value', 'revenue')}
FROM attributed GROUP BY channel
"""


def events_expectations(spark, sf_dir):
    """Data-quality gate (ops.profile.check_expectations): five declared
    row expectations checked in ONE scan (conditional counts inside one
    aggregate — no per-rule jobs), violations as exact integer ppm. The
    pre-ingest validation block of any production feed."""
    from ..ops.profile import check_expectations

    e = _t(spark, sf_dir, "events")
    rules = {
        "value_non_negative": "value >= 0.0",
        "event_type_known": "event_type IN ('view','click','purchase','error','signup')",
        "user_id_in_range": "user_id >= 0 AND user_id < 1000000",
        "ts_in_2024": "ts >= 1704067200000000000 AND ts < 1735689600000000000",
        "props_present": "props IS NOT NULL AND length(props) > 0",
    }
    return check_expectations(e, rules)


ORACLE_EVENTS_EXPECTATIONS = """
WITH one AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CASE WHEN COALESCE(value >= 0.0, FALSE) THEN 0 ELSE 1 END) AS v_value,
         SUM(CASE WHEN COALESCE(event_type IN ('view','click','purchase','error','signup'), FALSE) THEN 0 ELSE 1 END) AS v_type,
         SUM(CASE WHEN COALESCE(user_id >= 0 AND user_id < 1000000, FALSE) THEN 0 ELSE 1 END) AS v_uid,
         SUM(CASE WHEN COALESCE(epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1735689600000000000, FALSE) THEN 0 ELSE 1 END) AS v_ts,
         SUM(CASE WHEN COALESCE(props IS NOT NULL AND length(props) > 0, FALSE) THEN 0 ELSE 1 END) AS v_props
  FROM events
)
SELECT r.rule, one.n_rows, CAST(r.v AS BIGINT) AS n_violations,
       CAST(r.v * 1000000 // one.n_rows AS BIGINT) AS violation_ppm
FROM one, (
  SELECT 'event_type_known' AS rule, v_type AS v FROM one
  UNION ALL SELECT 'props_present', v_props FROM one
  UNION ALL SELECT 'ts_in_2024', v_ts FROM one
  UNION ALL SELECT 'user_id_in_range', v_uid FROM one
  UNION ALL SELECT 'value_non_negative', v_value FROM one
) r
"""


def events_dau_wau(spark, sf_dir):
    """Daily/weekly active users + stickiness (DAU/WAU): rolling distinct
    users need a range join, not a window (distinct doesn't slide) — the
    tiny day dimension broadcasts against the distinct (user, day) table
    with a 7-day band condition. Exact int64-ns day arithmetic."""
    e = _t(spark, sf_dir, "events")
    day = F.expr("ts div 86400000000000")
    ud = e.select("user_id", day.alias("day")).distinct()
    days = ud.select("day").distinct().select(F.col("day").alias("d"))
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    wau = (
        ud.join(
            F.broadcast(days),
            (F.col("day") <= F.col("d")) & (F.col("day") >= F.col("d") - 6),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["d"])
        .select(
            "day", "dau", "wau",
            F.round(F.col("dau").cast("double") / F.col("wau").cast("double"), 6).alias("stickiness"),
        )
    )


def events_top_paths(spark, sf_dir):
    """Behavioral sequence mining: the 10 most common consecutive 3-event
    paths across users (lead windows over the per-user timeline, global
    count, distributed top-k with deterministic ties) — the n-gram
    treatment applied to event streams."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    tri = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("__e2", F.lead("event_type", 1).over(w))
        .withColumn("__e3", F.lead("event_type", 2).over(w))
        .where(F.col("__e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "__e2", "__e3").alias("path")
        )
    )
    top = (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(10)
    )
    rw = Window.orderBy(F.col("n").desc(), F.col("path").asc())
    return top.withColumn("rank", F.row_number().over(rw).cast("int"))


def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    P(next | current) from consecutive pairs (lead window), exact counts
    and 6-dp probabilities — the behavioral-model estimation step that
    feeds simulation and anomaly scoring."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("__next", F.lead("event_type").over(w))
        .where(F.col("__next").isNotNull())
        .select(F.col("event_type").alias("from_type"), F.col("__next").alias("to_type"))
    )
    counts = pairs.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("from_type"))
    return counts.select(
        "from_type", "to_type", "n",
        F.round(F.col("n").cast("double") / tot.cast("double"), 6).alias("p"),
    )


def events_geo_hotspots(spark, sf_dir):
    """Emerging spatial hotspots: event locations grid-binned (5x5 cells),
    counts split at the month midpoint, cells whose second-half density
    at least doubles (with a minimum support) — the geo x time
    composition behind ops dashboards. Exact integer counts and integer
    midpoint arithmetic."""
    e = _t(spark, sf_dir, "events")
    x = "CAST(user_id % 360 AS DOUBLE) - 179.5"
    y = "CAST(event_id % 170 AS DOUBLE) - 84.5"
    mid = 1705881600000000000  # 2024-01-22T00:00:00Z in ns (month midpoint)
    d = e.selectExpr(
        f"CAST(floor(({x}) / 5.0) AS INT) AS cx",
        f"CAST(floor(({y}) / 5.0) AS INT) AS cy",
        f"CASE WHEN ts < {mid} THEN 0 ELSE 1 END AS half",
    )
    counts = d.groupBy("cx", "cy").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_first"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_second"),
    )
    return counts.where(
        (F.col("n_second") >= 2 * F.col("n_first")) & (F.col("n_second") >= 5)
    )


ORACLE_EVENTS_GEO_HOTSPOTS = """
WITH d AS (
  SELECT CAST(floor((CAST(user_id % 360 AS DOUBLE) - 179.5) / 5.0) AS INT) AS cx,
         CAST(floor((CAST(event_id % 170 AS DOUBLE) - 84.5) / 5.0) AS INT) AS cy,
         CASE WHEN epoch_ns(ts) < 1705881600000000000 THEN 0 ELSE 1 END AS half
  FROM events
),
counts AS (
  SELECT cx, cy,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_first,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_second
  FROM d GROUP BY cx, cy
)
SELECT cx, cy, CAST(n_first AS BIGINT) AS n_first, CAST(n_second AS BIGINT) AS n_second
FROM counts
WHERE n_second >= 2 * n_first AND n_second >= 5
"""


ORACLE_EVENTS_MARKOV = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM counts
"""


ORACLE_EVENTS_TOP_PATHS = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS e2,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS e3
  FROM events
),
tri AS (
  SELECT event_type || '>' || e2 || '>' || e3 AS path
  FROM seq WHERE e3 IS NOT NULL
),
top AS (
  SELECT path, COUNT(*) AS n FROM tri GROUP BY path
  ORDER BY n DESC, path ASC LIMIT 10
)
SELECT path, n, CAST(row_number() OVER (ORDER BY n DESC, path ASC) AS INT) AS rank
FROM top
"""


ORACLE_EVENTS_DAU_WAU = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
),
days AS (SELECT DISTINCT day AS d FROM ud),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT dd.d, COUNT(DISTINCT u.user_id) AS wau
  FROM days dd JOIN ud u ON u.day <= dd.d AND u.day >= dd.d - 6
  GROUP BY dd.d
)
SELECT a.day, a.dau, w.wau,
       round(CAST(a.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM dau a JOIN wau w ON a.day = w.d
"""


ORACLE_EVENTS_HOURLY = f"""
SELECT (epoch_ns(ts) // {_NS_HOUR}) * 3600 AS hour_epoch, event_type,
       COUNT(*) AS n_events,
       {_money_sum_sql('value', 'sum_value')}
FROM events GROUP BY 1, 2
"""


def events_geo_extent(spark, sf_dir):
    """Windowed spatial extent: per-hour bbox + count of event locations —
    the geo surface composed with time-bucketed aggregation (the batch
    analogue of a streaming geo dashboard; the extent min/max aggregate is
    algebraic, so it drops into a watermarked window unchanged)."""
    e = _t(spark, sf_dir, "events")
    pt = (
        "ST_Point(CAST(user_id % 360 AS DOUBLE) - 179.5, "
        "CAST(event_id % 170 AS DOUBLE) - 84.5)"
    )
    return (
        e.withColumn("hour_epoch", F.expr(f"(ts div {_NS_HOUR}) * 3600"))
        .withColumn("b", F.expr(f"ST_BBox({pt})"))
        .groupBy("hour_epoch")
        .agg(
            F.min("b.xmin").alias("xmin"),
            F.min("b.ymin").alias("ymin"),
            F.max("b.xmax").alias("xmax"),
            F.max("b.ymax").alias("ymax"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_EVENTS_GEO_EXTENT = f"""
SELECT (epoch_ns(ts) // {_NS_HOUR}) * 3600 AS hour_epoch,
       MIN(CAST(user_id % 360 AS DOUBLE) - 179.5) AS xmin,
       MIN(CAST(event_id % 170 AS DOUBLE) - 84.5) AS ymin,
       MAX(CAST(user_id % 360 AS DOUBLE) - 179.5) AS xmax,
       MAX(CAST(event_id % 170 AS DOUBLE) - 84.5) AS ymax,
       COUNT(*) AS n_events
FROM events GROUP BY 1
"""


def events_sessions(spark, sf_dir):
    """30-minute-gap sessionization via lag + cumulative session ids."""
    e = _t(spark, sf_dir, "events")
    e.createOrReplaceTempView("__events_sessions_src")
    return spark.sql(
        f"""
        SELECT user_id, SUM(new_session) AS n_sessions, COUNT(*) AS n_events
        FROM (
          SELECT user_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > {_NS_GAP}
                      THEN 1 ELSE 0 END AS new_session
          FROM __events_sessions_src
        ) GROUP BY user_id
        """
    )


ORACLE_EVENTS_SESSIONS = f"""
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > {_NS_GAP}
              THEN 1 ELSE 0 END AS new_session
  FROM events
) GROUP BY user_id
"""


def events_salted_join(spark, sf_dir):
    """Skewed fact-to-dimension join done with explicit key salting
    (join.skew.salted_join): events fan out ~67 rows/user at sf0.01 and
    far worse under real skew; salting spreads each user over 8 shuffle
    partitions while keeping results identical to the plain join — the
    oracle IS the plain join."""
    from ..join import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 150)
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    j = salted_join(ev, dim, on="user_id", how="inner", n_salts=8)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        _money_sum(F.col("value"), "sum_value"),
    )


ORACLE_SALTED_JOIN = f"""
SELECT c_nationkey, COUNT(*) AS n_events,
       {_money_sum_sql('value', 'sum_value')}
FROM events JOIN customer ON user_id = c_custkey
WHERE c_custkey < 150
GROUP BY c_nationkey
"""


def events_geofence_transitions(spark, sf_dir):
    """Geofence ENTER/EXIT transitions (batch twin of
    streaming.ops streaming_geofence_transitions — the applyInPandas path
    the stream degenerates to, so this entry oracle-checks the stream's
    per-entity walk): synthetic per-event positions against two WKB
    fences — a box WITH A HOLE (half-integer bounds, so boundary hits are
    exact in both engines) and an integer diamond (45-degree edges whose
    boundary lattice points land exactly on |dx|+|dy| = r). One row per
    membership change, covers semantics (boundary = inside, hole boundary
    included). The oracle mirrors the fences as closed half-plane
    inequalities and the walk as a lag window over strictly-increasing
    per-entity timestamps."""
    import numpy as np

    from ..streaming.ops import streaming_geofence_transitions
    from ..wkb import core as C

    e = _t(spark, sf_dir, "events")
    pos = e.selectExpr(
        "CAST(user_id AS STRING) AS entity_id",
        "ts",
        "CAST(event_id % 360 AS DOUBLE) - 179.5 AS x",
        "CAST((event_id * 7) % 170 AS DOUBLE) - 84.5 AS y",
    )
    box_outer = np.array([
        [-60.5, -40.5], [60.5, -40.5], [60.5, 40.5], [-60.5, 40.5],
        [-60.5, -40.5],
    ])
    box_hole = np.array([
        [-20.5, -10.5], [0.5, -10.5], [0.5, 10.5], [-20.5, 10.5],
        [-20.5, -10.5],
    ])
    diamond = np.array([
        [100.0, 10.0], [40.0, 70.0], [-20.0, 10.0], [40.0, -50.0],
        [100.0, 10.0],
    ])
    fences = spark.createDataFrame(
        [
            (1, bytearray(C.to_wkb(C.polygon([box_outer, box_hole])))),
            (2, bytearray(C.to_wkb(C.polygon([diamond])))),
        ],
        "fence_id long, geometry binary",
    )
    return streaming_geofence_transitions(pos, fences)


ORACLE_EVENTS_GEOFENCE = """
WITH pos AS (
  SELECT CAST(user_id AS VARCHAR) AS entity, epoch_ns(ts) AS tsn,
         CAST(event_id % 360 AS DOUBLE) - 179.5 AS x,
         CAST((event_id * 7) % 170 AS DOUBLE) - 84.5 AS y
  FROM events
),
dedup AS (
  SELECT entity, tsn, x, y FROM (
    SELECT entity, tsn, x, y,
           row_number() OVER (PARTITION BY entity, tsn ORDER BY x, y) AS rn
    FROM pos) t WHERE rn = 1
),
memb AS (
  SELECT entity, tsn,
         (x >= -60.5 AND x <= 60.5 AND y >= -40.5 AND y <= 40.5
          AND NOT (x > -20.5 AND x < 0.5 AND y > -10.5 AND y < 10.5)) AS m1,
         (abs(x - 40.0) + abs(y - 10.0) <= 60.0) AS m2
  FROM dedup
),
lagd AS (
  SELECT entity, tsn, m1, m2,
         coalesce(lag(m1) OVER (PARTITION BY entity ORDER BY tsn), FALSE) AS p1,
         coalesce(lag(m2) OVER (PARTITION BY entity ORDER BY tsn), FALSE) AS p2
  FROM memb
)
SELECT entity, tsn AS ts, CAST(1 AS BIGINT) AS fence_id,
       CASE WHEN m1 THEN 'enter' ELSE 'exit' END AS transition
FROM lagd WHERE m1 <> p1
UNION ALL
SELECT entity, tsn AS ts, CAST(2 AS BIGINT) AS fence_id,
       CASE WHEN m2 THEN 'enter' ELSE 'exit' END AS transition
FROM lagd WHERE m2 <> p2
"""


def events_geofence_dwell(spark, sf_dir):
    """Dwell-time analytics over geofence transitions: pair each 'enter'
    with the entity's next 'exit' of the same fence (lead window over the
    transition stream) and aggregate visits + exact integer dwell
    nanoseconds per fence. Open visits (still inside at end of data) are
    counted separately, not guessed. The downstream consumer every
    geofence system feeds — exact-int arithmetic end to end."""
    out = events_geofence_transitions(spark, sf_dir)
    w = Window.partitionBy("entity", "fence_id").orderBy(F.col("ts").asc())
    paired = (
        out.withColumn("__next_t", F.lead("transition").over(w))
        .withColumn("__next_ts", F.lead("ts").over(w))
        .where(F.col("transition") == "enter")
    )
    return paired.groupBy("fence_id").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.sum(F.when(F.col("__next_t") == "exit", 1).otherwise(0))
        .cast("long").alias("n_closed"),
        F.sum(
            F.when(
                F.col("__next_t") == "exit",
                F.col("__next_ts") - F.col("ts"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("dwell_ns"),
        F.sum(F.when(F.col("__next_t").isNull(), 1).otherwise(0))
        .cast("long").alias("n_open"),
    )


ORACLE_EVENTS_GEOFENCE_DWELL = f"""
WITH transitions AS ({ORACLE_EVENTS_GEOFENCE}),
paired AS (
  SELECT entity, fence_id, ts, transition,
         lead(transition) OVER w AS next_t,
         lead(ts) OVER w AS next_ts
  FROM transitions
  WINDOW w AS (PARTITION BY entity, fence_id ORDER BY ts)
)
SELECT fence_id,
       CAST(COUNT(*) AS BIGINT) AS n_entries,
       CAST(SUM(CASE WHEN next_t = 'exit' THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
       CAST(SUM(CASE WHEN next_t = 'exit' THEN next_ts - ts ELSE 0 END) AS BIGINT) AS dwell_ns,
       CAST(SUM(CASE WHEN next_t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open
FROM paired
WHERE transition = 'enter'
GROUP BY fence_id
"""
