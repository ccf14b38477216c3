"""Deterministic sampling / splitting / scrubbing for training-data
pipelines (all native expressions — no Python in the row path, no RNG:
reruns and backfills produce byte-identical outputs on any cluster layout).

The sampling key is an md5-derived uniform in [0, 1): hash(salt || key) is
independent of partitioning, executor count, and row order — the properties
``df.sample()`` (seeded per-partition RNG) does NOT give you on re-runs with
different file splits. The same construction is expressible in any engine
with md5, which is how the oracle checks it exactly.
"""

from __future__ import annotations

import logging as _logging

try:
    from py4j.protocol import Py4JError as _Py4JError
except ImportError:  # pragma: no cover - py4j ships with pyspark
    class _Py4JError(Exception):
        pass

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..checkpoint import checkpoint_df

_PLAN_BROADCAST_MAX_BYTES = 64 << 20


def _broadcast_if_small(
    plan: DataFrame, stats_proxy: DataFrame | None = None
) -> DataFrame:
    """Attach a broadcast hint to a per-domain plan table only when the
    plan-time size estimate proves it small. The plan has one row per
    distinct domain; at web-scale domain cardinality (hostname level,
    1e8+) an unconditional hint would exceed broadcast limits, so above
    the gate (or when stats are unavailable) the hint is dropped and the
    equi-join is left to AQE, which still broadcasts at runtime when the
    built side turns out small. ``stats_proxy`` supplies an equivalent
    lineage to probe when ``plan`` itself reads a checkpoint (whose stats
    are unknown)."""
    probe = stats_proxy if stats_proxy is not None else plan
    try:
        if plan.isStreaming:
            return plan
        jstats = probe._jdf.queryExecution().optimizedPlan().stats()
        size = jstats.sizeInBytes()
        size = size if isinstance(size, int) else int(size.toString())
    except (AttributeError, ValueError, TypeError, _Py4JError) as exc:
        # only the expected stats-probe failure modes degrade to
        # no-hint; anything else (a real planner error) propagates
        _logging.getLogger(__name__).debug(
            "plan-broadcast stats probe failed; skipping hint: %s", exc
        )
        return plan
    return F.broadcast(plan) if size <= _PLAN_BROADCAST_MAX_BYTES else plan


def hash_uniform(key, salt: str = "sample") -> Column:
    """Deterministic uniform in [0, 1) from a key column: first 8 md5 hex
    chars as an integer over 16^8."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), k.cast("string"))), 1, 8), 16, 10
    ).cast("double")
    return h / F.lit(float(16**8))


def deterministic_sample(
    df: DataFrame, key: str, rate: float, salt: str = "sample"
) -> DataFrame:
    """Keep ~rate of rows, chosen by key hash — stable across reruns,
    repartitioning, and engines (unlike df.sample)."""
    return df.where(hash_uniform(key, salt) < F.lit(float(rate)))


def train_val_test_split(
    df: DataFrame,
    key: str,
    val: float = 0.05,
    test: float = 0.05,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign a deterministic split label per key: hash < val -> 'val',
    < val+test -> 'test', else 'train'. A document keeps its split forever
    (new data never reshuffles old assignments — the property that matters
    for contamination-free eval sets)."""
    u = hash_uniform(key, salt)
    label = (
        F.when(u < F.lit(float(val)), F.lit("val"))
        .when(u < F.lit(float(val + test)), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn(out_col, label)


def weighted_sample(
    df: DataFrame,
    key: str,
    weight,
    k: int,
    salt: str = "wsample",
    score_col: str = "__wscore",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): score = u^(1/w) with a per-key deterministic uniform,
    keep the k highest scores. Rows with weight w are selected with
    probability proportional to w, the sample is stable across reruns and
    cluster layouts, and the selection is a distributed top-k
    (TakeOrderedAndProject — per-partition heads, k-row merge), never a
    global sort.

    The score is rounded to 9 dp (ties broken by key) so rank order is
    engine-independent: Java's Math.pow and C libm may disagree in the
    last ulp, which rounding absorbs — the classic quality-weighted
    corpus subsampling pass, exactly reproducible in SQL."""
    w = F.col(weight) if isinstance(weight, str) else weight
    u = hash_uniform(key, salt)
    score = F.round(F.pow(u, F.lit(1.0) / w), 9)
    scored = df.withColumn(score_col, score)
    return (
        scored.orderBy(F.col(score_col).desc(), F.col(key))
        .limit(k)
    )


# conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB)
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
URL_RE = "https?://[^ \\t\\n]+"
PHONE_RE = "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"
IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
CC16_RE = "[0-9]{16}"


def scrub_text(text, email_token: str = "<EMAIL>", url_token: str = "<URL>") -> Column:
    """Replace emails and URLs with placeholder tokens (native
    regexp_replace; patterns restricted to the Java-regex/RE2 common
    subset so the oracle replays them exactly)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(t, URL_RE, url_token), EMAIL_RE, email_token
    )


def stratified_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    n_per_stratum: int,
    salt: str = "strat",
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen by the
    deterministic hash rank — the balanced-mixture construction (equal
    docs per language/source/quality bucket) that df.sampleBy's
    per-partition RNG can't reproduce across engines or reruns.

    One shuffle keyed by stratum. With few huge strata, pre-filter with
    ``hash_uniform(key) < (n * safety) / |stratum|`` first so the window
    ranks a small superset instead of the full stratum, then apply this
    exact selection to the survivors."""
    u = hash_uniform(key, salt)
    w = Window.partitionBy(stratum).orderBy(u.asc(), F.col(key).asc())
    return (
        df.withColumn("__srn", F.row_number().over(w))
        .where(F.col("__srn") <= n_per_stratum)
        .drop("__srn")
    )


def luhn_valid(num) -> Column:
    """Luhn checksum validity for a fixed-width 16-digit string — the
    mod-10 sum unrolled to 16 substring terms so it stays inside
    whole-stage codegen (no UDF). Doubling applies to every second digit
    counting from the check digit: for 16 digits, the 1st/3rd/…/15th from
    the left."""
    n = F.col(num) if isinstance(num, str) else num
    total = F.lit(0)
    for pos in range(16):
        # try_cast: short or non-digit input nulls the sum instead of
        # throwing under ANSI mode; the coalesce below maps that to false
        d = F.substring(n, pos + 1, 1).try_cast("int")
        if pos % 2 == 0:
            dd = d * F.lit(2)
            term = F.when(dd > 9, dd - 9).otherwise(dd)
        else:
            term = d
        total = total + term
    return (F.length(n) == 16) & F.coalesce(total % 10 == 0, F.lit(False))


def scrub_pii(
    text,
    phone_token: str = "<PHONE>",
    ip_token: str = "<IP>",
    cc_token: str = "<CC>",
) -> Column:
    """PII scrubbing pass: phone numbers and IPv4 literals by pattern,
    16-digit card numbers ONLY when the Luhn checksum validates (the
    standard false-positive guard — a random 16-digit id is left alone).
    The card step extracts the first candidate per row and conditionally
    replaces it; corpora with many cards per row should explode lines
    first (C4-style) so one candidate per row holds."""
    t = F.col(text) if isinstance(text, str) else text
    s = F.regexp_replace(F.regexp_replace(t, PHONE_RE, phone_token), IPV4_RE, ip_token)
    cand = F.regexp_extract(s, CC16_RE, 0)
    return F.when(
        (cand != "") & luhn_valid(cand), F.replace(s, cand, F.lit(cc_token))
    ).otherwise(s)


def mixture_plan(
    df: DataFrame,
    domain_col: str,
    weights: dict,
    budget_tokens: int,
    token_count_col,
    key: str = "doc_id",
    max_repeat: float = 4.0,
    salt: str = "mix",
) -> DataFrame:
    """Domain-mixture planning for training-data assembly (the Pile /
    LLaMA-style data-mixing pass): given target domain ``weights`` (summing
    to 1) and a total token ``budget``, compute per-domain epoch counts
    ``epochs = min(weight * budget / available_tokens, max_repeat)`` and
    materialize a per-document copy count: every document is repeated
    ``floor(epochs)`` times plus one more with probability ``frac(epochs)``
    via the deterministic per-key uniform — so the realized token mixture
    matches the plan in expectation, is exactly reproducible across reruns
    and cluster layouts, and over-represented domains are capped at
    ``max_repeat`` epochs (the standard repetition-harm guard).

    Scale shape: one groupBy(domain) over the corpus (map-side partial
    sums of one long), the per-domain plan joined back (broadcast when the
    size estimate proves it small, else AQE decides — domain cardinality
    can be web-scale); the copy count is a stateless expression. No
    shuffle of document text.

    Output: the input rows plus ``epochs`` (rounded to 8dp, engine-stable)
    and ``n_copies``. Domains absent from ``weights`` get weight 0 (and so
    n_copies 0).
    """
    tok = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    )
    w = F.lit(0.0)
    for dom, wt in sorted(weights.items()):
        w = F.when(F.col(domain_col) == dom, F.lit(float(wt))).otherwise(w)
    avail = df.groupBy(domain_col).agg(F.sum(tok.cast("long")).alias("__avail"))
    plan = avail.select(
        domain_col,
        "__avail",
        F.round(
            F.least(
                w * F.lit(float(budget_tokens)) / F.col("__avail").cast("double"),
                F.lit(float(max_repeat)),
            ),
            8,
        ).alias("epochs"),
    )
    # left join + coalesce: rows whose domain is NULL (the equi-join never
    # matches NULL = NULL) keep flowing with 0 epochs / 0 copies instead
    # of silently vanishing — consistent with budget_fill's left join
    joined = df.join(_broadcast_if_small(plan), domain_col, "left").withColumn(
        "epochs", F.coalesce(F.col("epochs"), F.lit(0.0))
    )
    full = F.floor(F.col("epochs")).cast("long")
    frac = F.round(F.col("epochs") - full.cast("double"), 8)
    u = hash_uniform(key, salt)
    return joined.withColumn(
        "n_copies", (full + F.when(u < frac, 1).otherwise(0).cast("long"))
    ).drop("__avail")


def budget_fill(
    df: DataFrame,
    domain_col: str,
    token_count_col,
    score_col,
    budget_tokens: int,
    n_buckets: int = 1000,
    key: str = "doc_id",
    salt: str = "fill",
) -> DataFrame:
    """Quality-first budget fill (FineWeb-style curation): per domain,
    select the highest-scoring documents until ``budget_tokens`` is
    reached — WITHOUT a per-domain global sort. A per-domain sort/window
    would funnel each domain through one reducer (a 100 TB domain through
    one task); instead the selection threshold comes from a score
    HISTOGRAM:

    1. bucket = floor(score * n_buckets) (scores in [0, 1]);
    2. per-(domain, bucket) token totals — one small shuffle, constant
       state per group;
    3. a window over the TINY histogram (domains x n_buckets rows) finds
       the threshold bucket where the best-first cumulative token count
       crosses the budget;
    4. documents strictly above the threshold bucket are selected; inside
       the threshold bucket a deterministic md5-uniform admits the
       fraction needed to fill the remainder in expectation.

    Everything after step 2 operates on the histogram, and the per-doc
    decision is a stateless expression over the plan table (broadcast when
    the size estimate proves it small, else left to AQE) — so the corpus
    is scanned twice and shuffled never.

    Output: input rows plus ``bucket``, ``selected``; domains whose total
    tokens fit the budget select everything.
    """
    tok = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    )
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    b = F.least(
        F.floor(score * F.lit(float(n_buckets))).cast("long"),
        F.lit(n_buckets - 1).cast("long"),
    )
    rows_logical = (
        df.withColumn("bucket", b).withColumn("__tok", tok.cast("long"))
    )
    # Materialize the per-doc (…, bucket, __tok) table ONCE: the histogram
    # pass and the final per-doc join both consume it, and without a
    # boundary Catalyst plans the caller's heavyweight score/token
    # expressions (regex + HOF chains over the text) in BOTH subtrees —
    # two full corpus scans for one logical pass (r8 plan audit). The
    # materialized table is fingerprint-shaped (ids + a few longs, no
    # text), the standard decide-on-small-rows proxy.
    # (checkpoint_df: reliable-checkpoint escape hatch for real clusters)
    rows = checkpoint_df(rows_logical, eager=False)

    w = (
        Window.partitionBy(domain_col)
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(domain_col).orderBy(F.desc("bucket"))

    def _threshold_plan(base: DataFrame) -> DataFrame:
        # Threshold bucket = the HIGHEST bucket whose best-first
        # cumulative crosses the budget. __cum is nondecreasing in
        # descending-bucket order, so that row is rank 1 of the crossing
        # rows — one window over the tiny histogram instead of the
        # previous groupBy(max) + self-join back onto cum, which consumed
        # cum twice and therefore planned the whole histogram pass over
        # the corpus twice (r7 plan audit: 3 corpus scans where the
        # docstring promises 2).
        hist = base.groupBy(domain_col, "bucket").agg(
            F.sum("__tok").alias("__btok")
        )
        cum = hist.withColumn("__cum", F.sum("__btok").over(w))
        return (
            cum.where(F.col("__cum") >= F.lit(int(budget_tokens)))
            .withColumn("__rn", F.row_number().over(wt))
            .where(F.col("__rn") == 1)
            .select(
                domain_col,
                F.col("bucket").alias("__tb"),
                F.round(
                    (F.lit(float(budget_tokens))
                     - (F.col("__cum") - F.col("__btok")).cast("double"))
                    / F.col("__btok").cast("double"),
                    8,
                ).alias("__rate"),
            )
        )

    plan = _threshold_plan(rows)
    # the broadcast size gate probes the UN-checkpointed twin of the same
    # chain: identical expressions, so the plan-time estimate is the one
    # the gate always used — the checkpointed lineage has no stats
    joined = rows.join(
        _broadcast_if_small(plan, stats_proxy=_threshold_plan(rows_logical)),
        domain_col,
        "left",
    )
    u = hash_uniform(key, salt)
    selected = F.when(F.col("__tb").isNull(), F.lit(True)).otherwise(
        (F.col("bucket") > F.col("__tb"))
        | ((F.col("bucket") == F.col("__tb")) & (u < F.col("__rate")))
    )
    return joined.withColumn("selected", selected).drop(
        "__tok", "__tb", "__rate"
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    order_col: str,
    cap: int,
    key_col: str = None,
) -> DataFrame:
    """Per-domain frequency cap (the FineWeb/RefinedWeb "no domain may
    contribute more than N documents" curation step, complementary to the
    global-budget :func:`budget_fill`): keep the top ``cap`` rows per
    domain by ``order_col`` (descending; ``key_col`` ascending as the
    deterministic tie-break). One shuffle keyed on the domain — the same
    scale shape as stratified_sample; with pathological single-domain
    skew, AQE's skew-join splitting does not apply to windows, so
    pre-filter with a score threshold first if one domain dominates."""
    w = Window.partitionBy(domain_col).orderBy(
        F.col(order_col).desc(),
        *( [F.col(key_col).asc()] if key_col else [] ),
    )
    return (
        df.withColumn("__dcrn", F.row_number().over(w))
        .where(F.col("__dcrn") <= cap)
        .drop("__dcrn")
    )
