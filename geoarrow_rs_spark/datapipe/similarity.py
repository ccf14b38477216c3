"""Similarity search over embedding columns (array<float>).

Two numpy scorers run under ``mapInArrow``, one per ranking rule:

- ``cosine_topk``: brute-force top-k by cosine — collect the (small) query
  set, score corpus batches with numpy (only per-batch top-k candidates
  leave the scorer), window top-k. Exact; scales linearly in corpus size.
  ``quantized_topk`` scores its int8 codes with it (an in-order double
  fold is the exact integer dot product below 2^53).
- ``_assign_local``: the n nearest centroids by the exact decimal distance,
  ties by id. ``assign_clusters`` / ``pq_encode`` take the nearest
  centroid (PQ code) per corpus vector, ``kmeans_train``/``pq_train``
  iterate it, and ``kmeans_ivf_topk``/``ivfpq_topk`` take each query's
  ``nprobe`` cells from it.

- ``ivf_topk``: scale path — coarse quantizer (deterministic grid/LSH
  centroids) partitions the corpus; queries probe only matching partitions.
- ``srp_bucket_expr``: sign-random-projection bucket for LSH blocking.

Other dot products use ``F.zip_with`` + ``F.aggregate`` (native, no UDF). For
cross-engine oracle determinism the decimal variant ``dot_decimal_expr``
accumulates per-term products as DECIMAL(30,12) — exact, order-independent.
"""

from __future__ import annotations

import numpy as _np
import pyarrow as _pa
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..checkpoint import checkpoint_df, collect_small


def dot_decimal_expr(v1, v2, scale: int = 12):
    """Order-independent exact dot product: each term rounded to DECIMAL(38,12)
    then summed as decimals (deterministic across engines/partitionings)."""
    prods = F.zip_with(
        v1, v2, lambda a, b: (a.cast("double") * b.cast("double")).cast(f"decimal(38,{scale})")
    )
    return F.aggregate(
        prods,
        F.lit(0).cast(f"decimal(38,{scale})"),
        # Spark widens decimal addition (38,12)+(38,12) -> (38,11); cast back
        # so the merge type equals the accumulator type (exact for our
        # magnitudes: |terms| << 10^26)
        lambda acc, x: (acc + x).cast(f"decimal(38,{scale})"),
    )


def norm_decimal_expr(v, scale: int = 12):
    return dot_decimal_expr(v, v, scale)


def cosine_expr(v1, v2):
    """Cosine similarity, deterministic decimal accumulation, double result."""
    num = dot_decimal_expr(v1, v2).cast("double")
    den = F.sqrt(norm_decimal_expr(v1).cast("double")) * F.sqrt(
        norm_decimal_expr(v2).cast("double")
    )
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def dot_inorder_expr(v1, v2, dim_hint: int | None = None):
    """Sequential left-fold double dot product. Deterministic because both
    engines execute the identical IEEE op sequence (Spark's aggregate and
    DuckDB's list_sum both fold the list left-to-right) — ~2x faster than
    the decimal accumulation, used on the top-k rerank hot paths.

    ``dim_hint`` (guide §1.2 per-task work): when the caller knows the
    vector dimension, rows matching it take an UNROLLED static sum —
    0.0 + x1 + x2 + ... — which whole-stage codegen compiles to straight
    multiply-adds instead of an interpreted HOF lambda per element. The
    leading literal 0.0 makes the unrolled chain the exact fold op
    sequence, so results are bit-identical; rows whose size mismatches
    the hint fall back to the fold."""
    if dim_hint:
        terms = [
            F.element_at(v1, i).cast("double")
            * F.element_at(v2, i).cast("double")
            for i in range(1, dim_hint + 1)
        ]
        unrolled = F.lit(0.0)
        for t in terms:
            unrolled = unrolled + t
        return F.when(
            (F.size(v1) == dim_hint) & (F.size(v2) == dim_hint), unrolled
        ).otherwise(dot_inorder_expr(v1, v2))
    prods = F.zip_with(v1, v2, lambda a, b: a.cast("double") * b.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine_fast_expr(v1, v2):
    """Cosine on the in-order double fold (see dot_inorder_expr)."""
    num = dot_inorder_expr(v1, v2)
    den = F.sqrt(dot_inorder_expr(v1, v1)) * F.sqrt(dot_inorder_expr(v2, v2))
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


# round(., 8) can give one value only to doubles less than 1e-8 apart, give
# or take the error of the decimal string it rounds (an ulp); a row more than
# 2e-8 below a batch's k-th best cosine is behind k rows whatever its id
_TIE_SLACK = 2e-8


def _fold(X, Y):
    """Left fold ``0.0 + x1*y1 + x2*y2 + ...`` over the last axis — the IEEE
    op sequence of ``dot_inorder_expr`` (numpy's ``sum`` is pairwise)."""
    acc = _np.zeros(_np.broadcast_shapes(X.shape[:-1], Y.shape[:-1]))
    for d in range(X.shape[-1]):
        acc = acc + X[..., d] * Y[..., d]
    return acc


def _unpack_vectors(arr):
    """(usable, starts, lengths, values) of an ``array<double>`` Arrow
    array. A row is usable when neither it nor any element is NULL; either
    makes ``zip_with``/``aggregate``, and so the row's norm, NULL."""
    offs = arr.offsets.to_numpy()
    vals = arr.values
    nulls = _np.concatenate(
        [[0], _np.cumsum(vals.is_null().to_numpy(zero_copy_only=False))])
    usable = arr.is_valid().to_numpy(zero_copy_only=False) & (
        nulls[offs[1:]] == nulls[offs[:-1]])
    return usable, offs[:-1], _np.diff(offs), vals.to_numpy(zero_copy_only=False)


def _gather(vals, starts, rows, L):
    return vals[starts[rows, None] + _np.arange(L)].reshape(len(rows), L)


def _cosines(cv, q_ok, q_norm, q_groups):
    """Unrounded cosine of every (corpus row, query) pair and its NULL mask,
    as ``when(qn * cn > 0, dot / (qn * cn)).otherwise(0.0)`` computes it: a
    NULL norm gives 0.0, a NaN ``den`` counts as > 0 (Spark orders NaN above
    every number), and vectors of different lengths give a NULL dot."""
    usable, starts, lens, vals = _unpack_vectors(cv)
    cos = _np.zeros((len(cv), len(q_ok)))
    null = _np.zeros(cos.shape, bool)
    for L in _np.unique(lens[usable]):
        rows = _np.flatnonzero(usable & (lens == L))
        X = _gather(vals, starts, rows, L)
        den = _np.sqrt(_fold(X, X))[:, None] * q_norm[None, :]
        live = q_ok & ((den > 0) | _np.isnan(den))
        sub_cos = _np.zeros(den.shape)
        sub_null = live.copy()
        if L in q_groups:
            cols, Q = q_groups[L]
            with _np.errstate(all="ignore"):
                r = _fold(X[:, None, :], Q[None, :, :]) / den[:, cols]
            sub_cos[:, cols] = _np.where(live[:, cols], r, 0.0)
            sub_null[:, cols] = False
        cos[rows] = sub_cos
        null[rows] = sub_null
    return cos, null


def _topk_candidates(batches, q_ids, q_ok, q_norm, q_groups, k):
    """Per corpus batch and query, the rows that can still reach the top k
    of ``(round(cosine, 8) desc, neighbor_id asc)``: every row within
    ``_TIE_SLACK`` of the batch's k-th best, every NaN (it ranks first),
    and every row when fewer than k cosines are non-NULL (NULL ranks
    last)."""
    for b in batches:
        cos, null = _cosines(b.column(1), q_ok, q_norm, q_groups)
        keep = ~null
        if 0 < k <= len(cos):
            key = _np.where(null, -_np.inf, _np.where(_np.isnan(cos), _np.inf, cos))
            kth = _np.partition(key, len(key) - k, axis=0)[len(key) - k]
            keep &= key >= kth - _TIE_SLACK
        keep |= (~null).sum(axis=0) < k
        rows, cols = _np.nonzero(keep)
        yield _pa.RecordBatch.from_arrays(
            [q_ids.take(cols), b.column(0).take(rows),
             _pa.array(cos[rows, cols], mask=null[rows, cols])],
            ["query_id", "neighbor_id", "cosine"])


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force top-k, ranked by (cosine desc, corpus id).
    Output: query_id, neighbor_id, cosine, rank.

    The (small) query set is collected once as Arrow, which is the one
    job this call launches; ``queries`` must be a batch frame. A numpy
    scorer under ``mapInArrow`` folds each corpus batch against every
    query with the IEEE op sequence of ``cosine_fast_expr`` and keeps per
    query only the rows that can still reach the top k. Spark rounds those
    candidates to 8 dp and ranks them with a window; rounding is monotone,
    so the candidates hold the exact top k."""
    if queries.isStreaming:
        raise ValueError("cosine_topk: `queries` must be a batch DataFrame "
                         "(it is collected when the plan is built)")
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).cast("array<double>").alias("qv"),
    )
    qt = q.toArrow()
    q_ids = qt.column(0).combine_chunks()
    q_ok, starts, lens, vals = _unpack_vectors(qt.column(1).combine_chunks())
    q_norm = _np.zeros(len(q_ok))
    q_groups = {}
    for L in _np.unique(lens[q_ok]):
        cols = _np.flatnonzero(q_ok & (lens == L))
        Q = _gather(vals, starts, cols, L)
        q_norm[cols] = _np.sqrt(_fold(Q, Q))
        q_groups[L] = (cols, Q)

    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).cast("array<double>").alias("cv"),
    )
    schema = T.StructType([
        T.StructField("query_id", q.schema["query_id"].dataType),
        T.StructField("neighbor_id", c.schema["neighbor_id"].dataType),
        T.StructField("cosine", T.DoubleType()),
    ])
    cands = c.mapInArrow(
        lambda it: _topk_candidates(it, q_ids, q_ok, q_norm, q_groups, k), schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("cosine", F.round("cosine", 8))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _srp_weights(n_planes: int, seed: int, dim: int) -> list:
    """Driver-side replica of the md5 plane weights, bit-exact to the SQL
    expression: conv(hex, 16, 10) yields an integer < 2**32 (exactly
    representable), the division is by 16**8 == 2**32 (a power of two, so
    exact), and the 0.5 subtraction is exact — every step is the same IEEE
    double the JVM computes."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:8], 16)
            / float(16**8)
            - 0.5
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def _srp_proj_md5(v, j: int, seed: int):
    """One plane's projection with weights derived per element by md5 at
    RUNTIME — the general-dim path (and the SQL-oracle-shaped original)."""
    return F.aggregate(
        F.zip_with(
            v,
            F.sequence(F.lit(0), F.size(v) - 1),
            lambda x, i: x.cast("double")
            * (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{seed}:{j}:"), i.cast("string"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("double")
                / F.lit(float(16**8))
                - F.lit(0.5)
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def srp_bucket_expr(vec, n_planes: int = 12, seed: int = 7, dim_hint: int | None = None):
    """Sign-random-projection bucket id (string of sign bits). Plane j weight
    for dimension i = md5-derived pseudo-random in [-0.5, 0.5) — deterministic,
    no data movement, reproducible in SQL.

    ``dim_hint`` (guide §1.2 per-task work): when the caller knows the
    common vector dimension, the plane weights are precomputed driver-side
    (bit-exact, see ``_srp_weights``) and embedded as literal arrays, so
    each row's projection is a plain zip_with multiply-add instead of
    ``n_planes * dim`` runtime md5+conv string evaluations (384 md5 calls
    per row at dim 64 / 6 planes). Rows whose actual size differs from the
    hint (and null vectors) fall back to the md5 path via a per-row guard,
    so results are identical for EVERY input regardless of the hint."""
    v = F.col(vec) if isinstance(vec, str) else vec
    if dim_hint:
        W = _srp_weights(n_planes, seed, dim_hint)
        fast_bits = []
        for j in range(n_planes):
            wj = F.array(*[F.lit(w) for w in W[j]])
            proj = F.aggregate(
                F.zip_with(v, wj, lambda x, w: x.cast("double") * w),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            fast_bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
        slow_bits = [
            F.when(_srp_proj_md5(v, j, seed) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(n_planes)
        ]
        return F.when(F.size(v) == dim_hint, F.concat(*fast_bits)).otherwise(
            F.concat(*slow_bits)
        )
    bits = [
        F.when(_srp_proj_md5(v, j, seed) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(n_planes)
    ]
    return F.concat(*bits)


def _flip_bit_expr(bucket, j):
    """Flip character j (0-based) of a '0'/'1' bucket string (native)."""
    b = bucket
    flipped = F.when(F.substring(b, j + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
    return F.concat(F.substring(b, 1, j), flipped, F.substring(b, j + 2, 2_000_000))


def multiprobe_from_base_expr(base, n_planes: int = 6, radius: int = 1):
    """Probe-bucket array derived from an ALREADY-COMPUTED bucket column:
    the base plus every bucket within Hamming ``radius``. Each flip embeds
    ``base`` three times (two substrings + the condition), so deriving the
    flips from a staged column instead of re-inlining the full SRP tree
    shrinks the expression by ~3 * n_planes SRP evaluations per row
    (guide §1.2 — the optimizer does not CSE textually-duplicated
    aggregate lambdas)."""
    probes = [base]
    if radius >= 1:
        probes += [_flip_bit_expr(base, j) for j in range(n_planes)]
    if radius >= 2:
        for a in range(n_planes):
            for b in range(a + 1, n_planes):
                probes.append(_flip_bit_expr(_flip_bit_expr(base, a), b))
    return F.array(*probes)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_planes: int = 6,
    probe_radius: int = 1,
    dim_hint: int | None = None,
) -> DataFrame:
    """Approximate top-k: SRP-bucket the corpus (inverted file); each query
    probes its own bucket plus all buckets within Hamming ``probe_radius``
    (multiprobe). The corpus keeps ONE bucket per vector, so a candidate pair
    joins at most once — no dedup shuffle. Scale path when the corpus no
    longer fits the brute-force broadcast cross-join; probe_radius trades
    compute for recall (radius 1 lifts recall to ~1.0 on clustered data).
    ``dim_hint`` engages the literal-weight SRP fast path (bit-identical,
    see srp_bucket_expr); the base bucket is staged as a column so the
    Hamming flips reference it instead of re-inlining the SRP tree."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        srp_bucket_expr(query_vec, n_planes, dim_hint=dim_hint).alias("__b"),
    ).select(
        "query_id",
        "__qv",
        F.explode(
            multiprobe_from_base_expr(F.col("__b"), n_planes, radius=probe_radius)
        ).alias("__bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        srp_bucket_expr(corpus_vec, n_planes, dim_hint=dim_hint).alias("__bucket"),
    )
    scored = c.join(F.broadcast(q), on="__bucket").select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fast_expr(F.col("__qv"), F.col("__cv")), 8).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    probe_radius: int = 1,
    dim_hint: int | None = None,
) -> DataFrame:
    """Approximate k-NN SELF-join: every vector finds its top-k neighbors
    among all others — the all-pairs similarity-search shape (dedup graph
    building, recommendation candidates), distinct from fixed-query top-k.

    Unlike :func:`ivf_topk`, NEITHER side broadcasts (both are the full
    corpus): candidates come from a shuffle hash equi-join on the SRP
    bucket key — the corpus keeps ONE bucket per vector while the probe
    side explodes to its Hamming-``probe_radius`` neighborhood, so a pair
    joins at most once and no dedup shuffle is needed. Per-point top-k is
    a window over the candidate set (partitioned by the point — scales
    with keys, never a global sort). Self-matches are excluded.
    ``dim_hint``: see ivf_topk."""
    q = df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        srp_bucket_expr(vec_col, n_planes, dim_hint=dim_hint).alias("__b"),
    ).select(
        "query_id",
        "__qv",
        F.explode(
            multiprobe_from_base_expr(F.col("__b"), n_planes, radius=probe_radius)
        ).alias("__bucket"),
    )
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        srp_bucket_expr(vec_col, n_planes, dim_hint=dim_hint).alias("__bucket"),
    )
    scored = (
        c.join(q, on="__bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fast_expr(F.col("__qv"), F.col("__cv")), 8).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def dist2_decimal_expr(v1, v2, scale: int = 12):
    """Squared L2 distance with the same order-independent decimal
    accumulation as dot_decimal_expr (deterministic across engines)."""
    diffs = F.zip_with(v1, v2, lambda a, b: a.cast("double") - b.cast("double"))
    return dot_decimal_expr(diffs, diffs, scale)


def _centroid_df(spark, cents):
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("__cid", LongType(), False),
            StructField("__cvec", ArrayType(DoubleType()), False),
        ]
    )
    return spark.createDataFrame([(int(c), list(v)) for c, v in cents], schema)


# ---------------------------------------------------------------------------
# Exact nearest-centroid assignment
#
# One assigner serves assign_clusters, pq_encode and both k-means/PQ
# trainers (driver-local and distributed). It picks what
# ``min(struct(dist2_decimal_expr(v, c), cid))`` over the centroid table
# picks (the SQL oracles spell it that way), bit-exactly, because every
# decimal operation is replicated exactly:
#   - CAST(double AS DECIMAL(38,12)) == Decimal(repr(x)) HALF_UP at 12 dp
#     (JVM BigDecimal.valueOf uses the shortest round-trip repr, as repr());
#     a NaN or infinite double casts to NULL, one of 1e26 or more does not
#     fit and raises (ANSI mode, Spark's default)
#   - dist2_decimal_expr's fold widens each (38,12)+(38,12) step to (38,11)
#     == per-step HALF_UP quantize at 11 dp (verified against Spark); a
#     NULL term makes the distance NULL, and NULL sorts first in min()
# The argmin runs vectorized in float64. Rows with a near tie (float error
# here is < 1e-9 relative) or with values that could overflow or are not
# finite go to the exact decimal fold, so the hot loop is numpy while every
# tie resolves exactly as Spark would.
# ---------------------------------------------------------------------------

from decimal import ROUND_HALF_UP as _HALF_UP, Context as _Context, Decimal as _Dec

_E12 = _Dec("1e-12")
_E11 = _Dec("1e-11")
_E26 = _Dec("1e26")
# DECIMAL(38, .) arithmetic needs 38 significant digits; the default
# context's 28 would round large sums
_DEC38 = _Context(prec=40, rounding=_HALF_UP)


def _dec12(x) -> _Dec:
    """Replica of Spark ``CAST(double AS DECIMAL(38,12))`` for finite
    |x| < 1e26."""
    return _Dec(repr(float(x))).quantize(_E12, context=_DEC38)


def _fold_d2(a, b):
    """Replica of ``dist2_decimal_expr`` over two equal-length float
    vectors: 12 dp term cast, 11 dp per-step accumulate (Spark widens
    (38,12)+(38,12) -> (38,11)). None (NULL) when a term is NaN or
    infinite, as for a NULL element read as NaN; ArithmeticError when a
    term or a partial sum does not fit DECIMAL(38,12)."""
    terms = []
    for x, y in zip(a, b):
        d = float(x) - float(y)
        t = d * d
        if 1e26 <= t < _np.inf:
            raise ArithmeticError(f"{t!r} cannot be represented as Decimal(38, 12)")
        terms.append(_dec12(t) if t < _np.inf else None)
    acc = _Dec(0)
    for t in terms:
        if t is None:
            return None
        acc = _DEC38.add(acc, t).quantize(_E11, context=_DEC38)
        if acc >= _E26:
            raise ArithmeticError(f"{acc} cannot be represented as Decimal(38, 12)")
    return acc


def _null_first(e):
    """Sort key of an (exact distance, index) pair: NULL first, then the
    distance, then the index."""
    return e[0] is not None, e[0] or 0, e[1]


def _assign_local(X: _np.ndarray, cents: list, n: int = 1) -> _np.ndarray:
    """(rows, min(n, len(cents))) indices into ``cents`` (sorted ascending
    by id, vector last): per row, the n centroids first in the order of
    ``(dist2_decimal_expr(x, c) NULLS FIRST, cid)`` — the least exact
    decimal distances, ties by id, a NULL distance before any number.
    ``X`` holds one float row per vector, NaN for a NULL element; every
    centroid has ``X.shape[1]`` values."""
    rows, D = X.shape
    C = _np.asarray([c[-1] for c in cents], _np.float64).reshape(len(cents), D)
    with _np.errstate(all="ignore"):
        # NaN-free rows too small to overflow DECIMAL(38,12) anywhere
        bound = (_np.abs(X).max(axis=1, initial=0.0) + _np.abs(C).max(initial=0.0)) ** 2
        clean = bound * D < 1e25
        d2 = _np.zeros((rows, len(C)))
        for j in range(D):
            d2 += (X[:, j, None] - C[None, :, j]) ** 2
    order = _np.argsort(d2, axis=1, kind="stable")  # ties: lowest cid first
    n = min(n, len(C))
    top = _np.take_along_axis(d2, order[:, : n + 1], axis=1)
    tol = 1e-6 + 1e-9 * top
    # rows whose first n + 1 float distances hold a near tie, in or at the
    # edge of the chosen n, resolve over the exact decimal fold
    tied = (_np.diff(top, axis=1) <= tol[:, :-1]).any(axis=1)
    best = order[:, :n]
    for i in _np.flatnonzero(~clean | tied):
        cand = (_np.flatnonzero(d2[i] <= top[i, n - 1] + tol[i, n - 1])
                if clean[i] else range(len(C)))
        exact = sorted(((_fold_d2(X[i], C[j]), j) for j in cand), key=_null_first)
        best[i] = [j for _, j in exact[:n]]
    return best


def _nearest_ids(arr, books: list, w: int | None = None, n: int = 1) -> _np.ndarray:
    """(rows, len(books) * n) ids: for each row ``v`` of the
    ``array<double>`` Arrow array and each codebook ``books[s]`` ([(id,
    vector)] sorted by id, at least n entries), the n ids ``_assign_local``
    picks for ``slice(v, s * w + 1, w)`` (all of ``v`` when ``w`` is None)."""
    _, starts, lens, vals = _unpack_vectors(arr)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    out = []
    for s, book in enumerate(books):
        lo = s * w if w else 0
        sub = _np.clip(lens - lo, 0, w)
        c_lens = _np.asarray([len(v) for _, v in book])
        fit = valid & (sub[:, None] == c_lens).all(axis=1)
        best = _np.empty((len(arr), min(n, len(book))), _np.int64)
        rows = _np.flatnonzero(fit)
        if rows.size:  # none when the centroids differ in length
            best[rows] = _assign_local(
                _gather(vals, starts + lo, rows, c_lens.max()), book, n)
        # zip_with pads the shorter vector with NULL, so the distance to a
        # centroid of another length (or from a NULL vector) is NULL; rows
        # that meet one rank exactly here
        for r in _np.flatnonzero(~fit):
            v = vals[starts[r] + lo: starts[r] + lo + sub[r]]
            exact = sorted(((_fold_d2(v, c) if valid[r] and len(c) == len(v) else None, j)
                            for j, (_, c) in enumerate(book)), key=_null_first)
            best[r] = [j for _, j in exact[:n]]
        out.append(_np.asarray([i for i, _ in book])[best])
    return _np.concatenate(out, axis=1)


def _map_nearest(src: DataFrame, books: list, w, field, column, n: int = 1) -> DataFrame:
    """``src`` (id, vector) with ``field`` appended: ``column`` builds it
    from each batch's ``_nearest_ids``. No rows when a codebook is empty."""
    schema = T.StructType(src.schema.fields + [field])
    live = all(books)

    def run(batches):
        for b in batches:
            if live:
                vecs = b.column(1).cast(_pa.list_(_pa.float64()), safe=False)
                yield b.append_column(field.name, column(_nearest_ids(vecs, books, w, n)))

    return src.mapInArrow(run, schema)


def assign_clusters(
    df: DataFrame,
    cents: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment against ``cents`` ([(cid, centroid)],
    as kmeans_train returns): a numpy argmin under ``mapInArrow``, exact
    decimal distances, ties broken by centroid id (see
    ``_assign_local``). Output: (id_col, vec, cid) — one row per input
    row, ``vec`` unchanged."""
    return _map_nearest(
        df.select(id_col, vec), [sorted(cents, key=lambda c: c[0])], None,
        T.StructField("cid", T.LongType(), False),
        lambda ids: _pa.array(ids[:, 0]),
    )


def _probe_cells(queries: DataFrame, query_id: str, query_vec: str,
                 cents: list, nprobe: int) -> DataFrame:
    """(query_id, __qv, cid): one row per query row and each of its
    ``nprobe`` cells, the centroids first in the order of
    ``(dist2_decimal_expr(v, c) NULLS FIRST, cid)`` — ``_assign_local``
    asked for n nearest, per query batch under ``mapInArrow``."""
    src = queries.select(F.col(query_id).alias("query_id"),
                         F.col(query_vec).alias("__qv"))
    return _map_nearest(
        src, [sorted(cents, key=lambda c: c[0])], None,
        T.StructField("__cids", T.ArrayType(T.LongType(), False), False),
        lambda ids: _pa.ListArray.from_arrays(
            _pa.array(_np.arange(len(ids) + 1, dtype=_np.int32) * ids.shape[1]),
            _pa.array(ids.ravel()),
        ),
        n=max(nprobe, 0),
    ).select("query_id", "__qv", F.explode("__cids").alias("cid"))


# ---------------------------------------------------------------------------
# Driver-local exact trainer (small-corpus fast path)
#
# faiss-style practice: k-means / PQ codebooks train on a sample that fits
# in one machine; only corpus ASSIGNMENT and search need the cluster. When
# a bounded row probe (checkpoint.collect_small) says the training input
# is small, we collect it and run the SAME algorithm locally —
# bit-identical to the distributed pipeline (and therefore to the SQL
# oracles): the assignment is the same _assign_local, and
#   - SUM over DECIMAL(38,12) is an exact integer sum at scale 1e12
#   - CAST(decimal AS DOUBLE) == float(Decimal) (nearest double)
# ---------------------------------------------------------------------------

_LOCAL_TRAIN_MAX_ROWS = 100_000


def _collect_if_small(corpus: DataFrame, id_col: str, vec: str):
    """[(id, [float, ...])] sorted by id if the training input holds one
    to ``_LOCAL_TRAIN_MAX_ROWS`` rows, no NULL vector among them and all
    of one length; else None (the caller takes the distributed path, which
    skips NULL vectors and trains on ragged ones)."""
    pdf = collect_small(corpus.select(id_col, vec), _LOCAL_TRAIN_MAX_ROWS)
    vecs = [] if pdf is None else pdf[vec].tolist()
    if any(v is None for v in vecs) or len({len(v) for v in vecs}) != 1:
        return None
    rows = [
        (i, [float(x) for x in v])
        for i, v in zip(pdf[id_col].tolist(), vecs)
    ]
    rows.sort(key=lambda r: r[0])
    return rows


def _dec12_int_matrix(X: _np.ndarray) -> _np.ndarray:
    """(n, d) int64 of CAST(v AS DECIMAL(38,12)) scaled by 1e12 — the exact
    summands of the distributed centroid update, summable in numpy."""
    flat = [int(_dec12(x).scaleb(12)) for x in X.ravel().tolist()]
    return _np.asarray(flat, dtype=_np.int64).reshape(X.shape)


def _exact_means(V12: _np.ndarray, assign: _np.ndarray, n_cents: int):
    """[(cent_index, [mean, ...])] for non-empty centroids: exact int sums
    at 1e12 scale, CAST(sum AS DOUBLE) / CAST(n AS DOUBLE) replica."""
    n, d = V12.shape
    sums = _np.zeros((n_cents, d), dtype=_np.int64)
    _np.add.at(sums, assign, V12)
    counts = _np.bincount(assign, minlength=n_cents)
    out = []
    for j in range(n_cents):
        if counts[j]:
            cnt = float(counts[j])
            out.append(
                (j, [float(_Dec(int(s)).scaleb(-12)) / cnt for s in sums[j]])
            )
    return out


def _int64_sum_safe(X: _np.ndarray) -> bool:
    """int64 headroom guard for the 1e12-scaled sums."""
    if X.size == 0:
        return True
    return float(_np.abs(X).max()) * 1e12 * X.shape[0] < 4e18


def _kmeans_train_local(rows: list, k: int, iters: int) -> list:
    X = _np.asarray([v for _, v in rows], dtype=_np.float64)
    if not _int64_sum_safe(X):
        return None
    cents = [(i, list(X[i])) for i in range(min(k, len(rows)))]
    V12 = _dec12_int_matrix(X)
    for _ in range(iters):
        assign = _assign_local(X, cents)[:, 0]
        by_idx = _exact_means(V12, assign, len(cents))
        cents = sorted((cents[j][0], mean) for j, mean in by_idx)
    return cents


def _pq_train_local(rows: list, m: int, k_codes: int, iters: int, w: int) -> list:
    X = _np.asarray([v for _, v in rows], dtype=_np.float64)
    if not _int64_sum_safe(X):
        return None
    n_init = min(k_codes, len(rows))
    cents = sorted(
        (s, c, list(X[c][s * w : (s + 1) * w]))
        for c in range(n_init)
        for s in range(m)
    )
    V12 = _dec12_int_matrix(X)
    for _ in range(iters):
        new_cents = []
        for s in range(m):
            sub_cents = [(c, v) for (cs, c, v) in cents if cs == s]
            Xs = X[:, s * w : (s + 1) * w]
            assign = _assign_local(Xs, sub_cents)[:, 0]
            by_idx = _exact_means(V12[:, s * w : (s + 1) * w], assign, len(sub_cents))
            new_cents.extend((s, sub_cents[j][0], mean) for j, mean in by_idx)
        cents = sorted(new_cents)
    return cents


def kmeans_train(
    corpus: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
) -> list:
    """Lloyd's k-means, expressed as DataFrame ops so it runs at corpus
    scale: assignment is ``assign_clusters`` (a numpy argmin under
    ``mapInArrow``); the centroid update is posexplode + per-(cluster,
    dim) exact decimal sums. Only the
    k x d centroid matrix is collected per iteration (a few KB) — the
    corpus never leaves the executors. Deterministic end-to-end: decimal
    sums are order-independent, means are exact-sum / count in doubles,
    init is the k lowest-id vectors — so a fixed-iteration run is
    reproducible bit-exactly in ANSI SQL (see the kmeans IVF oracle).

    At 100 TB, train on a sample (``corpus.sample(...)``) and reuse the
    centroids; assignment of the full corpus stays fully distributed.

    When the training input holds at most ``_LOCAL_TRAIN_MAX_ROWS``
    (100k) rows (``collect_small``'s cap), the whole algorithm runs
    driver-local instead — one collect job replaces ``2 * iters``
    driver-synchronous Spark jobs, with bit-identical output (see the
    exact-decimal replica notes above)."""
    local_rows = _collect_if_small(corpus, id_col, vec)
    if local_rows is not None:
        cents = _kmeans_train_local(local_rows, k, iters)
        if cents is not None:
            return cents
    init_rows = (
        corpus.orderBy(id_col).limit(k).select(vec).collect()
    )
    cents = [(i, [float(x) for x in r[0]]) for i, r in enumerate(init_rows)]
    for _ in range(iters):
        assigned = assign_clusters(corpus, cents, vec=vec, id_col=id_col)
        ex = assigned.select("cid", F.posexplode(F.col(vec)).alias("dim", "val"))
        sums = ex.groupBy("cid", "dim").agg(
            F.sum(F.col("val").cast("double").cast("decimal(38,12)")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        rows = (
            sums.select(
                "cid",
                "dim",
                (F.col("__s").cast("double") / F.col("__n").cast("double")).alias("v"),
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "v"))),
                    lambda s: s["v"],
                ).alias("cvec")
            )
            .collect()
        )
        cents = sorted((int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows)
    return cents


def kmeans_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    k_clusters: int = 8,
    iters: int = 2,
    nprobe: int = 2,
) -> DataFrame:
    """IVF with LEARNED (k-means) centroids: train, partition the corpus by
    nearest centroid, probe the ``nprobe`` nearest cells per query, exact
    cosine rerank inside the probed cells. The learned partitioning adapts
    to the data distribution (vs the data-agnostic SRP planes of ivf_topk),
    which is what lifts recall on clustered embeddings at the same probe
    budget. The probe and rerank meet in an equi-join on cell id — no
    all-pairs.

    Training is ``kmeans_train`` (driver-local for a corpus of at most
    100k rows); the corpus assignment is ``assign_clusters`` at every
    size. Each query row's cells are the ``nprobe`` centroids first by
    (exact decimal distance NULLS FIRST, cid), from the same assigner per
    query batch (``_probe_cells``); rows that share a query id each probe
    their own cells. At scale: train on a sample, assign fully
    distributed."""
    cents = kmeans_train(corpus, vec=corpus_vec, id_col=corpus_id,
                         k=k_clusters, iters=iters)
    assigned = assign_clusters(
        corpus, cents, vec=corpus_vec, id_col=corpus_id
    ).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        "cid",
    )
    probes = _probe_cells(queries, query_id, query_vec, cents, nprobe)
    cands = probes.join(assigned, on="cid")
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fast_expr(F.col("__qv"), F.col("__cv")), 8).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ, no-residual variant)
# ---------------------------------------------------------------------------

def _subspace_rows(df: DataFrame, vec: str, id_col: str, m: int, w: int):
    """(id, s, subvec) long format: one row per vector per subspace."""
    return df.selectExpr(
        f"{id_col} AS vid",
        f"posexplode(transform(sequence(0, {m - 1}),"
        f" s -> slice({vec}, s * {w} + 1, {w}))) AS (s, subvec)",
    )


def _pq_centroid_df(spark, cents):
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("s", IntegerType(), False),
            StructField("code", IntegerType(), False),
            StructField("__cvec", ArrayType(DoubleType()), False),
        ]
    )
    return spark.createDataFrame(
        [(int(s), int(c), list(v)) for s, c, v in cents], schema
    )


def pq_train(
    corpus: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    dim: int | None = None,
) -> list:
    """Per-subspace k-means codebooks (product quantization — Jegou,
    Douze, Schmid, "Product quantization for nearest neighbor search",
    TPAMI 2011). All m subspaces train in the SAME jobs: assignment codes
    every subspace of a batch in one ``mapInArrow`` pass (``pq_encode``'s
    assigner), the update is one grouped exact-decimal mean — so the
    number of jobs is independent of m. Deterministic like kmeans_train
    (init = the k_codes lowest-id vectors' slices), hence SQL-mirrorable.

    Returns [(s, code, centroid_subvec)] with m * k_codes entries.

    Small training inputs dispatch to the exact driver-local replica, like
    :func:`kmeans_train`."""
    if dim is None:
        dim = len(corpus.select(vec).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    local_rows = _collect_if_small(corpus, id_col, vec)
    if local_rows is not None:
        cents = _pq_train_local(local_rows, m, k_codes, iters, w)
        if cents is not None:
            return cents
    init = (
        corpus.orderBy(id_col).limit(k_codes).selectExpr(
            f"{id_col} AS vid", f"{vec} AS v"
        ).collect()
    )
    cents = [
        (s, c, [float(x) for x in r["v"][s * w : (s + 1) * w]])
        for c, r in enumerate(init)
        for s in range(m)
    ]
    for _ in range(iters):
        # element pos of the vector is element pos % w of subspace pos div w
        ex = _pq_codes(corpus, cents, vec, id_col, m, w).select(
            "codes", F.posexplode(F.col(vec)).alias("pos", "val")
        ).where(F.col("pos") < m * w).selectExpr(
            f"pos div {w} AS s", f"codes[pos div {w}] AS code",
            f"pos % {w} AS dim", "val",
        )
        rows = (
            ex.groupBy("s", "code", "dim")
            .agg(
                F.sum(F.col("val").cast("double").cast("decimal(38,12)")).alias("__sum"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                "s", "code", "dim",
                (F.col("__sum").cast("double") / F.col("__n").cast("double")).alias("v"),
            )
            .groupBy("s", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "v"))),
                    lambda t: t["v"],
                ).alias("cvec")
            )
            .collect()
        )
        cents = sorted(
            (int(r["s"]), int(r["code"]), [float(x) for x in r["cvec"]]) for r in rows
        )
    return cents


def pq_encode(
    corpus: DataFrame,
    cents: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Assign every vector its per-subspace code: (vid, s, code) long
    format — the m-byte compressed representation that replaces the full
    vector in candidate scoring (and in shuffles). Code s is the entry of
    subspace s nearest to ``slice(vec, s * w + 1, w)``, by the exact
    decimal distance, ties by code (see ``_assign_local``)."""
    return _pq_codes(corpus, cents, vec, id_col, m, dim // m).select(
        "vid", F.posexplode("codes").alias("s", "code")
    )


def _pq_codes(corpus: DataFrame, cents: list, vec: str, id_col: str,
              m: int, w: int) -> DataFrame:
    """(vid, vec, codes): ``codes[s]`` is the code of subspace s nearest
    to the vector's s-th ``w``-wide slice, all m from one numpy pass per
    batch under ``mapInArrow``."""
    books = [[(c, v) for cs, c, v in sorted(cents) if cs == s] for s in range(m)]
    return _map_nearest(
        corpus.select(F.col(id_col).alias("vid"), vec), books, w,
        T.StructField("codes", T.ArrayType(T.IntegerType(), False), False),
        lambda ids: _pa.ListArray.from_arrays(
            _pa.array(_np.arange(0, ids.size + 1, m, dtype=_np.int32)),
            _pa.array(ids.ravel().astype(_np.int32)),
        ),
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    k_clusters: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    m: int = 4,
    k_codes: int = 8,
    pq_iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors: coarse k-means cells prune
    the search (probe ``nprobe`` cells), product-quantization codes score
    the surviving candidates by asymmetric distance (ADC) — the query
    keeps full precision, each candidate is represented by its m codebook
    entries, and the squared-L2 estimate is the sum of m table lookups.

    The 100 TB shape: full vectors are touched exactly twice (coarse
    assignment + encoding, both embarrassingly parallel); candidate
    scoring joins the (qid, s, code) distance table (tiny, broadcast)
    against the m-row code representation — the shuffle carries m ints
    per candidate instead of the d-float vector, which is the entire
    point of PQ at scale. No-residual variant (codes quantize raw
    vectors, not cell residuals) so every stage stays a plain
    deterministic join, bit-exactly mirrored by the SQL oracle.

    Each query row probes the ``nprobe`` centroids first by (exact
    decimal distance NULLS FIRST, cid), chosen per query batch by the
    nearest-centroid assigner (``_probe_cells``), as the corpus cells are.

    Returns (query_id, neighbor_id, adc_d2, rank) — rank by estimated
    distance, ascending, ties on neighbor id."""
    spark = queries.sparkSession
    if dim is None:
        dim = len(corpus.select(corpus_vec).first()[0])
    w = dim // m

    # coarse quantizer: learned cells + corpus assignment (existing IVF).
    # One shared collect feeds both local trainers when the corpus holds
    # at most _LOCAL_TRAIN_MAX_ROWS rows; otherwise each falls back to its
    # distributed training pipeline independently.
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    local_rows = _collect_if_small(corpus, corpus_id, corpus_vec)
    ccents = pcents = None
    if local_rows is not None:
        ccents = _kmeans_train_local(local_rows, k_clusters, iters)
        pcents = _pq_train_local(local_rows, m, k_codes, pq_iters, dim // m)
    if ccents is None:
        ccents = kmeans_train(corpus, vec=corpus_vec, id_col=corpus_id,
                              k=k_clusters, iters=iters)
    if pcents is None:
        pcents = pq_train(corpus, vec=corpus_vec, id_col=corpus_id, m=m,
                          k_codes=k_codes, iters=pq_iters, dim=dim)
    assigned = assign_clusters(
        corpus, ccents, vec=corpus_vec, id_col=corpus_id
    ).select(F.col(corpus_id).alias("neighbor_id"), "cid")
    codes = pq_encode(corpus, pcents, vec=corpus_vec, id_col=corpus_id,
                      m=m, dim=dim).withColumnRenamed("vid", "neighbor_id")

    # query-side: probed cells + per-subspace distance tables
    probes = _probe_cells(queries, query_id, query_vec, ccents, nprobe)
    qsub = _subspace_rows(queries, query_vec, query_id, m, w).withColumnRenamed(
        "vid", "query_id"
    )
    pdf = _pq_centroid_df(spark, pcents)
    dtab = qsub.join(F.broadcast(pdf), on="s").select(
        "query_id", "s", "code",
        dist2_decimal_expr(F.col("subvec"), F.col("__cvec")).alias("__sd2"),
    )

    # ADC scoring of probed candidates over codes (no full vectors here)
    cands = probes.join(assigned, on="cid").select("query_id", "neighbor_id")
    scored = (
        cands.join(codes, on="neighbor_id")
        .join(dtab, on=["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__sd2").alias("__adc"))
        .select(
            "query_id", "neighbor_id",
            F.round(F.col("__adc").cast("double"), 8).alias("adc_d2"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(wr)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# int8 scalar quantization
# ---------------------------------------------------------------------------

def amax_per_dim(corpus: DataFrame, vec: str = "embedding") -> DataFrame:
    """Single-row DataFrame with the per-dimension max-abs over the corpus
    (the symmetric int8 quantization scale). One posexplode + groupBy —
    output is d values, broadcastable anywhere."""
    ex = corpus.select(F.posexplode(F.col(vec)).alias("dim", "val"))
    am = ex.groupBy("dim").agg(F.max(F.abs(F.col("val").cast("double"))).alias("m"))
    return am.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("__amax")
    )


def quantize_expr(vec, amax):
    """Symmetric int8 encode: q_i = round(x_i / amax_i * 127). Exact
    double ops in both engines; zero-scale dimensions encode to 0."""
    return F.zip_with(
        vec,
        amax,
        lambda x, m: F.when(
            m > 0, F.round(x.cast("double") / m * F.lit(127.0), 0)
        )
        .otherwise(F.lit(0.0))
        .cast("int"),
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Brute-force top-k over int8 scalar-quantized embeddings: 4x less
    candidate traffic than float32, ranked by the quantized cosine. At
    100 TB this is the memory-bound rerank you run inside IVF cells, with
    the codes shuffling as d bytes instead of d floats.

    Spark quantizes both sides (``quantize_expr``); ``cosine_topk`` scores
    the integer vectors. Its in-order double fold equals the exact integer
    dot product while every partial sum stays below 2^53 in magnitude,
    where doubles hold integers exactly. Corpus codes lie in [-127, 127];
    only a query component some 10^5 times its dimension's corpus max-abs
    (at d = 64) comes near that bound.

    Output: query_id, neighbor_id, qcosine, rank.
    """
    # The quantization scale is MODEL STATE — one row of d doubles — and
    # it feeds BOTH the query-side and corpus-side encodes. As a broadcast
    # subtree it was planned twice (two complete corpus posexplode +
    # max-per-dim passes, one per encode side; r8 plan audit). Collecting
    # the single row (bounded by the embedding dimension, never the
    # corpus) and inlining it as a literal array computes the pass once;
    # Python floats round-trip IEEE-exactly, so every encode sees
    # bit-identical scales.
    am_row = amax_per_dim(corpus, vec=corpus_vec).collect()[0]
    ma = am_row["__amax"] or []
    am_col = (
        F.array(*[F.lit(float(v)) for v in ma])
        if ma
        else F.expr("CAST(array() AS array<double>)")  # empty corpus: same
        # zip_with padding semantics as the old empty __amax row
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        quantize_expr(F.col(query_vec), am_col).alias("__qq"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        quantize_expr(F.col(corpus_vec), am_col).alias("__cq"),
    )
    return cosine_topk(q, c, "query_id", "neighbor_id", "__qq", "__cq",
                       k).withColumnRenamed("cosine", "qcosine")


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup)
# ---------------------------------------------------------------------------

def semantic_dedup(
    corpus: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    k_clusters: int = 8,
    iters: int = 2,
    threshold: float = 0.35,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means
    clusters the embedding space, then cosine pairs are examined ONLY
    within each cluster — a row is dropped when its cosine to any
    lower-id member of the same cluster reaches ``threshold`` (the
    deterministic keep-first policy; greedy, not transitive, so the
    decision is a pure pairwise predicate restatable in SQL).

    Scale shape: training touches only the k x d centroid matrix on the
    driver; assignment is ``assign_clusters`` (a numpy argmin per batch,
    no join); candidate generation is a
    self-equi-join on cluster id — pair count is sum over clusters of
    |cluster|^2 / 2 rather than |corpus|^2 / 2, and k_clusters is the
    knob that bounds it (at 100 TB pick k so the largest cell fits a
    shuffle partition, exactly like the IVF cell sizing).

    The pair cosine is the in-order double fold of ``cosine_fast_expr``,
    unrolled to the trained centroids' dimension when they all share one
    (rows of another length take the fold; bit-identical either way).

    Output: (id_col, cid, kept) — one row per input row, kept=false for
    dropped near-duplicates.
    """
    cents = kmeans_train(
        corpus, vec=vec, id_col=id_col, k=k_clusters, iters=iters
    )
    # `assigned` is referenced THREE times (both pair-join sides and the
    # final keep join): checkpoint so the assignment pass runs once, not
    # three times (§2.4; checkpoint_df honors the reliable-checkpoint
    # escape hatch)
    assigned = checkpoint_df(
        assign_clusters(corpus, cents, vec=vec, id_col=id_col), eager=False
    )
    # unroll the folds to the trained centroids' length when they share
    # one (dot_inorder_expr checks each row's size, so the result is the
    # same bit for bit); precompute each row's norm ONCE before the pair
    # join — recomputing it per pair would triple the dot-product work
    dims = {len(c) for _, c in cents}
    dim = dims.pop() if len(dims) == 1 else None
    norm = F.sqrt(dot_inorder_expr(F.col(vec), F.col(vec), dim))
    a = assigned.select(
        F.col(id_col).alias("__aid"), F.col(vec).alias("__av"),
        norm.alias("__an"), "cid",
    )
    b = assigned.select(
        F.col(id_col).alias("__bid"), F.col(vec).alias("__bv"),
        norm.alias("__bn"), "cid",
    )
    den = F.col("__an") * F.col("__bn")
    num = dot_inorder_expr(F.col("__av"), F.col("__bv"), dim)
    sim = F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 8)
    dup_ids = (
        a.join(b, on="cid")
        .where(F.col("__aid") < F.col("__bid"))
        .where(sim >= F.lit(float(threshold)))
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    return assigned.join(
        dup_ids.withColumn("__dup", F.lit(True)), on=id_col, how="left"
    ).select(
        id_col,
        "cid",
        F.coalesce(~F.col("__dup"), F.lit(True)).alias("kept"),
    )


# ---------------------------------------------------------------------------
# model persistence: train once, reuse across jobs
# ---------------------------------------------------------------------------

def save_centroids(spark, cents, path: str):
    """Persist k-means centroids (kmeans_train output) as parquet so the
    expensive training pass runs once and every downstream job (corpus
    assignment, IVF probing, streaming scorers) reloads the same
    deterministic model."""
    _centroid_df(spark, cents).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> list:
    rows = spark.read.parquet(path).collect()
    return sorted((int(r["__cid"]), [float(x) for x in r["__cvec"]]) for r in rows)


def save_pq_codebooks(spark, cents, path: str):
    """Persist product-quantization codebooks (pq_train output)."""
    _pq_centroid_df(spark, cents).write.mode("overwrite").parquet(path)


def load_pq_codebooks(spark, path: str) -> list:
    rows = spark.read.parquet(path).collect()
    return sorted(
        (int(r["s"]), int(r["code"]), [float(x) for x in r["__cvec"]]) for r in rows
    )


_MMR_LOCAL_MAX_ROWS = 100_000  # ~60 MB of (ids, rel, 64-dim vec) rows


def _round_half_up(x: float, exp: str) -> float:
    """Replica of Spark ``round(double, n)``: BigDecimal.valueOf (shortest
    decimal repr) then setScale(n, HALF_UP)."""
    return float(_Dec(repr(float(x))).quantize(_Dec(exp), rounding=_HALF_UP))


def _mmr_local(rows, k, lam_i, scale, round_exp):
    """Driver-local replica of the unrolled greedy rounds — the same
    in-order IEEE cosine fold, the same HALF_UP rounding composition, the
    same integer score arithmetic and (score desc, cand id asc)
    tie-breaks, so output is bit-identical to the distributed plan
    (equality-tested). rows: (qid, cid, rel8, reli, vec)."""
    import math

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    # per-row norms computed once (they never change); the pairwise cosine
    # reuses them with the same expression order as cosine_fast_expr.
    # Keyed by row identity, not candidate id — the same neighbor id under
    # a different query is a different row object.
    norms = {}

    def norm(c):
        key = id(c)
        n = norms.get(key)
        if n is None:
            n = math.sqrt(fold_dot(c[4], c[4]))
            norms[key] = n
        return n

    def cos_i(c, s):
        den = norm(c) * norm(s)
        v = fold_dot(c[4], s[4]) / den if den > 0 else 0.0
        return int(round(_round_half_up(v, round_exp) * scale))

    byq = {}
    for r in rows:
        byq.setdefault(r[0], []).append(r)
    out = []
    for qid in byq:
        cands = byq[qid]
        first = min(cands, key=lambda c: (-c[3], c[1]))
        sel_ids = {first[1]}
        newest = first
        out.append((qid, first[1], 1, float(first[2])))
        # running max-sim per candidate: round r only folds in the newest
        # pick (max is associative — identical to the full max the
        # distributed groupBy computes)
        maxsim = {}
        for rank in range(2, k + 1):
            rem = [c for c in cands if c[1] not in sel_ids]
            if not rem:
                break
            best = None
            for c in rem:
                msi = cos_i(c, newest)
                prev = maxsim.get(c[1])
                if prev is None or msi > prev:
                    maxsim[c[1]] = msi
                else:
                    msi = prev
                scorei = lam_i * c[3] - (1000 - lam_i) * msi
                key = (-scorei, c[1])
                if best is None or key < best[1]:
                    best = (c, key, scorei)
            out.append((qid, best[0][1], rank, best[2] / (scale * 1000.0)))
            sel_ids.add(best[0][1])
            newest = best[0]
    return out


def mmr_rerank(
    cands: DataFrame,
    k: int = 3,
    lam: float = 0.7,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    rel_col: str = "rel",
    vec_col: str = "vec",
    round_to: int = 8,
) -> DataFrame:
    """Maximal-marginal-relevance reranking (Carbonell & Goldstein 1998) of
    a per-query candidate set — the diversity pass between retrieval and a
    RAG context window: greedily pick k candidates maximizing
    ``lam * relevance - (1 - lam) * max_similarity_to_already_picked``.

    The greedy loop is unrolled into k DataFrame rounds (a window top-1,
    an anti-join, and a candidates-x-selected cosine per round), so the
    whole plan is native expressions over the CANDIDATE table — cost is
    O(k * |queries| * fetch), independent of corpus size; the corpus-scale
    work stays in the upstream retrieval stage.

    Determinism: relevance and pairwise cosines are rounded to
    ``round_to`` dp, then the MMR combination runs in EXACT integer
    arithmetic — scores in 1e-{round_to} units, ``lam`` quantized to
    thousandths — so there is no float rounding step whose half-way ties
    could differ between engines; ties broken by candidate id. The greedy
    argmax (and so the selection) is exactly reproducible in SQL.

    Output: query_id, cand_id, mmr_rank (1-based pick order), mmr_score
    (= (lam_i * rel_i - (1000 - lam_i) * maxsim_i) / 1e{round_to + 3};
    rank 1 carries the plain rounded relevance).
    """
    qid, cid = query_id, cand_id
    scale = float(10 ** round_to)
    lam_i = int(round(lam * 1000))

    def to_i(c):
        # rounded-to-round_to doubles recovered as exact integers (the
        # argument is within float error of an integer, never near .5)
        return F.round(c * F.lit(scale)).cast("long")

    rel8 = F.round(F.col(rel_col), round_to).alias("__rel8")
    base = cands.select(
        qid, cid, rel8, F.col(vec_col).alias("__v")
    ).withColumn("__reli", to_i(F.col("__rel8")))

    # Driver-local fast path (same design rules as the k-means/PQ/CC local
    # paths, SCALE.md): the candidate table is |queries| x fetch rows by
    # construction, and the unrolled plan pays k rounds of driver-
    # synchronous stages for kilobyte-scale state. Gate = the bounded
    # collect_small probe, whose cost is bounded by the cap even on huge
    # inputs. Output bit-identical to the distributed plan
    # (equality-tested).
    probe = collect_small(
        base.select(qid, cid, "__rel8", "__reli", "__v"), _MMR_LOCAL_MAX_ROWS
    )
    if probe is not None:
        rows = [
            (q, c, rel, reli, [float(x) for x in v])
            for q, c, rel, reli, v in zip(
                probe[qid].tolist(), probe[cid].tolist(),
                probe["__rel8"].tolist(), probe["__reli"].tolist(),
                probe["__v"],
            )
        ]
        out = _mmr_local(rows, k, lam_i, scale, f"1E-{round_to}")
        in_schema = {f.name: f.dataType for f in base.schema.fields}
        schema = T.StructType([
            T.StructField(qid, in_schema[qid]),
            T.StructField(cid, in_schema[cid]),
            T.StructField("mmr_rank", T.IntegerType(), False),
            T.StructField("mmr_score", T.DoubleType(), True),
        ])
        spark = cands.sparkSession
        return spark.createDataFrame(
            [(o[0], o[1], o[2], o[3]) for o in out], schema
        )

    # every greedy round references the candidate table 2-3 times; without
    # this the upstream RETRIEVAL lineage would re-execute per reference.
    # A checkpoint (not cache) so the materialized blocks are released
    # by the ContextCleaner when the result is dereferenced — cache()
    # would pin them in executor storage for the session's lifetime with
    # no safe point to unpersist.
    base = checkpoint_df(base, eager=False)
    w1 = Window.partitionBy(qid).orderBy(F.desc("__reli"), F.asc(cid))
    sel = (
        base.withColumn("__rn", F.row_number().over(w1))
        .where(F.col("__rn") == 1)
        .select(
            qid, cid, "__reli", "__v",
            F.lit(1).alias("mmr_rank"),
            F.col("__rel8").alias("mmr_score"),
        )
    )
    for r in range(2, k + 1):
        rem = base.join(sel.select(qid, cid), [qid, cid], "left_anti")
        pair = rem.join(
            sel.select(qid, F.col("__v").alias("__sv")), qid
        )
        ms = (
            pair.groupBy(qid, cid)
            .agg(
                F.max(
                    to_i(F.round(
                        cosine_fast_expr(F.col("__v"), F.col("__sv")), round_to
                    ))
                ).alias("__msi")
            )
        )
        scored = rem.join(ms, [qid, cid]).withColumn(
            "__scorei",
            F.lit(lam_i) * F.col("__reli")
            - F.lit(1000 - lam_i) * F.col("__msi"),
        )
        wr = Window.partitionBy(qid).orderBy(F.desc("__scorei"), F.asc(cid))
        pick = (
            scored.withColumn("__rn", F.row_number().over(wr))
            .where(F.col("__rn") == 1)
            .select(
                qid, cid, "__reli", "__v",
                F.lit(r).alias("mmr_rank"),
                (F.col("__scorei").cast("double") / F.lit(scale * 1000.0))
                .alias("mmr_score"),
            )
        )
        sel = sel.unionByName(pick)
    return sel.select(qid, F.col(cid), "mmr_rank", "mmr_score")


def sign_pack_expr(vec, word: int) -> Column:
    """Pack 32 of an embedding's sign bits (dims 32*word .. 32*word+31,
    bit set when the component > 0) into a non-negative int64 word. 32-bit
    words keep every shift and sum inside BIGINT range on ANY engine (a
    single 64-bit word would need bit 63 = 2^63, which overflows signed
    64-bit in SQL). Pure codegen: sequence + transform + aggregate."""
    name = vec if isinstance(vec, str) else None
    if name is None:
        raise ValueError("sign_pack_expr needs a column NAME (used in expr SQL)")
    off = 32 * word
    return F.expr(
        f"aggregate(transform(sequence(0, 31), i -> "
        f"IF({off} + i < size({name}) AND element_at({name}, {off} + i + 1) > 0.0D, "
        f"shiftleft(1L, i), 0L)), 0L, (acc, x) -> acc + x)"
    )


def binary_hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Binary (sign-bit) retrieval: embeddings compress 32x+ to
    ceil(dim/32) int64 words and similarity is the Hamming distance
    ``sum(bit_count(q XOR c))`` — the standard cheap first-stage filter
    before an exact float rerank. Everything is native codegen (pack,
    XOR, bit_count, TakeOrdered window); at scale the corpus shuffles a
    few bytes per vector and the tiny query side broadcasts.

    Output: query_id, neighbor_id, hamming, rank — ranked by
    (hamming asc, neighbor_id asc) for engine-independent determinism.
    """
    n_words = (dim + 31) // 32
    q = queries.select(
        F.col(query_id).alias("query_id"),
        *[sign_pack_expr(query_vec, w).alias(f"__qw{w}") for w in range(n_words)],
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        *[sign_pack_expr(corpus_vec, w).alias(f"__cw{w}") for w in range(n_words)],
    )
    ham = F.lit(0)
    for w in range(n_words):
        ham = ham + F.bit_count(F.col(f"__qw{w}").bitwiseXOR(F.col(f"__cw{w}")))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        ham.cast("int").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
