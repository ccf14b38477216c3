"""sim query-catalog entries (split from queries.py, round 6)."""

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



def sim_srp_buckets(spark, sf_dir):
    """SRP-LSH bucket histogram. STRICT oracle: the md5-derived random
    hyperplanes and sign arithmetic are mirrored bit-for-bit in DuckDB SQL
    (ORACLE_SIM_SRP), so rows+schema+hash are all value-checked."""
    from ..datapipe.similarity import srp_bucket_expr

    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select(srp_bucket_expr("embedding", n_planes=8, dim_hint=64).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def sim_near_dup_pairs(spark, sf_dir):
    """Embedding near-duplicate pairs by exact cosine threshold over a
    bounded candidate set (brute-force; the LSH-blocked variant is the scale
    path, strictly oracle-checked as sim_srp_buckets)."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    from ..datapipe.similarity import dot_decimal_expr, norm_decimal_expr

    # norms hoisted to the per-vector side BEFORE the cross join — the
    # per-pair expression shrinks from three decimal folds to one (3x less
    # codegen and runtime), and sqrt(norm.cast(double)) is the exact value
    # cosine_expr would compute inline
    a = e.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"),
        F.sqrt(norm_decimal_expr(F.col("embedding")).cast("double")).alias("__sa"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"),
        F.sqrt(norm_decimal_expr(F.col("embedding")).cast("double")).alias("__sb"),
    )
    num = dot_decimal_expr(F.col("ea"), F.col("eb")).cast("double")
    den = F.col("__sa") * F.col("__sb")
    cosine = F.when(den > 0, num / den).otherwise(F.lit(0.0))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.round(cosine, 8).alias("cosine"))
        .where(F.col("cosine") >= 0.9)
    )
    return pairs


ORACLE_SIM_NEAR_DUP = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
terms AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         unnest(a.embedding)::DOUBLE AS av, unnest(b.embedding)::DOUBLE AS bv
  FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id
),
scored AS (
  SELECT a_id, b_id,
         SUM(CAST(round(av * bv, 12) AS DECIMAL(38,12))) AS dot,
         SUM(CAST(round(av * av, 12) AS DECIMAL(38,12))) AS an,
         SUM(CAST(round(bv * bv, 12) AS DECIMAL(38,12))) AS bn
  FROM terms GROUP BY a_id, b_id
)
SELECT a_id, b_id,
       round(CASE WHEN sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE)) > 0
                  THEN CAST(dot AS DOUBLE) / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE)))
                  ELSE 0.0 END, 8) AS cosine
FROM scored
WHERE round(CASE WHEN sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE)) > 0
                 THEN CAST(dot AS DOUBLE) / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE)))
                 ELSE 0.0 END, 8) >= 0.9
"""


def sim_embedding_stats(spark, sf_dir):
    """Per-label embedding statistics: counts and decimal-exact norms."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(similarity.norm_decimal_expr(F.col("embedding")).cast("double")), 6
        ).alias("l2_norm"),
    )


ORACLE_SIM_STATS = """
SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
       round(sqrt(CAST((SELECT SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 12) AS DECIMAL(38,12)))
                        FROM unnest(embedding) AS t(x)) AS DOUBLE)), 6) AS l2_norm
FROM embeddings
"""


def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k baseline: collected queries, in-order fold dots over corpus batches, window rank."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    corpus = e.where(F.col("vec_id") >= 8)
    out = similarity.cosine_topk(q, corpus, k=5)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


def _inorder_dot_sql(a: str, b: str) -> str:
    """Sequential left-fold double dot product over two list columns —
    the DuckDB mirror of dot_inorder_expr (identical IEEE op order)."""
    return (
        f"COALESCE(list_sum(list_transform(range(0, len({a})), "
        f"i -> CAST({a}[CAST(i AS INT) + 1] AS DOUBLE) * "
        f"CAST({b}[CAST(i AS INT) + 1] AS DOUBLE))), 0.0)"
    )


def _inorder_cosine_sql(a: str, b: str) -> str:
    dot = _inorder_dot_sql(a, b)
    qn = f"sqrt({_inorder_dot_sql(a, a)})"
    cn = f"sqrt({_inorder_dot_sql(b, b)})"
    return (
        f"round(CASE WHEN {qn} * {cn} > 0 THEN ({dot}) / ({qn} * {cn}) "
        f"ELSE 0.0 END, 8)"
    )


ORACLE_SIM_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings WHERE vec_id >= 8),
cosined AS (
  SELECT query_id, neighbor_id, {_inorder_cosine_sql('qe', 'ce')} AS cosine
  FROM q CROSS JOIN c
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM cosined
) WHERE rank <= 5
"""


def sim_mmr_rerank(spark, sf_dir):
    """MMR diversity reranking (Carbonell & Goldstein 1998) of the
    brute-force retrieval's top-8 candidates: greedy 3-pick with
    lambda = 0.7, scores and pairwise cosines rounded to 8dp with id
    tie-breaks so the greedy argmax is engine-independent. The DuckDB
    oracle unrolls the same 3 rounds as CTEs — rows, schema, and values
    all strict."""
    from ..datapipe import similarity

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    c = e.where(F.col("vec_id") >= 8)
    topk = similarity.cosine_topk(q, c, k=8)
    cands = topk.join(
        c.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("vec")),
        "neighbor_id",
    ).select("query_id", "neighbor_id", F.col("cosine").alias("rel"), "vec")
    out = similarity.mmr_rerank(cands, k=3, lam=0.7)
    return out.select(
        "query_id", "neighbor_id",
        F.col("mmr_rank").cast("int").alias("mmr_rank"), "mmr_score",
    )


def _mmr_oracle_sql() -> str:
    """The same greedy MMR unroll (fetch=8, k=3, lambda=0.7) as CTE
    rounds; cosines via the in-order fold mirror, the MMR combination in
    the same exact integer units as similarity.mmr_rerank (1e-8 score
    ticks, lambda in thousandths) so no float rounding tie can differ."""
    rel = _inorder_cosine_sql("qv", "cv")
    pair = _inorder_cosine_sql("r.cv", "s.cv")

    def pick(r, rem, sel):
        return f"""
ms{r} AS (
  SELECT r.query_id, r.neighbor_id,
         max(CAST(round(round({pair}, 8) * 1e8) AS BIGINT)) AS msi
  FROM {rem} r JOIN {sel} s ON r.query_id = s.query_id
  GROUP BY r.query_id, r.neighbor_id
), pick{r} AS (
  SELECT query_id, neighbor_id, reli, cv, {r} AS mmr_rank,
         CAST(scorei AS DOUBLE) / 1e11 AS mmr_score
  FROM (
    SELECT r.query_id, r.neighbor_id, r.reli, r.cv,
           700 * r.reli - 300 * m.msi AS scorei
    FROM {rem} r JOIN ms{r} m
      ON r.query_id = m.query_id AND r.neighbor_id = m.neighbor_id
  )
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY scorei DESC, neighbor_id
  ) = 1
)"""

    def anti(rem, src, sel):
        return f"""
{rem} AS (
  SELECT c.* FROM {src} c LEFT JOIN {sel} s
    ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id
  WHERE s.neighbor_id IS NULL
)"""

    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 8
), scored AS (
  SELECT query_id, neighbor_id, {rel} AS rel8,
         CAST(round({rel} * 1e8) AS BIGINT) AS reli, cv
  FROM q CROSS JOIN c
), cand AS (
  SELECT * FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY reli DESC, neighbor_id
  ) <= 8
), sel1 AS (
  SELECT query_id, neighbor_id, reli, cv, 1 AS mmr_rank, rel8 AS mmr_score
  FROM cand
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY reli DESC, neighbor_id
  ) = 1
), {anti('rem2', 'cand', 'sel1')}, {pick(2, 'rem2', 'sel1')},
sel12 AS (
  SELECT * FROM sel1 UNION ALL SELECT * FROM pick2
), {anti('rem3', 'cand', 'sel12')}, {pick(3, 'rem3', 'sel12')}
SELECT query_id, neighbor_id, CAST(mmr_rank AS INT) AS mmr_rank, mmr_score
FROM (
  SELECT * FROM sel12 UNION ALL SELECT * FROM pick3
)
"""


ORACLE_SIM_MMR = _mmr_oracle_sql()


# SimHash mirror: same md5-derived 60-bit gram hashes, per-bit majority vote
# via a grams x bits cross join (md5 computed once per gram, not per bit).
ORACLE_SIMHASH_SIGS = """
WITH grams AS (
  SELECT doc_id,
         CASE WHEN length(substr(text, 1, 128)) < 4 THEN [substr(text, 1, 128)]
              ELSE list_distinct(list_transform(range(1, length(substr(text, 1, 128)) - 2),
                                  i -> substr(substr(text, 1, 128), CAST(i AS INT), 4)))
         END AS g
  FROM documents
), hashes AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(g) AS x FROM grams)
), votes AS (
  SELECT doc_id, bb.b AS b,
         SUM((h >> CAST(bb.b AS INT)) & 1) AS ones,
         COUNT(*) AS n
  FROM hashes CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb
  GROUP BY doc_id, bb.b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN 2 * ones > n THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def _srp_bucket_sql(col: str, n_planes: int, seed: int = 7) -> str:
    """SRP bucket mirror: identical md5-derived plane weights, sequential
    left-fold float sum (list elements in order, as Spark's F.aggregate)."""
    bits = []
    for j in range(n_planes):
        proj = (
            f"list_sum(list_transform(range(0, len({col})), "
            f"i -> CAST({col}[CAST(i AS INT) + 1] AS DOUBLE) * "
            f"(CAST(concat('0x', substr(md5(concat('{seed}:{j}:', CAST(i AS VARCHAR))), 1, 8)) AS BIGINT)"
            " / 4294967296.0 - 0.5)))"
        )
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


ORACLE_SRP_BUCKETS = (
    f"SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM "
    f"(SELECT {_srp_bucket_sql('embedding', 8)} AS bucket FROM embeddings) GROUP BY bucket"
)


def sim_ivf_topk(spark, sf_dir):
    """Approximate nearest neighbors via inverted-file SRP buckets with
    Hamming-1 multiprobe — the scale path when the corpus outgrows the
    brute-force broadcast cross-join. Full SQL oracle: the entire pipeline
    (buckets, probes, decimal cosine, rank) is mirrored in DuckDB."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    corpus = e.where(F.col("vec_id") >= 8)
    out = similarity.ivf_topk(q, corpus, k=5, n_planes=6, probe_radius=1,
                              dim_hint=64)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


def _ivf_oracle_sql(n_planes: int = 6) -> str:
    flips = ", ".join(
        f"substr(b, 1, {j}) || (CASE WHEN substr(b, {j + 1}, 1) = '1' THEN '0' ELSE '1' END) || substr(b, {j + 2})"
        for j in range(n_planes)
    )
    return f"""
WITH withb AS (
  SELECT vec_id, embedding, {_srp_bucket_sql('embedding', n_planes)} AS b FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, unnest([b, {flips}]) AS probe
  FROM withb WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS ce, b FROM withb WHERE vec_id >= 8
),
pairs AS (
  SELECT query_id, qe, neighbor_id, ce FROM q JOIN c ON c.b = q.probe
),
cosined AS (
  SELECT query_id, neighbor_id, {_inorder_cosine_sql('qe', 'ce')} AS cosine
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM cosined
) WHERE rank <= 5
"""


ORACLE_SIM_IVF_TOPK = _ivf_oracle_sql()


def sim_knn_join(spark, sf_dir):
    """Approximate k-NN SELF-join (every vector -> top-3 neighbors among
    the rest) over a shuffle bucket equi-join — no broadcast of either
    side, no all-pairs. Subset to vec_id < 120 so the DuckDB mirror (which
    must replay every candidate pair) stays fast; the Spark plan is
    identical at any size."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 120)
    out = similarity.knn_join(e, k=3, n_planes=6, probe_radius=1, dim_hint=64)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


def _knn_join_oracle_sql(n_planes: int = 6) -> str:
    flips = ", ".join(
        f"substr(b, 1, {j}) || (CASE WHEN substr(b, {j + 1}, 1) = '1' THEN '0' ELSE '1' END) || substr(b, {j + 2})"
        for j in range(n_planes)
    )
    return f"""
WITH withb AS (
  SELECT vec_id, embedding, {_srp_bucket_sql('embedding', n_planes)} AS b
  FROM embeddings WHERE vec_id < 120
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, unnest([b, {flips}]) AS probe
  FROM withb
),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce, b FROM withb),
pairs AS (
  SELECT query_id, qe, neighbor_id, ce FROM q JOIN c ON c.b = q.probe
  WHERE neighbor_id <> query_id
),
cosined AS (
  SELECT query_id, neighbor_id, {_inorder_cosine_sql('qe', 'ce')} AS cosine
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM cosined
) WHERE rank <= 3
"""


ORACLE_SIM_KNN_JOIN = _knn_join_oracle_sql()


def sim_kmeans_ivf_topk(spark, sf_dir):
    """ANN with LEARNED centroids: 2 Lloyd's iterations (exact decimal
    arithmetic, deterministic init), corpus partitioned by nearest centroid,
    nprobe=2, exact cosine rerank. The full training + probe + rerank
    pipeline is mirrored bit-exactly by the unrolled-CTE oracle."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    corpus = e.where(F.col("vec_id") >= 8)
    out = similarity.kmeans_ivf_topk(
        q, corpus, k=5, k_clusters=8, iters=2, nprobe=2
    )
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


def _lloyds_ctes(k_clusters: int, iters: int) -> list:
    """Shared CTE block replaying ``similarity.kmeans_train`` +
    ``assign_clusters`` bit-exactly in SQL. Assumes a CTE named ``corpus``
    (vec_id, embedding) is already defined; ends with ``af`` =
    (vid, cid) final assignments on the trained centroids ``cent{iters}``."""
    d2 = "SUM(CAST(round((av - cv) * (av - cv), 12) AS DECIMAL(38,12))) AS d2"
    ctes = [
        f"""cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, embedding AS cvec
  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT {k_clusters})
)""",
        """vals AS (
  SELECT vec_id AS vid, unnest(embedding)::DOUBLE AS val,
         unnest(range(len(embedding))) AS dim
  FROM corpus
)""",
    ]
    for i in range(iters):
        ctes += [
            f"""t{i} AS (
  SELECT c.vec_id AS vid, kk.cid,
         unnest(c.embedding)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM corpus c CROSS JOIN cent{i} kk
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
  SELECT c.vec_id AS vid, kk.cid,
         unnest(c.embedding)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM corpus c CROSS JOIN cent{fin} kk
)""",
        f"df_ AS (SELECT vid, cid, {d2} FROM tf GROUP BY vid, cid)",
        """af AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn
    FROM df_
  ) WHERE rn = 1
)""",
    ]
    return ctes


def _kmeans_ivf_oracle_sql(k_clusters=8, iters=2, nprobe=2, k=5):
    """Unrolled fixed-iteration Lloyd's in plain SQL: every Spark stage
    (decimal distances, argmin with cid tie-break, exact-sum/count means,
    probe, rerank) has a textually parallel CTE."""
    d2 = "SUM(CAST(round((av - cv) * (av - cv), 12) AS DECIMAL(38,12))) AS d2"
    fin = iters
    ctes = [
        "corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8)",
        "qs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8)",
    ]
    ctes += _lloyds_ctes(k_clusters, iters)
    ctes += [
        f"""qt AS (
  SELECT q.vec_id AS qid, kk.cid,
         unnest(q.embedding)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM qs q CROSS JOIN cent{fin} kk
)""",
        f"qd AS (SELECT qid, cid, {d2} FROM qt GROUP BY qid, cid)",
        f"""probe AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn
    FROM qd
  ) WHERE rn <= {nprobe}
)""",
        "cands AS (SELECT p.qid, a.vid FROM probe p JOIN af a ON p.cid = a.cid)",
        f"""ranked AS (
  SELECT c.qid AS query_id, c.vid AS neighbor_id,
         {_inorder_cosine_sql('q.embedding', 'e.embedding')} AS cosine
  FROM cands c
  JOIN qs q ON c.qid = q.vec_id
  JOIN corpus e ON c.vid = e.vec_id
)""",
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
  FROM ranked
) WHERE rn <= {k}
"""
    )


ORACLE_SIM_KMEANS_IVF = _kmeans_ivf_oracle_sql()


def sim_binary_hamming_topk(spark, sf_dir):
    """Binary sign-bit retrieval (similarity.binary_hamming_topk): 64-dim
    embeddings pack into ONE int64 word, candidates rank by
    bit_count(q XOR c) — all codegen, 8 bytes/vector at scale. Strict
    oracle: DuckDB replays the sign pack and Hamming rank with identical
    (hamming asc, neighbor_id asc) determinism."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    corpus = e.where(F.col("vec_id") >= 8)
    out = similarity.binary_hamming_topk(q, corpus, k=5)
    return out.select(
        "query_id", "neighbor_id", "hamming", F.col("rank").cast("int").alias("rank")
    )


def _sign_pack_sql(v: str, word: int) -> str:
    """32-bit sign-pack word (mirrors similarity.sign_pack_expr): BIGINT
    shifts never exceed 1<<31, safe in any engine."""
    off = 32 * word
    return (
        f"COALESCE(list_sum(list_transform(range(0, 32), "
        f"i -> CASE WHEN {off} + i < len({v}) AND {v}[{off} + CAST(i AS INT) + 1] > 0.0 "
        f"THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)), 0)"
    )


ORACLE_SIM_BINARY_HAMMING = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         {_sign_pack_sql('embedding', 0)} AS qw0,
         {_sign_pack_sql('embedding', 1)} AS qw1
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id,
         {_sign_pack_sql('embedding', 0)} AS cw0,
         {_sign_pack_sql('embedding', 1)} AS cw1
  FROM embeddings WHERE vec_id >= 8
),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(bit_count(xor(CAST(qw0 AS BIGINT), CAST(cw0 AS BIGINT)))
              + bit_count(xor(CAST(qw1 AS BIGINT), CAST(cw1 AS BIGINT))) AS INT) AS hamming
  FROM q CROSS JOIN c
)
SELECT query_id, neighbor_id, hamming,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY hamming ASC, neighbor_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def sim_binary_recall(spark, sf_dir):
    """Retrieval-quality evaluation: recall@5 of the binary sign-bit
    Hamming shortlist against the exact float-cosine top-5 per query (the
    measurement that justifies using the 32x-compressed first stage). A
    k-row equi-join of two top-k tables — evaluation never touches the
    corpus a second time. Oracle replays both rankers and the overlap."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    corpus = e.where(F.col("vec_id") >= 8)
    ham = similarity.binary_hamming_topk(q, corpus, k=5).select(
        "query_id", "neighbor_id"
    )
    ex = similarity.cosine_topk(q, corpus, k=5).select("query_id", "neighbor_id")
    hits = ham.join(ex, ["query_id", "neighbor_id"]).groupBy("query_id").count()
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("count"), F.lit(0)) / F.lit(5.0)).alias("recall_at_5"),
        )
    )


ORACLE_SIM_BINARY_RECALL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe,
         {_sign_pack_sql('embedding', 0)} AS qw0,
         {_sign_pack_sql('embedding', 1)} AS qw1
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS ce,
         {_sign_pack_sql('embedding', 0)} AS cw0,
         {_sign_pack_sql('embedding', 1)} AS cw1
  FROM embeddings WHERE vec_id >= 8
),
ham AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY bit_count(xor(CAST(qw0 AS BIGINT), CAST(cw0 AS BIGINT)))
                      + bit_count(xor(CAST(qw1 AS BIGINT), CAST(cw1 AS BIGINT))) ASC,
                      neighbor_id ASC) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= 5
),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY {_inorder_cosine_sql('qe', 'ce')} DESC, neighbor_id ASC) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= 5
),
hits AS (
  SELECT h.query_id, COUNT(*) AS n
  FROM ham h JOIN ex e ON h.query_id = e.query_id AND h.neighbor_id = e.neighbor_id
  GROUP BY h.query_id
)
SELECT q.query_id, COALESCE(hits.n, 0) / 5.0 AS recall_at_5
FROM q LEFT JOIN hits ON q.query_id = hits.query_id
"""


def sim_quantized_topk(spark, sf_dir):
    """int8 scalar-quantized brute-force top-k: per-dim max-abs scales,
    round-to-127 encode, codes ranked by cosine_topk (its double fold is
    the EXACT integer dot product below 2^53). Oracle replays
    scale/encode/score in list SQL with BIGINT sums."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    corpus = e.where(F.col("vec_id") >= 8)
    out = similarity.quantized_topk(q, corpus, k=5)
    return out.select(
        "query_id", "neighbor_id", "qcosine", F.col("rank").cast("int").alias("rank")
    )


def _qdot_sql(a: str, b: str) -> str:
    return (
        f"COALESCE(list_sum(list_transform(range(0, len({a})), "
        f"i -> CAST({a}[CAST(i AS INT) + 1] AS BIGINT) * "
        f"CAST({b}[CAST(i AS INT) + 1] AS BIGINT))), 0)"
    )


_QENC = (
    "list_transform(range(0, len({v})), i -> CASE "
    "WHEN ma[CAST(i AS INT) + 1] > 0 THEN "
    "CAST(round(CAST({v}[CAST(i AS INT) + 1] AS DOUBLE) / ma[CAST(i AS INT) + 1] * 127.0, 0) AS INT) "
    "ELSE 0 END)"
)

ORACLE_SIM_QUANTIZED = f"""
WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
ex AS (
  SELECT unnest(range(len(embedding))) AS dim,
         abs(unnest(embedding)::DOUBLE) AS val
  FROM c
),
am AS (SELECT dim, MAX(val) AS m FROM ex GROUP BY dim),
amax AS (SELECT list(m ORDER BY dim) AS ma FROM am),
qq AS (
  SELECT vec_id AS query_id, {_QENC.format(v='embedding')} AS qv
  FROM q CROSS JOIN amax
),
cq AS (
  SELECT vec_id AS neighbor_id, {_QENC.format(v='embedding')} AS cv
  FROM c CROSS JOIN amax
),
scored AS (
  SELECT query_id, neighbor_id,
         round(CASE WHEN sqrt(CAST({_qdot_sql('qv', 'qv')} AS DOUBLE))
                         * sqrt(CAST({_qdot_sql('cv', 'cv')} AS DOUBLE)) > 0
                    THEN CAST({_qdot_sql('qv', 'cv')} AS DOUBLE)
                         / (sqrt(CAST({_qdot_sql('qv', 'qv')} AS DOUBLE))
                            * sqrt(CAST({_qdot_sql('cv', 'cv')} AS DOUBLE)))
                    ELSE 0.0 END, 8) AS qcosine
  FROM qq CROSS JOIN cq
)
SELECT query_id, neighbor_id, qcosine, CAST(rn AS INT) AS rank FROM (
  SELECT query_id, neighbor_id, qcosine,
         row_number() OVER (PARTITION BY query_id ORDER BY qcosine DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


def sim_hard_negatives(spark, sf_dir):
    """Contrastive-pair mining: for each query vector, the nearest
    SAME-label corpus vector (positive) and the nearest DIFFERENT-label
    vector (hard negative) by cosine — the batch construction step for
    contrastive/embedding training. One broadcast scan, two label-
    filtered argmax windows; in-order fold keeps scores engine-exact."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("__ql"),
        F.col("embedding").alias("__qv"),
        F.sqrt(similarity.dot_inorder_expr(F.col("embedding"), F.col("embedding"))).alias("__qn"),
    )
    c = e.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("__cl"),
        F.col("embedding").alias("__cv"),
        F.sqrt(similarity.dot_inorder_expr(F.col("embedding"), F.col("embedding"))).alias("__cn"),
    )
    den = F.col("__qn") * F.col("__cn")
    num = similarity.dot_inorder_expr(F.col("__qv"), F.col("__cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (F.col("__cl") == F.col("__ql")).alias("__same"),
        F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 8).alias("cosine"),
    )
    w = Window.partitionBy("query_id", "__same").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    best = scored.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
    return best.select(
        "query_id",
        F.when(F.col("__same"), F.lit("positive")).otherwise(F.lit("hard_negative")).alias("pair_type"),
        "neighbor_id",
        "cosine",
    )


ORACLE_SIM_HARD_NEGATIVES = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS ql, embedding AS qe
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id, label AS cl, embedding AS ce
  FROM embeddings WHERE vec_id >= 8
),
scored AS (
  SELECT query_id, neighbor_id, (cl = ql) AS same,
         {_inorder_cosine_sql('qe', 'ce')} AS cosine
  FROM c CROSS JOIN q
),
best AS (
  SELECT query_id, same, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id, same
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id,
       CASE WHEN same THEN 'positive' ELSE 'hard_negative' END AS pair_type,
       neighbor_id, cosine
FROM best WHERE rn = 1
"""


def sim_text_hash_retrieval(spark, sf_dir):
    """Model-free text retrieval end to end: documents feature-hash to
    dim-32 INTEGER vectors (text.hash_embed), then cosine_topk takes the
    top 5 (its double fold is the EXACT integer dot product below 2^53).
    The text->vector->ANN bridge with no floats anywhere until the final
    cosine division."""
    d = _t(spark, sf_dir, "documents")
    vecs = text.hash_embed(d, dim=32)
    q = vecs.where(F.col("doc_id") < 3)
    c = vecs.where(F.col("doc_id") >= 3)
    out = similarity.cosine_topk(q, c, "doc_id", "doc_id", "hvec", "hvec", k=5)
    return out.withColumnRenamed("cosine", "hcosine")


_HE_B = "CAST(concat('0x', substr(md5(concat('he:', w)), 1, 8)) AS BIGINT) % 32"
_HE_S = (
    "CASE WHEN CAST(concat('0x', substr(md5(concat('he:', w)), 9, 1)) AS INT) >= 8 "
    "THEN -1 ELSE 1 END"
)

ORACLE_SIM_TEXT_HASH = f"""
WITH wt AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
  FROM documents
),
hb AS (SELECT doc_id, {_HE_B} AS b, {_HE_S} AS s FROM wt),
sums AS (SELECT doc_id, b, SUM(s) AS v FROM hb GROUP BY doc_id, b),
grid AS (
  SELECT d.doc_id, unnest(range(0, 32)) AS i
  FROM (SELECT DISTINCT doc_id FROM sums) d
),
vecs AS (
  SELECT g.doc_id, list(COALESCE(s.v, 0) ORDER BY g.i) AS hv
  FROM grid g LEFT JOIN sums s ON g.doc_id = s.doc_id AND g.i = s.b
  GROUP BY g.doc_id
),
q AS (SELECT doc_id AS query_id, hv AS qv FROM vecs WHERE doc_id < 3),
c AS (SELECT doc_id AS neighbor_id, hv AS cv FROM vecs WHERE doc_id >= 3),
scored AS (
  SELECT query_id, neighbor_id,
         round(CASE WHEN sqrt(CAST({_qdot_sql('qv', 'qv')} AS DOUBLE))
                         * sqrt(CAST({_qdot_sql('cv', 'cv')} AS DOUBLE)) > 0
                    THEN CAST({_qdot_sql('qv', 'cv')} AS DOUBLE)
                         / (sqrt(CAST({_qdot_sql('qv', 'qv')} AS DOUBLE))
                            * sqrt(CAST({_qdot_sql('cv', 'cv')} AS DOUBLE)))
                    ELSE 0.0 END, 8) AS hcosine
  FROM q CROSS JOIN c
)
SELECT query_id, neighbor_id, hcosine, CAST(rn AS INT) AS rank FROM (
  SELECT query_id, neighbor_id, hcosine,
         row_number() OVER (PARTITION BY query_id ORDER BY hcosine DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


def sim_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table: k-means
    partitions the space (2 exact Lloyd's iterations), cosine pairs are
    generated ONLY within clusters, and a row is dropped when cosine to a
    lower-id cluster-mate >= 0.35 (keep-first). The oracle replays
    training, assignment, and the pairwise threshold in unrolled CTEs."""
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(e, k_clusters=8, iters=2, threshold=0.35)
    return out.select("vec_id", F.col("cid").cast("bigint").alias("cid"), "kept")


def _semantic_dedup_oracle_sql(k_clusters=8, iters=2, threshold=0.35):
    ctes = ["corpus AS (SELECT vec_id, embedding FROM embeddings)"]
    ctes += _lloyds_ctes(k_clusters, iters)
    ctes += [
        f"""pairs AS (
  SELECT a.vid AS aid, b.vid AS bid
  FROM af a JOIN af b ON a.cid = b.cid AND a.vid < b.vid
  JOIN corpus ca ON a.vid = ca.vec_id
  JOIN corpus cb ON b.vid = cb.vec_id
  WHERE {_inorder_cosine_sql('ca.embedding', 'cb.embedding')} >= {threshold}
)""",
        "dups AS (SELECT DISTINCT bid FROM pairs)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT af.vid AS vec_id, af.cid, (dups.bid IS NULL) AS kept
FROM af LEFT JOIN dups ON af.vid = dups.bid
"""
    )


ORACLE_SIM_SEMANTIC_DEDUP = _semantic_dedup_oracle_sql()


def sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (similarity.ivfpq_topk): learned coarse cells prune to
    nprobe=2, product-quantization codes (m=4 subspaces x 8 codes, 2
    Lloyd's iterations each, exact decimal arithmetic) score candidates
    by asymmetric distance — candidates are shuffled as 4 ints, never as
    64 floats. Training, encoding, distance tables, and ADC ranking are
    all mirrored bit-exactly by the unrolled-CTE oracle."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    corpus = e.where(F.col("vec_id") >= 8)
    out = similarity.ivfpq_topk(
        q, corpus, k=5, k_clusters=8, iters=2, nprobe=2,
        m=4, k_codes=8, pq_iters=2, dim=64,
    )
    return out.select(
        "query_id", "neighbor_id", "adc_d2", F.col("rank").cast("int").alias("rank")
    )


def _ivfpq_oracle_sql(k_clusters=8, iters=2, nprobe=2, m=4, k_codes=8,
                      pq_iters=2, dim=64, k=5):
    """The _kmeans_ivf_oracle_sql coarse chain + a textually parallel CTE
    per PQ stage (subspace slices, per-subspace Lloyd's, encoding,
    distance tables, ADC sum)."""
    w = dim // m
    d2 = "SUM(CAST(round((av - cv) * (av - cv), 12) AS DECIMAL(38,12))) AS d2"
    sgen = f"(SELECT unnest(range({m})) AS s)"
    ctes = [
        "corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8)",
        "qs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8)",
        f"""cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, embedding AS cvec
  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT {k_clusters})
)""",
        """vals AS (
  SELECT vec_id AS vid, unnest(embedding)::DOUBLE AS val,
         unnest(range(len(embedding))) AS dim
  FROM corpus
)""",
    ]
    for i in range(iters):
        ctes += [
            f"""t{i} AS (
  SELECT c.vec_id AS vid, kk.cid,
         unnest(c.embedding)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM corpus c CROSS JOIN cent{i} kk
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
  SELECT c.vec_id AS vid, kk.cid,
         unnest(c.embedding)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM corpus c CROSS JOIN cent{fin} kk
)""",
        f"df_ AS (SELECT vid, cid, {d2} FROM tf GROUP BY vid, cid)",
        """af AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn
    FROM df_
  ) WHERE rn = 1
)""",
        f"""qt AS (
  SELECT q.vec_id AS qid, kk.cid,
         unnest(q.embedding)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM qs q CROSS JOIN cent{fin} kk
)""",
        f"qd AS (SELECT qid, cid, {d2} FROM qt GROUP BY qid, cid)",
        f"""probe AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn
    FROM qd
  ) WHERE rn <= {nprobe}
)""",
        "cands AS (SELECT p.qid, a.vid FROM probe p JOIN af a ON p.cid = a.cid)",
        # ---- product quantization ----
        f"""subs AS (
  SELECT c.vec_id AS vid, s.s AS s,
         c.embedding[s.s * {w} + 1 : s.s * {w} + {w}] AS sv
  FROM corpus c CROSS JOIN {sgen} s
)""",
        f"""pc0 AS (
  SELECT s.s AS s,
         CAST(row_number() OVER (PARTITION BY s.s ORDER BY b.vec_id) - 1 AS INT) AS code,
         b.embedding[s.s * {w} + 1 : s.s * {w} + {w}] AS cvec
  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT {k_codes}) b
  CROSS JOIN {sgen} s
)""",
        """psvals AS (
  SELECT vid, s, unnest(sv)::DOUBLE AS val, unnest(range(len(sv))) AS dim
  FROM subs
)""",
    ]
    for i in range(pq_iters):
        ctes += [
            f"""pt{i} AS (
  SELECT sub.vid, sub.s, kk.code,
         unnest(sub.sv)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM subs sub JOIN pc{i} kk ON sub.s = kk.s
)""",
            f"pd{i} AS (SELECT vid, s, code, {d2} FROM pt{i} GROUP BY vid, s, code)",
            f"""pa{i} AS (
  SELECT vid, s, code FROM (
    SELECT vid, s, code,
           row_number() OVER (PARTITION BY vid, s ORDER BY d2, code) AS rn
    FROM pd{i}
  ) WHERE rn = 1
)""",
            f"""pc{i + 1} AS (
  SELECT s, code, list(cval ORDER BY dim) AS cvec FROM (
    SELECT a.s, a.code, v.dim,
           CAST(SUM(CAST(round(v.val, 12) AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS cval
    FROM pa{i} a JOIN psvals v ON a.vid = v.vid AND a.s = v.s
    GROUP BY a.s, a.code, v.dim
  ) GROUP BY s, code
)""",
        ]
    pf = pq_iters
    ctes += [
        f"""ptf AS (
  SELECT sub.vid, sub.s, kk.code,
         unnest(sub.sv)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM subs sub JOIN pc{pf} kk ON sub.s = kk.s
)""",
        f"pdf_ AS (SELECT vid, s, code, {d2} FROM ptf GROUP BY vid, s, code)",
        """paf AS (
  SELECT vid, s, code FROM (
    SELECT vid, s, code,
           row_number() OVER (PARTITION BY vid, s ORDER BY d2, code) AS rn
    FROM pdf_
  ) WHERE rn = 1
)""",
        f"""qsubs AS (
  SELECT q.vec_id AS qid, s.s AS s,
         q.embedding[s.s * {w} + 1 : s.s * {w} + {w}] AS sv
  FROM qs q CROSS JOIN {sgen} s
)""",
        f"""dtt AS (
  SELECT qq.qid, qq.s, kk.code,
         unnest(qq.sv)::DOUBLE AS av, unnest(kk.cvec)::DOUBLE AS cv
  FROM qsubs qq JOIN pc{pf} kk ON qq.s = kk.s
)""",
        f"dt AS (SELECT qid, s, code, {d2} FROM dtt GROUP BY qid, s, code)",
        """sc AS (
  SELECT c.qid, c.vid, round(CAST(SUM(dt.d2) AS DOUBLE), 8) AS adc_d2
  FROM cands c
  JOIN paf p ON p.vid = c.vid
  JOIN dt ON dt.qid = c.qid AND dt.s = p.s AND dt.code = p.code
  GROUP BY c.qid, c.vid
)""",
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT qid AS query_id, vid AS neighbor_id, adc_d2, CAST(rn AS INT) AS rank FROM (
  SELECT qid, vid, adc_d2,
         row_number() OVER (PARTITION BY qid ORDER BY adc_d2, vid) AS rn
  FROM sc
) WHERE rn <= {k}
"""
    )


ORACLE_SIM_IVFPQ = _ivfpq_oracle_sql()


def sim_ivf_recall(spark, sf_dir):
    """Retrieval-quality evaluation: recall@5 of the SRP-IVF multiprobe
    retriever (sim_ivf_topk's pipeline) against the exact float-cosine
    top-5 per query — the measurement that justifies nprobe/n_planes
    choices before a 100 TB rollout. A k-row equi-join of two top-k
    tables; evaluation never rescans the corpus."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    corpus = e.where(F.col("vec_id") >= 8)
    ivf = similarity.ivf_topk(q, corpus, k=5, n_planes=6, probe_radius=1,
                              dim_hint=64) \
        .select("query_id", "neighbor_id")
    ex = similarity.cosine_topk(q, corpus, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = ivf.join(ex, ["query_id", "neighbor_id"]).groupBy("query_id").count()
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("count"), F.lit(0)) / F.lit(5.0))
            .alias("recall_at_5"),
        )
    )


def _ivf_recall_oracle_sql(n_planes: int = 6) -> str:
    flips = ", ".join(
        f"substr(b, 1, {j}) || (CASE WHEN substr(b, {j + 1}, 1) = '1' THEN '0' ELSE '1' END) || substr(b, {j + 2})"
        for j in range(n_planes)
    )
    return f"""
WITH withb AS (
  SELECT vec_id, embedding, {_srp_bucket_sql('embedding', n_planes)} AS b FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, unnest([b, {flips}]) AS probe
  FROM withb WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS ce, b FROM withb WHERE vec_id >= 8
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY {_inorder_cosine_sql('qe', 'ce')} DESC, neighbor_id ASC) AS rn
    FROM (SELECT query_id, qe, neighbor_id, ce FROM q JOIN c ON c.b = q.probe)
  ) WHERE rn <= 5
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qq.query_id, cc.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qq.query_id
             ORDER BY {_inorder_cosine_sql('qq.qe', 'cc.ce')} DESC, cc.neighbor_id ASC) AS rn
    FROM (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8) qq
    CROSS JOIN (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings WHERE vec_id >= 8) cc
  ) WHERE rn <= 5
),
hits AS (
  SELECT i.query_id, COUNT(*) AS n
  FROM ivf i JOIN exact e USING (query_id, neighbor_id)
  GROUP BY i.query_id
)
SELECT qs.query_id, coalesce(hits.n, 0) / 5.0 AS recall_at_5
FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 8) qs
LEFT JOIN hits ON hits.query_id = qs.query_id
"""


ORACLE_SIM_IVF_RECALL = _ivf_recall_oracle_sql()
