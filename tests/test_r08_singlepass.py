"""Round-8 single-pass restructures: the optimized formulations must be
value-identical to the formulations they replaced.

- tfidf_topk: the broadcast-dfreq plan vs the DuckDB tf-idf oracle —
  same rows, bit-exact scores — and no word-partitioned window.
- quantized_topk: literal-inlined quantization scales scored by
  cosine_topk vs the former broadcast-subtree, int64 cross-join plan
  (kept below as the oracle) on seeded edge cases, plus the empty-corpus
  edge and a query code whose square the former plan overflowed on; the
  text-hash retrieval's integer vectors vs the same int64 scorer.
- budget_fill: the checkpointed per-doc table keeps the plan-table
  broadcast hint (stats probed on the un-checkpointed twin).
"""

import numpy as np
import pytest
from pyspark.sql import Row, Window, functions as F

from geoarrow_rs_spark.datapipe.similarity import (
    amax_per_dim, cosine_topk, quantize_expr, quantized_topk,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _multiset(df):
    # repr key: NULL ids and scores do not compare with numbers
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(
                ["spark", "join", "window", "shuffle", "plan"][: (i % 5) + 1]
                * ((i % 7) + 1)
            ))
            for i in range(60)
        ]
    )


def test_tfidf_topk_matches_duckdb_oracle(spark, docs):
    """tfidf_topk equals the catalog's DuckDB tf-idf oracle, run over the
    same 60 documents with a query term absent from the corpus."""
    import duckdb

    from geoarrow_rs_spark.datapipe.corpus import tfidf_topk
    from geoarrow_rs_spark.queries.text import (
        ORACLE_TEXT_TFIDF, TFIDF_QUERY_TERMS,
    )

    terms = ["spark", "window", "nosuchterm"]
    assert ORACLE_TEXT_TFIDF.count(repr(TFIDF_QUERY_TERMS)) == 1
    assert ORACLE_TEXT_TFIDF.count("LIMIT 20") == 1
    sql = ORACLE_TEXT_TFIDF.replace(repr(TFIDF_QUERY_TERMS), repr(terms))
    sql = sql.replace("LIMIT 20", "LIMIT 10")
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(con.execute(sql).fetchall())
    got = _rows(tfidf_topk(docs, terms, k=10))
    assert got == want and len(got) == 10


def test_tfidf_broadcast_path_has_no_word_window(spark, docs):
    """The default path must not shuffle+sort the corpus-sized tf table
    by word: no word-partitioned Window in the plan (the only Window
    left orders the final top-k and the tiny query-norm frame)."""
    from geoarrow_rs_spark.datapipe.corpus import tfidf_topk

    plan = (
        tfidf_topk(docs, ["spark"], k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the word-keyed count window was `windowspecdefinition(word#...` —
    # absent on the broadcast path
    assert "windowspecdefinition(word" not in plan


def _int_dot_expr(v1, v2):
    """int64 dot product of two integer arrays, as the former integer
    scorers folded it: NULL on a NULL element or a length mismatch, and an
    int32 product past 2^31 raises (ANSI)."""
    prods = F.zip_with(v1, v2, lambda a, b: (a * b).cast("long"))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _int_cosine_crossjoin(q, c, k, score):
    """The broadcast cross-join scorer that ``quantized_topk`` and
    ``sim_text_hash_retrieval`` ran before ``cosine_topk`` scored their
    integer vectors, kept as their oracle. ``q`` is (query_id, __qv),
    ``c`` (neighbor_id, __cv): the cosine of int64 dot products, rounded
    to 8 dp, top k per query id by (score desc, neighbor_id)."""
    q = q.select(
        "query_id", "__qv",
        F.sqrt(_int_dot_expr(F.col("__qv"), F.col("__qv")).cast("double")).alias("__qn"),
    )
    c = c.select(
        "neighbor_id", "__cv",
        F.sqrt(_int_dot_expr(F.col("__cv"), F.col("__cv")).cast("double")).alias("__cn"),
    )
    den = F.col("__qn") * F.col("__cn")
    num = _int_dot_expr(F.col("__qv"), F.col("__cv")).cast("double")
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id",
        F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 8).alias(score),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _former_quantized_topk(q, c, k):
    """``quantized_topk``'s plan before r8 inlined the scales and before
    ``cosine_topk`` scored the codes: the scale row as a broadcast
    subtree, then the integer cross-join scorer."""
    am = amax_per_dim(c)
    qq = q.crossJoin(F.broadcast(am)).select(
        F.col("vec_id").alias("query_id"),
        quantize_expr(F.col("embedding"), F.col("__amax")).alias("__qv"),
    )
    cc = c.crossJoin(F.broadcast(am)).select(
        F.col("vec_id").alias("neighbor_id"),
        quantize_expr(F.col("embedding"), F.col("__amax")).alias("__cv"),
    )
    return _int_cosine_crossjoin(qq, cc, k, "qcosine")


def test_quantized_topk_matches_broadcast_subtree_replay(spark):
    e = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + j) % 13) - 6.0
                                  for j in range(8)]) for i in range(40)]
    )
    q = e.where(F.col("vec_id") < 4)
    c = e.where(F.col("vec_id") >= 4)
    got, want = quantized_topk(q, c, k=3), _former_quantized_topk(q, c, k=3)
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want)


def _vector(rng, bases, elem):
    """A multiple of a shared base direction (cosines tie after rounding),
    sometimes NULL, empty, all zeros, ragged or holding a NULL element."""
    u = rng.random()
    if u < 0.05:
        return None
    if u < 0.08:
        return []
    base = bases[rng.integers(len(bases))]
    v = [x * int(rng.integers(1, 5)) for x in base]
    if rng.random() < 0.06:
        v = [0] * len(v)
    if rng.random() < 0.1:
        v = v[: rng.integers(0, len(v) + 1)] + [int(rng.integers(-3, 4))] * int(rng.integers(0, 2))
    v = [float(x) for x in v] if elem == "double" else v
    if v and rng.random() < 0.06:
        v[rng.integers(len(v))] = None
    return v


def _frame(spark, rng, n, bases, elem, id_pool, parts):
    """(vec_id, embedding array<elem>): NULL and duplicate ids when
    ``id_pool`` is below ``n``."""
    ids = [None if rng.random() < 0.05 else int(rng.integers(id_pool)) for _ in range(n)]
    rows = [(i, _vector(rng, bases, elem)) for i in ids]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts),
        f"vec_id long, embedding array<{elem}>",
    )


def _case(spark, seed, elem):
    rng = np.random.default_rng([20261021, seed])
    dims = int(rng.integers(1, 6))
    bases = [[int(x) for x in rng.integers(-3, 4, dims)]
             for _ in range(int(rng.integers(1, 3)))]
    n = int(rng.integers(0, 60))
    corpus = _frame(spark, rng, n, bases, elem, max(n, 1), int(rng.integers(1, 4)))
    queries = _frame(spark, rng, int(rng.integers(1, 7)), bases, elem, 4, 1)
    k = int(rng.integers(1, 6)) if seed % 4 else n + 3  # k above the corpus size
    return queries, corpus, k


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("seed", range(16))
def test_quantized_topk_matches_former_plan_on_seeded_inputs(spark, small_batches, seed):
    """NULL vectors and elements, ragged, empty and zero vectors, cosines
    that tie exactly and after rounding, NULL and duplicate query ids, k
    above the corpus size: same rows, names and types as the former
    cross-join plan."""
    q, c, k = _case(spark, seed, "double")
    got, want = quantized_topk(q, c, k=k), _former_quantized_topk(q, c, k)
    assert got.dtypes == want.dtypes
    assert _multiset(got) == _multiset(want)


@pytest.mark.parametrize("elem", ["int", "bigint"])
@pytest.mark.parametrize("seed", range(8))
def test_integer_cosine_topk_matches_int64_scorer(spark, small_batches, elem, seed):
    """``cosine_topk`` on integer vectors (the text-hash retrieval's
    scorer) gives the int64 cross-join scorer's rows, names and types."""
    q, c, k = _case(spark, seed, elem)
    got = cosine_topk(q, c, k=k).withColumnRenamed("cosine", "hcosine")
    want = _int_cosine_crossjoin(
        q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")),
        c.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")),
        k, "hcosine")
    assert got.dtypes == want.dtypes
    assert _multiset(got) == _multiset(want)


def test_text_hash_retrieval_matches_former_scorer(spark, sf_dir):
    from geoarrow_rs_spark.datapipe import text
    from geoarrow_rs_spark.queries import QUERIES

    vecs = text.hash_embed(spark.read.parquet(f"{sf_dir}/documents.parquet"), dim=32)
    want = _int_cosine_crossjoin(
        vecs.where(F.col("doc_id") < 3).select(
            F.col("doc_id").alias("query_id"), F.col("hvec").alias("__qv")),
        vecs.where(F.col("doc_id") >= 3).select(
            F.col("doc_id").alias("neighbor_id"), F.col("hvec").alias("__cv")),
        5, "hcosine")
    got = QUERIES["sim_text_hash_retrieval"][0](spark, sf_dir)
    assert got.dtypes == want.dtypes
    rows = _rows(got)
    assert rows == _rows(want) and len(rows) == 15


def test_quantized_topk_scores_query_codes_past_int32_squares(spark):
    """A query component 400x its dimension's corpus max-abs quantizes to
    50,800, whose square passes 2^31: the former plan's int32 product
    raised ARITHMETIC_OVERFLOW; the double fold is exact there and returns
    the cosine, equal to an integer computation in Python."""
    import math

    from geoarrow_rs_spark.datapipe.similarity import _round_half_up

    corpus = spark.createDataFrame(
        [(i, [math.sin(i + j) for j in range(4)]) for i in range(1, 13)],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [400.0, 0.5, -0.25, 0.0])],
                              "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        _former_quantized_topk(q, corpus, 3).collect()

    amax = [max(abs(v[j]) for _, v in corpus.collect()) for j in range(4)]
    code = lambda v: [int(_round_half_up(x / m * 127.0, "1")) for x, m in zip(v, amax)]
    dot = lambda a, b: sum(x * y for x, y in zip(a, b))
    qc = code([400.0, 0.5, -0.25, 0.0])
    assert qc[0] == 50800
    scored = []
    for i, v in corpus.collect():
        cc = code(v)
        den = math.sqrt(float(dot(qc, qc))) * math.sqrt(float(dot(cc, cc)))
        scored.append((-_round_half_up(float(dot(qc, cc)) / den, "1e-8"), i))
    want = [(0, i, -s, r + 1) for r, (s, i) in enumerate(sorted(scored)[:3])]
    assert _rows(quantized_topk(q, corpus, k=3)) == sorted(want)


def test_quantized_topk_empty_corpus(spark):
    from geoarrow_rs_spark.datapipe.similarity import quantized_topk

    e = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 2.0])]
    )
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert quantized_topk(e, empty, k=3).count() == 0


def test_budget_fill_checkpointed_rows_keep_broadcast_hint(spark, sf_dir):
    from geoarrow_rs_spark.datapipe.sampling import budget_fill
    from geoarrow_rs_spark.datapipe.text import quality_score, token_count

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b").alias("domain"),
        token_count("text").cast("long").alias("n_tok"),
        F.round(quality_score("text"), 6).alias("q"),
    )
    out = budget_fill(df, "domain", "n_tok", "q", budget_tokens=5_000)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in optimized
    # and the per-doc side reads the materialized table, not a second
    # evaluation of the caller's expressions
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in executed
