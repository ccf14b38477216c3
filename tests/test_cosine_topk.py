"""``cosine_topk`` (numpy candidates under ``mapInArrow``, then Spark's
round and window) against the broadcast cross-join expression plan it
replaced, kept below verbatim as the oracle: same rows, column names and
types over seeded inputs with NULL vectors and elements, NaN, +-0.0, inf,
empty and ragged vectors, float/int/double elements, cosines that tie after
rounding, NULL and duplicate ids, k above the corpus size and several Arrow
batches per corpus partition."""

import math
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import Window, functions as F, types as T

from geoarrow_rs_spark.datapipe.similarity import cosine_topk, dot_inorder_expr


def _crossjoin_topk(
    queries,
    corpus,
    query_id="vec_id",
    corpus_id="vec_id",
    query_vec="embedding",
    corpus_vec="embedding",
    k=10,
):
    # precompute per-side norms once (recomputing them per pair would
    # multiply the decimal-accumulation work by the other side's cardinality)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.sqrt(dot_inorder_expr(F.col(query_vec), F.col(query_vec))).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        F.sqrt(dot_inorder_expr(F.col(corpus_vec), F.col(corpus_vec))).alias("__cn"),
    )
    den = F.col("__qn") * F.col("__cn")
    num = dot_inorder_expr(F.col("__qv"), F.col("__cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 8).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


_ELEM = {"double": T.DoubleType(), "float": T.FloatType(), "int": T.IntegerType()}


def _vector(rng, bases, elem):
    """A multiple of a shared base direction (so cosines tie after rounding
    while their unrounded folds differ in the last bits), sometimes ragged,
    empty, NULL, or holding a NULL / NaN / inf / -0.0 element."""
    u = rng.random()
    if u < 0.05:
        return None
    if u < 0.09:
        return []
    base = bases[rng.integers(len(bases))]
    scale = int(rng.integers(1, 5)) if elem == "int" else (1, 2, 3, 0.1, 0.3, 1.7)[rng.integers(6)]
    v = [x * scale for x in base]
    if rng.random() < 0.1:
        v = v[: rng.integers(0, len(v) + 1)] + [int(rng.integers(-2, 3))] * int(rng.integers(0, 2))
    v = [float(x) for x in v] if elem != "int" else v
    if v and rng.random() < 0.06:
        v[rng.integers(len(v))] = None
    if elem != "int" and v and rng.random() < 0.12:
        v[rng.integers(len(v))] = [math.nan, math.inf, -0.0, 1e-3][rng.integers(4)]
    return v


def _frame(spark, rng, n, bases, elem, id_pool, parts):
    ids = [None if rng.random() < 0.05 else int(rng.integers(id_pool)) for _ in range(n)]
    rows = [(i, _vector(rng, bases, elem)) for i in ids]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(_ELEM[elem])),
    ])
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)


def _norm(v):
    return "nan" if isinstance(v, float) and math.isnan(v) else v


def _rows(df):
    return Counter(tuple(_norm(v) for v in r) for r in df.collect())


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("seed", range(40))
def test_cosine_topk_matches_crossjoin_plan(spark, small_batches, seed):
    rng = np.random.default_rng([20261019, seed])
    elem = ("double", "float", "int")[seed % 3]
    dims = int(rng.integers(1, 5))
    bases = [[int(x) for x in rng.integers(-2, 3, dims)] for _ in range(int(rng.integers(1, 3)))]
    n = int(rng.integers(0, 80))
    corpus = _frame(spark, rng, n, bases, elem, max(n, 1), int(rng.integers(1, 4)))
    queries = _frame(spark, rng, int(rng.integers(1, 7)), bases, elem, 4, 1)
    k = int(rng.integers(1, 6)) if seed % 5 else n + 3
    got = cosine_topk(queries, corpus, k=k)
    want = _crossjoin_topk(queries, corpus, k=k)
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want)


def test_cosine_topk_keeps_rows_that_tie_after_rounding(spark, small_batches):
    """The rounded cosines of ids 1 and 2 tie, so id 1 ranks first, although
    its unrounded cosine is 5e-11 below id 2's: the candidate filter must
    not cut the smaller id at the unrounded k-th best."""
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(2, [1.0, 0.0]), (1, [1.0, 1e-5]), (3, [0.0, 1.0])], schema).coalesce(1)
    queries = spark.createDataFrame([(0, [1.0, 0.0])], schema)
    got = [tuple(r) for r in cosine_topk(queries, corpus, k=1).collect()]
    assert got == [(0, 1, 1.0, 1)]
    assert got == [tuple(r) for r in _crossjoin_topk(queries, corpus, k=1).collect()]


def test_cosine_topk_nan_den_ranks_first(spark):
    """A NaN norm makes ``den`` NaN, which Spark counts as > 0: the cosine is
    NaN (not 0.0) and ranks ahead of every number."""
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [float("nan"), 1.0]), (3, [0.5, 0.5])], schema)
    queries = spark.createDataFrame([(0, [1.0, 0.0])], schema)
    got = [tuple(map(_norm, r)) for r in cosine_topk(queries, corpus, k=2).orderBy("rank").collect()]
    assert got == [(0, 2, "nan", 1), (0, 1, 1.0, 2)]


def test_cosine_topk_input_contract(spark):
    """The query set is collected when the plan is built: a streaming
    ``queries`` frame is refused then, naming the argument. Id types pass
    through unchanged (string query ids, int corpus ids)."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, embedding array<float>")
    queries = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "vec_id string, embedding array<float>")
    out = cosine_topk(queries, corpus, k=1)
    assert out.dtypes == [("query_id", "string"), ("neighbor_id", "int"),
                          ("cosine", "double"), ("rank", "int")]
    assert sorted(tuple(r) for r in out.collect()) == [("a", 1, 1.0, 1), ("b", 2, 1.0, 1)]

    stream = spark.readStream.format("rate").load().select(
        F.col("value").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding"))
    with pytest.raises(ValueError, match="`queries`"):
        cosine_topk(stream, corpus, k=1)
