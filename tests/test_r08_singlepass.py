"""Round-8 single-pass restructures: the optimized formulations must be
value-identical to the formulations they replaced.

- tfidf_topk: the broadcast-dfreq plan vs the DuckDB tf-idf oracle —
  same rows, bit-exact scores — and no word-partitioned window.
- quantized_topk: literal-inlined quantization scales vs a reference
  broadcast-subtree replay, plus the empty-corpus edge.
- budget_fill: the checkpointed per-doc table keeps the plan-table
  broadcast hint (stats probed on the un-checkpointed twin).
"""

import pytest
from pyspark.sql import Row, functions as F


def _rows(df):
    return sorted(map(tuple, df.collect()))


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


def test_quantized_topk_matches_broadcast_subtree_replay(spark):
    from geoarrow_rs_spark.datapipe.similarity import (
        amax_per_dim, quantize_expr, _int_dot_expr, quantized_topk,
    )
    from pyspark.sql import Window

    e = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + j) % 13) - 6.0
                                  for j in range(8)]) for i in range(40)]
    )
    q = e.where(F.col("vec_id") < 4)
    c = e.where(F.col("vec_id") >= 4)

    # reference: the pre-r8 broadcast-subtree formulation, replayed inline
    am = amax_per_dim(c)
    qq = q.crossJoin(F.broadcast(am)).select(
        F.col("vec_id").alias("query_id"),
        quantize_expr(F.col("embedding"), F.col("__amax")).alias("__qq"),
    )
    cc = c.crossJoin(F.broadcast(am)).select(
        F.col("vec_id").alias("neighbor_id"),
        quantize_expr(F.col("embedding"), F.col("__amax")).alias("__cq"),
    )
    qq = qq.select(
        "query_id", "__qq",
        F.sqrt(_int_dot_expr(F.col("__qq"), F.col("__qq")).cast("double")).alias("__qn"),
    )
    cc = cc.select(
        "neighbor_id", "__cq",
        F.sqrt(_int_dot_expr(F.col("__cq"), F.col("__cq")).cast("double")).alias("__cn"),
    )
    den = F.col("__qn") * F.col("__cn")
    num = _int_dot_expr(F.col("__qq"), F.col("__cq")).cast("double")
    scored = cc.crossJoin(F.broadcast(qq)).select(
        "query_id", "neighbor_id",
        F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 8).alias("qcosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id").asc()
    )
    ref = scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 3)

    assert _rows(quantized_topk(q, c, k=3)) == _rows(ref)


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
