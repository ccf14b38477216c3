"""Driver-style correctness gate, run locally: every ``queries()`` entry vs
its DuckDB ``oracle_sql()`` — row count, schema (column names), and
order-insensitive exact value comparison.

Default scale: sf0.001 for speed; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
to reproduce the driver's gate exactly.
"""

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype(np.float64)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif s.dtype == object:
            df[c] = s.map(lambda v: bytes(v) if isinstance(v, (bytearray, memoryview)) else v)
    sort_cols = list(df.columns)
    df = df.sort_values(sort_cols, kind="mergesort", na_position="last").reset_index(drop=True)
    return df


def _dtype_family(s: pd.Series) -> str:
    """Coarse dtype family for the strict driver-style comparison: the
    driver's value hash is type-strict, so an oracle whose DuckDB output
    materializes as float64 (e.g. an un-cast HUGEINT aggregate) must FAIL
    locally against a Spark int64 even though 1808 == 1808.0 elementwise."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    return "object"


def _compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    )
    a = _normalize(spark_pdf)
    b = _normalize(oracle_pdf)
    for c in a.columns:
        fam_a, fam_b = _dtype_family(a[c]), _dtype_family(b[c])
        assert fam_a == fam_b, (
            f"{name}: column {c} dtype-family mismatch: spark={fam_a} "
            f"({spark_pdf[c].dtype}) oracle={fam_b} ({oracle_pdf[c].dtype}) — "
            "the driver's type-strict hash would flag this (HUGEINT oracle?)"
        )
    for c in a.columns:
        col_a, col_b = a[c], b[c]
        if pd.api.types.is_float_dtype(col_a):
            ok = np.isclose(
                col_a.to_numpy(), col_b.to_numpy(), rtol=0, atol=0, equal_nan=True
            )
        else:
            ok = (col_a == col_b) | (col_a.isna() & col_b.isna())
            ok = ok.to_numpy()
        bad = np.flatnonzero(~ok)
        assert len(bad) == 0, (
            f"{name}: column {c} mismatch at {len(bad)} rows; first: "
            f"spark={col_a.iloc[bad[0]]!r} oracle={col_b.iloc[bad[0]]!r} (row {bad[0]})"
        )


def _all_query_names():
    from geoarrow_rs_spark.queries import QUERIES
    from geoarrow_rs_spark.queries.geo_proj import COUNTRIES_FGB

    # geo_countries_spherical reads the reference countries.fgb; skip that
    # entry alone where the file is absent.
    fgb_absent = pytest.mark.skipif(
        not os.path.exists(COUNTRIES_FGB), reason=f"needs {COUNTRIES_FGB}"
    )
    return [
        pytest.param(n, marks=fgb_absent) if n == "geo_countries_spherical" else n
        for n in sorted(QUERIES)
    ]


@pytest.mark.parametrize("name", _all_query_names())
def test_query_matches_oracle(spark, sf_dir, ddb, name):
    from geoarrow_rs_spark.queries import QUERIES

    fn, sql = QUERIES[name]
    sdf = fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if sql is None:
        assert len(spark_pdf) >= 0  # rows-only check
        assert spark_pdf.notna().any().any() or len(spark_pdf) == 0
        return
    oracle_pdf = ddb.execute(sql).fetchdf()
    _compare(spark_pdf, oracle_pdf, name)
