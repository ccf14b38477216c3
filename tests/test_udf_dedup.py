"""The one value dedup of the ST_* kernels (``registry._dedup_wrap``): a
batch whose argument tuples are at most half distinct runs the kernel once
per distinct tuple, at any batch size and in any row order; the output is
byte-identical to the raw kernel's."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row

from geoarrow_rs_spark.functions import kernels as K
from geoarrow_rs_spark.functions.registry import _dedup_wrap
from geoarrow_rs_spark.wkb import algorithms as alg
from geoarrow_rs_spark.wkb import booleanops as bo
from geoarrow_rs_spark.wkb import core as wc
from geoarrow_rs_spark.wkb.relate import relate


def _counting(kernel):
    calls = []

    def stub(*cols):
        calls.append(cols)
        return kernel(*cols)

    return stub, calls


def _polys(n, seed=0):
    """n distinct random boxes as WKB."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        x, y = rng.uniform(0, 100, 2)
        w, h = rng.uniform(0.5, 3, 2)
        out.append(wc.to_wkb(wc.box(x, y, x + w, y + h)))
    return out


def _assert_same(got, want):
    assert len(got) == len(want)
    assert list(got) == list(want)
    assert [v is None for v in got] == [v is None for v in want]


def test_random_order_repeats_dedup_whole_batch():
    # 8,192 rows of 350 distinct values in random order: a 512-row prefix
    # holds ~270 distinct values, but the whole batch is 23x repetitive
    distinct = _polys(350)
    rng = np.random.default_rng(7)
    vals = [distinct[i] for i in rng.integers(0, 350, 8192)]
    vals[5] = vals[77] = None
    s = pd.Series(vals, dtype=object)
    stub, calls = _counting(K.k_convex_hull)
    got = _dedup_wrap(stub)(s)
    assert len(calls) == 1 and len(calls[0][0]) == 351  # 350 + NULL
    _assert_same(got, K.k_convex_hull(s))


def test_small_batch_dedups():
    # 200 rows of 50 distinct values: the shape of geo_overlay_areas
    distinct = _polys(50, seed=3)
    vals = [distinct[i % 50] for i in range(200)]
    other = [distinct[(i * 7) % 50] for i in range(200)]
    pairs = {(a, b) for a, b in zip(vals, other)}
    assert len(pairs) == 50
    s1 = pd.Series(vals, dtype=object)
    s2 = pd.Series(other, dtype=object)
    stub, calls = _counting(K.k_intersection)
    got = _dedup_wrap(stub)(s1, s2)
    assert len(calls) == 1 and len(calls[0][0]) == 50
    _assert_same(got, K.k_intersection(s1, s2))


@pytest.mark.parametrize("n", [1, 200, 8192])
def test_unique_batch_calls_kernel_as_given(n):
    s = pd.Series(_polys(n, seed=n), dtype=object)
    stub, calls = _counting(K.k_area)
    got = _dedup_wrap(stub)(s)
    assert len(calls) == 1 and calls[0][0] is s
    assert got.equals(K.k_area(s))


def test_low_repetition_batch_runs_raw_kernel():
    # 1.5x repetition: below the 2x rule, the raw kernel sees every row
    distinct = _polys(400, seed=5)
    s = pd.Series([distinct[i % 400] for i in range(600)], dtype=object)
    stub, calls = _counting(K.k_area)
    _dedup_wrap(stub)(s)
    assert len(calls) == 1 and calls[0][0] is s


def test_float_keys_keep_signed_zero_apart():
    xs = pd.Series([0.0, -0.0, np.nan, 1.5] * 64)
    ys = pd.Series([-0.0, 0.0, 2.0, np.nan] * 64)
    stub, calls = _counting(K.k_point)
    got = _dedup_wrap(stub)(xs, ys)
    assert len(calls) == 1 and len(calls[0][0]) == 4
    want = K.k_point(xs, ys)
    _assert_same(got, want)
    # the sign bit survives into the WKB
    assert got[0] != got[1] and got[0] is not None


def test_unhashable_and_struct_args_bypass():
    arrs = pd.Series([np.array([1.0, 2.0])] * 300, dtype=object)
    stub, calls = _counting(lambda c: pd.Series([len(a) for a in c]))
    assert list(_dedup_wrap(stub)(arrs)) == [2] * 300
    assert calls[0][0] is arrs
    df = pd.DataFrame({"a": [1.0] * 300})
    stub2, calls2 = _counting(lambda d: d["a"])
    _dedup_wrap(stub2)(df)
    assert calls2[0][0] is df


def test_sql_kernels_on_repeated_batch_match_per_row(spark):
    """ST_Intersection, ST_Simplify, ST_Relate and ST_Collect over a
    repeated batch (dedup engages) equal per-row ``alg.*``."""
    a_set = [
        wc.from_wkt("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))"),
        wc.from_wkt("POLYGON((1 1, 6 1, 6 3, 3 5, 1 3, 1 1))"),
        wc.from_wkt("LINESTRING(0 0, 1 0.1, 2 -0.1, 3 0, 4 2)"),
        wc.from_wkt("POINT(2 2)"),
    ]
    b_set = [
        wc.from_wkt("POLYGON((2 2, 7 2, 7 7, 2 7, 2 2))"),
        wc.from_wkt("POLYGON((10 10, 11 10, 11 11, 10 10))"),
        wc.from_wkt("LINESTRING(-1 1, 5 1)"),
    ]
    rows = []
    for i in range(240):
        a = a_set[i % 4]
        b = b_set[(i // 4) % 3]
        rows.append(Row(i=i, a=None if i % 37 == 0 else wc.to_wkb(a),
                        b=wc.to_wkb(b)))
    df = spark.createDataFrame(rows, "i int, a binary, b binary").coalesce(1)
    df.createOrReplaceTempView("dedup_pairs")
    got = spark.sql(
        "SELECT i, ST_Intersection(a, b) AS x, ST_Simplify(a, 0.5) AS s, "
        "ST_Relate(a, b) AS r, ST_Collect(a, b) AS c FROM dedup_pairs"
    ).collect()
    assert len(got) == 240
    for r in got:
        a = None if r.i % 37 == 0 else a_set[r.i % 4]
        b = b_set[(r.i // 4) % 3]
        if a is None:
            assert r.x is None and r.s is None and r.c is None
            assert r.r == relate(None, b)
            continue
        assert bytes(r.x) == wc.to_wkb(bo.geom_intersection(a, b))
        assert bytes(r.s) == wc.to_wkb(alg.simplify(a, 0.5))
        assert r.r == relate(a, b)
        assert bytes(r.c) == wc.to_wkb(wc.collection([a, b]))
