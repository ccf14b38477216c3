"""The one size gate of the driver-local fast paths
(``checkpoint.collect_small``).

Nine operators keep a driver-local replica beside their distributed plan:
kNN join, DBSCAN, connected components, LOF, k-core, pagerank, ANF,
k-means/PQ training and MMR. Each replica must give the rows its
distributed plan gives, so every input below runs twice: on the default
route (local, since all inputs fit the caps) and with
``checkpoint._FORCE_DISTRIBUTED`` set. The local routes also keep their
Spark job counts: the kNN and DBSCAN probes are pinned exactly, the other
seven at no more than the per-op gates they replaced launched on the same
inputs.
"""

import numpy as np
import pytest
from pyspark.sql import DataFrame, functions as F

from geoarrow_rs_spark import checkpoint as CK


@pytest.fixture(scope="module")
def data(spark, sf_dir):
    """Every input of the invariance cases, built once."""
    rng = np.random.default_rng(11)
    schema = "id long, x double, y double"
    d = {}
    d["uniform"] = spark.createDataFrame(
        [(i, float(x), float(y))
         for i, (x, y) in enumerate(rng.uniform(0, 12, (300, 2)))],
        schema,
    )
    # points on a half-unit lattice: tied distances
    d["lattice"] = spark.createDataFrame(
        [(i, float(x), float(y))
         for i, (x, y) in enumerate(np.round(rng.uniform(0, 12, (300, 2)) * 2) / 2)],
        schema,
    )
    # far outside the candidates' extent: these reach the kNN fallback
    d["far"] = spark.createDataFrame(
        [(1000 + i, float(x), float(y))
         for i, (x, y) in enumerate(rng.uniform(60, 90, (12, 2)))],
        schema,
    )
    d["cc_pairs"] = spark.createDataFrame(
        [(int(a), int(b)) for a, b in rng.integers(0, 80, (150, 2)) if a != b],
        "a_id long, b_id long",
    )
    d["cc_ids"] = spark.createDataFrame([(i,) for i in range(80)], "doc_id long")
    d["core_pairs"] = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (6, 7), (2, 1)],
        "a_id long, b_id long",
    )
    d["core_lone"] = spark.createDataFrame([(1, 2), (3, 4)], "a_id long, b_id long")
    d["pr_nodes"] = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    d["pr_nodes_null"] = d["pr_nodes"].unionByName(
        spark.createDataFrame([(None,)], "doc_id long")
    )
    d["pr_pairs"] = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (2, 1), (6, 6),
         (7, 99)],  # 99 is not in nodes; 6-6 is a self-loop (dropped)
        "a_id long, b_id long",
    )
    # connected component, isolated pair, star hub, self-loop dropped
    d["anf_pairs"] = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (6, 7), (8, 8),
         (10, 11), (10, 12), (10, 13), (10, 14)],
        "a_id long, b_id long",
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d["train_corpus"] = e.where("vec_id >= 8")
    # 11 seeded 2-d vectors, then each adversarial variant of them
    vecs = [[float(x) for x in v] for v in np.round(rng.uniform(-3, 3, (11, 2)), 3)]
    adversarial = {
        "null-vector": {4: None},
        "ragged": {4: [1.0, 2.0, 3.0]},
        "null-element": {4: [None, 1.0]},
        "nan": {4: [float("nan"), 1.0]},
        "inf": {4: [1.0, float("inf")]},
    }
    for name, change in adversarial.items():
        d[f"train_{name}"] = spark.createDataFrame(
            [(i, change.get(i, v)) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
    d["train_empty"] = spark.createDataFrame([], "vec_id long, embedding array<double>")
    from geoarrow_rs_spark.datapipe.similarity import cosine_topk

    c = e.where(F.col("vec_id") >= 6)
    d["mmr_cands"] = cosine_topk(e.where(F.col("vec_id") < 6), c, k=6).join(
        c.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("vec")),
        "neighbor_id",
    ).select("query_id", "neighbor_id", F.col("cosine").alias("rel"), "vec")
    return d


def _knn(left, right):
    from geoarrow_rs_spark.join.spatial import knn_spatial_join

    return lambda d: knn_spatial_join(d[left], d[right], k=4, cell_size=2.0)


def _knn_lattice_far(d):
    from geoarrow_rs_spark.join.spatial import knn_spatial_join

    left = d["lattice"].unionByName(d["far"])
    return knn_spatial_join(left, d["lattice"], k=4, cell_size=2.0)


def _dbscan(name):
    from geoarrow_rs_spark.ops.dbscan import dbscan

    return lambda d: dbscan(d[name], "id", "x", "y", eps=1.0, min_pts=4)


def _cc(d):
    from geoarrow_rs_spark.datapipe.dedup import dedup_clusters

    return dedup_clusters(d["cc_ids"], d["cc_pairs"])


def _lof(d):
    from geoarrow_rs_spark.ops.outliers import lof_scores

    pts = d["uniform"].unionByName(d["far"])
    return lof_scores(pts, "id", "x", "y", k=4, cell_size=2.0)


def _kcore(name, **kw):
    from geoarrow_rs_spark.datapipe.graph import k_core

    return lambda d: k_core(d[name], **kw)


def _pagerank(iters, nodes="pr_nodes"):
    from geoarrow_rs_spark.datapipe.graph import pagerank

    return lambda d: pagerank(d[nodes], d["pr_pairs"], id_col="doc_id",
                              iters=iters)


def _anf(k, hops):
    from geoarrow_rs_spark.datapipe.graph import neighborhood_function

    return lambda d: neighborhood_function(d["anf_pairs"], k=k, hops=hops)


def _mmr(d):
    from geoarrow_rs_spark.datapipe.similarity import mmr_rerank

    return mmr_rerank(d["mmr_cands"], k=3, lam=0.7)


def _train(d):
    from geoarrow_rs_spark.datapipe.similarity import kmeans_train, pq_train

    e = d["train_corpus"]
    return (kmeans_train(e, k=8, iters=2),
            pq_train(e, m=4, k_codes=8, iters=2, dim=64))


def _train_small(name):
    """k-means and PQ training on an 11-row input: both routes train, or
    both raise the same error (compared as its type)."""
    from geoarrow_rs_spark.datapipe.similarity import kmeans_train, pq_train

    def run(d):
        out = []
        for train in (lambda e: kmeans_train(e, k=3, iters=2),
                      lambda e: pq_train(e, m=2, k_codes=3, iters=2, dim=2)):
            try:
                out.append(repr(train(d[f"train_{name}"])))
            except Exception as exc:
                out.append(type(exc).__name__)
        return out

    return run


CASES = {
    "knn-uniform": _knn("uniform", "uniform"),
    "knn-lattice-far": _knn_lattice_far,
    "dbscan-uniform": _dbscan("uniform"),
    "dbscan-lattice": _dbscan("lattice"),
    "cc-random": _cc,
    "lof-uniform-far": _lof,
    "kcore-fixed-rounds": _kcore("core_pairs", k=2, rounds=4, early_stop=False),
    "kcore-early-stop": _kcore("core_pairs", k=2),
    "kcore-empty-3core": _kcore("core_pairs", k=3, rounds=4, early_stop=False),
    "kcore-empty-lone": _kcore("core_lone", k=2, rounds=2, early_stop=False),
    "pagerank-iters1": _pagerank(1),
    "pagerank-iters3": _pagerank(3),
    # the probe hands a NULL node id back in a float column: pagerank then
    # takes its distributed rounds even though the gate said local
    "pagerank-null-node": _pagerank(2, nodes="pr_nodes_null"),
    "anf-k4-hops2": _anf(4, 2),
    "anf-k32-hops3": _anf(32, 3),
    "mmr-embeddings": _mmr,
    "train-kmeans-pq": _train,
    # inputs the local route declines: the gate a NULL vector, ragged or
    # empty input; the int64 headroom check a NULL element, NaN or inf
    **{f"train-{name}": _train_small(name) for name in
       ("null-vector", "ragged", "null-element", "nan", "inf", "empty")},
}


def _rows(out):
    if isinstance(out, DataFrame):
        # repr key: noise rows carry NULL cluster ids
        return sorted(map(tuple, out.collect()), key=repr)
    return out


_GATED_MODULES = [
    "geoarrow_rs_spark.join.spatial",
    "geoarrow_rs_spark.ops.dbscan",
    "geoarrow_rs_spark.ops.outliers",
    "geoarrow_rs_spark.datapipe.dedup",
    "geoarrow_rs_spark.datapipe.graph",
    "geoarrow_rs_spark.datapipe.similarity",
]


@pytest.fixture()
def gate_calls(monkeypatch):
    """Record whether each collect_small call of a gated operator came
    back local (a frame) or sent it to the distributed plan (None)."""
    import importlib

    calls = []

    def spy(df, max_rows):
        pdf = CK.collect_small(df, max_rows)
        calls.append(pdf is not None)
        return pdf

    for name in _GATED_MODULES:
        monkeypatch.setattr(importlib.import_module(name), "collect_small", spy)
    return calls


@pytest.mark.parametrize("case", list(CASES))
def test_local_route_matches_distributed(spark, data, case, gate_calls,
                                         monkeypatch):
    run = CASES[case]
    local = _rows(run(data))
    assert gate_calls and all(gate_calls), "default route did not go local"
    gate_calls.clear()
    monkeypatch.setattr(CK, "_FORCE_DISTRIBUTED", True)
    dist = _rows(run(data))
    assert gate_calls and not any(gate_calls)
    assert local == dist
    if case == "knn-lattice-far":
        # the far queries get all k neighbors, ranked 1..k
        assert sum(1 for r in local if r[0] >= 1000) == 12 * 4
    elif case == "mmr-embeddings":
        assert len(local) == 18  # 6 queries x 3 picks
    elif case.startswith("anf"):
        assert len(local) > 0
    elif case.startswith("kcore-empty"):
        assert local == []


# Spark jobs launched by building each op on its local route (the op call
# only; collecting the driver-built result is not counted). kNN (two
# sides, no self-join) pays its two bounded probes and DBSCAN its one.
# The other seven are capped at what the per-op gates that collect_small
# replaced launched on the same inputs (count-then-collect graph gates,
# limit/collect probes, a plan-size estimate plus a full collect for
# training), measured on local[4] with AQE on.
_LOCAL_JOBS_EXACT = {"knn-lattice-far": 2, "dbscan-uniform": 1}
_LOCAL_JOBS_MAX = {
    "cc-random": 1,
    "lof-uniform-far": 1,
    "kcore-early-stop": 4,
    "pagerank-iters3": 8,
    "anf-k32-hops3": 5,
    "mmr-embeddings": 4,
    "train-kmeans-pq": 2,
}


def _build_jobs(spark, run, data):
    sc = spark.sparkContext
    group = f"local-gate-{id(run)}"
    sc.setJobGroup(group, "local gate job count")
    try:
        run(data)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("case", list(_LOCAL_JOBS_EXACT) + list(_LOCAL_JOBS_MAX))
def test_local_route_job_count(spark, data, case):
    run = CASES[case]
    _rows(run(data))  # warm: session-level caches, lazily built inputs
    jobs = _build_jobs(spark, run, data)
    if case in _LOCAL_JOBS_EXACT:
        assert jobs == _LOCAL_JOBS_EXACT[case]
    else:
        assert jobs <= _LOCAL_JOBS_MAX[case]


def test_collect_small_cap_is_inclusive(spark, monkeypatch):
    pdf = CK.collect_small(spark.range(10), 10)
    assert pdf is not None and sorted(pdf["id"].tolist()) == list(range(10))
    assert CK.collect_small(spark.range(11), 10) is None
    monkeypatch.setattr(CK, "_FORCE_DISTRIBUTED", True)
    assert CK.collect_small(spark.range(10), 10) is None


def test_collect_small_skips_streaming_frames(spark):
    stream = spark.readStream.format("rate").load()
    assert stream.isStreaming
    assert CK.collect_small(stream, 10) is None
