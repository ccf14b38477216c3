"""Reliable-checkpoint escape hatch: every materialization in the package
routes through ``checkpoint_df``, which swaps the executor-local
``localCheckpoint`` for a reliable ``checkpoint`` into
``$SPARK_GRAFT_RELIABLE_CHECKPOINT`` when that is set — identical results,
different failure domain (see SCALE.md)."""

import os
import re

from pyspark.sql import functions as F

import geoarrow_rs_spark
from geoarrow_rs_spark import checkpoint as CK
from geoarrow_rs_spark.checkpoint import checkpoint_df
from geoarrow_rs_spark.datapipe import corpus as corpus_ops


def test_checkpoint_df_local_default(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = checkpoint_df(df, eager=True)
    assert sorted(r["v"] for r in out.collect()) == list(range(0, 200, 2))


def test_checkpoint_df_reliable_mode(spark, tmp_path, monkeypatch):
    ck = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", str(ck))
    df = spark.range(50).withColumn("v", F.col("id") + 1)
    out = checkpoint_df(df, eager=True)
    assert sorted(r["v"] for r in out.collect()) == list(range(1, 51))
    # the reliable checkpoint must actually have been written to the dir
    found = [p for p, _d, files in os.walk(ck) if files]
    assert found, "no reliable checkpoint files written"


def test_tfidf_identical_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    rows = [(i, f"alpha beta gamma doc{i % 3} beta") for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    terms = ["beta", "gamma"]
    base = corpus_ops.tfidf_topk(docs, terms, k=5).collect()
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT",
                       str(tmp_path / "ck2"))
    reliable = corpus_ops.tfidf_topk(docs, terms, k=5).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, reliable))


def _files_under(uri):
    root = uri[len("file:"):] if uri.startswith("file:") else uri
    return sum(len(files) for _p, _d, files in os.walk(root))


def test_k_core_rounds_identical_under_reliable_checkpoint(
    spark, tmp_path, monkeypatch
):
    """The distributed k-core peel checkpoints its edge list and every
    round; in reliable mode those land in the checkpoint directory."""
    from geoarrow_rs_spark.datapipe.graph import k_core

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (6, 7), (2, 1)],
        "a_id long, b_id long",
    )
    monkeypatch.setattr(CK, "_FORCE_DISTRIBUTED", True)
    base = sorted(map(tuple, k_core(pairs, k=2).collect()))
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT",
                       str(tmp_path / "ck3"))
    # a SparkContext keeps the first checkpoint directory it was given
    # (an earlier test may have set it): count files wherever it points
    sc = spark.sparkContext
    before = _files_under(sc.getCheckpointDir() or str(tmp_path / "ck3"))
    reliable = sorted(map(tuple, k_core(pairs, k=2).collect()))
    assert reliable == base and len(base) > 0
    assert _files_under(sc.getCheckpointDir()) > before


def test_no_gate_knobs_or_raw_local_checkpoints_in_package():
    """Every size gate goes through collect_small and every
    materialization through checkpoint_df (which honors
    SPARK_GRAFT_RELIABLE_CHECKPOINT): no per-op env knob and no raw
    localCheckpoint call anywhere else in the package. The only env reads
    left are that checkpoint directory and SPARK_GRAFT_USE_PYPROJ (an
    optional external dependency), and WKB batches have one decoder. Only
    _pyworker freezes the heap or hooks the garbage collector."""
    banned = (".localCheckpoint(", "SPARK_GRAFT_DISABLE_LOCAL_",
              "SPARK_GRAFT_LOCAL_")
    allowed_env = {
        "checkpoint.py": "SPARK_GRAFT_RELIABLE_CHECKPOINT",
        os.path.join("wkb", "proj.py"): "SPARK_GRAFT_USE_PYPROJ",
    }
    env_read = re.compile(r"\b(environ|getenv)\b")
    gc_hook = re.compile(r"\bgc\.(freeze|callbacks)\b")
    root = os.path.dirname(geoarrow_rs_spark.__file__)
    hits, env_reads, gc_hooks = [], set(), set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    if "_flat_simple_decode" in line or (
                        path != CK.__file__ and any(b in line for b in banned)
                    ):
                        hits.append(f"{rel}:{n}")
                    if env_read.search(line):
                        if allowed_env.get(rel, "\0") not in line:
                            hits.append(f"{rel}:{n}")
                        env_reads.add(rel)
                    if gc_hook.search(line):
                        gc_hooks.add(rel)
    assert hits == []
    assert env_reads == set(allowed_env)
    assert gc_hooks == {"_pyworker.py"}
