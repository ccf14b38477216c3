"""Where an intermediate lives: checkpoints and driver-local collects.

``checkpoint_df`` is executor-local by default, reliable on demand.

``localCheckpoint`` truncates lineage into executor-local, NON-recomputable
blocks — the right default for the bench (cheap, rebuilt inside every timed
invocation) and for short-lived intermediates, but an executor loss mid-job
kills the query on a real cluster when the checkpointed table is large
(e.g. the corpus-sized tf table in tfidf_topk). For production runs set
``SPARK_GRAFT_RELIABLE_CHECKPOINT=<dir>`` (an HDFS/object-store path on a
cluster): every call below then writes a RELIABLE checkpoint there instead,
trading one extra write+read of the materialized table for executor-loss
survivability. Default behavior is unchanged when the variable is unset.
See SCALE.md ("Checkpoint failure domains") for the tradeoff discussion.

``collect_small`` is the one size gate of the driver-local fast paths
(kNN, LOF, DBSCAN, connected components, k-core, pagerank, ANF, k-means/PQ
training, MMR): a bounded ``limit(cap + 1)`` probe that hands the rows back
when they fit under the caller's cap. Each local path is an exact replica
of its distributed plan, so the gate changes cost, never results.
"""

from __future__ import annotations

import os


def checkpoint_df(df, eager: bool = False):
    """``df.localCheckpoint(eager)`` — or a reliable ``df.checkpoint(eager)``
    into ``$SPARK_GRAFT_RELIABLE_CHECKPOINT`` when that is set. The
    checkpoint directory is configured once per SparkContext, lazily."""
    ckdir = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "")
    if not ckdir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    try:
        have = sc.getCheckpointDir()
    except Exception:
        have = None
    if not have:
        sc.setCheckpointDir(ckdir)
    return df.checkpoint(eager=eager)


# tests set this to force every gated operator onto its distributed plan
_FORCE_DISTRIBUTED = False


def collect_small(df, max_rows: int):
    """``df`` as a pandas frame if it holds at most ``max_rows`` rows, else
    None (the caller takes its distributed plan). One bounded job: the
    probe ``limit(max_rows + 1)`` never pulls more than the cap plus one
    row to the driver. Streaming frames and ``_FORCE_DISTRIBUTED`` always
    give None."""
    if _FORCE_DISTRIBUTED or df.isStreaming:
        return None
    pdf = df.limit(max_rows + 1).toPandas()
    return pdf if len(pdf) <= max_rows else None
