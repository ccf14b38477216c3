"""Graph analytics for corpus curation, as iterative DataFrame ops.

Web-scale corpus pipelines weight documents by link/duplication-graph
centrality (e.g. CommonCrawl harmonic-centrality filtering); here the
same shape runs on any edge list — including the near-duplicate candidate
graph the dedup stage already produces.

PageRank is a fixed-iteration power method: each round is one equi-join
(edge x rank) + one groupBy (incoming mass per node). State per round is
the O(|V|) rank table; edges never change, so at 100 TB you persist the
(src, dst, deg) table once and stream rounds over it. Contribution sums
are decimal-accumulated (order-independent), making a fixed-round run
bit-reproducible in ANSI SQL — the oracle unrolls the rounds as CTEs.

Connected components lives in ``dedup.dedup_clusters`` (large-star/
small-star contraction); this module adds the weighted-centrality side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..checkpoint import checkpoint_df, collect_small

_DEC = "decimal(38,12)"

# k_core local fast path: when the canonical edge list is small (gated by
# a bounded collect_small probe over the checkpoint the distributed rounds
# would materialize anyway), peel driver-locally instead of paying ~3
# shuffle stages per round. Pure integer set logic, bit-identical to the
# distributed rounds by construction.
_LOCAL_KCORE_MAX_EDGES = 2_000_000

# pagerank local fast path: same gate design (bounded probes over inputs
# the distributed rounds would materialize anyway), with every decimal /
# rounding step replicated exactly (see the replica rules block in
# datapipe/similarity.py): CAST(double AS DECIMAL(38,12)) ==
# Decimal(repr(x)) HALF_UP at 12 dp, decimal SUM exact, CAST(decimal AS
# DOUBLE) == float(Decimal), round(double, 12) == the shortest-repr
# HALF_UP replica.
_LOCAL_PAGERANK_MAX_EDGES = 1_000_000
_LOCAL_PAGERANK_MAX_NODES = 1_000_000


def _pagerank_local(node_ids, directed_edges, iters, damping):
    """Driver-local replica of the fixed-iteration pagerank rounds —
    identical IEEE/decimal op sequence, so output is bit-identical to the
    distributed plan (equality-tested)."""
    from decimal import ROUND_HALF_UP as _HALF_UP, Decimal as _Dec

    _e12 = _Dec("1e-12")

    def _round12(x: float) -> float:
        return float(_Dec(repr(float(x))).quantize(_e12, rounding=_HALF_UP))

    def _dec12(x: float) -> _Dec:
        return _Dec(repr(float(x))).quantize(_e12, rounding=_HALF_UP)

    n = float(len(node_ids))
    d = float(damping)
    deg: dict = {}
    for s, _t in directed_edges:
        deg[s] = deg.get(s, 0) + 1
    pr0 = _round12(1.0 / n)
    pr = {v: pr0 for v in node_ids}
    for _ in range(iters):
        sums: dict = {}
        for s, t in directed_edges:
            p = pr.get(s)
            if p is None:
                continue
            c = _dec12(_round12(p / float(deg[s])))
            sums[t] = sums.get(t, _Dec(0)) + c
        base = (1.0 - d) / n
        pr = {
            v: _round12(base + d * (float(sums[v]) if v in sums else 0.0))
            for v in node_ids
        }
    return [(v, pr[v]) for v in node_ids]


# neighborhood_function (HyperBall/KMV) local fast path: same gate
# design; the md5 node hashes, k-smallest-distinct merges and the HALF_UP
# micro-unit estimates are replicated exactly.
_LOCAL_ANF_MAX_EDGES = 500_000


def _anf_local(directed_edges, k, hops, salt):
    """Driver-local replica of the KMV sketch-merge rounds — identical
    hashes, merges and rounding, so output is bit-identical to the
    distributed plan (equality-tested). directed_edges already contains
    both directions of every undirected pair."""
    import hashlib
    from decimal import ROUND_HALF_UP as _HALF_UP, Decimal as _Dec

    import math as _math

    def _half_up(x: float, exp: str) -> float:
        return float(_Dec(repr(float(x))).quantize(_Dec(exp), rounding=_HALF_UP))

    M = float(1 << 60)
    nbrs: dict = {}
    for s, t in directed_edges:
        nbrs.setdefault(s, []).append(t)
    state = {
        v: (int(hashlib.md5(f"{salt}:{v}".encode()).hexdigest()[:15], 16),)
        for v in nbrs
    }
    micros: dict = {v: [] for v in nbrs}
    for _h in range(hops):
        new_state = {}
        for v, hs in state.items():
            merged = set(hs)
            for t in nbrs[v]:
                merged.update(state[t])
            new_state[v] = tuple(sorted(merged)[:k])
        state = new_state
        for v, hs in state.items():
            if len(hs) < k:
                raw = float(len(hs))
            else:
                raw = _half_up(float(k - 1) * M / float(hs[k - 1]), "1E-6")
            micros[v].append(int(_half_up(raw * 1e6, "1")))
    lcm = _math.lcm(*range(1, hops + 1))
    denom = float(lcm) * 1e6
    out = []
    for v in sorted(micros):
        ns = micros[v]
        harm, prev = 0, 1_000_000
        for h in range(1, hops + 1):
            harm += (lcm // h) * (ns[h - 1] - prev)
            prev = ns[h - 1]
        out.append(
            (v, *[n / 1e6 for n in ns], float(harm) / denom)
        )
    return out


def pagerank(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair list (each pair
    contributes both directions). Nodes with no edges hold the teleport
    mass (1-d)/N; dangling redistribution is intentionally omitted (the
    variant is documented and mirrored by the oracle — for a quality
    SIGNAL the relative ordering is what matters).

    pr_{t+1}(v) = round((1-d)/N + d * sum_{u~v} round(pr_t(u)/deg(u), 12), 12)

    Output: (id_col, pr) — one row per node.
    """
    edges = (
        pairs.select(
            F.col(a_col).cast("long").alias("src"),
            F.col(b_col).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    E = checkpoint_df(
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
        eager=True,
    )
    # bounded probes (E is already materialized above), so nothing big is
    # ever pulled to the driver
    ep = collect_small(E, _LOCAL_PAGERANK_MAX_EDGES)
    npdf = None if ep is None else collect_small(
        nodes.select(F.col(id_col).cast("long").alias("n")),
        _LOCAL_PAGERANK_MAX_NODES,
    )
    # no nodes, a NULL node id (the column comes back as float) or a
    # duplicate one: take the distributed rounds
    if (
        npdf is not None
        and len(npdf)
        and npdf["n"].dtype.kind == "i"
        and npdf["n"].is_unique
    ):
        directed = list(zip(ep["src"].tolist(), ep["dst"].tolist()))
        out = _pagerank_local(npdf["n"].tolist(), directed, iters, damping)
        return nodes.sparkSession.createDataFrame(
            out, f"{id_col} long, pr double"
        )
    deg = E.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    ED = checkpoint_df(E.join(deg, on="src"), eager=True)

    nn = nodes.agg(F.count(F.lit(1)).alias("__N"))
    base = nodes.select(F.col(id_col).cast("long").alias("node")).crossJoin(
        F.broadcast(nn)
    )
    d = float(damping)
    pr = base.select(
        "node",
        F.round(F.lit(1.0) / F.col("__N").cast("double"), 12).alias("pr"),
    )
    for _ in range(iters):
        contrib = ED.join(
            pr.select(F.col("node").alias("src"), "pr"), on="src"
        ).select(
            F.col("dst").alias("node"),
            F.round(F.col("pr") / F.col("__deg").cast("double"), 12)
            .cast(_DEC)
            .alias("__c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        pr = (
            base.join(sums, on="node", how="left")
            .select(
                "node",
                F.round(
                    F.lit(1.0 - d) / F.col("__N").cast("double")
                    + F.lit(d) * F.coalesce(F.col("__s").cast("double"), F.lit(0.0)),
                    12,
                ).alias("pr"),
            )
        )
    return pr.select(F.col("node").alias(id_col), "pr")


def triangle_count(
    pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id"
) -> DataFrame:
    """Exact per-node triangle counts over an undirected edge list — the
    local-clustering signal of the duplicate-candidate graph (a document
    inside a dense triangle cluster is a much stronger duplicate than one
    with the same raw degree).

    Degree-ordered orientation (the standard distributed formulation):
    every edge points from its lower (degree, id) endpoint to the higher,
    so each triangle is counted exactly once at its minimum vertex and —
    the scale property — the maximum out-degree is O(sqrt(|E|)), which
    bounds the wedge join at O(|E|^1.5) total work regardless of hub
    nodes. Three equi-joins + one semi-join + one groupBy; all exact
    integers, so the SQL oracle replays it verbatim.

    Output: (node, tri_count) for nodes in at least one triangle.
    """
    e = (
        pairs.select(
            F.least(a_col, b_col).alias("a"), F.greatest(a_col, b_col).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # e is referenced three times (degree union x2, the orientation join)
    # and directed three more (both wedge sides + the closing-edge check):
    # checkpoint each so the upstream pair generation runs once
    e = checkpoint_df(e, eager=False)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("a"), F.col("dg").alias("da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("dg").alias("db")), "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    directed = checkpoint_df(
        ed.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
        ),
        eager=False,
    )
    d1 = directed.select("u", F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    d2 = directed.select("u", F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    wedges = d1.join(d2, "u").where(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = directed.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tris = wedges.join(closing, ["v1", "v2"], "left_semi")
    nodes = tris.select(
        F.explode(F.array("u", "v1", "v2")).alias("node")
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("tri_count"))


def neighborhood_function(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    k: int = 32,
    hops: int = 3,
    salt: str = "anf",
) -> DataFrame:
    """Approximate neighborhood function + harmonic centrality — the
    HyperBall algorithm (Boldi & Vigna 2013; CommonCrawl's page-quality
    signal) with a KMV sketch in place of HLL, so the result is a pure
    deterministic function of the graph and can be oracle-checked in SQL
    (HLL register layouts differ per engine; KMV minima do not).

    Per node, per hop h: a set of the k smallest md5 hashes of node ids
    reachable within h steps. One round = each node merges its neighbors'
    sketches (edge join + explode + distinct + per-node rank <= k) —
    state is k longs per node REGARDLESS of neighborhood size, which is
    the entire point vs exact BFS frontiers (O(component) state per node).
    |N_<=h(u)| is then exact when the sketch is unsaturated (< k hashes),
    else the KMV estimate (k-1) * M / h_k.

    Harmonic centrality sums ring sizes / distance. To keep the engine
    comparison exact the rings are combined in integer micro-units with
    the LCM-of-denominators trick (no float rounding of pre-rounded
    values — see mmr_rerank for the same reasoning).

    Output: (node, n1..n{hops} cumulative-ball estimates, harmonic).
    Nodes with no edges are not in the output (centrality 0).
    """
    M = float(1 << 60)
    e0 = (
        pairs.select(
            F.col(a_col).cast("long").alias("src"),
            F.col(b_col).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    e = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # the edge list joins into EVERY round; checkpoint it once so its
    # upstream lineage (e.g. minhash pair generation) runs once, not
    # once per hop
    e = checkpoint_df(e, eager=False)
    # the bounded probe materializes the checkpoint (the distributed
    # rounds' first action would too)
    probe = collect_small(e, _LOCAL_ANF_MAX_EDGES)
    if probe is not None:
        directed = list(zip(probe["src"].tolist(), probe["dst"].tolist()))
        out = _anf_local(directed, k, hops, salt)
        schema = ", ".join(
            ["node long"]
            + [f"n{h} double" for h in range(1, hops + 1)]
            + ["harmonic double"]
        )
        return pairs.sparkSession.createDataFrame(out, schema)
    from .dedup import gram_hash_expr

    h_expr = gram_hash_expr(
        F.concat(F.lit(f"{salt}:"), F.col("node").cast("string"))
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    state = nodes.select("node", F.array(h_expr).alias("hs"))

    def est_micro(hs):
        # ball-size estimate in exact 1e-6 units (long): exact count when
        # unsaturated, else round((k-1) * M / h_k, 6) recovered as an int
        raw = F.when(
            F.size(hs) < k, F.size(hs).cast("double")
        ).otherwise(
            F.round(
                F.lit(float(k - 1)) * F.lit(M)
                / F.element_at(hs, k).cast("double"),
                6,
            )
        )
        return F.round(raw * F.lit(1e6)).cast("long")

    ests = []
    for h in range(1, hops + 1):
        msgs = e.join(
            state.select(F.col("node").alias("dst"), "hs"), "dst"
        ).select(F.col("src").alias("node"), "hs")
        # one groupBy per round: gather neighbor sketches as arrays and
        # take the k smallest distinct hashes with array expressions —
        # same result as explode + distinct + rank window, but a single
        # exchange instead of three (join, distinct, window)
        state = (
            state.unionByName(msgs)
            .groupBy("node")
            .agg(
                F.slice(
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list("hs")))
                    ),
                    1, k,
                ).alias("hs")
            )
        )
        # truncate lineage so round r+1's plan doesn't re-run rounds 1..r
        # per reference (blocks released on dereference, unlike cache)
        state = checkpoint_df(state, eager=False)
        ests.append(
            state.select("node", est_micro(F.col("hs")).alias(f"__n{h}"))
        )
    out = ests[0]
    for df in ests[1:]:
        out = out.join(df, "node")
    # harmonic = sum_h (ball_h - ball_{h-1}) / h, in exact integers scaled
    # by lcm(1..hops); ball_0 = exactly the node itself = 1e6 micro-units
    import math as _math

    lcm = _math.lcm(*range(1, hops + 1))
    prev = F.lit(1_000_000).cast("long")
    harm = F.lit(0).cast("long")
    for h in range(1, hops + 1):
        cur = F.col(f"__n{h}")
        harm = harm + F.lit(lcm // h) * (cur - prev)
        prev = cur
    cols = [
        (F.col(f"__n{h}").cast("double") / F.lit(1e6)).alias(f"n{h}")
        for h in range(1, hops + 1)
    ]
    return out.select(
        "node", *cols,
        (harm.cast("double") / F.lit(float(lcm) * 1e6)).alias("harmonic"),
    )


def k_core(
    pairs: DataFrame,
    k: int = 2,
    a_col: str = "a_id",
    b_col: str = "b_id",
    rounds: int = 20,
    early_stop: bool = True,
) -> DataFrame:
    """k-core decomposition by iterative peeling: every round drops nodes
    whose CURRENT degree is below k, until no node is dropped (the classic
    fixed point — the dense sub-community a duplicate-cluster or citation
    graph keeps after trimming its fringe). Each round is one groupBy
    (degrees) + two left-semi joins (surviving endpoints); peel depth, not
    |V|, bounds the round count. With ``early_stop`` each round pays one
    count() action to detect the fixed point (same pattern as PageRank's
    fixed rounds); pass ``early_stop=False`` to run exactly ``rounds``
    peels — bit-reproducible for unrolled-CTE oracles.

    Output: (node, core_deg) for nodes in the k-core, with their degree
    inside the core subgraph.
    """
    e = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).cast("long").alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # round 1 references e three times (degree union x2 + the semi-join
    # probe side); checkpoint so the upstream pair generation runs once
    # (checkpoint_df: reliable-checkpoint escape hatch for real clusters)
    e = checkpoint_df(e, eager=False)
    # the bounded probe materializes the checkpoint (the distributed
    # rounds' first action would too), so nothing big is ever pulled to
    # the driver
    probe = collect_small(e, _LOCAL_KCORE_MAX_EDGES)
    if probe is not None:
        edges = list(zip(probe["a"].tolist(), probe["b"].tolist()))
        prev_n = None
        for _ in range(rounds):
            deg: dict = {}
            for a, b in edges:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            edges = [(a, b) for a, b in edges if a in keep and b in keep]
            if early_stop:
                if prev_n is not None and len(edges) == prev_n:
                    break
                prev_n = len(edges)
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        out = sorted((n, d) for n, d in deg.items() if d >= k)
        return pairs.sparkSession.createDataFrame(
            out, "node long, core_deg long"
        )
    prev_edges = None
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .count()
        )
        keep = deg.where(F.col("count") >= k).select("n")
        e = checkpoint_df(
            e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b"),
            eager=False,
        )
        if early_stop:
            cnt = e.count()
            if prev_edges is not None and cnt == prev_edges:
                break
            prev_edges = cnt
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .count()
    )
    return deg.where(F.col("count") >= k).select(
        "node", F.col("count").cast("long").alias("core_deg")
    )
