"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these at 100 TB):
- exact dedup: hash-groupBy on a digest — one shuffle keyed by the digest,
  map-side combine; never compares full texts across the cluster.
- MinHash LSH: per-doc signature (narrow, native expressions) -> explode to
  (band_hash) keys -> self-equi-join on band key. The only wide operation is
  an equi-join on short hash strings; candidate pairs are then refined with
  exact Jaccard. No O(n^2) stage anywhere.
- SimHash: 64-bit signature via md5-derived token hashes; near-dup = equal
  band keys on bit-blocks, refined by hamming distance (native popcount).

All signature math is md5-based (available and identical in Spark and DuckDB)
so every stage is oracle-checkable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..checkpoint import checkpoint_df, collect_small

from .text import char_ngrams


def exact_dedup(df: DataFrame, text_col: str, id_col: str, keep: str = "min") -> DataFrame:
    """Keep one row per distinct text (by md5 digest). ``keep``: 'min'/'max'
    id wins. Single shuffle on the digest; text itself never shuffles twice."""
    h = F.md5(F.col(text_col)).alias("__h")
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    keepers = df.select(h, F.col(id_col)).groupBy("__h").agg(agg.alias(id_col))
    return df.join(keepers, on=id_col, how="left_semi")


# MinHash permutations: perm_i(h) = (A[i] * (h % P) + B[i]) % P over a single
# md5-derived 60-bit gram hash. One md5 per gram (not one per gram×perm);
# P is a Mersenne prime < 2^31 so A*(h%P) fits int64 under ANSI mode. A/B are
# md5-derived constants — deterministic and reproducible in the SQL oracle.
MINHASH_P = 2_147_483_647


def _mh_const(tag: str, i: int) -> int:
    import hashlib

    h = int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:8], 16)
    return (h % (MINHASH_P - 2)) + 1


MINHASH_A = [_mh_const("a", i) for i in range(64)]
MINHASH_B = [_mh_const("b", i) for i in range(64)]


def gram_hash_expr(g):
    """60-bit integer hash of a gram: first 15 hex chars of md5 (identical in
    Spark `conv` and DuckDB's 0x-cast)."""
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")


def minhash_signature(text, num_perm: int = 16, shingle: int = 8, max_chars: int = 128):
    """Array<long> of ``num_perm`` min-hashes over char shingles (native).

    Single `aggregate` pass: the md5-derived gram hash is a lambda-bound
    variable, so it is computed ONCE per gram and shared by all permutations
    (16 separate array_min expressions would re-evaluate the md5 per
    permutation — Catalyst does no CSE across array elements)."""
    grams = char_ngrams(text, n=shingle, max_chars=max_chars)
    hashes = F.transform(grams, lambda g: gram_hash_expr(g) % F.lit(MINHASH_P))
    init = F.array(*[F.lit(MINHASH_P).cast("long") for _ in range(num_perm)])

    def step(acc, h):
        perms = F.array(
            *[
                (h * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)
                for i in range(num_perm)
            ]
        )
        return F.zip_with(acc, perms, lambda a, b: F.least(a, b))

    return F.aggregate(hashes, init, step)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle: int = 8,
    max_chars: int = 128,
    jaccard_threshold: float | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (a_id < b_id) via banded MinHash LSH;
    optionally refined by exact shingle-Jaccard >= threshold."""
    rows_per_band = num_perm // bands
    # carry the text through the join only when a jaccard refine needs it —
    # otherwise the band join shuffles just (id, band)
    need_text = jaccard_threshold is not None
    cols = [F.col(id_col)] + ([F.col(text_col)] if need_text else [])
    # signature via explode + groupBy-min: higher-order-function expressions
    # run interpreted, but an exploded min-aggregation is whole-stage
    # codegen'd with map-side partial aggregation (measurably faster, same
    # values)
    grams = char_ngrams(text_col, n=shingle, max_chars=max_chars)
    gh = df.select(
        F.col(id_col),
        F.explode(grams).alias("__g"),
    ).select(
        id_col,
        (gram_hash_expr(F.col("__g")) % F.lit(MINHASH_P)).alias("__h"),
    )
    mins = gh.groupBy(id_col).agg(
        *[
            F.min((F.col("__h") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)).alias(f"__m{i}")
            for i in range(num_perm)
        ]
    )
    sig_df = mins.select(
        id_col, F.array(*[F.col(f"__m{i}") for i in range(num_perm)]).alias("__sig")
    )
    if need_text:
        with_sig = df.select(*cols).join(sig_df, on=id_col)
    else:
        with_sig = sig_df
    # The band self-join references this subtree on BOTH sides. Without a
    # materialization boundary Catalyst plans the whole signature pipeline
    # (gram explode + md5 + 16 partial-min aggregate) twice — broadcast on
    # one side defeats ReuseExchange (r7 plan audit: two full `Scan parquet
    # -> Generate -> HashAggregate` subtrees). A lazy localCheckpoint makes
    # the narrow (id, sig[, text]) table compute ONCE; both sides then read
    # the materialized blocks. At scale this is the standard
    # materialize-the-signatures step (signatures are ~128 B/doc).
    # (checkpoint_df: reliable-checkpoint escape hatch for real clusters)
    with_sig = checkpoint_df(with_sig, eager=False)
    # band explode and the candidate-pair dedup carry ONLY (id, band) /
    # (a_id, b_id) — never the text (guide §2.3: shuffle keys, not
    # payloads). The refine joins text back from the materialized
    # checkpoint for the few SURVIVING candidates instead of fanning the
    # full text out 4x through the band explode and shipping two copies
    # per candidate through the dedup exchange.
    banded = with_sig.withColumn(
        "__band",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}|"),
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("__sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ),
    ).select(id_col, "__band")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, on="__band")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    if need_text:
        ta = with_sig.select(
            F.col(id_col).alias("a_id"), F.col(text_col).alias("__ta")
        )
        tb = with_sig.select(
            F.col(id_col).alias("b_id"), F.col(text_col).alias("__tb")
        )
        jac = ngram_jaccard(F.col("__ta"), F.col("__tb"), n=shingle, max_chars=max_chars)
        pairs = (
            pairs.join(ta, "a_id")
            .join(tb, "b_id")
            .withColumn("jaccard", jac)
            .where(F.col("jaccard") >= F.lit(jaccard_threshold))
            .drop("__ta", "__tb")
        )
    return pairs


def ngram_jaccard(t1, t2, n: int = 8, max_chars: int = 128):
    """Exact Jaccard similarity of char n-gram SETS of two texts (native)."""
    g1 = F.array_distinct(char_ngrams(t1, n=n, max_chars=max_chars))
    g2 = F.array_distinct(char_ngrams(t2, n=n, max_chars=max_chars))
    inter = F.size(F.array_intersect(g1, g2)).cast("double")
    union = F.size(F.array_union(g1, g2)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def simhash64(text, shingle: int = 4, max_chars: int = 128, n_bits: int = 60):
    """SimHash over char shingles (60 usable bits from 15 md5 hex chars).
    Per-gram hash is md5-derived; per-bit majority votes are native
    expressions (unrolled with literal masks — `shiftleft` needs a literal
    bit count)."""
    grams = F.array_distinct(char_ngrams(text, n=shingle, max_chars=max_chars))
    gram_hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    )
    n = F.size(gram_hashes)

    def bit_test(mask):
        # NB: the lambda must take exactly one parameter — pyspark treats a
        # two-arg lambda in filter() as (element, index)
        return lambda h: h.bitwiseAND(mask) != F.lit(0)

    acc = F.lit(0).cast("long")
    for i in range(n_bits):
        mask = F.lit(1 << i).cast("long")
        votes = F.size(F.filter(gram_hashes, bit_test(mask)))
        acc = acc + F.when(votes * 2 > n, mask).otherwise(F.lit(0).cast("long"))
    return acc


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 4,
    max_chars: int = 128,
    n_bits: int = 60,
    out_col: str = "simhash",
) -> DataFrame:
    """Per-doc SimHash via explode + codegen'd bitwise vote aggregation.

    Same values as :func:`simhash64`, but the per-bit majority votes become
    60 map-side-combined SUM aggregates over exploded gram hashes instead of
    60 interpreted higher-order array scans per row — whole-stage codegen,
    one shuffle keyed by id (the same rewrite that sped minhash up ~16x).
    Vote for bit i is sum(2*bit-1) = 2*ones - n, so ">0" == strict majority."""
    grams = F.array_distinct(char_ngrams(text_col, n=shingle, max_chars=max_chars))
    gh = df.select(F.col(id_col), F.explode(grams).alias("__g")).select(
        id_col,
        F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10).cast("long").alias("__h"),
    )
    votes = gh.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col("__h"), i).bitwiseAND(F.lit(1)).cast("long") * 2 - 1
            ).alias(f"__v{i}")
            for i in range(n_bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(n_bits):
        sig = sig + F.when(
            F.col(f"__v{i}") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(id_col, sig.alias(out_col))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit bands (4 bands -> any pair
    within hamming<=3 shares at least one exact band), refine by popcount."""
    sh = simhash_signatures(df, id_col, text_col, out_col="__sh")
    banded = sh.withColumn(
        "__band",
        F.explode(
            F.array(
                *[
                    F.concat(F.lit(f"{i}|"), F.shiftrightunsigned("__sh", i * 16).bitwiseAND(F.lit(0xFFFF)).cast("string"))
                    for i in range(4)
                ]
            )
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on="__band")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.col("a.__sh").alias("__sa"),
            F.col("b.__sh").alias("__sb"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .drop("__sa", "__sb")
    )


_LOCAL_CC_MAX_EDGES = 2_000_000


def _cc_local(hi, lo, max_rounds: int = 64):
    """Vectorized connected components over edge arrays: min-label
    propagation with pointer jumping (labels are indices into the sorted
    unique node array, so the converged label IS the component-minimum
    id). Returns ``(nodes, labels)`` int64 arrays (``labels[i]`` is the
    component minimum of ``nodes[i]``) — the same label function the
    distributed loop converges to. O(E) numpy work per round, O(log n)
    rounds; returns None if the round cap fires (caller falls back to
    the distributed loop)."""
    import numpy as np

    hi = np.asarray(hi, dtype=np.int64)
    lo = np.asarray(lo, dtype=np.int64)
    nodes, inv = np.unique(np.concatenate([hi, lo]), return_inverse=True)
    a, b = inv[: len(hi)], inv[len(hi):]
    lab = np.arange(len(nodes), dtype=np.int64)
    for _ in range(max_rounds):
        new = lab.copy()
        np.minimum.at(new, a, lab[b])
        np.minimum.at(new, b, lab[a])
        for _ in range(3):
            new = new[new]
        if np.array_equal(new, lab):
            return nodes, nodes[lab]
        lab = new
    return None


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document gets a
    ``cluster_id`` = the smallest doc id in its component (singletons keep
    their own id). This is the canonicalization step of a dedup pipeline —
    keep one representative per cluster, drop the rest.

    Large-star/small-star edge contraction (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii: "Connected Components in MapReduce and
    Beyond", SoCC 2014 — public algorithm): each round is two
    groupBy-min + join passes that rewire every node toward the minimum
    of its neighborhood, converging to one star per component centered
    at the component's minimum id in O(log^2 n) rounds worst case (a
    handful in practice) — unlike plain min-label propagation, whose
    round count equals the component DIAMETER and silently truncates
    long chains (road networks, drifting near-dup chains) at the
    iteration cap. Each round materializes via checkpoint_df so
    lineage stays flat; convergence is detected by a (count, hash-sum)
    signature — two cheap aggregates, no edge-set diff join."""
    raw_edges = pairs.select(
        F.greatest(F.col(a_col).cast("long"), F.col(b_col).cast("long")).alias("hi"),
        F.least(F.col(a_col).cast("long"), F.col(b_col).cast("long")).alias("lo"),
    ).filter(F.col("hi") != F.col("lo"))

    # Small-graph fast path: probe with limit(cap + 1) — one bounded job.
    # If it comes back within the cap, that IS the complete edge multiset
    # (duplicates included — np.unique absorbs them), and union-find runs
    # vectorized on the driver with the identical label function
    # (component minimum). No distinct shuffle, no checkpoint, no rounds.
    # Oversized graphs waste only the bounded probe and take the
    # distributed large-star/small-star loop — the 100 TB path.
    probe = collect_small(raw_edges, _LOCAL_CC_MAX_EDGES)
    if probe is not None:
        import pyarrow as pa

        ids = df.select(F.col(id_col).cast("long").alias(id_col))
        local = _cc_local(probe["hi"].to_numpy(), probe["lo"].to_numpy())
        if local is not None:
            # Arrow hand-back: no per-row pickling through parallelize
            labels = pairs.sparkSession.createDataFrame(
                pa.table({"node": local[0], "label": local[1]}),
                "node long, label long",
            )
            return ids.join(labels, ids[id_col] == labels.node, "left").select(
                id_col, F.coalesce("label", F.col(id_col)).alias("cluster_id")
            )

    edges = checkpoint_df(raw_edges.distinct(), eager=True)

    def _sig(E):
        r = E.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(hi, lo))").alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    sig = _sig(edges)
    for _ in range(max_iter):
        if sig[0] == 0:
            break
        # large-star: every neighbor v > u links to min(N(u) + {u})
        D = edges.union(
            edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
        )  # (u, v) both directions; col names are just slots here
        mins = D.groupBy("hi").agg(F.min("lo").alias("mv")).select(
            F.col("hi").alias("u"), F.least("mv", F.col("hi")).alias("m")
        )
        # no distinct here: duplicates ((v, m) emitted by several u) are
        # absorbed by small-star's groupBy + final distinct — dropping the
        # exchange saves one full shuffle per round
        ls = (
            D.join(mins, D.hi == mins.u)
            .filter(F.col("lo") > F.col("hi"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        )
        # small-star: neighbors <= u (all of them, ls is hi>lo oriented)
        # rewire to the minimum, and u links there too
        mins2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = ls.join(mins2, "hi")
        edges = checkpoint_df(
            joined.filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(joined.select("hi", F.col("m").alias("lo")))
            .distinct(),
            eager=True,
        )
        new_sig = _sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    # at convergence every non-center node has exactly one edge to its
    # component-min center; the min-agg also keeps output well-defined if
    # the iteration cap ever fires first
    labels = (
        edges.groupBy("hi")
        .agg(F.min("lo").alias("label"))
        .select(F.col("hi").alias("node"), "label")
    )
    ids = df.select(F.col(id_col).cast("long").alias(id_col))
    return ids.join(labels, ids[id_col] == labels.node, "left").select(
        id_col, F.coalesce("label", F.col(id_col)).alias("cluster_id")
    )


def embedding_near_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 12,
) -> DataFrame:
    """Embedding near-duplicate pairs via random-hyperplane (SRP) LSH blocking
    + exact cosine refine. Deterministic planes derived from md5 of indices."""
    from .similarity import cosine_expr, srp_bucket_expr

    sh = df.select(id_col, vec_col).withColumn(
        "__bucket", srp_bucket_expr(vec_col, n_planes=n_planes)
    )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, on="__bucket")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).alias("cosine"),
        )
    )
    return pairs.where(F.col("cosine") >= F.lit(threshold))


def substring_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 30,
    max_chars: int = 256,
) -> DataFrame:
    """Exact duplicated-substring signal (the span-level dedup statistic of
    Lee et al., "Deduplicating Training Data Makes Language Models Better",
    computed over fixed-length char windows instead of a suffix array): for
    every document, the fraction of its length-``n`` char windows that also
    occur in at least one OTHER document. Plan shape: explode windows ->
    hash -> one groupBy on the window hash (map-side combine) -> equi-join
    back -> per-doc aggregate; no all-pairs anywhere, so it scales to the
    full corpus."""
    grams = char_ngrams(text_col, n=n, max_chars=max_chars)
    g = df.select(F.col(id_col), F.explode(grams).alias("__g")).select(
        id_col, gram_hash_expr(F.col("__g")).alias("__h")
    )
    # the exploded (doc, window-hash) table feeds BOTH the per-gram count
    # and the join-back side; without a checkpoint the plan runs the corpus
    # explode + md5 pass twice (checkpoint_df: reliable-checkpoint escape
    # hatch for real clusters)
    g = checkpoint_df(g, eager=False)
    per_gram = g.groupBy("__h").agg(
        F.countDistinct(id_col).alias("__ndocs")
    )
    joined = g.join(per_gram, on="__h")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("__ndocs") >= 2).cast("long")).alias("n_dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


def minhash_bands_expr(
    text,
    num_perm: int = 16,
    bands: int = 4,
    shingle: int = 8,
    max_chars: int = 128,
):
    """Array of LSH band keys for one document, as a single STATELESS
    column expression (per-row minhash_signature + band slicing) — exactly
    the banding of minhash_lsh_pairs, but usable where a groupBy signature
    stage cannot go (inside a Structured Streaming query that already has
    its one stateful operator downstream)."""
    rows_per_band = num_perm // bands
    sig = minhash_signature(text, num_perm=num_perm, shingle=shingle, max_chars=max_chars)
    return F.array(
        *[
            F.concat(
                F.lit(f"{b}|"),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(sig, b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
            for b in range(bands)
        ]
    )


def banded_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle: int = 8,
    max_chars: int = 128,
) -> DataFrame:
    """(id, __band) rows via the codegen'd explode + groupBy-min signature
    path — identical banding to minhash_lsh_pairs (and to the per-row
    minhash_bands_expr), several times faster than the interpreted HOF
    expression on batch inputs. Use THIS for batch band tables; keep
    minhash_bands_expr for streaming queries that can't host the groupBy."""
    rows_per_band = num_perm // bands
    grams = char_ngrams(text_col, n=shingle, max_chars=max_chars)
    gh = df.select(F.col(id_col), F.explode(grams).alias("__g")).select(
        id_col, (gram_hash_expr(F.col("__g")) % F.lit(MINHASH_P)).alias("__h")
    )
    mins = gh.groupBy(id_col).agg(
        *[
            F.min(
                (F.col("__h") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)
            ).alias(f"__m{i}")
            for i in range(num_perm)
        ]
    )
    sig_df = mins.select(
        id_col, F.array(*[F.col(f"__m{i}") for i in range(num_perm)]).alias("__sig")
    )
    return sig_df.withColumn(
        "__band",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}|"),
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("__sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ),
    ).select(id_col, "__band")


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle: int = 8,
    max_chars: int = 128,
) -> DataFrame:
    """Incremental ingestion dedup: admit only the incoming rows that are
    (a) not byte-identical to anything in the existing corpus or to an
    earlier row of the same batch (keep-first by id), and (b) not an LSH
    band-bucket collision with ANY existing document (the standard
    candidates-are-dups near-dup policy). The existing corpus is touched
    as two digest/band projections — its text is never re-shuffled, which
    is what makes nightly ingestion runs O(batch) instead of O(corpus).
    Batch-internal NEAR-dup collapse is deliberately out of scope here —
    run the full pair->CC->keepers pipeline (dedup_corpus_keepers) over
    the admitted batch when that is wanted.

    Returns the surviving incoming rows with their original columns."""
    digest = F.md5(F.col(text_col))
    inc = incoming.withColumn("__dig", digest)
    w = Window.partitionBy("__dig").orderBy(F.col(id_col))
    inc_first = (
        inc.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    ex_dig = existing.select(digest.alias("__dig")).distinct()
    inc_new = inc_first.join(ex_dig, on="__dig", how="left_anti").drop("__dig")
    kw = dict(num_perm=num_perm, bands=bands, shingle=shingle, max_chars=max_chars)
    ex_bands = banded_ids(existing, id_col, text_col, **kw).select("__band").distinct()
    inc_bands = banded_ids(inc_new, id_col, text_col, **kw)
    near_hit = (
        inc_bands.join(ex_bands, on="__band", how="left_semi")
        .select(id_col)
        .distinct()
    )
    return inc_new.join(near_hit, on=id_col, how="left_anti")


def save_dedup_index(
    existing: DataFrame,
    path: str,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle: int = 8,
    max_chars: int = 128,
):
    """Persist the corpus-side projections incremental_dedup needs —
    distinct content digests and distinct LSH bands — as parquet. The
    nightly-ingestion contract: build once per corpus version (one scan
    of the text), then every batch admission reads ONLY this index
    (O(|digests| + |bands|), typically ~1% of the text bytes), never the
    corpus. Append new batches' digests/bands to roll the index forward."""
    digests = existing.select(F.md5(F.col(text_col)).alias("__dig")).distinct()
    bands_df = banded_ids(
        existing, "doc_id" if "doc_id" in existing.columns else existing.columns[0],
        text_col, num_perm=num_perm, bands=bands,
        shingle=shingle, max_chars=max_chars,
    ).select("__band").distinct()
    digests.write.mode("overwrite").parquet(f"{path}/digests")
    bands_df.write.mode("overwrite").parquet(f"{path}/bands")


def append_dedup_index(
    admitted: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle: int = 8,
    max_chars: int = 128,
):
    """Roll the persisted dedup index forward: append the ADMITTED batch's
    digests and bands (parquet append — no rewrite of the existing
    index). After this, the next batch is deduped against corpus +
    admitted exactly as if the index had been rebuilt from scratch
    (dedup semantics only consult set membership, so duplicate index rows
    from overlapping appends are harmless)."""
    admitted.select(F.md5(F.col(text_col)).alias("__dig")).distinct().write.mode(
        "append"
    ).parquet(f"{path}/digests")
    banded_ids(
        admitted, id_col, text_col, num_perm=num_perm, bands=bands,
        shingle=shingle, max_chars=max_chars,
    ).select("__band").distinct().write.mode("append").parquet(f"{path}/bands")


def incremental_dedup_from_index(
    spark,
    index_path: str,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle: int = 8,
    max_chars: int = 128,
) -> DataFrame:
    """incremental_dedup against a persisted index (save_dedup_index)
    instead of the live corpus — identical admissions, corpus text never
    read. Banding parameters must match the ones the index was built
    with."""
    digest = F.md5(F.col(text_col))
    inc = incoming.withColumn("__dig", digest)
    w = Window.partitionBy("__dig").orderBy(F.col(id_col))
    inc_first = (
        inc.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    ex_dig = spark.read.parquet(f"{index_path}/digests")
    inc_new = inc_first.join(ex_dig, on="__dig", how="left_anti").drop("__dig")
    ex_bands = spark.read.parquet(f"{index_path}/bands")
    inc_bands = banded_ids(
        inc_new, id_col, text_col, num_perm=num_perm, bands=bands,
        shingle=shingle, max_chars=max_chars,
    )
    near_hit = (
        inc_bands.join(ex_bands, on="__band", how="left_semi")
        .select(id_col)
        .distinct()
    )
    return inc_new.join(near_hit, on=id_col, how="left_anti")


def editdist_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    max_dist: int,
) -> DataFrame:
    """All unordered pairs of rows whose ``key_col`` strings are within
    edit (Levenshtein) distance ``max_dist`` — record linkage / fuzzy
    self-join, exactly.

    PassJoin-style segment blocking (Li, Deng, Feng: "PASS-JOIN: a
    partition-based method for similarity joins", PVLDB 2011 — public
    algorithm): each INDEX row partitions its key into d+1 contiguous
    segments; by pigeonhole, any string within edit distance d must
    contain one segment verbatim, at a start position within +-d of the
    segment's home position. Each PROBE row therefore emits only the
    substrings matching some (length, segment, position-window) triple —
    a constant ~(2d+1)^2*(d+1) keys per row — and candidates come from a
    plain equi-join on (length, segment index, substring). Never
    all-pairs, so the plan scales like any other banded dedup join:
    explode (narrow) -> shuffle on short segment keys (AQE splits hot
    segments) -> native levenshtein refine.

    Returns ``(a_id, b_id, dist)`` with a_id < b_id, exact and
    deterministic — no length exclusions. Keys shorter than d+1 get empty
    segments, whose candidates are confined to other such degenerate short
    keys (the (L, i) join key carries the index length), so the blow-up
    stays bounded by the count of sub-threshold-length rows."""
    d = int(max_dist)
    q = d + 1
    base = df.select(
        F.col(id_col).cast("long").alias("bid"), F.col(key_col).alias("bkey")
    )

    def seg_cols(prefix):
        # segment geometry for (L, i): first q-rem segments have length
        # L div q, the last rem have one extra char
        b = F.expr(f"{prefix}L div {q}")
        rem = F.expr(f"{prefix}L % {q}")
        i = F.col(f"{prefix}i")
        wl = b + F.when(i >= F.lit(q) - rem, 1).otherwise(0)
        pl = i * b + F.greatest(F.lit(0), i - (F.lit(q) - rem)) + 1
        return wl, pl

    # index side: the d+1 segments of every key
    R = (
        base.withColumn("rL", F.length("bkey"))
        .withColumn("ri", F.explode(F.sequence(F.lit(0), F.lit(d))))
    )
    wl, pl = seg_cols("r")
    R = R.withColumn("rwl", wl).withColumn("rpl", pl).select(
        "bid", "bkey",
        F.col("rL").alias("gL"), F.col("ri").alias("gi"),
        F.expr("substring(bkey, rpl, rwl)").alias("gs"),
    )

    # probe side: candidate substrings for every compatible (L, i, p)
    P = (
        df.select(F.col(id_col).cast("long").alias("aid"), F.col(key_col).alias("akey"))
        .withColumn("aLs", F.length("akey"))
        .withColumn(
            "pL",
            F.explode(
                F.sequence(F.greatest(F.lit(0), F.col("aLs") - d), F.col("aLs") + d)
            ),
        )
        .withColumn("pi", F.explode(F.sequence(F.lit(0), F.lit(d))))
    )
    wl, pl = seg_cols("p")
    P = P.withColumn("pwl", wl).withColumn("ppl", pl)
    lo = F.greatest(F.lit(1), F.col("ppl") - d)
    hi = F.least(F.col("ppl") + d, F.col("aLs") - F.col("pwl") + 1)
    P = (
        P.withColumn("plo", lo)
        .withColumn("phi", hi)
        .filter(F.col("phi") >= F.col("plo"))
        .withColumn("pp", F.explode(F.sequence(F.col("plo"), F.col("phi"))))
        .select(
            "aid", "akey",
            F.col("pL").alias("gL"), F.col("pi").alias("gi"),
            F.expr("substring(akey, pp, pwl)").alias("gs"),
        )
    )

    cand = P.join(R, on=["gL", "gi", "gs"]).filter(F.col("aid") != F.col("bid"))
    norm = cand.select(
        F.least("aid", "bid").alias("a_id"),
        F.greatest("aid", "bid").alias("b_id"),
        F.when(F.col("aid") < F.col("bid"), F.col("akey")).otherwise(F.col("bkey")).alias("ka"),
        F.when(F.col("aid") < F.col("bid"), F.col("bkey")).otherwise(F.col("akey")).alias("kb"),
    ).distinct()
    return norm.filter(F.levenshtein("ka", "kb") <= d).select(
        "a_id", "b_id", F.levenshtein("ka", "kb").cast("long").alias("dist")
    )
