"""Corpus-level training-data operators: benchmark decontamination, greedy
sequence packing, BM25 lexical retrieval, and C4-style line cleaning.

All hot paths are native Catalyst expressions (no Python UDFs): word n-grams
are built with ``split`` + ``transform(sequence(...))``, packing is a single
window cumulative sum per shard, BM25 is pure column arithmetic over exact
integer term/document frequencies.

Scale notes (100 TB design):
- ``decontaminate``: the benchmark n-gram set is small (eval suites are
  MBs, not TBs) — it is broadcast, so the corpus is scanned once, exploded,
  hash-joined map-side, and re-aggregated on ``doc_id`` (one shuffle keyed
  by the corpus primary key; AQE coalesces). The corpus text itself never
  shuffles — only (doc_id, gram) pairs.
- ``pack_sequences``: a global ORDER BY would serialize; instead documents
  are sharded deterministically and packed within shards (PARTITION BY
  shard ORDER BY id window). Each shard's packing is independent —
  1000 executors pack 1000 shards concurrently.
- ``bm25``: document frequencies for the query's terms are a tiny
  aggregate (one row per term) — computed once and broadcast; per-doc term
  frequencies are codegen'd array scans, no shuffle except the final top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..checkpoint import checkpoint_df


# ---------------------------------------------------------------------------
# word n-grams (native)
# ---------------------------------------------------------------------------

def words_of(text) -> Column:
    """Whitespace word split (single-space corpora split exactly)."""
    return F.split(text, " ")


def word_ngrams(text, n: int = 3) -> Column:
    """Array of space-joined word ``n``-grams, [] when the doc is shorter
    than ``n`` words. Built natively: ``transform(sequence(1, len-n+1),
    i -> concat_ws(' ', slice(words, i, n)))``."""
    w = words_of(text)
    k = F.size(w) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# RAG-style chunking
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document into overlapping token-window chunks (the
    retrieval/embedding prep step: chunk_tokens-sized windows every
    ``stride`` tokens, overlap = chunk_tokens - stride). Fully native:
    tokens via split, window starts via sequence, the explode is Spark's
    UDTF — per-row work only, embarrassingly parallel, no shuffle at all.

    Output: one row per chunk — (id_col, chunk_id, n_chunk_tokens,
    chunk_text). A document shorter than one stride still yields chunk 0,
    so every input row survives chunking (count conservation is testable).
    """
    toks = F.filter(
        F.split(F.col(text_col), "\\s+"), lambda x: x != ""
    )
    d = df.withColumn("__tk", toks)
    n = F.size(F.col("__tk"))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    exploded = d.select(
        F.col(id_col),
        F.col("__tk"),
        F.explode(starts).alias("__s"),
    )
    chunk = F.slice(F.col("__tk"), F.col("__s") + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        (F.col("__s") / F.lit(stride)).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_ppm: int = 50000,
) -> DataFrame:
    """Flag corpus documents whose word-``n``-gram overlap with a benchmark
    (eval) set exceeds ``threshold_ppm`` parts-per-million — the standard
    pre-training decontamination pass (GPT-3 appendix C / Llama style, done
    with distinct n-gram membership).

    Returns one row per corpus doc: ``(id, n_grams, n_hits, overlap_ppm,
    contaminated)`` where ``n_grams`` counts the doc's DISTINCT n-grams and
    ``n_hits`` how many of those appear anywhere in the benchmark. The
    overlap is reported as integer ppm (floored) and the flag compares
    pure BIGINT products, so results are bit-identical across engines.

    The benchmark gram set is aggregated then broadcast — corpus rows never
    shuffle on text; the only wide exchange is the (id, gram)→id count.
    """
    bench_grams = (
        benchmark.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("__g")
        ).distinct()
    )
    doc_grams = corpus.select(
        F.col(id_col),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("__gs"),
    )
    exploded = doc_grams.select(
        id_col,
        F.size("__gs").alias("n_grams"),
        F.explode_outer("__gs").alias("__g"),
    )
    hits = (
        exploded.join(
            F.broadcast(bench_grams.withColumnRenamed("__g", "__bg")),
            exploded.__g == F.col("__bg"),
            "left",
        )
        .groupBy(id_col, "n_grams")
        .agg(F.count(F.col("__bg")).alias("n_hits"))
    )
    n_grams = F.col("n_grams").cast("long")
    n_hits = F.col("n_hits").cast("long")
    ppm = F.when(
        n_grams > 0, F.floor(n_hits * F.lit(1000000) / n_grams).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return hits.select(
        id_col,
        n_grams.alias("n_grams"),
        n_hits.alias("n_hits"),
        ppm.alias("overlap_ppm"),
        (n_hits * F.lit(1000000) > F.lit(threshold_ppm) * n_grams).alias(
            "contaminated"
        ),
    )


# ---------------------------------------------------------------------------
# greedy sequence packing
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_count: Column | None = None,
    target_tokens: int = 2048,
    n_shards: int = 8,
) -> DataFrame:
    """Assign each document to a training-sequence bin of ~``target_tokens``
    tokens: deterministic streaming packing (a doc joins bin ``k`` when the
    cumulative token count of its predecessors lies in
    ``[k*target, (k+1)*target)``).

    A single global ordering would force all data through one task, so docs
    are sharded by ``id % n_shards`` and packed independently per shard —
    the window is PARTITION BY shard ORDER BY id, which scales linearly
    with executors. Returns ``(shard, bin, id, n_tokens, bin_offset)``.
    """
    if token_count is None:
        token_count = F.size(words_of(F.col("text")))
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.select(
        shard.alias("shard"),
        F.col(id_col),
        token_count.cast("long").alias("n_tokens"),
    )
    cum = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return out.select(
        "shard",
        id_col,
        "n_tokens",
        F.floor(cum / F.lit(target_tokens)).cast("long").alias("bin"),
        (cum - F.floor(cum / F.lit(target_tokens)) * F.lit(target_tokens))
        .cast("long")
        .alias("bin_offset"),
    )


def pack_bin_stats(packed: DataFrame, target_tokens: int = 2048) -> DataFrame:
    """Per-bin fill statistics for a :func:`pack_sequences` output."""
    return packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.lit(float(target_tokens)), 6
        ).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# BM25 lexical scoring
# ---------------------------------------------------------------------------

def bm25_scores(
    corpus: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> DataFrame:
    """BM25 relevance of every document to a bag-of-words query, computed
    entirely with exact integer tf/df/dl statistics and one fixed-order
    float combination (rounded to ``round_to`` decimals so the score is
    engine-independent).

    The corpus-level stats (N, total length, per-term document frequency)
    collapse to a single tiny row that Catalyst broadcasts; the per-doc
    side is a codegen'd array scan per term — the corpus is read once and
    never shuffled.
    """
    w = words_of(F.col(text_col))
    dl = F.size(w).cast("long")
    tf_cols = [
        F.size(F.filter(w, lambda x: x == F.lit(t))).cast("long").alias(f"__tf{i}")
        for i, t in enumerate(query_terms)
    ]
    base = corpus.select(F.col(id_col), dl.alias("__dl"), *tf_cols)

    stats = base.agg(
        F.count(F.lit(1)).alias("__N"),
        F.sum("__dl").alias("__L"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(query_terms))
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("__L").cast("double") / F.col("__N").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl").cast("double") / avgdl
    )
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"__tf{i}").cast("double")
        dfi = F.col(f"__df{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__N").cast("double") - dfi + F.lit(0.5)) / (dfi + F.lit(0.5))
        )
        score = score + idf * (tf * F.lit(k1 + 1.0)) / (tf + norm)
    return j.select(
        id_col,
        F.col("__dl").alias("doc_len"),
        F.round(score, round_to).alias("bm25"),
    )


def bm25_topk(
    corpus: DataFrame,
    query_terms: list[str],
    k: int = 20,
    **kwargs,
) -> DataFrame:
    """Top-``k`` documents by BM25, ties broken by id (deterministic).

    The heavy selection is ``orderBy().limit(k)`` — Spark plans it as a
    distributed TakeOrderedAndProject (per-partition top-k, then a k-row
    merge on one task), so no global sort or single-partition window ever
    sees the full corpus; the rank window runs over just the k survivors."""
    id_col = kwargs.get("id_col", "doc_id")
    scored = bm25_scores(corpus, query_terms, **kwargs)
    top = scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("bm25").desc(), F.col(id_col))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(id_col, "doc_len", "bm25", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# tf-idf sparse cosine retrieval
# ---------------------------------------------------------------------------

def tfidf_topk(
    corpus: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Top-``k`` documents by tf-idf cosine to a bag-of-words query —
    the classic sparse-vector retrieval complement to BM25. Weights:
    w(doc, t) = tf * idf, w(query, t) = idf, idf = ln((N+1)/(df+1))
    rounded to 12 dp (absorbing last-ulp libm differences so the score is
    engine-exact); query terms absent from the corpus vocabulary carry no
    weight (they cannot match any document).

    Scale shape: (doc, word) counts are one explode + groupBy; idf is a
    vocabulary-sized table equi-joined back on word (AQE handles skewed
    words); the query vector and its norm are tiny broadcasts; every
    accumulation is an order-independent decimal sum, and the final
    selection is a distributed TakeOrderedAndProject, never a global sort.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError(
            "tfidf_topk: query_terms is empty — nothing to score against"
        )
    base = corpus.select(F.col(id_col), words_of(F.col(text_col)).alias("__w"))

    # corpus side FIRST: ONE explode + groupBy is the only heavy pass.
    # Checkpointed because both the scoring chain and the query-side
    # document frequencies read it (r7: the previous version paid two
    # extra tokenization scans of the corpus — one for a per-term stats
    # row, computed twice because the query vector and the broadcast N
    # consumed it separately).
    tf = (
        base.select(F.col(id_col), F.explode(F.col("__w")).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # checkpoint_df: reliable-checkpoint escape hatch — the tf table is
    # corpus-sized, the worst case for executor-local blocks at scale
    tf = checkpoint_df(tf, eager=False)
    # N is a column-pruned count-star (row-group metadata scan, no
    # tokenization); per-term document frequencies fall out of tf (df(t) =
    # rows of tf with word = t, since (doc, word) is unique post-groupBy).
    nn = corpus.agg(F.count(F.lit(1)).alias("__N"))

    def _idf(df_col):
        return F.round(
            F.log(
                (F.col("__N").cast("double") + F.lit(1.0))
                / (df_col.cast("double") + F.lit(1.0))
            ),
            12,
        )

    # query terms absent from the corpus vocabulary carry no weight:
    # they have no tf rows, mirroring the oracle's inner join against idf
    dec_small = "decimal(20,12)"  # scale-preserving additions (no 38+38 -> scale 11)
    qv = (
        tf.where(F.col("word").isin(list(terms)))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__tdf"))
        .crossJoin(F.broadcast(nn))
        .select("word", _idf(F.col("__tdf")).alias("__qidf"))
    )
    # query norm as an unpartitioned window over the (<= |terms|-row) qv
    # table: the previous groupBy + crossJoin attached the same scalar by
    # re-planning the ENTIRE qv subtree (tf filter + aggregate + a third
    # count-star) a second time. Decimal addition is order-independent, so
    # the windowed sum is value-identical to the aggregated one.
    qw = qv.withColumn(
        "__qn",
        F.sqrt(
            F.sum(F.round(F.col("__qidf") * F.col("__qidf"), 12).cast(dec_small))
            .over(Window.partitionBy())
            .cast("double")
        ),
    )

    # document frequency: ONE vocabulary-sized aggregate over tf (map-side
    # partial aggregation shuffles per-partition distinct words, not the
    # corpus-sized tf table), broadcast-joined back on word. The previous
    # word-partitioned window shuffled AND sorted all of tf by word to
    # attach the same count; df(t) = tf rows with word = t is exact since
    # (doc, word) is unique post-groupBy. The vocabulary of a real corpus
    # is bounded (Heaps' law) and dfreq is 2 small columns, so the
    # broadcast is dimension-sized.
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("__df"))
    dfw = tf.join(F.broadcast(dfreq), on="word").crossJoin(F.broadcast(nn))
    idf = F.round(
        F.log(
            (F.col("__N").cast("double") + F.lit(1.0))
            / (F.col("__df").cast("double") + F.lit(1.0))
        ),
        12,
    )
    wd = F.col("tf").cast("double") * F.col("__idf")
    dec = "decimal(38,12)"
    zero = F.lit(0).cast(dec)
    joined = dfw.withColumn("__idf", idf).join(
        F.broadcast(qw), on="word", how="left"
    )
    per_doc = joined.groupBy(id_col).agg(
        F.sqrt(F.sum(F.round(wd * wd, 12).cast(dec)).cast("double")).alias("__dn"),
        F.sum(
            F.when(
                F.col("__qidf").isNotNull(),
                F.round(wd * F.col("__qidf"), 12).cast(dec),
            ).otherwise(zero)
        )
        .cast("double")
        .alias("__num"),
        F.first("__qn", ignorenulls=True).alias("__qn"),
    )
    den = F.col("__dn") * F.col("__qn")
    scored = per_doc.select(
        id_col,
        F.round(
            F.when(den > 0, F.coalesce(F.col("__num"), F.lit(0.0)) / den)
            .otherwise(F.lit(0.0)),
            round_to,
        ).alias("cosine_tfidf"),
    )
    top = scored.orderBy(F.col("cosine_tfidf").desc(), F.col(id_col)).limit(k)
    rw = Window.orderBy(F.col("cosine_tfidf").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(rw).cast("int"))


# ---------------------------------------------------------------------------
# repetition signals (Gopher §A1.1 family)
# ---------------------------------------------------------------------------

def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document repetition signals used by Gopher/RedPajama/Dolma
    quality filtering, all as exact integer ppm:

    - ``dup_line_ppm``: (n_lines - n_distinct_lines) / n_lines — the
      fraction of line occurrences that are repeats;
    - ``dup_line_char_ppm``: characters in ALL occurrences of lines that
      appear more than once, over total line characters;
    - ``top_word_ppm``: occurrences of the single most frequent word over
      total words;
    - ``top_bigram_ppm``: same for word 2-grams.

    Line stats are per-row native expressions (docs hold few lines — the
    O(distinct·lines) nested scan is a tiny constant per row and never
    shuffles). Word/2-gram stats go through explode + groupBy — at 100 TB
    a per-row frequency map would blow the row budget, while the exploded
    (id, token) aggregation is a classic map-side-combined count whose
    skew AQE handles; the three signal groups re-join on the corpus key.
    """
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != F.lit(""))
    dist = F.array_distinct(lines)
    n_lines = F.size(lines).cast("long")
    n_dist = F.size(dist).cast("long")
    total_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l).cast("long")
    )
    cnt = lambda d: F.size(F.filter(lines, lambda x: x == d)).cast("long")  # noqa: E731
    dup_chars = F.aggregate(
        dist,
        F.lit(0).cast("long"),
        lambda a, d: a
        + F.when(cnt(d) > 1, cnt(d) * F.length(d).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )

    def ppm(num, den):
        return F.when(den > 0, F.floor(num * F.lit(1000000) / den).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    line_stats = df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        ppm(n_lines - n_dist, n_lines).alias("dup_line_ppm"),
        ppm(dup_chars, total_chars).alias("dup_line_char_ppm"),
    )

    def top_token_ppm(tokens, out_name):
        tok = df.select(F.col(id_col), F.explode(tokens).alias("__t"))
        counts = tok.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__c"))
        return counts.groupBy(id_col).agg(
            ppm(F.max("__c"), F.sum("__c")).alias(out_name)
        )

    words = F.filter(words_of(F.col(text_col)), lambda x: x != F.lit(""))
    top_w = top_token_ppm(words, "top_word_ppm")
    top_b = top_token_ppm(word_ngrams(F.col(text_col), 2), "top_bigram_ppm")
    return (
        line_stats.join(top_w, on=id_col, how="left")
        .join(top_b, on=id_col, how="left")
        .select(
            id_col,
            "n_lines",
            "dup_line_ppm",
            "dup_line_char_ppm",
            F.coalesce("top_word_ppm", F.lit(0)).cast("long").alias("top_word_ppm"),
            F.coalesce("top_bigram_ppm", F.lit(0)).cast("long").alias("top_bigram_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style line cleaning
# ---------------------------------------------------------------------------

def c4_clean_lines(
    text,
    min_words: int = 3,
    blocklist: tuple[str, ...] = ("javascript", "cookie policy"),
) -> Column:
    """C4's line-level cleaning (Raffel et al. 2020 §2.2) as one native
    expression: keep only lines that end in terminal punctuation
    (``. ! ? "``), have at least ``min_words`` words, and contain no
    blocklisted phrase; return a struct ``(cleaned, n_lines, n_kept)``.

    Runs as a codegen'd higher-order ``filter`` over the line array — no
    Python, no shuffle; applies per-row wherever the doc lives.
    """
    lines = F.split(text, "\n")
    keep = F.filter(
        lines,
        lambda ln: (
            (
                ln.endswith(".")
                | ln.endswith("!")
                | ln.endswith("?")
                | ln.endswith('"')
            )
            & (F.size(F.filter(F.split(ln, " "), lambda x: x != F.lit(""))) >= min_words)
            & ~sum(
                [F.lower(ln).contains(p).cast("int") for p in blocklist],
                F.lit(0),
            ).cast("boolean")
        ),
    )
    return F.struct(
        F.array_join(keep, "\n").alias("cleaned"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(keep).cast("long").alias("n_kept"),
    )
