"""Text-analysis operators for training-data pipelines (BASELINE.json
north-star: language-ID, quality scoring, token counting, fingerprinting).

Everything here is a **native Column expression** — no Python UDFs — so these
run inside WholeStageCodegen and scale linearly with no Python boundary at
100 TB. Each helper returns a Column usable in select/filter/groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..checkpoint import checkpoint_df


def token_count(text) -> Column:
    """Whitespace-token count (empty tokens dropped)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.filter(F.split(t, r"\s+"), lambda x: x != F.lit("")))


# BPE-ish pre-tokenizer pattern (GPT-2 style, simplified to avoid lookaheads
# so it behaves identically in Java regex (Spark) and RE2 (DuckDB oracles)):
# contractions | letter runs (w/ leading space) | digit runs | symbol runs
BPE_PATTERN = r"'[a-z]{1,2}| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


def bpe_token_count(text) -> Column:
    """BPE-style pre-token count (the unit a GPT-2-like tokenizer would
    split further into subwords); whitespace runs excluded."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.regexp_extract_all(t, F.lit(BPE_PATTERN), 0)
    return F.size(F.filter(toks, lambda x: F.trim(x) != F.lit("")))


def char_ngrams(text, n: int = 8, max_chars: int = 128) -> Column:
    """Array of character n-grams over the first max_chars chars (native)."""
    t = F.col(text) if isinstance(text, str) else text
    head = F.substring(t, 1, max_chars)
    ln = F.length(head)
    return F.when(ln < n, F.array(head)).otherwise(
        F.transform(
            F.sequence(F.lit(1), ln - (n - 1)),
            lambda i: head.substr(i, F.lit(n)),
        )
    )


def fingerprint(text, n: int = 8, max_chars: int = 64) -> Column:
    """Deterministic document fingerprint: min md5 over char n-grams
    (a 1-permutation MinHash — stable under whitespace-preserving edits
    beyond the sampled window)."""
    grams = char_ngrams(text, n=n, max_chars=max_chars)
    return F.array_min(F.transform(grams, lambda g: F.md5(g)))


def alpha_ratio(text) -> Column:
    """Fraction of [A-Za-z] characters (0 for empty text)."""
    t = F.col(text) if isinstance(text, str) else text
    ln = F.length(t)
    letters = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    return F.when(ln > 0, letters.cast("double") / ln.cast("double")).otherwise(F.lit(0.0))


def digit_ratio(text) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    ln = F.length(t)
    digits = F.length(F.regexp_replace(t, "[^0-9]", ""))
    return F.when(ln > 0, digits.cast("double") / ln.cast("double")).otherwise(F.lit(0.0))


def mean_word_length(text) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != F.lit(""))
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text) -> Column:
    """Composite [0,1] quality heuristic: favors alphabetic prose with
    moderate word lengths, penalizes digit/symbol soup. Deterministic
    arithmetic only (safe for cross-engine oracles when rounded)."""
    a = alpha_ratio(text)
    d = digit_ratio(text)
    mwl = mean_word_length(text)
    mwl_score = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    raw = a * F.lit(0.6) + (F.lit(1.0) - d) * F.lit(0.2) + mwl_score * F.lit(0.2)
    return F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0))


# language-ID: tiny stopword lists per language, counted as substring hits.
# The heuristic is intentionally simple enough to be replicated in ANSI SQL
# (oracle-checkable) while behaving like a real n-gram/stopword classifier.
LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " und ", " die ", " ist ", " das "],
    "fr": [" le ", " la ", " et ", " les ", " est "],
    "es": [" el ", " que ", " los ", " una ", " es "],
}


def _marker_hits(text, markers) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    total = F.lit(0)
    for m in markers:
        # occurrence count via length difference (substring hits)
        total = total + (
            (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit(""))))
            / F.lit(len(m))
        ).cast("int")
    return total


def lang_scores(text) -> dict:
    return {lang: _marker_hits(text, ms) for lang, ms in LANG_MARKERS.items()}


def lang_id(text) -> Column:
    """Predicted language code ('und' when no marker hits). Ties break by
    fixed priority en > de > fr > es (deterministic)."""
    scores = lang_scores(text)
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in reversed(list(LANG_MARKERS)):  # later wins ties -> en last = top priority
        s = scores[lang]
        cond = s >= F.greatest(best_score, F.lit(1))
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(s > best_score, s).otherwise(best_score)
    return best


GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "be", "that")


def gopher_rules(
    text,
    min_words: int = 25,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.9,
    min_stopword_hits: int = 2,
) -> Column:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1 family),
    as one native struct column: word-count window, mean word length
    window, alphabetic-word fraction, and stopword presence, plus the
    conjunction ``keep``. All comparisons are on exact int/double
    arithmetic so the rule set is reproducible in plain SQL."""
    t = F.col(text) if isinstance(text, str) else text
    words = F.filter(F.split(t, r" +"), lambda w: w != F.lit(""))
    n = F.size(words)
    nd = n.cast("double")
    total_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w).cast("long")
    )
    mean_len = F.when(n > 0, total_len.cast("double") / nd).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n > 0,
        F.size(F.filter(words, lambda w: w.rlike("^[A-Za-z]+$"))).cast("double") / nd,
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.filter(words, lambda w: F.lower(w).isin(*GOPHER_STOPWORDS))
    )
    wc_ok = (n >= min_words) & (n <= max_words)
    wl_ok = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    alpha_ok = alpha_frac >= min_alpha_frac
    stop_ok = stop_hits >= min_stopword_hits
    return F.struct(
        n.cast("long").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.cast("long").alias("stopword_hits"),
        wc_ok.alias("wc_ok"),
        wl_ok.alias("wl_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        (wc_ok & wl_ok & alpha_ok & stop_ok).alias("keep"),
    )


def bpe_train_merges(
    df,
    text_col: str = "text",
    n_merges: int = 8,
    max_doc_chars: int = 120,
    max_word_chars: int = 16,
):
    """Train byte-pair-encoding merges on a corpus (Sennrich, Haddow,
    Birch: "Neural Machine Translation of Rare Words with Subword Units",
    ACL 2016 — the standard BPE trainer), as pure DataFrame ops.

    Each round: count adjacent token pairs over the distinct-word table
    weighted by word frequency (groupBy — map-side combinable), pick the
    most frequent pair (count desc, then lexicographic — deterministic),
    and apply the merge greedily left-to-right to every word. The token
    sequence is carried as a DOUBLE-SPACE-delimited string (' a  b  c '
    with doubled boundaries) so one plain non-regex `replace(s,
    ' a  b ', ' ab ')` IS the greedy merge — both the overlap rule
    ('aaa' merges once) and adjacent-pair chains come out right because
    string replace scans the source left-to-right without rescanning its
    own output. The identical encoding is restatable in ANSI SQL, which
    is how the oracle checks training bit-exactly.

    Only the n_merges x 3 merge table ever reaches the driver; the word
    table stays distributed (at 100 TB: words is the distinct-token
    aggregate, millions of rows, shuffled once per round on the pair
    key). Returns a DataFrame (step, merge_left, merge_right, n)."""
    spark = df.sparkSession
    words = (
        df.select(
            F.explode(
                F.split(F.substring(F.col(text_col), 1, max_doc_chars), " +")
            ).alias("w")
        )
        .where(F.length("w") > 0)
        .select(F.substring("w", 1, max_word_chars).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # carry the token ARRAY alongside the delimited string: the pair stage
    # previously re-split s2 inside every lambda element access (O(len^2)
    # char work per word per round); splitting once into `t` at the
    # materialization point makes each pair O(1) array lookups
    words = checkpoint_df(
        words.select(
            "cnt",
            F.expr(
                "concat('  ', array_join(transform(sequence(1, length(w)),"
                " i -> substring(w, i, 1)), '  '), '  ')"
            ).alias("s2"),
        ),
        eager=True,
    )

    merges = []
    for step in range(n_merges):
        # split once per row per round into an array; the pair lambdas then
        # do O(1) element_at lookups instead of re-splitting s2 per access
        staged = words.select(
            "cnt", F.split(F.trim("s2"), "  ").alias("t")
        )
        # sequence(1, 0) DESCENDS in Spark, so single-token words must be
        # excluded before the pair explode rather than relying on an
        # empty sequence
        pairs = staged.where("size(t) >= 2").select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS a,"
                    "             element_at(t, i + 1) AS b))"
                )
            ).alias("p"),
        ).select("cnt", "p.a", "p.b")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((step, a, b, n))
        pat = F.lit(f" {a}  {b} ")
        rep = F.lit(f" {a}{b} ")
        # merge application stays LAZY: a chain of <= n_merges cheap
        # non-regex replaces over the checkpointed base beats paying a
        # full materialization job barrier every round
        words = words.select(
            "cnt", F.replace(F.col("s2"), pat, rep).alias("s2")
        )

    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("step", IntegerType(), False),
            StructField("merge_left", StringType(), False),
            StructField("merge_right", StringType(), False),
            StructField("n", LongType(), False),
        ]
    )
    return spark.createDataFrame(merges, schema)


def bpe_tokenize_counts(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 8,
    max_doc_chars: int = 120,
    max_word_chars: int = 16,
):
    """Train BPE merges on the corpus, then tokenize it with them: per-doc
    learned-subword token counts.

    The scale-correct shape: the merge chain is applied ONCE to the
    distinct-word table (8 chained literal string-replaces in a single
    projection — the merges are already collected, so no iteration), and
    documents join their words to that tokenized vocabulary — the
    standard vocab-join tokenization; document text is never rewritten.
    Returns (id_col, n_bpe) rows."""
    merges = bpe_train_merges(
        df, text_col, n_merges=n_merges,
        max_doc_chars=max_doc_chars, max_word_chars=max_word_chars,
    ).collect()

    doc_words = (
        df.select(
            F.col(id_col),
            F.explode(
                F.split(F.substring(F.col(text_col), 1, max_doc_chars), " +")
            ).alias("w"),
        )
        .where(F.length("w") > 0)
        .select(id_col, F.substring("w", 1, max_word_chars).alias("w"))
    )
    # doc_words feeds BOTH the distinct-vocab side and the tokenize join:
    # checkpoint so the document explode runs once, not twice
    doc_words = checkpoint_df(doc_words, eager=False)
    vocab = doc_words.select("w").distinct().select(
        "w",
        F.expr(
            "concat('  ', array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), '  '), '  ')"
        ).alias("s2"),
    )
    s2 = F.col("s2")
    for r in merges:
        a, b = r["merge_left"], r["merge_right"]
        s2 = F.replace(s2, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    vocab = vocab.select(
        "w", F.size(F.split(F.trim(s2), "  ")).alias("n_toks")
    )
    return (
        doc_words.join(vocab, on="w")
        .groupBy(id_col)
        .agg(F.sum("n_toks").alias("n_bpe"))
    )


def bigram_lm_scores(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    max_doc_chars: int = 200,
):
    """Language-model quality scores (the CCNet/Wenzek-et-al perplexity
    filter shape): train an add-alpha-smoothed bigram word LM on the
    corpus itself and score every document by mean log-probability of its
    adjacent word pairs.

    All counts are corpus-level groupBys (map-side combinable); scoring
    joins each document's pairs to the bigram and context-count tables on
    their word keys — equi-joins sized by the n-gram vocabulary, never by
    the cross of documents. The per-doc mean accumulates round(ln(p), 12)
    as decimals, so partition/summation order cannot change the rounded
    result. Returns (id_col, n_pairs, avg_logprob)."""
    words = df.select(
        F.col(id_col),
        F.split(F.substring(F.col(text_col), 1, max_doc_chars), " +").alias("ws"),
    ).select(
        id_col,
        F.expr("filter(ws, w -> length(w) > 0)").alias("ws"),
    )
    pairs = words.where(F.size("ws") >= 2).select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select(id_col, "p.w1", "p.w2")

    uni = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab_size = uni.count()
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))

    lp = F.log(
        (F.col("c2").cast("double") + F.lit(float(alpha)))
        / (F.col("c1").cast("double") + F.lit(float(alpha) * vocab_size))
    )
    scored = (
        pairs.join(bi, on=["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), on="w1")
        .select(
            id_col,
            F.round(lp, 12).cast("decimal(38,12)").alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            (F.sum("lp").cast("double") / F.count(F.lit(1))), 6
        ).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

def hash_embed(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 32,
    salt: str = "he",
):
    """Feature-hashed document vectors (Weinberger et al. 2009, the
    hashing trick): each token maps to bucket md5(salt||w) % dim with a
    deterministic +-1 sign from the next hash nibble; the vector is the
    per-bucket signed count — INTEGER arithmetic end to end, so the
    embedding (and any dot product over it) is bit-exact in any engine.
    The model-free text->vector bridge into the ANN/quantization stack:
    no training, no floats, fixed dim.

    Shape: one explode + one (id, bucket) groupBy + one id groupBy to
    assemble the array. Output: (id_col, hvec array<long>).
    """
    from pyspark.sql import functions as F

    w = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), "\\s+"), lambda x: x != "")
        ).alias("__w"),
    )
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col("__w")))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % dim).alias("__b")
    # sign from the 9th hex nibble: >= 8 -> -1 (an unbiased bit)
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("int") >= 8, F.lit(-1)
    ).otherwise(F.lit(1))
    sums = (
        w.select(F.col(id_col), bucket, sign.alias("__s"))
        .groupBy(id_col, "__b")
        .agg(F.sum("__s").alias("__v"))
    )
    assembled = sums.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("__b", "__v"))).alias("__m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(int(dim) - 1)),
        lambda i: F.coalesce(F.element_at(F.col("__m"), i.cast("long")), F.lit(0).cast("long")),
    )
    return assembled.select(F.col(id_col), vec.alias("hvec"))


def canonical_url(url) -> Column:
    """URL canonicalization for URL-keyed dedup / frequency capping — the
    normalization crawl pipelines apply before grouping by page identity:

    1. drop the ``#fragment``
    2. drop the scheme (http/https treated as the same page)
    3. drop a leading ``www.``
    4. lowercase the host (the path stays case-sensitive per RFC 3986)
    5. remove tracking query params (``utm_*``, ``fbclid``, ``gclid``,
       ``ref``), then tidy dangling ``?``/``&`` separators
    6. drop one trailing ``/``

    Native regexp expressions restricted to the Java-regex/RE2 common
    subset (no lookaround), so DuckDB oracles replay them with the 'g'
    flag and match byte-for-byte.
    """
    t = F.col(url) if isinstance(url, str) else url
    t = F.regexp_replace(t, r"#.*$", "")
    t = F.regexp_replace(t, r"^[Hh][Tt][Tt][Pp][Ss]?://", "")
    t = F.regexp_replace(t, r"^[Ww][Ww][Ww]\.", "")
    host = F.regexp_extract(t, r"^([^/?]*)", 1)
    rest = F.substring(t, F.length(host) + F.lit(1), F.lit(1 << 20))
    t = F.concat(F.lower(host), rest)
    # isolate the query string before touching params: a literal '&' in
    # the PATH must never be rewritten (path and query normalize
    # independently, then rejoin only if params survive)
    path = F.regexp_replace(t, r"\?.*$", "")
    path = F.regexp_replace(path, r"/$", "")
    q = F.regexp_extract(t, r"\?(.*)$", 1)
    # '&'-prefix makes every param uniformly '&'-delimited for one pass
    q = F.regexp_replace(
        F.concat(F.lit("&"), q),
        r"&(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=[^&#]*",
        "",
    )
    q = F.regexp_replace(q, r"^&+", "")
    q = F.regexp_replace(q, r"&+$", "")
    return F.when(q == F.lit(""), path).otherwise(
        F.concat(path, F.lit("?"), q)
    )
