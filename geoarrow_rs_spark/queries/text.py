"""text query-catalog entries (split from queries.py, round 6)."""

from ._shared import *  # noqa: F401,F403
from ._shared import (  # noqa: F401
    _BM25_K1P1,
    _BM25_TERMS,
    _GRAM8_SQL,
    _NG3,
    _NS_GAP,
    _NS_HOUR,
    _banded_block,
    _hits_sql,
    _luhn_sql,
    _minhash_pairs_cte,
    _money_sum,
    _money_sum_sql,
    _spread,
    _t,
)



def text_ngram_jaccard_vs_ref(spark, sf_dir):
    """Exact char-4-gram Jaccard of every document vs a reference string."""
    from ..datapipe.dedup import ngram_jaccard

    ref = "the quick brown fox jumps over the lazy dog"
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(ngram_jaccard(F.col("text"), F.lit(ref), n=4, max_chars=128), 6).alias(
            "jaccard_ref"
        ),
    )


_REF_STR = "the quick brown fox jumps over the lazy dog"
ORACLE_NGRAM_JACCARD = f"""
WITH g AS (
  SELECT doc_id,
         list_distinct(CASE WHEN length(substr(text, 1, 128)) < 4 THEN [substr(text, 1, 128)]
              ELSE list_transform(range(1, length(substr(text, 1, 128)) - 2),
                                  i -> substr(substr(text, 1, 128), CAST(i AS INT), 4)) END) AS ga,
         list_distinct(list_transform(range(1, length('{_REF_STR}') - 2),
                                      i -> substr('{_REF_STR}', CAST(i AS INT), 4))) AS gb
  FROM documents
)
SELECT doc_id,
       round(CASE WHEN len(list_distinct(list_concat(ga, gb))) > 0
             THEN CAST(len(list_intersect(ga, gb)) AS DOUBLE) / CAST(len(list_distinct(list_concat(ga, gb))) AS DOUBLE)
             ELSE 0.0 END, 6) AS jaccard_ref
FROM g
"""


def text_tokens(spark, sf_dir):
    """Whitespace token counts per document (pure codegen)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


ORACLE_TEXT_TOKENS = """
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents
"""


def text_quality(spark, sf_dir):
    """Alpha/digit/word-length ratios + composite quality score, rounded 6 dp."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(text.alpha_ratio("text"), 6).alias("alpha_ratio"),
        F.round(text.digit_ratio("text"), 6).alias("digit_ratio"),
        F.round(text.mean_word_length("text"), 6).alias("mean_word_len"),
        F.round(text.quality_score("text"), 6).alias("quality"),
    )


ORACLE_TEXT_QUALITY = """
SELECT doc_id,
       round(CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END, 6) AS alpha_ratio,
       round(CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END, 6) AS digit_ratio,
       round(CASE WHEN len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) > 0
             THEN CAST(list_sum(list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), x -> length(x))) AS DOUBLE)
                  / CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS DOUBLE)
             ELSE 0.0 END, 6) AS mean_word_len,
       round(LEAST(GREATEST(
         (CASE WHEN length(text) > 0
               THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
               ELSE 0.0 END) * 0.6
         + (1.0 - (CASE WHEN length(text) > 0
               THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
               ELSE 0.0 END)) * 0.2
         + (CASE WHEN (CASE WHEN len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) > 0
               THEN CAST(list_sum(list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), x -> length(x))) AS DOUBLE)
                    / CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS DOUBLE)
               ELSE 0.0 END) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
         , 0.0), 1.0), 6) AS quality
FROM documents
"""


def text_langid(spark, sf_dir):
    """Marker-based language identification over the five corpus languages."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.lang_id("text").alias("lang_pred"))


ORACLE_TEXT_LANGID = f"""
SELECT doc_id,
       CASE WHEN s_en >= GREATEST(1, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de >= GREATEST(1, s_fr, s_es) THEN 'de'
            WHEN s_fr >= GREATEST(1, s_es) THEN 'fr'
            WHEN s_es >= 1 THEN 'es'
            ELSE 'und' END AS lang_pred
FROM (
  SELECT doc_id,
         {_hits_sql(text.LANG_MARKERS['en'])} AS s_en,
         {_hits_sql(text.LANG_MARKERS['de'])} AS s_de,
         {_hits_sql(text.LANG_MARKERS['fr'])} AS s_fr,
         {_hits_sql(text.LANG_MARKERS['es'])} AS s_es
  FROM documents
)
"""


def text_bpe_tokens(spark, sf_dir):
    """BPE-ish subword count approximation (regex segmentation)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", text.bpe_token_count("text").cast("long").alias("n_bpe_tokens")
    )


_BPE_SQL = text.BPE_PATTERN.replace("'", "''")
ORACLE_TEXT_BPE = f"""
SELECT doc_id,
       CAST(len(list_filter(regexp_extract_all(text, '{_BPE_SQL}'), x -> trim(x) <> '')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def text_fuzzy_pairs(spark, sf_dir):
    """Exact edit-distance fuzzy self-join (dedup.editdist_pairs,
    PassJoin segment blocking — never all-pairs): all document pairs
    whose 12-char text prefix is within Levenshtein distance 2. The
    oracle is the brute-force cross join — an independent algorithm, so
    agreement checks both the blocking completeness and the refine."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select("doc_id", F.expr("substring(text, 1, 12)").alias("k"))
    return dedup.editdist_pairs(keyed, "doc_id", "k", max_dist=2)


ORACLE_TEXT_FUZZY = """
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(levenshtein(substr(a.text, 1, 12), substr(b.text, 1, 12)) AS BIGINT) AS dist
FROM documents a JOIN documents b ON a.doc_id < b.doc_id
WHERE levenshtein(substr(a.text, 1, 12), substr(b.text, 1, 12)) <= 2
"""


def text_bpe_train(spark, sf_dir):
    """LEARNED byte-pair-encoding merges (text.bpe_train_merges, Sennrich
    et al. 2016) over the documents corpus: 8 rounds of most-frequent
    adjacent-pair selection (count desc, lexicographic tie-break) and
    greedy merge application, all as DataFrame ops on the distinct-word
    table. The oracle replays training in SQL — one CTE per round, the
    merge applied via the same double-space string-replace encoding —
    so the learned merge table must match bit-exactly."""
    d = _t(spark, sf_dir, "documents")
    return text.bpe_train_merges(d, "text", n_merges=8)


def _bpe_ctes(n_merges=8, max_doc=120, max_word=16) -> list:
    """Shared training-replay CTE chain (the word column `w` rides along
    so the tokenize oracle can join back to documents)."""
    ctes = [
        f"""w0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT substr(w, 1, {max_word}) AS w FROM (
      SELECT unnest(string_split_regex(substr(text, 1, {max_doc}), ' +')) AS w
      FROM documents
    ) WHERE length(w) > 0
  ) GROUP BY w
)""",
        """s0 AS MATERIALIZED (
  SELECT w, cnt,
         '  ' || array_to_string(list_transform(range(1, length(w) + 1),
                                 i -> substr(w, CAST(i AS INT), 1)), '  ') || '  ' AS s2
  FROM w0
)""",
    ]
    for i in range(n_merges):
        ctes += [
            f"""p{i} AS MATERIALIZED (
  SELECT p.a AS a, p.b AS b, CAST(SUM(cnt) AS BIGINT) AS n FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(t)),
                  j -> {{'a': t[CAST(j AS INT)], 'b': t[CAST(j AS INT) + 1]}})) AS p
    FROM (SELECT cnt, string_split(trim(s2), '  ') AS t FROM s{i})
  ) GROUP BY p.a, p.b
)""",
            f"b{i} AS MATERIALIZED (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1)",
            f"""s{i + 1} AS MATERIALIZED (
  SELECT w, cnt, replace(s2,
      ' ' || (SELECT a FROM b{i}) || '  ' || (SELECT b FROM b{i}) || ' ',
      ' ' || (SELECT a FROM b{i}) || (SELECT b FROM b{i}) || ' ') AS s2
  FROM s{i}
)""",
        ]
    return ctes


def _bpe_train_oracle_sql(n_merges=8) -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS step, a AS merge_left, b AS merge_right, n FROM b{i}"
        for i in range(n_merges)
    )
    return "WITH " + ",\n".join(_bpe_ctes(n_merges)) + "\n" + unions


ORACLE_TEXT_BPE_TRAIN = _bpe_train_oracle_sql()


def text_bpe_tokenize(spark, sf_dir):
    """Train-then-apply: per-document token counts under the LEARNED BPE
    vocabulary (text.bpe_tokenize_counts). The merge chain applies once
    to the distinct-word table (8 literal replaces in one projection);
    documents join their words to the tokenized vocab — text is never
    rewritten. Oracle = the training-replay CTEs + the same vocab join."""
    d = _t(spark, sf_dir, "documents")
    return text.bpe_tokenize_counts(d, "text", "doc_id", n_merges=8)


def _bpe_tokenize_oracle_sql(n_merges=8, max_doc=120, max_word=16) -> str:
    ctes = _bpe_ctes(n_merges) + [
        f"""vocab AS MATERIALIZED (
  SELECT w, CAST(len(string_split(trim(s2), '  ')) AS BIGINT) AS n_toks
  FROM s{n_merges}
)""",
        f"""dw AS (
  SELECT doc_id, substr(w, 1, {max_word}) AS w FROM (
    SELECT doc_id, unnest(string_split_regex(substr(text, 1, {max_doc}), ' +')) AS w
    FROM documents
  ) WHERE length(w) > 0
)""",
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT doc_id, CAST(SUM(n_toks) AS BIGINT) AS n_bpe"
          " FROM dw JOIN vocab USING (w) GROUP BY doc_id"
    )


ORACLE_TEXT_BPE_TOKENIZE = _bpe_tokenize_oracle_sql()


def text_lm_score(spark, sf_dir):
    """LM quality filter (text.bigram_lm_scores; CCNet-style perplexity
    scoring): add-0.5-smoothed bigram word LM trained on the corpus
    itself, every document scored by mean log-probability of its word
    pairs. Counts are corpus groupBys; scoring is equi-joins on word
    keys; the mean accumulates round(ln p, 12) decimals so summation
    order is irrelevant. Oracle restates the counts and the smoothing
    formula directly."""
    d = _t(spark, sf_dir, "documents")
    return text.bigram_lm_scores(d, "text", "doc_id", alpha=0.5, max_doc_chars=200)


ORACLE_TEXT_LM_SCORE = """
WITH ws AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split_regex(substr(text, 1, 200), ' +'),
                             w -> length(w) > 0) AS ws
  FROM documents
),
pairs AS MATERIALIZED (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ws)),
                  i -> {'w1': ws[CAST(i AS INT)], 'w2': ws[CAST(i AS INT) + 1]})) AS p
    FROM ws WHERE len(ws) >= 2
  )
),
uni AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY w
),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vs FROM uni),
bi AS MATERIALIZED (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM pairs GROUP BY w1, w2
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(CAST(round(ln((CAST(c2 AS DOUBLE) + 0.5)
                 / (CAST(c1 AS DOUBLE) + 0.5 * (SELECT vs FROM v))), 12)
             AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
FROM pairs
JOIN bi USING (w1, w2)
JOIN uni ON uni.w = pairs.w1
GROUP BY doc_id
"""


def text_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint from distinct shingles."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.fingerprint("text", n=8, max_chars=64).alias("fp"))


ORACLE_TEXT_FINGERPRINT = """
SELECT doc_id,
       CASE WHEN length(substr(text, 1, 64)) < 8 THEN md5(substr(text, 1, 64))
            ELSE list_min(list_transform(range(1, length(substr(text, 1, 64)) - 6),
                                         i -> md5(substr(substr(text, 1, 64), CAST(i AS INT), 8))))
       END AS fp
FROM documents
"""


def text_containment_pairs(spark, sf_dir):
    """One-sided containment near-dup detection: for banded-minhash
    candidate pairs, the containment of each side's 8-gram SET in the
    other (|A∩B|/|A|) — catches sub-document duplication (quotes,
    boilerplate wrappers) that symmetric Jaccard under-scores. Candidates
    from the same LSH band join as the pair family; refine is native
    array arithmetic."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", num_perm=16, bands=4, shingle=8, max_chars=128
    ).select("a_id", "b_id")
    g = F.array_distinct(text.char_ngrams(F.col("text"), n=8, max_chars=128))
    docs = d.select(F.col("doc_id"), g.alias("__g"))
    j = (
        pairs.join(docs.select(F.col("doc_id").alias("a_id"), F.col("__g").alias("__ga")), on="a_id")
        .join(docs.select(F.col("doc_id").alias("b_id"), F.col("__g").alias("__gb")), on="b_id")
    )
    inter = F.size(F.array_intersect(F.col("__ga"), F.col("__gb"))).cast("double")
    ca = F.when(F.size("__ga") > 0, inter / F.size("__ga").cast("double")).otherwise(F.lit(0.0))
    cb = F.when(F.size("__gb") > 0, inter / F.size("__gb").cast("double")).otherwise(F.lit(0.0))
    return j.select(
        "a_id", "b_id",
        F.round(ca, 6).alias("contain_a_in_b"),
        F.round(cb, 6).alias("contain_b_in_a"),
    )

ORACLE_TEXT_CONTAINMENT = f"""
WITH {_minhash_pairs_cte()},
gs AS (SELECT doc_id, {_GRAM8_SQL.format(t='text')} AS g FROM documents)
SELECT p.a_id, p.b_id,
       round(CASE WHEN len(a.g) > 0
             THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(a.g) AS DOUBLE)
             ELSE 0.0 END, 6) AS contain_a_in_b,
       round(CASE WHEN len(b.g) > 0
             THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(b.g) AS DOUBLE)
             ELSE 0.0 END, 6) AS contain_b_in_a
FROM pairs p JOIN gs a ON p.a_id = a.doc_id JOIN gs b ON p.b_id = b.doc_id
"""


def _minhash_oracle_sql():
    from ..datapipe.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    perms = ", ".join(
        f"list_min(list_transform(h, x -> (x * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(16)
    )
    return f"""
WITH grams AS (
  SELECT doc_id,
         CASE WHEN length(substr(text, 1, 128)) < 8 THEN [substr(text, 1, 128)]
              ELSE list_transform(range(1, length(substr(text, 1, 128)) - 6),
                                  i -> substr(substr(text, 1, 128), CAST(i AS INT), 8))
         END AS g
  FROM documents
), gram_hashes AS (
  SELECT doc_id,
         list_transform(g, x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % {MINHASH_P}) AS h
  FROM grams
), sigs AS (
  SELECT doc_id, [{perms}] AS sig FROM gram_hashes
), banded AS (
  SELECT doc_id,
         unnest(list_transform(range(0, 4),
                b -> CAST(b AS VARCHAR) || '|' || array_to_string(sig[b*4+1:b*4+4], ','))) AS band
  FROM sigs
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM banded a JOIN banded b USING (band)
WHERE a.doc_id < b.doc_id
"""


ORACLE_MINHASH_PAIRS = _minhash_oracle_sql()


def text_chunks(spark, sf_dir):
    """RAG chunking: 32-token windows every 24 tokens (8-token overlap),
    one output row per chunk with its exact token count and content hash.
    Pure per-row codegen (split + sequence + explode + slice) — no
    shuffle; the chunk table is the input to embedding/indexing stages."""
    d = _t(spark, sf_dir, "documents")
    from ..datapipe import corpus

    out = corpus.chunk_documents(d, chunk_tokens=32, stride=24)
    return out.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


ORACLE_TEXT_CHUNKS = """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
), ex AS (
  SELECT doc_id, tk, unnest(range(0, greatest(len(tk) - 1, 0) + 1, 24)) AS s
  FROM toks
)
SELECT doc_id,
       CAST(s // 24 AS INT) AS chunk_id,
       CAST(len(tk[(s + 1):(s + 32)]) AS INT) AS n_chunk_tokens,
       md5(array_to_string(tk[(s + 1):(s + 32)], ' ')) AS chunk_md5
FROM ex
"""


TFIDF_QUERY_TERMS = ["join", "spark", "window"]


def text_tfidf_topk(spark, sf_dir):
    """tf-idf sparse cosine retrieval (corpus.tfidf_topk): top-20 docs for
    a 3-term query. idf rounded to 12 dp, decimal-accumulated numerator
    and norms, distributed top-k — the oracle rebuilds the same sparse
    weighting in SQL."""
    from ..datapipe import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.tfidf_topk(d, TFIDF_QUERY_TERMS, k=20)


ORACLE_TEXT_TFIDF = f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
nn AS (SELECT COUNT(*) AS n FROM documents),
idf AS (
  SELECT word, round(ln((n + 1.0) / (df + 1.0)), 12) AS idf
  FROM dfreq CROSS JOIN nn
),
qt AS (SELECT unnest({TFIDF_QUERY_TERMS!r}) AS word),
qw AS (SELECT q.word, i.idf FROM qt q JOIN idf i ON q.word = i.word),
qnorm AS (
  SELECT sqrt(CAST(SUM(CAST(round(idf * idf, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS qn
  FROM qw
),
dnorm AS (
  SELECT t.doc_id,
         sqrt(CAST(SUM(CAST(round((t.tf * i.idf) * (t.tf * i.idf), 12) AS DECIMAL(38,12))) AS DOUBLE)) AS dn
  FROM tf t JOIN idf i ON t.word = i.word GROUP BY t.doc_id
),
num AS (
  SELECT t.doc_id,
         CAST(SUM(CAST(round((t.tf * i.idf) * q.idf, 12) AS DECIMAL(38,12))) AS DOUBLE) AS num
  FROM tf t JOIN qw q ON t.word = q.word JOIN idf i ON t.word = i.word
  GROUP BY t.doc_id
)
SELECT doc_id, cosine_tfidf, CAST(row_number() OVER (ORDER BY cosine_tfidf DESC, doc_id) AS INT) AS rank
FROM (
  SELECT d.doc_id,
         round(CASE WHEN d.dn * q.qn > 0 THEN COALESCE(n.num, 0.0) / (d.dn * q.qn) ELSE 0.0 END, 6) AS cosine_tfidf
  FROM dnorm d LEFT JOIN num n ON d.doc_id = n.doc_id CROSS JOIN qnorm q
  ORDER BY cosine_tfidf DESC, d.doc_id LIMIT 20
)
"""


def text_vocab_stats(spark, sf_dir):
    """Corpus vocabulary profile in one row: token total, distinct types,
    hapax legomena (frequency-1 types — the Zipf tail that drives
    tokenizer and LM vocabulary decisions), and the type/token ratio."""
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        F.explode(
            F.filter(F.split(F.col("text"), "\\s+"), lambda x: x != "")
        ).alias("word")
    )
    counts = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    return counts.agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("c").cast("double"), 6
        ).alias("type_token_ratio"),
    )


def text_keywords(spark, sf_dir):
    """Per-document keyword extraction: top-3 terms by tf-idf (12-dp idf,
    6-dp scores, ties on the term) — the summarization/tagging primitive,
    sharing the tfidf machinery's single-explode + word-window shape."""
    d = _t(spark, sf_dir, "documents")
    from ..datapipe.corpus import words_of

    tf = (
        d.select("doc_id", F.explode(words_of(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nn = d.agg(F.count(F.lit(1)).alias("__N"))
    dfw = tf.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("word"))
    ).crossJoin(F.broadcast(nn))
    idf = F.round(
        F.log(
            (F.col("__N").cast("double") + F.lit(1.0))
            / (F.col("__df").cast("double") + F.lit(1.0))
        ),
        12,
    )
    scored = dfw.select(
        "doc_id", "word",
        F.round(F.col("tf").cast("double") * idf, 6).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
    )


ORACLE_TEXT_KEYWORDS = """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
nn AS (SELECT COUNT(*) AS n FROM documents),
dfw AS (
  SELECT doc_id, word, tf,
         COUNT(*) OVER (PARTITION BY word) AS df
  FROM tf
),
scored AS (
  SELECT doc_id, word,
         round(CAST(tf AS DOUBLE)
               * round(ln((nn.n + 1.0) / (df + 1.0)), 12), 6) AS score
  FROM dfw CROSS JOIN nn
)
SELECT doc_id, word, score, CAST(rn AS INT) AS rank FROM (
  SELECT doc_id, word, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rn
  FROM scored
) WHERE rn <= 3
"""


ORACLE_TEXT_VOCAB = """
WITH w AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS word
  FROM documents
),
counts AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word)
SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS type_token_ratio
FROM counts
"""


def text_gopher_rules(spark, sf_dir):
    """Gopher-style quality filter: per-rule booleans + keep decision, all
    whole-stage codegen (rule thresholds on exact int/double arithmetic)."""
    d = _t(spark, sf_dir, "documents")
    g = text.gopher_rules("text", min_words=25)
    return d.select("doc_id", g.alias("__g")).select("doc_id", "__g.*")


ORACLE_TEXT_GOPHER = """
WITH w AS (
  SELECT doc_id,
         list_filter(str_split_regex(text, ' +'), x -> x <> '') AS words
  FROM documents
),
m AS (
  SELECT doc_id,
         len(words) AS n_words,
         CASE WHEN len(words) > 0
              THEN CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
                   / CAST(len(words) AS DOUBLE)
              ELSE 0.0 END AS mean_raw,
         CASE WHEN len(words) > 0
              THEN CAST(len(list_filter(words, x -> regexp_full_match(x, '[A-Za-z]+'))) AS DOUBLE)
                   / CAST(len(words) AS DOUBLE)
              ELSE 0.0 END AS alpha_raw,
         len(list_filter(words, x -> lower(x) IN
             ('the', 'a', 'of', 'to', 'and', 'in', 'be', 'that'))) AS stopword_hits
  FROM w
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(mean_raw, 6) AS mean_word_len,
       round(alpha_raw, 6) AS alpha_frac,
       CAST(stopword_hits AS BIGINT) AS stopword_hits,
       (n_words >= 25 AND n_words <= 100000) AS wc_ok,
       (mean_raw >= 3.0 AND mean_raw <= 10.0) AS wl_ok,
       (alpha_raw >= 0.9) AS alpha_ok,
       (stopword_hits >= 2) AS stop_ok,
       ((n_words >= 25 AND n_words <= 100000) AND (mean_raw >= 3.0 AND mean_raw <= 10.0)
        AND alpha_raw >= 0.9 AND stopword_hits >= 2) AS keep
FROM m
"""


def text_heavy_hitters_cms(spark, sf_dir):
    """Heavy-hitter token counts by count-min sketch (Cormode &
    Muthukrishnan; sketch.cms_build/cms_estimate, depth 4 x width 4096)
    next to the exact counts for the top-20 tokens. The sketch exchange
    moves bounded state (<= depth*width counters) regardless of corpus or
    vocabulary size — the 100 TB substitute for an exact token groupBy.
    The md5 bucket addressing and counter minima replay exactly in SQL."""
    from ..checkpoint import checkpoint_df
    from ..datapipe import sketch
    from ..datapipe.corpus import words_of

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(words_of(F.col("text"))).alias("token"))
    sk = sketch.cms_build(toks, "token", depth=4, width=4096)
    # referenced twice below (estimate input + final join): checkpoint the
    # 20 rows so the corpus-wide exact groupBy runs once
    top = checkpoint_df(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        # distributed top-k (TakeOrderedAndProject: per-partition heads +
        # a 20-row merge), never a single-partition global window
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(20),
        eager=False,
    )
    est = sketch.cms_estimate(sk, top.select("token"), "token",
                              depth=4, width=4096)
    return top.join(est, "token").select("token", "exact_count", "cms_count")


def _cms_oracle_sql() -> str:
    def bucket(j, tok):
        return (
            f"CAST(concat('0x', substr(md5(concat('cms{j}:', {tok})), 1, 15)) "
            f"AS BIGINT) % 4096"
        )

    sk_rows = " UNION ALL ".join(
        f"SELECT {j} AS row, {bucket(j, 'token')} AS bucket FROM toks"
        for j in range(4)
    )
    est_rows = " UNION ALL ".join(
        f"SELECT token, {j} AS row, {bucket(j, 'token')} AS bucket FROM top"
        for j in range(4)
    )
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS token
  FROM documents
), sk AS (
  SELECT row, bucket, COUNT(*) AS cnt FROM ({sk_rows}) GROUP BY row, bucket
), top AS (
  SELECT token, COUNT(*) AS exact_count FROM toks GROUP BY token
  QUALIFY row_number() OVER (ORDER BY COUNT(*) DESC, token) <= 20
), est AS (
  SELECT a.token, MIN(COALESCE(s.cnt, 0)) AS cms_count
  FROM ({est_rows}) a LEFT JOIN sk s ON a.row = s.row AND a.bucket = s.bucket
  GROUP BY a.token
)
SELECT t.token, t.exact_count, e.cms_count
FROM top t JOIN est e ON t.token = e.token
"""


ORACLE_TEXT_CMS = _cms_oracle_sql()


def text_heavy_hitters_stream(spark, sf_dir):
    """Sharded Space-Saving heavy hitters (streaming.ops
    streaming_heavy_hitters — Metwally 2005; the batch degradation is the
    exact per-shard capped count, which is what a single-trigger stream
    emits): document tokens hash into 8 md5-derived shards, each capped at
    64 candidates, global top-20 by (count desc, token asc). The oracle
    replays the md5 shard assignment and the per-shard cap verbatim."""
    from ..streaming.ops import streaming_heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
        ).alias("token")
    )
    hh = streaming_heavy_hitters(toks, "token", k=20, shards=8, capacity=64)
    return (
        hh.orderBy(F.col("est_count").desc(), F.col("token").asc())
        .limit(20)
        .select("token", "est_count", "shard")
    )


ORACLE_TEXT_HH_STREAM = """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS token
  FROM documents
), sharded AS (
  SELECT token,
         CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % 8 AS shard
  FROM toks
), counts AS (
  SELECT shard, token, COUNT(*) AS est_count
  FROM sharded GROUP BY shard, token
), capped AS (
  SELECT shard, token, est_count,
         ROW_NUMBER() OVER (PARTITION BY shard
                            ORDER BY est_count DESC, token ASC) AS rn
  FROM counts
)
SELECT token, est_count, CAST(shard AS INT) AS shard
FROM capped
WHERE rn <= 64
ORDER BY est_count DESC, token ASC
LIMIT 20
"""


# Messy-URL construction shared verbatim between the Spark query and the
# DuckDB oracle (same engine-portable SQL text -> identical strings).
_URL_MESSY_EXPR = """concat(
  CASE WHEN doc_id % 4 = 0 THEN 'https://' WHEN doc_id % 4 = 1 THEN 'HTTP://'
       WHEN doc_id % 4 = 2 THEN 'http://' ELSE 'HTTPS://' END,
  CASE WHEN doc_id % 3 = 0 THEN 'www.' WHEN doc_id % 3 = 1 THEN 'WWW.' ELSE '' END,
  CASE WHEN doc_id % 2 = 0
       THEN concat('Site', CAST(doc_id % 7 AS STRING), '.Example.COM')
       ELSE concat('site', CAST(doc_id % 7 AS STRING), '.example.com') END,
  '/articles/Item-', CAST(CAST(floor(doc_id / 3.0) AS BIGINT) AS STRING),
  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&utm_medium=rss'
       WHEN doc_id % 6 = 1 THEN concat('?id=', CAST(doc_id % 9 AS STRING), '&utm_campaign=x')
       WHEN doc_id % 6 = 2 THEN concat('?utm_content=a&id=', CAST(doc_id % 9 AS STRING))
       WHEN doc_id % 6 = 3 THEN concat('?id=', CAST(doc_id % 9 AS STRING))
       WHEN doc_id % 6 = 4 THEN '?gclid=abc123'
       ELSE '' END,
  CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END)"""


def text_url_canonical(spark, sf_dir):
    """URL canonicalization + URL-keyed duplicate counting
    (datapipe.text.canonical_url): scheme/www/fragment/tracking-param
    normalization as native regexp expressions, then a count per canonical
    page identity. The messy URLs are synthesized from doc_id with case,
    scheme, trailing-slash, tracking-param, and fragment noise; the oracle
    replays the identical regexp pipeline with DuckDB's 'g' flag."""
    from ..datapipe.text import canonical_url

    d = _t(spark, sf_dir, "documents")
    staged = d.selectExpr("doc_id", f"{_URL_MESSY_EXPR} AS url")
    staged = staged.withColumn("canon", canonical_url("url"))
    w = Window.partitionBy("canon")
    return staged.select(
        "doc_id",
        "url",
        "canon",
        F.count("*").over(w).cast("long").alias("dup_cnt"),
    )


ORACLE_TEXT_URL_CANONICAL = f"""
WITH raw AS (
  SELECT doc_id, {_URL_MESSY_EXPR} AS url FROM documents
), c1 AS (
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(url, '#.*$', '', 'g'),
             '^[Hh][Tt][Tt][Pp][Ss]?://', '', 'g'),
           '^[Ww][Ww][Ww]\\.', '', 'g') AS t
  FROM raw
), c2 AS (
  SELECT doc_id, url,
         concat(lower(regexp_extract(t, '^([^/?]*)', 1)),
                substr(t, length(regexp_extract(t, '^([^/?]*)', 1)) + 1, 1048576)) AS t
  FROM c1
), c3 AS (
  SELECT doc_id, url,
         regexp_replace(regexp_replace(t, '\\?.*$', '', 'g'), '/$', '') AS pth,
         regexp_replace(
           regexp_replace(
             regexp_replace(concat('&', regexp_extract(t, '\\?(.*)$', 1)),
               '&(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=[^&#]*', '', 'g'),
             '^&+', ''),
           '&+$', '') AS qs
  FROM c2
), c4 AS (
  SELECT doc_id, url,
         CASE WHEN qs = '' THEN pth ELSE concat(pth, '?', qs) END AS canon
  FROM c3
)
SELECT doc_id, url, canon,
       COUNT(*) OVER (PARTITION BY canon) AS dup_cnt
FROM c4
"""


def text_bm25_topk(spark, sf_dir):
    """Top-20 documents by BM25 for a fixed bag-of-words query. Integer
    tf/df/dl stats, one broadcast corpus-stats row, fixed-order float
    combination rounded to 4 dp, ties broken by doc_id."""
    from ..datapipe import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.bm25_topk(docs, list(_BM25_TERMS), k=20)


def _bm25_oracle_sql() -> str:
    tf = ",\n         ".join(
        f"CAST(len(list_filter(ws, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    terms = "\n      + ".join(
        f"ln(1.0 + (CAST(N AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * (CAST(tf{i} AS DOUBLE) * {_BM25_K1P1})"
        f" / (CAST(tf{i} AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)"
        f" / (CAST(L AS DOUBLE) / CAST(N AS DOUBLE))))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
         {tf}
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS N, CAST(SUM(dl) AS BIGINT) AS L,
         {df}
  FROM base
),
scored AS (
  SELECT doc_id, dl AS doc_len,
         round(0.0
      + {terms}, 4) AS bm25
  FROM base, stats
)
SELECT * FROM (
  SELECT doc_id, doc_len, bm25,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 20
"""


ORACLE_BM25 = _bm25_oracle_sql()


def text_c4_clean(spark, sf_dir):
    """C4-style line cleaning. The word-soup corpus has no newlines, so
    both engines first apply the SAME deterministic rewrite (' table ' ->
    '.' + newline) to synthesize sentence-ended lines, then the native
    higher-order line filter runs (terminal punctuation, >=3 words, no
    blocklisted phrase)."""
    from ..datapipe import corpus

    docs = _t(spark, sf_dir, "documents")
    t2 = F.expr("replace(text, ' table ', concat('.', chr(10)))")
    c = corpus.c4_clean_lines(t2, min_words=3, blocklist=("javascript", "cookie policy"))
    return docs.select("doc_id", c.alias("__c")).select(
        "doc_id",
        F.col("__c.n_lines").alias("n_lines"),
        F.col("__c.n_kept").alias("n_kept"),
        F.col("__c.cleaned").alias("cleaned"),
    )


ORACLE_C4 = """
WITH lined AS (
  SELECT doc_id,
         string_split(replace(text, ' table ', '.' || chr(10)), chr(10)) AS lines
  FROM documents
),
cleaned AS (
  SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
         list_filter(lines, l ->
             (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
             AND len(list_filter(string_split(l, ' '), x -> x <> '')) >= 3
             AND NOT contains(lower(l), 'javascript')
             AND NOT contains(lower(l), 'cookie policy')) AS keep
  FROM lined
)
SELECT doc_id, n_lines, CAST(len(keep) AS BIGINT) AS n_kept,
       COALESCE(array_to_string(keep, chr(10)), '') AS cleaned
FROM cleaned
"""


def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (dup-line fraction, dup-line char
    fraction, top word/2-gram coverage) as exact integer ppm. The word-soup
    corpus has no newlines, so both engines apply the SAME deterministic
    rewrite first: split at ' table ' into '.'-terminated lines, then
    append a copy of the first line so every doc has a guaranteed duplicate
    line. Word tokens are split on single spaces only (tokens may embed the
    synthesized newline — identical on both engines)."""
    from ..datapipe import corpus

    docs = _t(spark, sf_dir, "documents")
    t2 = F.expr("replace(text, ' table ', concat('.', chr(10)))")
    t3 = F.concat(t2, F.lit("\n"), F.substring_index(t2, "\n", 1))
    return corpus.repetition_stats(docs.select("doc_id", t3.alias("text")))


ORACLE_REPETITION = """
WITH d AS (
  SELECT doc_id, t2 || chr(10) || split_part(t2, chr(10), 1) AS text
  FROM (SELECT doc_id, replace(text, ' table ', '.' || chr(10)) AS t2
        FROM documents)
),
lined AS (
  SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x <> '') AS L
  FROM d
),
line_stats AS (
  SELECT doc_id,
    CAST(len(L) AS BIGINT) AS n_lines,
    CAST(len(list_distinct(L)) AS BIGINT) AS n_dist,
    CAST(COALESCE(list_sum(list_transform(L, l -> length(l))), 0) AS BIGINT)
      AS total_chars,
    CAST(COALESCE(list_sum(list_transform(list_distinct(L), dl ->
        CASE WHEN len(list_filter(L, x -> x = dl)) > 1
             THEN len(list_filter(L, x -> x = dl)) * length(dl)
             ELSE 0 END)), 0) AS BIGINT) AS dup_chars
  FROM lined
),
wtok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
  FROM d
),
wcounts AS (SELECT doc_id, w, COUNT(*) AS c FROM wtok GROUP BY doc_id, w),
wtop AS (
  SELECT doc_id, CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top_word_ppm
  FROM wcounts GROUP BY doc_id
),
btok AS (
  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
      THEN list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))
      ELSE []::VARCHAR[] END) AS b
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM d)
),
bcounts AS (SELECT doc_id, b, COUNT(*) AS c FROM btok GROUP BY doc_id, b),
btop AS (
  SELECT doc_id, CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top_bigram_ppm
  FROM bcounts GROUP BY doc_id
)
SELECT l.doc_id, l.n_lines,
  CASE WHEN n_lines > 0
       THEN CAST((n_lines - n_dist) * 1000000 // n_lines AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS dup_line_ppm,
  CASE WHEN total_chars > 0
       THEN CAST(dup_chars * 1000000 // total_chars AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS dup_line_char_ppm,
  COALESCE(w.top_word_ppm, 0) AS top_word_ppm,
  COALESCE(b.top_bigram_ppm, 0) AS top_bigram_ppm
FROM line_stats l
LEFT JOIN wtop w USING (doc_id)
LEFT JOIN btop b USING (doc_id)
"""
