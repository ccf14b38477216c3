"""Unit + plan tests for datapipe.corpus: decontamination, sequence
packing, BM25, C4 line cleaning."""

import random

from pyspark.sql import Row, functions as F

from geoarrow_rs_spark.datapipe import corpus


def test_word_ngrams_basic(spark):
    df = spark.createDataFrame(
        [Row(t="a b c d"), Row(t="a b"), Row(t="x")]
    )
    out = df.select(corpus.word_ngrams(F.col("t"), 3).alias("g")).collect()
    assert out[0].g == ["a b c", "b c d"]
    assert out[1].g == []
    assert out[2].g == []


def test_decontaminate_flags_copied_doc(spark):
    bench = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps over the lazy dog")]
    )
    corp = spark.createDataFrame(
        [
            # verbatim copy of a benchmark span -> every 3-gram hits
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            # disjoint vocabulary -> zero hits
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta"),
            # partial overlap: one shared 3-gram
            Row(doc_id=3, text="weasel sees the quick brown weasel again ok"),
        ]
    )
    out = {
        r.doc_id: r
        for r in corpus.decontaminate(corp, bench, n=3, threshold_ppm=50000).collect()
    }
    assert out[1].contaminated and out[1].n_hits == out[1].n_grams
    assert out[2].n_hits == 0 and not out[2].contaminated
    assert out[3].n_hits == 1 and out[3].n_grams == 6
    # 1/6 = 166666 ppm (floored) > 5%
    assert out[3].overlap_ppm == 166666 and out[3].contaminated


def test_decontaminate_plan_is_native_and_broadcasts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 23 == 0)
    corp = docs.where(F.col("doc_id") % 23 != 0)
    out = corpus.decontaminate(corp, bench)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # benchmark gram set is broadcast


def test_pack_sequences_invariants(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = 512
    packed = corpus.pack_sequences(docs, target_tokens=target, n_shards=4)
    rows = packed.orderBy("shard", "doc_id").collect()
    assert len(rows) == docs.count()
    # reconstruct per-shard cumulative sums and check the bin rule
    cum = {}
    for r in rows:
        c = cum.get(r.shard, 0)
        assert r.bin == c // target, (r, c)
        assert r.bin_offset == c - (c // target) * target
        cum[r.shard] = c + r.n_tokens
    # every doc with bin_offset 0 starts a bin; bins are dense per shard
    stats = corpus.pack_bin_stats(packed, target_tokens=target).collect()
    by_shard = {}
    for s in stats:
        by_shard.setdefault(s.shard, []).append(s.bin)
    for bins in by_shard.values():
        assert sorted(bins) == list(range(len(bins)))


def test_bm25_orders_by_relevance(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark spark spark runs fast"),
            Row(doc_id=2, text="spark is here once only today"),
            Row(doc_id=3, text="nothing relevant at all here now"),
        ]
    )
    out = corpus.bm25_topk(df, ["spark"], k=3)
    rows = out.collect()
    assert [r.doc_id for r in rows] == [1, 2, 3]
    assert rows[0].bm25 > rows[1].bm25 > rows[2].bm25 == 0.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_c4_clean_lines_rules(spark):
    doc = "\n".join(
        [
            "This is a fine sentence.",          # kept
            "Too short.",                        # < 3 words
            "no terminal punctuation here",      # no . ! ? "
            "Enable javascript to continue.",    # blocklist
            "Read our cookie policy today ok.",  # blocklist (phrase)
            'He said "use the data."',           # kept (ends with .)
            "Is this kept as a question?",       # kept
        ]
    )
    df = spark.createDataFrame([Row(t=doc)])
    r = df.select(corpus.c4_clean_lines(F.col("t")).alias("c")).collect()[0].c
    assert r.n_lines == 7
    assert r.n_kept == 3
    assert r.cleaned.split("\n") == [
        "This is a fine sentence.",
        'He said "use the data."',
        "Is this kept as a question?",
    ]


def test_repetition_stats_hand_computed(spark):
    # doc 1: lines [x, y, x]; words: a a a b; bigrams: "a a","a a","a b"
    doc = "a a\nb c d\na a"
    df = spark.createDataFrame([Row(doc_id=1, text=doc)])
    r = corpus.repetition_stats(df).collect()[0]
    assert r.n_lines == 3
    # 3 lines, 2 distinct -> 1/3 repeats
    assert r.dup_line_ppm == 333333
    # dup chars: "a a" appears twice -> 2*3 chars of 3+5+3=11 total
    assert r.dup_line_char_ppm == (6 * 1000000) // 11
    # words = raw space-split (newlines embed): [a, a\nb, c, d\na, a]
    # -> top 'a' 2/5
    assert r.top_word_ppm == 400000
    # bigrams over raw space-split (newlines embed): tokens
    # [a, a\nb, c, d\na, a] -> 4 bigrams, all distinct -> 1/4
    assert r.top_bigram_ppm == 250000


def test_c4_clean_empty_and_all_dropped(spark):
    df = spark.createDataFrame([Row(t="just words no punct"), Row(t="")])
    rows = df.select(corpus.c4_clean_lines(F.col("t")).alias("c")).collect()
    assert rows[0].c.cleaned == "" and rows[0].c.n_kept == 0
    assert rows[1].c.cleaned == "" and rows[1].c.n_kept == 0


def test_c4_clean_is_idempotent_on_random_docs(spark):
    """Property: cleaning an already-cleaned doc changes nothing (every
    kept line still satisfies every rule). 300 seeded random multi-line
    docs over a hostile alphabet, checked in one Spark job."""
    rng = random.Random(42)
    pieces = ["word", "a", "JavaScript", "cookie policy", "x" * 30, "", " ",
              "ok then.", "what?", 'quoted"', "end!", "no punct", "1 2 3."]
    docs = []
    for i in range(300):
        n = rng.randint(0, 8)
        lines = [" ".join(rng.choices(pieces, k=rng.randint(0, 6))) for _ in range(n)]
        docs.append(Row(doc_id=i, t="\n".join(lines)))
    df = spark.createDataFrame(docs)
    once = df.select(
        "doc_id", corpus.c4_clean_lines(F.col("t")).alias("c")
    ).select("doc_id", F.col("c.cleaned").alias("t1"), F.col("c.n_kept").alias("k1"))
    twice = once.select(
        "doc_id", "k1", corpus.c4_clean_lines(F.col("t1")).alias("c")
    ).select(
        "doc_id", "k1",
        F.col("c.cleaned").alias("t2"), F.col("c.n_kept").alias("k2"),
    )
    joined = twice.join(once.select("doc_id", "t1"), "doc_id")
    bad = joined.where((F.col("t2") != F.col("t1")) | (F.col("k2") != F.col("k1")))
    assert bad.count() == 0


def test_pack_conserves_tokens_and_caps_offsets(spark, sf_dir):
    """Properties: packing neither drops nor duplicates tokens (per-shard
    sums are conserved), and every bin_offset is < target (a doc starts
    inside its bin's budget window)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = 777  # non-power-of-two to exercise the division
    packed = corpus.pack_sequences(docs, target_tokens=target, n_shards=4)
    tot_in = docs.select(
        F.sum(F.size(corpus.words_of(F.col("text")))).alias("s")
    ).collect()[0].s
    tot_out = packed.agg(F.sum("n_tokens").alias("s")).collect()[0].s
    assert tot_in == tot_out
    assert packed.where(F.col("bin_offset") >= target).count() == 0
    assert packed.where(F.col("bin_offset") < 0).count() == 0


def test_weighted_sample_properties(spark):
    """Efraimidis-Spirakis top-k: (a) deterministic across calls, (b) a row
    with overwhelming weight is always kept, (c) selection frequency is
    monotone in weight across independent salts."""
    from geoarrow_rs_spark.datapipe.sampling import weighted_sample

    rows = [Row(k=i, w=1.0) for i in range(50)] + [Row(k=99, w=1e9)]
    df = spark.createDataFrame(rows)
    got1 = sorted(r.k for r in weighted_sample(df, "k", "w", k=10).collect())
    got2 = sorted(r.k for r in weighted_sample(df, "k", "w", k=10).collect())
    assert got1 == got2 and 99 in got1 and len(got1) == 10

    heavy_hits = light_hits = 0
    df2 = spark.createDataFrame(
        [Row(k=i, w=10.0) for i in range(25)] + [Row(k=i, w=1.0) for i in range(25, 50)]
    )
    for salt in ("s1", "s2", "s3", "s4"):
        kept = {r.k for r in weighted_sample(df2, "k", "w", k=10, salt=salt).collect()}
        heavy_hits += sum(1 for k in kept if k < 25)
        light_hits += sum(1 for k in kept if k >= 25)
    assert heavy_hits > light_hits


def test_luhn_and_pii_scrub(spark):
    """Luhn validity on known cards (4111111111111111 and 5500005555555559
    are textbook-valid; off-by-one check digits are not), and the scrubber
    replaces phones/IPs always but cards only when Luhn passes."""
    from geoarrow_rs_spark.datapipe.sampling import luhn_valid, scrub_pii

    rows = [
        Row(i=0, n="4111111111111111", want=True),
        Row(i=1, n="4111111111111112", want=False),
        Row(i=2, n="5500005555555559", want=True),
        Row(i=3, n="5500005555555558", want=False),
        Row(i=4, n="12345", want=False),
    ]
    df = spark.createDataFrame(rows)
    got = {r.i: r.v for r in df.select("i", luhn_valid("n").alias("v")).collect()}
    assert got == {r.i: r.want for r in rows}

    docs = spark.createDataFrame(
        [
            Row(i=0, t="call 555-123-4567 from 192.168.0.1 pay 4111111111111111 ok"),
            Row(i=1, t="fake card 4111111111111112 stays"),
        ]
    )
    out = {r.i: r.s for r in docs.select("i", scrub_pii("t").alias("s")).collect()}
    assert out[0] == "call <PHONE> from <IP> pay <CC> ok"
    assert out[1] == "fake card 4111111111111112 stays"


def test_streaming_decontamination(spark, tmp_path, sf_dir):
    """Decontamination in continuous ingest: the benchmark n-gram set is a
    STATIC DataFrame joined against a streaming corpus (stream-static
    broadcast join — supported by Structured Streaming with no state
    store), so every arriving micro-batch is flagged with the same exact
    semantics as the batch operator."""
    import os

    src = os.path.join(str(tmp_path), "decontam_src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.where(F.col("doc_id") % 23 != 0).write.mode("overwrite").parquet(src)
    bench = docs.where(F.col("doc_id") % 23 == 0)

    batst = spark.read.parquet(src)
    stream = spark.readStream.schema(batst.schema).parquet(src)
    # the per-doc hit count is a streaming aggregation -> complete mode
    # (docs are disjoint across micro-batches, so the final table equals
    # the batch result without a watermark)
    q = (
        corpus.decontaminate(stream, bench)
        .writeStream.format("memory")
        .queryName("decontam_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = {
        r.doc_id: (r.n_grams, r.n_hits, r.overlap_ppm, r.contaminated)
        for r in spark.sql("SELECT * FROM decontam_out").collect()
    }
    want = {
        r.doc_id: (r.n_grams, r.n_hits, r.overlap_ppm, r.contaminated)
        for r in corpus.decontaminate(batst, bench).collect()
    }
    assert got == want and len(got) > 0


def test_corpus_cleaning_composes_with_streaming(spark, tmp_path, sf_dir):
    """The stateless cleaning stack (C4 line filter + Gopher rules + token
    count) is pure column expressions, so the same code runs unchanged in
    Structured Streaming — the standard shape for a continuous ingest
    pipeline that filters before landing training shards."""
    import os

    from geoarrow_rs_spark.datapipe import text as dtext

    src = os.path.join(str(tmp_path), "docs_src")
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    def clean(df):
        t2 = F.expr("replace(text, ' table ', concat('.', chr(10)))")
        c = corpus.c4_clean_lines(t2)
        g = dtext.gopher_rules(F.col("text"), min_words=10)
        return (
            df.select("doc_id", c.alias("__c"), g.alias("__g"))
            .where((F.col("__c.n_kept") > 0) & F.col("__g.keep"))
            .select("doc_id", F.col("__c.cleaned").alias("cleaned"))
        )

    q = (
        clean(stream)
        .writeStream.format("memory")
        .queryName("corpus_clean_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = spark.sql("SELECT * FROM corpus_clean_out").collect()
    want = clean(batch).collect()
    assert len(got) == len(want) > 0
    assert {r.doc_id for r in got} == {r.doc_id for r in want}


def test_interval_join_matches_naive(spark):
    """Banded interval join == brute-force inequality join on a small
    crafted set, for all three inclusivity modes, including intervals
    spanning many bins and bin-boundary timestamps."""
    from geoarrow_rs_spark.join.interval import interval_join

    lefts = spark.createDataFrame(
        [Row(lid=i, lo=s, hi=e) for i, (s, e) in enumerate(
            [(0, 10), (5, 25), (30, 30), (17, 18), (0, 100)]
        )]
    )
    rights = spark.createDataFrame(
        [Row(rid=j, ts=t) for j, t in enumerate([0, 5, 10, 11, 20, 30, 99, 100, 101])]
    )
    for closed in ("right", "left", "both"):
        got = {
            (r.lid, r.rid)
            for r in interval_join(lefts, rights, "lo", "hi", "ts", 7, closed=closed).collect()
        }
        rows_l = lefts.collect()
        rows_r = rights.collect()
        want = set()
        for l in rows_l:
            for r in rows_r:
                ok = (
                    l.lo < r.ts <= l.hi if closed == "right"
                    else l.lo <= r.ts < l.hi if closed == "left"
                    else l.lo <= r.ts <= l.hi
                )
                if ok:
                    want.add((l.lid, r.rid))
        assert got == want, (closed, got ^ want)


def test_kmv_prefilter_equivalence(spark, sf_dir):
    """With a prefilter threshold above every k-th minimum, the KMV
    estimate is unchanged — the bandwidth cut is lossless."""
    from geoarrow_rs_spark.datapipe.sketch import kmv_distinct

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type", "user_id")
    full = {
        (r.event_type): (r.n_seen, r.est_distinct)
        for r in kmv_distinct(e, "user_id", ["event_type"], k=8).collect()
    }
    cut = {
        (r.event_type): (r.n_seen, r.est_distinct)
        for r in kmv_distinct(e, "user_id", ["event_type"], k=8, prefilter=0.5).collect()
    }
    assert full == cut
    # estimator sanity: within a loose factor of the exact count
    exact = {r.event_type: r.n for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()}
    for t, (_, est) in full.items():
        assert 0.3 * exact[t] <= est <= 3 * exact[t], (t, est, exact[t])


def test_pagerank_matches_reference_power_iteration(spark):
    """datapipe.graph.pagerank vs a from-scratch Python power iteration on
    a small asymmetric graph (star + tail + isolated node), including the
    teleport-only mass of edgeless nodes."""
    from geoarrow_rs_spark.datapipe.graph import pagerank

    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(6)])
    pair_list = [(0, 1), (0, 2), (0, 3), (3, 4)]  # 5 isolated
    pairs = spark.createDataFrame([Row(a_id=a, b_id=b) for a, b in pair_list])
    got = {r.doc_id: r.pr for r in pagerank(nodes, pairs, iters=3).collect()}

    # reference: undirected -> both directions, 3 rounds, same rounding
    import collections
    adj = collections.defaultdict(set)
    for a, b in pair_list:
        adj[a].add(b)
        adj[b].add(a)
    n = 6
    pr = {i: round(1.0 / n, 12) for i in range(6)}
    for _ in range(3):
        incoming = collections.defaultdict(float)
        for u in adj:
            share = round(pr[u] / len(adj[u]), 12)
            for v in adj[u]:
                incoming[v] += share  # few terms; float assoc error << 1e-12
        pr = {
            i: round((1.0 - 0.85) / n + 0.85 * incoming.get(i, 0.0), 12)
            for i in range(6)
        }
    assert set(got) == set(pr)
    for i in range(6):
        assert abs(got[i] - pr[i]) < 1e-9, (i, got[i], pr[i])
    # mass ordering: hub 0 highest, isolated 5 = teleport floor
    assert got[0] == max(got.values())
    assert got[5] == min(got.values()) and abs(got[5] - 0.15 / 6) < 1e-12


def test_histogram_quantile_error_bound(spark):
    """Property: the histogram estimate is within one bin width of the
    exact quantile, for a seeded skewed sample."""
    from geoarrow_rs_spark.datapipe.sketch import histogram_quantiles

    rng = random.Random(7)
    vals = [rng.random() ** 3 * 100 for _ in range(2000)]
    df = spark.createDataFrame([Row(g="a", v=v) for v in vals])
    n_bins, lo, hi = 50, 0.0, 100.0
    width = (hi - lo) / n_bins
    got = {
        r.q: r.est
        for r in histogram_quantiles(
            df, "v", ["g"], lo=lo, hi=hi, n_bins=n_bins, quantiles=(0.5, 0.9, 0.99)
        ).collect()
    }
    svals = sorted(vals)
    for q, est in got.items():
        exact = svals[min(len(svals) - 1, int(q * len(svals)))]
        assert abs(est - exact) <= width + 1e-9, (q, est, exact)


def test_incremental_dedup_rejects_planted_dups(spark):
    """Exact copies of existing docs, batch-internal exact copies, and a
    near-copy (one char changed in a long doc -> shares an LSH band) are
    all rejected; a genuinely novel doc survives."""
    from geoarrow_rs_spark.datapipe.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog and keeps going " * 3
    existing = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text="completely different corpus entry two")]
    )
    near = base[:-1] + "!"  # long shared prefix -> identical first bands
    incoming = spark.createDataFrame(
        [
            Row(doc_id=10, text=base),                   # exact dup of existing
            Row(doc_id=11, text="a new novel document about nothing else"),
            Row(doc_id=12, text="a new novel document about nothing else"),  # batch dup
            Row(doc_id=13, text=near),                   # near dup of existing
        ]
    )
    out = sorted(r.doc_id for r in incremental_dedup(existing, incoming).collect())
    assert out == [11]


def test_new_operators_tolerate_empty_input(spark):
    """Robustness: every operator added this session runs (and returns 0
    rows) on empty inputs — the shape every real pipeline hits on an
    empty partition, date gap, or first run."""
    from geoarrow_rs_spark.datapipe.corpus import chunk_documents, tfidf_topk
    from geoarrow_rs_spark.datapipe.dedup import incremental_dedup
    from geoarrow_rs_spark.datapipe.graph import pagerank
    from geoarrow_rs_spark.datapipe.sampling import scrub_pii, stratified_sample
    from geoarrow_rs_spark.datapipe.sketch import histogram_quantiles, kmv_distinct
    from geoarrow_rs_spark.join.interval import interval_join

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    pairs = spark.createDataFrame([], "a_id long, b_id long")
    ivl = spark.createDataFrame([], "lid long, lo long, hi long")
    pts = spark.createDataFrame([], "rid long, ts long")

    assert chunk_documents(docs).count() == 0
    assert tfidf_topk(docs, ["spark"], k=5).count() == 0
    assert stratified_sample(docs, "doc_id", "lang", 3).count() == 0
    assert docs.select(scrub_pii("text")).count() == 0
    assert kmv_distinct(docs, "doc_id", ["lang"], k=4).count() == 0
    assert histogram_quantiles(docs, "doc_id", ["lang"], 0.0, 10.0).count() == 0
    assert interval_join(ivl, pts, "lo", "hi", "ts", 100).count() == 0
    assert pagerank(docs, pairs, id_col="doc_id", iters=2).count() == 0
    assert incremental_dedup(docs, docs).count() == 0


def test_expectations_and_profile(spark):
    """check_expectations counts real violations (nulls fail closed) and
    profile_numeric reports exact per-column stats, both in one scan."""
    from geoarrow_rs_spark.ops.profile import check_expectations, profile_numeric

    df = spark.createDataFrame(
        [
            Row(a=1, b=10.0),
            Row(a=-2, b=None),
            Row(a=3, b=30.0),
            Row(a=None, b=40.0),
        ],
        "a int, b double",
    )
    out = {
        r.rule: (r.n_violations, r.violation_ppm)
        for r in check_expectations(
            df, {"a_positive": "a > 0", "b_present": "b IS NOT NULL"}
        ).collect()
    }
    # a > 0 fails for -2 and for the NULL (fails closed)
    assert out["a_positive"] == (2, 500000)
    assert out["b_present"] == (1, 250000)

    prof = {r.column: r for r in profile_numeric(df, ["a", "b"]).collect()}
    assert prof["a"].n_null == 1 and prof["a"].n_distinct == 3
    assert prof["a"].min_value == -2.0 and prof["a"].max_value == 3.0
    assert prof["b"].n_null == 1 and prof["b"].max_value == 40.0


def test_incremental_dedup_index_roundtrip(spark, tmp_path, sf_dir):
    """save_dedup_index + incremental_dedup_from_index admit EXACTLY the
    same batch as the live-corpus operator — the persisted projections
    are a faithful substitute for the corpus."""
    from geoarrow_rs_spark.datapipe.dedup import (
        incremental_dedup, incremental_dedup_from_index, save_dedup_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    existing = d.where(F.col("doc_id") < 250)
    incoming = d.where(F.col("doc_id") >= 250)
    live = sorted(r.doc_id for r in incremental_dedup(existing, incoming).collect())
    idx = str(tmp_path / "dedup_index")
    save_dedup_index(existing, idx)
    via_idx = sorted(
        r.doc_id
        for r in incremental_dedup_from_index(spark, idx, incoming).collect()
    )
    assert live == via_idx and len(live) > 0


def test_dedup_index_roll_forward(spark, tmp_path, sf_dir):
    """Two-batch ingestion: admit batch1 against the corpus index, append
    the admissions, admit batch2 — results must equal deduping batch2
    against (corpus + admitted batch1) from scratch."""
    from geoarrow_rs_spark.datapipe.dedup import (
        append_dedup_index, incremental_dedup, incremental_dedup_from_index,
        save_dedup_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus0 = d.where(F.col("doc_id") < 200)
    batch1 = d.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 350))
    batch2 = d.where(F.col("doc_id") >= 350)

    idx = str(tmp_path / "roll_idx")
    save_dedup_index(corpus0, idx)
    adm1 = incremental_dedup_from_index(spark, idx, batch1)
    append_dedup_index(adm1, idx)
    adm2_idx = sorted(
        r.doc_id for r in incremental_dedup_from_index(spark, idx, batch2).collect()
    )
    grown = corpus0.unionByName(adm1.select(*corpus0.columns))
    adm2_live = sorted(
        r.doc_id for r in incremental_dedup(grown, batch2).collect()
    )
    assert adm2_idx == adm2_live and len(adm2_idx) > 0


def test_tfidf_topk_empty_query_terms_raises(spark):
    from geoarrow_rs_spark.datapipe.corpus import tfidf_topk

    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest

    with pytest.raises(ValueError, match="query_terms"):
        tfidf_topk(d, [])


def test_kmv_prefilter_flags_underflow_groups(spark):
    """With prefilter set, groups whose surviving hashes fall below k are
    scaled up by survival probability and flagged est_is_exact=False —
    never silently posing as exact counts."""
    from geoarrow_rs_spark.datapipe.sketch import kmv_distinct

    df = spark.createDataFrame(
        [(f"u{i}", "g") for i in range(50)], "user_id string, grp string"
    )
    out = kmv_distinct(df, "user_id", ["grp"], k=16, prefilter=0.05).collect()
    assert len(out) == 1
    row = out[0]
    assert "est_is_exact" in row.asDict() and row["est_is_exact"] is False
    # survival-scaled estimate is in the right ballpark of 50, and not
    # the raw surviving count
    assert row["n_seen"] < 16
    assert 10 <= row["est_distinct"] <= 200

    # without prefilter the schema keeps its original semantics: groups
    # under k distinct hashes are exact
    df_small = spark.createDataFrame(
        [(f"u{i}", "g") for i in range(10)], "user_id string, grp string"
    )
    out2 = kmv_distinct(df_small, "user_id", ["grp"], k=16).collect()[0]
    assert "est_is_exact" not in out2.asDict()
    assert out2["est_distinct"] == 10.0


def test_mmr_rerank_diversity_and_greedy_semantics(spark):
    """MMR on a crafted candidate set: rank 1 is the plain top-relevance
    pick; a near-duplicate of the first pick (higher relevance than a
    diverse alternative) is demoted by the similarity penalty; picks are
    distinct per query."""
    from geoarrow_rs_spark.datapipe.similarity import mmr_rerank

    # query 1: cand 10 most relevant; cand 11 is (almost) the same vector
    # (sim ~1) with the next-best relevance; cand 12 is orthogonal to 10
    # with slightly lower relevance than 11 -> plain ranking picks 11
    # second, MMR must pick 12 second.
    rows = [
        Row(query_id=1, neighbor_id=10, rel=0.95, vec=[1.0, 0.0, 0.0]),
        Row(query_id=1, neighbor_id=11, rel=0.94, vec=[0.999, 0.04471, 0.0]),
        Row(query_id=1, neighbor_id=12, rel=0.80, vec=[0.0, 1.0, 0.0]),
        Row(query_id=1, neighbor_id=13, rel=0.10, vec=[0.0, 0.0, 1.0]),
        Row(query_id=2, neighbor_id=20, rel=0.50, vec=[1.0, 0.0, 0.0]),
        Row(query_id=2, neighbor_id=21, rel=0.40, vec=[0.0, 1.0, 0.0]),
        Row(query_id=2, neighbor_id=22, rel=0.30, vec=[0.0, 0.0, 1.0]),
    ]
    cands = spark.createDataFrame(rows)
    out = mmr_rerank(cands, k=3, lam=0.7).collect()
    got = {(r["query_id"], r["mmr_rank"]): r["neighbor_id"] for r in out}
    assert got[(1, 1)] == 10
    assert got[(1, 2)] == 12  # diversity beats the near-duplicate
    assert got[(1, 3)] == 11
    assert got[(2, 1)] == 20 and got[(2, 2)] == 21 and got[(2, 3)] == 22
    # distinct picks per query, k each
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert all(len(v) == 3 and len(set(v)) == 3 for v in per_q.values())


def test_mixture_plan_caps_and_copy_counts(spark):
    """mixture_plan: epochs = min(weight*budget/avail, cap); n_copies is
    floor(epochs) or floor+1 only; a domain with weight 0 gets 0 copies;
    an over-weighted tiny domain hits the repeat cap exactly."""
    from geoarrow_rs_spark.datapipe.sampling import mixture_plan

    rows = (
        [Row(doc_id=i, domain="big", n_tok=100) for i in range(50)]
        + [Row(doc_id=100 + i, domain="tiny", n_tok=10) for i in range(5)]
        + [Row(doc_id=200 + i, domain="junk", n_tok=100) for i in range(5)]
    )
    df = spark.createDataFrame(rows)
    out = mixture_plan(
        df, "domain", weights={"big": 0.5, "tiny": 0.5},
        budget_tokens=10_000, token_count_col="n_tok",
        key="doc_id", max_repeat=4.0,
    ).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    # big: 0.5*10000/5000 = 1.0 epoch -> every doc exactly once
    assert all(r["epochs"] == 1.0 and r["n_copies"] == 1 for r in by_dom["big"])
    # tiny: 0.5*10000/50 = 100 -> capped at 4.0, deterministic 4 copies
    assert all(r["epochs"] == 4.0 and r["n_copies"] == 4 for r in by_dom["tiny"])
    # junk: no weight -> 0 epochs, 0 copies
    assert all(r["epochs"] == 0.0 and r["n_copies"] == 0 for r in by_dom["junk"])


def test_budget_fill_threshold_semantics(spark):
    """budget_fill: strictly-better buckets fully selected, worse buckets
    fully rejected, under-budget domains select everything, and selected
    token mass lands within the threshold bucket of the budget."""
    from geoarrow_rs_spark.datapipe.sampling import budget_fill

    rows = []
    # domain 'a': 10 docs of quality 0.9 (100 tok each), 10 of 0.5, 10 of 0.1
    for i in range(10):
        rows.append(Row(doc_id=i, domain="a", n_tok=100, q=0.9))
        rows.append(Row(doc_id=100 + i, domain="a", n_tok=100, q=0.5))
        rows.append(Row(doc_id=200 + i, domain="a", n_tok=100, q=0.1))
    # domain 'b': tiny, fits any budget
    rows.append(Row(doc_id=300, domain="b", n_tok=5, q=0.3))
    df = spark.createDataFrame(rows)
    out = budget_fill(
        df, "domain", "n_tok", "q", budget_tokens=1500, n_buckets=1000,
        key="doc_id",
    ).collect()
    by = {}
    for r in out:
        by.setdefault((r["domain"], r["q"]), []).append(r["selected"])
    assert all(by[("a", 0.9)])           # above threshold: all in
    assert not any(by[("a", 0.1)])       # below threshold: all out
    n_mid = sum(by[("a", 0.5)])          # threshold bucket: fractional
    assert 0 <= n_mid <= 10
    assert all(by[("b", 0.3)])           # under-budget domain: everything
    # selected token mass is within one threshold-bucket granule of budget
    tok_sel = 10 * 100 + n_mid * 100
    assert 1000 <= tok_sel <= 2000


def test_mixture_plan_keeps_null_domain_rows(spark):
    """Rows with a NULL domain survive mixture_plan (left join + coalesce)
    with 0 epochs / 0 copies instead of silently vanishing."""
    from geoarrow_rs_spark.datapipe.sampling import mixture_plan

    rows = [Row(doc_id=1, domain="a", n_tok=100),
            Row(doc_id=2, domain=None, n_tok=100)]
    df = spark.createDataFrame(rows)
    out = mixture_plan(df, "domain", {"a": 1.0}, 100, "n_tok").collect()
    assert len(out) == 2
    got = {r["doc_id"]: r for r in out}
    assert got[1]["epochs"] == 1.0 and got[1]["n_copies"] == 1
    assert got[2]["epochs"] == 0.0 and got[2]["n_copies"] == 0


def test_cms_overestimates_and_matches_exact_when_uncollided(spark):
    """Count-min sketch invariants: cms_count >= exact count always; with
    a width far above the vocabulary, collisions are rare enough that the
    top tokens' estimates equal their exact counts."""
    from geoarrow_rs_spark.datapipe.sketch import cms_build, cms_estimate

    words = ["alpha"] * 50 + ["beta"] * 30 + ["gamma"] * 20 + ["delta"] * 5
    toks = spark.createDataFrame([Row(token=w) for w in words])
    sk = cms_build(toks, "token", depth=4, width=4096)
    assert sk.count() <= 4 * 4096
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(
        sk, exact.select("token"), "token", depth=4, width=4096
    )
    rows = {r["token"]: r for r in exact.join(est, "token").collect()}
    assert all(r["cms_count"] >= r["exact"] for r in rows.values())
    # 4 tokens in 4096 buckets x 4 rows: no collision in practice
    assert all(r["cms_count"] == r["exact"] for r in rows.values())
    # unseen token -> 0 (all four buckets untouched) or tiny collision mass
    ghost = spark.createDataFrame([Row(token="omega")])
    g = cms_estimate(sk, ghost, "token", depth=4, width=4096).collect()[0]
    assert g["cms_count"] == 0


def test_triangle_count_hand_built_graphs(spark):
    """triangle_count on known graphs: K4 (every node in C(3,2)=3
    triangles), a triangle with a pendant edge (pendant node in none),
    and a square (no triangles at all)."""
    from geoarrow_rs_spark.datapipe.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    tri_pendant = [(10, 11), (11, 12), (10, 12), (12, 13)]
    square = [(20, 21), (21, 22), (22, 23), (23, 20)]
    edges = spark.createDataFrame(
        [Row(a_id=a, b_id=b) for a, b in k4 + tri_pendant + square]
    )
    got = {r["node"]: r["tri_count"] for r in triangle_count(edges).collect()}
    assert {n: got.get(n, 0) for n in range(4)} == {0: 3, 1: 3, 2: 3, 3: 3}
    assert got.get(10) == 1 and got.get(11) == 1 and got.get(12) == 1
    assert 13 not in got
    assert all(n not in got for n in (20, 21, 22, 23))
    # duplicate + reversed edges don't change anything
    noisy = edges.union(spark.createDataFrame([Row(a_id=1, b_id=0), Row(a_id=0, b_id=1)]))
    got2 = {r["node"]: r["tri_count"] for r in triangle_count(noisy).collect()}
    assert got2 == got


def test_neighborhood_function_exact_on_path_graph(spark):
    """With k far above component size the KMV sketch never saturates, so
    the neighborhood function is EXACT: verified on a 5-path against
    hand-computed ball sizes and harmonic centralities."""
    from geoarrow_rs_spark.datapipe.graph import neighborhood_function

    path = [(0, 1), (1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame([Row(a_id=a, b_id=b) for a, b in path])
    got = {r["node"]: r for r in
           neighborhood_function(edges, k=32, hops=3).collect()}
    # balls INCLUDE the node itself
    assert (got[0]["n1"], got[0]["n2"], got[0]["n3"]) == (2.0, 3.0, 4.0)
    assert (got[2]["n1"], got[2]["n2"], got[2]["n3"]) == (3.0, 5.0, 5.0)
    # harmonic over 3 hops: node 0 -> 1/1 + 1/2 + 1/3; node 2 -> 2 + 1
    assert abs(got[0]["harmonic"] - (1 + 0.5 + 1 / 3)) < 1e-9
    assert abs(got[2]["harmonic"] - 3.0) < 1e-9
    # node 1: dist-1 {0,2}, dist-2 {3}, dist-3 {4}
    assert abs(got[1]["harmonic"] - (2 + 0.5 + 1 / 3)) < 1e-9


def test_neighborhood_function_saturated_estimator(spark):
    """With k below the component size the KMV estimate branch runs: on a
    20-clique every node's round-1 sketch is the same k global minima, so
    all estimates agree, stay stable across hops, and land near 20."""
    from geoarrow_rs_spark.datapipe.graph import neighborhood_function

    clique = [(a, b) for a in range(20) for b in range(a + 1, 20)]
    edges = spark.createDataFrame([Row(a_id=a, b_id=b) for a, b in clique])
    rows = neighborhood_function(edges, k=8, hops=2).collect()
    assert len(rows) == 20
    n1s = {r["n1"] for r in rows}
    assert len(n1s) == 1  # identical saturated sketches
    (n1,) = n1s
    assert 10 <= n1 <= 40  # KMV(k=8) estimate of a true 20
    assert all(r["n2"] == r["n1"] for r in rows)  # ball stops growing


def test_funnel_first_touch_semantics(spark):
    """funnel/funnel_counts on a crafted event log: ordered completion
    only (a purchase BEFORE the click doesn't count), the window caps
    late steps, and conversion ppm is exact."""
    from geoarrow_rs_spark.datapipe.events import funnel, funnel_counts

    rows = [
        # user 1: full ordered funnel
        Row(user_id=1, event_type="view", ts=100),
        Row(user_id=1, event_type="click", ts=200),
        Row(user_id=1, event_type="purchase", ts=300),
        # user 2: purchase precedes click -> stops at step 2
        Row(user_id=2, event_type="view", ts=100),
        Row(user_id=2, event_type="purchase", ts=150),
        Row(user_id=2, event_type="click", ts=200),
        # user 3: click outside the window -> stops at step 1
        Row(user_id=3, event_type="view", ts=100),
        Row(user_id=3, event_type="click", ts=5000),
        # user 4: never starts the funnel
        Row(user_id=4, event_type="purchase", ts=100),
    ]
    e = spark.createDataFrame(rows)
    done = funnel(e, ["view", "click", "purchase"], window=1000).collect()
    assert {r["user_id"] for r in done} == {1}
    assert (done[0]["t1"], done[0]["t2"], done[0]["t3"]) == (100, 200, 300)
    counts = {r["step"]: r for r in
              funnel_counts(e, ["view", "click", "purchase"], window=1000).collect()}
    assert counts[1]["n_users"] == 3 and counts[1]["conv_ppm"] == 1000000
    assert counts[2]["n_users"] == 2 and counts[2]["conv_ppm"] == 666666
    assert counts[3]["n_users"] == 1 and counts[3]["conv_ppm"] == 333333


def _staged_funnel(rows, steps, window):
    """Pure-Python replica of the staged funnel definition: stage 1 groups
    step-1 events by user (NULL user included, t1 = min non-NULL ts); each
    later stage equi-joins the previous one on the user key (a NULL user
    never matches) and keeps the earliest qualifying event."""
    t1s = {}
    for u, kind, t in rows:
        if kind == steps[0]:
            t1s.setdefault(u, []).append(t)
    cur = {u: (min((t for t in ts if t is not None), default=None),)
           for u, ts in t1s.items()}
    stages = [cur]
    for s in steps[1:]:
        nxt = {}
        for u, prev in cur.items():
            cand = [t for uu, kind, t in rows
                    if u is not None and uu == u and kind == s
                    and t is not None and prev[-1] is not None and t > prev[-1]
                    and (window is None or t <= prev[0] + window)]
            if cand:
                nxt[u] = prev + (min(cand),)
        stages.append(nxt)
        cur = nxt
    n1 = len(stages[0])
    counts = sorted(
        (i, name, len(st), len(st) * 1000000 // n1 if n1 else 0)
        for i, (name, st) in enumerate(zip(steps, stages), start=1)
    )
    return counts, sorted(((u,) + ts for u, ts in cur.items()), key=repr)


def test_funnel_matches_staged_semantics(spark):
    """funnel/funnel_counts against a replica of the staged definition on
    seeded random logs with NULL users, NULL timestamps, repeated step
    types, a one-step funnel, and both an open and a capped window. The
    crafted prefix pins three edge cases: a NULL user counts at step 1
    only; a user whose step-1 events all have NULL ts still counts at
    step 1; and a one-step funnel() keeps that user (with t1 NULL)."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from geoarrow_rs_spark.datapipe.events import funnel, funnel_counts

    crafted = [
        (None, "view", 1), (None, "cart", 2), (None, "buy", 3),
        (7, "view", None), (7, "view", None), (7, "cart", 5),
        (8, "view", 4), (8, "view", 6), (8, "buy", 9),
    ]
    schema = "user_id long, event_type string, ts long"
    count_schema = StructType([
        StructField("step", IntegerType(), False),
        StructField("step_name", StringType(), False),
        StructField("n_users", LongType(), False),
        StructField("conv_ppm", LongType(), True),
    ])
    cases = [
        (["view", "cart", "buy"], None), (["view", "cart", "buy"], 15),
        (["view", "view", "buy"], None), (["view", "view", "buy"], 15),
        (["view"], None), (["view"], 15),
    ]
    for seed, (steps, window) in enumerate(cases):
        r = random.Random(seed)
        rows = crafted + [
            (r.choice([None, 0, 1, 2, 3, 4, 5]),
             r.choice(["view", "cart", "buy", "other", None]),
             r.choice([None] + list(range(40))))
            for _ in range(60)
        ]
        e = spark.createDataFrame(rows, schema)
        want_counts, want_rows = _staged_funnel(rows, steps, window)
        got = funnel_counts(e, steps, window=window)
        assert got.schema == count_schema
        assert sorted(map(tuple, got.collect())) == want_counts, (steps, window)
        done = funnel(e, steps, window=window)
        assert done.schema == StructType(
            [StructField("user_id", LongType(), True)]
            + [StructField(f"t{i}", LongType(), True) for i in range(1, len(steps) + 1)]
        )
        assert sorted(map(tuple, done.collect()), key=repr) == want_rows, (steps, window)
        if steps == ["view"]:
            assert {None, 7}.issubset(u for u, *_ in want_rows)
        else:
            assert None not in {u for u, *_ in want_rows}
        assert want_counts[0][2] >= 3  # NULL user, user 7 and user 8 start
