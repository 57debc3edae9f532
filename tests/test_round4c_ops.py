"""Round-4c operator batch: integer-exact BM25 ranked retrieval and
the corpus operators below.

Each test pins the operator against an independent pure-Python
recomputation of the documented rule on a hand-built corpus — the same
differential style as the parse-kernel tests.
"""

from __future__ import annotations

import hashlib


# ── BM25 ─────────────────────────────────────────────────────────────


def _bm25_py(docs: dict, terms: list, k: int):
    """Independent recompute of the documented integer BM25 rule."""
    posts: dict = {}
    dl: dict = {}
    for d, text in docs.items():
        ws = [w for w in text.split(" ") if w]
        dl[d] = len(ws)
        for w in ws:
            posts[(w, d)] = posts.get((w, d), 0) + 1
    ids = {d for d, n in dl.items() if n > 0}
    n_docs = len(ids)
    avgdl = sum(dl.values()) // n_docs
    df = {}
    for (w, d) in posts:
        if w in terms:
            df[w] = df.get(w, 0) + 1
    scores: dict = {}
    for (w, d), tf in posts.items():
        if w not in df:
            continue
        idf_ppm = ((2 * n_docs - 2 * df[w] + 1) * 1_000_000) // (
            2 * df[w] + 1)
        s = (idf_ppm * 44 * tf * avgdl) // (
            20 * tf * avgdl + 6 * avgdl + 18 * dl[d])
        scores[d] = scores.get(d, 0) + s
    ranked = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]
    return [(i + 1, d, s) for i, (d, s) in enumerate(ranked)]


def test_bm25_matches_python_recompute(spark):
    from logparser_spark.operators import invindex

    docs = {
        1: "spark join spark spark filter",
        2: "spark join",                          # shorter, lower tf
        3: "join join join scan scan scan scan",  # tf-heavy on one term
        4: "scan filter merge window",            # no query term
        5: "spark " + "pad " * 40,                # long doc, tf 1
    }
    df = spark.createDataFrame(
        list(docs.items()), ["doc_id", "text"]
    )
    idx = invindex.build_inverted_index(df)
    got = [(r.rank, r.doc_id, r.score_ppm)
           for r in invindex.bm25_topk(idx, ["spark", "join"], k=4)
           .collect()]
    assert got == _bm25_py(docs, ["spark", "join"], 4)
    # doc 4 (no query term) must not appear
    assert 4 not in [d for _, d, _ in got]


def test_bm25_length_normalization(spark):
    """Same tf, longer document → strictly lower score (the b term)."""
    from logparser_spark.operators import invindex

    docs = {
        1: "target aaa bbb",
        2: "target " + "pad " * 30,
    }
    df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
    idx = invindex.build_inverted_index(df)
    rows = {r.doc_id: r.score_ppm
            for r in invindex.bm25_topk(idx, ["target"], k=5).collect()}
    assert rows[1] > rows[2]


def test_bm25_dedupes_query_terms(spark):
    from logparser_spark.operators import invindex

    df = spark.createDataFrame(
        [(1, "spark scan"), (2, "scan scan")], ["doc_id", "text"]
    )
    idx = invindex.build_inverted_index(df)
    a = invindex.bm25_topk(idx, ["spark", "spark"], k=5).collect()
    b = invindex.bm25_topk(idx, ["spark"], k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bm25_log_idf_matches_textbook_ranking(spark):
    """idf_mode="log" restores standard cross-term BM25 weighting: on
    a corpus engineered so the un-logged rational idf over-weights the
    rare term and flips the order, log mode must agree with a
    float textbook BM25(k1=1.2, b=0.75) recompute — and the two modes
    must actually DISAGREE here, or the fixture proves nothing."""
    import math

    from logparser_spark.operators import invindex

    # "rare" appears in 1 doc; "common" in many. Doc 1 has one hit of
    # the rare term; doc 2 has many hits of the common term. Textbook
    # BM25 (log idf) ranks doc 2 first; the rational surrogate blows
    # the rare term's weight up exponentially and ranks doc 1 first.
    docs = {1: "rare pad pad pad",
            2: "common common common common common common pad pad"}
    for i in range(3, 23):
        docs[i] = "common pad pad pad"
    df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
    idx = invindex.build_inverted_index(df)
    terms = ["rare", "common"]

    rat = [r.doc_id for r in
           invindex.bm25_topk(idx, terms, k=2).collect()]
    log = [r.doc_id for r in
           invindex.bm25_topk(idx, terms, k=2,
                              idf_mode="log").collect()]

    # float textbook reference
    dl = {d: len(t.split()) for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(dl.values()) / n
    tf = {}
    dfreq = {}
    for d, t in docs.items():
        for w in t.split():
            tf[(w, d)] = tf.get((w, d), 0) + 1
    for (w, d) in tf:
        dfreq[w] = dfreq.get(w, 0) + 1
    scores = {}
    for (w, d), f in tf.items():
        if w not in terms:
            continue
        idf = math.log((n - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
        s = idf * f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
        scores[d] = scores.get(d, 0.0) + s
    want = [d for d, _ in
            sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:2]]

    assert log == want
    assert rat != log   # the engineered divergence is real


# ── cluster representatives ──────────────────────────────────────────


def test_cluster_representatives_argmax_and_ties(spark):
    from logparser_spark.operators.dedup import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7), (5, 7), (6, 5)],
        "doc_id long, n_chars long",
    )
    got = {r.cluster_id: r for r in
           cluster_representatives(clusters, docs).collect()}
    # cluster 1: docs 2 and 3 tie on score 30 → smallest id wins
    assert got[1].rep_id == 2 and got[1].rep_score == 30
    assert got[1].n_members == 3
    # cluster 4: tie at 7 → doc 4
    assert got[4].rep_id == 4 and got[4].n_members == 2
    # singleton
    assert got[6].rep_id == 6 and got[6].n_members == 1


# ── DSIR importance weights ──────────────────────────────────────────


def _dsir_py(docs: dict, target_ids: set, n_buckets: int):
    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15],
                   16) % n_buckets

    grams = []  # (doc, bucket, is_target)
    for d, text in docs.items():
        ws = [w for w in text.split(" ") if w]
        gs = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        grams += [(d, bucket(g), d in target_ids) for g in gs]
    r: dict = {}
    t: dict = {}
    for _, b, is_t in grams:
        r[b] = r.get(b, 0) + 1
        if is_t:
            t[b] = t.get(b, 0) + 1
    big_r, big_t = len(grams), sum(t.values())
    ratio = {
        b: ((t.get(b, 0) + 1) * (big_r + n_buckets) * 1_000_000)
        // ((r[b] + 1) * (big_t + n_buckets))
        for b in r
    }
    out = {}
    for d in docs:
        mine = [ratio[b] for dd, b, _ in grams if dd == d]
        out[d] = (len(mine),
                  sum(mine) // len(mine) if mine else 0)
    return out


def test_dsir_matches_python_recompute(spark):
    from logparser_spark.operators.corpus import dsir_weights

    docs = {
        1: "clean prose with varied words here",
        2: "clean prose again with other words",
        3: "spam spam spam spam buy now",
        4: "buy now spam offer buy now",
        5: "",  # gram-less doc must survive with zeros
    }
    df = spark.createDataFrame(
        [(d, txt, "wiki" if d <= 2 else "cc")
         for d, txt in docs.items()],
        ["doc_id", "text", "source"],
    )
    got = {r.doc_id: (r.n_grams, r.weight_ppm)
           for r in dsir_weights(df, "source = 'wiki'",
                                 n_buckets=64).collect()}
    want = _dsir_py(docs, {1, 2}, 64)
    assert got == want
    # targets must outweigh the spam slice
    assert got[1][1] > got[3][1] and got[2][1] > got[4][1]
    assert got[5] == (0, 0)


# ── T5 span corruption ───────────────────────────────────────────────


def _span_py(doc_id: int, text: str, every=7, klen=2):
    ws = [w for w in text.split(" ") if w]
    inp, tgt, k, prev = [], [], 0, False
    for p, tok in enumerate(ws):
        flag = (p + doc_id) % every < klen
        if not flag:
            inp.append(tok)
        elif not prev:
            inp.append(f"<extra_id_{k}>")
            tgt += [f"<extra_id_{k}>", tok]
            k += 1
        else:
            tgt.append(tok)
        prev = flag
    return " ".join(inp), " ".join(tgt), k


def test_span_corruption_matches_python(spark):
    from logparser_spark.operators.corpus import span_corruption

    docs = {
        0: "a b c d e f g h i j k l m n",   # spans at 0-1, 7-8, 14-15
        3: "one two three four five six",   # phase-shifted by id
        5: "x y",                           # may have no span at all
        6: "solo",
        9: "",                              # token-less
    }
    df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
    got = {r.doc_id: (r.input_text, r.target_text, r.n_spans)
           for r in span_corruption(df).collect()}
    for d, txt in docs.items():
        assert got[d] == _span_py(d, txt), (d, got[d], _span_py(d, txt))
    # structural invariants: masked+kept token counts add back up
    for d, txt in docs.items():
        ws = [w for w in txt.split(" ") if w]
        inp, tgt, k = got[d]
        kept = [t for t in inp.split(" ") if t and "extra_id" not in t]
        masked = [t for t in tgt.split(" ")
                  if t and "extra_id" not in t]
        assert len(kept) + len(masked) == len(ws)
        assert inp.count("extra_id") == k == tgt.count("extra_id")


def test_crawl_schedule_accepts_precomputed_order(spark):
    """Feeding crawl_schedule a materialized politeness_order output
    yields the identical schedule while skipping the two-level re-rank:
    the fed plan must carry strictly fewer Exchanges than the
    from-scratch plan (the round-4 audit's xchg×11 → delay-join
    increment)."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.weburl import (
        crawl_schedule,
        politeness_order,
    )

    urls = spark.createDataFrame(
        [(f"https://h{i % 5}.example.com/p/{i}",) for i in range(60)],
        ["url"],
    )
    delays = spark.createDataFrame(
        [(f"h{i}.example.com", i + 1) for i in range(3)],
        "host string, crawl_delay_s long",
    )
    order = politeness_order(urls, "url") \
        .localCheckpoint(eager=True)  # "materialized" upstream output

    scratch = crawl_schedule(urls, delays)
    fed = crawl_schedule(None, delays, order_df=order)
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(fed.collect()) == key(scratch.collect())

    def n_exchange(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        p = p.split("== Initial Plan ==")[0]
        return p.count("Exchange")

    assert n_exchange(fed) < n_exchange(scratch)
    assert n_exchange(fed) <= 3


# ── robots crawl-delay ───────────────────────────────────────────────


def test_robots_crawl_delay_rules(spark):
    from logparser_spark.operators.weburl import robots_crawl_delay

    rows = [
        # two sections: conservative max wins
        ("a", "User-agent: *\nCrawl-delay: 5\n"
              "User-agent: bot\nCRAWL-DELAY: 10 # slow\n"),
        ("b", "Crawl-delay: 2.5\n"),          # fractional → ceil → 3
        ("c", "Crawl-delay: soon\n"),         # garbage → ignored
        ("d", "User-agent: *\nDisallow: /\n"),  # no directive
        ("e", "crawl-delay:0\n"),             # zero is a valid value
        ("f", "Crawl-delay: 2.0\n"),          # whole-valued frac → 2
        ("g", None),                          # fetch failure → default
    ]
    df = spark.createDataFrame(rows, ["host", "robots_txt"])
    got = {r.host: r.crawl_delay_s
           for r in robots_crawl_delay(df).collect()}
    # one row per INPUT host — g (NULL robots_txt) must not vanish
    assert got == {"a": 10, "b": 3, "c": 1, "d": 1, "e": 0,
                   "f": 2, "g": 1}


def test_crawl_schedule_spacing_invariant(spark):
    """dispatch_s respects each host's declared spacing: within a host,
    consecutive slots are exactly crawl_delay_s apart; unknown hosts
    take the default."""
    from logparser_spark.operators.weburl import crawl_schedule

    urls = spark.createDataFrame(
        [(f"https://h{i % 3}.com/p/{i}",) for i in range(12)],
        ["url"],
    )
    delays = spark.createDataFrame(
        [("h0.com", 5), ("h1.com", 2)],
        "host string, crawl_delay_s long",
    )
    rows = crawl_schedule(urls, delays).collect()
    by_host: dict = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    for host, lst in by_host.items():
        lst.sort(key=lambda r: r.slot)
        want_delay = {"h0.com": 5, "h1.com": 2}.get(host, 1)
        for r in lst:
            assert r.crawl_delay_s == want_delay
            assert r.dispatch_s == r.slot * want_delay
    # positions are a permutation of 1..n
    assert sorted(r.position for r in rows) == list(range(1, 13))


# ── normalized exact dedup ───────────────────────────────────────────


def test_normalize_for_dedup_fold_chain(spark):
    from pyspark.sql import functions as F

    from logparser_spark.operators.dedup import normalize_for_dedup

    cases = [
        ("Hello,   World!!", "hello world"),
        # é folds, digits → 0, '-' and '№' → space, runs collapse
        ("Café-au-lait № 42", "cafe au lait 00"),
        # lower() runs before the fold, so uppercase accents fold too
        ("Áb Çd", "ab cd"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], ["i", "t"]
    )
    got = {r.i: r.n for r in df.select(
        "i", normalize_for_dedup(F.col("t")).alias("n")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_norm_exact_dedup_collapses_restyled_copies(spark):
    from logparser_spark.operators.dedup import norm_exact_dedup

    rows = [
        (1, "the cat sat"),
        (2, "The CAT sat!!"),        # case + punct
        (3, "the cát sat"),          # accent
        (4, "a different doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.canonical_id: r.n_copies
           for r in norm_exact_dedup(df).collect()}
    assert got == {1: 3, 4: 1}


# ── domain quality blocklist ─────────────────────────────────────────


def test_domain_blocklist_evidence_and_threshold(spark):
    from logparser_spark.operators.textstats import (
        domain_quality_blocklist,
        quality_score,
    )

    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks away with a calm and steady pace into the field")
    bad = "!!! ??? *** 123 456 789 000 ### $$$ %%%"
    rows = []
    # domain A: 6 good docs → kept
    rows += [(i, good + f" variant {i}", "a.com") for i in range(6)]
    # domain B: 6 bad docs → blocked
    rows += [(10 + i, bad, "b.com") for i in range(6)]
    # domain C: 2 bad docs → too small to block
    rows += [(20 + i, bad, "c.com") for i in range(2)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    # sanity: the synthetic texts land on the intended side of 75
    scores = {r.doc_id: r.quality_score
              for r in quality_score(df).collect()}
    assert scores[0] >= 75 and scores[10] < 75
    got = {r.source: r for r in domain_quality_blocklist(df).collect()}
    assert not got["a.com"].blocked and got["a.com"].n_ok == 6
    assert got["b.com"].blocked and got["b.com"].n_ok == 0
    assert not got["c.com"].blocked          # insufficient evidence
    assert got["b.com"].ok_ppm == 0
    assert got["a.com"].ok_ppm == 1_000_000
