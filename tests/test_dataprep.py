"""Training-data pipeline ops: dedup / textstats / weburl / corpus.
Invariant-style tests (the exact value parity with DuckDB is covered by
tools/check_oracle.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_exact_dedup_identity_and_dups(spark, docs):
    from logparser_spark.operators import dedup

    base = dedup.exact_dedup(docs)
    n_docs = docs.count()
    assert base.agg(F.sum("n_copies")).collect()[0][0] == n_docs

    # duplicate the table -> every group doubles, canonical ids unchanged
    doubled = docs.unionAll(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000)
    )
    d2 = dedup.exact_dedup(doubled)
    assert d2.count() == base.count()
    assert d2.filter(F.col("n_copies") < 2).count() == 0
    # canonical = min id = the original ids
    assert d2.filter(F.col("canonical_id") >= 10_000).count() == 0


def test_exact_dedup_key_is_full_digest(spark):
    """Truncated-hash grouping merges distinct texts; the full-128-bit
    key must keep them separate. A true 60-bit md5-prefix collision needs
    ~2^30 work to mine, so the test demonstrates the failure mode at a
    searchable width (16-bit prefix) and asserts exact_dedup's key is
    immune to ANY prefix truncation."""
    import hashlib

    from logparser_spark.operators import dedup

    # mine two distinct texts whose md5s agree on the first 4 hex chars
    seen: dict[str, str] = {}
    pair = None
    i = 0
    while pair is None:
        t = f"collide-{i}"
        p = hashlib.md5(t.encode()).hexdigest()[:4]
        if p in seen and seen[p] != t:
            pair = (seen[p], t)
        seen[p] = t
        i += 1
    a, b = pair
    assert hashlib.md5(a.encode()).hexdigest()[:4] == \
        hashlib.md5(b.encode()).hexdigest()[:4]

    df = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id LONG, text STRING"
    )
    # old failure mode: grouping on a truncated digest merges the two
    trunc = (
        df.groupBy(F.substring(F.md5("text"), 1, 4).alias("k"))
        .count()
    )
    assert trunc.count() == 1  # the planted collision really collides
    # exact_dedup keys on the full md5 -> they stay separate
    out = dedup.exact_dedup(df).collect()
    assert len(out) == 2
    assert all(r["n_copies"] == 1 for r in out)
    # the (md5_hi, md5_lo) BIGINT pair covers ALL 128 digest bits:
    # un-biasing and recombining the two longs reconstructs the exact
    # md5 integer of each text (so no prefix/suffix bits are dropped by
    # the fixed-width shuffle key)
    texts = {0: a, 1: b}
    for r in out:
        full = ((r["md5_hi"] + 2**63) << 64) | (r["md5_lo"] + 2**63)
        expect = int(
            hashlib.md5(texts[r["canonical_id"]].encode()).hexdigest(), 16
        )
        assert full == expect


def test_lsh_bucket_cap_bounds_degenerate_bucket(spark):
    """A degenerate bucket (many identical-signature docs) must not emit
    O(b²) candidate pairs: buckets over max_bucket are dropped before
    the pair join, while normal near-dup pairs still surface."""
    from logparser_spark.operators import dedup

    boiler = [(i, "the same boilerplate body " * 4) for i in range(60)]
    near = [
        (1000, "a genuinely unique document about spark partitioning"),
        (1001, "a genuinely unique document about spark partitioning!"),
    ]
    df = spark.createDataFrame(boiler + near, "doc_id LONG, text STRING")

    capped = dedup.lsh_candidate_pairs(df, max_bucket=50)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the 60-doc degenerate cluster (1770 pairs uncapped) is dropped...
    assert not any(a < 60 and b < 60 for a, b in got)
    # ...while the planted near-dup pair survives
    assert (1000, 1001) in got

    uncapped = dedup.lsh_candidate_pairs(df, max_bucket=None)
    n_unc = uncapped.filter(
        (F.col("id_a") < 60) & (F.col("id_b") < 60)
    ).count()
    assert n_unc == 60 * 59 // 2  # the blow-up the cap prevents


def test_lsh_finds_planted_near_dup(spark, docs):
    from logparser_spark.operators import dedup

    # plant a near-duplicate of doc 0 (append a word)
    d0 = docs.filter(F.col("doc_id") == 0)
    planted = d0.select(
        F.lit(99_999).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    aug = docs.select("doc_id", "text", "lang", "source", "n_chars").unionAll(planted)
    pairs = dedup.lsh_candidate_pairs(aug)
    hit = pairs.filter(
        (F.col("id_a") == 0) & (F.col("id_b") == 99_999)
    ).count()
    assert hit == 1
    jac = dedup.ngram_jaccard_pairs(aug, pairs)
    row = jac.filter(
        (F.col("id_a") == 0) & (F.col("id_b") == 99_999)
    ).collect()[0]
    assert row["jaccard"] > 0.9


def test_simhash_near_dup_low_hamming(spark, docs):
    from logparser_spark.operators import dedup

    d0 = docs.filter(F.col("doc_id") == 0)
    planted = d0.select(
        F.lit(99_999).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionAll(planted)
    sh = dedup.simhash(aug)
    vals = {r["doc_id"]: r["simhash"] for r in
            sh.filter(F.col("doc_id").isin([0, 99_999])).collect()}
    ham = bin(vals[0] ^ vals[99_999]).count("1")
    assert ham <= 6  # near-identical docs -> few differing bits


def test_language_id_markers(spark):
    from logparser_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze und der vogel"),
            (3, "le chat et les chiens et le loup"),
            (4, "xyzzy plugh"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r["pred_lang"]
           for r in textstats.language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_score_bounds(spark, docs):
    from logparser_spark.operators import textstats

    qs = textstats.quality_score(docs)
    bad = qs.filter(
        (F.col("quality_score") < 0) | (F.col("quality_score") > 100)
        | (F.col("alpha_ratio") < 0) | (F.col("alpha_ratio") > 1)
    ).count()
    assert bad == 0


def test_token_stats_consistency(spark, docs):
    from logparser_spark.operators import textstats

    ts = textstats.token_stats(docs)
    assert ts.filter(F.col("ws_tokens") > F.col("n_chars")).count() == 0
    assert ts.filter(F.col("rx_tokens") <= 0).count() == 0


def test_repetition_stats_edges(spark):
    """Word/2-gram repetition: hand-computed docs incl. empty and
    single-word edges; plan must stay shuffle-free (per-row arrays)."""
    from logparser_spark.operators import textstats

    df = spark.createDataFrame(
        [(1, "a b a b a"),        # topw a=3/5, 2-grams: a b, b a, a b, b a
         (2, "x"),                # single word, zero 2-grams
         (3, ""),                 # empty
         (4, "u v w"),            # all distinct
         (5, "  s   s  ")],       # ws runs filtered out
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
    assert (got[1]["n_words"], got[1]["n_distinct_words"]) == (5, 2)
    assert got[1]["top_word_frac"] == 0.6          # 3/5
    assert got[1]["top_2gram_frac"] == 0.5         # 2/4
    assert got[1]["dup_word_frac"] == 0.6          # (5-2)/5
    assert (got[2]["n_words"], got[2]["top_2gram_frac"]) == (1, 0.0)
    assert (got[3]["n_words"], got[3]["dup_word_frac"]) == (0, 0.0)
    assert got[4]["dup_word_frac"] == 0.0
    assert (got[5]["n_words"], got[5]["n_distinct_words"]) == (2, 1)
    plan = textstats.repetition_stats(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_pii_scrub_patterns(spark):
    from logparser_spark.operators import textstats

    df = spark.createDataFrame(
        [(1, "mail a.b-c_1@sub.domain.io and 192.168.0.1 ssn 123-45-6789"),
         (2, "no pii here, just words and 1234 numbers"),
         (3, "two mails x@y.com z@w.org; bad ip 999.1.2 is not 1.2.3.4x"),
         (4, "")],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in textstats.pii_scrub(df).collect()}
    assert got[1]["scrubbed_text"] == "mail <EMAIL> and <IP> ssn <SSN>"
    assert (got[1]["n_emails"], got[1]["n_ipv4"], got[1]["n_ssn"]) == (1, 1, 1)
    assert got[2]["scrubbed_text"] == \
        "no pii here, just words and 1234 numbers"  # untouched
    assert (got[2]["n_emails"], got[2]["n_ipv4"], got[2]["n_ssn"]) == (0, 0, 0)
    assert got[3]["n_emails"] == 2
    assert (got[4]["n_emails"], got[4]["scrubbed_text"]) == (0, "")

    # the deterministic feed round-trips: every planted item scrubbed
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    out = textstats.pii_scrub(textstats.with_pii(docs)).collect()
    for r in out:
        assert r["n_emails"] >= 1 and r["n_ipv4"] >= 1 and r["n_ssn"] >= 1
        s = r["scrubbed_text"]
        assert "<EMAIL>" in s and "<IP>" in s and "<SSN>" in s
        assert "@example.com" not in s


def test_canonicalize_url_rules(spark):
    """Hand-written canonical expectations per normalization rule —
    including the NON-default-port-for-the-other-scheme traps
    (http:443 and https:80 must be KEPT)."""
    from logparser_spark.operators import weburl

    cases = [
        ("HTTP://Example.COM/Path", "http://example.com/Path",
         "example.com"),                      # case: scheme+host only
        ("http://example.com:80/a", "http://example.com/a",
         "example.com"),                      # default port dropped
        ("https://example.com:443/a", "https://example.com/a",
         "example.com"),
        ("http://example.com:443/a", "http://example.com:443/a",
         "example.com"),                      # NOT the default for http
        ("https://example.com:80/a", "https://example.com:80/a",
         "example.com"),
        ("http://e.com/a#frag", "http://e.com/a", "e.com"),
        ("http://e.com", "http://e.com/", "e.com"),      # empty path
        ("http://e.com?b=2&a=1", "http://e.com/?a=1&b=2", "e.com"),
        ("http://e.com/x?utm_source=s&utm_medium=m", "http://e.com/x",
         "e.com"),                            # all-tracker query dropped
        ("http://e.com/x?", "http://e.com/x", "e.com"),  # bare '?'
        ("ftp://Files.example.net/pub", "ftp://files.example.net/pub",
         "files.example.net"),                # non-http scheme passes
        ("http://admin:pw@Example.com/a", "http://example.com/a",
         "example.com"),                      # userinfo stripped
        ("https://u@e.com:8443/a", "https://e.com:8443/a",
         "e.com"),                            # userinfo + kept port
        ("no-scheme.example.com/a", None, ""),           # not absolute
        ("", None, ""),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)],
        "id long, url string",
    )
    got = {
        r["id"]: (r["canonical_url"], r["host"])
        for r in weburl.canonicalize_url(df).collect()
    }
    for i, (u, canon, host) in enumerate(cases):
        assert got[i] == (canon, host), (u, got[i])


def test_surt_key_and_cdx_rank(spark):
    """SURT keys from hand-picked hosts, then build_cdx ranks pinned
    against a plain global row_number() — with prefix_len=3, short
    enough that one bucket spans several hosts AND one host's captures
    split across a path boundary, the adversarial case for the
    two-level prefix sum."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from logparser_spark.operators import weburl

    urls = [
        "http://www.example.com/b",
        "http://www.example.com/a?x=1",
        "https://sub.example.com/z",
        "http://example.org/",
        "http://aaa.aa/p",
        "not a url at all",        # must be excluded
        "http://example.org/",     # duplicate URL, tie broken by id
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )

    # surt_key spot checks
    canon = weburl.canonicalize_url(df)
    keyed = canon.where(F.col("canonical_url").isNotNull()).select(
        "doc_id",
        weburl.surt_key(F.col("canonical_url"), F.col("host"))
        .alias("surt_key"),
    )
    got = {r["doc_id"]: r["surt_key"] for r in keyed.collect()}
    assert got[0] == "com,example,www)/b"
    assert got[1] == "com,example,www)/a?x=1"
    assert got[2] == "com,example,sub)/z"
    assert got[3] == "org,example)/"
    assert got[4] == "aa,aaa)/p"
    assert 5 not in got

    # rank parity vs the naive single-window form, at a bucket size
    # that forces multi-host buckets and cross-bucket host splits
    cdx = {
        (r["surt_key"], r["doc_id"]): r["rank"]
        for r in weburl.build_cdx(df, prefix_len=3).collect()
    }
    naive = {
        (r["surt_key"], r["doc_id"]): r["rank"]
        for r in keyed.withColumn(
            "rank",
            F.row_number().over(Window.orderBy("surt_key", "doc_id"))
            .cast("long"),
        ).collect()
    }
    assert cdx == naive and len(cdx) == 6


def test_cdx_mega_host_bucket_split(spark):
    """A planted mega-host (one host holding nearly all captures —
    SURT prefixes collapse it into one bucket) must (a) still rank
    bit-equal to the naive global window and (b) be SUB-SPLIT past
    ``bucket_cap`` so no window partition holds the whole host."""
    import re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from logparser_spark.operators import weburl

    urls = [(i, f"http://mega.test/p{i:04d}") for i in range(40)]
    urls += [(100 + i, f"http://tiny{i}.org/x") for i in range(3)]
    df = spark.createDataFrame(urls, "doc_id long, url string")

    cdx_df = weburl.build_cdx(df, prefix_len=3, bucket_cap=4, ext_len=12)
    canon = weburl.canonicalize_url(df)
    keyed = canon.where(F.col("canonical_url").isNotNull()).select(
        "doc_id",
        weburl.surt_key(F.col("canonical_url"), F.col("host"))
        .alias("surt_key"),
    )
    naive = {
        (r["surt_key"], r["doc_id"]): r["rank"]
        for r in keyed.withColumn(
            "rank",
            F.row_number().over(Window.orderBy("surt_key", "doc_id"))
            .cast("long"),
        ).collect()
    }
    got = {(r["surt_key"], r["doc_id"]): r["rank"]
           for r in cdx_df.collect()}
    assert got == naive and len(got) == 43

    # the extended split rule (same rule the operator applies) bounds
    # every window partition: mega.test's keys differ within
    # prefix_len + ext_len = 15 chars ("tes,mega)/p0000"…), so the
    # extended buckets are singletons here — never one 40-row sort
    mega_keys = [k for (k, _d) in got if k.startswith("tes,mega)")]
    ext_buckets = {k[:15] for k in mega_keys}
    assert len(ext_buckets) == len(mega_keys)

    # and the physical plan's row-level rank window partitions by the
    # split bucket column, not the raw prefix
    plan = cdx_df._jdf.queryExecution().executedPlan().toString()
    rn = re.search(r"Window \[row_number\(\)[^\n]*", plan)
    assert rn and "__b" in rn.group(0)


def test_cdx_lookup_and_partition_pruning(spark, tmp_path):
    """cdx_lookup carries GLOBAL ranks through the prefix filter (and
    the trailing-comma form excludes sibling hosts); the partitioned
    layout serves the same lookup while touching only matching bucket
    directories (real partition pruning, asserted on the file
    listing)."""
    import re

    from pyspark.sql import functions as F

    from logparser_spark.operators import weburl

    tlds = ["com", "org", "net"]
    urls = [(i, f"http://h{i % 4}.example{i % 3}.{tlds[i % 3]}/p{i}")
            for i in range(60)]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    cdx = weburl.build_cdx(df, prefix_len=14)

    full = {(r["surt_key"], r["doc_id"]): r["rank"]
            for r in cdx.collect()}
    got = [(r["rank"], r["surt_key"], r["doc_id"])
           for r in weburl.cdx_lookup(cdx, "org,example1,").collect()]
    assert len(got) == 20
    assert all(k.startswith("org,example1,") for _, k, _d in got)
    # global ranks preserved, output in index order
    assert [r for r, _k, _d in got] == sorted(
        full[(k, d)] for _r, k, d in got
    )
    want = {(k, d) for (k, d) in full if k.startswith("org,example1,")}
    assert {(k, d) for _r, k, d in got} == want

    # partitioned layout: same rows, pruned directory listing
    path = str(tmp_path / "cdx")
    weburl.write_cdx_partitioned(cdx, path, prefix_len=5)
    pruned = weburl.cdx_lookup_pruned(spark, path, "org,example1,",
                                      prefix_len=5)
    assert [(r["rank"], r["surt_key"], r["doc_id"])
            for r in pruned.collect()] == got
    # file listing on the filter-only scan (input_file_name is a
    # scan-task value; it does not survive the orderBy exchange)
    scan = (
        spark.read.parquet(path)
        .where(F.col("__b") == "org,e")
        .where(F.col("surt_key").startswith("org,example1,"))
    )
    files = {
        r[0] for r in scan.select(F.input_file_name())
        .distinct().collect()
    }
    assert files
    touched = {re.search(r"__b=([^/]+)/", f).group(1) for f in files}
    # lookup prefix 'org,example1,'[:5] = 'org,e' — ONE bucket dir
    # of the table's three (com,e / net,e / org,e)
    assert len(touched) == 1 and next(iter(touched)).startswith("org")
    assert spark.read.parquet(path).select("__b").distinct().count() == 3
    # a shorter-than-partition prefix still prunes to its bucket range
    dom = weburl.cdx_lookup_pruned(spark, path, "org", prefix_len=5)
    assert dom.count() == 20


def test_unigram_doc_score(spark):
    """Hand-computed unigram model: corpus 'a a b' + 'a c' + '' ->
    counts a=3,b=1,c=1, total=5. Doc1 sum_freq=3+3+1=7, n=3 ->
    score = round(1e6*7/15) = 466667; doc2 = 3+1=4, n=2 ->
    round(1e6*4/10) = 400000; empty doc scores 0."""
    from logparser_spark.operators import textstats

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict()
           for r in textstats.unigram_doc_score(df).collect()}
    assert got[1] == {"doc_id": 1, "n_tokens": 3, "sum_freq": 7,
                      "score_ppm": 466667}
    assert got[2] == {"doc_id": 2, "n_tokens": 2, "sum_freq": 4,
                      "score_ppm": 400000}
    assert got[3] == {"doc_id": 3, "n_tokens": 0, "sum_freq": 0,
                      "score_ppm": 0}

    # a prebuilt (persisted) model gives identical scores — the
    # two-pass reuse path a 10^12-row pipeline would take
    from pyspark.sql import functions as F

    model = (
        df.select(F.explode(F.filter(F.split("text", " "),
                                     lambda t: F.length(t) > 0))
                  .alias("word"))
        .groupBy("word").agg(F.count("*").alias("word_count"))
        .persist()
    )
    got2 = {r["doc_id"]: r.asDict()
            for r in textstats.unigram_doc_score(df, model_df=model).collect()}
    assert got2 == got

    # out-of-vocabulary tokens (prebuilt model, newer corpus) still
    # count toward n_tokens and score as zero frequency — an inner
    # join would silently drop them and inflate the average
    newer = spark.createDataFrame(
        [(9, "a zz")], "doc_id long, text string"
    )
    [r] = textstats.unigram_doc_score(newer, model_df=model).collect()
    # model: a=3, total=5; doc: a (3) + zz (OOV, 0) over 2 tokens
    assert (r["n_tokens"], r["sum_freq"]) == (2, 3)
    assert r["score_ppm"] == (2_000_000 * 3 + 2 * 5) // (2 * 2 * 5)


def test_incremental_dedup_ledger(spark):
    """Batch-over-ledger semantics: seen digests drop ALL their batch
    copies; unseen digests dedup within the batch keep-first; appending
    the returned rows to the ledger makes a replayed batch a no-op."""
    from logparser_spark.operators import dedup

    seen_docs = spark.createDataFrame(
        [(100, "alpha"), (101, "beta")], "doc_id long, text string"
    )
    ledger = dedup.exact_dedup(seen_docs).select("md5_hi", "md5_lo")

    batch = spark.createDataFrame(
        [(1, "alpha"),            # already in the ledger -> dropped
         (2, "gamma"), (5, "gamma"),  # novel, duplicated in-batch
         (3, "delta")],
        "doc_id long, text string",
    )
    out = dedup.incremental_dedup(batch, ledger)
    got = {r["canonical_id"]: r["n_copies"] for r in out.collect()}
    assert got == {2: 2, 3: 1}

    # append-and-replay is a no-op: nothing in the batch is novel now
    ledger2 = ledger.unionAll(out.select("md5_hi", "md5_lo"))
    assert dedup.incremental_dedup(batch, ledger2).count() == 0


def test_filter_verdict_rules(spark):
    """Each gate fails in isolation on a crafted doc; a good doc keeps
    with empty reasons; reasons list failed rules in fixed order."""
    from logparser_spark.operators import textstats

    good = ("the cat and the dog of the house sat on the mat and "
            "the bird flew over the tree and all was well here")
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "der hund und die katze und der vogel sind gut "
                "zusammen in dem haus und der stadt immer froh"),  # lang
            (3, "the and of"),                   # too short (+quality)
            (4, "the " * 30 + "and of it"),      # repetition
            (5, ""),                             # everything fails
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["keep"], r["reasons"], r["pred_lang"])
           for r in textstats.filter_verdict(docs).collect()}
    assert got[1] == (True, "", "en")
    assert got[2][0] is False and got[2][1] == "lang" \
        and got[2][2] == "de"
    assert got[3][0] is False and "length" in got[3][1]
    assert got[4][0] is False and got[4][1] == "repetition"
    assert got[5][0] is False \
        and got[5][1] == "lang,length,quality"  # 0 words: rep holds
    # reasons order is fixed: lang before length before quality
    assert got[5][1].split(",") == ["lang", "length", "quality"]


def test_bloom_bitmap_properties():
    """Pure-numpy bloom law: every inserted digest tests positive (NO
    false negatives — the property the dedup routing relies on), and
    a disjoint probe set stays under a loose FPR bound."""
    import hashlib

    import numpy as np

    from logparser_spark.operators.dedup import _bloom_positions

    def digests(texts):
        hs, ls = [], []
        for t in texts:
            d = hashlib.md5(t.encode()).digest()
            hs.append(int.from_bytes(d[:8], "big") - (1 << 63))
            ls.append(int.from_bytes(d[8:], "big") - (1 << 63))
        return np.array(hs, dtype=np.int64), np.array(ls, dtype=np.int64)

    n_bits, k = 1 << 14, 4
    hi, lo = digests([f"doc-{i}" for i in range(500)])
    bm = np.zeros(n_bits // 8, dtype=np.uint8)
    pos = _bloom_positions(hi, lo, n_bits, k).ravel()
    np.bitwise_or.at(
        bm, (pos >> np.uint64(3)).astype(np.int64),
        (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
    )

    def member(h, l):
        p = _bloom_positions(h, l, n_bits, k)
        byte = (p >> np.uint64(3)).astype(np.int64)
        bit = (np.uint8(1) << (p & np.uint64(7)).astype(np.uint8))
        return ((bm[byte] & bit) != 0).all(axis=0)

    assert member(hi, lo).all()                      # no false negatives
    oh, ol = digests([f"other-{i}" for i in range(2000)])
    fpr = member(oh, ol).mean()
    assert fpr < 0.15, fpr  # theory ~5% at this load; loose bound


def test_incremental_dedup_bloom_matches_exact(spark):
    """The bloom variant is output-identical to incremental_dedup on
    the same ledger/batch, and the routing really bypasses: with a
    big bitmap, only true dups reach the verify join."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"text-{i % 40}") for i in range(100)],
        "doc_id long, text string",
    )
    ledger = dedup.exact_dedup(
        docs.where(F.col("doc_id") % 3 == 0)
    ).select("md5_hi", "md5_lo")

    base = {(r["md5_hi"], r["md5_lo"]): (r["canonical_id"], r["n_copies"])
            for r in dedup.incremental_dedup(docs, ledger).collect()}
    got = {(r["md5_hi"], r["md5_lo"]): (r["canonical_id"], r["n_copies"])
           for r in dedup.incremental_dedup_bloom(
               docs, ledger, n_bits=1 << 20).collect()}
    assert got == base and base

    # a reusable bitmap gives the same answer without rebuilding
    bloom = dedup.build_digest_bloom(ledger, n_bits=1 << 20)
    got2 = {(r["md5_hi"], r["md5_lo"]): (r["canonical_id"], r["n_copies"])
            for r in dedup.incremental_dedup_bloom(
                docs, ledger, n_bits=1 << 20, bloom=bloom).collect()}
    assert got2 == base


def test_near_dup_clusters_components(spark):
    """Hand-built pair graphs: a chain (propagation needs multiple
    rounds), a cycle, a separate pair, and singletons — every node
    labels to its component minimum."""
    from logparser_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i,) for i in range(10)], "doc_id long"
    )
    # chain 0-1-2-3-4 (diameter 4), cycle 5-6-7-5, pair 8-9
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4),
         (5, 6), (6, 7), (5, 7),
         (8, 9)],
        "id_a long, id_b long",
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.near_dup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
                   5: 5, 6: 5, 7: 5, 8: 8, 9: 8}

    # no pairs at all: everyone is their own cluster
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got2 = {r["doc_id"]: r["cluster_id"]
            for r in dedup.near_dup_clusters(docs, empty).collect()}
    assert got2 == {i: i for i in range(10)}

    # non-convergence is an ERROR, not silently-partial labels
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.near_dup_clusters(docs, pairs, max_iter=2)


def test_robots_parse_and_filter(spark):
    """parse_robots line handling (case, comments, CRLF, empty values)
    and robots_filter longest-match semantics, hand-checked."""
    from logparser_spark.operators import weburl

    robots = spark.createDataFrame(
        [("a.com",
          "User-agent: *\r\nDisallow: /x\nALLOW: /x/pub # comment\n"
          "Disallow:\n# Disallow: /commented-out\nDisallow: /y\n"),
         ("empty.com", "User-agent: *\n# nothing\n")],
        "host string, robots_txt string",
    )
    rules = {(r["host"], r["path_prefix"], r["is_allow"])
             for r in weburl.parse_robots(robots)
             .select("host", "path_prefix", "is_allow").collect()}
    assert rules == {
        ("a.com", "/x", False),
        ("a.com", "/x/pub", True),
        ("a.com", "/y", False),
    }

    pages = spark.createDataFrame(
        [(1, "a.com", "/x/secret"),     # /x disallow
         (2, "a.com", "/x/pub/page"),   # /x/pub allow (longer) wins
         (3, "a.com", "/z"),            # rules exist, none match
         (4, "a.com", "/y/deep"),       # /y disallow
         (5, "empty.com", "/x/secret"), # host with zero rules
         (6, "norobots.com", "/x")],    # host absent from rules table
        "doc_id long, host string, path string",
    )
    got = {r["doc_id"]: r["allowed"]
           for r in weburl.robots_filter(
               pages, weburl.parse_robots(robots)).collect()}
    assert got == {1: False, 2: True, 3: True, 4: False,
                   5: True, 6: True}

    # length tie: Allow wins (RFC 9309 tie-break)
    tie = spark.createDataFrame(
        [("t.com", "Allow: /dir\nDisallow: /dir\n")],
        "host string, robots_txt string",
    )
    p = spark.createDataFrame([(7, "t.com", "/dir/a")],
                              "doc_id long, host string, path string")
    [r] = weburl.robots_filter(p, weburl.parse_robots(tie)).collect()
    assert r["allowed"] is True

    # RFC 9309 special characters: '*' wildcard and end-of-URL '$';
    # regex metacharacters in rule paths are matched literally
    wild = spark.createDataFrame(
        [("w.com",
          "Disallow: /p/*/secret\nDisallow: /*.pdf$\n"
          "Disallow: /lit(x)+?\nAllow: /p/a/secret/ok\n")],
        "host string, robots_txt string",
    )
    wp = spark.createDataFrame(
        [(1, "w.com", "/p/a/secret"),        # matches /p/*/secret
         (2, "w.com", "/p/secret"),          # '*' needs >= 0 chars between
         (3, "w.com", "/doc.pdf"),           # $ anchors: disallowed
         (4, "w.com", "/doc.pdf/view"),      # not URL-end: allowed
         (5, "w.com", "/docXpdf"),           # '.' is literal: allowed
         (6, "w.com", "/lit(x)+?y"),         # metachars literal
         (7, "w.com", "/p/a/secret/ok2")],   # longer Allow beats wildcard
        "doc_id long, host string, path string",
    )
    gotw = {r["doc_id"]: r["allowed"]
            for r in weburl.robots_filter(
                wp, weburl.parse_robots(wild)).collect()}
    assert gotw == {1: False, 2: True, 3: False, 4: True, 5: True,
                    6: False, 7: True}

    # NULL host/path rows still come back with allowed = True
    np = spark.createDataFrame(
        [(8, None, "/x"), (9, "a.com", None)],
        "doc_id long, host string, path string",
    )
    gotn = {r["doc_id"]: r["allowed"]
            for r in weburl.robots_filter(
                np, weburl.parse_robots(robots)).collect()}
    assert gotn == {8: True, 9: True}


def test_tfidf_top_terms_ranking_and_model_reuse(spark):
    from logparser_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (0, "apple apple banana rare"),
            (1, "apple banana banana"),
            (2, "apple cherry"),
            (3, ""),
        ],
        "doc_id LONG, text STRING",
    )
    out = textstats.tfidf_top_terms(df, k=2)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    # N=4; idf_ppm: apple df=3 -> 1333333, banana df=2 -> 2000000,
    # rare/cherry df=1 -> 4000000
    d0 = {r["rank"]: (r["term"], r["score"]) for r in by_doc[0]}
    # doc0: rare 1*4000000 beats apple 2*1333333=2666666
    assert d0[1] == ("rare", 4_000_000)
    assert d0[2] == ("apple", 2_666_666)
    # doc1: banana 2*2000000 beats apple 1333333
    assert by_doc[1][0]["term"] == "banana"
    # empty doc contributes no rows, k caps output length
    assert 3 not in by_doc
    assert all(len(v) <= 2 for v in by_doc.values())

    # deterministic tie-break: equal scores order by term asc
    tie = textstats.tfidf_top_terms(
        spark.createDataFrame(
            [(0, "zeta alpha"), (1, "keep")], "doc_id LONG, text STRING"
        ),
        k=2,
    )
    t0 = sorted(
        [(r["rank"], r["term"]) for r in tie.collect() if r["doc_id"] == 0]
    )
    assert t0 == [(1, "alpha"), (2, "zeta")]

    # a persisted vocabulary can be supplied instead of being rebuilt
    from pyspark.sql import functions as F

    model = (
        df.select(
            "doc_id",
            F.explode(F.split("text", " ")).alias("term"),
        )
        .where(F.length("term") > 0)
        .distinct()
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("doc_freq"))
    )
    out2 = textstats.tfidf_top_terms(df, k=2, model_df=model)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, out2.collect())
    )


def test_extract_outlinks_classification(spark):
    from logparser_spark.operators import weburl

    html = (
        '<a href="https://User:pw@Ext.COM:8080/p">1</a>'
        '<a href="HTTP://ext.com/q">2</a>'
        '<a href="//cdn.net/x.js">3</a>'
        '<a href="/rel">4</a>'
        '<a href="page.html">5</a>'
        '<a href="mailto:x@y.z">6</a>'
        '<a href="javascript:void(0)">7</a>'
        '<a href="#frag">8</a>'
        "<a href=''>no-match-single-quote</a>"
    )
    pages = spark.createDataFrame(
        [(1, "me.com", html)], "doc_id LONG, host STRING, html STRING"
    )
    edges = weburl.extract_outlinks(pages).collect()
    got = [(r["href"], r["dst_host"], r["is_internal"]) for r in edges]
    # userinfo + port stripped, host lowercased; scheme case-blind;
    # protocol-relative resolved; root-relative -> own host (internal);
    # path-relative / mailto / javascript / anchors dropped
    assert got == [
        ("https://User:pw@Ext.COM:8080/p", "ext.com", False),
        ("HTTP://ext.com/q", "ext.com", False),
        ("//cdn.net/x.js", "cdn.net", False),
        ("/rel", "me.com", True),
    ]

    degs = {r["dst_host"]: tuple(r)[1:]
            for r in weburl.host_link_degrees(
                weburl.extract_outlinks(pages)).collect()}
    assert degs["ext.com"] == (2, 1, 0)
    assert degs["me.com"] == (1, 1, 1)


def test_host_pagerank_hand_computed(spark):
    from logparser_spark.operators import weburl

    edges = spark.createDataFrame(
        # A->B, A->C, B->C; C dangling; duplicate edge collapses
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "b")],
        "src_host STRING, dst_host STRING",
    )
    got = {r["host"]: r["rank"]
           for r in weburl.host_pagerank(edges, iters=1).collect()}
    # N=3, scale=1e12: r0 = 333333333333 each, base = 50000000000
    # B <- A/2 = 166666666666 -> 50e9 + (85*166666666666)//100
    # C <- A/2 + B = 499999999999 -> 50e9 + (85*499999999999)//100
    assert got == {
        "a": 50_000_000_000,
        "b": 191_666_666_666,
        "c": 474_999_999_999,
    }
    # deterministic across re-runs (integer arithmetic, no float sums)
    again = {r["host"]: r["rank"]
             for r in weburl.host_pagerank(edges, iters=1).collect()}
    assert again == got


class TestSimhashNearDup:
    def test_pigeonhole_route_equals_brute_force(self, spark):
        """With the cap disabled, the band join must find EXACTLY the
        all-pairs hamming<=3 set — the pigeonhole guarantee."""
        from pyspark.sql import functions as F

        from logparser_spark.operators import dedup

        base = "alpha beta gamma delta epsilon zeta eta theta " * 3
        texts = [base + suffix for suffix in
                 ["", "x", "x y", "qq rr ss tt uu vv ww zz", "x", ""]]
        docs = spark.createDataFrame(
            list(enumerate(texts)), ["doc_id", "text"]
        )
        got = sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.simhash_near_dup_pairs(
                docs, max_bucket=None
            ).collect()
        )
        sims = {r["doc_id"]: r["simhash"]
                for r in dedup.simhash(docs).collect()}
        brute = sorted(
            (a, b, bin(sims[a] ^ sims[b]).count("1"))
            for a in sims for b in sims
            if a < b and bin(sims[a] ^ sims[b]).count("1") <= 3
        )
        assert got == brute and len(brute) >= 3  # non-trivial corpus

    def test_max_hamming_must_be_below_bands(self, spark):
        import pytest as _pytest

        from logparser_spark.operators import dedup

        docs = spark.createDataFrame([(0, "a")], ["doc_id", "text"])
        with _pytest.raises(ValueError, match="pigeonhole"):
            dedup.simhash_near_dup_pairs(docs, max_hamming=4, bands=4)

    def test_bucket_cap_drops_degenerate_buckets(self, spark):
        from logparser_spark.operators import dedup

        # 30 identical docs: every band bucket holds all 30
        docs = spark.createDataFrame(
            [(i, "same text here") for i in range(30)],
            ["doc_id", "text"],
        )
        assert dedup.simhash_near_dup_pairs(
            docs, max_bucket=10
        ).count() == 0
        assert dedup.simhash_near_dup_pairs(
            docs, max_bucket=None
        ).count() == 30 * 29 // 2


class TestFuzzyAndSample:
    def test_sample_fixed_n_deterministic_and_uniformish(self, spark):
        from pyspark.sql import functions as F

        from logparser_spark.operators import corpus

        docs = spark.range(0, 1000).select(
            F.col("id").alias("doc_id"),
            F.col("id").cast("string").alias("text"),
        )
        s1 = sorted(r["doc_id"] for r in
                    corpus.sample_fixed_n(docs, 50).collect())
        s2 = sorted(r["doc_id"] for r in
                    corpus.sample_fixed_n(docs, 50).collect())
        assert s1 == s2 and len(s1) == 50
        s3 = sorted(r["doc_id"] for r in corpus.sample_fixed_n(
            docs, 50, salt="other|").collect())
        assert s3 != s1  # a different salt draws a different sample
        # n > rows: returns everything
        assert corpus.sample_fixed_n(docs, 5000).count() == 1000


class TestPolitenessOrder:
    def test_rounds_and_spacing(self, spark):
        from pyspark.sql import functions as F

        from logparser_spark.operators import weburl

        # 4 hosts x 6 urls, balanced
        rows = [(f"https://h{i % 4}.test/p/{i}",) for i in range(24)]
        df = spark.createDataFrame(rows, ["url"])
        out = weburl.politeness_order(df).collect()
        assert sorted(r["position"] for r in out) == list(range(1, 25))
        by_host = {}
        for r in out:
            by_host.setdefault(r["host"], []).append(
                (r["slot"], r["position"])
            )
        for host, sp in by_host.items():
            sp.sort()
            # positions increase with slot, spaced exactly n_hosts
            # apart in the balanced case
            assert [p - sp[0][1] for _, p in sp] == \
                [4 * k for k in range(6)], host
        # every round holds each host exactly once
        rounds = {}
        for r in out:
            rounds.setdefault(r["slot"], []).append(r["host"])
        for slot, hosts in rounds.items():
            assert len(hosts) == len(set(hosts)) == 4, slot

    def test_unbalanced_hosts_trail_off(self, spark):
        import hashlib

        from logparser_spark.operators import weburl

        big_urls = ["https://big.test/a", "https://big.test/b",
                    "https://big.test/c"]
        rows = [(u,) for u in big_urls] + [("https://small.test/x",)]
        df = spark.createDataFrame(rows, ["url"])
        out = {r["url"]: (r["slot"], r["position"])
               for r in weburl.politeness_order(df).collect()}
        # slot order within a host is (md5(url), url)
        md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
        big_sorted = sorted(big_urls, key=lambda u: (md5(u), u))
        # round 0: both hosts; rounds 1-2: big.test alone at the tail
        assert {out[big_sorted[0]][0],
                out["https://small.test/x"][0]} == {0}
        assert out[big_sorted[1]] == (1, 3)
        assert out[big_sorted[2]] == (2, 4)

    def test_mixed_case_scheme_keeps_host(self, spark):
        from logparser_spark.operators import weburl

        rows = [("HTTP://Big.test/a",), ("https://big.test/b",),
                ("hTtPs://OTHER.test/x",)]
        df = spark.createDataFrame(rows, ["url"])
        out = weburl.politeness_order(df).collect()
        hosts = {r["url"]: r["host"] for r in out}
        assert hosts["HTTP://Big.test/a"] == "big.test"
        assert hosts["hTtPs://OTHER.test/x"] == "other.test"
        # the two big.test urls occupy rounds 0 and 1, never one
        # pseudo-host '' bucket
        big_slots = sorted(r["slot"] for r in out
                           if r["host"] == "big.test")
        assert big_slots == [0, 1]

    def test_no_unsalted_per_host_window(self, spark):
        """The plan must never sort one whole host (or one whole slot)
        of ROW-LEVEL data in a single window partition: every
        row_number window (row_number only appears in the row-level
        ranks; the offset windows over the ≤256-row bucket aggregates
        use sum) must carry a hash-prefix salt bucket in its
        partition keys."""
        import re

        from logparser_spark.operators import weburl

        rows = [(f"https://h{i % 4}.test/p/{i}",) for i in range(24)]
        df = spark.createDataFrame(rows, ["url"])
        plan = weburl.politeness_order(df) \
            ._jdf.queryExecution().executedPlan().toString()
        rn_windows = [
            m.group(0)
            for m in re.finditer(
                r"Window \[row_number\(\)[^\]]*\], \[[^\]]*\]", plan
            )
        ]
        assert rn_windows, plan  # the ranks must still be windows
        for w in rn_windows:
            assert "__ub" in w or "__hb" in w, w


def test_gopher_quality_rules(spark):
    """Every Gopher rule (Rae et al. 2021 Table A1) against an
    INDEPENDENT python reference on an adversarial corpus: bullets,
    ellipsis line-ends, '#' symbol floods, non-alpha word floods,
    long words, empty docs, and a clean passing doc."""
    import re

    from logparser_spark.operators.textstats import (
        GOPHER_STOPWORDS,
        gopher_quality,
    )

    texts = [
        " ".join(["the quick brown fox and that dog have fun here"] * 6),
        "short text only",
        " ".join(["#tag"] * 60),
        "\n".join(["- bullet line"] * 10),
        "\n".join(["* starred"] * 9 + ["plain line"]),
        "\n".join(["ends with dots..."] * 3 + ["clean line"] * 7),
        " ".join(["12345"] * 60),
        "",
        "   \n  \n ",
        " ".join(["abcdefghijklmnop"] * 60),
        "with. the, and... that # be of to have",
        " ".join(["…"] * 55) + "\nline…",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_quality(df).collect()}

    def ref(text):
        words = [w for w in re.split(r"\s+", text) if w]
        lines = [ln for ln in text.split("\n") if ln.strip()]
        nw, nl = len(words), len(lines)
        swl = sum(len(w) for w in words)
        nsym = text.count("#") + (
            len(text) - len(text.replace("...", ""))
        ) // 3
        nbul = sum(bool(re.match(r"^[•\-*]", ln.strip()))
                   for ln in lines)
        nell = sum(bool(re.search(r"(\.\.\.|…)$", ln.strip()))
                   for ln in lines)
        nalpha = sum(bool(re.search("[A-Za-z]", w)) for w in words)
        nstop = len({w.lower() for w in words} & set(GOPHER_STOPWORDS))
        p = lambda a, b: (a * 1_000_000) // b if b > 0 else None  # noqa: E731
        m = dict(
            n_words=nw,
            mean_word_len_ppm=p(swl, nw),
            symbol_ratio_ppm=p(nsym, nw),
            bullet_line_ppm=p(nbul, nl),
            ellipsis_line_ppm=p(nell, nl),
            alpha_word_ppm=p(nalpha, nw),
            n_stop_distinct=nstop,
        )
        r = dict(
            r1=50 <= nw <= 100_000,
            r2=(m["mean_word_len_ppm"] is not None
                and 3_000_000 <= m["mean_word_len_ppm"] <= 10_000_000),
            r3=(m["symbol_ratio_ppm"] is not None
                and m["symbol_ratio_ppm"] <= 100_000),
            r4=(m["bullet_line_ppm"] is None
                or m["bullet_line_ppm"] <= 900_000),
            r5=(m["ellipsis_line_ppm"] is None
                or m["ellipsis_line_ppm"] <= 300_000),
            r6=(m["alpha_word_ppm"] is not None
                and m["alpha_word_ppm"] >= 800_000),
            r7=nstop >= 2,
        )
        r["passes"] = all(r.values())
        return {**m, **r}

    for i, t in enumerate(texts):
        want = ref(t)
        have = {k: got[i][k] for k in want}
        assert have == want, (i, t, have, want)
    assert got[0]["passes"] is True
    assert sum(r["passes"] for r in got.values()) == 1


def test_extract_anchors_and_stats(spark):
    """Anchor text extraction: visible text cleaned (inner tags
    stripped, five entities unescaped, whitespace collapsed), empty
    image-link anchors kept, dst classification identical to
    extract_outlinks, junk schemes dropped; stats fold the top text
    with the lexicographic tie-break via min(struct(-n, anchor)) —
    never a per-host rank window."""
    from logparser_spark.operators.weburl import (
        anchor_text_stats,
        extract_anchors,
        extract_outlinks,
    )

    pages = spark.createDataFrame([
        (1, "me.com",
         '<a href="https://X.com:80/a">Hello <b>World</b></a>'
         '<a class="x" href="//y.net/z">A &amp; B &lt;ok&gt;</a>'
         '<a href="/local">  spaced\n  text </a>'
         '<a href="mailto:a@b.c">drop me</a>'
         '<a href="#top">also dropped</a>'
         '<a href="https://x.com/b"><img src="i.png"/></a>'),
        (2, "me.com", '<a href="https://x.com/c">Hello <b>World</b></a>'
                      '<a href="https://x.com/d">aardvark</a>'),
    ], "doc_id long, host string, html string")

    got = sorted(
        (r["doc_id"], r["dst_host"], r["anchor"])
        for r in extract_anchors(pages).collect()
    )
    assert got == [
        (1, "me.com", "spaced text"),
        (1, "x.com", ""),
        (1, "x.com", "Hello World"),
        (1, "y.net", "A & B <ok>"),
        (2, "x.com", "Hello World"),
        (2, "x.com", "aardvark"),
    ]
    # dst classification parity with extract_outlinks (same hrefs)
    ol = sorted(
        (r["doc_id"], r["dst_host"])
        for r in extract_outlinks(
            pages.withColumnRenamed("host", "host")
        ).collect()
    )
    assert ol == sorted((d, h) for d, h, _a in got)

    stats = {
        r["dst_host"]: (r["n_anchors"], r["n_unique_texts"],
                        r["top_anchor"], r["top_n"])
        for r in anchor_text_stats(extract_anchors(pages)).collect()
    }
    # x.com: 'Hello World' x2 beats '' and 'aardvark'
    assert stats["x.com"] == (4, 3, "Hello World", 2)
    assert stats["me.com"] == (1, 1, "spaced text", 1)
    # tie case: two distinct texts with n=1 -> lexicographic smallest
    tie = anchor_text_stats(extract_anchors(spark.createDataFrame(
        [(3, "h.com", '<a href="https://t.io/1">zeta</a>'
                      '<a href="https://t.io/2">alpha</a>')],
        "doc_id long, host string, html string",
    ))).collect()
    assert (tie[0]["top_anchor"], tie[0]["top_n"]) == ("alpha", 1)


def test_parse_sitemaps(spark):
    """Sitemap protocol: urlset vs sitemapindex kinds, loc
    XML-unescape, optional lastmod/priority, ppk conversion, loc-less
    blocks dropped with their seq gap kept."""
    from logparser_spark.operators.weburl import parse_sitemaps

    urlset = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://a.com/?x=1&amp;y=2</loc>"
        "<lastmod>2024-01-02</lastmod><priority>0.7</priority></url>"
        "<url><loc> https://a.com/plain </loc></url>"
        "<url><priority>0.9</priority></url>"
        "<url><loc>https://a.com/&apos;z&apos;</loc>"
        "<priority>1.0</priority></url></urlset>"
    )
    index = (
        "<sitemapindex><sitemap><loc>https://a.com/s1.xml</loc>"
        "<lastmod>2024-02-03</lastmod></sitemap>"
        "<sitemap><loc>https://a.com/s2.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [(1, urlset), (2, index)], "sitemap_id long, xml string"
    )
    got = sorted(
        (r["sitemap_id"], r["is_index"], r["seq"], r["loc"],
         r["lastmod"], r["priority_ppk"])
        for r in parse_sitemaps(df).collect()
    )
    assert got == [
        (1, False, 0, "https://a.com/?x=1&y=2", "2024-01-02", 700),
        (1, False, 1, "https://a.com/plain", None, None),
        (1, False, 3, "https://a.com/'z'", None, 1000),
        (2, True, 0, "https://a.com/s1.xml", "2024-02-03", None),
        (2, True, 1, "https://a.com/s2.xml", None, None),
    ]


def test_dedup_lines_within_doc(spark):
    """Intra-doc line dedup: first occurrence kept, order preserved,
    blank lines dedup like any line, counts exact."""
    from logparser_spark.operators.corpus import dedup_lines_within_doc

    df = spark.createDataFrame(
        [(1, "A\nB\nA\nC\nB\nA"), (2, "x"), (3, ""),
         (4, "p\n\nq\n\np")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["text_dedup"], r["n_lines_in"],
                         r["n_lines_out"])
           for r in dedup_lines_within_doc(df).collect()}
    assert got[1] == ("A\nB\nC", 6, 3)
    assert got[2] == ("x", 1, 1)
    assert got[3] == ("", 1, 1)
    assert got[4] == ("p\n\nq", 5, 3)


def test_robots_sitemaps(spark):
    from logparser_spark.operators.weburl import robots_sitemaps

    txt = ("User-agent: *\nDisallow: /p\n"
           "# Sitemap: https://commented.out/x.xml\n"
           "Sitemap: https://a.com/s1.xml\n"
           "sitemap:https://a.com/s2.xml\n"
           "SITEMAP:   https://a.com/s1.xml\n"   # duplicate preserved
           "NotASitemap: https://a.com/no.xml\n")
    df = spark.createDataFrame([("a.com", txt)],
                               "host string, robots_txt string")
    got = sorted(r["sitemap_url"] for r in robots_sitemaps(df).collect())
    assert got == ["https://a.com/s1.xml", "https://a.com/s1.xml",
                   "https://a.com/s2.xml"]


def test_registrable_domain(spark):
    from logparser_spark.operators.weburl import registrable_domain

    cases = {
        "www.site7.co.uk": "site7.co.uk",
        "site7.co.uk": "site7.co.uk",
        "co.uk": "co.uk",                 # bare suffix: passthrough
        "a.b.site.com": "site.com",
        "site.com": "site.com",
        "localhost": "localhost",         # no dot: passthrough
        "deep.sub.x.com.au": "x.com.au",
        "WWW.Upper.CO.UK": "upper.co.uk",
        "something.co.ukx": "co.ukx",     # suffix needs label boundary
        "extra.suf.example": "party.suf.example",
    }
    df = spark.createDataFrame(
        [(h,) for h in cases
         if h != "extra.suf.example"] + [("my.party.suf.example",)],
        "host string",
    )
    got = {r["host"]: r["etld1"]
           for r in registrable_domain(
               df, extra_suffixes=["suf.example"]).collect()}
    for h, want in cases.items():
        key = "my.party.suf.example" if h == "extra.suf.example" else h
        assert got[key] == want, (key, got[key], want)


def test_rebalance_mix_rates_and_binding_stratum(spark):
    """Rate derivation: binding stratum keeps 100%, other rates scale
    by the exact rational, absent strata drop, kept counts land near
    target proportions."""
    from logparser_spark.operators.corpus import rebalance_mix

    rows = [(i, "big") for i in range(300)]
    rows += [(1000 + i, "small") for i in range(50)]
    rows += [(2000 + i, "dropme") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = rebalance_mix(df, {"big": 500_000, "small": 500_000})
    got = {(r["lang"], r["accept_ppm"]) for r in out.collect()}
    langs = {l for l, _p in got}
    assert langs == {"big", "small"}
    rates = dict(got)
    assert rates["small"] == 1_000_000           # binding stratum
    # big: floor(50 * 5e5 * 1e6 / (5e5 * 300)) = 166_666
    assert rates["big"] == 166_666
    n_big = sum(1 for r in out.collect() if r["lang"] == "big")
    assert 30 <= n_big <= 70  # ~50 expected of 300 at 16.7%


def test_tag_keywords(spark):
    from logparser_spark.operators.textstats import tag_keywords

    df = spark.createDataFrame(
        [(1, "the table scan beats a tablescan"),
         (2, "spark spark spark"),
         (3, "nothing relevant"),
         (4, "window. hash, table!")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["tags"], r["n_tags"])
           for r in tag_keywords(
               df, ["table", "scan", "spark", "window", "hash"]
           ).collect()}
    assert got[1] == (["scan", "table"], 2)   # 'tablescan' NOT matched
    assert got[2] == (["spark"], 1)
    assert got[3] == ([], 0)
    assert got[4] == (["hash", "table", "window"], 3)


def test_dq_check_null_fails_closed(spark):
    from logparser_spark.operators.corpus import dq_check

    df = spark.createDataFrame(
        [(1, "a", 1), (2, None, 2), (3, "c", 99), (4, "d", None)],
        "doc_id long, text string, v long",
    )
    got = {r["rule"]: (r["n_rows"], r["n_violations"], r["passed"])
           for r in dq_check(df, {
               "text not null": "text IS NOT NULL",
               "v in range": "v BETWEEN 1 AND 10",  # NULL v violates
               "id positive": "doc_id > 0",
           }).collect()}
    assert got == {"text not null": (4, 1, False),
                   "v in range": (4, 2, False),
                   "id positive": (4, 0, True)}


def test_incremental_lsh_matches_batch_minus_old_old(spark):
    """The incremental-LSH law: running the batch over the band/shingle
    ledger must yield EXACTLY the union-corpus batch result minus the
    ledger-internal (old-old) pairs — same pairs, same exact jaccard
    values — including a planted old↔new near-dup pair that only the
    ledger join can find."""
    from logparser_spark.operators import dedup

    base = [
        (i, f"document number {i} about spark partition strategy "
            f"with some shared vocabulary and unique token u{i}")
        for i in range(30)
    ]
    # planted near-dups: old↔old (0,1), old↔new (2, 102), new↔new
    # (103, 104)
    extra = [
        (1, base[0][1] + " tail"),
        (102, base[2][1] + "!"),
        (103, "an entirely new pair member alpha beta gamma delta "
              "epsilon zeta eta theta"),
        (104, "an entirely new pair member alpha beta gamma delta "
              "epsilon zeta eta theta!"),
    ]
    rows = dict(base)
    rows[1] = extra[0][1]
    rows[102], rows[103], rows[104] = (
        extra[1][1], extra[2][1], extra[3][1])
    old_ids = {i for i in rows if i < 100 and i % 2 == 0} | {1}
    old = spark.createDataFrame(
        [(i, t) for i, t in rows.items() if i in old_ids],
        "doc_id LONG, text STRING")
    new = spark.createDataFrame(
        [(i, t) for i, t in rows.items() if i not in old_ids],
        "doc_id LONG, text STRING")
    union = spark.createDataFrame(
        list(rows.items()), "doc_id LONG, text STRING")

    full_sh = dedup.shingle_hashes(union)
    full = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                union,
                dedup.lsh_candidate_pairs(union, shingle_df=full_sh),
                shingle_df=full_sh).collect()}
    want = {p: j for p, j in full.items()
            if not (p[0] in old_ids and p[1] in old_ids)}

    old_sh = dedup.shingle_hashes(old)
    ledger_bands = dedup.lsh_bands(
        dedup.minhash_signature(old, shingle_df=old_sh))
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.incremental_lsh_pairs(
               new, ledger_bands, old_sh).collect()}

    assert got == want
    assert (2, 102) in got          # the old↔new planted pair
    assert (0, 1) in full and (0, 1) not in got  # old-old excluded


def test_sentence_dedup_keep_first_matches_python(spark):
    """C4-rule sentence dedup vs an independent python recompute of the
    pinned split/keep-first/reassemble contract, on a corpus with
    cross-doc duplicate sentences, in-doc repeats, unterminated
    fragments, and an empty doc."""
    from logparser_spark.operators.corpus import sentence_dedup_keep_first

    docs = {
        1: "The sky is blue. Boilerplate footer. A unique one.",
        2: "Boilerplate footer. Another unique sentence! The end",
        3: "Repeat me. Repeat me. The sky is blue. Fresh tail?",
        4: "",
        5: "Boilerplate footer.",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id LONG, text STRING")
    got = {r["doc_id"]: (r["cleaned"], r["n_sents"], r["n_kept"])
           for r in sentence_dedup_keep_first(df).collect()}

    import re
    seen = {}
    split = {d: re.sub(r"([.!?]) ", "\\1\x1e", t).split("\x1e")
             for d, t in docs.items()}
    for d in sorted(split):
        for p, s in enumerate(split[d]):
            seen.setdefault(s, (d, p))
    want = {}
    for d, sents in split.items():
        kept = [s for p, s in enumerate(sents) if seen[s] == (d, p)]
        want[d] = (" ".join(kept), len(sents), len(kept))
    assert got == want
    # the rule's signature behaviors, explicitly:
    assert "Boilerplate footer." in want[1][0]       # first occurrence
    assert "Boilerplate footer" not in want[2][0]    # later ones drop
    assert "Boilerplate" not in want[5][0]
    assert want[3] == ("Repeat me. Fresh tail?", 4, 2)  # in-doc repeat
