"""Corpus-construction operators for training-data pipelines:
benchmark-contamination checking, token-window chunking (+ chunk-level
exact dedup), and deterministic stratified sampling / domain-mix
accounting.

All pure Catalyst expressions (no UDFs, no driver-side data): the only
shuffles are the ones the semantics force (the contamination hit-count
groupBy, the chunk-dedup groupBy), and the benchmark side of the
contamination join is broadcast — the shape that survives a 10^12-row
corpus against a ~10^5-n-gram benchmark suite.

Design sources are public corpus-prep practice: n-gram train/test
decontamination (GPT-3 appendix C / PaLM-style 13-gram overlap, here
parameterized), fixed-window token chunking with overlap, and
hash-bucket Bernoulli sampling for language/domain mixing. Rounding of
reported fractions uses the same integer-space half-up contract as
``textstats.quality_score`` so a DuckDB oracle reproduces every value
bit-exactly.
"""

from __future__ import annotations

from typing import Mapping

# ppm = parts-per-million: a doc is kept when its 32-bit md5 bucket
# (mod 1_000_000) falls below the stratum's rate. Deterministic in
# doc_id — re-running the pipeline reselects the identical sample.
DEFAULT_RATES_PPM: dict[str, int] = {
    "en": 620_000,
    "de": 370_000,
    "fr": 250_000,
    "es": 180_000,
}
DEFAULT_RATE_PPM = 120_000
SAMPLE_SALT = "salt42|"


def _words(text_col):
    from pyspark.sql import functions as F

    return F.filter(F.split(F.col(text_col), " "), lambda t: F.length(t) > 0)


def _r6(num, den):
    """Integer-space half-up rounding of num/den to 6 decimals (the
    cross-engine-exact form: IEEE division of exact integers)."""
    from pyspark.sql import functions as F

    return F.when(
        F.col(den) > 0,
        F.expr(f"(2000000 * {num} + {den}) div (2 * {den})")
        / F.lit(1_000_000.0),
    ).otherwise(F.lit(0.0))


def word_ngrams(df, n: int, text_col: str = "text", id_col: str = "doc_id",
                distinct: bool = True):
    """Per-row array of word ``n``-grams (space-joined), optionally
    deduplicated within the document. Pure per-row expression — the
    n-gram blow-up never leaves the row until a caller explodes it."""
    from pyspark.sql import functions as F

    grams = F.expr(
        f"CASE WHEN size(__w) >= {n} THEN "
        f"transform(sequence(1, size(__w) - {n - 1}), "
        f"i -> array_join(slice(__w, i, {n}), ' ')) "
        f"ELSE array() END"
    )
    if distinct:
        grams = F.array_distinct(grams)
    return df.select(
        F.col(id_col), _words(text_col).alias("__w")
    ).select(id_col, grams.alias("ngrams"))


def contamination_check(docs, benchmark, n: int = 5,
                        threshold_ppm: int = 100_000,
                        text_col: str = "text", id_col: str = "doc_id"):
    """Benchmark decontamination: per document, how many of its distinct
    word ``n``-grams appear anywhere in the benchmark corpus.

    Output: ``(doc_id, n_ngrams, n_contaminated, contamination_frac,
    is_contaminated)`` — ``is_contaminated`` is the exact integer
    comparison ``n_contaminated * 1_000_000 >= threshold_ppm *
    n_ngrams`` (never a float threshold), false for empty docs.

    Scale shape: the benchmark n-gram set is DISTINCT'd and broadcast
    (benchmark suites are ~10^5-10^6 n-grams against a 10^12-row
    corpus); the corpus side explodes only per-doc-distinct n-grams,
    semi-joins map-side, and aggregates hit counts with map-side
    partials on ``doc_id``. No corpus-side shuffle besides that count.
    """
    from pyspark.sql import functions as F

    grams = word_ngrams(docs, n, text_col, id_col).persist()
    bench_grams = (
        word_ngrams(benchmark, n, text_col, id_col)
        .select(F.explode("ngrams").alias("ngram")).distinct()
    )
    hits = (
        grams.select(id_col, F.explode("ngrams").alias("ngram"))
        .join(F.broadcast(bench_grams), "ngram", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )
    per_doc = grams.select(
        id_col, F.size("ngrams").cast("long").alias("n_ngrams")
    )
    return (
        per_doc.join(hits, id_col, "left")
        .select(
            id_col,
            "n_ngrams",
            F.coalesce("n_contaminated", F.lit(0)).cast("long")
            .alias("n_contaminated"),
        )
        .select(
            id_col, "n_ngrams", "n_contaminated",
            _r6("n_contaminated", "n_ngrams").alias("contamination_frac"),
            (
                (F.col("n_ngrams") > 0)
                & (F.col("n_contaminated") * 1_000_000
                   >= F.lit(threshold_ppm) * F.col("n_ngrams"))
            ).alias("is_contaminated"),
        )
    )


def chunk_documents(docs, window: int = 8, stride: int = 6,
                    text_col: str = "text", id_col: str = "doc_id"):
    """Fixed token-window chunking with overlap (``window`` tokens per
    chunk, new chunk every ``stride``): the standard pre-tokenization
    split for LLM training shards. Chunk starts are 1, 1+stride, ...
    while <= n_words, so trailing chunks may be short (kept — the
    downstream packer decides). Empty docs emit no chunks.

    Output: ``(doc_id, chunk_id, chunk_text, n_tokens)``.

    Scale shape: per-row explode with factor ~n_words/stride, no
    shuffle at all — chunking 10^12 docs is a map-only stage that
    writes straight to the shard sink.
    """
    from pyspark.sql import functions as F

    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    base = docs.select(F.col(id_col), _words(text_col).alias("__w"))
    starts = F.expr(
        f"CASE WHEN size(__w) > 0 THEN sequence(1, size(__w), {stride}) "
        f"ELSE array() END"
    )
    chunk = F.expr(f"slice(__w, __start, {window})")
    return (
        base.select(id_col, "__w",
                    F.posexplode(starts).alias("__pos", "__start"))
        .select(
            id_col,
            F.col("__pos").cast("long").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_tokens"),
        )
    )


def chunk_dedup(chunks, text_col: str = "chunk_text",
                id_col: str = "doc_id", ord_col: str = "chunk_id"):
    """Exact chunk-level dedup: one row per distinct chunk text, keeping
    the first occurrence (min (doc_id, chunk_id)) plus the copy count.
    The deterministic keep-first rule makes re-runs reproducible.

    Scale shape: a single groupBy on the md5 of the chunk — only
    digests + the packed 64-bit keeper key shuffle, never chunk bodies
    (the keeper's text is re-read by joining back on the key if needed;
    here chunks are short so we carry the text through ``min`` by the
    packed key). For 10^12 chunks switch the key to
    :func:`logparser_spark.operators.dedup.md5_s64_pair` — hex here
    keeps the oracle 1:1.
    """
    from pyspark.sql import functions as F

    # packed key contract: ord_col < 10^6 (a doc would need >6M words
    # at the default stride to overflow) and id_col < ~9.2 * 10^12
    # (int64 / 10^6); both hold for crawl corpora — a pipeline with
    # larger ids should pack into a struct key instead
    packed = (F.col(id_col) * 1_000_000 + F.col(ord_col)).alias("__k")
    return (
        chunks.select(F.md5(F.col(text_col)).alias("chunk_md5"), packed,
                      F.col("n_tokens"))
        .groupBy("chunk_md5")
        .agg(
            F.min("__k").alias("__kmin"),
            F.count("*").alias("n_copies"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .select(
            "chunk_md5",
            F.expr("__kmin div 1000000").alias("keep_doc_id"),
            (F.col("__kmin") % 1_000_000).alias("keep_chunk_id"),
            F.col("n_copies").cast("long").alias("n_copies"),
            "n_tokens",
        )
    )


def pack_chunks(chunks, budget_tokens: int = 32, n_buckets: int = 16,
                id_col: str = "doc_id", ord_col: str = "chunk_id",
                tok_col: str = "n_tokens"):
    """Concat-then-split shard packing (the pre-training "sequence
    packing" step): within a hash bucket, chunks are concatenated in
    deterministic (doc_id, chunk_id) order into a token stream that is
    cut every ``budget_tokens`` — the GPT-style packing where a chunk
    may straddle a shard boundary. With inclusive running total ``c``
    over the bucket, a chunk's shard is ``floor((c - 1) / budget)``
    (the shard its LAST token lands in), ``offset`` is its first
    token's position inside that shard (0 when it straddles in from the
    previous shard), and ``straddles`` flags boundary-crossing chunks
    (1/0) so a strict no-split consumer can drop or re-emit them.

    Output: input keys + ``(bucket, shard_id, offset, straddles)``.

    Scale shape: ONE shuffle — a window partitioned by the salted-md5
    bucket of doc_id. The bucket count bounds every window partition to
    ~corpus/n_buckets rows, so no task ever sees a global ordering, and
    shards never span buckets — exactly how a shard writer
    parallelizes output files. The running sum + integer division are
    plain window/scalar expressions, so DuckDB reproduces every value
    bit-exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if budget_tokens <= 0 or n_buckets <= 0:
        raise ValueError("budget_tokens and n_buckets must be positive")
    bucket = _bucket_expr(id_col, n_buckets).alias("bucket")
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col(id_col), F.col(ord_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = F.sum(F.col(tok_col)).over(w)
    shard = F.expr(f"(__c - 1) div {budget_tokens}")
    start = F.col("__c") - F.col(tok_col)  # tokens before this chunk
    return (
        chunks.select(bucket, id_col, ord_col, tok_col)
        .withColumn("__c", c.cast("long"))
        .select(
            "bucket", id_col, ord_col, tok_col,
            shard.alias("shard_id"),
            F.greatest(
                start - shard * budget_tokens, F.lit(0).cast("long")
            ).alias("offset"),
            (start < shard * budget_tokens).cast("int").alias("straddles"),
        )
    )


def _bucket_expr(id_col: str, n: int = 1_000_000):
    """Deterministic 0..n-1 bucket from md5 of the salted id —
    portable to any SQL engine (same salt, same substring, same hex
    parse). The single definition keeps the hash contract in one place
    for every consumer (sampling, mixing, packing)."""
    from pyspark.sql import functions as F

    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(SAMPLE_SALT),
                               F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % n
    )


def _rate_expr(lang_col: str, rates_ppm: Mapping[str, int],
               default_ppm: int):
    from pyspark.sql import functions as F

    rate = F.lit(default_ppm)
    expr = None
    for lang, ppm in rates_ppm.items():
        cond = (F.col(lang_col) == lang)
        expr = F.when(cond, F.lit(ppm)) if expr is None \
            else expr.when(cond, F.lit(ppm))
    return expr.otherwise(rate) if expr is not None else rate


def sample_stratified(docs, rates_ppm: Mapping[str, int] | None = None,
                      default_ppm: int = DEFAULT_RATE_PPM,
                      lang_col: str = "lang", id_col: str = "doc_id"):
    """Deterministic per-stratum Bernoulli sampling for language/domain
    mixing: keep a doc when its salted-md5 bucket (uniform 0..999_999,
    independent of the stratum) is below the stratum's ppm rate.

    Output: the selected rows with ``(doc_id, lang, source, bucket,
    rate_ppm)``.

    Scale shape: map-only filter over the scan — no shuffle, no RNG
    state, identical selection on re-run and across engines (the
    property Bernoulli ``df.sample`` cannot give you).
    """
    from pyspark.sql import functions as F

    rates = DEFAULT_RATES_PPM if rates_ppm is None else dict(rates_ppm)
    bucket = _bucket_expr(id_col).alias("bucket")
    rate = _rate_expr(lang_col, rates, default_ppm) \
        .cast("long").alias("rate_ppm")
    return (
        docs.select(id_col, lang_col, "source", bucket, rate)
        .where(F.col("bucket") < F.col("rate_ppm"))
    )


def domain_mix(docs, rates_ppm: Mapping[str, int] | None = None,
               default_ppm: int = DEFAULT_RATE_PPM,
               lang_col: str = "lang", id_col: str = "doc_id"):
    """Per-stratum mixing report: total docs, sampled docs, achieved
    rate (ppm, integer half-up) vs target — the acceptance check a
    mixing pipeline runs after :func:`sample_stratified`.

    One aggregation over the scan (map-side partial sums of the 0/1
    selection mask) — the sample itself is never materialized.
    """
    from pyspark.sql import functions as F

    rates = DEFAULT_RATES_PPM if rates_ppm is None else dict(rates_ppm)
    bucket = _bucket_expr(id_col)
    rate = _rate_expr(lang_col, rates, default_ppm)
    sel = F.when(bucket < rate, F.lit(1)).otherwise(F.lit(0))
    return (
        docs.select(F.col(lang_col), rate.alias("rate_ppm"),
                    sel.alias("__sel"))
        .groupBy(lang_col, "rate_ppm")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("__sel").cast("long").alias("n_sampled"),
        )
        .select(
            lang_col,
            F.col("rate_ppm").cast("long").alias("rate_ppm"),
            "n_total", "n_sampled",
            F.expr("(2000000 * n_sampled + n_total) div (2 * n_total)")
            .cast("long").alias("achieved_ppm"),
        )
    )


def paragraph_dedup(docs, min_dup: int = 2, text_col: str = "text",
                    id_col: str = "doc_id", sep: str = "\n\n"):
    """Corpus-wide paragraph-level dedup (the RefinedWeb / MassiveText
    move): split every document on ``sep``, count each paragraph's
    occurrences across the WHOLE corpus, delete paragraphs appearing
    ``>= min_dup`` times (boilerplate headers/footers/nav), and
    reassemble each document from its surviving paragraphs in original
    order.

    Output: ``(id_col, cleaned, n_paras, n_kept, n_removed)`` — one row
    per input document (``cleaned = ''`` when nothing survives).

    Scale shape: exactly the two shuffles the semantics force and
    nothing else — (1) a window count partitioned by the paragraph's
    md5 digest (equal-sized 32-byte keys shuffle, never the paragraph
    bodies twice; no join back, the count lands on the exploded row),
    (2) the reassembly groupBy on the document id. Both are plain hash
    exchanges; AQE handles the boilerplate-digest skew (a footer
    shared by 10^9 pages is one hot digest — the window count itself
    is a running count over a sorted partition, and the alternative
    two-level count-then-broadcast refinement composes here exactly
    like ``parse.with_global_line_id``'s prefix sum if a single digest
    ever overwhelms one partition).
    """
    import re as _re

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep)))
        .alias("pos", "para"),
    )
    n_copies = F.count("*").over(Window.partitionBy(F.md5(F.col("para"))))
    marked = paras.select(
        id_col, "pos", "para",
        (n_copies < F.lit(min_dup)).alias("__keep"),
    )
    kept_sorted = F.array_sort(
        F.collect_list(
            F.when(F.col("__keep"), F.struct("pos", "para"))
        )
    )
    return (
        marked.groupBy(id_col)
        .agg(
            kept_sorted.alias("__kept"),
            F.count("*").alias("n_paras"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        )
        .select(
            id_col,
            F.array_join(
                F.transform(F.col("__kept"), lambda s: s["para"]), sep
            ).alias("cleaned"),
            F.col("n_paras").cast("long").alias("n_paras"),
            F.col("n_kept").cast("long").alias("n_kept"),
            (F.col("n_paras") - F.col("n_kept")).cast("long")
            .alias("n_removed"),
        )
    )


def sentence_dedup_keep_first(docs, text_col: str = "text",
                              id_col: str = "doc_id"):
    """Corpus-wide sentence-level dedup with the C4 rule (Raffel et
    al. 2020 §2.2: any three-sentence-span/sentence occurring more
    than once in the corpus keeps its FIRST occurrence and drops the
    rest) — ORDER decides the survivor, unlike
    :func:`paragraph_dedup`'s symmetric count threshold, so a
    boilerplate disclaimer survives exactly once corpus-wide instead
    of vanishing everywhere.

    Pinned, oracle-replayable sentence split: a boundary is
    ``[.!?]`` followed by one space (the space is consumed; the
    terminator stays with its sentence; a trailing unterminated
    fragment is a sentence) — implemented as regexp_replace to a
    US-control sentinel then split, because DuckDB's RE2 has no
    lookbehind. First occurrence = minimal ``(doc_id, position)`` for
    the exact sentence string. Reassembly joins survivors with one
    space in original order.

    Output: ``(id_col, cleaned, n_sents, n_kept)`` — one row per
    input document (``cleaned = ''`` when nothing survives).

    Scale shape: same two forced shuffles as :func:`paragraph_dedup`
    — a rank window partitioned by the sentence digest (32-byte keys;
    the hot boilerplate digest is one partition whose rank scan is
    linear) and the per-doc reassembly groupBy. Map-only otherwise;
    no joins."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    sents = docs.select(
        F.col(id_col),
        F.posexplode(F.split(
            F.regexp_replace(F.col(text_col), r"([.!?]) ",
                             "$1\u001e"),
            "\u001e",
        )).alias("pos", "sent"),
    )
    w = Window.partitionBy(F.md5(F.col("sent"))).orderBy(id_col, "pos")
    marked = sents.select(
        id_col, "pos", "sent",
        (F.row_number().over(w) == 1).alias("__keep"),
    )
    kept_sorted = F.array_sort(
        F.collect_list(
            F.when(F.col("__keep"), F.struct("pos", "sent"))
        )
    )
    return (
        marked.groupBy(id_col)
        .agg(
            kept_sorted.alias("__kept"),
            F.count("*").alias("n_sents"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        )
        .select(
            id_col,
            F.array_join(
                F.transform(F.col("__kept"), lambda s: s["sent"]), " "
            ).alias("cleaned"),
            F.col("n_sents").cast("long").alias("n_sents"),
            F.col("n_kept").cast("long").alias("n_kept"),
        )
    )


def duplicate_spans(docs, k: int = 5, text_col: str = "text",
                    id_col: str = "doc_id"):
    """Exact substring-span dedup, detection half (the suffix-array
    pass of Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better", re-expressed as a window join): every
    k-token window that occurs >= 2 times ANYWHERE in the corpus is a
    duplicated substring; every occurrence except the canonical first
    (minimal ``(doc_id, pos)``) marks its k token positions; marked
    positions merge into maximal spans.

    Output: ``(id_col, span_start, span_end, span_len)`` — one row per
    maximal duplicated span (token positions, 0-based inclusive).

    Scale shape: the window explode is map-side (one row per token,
    the same fan-out as shingling); the only shuffles are (1) the
    occurrence count/rank partitioned by the window STRING (at 10^12
    rows key on xxhash64(win) instead — the count is identical, the
    rank ordering unchanged; the string key is kept here for
    bit-exact oracle parity), and (2) the per-document run-merge.
    No join back to the corpus: rank and count land on the exploded
    row via one window spec, the filter is applied in place, and the
    span merge is the classic ``pos - row_number`` islands trick —
    O(1) state per row, no collect, no cross product.

    Hot-key contract: the rank/count window partitions by the k-token
    WINDOW text, so a degenerate corpus (one phrase repeated
    corpus-wide) concentrates that phrase's occurrences in one
    partition — unlike the LSH/simhash paths there is deliberately NO
    bucket cap, because dropping occurrences would change which spans
    are detected (correctness, not candidate generation). At the
    10^12-row scale the mitigation is upstream: run
    ``dedup_lines_within_doc`` / ``paragraph_dedup`` first (they
    collapse exactly the mass that creates such keys), and key the
    window on ``xxhash64(win)`` as noted above so the sort is on
    8-byte keys.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col), _words(text_col).alias("__w")
    )
    wins = toks.select(
        id_col,
        F.posexplode(
            F.when(
                F.size("__w") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("__w") - k),
                    lambda p: F.array_join(
                        F.slice(F.col("__w"), p + 1, k), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "win"),
    )
    by_win = Window.partitionBy("win")
    ranked = wins.select(
        id_col, "pos",
        F.count("*").over(by_win).alias("__cnt"),
        F.row_number()
        .over(by_win.orderBy(id_col, "pos"))
        .alias("__rk"),
    )
    marked = (
        ranked.where((F.col("__cnt") >= 2) & (F.col("__rk") > 1))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("tp"),
        )
        .distinct()
    )
    rn = F.row_number().over(
        Window.partitionBy(id_col).orderBy("tp")
    )
    runs = marked.select(id_col, "tp", (F.col("tp") - rn).alias("__grp"))
    return (
        runs.groupBy(id_col, "__grp")
        .agg(
            F.min("tp").cast("long").alias("span_start"),
            F.max("tp").cast("long").alias("span_end"),
        )
        .select(
            id_col, "span_start", "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .alias("span_len"),
        )
    )


def strip_duplicate_spans(docs, k: int = 5, text_col: str = "text",
                          id_col: str = "doc_id"):
    """Exact substring-span dedup, removal half: delete every token
    covered by a duplicated k-window occurrence (except the corpus-wide
    first occurrence, which is kept — see :func:`duplicate_spans`) and
    reassemble each document from its surviving tokens in order.

    Output: ``(id_col, cleaned, n_tokens, n_removed)`` — one row per
    input document.

    Scale shape: the marked-position set flows back to the corpus as
    one aggregated array per affected document (left broadcast-or-hash
    join on the document id — the array is bounded by the document's
    own token count, never corpus-sized), and the token filter is a
    Catalyst lambda over the already-split array — no second explode,
    no per-row Python."""
    from pyspark.sql import functions as F

    marked = (
        duplicate_spans(docs, k=k, text_col=text_col, id_col=id_col)
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("span_start"), F.col("span_end"))
            ).alias("tp"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("tp").alias("__rm"))
    )
    toks = docs.select(
        F.col(id_col), _words(text_col).alias("__w")
    )
    joined = toks.join(marked, on=id_col, how="left").select(
        id_col, "__w",
        F.coalesce("__rm", F.array().cast("array<long>")).alias("__rm"),
    )
    kept = F.filter(
        F.col("__w"),
        lambda t, i: ~F.array_contains(F.col("__rm"), i.cast("long")),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("cleaned"),
        F.size("__w").cast("long").alias("n_tokens"),
        F.size("__rm").cast("long").alias("n_removed"),
    )


def sample_fixed_n(docs, n: int, id_col: str = "doc_id",
                   salt: str = SAMPLE_SALT):
    """Deterministic fixed-size uniform sample: the n rows whose
    salted md5 rank lowest — the reproducible eval-set/holdout
    selector (re-running over the same ids reselects the identical
    sample; changing the salt draws a fresh one). Hash order is the
    repo's cross-engine md5 contract, ties broken by the full digest
    (collision-free in practice, and the id is appended for total
    order anyway).

    Scale shape: a global top-k by hash — Spark plans TakeOrdered
    (per-partition heaps + one k-row merge), never a full sort
    materialization. Output: the sampled rows with their rank hash
    (``__h``) dropped."""
    from pyspark.sql import functions as F

    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return (
        docs.withColumn("__h", h)
        .orderBy("__h", id_col)
        .limit(n)
        .drop("__h")
    )


def dedup_lines_within_doc(docs, text_col: str = "text",
                           id_col: str = "doc_id", sep: str = "\n"):
    """INTRA-document repeated-line dedup — the cleaning step (CCNet /
    RefinedWeb style) that strips navigation chrome and boilerplate
    lines repeated WITHIN one page before corpus-wide dedup sees them:
    keep each distinct line's FIRST occurrence, preserve original
    order, rejoin.

    Output: ``(doc_id, text_dedup, n_lines_in, n_lines_out)`` —
    empty-after-strip lines count and dedup like any other line (the
    first blank survives, later blanks drop).

    Scale shape: one posexplode + one (doc_id, line) groupBy with
    map-side combine (duplicates collapse before the shuffle) + one
    per-doc fold whose state is the distinct lines of ONE document —
    bounded by page size. Order restoration is an ``array_sort`` over
    collected (first_pos, line) structs, not a window."""
    from pyspark.sql import functions as F

    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep))
        .alias("__pos", "__line"),
    )
    firsts = lines.groupBy(id_col, "__line").agg(
        F.min("__pos").alias("__pos"),
        F.count(F.lit(1)).alias("__n"),
    )
    return firsts.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("__pos", "__line")
                )),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("text_dedup"),
        F.sum("__n").cast("long").alias("n_lines_in"),
        F.count(F.lit(1)).cast("long").alias("n_lines_out"),
    )


def rebalance_mix(docs, target_ppm: Mapping[str, int],
                  lang_col: str = "lang", id_col: str = "doc_id"):
    """Downsample to a TARGET language mix at maximal size — the data-
    mixing step proper (``sample_stratified`` applies given rates;
    this DERIVES them): the binding stratum (smallest n/target ratio)
    keeps 100%, every other stratum's acceptance scales so kept counts
    are proportional to ``target_ppm`` in expectation. Exact integer
    derivation — acceptance_ppm(l) = ⌊n(l*)·t(l)·10⁶ / (t(l*)·n(l))⌋
    with the binding stratum l* chosen by exact cross-multiplied
    rational comparison (ties → lexicographically smallest lang) — so
    a SQL oracle reproduces every rate bit-for-bit; selection itself
    is the same salted-md5 bucket rule as ``sample_stratified``
    (deterministic, re-run-stable, no RNG).

    Strata absent from ``target_ppm`` get acceptance 0 (dropped — a
    mix spec is exhaustive by definition).

    Output: kept rows ``(doc_id, lang, bucket, accept_ppm)``.

    Scale shape: one per-lang count aggregate (#langs rows collected —
    driver data bounded by the lang vocabulary), then a map-only
    filter. Products stay
    ≤ n·10¹² — int64-safe to ~10⁶-row strata; past that the driver
    math widens to python bigints automatically and only the SQL
    oracle needs DECIMAL."""
    from pyspark.sql import functions as F

    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy(F.col(lang_col).alias("lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n")).collect()
        if r["lang"] in target_ppm
    }
    if not counts:
        raise ValueError("no stratum in target_ppm present in data")
    # binding stratum: min n/t by cross-multiplication, tie -> min lang
    star = min(
        counts,
        key=lambda l: (counts[l] * 10**12 // target_ppm[l], l),
    )
    # exact check the div-key above can't collide on: verify via cross
    # products (n_a * t_b <= n_b * t_a for all b)
    for b in counts:
        assert counts[star] * target_ppm[b] <= counts[b] * \
            target_ppm[star] or (
                counts[star] * target_ppm[b] == counts[b] *
                target_ppm[star] and star <= b
        )
    accept = {
        l: min(
            1_000_000,
            (counts[star] * target_ppm[l] * 1_000_000)
            // (target_ppm[star] * counts[l]),
        )
        for l in counts
    }
    bucket = _bucket_expr(id_col).alias("bucket")
    rate = _rate_expr(lang_col, accept, 0).cast("long") \
        .alias("accept_ppm")
    return (
        docs.select(id_col, F.col(lang_col).alias("lang"), bucket, rate)
        .where(F.col("bucket") < F.col("accept_ppm"))
    )


def dq_check(df, rules: Mapping[str, str]):
    """Data-quality expectation check (the deequ/Great-Expectations
    primitive a production table contract runs before publishing a
    snapshot): each rule is a boolean SQL expression that must hold
    for EVERY row; a row violates when the expression is FALSE **or
    NULL** (three-valued logic fails closed — an unexpectedly-NULL
    column is itself a quality defect).

    Output: one row per rule — ``(rule, n_rows, n_violations,
    passed)``.

    Scale shape: ONE aggregate over ONE scan regardless of rule count
    (every rule folds to a conditional sum with map-side combine);
    the per-rule unpivot happens on the single result row via
    ``stack``. No UDF, no per-rule rescans."""
    from pyspark.sql import functions as F

    if not rules:
        raise ValueError("rules must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for j, (_name, expr) in enumerate(rules.items()):
        ok = F.expr(expr)
        aggs.append(
            F.sum(
                F.when(F.coalesce(ok, F.lit(False)), 0).otherwise(1)
            ).cast("long").alias(f"__v{j}")
        )
    one = df.agg(*aggs)
    stack = ", ".join(
        "'{}', __v{}".format(name.replace("'", "''"), j)
        for j, name in enumerate(rules)
    )
    return one.select(
        F.expr(
            f"stack({len(rules)}, {stack}) AS (rule, n_violations)"
        ),
        F.col("__n").alias("n_rows"),
    ).select(
        "rule", "n_rows", "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def sample_weighted_systematic(docs, n_target: int,
                               weight_col: str = "n_chars",
                               id_col: str = "doc_id",
                               bucket_width: int = 4096):
    """Exact weight-proportional systematic sampling — the deterministic
    replacement for ``rand()``-based weighted draws: lay every document's
    (non-negative integer) weight end-to-end along an axis ordered by
    ``id_col``, drop a tick every ``step = total_weight div n_target``
    units, and select the documents whose weight interval contains a
    tick. Selection probability is proportional to weight (documents
    heavier than ``step`` are selected with certainty), the sample size
    is ``total_weight div step`` (= n_target up to the final remainder),
    and re-running the pipeline reselects the identical set — the same
    determinism contract as ``sample_stratified``'s salted-hash rule,
    but weight-exact instead of Bernoulli.

    Scale shape: the cumulative weight uses the two-level prefix-sum
    pattern of ``parse.with_global_line_id`` — intra-bucket running sums
    under a window partitioned by ``id div bucket_width`` (bounded
    partitions, never a global single-task sort), bucket totals
    prefix-summed over the tiny bucket table and broadcast back. One
    row-keyed shuffle; no global window.

    Input must carry ONE row per ``id_col`` (pre-aggregate otherwise).
    Rows with weight ≤ 0 are never selected and contribute nothing to
    the axis. If ``n_target`` exceeds the total weight the step clamps
    to 1 (every weight-1 unit is a tick: selects every positive-weight
    row). Output: ``(id_col, weight, cum_weight)`` for selected rows.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if n_target <= 0:
        raise ValueError("n_target must be positive")
    w = docs.select(
        F.col(id_col),
        F.greatest(F.col(weight_col).cast("long"), F.lit(0))
        .alias("weight"),
    )
    total = w.agg(F.sum("weight")).collect()[0][0] or 0
    if total == 0:
        return w.select(
            id_col, "weight", F.lit(0).cast("long").alias("cum_weight")
        ).filter(F.lit(False))
    step = max(total // int(n_target), 1)

    bucket = F.expr(f"`{id_col}` div {int(bucket_width)}")
    wb = w.withColumn("__b", bucket)
    w_in = (
        Window.partitionBy("__b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    intra = wb.withColumn("__cin", F.sum("weight").over(w_in))
    btot = wb.groupBy("__b").agg(F.sum("weight").alias("__bn"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.withColumn(
        "__boff", F.coalesce(F.sum("__bn").over(w_b), F.lit(0))
    ).select("__b", "__boff")
    cum = (
        intra.join(F.broadcast(boff), "__b")
        .withColumn("cum_weight", F.col("__cin") + F.col("__boff"))
    )
    # a row is selected iff a tick (multiple of step) falls inside its
    # (cum-weight, cum] interval — pure int64 `div`, engine-exact
    return (
        cum.filter(F.col("weight") > 0)
        .filter(
            F.expr(f"cum_weight div {step}")
            > F.expr(f"(cum_weight - weight) div {step}")
        )
        .select(id_col, "weight", "cum_weight")
    )


def dsir_weights(docs, target_pred: str, n_buckets: int = 4096,
                 text_col: str = "text", id_col: str = "doc_id"):
    """DSIR-style data selection weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"), made
    integer-exact in the repo's ppm discipline.

    Hashed n-gram features: every unigram and bigram of the
    whitespace-split tokens hashes into one of ``n_buckets`` buckets
    via the portable md5 ``hash64`` contract (collisions are the
    method — DSIR's features are hashed by design). Two gram
    distributions are estimated: the TARGET (docs satisfying
    ``target_pred``, the high-quality exemplar slice) and the RAW
    distribution (the whole corpus). Per bucket, the Laplace-smoothed
    probability ratio in ppm — all integer:

        ``ratio_ppm_b = ((t_b + 1) * (R + B) * 10^6)
                        div ((r_b + 1) * (T + B))``

    where ``t_b``/``r_b`` are bucket gram counts, ``T``/``R`` the
    distribution totals and ``B = n_buckets``. A document's weight is
    the mean ratio over its gram OCCURRENCES:
    ``weight_ppm = sum(ratio_ppm) div n_grams`` — the additive,
    log-free surrogate of DSIR's summed log-ratio (each per-gram term
    is monotone in the true log term; dropping the log keeps every
    intermediate an exact integer both engines reproduce bit-for-bit).
    Resample by weight with ``sample_weighted_systematic``.

    Output: ``(id_col, n_grams, weight_ppm)`` for EVERY input doc
    (gram-less docs carry 0/0).

    Scale shape: gram explode is map-only; the two count aggregations
    shuffle (bucket, count) pairs — bounded by ``n_buckets`` after
    map-side combine, not by corpus size; the bucket ratio table
    (≤ ``n_buckets`` rows) broadcasts, so scoring is one map-side
    join + one id-keyed agg. Overflow contract: the ratio numerator is
    bounded by ``(T+1) * (R+B) * 10^6`` — fits BIGINT through corpora
    of ~10^5 gram occurrences per aggregation scope; at web scale
    shard the estimate (per-snapshot buckets merge by summing counts)
    or move the one multiply to DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    w = _words(text_col)
    bigrams = F.expr(
        "CASE WHEN size(__w) >= 2 THEN "
        "transform(sequence(1, size(__w) - 1), "
        "i -> array_join(slice(__w, i, 2), ' ')) "
        "ELSE array() END"
    )
    grams = docs.select(
        F.col(id_col), F.expr(f"({target_pred})").alias("__t"),
        w.alias("__w"),
    ).select(
        id_col, "__t",
        F.explode(F.concat(F.col("__w"), bigrams)).alias("gram"),
    ).withColumn(
        "__b",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
        .cast("long") % n_buckets,
    )
    raw = grams.groupBy("__b").agg(
        F.count(F.lit(1)).cast("long").alias("r"),
        F.sum(F.col("__t").cast("long")).cast("long").alias("t"),
    )
    tot = raw.agg(
        F.sum("r").cast("long").alias("R"),
        F.sum("t").cast("long").alias("T"),
    ).collect()[0]
    big_r, big_t = int(tot["R"] or 0), int(tot["T"] or 0)
    ratio = raw.withColumn(
        "ratio_ppm",
        F.expr(
            f"((t + 1L) * ({big_r}L + {n_buckets}L) * 1000000L) div "
            f"((r + 1L) * ({big_t}L + {n_buckets}L))"
        ),
    ).select("__b", "ratio_ppm")
    scored = (
        grams.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("ratio_ppm").cast("long").alias("__s"),
        )
        .withColumn("weight_ppm", F.expr("__s div n_grams"))
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long")
            .alias("n_grams"),
            F.coalesce("weight_ppm", F.lit(0)).cast("long")
            .alias("weight_ppm"),
        )
    )


def span_corruption(docs, mask_every: int = 7, mask_len: int = 2,
                    text_col: str = "text", id_col: str = "doc_id"):
    """T5-style span-corruption pairs (Raffel et al. 2020 denoising
    objective): mask deterministic token spans, emit the sentinel-
    delimited (input, target) pair every seq2seq pretraining pipeline
    materializes from raw text.

    Pinned, seedless mask rule (deterministic ⇒ SQL-replayable and
    re-run-stable): token position ``p`` (0-based) is masked iff
    ``(p + doc_id) % mask_every < mask_len`` — spans are runs of
    ``mask_len`` tokens, phase-shifted per document by the id.
    Span ``k`` is written as ``<extra_id_k>`` in BOTH sequences:
    the input keeps unmasked tokens and one sentinel per span; the
    target lists each sentinel followed by the tokens it hides. All
    pieces join with single spaces.

    Output: ``(doc_id, input_text, target_text, n_spans)``; token-less
    docs yield empty strings and 0 spans.

    Scale shape: the whole construction is ONE per-row ``aggregate``
    fold over the token sequence — map-only codegen, no explode, no
    shuffle, no UDF; the token blow-up never leaves the row. The fold
    state accumulates token ARRAYS (one ``array_join`` at the end),
    not growing strings — per-token immutable string concat would
    re-copy every accumulated byte each step, i.e. O(n²) bytes per
    document, which a 10⁴-token doc turns into real CPU."""
    from pyspark.sql import functions as F

    empty = F.array().cast("array<string>")
    init = F.struct(
        F.lit(0).alias("k"),
        F.lit(False).alias("prev"),
        empty.alias("inp"),
        empty.alias("tgt"),
    )

    def step(acc, p):
        tok = F.element_at(F.col("__w"), p + 1)
        flag = ((p + F.col(id_col)) % mask_every) < mask_len
        sent = F.concat(F.lit("<extra_id_"),
                        acc["k"].cast("string"), F.lit(">"))
        start = flag & ~acc["prev"]
        return F.struct(
            F.when(start, acc["k"] + 1).otherwise(acc["k"]).alias("k"),
            flag.alias("prev"),
            F.when(~flag, F.array_append(acc["inp"], tok))
            .when(start, F.array_append(acc["inp"], sent))
            .otherwise(acc["inp"]).alias("inp"),
            F.when(start, F.array_append(
                acc["tgt"], F.concat(sent, F.lit(" "), tok)))
            .when(flag, F.array_append(acc["tgt"], tok))
            .otherwise(acc["tgt"]).alias("tgt"),
        )

    # sequence(0, -1) would yield a DESCENDING [0, -1] for token-less
    # docs (Spark's implicit step), so the empty case gets an empty
    # array explicitly — aggregate over it returns `init` untouched.
    seq = F.when(
        F.size("__w") > 0, F.sequence(F.lit(0), F.size("__w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    folded = F.aggregate(seq, init, step)
    return docs.select(
        F.col(id_col), _words(text_col).alias("__w")
    ).select(
        id_col,
        F.array_join(folded["inp"], " ").alias("input_text"),
        F.array_join(folded["tgt"], " ").alias("target_text"),
        folded["k"].cast("long").alias("n_spans"),
    )


def cdc_chunks(docs, k: int = 8, divisor: int = 16,
               text_col: str = "text", id_col: str = "doc_id"):
    """Content-defined chunking (the rsync/FastCDC boundary trick,
    simplified to a pinned deterministic rule): a chunk boundary falls
    after every position whose k-gram hash ≡ 0 (mod ``divisor``), so
    expected chunk length is ``divisor`` + k and — the point —
    boundaries move WITH the content: inserting a prefix shifts every
    fixed-window chunk but leaves all content-defined chunks after the
    first boundary untouched. Fixed-window ``chunk_documents`` finds
    zero duplicates between a doc and its shifted copy; this finds all
    of them.

    Pinned semantics (no min/max chunk clamps — the production knobs
    FastCDC adds — so the rule replays in one SQL expression): k-gram
    hashes use the md5 ``hash64`` contract; cut points are
    ``{i + k - 1 : hash(text[i:i+k]) % divisor = 0, cut < len}`` plus
    ``len``; chunks are the substrings between consecutive cuts.
    Empty documents yield no chunks.

    Pure per-row Catalyst array expressions (transform/filter over
    positions — the winnowing cost shape, O(len·k) per row, no UDF,
    no shuffle); output one row per chunk: ``(id_col, chunk_idx,
    chunk, chunk_hash)`` via ONE posexplode.
    """
    from pyspark.sql import functions as F

    from .dedup import hash64

    gram_hash = (
        f"cast(conv(substring(md5(substring({text_col}, i, {k})), 1, 15),"
        f" 16, 10) AS BIGINT)"
    )
    cuts = (
        f"filter(transform(sequence(1, greatest(length({text_col})"
        f" - {k - 1}, 0)), i -> IF({gram_hash} % {divisor} = 0,"
        f" i + {k - 1}, -1)), x -> x > 0 AND x < length({text_col}))"
    )
    cuts2 = f"concat({cuts}, array(length({text_col})))"
    chunks = (
        f"CASE WHEN length({text_col}) = 0 THEN array() "
        f"ELSE transform(sequence(1, size(__cuts)), j -> "
        f"substring({text_col},"
        f" IF(j = 1, 0, element_at(__cuts, j - 1)) + 1,"
        f" element_at(__cuts, j)"
        f" - IF(j = 1, 0, element_at(__cuts, j - 1)))) END"
    )
    base = docs.select(
        F.col(id_col), F.col(text_col), F.expr(cuts2).alias("__cuts")
    ).select(
        id_col,
        F.posexplode(F.expr(chunks)).alias("chunk_idx", "chunk"),
    )
    return base.select(
        id_col, "chunk_idx", "chunk",
        hash64(F.col("chunk")).alias("chunk_hash"),
    )


def cdc_duplicate_chunks(docs, k: int = 8, divisor: int = 16,
                         min_copies: int = 2, min_len: int = 4,
                         text_col: str = "text", id_col: str = "doc_id"):
    """Cross-document duplicate-chunk report over content-defined
    chunks: for every chunk hash seen ``min_copies``+ times (and at
    least ``min_len`` chars — single-char chunks are noise), the copy
    count, how many distinct documents share it, and the canonical
    (smallest (doc, idx)) occurrence. ONE hash-keyed aggregate over the
    chunk stream — the digest-only-shuffle dedup shape."""
    from pyspark.sql import functions as F

    ch = cdc_chunks(docs, k=k, divisor=divisor,
                    text_col=text_col, id_col=id_col)
    return (
        ch.where(F.length("chunk") >= int(min_len))
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.min(F.struct(
                F.col(id_col).alias("d"), F.col("chunk_idx").alias("i")
            )).alias("__c"),
        )
        .where(F.col("n_copies") >= int(min_copies))
        .select(
            "chunk_hash", "n_copies", "n_docs",
            F.col("__c.d").alias("canonical_doc"),
            F.col("__c.i").alias("canonical_idx"),
        )
    )
