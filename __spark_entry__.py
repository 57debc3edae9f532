"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse→enrich→route→aggregate pipeline
at sf0.001. ``queries()`` exposes one callable per implemented operator
from SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent SQL over
the same parquet tables.

Oracle strategy: the pages table is synthesized *deterministically* from
``documents.doc_id`` (logparser_spark/sources/pages.py), so DuckDB can
reconstruct the exact same logical rows with pure SQL: the 62-line golden
corpus is embedded as a VALUES table, per-doc lines come from a LATERAL
range, and the format-spec parse is re-expressed as an anchored RE2 regex
(independent of our Python/pandas parser — the regex is exact for the
golden corpus, whose lines never hit the walker-only edge cases; those
edge cases are pinned by tests/test_oracle_parser.py instead).

Column-name discipline: every computed column is aliased identically on
the Spark and SQL sides; numeric aggregates are cast to BIGINT on the SQL
side to match Spark's LongType.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
from logparser_spark.operators import aggregate as agg
from logparser_spark.operators import enrich
from logparser_spark.operators.parse import explode_lines, parse_lines
from logparser_spark.operators.route import fixture_sinks, sink_column
from logparser_spark.plans.ship import ship_package
from logparser_spark.sources.corpus import GOLDEN_LINES
from logparser_spark.sources.pages import TLDS, build_pages_from_documents

_SPEC = compile_format(DEFAULT_FORMAT)
# second format for the multi-format cascade: matches the corpus's
# hex-dump lines (gid 25-28), which the default format rejects
HEX_FORMAT = (
    "{INT:B0}x{STR:H0} {INT:B1}x{STR:H1} "
    "{INT:B2}x{STR:H2} {INT:B3}x{STR:H3} {STR:Tag}"
)
_HEX_SPEC = compile_format(HEX_FORMAT, "hexdump")
_SINKS = fixture_sinks()


# ── Spark-side building blocks ────────────────────────────────────────


def _prep(spark: SparkSession) -> None:
    """Make the package importable inside Arrow workers regardless of the
    driver's cwd (spark-submit --py-files analog; plans/ship.py)."""
    try:
        ship_package(spark)
    except Exception:
        pass  # local cwd import still works in-tree


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    return build_pages_from_documents(spark, sf_dir)


def _lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return explode_lines(
        _pages(spark, sf_dir), keep_cols=["doc_id", "url", "lang"]
    )


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_lines(_lines(spark, sf_dir), _SPEC)


def _sink(name: str):
    return next(s for s in _SINKS if s.name == name)


def _parsed_fields(df: DataFrame) -> DataFrame:
    """Project the named parsed fields under stable lowercase aliases."""
    from pyspark.sql import functions as F

    return df.select(
        "doc_id",
        "line_no",
        F.col("parsed.Date").alias("f_date"),
        F.col("parsed.Time").alias("f_time"),
        F.col("parsed.Level").alias("level"),
        F.col("parsed.Source").alias("source"),
        F.col("parsed.Mesg").alias("mesg"),
        F.col("parsed.well_formed").alias("well_formed"),
    )


# ── Spark-side queries ────────────────────────────────────────────────


def q_parse_metrics(spark, sf_dir):
    return agg.parse_metrics(_parsed(spark, sf_dir))


def q_matched_format_counts(spark, sf_dir):
    return agg.counts_by_matched_format(_parsed(spark, sf_dir))


def q_matched_format_counts_multi(spark, sf_dir):
    from logparser_spark.operators.parse import parse_lines_multi
    from pyspark.sql import functions as F

    parsed = parse_lines_multi(
        _lines(spark, sf_dir), [_SPEC, _HEX_SPEC],
        drop_cols=["raw_line", "url", "lang"],
    )
    return parsed.groupBy("matched_format").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_global_line_ids(spark, sf_dir):
    """True file-global line ordinal via the two-level prefix sum
    (no global sort / zipWithIndex) — reference line_num parity."""
    from logparser_spark.operators.parse import with_global_line_id

    lines = _lines(spark, sf_dir).select("doc_id", "line_no")
    return with_global_line_id(lines, bucket_width=64)


def q_parsed_render(spark, sf_dir):
    """P10 parsed-line render (parsing_data.cpp:32-54) over all
    well-formed lines, byte-compared against a string-concat oracle."""
    from logparser_spark.operators.parse import render_parsed

    p = _parsed(spark, sf_dir)
    return render_parsed(p, _SPEC).filter("parsed.well_formed").select(
        "doc_id", "line_no", "rendered"
    )


def q_level_histogram(spark, sf_dir):
    return agg.field_histogram(_parsed(spark, sf_dir), "Level").withColumnRenamed(
        "Level", "level"
    )


def q_sink_counts(spark, sf_dir):
    return agg.sink_count_frame(_parsed(spark, sf_dir), _SINKS, _SPEC, spark)


def _route_rows(spark, sf_dir, sink_name: str) -> DataFrame:
    p = _parsed(spark, sf_dir)
    return _parsed_fields(p.filter(sink_column(_sink(sink_name), _SPEC)))


def q_route_info_rows(spark, sf_dir):
    return _route_rows(spark, sf_dir, "sink_info")


def q_route_mixed_rows(spark, sf_dir):
    return _route_rows(spark, sf_dir, "sink_mixed").select(
        "doc_id", "line_no", "level", "f_time"
    )


def q_route_window_rows(spark, sf_dir):
    return _route_rows(spark, sf_dir, "sink_window").select(
        "doc_id", "line_no", "level"
    )


def q_route_rsvp_rows(spark, sf_dir):
    return _route_rows(spark, sf_dir, "sink_rsvp").select(
        "doc_id", "line_no", "source", "mesg"
    )


def q_route_not_rows(spark, sf_dir):
    return _route_rows(spark, sf_dir, "sink_not").select(
        "doc_id", "line_no", "level"
    )


def q_route_badfmt_rows(spark, sf_dir):
    from pyspark.sql import functions as F

    p = _parsed(spark, sf_dir)
    return p.filter(sink_column(_sink("sink_badfmt"), _SPEC)).select(
        "doc_id", "line_no", F.col("raw_line").alias("raw_line")
    )


def q_raw_lines(spark, sf_dir):
    """Byte-identity of the exploded raw lines (explode/CRLF semantics)."""
    return _lines(spark, sf_dir).select("doc_id", "line_no", "raw_line")


def q_text_identity(spark, sf_dir):
    """Per-url byte-identical extracted text (BASELINE.json invariant)."""
    return _pages(spark, sf_dir).select("url", "text")


def q_enriched_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    p = _parsed(spark, sf_dir).filter(F.col("parsed.well_formed"))
    e = enrich.enrich_all(p, spark)
    return e.groupBy("lang_name", "region", "severity").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_local_global_map(spark, sf_dir):
    """V3: filtered-view row number (local id) ↔ raw line id, per doc."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    v = _parsed(spark, sf_dir).filter(sink_column(_sink("sink_info"), _SPEC))
    w = Window.partitionBy("doc_id").orderBy("line_no")
    return v.select(
        "doc_id",
        "line_no",
        (F.row_number().over(w) - 1).alias("local_id"),
    )


def q_search_first(spark, sf_dir):
    """N4: first accepted line per doc containing 'Ioctl' + 1-based char pos."""
    from pyspark.sql import functions as F

    lines = _lines(spark, sf_dir)
    hits = lines.filter(F.col("raw_line").contains("Ioctl"))
    first = hits.groupBy("doc_id").agg(
        F.min("line_no").alias("line_no"),
        F.min(F.struct("line_no", F.locate("Ioctl", F.col("raw_line")).alias("p")))[
            "p"
        ].cast("long").alias("pos"),
    )
    return first.select("doc_id", "line_no", "pos")


def q_bucket_tally(spark, sf_dir):
    return agg.bucket_tally(_parsed(spark, sf_dir), buckets=32)


def q_host_tally(spark, sf_dir):
    """Skew diagnostic: pages per url host (3 hot hosts own ~70%)."""
    from pyspark.sql import functions as F

    pages = _pages(spark, sf_dir)
    return pages.groupBy(
        enrich.url_host(F.col("url")).alias("host")
    ).agg(F.count(F.lit(1)).alias("n"))


# ── oracle SQL ────────────────────────────────────────────────────────

# Anchored RE2 regex for the default format
# `{INT:Date} {INT:Time} {STR:Level} :{CHR:,.,1}{STR:Source}: {STR:Mesg}`.
# Exact on the golden corpus: every well-formed corpus line fills every
# field (no trailing-optionality) and contains no walker-only edge cases
# (signed ints, atof divergence) — those are covered by the pytest oracle.
_RX = r"^([0-9]+)[ \t]*([0-9]+)[ \t]*([^ \t]*)[ \t]*:(\.)\.*([^:]*):[ \t]*(.*)$"


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _corpus_cte() -> str:
    rows = ",\n      ".join(
        f"({i}, {_sql_quote(l)})" for i, l in enumerate(GOLDEN_LINES)
    )
    return f"corpus(gid, raw_line) AS (VALUES\n      {rows})"


def _prelude(through: str = "parsed") -> str:
    """Shared WITH-prelude reconstructing pages→lines→parsed in DuckDB."""
    tld_list = ", ".join(_sql_quote(t) for t in TLDS)
    ctes = [
        _corpus_cte(),
        f"""pages0 AS (
      SELECT doc_id, lang,
        CASE WHEN doc_id % 10 < 7 THEN 'hot' || (doc_id % 3)::VARCHAR
             ELSE 'h' || (doc_id % 97)::VARCHAR END AS host,
        ([{tld_list}])[(doc_id % 6) + 1] AS tld
      FROM documents)""",
        """pages AS (
      SELECT doc_id, lang, host, tld,
        'https://' || host || '.' || tld || '/doc-' || doc_id::VARCHAR AS url
      FROM pages0)""",
        """lines0 AS (
      SELECT p.doc_id, p.url, p.lang, t.line_no,
             ((p.doc_id * 7 + t.line_no) % 62) AS gid
      FROM pages p
      CROSS JOIN LATERAL (SELECT unnest(range((p.doc_id % 62) + 1)) AS line_no) t)""",
        """lines AS (
      SELECT l.doc_id, l.url, l.lang, l.line_no, c.raw_line
      FROM lines0 l JOIN corpus c USING (gid))""",
        f"""parsed0 AS (
      SELECT *, regexp_matches(raw_line, {_sql_quote(_RX)}) AS well_formed
      FROM lines)""",
        f"""parsed AS (
      SELECT doc_id, url, lang, line_no, raw_line, well_formed,
        CASE WHEN well_formed THEN TRY_CAST(regexp_extract(raw_line, {_sql_quote(_RX)}, 1) AS BIGINT) END AS f_date,
        CASE WHEN well_formed THEN TRY_CAST(regexp_extract(raw_line, {_sql_quote(_RX)}, 2) AS BIGINT) END AS f_time,
        CASE WHEN well_formed THEN regexp_extract(raw_line, {_sql_quote(_RX)}, 3) END AS level,
        CASE WHEN well_formed THEN regexp_extract(raw_line, {_sql_quote(_RX)}, 5) END AS source,
        CASE WHEN well_formed THEN regexp_extract(raw_line, {_sql_quote(_RX)}, 6) END AS mesg
      FROM parsed0)""",
    ]
    order = ["corpus", "pages0", "pages", "lines0", "lines", "parsed0", "parsed"]
    n = order.index(through) + 1
    return "WITH " + ",\n    ".join(ctes[:n])


# sink predicates re-expressed in SQL; each is the *filter* part only —
# the acceptance rule OR's in malformed rows (accept_bad_format=true).
_SINK_PREDS = {
    "sink_info": "level = 'INFO'",
    "sink_late": "f_time >= 85409",
    "sink_rsvp": "contains(lower(source), 'rsvp') AND starts_with(mesg, 'state')",
    "sink_mixed": "((level = 'INFO' OR level = 'EVENT') <> (f_time < 85353))",
    "sink_window": "line_no BETWEEN 10 AND 50",
    "sink_not": "NOT (level = 'TRACE')",
    "sink_badfmt": "(level = 'INFO' AND level = 'TRACE')",
}


def _accept(pred: str) -> str:
    return f"((NOT well_formed) OR (well_formed AND ({pred})))"


def _route_sql(sink: str, cols: str) -> str:
    return f"""{_prelude()}
    SELECT {cols} FROM parsed WHERE {_accept(_SINK_PREDS[sink])}"""


_LANG_DIM_SQL = """dim_lang(lang, lang_name, lang_family) AS (VALUES
      ('en','English','Germanic'), ('de','German','Germanic'),
      ('fr','French','Romance'), ('es','Spanish','Romance'))"""
_TLD_DIM_SQL = """dim_tld(tld, region, is_cc) AS (VALUES
      ('com','global',false), ('org','global',false), ('net','global',false),
      ('de','europe',true), ('fr','europe',true), ('io','europe',true))"""
_STATUS_DIM_SQL = """dim_status(level, severity, is_error) AS (VALUES
      ('TRACE',0,false), ('INFO',1,false), ('EVENT',2,false),
      ('WARN',3,true), ('ERROR',4,true))"""


# ── training-data pipeline queries (documents table) ─────────────────


def q_exact_dedup(spark, sf_dir):
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.exact_dedup(docs)


def q_incremental_dedup(spark, sf_dir):
    """Batch-over-ledger dedup: every third document stands in for the
    already-ingested corpus (its digests form the ledger); the full
    table arrives as the new batch and only never-seen digests survive,
    keep-first within the batch."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = dedup.exact_dedup(
        docs.where(F.col("doc_id") % 3 == 0)
    ).select("md5_hi", "md5_lo")
    return dedup.incremental_dedup(docs, seen)


def q_minhash_signature(spark, sf_dir):
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_signature(docs)


def q_lsh_pairs(spark, sf_dir):
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.lsh_candidate_pairs(docs)


def q_ngram_jaccard(spark, sf_dir):
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the shingle explode (~len(text) rows/doc) is the dominant cost of
    # the near-dup stack at scale — compute it ONCE, persist, and feed
    # the LSH pipeline AND all three jaccard consumers from it (Spark's
    # ReusedExchange can't dedupe logically-equal recomputes across
    # these five subtrees)
    shingles = dedup.shingle_hashes(docs).persist()
    pairs = dedup.lsh_candidate_pairs(docs, shingle_df=shingles)
    return dedup.ngram_jaccard_pairs(
        docs, pairs, shingle_df=shingles
    )


def q_incremental_lsh(spark, sf_dir):
    """Batch-over-ledger NEAR-dup (the LSH analog of
    q_incremental_dedup): every third document's LSH band buckets and
    shingle hashes form the persisted ledger; the remaining documents
    arrive as the new batch; output is the verified-jaccard pairs
    touching at least one batch document. The oracle replays the
    full-union LSH pipeline and keeps exactly the non-ledger-internal
    pairs — the incremental law pinned by
    test_incremental_lsh_matches_batch_minus_old_old."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)
    old_sh = dedup.shingle_hashes(old)
    ledger_bands = dedup.lsh_bands(
        dedup.minhash_signature(old, shingle_df=old_sh)
    )
    return dedup.incremental_lsh_pairs(new, ledger_bands, old_sh)


def q_sentence_dedup(spark, sf_dir):
    """C4-rule corpus-wide sentence dedup: a sentence duplicated
    anywhere in the corpus keeps only its FIRST occurrence (minimal
    (doc_id, position)); documents are reassembled from survivors in
    order. The oracle replays the pinned sentinel split, the
    keep-first rank and the space-joined reassembly."""
    from logparser_spark.operators.corpus import sentence_dedup_keep_first

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sentence_dedup_keep_first(docs)


# Pinned grok pattern for the driver query: a classic access-log shape
# exercising composed library macros, literal regex between macros,
# typed coercions and the malformed-line NULL contract. Compiled ONCE
# at module import so the Spark query and the DuckDB oracle replay the
# IDENTICAL regex (the grok library is pinned to the java.util.regex ∩
# RE2 dialect subset precisely so this sharing is sound).
_GROK_ACCESS = (
    r'%{IPV4:client_ip} - %{NOTSPACE:ruser} \[%{INT:req_id:int}\] '
    r'"%{WORD:method} %{URIPATH:path} HTTP/%{NUMBER:httpver}" '
    r'%{INT:status:int} %{INT:bytes:int}'
)


def q_grok_parse(spark, sf_dir):
    """Grok front-end end-to-end (the north rule's 'grok/regex parse'
    surface, complementing the reference's positional format DSL):
    synthesize one access-log-style line per event row — every 7th
    deliberately malformed — then parse with the Catalyst-only grok
    projection (rlike gate + per-field regexp_extract, typed casts,
    NULL fields on miss). The oracle REPLAYS the parse: DuckDB builds
    the byte-identical line and evaluates the identical compiled
    regex via grok_oracle_exprs — it parses, it does not predict."""
    from pyspark.sql import functions as F

    from logparser_spark.functions.grok import compile_grok, grok_parse

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid, uid = F.col("event_id"), F.col("user_id")
    ip = F.concat_ws(
        ".", F.lit("10"),
        (F.expr("user_id div 65536") % 256).cast("string"),
        (F.expr("user_id div 256") % 256).cast("string"),
        (uid % 256).cast("string"),
    )
    status = F.element_at(
        F.array(F.lit(200), F.lit(301), F.lit(404), F.lit(503)),
        ((eid % 4) + 1).cast("int"),
    )
    line = F.when(
        eid % 7 == 0,
        F.concat(F.lit("BADLINE "), F.col("event_type")),
    ).otherwise(F.concat(
        ip, F.lit(" - u"), uid.cast("string"),
        F.lit(" ["), eid.cast("string"), F.lit('] "GET /e/'),
        F.col("event_type"), F.lit("/"), eid.cast("string"),
        F.lit(' HTTP/1.1" '), status.cast("string"), F.lit(" "),
        ((eid * 17) % 100000).cast("string"),
    ))
    parsed = grok_parse(
        ev.select("event_id", line.alias("raw_line")),
        compile_grok(_GROK_ACCESS),
    )
    return parsed.select(
        "event_id", "grok_matched", "client_ip", "ruser", "req_id",
        "method", "path", "httpver", "status", "bytes",
    )


def q_near_dup_clusters(spark, sf_dir):
    """Transitive near-dup clustering: LSH candidate pairs → connected
    components via min-label propagation (cluster_id = min doc id in
    the component; canonical row = doc_id == cluster_id). The DuckDB
    oracle computes the same fixpoint with a recursive CTE."""
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.lsh_candidate_pairs(docs)
    return dedup.near_dup_clusters(docs, pairs)


def q_cluster_representatives(spark, sf_dir):
    """Quality-argmax representative per near-dup cluster (keep the
    longest member, ties to the smallest id): LSH pairs → connected
    components → one map-side-combined max(struct) per cluster. The
    oracle extends the recursive-CTE clustering with a rank window."""
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.lsh_candidate_pairs(docs)
    clusters = dedup.near_dup_clusters(docs, pairs)
    return dedup.cluster_representatives(clusters, docs)


def q_norm_exact_dedup(spark, sf_dir):
    """Normalized (CCNet-fold) exact dedup: every doc plus three
    re-styled copies (uppercased / trailing punctuation / accented
    'a') must hash to ONE normalized digest with the original id
    canonical. The oracle replays the fold chain and the digest
    grouping in SQL."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    i, t = F.col("doc_id"), F.col("text")
    variants = (
        docs
        .unionAll(docs.select((i + 1_000_000).alias("doc_id"),
                              F.upper(t).alias("text")))
        .unionAll(docs.select((i + 2_000_000).alias("doc_id"),
                              F.concat(t, F.lit(" !!!")).alias("text")))
        .unionAll(docs.select((i + 3_000_000).alias("doc_id"),
                              F.translate(t, "a", "á").alias("text")))
    )
    return dedup.norm_exact_dedup(variants)


def q_simhash(spark, sf_dir):
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash(docs)


def q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs via the pigeonhole band join: any pair
    within Hamming distance 3 of the 32-bit fingerprint shares one of
    the 4 8-bit bands verbatim, so candidates come from a bucketed
    equality join (size-capped like LSH) and the exact bit_count(xor)
    verifies each. The oracle recomputes fingerprints, bands, cap and
    verification in SQL — completeness of the pigeonhole route and the
    bit math are both checked."""
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash_near_dup_pairs(docs)


def q_fingerprint(spark, sf_dir):
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.doc_fingerprint(docs)


def q_language_id(spark, sf_dir):
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.language_id(docs)


def q_quality_score(spark, sf_dir):
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.quality_score(docs)


def q_domain_blocklist(spark, sf_dir):
    """Domain-level quality filtering: per-source share of docs whose
    composite quality score passes 75, blocked when a domain with ≥5
    docs keeps under 60% — the RefinedWeb-style whole-host drop. The
    oracle recomputes the per-doc score and both counters in SQL."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.domain_quality_blocklist(docs)


def q_token_stats(spark, sf_dir):
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.token_stats(docs)


def q_repetition_stats(spark, sf_dir):
    """Gopher-style word/2-gram repetition filters as per-row Catalyst
    array expressions — no explode, no shuffle (the plan-shape test
    locks this): the scalable form of the repetition scan at 10^12
    docs, where an explode+groupBy would shuffle ~10^15 word rows."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.repetition_stats(docs)


def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4s / SSN-shaped ids) with typed
    placeholders + per-kind counts — pure regexp_replace/extract_all in
    RE2-compatible patterns. The feed plants deterministic PII
    (arithmetic in doc_id) so the oracle predicts both the scrubbed
    text and the counts exactly."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.pii_scrub(textstats.with_pii(docs))


def q_robots_allowed(spark, sf_dir):
    """robots.txt gate: 20 hosts, half with real Allow/Disallow rules
    (longest-match, allow-wins-ties, inline comments) and half with a
    rule-free robots file; four path families exercise deeper-allow-
    overrides-disallow, no-match, and plain-disallow. The oracle
    predicts every verdict by construction."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    s = i.cast("string")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("site"), (i % 20).cast("string")).alias("host"),
        F.when(i % 4 == 0, F.concat(F.lit("/private/x"), s))
        .when(i % 4 == 1, F.concat(F.lit("/private/ok"), s))
        .when(i % 4 == 2, F.concat(F.lit("/public/"), s))
        .otherwise(F.concat(F.lit("/tmp"), s)).alias("path"),
    )
    robots_src = docs.where(i < 20).select(
        F.concat(F.lit("site"), s).alias("host"),
        F.when(
            i < 10,
            F.lit("User-agent: *\nDisallow: /private\n"
                  "Allow: /private/ok\ndisallow: /tmp # temp dirs\n"),
        ).otherwise(F.lit("User-agent: *\n# no rules\n"))
        .alias("robots_txt"),
    )
    rules = weburl.parse_robots(robots_src)
    return weburl.robots_filter(pages, rules).select(
        "doc_id", "host", "path", "allowed"
    )


def q_crawl_frontier(spark, sf_dir):
    """Full-frontier integration — the crawl pipeline end to end in
    one query: parse each host's robots.txt into rules AND a
    Crawl-delay (fractional, exercising the ceil contract), gate every
    candidate URL through the longest-match robots filter, and emit
    the politeness-ordered dispatch schedule for exactly the allowed
    URLs. Composes parse_robots → robots_filter → robots_crawl_delay →
    crawl_schedule; the oracle predicts the allowed set and the delays
    by construction and replays the schedule arithmetic."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    s = i.cast("string")
    host = F.concat(F.lit("site"), (i % 20).cast("string"),
                    F.lit(".example.com"))
    path = (
        F.when(i % 4 == 0, F.concat(F.lit("/private/x"), s))
        .when(i % 4 == 1, F.concat(F.lit("/private/ok"), s))
        .when(i % 4 == 2, F.concat(F.lit("/public/"), s))
        .otherwise(F.concat(F.lit("/tmp"), s))
    )
    pages = docs.select(
        "doc_id", host.alias("host"), path.alias("path"),
        F.concat(F.lit("https://"), host, path).alias("url"),
    )
    robots_src = docs.where(i < 20).select(
        F.concat(F.lit("site"), s, F.lit(".example.com")).alias("host"),
        F.when(
            i < 10,
            F.concat(
                F.lit("User-agent: *\nDisallow: /private\n"
                      "Allow: /private/ok\nCrawl-delay: "),
                (i % 4 + 1).cast("string"), F.lit(".5\n"),
            ),
        ).otherwise(F.lit("User-agent: *\n# no rules\n"))
        .alias("robots_txt"),
    )
    rules = weburl.parse_robots(robots_src)
    allowed = (
        weburl.robots_filter(pages, rules)
        .where(F.col("allowed"))
        .select("url")
    )
    delays = weburl.robots_crawl_delay(robots_src)
    return weburl.crawl_schedule(allowed, delays)


def q_crawl_delays(spark, sf_dir):
    """Crawl-delay extraction over synthesized robots files: valid
    lines (odd casing, inline comment, multiple sections taking the
    conservative max), a fractional delay that must be CEILed (2.5 →
    3, never undercut), a garbage value that must be ignored, and a
    NULL robots_txt (fetch failure) that must STILL yield one output
    row at the default — the explode_outer contract. The oracle
    predicts every delay by construction."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    s = i.cast("string")
    robots_src = docs.where(i < 24).select(
        F.concat(F.lit("site"), s).alias("host"),
        F.when(i % 4 == 0, F.concat(
            F.lit("User-agent: *\nCRAWL-DELAY: "), (i % 7 + 2).cast("string"),
            F.lit(" # be nice\nUser-agent: fastbot\ncrawl-delay: 1\n"),
        ))
        .when(i % 4 == 1, F.lit(
            "User-agent: *\nCrawl-delay: 2.5\n"))   # fractional → ceil → 3
        .when(i % 4 == 2, F.lit(
            "User-agent: *\nCrawl-delay: soon\n"))  # garbage → ignored
        # i % 4 == 3: NULL robots_txt (fetch failure) → default row
        .alias("robots_txt"),
    )
    return weburl.robots_crawl_delay(robots_src)


def q_crawl_schedule(spark, sf_dir):
    """End-to-end frontier schedule: politeness slots over 37 hosts
    joined with Crawl-delay parsed from each host's synthesized
    robots.txt (every third host declares one; the rest take the
    default), yielding concrete per-URL dispatch offsets. The oracle
    restates the plain-window ordering, the by-construction delays,
    and the slot×delay arithmetic."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    urls = docs.select(
        F.concat(
            F.lit("https://site"), (i % 37).cast("string"),
            F.lit(".example.com/p/"), i.cast("string"),
        ).alias("url")
    )
    robots_src = docs.where(i < 37).select(
        F.concat(F.lit("site"), i.cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.when(i % 3 == 0, F.concat(
            F.lit("User-agent: *\nCrawl-delay: "),
            (i % 5 + 2).cast("string"), F.lit("\n"),
        )).otherwise(F.lit("User-agent: *\nDisallow: /tmp\n"))
        .alias("robots_txt"),
    )
    delays = weburl.robots_crawl_delay(robots_src)
    return weburl.crawl_schedule(urls, delays)


def q_bigram_score(spark, sf_dir):
    """Conditional-bigram LM quality scoring (the rung above
    unigram_score): add-1-smoothed p(w2|w1) in integer ppm — model,
    history mass and vocabulary all built from the corpus itself, the
    whole score kept in exact 64-bit integer division so the oracle
    reproduces it bit for bit (a float log-perplexity would drift in
    the last ulp across engines)."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.bigram_doc_score(docs)


def q_fix_mojibake(spark, sf_dir):
    """Double-encoding repair: synthesize per-document mojibake
    ('café' shipped as 'cafÃ©'; every third doc ships clean accented
    text that must pass through UNTOUCHED), then repair with the pure
    Catalyst encode/decode pair gated by the signature + Latin-1
    round-trip + valid-UTF-8 conditions. The oracle states the
    repaired text by construction — a false positive on the clean
    docs or a missed/garbled repair both mismatch."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.fix_mojibake(
        textstats.synth_mojibake(docs), text_col="text2"
    )


def q_sample_fixed_n(spark, sf_dir):
    """Deterministic fixed-size uniform sample: the 25 documents with
    the lowest salted-md5 rank — Spark plans TakeOrdered (per-partition
    heaps, one 25-row merge), never a full sort. The oracle states the
    same ORDER BY hash LIMIT n, so membership AND content must
    match."""
    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.sample_fixed_n(docs, 25).select("doc_id", "text")


def q_parse_date_spec(spark, sf_dir):
    """The DATE field type end-to-end (engine extension — the
    reference README promises DATE 'incoming' but never shipped it):
    lines '<date> <n> INFO :m<n>' with the date components arithmetic
    in doc_id, so roughly a third of rows carry CALENDAR-INVALID dates
    (day 29-31 in short months, plus Feb 29 across leap and non-leap
    years) and must come back malformed. The oracle never parses: it
    rebuilds y/m/d arithmetically, restates the Gregorian validity
    rule in SQL, and predicts both the typed DATE value and the
    well_formed bit."""
    from pyspark.sql import functions as F

    from logparser_spark.functions.formats import compile_format
    from logparser_spark.operators.parse import parse_lines_arrow

    _prep(spark)
    spec = compile_format(
        "{DATE:Day} {INT:Num} {STR:Level} :{STR:Msg}", name="datefmt"
    )
    parsed = parse_lines_arrow(_date_lines(spark, sf_dir), spec)
    return parsed.select(
        "doc_id",
        F.col("parsed.Day").alias("day"),
        F.col("parsed.Num").alias("num"),
        F.col("parsed.Msg").alias("msg"),
        F.col("parsed.well_formed").alias("well_formed"),
    )


def _date_lines(spark, sf_dir):
    """Shared synth for the DATE queries: '<date> <n> INFO :m<n>' with
    y/m/d arithmetic in doc_id (~1/3 calendar-invalid)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    i = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.lpad((1899 + (i % 203)).cast("string"), 4, "0"),
            F.lit("-"),
            F.lpad(((i % 12) + 1).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad(((i % 31) + 1).cast("string"), 2, "0"),
            F.lit(" "), i.cast("string"), F.lit(" INFO :m"),
            i.cast("string"),
        ).alias("raw_line"),
    )


def q_route_date_rows(spark, sf_dir):
    """Typed DATE filtering end-to-end: route the date-spec lines
    through a composed filter '(Day GE 1950-06-15) AND (Day ST
    2050-03-01)' — the comparisons run on a real DateType column, so
    calendar order (not string order) decides; malformed lines are
    rejected by the acceptance rule. The oracle restates the same
    range over arithmetically rebuilt dates."""
    from pyspark.sql import functions as F

    from logparser_spark.functions.formats import compile_format
    from logparser_spark.operators.filters import CombinedFilter, parse_filter
    from logparser_spark.operators.parse import parse_lines_arrow
    from logparser_spark.operators.route import SinkSpec

    _prep(spark)
    spec = compile_format(
        "{DATE:Day} {INT:Num} {STR:Level} :{STR:Msg}", name="datefmt"
    )
    flt = CombinedFilter(
        left=parse_filter("Day GE 1950-06-15", spec),
        right=parse_filter("Day ST 2050-03-01", spec),
        op="AND",
    )
    parsed = parse_lines_arrow(_date_lines(spark, sf_dir), spec)
    return parsed.where(
        sink_column(SinkSpec("dates", flt, accept_bad_format=False), spec)
    ).select(
        "doc_id",
        F.col("parsed.Day").alias("day"),
        F.col("parsed.Num").alias("num"),
    )


def q_dedup_doc_lines(spark, sf_dir):
    """Intra-document repeated-line dedup: each doc becomes six lines
    A,B,A,C,B,A built from arithmetic tokens; dedup must keep the
    first occurrence of each and reassemble A,B,C in order. The
    oracle rebuilds the output arithmetically."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.corpus import dedup_lines_within_doc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    a = F.concat(F.lit("alpha "), (i % 13).cast("string"))
    b = F.concat(F.lit("beta "), (i % 7).cast("string"))
    c = F.concat(F.lit("gamma "), (i % 5).cast("string"))
    text = F.concat_ws("\n", a, b, a, c, b, a)
    return dedup_lines_within_doc(
        docs.select("doc_id", text.alias("text"))
    )


def q_robots_sitemaps(spark, sf_dir):
    """Sitemap: directives from robots.txt (RFC 9309 §2.3): synth
    robots files carrying two directives in different casings plus
    rule lines and comments that must not match; oracle arithmetic."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.weburl import robots_sitemaps

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    host = F.concat(F.lit("site"), (i % 50).cast("string"),
                    F.lit(".com"))
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"
              "# Sitemap: https://commented.out/x.xml\n"
              "Sitemap: https://"),
        host, F.lit("/sitemap.xml\nAllow: /public\nSITEMAP:   https://"),
        host, F.lit("/sitemap-news.xml\n"),
    )
    return robots_sitemaps(
        docs.select(host.alias("host"), txt.alias("robots_txt"))
            .distinct()
    )


def q_host_components(spark, sf_dir):
    """Connected components over the extracted host web graph (the
    companion to host_pagerank): min-label propagation — the SAME
    operator the dedup pipeline uses for transitive near-dup clusters
    (labels are strings here; min = lexicographic). The oracle
    computes the exact fixpoint independently with a RECURSIVE CTE
    (reachability closure + min over reachable labels), so the
    iterate-until-converged loop is checked against a closed-form
    answer, not a re-run of itself."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.dedup import near_dup_clusters
    from logparser_spark.operators.weburl import extract_outlinks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = extract_outlinks(_outlink_pages(docs)).select(
        F.col("src_host").alias("id_a"), F.col("dst_host").alias("id_b")
    ).distinct()
    hosts = (
        edges.select(F.col("id_a").alias("host"))
        .union(edges.select("id_b"))
        .distinct()
    )
    return near_dup_clusters(hosts, edges, id_col="host").select(
        "host", F.col("cluster_id").alias("component_id")
    )


def q_dq_check(spark, sf_dir):
    """Table-contract expectation check over the documents snapshot:
    five rules in ONE aggregate over ONE scan (conditional sums with
    map-side combine, stack-unpivoted) — three that hold, one that
    deliberately fails on every fifth doc, and a NULL-fails-closed
    rule. Oracle restates each conditional sum."""
    from logparser_spark.operators.corpus import dq_check

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dq_check(docs, {
        "n_chars consistent": "n_chars = length(text)",
        "lang known": "lang IN ('en','de','fr','es','zh')",
        "text non-empty": "length(text) > 0",
        "doc_id not multiple of 5": "doc_id % 5 <> 0",
        "source set": "source IS NOT NULL AND source <> ''",
    })


def q_span_corruption(spark, sf_dir):
    """T5-style span corruption: deterministic phase-shifted mask
    spans, sentinel-delimited (input, target) pair per doc built in
    ONE per-row aggregate fold (map-only, no explode). The oracle
    rebuilds the same pair with window functions + ordered
    string_agg."""
    from logparser_spark.operators.corpus import span_corruption

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return span_corruption(docs)


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (hashed unigram+bigram features, 4096
    md5 buckets): target distribution = the 'curated' sources
    src1/src2/src3, raw = the whole corpus; per-bucket Laplace ratio
    and per-doc mean ratio all in exact integer ppm. The oracle
    rebuilds grams, buckets, both distributions and every weight in
    SQL."""
    from logparser_spark.operators.corpus import dsir_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_weights(
        docs, "source IN ('src1','src2','src3')", n_buckets=4096
    )


def q_rebalance_mix(spark, sf_dir):
    """Downsample to a target language mix (equal shares over
    en/de/fr/es; zh dropped): the binding stratum keeps 100%, every
    acceptance rate is derived with exact integer cross-multiplied
    rationals, selection is the salted-md5 bucket rule. The oracle
    re-derives the binding stratum (NOT EXISTS over cross products),
    every rate, and the kept rows."""
    from logparser_spark.operators.corpus import rebalance_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return rebalance_mix(docs, {
        "en": 250_000, "de": 250_000, "fr": 250_000, "es": 250_000,
    })


def q_tag_keywords(spark, sf_dir):
    """Dictionary tagging via one RE2 alternation (the Aho-Corasick
    use case inside codegen): five corpus-vocabulary keywords matched
    as whole words, sorted distinct tags per doc. Oracle runs the
    identical pattern through DuckDB's RE2."""
    from logparser_spark.operators.textstats import tag_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tag_keywords(
        docs, ["table", "scan", "spark", "window", "hash"]
    )


def q_etld1(spark, sf_dir):
    """Registrable-domain (eTLD+1) extraction: five host shapes per
    doc_id (multi-label public suffixes .co.uk/.com.au/.co.jp, plain
    .com, deep .org subdomains, plus a mixed-case row). Oracle emits
    the expected registrable domain arithmetically."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.weburl import registrable_domain

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    k = (i % 40).cast("string")
    host = (
        F.when(i % 5 == 0, F.concat(F.lit("www.site"), k, F.lit(".co.uk")))
        .when(i % 5 == 1, F.concat(F.lit("sub.deep.site"), k,
                                   F.lit(".com.au")))
        .when(i % 5 == 2, F.concat(F.lit("site"), k, F.lit(".com")))
        .when(i % 5 == 3, F.concat(F.lit("a.b.site"), k, F.lit(".org")))
        .otherwise(F.concat(F.lit("WWW.Site"), k, F.lit(".CO.JP")))
    )
    return registrable_domain(
        docs.select("doc_id", host.alias("host"))
    ).select("doc_id", "host", "etld1")


def q_sitemap_urls(spark, sf_dir):
    """Sitemap-protocol parsing over arithmetic XML: every 10th doc is
    a <sitemapindex> (two child pointers, lastmod on the first), the
    rest are <urlset> leaves with three <url> entries — escaped-&amp;
    query on entry 2, lastmod only on entry 0, priority (ppk) on
    entries 0 and 2, entry 1 loc-less and therefore DROPPED with its
    seq gap kept. The oracle rebuilds every row arithmetically."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.weburl import parse_sitemaps

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    site = F.concat(F.lit("https://site"), (i % 50).cast("string"),
                    F.lit(".com"))
    idx_xml = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex><sitemap><loc>'),
        site, F.lit("/sitemap1.xml</loc><lastmod>2024-01-"),
        F.lpad(((i % 27) + 1).cast("string"), 2, "0"),
        F.lit("</lastmod></sitemap><sitemap><loc>"),
        site, F.lit("/sitemap2.xml</loc></sitemap></sitemapindex>"),
    )
    urlset_xml = F.concat(
        F.lit("<urlset><url><loc> "), site, F.lit("/p/"),
        i.cast("string"),
        F.lit(" </loc><lastmod>2023-12-0"),
        ((i % 9) + 1).cast("string"),
        F.lit("</lastmod><priority>0."),
        (i % 10).cast("string"),
        F.lit("</priority></url><url><priority>0.5</priority></url>"
              "<url><loc>"),
        site, F.lit("/q?a=1&amp;b="), (i % 7).cast("string"),
        F.lit("</loc><priority>1.0</priority></url></urlset>"),
    )
    sitemaps = docs.select(
        F.col("doc_id").alias("sitemap_id"),
        F.when(i % 10 == 0, idx_xml).otherwise(urlset_xml).alias("xml"),
    )
    return parse_sitemaps(sitemaps)


def q_anchor_text_stats(spark, sf_dir):
    """Anchor-text corpus per destination host (the CC anchor-text
    signal) over the shared arithmetic outlink pages: the anchors are
    'a'..'d' by link kind, so the oracle rebuilds (dst_host, anchor)
    arithmetically — zero regex — and re-derives totals, distincts,
    and the deterministic top text independently of the extractor."""
    from logparser_spark.operators.weburl import (
        anchor_text_stats,
        extract_anchors,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return anchor_text_stats(extract_anchors(_outlink_pages(docs)))


def q_gopher_quality(spark, sf_dir):
    """The Gopher quality-filter battery (Rae et al. 2021 Table A1)
    over the documents table, every ratio an integer ppm and every
    rule verdict a boolean — the oracle restates all seven rules in
    SQL, so thresholds, floor divisions, NULL-word edge cases and the
    final conjunction are all checked bit-for-bit."""
    from logparser_spark.operators.textstats import gopher_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_quality(docs)


def q_politeness_order(spark, sf_dir):
    """Crawl-frontier politeness scheduling: deterministic URLs over
    37 hosts (derived from doc_id), per-host fetch rounds, and the
    global fetch rank built two-level (per-slot row_number + broadcast
    slot offsets — never a single-partition frontier sort). The oracle
    states the same ordering with a plain global window, so the
    two-level construction must agree rank-for-rank."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = docs.select(
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 37).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return weburl.politeness_order(urls)


def q_unigram_score(spark, sf_dir):
    """Corpus-unigram LM quality scoring (CCNet-style): build the
    unigram table from the corpus itself, then score each document by
    its average token frequency — integer-exact ppm, DECIMAL-widened
    against the 10^12-token overflow."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.unigram_doc_score(docs)


def q_normalize_text(spark, sf_dir):
    """Unicode NFC + control-strip + whitespace-collapse normalization:
    every third document gets a planted messy suffix (decomposed e +
    combining acute, a BEL control byte, a run of spaces, decomposed
    A + ring) that must compose/strip/collapse; the rest get a clean
    suffix and must come back byte-identical with changed=false. The
    oracle predicts the normalized string BY CONSTRUCTION
    (precomposed forms in the SQL literal) - it never runs a
    normalizer at all."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    messy = F.concat(
        F.col("text"),
        F.lit(" café\x07  Å end"),
    )
    clean = F.concat(F.col("text"), F.lit(" end"))
    feed = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, messy).otherwise(clean)
        .alias("text"),
    )
    return textstats.normalize_text(feed)


def q_tfidf_top(spark, sf_dir):
    """Top-3 TF-IDF terms per document over the corpus's own
    vocabulary — integer-exact IDF (N*10^6 div doc_freq) so the
    ranking and every score reproduce bit-for-bit in SQL; ties broken
    by term so the top-3 cut is deterministic."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.tfidf_top_terms(docs, k=3)


def _messy_url_pages(docs):
    """Shared synth for the URL queries: five messiness families
    (mixed-case scheme/host, default and non-default ports, utm_*
    trackers, unsorted params, fragments, missing path, non-URL
    garbage), all arithmetic in doc_id so every oracle predicts the
    canonical form by construction."""
    from pyspark.sql import functions as F

    i = F.col("doc_id")
    h = (i % 50).cast("string")
    m = (i % 7).cast("string")
    s = i.cast("string")
    url = (
        F.when(i % 5 == 0, F.concat(
            F.lit("HTTP://WWW.Site"), h, F.lit(".COM:80/a/"), s,
            F.lit("?utm_source=x&b="), m, F.lit("&a=1#frag")))
        .when(i % 5 == 1, F.concat(
            F.lit("https://Site"), h, F.lit(".org:443/p"), s))
        .when(i % 5 == 2, F.concat(
            F.lit("https://site"), h, F.lit(".net:8443/x?utm_a=1&utm_b=2")))
        .when(i % 5 == 3, F.concat(F.lit("http://site"), h, F.lit(".com")))
        .otherwise(F.concat(F.lit("not a url "), s))
    )
    return docs.select("doc_id", url.alias("url"))


def q_canonical_urls(spark, sf_dir):
    """URL canonicalization over five messiness families — the
    oracle predicts every canonical string BY CONSTRUCTION from doc_id,
    independently of the regex pipeline."""
    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weburl.canonicalize_url(_messy_url_pages(docs)).select(
        "doc_id", "canonical_url", "host"
    )


def q_cdx_index(spark, sf_dir):
    """CDX capture index: canonicalize the messy-URL corpus, derive
    SURT keys (reversed host + path), and rank every capture in the
    GLOBAL SURT order via the two-level prefix-sum (no global sort,
    no single-partition window over data rows). The oracle recomputes
    each family's SURT key arithmetically and ranks with a plain
    row_number() — so a rank mismatch anywhere flags the distributed
    ranking, not fixture drift."""
    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weburl.build_cdx(_messy_url_pages(docs), prefix_len=10)


def q_cdx_lookup(spark, sf_dir):
    """The CDX query primitive: all captures under the SURT prefix
    ``com,site5,`` (the subdomain-closure form — matches
    www.site5.com but NOT the sibling hosts site50..site59, the trap
    the trailing comma exists for), carrying their GLOBAL index ranks
    through the filter unchanged."""
    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cdx = weburl.build_cdx(_messy_url_pages(docs), prefix_len=10)
    return weburl.cdx_lookup(cdx, "com,site5,")


def q_filter_verdict(spark, sf_dir):
    """The corpus keep/drop filter chain (C4/FineWeb-style): language
    + length + quality + repetition gates in one projection, with the
    failed-rule reasons string. The oracle recomputes every gate from
    raw text — integer inequality for repetition, IEEE-double raw
    ratios at the quality thresholds, so no rounding contract is in
    play anywhere."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.filter_verdict(docs)


def q_term_search(spark, sf_dir):
    """Inverted-index conjunctive search: build positional postings
    from the corpus, AND-match ['spark', 'window'], score by total tf,
    deterministic top-10. The oracle recomputes postings from the raw
    text in SQL — so the index build, the AND arity check and the
    tie-broken ranking all verify independently."""
    from logparser_spark.operators import invindex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = invindex.build_inverted_index(docs)
    return invindex.term_search(idx, ["spark", "window"], k=10)


def q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (OR semantics) over the inverted index,
    integer-exact: idf is the exact ppm-scaled argument of the classic
    log-idf (monotone, so per-term ranking is preserved), tf
    normalization is k1=1.2/b=0.75 cleared of denominators into one
    integer rational, and avgdl uses pinned truncating division. The
    oracle rebuilds postings, document lengths, corpus stats and every
    per-(doc,term) score from the raw text in SQL."""
    from logparser_spark.operators import invindex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = invindex.build_inverted_index(docs)
    return invindex.bm25_topk(idx, ["spark", "vector", "join"], k=15)


def q_phrase_search(spark, sf_dir):
    """Positional phrase search for the bigram 'batch batch' (the
    repeated-term case — a run of three counts twice): exact
    occurrence counts from position-list intersection, verified
    against a SQL self-join on adjacent positions."""
    from logparser_spark.operators import invindex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = invindex.build_inverted_index(docs)
    return invindex.phrase_search(idx, "batch", "batch")


def _outlink_pages(docs):
    """Shared synth for the outlink/web-graph queries: pages whose
    hrefs are all arithmetic in doc_id (see q_outlink_degrees)."""
    from pyspark.sql import functions as F

    i = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="HTTP://Site'),
        ((i * 7) % 50).cast("string"),
        F.lit('.com:80/x/'), i.cast("string"),
        F.lit('">a</a> <a href="https://site'),
        ((i * 3 + 1) % 50).cast("string"),
        F.lit('.org/y">b</a> <a href="//cdn'),
        (i % 4).cast("string"),
        F.lit('.example.net/lib.js">c</a> <a href="/local/'),
        (i % 5).cast("string"),
        F.lit('">d</a> <a href="mailto:a@b.com">e</a>'
              ' <a href="javascript:void(0)">f</a>'
              ' <a href="#top">g</a></body></html>'),
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit("site"), (i % 50).cast("string"), F.lit(".com"))
        .alias("host"),
        html.alias("html"),
    )


# the arithmetic reconstruction of _outlink_pages' edge list — shared
# by every web-graph oracle (degrees, pagerank)
_OUTLINK_EDGES_SQL = """
      SELECT 'site' || (doc_id % 50) || '.com' AS src_host,
             'site' || ((doc_id * 7) % 50) || '.com' AS dst_host
      FROM documents
      UNION ALL
      SELECT 'site' || (doc_id % 50) || '.com',
             'site' || ((doc_id * 3 + 1) % 50) || '.org'
      FROM documents
      UNION ALL
      SELECT 'site' || (doc_id % 50) || '.com',
             'cdn' || (doc_id % 4) || '.example.net'
      FROM documents
      UNION ALL
      SELECT 'site' || (doc_id % 50) || '.com',
             'site' || (doc_id % 50) || '.com'
      FROM documents"""


def _pagerank_sql(iters: int = 3, damping_pct: int = 85) -> str:
    """Unrolled integer-exact PageRank oracle (mirrors
    weburl.host_pagerank iteration for iteration)."""
    scale = 1_000_000_000_000
    base = f"((({100 - damping_pct} * {scale}) // 100) // n.n)"
    ctes = [
        f"e0 AS ({_OUTLINK_EDGES_SQL})",
        "e AS (SELECT DISTINCT src_host, dst_host FROM e0)",
        "v AS (SELECT src_host AS host FROM e"
        " UNION SELECT dst_host FROM e)",
        "o AS (SELECT src_host, count(*)::BIGINT AS outdeg"
        " FROM e GROUP BY 1)",
        "n AS (SELECT count(*)::BIGINT AS n FROM v)",
        f"r0 AS (SELECT host, ({scale} // n.n)::BIGINT AS rank"
        " FROM v, n)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst_host AS host,"
            f" sum(r{i-1}.rank // o.outdeg)::BIGINT AS c"
            f" FROM e JOIN o USING (src_host)"
            f" JOIN r{i-1} ON r{i-1}.host = e.src_host GROUP BY 1)"
        )
        ctes.append(
            f"r{i} AS (SELECT v.host,"
            f" ({base} + ({damping_pct} * coalesce(c{i}.c, 0)) // 100)"
            f"::BIGINT AS rank"
            f" FROM v LEFT JOIN c{i} USING (host), n)"
        )
    return (
        "\n    WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT host, rank FROM r{iters}"
    )


def _hits_sql(iters: int = 3) -> str:
    """Unrolled integer-exact HITS oracle (mirrors weburl.host_hits
    half-step for half-step, max-norm as greatest(coalesce(max,0),1))."""
    s = 1_000_000
    ctes = [
        f"e0 AS ({_OUTLINK_EDGES_SQL})",
        "e AS (SELECT DISTINCT src_host, dst_host FROM e0)",
        "v AS (SELECT src_host AS host FROM e"
        " UNION SELECT dst_host FROM e)",
        f"h0 AS (SELECT host, {s}::BIGINT AS hub FROM v)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"ra{i} AS (SELECT e.dst_host AS host,"
            f" sum(h{i-1}.hub)::BIGINT AS st"
            f" FROM e JOIN h{i-1} ON h{i-1}.host = e.src_host GROUP BY 1)"
        )
        ctes.append(
            f"am{i} AS (SELECT greatest(coalesce(max(st), 0), 1)::HUGEINT"
            f" AS m FROM ra{i})"
        )
        ctes.append(
            f"a{i} AS (SELECT v.host,"
            f" ((coalesce(ra{i}.st, 0)::HUGEINT * {s}) // am{i}.m)::BIGINT"
            f" AS authority"
            f" FROM v LEFT JOIN ra{i} USING (host), am{i})"
        )
        ctes.append(
            f"rh{i} AS (SELECT e.src_host AS host,"
            f" sum(a{i}.authority)::BIGINT AS st"
            f" FROM e JOIN a{i} ON a{i}.host = e.dst_host GROUP BY 1)"
        )
        ctes.append(
            f"hm{i} AS (SELECT greatest(coalesce(max(st), 0), 1)::HUGEINT"
            f" AS m FROM rh{i})"
        )
        ctes.append(
            f"h{i} AS (SELECT v.host,"
            f" ((coalesce(rh{i}.st, 0)::HUGEINT * {s}) // hm{i}.m)::BIGINT"
            f" AS hub"
            f" FROM v LEFT JOIN rh{i} USING (host), hm{i})"
        )
    return (
        "\n    WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT a{iters}.host, a{iters}.authority, h{iters}.hub"
        + f"\n    FROM a{iters} JOIN h{iters} USING (host)"
    )


def q_outlink_degrees(spark, sf_dir):
    """Host web-graph degrees from extracted outlinks: each page
    carries two absolute links (hosts arithmetic in doc_id, one
    upper-cased with a port to exercise normalization), a
    protocol-relative link, a root-relative (internal) link, and three
    junk hrefs (mailto / javascript / #anchor) that must be dropped.
    The oracle rebuilds the edge list arithmetically — zero regex — so
    the extraction, classification, normalization, and the degree
    aggregate are all independently checked."""
    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = weburl.extract_outlinks(_outlink_pages(docs))
    return weburl.host_link_degrees(edges)


def q_host_pagerank(spark, sf_dir):
    """Three integer-exact PageRank iterations over the extracted host
    graph (the Common-Crawl-style host-rank signal): ranks in
    parts-per-trillion with div-by-outdeg contributions, so the oracle
    — the same three iterations unrolled as DuckDB CTEs over the
    arithmetically reconstructed edge list — must match every rank bit
    for bit, not just the ordering."""
    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = weburl.extract_outlinks(_outlink_pages(docs))
    return weburl.host_pagerank(edges, iters=3)


def q_host_hits(spark, sf_dir):
    """Three integer-exact HITS iterations (hubs/authorities, max-norm
    in ppm) over the same extracted host graph as host_pagerank: the
    oracle unrolls both half-steps of every iteration as DuckDB CTEs
    over the arithmetically reconstructed edge list, so each score must
    match bit for bit."""
    from logparser_spark.operators import weburl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = weburl.extract_outlinks(_outlink_pages(docs))
    return weburl.host_hits(edges, iters=3)


def q_luhn_scrub(spark, sf_dir):
    """Checksum-validated credit-card scrub: append to each document a
    spaced 16-digit run whose last digit is doc_id%10 (Luhn-valid only
    at 1), a dashed run with last digit (doc_id+7)%10 (valid only at
    4), and a short '1234' that must not even be a candidate. Only the
    Luhn-passing runs are masked, so candidate extraction, the Luhn
    fold AND the fold-of-replaces scrub are all checked byte-exactly by
    the oracle, which replays them in list-lambda SQL."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        "doc_id",
        F.expr(
            "concat(text, ' pay 4111 1111 1111 111',"
            " cast(doc_id % 10 AS STRING),"
            " ' alt 5500-0000-0000-000',"
            " cast((doc_id + 7) % 10 AS STRING),"
            " ' ref 1234 ok')"
        ).alias("text"),
    )
    return textstats.luhn_cc_scrub(pages)


def q_proximity_search(spark, sf_dir):
    """Ordered NEAR/3 positional search ('spark' followed by 'table'
    within 3 positions) over the inverted index: exact ordered-pair
    counts from an array fold over the two posting slices; the oracle
    recomputes positions with an index unnest and a range join."""
    from logparser_spark.operators import invindex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = invindex.build_inverted_index(docs)
    return invindex.proximity_search(idx, "spark", "table", slop=3)


def q_unigram_drift(spark, sf_dir):
    """Snapshot drift report: even-doc_id documents as snapshot A, odd
    as snapshot B; words whose ppm frequency moved >= 1000 ppm between
    the two. Integer-exact ppm (trunc div), full-outer vocabulary
    join."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = docs.where("doc_id % 2 = 0")
    b = docs.where("doc_id % 2 = 1")
    return textstats.unigram_drift(a, b, min_delta_ppm=1000)


def q_cdc_dup_chunks(spark, sf_dir):
    """Content-defined-chunking dedup on a shifted-duplicate corpus:
    every doc_id%5==0 document reappears with a 'shift ' prefix under
    id+10^6. Fixed-window chunking finds zero duplicates between the
    pair (every window moved); CDC boundaries move with the content, so
    the shared suffix chunks dedupe — which is the operator's reason to
    exist. The oracle replays the boundary rule, chunk reassembly, the
    min-length floor and the canonical-occurrence fold in list SQL."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    shifted = docs.where("doc_id % 5 = 0").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("shift "), F.col("text")).alias("text"),
    )
    pages = docs.select("doc_id", "text").unionAll(shifted)
    return corpus.cdc_duplicate_chunks(pages, min_copies=2, min_len=4)


def q_contamination_check(spark, sf_dir):
    """Benchmark decontamination: every 13th document stands in for the
    benchmark suite; per-doc distinct word 3-grams are semi-joined
    against the broadcast benchmark n-gram set. Benchmark docs come out
    100% contaminated; the rest land wherever the shared word soup puts
    them, so the 500k-ppm flag splits the corpus non-trivially."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    benchmark = docs.where(F.col("doc_id") % 13 == 0)
    return corpus.contamination_check(
        docs, benchmark, n=3, threshold_ppm=500_000
    )


def q_chunk_dedup(spark, sf_dir):
    """Token-window chunking (window=8, stride=6) followed by exact
    chunk-level dedup with the deterministic keep-first rule — the
    map-only shard splitter plus its digest-only dedup shuffle."""
    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.chunk_dedup(corpus.chunk_documents(
        docs, window=8, stride=6
    ))


def q_pack_chunks(spark, sf_dir):
    """Concat-then-split sequence packing of the chunked corpus into
    32-token shards across 16 hash buckets — one bounded-window shuffle,
    every shard/offset value integer-exact."""
    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.pack_chunks(
        corpus.chunk_documents(docs, window=8, stride=6),
        budget_tokens=32, n_buckets=16,
    )


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-language Bernoulli sample via salted-md5
    buckets — map-only, no RNG state, identical selection on re-run and
    across engines (the property df.sample cannot give)."""
    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.sample_stratified(docs)


def q_duplicate_spans(spark, sf_dir):
    """Exact substring-span dedup (Lee et al. 2022 semantics),
    detection half: every 5-token window occurring >= 2 times
    corpus-wide marks its positions at every occurrence but the global
    first; marked positions merge into maximal spans. Run on the raw
    documents table, whose shared word soup makes ~10%+ of windows
    duplicates — the oracle recomputes the full window-rank pipeline
    in SQL, so the count, the first-occurrence tie-break, the
    k-position fan-out and the island merge all have to match."""
    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.duplicate_spans(docs, k=5)


def q_strip_duplicate_spans(spark, sf_dir):
    """Exact substring-span dedup, removal half: delete every token
    covered by a non-first duplicated 5-window occurrence and
    reassemble each document from the survivors in order. One row per
    document with the cleaned text — the oracle rebuilds it
    token-by-token, so ordering, boundary and count bugs mismatch."""
    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.strip_duplicate_spans(docs, k=5)


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup over constructed 4-paragraph pages:
    a global footer (every doc), a unique alpha paragraph (embeds
    doc_id + the doc text), a 10-way shared SECTION banner, and a
    unique omega paragraph. The oracle predicts the cleaned text BY
    CONSTRUCTION (alpha + omega survive, footer + banner die), so any
    bug in the split, the corpus-wide count, the threshold, or the
    ordered reassembly mismatches."""
    from pyspark.sql import functions as F

    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id").cast("string")
    sep = F.lit("\n\n")
    page = F.concat(
        F.lit("FOOTER terms and privacy"), sep,
        F.lit("doc "), i, F.lit(" alpha "), F.col("text"), sep,
        F.lit("SECTION "), (F.col("doc_id") % 10).cast("string"), sep,
        F.lit("doc "), i, F.lit(" omega"),
    )
    pages = docs.select("doc_id", page.alias("text"))
    return corpus.paragraph_dedup(pages, min_dup=2)


def q_domain_mix(spark, sf_dir):
    """Per-language mixing report (target vs achieved ppm) in one
    aggregation over the scan — the sample itself never materializes."""
    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.domain_mix(docs)


def _dhash(e: str) -> str:
    """DuckDB equivalent of dedup.hash64: int(md5[:15], 16)."""
    return f"CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)"


def _dataprep_sql() -> dict[str, str]:
    from logparser_spark.operators.dedup import (
        FINGERPRINT_K,
        LSH_MAX_BUCKET,
        MERSENNE31,
        MINHASH_A,
        MINHASH_B,
        MINHASH_K,
        SHINGLE_N,
        SIMHASH_BITS,
    )
    from logparser_spark.operators.textstats import (
        LANG_MARKERS,
        STOPWORDS_EN,
        TOKEN_REGEX,
    )

    P = MERSENNE31
    n = SHINGLE_N
    sqls: dict[str, str] = {}

    shingle_cte = f"""shingles AS (
      SELECT DISTINCT d.doc_id,
        {_dhash(f"substr(d.text, t.i, {n})")} AS shingle_hash
      FROM documents d
      CROSS JOIN LATERAL (
        SELECT unnest(range(1, greatest(length(d.text) - {n - 1}, 1) + 1)) AS i
      ) t)"""

    mh_cols = ",\n        ".join(
        f"MIN(({MINHASH_A[i]} * (shingle_hash % {P}) + {MINHASH_B[i]}) % {P})"
        f" AS mh{i}"
        for i in range(MINHASH_K)
    )
    sig_cte = f"""sig AS (
      SELECT doc_id, {mh_cols}
      FROM shingles GROUP BY doc_id)"""

    band_selects = []
    for b in range(4):
        cols = " || '-' || ".join(
            f"CAST(mh{b * 4 + r} AS VARCHAR)" for r in range(4)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {_dhash(f'({cols})')} AS band_hash FROM sig"
        )
    bands_cte = "bands AS (\n      " + "\n      UNION ALL ".join(band_selects) + ")"
    pairs_cte = f"""bands_ok AS (
      SELECT band_id, band_hash FROM bands
      GROUP BY 1, 2 HAVING COUNT(*) <= {LSH_MAX_BUCKET}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands_ok k
        ON k.band_id = a.band_id AND k.band_hash = a.band_hash
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id)"""

    # connected components as a recursive min-reachability CTE: the
    # UNION (not UNION ALL) dedups (node,lbl) states so the recursion
    # reaches a fixpoint on any finite (cyclic) pair graph
    sqls["near_dup_clusters"] = f"""WITH RECURSIVE {shingle_cte},
    {sig_cte},
    {bands_cte},
    {pairs_cte},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst)
    SELECT node AS doc_id, MIN(lbl)::BIGINT AS cluster_id
    FROM reach GROUP BY 1"""

    sqls["cluster_representatives"] = f"""WITH RECURSIVE {shingle_cte},
    {sig_cte},
    {bands_cte},
    {pairs_cte},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
    cl AS (
      SELECT node AS doc_id, MIN(lbl)::BIGINT AS cluster_id
      FROM reach GROUP BY 1),
    m AS (
      SELECT cl.cluster_id, d.doc_id, d.n_chars,
        row_number() OVER (
          PARTITION BY cl.cluster_id
          ORDER BY d.n_chars DESC, d.doc_id) AS rn,
        count(*) OVER (PARTITION BY cl.cluster_id) AS nm
      FROM cl JOIN documents d USING (doc_id))
    SELECT cluster_id, doc_id::BIGINT AS rep_id,
      n_chars AS rep_score, nm::BIGINT AS n_members
    FROM m WHERE rn = 1"""

    sqls["exact_dedup"] = """
    SELECT (('0x' || substr(md5(text), 1, 16))::UBIGINT::HUGEINT
            - 9223372036854775808)::BIGINT AS md5_hi,
           (('0x' || substr(md5(text), 17, 16))::UBIGINT::HUGEINT
            - 9223372036854775808)::BIGINT AS md5_lo,
           MIN(doc_id) AS canonical_id,
           COUNT(*)::BIGINT AS n_copies
    FROM documents GROUP BY 1, 2"""

    sqls["norm_exact_dedup"] = """
    WITH allv AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, upper(text) FROM documents
      UNION ALL SELECT doc_id + 2000000, text || ' !!!' FROM documents
      UNION ALL
      SELECT doc_id + 3000000, translate(text, 'a', 'á')
      FROM documents),
    n AS (
      SELECT doc_id,
        trim(regexp_replace(regexp_replace(regexp_replace(
          translate(lower(text),
                    'áàâäéèêëíìîïóòôöúùûüçñ', 'aaaaeeeeiiiioooouuuucn'),
          '[0-9]', '0', 'g'), '[^a-z0 ]', ' ', 'g'),
          ' +', ' ', 'g')) AS nt
      FROM allv)
    SELECT
      (('0x' || substr(md5(nt), 1, 16))::UBIGINT::HUGEINT
       - 9223372036854775808)::BIGINT AS md5_hi,
      (('0x' || substr(md5(nt), 17, 16))::UBIGINT::HUGEINT
       - 9223372036854775808)::BIGINT AS md5_lo,
      MIN(doc_id) AS canonical_id,
      COUNT(*)::BIGINT AS n_copies
    FROM n GROUP BY 1, 2"""

    sqls["incremental_dedup"] = """
    WITH k AS (
      SELECT doc_id,
        (('0x' || substr(md5(text), 1, 16))::UBIGINT::HUGEINT
         - 9223372036854775808)::BIGINT AS md5_hi,
        (('0x' || substr(md5(text), 17, 16))::UBIGINT::HUGEINT
         - 9223372036854775808)::BIGINT AS md5_lo
      FROM documents),
    seen AS (SELECT DISTINCT md5_hi, md5_lo FROM k WHERE doc_id % 3 = 0)
    SELECT k.md5_hi, k.md5_lo, MIN(k.doc_id) AS canonical_id,
           COUNT(*)::BIGINT AS n_copies
    FROM k ANTI JOIN seen USING (md5_hi, md5_lo)
    GROUP BY 1, 2"""

    sqls["minhash_signature"] = f"""WITH {shingle_cte},
    {sig_cte}
    SELECT * FROM sig"""

    sqls["lsh_pairs"] = f"""WITH {shingle_cte},
    {sig_cte},
    {bands_cte},
    {pairs_cte}
    SELECT id_a, id_b FROM pairs"""

    # exact-jaccard verification tail over an `ipairs` CTE — shared by
    # the batch (ngram_jaccard) and batch-over-ledger (incremental_lsh)
    # oracles
    jaccard_tail = """
    sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS sz FROM shingles GROUP BY 1),
    inter AS (
      SELECT p.id_a, p.id_b, COUNT(*)::BIGINT AS n_inter
      FROM ipairs p
      JOIN shingles sa ON sa.doc_id = p.id_a
      JOIN shingles sb ON sb.doc_id = p.id_b
        AND sb.shingle_hash = sa.shingle_hash
      GROUP BY 1, 2)
    SELECT i.id_a, i.id_b,
           ((2000000 * i.n_inter + (za.sz + zb.sz - i.n_inter))
            // (2 * (za.sz + zb.sz - i.n_inter))) / 1000000.0 AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b"""

    sqls["ngram_jaccard"] = f"""WITH {shingle_cte},
    {sig_cte},
    {bands_cte},
    {pairs_cte},
    ipairs AS (SELECT id_a, id_b FROM pairs),{jaccard_tail}"""

    # C4-rule sentence dedup: sentinel split (RE2 has no lookbehind),
    # keep-first = rank 1 over (doc_id, pos) per exact sentence string,
    # space-joined reassembly; 1-based DuckDB pos vs 0-based Spark pos
    # is order-equivalent inside each doc
    sqls["sentence_dedup"] = """
    WITH p AS (
      SELECT doc_id,
        string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(30),
                     'g'), chr(30)) AS parts
      FROM documents),
    s AS (
      SELECT doc_id, t.i AS pos, parts[t.i] AS sent
      FROM p CROSS JOIN LATERAL (
        SELECT unnest(range(1, len(parts) + 1)) AS i) t),
    k AS (
      SELECT doc_id, pos, sent,
        row_number() OVER (PARTITION BY md5(sent)
                           ORDER BY doc_id, pos) AS rn
      FROM s)
    SELECT doc_id,
      coalesce(string_agg(CASE WHEN rn = 1 THEN sent END, ' '
                          ORDER BY pos), '') AS cleaned,
      COUNT(*)::BIGINT AS n_sents,
      SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM k GROUP BY doc_id"""

    # grok parse replay: DuckDB builds the byte-identical line and
    # evaluates the IDENTICAL compiled regex (grok_oracle_exprs); the
    # oracle parses, it does not predict-by-construction
    from logparser_spark.functions.grok import (
        compile_grok as _cg,
        grok_oracle_exprs as _goe,
    )

    _grok_exprs = ",\n      ".join(_goe(_cg(_GROK_ACCESS), "raw_line"))
    sqls["grok_parse"] = f"""
    WITH glines AS (
      SELECT event_id,
        CASE WHEN event_id % 7 = 0 THEN 'BADLINE ' || event_type
        ELSE '10.' || ((user_id // 65536) % 256)::VARCHAR || '.' ||
             ((user_id // 256) % 256)::VARCHAR || '.' ||
             (user_id % 256)::VARCHAR ||
             ' - u' || user_id::VARCHAR ||
             ' [' || event_id::VARCHAR || '] "GET /e/' ||
             event_type || '/' || event_id::VARCHAR ||
             ' HTTP/1.1" ' ||
             (CASE event_id % 4 WHEN 0 THEN 200 WHEN 1 THEN 301
                   WHEN 2 THEN 404 ELSE 503 END)::VARCHAR ||
             ' ' || ((event_id * 17) % 100000)::VARCHAR
        END AS raw_line
      FROM events)
    SELECT event_id,
      {_grok_exprs}
    FROM glines"""

    # incremental law: union-corpus LSH+jaccard minus ledger-internal
    # (both ids ≡ 0 mod 3) pairs — the bucket cap is evaluated over the
    # union, exactly as the operator evaluates it over ledger+batch
    sqls["incremental_lsh"] = f"""WITH {shingle_cte},
    {sig_cte},
    {bands_cte},
    {pairs_cte},
    ipairs AS (
      SELECT id_a, id_b FROM pairs
      WHERE id_a % 3 != 0 OR id_b % 3 != 0),{jaccard_tail}"""

    bit_sums = ",\n        ".join(
        f"SUM(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    bit_val = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    sqls["simhash"] = f"""WITH toks AS (
      SELECT d.doc_id, {_dhash('t.tok')} AS th
      FROM documents d
      CROSS JOIN LATERAL (
        SELECT unnest(regexp_split_to_array(d.text, '\\s+')) AS tok
      ) t
      WHERE length(t.tok) > 0),
    perbit AS (
      SELECT doc_id, {bit_sums}
      FROM toks GROUP BY doc_id)
    SELECT doc_id, CAST({bit_val} AS BIGINT) AS simhash FROM perbit"""

    sqls["simhash_near_dup"] = f"""WITH sims AS ({sqls["simhash"]}),
    banded AS (
      SELECT doc_id, simhash, b.b AS band_id,
        (simhash >> (b.b * {SIMHASH_BITS // 4}))
          & {(1 << (SIMHASH_BITS // 4)) - 1} AS band_val
      FROM sims, unnest(range(0, 4)) b(b)),
    ok AS (
      SELECT band_id, band_val FROM banded
      GROUP BY 1, 2 HAVING count(*) <= {LSH_MAX_BUCKET}),
    bd AS (
      SELECT banded.* FROM banded
      JOIN ok USING (band_id, band_val))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM bd a
    JOIN bd b ON a.band_id = b.band_id AND a.band_val = b.band_val
      AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""

    fp_cols = ",\n        ".join(
        f"MIN(({MINHASH_A[i]} * (shingle_hash % {P}) + {17 * (i + 1)}) % {P})"
        f" AS fp{i}"
        for i in range(FINGERPRINT_K)
    )
    sqls["fingerprint"] = f"""WITH {shingle_cte}
    SELECT doc_id, {fp_cols}
    FROM shingles GROUP BY doc_id"""

    def count_occ(padded: str, needle: str) -> str:
        ln = len(needle)
        esc = needle.replace("'", "''")
        return (
            f"CAST((length({padded}) - "
            f"length(replace({padded}, '{esc}', ''))) / {ln} AS BIGINT)"
        )

    hits_cols = []
    for lang, markers in LANG_MARKERS:
        parts = " + ".join(
            count_occ("(' ' || lower(text) || ' ')", m) for m in markers
        )
        hits_cols.append(f"({parts}) AS hits_{lang}")
    greatest = "greatest(" + ", ".join(
        f"hits_{lang}" for lang, _ in LANG_MARKERS
    ) + ")"
    case_chain = "CASE WHEN " + greatest + " <= 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lang} = {greatest} THEN '{lang}'"
        for lang, _ in LANG_MARKERS
    ) + " END"
    sqls["language_id"] = f"""
    WITH mc AS (SELECT doc_id, {", ".join(hits_cols)} FROM documents)
    SELECT doc_id, {case_chain} AS pred_lang FROM mc"""

    _fv_stop = " + ".join(
        count_occ("(' ' || lower(text) || ' ')", f" {w} ")
        for w in STOPWORDS_EN
    )
    sqls["filter_verdict"] = f"""
    WITH base AS (
      SELECT doc_id, {", ".join(hits_cols)},
        length(text)::BIGINT AS n_chars,
        len(list_filter(str_split(text, ' '), x -> length(x) > 0))::BIGINT
          AS n_words,
        len(list_distinct(
          list_filter(str_split(text, ' '), x -> length(x) > 0)))::BIGINT
          AS n_distinct,
        length(replace(text, ' ', '')) AS n_nonspace,
        ({_fv_stop}) AS stop_hits,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
      FROM documents),
    sig AS (
      SELECT doc_id, n_words,
        {case_chain} AS pred_lang,
        (CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 25 ELSE 0 END
         + CASE WHEN n_words > 0
                AND n_nonspace::DOUBLE / n_words BETWEEN 2 AND 12
                THEN 25 ELSE 0 END
         + CASE WHEN n_words > 0
                AND stop_hits::DOUBLE / n_words >= 0.05
                THEN 25 ELSE 0 END
         + CASE WHEN n_chars > 0
                AND n_alpha::DOUBLE / n_chars >= 0.70
                THEN 25 ELSE 0 END)::BIGINT AS quality_score,
        (pred_lang = 'en') AS lang_ok,
        (n_words BETWEEN 5 AND 100000) AS len_ok,
        ((n_words - n_distinct) * 1000000 <= 400000 * n_words) AS rep_ok
      FROM base)
    SELECT doc_id, pred_lang, n_words, quality_score,
      (lang_ok AND len_ok AND quality_score >= 75 AND rep_ok) AS keep,
      concat_ws(',',
        CASE WHEN NOT lang_ok THEN 'lang' END,
        CASE WHEN NOT len_ok THEN 'length' END,
        CASE WHEN quality_score < 75 THEN 'quality' END,
        CASE WHEN NOT rep_ok THEN 'repetition' END) AS reasons
    FROM sig"""

    stop_parts = " + ".join(
        count_occ("(' ' || lower(text) || ' ')", f" {w} ")
        for w in STOPWORDS_EN
    )
    sqls["quality_score"] = f"""
    WITH base AS (
      SELECT doc_id,
        length(text)::BIGINT AS n_chars,
        len(list_filter(str_split(text, ' '), x -> length(x) > 0))::BIGINT
          AS n_words,
        length(replace(text, ' ', '')) AS n_nonspace,
        ({stop_parts}) AS stop_hits,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
      FROM documents),
    m AS (
      SELECT doc_id, n_chars, n_words, n_nonspace, stop_hits, n_alpha,
        CASE WHEN n_words > 0 THEN n_nonspace::DOUBLE / n_words
             ELSE 0.0 END AS mean_word_len,
        CASE WHEN n_words > 0 THEN stop_hits::DOUBLE / n_words
             ELSE 0.0 END AS stopword_ratio,
        CASE WHEN n_chars > 0 THEN n_alpha::DOUBLE / n_chars
             ELSE 0.0 END AS alpha_ratio
      FROM base)
    SELECT doc_id, n_chars, n_words,
      CASE WHEN n_words > 0
           THEN ((2000000 * n_nonspace + n_words) // (2 * n_words)) / 1000000.0
           ELSE 0.0 END AS mean_word_len,
      CASE WHEN n_words > 0
           THEN ((2000000 * stop_hits + n_words) // (2 * n_words)) / 1000000.0
           ELSE 0.0 END AS stopword_ratio,
      CASE WHEN n_chars > 0
           THEN ((2000000 * n_alpha + n_chars) // (2 * n_chars)) / 1000000.0
           ELSE 0.0 END AS alpha_ratio,
      (CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 25 ELSE 0 END
       + CASE WHEN mean_word_len BETWEEN 2 AND 12 THEN 25 ELSE 0 END
       + CASE WHEN stopword_ratio >= 0.05 THEN 25 ELSE 0 END
       + CASE WHEN alpha_ratio >= 0.70 THEN 25 ELSE 0 END)::BIGINT
        AS quality_score
    FROM m"""

    sqls["domain_blocklist"] = f"""
    WITH base AS (
      SELECT doc_id, source,
        length(text)::BIGINT AS n_chars,
        len(list_filter(str_split(text, ' '), x -> length(x) > 0))::BIGINT
          AS n_words,
        length(replace(text, ' ', '')) AS n_nonspace,
        ({stop_parts}) AS stop_hits,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
      FROM documents),
    m AS (
      SELECT doc_id, source, n_chars,
        CASE WHEN n_words > 0 THEN n_nonspace::DOUBLE / n_words
             ELSE 0.0 END AS mean_word_len,
        CASE WHEN n_words > 0 THEN stop_hits::DOUBLE / n_words
             ELSE 0.0 END AS stopword_ratio,
        CASE WHEN n_chars > 0 THEN n_alpha::DOUBLE / n_chars
             ELSE 0.0 END AS alpha_ratio
      FROM base),
    q AS (
      SELECT source,
        (CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 25 ELSE 0 END
         + CASE WHEN mean_word_len BETWEEN 2 AND 12 THEN 25 ELSE 0 END
         + CASE WHEN stopword_ratio >= 0.05 THEN 25 ELSE 0 END
         + CASE WHEN alpha_ratio >= 0.70 THEN 25 ELSE 0 END) AS score
      FROM m),
    s AS (
      SELECT source, count(*)::BIGINT AS n_docs,
        sum(CASE WHEN score >= 75 THEN 1 ELSE 0 END)::BIGINT AS n_ok
      FROM q GROUP BY 1)
    SELECT source, n_docs, n_ok,
      ((1000000 * n_ok) // n_docs)::BIGINT AS ok_ppm,
      (n_docs >= 5 AND ((1000000 * n_ok) // n_docs) < 600000) AS blocked
    FROM s"""

    sqls["token_stats"] = f"""
    SELECT doc_id,
      length(text)::BIGINT AS n_chars,
      len(list_filter(str_split(text, ' '), x -> length(x) > 0))::BIGINT
        AS ws_tokens,
      len(regexp_extract_all(text, '{TOKEN_REGEX}'))::BIGINT AS rx_tokens
    FROM documents"""

    # integer-space half-up 6-decimal rounding (same contract as
    # quality_score: IEEE division is cross-engine exact, ROUND is not)
    def _r6(num: str, den: str) -> str:
        return (f"CASE WHEN {den} > 0 THEN "
                f"((2000000 * {num} + {den}) // (2 * {den})) / 1000000.0 "
                f"ELSE 0.0 END")

    sqls["repetition_stats"] = f"""
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
      FROM documents),
    c AS (
      SELECT doc_id, len(w)::BIGINT AS n_words,
        len(list_distinct(w))::BIGINT AS n_distinct_words,
        coalesce(list_max(list_transform(list_distinct(w),
            y -> len(list_filter(w, x -> x = y)))), 0)::BIGINT AS topw,
        list_transform(generate_series(1, len(w) - 1),
            i -> w[i] || ' ' || w[i + 1]) AS g
      FROM w),
    d AS (
      SELECT doc_id, n_words, n_distinct_words, topw,
        len(g)::BIGINT AS ng,
        coalesce(list_max(list_transform(list_distinct(g),
            y -> len(list_filter(g, x -> x = y)))), 0)::BIGINT AS topg
      FROM c)
    SELECT doc_id, n_words, n_distinct_words,
      {_r6('(n_words - n_distinct_words)', 'n_words')} AS dup_word_frac,
      {_r6('topw', 'n_words')} AS top_word_frac,
      {_r6('topg', 'ng')} AS top_2gram_frac
    FROM d"""

    from logparser_spark.operators.textstats import (
        PII_EMAIL_RX,
        PII_IPV4_RX,
        PII_SSN_RX,
    )

    sqls["pii_scrub"] = f"""
    WITH p AS (
      SELECT doc_id,
        text || ' contact user' || doc_id || '@example.com from 10.'
          || (doc_id % 256) || '.0.' || (doc_id % 250) || ' ssn '
          || lpad((doc_id % 900 + 100)::VARCHAR, 3, '0') || '-'
          || lpad((doc_id % 90 + 10)::VARCHAR, 2, '0') || '-'
          || lpad((doc_id % 9000 + 1000)::VARCHAR, 4, '0') AS text
      FROM documents)
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(text,
        '{PII_EMAIL_RX}', '<EMAIL>', 'g'),
        '{PII_SSN_RX}', '<SSN>', 'g'),
        '{PII_IPV4_RX}', '<IP>', 'g') AS scrubbed_text,
      len(regexp_extract_all(text, '{PII_EMAIL_RX}'))::BIGINT AS n_emails,
      len(regexp_extract_all(text, '{PII_IPV4_RX}'))::BIGINT AS n_ipv4,
      len(regexp_extract_all(text, '{PII_SSN_RX}'))::BIGINT AS n_ssn
    FROM p"""

    sqls["crawl_delays"] = """
    SELECT 'site' || doc_id AS host,
      (CASE WHEN doc_id % 4 = 0 THEN doc_id % 7 + 2
            WHEN doc_id % 4 = 1 THEN 3
            ELSE 1 END)::BIGINT AS crawl_delay_s
    FROM documents WHERE doc_id < 24"""

    sqls["robots_allowed"] = """
    SELECT doc_id,
      'site' || (doc_id % 20) AS host,
      CASE doc_id % 4
        WHEN 0 THEN '/private/x' || doc_id
        WHEN 1 THEN '/private/ok' || doc_id
        WHEN 2 THEN '/public/' || doc_id
        ELSE '/tmp' || doc_id
      END AS path,
      CASE WHEN doc_id % 20 >= 10 THEN true
           ELSE doc_id % 4 IN (1, 2) END AS allowed
    FROM documents"""

    sqls["unigram_score"] = """
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                        x -> len(x) > 0)) AS word
      FROM documents),
    m AS (SELECT word, count(*)::BIGINT AS word_count FROM w GROUP BY 1),
    tot AS (SELECT sum(word_count)::HUGEINT AS total FROM m),
    d AS (
      SELECT w.doc_id, count(*)::BIGINT AS n_tokens,
             sum(m.word_count)::BIGINT AS sum_freq
      FROM w JOIN m USING (word) GROUP BY 1)
    SELECT doc.doc_id,
      coalesce(d.n_tokens, 0)::BIGINT AS n_tokens,
      coalesce(d.sum_freq, 0)::BIGINT AS sum_freq,
      (CASE WHEN coalesce(d.n_tokens, 0) > 0 THEN
        (2000000 * d.sum_freq::HUGEINT + d.n_tokens::HUGEINT * tot.total)
        // (2 * d.n_tokens::HUGEINT * tot.total)
       ELSE 0 END)::BIGINT AS score_ppm
    FROM documents doc LEFT JOIN d USING (doc_id), tot"""

    sqls["politeness_order"] = """
    WITH u AS (
      SELECT 'https://site' || (doc_id % 37)::VARCHAR
        || '.example.com/p/' || doc_id::VARCHAR AS url
      FROM documents),
    h AS (
      SELECT url,
        lower(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1)) AS host
      FROM u),
    s AS (
      SELECT url, host,
        (row_number() OVER (PARTITION BY host ORDER BY md5(url), url)
          - 1)::BIGINT AS slot
      FROM h)
    SELECT url, host, slot,
      row_number() OVER (ORDER BY slot, md5(host), url)::BIGINT
        AS position
    FROM s"""

    sqls["crawl_schedule"] = """
    WITH u AS (
      SELECT 'https://site' || (doc_id % 37)::VARCHAR
        || '.example.com/p/' || doc_id::VARCHAR AS url
      FROM documents),
    h AS (
      SELECT url,
        lower(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1)) AS host
      FROM u),
    s AS (
      SELECT url, host,
        (row_number() OVER (PARTITION BY host ORDER BY md5(url), url)
          - 1)::BIGINT AS slot
      FROM h),
    p AS (
      SELECT url, host, slot,
        row_number() OVER (ORDER BY slot, md5(host), url)::BIGINT
          AS position
      FROM s),
    d AS (
      SELECT 'site' || doc_id::VARCHAR || '.example.com' AS host,
        (CASE WHEN doc_id % 3 = 0 THEN doc_id % 5 + 2
              ELSE 1 END)::BIGINT AS crawl_delay_s
      FROM documents WHERE doc_id < 37)
    SELECT p.url, p.host, p.slot, p.position, d.crawl_delay_s,
      (p.slot * d.crawl_delay_s)::BIGINT AS dispatch_s
    FROM p JOIN d USING (host)"""

    sqls["crawl_frontier"] = """
    WITH pg AS (
      SELECT doc_id, doc_id % 20 AS hh,
        CASE doc_id % 4
          WHEN 0 THEN '/private/x' || doc_id
          WHEN 1 THEN '/private/ok' || doc_id
          WHEN 2 THEN '/public/' || doc_id
          ELSE '/tmp' || doc_id END AS path
      FROM documents),
    u AS (
      SELECT 'https://site' || hh::VARCHAR || '.example.com' || path
        AS url
      FROM pg WHERE NOT (hh < 10 AND doc_id % 4 = 0)),
    hx AS (
      SELECT url,
        lower(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1)) AS host
      FROM u),
    s AS (
      SELECT url, host,
        (row_number() OVER (PARTITION BY host ORDER BY md5(url), url)
          - 1)::BIGINT AS slot
      FROM hx),
    p AS (
      SELECT url, host, slot,
        row_number() OVER (ORDER BY slot, md5(host), url)::BIGINT
          AS position
      FROM s),
    d AS (
      SELECT 'site' || doc_id::VARCHAR || '.example.com' AS host,
        (CASE WHEN doc_id < 10 THEN doc_id % 4 + 2
              ELSE 1 END)::BIGINT AS crawl_delay_s
      FROM documents WHERE doc_id < 20)
    SELECT p.url, p.host, p.slot, p.position, d.crawl_delay_s,
      (p.slot * d.crawl_delay_s)::BIGINT AS dispatch_s
    FROM p JOIN d USING (host)"""

    sqls["sample_fixed_n"] = """
    SELECT doc_id, text FROM documents
    ORDER BY md5('salt42|' || doc_id::VARCHAR), doc_id LIMIT 25"""

    sqls["host_components"] = """
    WITH RECURSIVE e AS (
      SELECT DISTINCT src_host AS a, dst_host AS b FROM (
        {edges}
      )),
    sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    nodes AS (SELECT DISTINCT a AS host FROM sym),
    reach(node, lbl) AS (
      SELECT host, host FROM nodes
      UNION
      SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT node AS host, min(lbl) AS component_id
    FROM reach GROUP BY 1""".format(edges=_OUTLINK_EDGES_SQL)

    _bucket = ("('0x' || substr(md5('salt42|' || doc_id::VARCHAR), 1, 8))"
               "::BIGINT % 1000000")

    sqls["dq_check"] = """
    WITH a AS (
      SELECT count(*)::BIGINT AS n,
        sum(CASE WHEN coalesce(n_chars = length(text), FALSE)
                 THEN 0 ELSE 1 END)::BIGINT AS v0,
        sum(CASE WHEN coalesce(
              lang IN ('en','de','fr','es','zh'), FALSE)
                 THEN 0 ELSE 1 END)::BIGINT AS v1,
        sum(CASE WHEN coalesce(length(text) > 0, FALSE)
                 THEN 0 ELSE 1 END)::BIGINT AS v2,
        sum(CASE WHEN coalesce(doc_id % 5 <> 0, FALSE)
                 THEN 0 ELSE 1 END)::BIGINT AS v3,
        sum(CASE WHEN coalesce(source IS NOT NULL AND source <> '',
                               FALSE)
                 THEN 0 ELSE 1 END)::BIGINT AS v4
      FROM documents)
    SELECT r.rule, a.n AS n_rows, r.v AS n_violations,
           r.v = 0 AS passed
    FROM a, (
      SELECT 'n_chars consistent' AS rule, v0 AS v FROM a
      UNION ALL SELECT 'lang known', v1 FROM a
      UNION ALL SELECT 'text non-empty', v2 FROM a
      UNION ALL SELECT 'doc_id not multiple of 5', v3 FROM a
      UNION ALL SELECT 'source set', v4 FROM a) r"""

    sqls["rebalance_mix"] = f"""
    WITH counts AS (
      SELECT lang, count(*)::BIGINT AS n FROM documents
      WHERE lang IN ('de','en','es','fr') GROUP BY 1),
    t AS (SELECT lang, n, 250000::BIGINT AS tp FROM counts),
    star AS (
      SELECT a.lang AS sl, a.n AS sn, a.tp AS stp FROM t a
      WHERE NOT EXISTS (
        SELECT 1 FROM t b
        WHERE b.n * a.tp < a.n * b.tp
           OR (b.n * a.tp = a.n * b.tp AND b.lang < a.lang))),
    acc AS (
      SELECT t.lang,
        least(1000000,
              (star.sn * t.tp * 1000000)
              // (star.stp * t.n))::BIGINT AS accept_ppm
      FROM t, star)
    SELECT d.doc_id, d.lang, ({_bucket})::BIGINT AS bucket,
           acc.accept_ppm
    FROM documents d JOIN acc ON acc.lang = d.lang
    WHERE {_bucket} < acc.accept_ppm"""

    sqls["tag_keywords"] = r"""
    SELECT doc_id,
      list_sort(list_distinct(regexp_extract_all(
        text, '\b(table|scan|spark|window|hash)\b', 1))) AS tags,
      len(list_distinct(regexp_extract_all(
        text, '\b(table|scan|spark|window|hash)\b', 1)))::BIGINT
        AS n_tags
    FROM documents"""

    _srcs = [f"src{j}" for j in range(20)]

    sqls["etld1"] = """
    SELECT doc_id,
      CASE doc_id % 5
        WHEN 0 THEN 'www.site' || (doc_id % 40) || '.co.uk'
        WHEN 1 THEN 'sub.deep.site' || (doc_id % 40) || '.com.au'
        WHEN 2 THEN 'site' || (doc_id % 40) || '.com'
        WHEN 3 THEN 'a.b.site' || (doc_id % 40) || '.org'
        ELSE 'WWW.Site' || (doc_id % 40) || '.CO.JP' END AS host,
      CASE doc_id % 5
        WHEN 0 THEN 'site' || (doc_id % 40) || '.co.uk'
        WHEN 1 THEN 'site' || (doc_id % 40) || '.com.au'
        WHEN 2 THEN 'site' || (doc_id % 40) || '.com'
        WHEN 3 THEN 'site' || (doc_id % 40) || '.org'
        ELSE 'site' || (doc_id % 40) || '.co.jp' END AS etld1
    FROM documents"""

    sqls["route_date_rows"] = """
    WITH c AS (
      SELECT doc_id,
        1899 + (doc_id % 203) AS y,
        (doc_id % 12) + 1 AS m,
        (doc_id % 31) + 1 AS d
      FROM documents),
    v AS (
      SELECT doc_id, y, m, d,
        d <= (CASE m
                WHEN 2 THEN 28 + CASE WHEN (y % 4 = 0)
                  AND ((y % 100 <> 0) OR (y % 400 = 0))
                  THEN 1 ELSE 0 END
                WHEN 4 THEN 30 WHEN 6 THEN 30
                WHEN 9 THEN 30 WHEN 11 THEN 30
                ELSE 31 END) AS ok
      FROM c)
    SELECT doc_id, make_date(y, m, d) AS day, doc_id::BIGINT AS num
    FROM v
    WHERE ok AND make_date(y, m, d) >= DATE '1950-06-15'
      AND make_date(y, m, d) < DATE '2050-03-01'"""

    sqls["dedup_doc_lines"] = """
    SELECT doc_id,
      'alpha ' || (doc_id % 13) || chr(10) ||
      'beta ' || (doc_id % 7) || chr(10) ||
      'gamma ' || (doc_id % 5) AS text_dedup,
      6::BIGINT AS n_lines_in,
      3::BIGINT AS n_lines_out
    FROM documents"""

    sqls["robots_sitemaps"] = """
    WITH h AS (
      SELECT DISTINCT 'site' || (doc_id % 50) || '.com' AS host
      FROM documents)
    SELECT host, 'https://' || host || '/sitemap.xml' AS sitemap_url
    FROM h
    UNION ALL
    SELECT host, 'https://' || host || '/sitemap-news.xml' FROM h"""

    sqls["parse_date_spec"] = """
    WITH c AS (
      SELECT doc_id,
        1899 + (doc_id % 203) AS y,
        (doc_id % 12) + 1 AS m,
        (doc_id % 31) + 1 AS d
      FROM documents),
    v AS (
      SELECT doc_id, y, m, d,
        d <= (CASE m
                WHEN 2 THEN 28 + CASE WHEN (y % 4 = 0)
                  AND ((y % 100 <> 0) OR (y % 400 = 0))
                  THEN 1 ELSE 0 END
                WHEN 4 THEN 30 WHEN 6 THEN 30
                WHEN 9 THEN 30 WHEN 11 THEN 30
                ELSE 31 END) AS ok
      FROM c)
    SELECT doc_id,
      CASE WHEN ok THEN make_date(y, m, d) END AS day,
      CASE WHEN ok THEN doc_id END::BIGINT AS num,
      CASE WHEN ok THEN 'm' || doc_id END AS msg,
      ok AS well_formed
    FROM v"""

    sqls["sitemap_urls"] = """
    WITH s AS (
      SELECT doc_id,
             'https://site' || (doc_id % 50) || '.com' AS site
      FROM documents)
    SELECT doc_id AS sitemap_id, TRUE AS is_index, 0::BIGINT AS seq,
           site || '/sitemap1.xml' AS loc,
           '2024-01-' || lpad(CAST((doc_id % 27) + 1 AS VARCHAR),
                              2, '0') AS lastmod,
           NULL::BIGINT AS priority_ppk
    FROM s WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id, TRUE, 1::BIGINT, site || '/sitemap2.xml',
           NULL, NULL::BIGINT
    FROM s WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id, FALSE, 0::BIGINT, site || '/p/' || doc_id,
           '2023-12-0' || ((doc_id % 9) + 1),
           ((doc_id % 10) * 100)::BIGINT
    FROM s WHERE doc_id % 10 <> 0
    UNION ALL
    SELECT doc_id, FALSE, 2::BIGINT,
           site || '/q?a=1&b=' || (doc_id % 7), NULL, 1000::BIGINT
    FROM s WHERE doc_id % 10 <> 0"""

    sqls["anchor_text_stats"] = """
    WITH e AS (
      SELECT 'site' || ((doc_id * 7) % 50) || '.com' AS dst_host,
             'a' AS anchor FROM documents
      UNION ALL
      SELECT 'site' || ((doc_id * 3 + 1) % 50) || '.org', 'b'
      FROM documents
      UNION ALL
      SELECT 'cdn' || (doc_id % 4) || '.example.net', 'c'
      FROM documents
      UNION ALL
      SELECT 'site' || (doc_id % 50) || '.com', 'd' FROM documents),
    c AS (SELECT dst_host, anchor, count(*)::BIGINT AS n
          FROM e GROUP BY 1, 2),
    r AS (SELECT dst_host, anchor, n,
                 row_number() OVER (PARTITION BY dst_host
                                    ORDER BY n DESC, anchor) AS rk
          FROM c),
    agg AS (SELECT dst_host, sum(n)::BIGINT AS n_anchors,
                   count(*)::BIGINT AS n_unique_texts
            FROM c GROUP BY 1)
    SELECT agg.dst_host, agg.n_anchors, agg.n_unique_texts,
           r.anchor AS top_anchor, r.n::BIGINT AS top_n
    FROM agg JOIN r ON agg.dst_host = r.dst_host AND r.rk = 1"""

    sqls["gopher_quality"] = """
    WITH w AS (
      SELECT doc_id, text,
        list_filter(regexp_split_to_array(text, '\\s+'),
                    x -> len(x) > 0) AS words,
        list_filter(string_split(text, chr(10)),
                    x -> len(trim(x)) > 0) AS lines
      FROM documents),
    m AS (
      SELECT doc_id,
        len(words)::BIGINT AS n_words,
        len(lines)::BIGINT AS n_lines,
        coalesce(list_sum(list_transform(words, x -> len(x))),
                 0)::BIGINT AS swl,
        (len(text) - len(replace(text, '#', '')))::BIGINT
          + ((len(text) - len(replace(text, '...', ''))) // 3)::BIGINT
          AS nsym,
        len(list_filter(lines,
            x -> regexp_matches(trim(x), '^[•\\-*]')))::BIGINT AS nbul,
        len(list_filter(lines,
            x -> regexp_matches(trim(x), '(\\.\\.\\.|…)$')))::BIGINT
          AS nell,
        len(list_filter(words,
            x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS nalpha,
        len(list_intersect(
            list_distinct(list_transform(words, x -> lower(x))),
            ['the','be','to','of','and','that','have','with']
        ))::BIGINT AS n_stop_distinct
      FROM w),
    p AS (
      SELECT doc_id, n_words, n_stop_distinct,
        CASE WHEN n_words > 0
             THEN (swl * 1000000) // n_words END::BIGINT
          AS mean_word_len_ppm,
        CASE WHEN n_words > 0
             THEN (nsym * 1000000) // n_words END::BIGINT
          AS symbol_ratio_ppm,
        CASE WHEN n_lines > 0
             THEN (nbul * 1000000) // n_lines END::BIGINT
          AS bullet_line_ppm,
        CASE WHEN n_lines > 0
             THEN (nell * 1000000) // n_lines END::BIGINT
          AS ellipsis_line_ppm,
        CASE WHEN n_words > 0
             THEN (nalpha * 1000000) // n_words END::BIGINT
          AS alpha_word_ppm
      FROM m)
    SELECT doc_id, n_words, mean_word_len_ppm, symbol_ratio_ppm,
      bullet_line_ppm, ellipsis_line_ppm, alpha_word_ppm,
      n_stop_distinct,
      coalesce(n_words BETWEEN 50 AND 100000, FALSE) AS r1,
      coalesce(mean_word_len_ppm BETWEEN 3000000 AND 10000000,
               FALSE) AS r2,
      coalesce(symbol_ratio_ppm <= 100000, FALSE) AS r3,
      coalesce(bullet_line_ppm <= 900000, TRUE) AS r4,
      coalesce(ellipsis_line_ppm <= 300000, TRUE) AS r5,
      coalesce(alpha_word_ppm >= 800000, FALSE) AS r6,
      n_stop_distinct >= 2 AS r7,
      (coalesce(n_words BETWEEN 50 AND 100000, FALSE)
       AND coalesce(mean_word_len_ppm BETWEEN 3000000 AND 10000000,
                    FALSE)
       AND coalesce(symbol_ratio_ppm <= 100000, FALSE)
       AND coalesce(bullet_line_ppm <= 900000, TRUE)
       AND coalesce(ellipsis_line_ppm <= 300000, TRUE)
       AND coalesce(alpha_word_ppm >= 800000, FALSE)
       AND n_stop_distinct >= 2) AS passes
    FROM p"""

    sqls["fix_mojibake"] = """
    SELECT doc_id,
      (CASE doc_id % 4
        WHEN 0 THEN 'café crème'
        WHEN 1 THEN 'naïve façade'
        WHEN 2 THEN 'señor año'
        ELSE 'über größe' END) || ' doc ' || doc_id AS fixed,
      (doc_id % 3 != 0) AS was_fixed
    FROM documents"""

    sqls["bigram_score"] = """
    WITH t AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
      FROM documents),
    bg AS (
      SELECT doc_id, w[i.i] AS w1, w[i.i + 1] AS w2
      FROM t, unnest(range(1, len(w))) i(i)),
    m AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
    h AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM m GROUP BY 1),
    v AS (SELECT count(DISTINCT word)::BIGINT AS vs
          FROM (SELECT unnest(w) AS word FROM t)),
    d AS (
      SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams,
        sum((1000000 * (coalesce(m.c12, 0) + 1))
            // (coalesce(h.c1, 0) + v.vs))::BIGINT AS sum_p
      FROM bg
      LEFT JOIN m ON m.w1 = bg.w1 AND m.w2 = bg.w2
      LEFT JOIN h ON h.w1 = bg.w1, v
      GROUP BY 1)
    SELECT doc.doc_id,
      coalesce(d.n_bigrams, 0)::BIGINT AS n_bigrams,
      (CASE WHEN coalesce(d.n_bigrams, 0) > 0
        THEN d.sum_p // d.n_bigrams ELSE 0 END)::BIGINT AS score_ppm
    FROM documents doc LEFT JOIN d USING (doc_id)"""

    sqls["tfidf_top"] = """
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                        x -> len(x) > 0)) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM w GROUP BY 1, 2),
    dfreq AS (
      SELECT term, count(*)::BIGINT AS doc_freq FROM tf GROUP BY 1),
    n AS (SELECT count(*)::BIGINT AS n FROM documents),
    s AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
        (tf.tf * ((n.n * 1000000) // dfreq.doc_freq))::BIGINT AS score
      FROM tf JOIN dfreq USING (term), n)
    SELECT doc_id, rank::INT AS rank, term, tf, doc_freq, score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
      FROM s)
    WHERE rank <= 3"""

    sqls["term_search"] = """
    WITH d AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
      FROM documents),
    w AS (
      SELECT doc_id, ws[i.i] AS term
      FROM d, unnest(generate_series(1, len(ws))) i(i)),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM w
      WHERE term IN ('spark', 'window') GROUP BY 1, 2),
    hits AS (
      SELECT doc_id, sum(tf)::BIGINT AS score
      FROM tf GROUP BY doc_id HAVING count(DISTINCT term) = 2)
    SELECT row_number() OVER (ORDER BY score DESC, doc_id)::INT AS rank,
      doc_id, score
    FROM hits ORDER BY rank LIMIT 10"""

    sqls["span_corruption"] = """
    WITH d AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
      FROM documents),
    t AS (
      SELECT doc_id, i.i AS pos, ws[i.i] AS tok,
        (((i.i - 1) + doc_id) % 7 < 2) AS flag
      FROM d, unnest(generate_series(1, len(ws))) i(i)),
    m AS (
      SELECT doc_id, pos, tok, flag,
        (flag AND NOT coalesce(
          lag(flag) OVER (PARTITION BY doc_id ORDER BY pos), FALSE))
          AS is_start
      FROM t),
    m2 AS (
      SELECT *,
        (sum(CASE WHEN is_start THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) - 1) AS sidx
      FROM m),
    agg AS (
      SELECT doc_id,
        string_agg(
          CASE WHEN NOT flag THEN tok
               WHEN is_start THEN '<extra_id_' || sidx::VARCHAR || '>'
          END, ' ' ORDER BY pos) AS input_text,
        string_agg(
          CASE WHEN is_start
               THEN '<extra_id_' || sidx::VARCHAR || '> ' || tok
               WHEN flag THEN tok
          END, ' ' ORDER BY pos) AS target_text,
        sum(CASE WHEN is_start THEN 1 ELSE 0 END)::BIGINT AS n_spans
      FROM m2 GROUP BY 1)
    SELECT doc.doc_id,
      coalesce(a.input_text, '') AS input_text,
      coalesce(a.target_text, '') AS target_text,
      coalesce(a.n_spans, 0)::BIGINT AS n_spans
    FROM documents doc LEFT JOIN agg a USING (doc_id)"""

    sqls["dsir_weights"] = """
    WITH d AS (
      SELECT doc_id, source,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
      FROM documents),
    uni AS (
      SELECT doc_id, source, ws[i.i] AS gram
      FROM d, unnest(generate_series(1, len(ws))) i(i)),
    bi AS (
      SELECT doc_id, source, ws[i.i] || ' ' || ws[i.i + 1] AS gram
      FROM d, unnest(generate_series(1, len(ws) - 1)) i(i)),
    g AS (
      SELECT doc_id,
        (source IN ('src1', 'src2', 'src3')) AS t,
        CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 4096 AS b
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
    raw AS (
      SELECT b, count(*)::BIGINT AS r,
        sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS tc
      FROM g GROUP BY 1),
    tot AS (
      SELECT sum(r)::BIGINT AS rr, sum(tc)::BIGINT AS tt FROM raw),
    ratio AS (
      SELECT b,
        (((tc + 1) * (tot.rr + 4096) * 1000000)
         // ((r + 1) * (tot.tt + 4096)))::BIGINT AS ratio_ppm
      FROM raw CROSS JOIN tot),
    sc AS (
      SELECT g.doc_id, count(*)::BIGINT AS n_grams,
        (sum(ratio_ppm) // count(*))::BIGINT AS weight_ppm
      FROM g JOIN ratio USING (b) GROUP BY 1)
    SELECT doc.doc_id,
      coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
      coalesce(sc.weight_ppm, 0)::BIGINT AS weight_ppm
    FROM documents doc LEFT JOIN sc ON doc.doc_id = sc.doc_id"""

    sqls["bm25_topk"] = """
    WITH d AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
      FROM documents),
    w AS (
      SELECT doc_id, ws[i.i] AS term
      FROM d, unnest(generate_series(1, len(ws))) i(i)),
    posts AS (
      SELECT term, doc_id, count(*)::BIGINT AS tf FROM w GROUP BY 1, 2),
    dl AS (
      SELECT doc_id, sum(tf)::BIGINT AS dl FROM posts GROUP BY 1),
    st AS (
      SELECT count(DISTINCT doc_id)::BIGINT AS n,
             (sum(tf)::BIGINT // count(DISTINCT doc_id)::BIGINT) AS avgdl
      FROM posts),
    dft AS (
      SELECT term, count(*)::BIGINT AS df FROM posts
      WHERE term IN ('spark', 'vector', 'join') GROUP BY 1),
    sc AS (
      SELECT p.doc_id,
        sum(
          ((((2 * st.n - 2 * dft.df + 1) * 1000000) // (2 * dft.df + 1))
           * 44 * p.tf * st.avgdl)
          // (20 * p.tf * st.avgdl + 6 * st.avgdl + 18 * dl.dl)
        )::BIGINT AS score_ppm
      FROM posts p
      JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      GROUP BY 1)
    SELECT row_number() OVER (ORDER BY score_ppm DESC, doc_id)::INT
        AS rank,
      doc_id, score_ppm
    FROM sc ORDER BY rank LIMIT 15"""

    sqls["phrase_search"] = """
    WITH d AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
      FROM documents),
    w AS (
      SELECT doc_id, ws[i.i] AS term, i.i AS pos
      FROM d, unnest(generate_series(1, len(ws))) i(i))
    SELECT a.doc_id, count(*)::BIGINT AS n_occurrences
    FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'batch' AND b.term = 'batch'
    GROUP BY 1"""

    sqls["normalize_text"] = (
        """
    SELECT doc_id,
      CASE WHEN doc_id % 3 = 0 THEN text || ' café Å end'
           ELSE text || ' end' END AS norm_text,
      (doc_id % 3 = 0) AS changed
    FROM documents"""
    )

    sqls["outlink_degrees"] = f"""
    WITH e AS ({_OUTLINK_EDGES_SQL})
    SELECT dst_host,
      count(*)::BIGINT AS in_degree,
      count(DISTINCT src_host)::BIGINT AS n_src_hosts,
      sum(CASE WHEN src_host = dst_host THEN 1 ELSE 0 END)::BIGINT
        AS n_internal
    FROM e GROUP BY 1"""

    sqls["host_pagerank"] = _pagerank_sql(iters=3, damping_pct=85)
    sqls["host_hits"] = _hits_sql(iters=3)

    sqls["canonical_urls"] = """
    SELECT doc_id,
      CASE doc_id % 5
        WHEN 0 THEN 'http://www.site' || (doc_id % 50) || '.com/a/'
                    || doc_id || '?a=1&b=' || (doc_id % 7)
        WHEN 1 THEN 'https://site' || (doc_id % 50) || '.org/p' || doc_id
        WHEN 2 THEN 'https://site' || (doc_id % 50) || '.net:8443/x'
        WHEN 3 THEN 'http://site' || (doc_id % 50) || '.com/'
        ELSE NULL
      END AS canonical_url,
      CASE doc_id % 5
        WHEN 0 THEN 'www.site' || (doc_id % 50) || '.com'
        WHEN 1 THEN 'site' || (doc_id % 50) || '.org'
        WHEN 2 THEN 'site' || (doc_id % 50) || '.net'
        WHEN 3 THEN 'site' || (doc_id % 50) || '.com'
        ELSE ''
      END AS host
    FROM documents"""

    sqls["cdx_index"] = """
    WITH k AS (
      SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN 'com,site' || (doc_id % 50) || ',www)/a/'
                      || doc_id || '?a=1&b=' || (doc_id % 7)
          WHEN 1 THEN 'org,site' || (doc_id % 50) || ')/p' || doc_id
          WHEN 2 THEN 'net,site' || (doc_id % 50) || ')/x'
          ELSE 'com,site' || (doc_id % 50) || ')/'
        END AS surt_key
      FROM documents WHERE doc_id % 5 <> 4
    )
    SELECT row_number() OVER (ORDER BY surt_key, doc_id)::BIGINT AS rank,
      surt_key, doc_id
    FROM k"""

    sqls["cdx_lookup"] = (
        "SELECT * FROM (" + sqls["cdx_index"]
        + ") WHERE starts_with(surt_key, 'com,site5,')"
    )

    sqls["contamination_check"] = """
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
      FROM documents),
    g AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(w) >= 3 THEN
          list_transform(generate_series(1, len(w) - 2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
          ELSE [] END) AS g
      FROM w),
    bg AS (SELECT DISTINCT unnest(g) AS ngram FROM g WHERE doc_id % 13 = 0),
    hits AS (
      SELECT doc_id, count(*)::BIGINT AS n_contaminated
      FROM (SELECT doc_id, unnest(g) AS ngram FROM g) e
      JOIN bg USING (ngram) GROUP BY 1)
    SELECT g.doc_id, len(g.g)::BIGINT AS n_ngrams,
      coalesce(h.n_contaminated, 0)::BIGINT AS n_contaminated,
      CASE WHEN len(g.g) > 0 THEN
        ((2000000 * coalesce(h.n_contaminated, 0) + len(g.g))
         // (2 * len(g.g))) / 1000000.0
      ELSE 0.0 END AS contamination_frac,
      (len(g.g) > 0 AND coalesce(h.n_contaminated, 0) * 1000000
         >= 500000 * len(g.g)) AS is_contaminated
    FROM g LEFT JOIN hits h USING (doc_id)"""

    sqls["chunk_dedup"] = """
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
      FROM documents),
    ch AS (
      SELECT doc_id,
        unnest(generate_series(1, len(starts))) - 1 AS chunk_id,
        array_to_string(w[unnest(starts):unnest(starts)+7], ' ') AS chunk_text,
        len(w[unnest(starts):unnest(starts)+7]) AS n_tokens
      FROM (SELECT doc_id, w,
              CASE WHEN len(w) > 0 THEN generate_series(1, len(w), 6)
                   ELSE [] END AS starts
            FROM w))
    SELECT md5(chunk_text) AS chunk_md5,
      (min(doc_id * 1000000 + chunk_id) // 1000000)::BIGINT AS keep_doc_id,
      (min(doc_id * 1000000 + chunk_id) % 1000000)::BIGINT AS keep_chunk_id,
      count(*)::BIGINT AS n_copies,
      min(n_tokens)::BIGINT AS n_tokens
    FROM ch GROUP BY 1"""

    sqls["pack_chunks"] = """
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
      FROM documents),
    ch AS (
      SELECT doc_id,
        unnest(generate_series(1, len(starts))) - 1 AS chunk_id,
        len(w[unnest(starts):unnest(starts)+7]) AS n_tokens
      FROM (SELECT doc_id, w,
              CASE WHEN len(w) > 0 THEN generate_series(1, len(w), 6)
                   ELSE [] END AS starts
            FROM w)),
    b AS (
      SELECT doc_id, chunk_id, n_tokens,
        ('0x' || substr(md5('salt42|' || doc_id::VARCHAR), 1, 8))::BIGINT
          % 16 AS bucket
      FROM ch),
    c AS (
      SELECT *, sum(n_tokens) OVER (
        PARTITION BY bucket ORDER BY doc_id, chunk_id
        ROWS UNBOUNDED PRECEDING) AS c
      FROM b)
    SELECT bucket::BIGINT AS bucket, doc_id,
      chunk_id::BIGINT AS chunk_id, n_tokens::BIGINT AS n_tokens,
      ((c - 1) // 32)::BIGINT AS shard_id,
      greatest((c - n_tokens) - ((c - 1) // 32) * 32, 0)::BIGINT AS offset,
      (CASE WHEN (c - n_tokens) < ((c - 1) // 32) * 32 THEN 1
       ELSE 0 END)::INT AS straddles
    FROM c"""

    _rate = ("CASE lang WHEN 'en' THEN 620000 WHEN 'de' THEN 370000 "
             "WHEN 'fr' THEN 250000 WHEN 'es' THEN 180000 "
             "ELSE 120000 END")

    sqls["sample_stratified"] = f"""
    SELECT doc_id, lang, source,
      ({_bucket})::BIGINT AS bucket,
      ({_rate})::BIGINT AS rate_ppm
    FROM documents
    WHERE {_bucket} < {_rate}"""

    sqls["domain_mix"] = f"""
    SELECT lang, ({_rate})::BIGINT AS rate_ppm,
      count(*)::BIGINT AS n_total,
      sum(CASE WHEN {_bucket} < {_rate} THEN 1 ELSE 0 END)::BIGINT
        AS n_sampled,
      ((2000000 * sum(CASE WHEN {_bucket} < {_rate} THEN 1 ELSE 0 END)
        + count(*)) // (2 * count(*)))::BIGINT AS achieved_ppm
    FROM documents GROUP BY 1, 2"""

    _span_cte = """
    WITH t AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
      FROM documents),
    win AS (
      SELECT doc_id, p.p AS pos,
        array_to_string(w[p.p + 1 : p.p + 5], ' ') AS win
      FROM t, unnest(range(0, greatest(len(w) - 4, 0))) p(p)),
    r AS (
      SELECT doc_id, pos,
        count(*) OVER (PARTITION BY win) AS cnt,
        row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rk
      FROM win),
    mk AS (
      SELECT DISTINCT doc_id, pos + o.o AS tp
      FROM r, unnest(range(0, 5)) o(o)
      WHERE cnt >= 2 AND rk > 1)
    """

    sqls["duplicate_spans"] = _span_cte + """,
    g AS (
      SELECT doc_id, tp,
        tp - row_number() OVER (PARTITION BY doc_id ORDER BY tp) AS grp
      FROM mk)
    SELECT doc_id,
      min(tp)::BIGINT AS span_start,
      max(tp)::BIGINT AS span_end,
      (max(tp) - min(tp) + 1)::BIGINT AS span_len
    FROM g GROUP BY doc_id, grp"""

    sqls["strip_duplicate_spans"] = _span_cte + """,
    tok AS (
      SELECT doc_id, i.i AS tp, w[i.i + 1] AS tok
      FROM t, unnest(range(0, len(w))) i(i)),
    keep AS (
      SELECT tok.doc_id, tok.tp, tok.tok
      FROM tok
      WHERE NOT EXISTS (
        SELECT 1 FROM mk
        WHERE mk.doc_id = tok.doc_id AND mk.tp = tok.tp)),
    c AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS cleaned
      FROM keep GROUP BY doc_id),
    m AS (SELECT doc_id, count(*) AS nrm FROM mk GROUP BY doc_id)
    SELECT t.doc_id,
      coalesce(c.cleaned, '') AS cleaned,
      len(t.w)::BIGINT AS n_tokens,
      coalesce(m.nrm, 0)::BIGINT AS n_removed
    FROM t
    LEFT JOIN c ON c.doc_id = t.doc_id
    LEFT JOIN m ON m.doc_id = t.doc_id"""

    sqls["paragraph_dedup"] = """
    SELECT doc_id,
      'doc ' || doc_id || ' alpha ' || text || chr(10) || chr(10)
        || 'doc ' || doc_id || ' omega' AS cleaned,
      4::BIGINT AS n_paras,
      2::BIGINT AS n_kept,
      2::BIGINT AS n_removed
    FROM documents"""

    sqls["containment_pairs"] = f"""WITH {shingle_cte},
    rare AS (
      SELECT shingle_hash FROM shingles
      GROUP BY 1 HAVING count(*) <= 8),
    shc AS (SELECT s.* FROM shingles s JOIN rare USING (shingle_hash)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*)::BIGINT AS n_inter
      FROM shc a
      JOIN shc b ON b.shingle_hash = a.shingle_hash
               AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 10),
    sizes AS (SELECT doc_id, count(*)::BIGINT AS sz
              FROM shingles GROUP BY 1)
    SELECT i.id_a, i.id_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
      ((2000000 * i.n_inter + za.sz) // (2 * za.sz)) / 1000000.0
        AS cont_a,
      ((2000000 * i.n_inter + zb.sz) // (2 * zb.sz)) / 1000000.0
        AS cont_b
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b"""

    sqls["collocations"] = """
    WITH w AS (
      SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
      FROM documents),
    big AS (
      SELECT ws[i.i] AS w1, ws[i.i + 1] AS w2
      FROM w, unnest(range(1, len(ws))) i(i)
      WHERE len(ws) >= 2),
    pt AS (SELECT w1, w2, count(*)::BIGINT AS n_pair
           FROM big GROUP BY 1, 2),
    lm AS (SELECT w1, sum(n_pair)::BIGINT AS c_left FROM pt GROUP BY 1),
    rm AS (SELECT w2, sum(n_pair)::BIGINT AS c_right FROM pt GROUP BY 1),
    tot AS (SELECT sum(n_pair)::HUGEINT AS m FROM pt)
    SELECT p.w1, p.w2, p.n_pair,
      ((2000000::HUGEINT * p.n_pair * t.m
        + lm.c_left::HUGEINT * rm.c_right)
       // (2::HUGEINT * lm.c_left * rm.c_right))::BIGINT AS lift_ppm
    FROM pt p
    JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tot t
    WHERE p.n_pair >= 3"""

    # step derives from the same table both sides: total_weight div 40,
    # clamped to >= 1 (DuckDB // truncates = python // floors on
    # non-negatives — the pinned cross-engine division contract)
    sqls["sample_weighted"] = """
    WITH w AS (
      SELECT doc_id, greatest(n_chars, 0)::BIGINT AS weight
      FROM documents),
    t AS (SELECT greatest(sum(weight) // 40, 1)::BIGINT AS step FROM w),
    c AS (
      SELECT doc_id, weight,
        sum(weight) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
          AS cum_weight
      FROM w)
    SELECT c.doc_id, c.weight, c.cum_weight
    FROM c CROSS JOIN t
    WHERE c.weight > 0
      AND (c.cum_weight // t.step)
          > ((c.cum_weight - c.weight) // t.step)"""

    # Luhn scrub: same synthesis, same candidate regex (RE2-safe, no
    # lookarounds), same digit fold (double every 2nd from the right,
    # -9 on overflow), same fold-of-replaces via list_reduce with the
    # text prepended as the init value
    _luhn_valid = (
        "list_filter(cands, c -> (list_sum(list_transform("
        "range(1, length(translate(c, ' -', '')) + 1), i -> "
        "CASE WHEN (length(translate(c, ' -', '')) - i) % 2 = 1 THEN "
        "CASE WHEN 2 * substr(translate(c, ' -', ''), i, 1)::INT > 9 "
        "THEN 2 * substr(translate(c, ' -', ''), i, 1)::INT - 9 "
        "ELSE 2 * substr(translate(c, ' -', ''), i, 1)::INT END "
        "ELSE substr(translate(c, ' -', ''), i, 1)::INT END)) % 10) = 0)"
    )
    sqls["luhn_scrub"] = f"""
    WITH pages AS (
      SELECT doc_id,
        text || ' pay 4111 1111 1111 111' || (doc_id % 10)::VARCHAR
             || ' alt 5500-0000-0000-000' || ((doc_id + 7) % 10)::VARCHAR
             || ' ref 1234 ok' AS text
      FROM documents),
    c AS (
      SELECT doc_id, text,
        regexp_extract_all(text, '\\d(?:[ -]?\\d){{12,18}}') AS cands
      FROM pages)
    SELECT doc_id,
      len(cands)::BIGINT AS n_cc_candidates,
      len({_luhn_valid})::BIGINT AS n_cc_valid,
      list_reduce(list_prepend(text, {_luhn_valid}),
                  (a, b) -> replace(a, b, '[CC]')) AS scrubbed
    FROM c"""

    sqls["proximity_search"] = """
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
      FROM documents),
    pos AS (
      SELECT doc_id, ws[i.i] AS term, i.i - 1 AS p
      FROM w, unnest(range(1, len(ws) + 1)) i(i)),
    a AS (SELECT doc_id, p FROM pos WHERE term = 'spark'),
    b AS (SELECT doc_id, p FROM pos WHERE term = 'table')
    SELECT a.doc_id, count(*)::BIGINT AS n_pairs
    FROM a JOIN b ON b.doc_id = a.doc_id
               AND b.p > a.p AND b.p <= a.p + 3
    GROUP BY 1"""

    sqls["unigram_drift"] = """
    WITH wa AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                x -> len(x) > 0)) AS word
      FROM documents WHERE doc_id % 2 = 0),
    wb AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                x -> len(x) > 0)) AS word
      FROM documents WHERE doc_id % 2 = 1),
    ca AS (SELECT word, count(*)::BIGINT AS cnt_a FROM wa GROUP BY 1),
    cb AS (SELECT word, count(*)::BIGINT AS cnt_b FROM wb GROUP BY 1),
    ta AS (SELECT greatest(coalesce(sum(cnt_a), 0), 1)::HUGEINT AS t FROM ca),
    tb AS (SELECT greatest(coalesce(sum(cnt_b), 0), 1)::HUGEINT AS t FROM cb),
    j AS (
      SELECT coalesce(ca.word, cb.word) AS word,
        coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
      FROM ca FULL OUTER JOIN cb USING (word)),
    p AS (
      SELECT word, cnt_a, cnt_b,
        ((cnt_a::HUGEINT * 1000000) // ta.t)::BIGINT AS ppm_a,
        ((cnt_b::HUGEINT * 1000000) // tb.t)::BIGINT AS ppm_b
      FROM j, ta, tb)
    SELECT word, cnt_a, cnt_b, ppm_a, ppm_b,
      abs(ppm_a - ppm_b)::BIGINT AS delta_ppm
    FROM p WHERE abs(ppm_a - ppm_b) >= 1000"""

    sqls["cdc_dup_chunks"] = """
    WITH pages AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'shift ' || text AS text
      FROM documents WHERE doc_id % 5 = 0),
    c0 AS (
      SELECT doc_id, text,
        list_filter(list_transform(
          range(1, greatest(length(text) - 7, 0) + 1),
          i -> CASE WHEN ('0x' || substr(md5(substr(text, i, 8)), 1, 15))
                         ::BIGINT % 16 = 0
                    THEN i + 7 ELSE -1 END),
          x -> x > 0 AND x < length(text)) AS cuts
      FROM pages),
    c1 AS (SELECT doc_id, text, list_append(cuts, length(text)) AS cuts2
           FROM c0 WHERE length(text) > 0),
    ch AS (
      SELECT doc_id, j.j - 1 AS chunk_idx,
        substr(text,
          (CASE WHEN j.j = 1 THEN 0 ELSE cuts2[j.j - 1] END) + 1,
          cuts2[j.j]
            - CASE WHEN j.j = 1 THEN 0 ELSE cuts2[j.j - 1] END) AS chunk
      FROM c1, unnest(range(1, len(cuts2) + 1)) j(j)),
    h AS (
      SELECT doc_id, chunk_idx,
        ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS chunk_hash
      FROM ch WHERE length(chunk) >= 4),
    g AS (
      SELECT chunk_hash, count(*)::BIGINT AS n_copies,
        count(DISTINCT doc_id)::BIGINT AS n_docs,
        min(doc_id * 1000000 + chunk_idx) AS k
      FROM h GROUP BY 1)
    SELECT chunk_hash, n_copies, n_docs,
      (k // 1000000)::BIGINT AS canonical_doc,
      (k % 1000000)::INT AS canonical_idx
    FROM g WHERE n_copies >= 2"""

    return sqls


def q_lineage_buckets(spark, sf_dir):
    """Runs the REAL checkpointed route into a fresh temp dir and returns
    the per-bucket lineage entries (round-tripped through the commit
    protocol); the oracle recomputes the same per-bucket parse metrics
    directly."""
    import shutil
    import tempfile

    from logparser_spark.operators.route import SinkSpec
    from logparser_spark.plans import checkpoint as C

    base = tempfile.mkdtemp(prefix="lineage_q_")
    try:
        sinks = [SinkSpec("s_info", "Level EQ INFO")]
        C.route_checkpointed(
            _parsed(spark, sf_dir), sinks, _SPEC, base, buckets=8
        )
        rows = [
            (e["bucket"], e["rows"], e["well_formed_rows"])
            for e in C.completed_buckets(base).values()
        ]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        rows, "bucket INT, rows BIGINT, well_formed_rows BIGINT"
    )


def q_host_line_tally_salted(spark, sf_dir):
    """Two-stage salted count over the Zipf-skewed host key (3 hot hosts
    own ~70% of lines): must equal the plain per-host count."""
    from pyspark.sql import functions as F

    from logparser_spark.plans.skew import salted_count

    lines = _lines(spark, sf_dir).withColumn(
        "host", enrich.url_host(F.col("url"))
    )
    return salted_count(lines, "host", k=16)


# ── navigation / windowing surface (SURVEY §2.5 N1-N6) ────────────────


def q_nav_page_window(spark, sf_dir):
    """N1/N6 block fetch: rows at local ids [3, 6] of each doc's
    filtered (sink_info) view — the interactive pager's BETWEEN query."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    v = _parsed(spark, sf_dir).filter(sink_column(_sink("sink_info"), _SPEC))
    w = Window.partitionBy("doc_id").orderBy("line_no")
    local = v.select(
        "doc_id", "line_no", (F.row_number().over(w) - 1).alias("local_id")
    )
    return local.filter(F.col("local_id").between(3, 6))


def q_nav_eof_jump(spark, sf_dir):
    """N3 jump-to-EOF clamp: the LAST accepted line per doc."""
    from pyspark.sql import functions as F

    v = _parsed(spark, sf_dir).filter(sink_column(_sink("sink_info"), _SPEC))
    return v.groupBy("doc_id").agg(F.max("line_no").alias("line_no"))


def q_search_backward(spark, sf_dir):
    """N4 backward: last line before line 40 containing 'Ioctl', + pos."""
    from pyspark.sql import functions as F

    lines = _lines(spark, sf_dir)
    hits = lines.filter(
        F.col("raw_line").contains("Ioctl") & (F.col("line_no") < 40)
    )
    return hits.groupBy("doc_id").agg(
        F.max("line_no").alias("line_no"),
        F.max(
            F.struct("line_no", F.locate("Ioctl", F.col("raw_line")).alias("p"))
        )["p"].cast("long").alias("pos"),
    )


# ── extra parse-semantics coverage via the driver gate ────────────────

DBL_FORMAT = "{STR:Name} {DBL:Value} {INT:Seq}"


def q_parse_dbl_spec(spark, sf_dir):
    """Exercises the NumPy walker kernel (DBL specs have no flat regex,
    so the walker parses every row): synthesize '<name> <d.dd> <i>' lines
    from doc_id and parse them with a DBL-bearing format."""
    from pyspark.sql import functions as F

    from logparser_spark.functions.formats import compile_format
    from logparser_spark.operators.parse import parse_lines

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    lines = docs.select(
        "doc_id",
        F.format_string(
            "doc-%d %d.%02d %d",
            F.col("doc_id"),
            F.col("doc_id") % 100,
            (F.col("doc_id") * 7) % 100,
            F.col("doc_id") % 1000,
        ).alias("raw_line"),
    )
    spec = compile_format(DBL_FORMAT, name="dbl")
    parsed = parse_lines(lines, spec, with_matched_format=False)
    return parsed.select(
        "doc_id",
        F.col("parsed.Name").alias("name"),
        F.round(F.col("parsed.Value"), 6).alias("value"),
        F.col("parsed.Seq").alias("seq"),
        F.col("parsed.well_formed").alias("well_formed"),
    )


def q_crlf_identity(spark, sf_dir):
    """CRLF twin semantics (reference sample_crlf.log): exploding a
    \r\n-joined text yields byte-identical lines to the \n version."""
    from pyspark.sql import functions as F

    pages = _pages(spark, sf_dir)
    crlf = pages.withColumn(
        "text", F.regexp_replace("text", "\n", "\r\n")
    )
    out = explode_lines(crlf, keep_cols=["doc_id"])
    return out.select("doc_id", "line_no", "raw_line")


def q_route_raw_contains(spark, sf_dir):
    """F8 RawLineFilter: route on raw-substring containment (bypasses
    parsed fields entirely)."""
    from logparser_spark.operators.filters import RawLineFilter
    from logparser_spark.operators.route import SinkSpec

    sink = SinkSpec("raw_ioctl", RawLineFilter("Ioctl"))
    p = _parsed(spark, sf_dir)
    return p.filter(sink_column(sink, _SPEC)).select(
        "doc_id", "line_no", "raw_line"
    )


def q_route_ew_rows(spark, sf_dir):
    """EW (ends_with) comparator through the DSL."""
    from logparser_spark.operators.route import SinkSpec

    sink = SinkSpec("ew", "Mesg EW T1OUT")
    return _route_rows_for(spark, sf_dir, sink)


def q_route_nor_rows(spark, sf_dir):
    """NOR combine through the DSL (neither TRACE nor early)."""
    from logparser_spark.operators.route import SinkSpec

    sink = SinkSpec("nor", "Level EQ TRACE NOR Time ST 085353")
    return _route_rows_for(spark, sf_dir, sink)


def _route_rows_for(spark, sf_dir, sink):
    p = _parsed(spark, sf_dir)
    return _parsed_fields(p.filter(sink_column(sink, _SPEC))).select(
        "doc_id", "line_no", "level", "f_time", "mesg"
    )


NCHAR_FORMAT = "{STR:Tag,4}:{CHR:,-,1}{INT:Num}"
UTF8_NCHAR_FORMAT = "{STR:Head,6}{STR:Rest}"


def q_parse_nchar_utf8(spark, sf_dir):
    """BYTE-semantics NCHAR over multi-byte UTF-8 (reference parity:
    parsing_basics.cpp walks char*, so NCHAR counts BYTES). Three line
    families per doc_id % 3:

    - 0: 'héllo wörld-<id>' — 'héllo' is exactly 6 bytes (5 codepoints),
      so byte mode captures Head='héllo' where codepoint mode would
      swallow the space; exercises the walker's native byte path.
    - 1: 'zzzzzé<id>' — the 6-byte boundary SPLITS é; the capture
      carries U+FFFD for each orphan byte (documented stand-in for raw
      split bytes a UTF-8 column cannot hold); exercises the byte
      oracle via the walker's split detection.
    - 2: 'ascii-<id>' — pure ASCII, decided by the RE2 fast tier
      (byte == codepoint there).

    The DuckDB oracle predicts every value arithmetically from the
    construction rule (byte semantics are not expressible in DuckDB's
    codepoint string functions)."""
    from pyspark.sql import functions as F

    from logparser_spark.functions.formats import compile_format
    from logparser_spark.operators.parse import parse_lines

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    fam = F.col("doc_id") % 3
    lines = docs.select(
        "doc_id",
        F.when(fam == 0,
               F.concat(F.lit("héllo wörld-"), F.col("doc_id")))
        .when(fam == 1, F.concat(F.lit("zzzzzé"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("ascii-"), F.col("doc_id")))
        .alias("raw_line"),
    )
    spec = compile_format(UTF8_NCHAR_FORMAT, name="utf8_nchar")
    parsed = parse_lines(lines, spec, with_matched_format=False,
                         byte_mode=True)
    return parsed.select(
        "doc_id",
        F.col("parsed.Head").alias("head"),
        F.col("parsed.Rest").alias("rest"),
        F.col("parsed.well_formed").alias("well_formed"),
    )


def q_parse_nchar_spec(spark, sf_dir):
    """NCHAR + CHR-repeat fields end-to-end (fast-path-safe spec):
    lines 'XXXX:---N' synthesized from doc_id."""
    from pyspark.sql import functions as F

    from logparser_spark.functions.formats import compile_format
    from logparser_spark.operators.parse import parse_lines

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    lines = docs.select(
        "doc_id",
        F.format_string(
            "t%03d:%s%d",
            F.col("doc_id") % 1000,
            F.when(F.col("doc_id") % 3 == 0, F.lit("---")).otherwise(F.lit("-")),
            F.col("doc_id") % 97,
        ).alias("raw_line"),
    )
    spec = compile_format(NCHAR_FORMAT, name="nchar")
    parsed = parse_lines(lines, spec, with_matched_format=False)
    return parsed.select(
        "doc_id",
        F.col("parsed.Tag").alias("tag"),
        F.col("parsed.Num").alias("num"),
        F.col("parsed.well_formed").alias("well_formed"),
    )


def q_route_bits_histogram(spark, sf_dir):
    """Single-pass route_mask strategy: one packed bitmask column for all
    7 sinks (bit i = sink i), histogrammed — the large-N fan-out shape
    (one projection, no per-sink scans)."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.route import route_mask

    p = _parsed(spark, sf_dir)
    masked = route_mask(p, _SINKS, _SPEC)
    return masked.groupBy("route_bits").agg(F.count(F.lit(1)).alias("n"))


def q_containment_pairs(spark, sf_dir):
    """Asymmetric n-gram containment (quote/subset detection): pairs
    sharing ≥10 RARE shingles (document frequency ≤ 8 — tight here
    because the synthetic corpus is template-generated, so moderately
    shared shingles are corpus noise, not quotes), with exact |A∩B|/|A|
    and |A∩B|/|B| over the capped shingle pool — the Broder containment
    measure MinHash/LSH cannot see (a short doc quoted in a long one
    has low Jaccard). The oracle replays shingling, the df cap, and the
    integer-space rounding."""
    from logparser_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.containment_pairs(docs, min_inter=10, max_df=8)


def q_collocations(spark, sf_dir):
    """PMI-style collocation mining: adjacent word pairs with integer-
    exact lift_ppm = 10⁶·c_xy·M / (cL_x·cR_y) against the positional
    marginals — observed/expected under independence, monotone in PMI.
    DECIMAL(38,0) products (HUGEINT on the DuckDB side); count
    threshold, not top-k, so no tie-break hazard."""
    from logparser_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.collocations(docs, min_count=3)


def q_sample_weighted(spark, sf_dir):
    """Exact weight-proportional systematic sampling by n_chars: tick
    every step = total_weight div 40 units along the id-ordered weight
    axis, select documents whose interval contains a tick. Two-level
    prefix sum (the with_global_line_id pattern) — no global window;
    the oracle states the same rule with one window over 500 rows."""
    from logparser_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.sample_weighted_systematic(docs, 40)


# ── driver contract ───────────────────────────────────────────────────


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→enrich→route→aggregate at sf0.001."""
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    p = _parsed(spark, sf_dir).filter(
        sink_column(_sink("sink_not"), _SPEC)
        & F.col("parsed.well_formed")
    )
    e = enrich.enrich_all(p, spark)
    return e.groupBy("level", "severity", "is_error").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# queries() lists these names first and the rest in registration order;
# the fixed head keeps MANIFEST.md's `head#` column stable.
_DRIVER_HEAD: list[str] = [
    "grok_parse",
    "incremental_lsh",
    "crawl_frontier",
    "sentence_dedup",
    "cluster_representatives",
    "norm_exact_dedup",
    "domain_blocklist",
    "crawl_delays",
    "crawl_schedule",
    "host_components",
    "host_hits",
    "rebalance_mix",
    "tag_keywords",
    "bm25_topk",
    "dsir_weights",
    "span_corruption",
    "luhn_scrub",
    "proximity_search",
    "unigram_drift",
    "cdc_dup_chunks",
    "dq_check",
    "containment_pairs",
    "collocations",
    "sample_weighted",
    "parse_metrics",
    "sink_counts",
    "route_mixed_rows",
    "exact_dedup",
    "incremental_dedup",
    "lsh_pairs",
    "near_dup_clusters",
    "ngram_jaccard",
    "minhash_signature",
    "raw_lines",
    "parsed_render",
    "matched_format_counts_multi",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    allq = _all_queries()
    head = {n: allq[n] for n in _DRIVER_HEAD}
    head.update((n, f) for n, f in allq.items() if n not in head)
    return head


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "parse_metrics": q_parse_metrics,
        "matched_format_counts": q_matched_format_counts,
        "matched_format_counts_multi": q_matched_format_counts_multi,
        "parsed_render": q_parsed_render,
        "global_line_ids": q_global_line_ids,
        "level_histogram": q_level_histogram,
        "sink_counts": q_sink_counts,
        "route_info_rows": q_route_info_rows,
        "route_mixed_rows": q_route_mixed_rows,
        "route_window_rows": q_route_window_rows,
        "route_rsvp_rows": q_route_rsvp_rows,
        "route_not_rows": q_route_not_rows,
        "route_badfmt_rows": q_route_badfmt_rows,
        "raw_lines": q_raw_lines,
        "text_identity": q_text_identity,
        "enriched_counts": q_enriched_counts,
        "local_global_map": q_local_global_map,
        "search_first": q_search_first,
        "bucket_tally": q_bucket_tally,
        "host_tally": q_host_tally,
        # training-data pipeline ops
        "exact_dedup": q_exact_dedup,
        "incremental_dedup": q_incremental_dedup,
        "minhash_signature": q_minhash_signature,
        "lsh_pairs": q_lsh_pairs,
        "incremental_lsh": q_incremental_lsh,
        "sentence_dedup": q_sentence_dedup,
        "grok_parse": q_grok_parse,
        "ngram_jaccard": q_ngram_jaccard,
        "near_dup_clusters": q_near_dup_clusters,
        "cluster_representatives": q_cluster_representatives,
        "norm_exact_dedup": q_norm_exact_dedup,
        "simhash": q_simhash,
        "fingerprint": q_fingerprint,
        "language_id": q_language_id,
        "quality_score": q_quality_score,
        "domain_blocklist": q_domain_blocklist,
        "gopher_quality": q_gopher_quality,
        "token_stats": q_token_stats,
        "repetition_stats": q_repetition_stats,
        "filter_verdict": q_filter_verdict,
        "pii_scrub": q_pii_scrub,
        "canonical_urls": q_canonical_urls,
        "cdx_index": q_cdx_index,
        "cdx_lookup": q_cdx_lookup,
        "robots_allowed": q_robots_allowed,
        "crawl_delays": q_crawl_delays,
        "crawl_frontier": q_crawl_frontier,
        "crawl_schedule": q_crawl_schedule,
        "unigram_score": q_unigram_score,
        "bigram_score": q_bigram_score,
        "fix_mojibake": q_fix_mojibake,
        "simhash_near_dup": q_simhash_near_dup,
        "sample_fixed_n": q_sample_fixed_n,
        "politeness_order": q_politeness_order,
        "tfidf_top": q_tfidf_top,
        "normalize_text": q_normalize_text,
        "outlink_degrees": q_outlink_degrees,
        "anchor_text_stats": q_anchor_text_stats,
        "host_components": q_host_components,
        "rebalance_mix": q_rebalance_mix,
        "tag_keywords": q_tag_keywords,
        "sitemap_urls": q_sitemap_urls,
        "term_search": q_term_search,
        "bm25_topk": q_bm25_topk,
        "dsir_weights": q_dsir_weights,
        "span_corruption": q_span_corruption,
        "phrase_search": q_phrase_search,
        "host_pagerank": q_host_pagerank,
        "host_hits": q_host_hits,
        "luhn_scrub": q_luhn_scrub,
        "proximity_search": q_proximity_search,
        "unigram_drift": q_unigram_drift,
        "cdc_dup_chunks": q_cdc_dup_chunks,
        # corpus construction
        "contamination_check": q_contamination_check,
        "chunk_dedup": q_chunk_dedup,
        "pack_chunks": q_pack_chunks,
        "sample_stratified": q_sample_stratified,
        "domain_mix": q_domain_mix,
        "paragraph_dedup": q_paragraph_dedup,
        "duplicate_spans": q_duplicate_spans,
        "strip_duplicate_spans": q_strip_duplicate_spans,
        # checkpoint/lineage + skew
        "lineage_buckets": q_lineage_buckets,
        "host_line_tally_salted": q_host_line_tally_salted,
        # navigation / windowing
        "nav_page_window": q_nav_page_window,
        "nav_eof_jump": q_nav_eof_jump,
        "search_backward": q_search_backward,
        "dq_check": q_dq_check,
        # parse-semantics extras
        "parse_dbl_spec": q_parse_dbl_spec,
        "crlf_identity": q_crlf_identity,
        "parse_nchar_spec": q_parse_nchar_spec,
        "parse_nchar_utf8": q_parse_nchar_utf8,
        "parse_date_spec": q_parse_date_spec,
        "route_date_rows": q_route_date_rows,
        "dedup_doc_lines": q_dedup_doc_lines,
        "robots_sitemaps": q_robots_sitemaps,
        "etld1": q_etld1,
        "route_raw_contains": q_route_raw_contains,
        "route_ew_rows": q_route_ew_rows,
        "route_nor_rows": q_route_nor_rows,
        "route_bits_histogram": q_route_bits_histogram,
        # round-4b additions
        "containment_pairs": q_containment_pairs,
        "collocations": q_collocations,
        "sample_weighted": q_sample_weighted,
    }


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    sqls["parse_metrics"] = f"""{_prelude()}
    SELECT COUNT(*)::BIGINT AS total_lines,
           SUM(CASE WHEN well_formed THEN 1 ELSE 0 END)::BIGINT AS well_formed_lines,
           SUM(CASE WHEN well_formed THEN 0 ELSE 1 END)::BIGINT AS malformed_lines
    FROM parsed"""

    sqls["matched_format_counts"] = f"""{_prelude()}
    SELECT CASE WHEN well_formed THEN 'default' END AS matched_format,
           COUNT(*)::BIGINT AS n
    FROM parsed GROUP BY 1"""

    import re as _re

    hex_rx = _re.sub(r"\(\?P<g\d+>", "(?:", _HEX_SPEC.to_fast_regex())
    sqls["matched_format_counts_multi"] = f"""{_prelude('lines')}
    SELECT CASE WHEN regexp_matches(raw_line, {_sql_quote(_RX)}) THEN 'default'
                WHEN regexp_matches(raw_line, {_sql_quote(hex_rx)}) THEN 'hexdump'
           END AS matched_format,
           COUNT(*)::BIGINT AS n
    FROM lines GROUP BY 1"""

    sqls["global_line_ids"] = f"""{_prelude('lines')}
    SELECT doc_id, line_no,
           ROW_NUMBER() OVER (ORDER BY doc_id, line_no) - 1
             AS global_line_num
    FROM lines"""

    sqls["parsed_render"] = f"""{_prelude()}
    SELECT doc_id, line_no,
      'ParsedLine: ints(' || f_date || ', ' || f_time ||
      '); dbls(); chrs(:, ., :); strs("' || level || '", "' || source ||
      '", "' || mesg || '")' AS rendered
    FROM parsed WHERE well_formed"""

    sqls["level_histogram"] = f"""{_prelude()}
    SELECT level, COUNT(*)::BIGINT AS n
    FROM parsed WHERE well_formed GROUP BY 1"""

    sink_counts = "\n    UNION ALL ".join(
        f"SELECT '{name}' AS sink, COUNT(*)::BIGINT AS n FROM parsed "
        f"WHERE {_accept(pred)}"
        for name, pred in _SINK_PREDS.items()
    )
    sqls["sink_counts"] = f"{_prelude()}\n    {sink_counts}"

    sqls["route_info_rows"] = _route_sql(
        "sink_info", "doc_id, line_no, f_date, f_time, level, source, mesg, well_formed"
    )
    sqls["route_mixed_rows"] = _route_sql(
        "sink_mixed", "doc_id, line_no, level, f_time"
    )
    sqls["route_window_rows"] = _route_sql(
        "sink_window", "doc_id, line_no, level"
    )
    sqls["route_rsvp_rows"] = _route_sql(
        "sink_rsvp", "doc_id, line_no, source, mesg"
    )
    sqls["route_not_rows"] = _route_sql("sink_not", "doc_id, line_no, level")
    sqls["route_badfmt_rows"] = _route_sql(
        "sink_badfmt", "doc_id, line_no, raw_line"
    )

    sqls["raw_lines"] = f"""{_prelude('lines')}
    SELECT doc_id, line_no, raw_line FROM lines"""

    sqls["text_identity"] = f"""{_prelude('lines')}
    SELECT url, string_agg(raw_line, chr(10) ORDER BY line_no) AS text
    FROM lines GROUP BY url"""

    sqls["enriched_counts"] = f"""{_prelude()},
    {_LANG_DIM_SQL},
    {_TLD_DIM_SQL},
    {_STATUS_DIM_SQL},
    tagged AS (
      SELECT p.*, regexp_extract(p.url, 'https://[^/]*\\.([a-z]+)/', 1) AS tld
      FROM parsed p WHERE well_formed)
    SELECT l.lang_name, t.region, s.severity, COUNT(*)::BIGINT AS n
    FROM tagged g
    LEFT JOIN dim_lang l ON g.lang = l.lang
    LEFT JOIN dim_tld t ON g.tld = t.tld
    LEFT JOIN dim_status s ON g.level = s.level
    GROUP BY 1, 2, 3"""

    sqls["local_global_map"] = f"""{_prelude()}
    SELECT doc_id, line_no,
           (ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY line_no) - 1)::INT AS local_id
    FROM parsed WHERE {_accept(_SINK_PREDS['sink_info'])}"""

    sqls["search_first"] = f"""{_prelude('lines')}
    SELECT doc_id, MIN(line_no) AS line_no,
           arg_min(strpos(raw_line, 'Ioctl'), line_no)::BIGINT AS pos
    FROM lines WHERE contains(raw_line, 'Ioctl') GROUP BY doc_id"""

    sqls["bucket_tally"] = f"""{_prelude('lines')}
    SELECT doc_id % 32 AS bucket, COUNT(*)::BIGINT AS n
    FROM lines GROUP BY 1"""

    sqls["host_tally"] = f"""{_prelude('pages')}
    SELECT host || '.' || tld AS host, COUNT(*)::BIGINT AS n
    FROM pages GROUP BY 1"""

    sqls["lineage_buckets"] = f"""{_prelude()}
    SELECT (doc_id % 8)::INT AS bucket,
           COUNT(*)::BIGINT AS rows,
           SUM(CASE WHEN well_formed THEN 1 ELSE 0 END)::BIGINT
             AS well_formed_rows
    FROM parsed GROUP BY 1"""

    sqls["host_line_tally_salted"] = f"""{_prelude('lines')},
    l2 AS (
      SELECT regexp_extract(url, 'https://([^/]*)/', 1) AS host FROM lines)
    SELECT host, COUNT(*)::BIGINT AS n FROM l2 GROUP BY 1"""

    info_pred = _accept(_SINK_PREDS["sink_info"])
    sqls["nav_page_window"] = f"""{_prelude()},
    v AS (
      SELECT doc_id, line_no,
        (ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY line_no) - 1)::INT
          AS local_id
      FROM parsed WHERE {info_pred})
    SELECT doc_id, line_no, local_id FROM v
    WHERE local_id BETWEEN 3 AND 6"""

    sqls["nav_eof_jump"] = f"""{_prelude()}
    SELECT doc_id, MAX(line_no)::INT AS line_no
    FROM parsed WHERE {info_pred} GROUP BY doc_id"""

    sqls["search_backward"] = f"""{_prelude('lines')}
    SELECT doc_id, MAX(line_no)::INT AS line_no,
           arg_max(strpos(raw_line, 'Ioctl'), line_no)::BIGINT AS pos
    FROM lines
    WHERE contains(raw_line, 'Ioctl') AND line_no < 40
    GROUP BY doc_id"""

    sqls["parse_dbl_spec"] = """
    WITH raw AS (
      SELECT doc_id,
        printf('doc-%d %d.%02d %d', doc_id, doc_id % 100,
               (doc_id * 7) % 100, doc_id % 1000) AS raw_line
      FROM documents)
    SELECT doc_id,
      regexp_extract(raw_line, '^(\\S+) ([0-9]+\\.[0-9]+) ([0-9]+)$', 1)
        AS name,
      ROUND(CAST(regexp_extract(raw_line,
        '^(\\S+) ([0-9]+\\.[0-9]+) ([0-9]+)$', 2) AS DOUBLE), 6) AS value,
      CAST(regexp_extract(raw_line,
        '^(\\S+) ([0-9]+\\.[0-9]+) ([0-9]+)$', 3) AS BIGINT) AS seq,
      true AS well_formed
    FROM raw"""

    sqls["crlf_identity"] = f"""{_prelude('lines')}
    SELECT doc_id, line_no, raw_line FROM lines"""

    sqls["route_raw_contains"] = f"""{_prelude()}
    SELECT doc_id, line_no, raw_line FROM parsed
    WHERE (NOT well_formed) OR (well_formed AND contains(raw_line, 'Ioctl'))"""

    sqls["route_ew_rows"] = f"""{_prelude()}
    SELECT doc_id, line_no, level, f_time, mesg FROM parsed
    WHERE {_accept("mesg LIKE '%T1OUT'")}"""

    sqls["route_nor_rows"] = f"""{_prelude()}
    SELECT doc_id, line_no, level, f_time, mesg FROM parsed
    WHERE {_accept("NOT (level = 'TRACE' OR f_time < 85353)")}"""

    sqls["parse_nchar_utf8"] = """
    SELECT doc_id,
      CASE doc_id % 3
        WHEN 0 THEN 'héllo'
        WHEN 1 THEN 'zzzzz' || chr(65533)
        ELSE 'ascii-' END AS head,
      CASE doc_id % 3
        WHEN 0 THEN ' wörld-' || doc_id::VARCHAR
        WHEN 1 THEN chr(65533) || doc_id::VARCHAR
        ELSE doc_id::VARCHAR END AS rest,
      true AS well_formed
    FROM documents"""

    sqls["parse_nchar_spec"] = """
    WITH raw AS (
      SELECT doc_id,
        printf('t%03d:%s%d', doc_id % 1000,
               CASE WHEN doc_id % 3 = 0 THEN '---' ELSE '-' END,
               doc_id % 97) AS raw_line
      FROM documents)
    SELECT doc_id,
      CASE WHEN regexp_matches(raw_line, '^(.{4}):(-)-*([0-9]+)$')
           THEN regexp_extract(raw_line, '^(.{4}):(-)-*([0-9]+)$', 1) END AS tag,
      CASE WHEN regexp_matches(raw_line, '^(.{4}):(-)-*([0-9]+)$')
           THEN TRY_CAST(regexp_extract(raw_line,
                '^(.{4}):(-)-*([0-9]+)$', 3) AS BIGINT) END AS num,
      regexp_matches(raw_line, '^(.{4}):(-)-*([0-9]+)$') AS well_formed
    FROM raw"""

    bit_terms = []
    for bi, (sname, spred) in enumerate(_SINK_PREDS.items()):
        bit_terms.append(
            f"(CASE WHEN {_accept(spred)} THEN {1 << bi} ELSE 0 END)"
        )
    sqls["route_bits_histogram"] = f"""{_prelude()}
    SELECT ({' + '.join(bit_terms)})::BIGINT AS route_bits,
           COUNT(*)::BIGINT AS n
    FROM parsed GROUP BY 1"""

    sqls.update(_dataprep_sql())
    return sqls
