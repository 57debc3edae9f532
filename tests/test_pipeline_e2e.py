"""End-to-end: pages synthesis -> explode -> parse -> enrich -> route ->
aggregate, verified against a pure-Python oracle computing the same
pipeline from the same parquet inputs (SURVEY.md §7.2 step 2: the walking
skeleton, extended through steps 4-5)."""

import collections

import duckdb
import pytest

from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
from logparser_spark.functions.oracle import (
    OracleLine,
    accepts,
    parse_line,
)
from logparser_spark.operators.aggregate import (
    bucket_tally,
    field_histogram,
    parse_metrics,
    sink_count_frame,
)
from logparser_spark.operators.enrich import STATUS_DIM, enrich_all
from logparser_spark.operators.parse import explode_lines, parse_lines
from logparser_spark.operators.route import fixture_sinks, route_mask
from logparser_spark.sources.corpus import GOLDEN_LINES
from logparser_spark.sources.pages import build_pages_from_documents

SF_DIR = "/root/testdata/sf0.001"
SPEC = compile_format(DEFAULT_FORMAT)


# ── pure-Python oracle of the whole pipeline ─────────────────────────


def oracle_docs():
    return duckdb.sql(
        f"SELECT doc_id, lang FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def oracle_lines():
    """[(doc_id, lang, line_no, raw, values, well_formed)] — parse results
    memoized per corpus id (there are only 62 distinct lines)."""
    parsed = [parse_line(l, SPEC) for l in GOLDEN_LINES]
    out = []
    for doc_id, lang in oracle_docs():
        n_lines = (doc_id % 62) + 1
        for j in range(n_lines):
            cid = (doc_id * 7 + j) % 62
            vals, wf = parsed[cid]
            out.append((doc_id, lang, j, GOLDEN_LINES[cid], vals, wf))
    return out


ORACLE_LINES = oracle_lines()
COLS = SPEC.column_names()


def oracle_routed(sink):
    ast = sink.ast(SPEC)
    kept = []
    for doc_id, lang, j, raw, vals, wf in ORACLE_LINES:
        ol = OracleLine(raw_line=raw, line_num=j, values=vals, well_formed=wf)
        if accepts(ast, ol, SPEC, sink.accept_bad_format):
            kept.append((doc_id, j))
    return set(kept)


@pytest.fixture(scope="module")
def parsed_df(spark):
    pages = build_pages_from_documents(spark, SF_DIR)
    lines = explode_lines(pages, keep_cols=["doc_id", "url", "lang"])
    return parse_lines(lines, SPEC)


class TestPagesSynthesis:
    def test_shape_and_determinism(self, spark):
        pages = build_pages_from_documents(spark, SF_DIR)
        assert [f.name for f in pages.schema.fields] == [
            "url", "warc_ts", "html", "text", "lang", "doc_id"
        ]
        types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
        assert types["html"] == "binary" and types["warc_ts"] == "timestamp"
        row = pages.filter("doc_id = 5").collect()[0]
        # doc 5: 6 lines starting at corpus id 35
        want_text = "\n".join(GOLDEN_LINES[(35 + j) % 62] for j in range(6))
        assert row["text"] == want_text
        assert row["url"] == "https://hot2.io/doc-5"
        assert bytes(row["html"]).decode().startswith("<html><body><pre>0322")
        assert str(row["warc_ts"]).startswith("2026-01-01 00:00:05")

    def test_line_count_matches_oracle(self, parsed_df):
        assert parsed_df.count() == len(ORACLE_LINES)


class TestParsePipeline:
    def test_per_line_equality_with_oracle(self, parsed_df):
        got = {
            (r["doc_id"], r["line_no"]): r
            for r in parsed_df.select("doc_id", "line_no", "parsed").collect()
        }
        assert len(got) == len(ORACLE_LINES)
        for doc_id, lang, j, raw, vals, wf in ORACLE_LINES:
            g = got[(doc_id, j)]["parsed"]
            assert g["well_formed"] == wf, (doc_id, j, raw)
            if wf:
                for k, c in enumerate(COLS):
                    assert g[c] == vals[k], (doc_id, j, c)

    def test_parse_metrics(self, parsed_df):
        m = parse_metrics(parsed_df).collect()[0]
        want_wf = sum(1 for *_x, wf in ORACLE_LINES if wf)
        assert m["total_lines"] == len(ORACLE_LINES)
        assert m["well_formed_lines"] == want_wf
        assert m["malformed_lines"] == len(ORACLE_LINES) - want_wf


class TestRouting:
    def test_single_pass_counts_match(self, parsed_df, spark):
        cf = {r["sink"]: r["n"] for r in
              sink_count_frame(parsed_df, fixture_sinks(), SPEC, spark).collect()}
        for sink in fixture_sinks():
            assert cf[sink.name] == len(oracle_routed(sink)), sink.name

    def test_route_mask_agrees(self, parsed_df):
        masked = route_mask(parsed_df, fixture_sinks(), SPEC)
        rows = masked.select(
            "doc_id", "line_no",
            *[f"route_{s.name}" for s in fixture_sinks()], "route_bits",
        ).collect()
        for i, sink in enumerate(fixture_sinks()):
            want = oracle_routed(sink)
            got = {(r["doc_id"], r["line_no"]) for r in rows if r[f"route_{sink.name}"]}
            assert got == want, sink.name
            bits = {(r["doc_id"], r["line_no"]) for r in rows
                    if (r["route_bits"] >> i) & 1}
            assert bits == want, f"bitmask {sink.name}"

    def test_ci_sinks_lower_ascii_only(self, spark):
        """``_CI`` lowers the 26 ASCII letters and nothing else, as C
        ``tolower`` does. Unicode lowering differs on the first five
        names: the Kelvin sign (U+212A) lowers to 'k', 'İ' to 'i' plus a
        combining dot, 'Ä' to 'ä' and the titlecase 'ǅ' to 'ǆ'."""
        from pyspark.sql.types import (
            BooleanType, LongType, StringType, StructField, StructType,
        )

        from logparser_spark.operators.route import SinkSpec

        spec = compile_format("{INT:Val} {STR:Name}")
        kelvin = "\u212a"
        names = [kelvin, "İX", "ÄBC", "ǅ", f"a{kelvin}B", "", None,
                 "MiXeD"]
        sinks = [
            SinkSpec(f"s{i}", dsl) for i, dsl in enumerate([
                "Name EQ_CI k", f"Name EQ_CI {kelvin}", "Name BW_CI i",
                "Name BW_CI İ", "Name CT_CI äb", "Name CT_CI Äb",
                "Name EQ_CI ǆ", "Name EQ_CI ǅ", "Name EW_CI kb",
                f"Name EW_CI {kelvin}b", "Name CT_CI a", "Name EQ_CI mixed",
            ])
        ]
        schema = StructType([
            StructField("line_no", LongType()),
            StructField("parsed", StructType([
                StructField("Val", LongType()),
                StructField("Name", StringType()),
                StructField("well_formed", BooleanType()),
            ])),
        ])
        df = spark.createDataFrame(
            [(i, (1, n, True)) for i, n in enumerate(names)], schema)
        rows = {r["line_no"]: r for r in route_mask(df, sinks, spec).collect()}
        for i, n in enumerate(names):
            line = OracleLine(raw_line="", line_num=i, values=[1, n],
                              well_formed=True)
            for s in sinks:
                want = accepts(s.ast(spec), line, spec, s.accept_bad_format)
                assert rows[i][f"route_{s.name}"] is want, (n, s.filter)


class TestAggregates:
    def test_level_histogram(self, parsed_df):
        got = {r["Level"]: r["n"] for r in field_histogram(parsed_df, "Level").collect()}
        want = collections.Counter(
            dict(zip(COLS, vals))["Level"]
            for *_a, vals, wf in [(x[0], x[1], x[2], x[3], x[4], x[5]) for x in ORACLE_LINES]
            if wf
        )
        assert got == dict(want)

    def test_bucket_tally(self, parsed_df):
        got = {r["bucket"]: r["n"] for r in bucket_tally(parsed_df).collect()}
        want = collections.Counter(d % 32 for d, *_ in ORACLE_LINES)
        assert got == dict(want)


class TestEnrich:
    def test_enrich_joins_are_broadcast(self, parsed_df, spark):
        enriched = enrich_all(parsed_df, spark)
        plan = enriched._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_status_severity_counts(self, parsed_df, spark):
        from pyspark.sql import functions as F

        enriched = enrich_all(parsed_df, spark)
        got = {
            (r["severity"], r["is_error"]): r["n"]
            for r in enriched.filter("parsed.well_formed")
            .groupBy("severity", "is_error")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        sev = {lvl: (s, e) for lvl, s, e in STATUS_DIM}
        want = collections.Counter()
        for *_a, vals, wf in ORACLE_LINES:
            if wf:
                lvl = dict(zip(COLS, vals))["Level"]
                want[sev.get(lvl, (None, None))] += 1
        assert got == dict(want)

    def test_lang_null_path(self, parsed_df, spark):
        enriched = enrich_all(parsed_df, spark)
        null_langs = {
            r["lang"]
            for r in enriched.filter("lang_name IS NULL").select("lang").distinct().collect()
        }
        # zh is absent from the dim -> null lang_name
        assert "zh" in null_langs
        assert "en" not in null_langs
