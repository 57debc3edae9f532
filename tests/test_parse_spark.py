"""Spark parse operator == pure-Python oracle, row for row.

The Spark pipeline is tested for equality with the oracle (SURVEY.md §5),
never against hard-coded values (except the §2 goldens which double-check
the oracle itself).
"""

import pytest
from hypothesis import given, settings, strategies as st

from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
from logparser_spark.functions.oracle import parse_line, split_lines
from logparser_spark.operators.parse import (
    explode_lines,
    parse_lines,
    parse_lines_multi,
)
from logparser_spark.sources.corpus import GOLDEN_LINES

SPEC = compile_format(DEFAULT_FORMAT)

# deliberately nasty lines exercising every quirk the regex fast path must
# hand off to the walker
EDGE_LINES = [
    "",
    " ",
    "\t\t",
    "0322 085338 TRACE  :...x: msg",
    "0322 085338",          # early exhaustion at field boundary
    "0322 085338 ",         # exhaustion inside WS
    "-5 123 LEVEL :.s: m",  # INT sign-no-consume -> malformed here
    "0 0 A :.B: C",
    "00 01 L :.S: M",
    "9999999999 123 L :.S: M",
    "abc",
    "0x00 0x01 0x02 0x03 ..Da..Ba",
    "322  \t 85338\tINFO   :...src:  tab ws",
    "msg with no numbers",
    "322 85338 INFO :x: lone\rcr",      # lone \r is payload
    "0322 085338 TRACE  :......router_forward_getOI:         gateway:   0.0.0.0",
]

DBL_EDGE_LINES = [
    "1.5 x",
    "0.0 x",
    ".5 x",
    ". x",
    ".x x",
    "0 x",
    "1.2.3 x",
    "12. x",
    "007.25 x",
    "1e5 x",    # atof sees 100000 but cursor stops after '1' -> walker decides
    "0x1A x",   # atof hex value, cursor consumes only '0'
    "5x x",
    "1E-3 x",
    "0x x",
    "inf x",
    "nan x",
    " 3.5 x",   # strtod skips whitespace, the cursor does not
    "-2.5 x",
    "+0 x",
    "4.9e-324 x",
    "1" * 400 + " x",            # mantissa past DBL_MAX -> inf
    "1.7976931348623159e308 x",  # rounds past DBL_MAX -> inf
]


def _to_rows(spark, lines):
    return spark.createDataFrame(
        [(i, l) for i, l in enumerate(lines)], "line_no INT, raw_line STRING"
    )


def _spark_parse(spark, lines, spec, multi=False):
    if multi:
        df = parse_lines_multi(_to_rows(spark, lines), [spec])
        col = f"parsed_{spec.name}"
    else:
        df = parse_lines(_to_rows(spark, lines), spec)
        col = "parsed"
    rows = {r["line_no"]: r[col] for r in df.collect()}
    return [rows[i] for i in range(len(lines))]


def _assert_matches_oracle(spark, lines, spec, multi=False):
    got = _spark_parse(spark, lines, spec, multi=multi)
    cols = spec.column_names()
    for i, line in enumerate(lines):
        want_vals, want_wf = parse_line(line, spec)
        g = got[i]
        assert g["well_formed"] == want_wf, f"line {i}: {line!r} wf"
        if want_wf:
            for k, c in enumerate(cols):
                w = want_vals[k]
                if isinstance(w, float):
                    assert g[c] == pytest.approx(w, nan_ok=True), (
                        f"line {i} field {c}"
                    )
                else:
                    assert g[c] == w, f"line {i} field {c}: {g[c]!r} != {w!r}"


class TestParseMatchesOracle:
    def test_golden_corpus(self, spark):
        _assert_matches_oracle(spark, GOLDEN_LINES, SPEC)

    def test_edge_lines(self, spark):
        _assert_matches_oracle(spark, EDGE_LINES, SPEC)

    def test_dbl_edges(self, spark):
        spec = compile_format("{DBL:V} {STR:Rest}")
        _assert_matches_oracle(spark, DBL_EDGE_LINES, spec)

    def test_dbl_edges_multi(self, spark):
        spec = compile_format("{DBL:V} {STR:Rest}", "dblfmt")
        _assert_matches_oracle(spark, DBL_EDGE_LINES, spec, multi=True)

    def test_int_sign_format(self, spark):
        spec = compile_format("{INT:X}-{INT:Y}")
        _assert_matches_oracle(spark, ["-5", "3-4", "-0", "0-0", "12-34x"], spec)

    def test_nchar_format(self, spark):
        spec = compile_format("{STR:A,4}{INT:N}")
        _assert_matches_oracle(spark, ["abcd12", "ab", "abcd", "abcdxy"], spec)

    def test_wellformed_count_matches_reference(self, spark):
        got = _spark_parse(spark, GOLDEN_LINES, SPEC)
        assert sum(g["well_formed"] for g in got) == 58

    def test_int_overflow_saturates_all_tiers(self, spark):
        """int64 saturation contract (C strtol): >=19-digit runs must not
        crash any tier and must clamp to INT64_MAX, well_formed=true."""
        from logparser_spark.functions.oracle import INT64_MAX

        lines = [
            "99999999999999999999999 85400 ERROR :.host1: boom",
            "9223372036854775807 1 INFO :.h: in-range max",
            "9223372036854775808 1 INFO :.h: just past max",
            "0322 99999999999999999999999 TRACE :.h: second field",
            "1230000000000000000000000000000000000000 2 WARN :.h: m",
        ]
        _assert_matches_oracle(spark, lines, SPEC)
        got = _spark_parse(spark, lines, SPEC)
        assert got[0]["well_formed"] and got[0][SPEC.column_names()[0]] == INT64_MAX
        assert got[2][SPEC.column_names()[0]] == INT64_MAX


    def test_matched_format_column(self, spark):
        df = parse_lines(_to_rows(spark, GOLDEN_LINES), SPEC)
        counts = {
            r["matched_format"]: r["count"]
            for r in df.groupBy("matched_format").count().collect()
        }
        assert counts == {"default": 58, None: 4}


class TestExplodeLines:
    def _pages(self, spark, texts):
        return spark.createDataFrame(
            [(f"u{i}", t) for i, t in enumerate(texts)], "url STRING, text STRING"
        )

    def test_split_semantics_match_oracle(self, spark):
        texts = [
            "a\nb\nc",
            "a\nb\n",
            "",
            "\n",
            "a\r\nb\r\n",
            "x\r\ry\nz",
            "one",
            "a\n\nb",
            # regression: Java $ matches before a FINAL newline too, so a
            # '\n$' strip ate two trailing newlines — these texts end in a
            # blank line that must survive (oracle keeps ['a', ''])
            "a\n\n",
            "a\n\r\n",
            "\n\n",
            # regression: Java $ matches before a final line terminator,
            # so a "\r$" strip ate both CRs of "a\r\r" (oracle: 'a\r')
            "a\r\r\nb",
            "\r\r",
            # a NULL page has no lines
            None,
        ]
        df = explode_lines(self._pages(spark, texts))
        got = {}
        for r in df.collect():
            got.setdefault(r["url"], []).append((r["line_no"], r["raw_line"]))
        for i, t in enumerate(texts):
            want = [] if t is None else list(enumerate(split_lines(t)))
            assert sorted(got.get(f"u{i}", [])) == want, f"text {t!r}"

    def test_split_runs_once_per_page(self, spark):
        """The page is split once, outside the generator, and no regex
        runs over it."""
        df = explode_lines(self._pages(spark, ["a\nb\n", "c"]))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("split(") == 1, plan
        assert "regexp_replace" not in plan, plan

    @settings(max_examples=30, deadline=None)
    @given(texts=st.lists(st.text(alphabet="a\r\né", max_size=12),
                          min_size=1, max_size=16))
    def test_explode_matches_split_lines_property(self, spark, texts):
        """Differential: explode_lines == oracle split_lines on CR/LF-dense
        pages, empty pages included (one Spark job per example batch)."""
        df = explode_lines(self._pages(spark, texts))
        got = {}
        for r in df.collect():
            got.setdefault(r["url"], []).append((r["line_no"], r["raw_line"]))
        for i, t in enumerate(texts):
            assert sorted(got.get(f"u{i}", [])) == list(enumerate(split_lines(t))), t

    def test_golden_payload_roundtrip(self, spark):
        payload = "\n".join(GOLDEN_LINES) + "\n"
        df = explode_lines(self._pages(spark, [payload]))
        rows = sorted((r["line_no"], r["raw_line"]) for r in df.collect())
        assert len(rows) == 62
        assert [r[1] for r in rows] == GOLDEN_LINES

    def test_crlf_payload_identical(self, spark):
        lf = "\n".join(GOLDEN_LINES) + "\n"
        crlf = "\r\n".join(GOLDEN_LINES) + "\r\n"
        df = explode_lines(self._pages(spark, [lf, crlf]))
        by_url = {}
        for r in df.collect():
            by_url.setdefault(r["url"], []).append((r["line_no"], r["raw_line"]))
        assert sorted(by_url["u0"]) == sorted(by_url["u1"])


def test_global_line_id_two_level_prefix(spark):
    """with_global_line_id == rank in the (doc_id, line_no) global order,
    across bucket boundaries (bucket_width=3 forces many buckets) and
    uneven per-doc line counts."""
    import random

    from logparser_spark.operators.parse import with_global_line_id

    rng = random.Random(7)
    rows = []
    docs = sorted(rng.sample(range(1000), 40))  # sparse, unsorted ids ok
    for d in docs:
        for ln in range(rng.randint(1, 9)):
            rows.append((d, ln))
    df = spark.createDataFrame(rows, "doc_id LONG, line_no INT")
    got = {
        (r["doc_id"], r["line_no"]): r["global_line_num"]
        for r in with_global_line_id(df, bucket_width=3).collect()
    }
    want = {key: i for i, key in enumerate(sorted(rows))}
    assert got == want


class TestRenderParsed:
    GOLDEN = ("0322 085353 TRACE  :......router_forward_getOI:"
              "         gateway:   0.0.0.0")
    WANT = ('ParsedLine: ints(322, 85353); dbls(); chrs(:, ., :); '
            'strs("TRACE", "router_forward_getOI", "gateway:   0.0.0.0")')

    def test_render_golden_line(self, spark):
        from logparser_spark.operators.parse import render_parsed

        df = parse_lines(_to_rows(spark, [self.GOLDEN, "not a log line"]), SPEC)
        got = {r["line_no"]: r["rendered"]
               for r in render_parsed(df, SPEC).collect()}
        assert got[0] == self.WANT
        # malformed: all fields unset -> empty slots, shape preserved
        assert got[1] == ('ParsedLine: ints(, ); dbls(); chrs(, , ); '
                          'strs("", "", "")')

    def test_parsed_to_json(self, spark):
        import json

        from logparser_spark.operators.parse import parsed_to_json

        df = parse_lines(_to_rows(spark, [self.GOLDEN, "nope"]), SPEC)
        got = {r["line_no"]: json.loads(r["parsed_json"])
               for r in parsed_to_json(df, SPEC).collect()}
        assert got[0]["Date"] == 322 and got[0]["Time"] == 85353
        assert got[0]["Level"] == "TRACE"
        assert got[0]["Source"] == "router_forward_getOI"
        assert got[0]["Mesg"] == "gateway:   0.0.0.0"
        assert got[0]["well_formed"] is True
        # unset fields are ABSENT in JSON (to_json omits nulls)
        assert got[1] == {"well_formed": False}


class TestParseMulti:
    HEX = "{INT:B0}x{STR:H0} {INT:B1}x{STR:H1} {INT:B2}x{STR:H2} {INT:B3}x{STR:H3} {STR:Tag}"

    def _check_cascade(self, spark, lines, specs):
        """Every cascade also sees a NULL line (no spec matches it:
        ``matched_format`` NULL, ``well_formed`` False under every spec)
        and an empty line (parsed like any other line)."""
        from logparser_spark.operators.parse import parse_lines_multi

        lines = list(lines) + [None, ""]
        df = _to_rows(spark, lines)
        out = {
            r["line_no"]: r
            for r in parse_lines_multi(df, specs).collect()
        }
        for i, line in enumerate(lines):
            want_name, want_vals = None, None
            for s in specs if line is not None else ():
                vals, wf = parse_line(line, s)
                if wf:
                    want_name, want_vals, want_spec = s.name, vals, s
                    break
            got = out[i]
            assert got["matched_format"] == want_name, (i, line)
            for s in specs:
                st = got[f"parsed_{s.name}"]
                if s.name == want_name:
                    assert st["well_formed"] is True
                    for k, c in enumerate(want_spec.column_names()):
                        w = want_vals[k]
                        if isinstance(w, float):
                            assert st[c] == pytest.approx(w, nan_ok=True)
                        else:
                            assert st[c] == w, (i, line, c)
                else:
                    assert st["well_formed"] is False
                    assert all(
                        st[c] is None for c in s.column_names()
                    ), (i, line, s.name)

    def test_cascade_first_match_wins(self, spark):
        specs = [SPEC, compile_format(self.HEX, "hexdump")]
        lines = GOLDEN_LINES + EDGE_LINES
        self._check_cascade(spark, lines, specs)

    def test_cascade_walker_spec(self, spark):
        # a DBL spec has no flat fast regex -> exercises the walker branch
        dbl = compile_format("{DBL:V} {STR:Rest}", "dblfmt")
        assert dbl.to_fast_regex() is None
        specs = [SPEC, dbl, compile_format(self.HEX, "hexdump")]
        lines = GOLDEN_LINES[:10] + DBL_EDGE_LINES + GOLDEN_LINES[24:30]
        self._check_cascade(spark, lines, specs)

    def test_cascade_fuzz_differential(self, spark):
        """600 adversarial lines (random garbage + corpus mutations)
        through a 3-spec cascade with OVERLAPPING formats — first-match
        semantics must equal the per-line oracle loop exactly."""
        import random

        rng = random.Random(1234)
        alphabet = list("0123456789abcXYZ.: \t-x")
        lines = []
        for _ in range(300):
            lines.append("".join(
                rng.choice(alphabet)
                for _ in range(rng.randint(0, 30))
            ))
        for _ in range(300):
            base = list(rng.choice(GOLDEN_LINES))
            for _ in range(rng.randint(0, 4)):
                pos = rng.randrange(len(base)) if base else 0
                op = rng.randint(0, 2)
                if op == 0 and base:
                    base[pos] = rng.choice(alphabet)
                elif op == 1 and base:
                    del base[pos]
                else:
                    base.insert(pos, rng.choice(alphabet))
            lines.append("".join(base))

        specs = [
            SPEC,
            compile_format(self.HEX, "hexdump"),
            compile_format("{INT:A}x{STR:B}", "intx"),  # overlaps hexdump
        ]
        self._check_cascade(spark, lines, specs)

    def test_cascade_counts_match_reference(self, spark):
        from pyspark.sql import functions as F

        from logparser_spark.operators.parse import parse_lines_multi

        specs = [SPEC, compile_format(self.HEX, "hexdump")]
        out = parse_lines_multi(_to_rows(spark, GOLDEN_LINES), specs)
        counts = {
            r["matched_format"]: r["count"]
            for r in out.groupBy("matched_format").count().collect()
        }
        assert counts == {"default": 58, "hexdump": 4}
