"""Byte-semantics parse parity (the reference walks raw bytes —
parsing_basics.cpp:41-69 operates on char* — so NCHAR counts BYTES).

Covers the documented Unicode contract end to end: the oracle byte
walker (latin-1 trick + U+FFFD replacement), the provable
byte==codepoint equivalence for non-byte-sensitive specs, the NumPy
walker's native byte mode, and the full Spark kernel with
``byte_mode=True``."""

from __future__ import annotations

import pytest

from logparser_spark.functions.formats import (
    DEFAULT_FORMAT,
    compile_format,
)
from logparser_spark.functions.oracle import parse_line, parse_line_bytes
from logparser_spark.sources.corpus import GOLDEN_LINES

NCHAR_SPEC = compile_format("{STR:Head,6} {INT:Num} {STR:Rest}", name="n6")
EOL_SPEC = compile_format("{STR:Head,6}{STR:Rest}", name="n6eol")


class TestOracleByteMode:
    def test_byte_sensitivity_classification(self):
        assert not compile_format(DEFAULT_FORMAT).byte_sensitive()
        assert NCHAR_SPEC.byte_sensitive()
        assert not compile_format("{STR:,0}").byte_sensitive()  # NCHAR 0

    def test_nchar_counts_bytes_not_codepoints(self):
        # "héllo" = 6 BYTES (5 codepoints): byte mode stops before the
        # space, codepoint mode swallows it
        line = "héllo 42 wörld"
        bvals, bwf = parse_line_bytes(line, NCHAR_SPEC)
        cvals, cwf = parse_line(line, NCHAR_SPEC)
        assert bwf and cwf
        assert bvals == ["héllo", 42, "wörld"]
        assert cvals == ["héllo ", 42, "wörld"]

    def test_split_codepoint_yields_replacement_char(self):
        # NCHAR:6 over "zzzzzé..." slices é in half; the reference
        # would carry the raw split bytes — a UTF-8 column can't, so
        # each orphan byte decodes to U+FFFD (documented stand-in)
        vals, wf = parse_line_bytes("zzzzzé7", EOL_SPEC)
        assert wf
        assert vals == ["zzzzz�", "�7"]

    def test_split_then_failing_field_is_malformed(self):
        # after the split, the cursor sits on é's continuation byte;
        # INT's zero-rule fails there -> malformed, all values unset
        vals, wf = parse_line_bytes("zzzzzé42 x", NCHAR_SPEC)
        assert not wf
        assert vals == [None, None, None]

    def test_ascii_input_identical_to_codepoint_walker(self):
        spec = compile_format(DEFAULT_FORMAT)
        for line in GOLDEN_LINES:
            assert parse_line_bytes(line, spec) == parse_line(line, spec)
        for line in ("t123:-7", "abcdef 42 rest", ""):
            assert parse_line_bytes(line, NCHAR_SPEC) == parse_line(
                line, NCHAR_SPEC
            )

    def test_equivalence_for_non_sensitive_specs_on_unicode(self):
        """The byte_sensitive() proof in practice: golden-corpus lines
        re-encoded with multi-byte UTF-8 in every STR field parse
        identically under byte and codepoint semantics for the default
        (no-NCHAR, ASCII-stops) format."""
        spec = compile_format(DEFAULT_FORMAT)
        mutated = [
            l.replace("TRACE", "TRÄCE").replace("INFO", "ÏNFO")
            .replace("state", "ståte").replace("event", "événement")
            for l in GOLDEN_LINES
        ] + [
            "0322 085338 ÜBER  :...müdul: ünïcode—mesg 世界",
            "0322 085338 世界  :...x: ok",
        ]
        for line in mutated:
            assert parse_line_bytes(line, spec) == parse_line(line, spec), (
                line
            )

    def test_non_ascii_targets_rejected(self):
        spec = compile_format("{CHR:C,é,0}")
        with pytest.raises(ValueError, match="ASCII"):
            parse_line_bytes("éx", spec)

    def test_bytes_input_accepted(self):
        assert parse_line_bytes("héllo 42 w".encode(), NCHAR_SPEC) == \
            parse_line_bytes("héllo 42 w", NCHAR_SPEC)


class TestWalkerByteMode:
    def _walk(self, lines, spec, byte_mode):
        import pyarrow as pa

        from logparser_spark.operators.walker_np import batch_walk_arrow

        outs, wf = batch_walk_arrow(pa.array(lines), spec, byte_mode)
        n = len(lines)
        rows = []
        for r in range(n):
            rows.append((
                [o[r].as_py() for o in outs], bool(wf[r].as_py())
            ))
        return rows

    def test_walker_matches_byte_oracle_on_unicode(self):
        lines = [
            "héllo 42 wörld",     # clean 6-byte NCHAR boundary
            "zzzzzé42 x",         # split -> malformed (INT fails)
            "abcdef 7 tail",      # pure ascii
            "abéd 5 x",           # 5-byte head: NCHAR:6 swallows the space
            "",                   # empty
            "世界 1 x",   # 6-byte CJK pair exactly fills NCHAR
        ]
        got = self._walk(lines, NCHAR_SPEC, byte_mode=True)
        for line, (vals, wf) in zip(lines, got):
            evals, ewf = parse_line_bytes(line, NCHAR_SPEC)
            assert (vals, wf) == (evals, ewf), line

    def test_walker_split_capture_carries_replacement(self):
        got = self._walk(["zzzzzé7", "héllo wörld"], EOL_SPEC,
                         byte_mode=True)
        assert got[0] == (["zzzzz�", "�7"], True)
        assert got[1] == (["héllo", " wörld"], True)

    def test_codepoint_mode_unchanged(self):
        lines = ["héllo 42 wörld", "abcdef 7 tail"]
        got = self._walk(lines, NCHAR_SPEC, byte_mode=False)
        for line, (vals, wf) in zip(lines, got):
            evals, ewf = parse_line(line, NCHAR_SPEC)
            assert (vals, wf) == (evals, ewf), line


class TestSparkByteMode:
    @pytest.fixture(scope="class")
    def unicode_df(self, spark):
        lines = [
            (0, "héllo 42 wörld"),
            (1, "zzzzzé42 x"),
            (2, "abcdef 7 tail"),
            (3, "世界 1 x"),
            (4, ""),
            (5, "héllo 9999999999999999999999 x"),  # atol saturation
        ]
        return spark.createDataFrame(lines, "doc_id LONG, raw_line STRING")

    def test_kernel_matches_byte_oracle(self, spark, unicode_df):
        from logparser_spark.operators.parse import parse_lines_arrow

        parsed = parse_lines_arrow(unicode_df, NCHAR_SPEC, byte_mode=True)
        rows = {r["doc_id"]: r["parsed"] for r in parsed.collect()}
        for r in unicode_df.collect():
            evals, ewf = parse_line_bytes(r["raw_line"], NCHAR_SPEC)
            got = rows[r["doc_id"]]
            assert got["well_formed"] == ewf, r["raw_line"]
            assert [got["Head"], got["Num"], got["Rest"]] == evals, (
                r["raw_line"]
            )

    def test_multi_cascade_byte_mode(self, spark, unicode_df):
        """parse_lines_multi(byte_mode=True): a cascade where the NCHAR
        spec decides under byte semantics and the remainder falls to a
        catch-all EOL spec."""
        from logparser_spark.functions.formats import compile_format
        from logparser_spark.operators.parse import parse_lines_multi

        rest = compile_format("{STR:All}", name="rest")
        out = parse_lines_multi(
            unicode_df, [NCHAR_SPEC, rest], byte_mode=True
        )
        rows = {r["doc_id"]: r for r in out.collect()}
        for r in unicode_df.collect():
            evals, ewf = parse_line_bytes(r["raw_line"], NCHAR_SPEC)
            got = rows[r["doc_id"]]
            if ewf:
                assert got["matched_format"] == "n6", r["raw_line"]
                g = got["parsed_n6"]
                assert [g["Head"], g["Num"], g["Rest"]] == evals
            else:
                assert got["matched_format"] == "rest", r["raw_line"]
                assert got["parsed_rest"]["All"] == r["raw_line"]

    def test_default_mode_keeps_codepoint_semantics(self, spark,
                                                    unicode_df):
        from logparser_spark.operators.parse import parse_lines

        parsed = parse_lines(unicode_df, NCHAR_SPEC,
                             with_matched_format=False)
        rows = {r["doc_id"]: r["parsed"] for r in parsed.collect()}
        for r in unicode_df.collect():
            evals, ewf = parse_line(r["raw_line"], NCHAR_SPEC)
            got = rows[r["doc_id"]]
            assert got["well_formed"] == ewf, r["raw_line"]
            assert [got["Head"], got["Num"], got["Rest"]] == evals, (
                r["raw_line"]
            )
