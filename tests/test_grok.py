"""Grok front-end: macro expansion, dialect parity (java.util.regex /
python re / DuckDB RE2), typed coercions, the malformed-line NULL
contract, and the map-only plan shape.

Reference anchor: the north-rule parse surface is "grok/regex parse" —
the reference repo itself ships only the positional format DSL
(/root/reference/src/line_parsing/*), so the grok module is a pinned
extension, same footing as the DATE field type. The pattern library is
defined from scratch in functions/grok.py; these tests pin ITS
semantics, not any external library's.
"""

import re

import duckdb
import pytest

from logparser_spark.functions.grok import (
    GROK_PATTERNS,
    compile_grok,
    grok_oracle_exprs,
    grok_parse,
)

ACCESS = (
    r'%{IPV4:ip} - %{NOTSPACE:ruser} \[%{INT:req:int}\] '
    r'"%{WORD:m} %{URIPATH:path} HTTP/%{NUMBER:v}" '
    r'%{INT:st:int} %{INT:b:int}'
)
GOOD = '10.1.2.3 - u42 [777] "GET /e/click/12 HTTP/1.1" 404 12345'
BAD = "BADLINE click"


def test_every_library_pattern_compiles_in_both_dialects():
    con = duckdb.connect()
    for name in GROK_PATTERNS:
        spec = compile_grok("%{" + name + ":x}")
        re.compile(spec.regex)  # java-compat subset sanity via python re
        rx = spec.regex.replace("'", "''")
        con.execute(f"SELECT regexp_matches('probe', '{rx}')")


def test_expansion_group_indexing_and_types():
    spec = compile_grok(ACCESS)
    assert [f.name for f in spec.fields] == [
        "ip", "ruser", "req", "m", "path", "v", "st", "b"]
    assert [f.group for f in spec.fields] == list(range(1, 9))
    m = re.match(spec.regex, GOOD)
    assert m and m.group(1) == "10.1.2.3" and m.group(5) == "/e/click/12"
    assert not re.match(spec.regex, BAD)
    # anchored: trailing garbage must not match
    assert not re.match(spec.regex, GOOD + " trailing")


def test_composed_patterns_recursion():
    spec = compile_grok(r"%{TIMESTAMP_ISO8601:ts}")
    for ok in ["2026-08-19T07:55:01Z", "2026-01-02 23:59:59.125+02:00",
               "1999-12-31 00:00:00"]:
        assert re.match(spec.regex, ok), ok
    for bad in ["2026-13-19T07:55:01Z", "2026-08-19T24:00:00",
                "2026-08-19", "not a date"]:
        assert not re.match(spec.regex, bad), bad


def test_compile_errors():
    with pytest.raises(ValueError, match="unknown grok pattern"):
        compile_grok("%{NOPE:x}")
    with pytest.raises(ValueError, match="duplicate grok field"):
        compile_grok("%{WORD:a} %{INT:a}")
    with pytest.raises(ValueError, match="recursion"):
        compile_grok("%{SELF:x}", extra={"SELF": "%{SELF}"})


def test_extra_patterns_override_for_this_compile_only():
    spec = compile_grok("%{WORD:w}", extra={"WORD": "[a-z]{2}"})
    assert re.match(spec.regex, "ab")
    assert not re.match(spec.regex, "abc")
    assert GROK_PATTERNS["WORD"] == r"\w+"  # library untouched


def test_duckdb_replay_matches_python_re():
    spec = compile_grok(ACCESS)
    con = duckdb.connect()
    exprs = ", ".join(grok_oracle_exprs(spec, "l"))
    for line in [GOOD, BAD, "", "10.1.2.3 - u [x] bad", None]:
        row = con.execute(
            f"SELECT {exprs} FROM (SELECT ?::VARCHAR AS l)", [line]).fetchone()
        m = re.match(spec.regex, line) if line is not None else None
        assert row[0] is bool(m)
        if m:
            assert row[1] == m.group(1)
            assert row[3] == int(m.group(3))
        else:
            assert all(v is None for v in row[1:])


def test_grok_parse_spark_values_types_and_null_contract(spark):
    df = spark.createDataFrame(
        [(1, GOOD), (2, BAD), (3, None)], "id long, raw_line string")
    out = grok_parse(df, ACCESS).orderBy("id").collect()
    r1, r2, r3 = out
    assert r1.grok_matched and r1.ip == "10.1.2.3" and r1.ruser == "u42"
    assert r1.req == 777 and r1.st == 404 and r1.b == 12345
    assert r1.path == "/e/click/12" and r1.v == "1.1"
    # typed columns, not strings
    schema = {f.name: f.dataType.simpleString()
              for f in grok_parse(df, ACCESS).schema.fields}
    assert schema["req"] == "bigint" and schema["st"] == "bigint"
    assert schema["ip"] == "string"
    # malformed and NULL lines: matched False, every field NULL (the
    # regexp_extract ''-on-miss is gated away)
    for r in (r2, r3):
        assert not r.grok_matched
        assert all(r[c] is None
                   for c in ["ip", "ruser", "req", "m", "path",
                             "v", "st", "b"])


def test_grok_parse_plan_is_map_only(spark):
    df = spark.createDataFrame([(1, GOOD)], "id long, raw_line string")
    plan = grok_parse(df, ACCESS)._jdf.queryExecution() \
        .executedPlan().toString()
    for node in ["Exchange", "ArrowEvalPython", "BatchEvalPython",
                 "MapInArrow", "SortMergeJoin"]:
        assert node not in plan, f"{node} in grok plan:\n{plan}"


def test_grok_parse_spark_agrees_with_duckdb_on_corpus(spark):
    """Dialect-parity differential on a generated corpus hitting every
    field type and both match outcomes."""
    rows = []
    for i in range(200):
        if i % 5 == 0:
            rows.append((i, f"garbage line {i}"))
        else:
            rows.append((
                i,
                f"10.0.{i % 256}.{(i * 7) % 256} - u{i} [{i}] "
                f'"GET /p/{i} HTTP/1.{i % 2}" {200 + i % 100} {i * 3}',
            ))
    df = spark.createDataFrame(rows, "id long, raw_line string")
    got = {r.id: tuple(r)[1:] for r in
           grok_parse(df, ACCESS).select(
               "id", "grok_matched", "ip", "ruser", "req", "m",
               "path", "v", "st", "b").collect()}
    spec = compile_grok(ACCESS)
    con = duckdb.connect()
    exprs = ", ".join(grok_oracle_exprs(spec, "l"))
    for i, line in rows:
        want = con.execute(
            f"SELECT {exprs} FROM (SELECT ? AS l)", [line]).fetchone()
        assert got[i] == tuple(want), (i, line, got[i], want)
