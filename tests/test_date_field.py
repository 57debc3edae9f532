"""DATE field type (engine extension — the reference README promises
"`DATE` support incoming" at /root/reference/README.md:57 but never
shipped it): the Spark parse must agree with the pure-Python
oracle on an adversarial corpus of calendar edges, and the date math
itself is pinned against datetime.date."""

import datetime
import random

import pytest

from logparser_spark.functions.dates import (
    date_from_days,
    days_from_civil,
    is_valid_date,
)
from logparser_spark.functions.formats import compile_format
from logparser_spark.functions.oracle import parse_line

FMT = "{DATE:Day} {INT:Time} {STR:Level} :{STR:Msg}"

LINES = [
    "2024-02-29 1200 INFO :hello world",
    "1900-02-29 1200 INFO :x",      # century non-leap
    "2000-02-29 5 INFO :y",         # 400-rule leap
    "2023-02-30 1 I :m",
    "2023-13-01 1 I :m",
    "2023-00-01 1 I :m",
    "2023-01-00 1 I :m",
    "0000-01-01 1 I :m",            # year 0: invalid (datetime parity)
    "0001-01-01 1 I :m",
    "9999-12-31 1 I :m",
    "2023-1-01 11 I :m",            # not zero-padded
    "2023/01/01 1 I :m",            # wrong separator
    "2024-02-2",                    # truncated mid-date
    "",
    "2020-06-15 999999999999999999999 INFO :overflow int",
    "2020-06-15 0 INFO :zero",
    "garbage",
    "2020-06-15 5 INFO :",
    "2020-06-15 5 ",
    "2020-06-15 ",
    "2020-06-15",
]


def test_civil_date_math_matches_datetime():
    epoch = datetime.date(1970, 1, 1).toordinal()
    rng = random.Random(3)
    for _ in range(3000):
        o = rng.randint(datetime.date(1, 1, 1).toordinal(),
                        datetime.date(9999, 12, 31).toordinal())
        d = datetime.date.fromordinal(o)
        assert days_from_civil(d.year, d.month, d.day) == o - epoch
        assert date_from_days(o - epoch) == d
    for y, m, d, want in [
        (2024, 2, 29, True), (1900, 2, 29, False), (2000, 2, 29, True),
        (0, 1, 1, False), (10000, 1, 1, False), (2023, 13, 1, False),
        (2023, 0, 1, False), (2023, 4, 31, False), (2023, 4, 30, True),
    ]:
        assert bool(is_valid_date(y, m, d)) is want, (y, m, d)


def test_oracle_date_semantics():
    spec = compile_format(FMT)
    v, wf = parse_line(LINES[0], spec)
    assert wf and v[0] == datetime.date(2024, 2, 29)
    for bad in LINES[1:2] + LINES[3:8] + LINES[10:13]:
        if bad.startswith(("2000", "0001", "9999")):
            continue
        v, wf = parse_line(bad, spec)
        assert not wf, bad
    # trailing-optional DATE stays unset at exact EOL
    spec2 = compile_format("{INT:N} {DATE:D}")
    assert parse_line("42 ", spec2) == ([42, None], True)
    assert parse_line(
        "42 2020-05-06", spec2
    ) == ([42, datetime.date(2020, 5, 6)], True)


def test_spark_parse_matches_oracle(spark):
    from logparser_spark.operators import parse as P

    spec = compile_format(FMT)
    cols = spec.column_names()
    want = {l: parse_line(l, spec) for l in LINES}
    df = spark.createDataFrame([(l,) for l in LINES], "raw_line string")
    for r in P.parse_lines_arrow(df, spec).collect():
        vals, wf = want[r["raw_line"]]
        p = r["parsed"]
        assert ([p[c] for c in cols], p["well_formed"]) == \
            (list(vals), wf), r["raw_line"]


def test_multi_format_cascade_and_render(spark):
    from logparser_spark.functions.formats import DEFAULT_FORMAT

    from logparser_spark.operators import parse as P

    spec = compile_format(FMT, name="datefmt")
    s2 = compile_format(DEFAULT_FORMAT, name="deflt")
    df = spark.createDataFrame([(l,) for l in LINES], "raw_line string")
    out = P.parse_lines_multi(df, [spec, s2])
    rows = {r["raw_line"]: r for r in out.collect()}
    oracle_spec = compile_format(FMT)
    for l in LINES:
        _, wf = parse_line(l, oracle_spec)
        assert (rows[l]["matched_format"] == "datefmt") == wf or not wf

    rend = P.render_parsed(
        P.parse_lines_arrow(df, spec), spec
    )
    got = {r["raw_line"]: r["rendered"] for r in rend.collect()}
    assert got["2024-02-29 1200 INFO :hello world"] == (
        'ParsedLine: ints(1200); dbls(); chrs(:); '
        'strs("INFO", "hello world"); dates(2024-02-29)'
    )
    # specs WITHOUT a DATE field keep the reference's byte-exact render
    nod = compile_format("{INT:A} {STR:B}")
    r2 = P.render_parsed(
        P.parse_lines_arrow(
            spark.createDataFrame([("7 x",)], "raw_line string"), nod,
        ), nod,
    ).collect()[0]["rendered"]
    assert r2 == 'ParsedLine: ints(7); dbls(); chrs(); strs("x")'


def test_date_filters(spark):
    from pyspark.sql import functions as F

    from logparser_spark.operators import parse as P
    from logparser_spark.operators.filters import parse_filter, to_column

    spec = compile_format(FMT)
    flt = parse_filter("Day GE 2023-01-01", spec)
    df = spark.createDataFrame(
        [("2024-02-29 1 INFO :a",), ("2022-12-31 1 INFO :b",),
         ("2023-01-01 1 INFO :c",)],
        "raw_line string",
    )
    parsed = P.parse_lines_arrow(df, spec)
    kept = sorted(
        r["raw_line"][:10]
        for r in parsed.where(to_column(flt, spec)).collect()
    )
    assert kept == ["2023-01-01", "2024-02-29"]
    with pytest.raises(ValueError):
        parse_filter("Day CT 2024", spec)
    with pytest.raises(ValueError):
        parse_filter("Day EQ 2024-13-01", spec)
