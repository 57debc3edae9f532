"""Differential test of the SQL filter lowering (``filters.to_sql``, as
used by ``route.route_mask``) against the oracle's ``accepts``.

Hypothesis draws filter ASTs over every field type and comparator, with
inversion at any node, XOR/NOR chains, line-number ranges and raw-line
filters, and draws parsed rows directly (unset fields, malformed rows,
int64 extremes, multi-byte text), so the test checks the lowering alone.
Values come from small shared pools, every example also routes one leaf
per (field type, comparator, ``_CI``), and each field leaf adds rows
whose field equals its value, so a swapped comparator (``<`` for ``<=``)
shows. Each example is one Spark job over up to 47 sinks.
"""

import datetime

from hypothesis import given, settings, strategies as st

from logparser_spark.functions.formats import compile_format
from logparser_spark.functions.oracle import INT64_MAX, INT64_MIN, OracleLine, accepts
from logparser_spark.operators.filters import (
    CombinedFilter,
    FieldFilter,
    LineNumberFilter,
    RawLineFilter,
    parse_filter,
    to_sql,
)
from logparser_spark.operators.route import SinkSpec, route_mask, sink_column

# field names with a backquote and a dot exercise the identifier quoting
SPEC = compile_format(
    "{DATE:Day} {INT:Num} {DBL:Score} {CHR:Flag,x,0} {STR:Le`vel} {STR:M.sg}"
)
KELVIN = "K"

DATES = [datetime.date(1, 1, 1), datetime.date(1970, 1, 1),
         datetime.date(2024, 2, 29), datetime.date(9999, 12, 31)]
INTS = [0, 1, -1, 85409, INT64_MAX, INT64_MIN]
# filter-only INT values: beyond int64, where a parsed INT saturates
BIG_INTS = ["9" * 19, "-" + "9" * 19, "1" + "0" * 40, "-" + "1" + "0" * 40]
# strtod reads "nan", so a parsed DBL can be NaN
DBLS = [0.0, -0.0, 1.5, -2.25, 1e300, float("inf"), float("-inf"), float("nan")]
CHRS = ["x", "X", "'", "\\", "`", "é", "$"]
STRS = ["", "INFO", "info", "Info", KELVIN, "k", "İX", "ix", "ǅ", "ǆ", "ÄBC",
        "a'b", "back\\slash", "tick`", "${spark.app.name}", "日本語", "a\nb"]
CMPS = ["EQ", "ST", "SE", "GT", "GE"]
SUBSTR = ["CT", "BW", "EW"]
FIELDS = {f.name: f.ftype.value for _, f in SPEC.output_fields()}


def _str_values():
    return st.one_of(st.sampled_from(STRS), st.text(max_size=4))


def _cmps(kind):
    return CMPS + SUBSTR if kind in ("CHR", "STR") else CMPS


def _values(kind):
    if kind == "DATE":
        return st.sampled_from(DATES).map(datetime.date.isoformat)
    if kind == "INT":
        return st.one_of(st.sampled_from([str(v) for v in INTS] + BIG_INTS),
                         st.integers(INT64_MIN, INT64_MAX).map(str))
    if kind == "DBL":
        return st.sampled_from(DBLS).map(repr)
    if kind == "CHR":
        # an empty CHR value compares as NUL, as in the oracle
        return st.sampled_from(CHRS + [""])
    return _str_values()


@st.composite
def field_filters(draw, name=None, cmp=None, ci=None):
    """A field leaf; ``name``, ``cmp`` and ``ci`` are drawn when unset."""
    name = name or draw(st.sampled_from(sorted(FIELDS)))
    kind = FIELDS[name]
    cmp = cmp or draw(st.sampled_from(_cmps(kind)))
    if ci is None:
        ci = kind == "STR" and draw(st.booleans())
    return FieldFilter(field=name, cmp=cmp, value=draw(_values(kind)),
                       case_insensitive=ci, inverted=draw(st.booleans()))


# one leaf per (field type, comparator, _CI) in every example
GRID = st.tuples(*[
    field_filters(name, cmp, ci)
    for name, kind in FIELDS.items() if name != "M.sg"
    for cmp in _cmps(kind)
    for ci in ((False, True) if kind == "STR" else (False,))
])


leaves = st.one_of(
    field_filters(),
    st.builds(LineNumberFilter, lo=st.integers(0, 6), hi=st.integers(0, 6),
              inverted=st.booleans()),
    st.builds(RawLineFilter, substr=st.one_of(st.sampled_from(STRS), st.text(max_size=2)),
              inverted=st.booleans()),
)
filters = st.recursive(
    leaves,
    lambda kids: st.builds(CombinedFilter, left=kids, right=kids,
                           op=st.sampled_from(["AND", "OR", "XOR", "NOR"]),
                           inverted=st.booleans()),
    max_leaves=6,
)


def _maybe(values):
    return st.one_of(st.none(), values)


rows = st.tuples(
    st.integers(0, 6),
    st.one_of(st.sampled_from(STRS), st.text(max_size=6)),
    st.booleans(),
    _maybe(st.sampled_from(DATES)),
    _maybe(st.one_of(st.sampled_from(INTS), st.integers(INT64_MIN, INT64_MAX))),
    _maybe(st.one_of(st.sampled_from(DBLS), st.floats(allow_nan=False))),
    _maybe(st.sampled_from(CHRS)),
    _maybe(_str_values()),
    _maybe(_str_values()),
)
sinks = st.lists(st.tuples(st.one_of(st.none(), filters), st.booleans()),
                 min_size=1, max_size=8)


def _schema(spec):
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("line_no", T.IntegerType()),
        T.StructField("raw_line", T.StringType()),
        T.StructField("parsed", spec.spark_schema()),
    ])


def _frame(spark, batch):
    data = [(i, n, raw, (*vals, wf)) for i, (n, raw, wf, *vals) in enumerate(batch)]
    return spark.createDataFrame(data, _schema(SPEC))


def _leaves(node):
    if isinstance(node, CombinedFilter):
        yield from _leaves(node.left)
        yield from _leaves(node.right)
    elif node is not None:
        yield node


def _boundary_rows(base, leaves):
    """For each field leaf, copies of the well-formed ``base`` row whose
    field equals the leaf's value (and, for a string, its Unicode upper
    case and the value with a character before or after it), so each
    comparator meets its boundary."""
    out = []
    for leaf in leaves:
        if not isinstance(leaf, FieldFilter):
            continue
        kind = FIELDS[leaf.field]
        if kind == "INT":
            v = int(leaf.value)
            values = [v] if INT64_MIN <= v <= INT64_MAX else []
        elif kind == "DBL":
            values = [float(leaf.value)]
        elif kind == "DATE":
            values = [datetime.date.fromisoformat(leaf.value)]
        elif kind == "CHR":
            values = [leaf.value[:1]] if leaf.value else []
        else:
            values = [leaf.value, leaf.value.upper(), "_" + leaf.value, leaf.value + "_"]
        k = 3 + list(FIELDS).index(leaf.field)
        out += [(*base[:2], True, *base[3:k], v, *base[k + 1:]) for v in values]
    return out


@settings(max_examples=30, deadline=None)
@given(batch=st.lists(rows, min_size=1, max_size=16), drawn=sinks, grid=GRID)
def test_route_mask_matches_oracle(spark, batch, drawn, grid):
    """The drawn sinks and one sink per grid leaf, over the drawn rows
    plus the boundary rows of every field leaf."""
    leaves = list(grid) + [leaf for ast, _ in drawn for leaf in _leaves(ast)]
    specs = [SinkSpec(f"s{i}", ast, abf) for i, (ast, abf) in enumerate(drawn)]
    specs += [SinkSpec(f"g{j}", leaf, False) for j, leaf in enumerate(grid)]
    batch = batch + _boundary_rows(batch[0], leaves)
    out = {r["i"]: r for r in route_mask(_frame(spark, batch), specs, SPEC).collect()}
    assert sorted(out) == list(range(len(batch)))
    for i, (n, raw, wf, *vals) in enumerate(batch):
        line = OracleLine(raw, n, vals, wf)
        bits = 0
        for k, s in enumerate(specs):
            want = accepts(s.filter, line, SPEC, s.accept_bad_format)
            bits |= want << k
            assert out[i][f"route_{s.name}"] is want, (to_sql(s.filter, SPEC), line)
        assert out[i]["route_bits"] == bits


PINNED_ROWS = [
    # line_no, raw_line, well_formed, Day, Num, Score, Flag, Le`vel, M.sg
    (0, "a $x", True, DATES[2], INT64_MAX, 1.5, "'", KELVIN, "${spark.app.name}"),
    (1, "b", True, DATES[1], INT64_MIN, -0.0, "\\", "İX", "it's"),
    (2, "c", True, None, None, None, None, None, None),
    (3, "d", False, DATES[0], 0, 0.0, "x", "k", "back\\slash"),
    (4, "e", True, DATES[3], 1, float("nan"), "é", "ǅ", "日本語"),
]
# (DSL or AST, indices of the pinned rows it routes)
PINNED = [
    ("Num GT " + "9" * 20, []),
    ("Num SE " + "9" * 20, [0, 1, 4]),
    ("Num EQ " + "9" * 20, []),
    ("Num GE -" + "9" * 20, [0, 1, 4]),
    ("Num ST -" + "9" * 20, []),
    (f"Le`vel EQ_CI {KELVIN}", [0]),
    ("Le`vel EQ_CI k", []),
    ("Le`vel BW_CI İ", [1]),
    ("Le`vel EQ_CI ix", []),
    ("M.sg EQ ${spark.app.name}", [0]),
    ("M.sg CT '", [1]),
    ("Flag EQ '", [0]),
    ("Flag EQ \\", [1]),
    ("Score EQ 0.0", [1]),
    ("Score GT 1.0", [0]),
    ("Score EQ nan", []),
    (FieldFilter(field="Score", cmp="GE", value="0", inverted=True), [4]),
    ("Day GE 2024-02-29", [0, 4]),
    (FieldFilter(field="Flag", cmp="CT", value=""), []),  # compares NUL
    (FieldFilter(field="Flag", cmp="GT", value=""), [0, 1, 4]),
    (RawLineFilter(substr="$x"), [0]),
    (LineNumberFilter(lo=1, hi=2, inverted=True), [0, 4]),
]


def test_pinned_filters_match_oracle(spark):
    """``sink_column`` (``to_sql`` inside the acceptance rule, as one
    ``F.expr``) on hand-picked rows:
    int64 saturation, the ASCII-only ``_CI`` on non-ASCII values, quotes,
    backslashes, a ``${...}`` value the SQL parser must not substitute,
    -0.0 and a NaN field, which no comparison accepts."""
    asts = [parse_filter(f, SPEC) if isinstance(f, str) else f for f, _ in PINNED]
    preds = [sink_column(SinkSpec(f"p{k}", a, False), SPEC).alias(f"p{k}")
             for k, a in enumerate(asts)]
    rows = _frame(spark, PINNED_ROWS).select("i", *preds).collect()
    for k, (ast, (flt, want)) in enumerate(zip(asts, PINNED)):
        got = sorted(r["i"] for r in rows if r[f"p{k}"])
        oracle = [i for i, (n, raw, wf, *vals) in enumerate(PINNED_ROWS)
                  if accepts(ast, OracleLine(raw, n, vals, wf), SPEC, False)]
        assert got == oracle == want, (flt, to_sql(ast, SPEC))


def test_route_mask_py4j_calls(spark):
    """Building ``route_mask`` over the seven fixture sinks takes a few
    py4j round trips: one projection of SQL text, not a Column per node.
    Only this thread's calls count: py4j's finalizer thread sends the
    releases of objects that earlier tests dropped whenever it runs."""
    import threading

    from logparser_spark.functions.formats import DEFAULT_FORMAT
    from logparser_spark.operators.route import fixture_sinks

    spec = compile_format(DEFAULT_FORMAT)
    df = spark.createDataFrame([], _schema(spec))
    route_mask(df, fixture_sinks(), spec)  # loads the JVM classes once
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.current_thread()
    calls = []

    def counted(command, *a, **k):
        if threading.current_thread() is me:
            calls.append(command[:2])
        return send(command, *a, **k)

    client.send_command = counted
    try:
        out = route_mask(df, fixture_sinks(), spec)
    finally:
        client.send_command = send
    assert len(calls) <= 40, calls
    assert out.columns[-8:] == [f"route_{s.name}" for s in fixture_sinks()] + ["route_bits"]


def test_route_mask_replaces_columns_in_place(spark):
    """Masking a masked frame again replaces each ``route_*`` column where
    it stands, like ``withColumns``: the column order does not change."""
    from logparser_spark.functions.formats import DEFAULT_FORMAT
    from logparser_spark.operators.route import fixture_sinks

    spec = compile_format(DEFAULT_FORMAT)
    df = spark.createDataFrame([], _schema(spec))
    once = route_mask(df, fixture_sinks(), spec)
    twice = route_mask(once.select("route_bits", *df.columns, "route_sink_info"),
                       fixture_sinks(), spec)
    assert once.columns == [*df.columns,
                            *(f"route_{s.name}" for s in fixture_sinks()), "route_bits"]
    assert twice.columns == ["route_bits", *df.columns, "route_sink_info",
                             *(f"route_{s.name}" for s in fixture_sinks()[1:])]
