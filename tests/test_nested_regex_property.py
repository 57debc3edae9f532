"""Property-based differential test of the parse kernel's regex tier:
the flat pattern (FormatSpec.to_fast_regex) must agree with the
byte-exact oracle walker wherever it DECIDES a row. Rows it rejects go
to the walker by construction, so one-sided agreement is the safety
property.

Uses hypothesis to generate random format specs (from the real grammar)
and adversarial lines (random characters from the grammar's delimiters).
"""

from __future__ import annotations

import datetime
import re

import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import given, settings, strategies as st

from logparser_spark.functions.formats import (
    FieldType,
    compile_format,
)
from logparser_spark.functions.oracle import parse_line

# ── spec generator (valid grammar strings, no DBL: DBL specs have no
#    flat regex and run on the walker alone, see test_walker_np) ──

_name = st.sampled_from(["A", "B", "Val", "X1", ""])
_chr_target = st.sampled_from([".", ":", "-", "=", "x"])

_field = st.one_of(
    _name.map(lambda n: f"{{INT:{n}}}"),
    _name.map(lambda n: f"{{STR:{n}}}"),
    st.tuples(_name, st.integers(0, 5)).map(
        lambda t: f"{{STR:{t[0]},{t[1]}}}"
    ),
    st.tuples(_name, _chr_target, st.sampled_from(["0", "1"])).map(
        lambda t: f"{{CHR:{t[0]},{t[1]},{t[2]}}}"
    ),
    st.sampled_from([" ", ":", "=", "-", "["]),
)

_spec_str = st.lists(_field, min_size=1, max_size=6).map("".join)

_line_alphabet = "0123456789abcXY.:-= \t"
_random_line = st.text(alphabet=_line_alphabet, min_size=0, max_size=40)


def _regex_values(spec, pattern, line):
    """The values the regex tier decides for ``line``, or None where it
    leaves the row to the walker (no match, >18-digit INT capture,
    calendar-invalid DATE). Applies the kernel's trailing-unset rule
    (mirrors operators/parse._batch_parse_arrow)."""
    from logparser_spark.operators.parse import _fast_plan

    m = pattern.match(line)
    if m is None:
        return None
    gd = m.groupdict()
    vals = []
    for i, f in spec.output_fields():
        g = gd.get(f"g{i}")
        if g is None:
            vals.append(None)
        elif f.ftype == FieldType.INT:
            if len(g) > 18:
                return None
            vals.append(int(g))
        elif f.ftype == FieldType.DATE:
            try:
                vals.append(datetime.date(
                    int(g[0:4]), int(g[5:7]), int(g[8:10])
                ))
            except ValueError:
                return None
        else:
            vals.append(g)
    _, unset_suffix = _fast_plan(spec)
    tail_zero = True
    for k in unset_suffix:  # last-to-first
        tail_zero = tail_zero and vals[k] == ""
        if tail_zero:
            vals[k] = None
    return vals


@settings(max_examples=400, deadline=None)
@given(fmt=_spec_str, line=_random_line)
def test_nested_regex_matches_imply_walker_agreement(fmt, line):
    try:
        spec = compile_format(fmt)
    except ValueError:
        return  # invalid spec strings are rejected at compile time
    rx = spec.to_fast_regex()
    if rx is None:
        return  # no regex tier: every row goes to the walker
    decided = _regex_values(spec, re.compile(rx), line)
    if decided is None:
        return  # regex-rejected rows go to the walker by construction
    vals, wf = parse_line(line, spec)
    assert wf, f"regex matched but walker malformed: {fmt!r} {line!r}"
    assert decided == list(vals), (
        f"value mismatch: {fmt!r} {line!r} regex={decided} walker={list(vals)}"
    )


@settings(max_examples=200, deadline=None)
@given(fmt=_spec_str)
def test_compile_is_deterministic_and_regex_wellformed(fmt):
    try:
        s1 = compile_format(fmt)
        s2 = compile_format(fmt)
    except ValueError:
        return
    assert [f.__dict__ for f in s1.fields] == [f.__dict__ for f in s2.fields]
    fast = s1.to_fast_regex()
    assert fast == s2.to_fast_regex()
    if fast is not None:
        re.compile(fast)  # must always be a valid pattern ...
        # ... for RE2 too, which is what runs it in the kernel
        pc.extract_regex(pa.array(["", None], pa.string()), pattern=fast)
