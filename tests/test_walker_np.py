"""Differential tests: the vectorized NumPy walker (walker_np) must be
byte-exact vs the pure-Python oracle on every input — including the
walker-only quirk lines (atol sign/whitespace acceptance, zero rule),
DBL strtod-vs-cursor lines, unicode bail-outs, nulls, and
trailing-optional endings — and so must the whole parse kernel on
random grammar-valid specs."""

from __future__ import annotations

import math
import random
import re

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
from logparser_spark.functions.oracle import parse_line
from logparser_spark.operators.walker_np import batch_walk_arrow
from logparser_spark.sources.corpus import GOLDEN_LINES

QUIRK_LINES = [
    "",
    "0322",
    "0322 085338",
    "0322 085338 TRACE  :",
    "-5 17 X :.a: b",        # atol sign, zero consumption
    " 42 7 L :.s: m",        # atol whitespace skip
    "00 0 A :.b: c",         # zero value with '0' at cursor
    "+3 9 Q :.z: w",         # plus sign
    "0" * 25 + " 5 T :.q: r",  # >18 digits -> overflow bail
    "üñï 1 X :.a: b",        # non-ASCII -> unicode bail
    "0322 085338 TRÄCE  :.a: b",
    # DBL: strtod vs the cursor's digits-plus-one-dot span
    ".5 x",
    ". x",
    "5. x",
    "1.2.3 x",
    "1e5 x",                 # strtod reads the exponent, the cursor not
    "1E-3 x",
    "0x1A x",                # hex value, cursor consumes only '0'
    "0x x",
    "inf x",
    "nan x",
    " 3.5 x",                # strtod skips whitespace, the cursor not
    "-2.5 x",                # sign
    "+0 x",
    "4.9e-324 x",            # smallest subnormal
    "1" * 400 + " x",        # mantissa past DBL_MAX -> inf
    "1.7976931348623159e308 x",  # rounds past DBL_MAX -> inf
]

SPECS = [
    DEFAULT_FORMAT,
    "{STR:A,4}:{CHR:,-,1}{INT:N}",
    "{INT:A} {STR:B}",
    "{STR:K}={STR:V}",
    "[{INT:T}] {STR:L} {STR:R}",
    "{STR:A} {STR:B}",
    "{INT:A}x{STR:B}",
    "{DATE:D} {STR:Rest}",
    "{INT:N} {DATE:D}",
    "{DBL:V} {STR:Rest}",
    "{STR:Name} {DBL:Value} {INT:Seq}",
    "{DBL:X}.{INT:Y}",
]


def _fuzz_lines(seed=11, n=2000):
    rng = random.Random(seed)
    alph = list("0123456789abcXY.:-= \t")
    out = list(GOLDEN_LINES) + QUIRK_LINES + [None]
    for _ in range(n):
        base = list(rng.choice(GOLDEN_LINES))
        for _ in range(rng.randint(0, 5)):
            op = rng.randint(0, 2)
            pos = rng.randrange(len(base)) if base else 0
            if op == 0 and base:
                base[pos] = rng.choice(alph)
            elif op == 1 and base:
                del base[pos]
            else:
                base.insert(pos, rng.choice(alph))
        out.append("".join(base))
    for _ in range(500):
        out.append("".join(rng.choice(alph)
                           for _ in range(rng.randint(0, 30))))
    # date-shaped lines: calendar edges, bad months/days, year 0000,
    # wrong separators, truncation
    for _ in range(800):
        y = rng.choice(["2024", "2023", "1900", "2000", "0000", "9999",
                        str(rng.randint(0, 9999)).zfill(4)])
        m = str(rng.randint(0, 19)).zfill(2)
        d = str(rng.randint(0, 39)).zfill(2)
        sep = rng.choice(["-", "-", "-", "/", ""])
        tail = "".join(rng.choice(alph) for _ in range(rng.randint(0, 10)))
        out.append(f"{y}{sep}{m}{sep}{d}{tail}")
        out.append(f"7 {y}-{m}-{d}")
    # number-shaped lines: digit runs with dots, exponents, signs, hex
    num_alph = list("0123456789" * 3 + "..eE+-xXpP ")
    for _ in range(800):
        tok = "".join(rng.choice(num_alph)
                      for _ in range(rng.randint(0, 12)))
        out.append(f"{tok} {rng.randint(0, 99)}")
        out.append(f"n{rng.randint(0, 9)} {tok} {rng.randint(0, 99)}")
    return out


def _nan_safe(values):
    """NaN != NaN; compare DBL ``nan`` values (strtod's ``"nan"``) by a
    stand-in so list equality still checks every other field."""
    return ["NaN" if isinstance(v, float) and math.isnan(v) else v
            for v in values]


@pytest.mark.parametrize("fmt", SPECS)
def test_np_walker_equals_oracle(fmt):
    spec = compile_format(fmt)
    lines = _fuzz_lines()
    arr = pa.array(lines, pa.string())
    outs, wf = batch_walk_arrow(arr, spec)
    ncols = len(spec.output_fields())
    for r, line in enumerate(lines):
        if line is None:
            exp_v, exp_w = [None] * ncols, False
        else:
            exp_v, exp_w = parse_line(line, spec)
        got = [outs[k][r].as_py() for k in range(ncols)]
        assert wf[r].as_py() == exp_w, (fmt, line)
        assert _nan_safe(got) == _nan_safe(exp_v), (fmt, line, got, exp_v)


def test_np_walker_sliced_input():
    """Arrow slices carry a non-zero offset; the buffer math must hold."""
    spec = compile_format(DEFAULT_FORMAT)
    lines = _fuzz_lines(seed=5, n=300)
    arr = pa.array(lines, pa.string()).slice(37, 200)
    outs, wf = batch_walk_arrow(arr, spec)
    ncols = len(spec.output_fields())
    for r, line in enumerate(arr.to_pylist()):
        if line is None:
            exp_v, exp_w = [None] * ncols, False
        else:
            exp_v, exp_w = parse_line(line, spec)
        got = [outs[k][r].as_py() for k in range(ncols)]
        assert wf[r].as_py() == exp_w and got == list(exp_v), (r, line)


def test_np_walker_int_saturation_contract():
    """>18-digit runs bail to the oracle, which saturates at int64
    bounds (C strtol) — the walker must neither raise nor diverge."""
    from logparser_spark.functions.oracle import INT64_MAX, INT64_MIN

    spec = compile_format("{INT:X} {STR:Rest}")
    lines = [
        "9" * 19 + " a",
        "9" * 25 + " b",
        "9223372036854775807 in-range",
        "9223372036854775808 past-max",
        "0" * 30 + " zeros",
        "123 normal",
    ]
    arr = pa.array(lines, pa.string())
    outs, wf = batch_walk_arrow(arr, spec)
    ncols = len(spec.output_fields())
    for r, line in enumerate(lines):
        exp_v, exp_w = parse_line(line, spec)
        got = [outs[k][r].as_py() for k in range(ncols)]
        assert wf[r].as_py() == exp_w and got == list(exp_v), (line, got)
    assert outs[0][0].as_py() == INT64_MAX
    assert outs[0][4].as_py() == 0

    neg = compile_format("{INT:X}-{INT:Y}")
    arr2 = pa.array(["-" + "9" * 25], pa.string())
    outs2, wf2 = batch_walk_arrow(arr2, neg)
    assert wf2[0].as_py() is True
    assert outs2[0][0].as_py() == INT64_MIN


def test_np_walker_dbl_decides_every_plain_row(monkeypatch):
    """Lines shaped like the DBL entry query's (``doc-<n> <d>.<dd> <i>``)
    never reach the per-row oracle: the walker decides DBL itself."""
    from logparser_spark.operators import walker_np

    calls = []

    def counting_oracle(line, spec):
        calls.append(line)
        return parse_line(line, spec)

    monkeypatch.setattr(walker_np, "oracle_parse_line", counting_oracle)
    spec = compile_format("{STR:Name} {DBL:Value} {INT:Seq}")
    lines = [f"doc-{n} {n % 100}.{n * 7 % 100:02d} {n % 1000}"
             for n in range(5000)]
    outs, wf = batch_walk_arrow(pa.array(lines, pa.string()), spec)
    assert calls == []
    assert all(wf.to_pylist())
    for r in range(0, 5000, 97):
        want, _ = parse_line(lines[r], spec)
        assert [o[r].as_py() for o in outs] == want


# ── random specs through the whole parse kernel ──────────────────────

_name = st.sampled_from(["A", "B", "Val", "X1", ""])
_field = st.one_of(
    _name.map(lambda n: f"{{INT:{n}}}"),
    _name.map(lambda n: f"{{DBL:{n}}}"),
    _name.map(lambda n: f"{{STR:{n}}}"),
    st.tuples(_name, st.integers(0, 5)).map(
        lambda t: f"{{STR:{t[0]},{t[1]}}}"
    ),
    st.tuples(_name, st.sampled_from([".", ":", "-", "=", "x"]),
              st.sampled_from(["0", "1"])).map(
        lambda t: f"{{CHR:{t[0]},{t[1]},{t[2]}}}"
    ),
    st.sampled_from([" ", ":", "=", "-", "[", "."]),
)
_spec_str = st.lists(_field, min_size=1, max_size=6).map("".join)
_line = st.text(alphabet="0123456789abcXYe.:-+= \t", max_size=40)


@settings(max_examples=300, deadline=None)
@given(fmt=_spec_str, lines=st.lists(_line, min_size=1, max_size=20))
def test_parse_kernel_equals_oracle_on_random_specs(fmt, lines):
    """The kernel ``parse_lines_arrow`` runs (flat-regex tier + walker
    for specs with a flat regex, the walker alone otherwise) equals the
    oracle on random grammar-valid specs, DBL included."""
    from logparser_spark.operators.parse import _kernel

    try:
        spec = compile_format(fmt)
    except ValueError:
        return  # invalid spec strings are rejected at compile time
    assert compile_format(fmt).fields == spec.fields  # deterministic
    fast = spec.to_fast_regex()
    if fast is not None:
        re.compile(fast)  # must always be a valid pattern
    outs, wf = _kernel(spec)(pa.array(lines, pa.string()))
    for r, line in enumerate(lines):
        exp_v, exp_w = parse_line(line, spec)
        got = [o[r].as_py() for o in outs]
        assert wf[r].as_py() == exp_w, (fmt, line)
        assert _nan_safe(got) == _nan_safe(exp_v), (fmt, line, got, exp_v)
