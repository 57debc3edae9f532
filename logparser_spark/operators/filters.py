"""Filter-predicate DSL: AST, parser, canonical form, and Catalyst compiler.

Reimplements the reference's filter engine
(``/root/reference/src/file_parsing/filter_parsing.cpp:91-163``,
``line_filter.cpp``) semantics:

- grammar: ``<field> <CMP> <value>``, parenthesized groups, binary
  ``AND/OR/XOR/NOR`` with **no precedence**: the earliest operator token
  splits first and the rest re-parses, so chains group right-associatively
  (``A OR B AND C`` == ``A OR (B AND C)``, proven by the reference's
  ``tests/test_filter_roundtrip.cpp:442-452``);
- comparator aliases (``EQUAL -> EQ``, ``SMALLER_THAN -> ST``,
  ``STARTS_WITH -> BW``, ...) each with a ``_CI`` case-insensitive variant
  (``filter_parsing.cpp:55-86``); the earliest tag occurrence wins, ties by
  the reference's check order;
- special form ``line_num CT a,b`` -> inclusive per-document line-range
  filter (``filter_parsing.cpp:144-160``);
- ``to_string`` canonical short-tag form with full parenthesization and
  ``equals`` structural equality (``line_filter.cpp:293-376``); like the
  reference, ``to_string`` does NOT encode the invert flag;
- invert-via-XOR wrapper on every node (``line_filter.hpp:31-39``).

``to_sql`` renders an AST as one Spark SQL expression over the parsed
struct, and ``to_column`` is its ``F.expr`` — Catalyst then gets full
predicate pushdown / boolean simplification for free (the reference's
hand-rolled short-circuiting, SURVEY.md §4).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Optional, Union

from ..functions.formats import FieldType, FormatSpec
from ..functions.oracle import INT64_MAX, INT64_MIN

# ── AST ───────────────────────────────────────────────────────────────


@dataclass
class _Node:
    inverted: bool = dc_field(default=False, kw_only=True)

    def invert(self):
        self.inverted = not self.inverted
        return self

    # reference operator== checks invert flag + structural equals
    def same(self, other) -> bool:
        return self.inverted == other.inverted and self.equals(other)


@dataclass
class FieldFilter(_Node):
    field: str
    cmp: str  # short tag: EQ ST SE GT GE CT BW EW
    value: str
    case_insensitive: bool = False

    def to_string(self, spec: Optional[FormatSpec] = None) -> str:
        tag = self.cmp + ("_CI" if self.case_insensitive else "")
        return f"{self.field} {tag} {self.value}"

    def equals(self, other) -> bool:
        return (
            isinstance(other, FieldFilter)
            and self.field == other.field
            and self.cmp == other.cmp
            and self.case_insensitive == other.case_insensitive
            and self.value == other.value
        )


@dataclass
class CombinedFilter(_Node):
    left: "Filter"
    right: "Filter"
    op: str  # AND OR XOR NOR

    def to_string(self, spec: Optional[FormatSpec] = None) -> str:
        return (
            f"({self.left.to_string(spec)}) {self.op} "
            f"({self.right.to_string(spec)})"
        )

    def equals(self, other) -> bool:
        return (
            isinstance(other, CombinedFilter)
            and self.op == other.op
            and self.left.same(other.left)
            and self.right.same(other.right)
        )


@dataclass
class LineNumberFilter(_Node):
    lo: int
    hi: int

    def to_string(self, spec: Optional[FormatSpec] = None) -> str:
        return f"line_num CT {self.lo},{self.hi}"

    def equals(self, other) -> bool:
        return (
            isinstance(other, LineNumberFilter)
            and self.lo == other.lo
            and self.hi == other.hi
        )


@dataclass
class RawLineFilter(_Node):
    substr: str

    def to_string(self, spec: Optional[FormatSpec] = None) -> str:
        return f"raw_contains:{self.substr}"

    def equals(self, other) -> bool:
        return isinstance(other, RawLineFilter) and self.substr == other.substr


Filter = Union[FieldFilter, CombinedFilter, LineNumberFilter, RawLineFilter]


def ascii_lower(s: str) -> str:
    """C ``tolower`` per character: the 26 ASCII letters and nothing else."""
    return "".join(chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in s)


# ── parser ────────────────────────────────────────────────────────────

_BITWISE_TAGS = ["AND", "OR", "XOR", "NOR"]  # reference check order

# (alias, short_tag) in the reference's exact check order
# (filter_parsing.cpp:55-86); earliest occurrence wins, ties to first-checked.
_CMP_ALIASES = [
    ("EQ", "EQ"),
    ("EQUAL", "EQ"),
    ("ST", "ST"),
    ("SMALLER", "ST"),
    ("SMALLER_THAN", "ST"),
    ("SE", "SE"),
    ("SMALLER_EQ", "SE"),
    ("SMALLER_EQUAL", "SE"),
    ("SMALLER_OR_EQUAL", "SE"),
    ("GT", "GT"),
    ("GREATER", "GT"),
    ("GREATER_THAN", "GT"),
    ("GE", "GE"),
    ("GREATER_EQ", "GE"),
    ("GREATER_EQUAL", "GE"),
    ("GREATER_OR_EQUAl", "GE"),  # [sic] reference typo, kept for parity
    ("CT", "CT"),
    ("CONTAINS", "CT"),
    ("BW", "BW"),
    ("BEGINS_WITH", "BW"),
    ("SW", "BW"),
    ("STARTS_WITH", "BW"),
    ("EW", "EW"),
    ("ENDS_WITH", "EW"),
]


def _find_next_bitwise_op(s: str, start: int = 0) -> tuple[int, str]:
    """Earliest ' OP ' token at/after ``start``; returns (pos_of_op, op) or
    (-1, '') — pos is the index of the op word's first char."""
    best, op = -1, ""
    for tag in _BITWISE_TAGS:
        v = s.find(f" {tag} ", start)
        if v != -1 and (best == -1 or v + 1 < best):
            best, op = v + 1, tag
    return best, op


def _find_next_comparator(s: str) -> tuple[int, int, str, bool]:
    """Earliest comparator tag: (pos, tag_len, short_tag, case_insensitive)."""
    best, size, short, ci = -1, 0, "", False
    for alias, tag in _CMP_ALIASES:
        v = s.find(f" {alias} ")
        if v != -1 and (best == -1 or v + 1 < best):
            best, size, short, ci = v + 1, len(alias), tag, False
        v = s.find(f" {alias}_CI ")
        if v != -1 and (best == -1 or v + 1 < best):
            best, size, short, ci = v + 1, len(alias) + 3, tag, True
    return best, size, short, ci


def parse_filter(
    fdecl: str, spec: Optional[FormatSpec] = None
) -> Optional[Filter]:
    """Parse a filter declaration; mirror of ``parse_filter_decl``
    (filter_parsing.cpp:91-163). ``spec`` is used to validate field names
    (unknown field -> ValueError, matching the reference throw)."""
    while True:
        if fdecl == "":
            return None
        fdecl = fdecl.strip()
        if not fdecl.startswith("("):
            break
        # find matching close paren
        depth, end = 0, 0
        while end < len(fdecl):
            if fdecl[end] == "(":
                depth += 1
            elif fdecl[end] == ")":
                depth -= 1
                if depth == 0:
                    break
            end += 1
        if end == len(fdecl):
            raise ValueError("Found '(' but no matching ')'")
        if end + 1 == len(fdecl):
            fdecl = fdecl[1:-1]  # global parens: strip and restart
            continue
        left = parse_filter(fdecl[1:end], spec)
        pos, op = _find_next_bitwise_op(fdecl, end)
        if pos == -1:
            raise ValueError(f"expected boolean op after ')' in {fdecl!r}")
        right = parse_filter(fdecl[pos + len(op):], spec)
        return CombinedFilter(left=left, right=right, op=op)

    pos, op = _find_next_bitwise_op(fdecl)
    if pos != -1:
        left = parse_filter(fdecl[:pos], spec)
        right = parse_filter(fdecl[pos + len(op):], spec)
        return CombinedFilter(left=left, right=right, op=op)

    tag_pos, tag_size, cmp, ci = _find_next_comparator(fdecl)
    if tag_pos == -1:
        raise ValueError(
            f"Could not find any recognized comparison operator in {fdecl!r}"
        )
    field_name = fdecl[:tag_pos].strip()
    value_str = fdecl[tag_pos + tag_size:].strip()

    if field_name == "line_num":
        if cmp != "CT":
            raise ValueError("line_num filter must use CT/CONTAINS")
        comma = value_str.find(",")
        lo_s = value_str[:comma].strip()
        hi_s = value_str[comma + 1:].strip()
        if not lo_s[:1].isdigit() or not hi_s[:1].isdigit():
            raise ValueError("line_num bounds must be numbers")
        return LineNumberFilter(lo=int(lo_s), hi=int(hi_s))

    if spec is not None:
        loc = spec.field_by_name(field_name)
        if loc is None:
            raise ValueError(f"Couldn't find field named {field_name}")
        # Canonicalize the value to the typed form the reference stores
        # (FieldFilter ctor: stol/stod/str_value[0], line_filter.cpp:87-107),
        # so to_string/equals behave like the reference's typed members
        # (e.g. "085339" -> "85339", "3.14" -> "3.140000").
        ft = loc[1].ftype
        if ft == FieldType.INT:
            value_str = str(int(value_str))
        elif ft == FieldType.DBL:
            value_str = f"{float(value_str):.6f}"  # std::to_string(double)
        elif ft == FieldType.DATE:
            # engine extension: canonicalize to ISO (rejects malformed
            # comparison values at filter-compile time, like stol does);
            # substring verbs are meaningless on a typed date
            import datetime

            if cmp in ("CT", "BW", "EW"):
                raise ValueError(
                    f"{cmp} not supported on DATE field {field_name}"
                )
            value_str = datetime.date.fromisoformat(value_str).isoformat()
        elif ft == FieldType.CHR:
            value_str = value_str[:1]
        elif ft == FieldType.STR and ci:
            # the reference lowers the stored value at construction
            # (line_filter.cpp:104-107), so to_string shows the lowered form
            value_str = ascii_lower(value_str)
    return FieldFilter(
        field=field_name, cmp=cmp, value=value_str, case_insensitive=ci
    )


# ── Catalyst lowering ─────────────────────────────────────────────────

_SQL_CMP = {"EQ": "=", "ST": "<", "SE": "<=", "GT": ">", "GE": ">="}
_SQL_SUBSTR = {"CT": "contains", "BW": "startswith", "EW": "endswith"}


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(v: str) -> str:
    """``v`` as a Spark SQL string literal. Backslashes and quotes are
    escaped, and ``$`` is written as ``\\u0024``: the SQL parser
    substitutes ``${...}`` variables in the text before it lexes it."""
    return "'" + (
        v.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    ) + "'"


def _ascii_lower_sql(col: str) -> str:
    """ASCII-only lowercase, matching C ``tolower`` (line_filter.cpp:105,229).
    ``lower`` is Unicode-aware (the Kelvin sign U+212A -> 'k'), so it
    only lowers values whose every byte is ASCII, where it lowercases the
    bytes in place; a value with a non-ASCII byte (more bytes than
    characters) translates the 26 ASCII uppercase letters instead.
    ``translate`` alone decodes every value and looks up each code point.
    NULL stays NULL."""
    return (
        f"CASE WHEN length({col}) = octet_length({col}) THEN lower({col}) "
        f"ELSE translate({col}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
        f"'abcdefghijklmnopqrstuvwxyz') END"
    )


def _int_sql(col: str, cmp: str, v: int) -> str:
    """An INT comparison. A parsed INT saturates to int64 (C ``atol``),
    so a value outside int64 compares the same with every non-NULL field:
    it renders as a comparison with that constant verdict that is still
    NULL on a NULL field."""
    if v > INT64_MAX:  # every field is below v
        below = cmp in ("ST", "SE")
        return f"{col} {'<=' if below else '>'} {INT64_MAX}L"
    if v < INT64_MIN:  # every field is above v
        above = cmp in ("GT", "GE")
        return f"{col} {'>=' if above else '<'} {INT64_MIN}L"
    return f"{col} {_SQL_CMP[cmp]} {v}L"


def _field_sql(node: FieldFilter, spec: FormatSpec, parsed_col: str) -> str:
    loc = spec.field_by_name(node.field)
    if loc is None:
        raise ValueError(f"no field named {node.field}")
    i, f = loc
    cols = spec.column_names()
    out_pos = [k for k, (j, _) in enumerate(spec.output_fields()) if j == i][0]
    col = f"{sql_ident(parsed_col)}.{sql_ident(cols[out_pos])}"
    if f.ftype == FieldType.INT and node.cmp in _SQL_CMP:
        return _int_sql(col, node.cmp, int(node.value))
    if f.ftype == FieldType.INT:
        v = f"{int(node.value)}L"
    elif f.ftype == FieldType.DBL:
        x = float(node.value)
        if x != x and node.cmp in _SQL_CMP:  # NaN: no comparison holds
            return f"IF({col} IS NULL, NULL, false)"
        v = f"CAST({sql_string(repr(x))} AS DOUBLE)"
    elif f.ftype == FieldType.DATE:
        import datetime

        v = f"DATE {sql_string(datetime.date.fromisoformat(node.value).isoformat())}"
    elif f.ftype == FieldType.CHR:
        v = sql_string(node.value[0] if node.value else "\0")
    elif node.case_insensitive:
        col = _ascii_lower_sql(col)
        v = sql_string(ascii_lower(node.value))
    else:
        v = sql_string(node.value)
    if node.cmp not in _SQL_CMP:
        return f"{_SQL_SUBSTR[node.cmp]}({col}, {v})"
    sql = f"{col} {_SQL_CMP[node.cmp]} {v}"
    # Spark orders NaN above every double and equal to itself, where the
    # oracle's IEEE comparisons with a NaN field (strtod reads "nan") are
    # false
    return f"{sql} AND NOT isnan({col})" if f.ftype == FieldType.DBL else sql


def to_sql(
    node: Optional[Filter],
    spec: FormatSpec,
    parsed_col: str = "parsed",
    line_num_col: str = "line_no",
    raw_col: str = "raw_line",
) -> str:
    """Render a filter AST as one Spark SQL boolean expression over the
    parsed struct, with the oracle's (``oracle.eval_filter``) semantics:
    Kleene logic, NULL on an unset field, XOR as ``NOT (l = r)`` and
    ``NOT`` at every inverted node. Literals are typed like the struct:
    ``BIGINT``, ``DOUBLE`` and ``DATE``; strings compare in Spark's
    default binary collation, which agrees bytewise with the reference's
    ``string_view`` comparisons (SURVEY.md §7.4 risk 6).

    ``F.expr`` of the text takes a few py4j calls, where building the same
    tree from ``Column`` objects takes a few per node."""
    if node is None:
        return "true"
    if isinstance(node, CombinedFilter):
        left = to_sql(node.left, spec, parsed_col, line_num_col, raw_col)
        right = to_sql(node.right, spec, parsed_col, line_num_col, raw_col)
        if node.op == "AND":
            sql = f"({left}) AND ({right})"
        elif node.op == "OR":
            sql = f"({left}) OR ({right})"
        elif node.op == "XOR":
            sql = f"NOT (({left}) = ({right}))"
        else:  # NOR
            sql = f"NOT (({left}) OR ({right}))"
    elif isinstance(node, FieldFilter):
        sql = _field_sql(node, spec, parsed_col)
    elif isinstance(node, LineNumberFilter):
        sql = f"{sql_ident(line_num_col)} BETWEEN {node.lo} AND {node.hi}"
    elif isinstance(node, RawLineFilter):
        sql = f"contains({sql_ident(raw_col)}, {sql_string(node.substr)})"
    else:
        raise TypeError(f"unknown filter node {type(node)}")
    return f"NOT ({sql})" if node.inverted else sql


def to_column(
    node: Optional[Filter],
    spec: FormatSpec,
    parsed_col: str = "parsed",
    line_num_col: str = "line_no",
    raw_col: str = "raw_line",
):
    """Lower a filter AST to a PySpark boolean Column over the parsed
    struct: ``F.expr`` of :func:`to_sql`."""
    from pyspark.sql import functions as F

    return F.expr(to_sql(node, spec, parsed_col, line_num_col, raw_col))


def accept_sql(
    filter_sql: Optional[str], wf: str, accept_bad_format: bool
) -> str:
    """The malformed-acceptance rule (filtered_file_reader.cpp:258-262)
    as Spark SQL text::

        coalesce((NOT well_formed AND accept_bad_format)
                 OR (well_formed AND filter), false)

    A ``None`` filter passes every well-formed line. The verdict is
    coalesced to false, so a NULL one neither routes nor poisons a mask.
    Every sink predicate passes through this (``route.sink_sql``;
    SURVEY.md §2.3 F10). ``wf`` is the SQL of the well-formed flag."""
    base = wf if filter_sql is None else f"{wf} AND ({filter_sql})"
    abf = "true" if accept_bad_format else "false"
    return f"coalesce((NOT {wf} AND {abf}) OR ({base}), false)"


# ── filter composition algebra (the :f* command verbs) ────────────────


def compose(
    base: Optional[Filter], new: Filter, verb: str
) -> Filter:
    """Sink-spec composition mirroring FilterManagementModule verbs
    (filter_management_module.cpp:37-104): ``fset`` replace, ``fand``/``f``/
    ``fadd`` AND-in, ``for`` OR-in, ``fxor`` XOR-in, ``fnor`` NOR-in,
    ``fout`` AND-in inverted."""
    if verb == "fset" or base is None:
        if verb == "fout":
            return new.invert()
        return new
    if verb in ("f", "fadd", "fand"):
        return CombinedFilter(left=base, right=new, op="AND")
    if verb == "for":
        return CombinedFilter(left=base, right=new, op="OR")
    if verb == "fxor":
        return CombinedFilter(left=base, right=new, op="XOR")
    if verb == "fnor":
        return CombinedFilter(left=base, right=new, op="NOR")
    if verb == "fout":
        return CombinedFilter(left=base, right=new.invert(), op="AND")
    raise ValueError(f"unknown filter verb {verb!r}")


def resolve_filter_arg(arg: str, probe_paths: bool = True) -> str:
    """The reference's filter-argument convention
    (filter_management_module.cpp:53-66): the ``:f*`` argument is tried
    as a FILE PATH first — if a readable file exists there, the filter
    text is the file's FIRST LINE; otherwise the argument itself is the
    filter text. Lets users keep long filter declarations in files
    (``:fset /path/to/filter.txt``).

    Two hardenings over the bare reference behavior (a filter expression
    that coincidentally names a readable file would otherwise be
    silently and environment-dependently replaced by that file's first
    line):

    - ``@/path`` is an EXPLICIT file marker: the rest is always read as
      a file, and a missing/unreadable file raises instead of being
      treated as filter text.
    - when bare-path probing wins, the substitution is logged at INFO so
      declarative job configs can't swap semantics silently. Declarative
      callers (JobConfig) pass ``probe_paths=False`` to keep bare
      probing interactive-frontend-only.
    """
    import logging

    if arg.startswith("@"):
        with open(arg[1:]) as f:
            return f.readline().rstrip("\n").rstrip("\r")
    if not probe_paths:
        return arg
    try:
        with open(arg) as f:
            text = f.readline().rstrip("\n").rstrip("\r")
    except OSError:
        return arg
    logging.getLogger(__name__).info(
        "filter argument %r resolved as a FILE; using its first line %r "
        "(use @%s to make this explicit)", arg, text, arg
    )
    return text
