"""Grok-pattern front-end — ``%{NAME:field:type}`` named-regex macros
compiled to ONE anchored regex whose only capturing groups are the
named fields, evaluated entirely in Catalyst (``rlike`` gate +
``regexp_extract`` per field; map-only, no shuffle, no UDF).

Why this exists: the reference's parse DSL (``functions/formats.py``)
is positional/typed; grok is the other parse surface a log pipeline
meets in the wild — ad-hoc regex macros over lines that were never
written to a spec. The macro idea (named, composable regex fragments
with per-field type coercion) is public knowledge from the logstash
ecosystem; every pattern below is written from scratch and PINNED
here — this module's definitions, not any external library's, are the
contract (a few are deliberately simpler than their namesakes; see
the comments).

Dialect contract: the compiled regex stays inside the common subset of
java.util.regex (Spark's engine) and RE2 (DuckDB's engine, the oracle
side): no lookaround, no backreferences, no possessive quantifiers;
non-capturing groups, lazy quantifiers and bounded repetition only.
That is what lets one compiled pattern be replayed verbatim by the
driver's DuckDB oracle.

Scale shape: the gate is one regex pass per line and each extracted
field is one more (k+1 linear scans for k fields, all inside
whole-stage codegen — no Python). For a pinned-format hot path the
Arrow parse kernel (``operators/parse.py``) is still the fast
surface; grok is the flexible one. At 10^12 lines the plan is scan →
project, so it partitions trivially and pushes the line column alone
through the scan.
"""

from __future__ import annotations

import re as _re

# ── pinned pattern library ────────────────────────────────────────────
# Each entry must compile under BOTH java.util.regex and RE2. Keep
# every group non-capturing. Compositions use %{NAME} recursively.
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?[0-9]+",
    # NUMBER: decimal int or fraction; no exponent (keeps atof parity
    # with the format DSL's DBL rule simple and both-dialect-safe)
    "NUMBER": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "IPV4": (
        r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
    ),
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "LOGLEVEL": (
        r"(?:TRACE|DEBUG|INFO|NOTICE|WARN(?:ING)?|ERR(?:OR)?"
        r"|CRIT(?:ICAL)?|FATAL|SEVERE|EVENT)"
    ),
    # URIPATH: RFC 3986 pchar set MINUS the single-quote character —
    # dropping it keeps the compiled pattern embeddable in a
    # single-quoted SQL literal without dialect-specific escaping
    # (documented deviation from the logstash namesake).
    "URIPATH": r"(?:/[A-Za-z0-9_.~%!$&()*+,;=:@-]*)+",
    "HOSTNAME": (
        r"(?:[A-Za-z0-9][A-Za-z0-9-]{0,62}\.)*"
        r"[A-Za-z0-9][A-Za-z0-9-]{0,62}"
    ),
    "QUOTEDSTRING": r'"(?:[^"\\]|\\.)*"',
    "YEAR": r"[0-9]{4}",
    "MONTHNUM": r"0[1-9]|1[0-2]",
    "MONTHDAY": r"0[1-9]|[12][0-9]|3[01]",
    "HOUR": r"[01][0-9]|2[0-3]",
    "MINUTE": r"[0-5][0-9]",
    "SECOND": r"[0-5][0-9](?:\.[0-9]+)?",
    # compositions (exercise the recursive expansion path)
    "TIME": r"%{HOUR}:%{MINUTE}:%{SECOND}",
    "DATE_ISO": r"%{YEAR}-(?:%{MONTHNUM})-(?:%{MONTHDAY})",
    "TIMESTAMP_ISO8601": (
        r"%{DATE_ISO}[T ]%{TIME}(?:Z|[+-](?:%{HOUR}):?%{MINUTE})?"
    ),
}

# ``%{NAME}``, ``%{NAME:field}`` or ``%{NAME:field:type}``
_MACRO_RX = _re.compile(
    r"%\{([A-Z][A-Z0-9_]*)(?::([A-Za-z_][A-Za-z0-9_]*))?"
    r"(?::(int|long|float|double|string))?\}"
)

_TYPE_TO_SPARK = {
    None: None, "string": None,
    "int": "long", "long": "long",
    "float": "double", "double": "double",
}
_TYPE_TO_SQL = {
    None: None, "string": None,
    "int": "BIGINT", "long": "BIGINT",
    "float": "DOUBLE", "double": "DOUBLE",
}


class GrokField:
    """One named capture: output column name, 1-based group index in
    the compiled regex, and the pinned coercion type (None = string)."""

    __slots__ = ("name", "group", "type")

    def __init__(self, name: str, group: int, type: str | None):
        self.name, self.group, self.type = name, group, type

    def __repr__(self):  # pragma: no cover - debug aid
        return f"GrokField({self.name!r}, g{self.group}, {self.type})"


class GrokSpec:
    """Compiled grok pattern: ``regex`` (anchored, only field groups
    capture) + ordered ``fields``. ``extra`` patterns used at compile
    time are resolved away — the spec is self-contained."""

    __slots__ = ("pattern", "regex", "fields")

    def __init__(self, pattern: str, regex: str, fields: list[GrokField]):
        self.pattern, self.regex, self.fields = pattern, regex, fields


def compile_grok(pattern: str, extra: dict[str, str] | None = None,
                 anchor: bool = True) -> GrokSpec:
    """Expand ``%{...}`` macros into one regex. Literal text between
    macros is RAW REGEX (grok semantics — escape with ``\\`` yourself).
    Named fields become capturing groups in left-to-right order; every
    library-internal group is non-capturing, so group i is exactly
    field i+1. ``extra`` adds/overrides pattern definitions for this
    compile only. Unknown names and macro cycles raise ``ValueError``."""
    lib = dict(GROK_PATTERNS)
    if extra:
        lib.update(extra)
    fields: list[GrokField] = []

    def expand(src: str, depth: int) -> str:
        if depth > 16:
            raise ValueError(
                "grok pattern recursion deeper than 16 — cycle in "
                "pattern definitions?")
        out = []
        last = 0
        for m in _MACRO_RX.finditer(src):
            out.append(src[last:m.start()])
            last = m.end()
            name, field, typ = m.group(1), m.group(2), m.group(3)
            if name not in lib:
                raise ValueError(f"unknown grok pattern %{{{name}}}")
            body = expand(lib[name], depth + 1)
            if field:
                fields.append(GrokField(field, len(fields) + 1, typ))
                out.append(f"({body})")
            else:
                out.append(f"(?:{body})")
        out.append(src[last:])
        return "".join(out)

    rx = expand(pattern, 0)
    if anchor:
        rx = f"^(?:{rx})$"
    # fail fast on dialect violations Spark-side; the pytest checks the
    # RE2 side (duckdb) for the library + compiled driver patterns.
    _re.compile(rx)
    names = [f.name for f in fields]
    if len(names) != len(set(names)):
        raise ValueError(f"duplicate grok field names: {names}")
    return GrokSpec(pattern, rx, fields)


def grok_parse(df, pattern: str | GrokSpec, line_col: str = "raw_line",
               extra: dict[str, str] | None = None,
               matched_col: str = "grok_matched"):
    """Add one boolean match column plus one typed column per grok
    field. Non-matching lines get NULL fields (``regexp_extract``'s
    empty-string-on-miss is gated away), so downstream filters see
    real NULLs, not ``''`` — the same malformed-line contract as the
    format DSL's ``well_formed``.

    Pure Catalyst projection: ``rlike`` gate + one ``regexp_extract``
    per field, all whole-stage codegen. No shuffle, no Python."""
    from pyspark.sql import functions as F

    spec = pattern if isinstance(pattern, GrokSpec) \
        else compile_grok(pattern, extra)
    line = F.col(line_col)
    matched = line.isNotNull() & line.rlike(spec.regex)
    cols = [matched.alias(matched_col)]
    for f in spec.fields:
        c = F.when(matched, F.regexp_extract(line, spec.regex, f.group))
        t = _TYPE_TO_SPARK[f.type]
        if t:
            c = c.cast(t)
        cols.append(c.alias(f.name))
    return df.select("*", *cols)


def grok_oracle_exprs(spec: GrokSpec, line_sql: str,
                      matched_col: str = "grok_matched") -> list[str]:
    """The DuckDB replay of :func:`grok_parse` — one SQL select-list
    expression per output column, over the same compiled regex (RE2
    evaluates the identical pattern; the library stays inside the
    common dialect subset). Used by the driver oracles so the SQL
    side PARSES rather than predicting by construction."""
    rx = spec.regex.replace("'", "''")
    m = f"regexp_matches({line_sql}, '{rx}')"
    # a NULL line is unmatched (FALSE), as grok_parse reports it
    exprs = [f"coalesce({m}, FALSE) AS {matched_col}"]
    for f in spec.fields:
        e = (f"CASE WHEN {m} THEN "
             f"regexp_extract({line_sql}, '{rx}', {f.group}) END")
        t = _TYPE_TO_SQL[f.type]
        if t:
            e = f"CAST({e} AS {t})"
        exprs.append(f"{e} AS {f.name}")
    return exprs
