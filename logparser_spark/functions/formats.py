"""Format-spec mini-language compiler.

Compiles LogParser-style format strings such as::

    {INT:Date} {INT:Time} {STR:Level} :{CHR:,.,1}{STR:Source}: {STR:Mesg}

into a :class:`FormatSpec`: an ordered list of typed field specs, the target
Spark ``StructType``, and (when provably sound) a flat RE2 regex for the
vectorized parse kernel.

Grammar semantics mirror the reference compiler
(``/root/reference/src/line_parsing/line_format.hpp:176-284``):

- a literal space in the spec -> a ``WS`` field (skip a run of non-newline
  whitespace, zero or more, never fails);
- any other literal char ``c`` -> an anonymous ``CHR(c, repeat=False)`` field;
- ``{INT:Name}`` / ``{DBL:Name}`` -> named numeric fields;
- ``{CHR:Name,c,r}`` -> match char ``c``; ``r != '0'`` means greedy repeat;
- ``{STR:Name,N}`` -> exactly N chars (``NCHAR``);
- ``{STR:Name}`` followed by a space -> stop at any whitespace (``ANY_WS``);
- ``{STR:Name}X`` (any other following char, including end-of-spec, where the
  stop char is ``\\0``) -> stop at delimiter ``X``; delim ``\\0`` reads to EOL;
- field names are optional; unnamed fields are not filterable;
- duplicate names: last one wins for name lookup (both are still parsed).

The quirk that a ``{TAG`` without a ``:`` at offset 3 falls through and is then
re-consumed as literal characters is reproduced faithfully (reference
``line_format.hpp:195-207`` never advances ``idx`` past the tag in that case).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from enum import Enum
from typing import Optional


class FieldType(Enum):
    INT = "INT"
    DBL = "DBL"
    CHR = "CHR"
    STR = "STR"
    WS = "WS"
    # Engine extension: the reference README promises "`DATE` support
    # incoming" (/root/reference/README.md:57) but never shipped it
    # (its 3-char tag grammar can't even lex a 4-char tag). Semantics
    # pinned HERE since no reference behavior exists: `{DATE:Name}`
    # matches exactly `YYYY-MM-DD` (10 chars, zero-padded), then
    # calendar-validates with datetime.date's rules (years 1-9999,
    # Gregorian leap); shape or calendar failure => malformed line
    # (like a CHR mismatch); value type is a real DATE column
    # (DateType / pa.date32), not an INT in disguise.
    DATE = "DATE"


class StrStop(Enum):
    NCHAR = "NCHAR"
    DELIM = "DELIM"
    ANY_WS = "ANY_WS"


# The C-locale isspace() set. NOTE: deliberately not Python's str.isspace(),
# which is Unicode-aware; the reference compares raw bytes.
C_WHITESPACE = " \t\n\v\f\r"
# WS fields skip whitespace but never cross a newline
# (reference parsing_basics.cpp:71-74).
WS_NO_NEWLINE = " \t\v\f\r"


@dataclass
class FieldSpec:
    """One typed field in a format spec."""

    ftype: FieldType
    name: str = ""
    # CHR options
    target: str = ""
    repeat: bool = False
    # STR options
    stop: Optional[StrStop] = None
    delim: str = "\0"
    nchar: int = 0

    def out_name(self, idx: int) -> str:
        """Output column name: the declared name, or a positional fallback."""
        return self.name if self.name else f"f{idx}"


@dataclass
class FormatSpec:
    """A compiled format: ordered fields + derived artifacts."""

    fields: list[FieldSpec] = dc_field(default_factory=list)
    name: str = "default"
    source: str = ""

    # ---- derived accessors -------------------------------------------------

    def counts(self) -> dict[str, int]:
        c = {t.value: 0 for t in FieldType}
        for f in self.fields:
            c[f.ftype.value] += 1
        return c

    def output_fields(self) -> list[tuple[int, FieldSpec]]:
        """(field_index, spec) for every value-producing (non-WS) field."""
        return [(i, f) for i, f in enumerate(self.fields) if f.ftype != FieldType.WS]

    def field_by_name(self, name: str) -> Optional[tuple[int, FieldSpec]]:
        """Resolve a field name. Last duplicate wins, mirroring the
        reference's ``name_to_field`` overwrite (line_format.hpp:114-121)."""
        found = None
        for i, f in enumerate(self.fields):
            if f.name and f.name == name:
                found = (i, f)
        return found

    def column_names(self) -> list[str]:
        """Struct column names for every non-WS field, positionally stable.

        A field whose name is shadowed by a later duplicate is emitted under
        its positional name so struct columns stay unique.
        """
        names = []
        for i, f in self.output_fields():
            owner = self.field_by_name(f.name) if f.name else None
            if f.name and owner is not None and owner[0] == i:
                names.append(f.name)
            else:
                names.append(f"f{i}")
        return names

    # ---- regex fast path ----------------------------------------------------

    def to_fast_regex(self) -> Optional[str]:
        """Flat RE2-safe regex (no lookaheads/possessive quantifiers) for the
        PyArrow ``extract_regex`` fast path, or None when the spec is not
        provably fast-safe.

        RE2 backtracks freely (leftmost-greedy), the reference walker never
        does (line_parser.cpp:58-98), so a flat pattern is only usable when
        no backtracked split can match a line the walker would reject or
        capture differently. Greedy priority makes RE2 try the walker's
        maximal split FIRST, so it suffices to prove no *alternative* split
        can succeed when the maximal one fails. Two-pass construction:

        Pass A (emission arities) — WS is emitted ``+`` after INT/DBL and
        after ANY_WS STR fields; an ANY_WS STR is emitted ``+`` when
        preceded by a ``+`` WS, a fixed CHR, or start-of-spec (in all these
        positions the walker value is provably non-empty mid-line; the rare
        lines where it would be empty fall back to the walker).

        Pass B (soundness) — for every variable-length fragment F with
        consumable char-set cf, the following fragment G must satisfy one:

        - G is ``$``: shortening F leaves an unmatched tail;
        - G is a mandatory token (INT / CHR / ``+`` WS / ``+`` ANY_WS STR)
          whose possible first chars are disjoint from cf: shortening F
          puts G on a char it cannot consume;
        - G is a ``*`` scan-to-stop STR whose stop chars are disjoint from
          cf: G's end is position-invariant across splits, so if the
          maximal split fails every split fails;
        - G is a ``*`` WS with ws-chars disjoint from cf: transparent,
          recurse to the fragment after G.

        DBL fields disable the flat regex entirely (strtod reads what the
        cursor does not); such specs run on the NumPy walker. Lines the
        flat pattern rejects are NOT malformed — they go to the walker
        (trailing-field optionality lives there).
        """
        if any(f.ftype == FieldType.DBL for f in self.fields):
            return None

        flds = self.fields
        n = len(flds)
        WS_SET = set(WS_NO_NEWLINE)
        DIGITS = set("0123456789")

        def is_scan_str(f: FieldSpec) -> bool:
            return f.ftype == FieldType.STR and f.stop != StrStop.NCHAR

        # ── pass A: emission arities ─────────────────────────────────
        # Every WS is emitted '+': tightening is sound because when the
        # maximal (walker) split fails the '+', the triggered alternatives
        # are exactly the splits pass B proves dead-or-convergent. Lines the
        # walker accepts with a zero-width WS simply take the fallback.
        ws_plus = [f.ftype == FieldType.WS for f in flds]
        anyws_plus = [False] * n
        for i, f in enumerate(flds):
            if f.ftype != FieldType.STR or f.stop != StrStop.ANY_WS:
                continue
            prev = flds[i - 1] if i > 0 else None
            # '+' only after a fixed-width or '+'-WS predecessor: a variable
            # predecessor could shorten to feed this field its first char,
            # making the tightened pattern match a non-walker split.
            if (
                prev is None
                or prev.ftype == FieldType.WS
                or (prev.ftype == FieldType.CHR and not prev.repeat)
                or (prev.ftype == FieldType.STR and prev.stop == StrStop.NCHAR)
            ):
                anyws_plus[i] = True

        # ── helpers over emitted fragments ───────────────────────────
        def consumable(i: int):
            """cf: chars fragment i can consume ('ANY_BUT', excluded) or
            (None, set) for a concrete set; returns (mode, chars)."""
            f = flds[i]
            if f.ftype == FieldType.INT:
                return (None, DIGITS)
            if f.ftype == FieldType.DATE:
                return (None, DIGITS | {"-"})
            if f.ftype == FieldType.WS:
                return (None, WS_SET)
            if f.ftype == FieldType.CHR:
                return (None, {f.target})
            if f.stop == StrStop.ANY_WS:
                return ("ANY_BUT", set(C_WHITESPACE))
            if f.stop == StrStop.NCHAR:
                return ("ANY_BUT", set())  # unconstrained (fixed length)
            if f.delim == "\0":
                return ("ANY_BUT", {"\n"})
            return ("ANY_BUT", {f.delim, "\n"})

        def stop_chars(i: int) -> set:
            f = flds[i]
            if f.stop == StrStop.ANY_WS:
                return set(C_WHITESPACE)
            if f.delim == "\0":
                return {"\n"}
            return {f.delim, "\n"}

        def disjoint(mode_chars, other: set) -> bool:
            mode, chars = mode_chars
            if mode is None:
                return not (chars & other)
            # F consumes everything except `chars`; disjoint iff other ⊆ chars
            return other <= chars

        def is_variable(i: int) -> bool:
            f = flds[i]
            if f.ftype in (FieldType.INT, FieldType.WS):
                return True
            if f.ftype == FieldType.CHR:
                return f.repeat
            if f.ftype == FieldType.STR:
                return f.stop != StrStop.NCHAR
            return False

        # ── pass B: soundness ────────────────────────────────────────
        def sound_after(i: int, cf) -> bool:
            j = i + 1
            while True:
                if j >= n:
                    return True  # $
                g = flds[j]
                if g.ftype == FieldType.WS:
                    if not disjoint(cf, WS_SET):
                        return False
                    if ws_plus[j]:
                        return True
                    j += 1  # '*' WS is transparent
                    continue
                if g.ftype == FieldType.INT:
                    return disjoint(cf, DIGITS)
                if g.ftype == FieldType.DATE:
                    # mandatory fixed-shape token starting with a digit
                    return disjoint(cf, DIGITS)
                if g.ftype == FieldType.CHR:
                    return disjoint(cf, {g.target})
                if g.ftype == FieldType.STR:
                    if g.stop == StrStop.NCHAR:
                        return False  # unconstrained first char
                    if anyws_plus[j]:
                        # mandatory non-ws first char
                        return disjoint_complement(cf)
                    return disjoint(cf, stop_chars(j))
                return False  # DBL (unreachable) / unknown

        def disjoint_complement(cf) -> bool:
            """G consumes any non-whitespace char; disjoint iff F only
            consumes whitespace."""
            mode, chars = cf
            return mode is None and chars <= set(C_WHITESPACE)

        for i in range(n):
            if not is_variable(i):
                continue
            if not sound_after(i, consumable(i)):
                return None

        # ── build the flat pattern ───────────────────────────────────
        frags = []
        for i, f in enumerate(flds):
            gname = f"g{i}"
            if f.ftype == FieldType.INT:
                frags.append(f"(?P<{gname}>[0-9]+)")
            elif f.ftype == FieldType.DATE:
                frags.append(
                    f"(?P<{gname}>[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}})"
                )
            elif f.ftype == FieldType.CHR:
                t = re.escape(f.target)
                rep = f"{t}*" if f.repeat else ""
                frags.append(f"(?P<{gname}>{t}){rep}")
            elif f.ftype == FieldType.STR:
                if f.stop == StrStop.NCHAR:
                    frags.append(f"(?P<{gname}>.{{{f.nchar}}})")
                elif f.stop == StrStop.ANY_WS:
                    arity = "+" if anyws_plus[i] else "*"
                    frags.append(
                        f"(?P<{gname}>[^{re.escape(C_WHITESPACE)}]{arity})"
                    )
                elif f.delim == "\0":
                    frags.append(f"(?P<{gname}>[^\\n]*)")
                else:
                    frags.append(
                        f"(?P<{gname}>[^{re.escape(f.delim)}\\n]*)"
                    )
            elif f.ftype == FieldType.WS:
                arity = "+" if ws_plus[i] else "*"
                frags.append(f"[{re.escape(WS_NO_NEWLINE)}]{arity}")
        return "^" + "".join(frags) + "$"

    def byte_sensitive(self) -> bool:
        """True iff byte-mode and codepoint-mode parsing can DIFFER for
        this spec on valid UTF-8 input.

        The reference walks raw bytes (``parsing_basics.cpp:41-69``
        operates on ``char*``); this engine's default contract counts
        codepoints. The two are PROVABLY identical whenever every
        position-sensitive comparison involves only ASCII: UTF-8
        continuation/lead bytes are all >= 0x80 and can never equal an
        ASCII stop/target/digit/whitespace byte, and byte offsets map
        1:1 monotonically onto codepoint offsets, so INT / DBL / WS /
        CHR(ascii) / STR-DELIM(ascii) / STR-ANY_WS consume the same TEXT
        either way. Divergence needs one of:

        - an ``NCHAR`` STR field with n > 0 (counts bytes vs codepoints);
        - a CHR target or STR delimiter outside ASCII (the reference
          compiler would have read a single BYTE of its multi-byte
          encoding there).
        """
        for f in self.fields:
            if (f.ftype == FieldType.STR and f.stop == StrStop.NCHAR
                    and f.nchar > 0):
                return True
            if f.ftype == FieldType.CHR and f.target and ord(f.target) > 127:
                return True
            if (f.ftype == FieldType.STR and f.stop == StrStop.DELIM
                    and f.delim != "\0" and ord(f.delim) > 127):
                return True
        return False

    def spark_schema(self):
        """StructType for the parsed struct (imported lazily; this module
        stays importable without a JVM for the pure-Python oracle tests)."""
        from pyspark.sql import types as T

        spark_types = {
            FieldType.INT: T.LongType(),
            FieldType.DBL: T.DoubleType(),
            FieldType.CHR: T.StringType(),
            FieldType.STR: T.StringType(),
            FieldType.DATE: T.DateType(),
        }
        cols = self.column_names()
        fields = [
            T.StructField(cols[k], spark_types[f.ftype], True)
            for k, (_, f) in enumerate(self.output_fields())
        ]
        # nullable=True: Arrow scalar UDFs cast their result to the declared
        # type, and pyarrow refuses nullable->non-nullable struct casts.
        # well_formed is never actually null (the kernel fills every row).
        fields.append(T.StructField("well_formed", T.BooleanType(), True))
        return T.StructType(fields)


def compile_format(fmt_str: str, name: str = "default") -> FormatSpec:
    """Compile a format string; faithful to LineFormat::fromFormatString
    (line_format.hpp:176-284), including its fall-through quirks."""

    spec = FormatSpec(name=name, source=fmt_str)

    def ch(i: int) -> str:
        # C reads one past the end of std::string and sees '\0'.
        return fmt_str[i] if 0 <= i < len(fmt_str) else "\0"

    idx = 0
    while idx < len(fmt_str):
        c = fmt_str[idx]
        if c != "{":
            if c == " ":
                spec.fields.append(FieldSpec(FieldType.WS))
            else:
                spec.fields.append(FieldSpec(FieldType.CHR, target=c, repeat=False))
            idx += 1
            continue

        idx += 1
        c = ch(idx)

        # Engine-extension tag (see FieldType.DATE): a 4-char tag the
        # reference grammar cannot lex. Handled before the 3-char path
        # so `{DATE:...}` never falls into the reference's literal
        # fall-through quirk; specs without it compile bit-identically.
        if fmt_str[idx:idx + 4] == "DATE" and ch(idx + 4) == ":":
            name_begin = idx + 5
            name_end = name_begin
            while ch(name_end) not in ("\0", "}"):
                name_end += 1
            if ch(name_end) != "}":
                raise ValueError(f"unterminated DATE tag in {fmt_str!r}")
            spec.fields.append(
                FieldSpec(FieldType.DATE,
                          name=fmt_str[name_begin:name_end])
            )
            idx = name_end + 1
            continue

        field_name = ""
        stsp: Optional[StrStop] = None
        str_n_char = 0
        str_stp_chr = "\0"
        field_chr = "\0"
        chr_repeat = False

        if ch(idx + 3) == ":":
            name_begin = idx + 4
            name_end = name_begin
            while True:
                cc = ch(name_end)
                if cc in ("\0", ",", "}"):
                    break
                name_end += 1
            field_name = fmt_str[name_begin:name_end]

            if ch(name_end) == ",":
                if c == "S":
                    m = re.match(r"[0-9]*", fmt_str[name_end + 1:])
                    str_n_char = int(m.group(0)) if m.group(0) else 0
                    idx = name_end + 1 + len(m.group(0))
                    if ch(idx) != "}":
                        raise ValueError(f"bad STR nchar spec in {fmt_str!r}")
                    stsp = StrStop.NCHAR
                    idx += 1
                elif c == "C":
                    idx = name_end + 1
                    field_chr = ch(idx)
                    if ch(idx + 1) != ",":
                        raise ValueError(f"bad CHR spec in {fmt_str!r}")
                    idx += 2
                    chr_repeat = ch(idx) != "0"
                    if ch(idx + 1) != "}":
                        raise ValueError(f"bad CHR spec in {fmt_str!r}")
                    idx += 2
                else:
                    raise ValueError(
                        f"only STR and CHR take params (at {idx} in {fmt_str!r})"
                    )
            elif ch(name_end) == "}" and c == "S":
                if ch(name_end + 1) == " ":
                    stsp = StrStop.ANY_WS
                else:
                    stsp = StrStop.DELIM
                    str_stp_chr = ch(name_end + 1)  # '\0' at end-of-spec = EOL
                idx = name_end + 1
            else:
                idx = name_end + 1

        if c == "I":
            spec.fields.append(FieldSpec(FieldType.INT, name=field_name))
        elif c == "D":
            spec.fields.append(FieldSpec(FieldType.DBL, name=field_name))
        elif c == "S":
            spec.fields.append(
                FieldSpec(
                    FieldType.STR,
                    name=field_name,
                    stop=stsp if stsp is not None else StrStop.DELIM,
                    delim=str_stp_chr,
                    nchar=str_n_char,
                )
            )
        elif c == "C":
            spec.fields.append(
                FieldSpec(
                    FieldType.CHR, name=field_name, target=field_chr, repeat=chr_repeat
                )
            )
        else:
            raise ValueError(f"unknown field tag {c!r} in {fmt_str!r}")

    return spec


# The default format for the RSVP router corpus, as built field-by-field in
# the reference tests (test_helpers.hpp:46-60). Note the tests use
# DELIM-space for Level where the string form compiles ANY_WS; both behave
# identically on the corpus (no tabs inside levels).
DEFAULT_FORMAT = "{INT:Date} {INT:Time} {STR:Level} :{CHR:,.,1}{STR:Source}: {STR:Mesg}"

# The reference's catch-all profile default: one STR field of 0 chars
# (ConfigHandler.cpp:27) — matches only empty lines; kept for parity.
CATCHALL_FORMAT = "{STR:,0}"
