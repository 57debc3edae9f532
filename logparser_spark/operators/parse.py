"""Vectorized parse stage: pages -> lines -> typed parsed struct.

The core custom operator (SURVEY.md §4 item 1). Catalyst cannot express the
reference's format-spec semantics (INT zero-rule, trailing-field
optionality, NCHAR), so parsing runs inside ONE Arrow-batched pandas UDF
per line column, in three tiers:

1. **pyarrow fast path** — a flat RE2 pattern (``FormatSpec.to_fast_regex``,
   emitted only when provably capture-equal to the walker) run through
   ``pyarrow.compute.extract_regex``: pure C++, zero Python objects,
   ~1M rows/s/core. Covers virtually all well-formed production lines.
2. **nested-regex middle path** — the anchored possessive Python regex
   (``FormatSpec.to_regex``) via ``pandas.Series.str.extract`` on only
   the rows tier 1 rejected; handles trailing-field optionality and
   zero-width whitespace the flat pattern cannot express
   (``/root/reference/src/line_parsing/line_parser.cpp:58-98``).
3. **oracle walker fallback** — per-row pure Python, only for rows tier 2
   rejects or flags (the walker can succeed where no regex can:
   ``parse_int`` accepts ``-5`` by value without consuming the sign,
   ``parsing_basics.cpp:7-13``; ``atof`` value/cursor divergences). The
   byte-exact oracle (``functions.oracle.parse_line``) decides those rows.

Scale notes (100 TB): the UDF sees a single string column per batch; all
other columns stay JVM-side. Everything upstream (split/posexplode/CRLF
strip) and downstream (filters, joins, aggregates) is pure Catalyst, so
predicate pushdown and whole-stage codegen are unaffected. The Python
worker cost is one C-regex pass per batch; fallback rows are O(malformed).

Unicode contract: the reference parses raw BYTES (``parsing_basics.cpp``
walks ``char*``); the default mode here counts codepoints — the two are
provably identical for any spec where ``FormatSpec.byte_sensitive()`` is
False (all stops/targets ASCII, no NCHAR — continuation bytes never
collide with ASCII comparisons), which covers the crawl pipeline's
formats. For byte-sensitive specs, ``byte_mode=True`` gives exact
reference parity on multi-byte UTF-8: the RE2 fast tier decides only
pure-ASCII rows (byte == codepoint there), the NumPy walker — which
already advances over raw UTF-8 bytes — handles the rest vectorized,
and only captures whose NCHAR boundary splits a codepoint fall to
``oracle.parse_line_bytes`` (whose U+FFFD replacement stands in for raw
split bytes a UTF-8 column cannot carry).
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

import pandas as pd
import pyarrow as pa  # module-level: arrow_udf type-hint resolution needs it

from ..functions.formats import FieldType, FormatSpec
from ..functions.oracle import parse_line as oracle_parse_line

__all__ = ["explode_lines", "make_arrow_parse_udf", "make_parse_udf", "parse_lines", "parse_lines_arrow", "parse_lines_hybrid", "parse_lines_multi", "parsed_to_json", "render_parsed"]


def _fast_plan(spec: FormatSpec):
    """Static artifacts for the tier-1 pass: (fast_rx, unset_suffix) where
    unset_suffix is the list of output-column ordinals forming the maximal
    trailing run of zero-width-able captures. Only those can correspond to
    walker-unset trailing fields: every other fragment (INT, CHR, NCHAR>0,
    '+' WS/ANY_WS) has mandatory width, so anything before it matched
    strictly inside the line."""
    from ..functions.formats import StrStop

    rx = spec.to_fast_regex()
    if rx is None:
        return None, []

    def zero_widthable(i: int) -> bool:
        f = spec.fields[i]
        if f.ftype != FieldType.STR:
            return False
        if f.stop == StrStop.NCHAR:
            return f.nchar == 0
        if f.stop == StrStop.ANY_WS:
            # mirrors to_fast_regex's anyws_plus promotion: '+' (mandatory
            # width) after BOS / WS / fixed CHR / NCHAR predecessors
            prev = spec.fields[i - 1] if i > 0 else None
            promoted = (
                prev is None
                or prev.ftype == FieldType.WS
                or (prev.ftype == FieldType.CHR and not prev.repeat)
                or (prev.ftype == FieldType.STR and prev.stop == StrStop.NCHAR)
            )
            return not promoted
        return True  # DELIM / to-EOL scans are always '*'

    suffix = []
    out_pos = {i: k for k, (i, _) in enumerate(spec.output_fields())}
    for i in range(len(spec.fields) - 1, -1, -1):
        if zero_widthable(i):
            suffix.append(out_pos[i])
        else:
            break
    return rx, suffix


def _date_arrays_from_captures(child, row_valid):
    """DATE captures (pa string array, shape-valid 'YYYY-MM-DD' on
    rows where ``row_valid``) → ``(date32 array, calendar_invalid bool
    array)``. ``row_valid`` must be the regex-match validity — an
    ``extract_regex`` struct's children do NOT carry its null bitmap
    (non-matches surface as ``''``). The shape is regex-guaranteed on
    valid rows; only CALENDAR validity (datetime.date rules,
    ``functions.dates``) is decided here — invalid rows become
    undecided and the walker (which rejects them) settles the line."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.dates import days_from_civil, is_valid_date

    present = pc.fill_null(
        pc.and_(row_valid, pc.is_valid(child)), False
    ).to_numpy(zero_copy_only=False)
    zero = pa.scalar("0000-01-01", pa.string())
    filled = pc.if_else(pa.array(present), child, zero)
    y = pc.cast(pc.utf8_slice_codeunits(filled, 0, 4), pa.int64()) \
        .to_numpy(zero_copy_only=False)
    m = pc.cast(pc.utf8_slice_codeunits(filled, 5, 7), pa.int64()) \
        .to_numpy(zero_copy_only=False)
    d = pc.cast(pc.utf8_slice_codeunits(filled, 8, 10), pa.int64()) \
        .to_numpy(zero_copy_only=False)
    ok = is_valid_date(y, m, d) & present
    days = np.where(ok, days_from_civil(y, m, d), 0).astype(np.int32)
    date_arr = pa.array(days, type=pa.date32(), mask=~ok)
    invalid = pa.array(present & ~ok)
    return date_arr, invalid


def _dates_from_str_series(s: pd.Series):
    """pandas-tier DATE conversion: object Series of shape-valid
    'YYYY-MM-DD'/None → (object Series of datetime.date/None,
    calendar-invalid ndarray). Per-row datetime.date is acceptable
    here — the pandas tiers are the non-hot path; the Arrow kernel
    uses the vectorized civil-date math."""
    import datetime

    import numpy as np

    vals = []
    invalid = np.zeros(len(s), dtype=bool)
    for j, x in enumerate(s.tolist()):
        if not isinstance(x, str):
            vals.append(None)
            continue
        try:
            vals.append(datetime.date(
                int(x[0:4]), int(x[5:7]), int(x[8:10])
            ))
        except ValueError:
            vals.append(None)
            invalid[j] = True
    return pd.Series(vals, index=s.index, dtype="object"), invalid


def _batch_parse_fast(lines: pd.Series, spec: FormatSpec, fast_rx: str,
                      unset_suffix: list):
    """Tier-1: pyarrow extract_regex. Returns (result_df, well, decided)
    where ``decided`` marks rows the fast path fully resolved."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(lines)
    st = pc.extract_regex(arr, pattern=fast_rx)
    valid = pc.is_valid(st)
    # >18-digit INT captures route to the exact tiers (int64 SATURATION
    # contract, functions.oracle._atol) — a raw cast would raise.
    for _, (i, f) in enumerate(spec.output_fields()):
        if f.ftype == FieldType.INT:
            long_run = pc.fill_null(
                pc.greater(pc.utf8_length(st.field(f"g{i}")), 18), False
            )
            valid = pc.and_(valid, pc.invert(long_run))
    valid_np = valid.to_numpy(zero_copy_only=False)

    cols = spec.column_names()
    data = {}
    str_cols = {}
    for k, (i, f) in enumerate(spec.output_fields()):
        child = pc.if_else(valid, st.field(f"g{i}"), pa.scalar(None, pa.string()))
        if f.ftype == FieldType.INT:
            data[cols[k]] = child.cast(pa.int64()).to_pandas().astype("Int64")
        elif f.ftype == FieldType.DATE:
            dates, invalid = _dates_from_str_series(child.to_pandas())
            data[cols[k]] = dates
            # calendar-invalid rows are undecided (the exact tiers'
            # walker rejects them => malformed); the merged result row
            # is fully overwritten there
            valid_np = valid_np & ~invalid
        else:
            s = child.to_pandas()
            data[cols[k]] = s
            str_cols[k] = s
    result = pd.DataFrame(data, index=lines.index)

    # Trailing zero-width captures: '' here means the walker's cursor was
    # already at EOL, i.e. the field is UNSET (None), not empty
    # (line_parser.cpp:65 `s < end` guard). Walk the suffix backwards.
    if unset_suffix:
        tail_zero = valid_np.copy()
        for k in unset_suffix:  # already last-to-first
            s = str_cols[k]
            is_empty = (s.str.len() == 0).fillna(False).to_numpy()
            unset = tail_zero & is_empty
            if unset.any():
                s2 = s.copy()
                s2[unset] = None
                result[cols[k]] = s2
            tail_zero = tail_zero & is_empty
    return result, valid_np


def _batch_parse(lines: pd.Series, spec: FormatSpec,
                 byte_mode: bool = False) -> pd.DataFrame:
    """Parse one Arrow batch: tier-1 pyarrow flat regex, then the nested
    regex + walker on the remainder."""
    s = lines.astype("object")
    fast_rx, unset_suffix = _fast_plan(spec)
    if fast_rx is None:
        return _batch_parse_nested(s, spec, byte_mode=byte_mode)

    result, decided = _batch_parse_fast(s, spec, fast_rx, unset_suffix)
    if byte_mode and spec.byte_sensitive():
        # fast tier counts codepoints; only pure-ASCII rows are decided
        nonascii = s.map(
            lambda x: isinstance(x, str) and not x.isascii()
        ).to_numpy(dtype=bool)
        decided = decided & ~nonascii
    if decided.all():
        result["well_formed"] = True
        return result
    rest_idx = s.index[~decided]
    rest = _batch_parse_nested(s.loc[rest_idx], spec, byte_mode=byte_mode)
    result["well_formed"] = pd.Series(decided, index=s.index, dtype=bool)
    if len(rest_idx):
        cols = spec.column_names()
        for c in cols:
            result.loc[rest_idx, c] = rest[c]
        result.loc[rest_idx, "well_formed"] = rest["well_formed"].astype(bool)
        # .loc assignment degrades extension dtypes; restore them
        for k, (i, f) in enumerate(spec.output_fields()):
            if f.ftype == FieldType.INT:
                result[cols[k]] = result[cols[k]].astype("Int64")
            elif f.ftype == FieldType.DBL:
                result[cols[k]] = result[cols[k]].astype("float64")
        result["well_formed"] = result["well_formed"].astype(bool)
    return result


def _batch_parse_nested(lines: pd.Series, spec: FormatSpec,
                        byte_mode: bool = False) -> pd.DataFrame:
    """Tiers 2+3: anchored possessive Python regex via str.extract, walker
    on the rows it rejects/flags. Exact for every spec.

    In byte_mode on a byte-sensitive spec, non-ASCII rows go straight to
    the byte oracle (the Python regex counts codepoints)."""
    pattern = re.compile(spec.to_regex())
    cols = spec.column_names()
    out_fields = spec.output_fields()

    s = lines.astype("object").fillna("")
    # Sentinel group `wf0` participates iff the anchored pattern matched
    # (it captures '', which is notna; unmatched rows are all-NaN).
    extracted = s.str.extract(pattern)
    matched = extracted["wf0"].notna()

    # Rows the fast path may not decide correctly -> oracle walker:
    #  - regex failed (walker can still succeed: sign/ws-led numbers);
    #  - any DBL capture in the atof-divergence set (see to_regex docstring).
    fallback = ~matched
    if byte_mode and spec.byte_sensitive():
        fallback |= s.map(
            lambda x: isinstance(x, str) and not x.isascii()
        ).astype(bool)
    date_cols: dict[int, pd.Series] = {}
    for k, (i, f) in enumerate(out_fields):
        if f.ftype == FieldType.INT:
            # int64 saturation contract: >18-digit captures go to the
            # oracle walker (pd.to_numeric would lossily float them)
            g = extracted[f"g{i}"]
            fallback |= (g.str.len() > 18).fillna(False)
            continue
        if f.ftype == FieldType.DATE:
            # calendar-invalid captures: walker decides (and rejects)
            g = extracted[f"g{i}"]
            dates, invalid = _dates_from_str_series(g)
            date_cols[k] = dates
            fallback |= pd.Series(invalid, index=g.index)
            continue
        if f.ftype != FieldType.DBL:
            continue
        g = extracted[f"g{i}"]
        present = g.notna()
        num = pd.to_numeric(g, errors="coerce")
        susp = present & (
            g.isin(["", ".", "0"])
            | (num.eq(0.0) & ~g.str.startswith("0").fillna(False))
            | num.isna()
        )
        fallback |= susp

    null_line = lines.isna()
    fallback &= ~null_line

    data = {}
    for k, (i, f) in enumerate(out_fields):
        g = extracted[f"g{i}"]
        if f.ftype == FieldType.INT:
            # >18-digit captures are fallback rows (masked here so the
            # base Int64 conversion can't overflow); the oracle walker
            # overwrites them with the saturated value below
            g = g.where(~(g.str.len() > 18).fillna(False))
            data[cols[k]] = pd.to_numeric(g, errors="coerce").astype("Int64")
        elif f.ftype == FieldType.DBL:
            data[cols[k]] = pd.to_numeric(g, errors="coerce").astype("float64")
        elif f.ftype == FieldType.DATE:
            data[cols[k]] = date_cols[k]
        else:  # CHR / STR as strings; CHR capture is the target char
            data[cols[k]] = g.where(g.notna(), None)
    result = pd.DataFrame(data, index=s.index)
    well = matched & ~null_line

    if fallback.any():
        from ..functions.oracle import parse_line_bytes

        oracle_fn = (
            parse_line_bytes if byte_mode and spec.byte_sensitive()
            else oracle_parse_line
        )
        fb_idx = s.index[fallback]
        fb_vals: dict[str, list] = {c: [] for c in cols}
        fb_wf = []
        for raw in s.loc[fb_idx]:
            values, wf = oracle_fn(raw, spec)
            fb_wf.append(wf)
            for k, v in enumerate(values):
                fb_vals[cols[k]].append(v)
        for k, (i, f) in enumerate(out_fields):
            col = pd.Series(fb_vals[cols[k]], index=fb_idx, dtype="object")
            if f.ftype == FieldType.INT:
                col = col.astype("Int64")
            elif f.ftype == FieldType.DBL:
                col = col.astype("float64")
            result.loc[fb_idx, cols[k]] = col
        well = well.copy()
        well.loc[fb_idx] = fb_wf

    # dtypes can degrade through .loc assignment; restore the Arrow-friendly ones
    for k, (i, f) in enumerate(out_fields):
        if f.ftype == FieldType.INT:
            result[cols[k]] = result[cols[k]].astype("Int64")
        elif f.ftype == FieldType.DBL:
            result[cols[k]] = result[cols[k]].astype("float64")
    result["well_formed"] = well.astype(bool)
    return result


def make_parse_udf(spec: FormatSpec, byte_mode: bool = False):
    """Build the pandas UDF ``string -> struct<fields..., well_formed>``.

    The compiled spec travels to executors via closure capture (the Spark
    analog of the reference's compile-once parse program,
    ``line_parser.cpp:5-45``)."""
    from pyspark.sql.functions import pandas_udf

    schema = spec.spark_schema()

    @pandas_udf(schema)
    def parse(lines: pd.Series) -> pd.DataFrame:
        return _batch_parse(lines, spec, byte_mode=byte_mode)

    # The parse IS deterministic; the marker is an optimizer fence.
    # Without it, predicate pushdown substitutes the UDF expression into
    # filters referencing the parsed struct, and the planner then emits
    # TWO ArrowEvalPython nodes — the whole parse runs twice on
    # filter+project queries (measured). The cost: upstream predicates
    # no longer push below the parse projection, which never matters
    # here (the pipeline filters on parse OUTPUT; source-level pruning
    # happens before explode_lines).
    return parse.asNondeterministic()


def explode_lines(
    df,
    text_col: str = "text",
    keep_cols: Optional[Iterable[str]] = None,
    line_no_col: str = "line_no",
    raw_col: str = "raw_line",
):
    """pages -> one row per line, JVM-side only.

    Reproduces the reference's file read (split on ``\\n``, strip one
    trailing ``\\r`` per line, no phantom line after a trailing newline —
    ``filtered_file_reader.cpp:137-167``). ``line_no`` is the 0-based
    per-document line id (the reference's global ``line_num`` scoped per
    document; SURVEY.md §7.4 risk 2 — avoids a global zipWithIndex shuffle).
    """
    from pyspark.sql import functions as F

    keep = list(keep_cols) if keep_cols is not None else [
        c for c in df.columns if c != text_col
    ]
    # Strip ONE trailing newline before splitting (no phantom empty line
    # after a final "\n"; an empty text still yields one empty line, the
    # reference's fake-1-line-buffer rule). Single split evaluation — the
    # earlier when(endswith)/slice formulation evaluated split() up to 3x
    # per row inside Generate.
    # \z (end-of-input), NOT $: Java's $ also matches before a final line
    # terminator, so "a\n\n" would lose BOTH newlines and drop the
    # document's final empty line (oracle split_lines keeps it).
    lines = F.split(F.regexp_replace(F.col(text_col), "\n\\z", ""), "\n")
    out = df.select(
        *keep, F.posexplode(lines).alias(line_no_col, raw_col)
    )
    # drop exactly ONE trailing CR, without a regex: Java's "\r$" also
    # matches before a final line terminator, so "a\r\r" lost both CRs
    # where the oracle keeps "a\r"
    raw = F.col(raw_col)
    return out.withColumn(
        raw_col,
        F.when(raw.endswith("\r"), raw.substr(F.lit(1), F.length(raw) - 1))
        .otherwise(raw),
    )


def with_global_line_id(
    df,
    id_col: str = "doc_id",
    line_no_col: str = "line_no",
    out_col: str = "global_line_num",
    bucket_width: int = 4096,
):
    """True file-global line ordinal (the reference's ``line_num`` is
    global across the whole input, ``filtered_file_reader.cpp``; ours is
    per-document by default — SURVEY §7.4 risk 2). This helper closes
    the gap without a global sort or zipWithIndex:

    ``global_line_num = offset(doc) + line_no`` where ``offset(doc)`` is
    the total line count of all documents with a smaller ``id_col``.

    Scale shape (two-level prefix sum): per-doc line counts (one shuffle,
    one row per doc), intra-bucket running sums with a window
    PARTITIONED BY ``floor(doc_id / bucket_width)`` (bounded partitions
    — never a single-task global window), bucket totals prefix-summed
    over the tiny bucket table and broadcast back, then one broadcast
    join onto the line stream. The fact table is never re-shuffled.
    Requires a numeric, order-meaningful ``id_col``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # integer `div`, not float division: (id / width).cast("long") goes
    # through a double, which loses exactness above 2^53 and can assign
    # a boundary doc to the wrong bucket (silently corrupting ordinals).
    bucket = F.expr(f"`{id_col}` div {int(bucket_width)}")
    counts = (
        df.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__b", bucket)
    )
    w_in = (
        Window.partitionBy("__b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = counts.withColumn(
        "__intra", F.coalesce(F.sum("__n").over(w_in), F.lit(0))
    )
    btot = counts.groupBy("__b").agg(F.sum("__n").alias("__bn"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.withColumn(
        "__boff", F.coalesce(F.sum("__bn").over(w_b), F.lit(0))
    ).select("__b", "__boff")
    offsets = (
        intra.join(F.broadcast(boff), "__b")
        .select(
            id_col, (F.col("__intra") + F.col("__boff")).alias("__off")
        )
    )
    # offsets is one row per DOC (30x smaller than the line stream) —
    # small enough to auto-broadcast at bench scale; past the broadcast
    # threshold AQE falls back to a shuffle join keyed by doc, which is
    # the correct shape when the doc table itself is huge.
    return df.join(offsets, id_col).withColumn(
        out_col, F.col("__off") + F.col(line_no_col)
    ).drop("__off")


def parse_lines(
    df,
    spec: FormatSpec,
    line_col: str = "raw_line",
    out_col: str = "parsed",
    with_matched_format: bool = True,
    byte_mode: bool = False,
):
    """Attach the parsed struct (and the ``matched_format`` tag used by the
    per-format aggregate counts).

    Picks the Arrow-native mapInArrow path automatically when the spec has
    a provably-sound flat regex (~0.5-0.8M rows/s/core); falls back to the
    pandas-UDF nested-regex path otherwise (DBL fields, ambiguous specs).

    ``byte_mode=True`` selects the reference's exact BYTE semantics
    (NCHAR counts bytes; see the module docstring's Unicode contract) —
    a no-op for specs where ``byte_sensitive()`` is False.
    """
    from pyspark.sql import functions as F

    if spec.to_fast_regex() is not None:
        out = parse_lines_arrow(
            df, spec, line_col=line_col, out_col=out_col,
            byte_mode=byte_mode,
        )
    else:
        udf = make_parse_udf(spec, byte_mode=byte_mode)
        out = df.withColumn(out_col, udf(F.col(line_col)))
    if with_matched_format:
        out = out.withColumn(
            "matched_format",
            F.when(F.col(f"{out_col}.well_formed"), F.lit(spec.name)),
        )
    return out


# ── Arrow-native hot path (mapInArrow) ────────────────────────────────


def _split_plan_for(spec: FormatSpec):
    """Compile (once per spec instance) the capture-free split plan, or
    None when the spec is outside fastsplit's recognized family or
    SPARK_GRAFT_SPLIT_PLAN=0 disables it (A/B lever)."""
    import os

    if os.environ.get("SPARK_GRAFT_SPLIT_PLAN", "1") == "0":
        return None
    cached = spec.__dict__.get("_split_plan", "unset")
    if cached == "unset":
        from .fastsplit import compile_any_split_plan

        cached = compile_any_split_plan(spec)
        spec.__dict__["_split_plan"] = cached
    return cached


def _batch_parse_arrow(arr, spec: FormatSpec, rx: str, unset_suffix: list,
                       byte_mode: bool = False):
    """Tier-1 + walker, entirely in Arrow: no Python string objects for
    decided rows. Returns (list of output pa.Arrays, well_formed array).
    Undecided rows (flat-regex misses: malformed, trailing-optional,
    zero-width-WS, walker-only quirks) are resolved by the exact oracle
    walker per row.

    Tier-1 has two kernels over the SAME flat regex: the capture-free
    DFA-gate + split decomposition (``fastsplit``, ~1.7x the extract
    throughput — RE2's capture engine is ~8x slower than its DFA) for
    recognized spec shapes, else ``pc.extract_regex``.

    ``byte_mode`` (reference byte-semantics parity): the RE2 fast regex
    counts CODEPOINTS for NCHAR, so for byte-sensitive specs it may only
    decide pure-ASCII rows (where byte and codepoint counts coincide);
    multi-byte rows route to the byte-native NumPy walker. Specs that
    are not byte-sensitive need no gate — both semantics agree. (The
    split-plan family never contains NCHAR, so it is never
    byte-sensitive.)"""
    import pyarrow as pa
    import pyarrow.compute as pc

    out_fields = spec.output_fields()
    plan = _split_plan_for(spec)
    plan_typed = plan is not None
    if plan_typed:
        children, valid = plan.run(arr, rx)
    else:
        st = pc.extract_regex(arr, pattern=rx)
        valid = pc.is_valid(st)
        if byte_mode and spec.byte_sensitive():
            ascii_only = pc.fill_null(
                pc.equal(pc.utf8_length(arr), pc.binary_length(arr)), False
            )
            valid = pc.and_(valid, ascii_only)
        # int64 saturation contract: >18-digit INT captures are
        # "undecided" here and resolved by the walker -> oracle (which
        # clamps per C strtol); pa.int64 cast on them would raise.
        for _, (i, f) in enumerate(spec.output_fields()):
            if f.ftype == FieldType.INT:
                long_run = pc.fill_null(
                    pc.greater(pc.utf8_length(st.field(f"g{i}")), 18), False
                )
                valid = pc.and_(valid, pc.invert(long_run))
        children = {}
        for k, (i, f) in enumerate(out_fields):
            children[k] = st.field(f"g{i}")
            if f.ftype == FieldType.DATE:
                # shape matched; calendar validity decided vectorized —
                # invalid rows go undecided (walker rejects them)
                date_arr, cal_invalid = _date_arrays_from_captures(
                    children[k], valid
                )
                children[k] = date_arr
                valid = pc.and_(valid, pc.invert(cal_invalid))

    # Trailing zero-width captures: '' means the walker's cursor was at
    # EOL -> field is UNSET (None), not empty (line_parser.cpp:65).
    if unset_suffix:
        tail_zero = valid
        for k in unset_suffix:  # last-to-first
            ch = children[k]
            is_empty = pc.fill_null(pc.equal(ch, ""), False)
            tail_zero = pc.and_(tail_zero, is_empty)
            children[k] = pc.if_else(
                tail_zero, pa.scalar(None, pa.string()), ch
            )

    undecided = pc.fill_null(pc.invert(valid), True)
    n_und = int(pc.sum(undecided).as_py() or 0)

    walker_outs = None
    walker_wf = None
    if n_und:
        from .walker_np import batch_walk_arrow

        sub = arr.filter(undecided)
        # vectorized NumPy walker (itself bails per-row to the python
        # oracle only for atol-overflow/unicode/DBL territory)
        walker_outs, walker_wf = batch_walk_arrow(
            sub, spec, byte_mode=byte_mode
        )

    outs = []
    for k, (i, f) in enumerate(out_fields):
        if plan_typed:
            # plan children are already typed; null out the rows the
            # alignment checks rejected (they carry split-side values)
            base = pc.if_else(
                valid, children[k], pa.scalar(None, children[k].type)
            )
        elif f.ftype == FieldType.DATE:
            base = pc.if_else(
                valid, children[k], pa.scalar(None, pa.date32())
            )
        else:
            base = pc.if_else(
                valid, children[k], pa.scalar(None, pa.string())
            )
            if f.ftype == FieldType.INT:
                base = base.cast(pa.int64())
            elif f.ftype == FieldType.DBL:
                base = base.cast(pa.float64())
        if n_und:
            base = pc.replace_with_mask(base, undecided, walker_outs[k])
        outs.append(base)
    wf_arr = pc.fill_null(valid, False)
    if n_und:
        wf_arr = pc.replace_with_mask(wf_arr, undecided, walker_wf)
    return outs, wf_arr


def make_arrow_parse_udf(spec: FormatSpec, byte_mode: bool = False):
    """Scalar Arrow UDF ``string -> struct`` over the tier-1 kernel, or
    None when the spec has no flat fast regex or the runtime predates
    ``pyspark.sql.functions.arrow_udf`` (Spark 4.0).

    NOT the default path: it is ~10% faster than mapInArrow in a single
    JVM (only the line column crosses into Python), but measured 5-7x
    slower when several local JVMs run concurrently on one host
    (ArrowEvalPython's JVM-side buffering interacts badly with
    contention), while the mapInArrow path stays healthy. parse_lines
    therefore prefers mapInArrow; this UDF remains available for
    expression-style composition."""
    from pyspark.sql import functions as F

    if not hasattr(F, "arrow_udf"):
        return None
    rx, unset_suffix = _fast_plan(spec)
    if rx is None:
        return None
    names = spec.column_names() + ["well_formed"]

    @F.arrow_udf(spec.spark_schema())
    def parse(lines: pa.Array) -> pa.Array:
        if isinstance(lines, pa.ChunkedArray):
            lines = lines.combine_chunks()
        outs, wf = _batch_parse_arrow(
            lines, spec, rx, unset_suffix, byte_mode=byte_mode
        )
        return pa.StructArray.from_arrays(outs + [wf], names=names)

    # deterministic in fact; marked non-deterministic as an optimizer
    # fence so predicate pushdown cannot clone the UDF into filters —
    # without this, filter+project queries plan TWO ArrowEvalPython
    # nodes and parse every line twice (see make_parse_udf note).
    return parse.asNondeterministic()


def parse_lines_arrow(
    df,
    spec: FormatSpec,
    line_col: str = "raw_line",
    out_col: str = "parsed",
    drop_cols: Optional[Iterable[str]] = None,
    strategy: Optional[str] = None,
    byte_mode: bool = False,
):
    """Arrow-native parse stage: zero pandas/object materialization on
    the fast path. Two physical strategies over the SAME kernel:

    - ``"arrowudf"`` (default when the runtime has
      ``pyspark.sql.functions.arrow_udf``, Spark 4.0+): scalar Arrow UDF
      — ONLY the line column crosses into Python and only the parsed
      struct returns; every passthrough column (ids, page dims) stays
      JVM-side. Measured +37% end-to-end over mapInArrow at local[32]
      (2.87M vs 2.10M rows/s) because the passthrough transfer is the
      marginal cost once raw_line is dropped.
    - ``"mapinarrow"``: whole-batch passthrough. Kept selectable
      (``strategy=`` or env ``SPARK_GRAFT_PARSE_STRATEGY``) because
      round-1 measured ArrowEvalPython buffering degrading under
      heavily-contended co-resident JVMs; re-measured in a clean window
      the two are within noise there (see BENCH/BASELINE.md).

    ``drop_cols`` (e.g. ``["raw_line"]`` when nothing downstream reads
    the raw text) trims the return stream — at 10^12 rows the raw-line
    bytes dominate transfer. Requires a fast-safe spec
    (``to_fast_regex() is not None``)."""
    import os

    import pyarrow as pa
    from pyspark.sql import types as T

    rx, unset_suffix = _fast_plan(spec)
    if rx is None:
        raise ValueError(
            f"spec {spec.name!r} has no flat fast regex; use parse_lines"
        )

    if strategy is None:
        strategy = os.environ.get("SPARK_GRAFT_PARSE_STRATEGY", "arrowudf")
    if strategy == "arrowudf":
        udf = make_arrow_parse_udf(spec, byte_mode=byte_mode)
        if udf is not None:
            from pyspark.sql import functions as F

            out = df.withColumn(out_col, udf(F.col(line_col)))
            drop = [c for c in (drop_cols or ()) if c in df.columns]
            return out.drop(*drop) if drop else out
        # no arrow_udf on this runtime -> fall through to mapInArrow

    drop = set(drop_cols or ())
    kept = [f for f in df.schema.fields if f.name not in drop]
    out_schema = T.StructType(
        kept + [T.StructField(out_col, spec.spark_schema(), False)]
    )
    names = spec.column_names() + ["well_formed"]

    def fn(batches):
        for batch in batches:
            arr = batch.column(line_col)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            if not pa.types.is_string(arr.type):
                arr = arr.cast(pa.string())
            outs, wf = _batch_parse_arrow(
                arr, spec, rx, unset_suffix, byte_mode=byte_mode
            )
            struct = pa.StructArray.from_arrays(outs + [wf], names=names)
            if drop:
                keep_idx = [
                    i for i, name in enumerate(batch.schema.names)
                    if name not in drop
                ]
                batch = batch.select(keep_idx)
            yield batch.append_column(out_col, struct)

    return df.mapInArrow(fn, out_schema)


def render_parsed(df, spec: FormatSpec, parsed_col: str = "parsed",
                  out_col: str = "rendered"):
    """Parsed-line render (SURVEY §2.2 P10): the exact
    ``ParsedLine::asStringToStream`` string form
    (``/root/reference/src/line_parsing/parsing_data.cpp:32-54``)::

        ParsedLine: ints(a, b); dbls(); chrs(:, ., :); strs("x", "y")

    Fields are grouped BY TYPE in declaration order, exactly like the
    reference's per-type field arrays. Unset fields render as empty —
    the reference prints uninitialized memory there; empty is the
    deterministic stand-in. Pure Catalyst (concat/concat_ws), no UDF.

    DBL caveat: Spark's double→string (e.g. ``1.5``) differs from C++
    ostream's 6-significant-digit default for some values; exact
    byte-parity is guaranteed for INT/CHR/STR fields.
    """
    from pyspark.sql import functions as F

    groups: dict = {FieldType.INT: [], FieldType.DBL: [],
                    FieldType.CHR: [], FieldType.STR: [],
                    FieldType.DATE: []}
    cols = spec.column_names()
    for k, (i, f) in enumerate(spec.output_fields()):
        groups[f.ftype].append(F.col(f"{parsed_col}.{cols[k]}"))

    def plain(cs, sep=", "):
        if not cs:
            return F.lit("")
        return F.concat_ws(
            sep, *[F.coalesce(c.cast("string"), F.lit("")) for c in cs]
        )

    parts = [
        F.lit("ParsedLine: ints("), plain(groups[FieldType.INT]),
        F.lit("); dbls("), plain(groups[FieldType.DBL]),
        F.lit("); chrs("), plain(groups[FieldType.CHR]),
        F.lit('); strs("'), plain(groups[FieldType.STR], '", "'),
        F.lit('")'),
    ]
    # DATE is an engine extension (no reference render exists): append
    # a dates(...) section ONLY when the spec has DATE fields, so the
    # reference specs' byte-parity render is untouched
    if groups[FieldType.DATE]:
        parts += [
            F.lit("; dates("),
            plain([F.date_format(c, "yyyy-MM-dd")
                   for c in groups[FieldType.DATE]]),
            F.lit(")"),
        ]
    return df.withColumn(out_col, F.concat(*parts))


def parsed_to_json(df, spec: FormatSpec, parsed_col: str = "parsed",
                   out_col: str = "parsed_json"):
    """Machine-readable render: the parsed struct's named fields as a
    JSON object (the modern analog of the reference's debug render).
    ``F.to_json`` omits null (unset) fields, mirroring 'unset = absent'.
    """
    from pyspark.sql import functions as F

    cols = spec.column_names()
    return df.withColumn(
        out_col,
        F.to_json(
            F.struct(
                *[F.col(f"{parsed_col}.{c}").alias(c) for c in cols],
                F.col(f"{parsed_col}.well_formed").alias("well_formed"),
            )
        ),
    )


def parse_lines_multi(
    df,
    specs,
    line_col: str = "raw_line",
    out_prefix: str = "parsed_",
    matched_col: str = "matched_format",
    drop_cols: Optional[Iterable[str]] = None,
    byte_mode: bool = False,
):
    """Multi-format cascade: try each spec in order; the FIRST spec that
    parses a line well-formed wins and tags ``matched_format`` with its
    name. Mirrors the reference's runtime format swap
    (``/root/reference/src/file_parsing/log_parser_interface.cpp:85-88``,
    ``frontends/term/src/modules/config_manager_module.cpp:46-49``) as a
    single pass instead of N sequential re-parses.

    Output: input columns (minus ``drop_cols``) + one struct column
    ``{out_prefix}{spec.name}`` per spec (well_formed=True only on rows
    that spec won; fields null elsewhere) + ``matched_col`` (winning
    spec name, null when no spec matches).

    Scale shape: ONE mapInArrow stage — every row crosses the Python
    boundary once regardless of len(specs); spec k's kernel runs only on
    the rows specs 0..k-1 rejected, so the common case (spec 0 matches
    ~everything) costs the same as single-spec parse plus a cheap
    scatter. Specs with a provably-sound flat regex use the RE2 kernel;
    others run the vectorized NumPy walker directly.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    from .walker_np import batch_walk_arrow

    specs = list(specs)
    if not specs:
        raise ValueError("parse_lines_multi needs at least one spec")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"spec names must be unique, got {names}")
    plans = [_fast_plan(s) for s in specs]

    drop = set(drop_cols or ())
    kept = [f for f in df.schema.fields if f.name not in drop]
    out_schema = T.StructType(
        kept
        + [
            T.StructField(f"{out_prefix}{s.name}", s.spark_schema(), False)
            for s in specs
        ]
        + [T.StructField(matched_col, T.StringType(), True)]
    )

    def fn(batches):
        for batch in batches:
            arr = batch.column(line_col)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            if not pa.types.is_string(arr.type):
                arr = arr.cast(pa.string())
            n = len(arr)
            remaining = np.ones(n, dtype=bool)
            matched = np.full(n, None, dtype=object)
            structs = []
            for spec, (rx, unset_suffix) in zip(specs, plans):
                field_names = spec.column_names() + ["well_formed"]
                idx = np.flatnonzero(remaining)
                full_wf = np.zeros(n, dtype=bool)
                if len(idx):
                    sub = arr.take(pa.array(idx))
                    if rx is not None:
                        outs, wf = _batch_parse_arrow(
                            sub, spec, rx, unset_suffix,
                            byte_mode=byte_mode,
                        )
                    else:
                        outs, wf = batch_walk_arrow(
                            sub, spec, byte_mode=byte_mode
                        )
                    wf_np = wf.to_numpy(zero_copy_only=False)
                    win = idx[wf_np]
                    full_wf[win] = True
                    remaining[win] = False
                    matched[win] = spec.name
                    mask = pa.array(full_wf)
                    wf_pa = pa.array(wf_np)
                    cols = [
                        pc.replace_with_mask(
                            pa.nulls(n, type=o.type), mask, o.filter(wf_pa)
                        )
                        for o in outs
                    ]
                else:
                    cols = [
                        pa.nulls(n, type=o)
                        for o in _arrow_types(spec)
                    ]
                structs.append(
                    pa.StructArray.from_arrays(
                        cols + [pa.array(full_wf)], names=field_names
                    )
                )
            if drop:
                keep_idx = [
                    i for i, name in enumerate(batch.schema.names)
                    if name not in drop
                ]
                batch = batch.select(keep_idx)
            for s, st in zip(specs, structs):
                batch = batch.append_column(f"{out_prefix}{s.name}", st)
            yield batch.append_column(
                matched_col, pa.array(matched, type=pa.string())
            )

    return df.mapInArrow(fn, out_schema)


def _arrow_types(spec: FormatSpec):
    """Arrow type per output field of a spec (mirrors spark_schema)."""
    import pyarrow as pa

    m = {
        FieldType.INT: pa.int64(),
        FieldType.DBL: pa.float64(),
        FieldType.CHR: pa.string(),
        FieldType.STR: pa.string(),
        FieldType.DATE: pa.date32(),
    }
    return [m[f.ftype] for _, f in spec.output_fields()]


def parse_lines_hybrid(
    df,
    spec: FormatSpec,
    line_col: str = "raw_line",
    out_col: str = "parsed",
    drop_cols: Optional[Iterable[str]] = None,
):
    """Alternative strategy: JVM-codegen fast path + Python residual, in
    ONE scan. NOT the default — measured slower than the Arrow kernel on
    this hardware; see the trade-off note below.

    The flat regex is Java-compatible (greedy, backtracking leftmost-
    greedy — the same preference order the soundness proof covers), so
    matched rows are extracted entirely JVM-side with whole-stage codegen
    in TWO regex executions total: one ``rlike`` gate and one
    ``regexp_replace`` that packs every capture group into a
    separator-joined string (per-group ``regexp_extract`` would re-run
    the full match k times). Rows the flat pattern rejects still need
    walker semantics: the mapInArrow kernel runs over a column that is
    NULL for matched rows — null strings cross the Arrow boundary for
    ~free — so Python cost is proportional to the residual only.

    Trade-off (measured, local[32], identical checksums): mapInArrow
    2.17M rows/s vs hybrid 1.69M — java.util.regex backtracking runs
    ~0.5M matches/s/core on this pattern while RE2 inside pyarrow does
    ~0.9-1M, so eliminating the Arrow transfer does not pay for the
    slower JVM engine here. The hybrid wins where Python workers are
    scarce or rows are fat (transfer-bound) — hence kept as an opt-in
    strategy with full parity coverage.
    """
    from pyspark.sql import functions as F

    rx, unset_suffix = _fast_plan(spec)
    if rx is None:
        return parse_lines(df, spec, line_col=line_col, out_col=out_col)
    jrx = rx.replace("(?P<", "(?<")

    out_fields = spec.output_fields()
    cols = spec.column_names()
    # single-match multi-group extraction: ONE regexp_replace with
    # backreferences packs every group into a \x01-separated string
    # (k regexp_extract calls would run k full regex matches per row).
    # Rows containing the separator byte are routed to the walker.
    sep = "\u0001"
    repl = sep.join(f"${k + 1}" for k in range(len(out_fields)))
    matched = (
        F.col(line_col).isNotNull()
        & ~F.col(line_col).contains(sep)
        & F.col(line_col).rlike(jrx)
    )
    if any(f.ftype == FieldType.INT for _, f in out_fields):
        # int64 saturation contract: a 19+-digit run anywhere routes the
        # row to the walker residual — the JVM cast("long") would
        # silently NULL an overflowing capture with well_formed=true.
        matched = matched & ~F.col(line_col).rlike("[0-9]{19}")
    if any(f.ftype == FieldType.DATE for _, f in out_fields):
        # DATE calendar contract: any shape-valid but calendar-invalid
        # date (incl. year 0000, which Java's proleptic ISO chronology
        # would accept but datetime.date rejects) routes the row to the
        # walker residual, which declares it malformed. Same validity
        # rules as functions.dates.is_valid_date, as Catalyst exprs.
        def _date_invalid(s):
            y = F.substring(s, 1, 4).cast("int")
            m = F.substring(s, 6, 2).cast("int")
            d = F.substring(s, 9, 2).cast("int")
            leap = (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))
            base = F.element_at(
                F.array(*[F.lit(x) for x in
                          (31, 28, 31, 30, 31, 30,
                           31, 31, 30, 31, 30, 31)]), m
            )
            dim = base + F.when((m == 2) & leap, 1).otherwise(0)
            return F.when(
                (y < 1) | (m < 1) | (m > 12), F.lit(True)
            ).otherwise((d < 1) | (d > dim))

        matched = matched & ~F.exists(
            F.regexp_extract_all(
                F.col(line_col),
                F.lit(r"([0-9]{4}-[0-9]{2}-[0-9]{2})"), F.lit(1),
            ),
            _date_invalid,
        )
    residual_col = "__residual"
    packed_col = "__packed"
    with_res = df.withColumn(
        residual_col,
        F.when(matched, F.lit(None)).otherwise(F.col(line_col)),
    ).withColumn(
        packed_col,
        F.when(
            matched,
            F.split(F.regexp_replace(F.col(line_col), jrx, repl), sep),
        ),
    )
    # the packed array must survive the kernel; the raw line need not
    kernel = parse_lines_arrow(
        with_res, spec, line_col=residual_col, out_col="__py_parsed",
        drop_cols=[residual_col] + list(drop_cols or []),
    )

    raw_g = {
        k: F.element_at(F.col(packed_col), k + 1)
        for k in range(len(out_fields))
    }
    # trailing zero-width captures: '' at EOL means UNSET (None) — the
    # same tail-zero chain the Arrow kernel applies, as Catalyst exprs
    unset: dict[int, object] = {}
    tail = F.lit(True)
    for k in unset_suffix:  # last-to-first
        tail = tail & (F.length(raw_g[k]) == 0)
        unset[k] = tail
    jvm_fields = []
    for k, (i, f) in enumerate(out_fields):
        g = raw_g[k]
        if k in unset:
            g = F.when(unset[k], F.lit(None)).otherwise(g)
        if f.ftype == FieldType.INT:
            g = g.cast("long")
        elif f.ftype == FieldType.DBL:
            g = g.cast("double")
        elif f.ftype == FieldType.DATE:
            # calendar-invalid rows were routed to the residual above,
            # so this conversion never nulls a matched row
            g = F.to_date(g, "yyyy-MM-dd")
        jvm_fields.append(g.alias(cols[k]))
    jvm_struct = F.struct(*jvm_fields, F.lit(True).alias("well_formed"))

    combined = kernel.withColumn(
        out_col,
        F.when(F.col(packed_col).isNotNull(), jvm_struct).otherwise(
            F.col("__py_parsed")
        ),
    ).drop("__py_parsed", packed_col)
    return combined
