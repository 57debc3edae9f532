"""Vectorized parse stage: pages -> lines -> typed parsed struct.

The core custom operator (SURVEY.md §4 item 1). Catalyst cannot express the
reference's format-spec semantics (INT zero-rule, trailing-field
optionality, NCHAR, strtod reading past the DBL cursor), so parsing runs
inside ONE scalar Arrow UDF (``arrow_udf``) per line column. Only the line
column crosses into Python and only the parsed struct comes back. The
multi-format cascade (:func:`parse_lines_multi`) is the same shape: one
scalar Arrow UDF runs every spec's kernel over the line column and returns
one struct, expanded JVM-side. The kernel is chosen once, from the spec:

1. **flat-regex tier** — when ``FormatSpec.to_fast_regex`` yields a flat
   RE2 pattern (emitted only when provably capture-equal to the walker):
   the capture-free split plan (``fastsplit``) for the shapes it
   recognizes, else ``pyarrow.compute.extract_regex``. Pure C++, no Python
   objects; decides virtually all well-formed production lines.
2. **NumPy walker** (``walker_np.batch_walk_arrow``) — every row of a spec
   without a flat regex (DBL fields, ambiguous shapes), and the rows tier 1
   leaves undecided otherwise (malformed lines, trailing-optional endings,
   zero-width whitespace, atol sign/whitespace quirks).
3. **oracle bails** — the walker hands the few rows it cannot decide
   vectorized (>18-digit INT runs, strtod reading outside the DBL cursor
   span, non-ASCII text in codepoint mode) to the byte-exact
   ``functions.oracle.parse_line``.

Scale notes (100 TB): the UDF sees a single string column per batch; all
other columns stay JVM-side. Everything upstream (split/posexplode/CRLF
strip) and downstream (filters, joins, aggregates) is pure Catalyst, so
predicate pushdown and whole-stage codegen are unaffected. The Python
worker cost is one C-regex pass per batch; walker rows are O(malformed)
for flat-regex specs.

Unicode contract: the reference parses raw BYTES (``parsing_basics.cpp``
walks ``char*``); the default mode here counts codepoints — the two are
provably identical for any spec where ``FormatSpec.byte_sensitive()`` is
False (all stops/targets ASCII, no NCHAR — continuation bytes never
collide with ASCII comparisons), which covers the crawl pipeline's
formats. For byte-sensitive specs, ``byte_mode=True`` gives exact
reference parity on multi-byte UTF-8: the RE2 tier decides only
pure-ASCII rows (byte == codepoint there), the NumPy walker — which
already advances over raw UTF-8 bytes — handles the rest vectorized,
and only captures whose NCHAR boundary splits a codepoint fall to
``oracle.parse_line_bytes`` (whose U+FFFD replacement stands in for raw
split bytes a UTF-8 column cannot carry).
"""

from __future__ import annotations

from typing import Iterable, Optional

import pyarrow as pa  # module-level: arrow_udf type-hint resolution needs it

from ..functions.formats import FieldType, FormatSpec
from .walker_np import batch_walk_arrow

__all__ = ["explode_lines", "parse_lines", "parse_lines_arrow", "parse_lines_multi", "parsed_to_json", "render_parsed"]


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
    from .filters import sql_ident

    keep = [sql_ident(c) for c in (keep_cols if keep_cols is not None else [
        c for c in df.columns if c != text_col
    ])]
    # Each step is one selectExpr of SQL text: a few py4j calls, where
    # the F.* builders take a few per node. A final "\n" leaves one
    # empty last element, which is dropped (no phantom line; an empty
    # text still yields one empty line, the reference's
    # fake-1-line-buffer rule). The split is its own column so it runs
    # once per page: inlined into the generator's IF/slice, Generate
    # evaluates it up to 3x per row. A regex here would run over every
    # page.
    text = sql_ident(text_col)
    pages = df.selectExpr(
        *keep, f"split({text}, '\\n') AS __lines", f"endswith({text}, '\\n') AS __nl")
    line_no, raw = sql_ident(line_no_col), sql_ident(raw_col)
    out = pages.selectExpr(
        *keep,
        "posexplode(IF(__nl, slice(__lines, 1, size(__lines) - 1), __lines))"
        f" AS ({line_no}, {raw})",
    )
    # drop exactly ONE trailing CR, without a regex: Java's "\r$" also
    # matches before a final line terminator, so "a\r\r" lost both CRs
    # where the oracle keeps "a\r"
    return out.selectExpr(
        *keep, line_no,
        f"IF(endswith({raw}, '\\r'), substr({raw}, 1, length({raw}) - 1), {raw})"
        f" AS {raw}",
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


def _split_plan_for(spec: FormatSpec):
    """Compile (once per spec instance) the capture-free split plan, or
    None when the spec is outside fastsplit's recognized family."""
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
    zero-width-WS, walker-only quirks) go to the NumPy walker.

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
        sub = arr.filter(undecided)
        # vectorized NumPy walker (itself bails per-row to the python
        # oracle only for atol-overflow/strtod/unicode territory)
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
        if n_und:
            base = pc.replace_with_mask(base, undecided, walker_outs[k])
        outs.append(base)
    wf_arr = pc.fill_null(valid, False)
    if n_und:
        wf_arr = pc.replace_with_mask(wf_arr, undecided, walker_wf)
    return outs, wf_arr


def _kernel(spec: FormatSpec, byte_mode: bool = False):
    """The batch kernel for ``spec``: ``pa.Array -> (outs, well_formed)``.
    The flat-regex tier (walker on its undecided rows) when the spec has
    a flat regex, else the NumPy walker on every row."""
    rx, unset_suffix = _fast_plan(spec)
    if rx is None:
        return lambda arr: batch_walk_arrow(arr, spec, byte_mode=byte_mode)
    return lambda arr: _batch_parse_arrow(
        arr, spec, rx, unset_suffix, byte_mode=byte_mode
    )


def _parse_udf(spec: FormatSpec, byte_mode: bool = False):
    """Scalar Arrow UDF ``string -> struct<fields..., well_formed>`` over
    the spec's kernel. The compiled spec travels to executors via closure
    capture (the Spark analog of the reference's compile-once parse
    program, ``line_parser.cpp:5-45``)."""
    from pyspark.sql import functions as F

    kernel = _kernel(spec, byte_mode=byte_mode)
    names = spec.column_names() + ["well_formed"]

    @F.arrow_udf(spec.spark_schema())
    def parse(lines: pa.Array) -> pa.Array:
        if isinstance(lines, pa.ChunkedArray):
            lines = lines.combine_chunks()
        outs, wf = kernel(lines)
        return pa.StructArray.from_arrays(outs + [wf], names=names)

    # The parse IS deterministic; the marker is an optimizer fence.
    # Without it, predicate pushdown substitutes the UDF expression into
    # filters referencing the parsed struct, and the planner then emits
    # TWO ArrowEvalPython nodes — the whole parse runs twice on
    # filter+project queries (measured). The cost: upstream predicates
    # no longer push below the parse projection, which never matters
    # here (the pipeline filters on parse OUTPUT; source-level pruning
    # happens before explode_lines).
    return parse.asNondeterministic()


def parse_lines_arrow(
    df,
    spec: FormatSpec,
    line_col: str = "raw_line",
    out_col: str = "parsed",
    drop_cols: Optional[Iterable[str]] = None,
    byte_mode: bool = False,
):
    """Attach the parsed struct ``out_col`` (one scalar Arrow UDF over
    ``line_col``; every passthrough column stays JVM-side).

    ``drop_cols`` (e.g. ``["raw_line"]`` when nothing downstream reads
    the raw text) trims the output — at 10^12 rows the raw-line bytes
    dominate transfer. ``byte_mode=True`` selects the reference's exact
    BYTE semantics (NCHAR counts bytes; see the module docstring's
    Unicode contract) — a no-op for specs where ``byte_sensitive()`` is
    False."""
    from pyspark.sql import functions as F

    out = df.withColumn(out_col, _parse_udf(spec, byte_mode)(F.col(line_col)))
    drop = [c for c in (drop_cols or ()) if c in df.columns]
    return out.drop(*drop) if drop else out


def parse_lines(
    df,
    spec: FormatSpec,
    line_col: str = "raw_line",
    out_col: str = "parsed",
    with_matched_format: bool = True,
    byte_mode: bool = False,
):
    """:func:`parse_lines_arrow` plus the ``matched_format`` tag used by
    the per-format aggregate counts (the spec's name on well-formed
    rows, null elsewhere)."""
    from pyspark.sql import functions as F

    out = parse_lines_arrow(
        df, spec, line_col=line_col, out_col=out_col, byte_mode=byte_mode
    )
    if with_matched_format:
        out = out.withColumn(
            "matched_format",
            F.when(F.col(f"{out_col}.well_formed"), F.lit(spec.name)),
        )
    return out


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
    ``parsed_{spec.name}`` per spec (well_formed=True only on rows that
    spec won; fields null elsewhere) + ``matched_format`` (winning spec
    name, null when no spec matches, e.g. on a NULL line).

    Scale shape: ONE scalar Arrow UDF over ``line_col``, like
    :func:`parse_lines_arrow` — only the line column crosses into Python
    and one struct (per-spec structs plus ``matched_format``) comes
    back, expanded JVM-side; passthrough columns never enter Python.
    Spec k's kernel runs only on the rows specs 0..k-1 rejected, so the
    common case (spec 0 matches ~everything) costs the same as a
    single-spec parse plus a cheap scatter.
    """
    import numpy as np
    import pyarrow.compute as pc
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    specs = list(specs)
    if not specs:
        raise ValueError("parse_lines_multi needs at least one spec")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"spec names must be unique, got {names}")
    kernels = [_kernel(s, byte_mode=byte_mode) for s in specs]
    schemas = [s.spark_schema() for s in specs]
    out_names = [f"parsed_{n}" for n in names] + ["matched_format"]
    out_type = T.StructType([
        T.StructField(name, t)
        for name, t in zip(out_names, schemas + [T.StringType()])
    ])

    @F.arrow_udf(out_type)
    def cascade(lines: pa.Array) -> pa.Array:
        if isinstance(lines, pa.ChunkedArray):
            lines = lines.combine_chunks()
        n = len(lines)
        remaining = np.ones(n, dtype=bool)
        matched = np.full(n, None, dtype=object)
        structs = []
        for spec, kernel, schema in zip(specs, kernels, schemas):
            idx = np.flatnonzero(remaining)
            outs, wf = kernel(lines.take(pa.array(idx)))
            win = idx[wf.to_numpy(zero_copy_only=False)]
            won = np.zeros(n, dtype=bool)
            won[win] = True
            remaining[win] = False
            matched[win] = spec.name
            won = pa.array(won)
            cols = [
                pc.replace_with_mask(pa.nulls(n, o.type), won, o.filter(wf))
                for o in outs
            ]
            structs.append(pa.StructArray.from_arrays(
                cols + [won], names=schema.fieldNames()
            ))
        return pa.StructArray.from_arrays(
            structs + [pa.array(matched, type=pa.string())], names=out_names
        )

    # the same optimizer fence as _parse_udf: one ArrowEvalPython even
    # when filters and projections both read the cascade's output
    out = df.withColumn("__cascade", cascade.asNondeterministic()(F.col(line_col)))
    drop = set(drop_cols or ())
    kept = [c for c in df.columns if c not in drop]
    return out.select(
        *kept, *[F.col(f"__cascade.{c}").alias(c) for c in out_names]
    )
