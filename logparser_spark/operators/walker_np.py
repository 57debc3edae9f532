"""Vectorized (NumPy/Arrow) instruction walker.

The parse kernel for every row of a spec without a flat regex (DBL
fields, ambiguous shapes), and for the rows a flat regex rejects
(malformed lines, trailing-optional endings, zero-width whitespace,
walker-only atol quirks). It walks a whole batch at once, not row by
row like the pure-Python oracle (~80k rows/s/core):

- all lines are packed into one byte buffer with per-row [start, end);
- every instruction advances a per-row cursor array via
  ``np.searchsorted`` over precomputed character-class stop indexes;
- INT implements the FULL C ``atol`` semantics vectorized: skip
  C-whitespace, optional sign, digit run → value (sign applied), while
  the cursor advances only over digits at the original position — the
  reference's quirk (parsing_basics.cpp:7-13) with zero per-row Python;
- STR captures are materialized as Arrow StringArrays straight from
  (start, stop) offset arrays with one ragged gather — no Python string
  objects;
- DBL takes the oracle's cursor span (a digit run with at most one
  ``.``) and converts every gathered span with ONE Arrow ``float64``
  cast, which rounds exactly like ``strtod``. A row goes to the oracle
  only where ``strtod`` could read outside that span: a cursor byte
  that starts a number without being ``[0-9.]`` (whitespace, sign,
  ``inf``/``nan``), or an ``[eExXpP]`` right after the span;
- remaining bail-outs to the byte-exact Python oracle: >18-digit INT
  runs (atol overflow territory), non-ASCII text in codepoint mode.

Differentially fuzz-tested against the oracle in tests/test_walker_np.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions.formats import (
    C_WHITESPACE,
    WS_NO_NEWLINE,
    FieldType,
    FormatSpec,
    StrStop,
)
from ..functions.oracle import parse_line as oracle_parse_line
from ..functions.oracle import parse_line_bytes as oracle_parse_line_bytes

_WS_SET = np.frombuffer(WS_NO_NEWLINE.encode("latin-1"), dtype=np.uint8)
_CWS_SET = np.frombuffer(C_WHITESPACE.encode("latin-1"), dtype=np.uint8)
_DIGITS = np.frombuffer(b"0123456789", dtype=np.uint8)
_MAX_INT_DIGITS = 18
_PLUS, _MINUS, _ZERO, _DOT = ord("+"), ord("-"), ord("0"), ord(".")


def _lut(chars: bytes) -> np.ndarray:
    lut = np.zeros(256, dtype=bool)
    lut[np.frombuffer(chars, dtype=np.uint8)] = True
    return lut


# DBL: cursor bytes where strtod starts a number the cursor span does not
# cover, and bytes after the span that strtod may read on (exponent, hex)
_STRTOD_LEAD = _lut(C_WHITESPACE.encode("latin-1") + b"+-iInN")
_STRTOD_TAIL = _lut(b"eExXpP")


def _class_stops(buf: np.ndarray, member: np.ndarray) -> np.ndarray:
    """Sorted positions in ``buf`` whose byte is NOT in ``member`` — the
    stops for a run of ``member`` chars. 256-entry LUT, not np.isin
    (whose sort-based path is ~30x slower on multi-MB buffers)."""
    lut = np.zeros(256, dtype=bool)
    lut[member] = True
    return np.flatnonzero(~lut[buf])


def _run_end(stops: np.ndarray, cur: np.ndarray, end: np.ndarray):
    """First stop position >= cur, clamped per-row to ``end``."""
    if len(stops) == 0:
        return end.copy()
    idx = np.searchsorted(stops, cur, side="left")
    nxt = np.where(
        idx < len(stops),
        stops[np.minimum(idx, len(stops) - 1)],
        np.iinfo(np.int64).max,
    )
    return np.minimum(nxt, end)


def _gather_strings(buf: np.ndarray, start: np.ndarray, stop: np.ndarray,
                    valid: np.ndarray) -> pa.Array:
    """Arrow StringArray from per-row [start, stop) slices of ``buf``
    (invalid rows → null). One ragged gather, no Python strings."""
    lens = np.where(valid, np.maximum(stop - start, 0), 0).astype(np.int64)
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    if total:
        # cumsum-delta ragged gather (no arange/repeat allocations):
        # within a row indices step by 1; at each row boundary jump to
        # that row's start.
        nz = lens > 0
        row_first = start[nz]
        d = np.ones(total, dtype=np.int64)
        bounds = offsets[:-1][nz]  # first output slot of each row
        d[bounds] = row_first
        d[bounds[1:]] -= row_first[:-1] + lens[nz][:-1] - 1
        d[0] = row_first[0]
        idx = np.cumsum(d)
        data = buf[idx]
    else:
        data = np.empty(0, dtype=np.uint8)
    validity = pa.array(valid).buffers()[1]
    return pa.Array.from_buffers(
        pa.string(),
        len(lens),
        [validity, pa.py_buffer(offsets.tobytes()),
         pa.py_buffer(data.tobytes())],
        null_count=int((~valid).sum()),
    )


def _complement(member: np.ndarray) -> np.ndarray:
    all_bytes = np.arange(256, dtype=np.uint8)
    return np.setdiff1d(all_bytes, member)


def batch_walk_arrow(lines: pa.Array, spec: FormatSpec,
                     byte_mode: bool = False):
    """Walk an Arrow string batch. Returns (outs, wf): one pa.Array per
    output field (int64/float64/string) + a bool array, byte-exact vs
    the oracle.

    ``byte_mode``: the walker ALREADY advances over raw UTF-8 bytes —
    exactly the reference's ``char*`` semantics — so in byte mode
    multi-byte rows stay vectorized instead of bailing to the codepoint
    oracle; the only per-row work left is captures whose NCHAR boundary
    lands mid-codepoint (they need the U+FFFD replacement contract of
    ``oracle.parse_line_bytes``). In the default codepoint mode,
    multi-byte rows bail to the codepoint oracle as before."""
    n_rows = len(lines)
    out_fields = spec.output_fields()
    out_idx = {i: k for k, (i, _) in enumerate(out_fields)}

    # zero-copy: walk the Arrow string array's own offset/data buffers.
    # UTF-8 multi-byte rows bail to the oracle (their NCHAR counts are
    # codepoint-based in the oracle contract, byte-based here).
    if isinstance(lines, pa.ChunkedArray):
        lines = lines.combine_chunks()
    arr_off = lines.offset
    offsets = np.frombuffer(lines.buffers()[1], dtype=np.int32)[
        arr_off : arr_off + n_rows + 1
    ].astype(np.int64)
    databuf = lines.buffers()[2]
    buf = (
        np.frombuffer(databuf, dtype=np.uint8)
        if databuf is not None
        else np.empty(0, dtype=np.uint8)
    )
    starts = offsets[:-1].copy()
    ends = offsets[1:].copy()

    null_row = np.zeros(n_rows, dtype=bool)
    if lines.null_count:
        null_row = np.asarray(lines.is_null())
        starts[null_row] = 0
        ends[null_row] = 0

    bail = np.zeros(n_rows, dtype=bool)
    if not byte_mode:
        # codepoint contract: the walker counts BYTES, so multi-byte
        # rows go to the codepoint oracle; in byte_mode they stay here
        hi = np.flatnonzero(buf >= 0x80)
        if len(hi):
            cnt = np.searchsorted(hi, ends) - np.searchsorted(hi, starts)
            bail = (cnt > 0) & ~null_row

    cur = starts.copy()
    dead = bail | null_row
    failed = dead.copy()

    stop_cache: dict = {}

    def stops_for(key, member: np.ndarray) -> np.ndarray:
        if key not in stop_cache:
            stop_cache[key] = _class_stops(buf, member)
        return stop_cache[key]

    num_vals: dict[int, np.ndarray] = {}  # int64 (INT) / float64 (DBL)
    num_valid: dict[int, np.ndarray] = {}
    str_start: dict[int, np.ndarray] = {}
    str_stop: dict[int, np.ndarray] = {}
    str_valid: dict[int, np.ndarray] = {}
    chr_valid: dict[int, np.ndarray] = {}
    date_days: dict[int, np.ndarray] = {}
    date_valid: dict[int, np.ndarray] = {}

    safe_hi = max(len(buf) - 1, 0)

    for i, f in enumerate(spec.fields):
        live = ~failed & (cur < ends)
        if not live.any():
            break
        rows = np.flatnonzero(live)
        c = cur[rows]
        e = ends[rows]

        if f.ftype == FieldType.INT:
            # full vectorized atol: skip C-ws, optional sign, digit run
            ws_end = _run_end(stops_for("cws", _CWS_SET), c, e)
            sgn_at = np.where(
                ws_end < e, buf[np.minimum(ws_end, safe_hi)], 0
            )
            has_sign = ((sgn_at == _PLUS) | (sgn_at == _MINUS)).astype(
                np.int64
            )
            dstart = ws_end + has_sign
            drun = _run_end(stops_for("digit", _DIGITS), dstart, e)
            dlen = drun - dstart
            too_long = dlen > _MAX_INT_DIGITS
            if too_long.any():
                idxs = rows[too_long]
                bail[idxs] = True
                failed[idxs] = True
            okm = ~too_long
            okr = rows[okm]
            ds, dl = dstart[okm], dlen[okm]
            v = np.zeros(len(okr), dtype=np.int64)
            maxl = int(dl.max()) if len(dl) else 0
            for off in range(maxl):
                m = dl > off
                v[m] = v[m] * 10 + (buf[ds[m] + off] - 48)
            v = np.where(sgn_at[okm] == _MINUS, -v, v)
            # fail iff value == 0 and the char AT THE CURSOR is not '0'
            at_cur = buf[np.minimum(c[okm], safe_hi)]
            fail_zero = (v == 0) & (at_cur != _ZERO)
            failed[okr[fail_zero]] = True
            keep = okr[~fail_zero]
            k = out_idx[i]
            if k not in num_vals:
                num_vals[k] = np.zeros(n_rows, dtype=np.int64)
                num_valid[k] = np.zeros(n_rows, dtype=bool)
            num_vals[k][keep] = v[~fail_zero]
            num_valid[k][keep] = True
            # cursor advances only over digits AT the original position
            adv = _run_end(stops_for("digit", _DIGITS), c[okm], e[okm])
            cur[keep] = adv[~fail_zero]
        elif f.ftype == FieldType.DBL:
            # cursor span: digits, at most one '.', digits (oracle rule)
            digit_stops = stops_for("digit", _DIGITS)
            d1 = _run_end(digit_stops, c, e)
            dot = (d1 < e) & (buf[np.minimum(d1, safe_hi)] == _DOT)
            span_end = np.where(
                dot, _run_end(digit_stops, d1 + 1, e), d1
            )
            at_cur = buf[np.minimum(c, safe_hi)]
            after = np.where(
                span_end < e, buf[np.minimum(span_end, safe_hi)], 0
            )
            odd = _STRTOD_LEAD[at_cur] | _STRTOD_TAIL[after]
            bail[rows[odd]] = True
            failed[rows[odd]] = True
            # no digit in the span: strtod reads nothing, value 0.0, and
            # the cursor byte is not '0', so the zero rule fails the row
            has_digit = (d1 > c) | (span_end > d1 + 1)
            ok = ~odd & has_digit
            failed[rows[~odd & ~has_digit]] = True
            okr = rows[ok]
            v = pc.cast(
                _gather_strings(buf, c[ok], span_end[ok],
                                np.ones(len(okr), dtype=bool)),
                pa.float64(),
            ).to_numpy(zero_copy_only=False)
            fail_zero = (v == 0.0) & (at_cur[ok] != _ZERO)
            failed[okr[fail_zero]] = True
            keep = okr[~fail_zero]
            k = out_idx[i]
            if k not in num_vals:
                num_vals[k] = np.zeros(n_rows, dtype=np.float64)
                num_valid[k] = np.zeros(n_rows, dtype=bool)
            num_vals[k][keep] = v[~fail_zero]
            num_valid[k][keep] = True
            cur[keep] = span_end[ok][~fail_zero]
        elif f.ftype == FieldType.DATE:
            # exact 10-byte ISO shape at the cursor, fully vectorized:
            # digits at relative offsets 0-3,5,6,8,9; '-' at 4 and 7;
            # then calendar validity via the shared civil-date math
            from ..functions.dates import days_from_civil, is_valid_date

            fits = c + 10 <= e
            ok = fits.copy()
            for off in (0, 1, 2, 3, 5, 6, 8, 9):
                b = buf[np.minimum(c + off, safe_hi)]
                ok &= (b >= 0x30) & (b <= 0x39)
            for off in (4, 7):
                b = buf[np.minimum(c + off, safe_hi)]
                ok &= b == 0x2D
            ok &= fits

            def num(lo, hi):
                v = np.zeros(len(c), dtype=np.int64)
                for off in range(lo, hi):
                    v = v * 10 + (
                        buf[np.minimum(c + off, safe_hi)].astype(np.int64)
                        - 48
                    )
                return v

            y, mo, dd = num(0, 4), num(5, 7), num(8, 10)
            ok &= is_valid_date(y, mo, dd)
            failed[rows[~ok]] = True
            keep = rows[ok]
            k = out_idx[i]
            if k not in date_days:
                date_days[k] = np.zeros(n_rows, dtype=np.int64)
                date_valid[k] = np.zeros(n_rows, dtype=bool)
            if len(keep):
                date_days[k][keep] = days_from_civil(
                    y[ok], mo[ok], dd[ok]
                )
                date_valid[k][keep] = True
                cur[keep] += 10
        elif f.ftype == FieldType.CHR:
            t = ord(f.target) if f.target else 0
            at = buf[np.minimum(c, safe_hi)]
            hit = at == t
            failed[rows[~hit]] = True
            hit_rows = rows[hit]
            k = out_idx[i]
            if k not in chr_valid:
                chr_valid[k] = np.zeros(n_rows, dtype=bool)
            chr_valid[k][hit_rows] = True
            if len(hit_rows):
                if f.repeat:
                    member = np.array([t], dtype=np.uint8)
                    run = _run_end(
                        stops_for(("chr", t), member), cur[hit_rows],
                        ends[hit_rows],
                    )
                    cur[hit_rows] = run
                else:
                    cur[hit_rows] += 1
        elif f.ftype == FieldType.STR:
            if f.stop == StrStop.NCHAR:
                stop = np.minimum(c + f.nchar, e)
                newcur = c + f.nchar  # overshoot -> exact-landing fails
            elif f.stop == StrStop.ANY_WS:
                stop = _run_end(
                    stops_for("not_cws", _complement(_CWS_SET)), c, e
                )
                newcur = stop
            else:  # DELIM
                if f.delim == "\0":
                    stop = e.copy()
                else:
                    d = ord(f.delim)
                    member = _complement(np.array([d], dtype=np.uint8))
                    stop = _run_end(stops_for(("nd", d), member), c, e)
                newcur = stop
            k = out_idx[i]
            if k not in str_start:
                str_start[k] = np.zeros(n_rows, dtype=np.int64)
                str_stop[k] = np.zeros(n_rows, dtype=np.int64)
                str_valid[k] = np.zeros(n_rows, dtype=bool)
            str_start[k][rows] = c
            str_stop[k][rows] = stop
            str_valid[k][rows] = True
            cur[rows] = newcur
        elif f.ftype == FieldType.WS:
            # member set = the WS chars themselves (a run OF whitespace)
            run = _run_end(stops_for("ws", _WS_SET), c, e)
            cur[rows] = run

    landed = ~failed & (cur == ends) & ~dead

    if byte_mode and len(buf):
        # a landed NCHAR capture whose stop byte is a UTF-8 continuation
        # byte split a multi-byte sequence: route the row to the byte
        # oracle so the capture carries the documented U+FFFD stand-in
        # (an Arrow string column cannot hold the raw split bytes).
        for i, f in enumerate(spec.fields):
            if (f.ftype != FieldType.STR or f.stop != StrStop.NCHAR
                    or f.nchar <= 0):
                continue
            k = out_idx[i]
            if k not in str_stop:
                continue
            sp = str_stop[k]
            inside = str_valid[k] & landed & (sp < ends)
            if inside.any():
                pos = np.minimum(sp, len(buf) - 1)
                cont = np.zeros(n_rows, dtype=bool)
                cont[inside] = (buf[pos[inside]] & 0xC0) == 0x80
                bail |= cont

    # resolve bail rows with the byte-exact oracle (rare by construction)
    oracle_fn = oracle_parse_line_bytes if byte_mode else oracle_parse_line
    oracle_vals: dict[int, list] = {}
    bail_rows = np.flatnonzero(bail)
    wf = landed.copy()
    if len(bail_rows):
        # a bail row's outputs come SOLELY from the oracle: clearing
        # landed nulls its vectorized values (including any split NCHAR
        # capture, which would otherwise materialize invalid UTF-8)
        # before the oracle's replacements land
        landed[bail_rows] = False
        bail_texts = lines.take(pa.array(bail_rows)).to_pylist()
        for r, text in zip(bail_rows, bail_texts):
            vals, ok = oracle_fn(text, spec)
            wf[r] = bool(ok)
            oracle_vals[r] = vals

    outs = []
    for k, (i, f) in enumerate(out_fields):
        if f.ftype in (FieldType.INT, FieldType.DBL):
            is_int = f.ftype == FieldType.INT
            vals = num_vals.get(k)
            if vals is None:
                vals = np.zeros(
                    n_rows, dtype=np.int64 if is_int else np.float64
                )
                valid = np.zeros(n_rows, dtype=bool)
            else:
                valid = num_valid[k]
            valid = valid & landed
            for r in bail_rows:
                ov = oracle_vals[r][k]
                if ov is not None:
                    # oracle _atol saturates at int64 bounds, so an INT
                    # assignment never overflows
                    vals[r] = ov
                    valid[r] = True
            outs.append(pa.array(
                vals, type=pa.int64() if is_int else pa.float64(),
                mask=~valid,
            ))
        elif f.ftype == FieldType.DATE:
            from ..functions.dates import days_from_civil as _dfc

            days = date_days.get(k)
            valid = date_valid.get(k)
            if days is None:
                days = np.zeros(n_rows, dtype=np.int64)
                valid = np.zeros(n_rows, dtype=bool)
            valid = valid & landed
            dvals = days.astype(np.int32)
            for r in bail_rows:
                ov = oracle_vals[r][k]
                if ov is not None:  # datetime.date from the oracle
                    dvals[r] = _dfc(ov.year, ov.month, ov.day)
                    valid[r] = True
            outs.append(pa.array(dvals, type=pa.date32(), mask=~valid))
        elif f.ftype == FieldType.CHR:
            valid = chr_valid.get(k, np.zeros(n_rows, dtype=bool)) & landed
            arr = pc.if_else(
                pa.array(valid), pa.scalar(f.target, pa.string()),
                pa.scalar(None, pa.string()),
            )
            if len(bail_rows):
                mask = np.zeros(n_rows, dtype=bool)
                mask[bail_rows] = True
                repl = pa.array(
                    [oracle_vals[r][k] for r in bail_rows], pa.string()
                )
                arr = pc.replace_with_mask(arr, pa.array(mask), repl)
            outs.append(arr)
        else:  # STR
            valid = str_valid.get(k, np.zeros(n_rows, dtype=bool)) & landed
            ss = str_start.get(k, np.zeros(n_rows, dtype=np.int64))
            sp = str_stop.get(k, np.zeros(n_rows, dtype=np.int64))
            sp = np.minimum(sp, len(buf))  # clamp NCHAR overshoot
            arr = _gather_strings(buf, ss, sp, valid)
            if len(bail_rows):
                mask = np.zeros(n_rows, dtype=bool)
                mask[bail_rows] = True
                repl = pa.array(
                    [oracle_vals[r][k] for r in bail_rows], pa.string()
                )
                arr = pc.replace_with_mask(arr, pa.array(mask), repl)
            outs.append(arr)

    return outs, pa.array(wf)
