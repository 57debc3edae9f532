"""Real baseline JPEG (ITU T.81) decode — pure Python/NumPy, no
imaging library: marker walk, DQT/DHT/SOF0/SOS/DRI parsing, canonical
Huffman decode of the entropy-coded scan (DC categories, AC
run/size + ZRL + EOB, byte unstuffing, restart markers), dequantize,
2-D IDCT, level shift, MCU assembly and crop.

Scope: baseline sequential, 8-bit — grayscale, 3-component 4:4:4
interleaved (per-component Huffman/quant/DC-predictors), and
4:2:0 chroma-subsampled (2×2/1×1/1×1 — the dominant real-crawl
layout; MCU = four Y blocks + Cb + Cr, chroma upsampled by 2×2
replication as the documented contract) — plus PROGRESSIVE (SOF2)
frames with spectral selection and successive approximation on DC
(interleaved point-transformed DC scans + refinement bits,
single-component EOBn-run-coded AC band scans; coefficients
accumulate across scans, one IDCT at EOI) INCLUDING AC refinement
scans (the T.81 G.1.2.3 correction-bit algorithm: appended bits for
every significant coefficient passed, eager ZRL skip regions, EOB
runs carrying their blocks' corrections). Arithmetic coding and
subsampled progressive layouts raise ``NotImplementedError``.
Huffman tables are read FROM THE STREAM (as the spec requires —
real-world JPEGs carry optimized tables), never assumed.

The companion encoders (``encode_jpeg``, ``encode_jpeg_420``,
``encode_jpeg_progressive``) emit
spec-valid streams with their own canonical tables; constant blocks
quantize to a DC-only spectrum whose IDCT is exact integer, which is
what lets a test predict decoded pixels exactly while the
decoder runs the full general path (Huffman → dequant → IDCT). AC
coefficients, ZRL runs and restart markers are exercised by hand-built
streams in tests/test_jpeg.py.

No package module calls this codec; its pixel-decode Spark stage and
driver query were removed with the rest of the media stack, and only
tests/test_jpeg.py exercises it.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Tuple

import numpy as np


def zigzag_index() -> np.ndarray:
    """Natural (row, col) position of each zigzag-order index: the
    standard anti-diagonal walk, generated (not transcribed)."""
    out = []
    for s in range(15):
        rows = range(s, -1, -1) if s % 2 == 0 else range(0, s + 1)
        for r in rows:
            c = s - r
            if r < 8 and c < 8:
                out.append((r, c))
    return np.array(out)  # shape (64, 2)


_ZIG = zigzag_index()

# IDCT basis: B[u, x] = C(u)/2 * cos((2x+1) u pi / 16)
_BASIS = np.array([
    [
        (np.sqrt(0.5) if u == 0 else 1.0) / 2.0
        * np.cos((2 * x + 1) * u * np.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
])


def idct_2d(block: np.ndarray) -> np.ndarray:
    """8×8 inverse DCT (T.81 A.3.3). DC-only blocks come out exactly
    constant = S00/8."""
    return _BASIS.T @ block @ _BASIS


class _BitReader:
    """MSB-first reader over entropy-coded data with FF00 unstuffing;
    stops at any non-stuffing marker (RSTn handled by the caller)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self._d = data
        self._pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        if self._pos >= len(self._d):
            raise ValueError("jpeg: entropy data truncated")
        b = self._d[self._pos]
        if b == 0xFF:
            nxt = self._d[self._pos + 1] if self._pos + 1 < len(self._d) \
                else None
            if nxt == 0x00:
                self._pos += 2          # stuffed FF
            else:
                raise ValueError("jpeg: marker inside entropy segment")
        else:
            self._pos += 1
        self._acc = (self._acc << 8) | b
        self._n += 8

    def read_bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int:
        """Drop padding bits; return the byte offset of the next
        marker (caller checks it's RSTn/EOI). A final padded byte of
        0xFF is stuffed as FF 00 by encoders — skip such pairs."""
        self._acc = 0
        self._n = 0
        p = self._pos
        while p + 1 < len(self._d) and self._d[p] == 0xFF \
                and self._d[p + 1] == 0x00:
            p += 2
        self._pos = p
        return p


def build_huffman(bits: List[int], huffval: List[int]) -> Dict:
    """DHT (BITS, HUFFVAL) → {(length, code): symbol}, the canonical
    code assignment of T.81 C.2."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _decode_symbol(r: _BitReader, table: Dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid huffman code")


def _extend(v: int, size: int) -> int:
    """Sign-extend a SIZE-bit JPEG magnitude value (T.81 F.12)."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(b: bytes) -> np.ndarray:
    """Baseline JPEG → uint8 sample array: (H, W) for a
    single-component (grayscale) scan, (H, W, 3) DECODED COMPONENT
    samples (YCbCr as stored — color-space conversion is a separate
    stage) for 3-component scans, 4:4:4 interleaved or 4:2:0
    chroma-subsampled (replication-upsampled). Raises on anything
    outside baseline scope."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("jpeg: bad SOI")
    qtables: Dict[int, np.ndarray] = {}
    htables: Dict[Tuple[int, int], Dict] = {}
    width = height = None
    sof_comps: List[Tuple[int, int]] = []  # (comp_id, tq) in SOF order
    restart_interval = 0
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("jpeg: lost marker sync")
        marker = b[i + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack(">H", b[i + 2:i + 4])[0]
        seg = b[i + 4:i + 2 + seglen]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq != 0:
                    raise ValueError("jpeg: 16-bit qtable not baseline")
                zz = np.frombuffer(seg[j + 1:j + 65], dtype=np.uint8)
                nat = np.zeros((8, 8), dtype=np.int32)
                nat[_ZIG[:, 0], _ZIG[:, 1]] = zz
                qtables[tq] = nat
                j += 65
        elif marker == 0xC4:  # DHT — possibly several tables
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                bits = list(seg[j + 1:j + 17])
                n = sum(bits)
                huffval = list(seg[j + 17:j + 17 + n])
                htables[(tc, th)] = build_huffman(bits, huffval)
                j += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec = seg[0]
            height, width = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if prec != 8:
                raise ValueError("jpeg: only 8-bit baseline supported")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"jpeg: {ncomp}-component scan (CMYK?) unsupported"
                )
            sof_comps = []
            for k in range(ncomp):
                cid, samp, tq = seg[6 + 3 * k:9 + 3 * k]
                sof_comps.append((cid, samp, tq))
            samps = [s for _, s, _ in sof_comps]
            if samps != [0x11] * ncomp and samps != [0x22, 0x11, 0x11]:
                raise NotImplementedError(
                    "jpeg: sampling layout "
                    f"{[hex(s) for s in samps]} unsupported — "
                    "4:4:4, grayscale, or 4:2:0 (2x2,1x1,1x1) only"
                )
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "jpeg: non-baseline (progressive/arithmetic) scan"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if width is None or not sof_comps:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0]
            if ns != len(sof_comps):
                raise NotImplementedError(
                    "jpeg: non-interleaved multi-scan file"
                )
            by_id = {cid: tq for cid, _, tq in sof_comps}
            comps = []
            for k in range(ns):
                cs = seg[1 + 2 * k]
                td, ta = seg[2 + 2 * k] >> 4, seg[2 + 2 * k] & 0xF
                comps.append((
                    htables[(0, td)], htables[(1, ta)],
                    qtables[by_id[cs]],
                ))
            scan_start = i + 2 + seglen
            if [s for _, s, _ in sof_comps] == [0x22, 0x11, 0x11]:
                return _decode_scan_420(
                    b, scan_start, width, height, comps,
                    restart_interval,
                )
            return _decode_scan(
                b, scan_start, width, height, comps, restart_interval,
            )
        i += 2 + seglen
    raise ValueError("jpeg: no SOS marker")


def decode_jpeg_gray(b: bytes) -> np.ndarray:
    """Single-component entry point kept for callers that require
    grayscale; rejects color streams."""
    out = decode_jpeg(b)
    if out.ndim != 2:
        raise ValueError("jpeg: expected a grayscale scan")
    return out


def _decode_block(r, dc_t, ac_t, q, pred: int):
    """One 8×8 block off the bitstream → (spatial block, new DC
    predictor)."""
    zz = np.zeros(64, dtype=np.int32)
    size = _decode_symbol(r, dc_t)
    pred += _extend(r.read_bits(size), size)
    zz[0] = pred
    k = 1
    while k < 64:
        sym = _decode_symbol(r, ac_t)
        if sym == 0x00:   # EOB
            break
        if sym == 0xF0:   # ZRL: 16 zeros
            k += 16
            continue
        run, sz = sym >> 4, sym & 0xF
        k += run
        if k > 63 or sz == 0:
            raise ValueError("jpeg: AC run overflow")
        zz[k] = _extend(r.read_bits(sz), sz)
        k += 1
    coeffs = np.zeros((8, 8), dtype=np.int32)
    coeffs[_ZIG[:, 0], _ZIG[:, 1]] = zz
    return idct_2d((coeffs * q).astype(np.float64)) + 128.0, pred


def _decode_scan(b, pos, width, height, comps,
                 restart_interval) -> np.ndarray:
    """Interleaved baseline scan: per MCU one 8×8 block per component
    (4:4:4), each component carrying its own Huffman tables, quant
    table and DC predictor; RSTn resets every predictor."""
    nc = len(comps)
    mcux = (width + 7) // 8
    mcuy = (height + 7) // 8
    img = np.zeros((mcuy * 8, mcux * 8, nc), dtype=np.float64)
    r = _BitReader(b, pos)
    preds = [0] * nc
    n_mcu = 0
    for by in range(mcuy):
        for bx in range(mcux):
            if restart_interval and n_mcu and \
                    n_mcu % restart_interval == 0:
                p = r.align_to_marker()
                if not (b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7):
                    raise ValueError("jpeg: expected restart marker")
                r = _BitReader(b, p + 2)
                preds = [0] * nc
            for ci, (dc_t, ac_t, q) in enumerate(comps):
                block, preds[ci] = _decode_block(
                    r, dc_t, ac_t, q, preds[ci]
                )
                img[by * 8:(by + 1) * 8,
                    bx * 8:(bx + 1) * 8, ci] = block
            n_mcu += 1
    out = np.clip(np.round(img), 0, 255).astype(np.uint8)[
        :height, :width
    ]
    return out[:, :, 0] if nc == 1 else out


# ── encoder ─────────────────────────────────────────────────────────

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, v: int, k: int) -> None:
        for i in range(k - 1, -1, -1):
            self._acc = (self._acc << 1) | ((v >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self._acc = 0
                self._n = 0

    def flush(self) -> None:
        while self._n:
            self.write(1, 1)  # pad with 1-bits per spec


def _canonical_table(symbols: List[int]):
    """All-same-length canonical Huffman over ``symbols`` (length L
    chosen so the all-ones code stays unused, as T.81 requires):
    returns (bits, huffval, {symbol: (length, code)})."""
    n = len(symbols)
    length = 1
    while (1 << length) - 1 < n:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    enc = {s: (length, i) for i, s in enumerate(symbols)}
    return bits, list(symbols), enc


def _size_cat(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _magnitude(v: int, size: int) -> int:
    return v if v >= 0 else (v - 1) & ((1 << size) - 1)


def encode_jpeg(pixels: np.ndarray, restart_interval: int = 0) -> bytes:
    """Baseline JPEG encoder, grayscale (H, W) or 3-component 4:4:4
    interleaved (H, W, 3) component samples (quant table all-ones →
    the flat-block spectrum survives exactly): FDCT per 8×8 block
    (edge blocks edge-padded), one canonical same-length DC/AC Huffman
    table pair shared by every component (spec-legal) written to DHT,
    per-component DC predictors, optional restart markers.
    Deterministic bytes for deterministic input."""
    px = np.asarray(pixels, dtype=np.float64)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise ValueError("jpeg: expected (H, W) or (H, W, 3) samples")
    h, w, nc = px.shape
    mcux, mcuy = (w + 7) // 8, (h + 7) // 8
    padded = np.pad(px, ((0, mcuy * 8 - h), (0, mcux * 8 - w), (0, 0)),
                    mode="edge")

    # entropy symbols needed, walking MCUs in scan order (FDCT with
    # the inverse of the _BASIS orthonormal pair, quantizer = 1)
    dc_syms = set()
    ac_syms = {0x00}
    preds = [0] * nc
    per_unit = []  # one (diff, acs, eob) per data unit in scan order
    n_mcu = 0
    for by in range(mcuy):
        for bx in range(mcux):
            if restart_interval and n_mcu and \
                    n_mcu % restart_interval == 0:
                preds = [0] * nc
            for ci in range(nc):
                blk = padded[by * 8:(by + 1) * 8,
                             bx * 8:(bx + 1) * 8, ci] - 128.0
                s = np.round(_BASIS @ blk @ _BASIS.T).astype(np.int32)
                zz = s[_ZIG[:, 0], _ZIG[:, 1]]
                diff = int(zz[0]) - preds[ci]
                preds[ci] = int(zz[0])
                dc_syms.add(_size_cat(diff))
                acs = []
                run = 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        acs.append((0xF0, 0, 0))
                        ac_syms.add(0xF0)
                        run -= 16
                    sz = _size_cat(v)
                    acs.append(((run << 4) | sz, v, sz))
                    ac_syms.add((run << 4) | sz)
                    run = 0
                per_unit.append((diff, acs, run > 0))
            n_mcu += 1

    dc_bits, dc_vals, dc_enc = _canonical_table(sorted(dc_syms))
    ac_bits, ac_vals, ac_enc = _canonical_table(sorted(ac_syms))

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) \
            + payload

    zz_q = np.zeros(64, dtype=np.uint8)
    zz_q[:] = 1
    sof = struct.pack(">BHHB", 8, h, w, nc) + b"".join(
        bytes([ci + 1, 0x11, 0]) for ci in range(nc)
    )
    sos = bytes([nc]) + b"".join(
        bytes([ci + 1, 0x00]) for ci in range(nc)
    ) + bytes([0, 63, 0])
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + zz_q.tobytes())
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))
    out += seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, sos)

    wtr = _BitWriter()
    rst = 0
    for u, (diff, acs, eob) in enumerate(per_unit):
        n_mcu = u // nc
        if restart_interval and n_mcu and u % (restart_interval * nc) \
                == 0:
            wtr.flush()
            wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
        sz = _size_cat(diff)
        ln, code = dc_enc[sz]
        wtr.write(code, ln)
        if sz:
            wtr.write(_magnitude(diff, sz), sz)
        for sym, v, vsz in acs:
            ln, code = ac_enc[sym]
            wtr.write(code, ln)
            if vsz:
                wtr.write(_magnitude(v, vsz), vsz)
        if eob:
            ln, code = ac_enc[0x00]
            wtr.write(code, ln)
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_gray(pixels: np.ndarray,
                     restart_interval: int = 0) -> bytes:
    """Grayscale entry point (kept for existing callers)."""
    pixels = np.asarray(pixels)
    if pixels.ndim != 2:
        raise ValueError("jpeg: encode_jpeg_gray expects (H, W)")
    return encode_jpeg(pixels, restart_interval=restart_interval)


def _decode_scan_420(b, pos, width, height, comps,
                     restart_interval) -> np.ndarray:
    """Interleaved baseline 4:2:0 scan: MCU = 16×16 luma pixels as
    four Y blocks (row-major 2×2) followed by one Cb and one Cr block
    covering the same area at half resolution. Chroma planes are
    upsampled by 2×2 REPLICATION (T.81 leaves the filter to the
    decoder; replication is this codec's documented deterministic
    contract). RSTn resets all three predictors; the restart interval
    counts MCUs."""
    (dc_y, ac_y, q_y), (dc_cb, ac_cb, q_cb), (dc_cr, ac_cr, q_cr) = comps
    mcux = (width + 15) // 16
    mcuy = (height + 15) // 16
    ypl = np.zeros((mcuy * 16, mcux * 16), dtype=np.float64)
    cbpl = np.zeros((mcuy * 8, mcux * 8), dtype=np.float64)
    crpl = np.zeros((mcuy * 8, mcux * 8), dtype=np.float64)
    r = _BitReader(b, pos)
    py = pcb = pcr = 0
    n_mcu = 0
    for by in range(mcuy):
        for bx in range(mcux):
            if restart_interval and n_mcu and \
                    n_mcu % restart_interval == 0:
                p = r.align_to_marker()
                if not (b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7):
                    raise ValueError("jpeg: expected restart marker")
                r = _BitReader(b, p + 2)
                py = pcb = pcr = 0
            for sy in range(2):
                for sx in range(2):
                    blk, py = _decode_block(r, dc_y, ac_y, q_y, py)
                    y0 = by * 16 + sy * 8
                    x0 = bx * 16 + sx * 8
                    ypl[y0:y0 + 8, x0:x0 + 8] = blk
            blk, pcb = _decode_block(r, dc_cb, ac_cb, q_cb, pcb)
            cbpl[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = blk
            blk, pcr = _decode_block(r, dc_cr, ac_cr, q_cr, pcr)
            crpl[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = blk
            n_mcu += 1
    up = lambda p: p.repeat(2, axis=0).repeat(2, axis=1)
    out = np.stack([ypl, up(cbpl), up(crpl)], axis=2)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)[
        :height, :width
    ]


def encode_jpeg_420(pixels: np.ndarray,
                    restart_interval: int = 0) -> bytes:
    """Baseline 4:2:0 encoder over (H, W, 3) YCbCr samples: luma
    edge-padded to 16×16 MCUs; chroma downsampled by 2×2 FLOOR-MEAN
    (the inverse contract of the decoder's replication — exact on
    2×2-constant content), edge-padded to 8×8 per MCU. One shared
    canonical DC/AC Huffman table pair (spec-legal), per-component
    predictors, optional restart markers; quantizer = 1 everywhere so
    flat-block spectra survive exactly."""
    px = np.asarray(pixels, dtype=np.float64)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("jpeg: 4:2:0 needs (H, W, 3) samples")
    h, w, _ = px.shape
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    pad = np.pad(px, ((0, mcuy * 16 - h), (0, mcux * 16 - w), (0, 0)),
                 mode="edge")
    ypl = pad[:, :, 0]
    # 2x2 floor-mean downsample of each chroma plane
    def down(p):
        s = (p[0::2, 0::2] + p[0::2, 1::2]
             + p[1::2, 0::2] + p[1::2, 1::2])
        return np.floor(s / 4.0)

    cbpl = down(pad[:, :, 1])
    crpl = down(pad[:, :, 2])

    dc_syms = set()
    ac_syms = {0x00}
    preds = [0, 0, 0]
    per_unit = []
    n_mcu = 0

    def emit(plane, y0, x0, ci):
        blk = plane[y0:y0 + 8, x0:x0 + 8] - 128.0
        s = np.round(_BASIS @ blk @ _BASIS.T).astype(np.int32)
        zz = s[_ZIG[:, 0], _ZIG[:, 1]]
        diff = int(zz[0]) - preds[ci]
        preds[ci] = int(zz[0])
        dc_syms.add(_size_cat(diff))
        acs = []
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                acs.append((0xF0, 0, 0))
                ac_syms.add(0xF0)
                run -= 16
            sz = _size_cat(v)
            acs.append(((run << 4) | sz, v, sz))
            ac_syms.add((run << 4) | sz)
            run = 0
        per_unit.append((diff, acs, run > 0))

    for by in range(mcuy):
        for bx in range(mcux):
            if restart_interval and n_mcu and \
                    n_mcu % restart_interval == 0:
                preds[:] = [0, 0, 0]
            for sy in range(2):
                for sx in range(2):
                    emit(ypl, by * 16 + sy * 8, bx * 16 + sx * 8, 0)
            emit(cbpl, by * 8, bx * 8, 1)
            emit(crpl, by * 8, bx * 8, 2)
            n_mcu += 1

    dc_bits, dc_vals, dc_enc = _canonical_table(sorted(dc_syms))
    ac_bits, ac_vals, ac_enc = _canonical_table(sorted(ac_syms))

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) \
            + payload

    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))
    out += seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, sos)

    wtr = _BitWriter()
    rst = 0
    units_per_mcu = 6
    for u, (diff, acs, eob) in enumerate(per_unit):
        if restart_interval and u and \
                u % (restart_interval * units_per_mcu) == 0:
            wtr.flush()
            wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
        sz = _size_cat(diff)
        ln, code = dc_enc[sz]
        wtr.write(code, ln)
        if sz:
            wtr.write(_magnitude(diff, sz), sz)
        for sym, v, vsz in acs:
            ln, code = ac_enc[sym]
            wtr.write(code, ln)
            if vsz:
                wtr.write(_magnitude(v, vsz), vsz)
        if eob:
            ln, code = ac_enc[0x00]
            wtr.write(code, ln)
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


# ── progressive (SOF2): spectral selection + DC successive
#    approximation ─────────────────────────────────────────────────────


def _prog_dc_scan(b, pos, st, scan_comps, ah, al, ri):
    """Progressive DC scan over the interleaved MCU raster (all
    sampling 1×1 here, so MCU = one block per scan component).
    First pass (Ah=0): Huffman diffs shifted left by Al; refinement
    (Ah>0): one appended bit per block."""
    r = _BitReader(b, pos)
    preds = {ci: 0 for ci, _, _ in scan_comps}
    n_mcu = 0
    mcux, mcuy = st["mcux"], st["mcuy"]
    for by in range(mcuy):
        for bx in range(mcux):
            if ri and n_mcu and n_mcu % ri == 0:
                p = r.align_to_marker()
                if not (b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7):
                    raise ValueError("jpeg: expected restart marker")
                r = _BitReader(b, p + 2)
                preds = {ci: 0 for ci, _, _ in scan_comps}
            for ci, dc_t, _ in scan_comps:
                coef = st["coef"][ci][by][bx]
                if ah == 0:
                    size = _decode_symbol(r, dc_t)
                    preds[ci] += _extend(r.read_bits(size), size)
                    coef[0] = preds[ci] << al
                else:
                    if r.read_bit():
                        coef[0] |= 1 << al
            n_mcu += 1


def _prog_ac_first(b, pos, st, ci, ac_t, ss, se, al, ri):
    """Progressive AC first scan (Ah=0): single-component block
    raster, band Ss..Se, EOBn run codes, values shifted by Al."""
    r = _BitReader(b, pos)
    eobrun = 0
    n_blk = 0
    for by in range(st["mcuy"]):
        for bx in range(st["mcux"]):
            if ri and n_blk and n_blk % ri == 0:
                p = r.align_to_marker()
                if not (b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7):
                    raise ValueError("jpeg: expected restart marker")
                r = _BitReader(b, p + 2)
                eobrun = 0
            n_blk += 1
            coef = st["coef"][ci][by][bx]
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                sym = _decode_symbol(r, ac_t)
                rr, s = sym >> 4, sym & 0xF
                if s == 0:
                    if rr == 15:
                        k += 16          # ZRL
                        continue
                    eobrun = (1 << rr) + r.read_bits(rr) - 1
                    break
                k += rr
                if k > se:
                    raise ValueError("jpeg: AC band overflow")
                coef[k] = _extend(r.read_bits(s), s) << al
                k += 1


def _prog_ac_refine(b, pos, st, ci, ac_t, ss, se, al, ri):
    """Progressive AC refinement scan (Ah = Al+1 → Al): the
    correction-bit algorithm — newly-significant coefficients arrive
    as ±1<<Al after a run of ZERO-HISTORY positions, every nonzero
    coefficient passed over (and every one inside an EOB run) carries
    one appended correction bit (T.81 G.1.2.3)."""
    r = _BitReader(b, pos)
    p1 = 1 << al
    eobrun = 0
    n_blk = 0

    def correct(coef, k):
        if r.read_bit() and (abs(int(coef[k])) & p1) == 0:
            coef[k] += p1 if coef[k] > 0 else -p1

    for by in range(st["mcuy"]):
        for bx in range(st["mcux"]):
            if ri and n_blk and n_blk % ri == 0:
                p = r.align_to_marker()
                if not (b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7):
                    raise ValueError("jpeg: expected restart marker")
                r = _BitReader(b, p + 2)
                eobrun = 0
            n_blk += 1
            coef = st["coef"][ci][by][bx]
            k = ss
            if eobrun == 0:
                while k <= se:
                    sym = _decode_symbol(r, ac_t)
                    run, s = sym >> 4, sym & 0xF
                    if s:
                        if s != 1:
                            raise ValueError(
                                "jpeg: refinement size != 1"
                            )
                        val = p1 if r.read_bit() else -p1
                    else:
                        if run != 15:
                            eobrun = (1 << run) + r.read_bits(run)
                            break
                        val = 0  # ZRL: pass 16 zero-history slots
                    while k <= se:
                        if coef[k] != 0:
                            correct(coef, k)
                        else:
                            run -= 1
                            if run < 0:
                                break
                        k += 1
                    if val and k <= se:
                        coef[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if coef[k] != 0:
                        correct(coef, k)
                    k += 1
                eobrun -= 1


def decode_jpeg_progressive(b: bytes) -> np.ndarray:
    """Progressive (SOF2) JPEG → uint8 sample array, same output
    contract as :func:`decode_jpeg`. Supported scan scripts: spectral
    selection (interleaved DC scans, single-component AC band scans
    with EOBn run codes) plus SUCCESSIVE APPROXIMATION ON DC
    (point-transformed first pass + refinement bits). AC refinement
    scans (Ah>0 with Ss>0 — the correction-bit algorithm) and
    subsampled progressive layouts raise ``NotImplementedError``;
    1×1-sampled grayscale and 4:4:4 color are decoded fully.
    Coefficients accumulate across scans and the IDCT runs once at
    EOI — bit-identical to the baseline decode of the same spectrum,
    which is what the differential tests assert."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("jpeg: bad SOI")
    qtables: Dict[int, np.ndarray] = {}
    htables: Dict[Tuple[int, int], Dict] = {}
    width = height = None
    sof_comps: List[Tuple[int, int]] = []  # (comp_id, tq)
    restart_interval = 0
    st = None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("jpeg: lost marker sync")
        marker = b[i + 1]
        if marker == 0xD9:
            break
        seglen = struct.unpack(">H", b[i + 2:i + 4])[0]
        seg = b[i + 4:i + 2 + seglen]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq != 0:
                    raise ValueError("jpeg: 16-bit qtable not baseline")
                zz = np.frombuffer(seg[j + 1:j + 65], dtype=np.uint8)
                nat = np.zeros((8, 8), dtype=np.int32)
                nat[_ZIG[:, 0], _ZIG[:, 1]] = zz
                qtables[tq] = nat
                j += 65
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                bits = list(seg[j + 1:j + 17])
                n = sum(bits)
                htables[(tc, th)] = build_huffman(
                    bits, list(seg[j + 17:j + 17 + n])
                )
                j += 17 + n
        elif marker == 0xC2:  # SOF2 progressive
            prec = seg[0]
            height, width = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if prec != 8 or ncomp not in (1, 3):
                raise NotImplementedError("jpeg: progressive scope")
            sof_comps = []
            for k in range(ncomp):
                cid, samp, tq = seg[6 + 3 * k:9 + 3 * k]
                if samp != 0x11:
                    raise NotImplementedError(
                        "jpeg: subsampled progressive unsupported"
                    )
                sof_comps.append((cid, tq))
            mcux = (width + 7) // 8
            mcuy = (height + 7) // 8
            st = {
                "mcux": mcux, "mcuy": mcuy,
                "coef": {
                    k: [[np.zeros(64, dtype=np.int32)
                         for _ in range(mcux)] for _ in range(mcuy)]
                    for k in range(ncomp)
                },
            }
        elif marker == 0xC0:
            raise ValueError("jpeg: baseline SOF in progressive entry")
        elif marker == 0xDD:
            restart_interval = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:
            if st is None:
                raise ValueError("jpeg: SOS before SOF2")
            ns = seg[0]
            ids = [cid for cid, _ in sof_comps]
            scan = []
            for k in range(ns):
                cs = seg[1 + 2 * k]
                td, ta = seg[2 + 2 * k] >> 4, seg[2 + 2 * k] & 0xF
                scan.append((ids.index(cs), td, ta))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            a = seg[3 + 2 * ns]
            ah, al = a >> 4, a & 0xF
            pos = i + 2 + seglen
            if ss == 0:
                if se != 0:
                    raise ValueError("jpeg: DC scan with Se != 0")
                _prog_dc_scan(
                    b, pos, st,
                    [(ci, htables[(0, td)], None)
                     for ci, td, _ in scan],
                    ah, al, restart_interval,
                )
            else:
                if ns != 1:
                    raise ValueError("jpeg: interleaved AC scan")
                ci, _, ta = scan[0]
                if ah != 0:
                    if ah != al + 1:
                        raise ValueError("jpeg: Ah must be Al + 1")
                    _prog_ac_refine(
                        b, pos, st, ci, htables[(1, ta)], ss, se, al,
                        restart_interval,
                    )
                else:
                    _prog_ac_first(
                        b, pos, st, ci, htables[(1, ta)], ss, se, al,
                        restart_interval,
                    )
            # skip to the next marker: scans end at the following
            # 0xFF-non-stuffing byte; walk forward from pos
            j = pos
            while j + 1 < len(b):
                if b[j] == 0xFF and b[j + 1] != 0x00 and not \
                        (0xD0 <= b[j + 1] <= 0xD7):
                    break
                j += 1 if b[j] != 0xFF else 2
            i = j
            continue
        i += 2 + seglen
    if st is None or width is None:
        raise ValueError("jpeg: no progressive frame")
    nc = len(sof_comps)
    out = np.zeros((st["mcuy"] * 8, st["mcux"] * 8, nc),
                   dtype=np.float64)
    for k, (_, tq) in enumerate(sof_comps):
        q = qtables[tq]
        for by in range(st["mcuy"]):
            for bx in range(st["mcux"]):
                zz = st["coef"][k][by][bx]
                coeffs = np.zeros((8, 8), dtype=np.int32)
                coeffs[_ZIG[:, 0], _ZIG[:, 1]] = zz
                out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8, k] = \
                    idct_2d((coeffs * q).astype(np.float64)) + 128.0
    px = np.clip(np.round(out), 0, 255).astype(np.uint8)[
        :height, :width
    ]
    return px[:, :, 0] if nc == 1 else px


def encode_jpeg_progressive(pixels: np.ndarray,
                            restart_interval: int = 0,
                            ac_levels: int = 1) -> bytes:
    """Progressive (SOF2) encoder over (H, W) grayscale or (H, W, 3)
    4:4:4 samples, quantizer = 1. Scan script: (1) interleaved DC
    first pass point-transformed to Al=1, (2) DC refinement scan
    (Ah=1→Al=0, raw appended bits), then per component either one
    full-band Al=0 AC scan (``ac_levels=1``) or — ``ac_levels=2`` —
    an Al=1 AC first scan followed by the Ah=1→Al=0 AC REFINEMENT
    scan (correction bits, eager ZRL regions, EOB runs carrying their
    blocks' corrections). Either script carries the exact spectrum
    the baseline encoder writes, so progressive and baseline decodes
    of one image are bit-identical (the differential law the tests
    assert)."""
    px = np.asarray(pixels, dtype=np.float64)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise ValueError("jpeg: expected (H, W) or (H, W, 3) samples")
    h, w, nc = px.shape
    mcux, mcuy = (w + 7) // 8, (h + 7) // 8
    pad = np.pad(px, ((0, mcuy * 8 - h), (0, mcux * 8 - w), (0, 0)),
                 mode="edge")
    coef = {}
    for ci in range(nc):
        grid = []
        for by in range(mcuy):
            row = []
            for bx in range(mcux):
                blk = pad[by * 8:(by + 1) * 8,
                          bx * 8:(bx + 1) * 8, ci] - 128.0
                s = np.round(_BASIS @ blk @ _BASIS.T).astype(np.int32)
                row.append(s[_ZIG[:, 0], _ZIG[:, 1]])
            grid.append(row)
        coef[ci] = grid

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) \
            + payload

    def sos(comps, ss, se, ah, al) -> bytes:
        body = bytes([len(comps)]) + b"".join(
            bytes([cid, tt]) for cid, tt in comps
        ) + bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += seg(0xC2, struct.pack(">BHHB", 8, h, w, nc) + b"".join(
        bytes([ci + 1, 0x11, 0]) for ci in range(nc)
    ))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    ri = restart_interval

    # ── scan 1: interleaved DC first, Al = 1 ──
    units = []
    preds = [0] * nc
    n_mcu = 0
    dc_syms = set()
    for by in range(mcuy):
        for bx in range(mcux):
            if ri and n_mcu and n_mcu % ri == 0:
                preds = [0] * nc
                units.append(("RST",))
            for ci in range(nc):
                v = int(coef[ci][by][bx][0]) >> 1  # arithmetic, Al=1
                diff = v - preds[ci]
                preds[ci] = v
                dc_syms.add(_size_cat(diff))
                units.append(("DC", diff))
            n_mcu += 1
    dc_bits, dc_vals, dc_enc = _canonical_table(sorted(dc_syms))
    out += seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))
    out += sos([(ci + 1, 0x00) for ci in range(nc)], 0, 0, 0, 1)
    wtr = _BitWriter()
    rst = 0
    for u in units:
        if u[0] == "RST":
            wtr.flush()
            wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            continue
        sz = _size_cat(u[1])
        ln, code = dc_enc[sz]
        wtr.write(code, ln)
        if sz:
            wtr.write(_magnitude(u[1], sz), sz)
    wtr.flush()
    out += wtr.out

    # ── scan 2: DC refinement, Ah=1 → Al=0 (raw bits, no symbols) ──
    out += sos([(ci + 1, 0x00) for ci in range(nc)], 0, 0, 1, 0)
    wtr = _BitWriter()
    rst = 0
    n_mcu = 0
    for by in range(mcuy):
        for bx in range(mcux):
            if ri and n_mcu and n_mcu % ri == 0:
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
            for ci in range(nc):
                wtr.write(int(coef[ci][by][bx][0]) & 1, 1)
            n_mcu += 1
    wtr.flush()
    out += wtr.out

    # ── AC scans per component ──
    # events: ("SYM", sym, value_or_rawbits, size) — after every
    # symbol the writer flushes the pending correction bits attached
    # as the 5th element; ("EOBN", r, extra, pending) / ("RST",)

    def write_events(events, ac_syms, ci_sos):
        ac_bits, ac_vals, ac_enc = _canonical_table(sorted(ac_syms))
        nonlocal out
        out += seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))
        out += ci_sos
        wtr = _BitWriter()
        rst = 0
        for ev in events:
            if ev[0] == "RST":
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
            elif ev[0] == "EOBN":
                _, r, extra, pend = ev
                ln, code = ac_enc[r << 4]
                wtr.write(code, ln)
                if r:
                    wtr.write(extra, r)
                for bit in pend:
                    wtr.write(bit, 1)
            else:
                _, sym, v, s, pend = ev
                ln, code = ac_enc[sym]
                wtr.write(code, ln)
                if s:
                    wtr.write(v, s)
                for bit in pend:
                    wtr.write(bit, 1)
        wtr.flush()
        out += wtr.out

    def ac_first_scan(ci, al):
        events = []
        ac_syms = set()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            while eobrun > 0:
                n = min(eobrun, 32767)
                r = n.bit_length() - 1
                events.append(("EOBN", r, n - (1 << r), []))
                ac_syms.add(r << 4)
                eobrun -= n

        n_blk = 0
        for by in range(mcuy):
            for bx in range(mcux):
                if ri and n_blk and n_blk % ri == 0:
                    flush_eob()
                    events.append(("RST",))
                n_blk += 1
                zz = coef[ci][by][bx]
                tv = [
                    (1 if zz[k] > 0 else -1) * (abs(int(zz[k])) >> al)
                    for k in range(64)
                ]
                nz = [k for k in range(1, 64) if tv[k]]
                if not nz:
                    eobrun += 1
                    continue
                flush_eob()
                run = 0
                for k in range(1, nz[-1] + 1):
                    v = tv[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        events.append(("SYM", 0xF0, 0, 0, []))
                        ac_syms.add(0xF0)
                        run -= 16
                    s = _size_cat(v)
                    events.append(
                        ("SYM", (run << 4) | s, _magnitude(v, s), s, [])
                    )
                    ac_syms.add((run << 4) | s)
                    run = 0
                if nz[-1] < 63:
                    eobrun += 1
        flush_eob()
        write_events(events, ac_syms, sos([(ci + 1, 0x00)], 1, 63,
                                          0, al))

    def ac_refine_scan(ci, al):
        """Ah = Al+1 → Al correction-bit scan (T.81 G.1.2.3):
        newly-significant coefficients (magnitude >> Al == 1) arrive
        as (zero-history-run, 1) symbols + sign; every
        already-significant coefficient passed contributes one
        appended correction bit; EOB runs carry their blocks'
        correction bits after the EOBn symbol."""
        events = []
        ac_syms = set()
        eobrun = 0
        pending = []

        def flush_eob():
            nonlocal eobrun, pending
            while eobrun > 0:
                n = min(eobrun, 32767)
                r = n.bit_length() - 1
                events.append(("EOBN", r, n - (1 << r), pending))
                ac_syms.add(r << 4)
                pending = []
                eobrun -= n

        n_blk = 0
        for by in range(mcuy):
            for bx in range(mcux):
                if ri and n_blk and n_blk % ri == 0:
                    flush_eob()
                    assert not pending
                    events.append(("RST",))
                n_blk += 1
                zz = coef[ci][by][bx]
                mag = [abs(int(zz[k])) for k in range(64)]
                newly = [k for k in range(1, 64) if (mag[k] >> al) == 1]
                eobpos = newly[-1] if newly else 0
                if newly:
                    flush_eob()
                run = 0
                for k in range(1, 64):
                    t = mag[k] >> al
                    if t == 0:
                        if k < eobpos:
                            run += 1
                            if run == 16:
                                # eager ZRL: its correction bits are
                                # exactly the ones inside its own
                                # 16-slot skip region
                                events.append(
                                    ("SYM", 0xF0, 0, 0, pending)
                                )
                                ac_syms.add(0xF0)
                                pending = []
                                run = 0
                        continue
                    if t > 1:
                        pending.append((mag[k] >> al) & 1)
                        continue
                    # newly significant: k <= eobpos by construction
                    sign = 1 if zz[k] > 0 else 0
                    events.append(
                        ("SYM", (run << 4) | 1, sign, 1, pending)
                    )
                    ac_syms.add((run << 4) | 1)
                    pending = []
                    run = 0
                if not newly or eobpos < 63:
                    eobrun += 1
        flush_eob()
        assert not pending
        write_events(events, ac_syms, sos([(ci + 1, 0x00)], 1, 63,
                                          al + 1, al))

    for ci in range(nc):
        if ac_levels == 1:
            ac_first_scan(ci, 0)
        else:
            ac_first_scan(ci, 1)
            ac_refine_scan(ci, 0)

    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_auto(b: bytes) -> np.ndarray:
    """Dispatch on the frame marker: SOF0 → baseline decoder, SOF2 →
    progressive decoder (the two frame types a crawl actually
    carries); other SOFn raise from the respective decoder."""
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            break
        marker = b[i + 1]
        if marker == 0xC2:
            return decode_jpeg_progressive(b)
        if marker == 0xC0:
            return decode_jpeg(b)
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            i += 2
            continue
        seglen = struct.unpack(">H", b[i + 2:i + 4])[0]
        i += 2 + seglen
    return decode_jpeg(b)  # let the baseline decoder raise precisely
