"""Baseline JPEG codec correctness: the decoder is bound to ITU T.81,
not to the companion encoder — hand-built entropy streams exercise
ZRL runs, EOB, AC magnitudes and invalid-stream errors that the
encoder's output may never contain; encoder round-trips cover exact
(blockwise-constant, DC-only spectrum) and lossy-tolerance (general
content) paths, restart markers, and the marker-walk error cases."""

import struct

import numpy as np
import pytest

from logparser_spark.operators.jpegcodec import (
    _BitReader,
    _BitWriter,
    _canonical_table,
    _extend,
    _magnitude,
    _size_cat,
    build_huffman,
    decode_jpeg_gray,
    encode_jpeg_gray,
    idct_2d,
    zigzag_index,
)


def test_zigzag_is_the_standard_walk():
    z = zigzag_index()
    assert z.shape == (64, 2)
    # first and last few entries of the published T.81 zigzag order
    assert z[:4].tolist() == [[0, 0], [0, 1], [1, 0], [2, 0]]
    assert z[-3:].tolist() == [[6, 7], [7, 6], [7, 7]]
    # a permutation of all 64 cells
    assert len({(r, c) for r, c in z.tolist()}) == 64


def test_idct_dc_only_is_exact_constant():
    blk = np.zeros((8, 8))
    blk[0, 0] = 8 * (200 - 128)
    out = idct_2d(blk) + 128.0
    assert np.allclose(out, 200.0, atol=1e-9)


def test_idct_orthonormal_roundtrip():
    rng = np.random.RandomState(3)
    px = rng.uniform(-128, 127, size=(8, 8))
    from logparser_spark.operators.jpegcodec import _BASIS

    spec = _BASIS @ px @ _BASIS.T
    assert np.allclose(idct_2d(spec), px, atol=1e-9)


def test_size_cat_and_magnitude_extend_inverse():
    for v in [-255, -128, -32, -2, -1, 0, 1, 2, 31, 127, 255, 1023]:
        sz = _size_cat(v)
        if v == 0:
            assert sz == 0
            continue
        m = _magnitude(v, sz)
        assert 0 <= m < (1 << sz)
        assert _extend(m, sz) == v


def test_canonical_huffman_tables_roundtrip():
    bits, huffval, enc = _canonical_table([3, 5, 9])
    table = build_huffman(bits, huffval)
    for sym, (ln, code) in enc.items():
        assert table[(ln, code)] == sym
    # the all-ones code of the chosen length stays unused (T.81 rule)
    length = max(ln for ln, _ in enc.values())
    assert (length, (1 << length) - 1) not in table


def test_bitreader_unstuffing_and_marker_stop():
    # 0xFF 0x00 is a stuffed data byte 0xFF; a bare marker raises
    r = _BitReader(b"\xff\x00\xa5", 0)
    assert r.read_bits(8) == 0xFF
    assert r.read_bits(8) == 0xA5
    r2 = _BitReader(b"\xff\xd9", 0)
    with pytest.raises(ValueError, match="marker inside entropy"):
        r2.read_bits(1)


def test_bitwriter_stuffs_ff():
    w = _BitWriter()
    w.write(0xFF, 8)
    w.flush()
    assert bytes(w.out) == b"\xff\x00"


def _constant_block_image(did: int) -> np.ndarray:
    w = (did % 21) + 4
    h = (did % 13) + 4
    y, x = np.mgrid[0:h, 0:w]
    return ((did * 31 + (y // 8) * 17 + (x // 8) * 5) % 256).astype(
        np.uint8
    )


def test_roundtrip_exact_on_blockwise_constant():
    for did in [0, 1, 2, 3, 17, 100, 254, 255]:
        img = _constant_block_image(did)
        ri = 2 if did % 3 == 0 else 0
        out = decode_jpeg_gray(encode_jpeg_gray(img, restart_interval=ri))
        assert out.dtype == np.uint8
        assert np.array_equal(out, img), did


def test_roundtrip_general_content_within_quantization_error():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(23, 37)).astype(np.uint8)
    out = decode_jpeg_gray(encode_jpeg_gray(img))
    # q = 1: only DCT-coefficient rounding error survives
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2
    # restart markers must not change decoded pixels
    out_rst = decode_jpeg_gray(encode_jpeg_gray(img, restart_interval=3))
    assert np.array_equal(out, out_rst)


def test_restart_markers_present_and_consumed():
    y, x = np.mgrid[0:9, 0:25]  # 25×9 → 4×2 = 8 MCUs
    img = (((y // 8) * 17 + (x // 8) * 5) % 256).astype(np.uint8)
    b = encode_jpeg_gray(img, restart_interval=1)
    # RST0..RST6 appear once each between the 8 MCUs
    for n in range(7):
        assert bytes([0xFF, 0xD0 + n]) in b
    assert np.array_equal(decode_jpeg_gray(b), img)


# ── hand-built streams: bind the decoder to the spec ────────────────


def _hand_stream(zz_coeffs, width=8, height=8, qval=1):
    """Assemble a valid single-MCU baseline stream whose entropy data
    is written symbol-by-symbol from ``zz_coeffs`` (zigzag order),
    independently of the encoder's RLE logic."""
    dc = int(zz_coeffs[0])
    dc_sz = _size_cat(dc)
    acs = []
    run = 0
    for k in range(1, 64):
        v = int(zz_coeffs[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            acs.append((0xF0, 0, 0))
            run -= 16
        sz = _size_cat(v)
        acs.append(((run << 4) | sz, v, sz))
        run = 0
    need_eob = run > 0

    dc_syms = sorted({dc_sz})
    ac_syms = sorted({0x00} | {s for s, _, _ in acs})
    dc_bits, dc_vals, dc_enc = _canonical_table(dc_syms)
    ac_bits, ac_vals, ac_enc = _canonical_table(ac_syms)

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) \
            + payload

    zz_q = bytes([qval] * 64)
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + zz_q)
    out += seg(0xC0, struct.pack(">BHHB", 8, height, width, 1)
               + bytes([1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))
    out += seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    w = _BitWriter()
    ln, code = dc_enc[dc_sz]
    w.write(code, ln)
    if dc_sz:
        w.write(_magnitude(dc, dc_sz), dc_sz)
    for sym, v, vsz in acs:
        ln, code = ac_enc[sym]
        w.write(code, ln)
        if vsz:
            w.write(_magnitude(v, vsz), vsz)
    if need_eob:
        ln, code = ac_enc[0x00]
        w.write(code, ln)
    w.flush()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def test_hand_stream_dc_only():
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = 8 * (77 - 128)
    out = decode_jpeg_gray(_hand_stream(zz))
    assert np.array_equal(out, np.full((8, 8), 77, dtype=np.uint8))


def test_hand_stream_single_ac_coefficient():
    # one AC coefficient: decoded block = DC + that basis function
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = 8 * (128 - 128)
    zz[1] = 40  # zigzag index 1 = (u=0, v=1) horizontal cosine
    out = decode_jpeg_gray(_hand_stream(zz))
    zig = zigzag_index()
    coeffs = np.zeros((8, 8))
    coeffs[zig[:, 0], zig[:, 1]] = zz
    expect = np.clip(np.round(idct_2d(coeffs) + 128.0), 0, 255)
    assert np.array_equal(out, expect.astype(np.uint8))
    # the basis function varies along x only
    assert (np.ptp(out, axis=0) == 0).all()
    assert np.ptp(out, axis=1).max() > 0


def test_hand_stream_zrl_run_of_16_zeros():
    # nonzero at zigzag index 20 after a 19-zero run → ZRL + run 3
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = 8 * (100 - 128)
    zz[20] = -25
    b = _hand_stream(zz)
    out = decode_jpeg_gray(b)
    zig = zigzag_index()
    coeffs = np.zeros((8, 8))
    coeffs[zig[:, 0], zig[:, 1]] = zz
    expect = np.clip(np.round(idct_2d(coeffs) + 128.0), 0, 255)
    assert np.array_equal(out, expect.astype(np.uint8))


def test_hand_stream_last_coefficient_no_eob():
    # a nonzero at zigzag 63 ends the block WITHOUT an EOB symbol
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = 8 * (128 - 128)
    zz[63] = 31
    out = decode_jpeg_gray(_hand_stream(zz))
    zig = zigzag_index()
    coeffs = np.zeros((8, 8))
    coeffs[zig[:, 0], zig[:, 1]] = zz
    expect = np.clip(np.round(idct_2d(coeffs) + 128.0), 0, 255)
    assert np.array_equal(out, expect.astype(np.uint8))


def test_hand_stream_quant_table_applied():
    # same spectrum, qval 3 → coefficients scale ×3 before IDCT
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = 8  # S00 = 8*3 = 24 after dequant → +3 per pixel
    out = decode_jpeg_gray(_hand_stream(zz, qval=3))
    assert np.array_equal(out, np.full((8, 8), 131, dtype=np.uint8))


def test_decoder_rejects_malformed_streams():
    img = _constant_block_image(5)
    good = encode_jpeg_gray(img)
    with pytest.raises(ValueError, match="bad SOI"):
        decode_jpeg_gray(b"\x00\x00" + good[2:])
    # progressive SOF2 marker
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg_gray(prog)
    # truncated entropy segment
    with pytest.raises(ValueError):
        decode_jpeg_gray(good[:-8])
    # no SOS at all: header segments then EOI
    sos_at = good.find(b"\xff\xda")
    with pytest.raises(ValueError, match="no SOS"):
        decode_jpeg_gray(good[:sos_at] + b"\xff\xd9")


def test_decoder_rejects_subsampled_and_cmyk_scans():
    img = _constant_block_image(5)
    good = bytearray(encode_jpeg_gray(img))
    i = good.find(b"\xff\xc0")
    bad = bytearray(good)
    bad[i + 11] = 0x22  # 2x2 sampling on a 1-component stream
    with pytest.raises(NotImplementedError, match="sampling layout"):
        decode_jpeg_gray(bytes(bad))
    bad = bytearray(good)
    bad[i + 9] = 4  # ncomp byte inside SOF0 (CMYK-style)
    with pytest.raises(NotImplementedError, match="component"):
        decode_jpeg_gray(bytes(bad))


def _constant_block_image_color(did: int) -> np.ndarray:
    w = (did % 21) + 4
    h = (did % 13) + 4
    y, x = np.mgrid[0:h, 0:w]
    c = np.arange(3)[None, None, :]
    return ((did * 31 + (y // 8)[:, :, None] * 17
             + (x // 8)[:, :, None] * 5 + c * 43) % 256).astype(np.uint8)


def test_color_roundtrip_exact_on_blockwise_constant():
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    for did in [1, 3, 5, 17, 101, 255]:
        img = _constant_block_image_color(did)
        ri = 2 if did % 3 == 0 else 0
        out = decode_jpeg(encode_jpeg(img, restart_interval=ri))
        assert out.shape == img.shape
        assert np.array_equal(out, img), did


def test_color_general_content_and_restart_invariance():
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(21)
    img = rng.randint(0, 256, size=(19, 13, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2
    # per-component DC predictors must survive restart resets
    out_rst = decode_jpeg(encode_jpeg(img, restart_interval=3))
    assert np.array_equal(out, out_rst)


def test_color_components_carry_independent_dc_predictors():
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    # channels drift apart block to block: any predictor crosstalk
    # between components would corrupt later blocks
    y, x = np.mgrid[0:8, 0:32]
    img = np.stack([
        ((x // 8) * 40) % 256,
        (255 - (x // 8) * 60) % 256,
        ((x // 8) * (x // 8) * 25 + 7) % 256,
    ], axis=2).astype(np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(img)), img)


def _tile_constant_420(did: int) -> np.ndarray:
    w = (did % 37) + 4
    h = (did % 23) + 4
    y, x = np.mgrid[0:h, 0:w]
    c = np.arange(3)[None, None, :]
    return ((did * 29 + (y // 16)[:, :, None] * 19
             + (x // 16)[:, :, None] * 7 + c * 53) % 256).astype(
        np.uint8
    )


def test_420_roundtrip_exact_on_tile_constant():
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_420,
    )

    for did in [0, 1, 2, 5, 33, 100, 255]:
        img = _tile_constant_420(did)
        ri = 2 if did % 3 == 0 else 0
        out = decode_jpeg(encode_jpeg_420(img, restart_interval=ri))
        assert out.shape == img.shape
        assert np.array_equal(out, img), did


def test_420_general_content_luma_near_exact_chroma_smoothed():
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_420,
    )

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, size=(21, 19, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_420(img))
    # luma is full resolution: quantizer-1 rounding error only
    assert np.abs(out[:, :, 0].astype(int)
                  - img[:, :, 0].astype(int)).max() <= 2
    # chroma comes back 2x2-blocky: each 2x2 cell is constant
    for ch in (1, 2):
        p = out[:20, :18, ch]
        assert (p[0::2, 0::2] == p[1::2, 0::2]).all()
        assert (p[0::2, 0::2] == p[0::2, 1::2]).all()
    # restart markers must not change decoded pixels
    out_rst = decode_jpeg(encode_jpeg_420(img, restart_interval=3))
    assert np.array_equal(out, out_rst)


def test_420_chroma_upsample_geometry():
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_420,
    )

    # two 16-tiles side by side with different chroma: the boundary
    # must land exactly at x=16 after upsampling
    img = np.zeros((16, 32, 3), dtype=np.uint8)
    img[:, :16] = [100, 40, 200]
    img[:, 16:] = [100, 180, 60]
    out = decode_jpeg(encode_jpeg_420(img))
    assert np.array_equal(out, img)


def test_decoder_rejects_other_sampling_layouts():
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_420,
    )

    img = _tile_constant_420(3)
    good = bytearray(encode_jpeg_420(img))
    i = bytes(good).find(b"\xff\xc0")
    bad = bytearray(good)
    bad[i + 11] = 0x21  # 2x1 (4:2:2) luma sampling
    with pytest.raises(NotImplementedError, match="sampling layout"):
        decode_jpeg(bytes(bad))


# ── progressive (SOF2) ───────────────────────────────────────────────


def test_progressive_decode_equals_baseline_decode():
    """The differential law: with quantizer 1 the progressive scan
    script carries the exact same spectrum as the baseline scan, so
    the two decodes must agree bit for bit on ANY content."""
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg,
        decode_jpeg_progressive,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(17)
    for shape in [(8, 8), (16, 24), (13, 9), (21, 19, 3), (9, 33, 3)]:
        img = rng.randint(0, 256, size=shape).astype(np.uint8)
        base = decode_jpeg(encode_jpeg(img))
        for ri in (0, 2):
            prog = decode_jpeg_progressive(
                encode_jpeg_progressive(img, restart_interval=ri)
            )
            assert np.array_equal(prog, base), (shape, ri)


def test_progressive_auto_dispatch():
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg_auto,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    img = _constant_block_image(7)
    assert np.array_equal(decode_jpeg_auto(encode_jpeg(img)), img)
    assert np.array_equal(
        decode_jpeg_auto(encode_jpeg_progressive(img)), img
    )


def test_progressive_dc_point_transform_is_arithmetic_shift():
    """Negative DC values: the Al=1 first pass floors toward -inf
    (arithmetic shift) and the refinement bit restores the LSB —
    exact recovery for every parity/sign combination."""
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    # values around 128 produce DC of both signs and parities
    img = np.array([[10, 11], [245, 244]], dtype=np.uint8).repeat(
        8, axis=0).repeat(8, axis=1)
    out = decode_jpeg_progressive(encode_jpeg_progressive(img))
    assert np.array_equal(out, img)


def test_progressive_eobn_runs_across_blocks():
    """A wide DC-only image makes every AC block empty: the whole AC
    scan must collapse into EOBn run codes and still decode."""
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    y, x = np.mgrid[0:8, 0:264]  # 33 blocks -> EOBRUN 33 = 32 + 1
    img = (((x // 8) * 7 + 30) % 256).astype(np.uint8)
    b = encode_jpeg_progressive(img)
    assert np.array_equal(decode_jpeg_progressive(b), img)


def test_progressive_ac_refinement_differential():
    """Full successive approximation on AC: Al=1 first scan + the
    correction-bit refinement scan must reproduce the baseline decode
    bit for bit on dense, sparse and gradient content."""
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg,
        decode_jpeg_progressive,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(31)
    imgs = [rng.randint(0, 256, size=s).astype(np.uint8)
            for s in [(16, 24), (13, 9), (21, 19, 3)]]
    flat = np.full((24, 40), 128, dtype=np.uint8)
    flat[5, 7] = 255
    flat[20, 33] = 0  # isolated spikes: long ZRL runs + corrections
    gy, gx = np.mgrid[0:24, 0:40]
    imgs += [flat, np.clip(128 + gy // 3 - gx // 4, 0,
                           255).astype(np.uint8)]
    for img in imgs:
        base = decode_jpeg(encode_jpeg(img))
        for ri in (0, 3):
            prog = decode_jpeg_progressive(encode_jpeg_progressive(
                img, restart_interval=ri, ac_levels=2))
            assert np.array_equal(prog, base)


def test_progressive_rejects_bad_ah_and_subsampling():
    from logparser_spark.operators.jpegcodec import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    img = _constant_block_image(5)
    good = bytearray(encode_jpeg_progressive(img))
    # patch the LAST SOS (the AC scan, Ah=0 Al=0) to Ah=2 (Al+1 != Ah)
    at = bytes(good).rfind(b"\xff\xda")
    # SOS body: len(2) ns(1) comp pairs(2*ns) Ss Se AhAl
    good[at + 4 + 1 + 2 + 2] = 0x20
    with pytest.raises(ValueError, match="Ah must be"):
        decode_jpeg_progressive(bytes(good))
