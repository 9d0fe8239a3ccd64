"""Lossless WebP (VP8L) codec (smcchecker_spark/webpcodec.py): bit-exact
roundtrip through our own encoder, plus hand-composed bitstreams for the
decoder surfaces the minimal encoder never emits — subtract-green /
predictor / color / palette transforms, LZ77 backward references, and
the color cache — each checked against an INDEPENDENT forward
computation of the spec's transform in the test, so encoder and decoder
cannot share a misreading."""

import struct

import numpy as np
import pytest

from smcchecker_spark import imagecodec as ic
from smcchecker_spark import webpcodec as wc
from tests import ref_oracle


def _noise(h, w, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8
    )


def _riff(body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(body) + len(pad))
        + b"WEBP"
        + b"VP8L"
        + struct.pack("<I", len(body))
        + body
        + pad
    )


def _header(bw, w, h):
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version


def _with_alpha(rgb: np.ndarray) -> np.ndarray:
    h, w = rgb.shape[:2]
    return np.concatenate(
        [np.full((h, w, 1), 255, dtype=np.uint8), rgb], axis=-1
    )


# ---------------------------------------------------------------------------
# Roundtrip through our encoder
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("h,w", [(1, 1), (8, 8), (13, 29), (32, 32), (7, 9)])
def test_roundtrip_exact(h, w):
    a = _noise(h, w, seed=h * 100 + w)
    data = wc.encode_webp(a)
    assert np.array_equal(wc.decode_webp(data), a)  # lossless = bit-exact


def test_roundtrip_degenerate_palettes():
    solid = np.full((16, 16, 3), 42, dtype=np.uint8)
    assert np.array_equal(wc.decode_webp(wc.encode_webp(solid)), solid)
    two = np.zeros((10, 10, 3), dtype=np.uint8)
    two[::2] = 255
    assert np.array_equal(wc.decode_webp(wc.encode_webp(two)), two)


def test_container_structure():
    a = _noise(5, 6, seed=1)
    data = wc.encode_webp(a)
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    assert data[12:16] == b"VP8L" and data[20] == 0x2F
    assert len(data) % 2 == 0  # RIFF even padding
    (riff_size,) = struct.unpack("<I", data[4:8])
    assert riff_size == len(data) - 8
    assert ic.sniff_format(data) == "webp"


# ---------------------------------------------------------------------------
# Decoder-only surfaces, each vs an independent forward computation
# ---------------------------------------------------------------------------


def test_subtract_green_transform():
    a = _noise(9, 11, seed=2)
    h, w = a.shape[:2]
    bw = wc._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(2, 2)  # transform type 2: subtract-green
    bw.write(0, 1)  # no more transforms
    g = a[:, :, 1].astype(np.int32)
    res = _with_alpha(a).copy()
    res[:, :, 1] = ((a[:, :, 0].astype(np.int32) - g) & 0xFF).astype(np.uint8)
    res[:, :, 3] = ((a[:, :, 2].astype(np.int32) - g) & 0xFF).astype(np.uint8)
    wc._write_literal_image(bw, res, allow_meta=True)
    assert np.array_equal(wc.decode_webp(_riff(b"\x2f" + bw.tobytes())), a)


def test_predictor_transform_modes():
    # one block covering the whole image per mode; forward residuals
    # computed here from the spec's prediction rules
    for mode in (1, 2, 7, 11, 12, 13):
        a = _noise(7, 6, seed=10 + mode)
        h, w = a.shape[:2]
        px = _with_alpha(a).astype(np.int32)
        res = np.zeros_like(px)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = np.array([255, 0, 0, 0])
                elif y == 0:
                    pred = px[0, x - 1]
                elif x == 0:
                    pred = px[y - 1, 0]
                else:
                    L, T, TL = px[y, x - 1], px[y - 1, x], px[y - 1, x - 1]
                    if mode == 1:
                        pred = L
                    elif mode == 2:
                        pred = T
                    elif mode == 7:
                        pred = (L + T) // 2
                    elif mode == 11:
                        p = L + T - TL
                        pred = L if int(np.abs(p - L).sum()) < int(
                            np.abs(p - T).sum()
                        ) else T
                    elif mode == 12:
                        pred = np.clip(L + T - TL, 0, 255)
                    else:  # 13
                        avg = (L + T) // 2
                        d = avg - TL
                        pred = np.clip(
                            avg + np.sign(d) * (np.abs(d) // 2), 0, 255
                        )
                res[y, x] = (px[y, x] - pred) & 0xFF
        bw = wc._BitWriter()
        _header(bw, w, h)
        bw.write(1, 1)
        bw.write(0, 2)  # predictor transform
        bw.write(6, 3)  # size_bits 8 → one 256px block covers all
        timg = np.zeros((1, 1, 4), dtype=np.uint8)
        timg[0, 0, 2] = mode  # mode lives in the green channel
        wc._write_literal_image(bw, timg, allow_meta=False)
        bw.write(0, 1)  # no more transforms
        wc._write_literal_image(bw, res.astype(np.uint8), allow_meta=True)
        dec = wc.decode_webp(_riff(b"\x2f" + bw.tobytes()))
        assert np.array_equal(dec, a), f"predictor mode {mode}"


def test_color_transform():
    a = _noise(8, 10, seed=3)
    h, w = a.shape[:2]
    g2r, g2b, r2b = 37, -23, 11  # signed transform elements

    def delta(t, c):  # (int8)t * (int8)c >> 5, C semantics
        return (np.int32(np.int8(t)) * np.int32(np.int8(c))) >> 5

    res = _with_alpha(a).astype(np.int32)
    for y in range(h):
        for x in range(w):
            g = res[y, x, 2]
            orig_r = res[y, x, 1]  # forward deltas use the ORIGINAL red
            r = (orig_r - delta(g2r, g)) & 0xFF
            b = (res[y, x, 3] - delta(g2b, g) - delta(r2b, orig_r)) & 0xFF
            res[y, x, 1], res[y, x, 3] = r, b
    bw = wc._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(1, 2)  # color transform
    bw.write(6, 3)  # one block
    timg = np.zeros((1, 1, 4), dtype=np.uint8)
    timg[0, 0, 1] = np.uint8(r2b % 256)   # red byte: red_to_blue
    timg[0, 0, 2] = np.uint8(g2b % 256)   # green byte: green_to_blue
    timg[0, 0, 3] = np.uint8(g2r % 256)   # blue byte: green_to_red
    wc._write_literal_image(bw, timg, allow_meta=False)
    bw.write(0, 1)
    wc._write_literal_image(bw, res.astype(np.uint8), allow_meta=True)
    assert np.array_equal(wc.decode_webp(_riff(b"\x2f" + bw.tobytes())), a)


def test_palette_transform_packed():
    # 3-color palette → 4 indices/byte packing (width-reduced image)
    pal_rgb = np.array([[10, 20, 30], [200, 100, 50], [0, 255, 0]], np.uint8)
    rng = np.random.default_rng(4)
    idx = rng.integers(0, 3, (6, 11))
    a = pal_rgb[idx]
    h, w = a.shape[:2]
    bw = wc._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(3, 2)  # color-indexing transform
    bw.write(3 - 1, 8)  # palette size 3
    pal_argb = _with_alpha(pal_rgb[None, :, :])[0]  # (3, 4)
    deltas = np.diff(
        np.vstack([np.zeros(4, np.int32), pal_argb.astype(np.int32)]), axis=0
    ) % 256
    wc._write_literal_image(
        bw, deltas.astype(np.uint8)[None, :, :], allow_meta=False
    )
    bw.write(0, 1)  # no more transforms
    # pack 4 indices per byte into the green channel of a reduced image
    packed_w = (w + 3) // 4
    packed = np.zeros((h, packed_w, 4), dtype=np.uint8)
    packed[:, :, 0] = 255
    for y in range(h):
        for x in range(w):
            packed[y, x // 4, 2] |= idx[y, x] << ((x % 4) * 2)
    wc._write_literal_image(bw, packed, allow_meta=True)
    assert np.array_equal(wc.decode_webp(_riff(b"\x2f" + bw.tobytes())), a)


def _emit_code(bw, codes, sym):
    code, ln = codes[sym]
    for k in range(ln - 1, -1, -1):
        bw.write((code >> k) & 1, 1)


def test_lz77_backward_reference():
    # 1x4 image: literal pixel P, then length-3 distance-1 copy
    P = (255, 70, 140, 210)  # ARGB
    w, h = 4, 1
    bw = wc._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache (spec order: cache bit first)
    bw.write(0, 1)  # no meta prefix codes
    green_size = 256 + 24
    glen = [0] * green_size
    glen[P[2]] = 1
    glen[256 + 2] = 1  # length code 2 → length 3, no extra bits
    rlen = [0] * 256
    rlen[P[1]] = 1  # single-symbol → zero bits on read
    blen = [0] * 256
    blen[P[3]] = 1
    alen = [0] * 256
    alen[P[0]] = 1
    dlen = [0] * 40
    dlen[1] = 1  # distance code 1 → value 2 → _DIST_MAP[1] = (1,0) → 1px
    for lengths in (glen, rlen, blen, alen, dlen):
        wc._write_prefix_code(bw, lengths)
    gcodes = wc._canonical_codes(glen)
    _emit_code(bw, gcodes, P[2])  # literal (r/b/a/dist trees are 0-bit)
    _emit_code(bw, gcodes, 256 + 2)  # copy 3 @ dist 1
    dec = wc.decode_webp(_riff(b"\x2f" + bw.tobytes()))
    assert dec.shape == (1, 4, 3)
    assert np.array_equal(dec, np.tile(np.array(P[1:]), (1, 4, 1)))


def test_color_cache():
    # pixels [A, B, A]: third is a cache hit on A's slot (cache bits=1)
    A = (255, 10, 20, 30)   # hashes to cache slot 1 (size-2 cache)
    B = (255, 201, 150, 100)  # hashes to slot 0 — must not evict A
    pxA = (A[0] << 24) | (A[1] << 16) | (A[2] << 8) | A[3]
    slotA = (0x1E35A7BD * pxA & 0xFFFFFFFF) >> 31
    w, h = 3, 1
    bw = wc._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # color cache present (spec order: cache bit first)
    bw.write(1, 4)  # cache bits = 1 → size 2
    bw.write(0, 1)  # no meta prefix codes
    green_size = 256 + 24 + 2
    glen = [0] * green_size
    glen[A[2]] = 2
    glen[B[2]] = 2
    glen[256 + 24 + slotA] = 1
    rlen = [0] * 256
    rlen[A[1]] = 1
    rlen[B[1]] = 1
    blen = [0] * 256
    blen[A[3]] = 1
    blen[B[3]] = 1
    alen = [0] * 256
    alen[255] = 1
    dlen = [0] * 40
    dlen[0] = 1
    for lengths in (glen, rlen, blen, alen, dlen):
        wc._write_prefix_code(bw, lengths)
    g = wc._canonical_codes(glen)
    r = wc._canonical_codes(rlen)
    b = wc._canonical_codes(blen)
    for px in (A, B):
        _emit_code(bw, g, px[2])
        _emit_code(bw, r, px[1])
        _emit_code(bw, b, px[3])
    _emit_code(bw, g, 256 + 24 + slotA)  # cache hit → pixel A again
    dec = wc.decode_webp(_riff(b"\x2f" + bw.tobytes()))
    exp = np.array([[A[1:], B[1:], A[1:]]], dtype=np.uint8)
    assert np.array_equal(dec, exp)


# ---------------------------------------------------------------------------
# Robustness + dispatch
# ---------------------------------------------------------------------------


def test_lossy_and_extended_rejected():
    a = _noise(4, 4, seed=5)
    data = bytearray(wc.encode_webp(a))
    data[12:16] = b"VP8 "
    with pytest.raises(ValueError, match="lossy"):
        wc.decode_webp(bytes(data))
    data[12:16] = b"VP8X"
    with pytest.raises(ValueError, match="extended"):
        wc.decode_webp(bytes(data))


def test_truncation_and_bitflips_never_crash():
    a = _noise(9, 9, seed=6)
    data = wc.encode_webp(a)
    for cut in range(0, len(data), 5):
        try:
            wc.decode_webp(data[:cut])
        except ValueError:
            pass
    for pos in range(0, len(data), 3):
        ba = bytearray(data)
        ba[pos] ^= 0xFF
        try:
            out = wc.decode_webp(bytes(ba))
            assert out.ndim == 3
        except (ValueError, IndexError, struct.error):
            pass


def test_engine_dispatch():
    a = _noise(14, 10, seed=7)
    data = wc.encode_webp(a)
    arr, fmt = ic.decode_image(data)
    assert fmt == "webp" and np.array_equal(arr, a)
    arrs, fmts, errs = ic.decode_image_batch(
        [ic.encode_png(a), data, b"RIFF\x00\x00\x00\x00WEBPJUNK"]
    )
    assert fmts[:2] == ["png", "webp"] and errs[2] is not None
    assert np.array_equal(arrs[1], a)


def test_webp_fixture_suite_golden(spark):
    from smcchecker_spark import fixtures
    from tests.test_jpeg import expected_codec_violation_rows
    import __spark_entry__ as entry

    got = sorted(
        (r["row_id"], r["check_name"])
        for r in entry.q_webp_validate(spark, "").collect()
    )
    assert got == expected_codec_violation_rows(
        400, "wbp", "imageconsistent_bytes", "image_id",
        fixtures.expected_jpeg_flags,
        ("truncated", "bitflip", "w_off", "phash_off"),
    )


def test_meta_prefix_codes_two_groups():
    """Meta prefix codes: a meta image assigns a DIFFERENT prefix-code
    group to each 8px block column; pixels must decode through their
    block's own group. Groups are built with disjoint literal alphabets
    so a group mix-up cannot silently produce the right bytes."""
    h, w = 4, 16  # two 8px meta blocks side by side
    left = np.tile(np.array([10, 20, 30], np.uint8), (h, 8, 1))
    right = np.tile(np.array([200, 150, 100], np.uint8), (h, 8, 1))
    a = np.concatenate([left, right], axis=1)
    bw = wc._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache (spec order: cache bit first)
    bw.write(1, 1)  # meta prefix codes present
    bw.write(1, 3)  # size_bits = 1+2 = 3 → 8px blocks → meta is 2x1
    # meta image (2x1): group index = (red<<8)|green → groups 0 and 1
    meta = np.zeros((1, 2, 4), dtype=np.uint8)
    meta[0, 0, 2] = 0  # left block → group 0
    meta[0, 1, 2] = 1  # right block → group 1
    wc._write_literal_image(bw, meta, allow_meta=False)
    # group 0: only left's literals; group 1: only right's
    for px in ((10, 20, 30), (200, 150, 100)):
        r, g, b = px
        glen = [0] * (256 + 24)
        glen[g] = 1
        glen[0x55 if g != 0x55 else 0x56] = 1  # 2nd symbol: valid 2-leaf tree
        rlen = [0] * 256
        rlen[r] = 1
        blen = [0] * 256
        blen[b] = 1
        alen = [0] * 256
        alen[255] = 1
        dlen = [0] * 40
        dlen[0] = 1
        for lengths in (glen, rlen, blen, alen, dlen):
            wc._write_prefix_code(bw, lengths)
    g0 = wc._canonical_codes(
        [1 if i in (20, 0x55) else 0 for i in range(256 + 24)]
    )
    g1 = wc._canonical_codes(
        [1 if i in (150, 0x55) else 0 for i in range(256 + 24)]
    )
    for y in range(h):
        for x in range(w):
            codes, gsym = (g0, 20) if x < 8 else (g1, 150)
            _emit_code(bw, codes, gsym)  # r/b/a trees are single → 0 bits
    dec = wc.decode_webp(_riff(b"\x2f" + bw.tobytes()))
    assert np.array_equal(dec, a)


def test_lz77_direct_distance_beyond_neighborhood():
    """Distance prefix values > 120 bypass the 2-D neighborhood map and
    mean (value - 120) pixels back — the long-range branch the other
    LZ77 test doesn't reach. 1x130 image: 126 literals, then a length-4
    copy from 122 back (prefix value 242 = code 15 + 6 extra bits 49)."""
    w, h = 130, 1
    greens = [(17 * i + 5) % 251 for i in range(126)]
    bw = wc._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache (spec order: cache bit first)
    bw.write(0, 1)  # no meta prefix codes
    glen = [0] * (256 + 24)
    for g in set(greens):
        glen[g] = 0  # assigned below by canonical builder
    # build a complete code over the distinct greens + the length code
    syms = sorted(set(greens)) + [256 + 3]  # length code 3 → length 4
    n = len(syms)
    nbits = (n - 1).bit_length()
    short = (1 << nbits) - n
    for j, s in enumerate(syms):
        glen[s] = nbits - 1 if j < short and nbits > 1 else nbits
    rlen = [0] * 256
    rlen[9] = 1
    blen = [0] * 256
    blen[7] = 1
    alen = [0] * 256
    alen[255] = 1
    dlen = [0] * 40
    dlen[15] = 1  # single-symbol distance tree → 0 bits per use
    for lengths in (glen, rlen, blen, alen, dlen):
        wc._write_prefix_code(bw, lengths)
    g = wc._canonical_codes(glen)
    for gv in greens:
        _emit_code(bw, g, gv)
    _emit_code(bw, g, 256 + 3)  # length 4, no extra bits
    bw.write(49, 6)  # distance extra bits: 192 + 49 + 1 = 242 → dist 122
    dec = wc.decode_webp(_riff(b"\x2f" + bw.tobytes()))
    exp_g = greens + [greens[126 - 122 + k] for k in range(4)]
    assert dec.shape == (1, 130, 3)
    assert dec[0, :, 1].tolist() == exp_g
    assert set(dec[0, :, 0].tolist()) == {9} and set(dec[0, :, 2].tolist()) == {7}


def test_oversize_header_rejected():
    # hostile max-dims header: 16384x16384 (1 GiB at 4 B/px) must be
    # rejected by the 256 MiB pixel-buffer cap before any allocation
    a = np.zeros((4, 4, 3), np.uint8)
    data = bytearray(wc.encode_webp(a))
    body = bytearray(data[20:])
    body[1] = 0xFF
    body[2] = 0xFF
    body[3] = 0xFF
    body[4] |= 0x0F  # bits 0..27 of the VP8L header → w-1 = h-1 = 16383
    with pytest.raises(ValueError, match="decoded-size cap"):
        wc.decode_webp(bytes(data[:20]) + bytes(body))


def test_predictor_inverse_vectorized_parity():
    """The row-vectorized predictor inverse must be bit-identical to
    the straight-from-spec per-pixel reference across every mode, mixed
    block modes, block sizes, and edge widths (TR wrap at x = w-1)."""
    rng = np.random.default_rng(99)
    for bits in (2, 3, 4):
        for h, w in ((1, 1), (2, 17), (9, 8), (23, 33), (16, 16)):
            res = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
            tw = (w + (1 << bits) - 1) >> bits
            th = (h + (1 << bits) - 1) >> bits
            pred = np.zeros((th, tw, 4), dtype=np.uint8)
            pred[:, :, 2] = rng.integers(0, 14, (th, tw))
            fast = wc._apply_predictor_inverse(res, pred, bits)
            ref = ref_oracle.predictor_inverse_scalar(res, pred, bits)
            assert np.array_equal(fast, ref), (bits, h, w)


def test_predictor_inverse_single_mode_parity():
    """Every mode alone over the whole image (catches a wrong formula
    that mixed-mode noise might mask)."""
    rng = np.random.default_rng(7)
    for mode in range(14):
        res = rng.integers(0, 256, (11, 13, 4), dtype=np.uint8)
        pred = np.zeros((1, 1, 4), dtype=np.uint8)
        pred[0, 0, 2] = mode
        fast = wc._apply_predictor_inverse(res, pred, bits=8)
        ref = ref_oracle.predictor_inverse_scalar(res, pred, bits=8)
        assert np.array_equal(fast, ref), mode


def test_predictor_inverse_bad_mode_rejected():
    res = np.zeros((4, 4, 4), dtype=np.uint8)
    pred = np.zeros((1, 1, 4), dtype=np.uint8)
    pred[0, 0, 2] = 14
    with pytest.raises(ValueError, match="bad predictor mode"):
        wc._apply_predictor_inverse(res, pred, bits=8)
