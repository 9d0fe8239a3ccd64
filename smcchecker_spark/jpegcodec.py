"""Real baseline JPEG (JFIF) encode/decode in pure numpy + stdlib.

The container has no libjpeg/PIL, and the engine's lossy image path
(decode → PSNR ≥ 40 dB gate; BASELINE.json input_hint) needs an actual
lossy bitstream, not the FAKE-LOSSY stand-in. This module implements
ITU-T T.81 baseline sequential DCT from the public spec:

- **Encode**: RGB → Rec.601 YCbCr, optional 4:2:0 chroma subsampling
  (2×2 box mean), 8×8 blocks, orthonormal 2-D DCT (T.81's FDCT), IJG
  quality-scaled Annex-K quantization tables, zigzag, DC-differential +
  AC run-length symbols, Annex-K canonical Huffman codes, vectorized
  bit packing, 0xFF byte stuffing, full JFIF header set
  (SOI/APP0/DQT/SOF0|SOF2/DHT/SOS/EOI). Output is a spec-valid JPEG any
  external decoder can open. There is ONE encoder core (``_encode``):
  baseline color, progressive color and grayscale differ only in the
  scan list it codes, and every scan is tokenized by
  ``_entropy_tokens``.
- **Decode**: marker walk, arbitrary quant/Huffman table slots,
  baseline (SOF0/SOF1) AND progressive (SOF2) frames with 1 or 3
  components and sampling factors up to 2×2 (so 4:4:4, 4:2:2, 4:4:0,
  4:2:0 and grayscale all decode), restart (DRI/RSTn) intervals, 2^16
  Huffman LUT entropy decode over a precomputed sliding 16-bit window
  (baseline) or a per-bit reader (progressive spectral-selection +
  successive-approximation scans, T.81 G.2 — verified against
  ImageIO-produced multi-scan files in tests/vectors/ext_prog_*),
  vectorized dequantize + IDCT + upsample + color convert. Lossless /
  arithmetic coding and 12-bit precision raise ``ValueError`` — the
  validation engine reports those payloads as violations rather than
  mis-decoding them. There is ONE scan driver (``_decode_scan_into``)
  for both frame kinds: it builds the per-component block template,
  checks each segment's entropy budget and MCU coverage, and hands
  each restart segment to the native kernel (``native/jpegscan.c``,
  ``native/jpegprog.c``, marshalled by ``_native_call_args``) or to
  the Python reference loop it mirrors (``_decode_segment_py``,
  ``_decode_prog_segment_py``).

Determinism: everything is fixed-point-free numpy float64 with
``np.rint`` rounding — identical output across hosts, which the
engine's stored-phash consistency checks rely on. PIL is deliberately
NOT consulted even when present: two decoders (libjpeg's fancy chroma
upsampling vs our replication) would make stored phash values
environment-dependent.

Scale notes: these functions run inside Arrow-batched pandas UDFs on
executors. Entropy decode is a per-symbol Python loop over a 2^16 LUT
(the one inherently sequential part of JPEG); everything before and
after it is vectorized numpy over whole blocks. At validation-thumbnail
sizes the cost is a few ms/image — the engine parallelizes across
images, never within one.

Reference semantics: SMC Checker validates uploaded payloads and
reports undecodable/corrupt files as violations
(/root/reference/proj/core_checks.py digit/format gates); this codec is
the image-payload analogue demanded by BASELINE.json's north star
(decoded-pixel PSNR ≥ 40 dB for lossy formats).
"""

from __future__ import annotations

import struct

import numpy as np

from smcchecker_spark import native as _native

# ---------------------------------------------------------------------------
# Public-spec constants (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

# natural (row-major) order quantization tables
QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
)
QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.float64,
)

# ZIGZAG[k] = natural index of the k-th zigzag-scan element
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K Huffman table definitions: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix — T.81's FDCT/IDCT scaling exactly
    (the 1/4·C_u·C_v normalization of the 2-D transform equals the
    orthonormal 1-D matrix applied on both sides)."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    d = np.cos((2 * n + 1) * k * np.pi / 16)
    d[0] *= np.sqrt(1 / 8)
    d[1:] *= np.sqrt(2 / 8)
    return d


_DCT = _dct_matrix()

# Decode-side IDCT runs in FIXED-POINT integer arithmetic so the native
# kernel (native/jpegrecon.c) and this numpy reference are bit-exact on
# every host — the same doctrine as the entropy-decode kernel: phash
# values must not depend on which path (or which libm/BLAS) decoded the
# image. Constants are round(_dct_matrix() * 2^18) frozen as literals
# (a test pins them against the cos() derivation); stage 1 keeps 6
# guard bits (shift 12 of 18), stage 2 descales the rest (shift 24).
# Error vs the exact real-valued IDCT is < 0.05 of a pixel step —
# comfortably inside IEEE-1180-class accuracy — and every intermediate
# fits int64 even for hostile streams (|coef| ≤ 32767 enforced by the
# scan decoder, qt ≤ 255 ⇒ stage-2 sums ≤ 2.2e15 « 2^63).
_IDCT_BITS = 18
_IDCT_PASS1_SHIFT = 12  # 2^6 scale kept between the passes
_IDCT_PASS2_SHIFT = 2 * _IDCT_BITS - _IDCT_PASS1_SHIFT
_IDCT_M = np.array(
    [
        (92682, 92682, 92682, 92682, 92682, 92682, 92682, 92682),
        (128553, 108982, 72820, 25571, -25571, -72820, -108982, -128553),
        (121095, 50159, -50159, -121095, -121095, -50159, 50159, 121095),
        (108982, -25571, -128553, -72820, 72820, 128553, 25571, -108982),
        (92682, -92682, -92682, 92682, 92682, -92682, -92682, 92682),
        (72820, -128553, 25571, 108982, -108982, -25571, 128553, -72820),
        (50159, -121095, 121095, -50159, -50159, 121095, -121095, 50159),
        (25571, -72820, 108982, -128553, 128553, -108982, 72820, -25571),
    ],
    dtype=np.int64,
)
_IDCT_MT = np.ascontiguousarray(_IDCT_M.T)

# JFIF YCbCr → RGB in 16.16 fixed point (round(c * 65536) of the
# Rec.601 inverse coefficients); same per-term round-half-up in both
# paths. Chroma products use int64: a hostile stream's unclipped plane
# samples can reach ~1.3e8, so 116130 * cr would wrap int32.
_FIX_CR_R = 91881  # 1.402
_FIX_CB_G = 22554  # 0.344136286
_FIX_CR_G = 46802  # 0.714136286
_FIX_CB_B = 116130  # 1.772


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling (public libjpeg convention): 1..100 →
    (luma, chroma) tables in natural order, entries clipped to 1..255
    (baseline requires 8-bit table entries)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 / q if q < 50 else 200 - 2 * q
    lum = np.clip(np.floor((QT_LUMA * scale + 50) / 100), 1, 255)
    chm = np.clip(np.floor((QT_CHROMA * scale + 50) / 100), 1, 255)
    return lum, chm


# ---------------------------------------------------------------------------
# Huffman code construction (canonical, T.81 Annex C)
# ---------------------------------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) by canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _cache_put(cache: dict, key, value, cap: int):
    """Insert into one of the decoder's process-wide caches, clearing it
    first when it holds ``cap`` entries. Real corpora repeat a handful of
    tables and layouts, so the cap only bounds a corpus that mints new
    tables per image (e.g. per-image optimized Huffman tables)."""
    if len(cache) >= cap:
        cache.clear()
    cache[key] = value
    return value


# each entry is a 2^16 int32 array plus a 65,536-int list (~2.6 MB)
_LUT_CACHE: dict[tuple, list[int]] = {}
_LUT_CACHE_MAX = 32


def _build_lut(bits: tuple[int, ...], vals: tuple[int, ...], is_dc: bool):
    """2^16 COMBINED decode LUT: next-16-bits (MSB-aligned) → one packed
    int that resolves the Huffman code AND, whenever code+magnitude fit
    in the window (the overwhelmingly common case), the EXTENDed signed
    coefficient value — so the per-symbol loop pays ONE list index and
    one branch instead of two window reads plus EXTEND arithmetic.

    Entry layout (0 = invalid prefix / corrupt stream)::

        op = e >> 22
        op 1  combined:  advance = e & 31 (code+magnitude bits),
                         run = (e >> 5) & 15, value = ((e >> 9) & 8191) - 2048
        op 2  fallback (code+size don't fit 16 bits): code len = e & 31,
                         size s = (e >> 5) & 15, run = (e >> 9) & 15
        op 3  EOB,  op 4  ZRL: advance = e & 31

    Cached per table content — files reusing the Annex-K tables (ours,
    most encoders) build each LUT once per process."""
    key = (bits, vals, is_dc)
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    packed = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[k]
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            if hi > (1 << 16):
                raise ValueError("corrupt JPEG: Huffman BITS overflow")
            run, s = (0, sym) if is_dc else (sym >> 4, sym & 15)
            if s > (11 if is_dc else 10):
                raise ValueError("corrupt JPEG: bad Huffman size symbol")
            if s == 0:
                if is_dc:  # zero DC diff: combined, value 0
                    packed[lo:hi] = (1 << 22) | (2048 << 9) | length
                elif sym == 0xF0:
                    packed[lo:hi] = (4 << 22) | length  # ZRL
                else:
                    # EOB (run 0) / EOBn (run 1..14, progressive AC
                    # scans: EOB-run of (1<<run)+extra-bits(run) blocks).
                    # The baseline scan loop ignores the run bits — a
                    # sequential scan referencing an EOBn symbol is
                    # spec-invalid and simply ends the block early.
                    packed[lo:hi] = (3 << 22) | (run << 5) | length
            elif length + s <= 16:
                idx = np.arange(lo, hi, dtype=np.int32)
                mag = (idx >> (16 - length - s)) & ((1 << s) - 1)
                val = np.where(mag >> (s - 1), mag, mag - (1 << s) + 1)
                packed[lo:hi] = (
                    (1 << 22) | ((val + 2048) << 9) | (run << 5) | (length + s)
                )
            else:
                packed[lo:hi] = (2 << 22) | (run << 9) | (s << 5) | length
            code += 1
            k += 1
        code <<= 1
    if k != len(vals):
        raise ValueError("corrupt JPEG: Huffman BITS/HUFFVAL mismatch")
    # both forms cached: the Python loop indexes the list (list indexing
    # beats np scalars), the native kernel reads the int32 array directly
    return _cache_put(
        _LUT_CACHE, key, (packed.tolist(), packed), _LUT_CACHE_MAX
    )


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

# RGB -> YCbCr (Rec.601 full-range, JFIF)
_RGB2Y = np.array([0.299, 0.587, 0.114])
_RGB2CB = np.array([-0.168735892, -0.331264108, 0.5])
_RGB2CR = np.array([0.5, -0.418687589, -0.081312411])


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H, W multiples of 8 → (nb, 8, 8) in block-raster order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """(bh*bw, 8, 8) block-raster → (bh*8, bw*8)."""
    return (
        blocks.reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw * 8)
    )


def _pack_bits(vals: np.ndarray, lens: np.ndarray) -> bytes:
    """Vectorized MSB-first bit packer: (values, bit lengths) → bytes,
    1-padded to a byte boundary (T.81 F.1.2.3), 0xFF bytes stuffed with
    0x00. Max symbol length here is 16 (Huffman) + 11 (magnitude) = 27
    bits, so uint32 values suffice."""
    if len(vals) == 0:
        return b""
    maxlen = int(lens.max())
    ar = np.arange(maxlen, dtype=np.int64)
    # bit j of symbol i (MSB first) = (val >> (len-1-j)) & 1, valid j < len
    shifts = lens[:, None].astype(np.int64) - 1 - ar[None, :]
    mask = shifts >= 0
    bits = (
        vals[:, None].astype(np.uint64)
        >> np.where(mask, shifts, 0).astype(np.uint64)
    ) & np.uint64(1)
    flat = bits[mask].astype(np.uint8)  # row-major → stream order
    pad = (-len(flat)) % 8
    if pad:
        flat = np.concatenate([flat, np.ones(pad, dtype=np.uint8)])
    raw = np.packbits(flat).tobytes()
    return raw.replace(b"\xff", b"\xff\x00")


# Annex-K (DC bits, DC vals, AC bits, AC vals) per table class:
# 0 = luma, 1 = chroma
_ANNEX_K = (
    (DC_LUMA_BITS, DC_LUMA_VALS, AC_LUMA_BITS, AC_LUMA_VALS),
    (DC_CHROMA_BITS, DC_CHROMA_VALS, AC_CHROMA_BITS, AC_CHROMA_VALS),
)

_CODE_ARRAYS: tuple | None = None


def _code_arrays():
    """Annex-K Huffman codes as numpy lookup arrays indexed
    [class, symbol]: (dc_code[2, 12], dc_len[2, 12], ac_code[2, 256],
    ac_len[2, 256]). Built once per process."""
    global _CODE_ARRAYS
    if _CODE_ARRAYS is None:
        dc_code = np.zeros((2, 12), dtype=np.uint64)
        dc_len = np.zeros((2, 12), dtype=np.int64)
        ac_code = np.zeros((2, 256), dtype=np.uint64)
        ac_len = np.zeros((2, 256), dtype=np.int64)
        for cls, (dcb, dcv, acb, acv) in enumerate(_ANNEX_K):
            for s, (c, l) in _build_codes(dcb, dcv).items():
                dc_code[cls, s], dc_len[cls, s] = c, l
            for s, (c, l) in _build_codes(acb, acv).items():
                ac_code[cls, s], ac_len[cls, s] = c, l
        _CODE_ARRAYS = (dc_code, dc_len, ac_code, ac_len)
    return _CODE_ARRAYS


_POW2_12 = (1 << np.arange(12, dtype=np.int64))


def _size_mag(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized T.81 F.1.2.1: values → (size category, appended
    magnitude bits). bit_length(|v|) = searchsorted over powers of two
    (exact — no float log)."""
    a = np.abs(v)
    s = np.searchsorted(_POW2_12, a, side="right").astype(np.int64)
    mag = np.where(v >= 0, v, v + (1 << s) - 1).astype(np.int64)
    return s, mag


def _dc_tokens(dc: np.ndarray, cid: np.ndarray, cls: np.ndarray):
    """One DC-differential token per block, blocks in scan order; each
    component's predictor follows its own blocks. Returns (rows, keys,
    subs, vals, lens) — the sort keys ``_entropy_tokens`` merges on."""
    dc_code, dc_len, _, _ = _code_arrays()
    diff = np.empty_like(dc)
    for c in np.unique(cid):
        m = cid == c
        diff[m] = np.diff(dc[m], prepend=0)
    s, mag = _size_mag(diff)
    n = len(dc)
    return (
        np.arange(n, dtype=np.int64),
        np.full(n, -1, dtype=np.int64),
        np.ones(n, dtype=np.int64),
        (dc_code[cls, s] << s.astype(np.uint64)) | mag.astype(np.uint64),
        dc_len[cls, s] + s,
    )


def _ac_tokens(Z: np.ndarray, cls: np.ndarray):
    """AC run-length tokens over zigzag positions 1..63 of every block:
    (run, size) symbols, a ZRL per 16 zeros skipped, and an EOB after
    the last nonzero coefficient unless it sits at position 63. Runs
    come from the nonzero positions (row-major nonzero ⇒ per block in
    zigzag order), ZRLs by np.repeat. Returns (rows, keys, subs, vals,
    lens); a ZRL sorts before the symbol it precedes (sub-key 0)."""
    _, _, ac_code, ac_len = _code_arrays()
    nzb, nzk = np.nonzero(Z[:, 1:])
    first = np.ones(len(nzb), dtype=bool)
    first[1:] = nzb[1:] != nzb[:-1]
    run = nzk - np.where(first, -1, np.roll(nzk, 1)) - 1
    s, mag = _size_mag(Z[:, 1:][nzb, nzk])
    sym = ((run & 15) << 4) | s
    zrl_rows = np.repeat(nzb, run >> 4)
    last_k = np.full(Z.shape[0], -1, dtype=np.int64)
    last_k[nzb] = nzk  # row-major ⇒ last write per block is its max
    eob_rows = np.nonzero(last_k < 62)[0]
    return (
        np.concatenate([zrl_rows, nzb, eob_rows]),
        np.concatenate(
            [np.repeat(nzk, run >> 4), nzk,
             np.full(len(eob_rows), 63, dtype=np.int64)]
        ),
        np.concatenate(
            [np.zeros(len(zrl_rows), dtype=np.int64),
             np.ones(len(nzb) + len(eob_rows), dtype=np.int64)]
        ),
        np.concatenate(
            [ac_code[cls[zrl_rows], 0xF0],
             (ac_code[cls[nzb], sym] << s.astype(np.uint64))
             | mag.astype(np.uint64),
             ac_code[cls[eob_rows], 0]]
        ),
        np.concatenate(
            [ac_len[cls[zrl_rows], 0xF0], ac_len[cls[nzb], sym] + s,
             ac_len[cls[eob_rows], 0]]
        ),
    )


def _entropy_tokens(
    zz_per_comp: list[np.ndarray],
    grids: list[tuple[int, int]],
    sampling: list[tuple[int, int]],
    classes: list[int],
    mcux: int,
    mcuy: int,
    ss: int = 0,
    se: int = 63,
) -> tuple[np.ndarray, np.ndarray]:
    """One scan's entropy-token stream as (values, bit lengths) arrays,
    fully vectorized — no per-coefficient Python (the loop form was ~75%
    of encode time). Blocks are put in MCU order (T.81 A.2.3; a single
    component with 1x1 sampling on an ``mcux``-wide grid is raster
    order, which is how non-interleaved scans are coded), then every
    token is sorted by (block, zigzag position, ZRL-before-symbol
    sub-key) with one lexsort. ``ss``/``se`` pick the band: 0/63 is a
    sequential scan, 0/0 a progressive DC first scan and 1/63 a
    progressive full-band AC scan. ``mcuy`` is implied by the grids."""
    slots_per_mcu = sum(hi * vi for hi, vi in sampling)
    slots, cids = [], []
    offset = 0
    for c, ((bh, bw), (hi, vi)) in enumerate(zip(grids, sampling)):
        byg, bxg = np.divmod(np.arange(bh * bw, dtype=np.int64), bw)
        mcu_id = (byg // vi) * mcux + (bxg // hi)
        ordinal = offset + (byg % vi) * hi + (bxg % hi)
        slots.append(mcu_id * slots_per_mcu + ordinal)
        cids.append(np.full(bh * bw, c, dtype=np.int64))
        offset += hi * vi
    order = np.argsort(np.concatenate(slots), kind="stable")
    Z = np.concatenate(zz_per_comp)[order]
    cid = np.concatenate(cids)[order]
    cls = np.asarray(classes, dtype=np.int64)[cid]
    parts = []
    if ss == 0:
        parts.append(_dc_tokens(Z[:, 0], cid, cls))
    if se > 0:
        parts.append(_ac_tokens(Z, cls))
    rows, keys, subs, vals, lens = (np.concatenate(f) for f in zip(*parts))
    o = np.lexsort((subs, keys, rows))
    return vals[o], lens[o]


def _encode(
    arr: np.ndarray,
    quality: int,
    subsampling: str = "444",
    progressive: bool = False,
    gray: bool = False,
) -> bytes:
    """The one encoder core behind the three public entry points: input
    checks, YCbCr (+ 4:2:0 box-mean chroma), pad → DCT → quantize per
    component, one JFIF header set, then the scans. Only the scan list
    differs between modes: one interleaved full-band scan (baseline; a
    single-component frame's scan is non-interleaved), or the
    progressive script — an interleaved DC first scan, then one
    full-band AC scan per component."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if gray:
        if arr.ndim != 2:
            raise ValueError(f"expected HxW uint8, got {arr.shape}")
    elif arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected HxWx3 uint8, got {arr.shape}")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("JPEG has zero-pixel dimensions")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    qts = quality_tables(quality)

    if gray:
        comps = [(arr.astype(np.float64), (1, 1), 0)]
    else:
        rgb = arr.astype(np.float64)
        y = rgb @ _RGB2Y
        cb = rgb @ _RGB2CB + 128.0
        cr = rgb @ _RGB2CR + 128.0
        if subsampling == "420":
            # 2x2 box mean; pad odd dims by edge replication first
            ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            cb = np.pad(cb, ((0, ph - h), (0, pw - w)), mode="edge")
            cr = np.pad(cr, ((0, ph - h), (0, pw - w)), mode="edge")
            cb = cb.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        hv = (2, 2) if subsampling == "420" else (1, 1)
        comps = [(y, hv, 0), (cb, (1, 1), 1), (cr, (1, 1), 1)]
    hmax, vmax = comps[0][1]
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    sampling = [hv_c for _, hv_c, _ in comps]
    classes = [cls for _, _, cls in comps]

    zz_per_comp, grids = [], []  # grids: (block rows, block cols)
    for plane, (hi, vi), cls in comps:
        bw, bh = mcux * hi, mcuy * vi  # blocks across / down
        padded = np.pad(
            plane,
            ((0, bh * 8 - plane.shape[0]), (0, bw * 8 - plane.shape[1])),
            mode="edge",
        )
        blocks = _to_blocks(padded) - 128.0
        coef = _DCT @ blocks @ _DCT.T
        q = np.rint(coef / qts[cls].reshape(8, 8)).astype(np.int64)
        zz_per_comp.append(q.reshape(-1, 64)[:, ZIGZAG])
        grids.append((bh, bw))

    every = tuple(range(len(comps)))
    if progressive:
        scans = [(every, 0, 0)] + [((c,), 1, 63) for c in every]
    else:
        scans = [(every, 0, 63)]

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    tables = sorted(set(classes))
    out = [
        b"\xff\xd8",
        seg(0xFFE0,
            b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)),
        seg(0xFFDB, b"".join(
            bytes([t]) + bytes(qts[t].astype(np.uint8)[ZIGZAG])
            for t in tables
        )),
        seg(
            0xFFC2 if progressive else 0xFFC0,
            struct.pack(">BHHB", 8, h, w, len(comps)) + b"".join(
                struct.pack(">BBB", c + 1, (hi << 4) | vi, classes[c])
                for c, (hi, vi) in enumerate(sampling)
            ),
        ),
    ]
    for t in tables:
        dcb, dcv, acb, acv = _ANNEX_K[t]
        out.append(seg(0xFFC4, bytes([t]) + bytes(dcb) + bytes(dcv)))
        out.append(seg(0xFFC4, bytes([0x10 | t]) + bytes(acb) + bytes(acv)))
    for sel, ss, se in scans:
        # an AC-only scan names no DC table (Td = 0)
        out.append(seg(0xFFDA, bytes([len(sel)]) + b"".join(
            bytes([c + 1, ((classes[c] if ss == 0 else 0) << 4) | classes[c]])
            for c in sel
        ) + bytes([ss, se, 0])))
        if len(sel) > 1:  # interleaved: every component, padded grids
            tokens = _entropy_tokens(
                zz_per_comp, grids, sampling, classes, mcux, mcuy, ss, se
            )
        else:
            # non-interleaved (T.81 A.2): one block per MCU over the
            # component's OWN ceil(dims/8) grid in raster order — blocks
            # that exist only to pad the frame's MCU grid are not coded
            c = sel[0]
            hi, vi = sampling[c]
            xi = -(-w * hi // hmax)  # T.81 A.1.1 component dims
            yi = -(-h * vi // vmax)
            gw, gh = -(-xi // 8), -(-yi // 8)
            blocks = (
                np.arange(gh, dtype=np.int64)[:, None] * grids[c][1]
                + np.arange(gw, dtype=np.int64)[None, :]
            ).reshape(-1)
            tokens = _entropy_tokens(
                [zz_per_comp[c][blocks]], [(gh, gw)], [(1, 1)],
                [classes[c]], gw, gh, ss, se,
            )
        out.append(_pack_bits(*tokens))
    out.append(b"\xff\xd9")
    return b"".join(out)


def encode_jpeg(
    arr: np.ndarray, quality: int = 95, subsampling: str = "444"
) -> bytes:
    """8-bit RGB HxWx3 array → baseline JFIF JPEG bytes.

    ``subsampling``: "444" (default — every component full resolution;
    highest PSNR, what the validation fixtures want) or "420" (2×2
    box-mean chroma — the common web layout; exercises the decoder's
    generic MCU path)."""
    return _encode(arr, quality, subsampling)


def encode_jpeg_progressive(
    arr: np.ndarray, quality: int = 95, subsampling: str = "444"
) -> bytes:
    """8-bit RGB HxWx3 → PROGRESSIVE (SOF2) JFIF JPEG using the
    simplest spec-valid spectral-selection script: one interleaved DC
    first scan (Ss=0, Se=0) then one full-band AC scan per component
    (Ss=1, Se=63, non-interleaved over the component's own T.81 A.2
    grid), no successive approximation. Same DCT / Annex-K
    quantization as the baseline encoder, so decoded pixels equal the
    baseline encoder's (same subsampling) bit-for-bit — the
    progression only reorders the entropy stream (asserted in tests).
    External decoders (ImageIO) open the output; see
    tests/test_jpeg_vectors.py."""
    return _encode(arr, quality, subsampling, progressive=True)


def encode_jpeg_gray(arr: np.ndarray, quality: int = 95) -> bytes:
    """8-bit grayscale HxW array → single-component baseline JFIF JPEG.
    Web corpora carry grayscale JPEGs; the engine decodes them through
    the same dispatch (replicated to HxWx3 — the table schema is RGB)."""
    return _encode(arr, quality, gray=True)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


# entropy-data window slab: windows are materialized for at most this many
# bytes at a time (~8x36 B of Python ints per byte), so a multi-megabyte
# scan costs a bounded ~40 MB of transient window memory per task instead
# of hundreds of MB — the rest of the scan is windowed on demand.
_WINDOW_CHUNK_BYTES = 1 << 17

# T.81 worst case per 8x8 data unit: 64 coefficients, each ≤16 code bits
# + ≤11 magnitude bits → < 216 bytes. A segment longer than its block
# budget cannot be a valid scan — reject before windowing (hostile
# tiny-dims JPEGs with huge scans would otherwise cost GBs of windows).
_MAX_BYTES_PER_BLOCK = 216


def _window16(seg: bytes, b0: int, b1: int) -> list[int]:
    """Sliding MSB-first 16-bit window at every bit offset in byte range
    [b0, b1) of ``seg`` (16-bit lookahead reads seg[b1:b1+2]; zero-padded
    past the segment end) — 16 vectorized shift-ors, then one tolist()
    so the per-symbol loop indexes Python ints."""
    chunk = seg[b0 : b1 + 2]
    bits = np.unpackbits(np.frombuffer(chunk, dtype=np.uint8))
    nb = 8 * (b1 - b0)
    b = np.concatenate([bits, np.zeros(16, dtype=np.uint8)]).astype(np.uint32)
    w = np.zeros(nb, dtype=np.uint32)
    for k in range(16):
        w |= b[k : k + nb] << (15 - k)
    return w.tolist()


def _extend(mag: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: s appended bits → signed value."""
    return mag if mag >= (1 << (s - 1)) else mag - (1 << s) + 1


# block-count threshold where coefficient storage switches from fast
# list-of-lists (~28 B/coeff) to a compact int32 matrix (4 B/coeff);
# 65536 blocks ≈ a 2048x2048 4:4:4 frame per component
_COMPACT_COEF_BLOCKS = 65536


class _Frame:
    __slots__ = ("h", "w", "comps", "progressive")


# natural-order quant tables cached by DQT payload bytes: a corpus
# reuses a handful of quality-scaled tables, so the unzigzag scatter is
# paid once per distinct table per process (the arrays are shared and
# never mutated; the cap guards hostile one-table-per-image corpora)
_DQT_CACHE: dict[bytes, np.ndarray] = {}
_DQT_CACHE_MAX = 1024


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF JPEG bytes → HxWx3 uint8 (grayscale is replicated
    to 3 channels — the engine's table schema is RGB). Handles
    interleaved and non-interleaved (single-component, T.81 A.2) scans,
    including sequential multi-scan baseline files. Raises
    ``ValueError`` on anything corrupt or non-baseline."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    n = len(data)
    qts: dict[int, np.ndarray] = {}
    luts: dict[tuple[int, int], list[int]] = {}
    frame: _Frame | None = None
    restart = 0
    covered: set[int] = set()
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before the
        # marker code — skip them rather than misreading 0xFF as a marker
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # RSTn/TEM: no payload
            continue
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment")
        seglen = int.from_bytes(data[pos : pos + 2], "big")
        payload = data[pos + 2 : pos + seglen]
        if len(payload) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        pos += seglen
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 15
                if pq != 0:
                    raise ValueError("16-bit quant tables not baseline")
                raw = payload[p + 1 : p + 65]
                if len(raw) != 64:
                    raise ValueError("corrupt JPEG: short DQT")
                nat = _DQT_CACHE.get(raw)
                if nat is None:
                    nat = np.zeros(64, dtype=np.int32)
                    nat[ZIGZAG] = np.frombuffer(raw, dtype=np.uint8)
                    _cache_put(_DQT_CACHE, raw, nat, _DQT_CACHE_MAX)
                qts[tq] = nat
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 15
                bits = tuple(payload[p + 1 : p + 17])
                if len(bits) != 16:
                    raise ValueError("corrupt JPEG: short DHT")
                nv = sum(bits)
                vals = tuple(payload[p + 17 : p + 17 + nv])
                if len(vals) != nv:
                    raise ValueError("corrupt JPEG: short DHT")
                if tc > 1:
                    raise ValueError("corrupt JPEG: bad Huffman table class")
                luts[(tc, th)] = _build_lut(bits, vals, is_dc=(tc == 0))
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext seq / progressive
            if frame is not None:
                raise ValueError("corrupt JPEG: multiple SOF markers")
            prec, fh, fw, nc = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            if fh == 0 or fw == 0:
                raise ValueError("JPEG has zero-pixel dimensions")
            if fh * fw * 3 > (1 << 30):
                raise ValueError("JPEG dimensions exceed the decoded-size cap")
            frame = _Frame()
            frame.h, frame.w = fh, fw
            frame.progressive = marker == 0xC2
            frame.comps = []
            for c in range(nc):
                cid, hvs, tq = payload[6 + 3 * c : 9 + 3 * c]
                hi, vi = hvs >> 4, hvs & 15
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise ValueError(f"unsupported sampling {hi}x{vi}")
                frame.comps.append({"id": cid, "hi": hi, "vi": vi, "tq": tq})
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "lossless/arithmetic/hierarchical JPEG not supported"
            )
        elif marker == 0xDD:  # DRI
            restart = int.from_bytes(payload[:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = payload[0]
            if not (1 <= ns <= len(frame.comps)):
                raise ValueError("corrupt JPEG: bad scan component count")
            scan_list = []  # (cid, dc table id, ac table id) in SOS order
            for c in range(ns):
                cid, tt = payload[1 + 2 * c : 3 + 2 * c]
                scan_list.append((cid, tt >> 4, tt & 15))
            if len(payload) < 4 + 2 * ns:
                raise ValueError("corrupt JPEG: short SOS header")
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            # entropy data runs to the next non-RST/non-stuffed marker.
            # Unstuffing hops between 0xFF positions with bytes.find and
            # slice-copies the (overwhelmingly non-FF) runs in between —
            # the per-byte Python loop this replaces was ~20% of decode.
            segs: list[bytes] = []
            cur = bytearray()
            p = pos
            while p < n:
                f = data.find(b"\xff", p)
                if f == -1:
                    cur += data[p:]
                    p = n
                    break
                cur += data[p:f]
                b1 = data[f + 1] if f + 1 < n else 0xD9
                if b1 == 0x00:
                    cur.append(0xFF)
                    p = f + 2
                elif 0xD0 <= b1 <= 0xD7:
                    segs.append(bytes(cur))
                    cur = bytearray()
                    p = f + 2
                else:
                    p = f
                    break
            segs.append(bytes(cur))
            pos = p
            _decode_scan_into(
                frame, luts, scan_list, segs, restart, covered, ss, se, ah, al
            )
        # APPn/COM/other: skipped
    if frame is None or not covered:
        raise ValueError("corrupt JPEG: no decoded scan")
    if covered != {c["id"] for c in frame.comps}:
        raise ValueError("corrupt JPEG: component never scanned")
    return _reconstruct(frame, qts)


def _ensure_coef(
    frame, mcux: int, mcuy: int, force_compact: bool = False
) -> None:
    """Allocate per-component coefficient stores once per frame (shared
    across the scans of a multi-scan file).

    Storage: list-of-lists is the fastest thing the PYTHON symbol loop
    can write into, but costs ~28 bytes/int — a hostile header claiming
    max-cap dims would transiently need >20 GB on an executor. Above a
    block threshold, store rows in a compact int32 matrix (4 B/coeff,
    ~1.3x the decoded-pixel bytes); thumbnails keep the fast path. The
    native kernel writes int32 directly, so it forces compact stores at
    every size."""
    comps = frame.comps
    if "coef" in comps[0]:
        return
    compact = force_compact or (
        sum(mcux * c["hi"] * mcuy * c["vi"] for c in comps)
        > _COMPACT_COEF_BLOCKS
    )
    for c in comps:
        c["bw"] = mcux * c["hi"]
        c["bh"] = mcuy * c["vi"]
        nb = c["bw"] * c["bh"]
        if compact:
            c["coef"] = np.zeros((nb, 64), dtype=np.int32)
            # raw pointer recorded once: the scan and reconstruct
            # kernels both reuse it (ndarray.ctypes is ~1 µs a pop)
            c["coef_ptr"] = c["coef"].ctypes.data
        else:
            c["coef"] = [[0] * 64 for _ in range(nb)]


def _lut(luts, tc: int, th: int):
    """The (list, int32 array) decode LUT pair for table (class, slot)."""
    pair = luts.get((tc, th))
    if pair is None:
        raise ValueError("corrupt JPEG: missing Huffman table")
    return pair


def _decode_scan_into(
    frame, luts, scan_list, segs, restart, covered, ss, se, ah, al
):
    """Decode one scan's entropy data into the frame's coefficient
    stores — the one scan driver for both frame kinds. Interleaved
    (multi-component) scans walk the full-frame MCU grid; a
    single-component scan is non-interleaved per T.81 A.2 — one data
    unit per MCU over the component's own ceil(x_i/8) x ceil(y_i/8)
    block grid. The frame kind picks the Huffman tables each scan
    component needs and the segment decoder: the native kernel when it
    loaded, else the Python reference loop. Sequential scans ignore
    Ss/Se/Ah/Al; progressive scans (T.81 G.2) are one of DC first
    (Ss=0, Ah=0 — interleaved allowed), DC refinement (Ah>0 — one
    appended bit per block, no Huffman table), AC first (Ss>0, Ah=0 —
    spectral band with EOB-run coding, single component only) or AC
    refinement (correction bits, libjpeg jdphuff-equivalent)."""
    h, w = frame.h, frame.w
    comps = frame.comps
    byid = {c["id"]: c for c in comps}
    hmax = max(c["hi"] for c in comps)
    vmax = max(c["vi"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    if frame.progressive:
        native = _native.jpegprog()
        _ensure_coef(
            frame, mcux, mcuy,
            force_compact=(
                native is not None or _native.jpegrecon() is not None
            ),
        )
        if ss > se or se > 63 or al > 13 or (ah and ah != al + 1):
            raise ValueError("corrupt JPEG: bad progressive scan header")
        is_dc = ss == 0
        if is_dc and se != 0:
            raise ValueError("corrupt JPEG: bad progressive scan header")
        if not is_dc and len(scan_list) > 1:
            raise ValueError("corrupt JPEG: interleaved progressive AC scan")

        def tables(cid, td, ta):
            if not is_dc:
                return (_lut(luts, 1, ta),)
            covered.add(cid)
            # DC refinement needs no Huffman table
            return (None,) if ah else (_lut(luts, 0, td),)

        decode_py = _decode_prog_segment_py
        scan_args = (ss, se, ah, al, int(is_dc))
    else:
        native = _native.jpegscan()
        _ensure_coef(frame, mcux, mcuy, force_compact=native is not None)

        def tables(cid, td, ta):
            if cid in covered:
                raise ValueError("corrupt JPEG: component scanned twice")
            covered.add(cid)
            return _lut(luts, 0, td), _lut(luts, 1, ta)

        decode_py = _decode_segment_py
        scan_args = ()
    # a python-path frame of a multi-scan file may hold list stores;
    # the native kernels need int32 matrices — fall back in that case
    if native is not None and not isinstance(comps[0]["coef"], np.ndarray):
        native = None

    # per-component template: (LUT pairs, coef store, rowstep, colstep,
    # offs, coef ptr); block index = my*rowstep + mx*colstep + off
    interleaved = len(scan_list) > 1
    tmpl = []
    scan_mcux, scan_total = mcux, mcux * mcuy
    for cid, td, ta in scan_list:
        c = byid.get(cid)
        if c is None:
            raise ValueError("corrupt JPEG: scan component not in frame")
        pairs = tables(cid, td, ta)
        bw = c["bw"]
        if interleaved:
            hi_, vi_ = c["hi"], c["vi"]
            offs = [by * bw + bx for by in range(vi_) for bx in range(hi_)]
            tmpl.append((pairs, c["coef"], vi_ * bw, hi_, offs,
                         c.get("coef_ptr")))
        else:
            xi = -(-w * c["hi"] // hmax)  # T.81 A.1.1 component dims
            yi = -(-h * c["vi"] // vmax)
            scan_mcux = -(-xi // 8)
            scan_total = scan_mcux * (-(-yi // 8))
            tmpl.append((pairs, c["coef"], bw, 1, [0], c.get("coef_ptr")))

    blocks_per_mcu = sum(len(t[4]) for t in tmpl)
    per_seg = restart if restart else scan_total
    if native is not None:
        call = _native_call_args(native, tmpl, scan_args)
    mcu = 0
    for seg_bytes in segs:
        if mcu >= scan_total:
            break
        seg_end = min(mcu + per_seg, scan_total)
        # reject segments beyond the worst-case entropy budget BEFORE
        # windowing: bounded window memory is only meaningful if a
        # hostile scan can't make us walk gigabytes of it
        if len(seg_bytes) > (seg_end - mcu) * blocks_per_mcu * \
                _MAX_BYTES_PER_BLOCK + 64:
            raise ValueError(
                "corrupt JPEG: entropy segment exceeds worst-case budget"
            )
        if native is not None:
            rc = call(seg_bytes, mcu, seg_end, scan_mcux)
            if rc < 0:
                raise ValueError(_NATIVE_ERRORS.get(
                    rc, f"corrupt JPEG: native decode error {rc}"
                ))
        else:
            decode_py(seg_bytes, mcu, seg_end, scan_mcux, tmpl, *scan_args)
        mcu = seg_end
    if mcu < scan_total:
        raise ValueError("corrupt JPEG: missing MCUs")


_NATIVE_ERRORS = {
    -1: "corrupt JPEG: bad Huffman code",
    -2: "corrupt JPEG: scan underrun",
    -3: "corrupt JPEG: AC overrun",
    -4: "corrupt JPEG: DC predictor overflow",
    -5: "corrupt JPEG: bad scan component count",
    -6: "corrupt JPEG: bad refinement coefficient",
}

# contiguous uint8 zigzag table both segment kernels index
_ZIGZAG_U8 = np.ascontiguousarray(ZIGZAG.astype(np.uint8))

# scan-structure marshalling cache: every field of the kernel call
# except the coefficient-store pointers depends only on the Huffman
# tables and the scan geometry — which repeat across a whole corpus
# (Annex-K tables, a handful of sampling layouts and progression
# scripts) — so the numpy/ctypes marshalling (~40 µs) is paid once per
# distinct structure per process, not once per image. Each entry keeps
# the arrays it points into alive, LUT arrays included, so the LUT ids in
# its key cannot be reused while it exists.
_SCAN_STRUCT_CACHE: dict[tuple, tuple] = {}
_SCAN_STRUCT_CACHE_MAX = 64


def _native_call_args(native, tmpl, scan_args):
    """Marshal one scan's template into a closure over a segment
    kernel — per-segment calls then only pass (bytes, mcu range).
    jpegscan takes a DC and an AC LUT array per slot; jpegprog takes one
    LUT array (NULL for DC refinement) and ``scan_args`` (Ss, Se, Ah,
    Al, is_dc) after the zigzag table."""
    import ctypes

    n = len(tmpl)
    key = tuple(
        (tuple(id(p[1]) if p is not None else None for p in t[0]),
         t[2], t[3], tuple(t[4]))
        for t in tmpl
    )
    hit = _SCAN_STRUCT_CACHE.get(key)
    if hit is None:
        lut_ptrs = [
            (ctypes.c_void_p * n)(
                *[(t[0][j][1].ctypes.data if t[0][j] is not None else None)
                  for t in tmpl]
            )
            for j in range(len(tmpl[0][0]))
        ]
        rowstep = np.array([t[2] for t in tmpl], dtype=np.int64)
        colstep = np.array([t[3] for t in tmpl], dtype=np.int64)
        offs_flat = np.array(
            [o for t in tmpl for o in t[4]], dtype=np.int64
        )
        noffs = np.array([len(t[4]) for t in tmpl], dtype=np.int64)
        offbase = np.concatenate([[0], np.cumsum(noffs)[:-1]]).astype(
            np.int64
        )
        hit = (
            lut_ptrs,
            (rowstep.ctypes.data, colstep.ctypes.data,
             offs_flat.ctypes.data, offbase.ctypes.data,
             noffs.ctypes.data, _ZIGZAG_U8.ctypes.data),
            (rowstep, colstep, offs_flat, noffs, offbase,
             [p[1] for t in tmpl for p in t[0] if p is not None]),
        )
        _cache_put(_SCAN_STRUCT_CACHE, key, hit, _SCAN_STRUCT_CACHE_MAX)
    lut_ptrs, geometry, _keep = hit
    coef_ptrs = (ctypes.c_void_p * n)(*[t[5] for t in tmpl])
    args = (n, *lut_ptrs, coef_ptrs, *geometry, *scan_args)

    # ``_hold`` keeps the marshalled arrays alive for the closure's life
    # even if a later insert clears the cache
    def call(seg_bytes: bytes, mcu: int, seg_end: int, scan_mcux: int,
             _hold=hit):
        return native(
            seg_bytes, len(seg_bytes), mcu, seg_end, scan_mcux, *args
        )

    return call


def _decode_segment_py(seg_bytes, mcu, seg_end, scan_mcux, tmpl):
    """Reference Python symbol loop over one sequential-scan entropy
    segment — the always-available fallback the jpegscan kernel is
    property-tested against (bit-exact coefficient parity)."""
    zz = ZIGZAG.tolist()
    chunk = _WINDOW_CHUNK_BYTES
    slots = [
        (dc[0], ac[0], coef, rowstep, colstep, offs)
        for (dc, ac), coef, rowstep, colstep, offs, _ in tmpl
    ]
    nbits = 8 * len(seg_bytes)
    # window slab state: wv covers bits [lo, hi_b); refilled on demand
    lo = hi_b = 0
    wv: list[int] = []
    p = 0
    preds = [0] * len(slots)
    while mcu < seg_end:
        my, mx = divmod(mcu, scan_mcux)
        ti = 0
        for dc_lut, ac_lut, coef, rowstep, colstep, offs in slots:
            base = my * rowstep + mx * colstep
            for off in offs:
                blk = coef[base + off]
                # ---- DC ----
                if p >= hi_b:
                    if p >= nbits:
                        raise ValueError("corrupt JPEG: scan underrun")
                    b0 = p >> 3
                    b1 = min(b0 + chunk, len(seg_bytes))
                    lo, hi_b = 8 * b0, 8 * b1
                    wv = _window16(seg_bytes, b0, b1)
                e = dc_lut[wv[p - lo]]
                if e == 0:
                    raise ValueError("corrupt JPEG: bad Huffman code")
                op = e >> 22
                p += e & 31
                if op == 1:
                    d = ((e >> 9) & 8191) - 2048
                else:  # fallback: magnitude bits beyond the window
                    s = (e >> 5) & 15
                    if p >= hi_b:
                        if p >= nbits:
                            raise ValueError("corrupt JPEG: scan underrun")
                        b0 = p >> 3
                        b1 = min(b0 + chunk, len(seg_bytes))
                        lo, hi_b = 8 * b0, 8 * b1
                        wv = _window16(seg_bytes, b0, b1)
                    mag = wv[p - lo] >> (16 - s)
                    p += s
                    d = mag if mag >> (s - 1) else mag - (1 << s) + 1
                pred = preds[ti] + d
                # valid 8-bit baseline DC stays within ±2048; a runaway
                # predictor only happens on corrupt streams and would
                # overflow the compact int32 store (OverflowError ≠ the
                # ValueError contract)
                if not (-32768 <= pred <= 32767):
                    raise ValueError("corrupt JPEG: DC predictor overflow")
                preds[ti] = pred
                blk[0] = pred
                # ---- AC ----
                k = 1
                while k < 64:
                    if p >= hi_b:
                        if p >= nbits:
                            raise ValueError("corrupt JPEG: scan underrun")
                        b0 = p >> 3
                        b1 = min(b0 + chunk, len(seg_bytes))
                        lo, hi_b = 8 * b0, 8 * b1
                        wv = _window16(seg_bytes, b0, b1)
                    e = ac_lut[wv[p - lo]]
                    if e == 0:
                        raise ValueError("corrupt JPEG: bad Huffman code")
                    op = e >> 22
                    p += e & 31
                    if op == 1:  # combined code+value
                        k += (e >> 5) & 15
                        if k > 63:
                            raise ValueError("corrupt JPEG: AC overrun")
                        blk[zz[k]] = ((e >> 9) & 8191) - 2048
                        k += 1
                    elif op == 3:  # EOB
                        break
                    elif op == 4:  # ZRL
                        k += 16
                    else:  # fallback
                        s = (e >> 5) & 15
                        k += (e >> 9) & 15
                        if k > 63:
                            raise ValueError("corrupt JPEG: AC overrun")
                        if p >= hi_b:
                            if p >= nbits:
                                raise ValueError(
                                    "corrupt JPEG: scan underrun"
                                )
                            b0 = p >> 3
                            b1 = min(b0 + chunk, len(seg_bytes))
                            lo, hi_b = 8 * b0, 8 * b1
                            wv = _window16(seg_bytes, b0, b1)
                        mag = wv[p - lo] >> (16 - s)
                        p += s
                        blk[zz[k]] = (
                            mag if mag >> (s - 1) else mag - (1 << s) + 1
                        )
                        k += 1
            ti += 1
        mcu += 1


class _SegReader:
    """MSB-first bit reader over one unstuffed entropy segment for the
    progressive path. The accumulator never holds more than ~24 bits
    (Python ints, no windows) — progressive scans are decoded per-bit
    anyway, so the baseline path's 16-bit window slabs buy nothing here.
    Reads past the segment end see zero bits (byte-alignment padding);
    more than 64 phantom bits means the stream truly underran."""

    __slots__ = ("data", "n", "pos", "acc", "cnt", "pad")

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        self.pos = 0
        self.acc = 0
        self.cnt = 0
        self.pad = 0

    def _fill(self, k: int) -> None:
        while self.cnt < k:
            if self.pos < self.n:
                self.acc = (self.acc << 8) | self.data[self.pos]
                self.pos += 1
            else:
                self.acc <<= 8
                self.pad += 8
                if self.pad > 64:
                    raise ValueError("corrupt JPEG: scan underrun")
            self.cnt += 8

    def peek16(self) -> int:
        if self.cnt < 16:
            self._fill(16)
        return (self.acc >> (self.cnt - 16)) & 0xFFFF

    def skip(self, k: int) -> None:  # only after peek16, so cnt >= 16 >= k
        self.cnt -= k
        self.acc &= (1 << self.cnt) - 1

    def receive(self, k: int) -> int:
        if k == 0:
            return 0
        if self.cnt < k:
            self._fill(k)
        self.cnt -= k
        v = (self.acc >> self.cnt) & ((1 << k) - 1)
        self.acc &= (1 << self.cnt) - 1
        return v


def _decode_prog_segment_py(
    seg_bytes, mcu, seg_end, scan_mcux, tmpl, ss, se, ah, al, is_dc
):
    """Reference Python symbol loop over one progressive-scan entropy
    segment (the four scan kinds of ``_decode_scan_into``) — the
    fallback the jpegprog kernel is property-tested against. DC
    predictors and the EOB run reset per segment."""
    zz = ZIGZAG.tolist()
    p1, m1 = 1 << al, -1 << al
    slots = [
        (pairs[0][0] if pairs[0] is not None else None, coef, rowstep,
         colstep, offs)
        for pairs, coef, rowstep, colstep, offs, _ in tmpl
    ]
    rd = _SegReader(seg_bytes)
    preds = [0] * len(slots)
    eobrun = 0
    while mcu < seg_end:
        my, mx = divmod(mcu, scan_mcux)
        for ti, (lut, coef, rowstep, colstep, offs) in enumerate(slots):
            base = my * rowstep + mx * colstep
            for off in offs:
                blk = coef[base + off]
                if is_dc:
                    if ah == 0:  # DC first scan
                        e = lut[rd.peek16()]
                        if e == 0:
                            raise ValueError("corrupt JPEG: bad Huffman code")
                        rd.skip(e & 31)
                        if e >> 22 == 1:
                            d = ((e >> 9) & 8191) - 2048
                        else:
                            s = (e >> 5) & 15
                            d = _extend(rd.receive(s), s)
                        pred = preds[ti] + d
                        if not (-32768 <= pred <= 32767):
                            raise ValueError(
                                "corrupt JPEG: DC predictor overflow"
                            )
                        preds[ti] = pred
                        blk[0] = pred << al
                    else:  # DC refinement: append one bit
                        if rd.receive(1):
                            blk[0] = int(blk[0]) | p1
                elif ah == 0:  # AC first scan (spectral band)
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        e = lut[rd.peek16()]
                        if e == 0:
                            raise ValueError("corrupt JPEG: bad Huffman code")
                        op = e >> 22
                        rd.skip(e & 31)
                        if op == 1:  # combined run/value
                            k += (e >> 5) & 15
                            if k > se:
                                raise ValueError("corrupt JPEG: AC overrun")
                            blk[zz[k]] = (((e >> 9) & 8191) - 2048) << al
                            k += 1
                        elif op == 3:  # EOB / EOBn
                            r = (e >> 5) & 15
                            eobrun = (1 << r) - 1 + rd.receive(r)
                            break
                        elif op == 4:  # ZRL
                            k += 16
                        else:  # fallback: magnitude past window
                            s = (e >> 5) & 15
                            k += (e >> 9) & 15
                            if k > se:
                                raise ValueError("corrupt JPEG: AC overrun")
                            blk[zz[k]] = _extend(rd.receive(s), s) << al
                            k += 1
                else:  # AC refinement (T.81 G.2.2 / jdphuff)
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            e = lut[rd.peek16()]
                            if e == 0:
                                raise ValueError(
                                    "corrupt JPEG: bad Huffman code"
                                )
                            op = e >> 22
                            rd.skip(e & 31)
                            if op == 3:  # EOB / EOBn run begins
                                r = (e >> 5) & 15
                                eobrun = (1 << r) + rd.receive(r)
                                break
                            if op == 4:  # ZRL: 16 zero-history slots
                                run, newval = 15, 0
                            elif op == 1:
                                run = (e >> 5) & 15
                                v = ((e >> 9) & 8191) - 2048
                                if v not in (1, -1):
                                    raise ValueError(
                                        "corrupt JPEG: bad refinement "
                                        "coefficient"
                                    )
                                newval = p1 if v > 0 else m1
                            else:  # fallback form of (run, s=1)
                                s = (e >> 5) & 15
                                run = (e >> 9) & 15
                                if s != 1:
                                    raise ValueError(
                                        "corrupt JPEG: bad refinement "
                                        "coefficient"
                                    )
                                newval = p1 if rd.receive(1) else m1
                            # advance over `run` zero-history slots,
                            # appending correction bits to nonzero ones
                            while k <= se:
                                z = zz[k]
                                cur = int(blk[z])
                                if cur:
                                    if rd.receive(1) and not (cur & p1):
                                        blk[z] = cur + (p1 if cur > 0 else m1)
                                else:
                                    if run == 0:
                                        break
                                    run -= 1
                                k += 1
                            if op != 4:
                                if k > se:
                                    raise ValueError(
                                        "corrupt JPEG: AC overrun"
                                    )
                                blk[zz[k]] = newval
                            k += 1
                    if eobrun:
                        # EOB region: correction bits only
                        while k <= se:
                            z = zz[k]
                            cur = int(blk[z])
                            if cur:
                                if rd.receive(1) and not (cur & p1):
                                    blk[z] = cur + (p1 if cur > 0 else m1)
                            k += 1
                        eobrun -= 1
        mcu += 1


def _reconstruct(frame, qts):
    """Coefficient stores → HxWx3 uint8 via the fixed-point integer
    pipeline (dequant → two-pass integer IDCT → +128 → replication
    upsample → 16.16 integer color convert → clip). Dispatches to the
    native kernel when available; this numpy body is the bit-exact
    reference it is property-tested against."""
    comps = frame.comps
    for c in comps:
        if c["tq"] not in qts:
            raise ValueError("corrupt JPEG: missing quant table")
    native = _native.jpegrecon()
    if native is not None and isinstance(comps[0]["coef"], np.ndarray):
        return _reconstruct_native(native, frame, qts)
    h, w = frame.h, frame.w
    hmax = max(c["hi"] for c in comps)
    vmax = max(c["vi"] for c in comps)
    planes = []
    for c in comps:
        coef = np.asarray(c["coef"], dtype=np.int64) * qts[c["tq"]]
        t1 = (
            np.matmul(_IDCT_MT, coef.reshape(-1, 8, 8))
            + (1 << (_IDCT_PASS1_SHIFT - 1))
        ) >> _IDCT_PASS1_SHIFT
        blocks = (
            (np.matmul(t1, _IDCT_M) + (1 << (_IDCT_PASS2_SHIFT - 1)))
            >> _IDCT_PASS2_SHIFT
        ) + 128
        plane = _from_blocks(blocks, c["bh"], c["bw"])
        # crop to the component's own sampled dims, then upsample by
        # replication to full frame size
        ch = -(-h * c["vi"] // vmax)
        cw = -(-w * c["hi"] // hmax)
        plane = plane[:ch, :cw]
        if c["vi"] != vmax or c["hi"] != hmax:
            plane = np.repeat(
                np.repeat(plane, vmax // c["vi"], axis=0),
                hmax // c["hi"],
                axis=1,
            )
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = planes[0]
        rgb = np.stack([y, y, y], axis=-1)
    else:
        y, cb, cr = planes
        cb = cb - 128
        cr = cr - 128
        rgb = np.stack(
            [
                y + ((_FIX_CR_R * cr + 32768) >> 16),
                y - ((_FIX_CB_G * cb + _FIX_CR_G * cr + 32768) >> 16),
                y + ((_FIX_CB_B * cb + 32768) >> 16),
            ],
            axis=-1,
        )
    return np.clip(rgb, 0, 255).astype(np.uint8)


# quant tables marshalled once per table content for the native kernel
# (real corpora reuse a handful of quality-scaled tables; the cap only
# guards against a hostile corpus minting a new table per image)
_QT_I32_CACHE: dict[bytes, np.ndarray] = {}
_QT_I32_CACHE_MAX = 1024


# frame-geometry marshalling cache: (geo ptr, offs ptr, scratch size)
# per (bw, bh, sx, sy)-tuple — a corpus repeats a handful of layouts
_GEO_CACHE: dict[tuple, tuple] = {}
_GEO_CACHE_MAX = 4096


def _reconstruct_native(native, frame, qts):
    """Marshal one frame into the jpegrecon kernel. The kernel computes
    the identical integer pipeline in one call: per-component IDCT into
    an int32 scratch plane, then the fused upsample + color-convert +
    clip pass straight into the uint8 output. Everything reusable
    (geometry arrays, int32 quant tables, the IDCT constant table) is
    marshalled once per distinct structure per process; only the
    coefficient/scratch/output pointers are per-image."""
    import ctypes

    h, w = frame.h, frame.w
    comps = frame.comps
    n = len(comps)
    hmax = max(c["hi"] for c in comps)
    vmax = max(c["vi"] for c in comps)
    coef_ptrs = (ctypes.c_void_p * n)(
        *[c["coef_ptr"] for c in comps]
    )
    qt_ptrs = (ctypes.c_void_p * n)()
    for i, c in enumerate(comps):
        qkey = qts[c["tq"]].tobytes()
        hit = _QT_I32_CACHE.get(qkey)
        if hit is None:
            qt = np.ascontiguousarray(qts[c["tq"]], dtype=np.int32)
            hit = _cache_put(
                _QT_I32_CACHE, qkey, (qt, qt.ctypes.data), _QT_I32_CACHE_MAX
            )
        qt_ptrs[i] = hit[1]
    gkey = tuple(
        (c["bw"], c["bh"], hmax // c["hi"], vmax // c["vi"])
        for c in comps
    )
    ghit = _GEO_CACHE.get(gkey)
    if ghit is None:
        geo = np.empty(4 * n, dtype=np.int64)  # bw, bh, sx, sy per comp
        offs = np.empty(n + 1, dtype=np.int64)
        offs[0] = 0
        for i, (bw_, bh_, fx, fy) in enumerate(gkey):
            geo[4 * i] = bw_
            geo[4 * i + 1] = bh_
            # replication factors are 1 or 2 (enforced at SOF), stored
            # as shifts: x >> sx / y >> sy index the component plane
            geo[4 * i + 2] = fx - 1
            geo[4 * i + 3] = fy - 1
            offs[i + 1] = offs[i] + (bh_ * 8) * (bw_ * 8)
        ghit = _cache_put(
            _GEO_CACHE, gkey,
            (geo.ctypes.data, offs.ctypes.data, int(offs[n]), geo, offs),
            _GEO_CACHE_MAX,
        )
    p_geo, p_offs, scratch_n = ghit[0], ghit[1], ghit[2]
    scratch = np.empty(scratch_n, dtype=np.int32)
    out = np.empty((h, w, 3), dtype=np.uint8)
    rc = native(
        coef_ptrs, qt_ptrs, p_geo, p_offs, n, h, w,
        scratch.ctypes.data, _IDCT_M.ctypes.data, out.ctypes.data,
    )
    if rc != 0:
        raise ValueError(f"corrupt JPEG: native reconstruct error {rc}")
    return out
