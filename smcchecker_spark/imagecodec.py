"""Deterministic image codecs for payload validation — numpy + stdlib only.

This container has no PIL/libjpeg/libwebp, so:

- **PNG is real.** ``encode_png``/``decode_png`` implement the PNG spec
  (8-bit RGB, all five scanline filters on decode, filter 0 on encode)
  with zlib + CRC32 from the stdlib. Payloads round-trip losslessly and
  are valid PNG files any external tool can open.
- **JPEG is real** (:mod:`smcchecker_spark.jpegcodec`): a from-scratch
  baseline JFIF codec (DCT, Annex-K quantization + Huffman) in pure
  numpy — any payload with JPEG magic that is not the FAKE-LOSSY
  stand-in decodes through it, including externally-produced baseline
  files (4:4:4/4:2:2/4:2:0/grayscale). PIL is deliberately NOT used even
  when present: stored phash values must not depend on which decoder an
  executor happens to have (libjpeg's fancy chroma upsampling differs
  from our replication upsampling).
- **FAKE-LOSSY remains as a cheap stand-in** inside a JPEG wrapper
  (``FLSY`` tag): quantize-then-deflate, PSNR ≈ 46 dB. The 2M-image
  bench corpus keeps it so the headline img/s series stays comparable
  across rounds and measures the ENGINE, not Python entropy decode; the
  real-JPEG path has its own fixture + query + throughput metric.
- **WebP lossless is real** (:mod:`smcchecker_spark.webpcodec`): a
  from-scratch VP8L codec — prefix codes, LZ77, color cache, all four
  transforms on decode; literal-coded spec-valid encode. Lossy ``VP8``
  and extended ``VP8X`` payloads are reported as violations (honest —
  decoding VP8's arithmetic-coded predictive format is out of scope).

phash is a 64-bit average-hash (8×8 block-mean luma vs its mean), chosen
over DCT-phash to stay pure-numpy; it is deterministic and stable across
the fake-lossy round-trip, which is what the consistency check needs.

These functions run inside Arrow-batched pandas UDFs on executors — keep
imports light and everything vectorized per-image (numpy), no per-pixel
Python.
"""

from __future__ import annotations

import struct
import zlib
from functools import lru_cache

import numpy as np

try:  # real codecs if ever available; never required
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

PNG_SIG = b"\x89PNG\r\n\x1a\n"
JPEG_SOI = b"\xff\xd8\xff"
JPEG_EOI = b"\xff\xd9"
FAKE_LOSSY_TAG = b"FLSY"  # marks our stand-in payload inside the JPEG wrapper
FAKE_LOSSY_BITS = 6  # keep 6 of 8 bits/channel → PSNR ≈ 46 dB

FMT_PNG = "png"
FMT_JPEG = "jpeg"
FMT_WEBP = "webp"


# ---------------------------------------------------------------------------
# PNG (real)
# ---------------------------------------------------------------------------


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png(arr: np.ndarray) -> bytes:
    """8-bit RGB HxWx3 array → PNG bytes (filter 0, one IDAT)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected HxWx3 uint8, got {arr.shape}")
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # depth 8, color RGB
    # prepend filter byte 0 to each scanline
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = arr.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, w: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filters 0-4. raw: (h, 1+w*bpp) bytes.

    Fast path: our own encoder (and many minimal encoders) emit filter 0
    on every scanline — then unfiltering is a pure slice, no per-row
    Python. The general loop below handles arbitrary external PNGs."""
    if not raw[:, 0].any():  # all scanlines filter 0
        return np.ascontiguousarray(raw[:, 1:])
    out = np.zeros((h, w * bpp), dtype=np.uint8)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(w * bpp, np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, w * bpp):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for x in range(w * bpp):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for x in range(w * bpp):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
    return out


# Per-image decoded-pixel ceiling (1 GiB). Validation executors process
# UNTRUSTED payloads; a header claiming absurd dims must be rejected
# before any proportional allocation happens.
MAX_PIXEL_BYTES = 1 << 30


def _inflate_exact(body: bytes, expected: int, what: str) -> bytes:
    """Bounded zlib inflate: the decoders know the pixel-buffer size from
    the header BEFORE inflating, so cap decompression at that size — an
    executor validating hostile payloads must never materialize a
    decompression bomb (a few-KB body claiming small dims can otherwise
    inflate to GBs before the post-hoc size check). Wrong-size streams
    (incl. truncated deflate data) raise the same ValueError the length
    check used to."""
    if expected > MAX_PIXEL_BYTES:
        raise ValueError(f"{what} dimensions exceed the decoded-size cap")
    d = zlib.decompressobj()
    # max_length=0 means UNLIMITED to zlib — degenerate 0-pixel headers
    # must still bound the inflate (1 byte is enough to prove excess)
    out = d.decompress(body, expected or 1)
    if len(out) != expected or d.unconsumed_tail or not d.eof:
        raise ValueError(f"{what} pixel payload has wrong size")
    return out


def _pixels_from_scanlines(buf: bytes, w: int, h: int) -> np.ndarray:
    """Shared decode tail: decompressed scanline bytes → HxWx3 uint8."""
    if w == 0 or h == 0:
        # zero-pixel dimensions are rejected (not decoded to an empty
        # array): the batch hashers size their per-shape stacks by the
        # pixel count, and a validation engine should flag, not
        # propagate, a degenerate image
        raise ValueError("PNG has zero-pixel dimensions")
    rowlen = 1 + w * 3
    if len(buf) != h * rowlen:
        raise ValueError("PNG pixel payload has wrong size")
    if buf[0::rowlen] == bytes(h):
        # all scanlines filter 0 (what our encoder emits): checked on the
        # bytes object — a strided bytes slice + compare beats a numpy
        # column reduction at thumbnail sizes
        raw = np.frombuffer(buf, dtype=np.uint8).reshape(h, rowlen)
        return np.ascontiguousarray(raw[:, 1:]).reshape(h, w, 3)
    raw = np.frombuffer(buf, dtype=np.uint8).reshape(h, rowlen)
    return _unfilter(raw, h, w, 3).reshape(h, w, 3)


# Fixed byte layout emitted by encode_png: SIG + IHDR(13) + one IDAT +
# IEND. decode_png takes a slice-compare fast path when a payload has
# exactly this shape (no chunk-walk loop); anything else — multi-IDAT,
# ancillary chunks, wrong depth/color, bad CRC — falls through to the
# generic spec-compliant loop, which raises the same errors it always
# did. CRC validation is performed on BOTH paths.
_IHDR_PREFIX = b"\x00\x00\x00\rIHDR"
_IEND_CHUNK = b"\x00\x00\x00\x00IEND\xaeB`\x82"


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → HxWx3 uint8. Supports 8-bit RGB (what we emit)."""
    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    if data[8:16] == _IHDR_PREFIX and data[37:41] == b"IDAT":
        ln = int.from_bytes(data[33:37], "big")
        if (
            len(data) == 57 + ln
            and data[45 + ln :] == _IEND_CHUNK
            and data[24] == 8  # bit depth
            and data[25] == 2  # color type RGB
            and zlib.crc32(data[12:29]) == int.from_bytes(data[29:33], "big")
            and zlib.crc32(data[37 : 41 + ln])
            == int.from_bytes(data[41 + ln : 45 + ln], "big")
        ):
            w = int.from_bytes(data[16:20], "big")
            h = int.from_bytes(data[20:24], "big")
            return _pixels_from_scanlines(
                _inflate_exact(data[41 : 41 + ln], h * (1 + w * 3), "PNG"),
                w,
                h,
            )
    pos = len(PNG_SIG)
    w = h = None
    idat = b""
    n = len(data)
    while pos + 8 <= n:
        # int.from_bytes over struct.unpack: same value, ~3× less call
        # overhead, and this loop is the hot decode path
        length = int.from_bytes(data[pos : pos + 4], "big")
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError("truncated PNG chunk")
        crc = zlib.crc32(payload, zlib.crc32(tag)) & 0xFFFFFFFF  # no concat copy
        if data[pos + 8 + length : pos + 12 + length] != crc.to_bytes(4, "big"):
            raise ValueError(f"PNG CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError(f"unsupported PNG (depth={depth}, color={ctype})")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    return _pixels_from_scanlines(
        _inflate_exact(idat, h * (1 + w * 3), "PNG"), w, h
    )


# ---------------------------------------------------------------------------
# FAKE-LOSSY "jpeg" stand-in (deterministic; see module docstring)
# ---------------------------------------------------------------------------


def encode_fake_lossy(arr: np.ndarray) -> bytes:
    """Quantize to FAKE_LOSSY_BITS bits/channel + deflate, in a JPEG wrapper."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    shift = 8 - FAKE_LOSSY_BITS
    q = (arr >> shift).astype(np.uint8)
    body = zlib.compress(q.tobytes(), 6)
    return (
        JPEG_SOI
        + FAKE_LOSSY_TAG
        + struct.pack(">HHB", w, h, shift)
        + struct.pack(">I", len(body))
        + body
        + JPEG_EOI
    )


def _parse_fake_lossy(data: bytes) -> tuple[int, int, int, bytes]:
    """Parse + inflate a FAKE-LOSSY payload → (w, h, shift, quantized
    bytes), validating structure and pixel-buffer size. Dequantization is
    deferred so :func:`decode_image_batch` can run it as ONE numpy pass
    over every fake-lossy image in a batch."""
    if not (data.startswith(JPEG_SOI) and data[3:7] == FAKE_LOSSY_TAG):
        raise ValueError("not a FAKE-LOSSY payload")
    w, h, shift = struct.unpack(">HHB", data[7:12])
    blen = int.from_bytes(data[12:16], "big")
    body = data[16 : 16 + blen]
    if len(body) != blen or data[16 + blen : 18 + blen] != JPEG_EOI:
        raise ValueError("truncated FAKE-LOSSY payload")
    if shift < 1 or shift > 7:
        raise ValueError(f"bad FAKE-LOSSY shift {shift}")
    if w == 0 or h == 0:
        # a zero-pixel "image" is not an image; rejecting here keeps the
        # batch hashers (phash/psnr per-shape group sizing divides by
        # the pixel count) free of degenerate shapes
        raise ValueError("FAKE-LOSSY payload has zero-pixel dimensions")
    return w, h, shift, _inflate_exact(body, h * w * 3, "FAKE-LOSSY")


@lru_cache(maxsize=8)
def _dequant_lut(shift: int) -> np.ndarray:
    """256-entry uint8 LUT for the bucket-midpoint dequantization
    ``clip((q << shift) | (1 << (shift-1)), 0, 255)`` — the whole
    formula collapses to one gather (np.clip on a multi-MB uint16 temp
    was ~20% of batch decode time)."""
    q = np.arange(256, dtype=np.uint16)
    return ((q << shift) | (1 << (shift - 1))).clip(0, 255).astype(np.uint8)


def _dequantize(q: np.ndarray, shift: int) -> np.ndarray:
    # dequantize to bucket midpoints → bounded, zero-mean-ish error
    return _dequant_lut(shift)[q]


def decode_fake_lossy(data: bytes) -> np.ndarray:
    w, h, shift, q = _parse_fake_lossy(data)
    return _dequantize(np.frombuffer(q, dtype=np.uint8), shift).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# Sniff / decode dispatch / hashing
# ---------------------------------------------------------------------------


def sniff_format(data: bytes) -> str | None:
    if data[:8] == PNG_SIG:
        return FMT_PNG
    if data[:3] == JPEG_SOI:
        return FMT_JPEG
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return FMT_WEBP
    return None


def decode_image_batch(
    payloads,
) -> tuple[list[np.ndarray | None], list[str | None], list[str | None]]:
    """Many payloads → (arrays, fmts, errors), slot-aligned with the
    input (array/fmt None where error is set, and vice versa).

    PNG decodes per payload (independent deflate streams — nothing to
    batch beyond the fast path in :func:`decode_png`). FAKE-LOSSY
    payloads are parsed + inflated per payload but **dequantized as one
    numpy pass per shift value** over the concatenated pixel buffers —
    at thumbnail sizes the four per-image numpy calls of the scalar path
    were ~60% of its cost. Each output array is a contiguous view into
    the shared buffer, bit-identical to :func:`decode_fake_lossy`
    (locked by tests/test_image.py parity)."""
    n = len(payloads)
    arrs: list[np.ndarray | None] = [None] * n
    fmts: list[str | None] = [None] * n
    errs: list[str | None] = [None] * n
    fl_slots: list[int] = []
    fl_meta: list[tuple[int, int, int]] = []
    fl_bufs: list[bytes] = []
    for i, data in enumerate(payloads):
        if data is None:
            errs[i] = "null payload"
            continue
        data = bytes(data)
        fmt = sniff_format(data)
        try:
            if fmt == FMT_PNG:
                arrs[i] = decode_png(data)
                fmts[i] = FMT_PNG
            elif fmt == FMT_JPEG:
                if data[3:7] == FAKE_LOSSY_TAG:
                    w, h, shift, q = _parse_fake_lossy(data)
                    fl_slots.append(i)
                    fl_meta.append((w, h, shift))
                    fl_bufs.append(q)
                    fmts[i] = FMT_JPEG
                else:
                    from smcchecker_spark import jpegcodec

                    arrs[i] = jpegcodec.decode_jpeg(data)
                    fmts[i] = FMT_JPEG
            elif fmt == FMT_WEBP:
                from smcchecker_spark import webpcodec

                arrs[i] = webpcodec.decode_webp(data)
                fmts[i] = FMT_WEBP
            else:
                errs[i] = "unknown image format (bad magic bytes)"
        except ValueError as e:
            errs[i] = str(e)
        except (zlib.error, struct.error, IndexError) as e:
            errs[i] = f"corrupt {fmt} payload: {e}"
    if fl_slots:
        by_shift: dict[int, list[int]] = {}
        for k, (_, _, shift) in enumerate(fl_meta):
            by_shift.setdefault(shift, []).append(k)
        for shift, ks in by_shift.items():
            cat = np.frombuffer(
                b"".join(fl_bufs[k] for k in ks), dtype=np.uint8
            )
            vals = _dequantize(cat, shift)
            off = 0
            for k in ks:
                w, h, _ = fl_meta[k]
                m = h * w * 3
                arrs[fl_slots[k]] = vals[off : off + m].reshape(h, w, 3)
                off += m
    return arrs, fmts, errs


def decode_image(data: bytes) -> tuple[np.ndarray, str]:
    """bytes → (HxWx3 uint8, fmt). Raises ValueError on undecodable input
    (zlib/struct/shape errors from corrupt payloads are normalized too).
    Delegates to :func:`decode_image_batch` so scalar and batched decode
    can never drift."""
    arrs, fmts, errs = decode_image_batch([data])
    if errs[0] is not None:
        raise ValueError(errs[0])
    return arrs[0], fmts[0]


_LUMA_W = np.array([0.299, 0.587, 0.114])


def luma(arr: np.ndarray) -> np.ndarray:
    """Rec.601 luma, float64 HxW.

    ``@`` routes through BLAS — measured 2.2× the three-multiply
    expression form on this box. NB not bit-identical to that form
    (FMA/accumulation order differ by ULPs): phash bits near exact
    block-mean ties can differ from values produced by other luma
    formulations, so stored phash columns must be generated by the same
    code version that validates them (true for fixtures and the bench
    corpus, which are regenerated per version)."""
    return arr.astype(np.float64) @ _LUMA_W


@lru_cache(maxsize=4096)
def _block_bounds_8x8(h: int, w: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-(h, w) reduceat boundaries + block areas, memoized (image sizes
    repeat heavily within a batch, and rebuilding four aranges + an outer
    product per image was ~15% of phash time)."""
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    y_hi = np.maximum((np.arange(1, 9) * h) // 8, ys + 1)
    x_hi = np.maximum((np.arange(1, 9) * w) // 8, xs + 1)
    areas = np.outer(y_hi - ys, x_hi - xs).astype(np.float64)
    return ys, xs, areas


# Cap on the decoded-pixel bytes stacked per phash group chunk: a shape
# group of large same-size images is processed in bounded slices instead
# of one giant (n, h, w, 3) float64 stack.
_PHASH_STACK_BYTES = 64 << 20


def phash64_batch(arrs: list[np.ndarray]) -> np.ndarray:
    """Vectorized :func:`phash64` over many images → int64 array (input
    order). Images are grouped by (h, w) and each group is hashed as one
    (n, h, w, 3) stack — one luma matmul + two reduceats per group
    instead of ~10 numpy calls per image, which is the entire cost at
    thumbnail sizes (measured 2× the scalar loop at ≥8 images/shape).

    Bit-identical to hashing each image alone: the stacked ``@`` and
    ``reduceat`` reduce the same elements in the same order per image
    (parity locked by tests/test_image.py over degenerate + random
    sizes), so hashes stored by one path always validate under the
    other."""
    out = np.zeros(len(arrs), dtype=np.int64)
    groups: dict[tuple[int, int], list[int]] = {}
    for i, a in enumerate(arrs):
        groups.setdefault((a.shape[0], a.shape[1]), []).append(i)
    for (h, w), idxs in groups.items():
        ys, xs, areas = _block_bounds_8x8(h, w)
        per_img = h * w * 3 * 8  # float64 stack bytes per image
        step = max(1, _PHASH_STACK_BYTES // max(per_img, 1))
        for lo in range(0, len(idxs), step):
            chunk = idxs[lo : lo + step]
            n = len(chunk)
            stack = np.stack([arrs[i] for i in chunk])  # (n, h, w, 3)
            g = stack.astype(np.float64) @ _LUMA_W  # (n, h, w)
            rows = np.add.reduceat(g, ys, axis=1)
            gm = np.add.reduceat(rows, xs, axis=2) / areas  # (n, 8, 8)
            flat = gm.reshape(n, 64)
            bits = flat > flat.mean(axis=1)[:, None]
            vals = np.packbits(bits, axis=1).view(">u8").ravel()
            out[np.asarray(chunk)] = vals.astype(np.uint64).view(np.int64)
    return out


def phash64(arr: np.ndarray) -> int:
    """64-bit average-hash of the image, as a SIGNED int64 (table dtype).

    Delegates to :func:`phash64_batch` so the scalar path (fixture/corpus
    generation) and the batched path (validation UDF) are the same code —
    a stored phash can never drift from the value validation recomputes."""
    return int(phash64_batch([arr])[0])


def hamming64(a: int, b: int) -> int:
    return bin((int(a) ^ int(b)) & 0xFFFFFFFFFFFFFFFF).count("1")


def psnr_batch(arrs_a: list[np.ndarray], arrs_b: list[np.ndarray]) -> np.ndarray:
    """Vectorized :func:`psnr` over many image pairs → float64 array
    (input order; NaN where the pair's shapes differ, +inf on exact
    match). Same shape-grouped stacking as :func:`phash64_batch` — the
    per-pair cost at thumbnail sizes is numpy-call overhead, not math."""
    n = len(arrs_a)
    out = np.full(n, np.nan)
    groups: dict[tuple, list[int]] = {}
    for i in range(n):
        if arrs_a[i].shape != arrs_b[i].shape:
            continue
        groups.setdefault(arrs_a[i].shape, []).append(i)
    for shape, idxs in groups.items():
        per_img = int(np.prod(shape)) * 8 * 2
        step = max(1, _PHASH_STACK_BYTES // max(per_img, 1))
        for lo in range(0, len(idxs), step):
            chunk = idxs[lo : lo + step]
            a = np.stack([arrs_a[i] for i in chunk]).astype(np.float64)
            b = np.stack([arrs_b[i] for i in chunk]).astype(np.float64)
            mse = ((a - b) ** 2).mean(axis=tuple(range(1, a.ndim)))
            with np.errstate(divide="ignore"):
                vals = 10.0 * np.log10(255.0**2 / mse)  # mse==0 → +inf
            out[np.asarray(chunk)] = vals
    return out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    if a.shape != b.shape:
        return 0.0
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))
