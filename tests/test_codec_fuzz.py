"""Property/fuzz tests for the image codec layer (hypothesis, no Spark).

At 10^12 rows the decode UDF will see every possible malformed payload;
an uncaught exception type would fail the TASK (and with retries, the
JOB) instead of emitting a violation row. The engine's contract
(imagecodec.decode_image, used by image.decode_facts_udf) is therefore:
EVERY input either decodes to an HxWx3 uint8 array or raises ValueError
— no other exception may escape. These tests drive that contract with
adversarial inputs, plus exact/lossy roundtrip properties.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from smcchecker_spark import imagecodec as ic
from tests import ref_oracle

dims = st.integers(min_value=1, max_value=40)


def _arr(h, w, seed):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


@settings(max_examples=60, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31))
def test_png_roundtrip_exact(h, w, seed):
    a = _arr(h, w, seed)
    dec, fmt = ic.decode_image(ic.encode_png(a))
    assert fmt == "png" and np.array_equal(dec, a)


@settings(max_examples=60, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31))
def test_fake_lossy_roundtrip_bounded(h, w, seed):
    a = _arr(h, w, seed)
    dec, fmt = ic.decode_image(ic.encode_fake_lossy(a))
    assert fmt == "jpeg" and dec.shape == a.shape
    # quantization to 6 bits: bounded error, PSNR clears the 40 dB gate
    assert int(np.abs(dec.astype(int) - a.astype(int)).max()) <= (1 << (8 - ic.FAKE_LOSSY_BITS))
    assert ic.psnr(a, dec) >= 40.0


@settings(max_examples=200, deadline=None)
@given(data=st.binary(min_size=0, max_size=512))
def test_random_bytes_never_crash(data):
    try:
        arr, fmt = ic.decode_image(data)
        assert arr.ndim == 3 and arr.dtype == np.uint8
    except ValueError:
        pass  # the ONLY acceptable failure mode


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(0, 2**31),
    cut=st.floats(min_value=0.01, max_value=0.99),
    lossy=st.booleans(),
)
def test_truncated_payload_never_crash(seed, cut, lossy):
    """Truncation must either be detected (ValueError) or — when only the
    trailer was cut and the pixel payload is complete — decode to exactly
    the original pixels. Never any other exception, never wrong pixels."""
    a = _arr(12, 9, seed)
    payload = ic.encode_fake_lossy(a) if lossy else ic.encode_png(a)
    trunc = payload[: max(1, int(len(payload) * cut))]
    try:
        arr, _ = ic.decode_image(trunc)
        assert np.array_equal(arr, a if not lossy else ic.decode_fake_lossy(payload))
    except ValueError:
        pass


@settings(max_examples=120, deadline=None)
@given(
    seed=st.integers(0, 2**31),
    pos=st.floats(min_value=0.0, max_value=0.999),
    bit=st.integers(0, 7),
    lossy=st.booleans(),
)
def test_bitflip_payload_never_crash(seed, pos, bit, lossy):
    """A single flipped bit anywhere: decode must either detect it
    (ValueError — PNG CRC catches most) or still produce a valid array
    (flips in already-decoded padding); never any other exception."""
    a = _arr(10, 11, seed)
    payload = bytearray(ic.encode_fake_lossy(a) if lossy else ic.encode_png(a))
    payload[int(len(payload) * pos)] ^= 1 << bit
    try:
        arr, _ = ic.decode_image(bytes(payload))
        assert arr.ndim == 3 and arr.dtype == np.uint8
    except ValueError:
        pass


@settings(max_examples=60, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31))
def test_phash_reduceat_matches_loop(h, w, seed):
    """The vectorized 8x8 block-mean equals the naive per-block loop for
    every image shape (incl. h/w < 8 degenerate blocks)."""
    g = ic.luma(_arr(h, w, seed))
    want = np.empty((8, 8))
    for bi in range(8):
        for bj in range(8):
            y0, y1 = (bi * h) // 8, max((bi + 1) * h // 8, (bi * h) // 8 + 1)
            x0, x1 = (bj * w) // 8, max((bj + 1) * w // 8, (bj * w) // 8 + 1)
            want[bi, bj] = g[y0:y1, x0:x1].mean()
    got = ref_oracle.block_mean_8x8(g)
    assert np.allclose(got, want, rtol=0, atol=1e-9)


@settings(max_examples=80, deadline=None)
@given(data=st.binary(min_size=0, max_size=256), seed=st.integers(0, 2**31))
def test_batch_slot_isolation_with_hostile_payload(data, seed):
    """decode_image_batch shares one dequantize buffer across a batch's
    fake-lossy payloads — a hostile payload anywhere in the batch must
    not shift, corrupt, or fail any OTHER slot (offsets are derived only
    from successfully parsed payloads)."""
    a, b, c = _arr(9, 7, seed), _arr(5, 5, seed ^ 1), _arr(3, 13, seed ^ 2)
    batch = [
        ic.encode_fake_lossy(a),
        bytes(data),
        ic.encode_png(b),
        ic.encode_fake_lossy(c),
        None,
    ]
    arrs, fmts, errs = ic.decode_image_batch(batch)
    assert np.array_equal(arrs[0], ic.decode_fake_lossy(batch[0]))
    assert np.array_equal(arrs[2], b)
    assert np.array_equal(arrs[3], ic.decode_fake_lossy(batch[3]))
    assert errs[4] == "null payload"
    # the hostile slot either decodes to a valid array or errors — and
    # matches exactly what the scalar path says about the same bytes
    try:
        ref, ref_fmt = ic.decode_image(batch[1])
        assert errs[1] is None and fmts[1] == ref_fmt
        assert np.array_equal(arrs[1], ref)
    except ValueError as e:
        assert arrs[1] is None and errs[1] == str(e)


# ---------------------------------------------------------------------------
# Real JPEG / WebP decoders under the same contract: every input either
# decodes or raises ValueError THROUGH decode_image — never any other
# exception type (a stray IndexError would fail the Spark task, not emit
# a violation row).
# ---------------------------------------------------------------------------


def _decode_only_valueerror(payload: bytes) -> None:
    try:
        arr, fmt = ic.decode_image(payload)
        assert arr.ndim == 3 and arr.dtype == np.uint8
    except ValueError:
        pass


@settings(max_examples=80, deadline=None)
@given(data=st.binary(min_size=0, max_size=300))
def test_jpeg_magic_random_tail_never_crash(data):
    _decode_only_valueerror(b"\xff\xd8\xff" + data)


@settings(max_examples=80, deadline=None)
@given(data=st.binary(min_size=0, max_size=300))
def test_webp_magic_random_tail_never_crash(data):
    riff = b"RIFF" + len(data).to_bytes(4, "little") + b"WEBP"
    _decode_only_valueerror(riff + data)
    _decode_only_valueerror(
        riff + b"VP8L" + len(data).to_bytes(4, "little") + data
    )


@settings(max_examples=40, deadline=None)
@given(
    h=dims, w=dims, seed=st.integers(0, 2**31),
    pos=st.integers(0, 10_000), bit=st.integers(0, 7),
)
def test_real_codec_bitflip_never_crash(h, w, seed, pos, bit):
    from smcchecker_spark import jpegcodec as jc
    from smcchecker_spark import webpcodec as wc

    a = _arr(h, w, seed)
    for payload in (jc.encode_jpeg(a, quality=90), wc.encode_webp(a)):
        ba = bytearray(payload)
        ba[pos % len(ba)] ^= 1 << bit
        _decode_only_valueerror(bytes(ba))


@settings(max_examples=40, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31), frac=st.floats(0, 1))
def test_real_codec_truncation_never_crash(h, w, seed, frac):
    from smcchecker_spark import jpegcodec as jc
    from smcchecker_spark import webpcodec as wc

    a = _arr(h, w, seed)
    for payload in (jc.encode_jpeg(a, quality=90), wc.encode_webp(a)):
        cut = int(len(payload) * frac)
        _decode_only_valueerror(payload[:cut])


@settings(max_examples=200, deadline=None)
@given(v=st.integers(min_value=-2047, max_value=2047))
def test_size_mag_matches_scalar_reference(v):
    from smcchecker_spark import jpegcodec as jc

    s, mag = ref_oracle.magnitude(v)
    sv, magv = jc._size_mag(np.array([v], dtype=np.int64))
    assert (int(sv[0]), int(magv[0])) == (s, mag)


@settings(max_examples=40, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31), q=st.integers(30, 100))
def test_progressive_roundtrip_equals_baseline(h, w, seed, q):
    """Progressive encode → decode equals baseline-444 encode → decode
    bit-for-bit at any size/quality (the progression only reorders the
    entropy stream)."""
    from smcchecker_spark import jpegcodec as jc

    a = _arr(h, w, seed)
    for sub in ("444", "420"):
        dp = jc.decode_jpeg(
            jc.encode_jpeg_progressive(a, quality=q, subsampling=sub)
        )
        db = jc.decode_jpeg(jc.encode_jpeg(a, quality=q, subsampling=sub))
        assert np.array_equal(dp, db), sub


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 24), w=st.integers(1, 24),
    seed=st.integers(0, 2**31),
    pos=st.integers(0, 10**6), flip=st.integers(1, 255),
)
def test_progressive_bitflip_contract(h, w, seed, pos, flip):
    """Arbitrary single-byte corruption of a progressive bitstream
    either decodes or raises ValueError — nothing else."""
    from smcchecker_spark import jpegcodec as jc

    data = bytearray(jc.encode_jpeg_progressive(_arr(h, w, seed)))
    data[pos % len(data)] ^= flip
    try:
        out = jc.decode_jpeg(bytes(data))
        assert out.ndim == 3
    except ValueError:
        pass
