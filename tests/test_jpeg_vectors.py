"""Externally-produced JPEG interop vectors.

The VP8L field-order bug (commit 2edd8ca) proved self-consistent
roundtrips can hide spec misreadings — an encoder and decoder sharing
one wrong assumption still roundtrip perfectly. These vectors break
that symmetry with the JDK's javax.imageio JPEG codec (an
implementation with zero shared code), generated once by
tools/JpegVectors.java and committed under tests/vectors/:

- ``ext_*.jpg``  : bitstreams ImageIO ENCODED (bytes our encoder never
  produced — different table choices, subsampling decisions, marker
  layout), paired with ImageIO's own decoded RGB (``.rgb``: 8-byte h/w
  header + row-major pixels).
- ``ours_*.jpg`` : bitstreams OUR encoder produced, paired with what
  ImageIO decoded them to — proving external decoders open our output
  and agree on the pixels.

Decoder agreement tolerances are decoder freedom, not slack: T.81
specifies IDCT accuracy bounds, not bit-exact output, and chroma
upsampling interpolation is unspecified (ImageIO interpolates, we
replicate) — so 4:4:4 files must agree within ±2 per sample and
subsampled files within PSNR ≥ 40 dB.
"""

import glob
import os

import numpy as np
import pytest

from smcchecker_spark import jpegcodec as jc

VEC = os.path.join(os.path.dirname(__file__), "vectors")


def _read_rgb(path):
    raw = open(path, "rb").read()
    h = int.from_bytes(raw[0:4], "big")
    w = int.from_bytes(raw[4:8], "big")
    return np.frombuffer(raw[8:], dtype=np.uint8).reshape(h, w, 3)


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)


def _is_444(jpg: bytes) -> bool:
    at = jpg.find(b"\xff\xc0")
    if at == -1:
        at = jpg.index(b"\xff\xc2")  # progressive SOF
    n = jpg[at + 9]
    return all(jpg[at + 11 + 3 * c] == 0x11 for c in range(n))


@pytest.mark.parametrize(
    "name", sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(VEC, "ext_*.jpg"))
    )
)
def test_decode_external_bitstreams(name):
    """Files ImageIO encoded: our decoder must open them and agree with
    ImageIO's own decode."""
    jpg = open(os.path.join(VEC, name), "rb").read()
    ref = _read_rgb(os.path.join(VEC, name.replace(".jpg", ".rgb")))
    ours = jc.decode_jpeg(jpg)
    assert ours.shape == ref.shape
    if _is_444(jpg):
        assert int(np.abs(ours.astype(int) - ref.astype(int)).max()) <= 2
    else:
        assert _psnr(ours, ref) >= 38.0


@pytest.mark.parametrize(
    "name", sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(VEC, "ours_*.jpg"))
    )
)
def test_external_decoder_reads_our_bitstreams(name):
    """Files our encoder produced: ImageIO opened them (the .rgb dump
    exists) and its pixels must agree with our own decode."""
    jpg = open(os.path.join(VEC, name), "rb").read()
    jdec = _read_rgb(os.path.join(VEC, name.replace(".jpg", ".rgb")))
    ours = jc.decode_jpeg(jpg)
    assert ours.shape == jdec.shape
    if _is_444(jpg):
        assert int(np.abs(ours.astype(int) - jdec.astype(int)).max()) <= 2
    else:
        assert _psnr(ours, jdec) >= 40.0


def test_our_committed_bitstreams_still_reproduce():
    """The committed ours_* payloads pin the encoder's determinism: the
    same source arrays must re-encode to the identical bytes (if this
    breaks, regenerate the vectors with tools/JpegVectors.java and
    re-verify interop)."""
    specs = [
        (16, 16, 11, 95, "444"),
        (24, 17, 12, 90, "420"),
        (9, 31, 13, 98, "444"),
    ]
    for h, w, seed, q, sub in specs:
        rng = np.random.default_rng(seed)
        y, x = np.mgrid[0:h, 0:w]
        base = (x * 5 + y * 3) & 0xFF
        arr = np.clip(
            np.stack([base] * 3, -1) + rng.integers(0, 32, (h, w, 3)),
            0, 255,
        ).astype(np.uint8)
        enc = jc.encode_jpeg(arr, quality=q, subsampling=sub)
        committed = open(
            os.path.join(VEC, f"ours_{h}x{w}_{sub}_q{q}.jpg"), "rb"
        ).read()
        assert enc == committed, (h, w, sub, q)


_PIN_SHAPES = [(1, 1), (7, 9), (17, 23), (32, 32), (9, 40)]
_PIN_QUALITIES = (50, 90, 98)


def _pin_corpus():
    """Every encoder over a fixed grid of shapes, qualities and chroma
    layouts, as three groups of streams."""
    groups = {"baseline": [], "progressive": [], "gray": []}
    for i, (h, w) in enumerate(_PIN_SHAPES):
        rng = np.random.default_rng(400 + i)
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
        for q in _PIN_QUALITIES:
            for sub in ("444", "420"):
                groups["baseline"].append(
                    jc.encode_jpeg(rgb, quality=q, subsampling=sub)
                )
                groups["progressive"].append(
                    jc.encode_jpeg_progressive(rgb, quality=q, subsampling=sub)
                )
            groups["gray"].append(jc.encode_jpeg_gray(gray, quality=q))
    return groups


def _pin_decode(data: bytes) -> bytes:
    try:
        out = jc.decode_jpeg(data)
    except Exception as ex:  # the error text is part of the contract
        return f"err:{type(ex).__name__}:{ex}".encode()
    return b"ok:%d,%d:" % out.shape[:2] + out.tobytes()


def _digest(items) -> str:
    import hashlib

    h = hashlib.sha256()
    for b in items:
        h.update(len(b).to_bytes(8, "big") + b)
    return h.hexdigest()


# SHA-256 of every stream group and of the Python-path decode results
# below, computed before the encoder core and scan driver were merged;
# any change to a single output byte, pixel or error text trips it
_PINNED_DIGESTS = {
    "baseline": "65995d83f673cf5b7c85471e311cf910d43209f9f702a312cc40a83a78857641",
    "progressive": "db542f80b07bb50c4126876c237669ecb0df7a8c05b740139cf6d7c5c9fc225a",
    "gray": "a0d1ecbf4435bcd67b89a1045adf8e1a8dc0121fc41b46a489a737914123c831",
    "decode": "dad1dd59dc04951d372a0c8c620247ead40b40b461711bf2c57de58b2dd22f2c",
}


def test_codec_output_digests_pinned(monkeypatch):
    """Pins the bytes of all three encoders and the reference (Python)
    decoder's output over each stream, four seeded bit-flips of it and
    four truncations of it: decoded pixels, or the exception text."""
    from smcchecker_spark import native

    for src in ("jpegscan.c", "jpegprog.c", "jpegrecon.c"):
        monkeypatch.setitem(native._cache, src, False)
    groups = _pin_corpus()
    rng = np.random.default_rng(77)
    results = []
    for name in ("baseline", "progressive", "gray"):
        for data in groups[name]:
            results.append(_pin_decode(data))
            for _ in range(4):
                ba = bytearray(data)
                ba[int(rng.integers(2, len(ba)))] ^= int(rng.integers(1, 256))
                results.append(_pin_decode(bytes(ba)))
            for _ in range(4):
                results.append(
                    _pin_decode(data[: int(rng.integers(2, len(data)))])
                )
    got = {name: _digest(streams) for name, streams in groups.items()}
    got["decode"] = _digest(results)
    assert got == _PINNED_DIGESTS
