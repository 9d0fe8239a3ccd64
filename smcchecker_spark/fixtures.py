"""Deterministic synthetic image+caption fixtures (FIXTURES.md §1-3).

The table matches input_hint exactly:
``(image_id string, bytes binary, w int, h int, fmt string, caption string,
phash long)`` plus a ``part_id`` partition column
(``pmod``-style ``i % n_parts``) so per-partition verdicts, checkpoint/
resume and lineage are testable.

Generation is **distributed**: ``spark.range(n)`` → ``mapInPandas``, each
row derived purely from its index + seed (no driver-side materialization
— the generator itself must scale like the engine). Violations are
planted by fixed index rules (below); ``expected_flags(i)`` exposes the
same rules to tests so golden violation sets are computed, not stored.

Planted-violation rules (index i, applied in this order; rules use
coprime moduli so classes overlap rarely but CAN overlap — expected sets
must be computed per check, not per row):

- dup image_id:  i % 101 == 1       → image_id of row i-1 (uniqueness)
- truncated:     i % 53  == 3       → bytes cut to 25 bytes (decode fail)
- bitflip:       i % 53  == 17      → one payload byte flipped (CRC fail)
- w off-by-one:  i % 47  == 5       → stored w = true w + 1
- w null:        i % 47  == 23      → stored w NULL
- fmt RI fail:   i % 43  == 7       → fmt 'bmp';  == 9 → 'PNG';
                 i % 43  == 21      → 'jpg ' (case/trim for preprocess)
- caption empty: i % 37  == 5       → '';    == 7 → 'nan';
                 i % 37  == 11      → '  padded  ';
                 i % 37  == 13      → 301 chars (maxlength 256)
- phash off:     i % 59  == 19      → stored phash = true phash + 1

fmt distribution is skewed ≥80% 'png' (i % 5 != 4) to exercise salted
repartitioning on fmt skew (north_rule).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from smcchecker_spark import imagecodec as ic
from smcchecker_spark.tables import local_frame

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, part_id int"
)

_WORDS = (
    "a the cat dog bird tree river mountain red blue green small large "
    "running sitting bright dark old young photo picture of with near"
).split()


def _generate(
    spark, schema, n_rows, n_parts, num_tasks, make_row, *args, **kw
):
    """``spark.range`` → ``mapInPandas``: every row is built on the
    executors by ``make_row(i, *args, **kw)`` from its index alone."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [make_row(int(i), *args, **kw) for i in pdf["id"].tolist()]
            )

    rng_df = spark.range(0, n_rows, numPartitions=num_tasks or max(8, n_parts))
    return rng_df.mapInPandas(gen, schema)


def _image_id(i: int) -> str:
    return f"img{i:012d}"


def expected_flags(i: int) -> dict[str, bool]:
    """Which violation classes index i plants (tests recompute goldens)."""
    return {
        "dup": i % 101 == 1 and i > 0,
        "truncated": i % 53 == 3,
        "bitflip": i % 53 == 17,
        "w_off": i % 47 == 5,
        "w_null": i % 47 == 23,
        "fmt_bad": i % 43 in (7, 9, 21),
        "caption_empty": i % 37 in (5, 7),
        "caption_padded": i % 37 == 11,
        "caption_long": i % 37 == 13,
        "phash_off": i % 59 == 19,
    }


def _make_row(i: int, seed: int, n_parts: int) -> dict:
    rng = np.random.default_rng(seed * 1_000_003 + i)
    fl = expected_flags(i)

    h = int(rng.integers(8, 33))
    w = int(rng.integers(8, 33))
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)

    lossy = i % 5 == 4  # ~20% fake-lossy 'jpeg', 80% png (fmt skew)
    if lossy:
        payload = ic.encode_fake_lossy(arr)
        true_fmt = ic.FMT_JPEG
        true_phash = ic.phash64(ic.decode_fake_lossy(payload))
    else:
        payload = ic.encode_png(arr)
        true_fmt = ic.FMT_PNG
        true_phash = ic.phash64(arr)

    if fl["truncated"]:
        payload = payload[:25]
    elif fl["bitflip"]:
        ba = bytearray(payload)
        ba[min(60, len(ba) - 1)] ^= 0xFF
        payload = bytes(ba)

    stored_w: int | None = w + 1 if fl["w_off"] else w
    if fl["w_null"]:
        stored_w = None

    fmt = true_fmt
    if i % 43 == 7:
        fmt = "bmp"
    elif i % 43 == 9:
        fmt = "PNG"
    elif i % 43 == 21:
        fmt = "jpg "

    n_tok = int(rng.integers(2, 12))
    caption = " ".join(rng.choice(_WORDS) for _ in range(n_tok))
    if fl["caption_empty"]:
        caption = "" if i % 37 == 5 else "nan"
    elif fl["caption_padded"]:
        caption = f"  {caption}  "
    elif fl["caption_long"]:
        caption = "x" * 301

    image_id = _image_id(i - 1) if fl["dup"] else _image_id(i)

    return {
        "image_id": image_id,
        "bytes": payload,
        "w": stored_w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": int(true_phash) + (1 if fl["phash_off"] else 0),
        "part_id": i % n_parts,
    }


def generate_images(
    spark: SparkSession,
    n_rows: int = 1000,
    n_parts: int = 8,
    seed: int = 42,
    clean: bool = False,
    num_tasks: int | None = None,
) -> DataFrame:
    """Distributed deterministic images table. ``clean=True`` plants no
    violations (for throughput benchmarking and PSNR-parity pairs)."""
    make = _clean_row if clean else _make_row
    return _generate(
        spark, IMAGES_SCHEMA, n_rows, n_parts, num_tasks, make, seed, n_parts
    )


def _clean_row(i: int, seed: int, n_parts: int) -> dict:
    """Violation-free variant of row i (same pixels/caption distribution)."""
    rng = np.random.default_rng(seed * 1_000_003 + i)
    h = int(rng.integers(8, 33))
    w = int(rng.integers(8, 33))
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    lossy = i % 5 == 4
    if lossy:
        payload = ic.encode_fake_lossy(arr)
        fmt = ic.FMT_JPEG
        phash = ic.phash64(ic.decode_fake_lossy(payload))
    else:
        payload = ic.encode_png(arr)
        fmt = ic.FMT_PNG
        phash = ic.phash64(arr)
    n_tok = int(rng.integers(2, 12))
    caption = " ".join(rng.choice(_WORDS) for _ in range(n_tok))
    return {
        "image_id": _image_id(i),
        "bytes": payload,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": int(phash),
        "part_id": i % n_parts,
    }


def lu_fmt(spark: SparkSession) -> DataFrame:
    """Lookup list for the fmt RI check (FIXTURES.md §2), as a local
    relation: broadcasting it starts no Python worker."""
    return local_frame(
        spark,
        [("png", "Portable Network Graphics"),
         ("jpeg", "JPEG (baseline JFIF, jpegcodec)"),
         ("webp", "WebP (lossless VP8L, webpcodec)")],
        "fmt string, description string",
    )


# ---------------------------------------------------------------------------
# Real-JPEG fixture (jpegcodec) — actual baseline JFIF bitstreams
# ---------------------------------------------------------------------------
#
# Kept separate from the FAKE-LOSSY fixture above: the 2M-image bench
# corpus stays on the cheap stand-in so the headline img/s series is
# comparable across rounds, while this table proves the engine's real
# lossy path end-to-end (encode → engine decode → w/h/fmt/phash
# consistency). Violation moduli are coprime to the main fixture's so
# golden sets stay computable per check.


def expected_jpeg_flags(i: int) -> dict[str, bool]:
    """Planted-violation rules for the real-JPEG fixture (index i)."""
    return {
        "dup": i % 89 == 1 and i > 0,
        # byte 25 cuts mid-DQT → ValueError("truncated JPEG segment")
        "truncated": i % 41 == 3,
        # byte 2 is APP0's leading 0xFF → ValueError("expected marker")
        "bitflip": i % 41 == 17,
        "w_off": i % 37 == 5,
        "phash_off": i % 43 == 7,
        "caption_empty": i % 31 == 5,
    }


def _make_jpeg_row(
    i: int, seed: int, n_parts: int, clean: bool, codec: str = "jpeg"
) -> dict:
    rng = np.random.default_rng(seed * 2_000_003 + i)
    fl = (
        {k: False for k in expected_jpeg_flags(0)}
        if clean
        else expected_jpeg_flags(i)
    )
    h = int(rng.integers(8, 33))
    w = int(rng.integers(8, 33))
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    if codec == "webp":
        from smcchecker_spark import webpcodec as wc

        # lossless VP8L: decoded pixels == arr bit-exactly
        payload = wc.encode_webp(arr)
        phash = ic.phash64(wc.decode_webp(payload))
        fmt = ic.FMT_WEBP
    elif codec == "jpeg_prog":
        from smcchecker_spark import jpegcodec as jc

        # PROGRESSIVE (SOF2) spectral-selection bitstreams; same DCT /
        # quantization as baseline 4:4:4, so planted rules and the
        # stored phash behave identically (byte 25 still cuts mid-DQT,
        # byte 2 is still APP0's leading 0xFF)
        payload = jc.encode_jpeg_progressive(arr, quality=98)
        phash = ic.phash64(jc.decode_jpeg(payload))
        fmt = ic.FMT_JPEG
    else:
        from smcchecker_spark import jpegcodec as jc

        # quality 98: ~44 dB on pure-noise pixels (worst case) — clears
        # the north-star 40 dB gate with margin. Every 4th image is
        # 4:2:0 to exercise the decoder's generic MCU path in the engine
        # itself; stored phash always comes from the DECODED pixels, so
        # chroma subsampling loss never trips the consistency check.
        sub = "420" if i % 4 == 0 else "444"
        payload = jc.encode_jpeg(arr, quality=98, subsampling=sub)
        phash = ic.phash64(jc.decode_jpeg(payload))
        fmt = ic.FMT_JPEG
    if fl["truncated"]:
        payload = payload[:25]
    elif fl["bitflip"]:
        ba = bytearray(payload)
        ba[2] ^= 0xFF
        payload = bytes(ba)
    n_tok = int(rng.integers(2, 12))
    caption = " ".join(rng.choice(_WORDS) for _ in range(n_tok))
    if fl["caption_empty"]:
        caption = ""
    pre = "wbp" if codec == "webp" else "jpg"
    return {
        "image_id": f"{pre}{i - 1:09d}" if fl["dup"] else f"{pre}{i:09d}",
        "bytes": payload,
        "w": (w + 1) if fl["w_off"] else w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": int(phash) + (1 if fl["phash_off"] else 0),
        "part_id": i % n_parts,
    }


def generate_jpeg_images(
    spark: SparkSession,
    n_rows: int = 600,
    n_parts: int = 8,
    seed: int = 7,
    clean: bool = False,
    num_tasks: int | None = None,
) -> DataFrame:
    """Distributed deterministic images table whose lossy payloads are
    REAL baseline JFIF JPEG bitstreams (same input_hint schema as
    :func:`generate_images`)."""
    return _generate(
        spark, IMAGES_SCHEMA, n_rows, n_parts, num_tasks,
        _make_jpeg_row, seed, n_parts, clean,
    )


def generate_webp_images(
    spark: SparkSession,
    n_rows: int = 400,
    n_parts: int = 8,
    seed: int = 11,
    clean: bool = False,
    num_tasks: int | None = None,
) -> DataFrame:
    """Distributed deterministic images table whose payloads are REAL
    lossless WebP (VP8L) bitstreams (same input_hint schema and planted
    violation rules — :func:`expected_jpeg_flags` — as the JPEG
    fixture). Truncation cuts mid-chunk (→ "truncated WebP chunk");
    bitflip hits byte 2 of "RIFF" (→ unknown-format sniff failure)."""
    return _generate(
        spark, IMAGES_SCHEMA, n_rows, n_parts, num_tasks,
        _make_jpeg_row, seed, n_parts, clean, codec="webp",
    )


# ---------------------------------------------------------------------------
# Audio fixture: REAL RIFF/WAVE integer-PCM payloads (wavcodec) with
# planted violations, for the AudioConsistent engine surface
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = (
    "audio_id string, bytes binary, n_samples long, sample_rate int, "
    "caption string, part_id int"
)


def expected_wav_flags(i: int) -> dict[str, bool]:
    """Planted-violation rules for the WAV fixture (index i) — same
    modular-index design as :func:`expected_jpeg_flags`, so expected
    per-check outcomes are SQL-derivable without decoding."""
    return {
        "dup": i % 89 == 1 and i > 0,
        # byte 30 cuts inside the data chunk → "truncated WAV chunk"
        "truncated": i % 41 == 3,
        # byte 1 breaks "RIFF" → not-a-WAV sniff failure
        "bitflip": i % 41 == 17,
        "n_off": i % 37 == 5,
        "rate_off": i % 43 == 7,
        "caption_empty": i % 31 == 5,
    }


def _make_wav_row(i: int, seed: int, n_parts: int, clean: bool) -> dict:
    from smcchecker_spark import wavcodec

    rng = np.random.default_rng(seed * 3_000_017 + i)
    fl = (
        {k: False for k in expected_wav_flags(0)}
        if clean
        else expected_wav_flags(i)
    )
    rate = (8000, 16000)[i % 2]
    n = 1000 + int(rng.integers(0, 2000))
    ch = 2 if i % 5 == 0 else 1
    samples = rng.integers(-20000, 20000, (n, ch)).astype(np.int16)
    payload = wavcodec.encode_wav(samples, sample_rate=rate)
    if fl["truncated"]:
        payload = payload[:30]
    elif fl["bitflip"]:
        ba = bytearray(payload)
        ba[1] ^= 0xFF
        payload = bytes(ba)
    n_tok = int(rng.integers(2, 10))
    caption = " ".join(rng.choice(_WORDS) for _ in range(n_tok))
    if fl["caption_empty"]:
        caption = ""
    return {
        "audio_id": f"wav{i - 1:09d}" if fl["dup"] else f"wav{i:09d}",
        "bytes": payload,
        "n_samples": (n + 1) if fl["n_off"] else n,
        "sample_rate": (rate + 1) if fl["rate_off"] else rate,
        "caption": caption,
        "part_id": i % n_parts,
    }


def generate_wav_rows(
    spark: SparkSession,
    n_rows: int = 500,
    n_parts: int = 8,
    seed: int = 13,
    clean: bool = False,
    num_tasks: int | None = None,
) -> DataFrame:
    """Distributed deterministic audio table whose payloads are REAL
    WAV bitstreams (16-bit PCM, mono and stereo, two sample rates)."""
    return _generate(
        spark, AUDIO_SCHEMA, n_rows, n_parts, num_tasks,
        _make_wav_row, seed, n_parts, clean,
    )


# ---------------------------------------------------------------------------
# Video fixture: REAL AVI-MJPEG containers (avicodec + jpegcodec) with
# planted violations, for the VideoConsistent engine surface
# ---------------------------------------------------------------------------

VIDEO_SCHEMA = (
    "video_id string, bytes binary, n_frames int, w int, h int, "
    "caption string, part_id int"
)


def expected_avi_flags(i: int) -> dict[str, bool]:
    """Planted-violation rules for the AVI fixture (index i)."""
    return {
        "dup": i % 89 == 1 and i > 0,
        # byte 40 cuts inside the header LIST → demux ValueError
        "truncated": i % 41 == 3,
        # byte 1 breaks "RIFF" → not-an-AVI sniff failure
        "bitflip": i % 41 == 17,
        "nframes_off": i % 37 == 5,
        "w_off": i % 43 == 7,
        "caption_empty": i % 31 == 5,
    }


def _make_avi_row(i: int, seed: int, n_parts: int, clean: bool) -> dict:
    from smcchecker_spark import avicodec, jpegcodec

    rng = np.random.default_rng(seed * 5_000_011 + i)
    fl = (
        {k: False for k in expected_avi_flags(0)}
        if clean
        else expected_avi_flags(i)
    )
    nf = 2 + i % 4
    w = 8 * (1 + i % 3)
    h = 8 * (1 + (i // 3) % 3)
    jpegs = [
        jpegcodec.encode_jpeg(
            rng.integers(0, 256, (h, w, 3), dtype=np.uint8), quality=95
        )
        for _ in range(nf)
    ]
    payload = avicodec.encode_avi_mjpeg(jpegs, w, h)
    if fl["truncated"]:
        payload = payload[:40]
    elif fl["bitflip"]:
        ba = bytearray(payload)
        ba[1] ^= 0xFF
        payload = bytes(ba)
    n_tok = int(rng.integers(2, 10))
    caption = " ".join(rng.choice(_WORDS) for _ in range(n_tok))
    if fl["caption_empty"]:
        caption = ""
    return {
        "video_id": f"avi{i - 1:09d}" if fl["dup"] else f"avi{i:09d}",
        "bytes": payload,
        "n_frames": (nf + 1) if fl["nframes_off"] else nf,
        "w": (w + 1) if fl["w_off"] else w,
        "h": h,
        "caption": caption,
        "part_id": i % n_parts,
    }


def generate_avi_rows(
    spark: SparkSession,
    n_rows: int = 300,
    n_parts: int = 8,
    seed: int = 17,
    clean: bool = False,
    num_tasks: int | None = None,
) -> DataFrame:
    """Distributed deterministic video table whose payloads are REAL
    AVI-MJPEG containers (engine-encoded JPEG frames)."""
    return _generate(
        spark, VIDEO_SCHEMA, n_rows, n_parts, num_tasks,
        _make_avi_row, seed, n_parts, clean,
    )


# ---------------------------------------------------------------------------
# EXIF-tagged JPEG fixture (planted metadata violations)
# ---------------------------------------------------------------------------


def expected_exif_kind(i: int) -> str:
    """Planted-EXIF rule for index i — FIRST matching rule wins (the
    oracle reproduces the same priority): corrupt APP1 > out-of-range
    orientation > malformed DateTime > valid rot90 tag > untagged >
    valid tagged."""
    if i % 37 == 9:
        return "corrupt"
    if i % 29 == 6:
        return "bad_orientation"
    if i % 31 == 8:
        return "bad_datetime"
    if i % 23 == 4:
        return "rot90"
    if i % 2 == 0:
        return "plain"
    return "tagged"


def _make_exif_row(i: int, seed: int, n_parts: int) -> dict:
    import struct

    from smcchecker_spark import exif as ex
    from smcchecker_spark import jpegcodec as jc

    rng = np.random.default_rng(seed * 3_000_017 + i)
    h = int(rng.integers(8, 25))
    w = int(rng.integers(8, 25))
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    payload = jc.encode_jpeg(arr, quality=98)
    phash = ic.phash64(jc.decode_jpeg(payload))
    kind = expected_exif_kind(i)
    if kind == "corrupt":
        app1 = ex.build_exif_app1(orientation=1, make="ACME")
        ba = bytearray(app1)
        # IFD0 entry-count bomb (offset: marker+len=4, Exif\0\0=6, hdr=8)
        ba[18:20] = struct.pack("<H", 0xFFFF)
        payload = ex.inject_app1(payload, bytes(ba))
    elif kind == "bad_orientation":
        payload = ex.inject_app1(payload, ex.build_exif_app1(orientation=0))
    elif kind == "bad_datetime":
        payload = ex.inject_app1(
            payload,
            ex.build_exif_app1(
                orientation=1, datetime_original="2024-05-01 10:00:00"
            ),
        )
    elif kind == "rot90":
        payload = ex.inject_app1(
            payload,
            ex.build_exif_app1(
                orientation=6, datetime_original="2024:05:01 10:00:00"
            ),
        )
    elif kind == "tagged":
        payload = ex.inject_app1(
            payload,
            ex.build_exif_app1(
                orientation=1,
                make="ACME",
                model="Cam 9000",
                datetime="2024:05:02 01:02:03",
            ),
        )
    caption = " ".join(
        rng.choice(_WORDS) for _ in range(int(rng.integers(2, 8)))
    )
    return {
        "image_id": f"exf{i:09d}",
        "bytes": payload,
        "w": w,
        "h": h,
        "fmt": ic.FMT_JPEG,
        "caption": caption,
        "phash": int(phash),
        "part_id": i % n_parts,
    }


def generate_exif_images(
    spark: SparkSession,
    n_rows: int = 500,
    n_parts: int = 8,
    seed: int = 13,
    num_tasks: int | None = None,
) -> DataFrame:
    """Distributed deterministic images table whose JPEG payloads carry
    planted EXIF metadata per :func:`expected_exif_kind` (input_hint
    schema; decoded pixels are unaffected — APP1 is metadata only)."""
    return _generate(
        spark, IMAGES_SCHEMA, n_rows, n_parts, num_tasks,
        _make_exif_row, seed, n_parts,
    )


def generate_progressive_images(
    spark: SparkSession,
    n_rows: int = 400,
    n_parts: int = 8,
    seed: int = 19,
    clean: bool = False,
    num_tasks: int | None = None,
) -> DataFrame:
    """Distributed deterministic images table whose lossy payloads are
    REAL progressive (SOF2) JPEG bitstreams — spectral-selection multi-
    scan files from :func:`jpegcodec.encode_jpeg_progressive`, planted
    violations per :func:`expected_jpeg_flags` (same rules as the
    baseline fixture)."""
    return _generate(
        spark, IMAGES_SCHEMA, n_rows, n_parts, num_tasks,
        _make_jpeg_row, seed, n_parts, clean, codec="jpeg_prog",
    )
