"""Image payload validation tests (SURVEY.md §5 item 3 — golden fixture
end-to-end) plus codec unit checks.

Expected violation sets are COMPUTED from fixtures.expected_flags — the
same index rules the generator plants — so the golden contract is a pure
function of (n_rows, seed), never a stored blob.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from smcchecker_spark import imagecodec as ic
from smcchecker_spark import fixtures
from smcchecker_spark.compile import compile_suite
from smcchecker_spark.constraints import (
    InLookup,
    MaxLength,
    NotNull,
    Suite,
    Unique,
    ValidationContext,
)
from smcchecker_spark.image import ImageConsistent, PsnrAtLeast
from tests import ref_oracle

N = 600  # fixture rows for the e2e test


def test_codec_roundtrips():
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    assert np.array_equal(ic.decode_png(ic.encode_png(arr)), arr)
    lossy = ic.decode_fake_lossy(ic.encode_fake_lossy(arr))
    assert lossy.shape == arr.shape
    assert ic.psnr(arr, lossy) >= 40.0  # the north-star lossy gate
    assert ic.sniff_format(ic.encode_png(arr)) == "png"
    assert ic.sniff_format(ic.encode_fake_lossy(arr)) == "jpeg"


def test_phash_properties():
    rng = np.random.default_rng(11)
    a = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    assert ic.phash64(a) == ic.phash64(a.copy())
    # stable across the lossy roundtrip
    b = ic.decode_fake_lossy(ic.encode_fake_lossy(a))
    assert ic.hamming64(ic.phash64(a), ic.phash64(b)) <= 2
    # different image → different hash (overwhelmingly)
    c = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    assert ic.hamming64(ic.phash64(a), ic.phash64(c)) > 2


def _phash64_ref(arr):
    """Independent scalar reference (the pre-batch formulation) — guards
    phash64_batch against semantic drift: hashes stored by older code
    must keep validating."""
    g = ref_oracle.block_mean_8x8(ic.luma(arr))
    bits = (g > g.mean()).flatten()
    val = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return int(np.int64(np.uint64(val)))


def test_phash64_batch_parity():
    rng = np.random.default_rng(3)
    arrs = []
    # degenerate sizes (h or w < 8 → repeated reduceat boundaries)
    for h in range(1, 13):
        for w in range(1, 13):
            arrs.append(rng.integers(0, 256, (h, w, 3), dtype=np.uint8))
    # mixed random sizes, duplicated shapes to exercise group stacking
    for _ in range(400):
        h, w = int(rng.integers(1, 64)), int(rng.integers(1, 64))
        arrs.append(rng.integers(0, 256, (h, w, 3), dtype=np.uint8))
    got = ic.phash64_batch(arrs)
    assert got.dtype == np.int64
    for i, a in enumerate(arrs):
        assert got[i] == _phash64_ref(a), (i, a.shape)
        assert got[i] == ic.phash64(a)
    # chunked stacking (tiny byte cap → many sub-stacks) is still exact
    import smcchecker_spark.imagecodec as icm

    old = icm._PHASH_STACK_BYTES
    icm._PHASH_STACK_BYTES = 4096
    try:
        assert np.array_equal(ic.phash64_batch(arrs), got)
    finally:
        icm._PHASH_STACK_BYTES = old


def _png_with_extra_chunks(arr):
    """Re-pack an encode_png payload with an ancillary chunk and the IDAT
    split in two — spec-valid, but NOT the fixed layout the decode fast
    path matches, so it must take the generic chunk-walk."""
    import struct
    import zlib

    data = ic.encode_png(arr)
    ln = int.from_bytes(data[33:37], "big")
    idat = data[41 : 41 + ln]
    mid = len(idat) // 2

    def chunk(tag, payload):
        crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)

    return (
        data[:33]  # SIG + IHDR
        + chunk(b"tEXt", b"comment\x00hi")
        + chunk(b"IDAT", idat[:mid])
        + chunk(b"IDAT", idat[mid:])
        + chunk(b"IEND", b"")
    )


def test_decode_png_fast_path_and_generic_agree():
    rng = np.random.default_rng(21)
    for h, w in [(1, 1), (3, 17), (24, 24), (40, 9)]:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        fast = ic.decode_png(ic.encode_png(arr))  # fixed layout → fast path
        slow = ic.decode_png(_png_with_extra_chunks(arr))  # generic loop
        assert np.array_equal(fast, arr) and np.array_equal(slow, arr)
    # a flipped payload byte must still fail CRC validation (the fast
    # path rejects it and the generic loop raises)
    data = bytearray(ic.encode_png(arr))
    data[43] ^= 0xFF  # inside IDAT payload
    with pytest.raises(ValueError, match="CRC mismatch"):
        ic.decode_png(bytes(data))


def test_decode_image_batch_matches_scalar():
    """decode_image_batch (batched fake-lossy dequantize, shared with the
    facts UDF) is slot-aligned and bit-identical to scalar decode_image,
    including every error message."""
    rng = np.random.default_rng(23)
    payloads = []
    for i in range(60):
        h, w = int(rng.integers(1, 30)), int(rng.integers(1, 30))
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        payloads.append(
            ic.encode_png(arr) if i % 3 else ic.encode_fake_lossy(arr)
        )
    bad = [
        None,
        b"garbage",
        b"\x89PNG\r\n\x1a\n\x00bad",
        payloads[0][:25],  # truncated PNG
        payloads[2][:20],  # truncated fake-lossy
        b"RIFF0000WEBPxxxx",
        b"\xff\xd8\xff\xe0notfakelossy",
        b"\xff\xd8\xffFLSY" + b"\x00" * 12,
    ]
    mixed = payloads[:30] + bad + payloads[30:]
    arrs, fmts, errs = ic.decode_image_batch(mixed)
    for i, p in enumerate(mixed):
        try:
            ref_arr, ref_fmt = ic.decode_image(p)
        except ValueError as e:
            assert arrs[i] is None and errs[i] == str(e), i
        else:
            assert errs[i] is None and fmts[i] == ref_fmt, i
            assert np.array_equal(arrs[i], ref_arr), i


def test_decompression_bomb_bounded():
    """Hostile payloads must never materialize more pixels than the
    header declares: a deflate stream inflating to ~100 MB behind a
    small-dims header is rejected by the bounded inflate, and absurd
    declared dims are rejected before any allocation."""
    import struct
    import zlib

    bomb = zlib.compress(b"\x00" * (100 << 20), 9)  # ~100 KB body
    # PNG fast-path layout with 4x4 dims but a bomb IDAT
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    png = (
        ic.PNG_SIG
        + ic._chunk(b"IHDR", ihdr)
        + ic._chunk(b"IDAT", bomb)
        + ic._chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="wrong size"):
        ic.decode_png(png)
    # fake-lossy wrapper, 2x2 dims, bomb body
    fl = (
        ic.JPEG_SOI + ic.FAKE_LOSSY_TAG
        + struct.pack(">HHB", 2, 2, 2)
        + struct.pack(">I", len(bomb)) + bomb + ic.JPEG_EOI
    )
    with pytest.raises(ValueError, match="wrong size"):
        ic.decode_fake_lossy(fl)
    # absurd declared dims: rejected by the cap, not allocated
    big = struct.pack(">HHB", 65535, 65535, 2)
    fl2 = (
        ic.JPEG_SOI + ic.FAKE_LOSSY_TAG + big
        + struct.pack(">I", 4) + b"xxxx" + ic.JPEG_EOI
    )
    with pytest.raises(ValueError, match="decoded-size cap"):
        ic.decode_fake_lossy(fl2)
    # zero-dim header + bomb body: still bounded (max_length=0 would
    # mean "unlimited" to zlib)
    ihdr0 = struct.pack(">IIBBBBB", 4, 0, 8, 2, 0, 0, 0)
    png0 = (
        ic.PNG_SIG
        + ic._chunk(b"IHDR", ihdr0)
        + ic._chunk(b"IDAT", bomb)
        + ic._chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="wrong size"):
        ic.decode_png(png0)


def test_zero_dimension_payloads_are_rowlevel_errors():
    """Regression (review): a valid deflate stream behind a 0-pixel
    header used to decode to an empty array and crash phash64_batch
    (ZeroDivisionError in the stack-step sizing) — killing the whole
    task instead of flagging the row. Zero-dim payloads must be
    per-row decode errors."""
    import struct
    import zlib

    import pandas as pd

    from smcchecker_spark.image import decode_facts_batches

    ihdr0 = struct.pack(">IIBBBBB", 4, 0, 8, 2, 0, 0, 0)  # w=4, h=0
    png0 = (
        ic.PNG_SIG
        + ic._chunk(b"IHDR", ihdr0)
        + ic._chunk(b"IDAT", zlib.compress(b""))
        + ic._chunk(b"IEND", b"")
    )
    fl0 = (
        ic.JPEG_SOI + ic.FAKE_LOSSY_TAG
        + struct.pack(">HHB", 0, 4, 2)
        + struct.pack(">I", len(zlib.compress(b""))) + zlib.compress(b"")
        + ic.JPEG_EOI
    )
    for payload in (png0, fl0):
        with pytest.raises(ValueError, match="zero-pixel"):
            ic.decode_image(payload)
    # end-to-end through the UDF core, mixed with a good image: no crash,
    # per-row errors, good row still hashed
    rng = np.random.default_rng(41)
    good = ic.encode_png(rng.integers(0, 256, (5, 5, 3), dtype=np.uint8))
    out = pd.concat(
        decode_facts_batches(iter([pd.Series([png0, good, fl0])])),
        ignore_index=True,
    )
    assert list(out["ok"]) == [False, True, False]
    assert "zero-pixel" in out["err"][0] and "zero-pixel" in out["err"][2]


def test_dequant_lut_matches_formula():
    """The LUT gather must equal the original clip((q<<s)|mid) formula
    for every (q, shift) — including corrupt-payload q values that
    overflow 255 and rely on the clip."""
    for shift in range(1, 8):
        q = np.arange(256, dtype=np.uint16)
        ref = ((q << shift) | (1 << (shift - 1))).clip(0, 255).astype(np.uint8)
        got = ic._dequantize(np.arange(256, dtype=np.uint8), shift)
        assert np.array_equal(got, ref), shift


def test_decode_facts_buffering_rechunks_and_preserves_order():
    """decode_facts_batches buffers rows across input batches (flush at
    rows_cap) and must emit one row per input row, in order, with the
    same facts the scalar path computes — including null/corrupt rows
    interleaved at buffer boundaries."""
    import pandas as pd

    from smcchecker_spark.image import decode_facts_batches

    rng = np.random.default_rng(5)
    payloads, expect = [], []
    for i in range(37):
        kind = i % 4
        if kind == 0:
            payloads.append(None)
            expect.append((False, "null payload"))
        elif kind == 1:
            payloads.append(b"\x89PNG\r\n\x1a\xffjunk")
            expect.append((False, None))  # some decode error
        else:
            h, w = int(rng.integers(1, 20)), int(rng.integers(1, 20))
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            enc = ic.encode_png(arr) if kind == 2 else ic.encode_fake_lossy(arr)
            payloads.append(enc)
            dec, fmt = ic.decode_image(enc)
            expect.append((True, (dec.shape[1], dec.shape[0], fmt, ic.phash64(dec))))
    batches = [pd.Series(payloads[lo : lo + 5]) for lo in range(0, 37, 5)]
    frames = list(decode_facts_batches(iter(batches), rows_cap=12))
    assert len(frames) > 1  # re-chunking actually happened
    out = pd.concat(frames, ignore_index=True)
    assert len(out) == 37
    for i, (ok, detail) in enumerate(expect):
        assert bool(out["ok"][i]) == ok, i
        if ok:
            w, h, fmt, ph = detail
            assert (out["w"][i], out["h"][i], out["fmt"][i]) == (w, h, fmt)
            assert out["phash"][i] == ph
        elif detail:
            assert out["err"][i] == detail


def test_psnr_pair_batches_matches_scalar():
    import pandas as pd

    from smcchecker_spark.image import psnr_pair_batches

    rng = np.random.default_rng(9)
    pa, pb, expect = [], [], []
    for i in range(23):
        kind = i % 5
        if kind == 0:  # null side
            pa.append(None)
            pb.append(ic.encode_png(rng.integers(0, 256, (9, 9, 3), dtype=np.uint8)))
            expect.append(np.nan)
        elif kind == 1:  # corrupt side
            pa.append(b"\x89PNG\r\n\x1a\xffbad")
            pb.append(ic.encode_png(rng.integers(0, 256, (9, 9, 3), dtype=np.uint8)))
            expect.append(np.nan)
        elif kind == 2:  # shape mismatch
            pa.append(ic.encode_png(rng.integers(0, 256, (8, 9, 3), dtype=np.uint8)))
            pb.append(ic.encode_png(rng.integers(0, 256, (9, 8, 3), dtype=np.uint8)))
            expect.append(np.nan)
        elif kind == 3:  # lossless identical → +inf → 1e9
            arr = rng.integers(0, 256, (11, 7, 3), dtype=np.uint8)
            pa.append(ic.encode_png(arr))
            pb.append(ic.encode_png(arr))
            expect.append(1e9)
        else:  # lossy pair → scalar psnr value
            arr = rng.integers(0, 256, (13, 13, 3), dtype=np.uint8)
            pa.append(ic.encode_png(arr))
            pb.append(ic.encode_fake_lossy(arr))
            expect.append(ic.psnr(arr, ic.decode_fake_lossy(pb[-1])))
    batches = [
        (pd.Series(pa[lo : lo + 4]), pd.Series(pb[lo : lo + 4]))
        for lo in range(0, 23, 4)
    ]
    out = pd.concat(psnr_pair_batches(iter(batches), rows_cap=7), ignore_index=True)
    assert len(out) == 23
    for i, e in enumerate(expect):
        if np.isnan(e):
            assert np.isnan(out[i]), i
        else:
            assert out[i] == pytest.approx(e, abs=1e-9), i


@pytest.fixture(scope="module")
def images(spark):
    return fixtures.generate_images(spark, n_rows=N, n_parts=8, seed=42).cache()


def _ids(rows):
    return {r["row_id"] for r in rows}


def test_image_consistency_golden(spark, images):
    suite = Suite(name="img", table="images", constraints=[ImageConsistent()])
    v = compile_suite(images, suite, row_id_col="image_id", part_id_col="part_id")
    got = _ids(v.collect())

    expected = set()
    for i in range(N):
        fl = fixtures.expected_flags(i)
        if any(
            fl[k] for k in ("truncated", "bitflip", "w_off", "w_null", "phash_off")
        ) or i % 43 in (7, 9, 21):
            # fmt plantings also break decoded-fmt == stored-fmt
            expected.add(fixtures._image_id(i - 1) if fl["dup"] else fixtures._image_id(i))
    assert got == expected


def test_image_violation_messages(spark, images):
    suite = Suite(name="img", table="images", constraints=[ImageConsistent()])
    v = compile_suite(images, suite, row_id_col="image_id", part_id_col="part_id")
    msgs = {r["row_id"]: r["error_message"] for r in v.collect()}
    trunc_id = fixtures._image_id(3)  # i=3 → truncated
    woff_id = fixtures._image_id(5)  # i=5 → w off-by-one
    assert "decode failed" in msgs[trunc_id]
    assert "width mismatch" in msgs[woff_id]


def test_decode_udf_single_arrow_stage(spark, images):
    # the consistency constraint must decode each payload exactly once:
    # one ArrowEvalPython node in the physical plan
    suite = Suite(name="img", table="images", constraints=[ImageConsistent()])
    v = compile_suite(images, suite, row_id_col="image_id", part_id_col="part_id")
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_full_suite_golden(spark, images):
    """The whole reference-style battery on the fixture, golden-checked."""
    ctx = ValidationContext(lookups={"lu_fmt": fixtures.lu_fmt(spark)})
    suite = Suite(
        name="images",
        table="images",
        constraints=[
            NotNull("caption"),
            MaxLength("caption", max_length=256),
            Unique(keys=["image_id"]),
            InLookup("fmt", lookup="lu_fmt", lookup_key="fmt"),
            ImageConsistent(),
        ],
    )
    v = compile_suite(images, suite, ctx, row_id_col="image_id", part_id_col="part_id").cache()

    by_check = {
        name: _ids(v.filter(F.col("check_name") == name).collect())
        for name in (
            "notnull_caption",
            "maxlength_caption",
            "unique_image_id",
            "inlookup_fmt_lu_fmt",
        )
    }

    exp_null, exp_len, exp_dup, exp_fmt = set(), set(), set(), set()
    for i in range(N):
        fl = fixtures.expected_flags(i)
        rid = fixtures._image_id(i - 1) if fl["dup"] else fixtures._image_id(i)
        if fl["caption_empty"]:
            exp_null.add(rid)
        if fl["caption_long"]:
            exp_len.add(rid)
        if fl["dup"]:
            exp_dup.add(rid)  # both members share the same id
        if fl["fmt_bad"]:
            exp_fmt.add(rid)
    assert by_check["notnull_caption"] == exp_null
    assert by_check["maxlength_caption"] == exp_len
    assert by_check["unique_image_id"] == exp_dup
    assert by_check["inlookup_fmt_lu_fmt"] == exp_fmt
    v.unpersist()


def test_psnr_and_caption_parity_clean_pairs(spark):
    """Clean fixture vs itself re-encoded: PSNR >= 40 dB everywhere AND
    caption equality (the full per-row invariant vs the reference
    checker, input_hint: 'decoded-pixel allclose … + caption equality')."""
    from smcchecker_spark.constraints import FieldEquals

    a = fixtures.generate_images(spark, n_rows=60, n_parts=4, seed=42, clean=True)
    b = (
        fixtures.generate_images(spark, n_rows=60, n_parts=4, seed=42, clean=True)
        .select(
            "image_id",
            F.col("bytes").alias("ref_bytes"),
            F.col("caption").alias("ref_caption"),
        )
    )
    df = a.join(b, "image_id")
    suite = Suite(
        name="par",
        table="images",
        constraints=[
            PsnrAtLeast(column="bytes", reference_col="ref_bytes"),
            FieldEquals("caption", reference_col="ref_caption"),
        ],
    )
    v = compile_suite(df, suite, row_id_col="image_id", part_id_col="part_id")
    assert v.count() == 0

    # corrupt one payload + one caption → exactly those (row, check) pairs
    df_bad = df.withColumns(
        {
            "bytes": F.when(
                F.col("image_id") == fixtures._image_id(0), F.lit(b"junk")
            ).otherwise(F.col("bytes")),
            "caption": F.when(
                F.col("image_id") == fixtures._image_id(1), F.lit("tampered")
            ).otherwise(F.col("caption")),
        }
    )
    v2 = compile_suite(df_bad, suite, row_id_col="image_id", part_id_col="part_id")
    got = {(r["row_id"], r["check_name"]) for r in v2.collect()}
    assert got == {
        (fixtures._image_id(0), "psnr_bytes_ref_bytes"),
        (fixtures._image_id(1), "fieldequals_caption_ref_caption"),
    }
