"""Real baseline JPEG codec (smcchecker_spark/jpegcodec.py) + its engine
integration: roundtrip PSNR vs the north-star 40 dB gate, bitstream
structure, corrupt-payload robustness, decode dispatch, and the
planted-violation golden for the real-JPEG fixture suite."""

import struct

import numpy as np
import pytest

from smcchecker_spark import imagecodec as ic
from smcchecker_spark import jpegcodec as jc


def _noise(h, w, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8
    )


def _smooth(h, w):
    x = np.linspace(0, 200, w)
    y = np.linspace(0, 55, h)
    base = y[:, None] + x[None, :]
    return np.stack(
        [base, base * 0.8 + 20, base * 0.5 + 60], axis=-1
    ).astype(np.uint8)


# ---------------------------------------------------------------------------
# Roundtrip quality
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("h,w", [(8, 8), (13, 29), (32, 32), (9, 7), (64, 48)])
def test_roundtrip_noise_q98_clears_gate(h, w):
    # pure noise is JPEG's worst case — q98 (the fixture quality) must
    # still clear the north-star 40 dB decoded-pixel gate
    a = _noise(h, w, seed=h * 100 + w)
    dec = jc.decode_jpeg(jc.encode_jpeg(a, quality=98))
    assert dec.shape == a.shape
    assert ic.psnr(a, dec) >= 40.0


def test_roundtrip_smooth_both_samplings():
    a = _smooth(48, 64)
    for sub in ("444", "420"):
        dec = jc.decode_jpeg(jc.encode_jpeg(a, quality=95, subsampling=sub))
        assert dec.shape == a.shape
        assert ic.psnr(a, dec) >= 45.0, sub


def test_solid_color_exact():
    # one DCT DC coefficient, zero ACs → bit-exact roundtrip
    for v in (0, 128, 255):
        a = np.full((24, 16, 3), v, dtype=np.uint8)
        assert np.array_equal(jc.decode_jpeg(jc.encode_jpeg(a)), a)


def test_one_pixel_and_odd_dims():
    for shape in [(1, 1), (1, 17), (17, 1), (7, 9)]:
        a = _noise(*shape, seed=3)
        for sub in ("444", "420"):
            dec = jc.decode_jpeg(jc.encode_jpeg(a, quality=98, subsampling=sub))
            assert dec.shape == a.shape


def test_lower_quality_monotone():
    a = _noise(32, 32, seed=5)
    ps = [
        ic.psnr(a, jc.decode_jpeg(jc.encode_jpeg(a, quality=q)))
        for q in (30, 75, 95, 100)
    ]
    assert ps == sorted(ps)
    assert ps[0] < 40.0  # q30 noise is below the gate (used as planted pair)


def test_determinism():
    a = _noise(20, 30, seed=9)
    assert jc.encode_jpeg(a) == jc.encode_jpeg(a)
    d1 = jc.decode_jpeg(jc.encode_jpeg(a))
    d2 = jc.decode_jpeg(jc.encode_jpeg(a))
    assert np.array_equal(d1, d2)


# ---------------------------------------------------------------------------
# Bitstream structure (spec-level checks, no external decoder available)
# ---------------------------------------------------------------------------


def test_bitstream_markers():
    a = _noise(16, 24, seed=1)
    data = jc.encode_jpeg(a, quality=90)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert data[2:4] == b"\xff\xe0" and data[6:11] == b"JFIF\x00"  # APP0
    # SOF0 present with big-endian dims and 3 components
    i = data.index(b"\xff\xc0")
    assert data[i + 4] == 8  # precision
    assert int.from_bytes(data[i + 5 : i + 7], "big") == 16  # height
    assert int.from_bytes(data[i + 7 : i + 9], "big") == 24  # width
    assert data[i + 9] == 3
    assert data.count(b"\xff\xc4") >= 4  # four DHT segments
    assert b"\xff\xdb" in data and b"\xff\xda" in data  # DQT + SOS
    # no bare 0xFF inside entropy data: every 0xFF outside markers is
    # stuffed — verified by decoding (would desync otherwise)
    assert jc.decode_jpeg(data).shape == a.shape


def test_sniff_and_dispatch():
    a = _noise(12, 12, seed=2)
    data = jc.encode_jpeg(a, quality=98)
    assert ic.sniff_format(data) == "jpeg"
    arr, fmt = ic.decode_image(data)
    assert fmt == "jpeg"
    assert np.array_equal(arr, jc.decode_jpeg(data))
    # mixed batch: png + fake-lossy + real jpeg + garbage
    batch = [
        ic.encode_png(a),
        ic.encode_fake_lossy(a),
        data,
        b"\x00\x01\x02",
    ]
    arrs, fmts, errs = ic.decode_image_batch(batch)
    assert fmts[:3] == ["png", "jpeg", "jpeg"] and errs[3] is not None
    assert np.array_equal(arrs[2], arr)


# ---------------------------------------------------------------------------
# Robustness on corrupt payloads (validation engines see hostile bytes)
# ---------------------------------------------------------------------------


def test_truncation_never_crashes():
    a = _noise(16, 16, seed=4)
    data = jc.encode_jpeg(a, quality=90)
    for cut in range(2, len(data), 7):
        try:
            out = jc.decode_jpeg(data[:cut])
            assert out.shape == a.shape  # complete-scan prefixes may decode
        except ValueError:
            pass


def test_bitflip_never_crashes():
    a = _noise(12, 16, seed=6)
    data = jc.encode_jpeg(a, quality=90)
    for pos in range(0, len(data), 5):
        ba = bytearray(data)
        ba[pos] ^= 0xFF
        try:
            out = jc.decode_jpeg(bytes(ba))
            assert out.ndim == 3  # some pixel-area flips decode to noise
        except (ValueError, IndexError, struct.error):
            pass


def test_sof2_with_baseline_scan_rejected():
    # flipping SOF0 -> SOF2 makes the baseline full-band interleaved
    # scan header (Ss=0, Se=63) invalid for a progressive frame
    a = _noise(8, 8, seed=7)
    data = bytearray(jc.encode_jpeg(a))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 1] = 0xC2  # SOF0 → SOF2 (progressive)
    with pytest.raises(ValueError, match="progressive scan header"):
        jc.decode_jpeg(bytes(data))


def test_lossless_arithmetic_rejected():
    a = _noise(8, 8, seed=7)
    data = bytearray(jc.encode_jpeg(a))
    i = bytes(data).index(b"\xff\xc0")
    for sof in (0xC3, 0xC9, 0xCB):  # lossless / arithmetic variants
        ba = bytearray(data)
        ba[i + 1] = sof
        with pytest.raises(ValueError, match="not supported"):
            jc.decode_jpeg(bytes(ba))


def test_oversize_header_rejected():
    a = _noise(8, 8, seed=8)
    data = bytearray(jc.encode_jpeg(a))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 5 : i + 7] = (60000).to_bytes(2, "big")  # claim 60000px height
    with pytest.raises(ValueError):
        jc.decode_jpeg(bytes(data))


# ---------------------------------------------------------------------------
# Engine integration: real-JPEG fixture suite golden + PSNR gate query
# ---------------------------------------------------------------------------


def expected_codec_violation_rows(n, pre, consistent, idcol, flags_fn,
                                  bad_keys):
    """Exact (row_id, check_name) multiset a codec fixture suite must
    emit — ROW-LEVEL goldens recomputed from the planted modular rules
    (shared by the jpeg/prog/webp/audio/video suite tests). Unique
    flags EVERY physical row of a duplicated id (dup row + its victim),
    both carrying the duplicated id as row_id."""
    rows = []
    for i in range(n):
        f = flags_fn(i)
        rid = f"{pre}{i - 1:09d}" if f["dup"] else f"{pre}{i:09d}"
        if any(f[k] for k in bad_keys):
            rows.append((rid, consistent))
        if f["caption_empty"]:
            rows.append((rid, "notnull_caption"))
        if f["dup"]:
            rows.append((rid, f"unique_{idcol}"))
            rows.append((f"{pre}{i - 1:09d}", f"unique_{idcol}"))
    return sorted(rows)


def test_jpeg_fixture_suite_golden(spark):
    from smcchecker_spark import fixtures
    import __spark_entry__ as entry

    got = sorted(
        (r["row_id"], r["check_name"])
        for r in entry.q_jpeg_validate(spark, "").collect()
    )
    assert got == expected_codec_violation_rows(
        600, "jpg", "imageconsistent_bytes", "image_id",
        fixtures.expected_jpeg_flags,
        ("truncated", "bitflip", "w_off", "phash_off"),
    )


def test_jpeg_psnr_gate_golden(spark):
    import __spark_entry__ as entry

    rows = entry.q_jpeg_psnr_gate(spark, "").collect()
    exp = {f"pair{i:09d}" for i in range(300) if i % 11 == 3}
    assert {r["row_id"] for r in rows} == exp


def test_grayscale_roundtrip_and_dispatch():
    rng = np.random.default_rng(11)
    g = rng.integers(0, 256, (19, 27), dtype=np.uint8)
    data = jc.encode_jpeg_gray(g, quality=98)
    arr, fmt = ic.decode_image(data)  # engine dispatch, not just the codec
    assert fmt == "jpeg" and arr.shape == (19, 27, 3)
    assert np.array_equal(arr[:, :, 0], arr[:, :, 1])
    assert ic.psnr(np.stack([g, g, g], axis=-1), arr) >= 45.0
    solid = np.full((16, 16), 77, dtype=np.uint8)
    dec = jc.decode_jpeg(jc.encode_jpeg_gray(solid))
    assert np.array_equal(dec[:, :, 0], solid)


def test_dct_matrix_orthonormal():
    # T.81's FDCT normalization equals the orthonormal 1-D matrix on
    # both sides: D @ D.T must be exactly I (up to float eps), which
    # also proves encode's D@b@D.T and decode's D.T@c@D invert exactly
    eye = jc._DCT @ jc._DCT.T
    assert np.allclose(eye, np.eye(8), atol=1e-12)


def test_quality_tables_spec_points():
    # q50 must reproduce Annex K verbatim (scale factor 100)
    lum50, chm50 = jc.quality_tables(50)
    assert np.array_equal(lum50, jc.QT_LUMA)
    assert np.array_equal(chm50, jc.QT_CHROMA)
    # q100 floors to the minimum step everywhere
    lum100, _ = jc.quality_tables(100)
    assert lum100.min() == 1.0 and lum100.max() <= 2.0
    # monotone: lower quality -> coarser steps, everywhere
    lum10, _ = jc.quality_tables(10)
    assert np.all(lum10 >= lum50)


def test_annex_k_huffman_tables_complete():
    # every table must define a complete (Kraft-exact) prefix code with
    # the spec's symbol counts
    for bits, vals, n in (
        (jc.DC_LUMA_BITS, jc.DC_LUMA_VALS, 12),
        (jc.DC_CHROMA_BITS, jc.DC_CHROMA_VALS, 12),
        (jc.AC_LUMA_BITS, jc.AC_LUMA_VALS, 162),
        (jc.AC_CHROMA_BITS, jc.AC_CHROMA_VALS, 162),
    ):
        assert sum(bits) == len(vals) == n
        codes = jc._build_codes(bits, vals)
        assert len(codes) == n
        # prefix-free: no code is a prefix of another
        as_bits = {f"{c:0{l}b}" for c, l in codes.values()}
        assert len(as_bits) == n
        for a in as_bits:
            assert not any(b != a and b.startswith(a) for b in as_bits)


def test_zigzag_is_permutation():
    assert sorted(jc.ZIGZAG.tolist()) == list(range(64))
    # spec spot-checks: scan starts 0,1,8,16,9,2 and ends ...55,62,63
    assert jc.ZIGZAG[:6].tolist() == [0, 1, 8, 16, 9, 2]
    assert jc.ZIGZAG[-3:].tolist() == [55, 62, 63]


def test_restart_markers_decode():
    """DRI/RSTn support: a scan split into byte-aligned restart segments
    (DC predictors reset per segment) must decode identically to the
    unsegmented stream. Composed from the encoder's own tokenizer since
    our writer never emits restarts but real-world files do."""
    rng = np.random.default_rng(21)
    h, w = 16, 16  # 2x2 MCUs at 4:4:4
    a = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    base = jc.encode_jpeg(a, quality=90)
    ref = jc.decode_jpeg(base)

    # re-derive the quantized blocks exactly as encode_jpeg does
    lum_qt, chm_qt = jc.quality_tables(90)
    rgb = a.astype(np.float64)
    y = rgb @ jc._RGB2Y
    cb = rgb @ jc._RGB2CB + 128.0
    cr = rgb @ jc._RGB2CR + 128.0
    zz, grids = [], []
    for plane, qt in ((y, lum_qt), (cb, chm_qt), (cr, chm_qt)):
        blocks = jc._to_blocks(plane) - 128.0
        q = np.rint((jc._DCT @ blocks @ jc._DCT.T) / qt.reshape(8, 8))
        zz.append(q.astype(np.int64).reshape(-1, 64)[:, jc.ZIGZAG])
        grids.append((2, 2))

    # restart_interval=2 → one segment per MCU row; each segment is an
    # independent token stream (DC predictors reset) packed byte-aligned
    segs = []
    for row in (0, 1):
        zz_row = [z.reshape(2, 2, 64)[row].reshape(2, 64) for z in zz]
        vals, lens = jc._entropy_tokens(
            zz_row, [(1, 2)] * 3, [(1, 1)] * 3, [0, 1, 1], 2, 1
        )
        segs.append(jc._pack_bits(vals, lens))
    scan = segs[0] + b"\xff\xd0" + segs[1]

    # splice: headers from the reference stream + a DRI segment + scan
    sos_at = base.index(b"\xff\xda")
    sos_len = int.from_bytes(base[sos_at + 2 : sos_at + 4], "big")
    headers = base[: sos_at]
    sos = base[sos_at : sos_at + 2 + sos_len]
    dri = b"\xff\xdd\x00\x04" + (2).to_bytes(2, "big")
    data = headers + dri + sos + scan + b"\xff\xd9"
    dec = jc.decode_jpeg(data)
    assert np.array_equal(dec, ref)


def test_compact_coefficient_path_parity(monkeypatch):
    """Large frames switch coefficient storage to a compact int32 matrix
    (bounded memory against hostile max-dims headers); the two stores
    must decode identically. Pinned to the Python symbol loop — the
    native kernel always uses compact stores."""
    from smcchecker_spark import native

    monkeypatch.setitem(native._cache, "jpegscan.c", False)
    a = _noise(40, 56, seed=31)
    data = jc.encode_jpeg(a, quality=90)
    fast = jc.decode_jpeg(data)
    monkeypatch.setattr(jc, "_COMPACT_COEF_BLOCKS", 1)  # force compact
    compact = jc.decode_jpeg(data)
    assert np.array_equal(fast, compact)


# ---------------------------------------------------------------------------
# T.81 conformance paths our own encoder never emits (round-3 ADVICE items):
# fill bytes, non-interleaved scans, multi-scan baseline, entropy budgets
# ---------------------------------------------------------------------------


def test_fill_bytes_before_markers():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker code. Spec-valid padded files must decode identically."""
    a = _noise(24, 16, seed=41)
    base = jc.encode_jpeg(a, quality=90)
    ref = jc.decode_jpeg(base)
    padded = bytearray(base)
    # pad before DQT, SOF0, SOS and EOI (markers found in the raw bytes;
    # all sit outside entropy data for our writer's layout)
    for m in (b"\xff\xdb", b"\xff\xc0", b"\xff\xda", b"\xff\xd9"):
        at = bytes(padded).index(m)
        padded[at:at] = b"\xff" * 3
    dec = jc.decode_jpeg(bytes(padded))
    assert np.array_equal(dec, ref)


@pytest.mark.parametrize("h,w", [(16, 16), (24, 24), (40, 24), (17, 23)])
def test_gray_2x2_sampling_is_non_interleaved(h, w):
    """T.81 A.2: a single-component scan is non-interleaved — one data
    unit per MCU on the component's own ceil(dims/8) grid — regardless
    of the SOF sampling factors. A grayscale SOF declaring 2x2 sampling
    must decode identically to the 1x1 version (libjpeg behaves the
    same way)."""
    a = np.random.default_rng(h * 100 + w).integers(
        0, 256, (h, w), dtype=np.uint8
    )
    enc = bytearray(jc.encode_jpeg_gray(a, quality=95))
    ref = jc.decode_jpeg(bytes(enc))
    at = bytes(enc).index(b"\xff\xc0")
    hv_off = at + 2 + 2 + 1 + 2 + 2 + 1 + 1  # SOF comp #1 H/V byte
    assert enc[hv_off] == 0x11
    enc[hv_off] = 0x22
    assert np.array_equal(jc.decode_jpeg(bytes(enc)), ref)


def _encode_multi_scan(a: np.ndarray, quality: int) -> bytes:
    """Test-only writer: 4:4:4 color baseline with THREE sequential
    single-component scans (T.81 sequential multi-scan layout) carrying
    the exact quantized coefficients of the interleaved encoder."""
    h, w = a.shape[:2]
    lum_qt, chm_qt = jc.quality_tables(quality)
    rgb = a.astype(np.float64)
    planes = (
        rgb @ jc._RGB2Y,
        rgb @ jc._RGB2CB + 128.0,
        rgb @ jc._RGB2CR + 128.0,
    )
    base = jc.encode_jpeg(a, quality=quality)  # headers template
    sos_at = base.index(b"\xff\xda")
    headers = base[:sos_at]
    out = bytearray(headers)
    bh, bw = -(-h // 8), -(-w // 8)
    for cid, (plane, qt, cls) in enumerate(
        zip(planes, (lum_qt, chm_qt, chm_qt), (0, 1, 1)), start=1
    ):
        padded = np.pad(
            plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge"
        )
        blocks = jc._to_blocks(padded) - 128.0
        q = np.rint((jc._DCT @ blocks @ jc._DCT.T) / qt.reshape(8, 8))
        zz = q.astype(np.int64).reshape(-1, 64)[:, jc.ZIGZAG]
        vals, lens = jc._entropy_tokens(
            [zz], [(bh, bw)], [(1, 1)], [cls], bw, bh
        )
        tt = 0x00 if cls == 0 else 0x11
        sos = b"\xff\xda\x00\x08\x01" + bytes([cid, tt]) + b"\x00\x3f\x00"
        out += sos + jc._pack_bits(vals, lens)
    out += b"\xff\xd9"
    return bytes(out)


def test_multi_scan_baseline_decodes():
    """Sequential baseline files may carry each component in its own
    SOS (one coefficient store shared across scans). Must decode
    identically to the interleaved layout of the same coefficients."""
    a = _noise(17, 23, seed=43)
    ref = jc.decode_jpeg(jc.encode_jpeg(a, quality=90))
    dec = jc.decode_jpeg(_encode_multi_scan(a, quality=90))
    assert np.array_equal(dec, ref)


def test_component_scanned_twice_rejected():
    a = _noise(16, 16, seed=44)
    data = _encode_multi_scan(a, quality=90)
    # duplicate the first scan: find the first two SOS offsets
    first = data.index(b"\xff\xda")
    second = data.index(b"\xff\xda", first + 2)
    doubled = data[:second] + data[first:second] + data[second:]
    with pytest.raises(ValueError, match="scanned twice"):
        jc.decode_jpeg(doubled)


def test_component_never_scanned_rejected():
    a = _noise(16, 16, seed=45)
    data = _encode_multi_scan(a, quality=90)
    # truncate after the second scan (drop component 3's SOS entirely)
    third = data.index(b"\xff\xda", data.index(
        b"\xff\xda", data.index(b"\xff\xda") + 2) + 2)
    with pytest.raises(ValueError, match="never scanned"):
        jc.decode_jpeg(data[:third] + b"\xff\xd9")


def test_entropy_budget_rejects_oversized_scan():
    """A hostile tiny-dims JPEG with a multi-MB scan must be rejected
    BEFORE the decoder materializes bit windows for it (bounded memory
    per task) — T.81's worst case bounds valid scans at <216 bytes per
    8x8 block."""
    a = _noise(8, 8, seed=46)
    data = jc.encode_jpeg(a, quality=90)
    eoi = data.rindex(b"\xff\xd9")
    # 64 KB of zero bytes is valid entropy padding byte-wise (no 0xFF),
    # but blows the 3-block budget by ~100x
    hostile = data[:eoi] + b"\x00" * 65536 + data[eoi:]
    with pytest.raises(ValueError, match="worst-case budget"):
        jc.decode_jpeg(hostile)


def test_window_chunk_refill_parity(monkeypatch):
    """Entropy windows are materialized in bounded slabs; force a tiny
    slab so every refill site (DC code, DC magnitude, AC code, AC
    magnitude) triggers repeatedly and assert bit-exact parity.
    Pinned to the Python symbol loop — the slab is a Python-path-only
    construct (the native kernel reads bytes in place)."""
    from smcchecker_spark import native

    monkeypatch.setitem(native._cache, "jpegscan.c", False)
    a = _noise(32, 32, seed=47)
    data = jc.encode_jpeg(a, quality=98)
    ref = jc.decode_jpeg(data)
    monkeypatch.setattr(jc, "_WINDOW_CHUNK_BYTES", 7)
    assert np.array_equal(jc.decode_jpeg(data), ref)


# ---------------------------------------------------------------------------
# Native entropy-decode kernel vs the Python reference loop
# ---------------------------------------------------------------------------


def _pin_python(monkeypatch):
    from smcchecker_spark import native

    monkeypatch.setitem(native._cache, "jpegscan.c", False)


def test_native_kernel_loads():
    """This container has cc; the kernel must compile and load (other
    environments may legitimately lack it — the codec then falls back,
    which the parity tests cover either way)."""
    from smcchecker_spark import native

    native._cache.pop("jpegscan.c", None)
    assert native.jpegscan() is not None


def test_native_python_pixel_parity(monkeypatch):
    """Bit-exact decoded pixels across both paths for every layout the
    decoder supports: 4:4:4, 4:2:0, grayscale, restarts, multi-scan."""
    from smcchecker_spark import native

    cases = []
    for i, (h, w) in enumerate([(8, 8), (17, 23), (32, 32), (9, 40)]):
        a = _noise(h, w, seed=60 + i)
        cases.append(jc.encode_jpeg(a, quality=98))
        cases.append(jc.encode_jpeg(a, quality=85, subsampling="420"))
    g = np.random.default_rng(5).integers(0, 256, (24, 24), dtype=np.uint8)
    cases.append(jc.encode_jpeg_gray(g, quality=92))
    cases.append(_encode_multi_scan(_noise(16, 16, seed=66), quality=90))
    if native.jpegscan() is None:
        pytest.skip("no C compiler in this environment")
    dec_native = [jc.decode_jpeg(p) for p in cases]
    _pin_python(monkeypatch)
    for i, p in enumerate(cases):
        assert np.array_equal(jc.decode_jpeg(p), dec_native[i]), i


def test_native_python_error_parity(monkeypatch):
    """Corrupt streams must raise the same ValueError text on both
    paths (the kernel returns error codes the dispatcher maps back)."""
    from smcchecker_spark import native

    if native.jpegscan() is None:
        pytest.skip("no C compiler in this environment")
    a = _noise(16, 16, seed=70)
    data = bytearray(jc.encode_jpeg(a, quality=90))
    sos_at = bytes(data).index(b"\xff\xda")
    scan0 = sos_at + 2 + int.from_bytes(data[sos_at + 2 : sos_at + 4], "big")
    rng = np.random.default_rng(71)
    msgs_native, msgs_py = [], []
    corrupted = []
    for _ in range(40):
        mut = bytearray(data)
        # flip bytes inside the entropy segment only
        for at in rng.integers(scan0, len(data) - 2, size=3):
            mut[at] ^= int(rng.integers(1, 256))
            if mut[at] == 0xFF:
                mut[at] = 0xFE  # keep the mutation inside the segment
        corrupted.append(bytes(mut))
    for p in corrupted:
        try:
            jc.decode_jpeg(p)
            msgs_native.append(None)
        except ValueError as e:
            msgs_native.append(str(e))
    _pin_python(monkeypatch)
    for p in corrupted:
        try:
            jc.decode_jpeg(p)
            msgs_py.append(None)
        except ValueError as e:
            msgs_py.append(str(e))
    assert msgs_native == msgs_py


# ---------------------------------------------------------------------------
# Reconstruction kernel (jpegrecon.c): fixed-point integer IDCT +
# upsample + color convert, bit-exact vs the numpy reference
# ---------------------------------------------------------------------------


def test_idct_constants_pinned_to_cos_derivation():
    """_IDCT_M is a frozen literal (so decode never depends on the
    host's libm); this pins it against the cos() derivation it came
    from — if a platform's cos ever rounds differently, THIS fails
    rather than decode output drifting."""
    ref = np.round(jc._dct_matrix() * (1 << jc._IDCT_BITS)).astype(np.int64)
    assert np.array_equal(jc._IDCT_M, ref)


def test_recon_native_python_pixel_parity(monkeypatch):
    """jpegrecon.c must produce bit-identical pixels to the numpy
    integer reference for every layout: 4:4:4, 4:2:0, grayscale,
    DC-only solid blocks, odd crop edges."""
    from smcchecker_spark import native

    if native.jpegrecon() is None:
        pytest.skip("no C compiler in this environment")
    cases = []
    for i, (h, w) in enumerate([(8, 8), (17, 23), (32, 32), (9, 40), (64, 48)]):
        a = _noise(h, w, seed=80 + i)
        cases.append(jc.encode_jpeg(a, quality=98))
        cases.append(jc.encode_jpeg(a, quality=75, subsampling="420"))
    g = np.random.default_rng(81).integers(0, 256, (21, 35), dtype=np.uint8)
    cases.append(jc.encode_jpeg_gray(g, quality=92))
    cases.append(jc.encode_jpeg(np.full((16, 16, 3), 200, np.uint8), quality=95))
    dec_native = [jc.decode_jpeg(p) for p in cases]
    monkeypatch.setitem(native._cache, "jpegrecon.c", False)
    for i, p in enumerate(cases):
        assert np.array_equal(jc.decode_jpeg(p), dec_native[i]), i


def test_recon_parity_extreme_coefficients(monkeypatch):
    """Hostile-regime parity: saturated coefficient stores (|coef| at
    the scan decoder's ±32767 cap, qt 255) exercise the largest int64
    intermediates — both paths must still agree bit-exactly (the
    analysis says pass-2 sums stay ≪ 2^63; this checks it end to end)."""
    from smcchecker_spark import native

    if native.jpegrecon() is None:
        pytest.skip("no C compiler in this environment")
    rng = np.random.default_rng(93)

    def mk_frame():
        f = jc._Frame()
        f.h, f.w = 29, 37
        f.comps = [
            {"id": 1, "hi": 2, "vi": 2, "tq": 0},
            {"id": 2, "hi": 1, "vi": 1, "tq": 1},
            {"id": 3, "hi": 1, "vi": 1, "tq": 1},
        ]
        for c in f.comps:
            c["bw"] = 6 if c["hi"] == 2 else 3
            c["bh"] = 4 if c["vi"] == 2 else 2
            nb = c["bw"] * c["bh"]
            coef = rng.integers(-32767, 32768, (nb, 64)).astype(np.int32)
            c["coef"] = np.ascontiguousarray(coef)
            c["coef_ptr"] = c["coef"].ctypes.data
        return f

    qts = {
        0: np.full(64, 255, dtype=np.int32),
        1: rng.integers(1, 256, 64).astype(np.int32),
    }
    frames = [mk_frame() for _ in range(5)]
    out_native = [jc._reconstruct(f, qts) for f in frames]
    monkeypatch.setitem(native._cache, "jpegrecon.c", False)
    for i, f in enumerate(frames):
        assert np.array_equal(jc._reconstruct(f, qts), out_native[i]), i


# ---------------------------------------------------------------------------
# Progressive (SOF2) decode
# ---------------------------------------------------------------------------

import os as _os

_PROG_VEC = _os.path.join(
    _os.path.dirname(__file__), "vectors", "ext_prog_24x17_q0.9.jpg"
)


def test_progressive_decodes_deterministically():
    data = open(_PROG_VEC, "rb").read()
    a = jc.decode_jpeg(data)
    b = jc.decode_jpeg(data)
    assert a.shape == (24, 17, 3)
    assert np.array_equal(a, b)


def test_progressive_truncation_never_crashes():
    # every truncation point either decodes (severed tail scans may
    # legitimately be absent mid-progression... no: missing component
    # DC coverage or missing EOI raises) or raises ValueError — nothing
    # else escapes to a Spark task
    data = open(_PROG_VEC, "rb").read()
    for cut in range(2, len(data), 5):
        try:
            out = jc.decode_jpeg(data[:cut])
            assert out.ndim == 3
        except ValueError:
            pass


def test_progressive_bitflips_never_crash():
    data = open(_PROG_VEC, "rb").read()
    for pos in range(0, len(data), 3):
        ba = bytearray(data)
        ba[pos] ^= 0xFF
        try:
            out = jc.decode_jpeg(bytes(ba))
            assert out.ndim == 3
        except (ValueError, IndexError, struct.error):
            pass


def test_progressive_native_kernel_loads():
    from smcchecker_spark import native

    native._cache.pop("jpegprog.c", None)
    assert native.jpegprog() is not None


def test_progressive_native_python_pixel_parity(monkeypatch):
    """Bit-exact decoded pixels across both paths for every committed
    progressive vector (multi-scan spectral selection + successive
    approximation, 4:2:0)."""
    import glob as _glob

    from smcchecker_spark import native

    if native.jpegprog() is None:
        pytest.skip("no C compiler in this environment")
    cases = [
        open(p, "rb").read()
        for p in sorted(
            _glob.glob(
                _os.path.join(_os.path.dirname(__file__), "vectors",
                              "ext_prog_*.jpg")
            )
        )
    ]
    assert cases
    dec_native = [jc.decode_jpeg(p) for p in cases]
    monkeypatch.setitem(native._cache, "jpegprog.c", False)
    for i, p in enumerate(cases):
        assert np.array_equal(jc.decode_jpeg(p), dec_native[i]), i


def test_progressive_native_error_parity(monkeypatch):
    """Truncations decode or raise the same ValueError text on both
    paths (the kernel's error codes map back to the same texts). The
    sweep over every cut of an encoder-made stream covers the last few
    bytes of a scan, where the kernel must apply the Python reader's
    underrun rule: a cut that leaves a scan short is rejected, not
    decoded from zero padding."""
    from smcchecker_spark import native

    if native.jpegprog() is None:
        pytest.skip("no C compiler in this environment")
    vec = open(_PROG_VEC, "rb").read()
    ours = jc.encode_jpeg_progressive(
        np.random.default_rng(0).integers(0, 256, (8, 8, 3)).astype(np.uint8),
        quality=90,
    )
    cases = [
        (vec, cut) for cut in range(len(vec) // 2, len(vec) - 2, 11)
    ] + [(ours, cut) for cut in range(len(ours) // 2, len(ours))]

    def outcomes():
        out = []
        for data, cut in cases:
            try:
                out.append(("ok", jc.decode_jpeg(data[:cut]).tobytes()))
            except ValueError as ex:
                out.append(("err", str(ex)))
        return out

    native_out = outcomes()
    monkeypatch.setitem(native._cache, "jpegprog.c", False)
    py_out = outcomes()
    for i, (data, cut) in enumerate(cases):
        assert native_out[i] == py_out[i], (len(data), cut)


def test_progressive_encoder_pixel_parity_with_baseline():
    """The progressive encoder reorders the entropy stream only — same
    DCT/quant — so decoded pixels equal the baseline 4:4:4 encoder's
    bit-for-bit, at every size including sub-block."""
    for shape in [(8, 8), (17, 23), (32, 32), (9, 40), (1, 1), (7, 9)]:
        a = _noise(*shape, seed=sum(shape))
        for sub in ("444", "420"):
            dp = jc.decode_jpeg(
                jc.encode_jpeg_progressive(a, quality=95, subsampling=sub)
            )
            db = jc.decode_jpeg(
                jc.encode_jpeg(a, quality=95, subsampling=sub)
            )
            assert np.array_equal(dp, db), (shape, sub)


def test_progressive_encoder_structure():
    a = _noise(16, 16, seed=3)
    data = jc.encode_jpeg_progressive(a, quality=90)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert b"\xff\xc2" in data and b"\xff\xc0" not in data
    assert data.count(b"\xff\xda") == 4  # DC + 3 AC scans
    # DC scan header: 3 components, Ss=0 Se=0
    i = data.index(b"\xff\xda")
    assert data[i + 4] == 3 and data[i + 11] == 0 and data[i + 12] == 0


def test_progressive_fixture_suite_golden(spark):
    from smcchecker_spark import fixtures
    import __spark_entry__ as entry

    got = sorted(
        (r["row_id"], r["check_name"])
        for r in entry.q_jpeg_prog_validate(spark, "").collect()
    )
    assert got == expected_codec_violation_rows(
        400, "jpg", "imageconsistent_bytes", "image_id",
        fixtures.expected_jpeg_flags,
        ("truncated", "bitflip", "w_off", "phash_off"),
    )


def test_lut_cache_bounded_by_distinct_tables(monkeypatch):
    """A corpus that carries new Huffman tables per image (optimized
    tables, or hostile input) must not grow the decoder's per-process
    LUT cache without bound: the cache clears at its cap."""
    monkeypatch.setattr(jc, "_LUT_CACHE", {})
    monkeypatch.setattr(jc, "_LUT_CACHE_MAX", 8, raising=False)
    base = jc.encode_jpeg(_noise(8, 8, seed=5), quality=90)
    ref = jc.decode_jpeg(base)
    # valid AC symbols (run << 4 | size, size 1..10), one per image
    syms = [(run << 4) | size for run in range(16) for size in range(1, 11)]
    for sym in syms[:50]:
        # an extra AC table in slot 1, defined before (and so replaced
        # by) the encoder's own tables: one 2-bit code for ``sym``
        bits = bytes([0, 1] + [0] * 14)
        payload = bytes([0x11]) + bits + bytes([sym])
        dht = b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload
        data = base[:2] + dht + base[2:]
        assert np.array_equal(jc.decode_jpeg(data), ref)
        assert len(jc._LUT_CACHE) <= 8
