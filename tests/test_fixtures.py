"""The synthetic fixture generators are pinned byte for byte: the bench
pool (valbench/inputs.py) and every golden violation set are built from
them, so a refactor of the generation scaffold must not move a row.

Each digest is a SHA-256 prefix over the generator's collected rows at
12 rows / 3 parts, rows sorted by (id, part_id)."""

import hashlib

import pytest

from smcchecker_spark import fixtures

PINNED = {
    ("generate_images", False): "2fb0e8b1ac3c6f47",
    ("generate_images", True): "9c741298eef0206f",
    ("generate_jpeg_images", False): "322ab1b0a32712aa",
    ("generate_jpeg_images", True): "cffccdb972512f59",
    ("generate_webp_images", False): "54ac6723bdc0334b",
    ("generate_progressive_images", False): "6d7d06afa34c3b22",
    ("generate_exif_images", False): "3af7c0a2b5726549",
    ("generate_wav_rows", False): "9b0b2443986b7a98",
    ("generate_avi_rows", False): "adcdba120f4da871",
}


def _digest(df) -> str:
    h = hashlib.sha256()
    rows = sorted(df.collect(), key=lambda r: (r[0], r["part_id"], repr(tuple(r))))
    for r in rows:
        vals = tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        h.update(repr(vals).encode())
    return h.hexdigest()[:16]


@pytest.mark.parametrize("name,clean", sorted(PINNED))
def test_generator_rows_pinned(spark, name, clean):
    kw = {"clean": True} if clean else {}
    df = getattr(fixtures, name)(spark, n_rows=12, n_parts=3, **kw)
    assert _digest(df) == PINNED[(name, clean)]
