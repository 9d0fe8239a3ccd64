"""Image-payload validation — Arrow-batched pandas UDFs over binary columns.

North-star constraints with no reference analogue (/root/repo/BASELINE.json:6,15):
``image_consistent(bytes,w,h,fmt,phash)`` and decoded-pixel PSNR parity.
The closest reference mechanism is the per-value dtype coercion check
(/root/reference/proj/core/functions.py:62-75) — "can this payload be
decoded and does it match its declared metadata" is its binary-column
generalization.

Execution contract (input_hint: "no per-row Python"):

- ``pandas_udf`` with iterator signature → Arrow batches cross the
  JVM↔Python boundary once per ~1024 rows (session.ARROW_BATCH_ROWS caps
  batch memory for large payloads), never per row;
- inside a batch, each image decodes via numpy (smcchecker_spark.imagecodec);
  the per-image loop is Python-over-batches, not Spark-row-at-a-time serde;
- ONE UDF computes all consistency facets (decode ok, w, h, fmt, phash) in
  a single struct so the payload is decoded exactly once per row, and the
  scan reads ``bytes`` only when an image constraint is in the suite
  (Catalyst column pruning).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from smcchecker_spark import imagecodec as ic
from smcchecker_spark.constraints import Constraint, ERROR

ERR_IMAGE = "Image Payload Error"

DECODE_STRUCT = (
    "ok boolean, w int, h int, fmt string, phash bigint, err string"
)


# pandas_udf construction needs an active SparkSession, so UDFs are built
# lazily and memoized — memoization also guarantees every constraint
# references the SAME udf object, so Catalyst dedupes the calls into one
# ArrowEvalPython stage (asserted in tests/test_image.py).
_UDF_CACHE: dict[str, object] = {}


# Flush thresholds for decode_facts_batches: decoded images are buffered
# ACROSS Arrow batches before hashing, because phash cost at thumbnail
# sizes is per-numpy-call overhead and imagecodec.phash64_batch amortizes
# it by stacking same-shape images — a single ~1024-row Arrow batch of
# size-diverse images yields shape groups of only ~1-2 members. The
# iterator pandas_udf contract only requires TOTAL output rows == total
# input rows (yield boundaries are free), so flushing at ~16k rows / 128
# MB of decoded pixels (whichever first) is safe: large images degrade
# gracefully to per-batch flushing, tiny ones get full amortization.
DECODE_BUFFER_ROWS = 16384
DECODE_BUFFER_BYTES = 128 << 20


def decode_facts_batches(
    batches: Iterator[pd.Series],
    rows_cap: int = DECODE_BUFFER_ROWS,
    bytes_cap: int = DECODE_BUFFER_BYTES,
) -> Iterator[pd.DataFrame]:
    """Pure-python core of the decode UDF (testable without Spark):
    pd.Series of encoded payloads → pd.DataFrame batches of decode facts,
    one output row per input row in input order, re-chunked at the
    buffering thresholds above."""
    parts: list[dict] = []
    arrs: list[np.ndarray] = []
    arr_pos: list[int] = []
    total = px_bytes = 0

    def flush() -> pd.DataFrame:
        nonlocal parts, arrs, arr_pos, total, px_bytes
        ph = np.zeros(total, dtype=np.int64)
        if arrs:
            ph[np.asarray(arr_pos)] = ic.phash64_batch(arrs)
        out = pd.DataFrame(
            {
                "ok": np.concatenate([p["ok"] for p in parts]),
                "w": np.concatenate([p["w"] for p in parts]),
                "h": np.concatenate([p["h"] for p in parts]),
                "fmt": np.concatenate([p["fmt"] for p in parts]),
                "phash": ph,
                "err": np.concatenate([p["err"] for p in parts]),
            }
        )
        parts, arrs, arr_pos = [], [], []
        total = px_bytes = 0
        return out

    for s in batches:
        n = len(s)
        ok = np.zeros(n, dtype=bool)
        w = np.full(n, -1, dtype=np.int64)
        h = np.full(n, -1, dtype=np.int64)
        fmt = np.full(n, None, dtype=object)
        err = np.full(n, None, dtype=object)
        # one batched decode per Arrow batch: fake-lossy dequantization is
        # a single numpy pass over all lossy images in the batch
        b_arrs, b_fmts, b_errs = ic.decode_image_batch(s.values)
        for i in range(n):
            arr = b_arrs[i]
            if arr is None:
                err[i] = b_errs[i]
                continue
            ok[i] = True
            h[i], w[i] = arr.shape[:2]
            fmt[i] = b_fmts[i]
            arrs.append(arr)
            arr_pos.append(total + i)
            px_bytes += arr.nbytes
        parts.append({"ok": ok, "w": w, "h": h, "fmt": fmt, "err": err})
        total += n
        if total >= rows_cap or px_bytes >= bytes_cap:
            yield flush()
    if total:
        yield flush()


def psnr_pair_batches(
    batches: Iterator[tuple[pd.Series, pd.Series]],
    rows_cap: int = DECODE_BUFFER_ROWS,
    bytes_cap: int = DECODE_BUFFER_BYTES,
) -> Iterator[pd.Series]:
    """Pure-python core of the PSNR UDF: (payload_a, payload_b) Series
    pairs → float64 Series batches, one value per input row in input
    order (NaN = undecodable / shape mismatch; +inf reported as 1e9 to
    stay Arrow-friendly). Buffers decoded pairs across Arrow batches and
    scores them with imagecodec.psnr_batch, mirroring
    decode_facts_batches (see DECODE_BUFFER_* rationale above)."""
    sizes: list[int] = []
    arrs_a: list[np.ndarray] = []
    arrs_b: list[np.ndarray] = []
    pair_pos: list[int] = []
    total = px_bytes = 0

    def flush() -> pd.Series:
        nonlocal sizes, arrs_a, arrs_b, pair_pos, total, px_bytes
        vals = np.full(total, np.nan)
        if arrs_a:
            v = ic.psnr_batch(arrs_a, arrs_b)
            vals[np.asarray(pair_pos)] = np.where(np.isinf(v), 1e9, v)
        out = pd.Series(vals)
        sizes, arrs_a, arrs_b, pair_pos = [], [], [], []
        total = px_bytes = 0
        return out

    for a, b in batches:
        n = len(a)
        dec_a, _, _ = ic.decode_image_batch(a.values)
        dec_b, _, _ = ic.decode_image_batch(b.values)
        for i in range(n):
            pa, pb = dec_a[i], dec_b[i]
            if pa is None or pb is None:
                continue
            arrs_a.append(pa)
            arrs_b.append(pb)
            pair_pos.append(total + i)
            px_bytes += pa.nbytes + pb.nbytes
        total += n
        if total >= rows_cap or px_bytes >= bytes_cap:
            yield flush()
    if total:
        yield flush()


def decode_facts_udf():
    if "decode_facts" not in _UDF_CACHE:

        @pandas_udf(DECODE_STRUCT)
        def decode_facts(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            yield from decode_facts_batches(batches)

        _UDF_CACHE["decode_facts"] = decode_facts
    return _UDF_CACHE["decode_facts"]


def psnr_pair_udf():
    """PSNR (dB) between two encoded payloads' decoded pixels.

    NULL when either side is undecodable or shapes differ → callers treat
    NULL as a violation. +inf (lossless match) is returned as 1e9 to stay
    Arrow-friendly.
    """
    if "psnr_pair" not in _UDF_CACHE:

        @pandas_udf("double")
        def psnr_pair(
            batches: Iterator[tuple[pd.Series, pd.Series]],
        ) -> Iterator[pd.Series]:
            yield from psnr_pair_batches(batches)

        _UDF_CACHE["psnr_pair"] = psnr_pair
    return _UDF_CACHE["psnr_pair"]


@dataclass(frozen=True)
class ImageConsistent(Constraint):
    """bytes must decode, and decoded (w, h, fmt, phash) must equal the
    stored metadata columns. phash tolerance in Hamming bits (0 = exact;
    the engine's own codecs are phash-stable across the lossy roundtrip).

    Compiles into the suite's one flag projection like any other
    constraint — the decode UDF struct (shared by flag and message) is a
    single ArrowEvalPython stage feeding plain comparisons.

    ``orientation_aware=True`` accepts stored (w, h) that match the
    DISPLAY dimensions when the payload carries an EXIF orientation of
    5-8 (transposed) — real corpora store viewer-facing dims for
    rotated captures. Raw dims stay accepted either way; this only
    widens the w/h check, never the fmt/phash ones (phash is computed
    on raw decoded pixels by contract). Adds the header-only EXIF
    facts stage next to the decode stage.
    """

    column: str = "bytes"
    w_col: str = "w"
    h_col: str = "h"
    fmt_col: str = "fmt"
    phash_col: str = "phash"
    phash_tolerance: int = 0
    orientation_aware: bool = False
    severity: str = ERROR

    @property
    def name(self) -> str:
        return "imageconsistent_" + self.column

    @property
    def columns_label(self) -> str:
        return ",".join(
            [self.column, self.w_col, self.h_col, self.fmt_col, self.phash_col]
        )

    @property
    def error_type(self) -> str:
        return ERR_IMAGE

    def _facts(self, df: DataFrame) -> Column:
        return decode_facts_udf()(df[self.column])

    def _mismatches(self, df: DataFrame) -> list[tuple[str, Column]]:
        d = self._facts(df)
        ph_dist = F.bit_count(
            d.getField("phash").bitwiseXOR(df[self.phash_col].cast("bigint"))
        )
        w_bad = d.getField("w") != df[self.w_col]
        h_bad = d.getField("h") != df[self.h_col]
        if self.orientation_aware:
            # transposed stored dims are ALSO fine when EXIF says 5-8
            e = exif_facts_udf()(df[self.column])
            transposed = e.getField("ok") & e.getField(
                "orientation"
            ).isin(5, 6, 7, 8)
            swap_ok = transposed & (
                d.getField("w") == df[self.h_col]
            ) & (d.getField("h") == df[self.w_col])
            w_bad = w_bad & ~swap_ok
            h_bad = h_bad & ~swap_ok
        return [
            ("width", df[self.w_col].isNull() | w_bad),
            ("height", df[self.h_col].isNull() | h_bad),
            ("format", df[self.fmt_col].isNull() | (d.getField("fmt") != df[self.fmt_col])),
            ("phash", df[self.phash_col].isNull() | (ph_dist > F.lit(self.phash_tolerance))),
        ]

    def violation_expr(self, df: DataFrame) -> Column:
        d = self._facts(df)
        bad = ~d.getField("ok")
        for _, m in self._mismatches(df):
            bad = bad | m
        return bad

    def message_expr(self, df: DataFrame) -> Column:
        d = self._facts(df)
        parts = [
            F.when(
                ~d.getField("ok"),
                F.concat(F.lit("decode failed: "), F.coalesce(d.getField("err"), F.lit("?"))),
            )
        ]
        for label, m in self._mismatches(df):
            parts.append(
                F.when(d.getField("ok") & m, F.lit(f"{label} mismatch"))
            )
        return F.concat(
            F.lit("Image payload inconsistent ("),
            F.array_join(F.array_compact(F.array(*parts)), "; "),
            F.lit(")"),
        )

    def message(self) -> str:
        return "Image payload inconsistent with stored metadata"


@dataclass(frozen=True)
class PsnrAtLeast(Constraint):
    """Decoded-pixel parity vs a reference payload column: PSNR >= min_db
    (>= 40 dB for lossy formats per the north star; lossless pairs get
    +inf). NULL PSNR (either side undecodable / shape mismatch) violates.
    """

    column: str = "bytes"
    reference_col: str = "ref_bytes"
    min_db: float = 40.0
    severity: str = ERROR

    @property
    def name(self) -> str:
        return f"psnr_{self.column}_{self.reference_col}"

    @property
    def columns_label(self) -> str:
        return f"{self.column},{self.reference_col}"

    @property
    def error_type(self) -> str:
        return ERR_IMAGE

    def violation_expr(self, df: DataFrame) -> Column:
        p = psnr_pair_udf()(df[self.column], df[self.reference_col])
        return p.isNull() | (p < F.lit(self.min_db))

    def message(self) -> str:
        return (
            f"Decoded pixels differ from reference beyond the "
            f"{self.min_db} dB PSNR gate (or payload undecodable)"
        )


# ---------------------------------------------------------------------------
# Decode-free image-policy gates. A web-scale curation pass runs these
# BEFORE paying decode cost: they read only the metadata columns of the
# input_hint schema (w, h, fmt, bytes — /root/repo/BASELINE.json) and
# compile to plain JVM comparisons inside the suite's one projection, so a
# policy-only suite has no Python stage at all. NULL dims are NotNull's
# business — each predicate is isNotNull-guarded like the scalar checks.
# ---------------------------------------------------------------------------

ERR_POLICY = "Image Policy Violation"


EXIF_STRUCT = (
    "has_exif boolean, ok boolean, orientation int, dt_ok boolean, "
    "err string"
)


def exif_facts_batches(
    batches: Iterator[pd.Series],
) -> Iterator[pd.DataFrame]:
    """Header-only EXIF facts per payload (no pixel decode — the APP1
    walk touches a few hundred bytes regardless of payload size):
    has_exif, structural ok, orientation (default 1 when untagged),
    dt_ok (both DateTime fields, when present, match the spec's
    "YYYY:MM:DD HH:MM:SS" literal — the reference's timestamp-regex
    check transplanted to payload metadata)."""
    from smcchecker_spark import exif as ex

    for series in batches:
        rows = []
        for payload in series:
            if payload is None:
                rows.append((False, True, 1, True, None))
                continue
            try:
                tags = ex.parse_exif(bytes(payload))
            except ValueError as e:
                rows.append((True, False, 1, True, str(e)))
                continue
            if not tags:
                rows.append((False, True, 1, True, None))
                continue
            dt_ok = all(
                ex.EXIF_DATETIME_RE.match(tags[k]) is not None
                for k in ("datetime", "datetime_original")
                if k in tags
            )
            rows.append(
                (True, True, int(tags.get("orientation", 1)), dt_ok, None)
            )
        yield pd.DataFrame(
            rows, columns=["has_exif", "ok", "orientation", "dt_ok", "err"]
        )


def exif_facts_udf():
    if "exif_facts" not in _UDF_CACHE:

        @pandas_udf(EXIF_STRUCT)
        def exif_facts(
            batches: Iterator[pd.Series],
        ) -> Iterator[pd.DataFrame]:
            yield from exif_facts_batches(batches)

        _UDF_CACHE["exif_facts"] = exif_facts
    return _UDF_CACHE["exif_facts"]


@dataclass(frozen=True)
class ExifSane(Constraint):
    """EXIF metadata, when present, must be structurally valid: the
    APP1 TIFF directory parses, Orientation is in 1..8, and DateTime /
    DateTimeOriginal match the spec literal "YYYY:MM:DD HH:MM:SS".
    Untagged payloads always pass — this is a metadata-quality gate,
    not a requirement to carry EXIF. Header-only (no pixel decode), so
    it composes with the decode-free policy gates; one Arrow stage."""

    column: str = "bytes"
    severity: str = ERROR

    @property
    def name(self) -> str:
        return "exifsane_" + self.column

    @property
    def error_type(self) -> str:
        return ERR_IMAGE

    def _facts(self, df: DataFrame) -> Column:
        return exif_facts_udf()(df[self.column])

    def violation_expr(self, df: DataFrame) -> Column:
        d = self._facts(df)
        bad_orient = ~d.getField("orientation").between(1, 8)
        return ~d.getField("ok") | (
            d.getField("has_exif") & (bad_orient | ~d.getField("dt_ok"))
        )

    def message_expr(self, df: DataFrame) -> Column:
        d = self._facts(df)
        parts = [
            F.when(
                ~d.getField("ok"),
                F.concat(
                    F.lit("corrupt EXIF: "),
                    F.coalesce(d.getField("err"), F.lit("?")),
                ),
            ),
            F.when(
                d.getField("ok")
                & ~d.getField("orientation").between(1, 8),
                F.concat(
                    F.lit("orientation out of range: "),
                    d.getField("orientation").cast("string"),
                ),
            ),
            F.when(
                d.getField("ok") & ~d.getField("dt_ok"),
                F.lit("malformed EXIF DateTime"),
            ),
        ]
        return F.concat(
            F.lit("EXIF metadata invalid ("),
            F.array_join(F.array_compact(F.array(*parts)), "; "),
            F.lit(")"),
        )

    def message(self) -> str:
        return "EXIF metadata invalid"


@dataclass(frozen=True)
class MinResolution(Constraint):
    """Stored dims must be at least min_w x min_h (tiny thumbnails,
    tracking pixels, and zero-area headers are dropped without decoding).
    ``column`` is the width column."""

    h_col: str = "h"
    min_w: int = 64
    min_h: int = 64

    @property
    def name(self) -> str:
        return f"minresolution_{self.column}_{self.h_col}"

    @property
    def columns_label(self) -> str:
        return f"{self.column},{self.h_col}"

    @property
    def error_type(self) -> str:
        return ERR_POLICY

    def violation_expr(self, df: DataFrame) -> Column:
        w, h = df[self.column], df[self.h_col]
        return (
            w.isNotNull()
            & h.isNotNull()
            & ((w < F.lit(self.min_w)) | (h < F.lit(self.min_h)))
        )

    def message(self) -> str:
        return (
            f"Image dimensions below the minimum resolution "
            f"{self.min_w}x{self.min_h}"
        )


@dataclass(frozen=True)
class AspectRatioRange(Constraint):
    """w/h must lie in [lo, hi] (extreme banners/strips are poor training
    images). Expressed multiplicatively (w < lo*h, w > hi*h) so neither
    engine divides — ANSI-mode Spark throws on /0 and DuckDB disagrees
    about float x/0, but int-product comparisons are exact in both.
    Rows with h <= 0 are skipped here (MinResolution's flag).
    ``column`` is the width column."""

    h_col: str = "h"
    lo: float = 0.2
    hi: float = 5.0

    @property
    def name(self) -> str:
        return f"aspectratio_{self.column}_{self.h_col}"

    @property
    def columns_label(self) -> str:
        return f"{self.column},{self.h_col}"

    @property
    def error_type(self) -> str:
        return ERR_POLICY

    def violation_expr(self, df: DataFrame) -> Column:
        w = df[self.column].cast("double")
        h = df[self.h_col].cast("double")
        return (
            df[self.column].isNotNull()
            & df[self.h_col].isNotNull()
            & (h > F.lit(0))
            & ((w < F.lit(self.lo) * h) | (w > F.lit(self.hi) * h))
        )

    def message(self) -> str:
        return (
            f"Image aspect ratio (w/h) outside the allowed range "
            f"[{self.lo}, {self.hi}]"
        )


@dataclass(frozen=True)
class BytesPerPixelRange(Constraint):
    """Compression-ratio sanity: payload bytes per pixel must lie in
    [lo, hi]. Too few bytes/pixel flags a truncated or mis-labeled
    payload; too many flags a decompression-bomb-shaped one — both
    caught without decoding. ``column`` is the binary payload column, or
    (``length_is_column=True``) an integer byte-count metadata column —
    big tables commonly carry n_bytes so even the length probe can skip
    the payload scan. Rows with w*h <= 0 are skipped (MinResolution's
    flag)."""

    w_col: str = "w"
    h_col: str = "h"
    lo: float = 0.01
    hi: float = 20.0
    length_is_column: bool = False

    @property
    def name(self) -> str:
        return f"bytesperpixel_{self.column}"

    @property
    def columns_label(self) -> str:
        return f"{self.column},{self.w_col},{self.h_col}"

    @property
    def error_type(self) -> str:
        return ERR_POLICY

    def violation_expr(self, df: DataFrame) -> Column:
        nb = (
            df[self.column].cast("double")
            if self.length_is_column
            else F.length(df[self.column]).cast("double")
        )
        px = df[self.w_col].cast("double") * df[self.h_col].cast("double")
        return (
            df[self.column].isNotNull()
            & df[self.w_col].isNotNull()
            & df[self.h_col].isNotNull()
            & (px > F.lit(0))
            & ((nb < F.lit(self.lo) * px) | (nb > F.lit(self.hi) * px))
        )

    def message(self) -> str:
        return (
            f"Image payload size per pixel outside the allowed range "
            f"[{self.lo}, {self.hi}] bytes/pixel"
        )


def suggest_image_policy(
    df: DataFrame,
    bytes_col: str = "bytes",
    w_col: str = "w",
    h_col: str = "h",
    slack: float = 1e-6,
) -> list[Constraint]:
    """Profile a trusted snapshot's observed envelope into policy gates —
    the image-payload counterpart of ``stats.suggest_suite`` (north-star
    "stats feed the checks"). ONE aggregate pass collects min/max of
    dims, aspect ratio, and bytes/pixel; returns
    [MinResolution, AspectRatioRange, BytesPerPixelRange] bounds that
    the snapshot itself passes.

    ``slack`` is a relative widening (default 1e-6) applied to the ratio
    bounds: the constraints compare multiplicatively (w < lo*h) while
    the profile aggregates a rounded division, so a boundary row could
    otherwise flag itself by one ulp. Raise it (e.g. 0.05) to tolerate
    drift beyond the observed envelope.
    """
    w = F.col(w_col).cast("double")
    h = F.col(h_col).cast("double")
    nb = F.length(F.col(bytes_col)).cast("double")
    aspect = F.when(h > 0, w / h)
    bpp = F.when(w * h > 0, nb / (w * h))
    row = df.agg(
        F.min(w_col).alias("min_w"),
        F.min(h_col).alias("min_h"),
        F.min(aspect).alias("ar_lo"),
        F.max(aspect).alias("ar_hi"),
        F.min(bpp).alias("bpp_lo"),
        F.max(bpp).alias("bpp_hi"),
    ).collect()[0]
    # an empty snapshot (or one with no positive-dim rows) aggregates to
    # NULLs — there is no envelope to suggest; fail with the reason, not
    # a TypeError from int(None)/None*float
    if any(row[k] is None for k in row.asDict()):
        raise ValueError(
            "suggest_image_policy needs a non-empty snapshot with at "
            "least one row of positive w/h to profile an envelope; got "
            f"aggregates {row.asDict()}"
        )
    return [
        MinResolution(
            w_col, h_col=h_col, min_w=int(row.min_w), min_h=int(row.min_h)
        ),
        AspectRatioRange(
            w_col,
            h_col=h_col,
            lo=row.ar_lo * (1 - slack),
            hi=row.ar_hi * (1 + slack),
        ),
        BytesPerPixelRange(
            bytes_col,
            w_col=w_col,
            h_col=h_col,
            lo=row.bpp_lo * (1 - slack),
            hi=row.bpp_hi * (1 + slack),
        ),
    ]
