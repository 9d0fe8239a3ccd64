"""Pure-Python test oracle for the digit-count predicates.

Reimplements the *semantics* of the reference's check_precision /
check_scale / convert_dtype (/root/reference/proj/core/functions.py:62-166)
— including the leading-zero int() quirk and the sci-notation branch — as
an independent implementation used only to property-test the Spark
expressions in smcchecker_spark/exprs.py. Deviations (documented in
exprs.py): the gate is float-parseability, and a bare-integer sci mantissa
('1e-05') counts 0 mantissa digits instead of crashing.

It also holds the scalar, straight-from-spec forms of three codec
kernels — the JPEG size/magnitude category, the phash 8x8 block mean and
the VP8L predictor inverse — which the package's vectorized versions are
property-tested against and which nothing in the package calls.
"""

from __future__ import annotations

import math
import re

import numpy as np

from smcchecker_spark.imagecodec import _block_bounds_8x8


def right_digits(s: str) -> int:
    s = s.strip().lower()
    if "e-" in s:
        p10 = int(s.split("e-")[-1])
        m = re.search(r"\.(\d+)", s.split("e-")[0])
        return p10 + (len(m.group(1)) if m else 0)
    if "e" in s:
        return 0
    m = re.search(r"\.(\d+)$", s)
    if not m:
        return 0
    fi = int(m.group(1)) if m.group(1) else 0
    while fi > 0 and fi % 10 == 0:
        fi //= 10
    return len(str(fi)) if fi > 0 else 0


def parses_float(s) -> bool:
    if s is None:
        return False
    try:
        float(str(s).strip())
        return True
    except ValueError:
        return False


def precision_violates(s, p: int) -> bool:
    if not parses_float(s):
        return False
    x = abs(float(str(s).strip()))
    if math.isnan(x):
        return False
    if 0 < x < 1:
        return False
    left = int(math.log10(x)) + 1 if x >= 1 else 1
    return left + right_digits(str(s)) > p


def scale_violates(s, sc: int) -> bool:
    if not parses_float(s):
        return False
    if math.isnan(float(str(s).strip())):
        return False
    return right_digits(str(s)) > sc


def int_parses(s) -> bool:
    """Reference convert_dtype(int, x): nulls valid, else int literal."""
    if s is None:
        return True
    return re.fullmatch(r"[+-]?\d+", str(s).strip()) is not None


def magnitude(v: int) -> tuple[int, int]:
    """T.81 F.1.2.1: value → (size category, appended bits). Scalar
    reference for ``jpegcodec._size_mag``, the vectorized form the
    encoder uses."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, v if v > 0 else v + (1 << s) - 1


def block_mean_8x8(gray: np.ndarray) -> np.ndarray:
    """Downsample HxW → 8x8 by mean over index-partitioned blocks, one
    image at a time — the reference ``imagecodec.phash64_batch``'s
    stacked form is tested against.

    Vectorized via ``np.add.reduceat`` over the block start boundaries
    (rows then columns). Degenerate boundaries — when h or w < 8 and a
    start index repeats — make reduceat take the single element at that
    index, which is exactly the ``[lo, max(hi, lo+1))`` fallback of the
    original loop formulation (parity verified over sizes 1..99)."""
    h, w = gray.shape
    ys, xs, areas = _block_bounds_8x8(h, w)
    rows = np.add.reduceat(gray, ys, axis=0)
    sums = np.add.reduceat(rows, xs, axis=1)
    return sums / areas


def predictor_inverse_scalar(
    img: np.ndarray, pred_img: np.ndarray, bits: int
) -> np.ndarray:
    """Straight-from-spec per-pixel VP8L predictor inverse — the
    reference form ``webpcodec._apply_predictor_inverse`` is
    property-tested against."""
    h, w = img.shape[:2]
    out = img.astype(np.int32)

    def px(y, x):
        return out[y, x]

    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int32)
            elif y == 0:
                pred = px(0, x - 1)
            elif x == 0:
                pred = px(y - 1, 0)
            else:
                mode = int(pred_img[y >> bits, x >> bits, 2])  # green channel
                L = px(y, x - 1)
                T = px(y - 1, x)
                TL = px(y - 1, x - 1)
                # rightmost column: TR addresses the current row's
                # leftmost (already-decoded) pixel — libwebp's top[x+1]
                # wraps into out[0] of the current row
                TR = px(y - 1, x + 1) if x + 1 < w else px(y, 0)
                if mode == 0:
                    pred = np.array([255, 0, 0, 0], dtype=np.int32)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = ((L + TR) // 2 + T) // 2
                elif mode == 6:
                    pred = (L + TL) // 2
                elif mode == 7:
                    pred = (L + T) // 2
                elif mode == 8:
                    pred = (TL + T) // 2
                elif mode == 9:
                    pred = (T + TR) // 2
                elif mode == 10:
                    pred = (((L + TL) // 2) + ((T + TR) // 2)) // 2
                elif mode == 11:  # Select
                    p = L + T - TL
                    pl = int(np.abs(p - L).sum())
                    pt = int(np.abs(p - T).sum())
                    pred = L if pl < pt else T
                elif mode == 12:  # ClampAddSubtractFull
                    pred = np.clip(L + T - TL, 0, 255)
                elif mode == 13:  # ClampAddSubtractHalf
                    a = (L + T) // 2
                    d = a - TL  # C truncates toward zero, not floor
                    pred = np.clip(a + np.sign(d) * (np.abs(d) // 2), 0, 255)
                else:
                    raise ValueError("corrupt VP8L: bad predictor mode")
            out[y, x] = (out[y, x] + pred) & 0xFF
    return out.astype(np.uint8)
