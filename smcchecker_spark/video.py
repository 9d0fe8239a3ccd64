"""Video payload validation: the AVI-MJPEG analogue of ``image.py`` /
``audio.py``'s decoded-payload constraints — completing the modality
triple (image, audio, video) over opaque binary columns.

``VideoConsistent`` demuxes the RIFF container with the from-scratch
:mod:`smcchecker_spark.avicodec`, decodes the FIRST frame with the
engine's own :mod:`smcchecker_spark.jpegcodec`, and asserts the stored
metadata columns match the bytes: frame count and frame dimensions.
One frame is decoded per row — the container's dims apply to every
frame of an MJPG stream, so the first decodable frame is the honest
bounded-cost witness (full per-frame validation is what
``ops.multimodal.video_fingerprint`` does for dedup).

Undecodable containers and containers whose EVERY sampled frame is
corrupt are row-level violations, never task failures. Compiles into
the suite's one flag projection like every constraint; the demux +
decode struct is one ArrowEvalPython stage.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from smcchecker_spark.constraints import ERROR, Constraint

ERR_VIDEO = "Video Payload Error"

VIDEO_FACTS_STRUCT = "ok boolean, n_frames int, w int, h int, err string"

_UDF_CACHE: dict[str, object] = {}


def video_facts_batches(
    batches: Iterator[pd.Series],
) -> Iterator[pd.DataFrame]:
    """Pure-python core of the facts UDF: AVI-MJPEG bytes →
    (ok, n_frames, w, h, err) from the demux + first decodable frame."""
    from smcchecker_spark import avicodec, jpegcodec

    for s in batches:
        rows = []
        for b in s.values:
            if b is None:
                rows.append((False, None, None, None, "null payload"))
                continue
            b = bytes(b)
            if not avicodec.sniff_avi(b):
                rows.append((False, None, None, None, "not an AVI payload"))
                continue
            try:
                frames = avicodec.demux_avi_mjpeg(b)
            except ValueError as e:
                rows.append((False, None, None, None, str(e)))
                continue
            arr = None
            for f in frames:
                try:
                    arr = jpegcodec.decode_jpeg(f)
                    break
                except ValueError:
                    continue
            if arr is None:
                rows.append(
                    (False, len(frames), None, None, "no decodable frame")
                )
                continue
            rows.append(
                (True, len(frames), int(arr.shape[1]), int(arr.shape[0]), None)
            )
        yield pd.DataFrame(rows, columns=["ok", "n_frames", "w", "h", "err"])


def video_facts_udf():
    if "video_facts" not in _UDF_CACHE:

        @pandas_udf(VIDEO_FACTS_STRUCT)
        def video_facts(
            batches: Iterator[pd.Series],
        ) -> Iterator[pd.DataFrame]:
            yield from video_facts_batches(batches)

        _UDF_CACHE["video_facts"] = video_facts
    return _UDF_CACHE["video_facts"]


@dataclass(frozen=True)
class VideoConsistent(Constraint):
    """bytes must demux as AVI-MJPEG with at least one decodable frame,
    and decoded (n_frames, w, h) must equal the stored metadata."""

    column: str = "bytes"
    n_frames_col: str = "n_frames"
    w_col: str = "w"
    h_col: str = "h"
    severity: str = ERROR

    @property
    def name(self) -> str:
        return "videoconsistent_" + self.column

    @property
    def columns_label(self) -> str:
        return ",".join(
            [self.column, self.n_frames_col, self.w_col, self.h_col]
        )

    @property
    def error_type(self) -> str:
        return ERR_VIDEO

    def _facts(self, df: DataFrame) -> Column:
        return video_facts_udf()(df[self.column])

    def _mismatches(self, df: DataFrame) -> list[tuple[str, Column]]:
        d = self._facts(df)
        return [
            (
                "n_frames",
                df[self.n_frames_col].isNull()
                | (d.getField("n_frames") != df[self.n_frames_col]),
            ),
            (
                "width",
                df[self.w_col].isNull()
                | (d.getField("w") != df[self.w_col]),
            ),
            (
                "height",
                df[self.h_col].isNull()
                | (d.getField("h") != df[self.h_col]),
            ),
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
                F.concat(
                    F.lit("demux/decode failed: "),
                    F.coalesce(d.getField("err"), F.lit("?")),
                ),
            )
        ]
        for label, m in self._mismatches(df):
            parts.append(
                F.when(d.getField("ok") & m, F.lit(f"{label} mismatch"))
            )
        return F.concat(
            F.lit("Video payload inconsistent ("),
            F.array_join(F.array_compact(F.array(*parts)), "; "),
            F.lit(")"),
        )

    def message(self) -> str:
        return "Video payload inconsistent with stored metadata"
