"""Audio payload validation: the WAV analogue of ``image.py``'s
decoded-payload constraints.

``AudioConsistent`` decodes the binary payload with the from-scratch
:mod:`smcchecker_spark.wavcodec` (RIFF/WAVE integer PCM — no librosa)
and asserts the stored metadata columns match what the bytes actually
contain: sample count and sample rate, the audio analogue of the
image table's (w, h, fmt, phash) consistency. Undecodable payloads —
truncation, header corruption, non-PCM formats — are row-level
violations, never task failures.

Compiles into the suite's one flag projection like every other
constraint; the decode UDF struct is one ArrowEvalPython stage feeding
plain comparisons (identical design to ``image.decode_facts_udf``).

Reference semantics: the reference checker validates uploads before
load and reports undecodable/inconsistent files as violations
(/root/reference/proj/core_checks.py); this extends that contract to
an audio modality column per the task brief's multimodal axis.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from smcchecker_spark.constraints import ERROR, Constraint

ERR_AUDIO = "Audio Payload Error"

AUDIO_FACTS_STRUCT = (
    "ok boolean, n_samples bigint, sample_rate int, err string"
)

_UDF_CACHE: dict[str, object] = {}


def audio_facts_batches(
    batches: Iterator[pd.Series],
) -> Iterator[pd.DataFrame]:
    """Pure-python core of the facts UDF (testable without Spark):
    payload bytes → (ok, n_samples, sample_rate, err), one row per
    input row in input order."""
    from smcchecker_spark import wavcodec

    for s in batches:
        rows = []
        for b in s.values:
            if b is None:
                rows.append((False, None, None, "null payload"))
                continue
            b = bytes(b)
            if not wavcodec.sniff_wav(b):
                rows.append((False, None, None, "not a WAV payload"))
                continue
            try:
                samples, rate = wavcodec.decode_wav(b)
            except ValueError as e:
                rows.append((False, None, None, str(e)))
                continue
            rows.append((True, int(samples.shape[0]), int(rate), None))
        yield pd.DataFrame(
            rows, columns=["ok", "n_samples", "sample_rate", "err"]
        )


def audio_facts_udf():
    if "audio_facts" not in _UDF_CACHE:

        @pandas_udf(AUDIO_FACTS_STRUCT)
        def audio_facts(
            batches: Iterator[pd.Series],
        ) -> Iterator[pd.DataFrame]:
            yield from audio_facts_batches(batches)

        _UDF_CACHE["audio_facts"] = audio_facts
    return _UDF_CACHE["audio_facts"]


@dataclass(frozen=True)
class AudioConsistent(Constraint):
    """bytes must decode as integer-PCM WAV, and decoded
    (n_samples, sample_rate) must equal the stored metadata columns."""

    column: str = "bytes"
    n_samples_col: str = "n_samples"
    rate_col: str = "sample_rate"
    severity: str = ERROR

    @property
    def name(self) -> str:
        return "audioconsistent_" + self.column

    @property
    def columns_label(self) -> str:
        return ",".join([self.column, self.n_samples_col, self.rate_col])

    @property
    def error_type(self) -> str:
        return ERR_AUDIO

    def _facts(self, df: DataFrame) -> Column:
        return audio_facts_udf()(df[self.column])

    def _mismatches(self, df: DataFrame) -> list[tuple[str, Column]]:
        d = self._facts(df)
        return [
            (
                "n_samples",
                df[self.n_samples_col].isNull()
                | (d.getField("n_samples") != df[self.n_samples_col]),
            ),
            (
                "sample_rate",
                df[self.rate_col].isNull()
                | (d.getField("sample_rate") != df[self.rate_col]),
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
                    F.lit("decode failed: "),
                    F.coalesce(d.getField("err"), F.lit("?")),
                ),
            )
        ]
        for label, m in self._mismatches(df):
            parts.append(
                F.when(d.getField("ok") & m, F.lit(f"{label} mismatch"))
            )
        return F.concat(
            F.lit("Audio payload inconsistent ("),
            F.array_join(F.array_compact(F.array(*parts)), "; "),
            F.lit(")"),
        )

    def message(self) -> str:
        return "Audio payload inconsistent with stored metadata"
