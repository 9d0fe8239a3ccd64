"""Embedding-vector validation constraints over ``array<float>`` columns.

The reference checker validates scalar columns only (its checkData rows are
pandas scalars — proj/custom/functions.py, proj/core/metadata.py). A
web-scale image+caption corpus (BASELINE.json input_hint) ships embedding
columns next to the payload, and a training pipeline needs the same
declarative row-level treatment for them: shape consistency, finiteness
(NaN/Inf/NULL elements poison a training batch), and an L2-norm sanity
range (mis-scaled or all-zero vectors). These compile into the same ONE
flag projection as every other constraint (compile.py) — pure native
higher-order-function Column expressions (``size``/``exists``/
``aggregate``), JVM-side, zero Python UDFs, so a suite containing them
adds no Arrow stage to the plan.

Semantics notes (locked by tests/test_vector.py and the
``engine_embedding_suite`` DuckDB oracle):

- NULL vectors are the business of ``NotNull``, not these checks — each
  predicate is guarded ``isNotNull`` like the scalar constraints.
- A NaN element makes the L2 norm NaN; those rows are *excluded* from the
  norm-range check (``~isnan(norm)``) so they are flagged exactly once,
  by ``VectorFinite``. (Spark and DuckDB agree NaN compares greater than
  any number, but relying on that would double-flag.)
- An empty vector has norm 0.0 and trips ``VectorNormRange`` when
  ``lo > 0`` — the natural reading of "mis-scaled".
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .constraints import Constraint

ERR_VECTOR_SHAPE = "Invalid Vector Shape"
ERR_NONFINITE = "Non-finite Value"
ERR_RANGE = "Value out of range"  # shared vocabulary with constraints.Range

_INF = float("inf")


def l2_norm(arr: Column) -> Column:
    """Double-precision L2 norm of an array<float|double> column.

    Left-fold in array order (``F.aggregate``), each element widened to
    double before squaring — the DuckDB oracle mirrors this as
    ``sqrt(list_sum(list_transform(v, x -> CAST(x AS DOUBLE) * x)))``.
    Only threshold comparisons are exposed to callers, so last-bit
    fold-order differences between engines cannot flip a verdict unless
    the threshold is set inside float noise of the data.
    """
    return F.sqrt(
        F.aggregate(
            arr,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


@dataclass(frozen=True)
class VectorShape(Constraint):
    """Vector must have exactly ``dim`` elements (embedding-width drift —
    a mixed-dimensionality corpus breaks any downstream GEMM)."""

    dim: int = 0

    @property
    def error_type(self) -> str:
        return ERR_VECTOR_SHAPE

    def violation_expr(self, df: DataFrame) -> Column:
        c = df[self.column]
        return c.isNotNull() & (F.size(c) != F.lit(self.dim))

    def message(self) -> str:
        return (
            f"The vector column {self.column} must have exactly "
            f"{self.dim} elements"
        )


@dataclass(frozen=True)
class VectorFinite(Constraint):
    """Every element must be finite and non-NULL (NaN/Inf/NULL elements
    poison training batches and break cosine/GEMM kernels)."""

    @property
    def error_type(self) -> str:
        return ERR_NONFINITE

    def violation_expr(self, df: DataFrame) -> Column:
        c = df[self.column]
        return c.isNotNull() & F.exists(
            c,
            lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(_INF)),
        )

    def message(self) -> str:
        return (
            f"The vector column {self.column} contains a NaN, infinite, "
            "or NULL element"
        )


@dataclass(frozen=True)
class VectorNormRange(Constraint):
    """L2 norm must lie in [lo, hi] — catches mis-scaled (un-normalized,
    double-normalized, all-zero) embeddings. NaN-norm rows are
    VectorFinite's to flag, not ours."""

    lo: float = 0.0
    hi: float = _INF

    @property
    def error_type(self) -> str:
        return ERR_RANGE

    def violation_expr(self, df: DataFrame) -> Column:
        c = df[self.column]
        norm = l2_norm(c)
        return (
            c.isNotNull()
            & ~F.isnan(norm)
            & ~norm.between(F.lit(self.lo), F.lit(self.hi))
        )

    def message(self) -> str:
        return (
            f"The vector column {self.column} must have an L2 norm "
            f"between {self.lo} and {self.hi}"
        )
