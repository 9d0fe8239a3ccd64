"""Compile a constraint Suite into Spark jobs producing the violations table.

Execution shape (SURVEY.md §4 "fused constraint evaluation"):

1. **One fused scan** evaluates every row-level constraint: each check
   becomes a ``when(violation, struct(...))`` element of an array column;
   ``array_compact`` drops the non-violations and ``explode`` yields one
   output row per (violating row × check). Catalyst prunes the scan to
   exactly the columns the suite references — on the image table the
   ``bytes`` column is only read when an image check is in the suite —
   and the whole select stays inside WholeStageCodegen.

2. **One join stage per join-level constraint** (uniqueness / lookup-RI /
   dup-vs-production / containment), each a broadcast or AQE-planned
   shuffle join, unioned with the fused pass output.

The reference evaluated each check as a separate full-table pandas pass,
fanned out with multiprocessing (/root/reference/proj/core/functions.py:35-58);
here a single scan covers all row checks and Spark parallelizes by
partition.

Violations schema (FIXTURES.md §6, mirroring the reference's violation
dict at proj/core/functions.py:8-30, exploded to row granularity):

    table:string, row_id:string, columns:string, error_type:string,
    is_core_error:boolean, error_message:string, check_name:string,
    severity:string, part_id:int
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smcchecker_spark.constraints import (
    PART_ID,
    ROW_ID,
    Constraint,
    JoinConstraint,
    Suite,
    ValidationContext,
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType()),
        T.StructField("row_id", T.StringType()),
        T.StructField("columns", T.StringType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("is_core_error", T.BooleanType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("check_name", T.StringType()),
        T.StructField("severity", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
    ]
)

VIOLATION_COLS = [f.name for f in VIOLATION_SCHEMA.fields]


def part_expr(df: DataFrame, part_id_col: str | None):
    """A row's partition id: ``part_id_col`` when ``df`` has it, else
    the Spark partition the row sits in."""
    if part_id_col and part_id_col in df.columns:
        return F.col(part_id_col).cast("int")
    return F.spark_partition_id()


def _with_identity(df: DataFrame, row_id_col: str, part_id_col: str | None) -> DataFrame:
    return df.withColumn(ROW_ID, F.col(row_id_col).cast("string")).withColumn(
        PART_ID, part_expr(df, part_id_col)
    )


def evaluate_preconditions(
    df: DataFrame, constraints: list[Constraint]
) -> dict[str, bool]:
    """Whole-column gates, one column-pruned aggregate pass for all of them.

    Reference analogue: the all-values-parse gate before checkIntegers
    (proj/core/metadata.py:237-245) — per-table, driver-side decision.
    ``min(gate)`` over booleans is an AND reduction; map-side partial agg
    means this never shuffles more than one row per partition.
    """
    gated = [
        (c, c.precondition_expr(df))
        for c in constraints
        if c.precondition_expr(df) is not None
    ]
    if not gated:
        return {}
    aggs = [
        F.min(F.coalesce(pre.cast("boolean"), F.lit(True))).alias(c.name)
        for c, pre in gated
    ]
    row = df.agg(*aggs).collect()[0]
    return {c.name: bool(row[c.name]) for c, _ in gated}


def compile_row_pass(
    df: DataFrame,
    suite: Suite,
    tier: str = "core",
    row_id_col: str = "image_id",
    part_id_col: str | None = "part_id",
    gates: dict[str, bool] | None = None,
) -> DataFrame | None:
    """The fused single-scan pass over all row-level constraints."""
    gates = gates or {}
    row_checks = [
        c
        for c in suite.active(tier)
        if not isinstance(c, JoinConstraint) and gates.get(c.name, True)
    ]
    if not row_checks:
        return None
    base = _with_identity(df, row_id_col, part_id_col)
    structs = [
        F.when(
            c.violation_expr(base),
            F.struct(
                F.lit(c.columns_label).alias("columns"),
                F.lit(c.error_type).alias("error_type"),
                F.lit(c.is_core).alias("is_core_error"),
                c.message_expr(base).alias("error_message"),
                F.lit(c.name).alias("check_name"),
                F.lit(c.severity).alias("severity"),
            ),
        )
        for c in row_checks
    ]
    exploded = base.select(
        F.col(ROW_ID),
        F.col(PART_ID),
        F.explode(F.array_compact(F.array(*structs))).alias("v"),
    )
    return exploded.select(
        F.lit(suite.table).alias("table"),
        F.col(ROW_ID).alias("row_id"),
        F.col("v.columns").alias("columns"),
        F.col("v.error_type").alias("error_type"),
        F.col("v.is_core_error").alias("is_core_error"),
        F.col("v.error_message").alias("error_message"),
        F.col("v.check_name").alias("check_name"),
        F.col("v.severity").alias("severity"),
        F.col(PART_ID).alias("part_id"),
    )


def compile_join_passes(
    df: DataFrame,
    suite: Suite,
    ctx: ValidationContext,
    tier: str = "core",
    row_id_col: str = "image_id",
    part_id_col: str | None = "part_id",
) -> list[DataFrame]:
    """One violations DataFrame per join-level constraint."""
    base = _with_identity(df, row_id_col, part_id_col)
    out = []
    for c in suite.active(tier):
        if not isinstance(c, JoinConstraint):
            continue
        v = c.violations(base, ctx)
        msg = F.col("__msg") if "__msg" in v.columns else F.lit(c.message())
        out.append(
            v.select(
                F.lit(suite.table).alias("table"),
                F.col(ROW_ID).alias("row_id"),
                F.lit(c.columns_label).alias("columns"),
                F.lit(c.error_type).alias("error_type"),
                F.lit(c.is_core).alias("is_core_error"),
                msg.alias("error_message"),
                F.lit(c.name).alias("check_name"),
                F.lit(c.severity).alias("severity"),
                F.col(PART_ID).alias("part_id"),
            )
        )
    return out


def compile_suite(
    df: DataFrame,
    suite: Suite,
    ctx: ValidationContext | None = None,
    tier: str = "core",
    row_id_col: str = "image_id",
    part_id_col: str | None = "part_id",
) -> DataFrame:
    """Suite → violations DataFrame (lazy, except for one small aggregate
    action up front for whole-column preconditions such as IntRange's
    parse gate).
    """
    ctx = ctx or ValidationContext()
    # whole-COLUMN gates (IntRange's all-values-parse precondition) are a
    # full-table decision in the reference (proj/core/metadata.py:237-245)
    # — when validating a checkpoint-wave slice, evaluate them over the
    # complete in-session table, or a wave whose slice happens to parse
    # would run a check the whole-table gate suppresses
    gate_df = ctx.full_scope if ctx.full_scope is not None else df
    # gate results are a function of gate_df alone; in wave mode
    # (ctx.shared set by run_with_checkpoint) the full-scope aggregate
    # is identical every wave — evaluate once per (run, tier), not
    # once per wave
    cache_key = ("gates", tier)
    if ctx.shared is not None and cache_key in ctx.shared:
        gates = ctx.shared[cache_key]
    else:
        gates = evaluate_preconditions(gate_df, suite.active(tier))
        if ctx.shared is not None:
            ctx.shared[cache_key] = gates
    parts: list[DataFrame] = []
    row_pass = compile_row_pass(df, suite, tier, row_id_col, part_id_col, gates)
    if row_pass is not None:
        parts.append(row_pass)
    parts.extend(
        compile_join_passes(df, suite, ctx, tier, row_id_col, part_id_col)
    )
    if not parts:
        return df.sparkSession.createDataFrame([], VIOLATION_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
