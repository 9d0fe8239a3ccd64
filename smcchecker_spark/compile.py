"""Compile a constraint Suite into one Spark plan producing violations.

Execution shape (SURVEY.md §4 "fused constraint evaluation"): every suite
has ONE compile path, a single multi-constraint pass per partition.

1. The input gets its identity columns (``ROW_ID``, ``PART_ID``) once and
   is aliased ``BASE``. Each check then adds one boolean flag over that
   base (``Constraint.annotate``). A row-level check's flag is its
   violation predicate. A join-level check's flag is a hash probe: an
   EXISTS subquery against a side table (planned as an ExistenceJoin,
   which never multiplies base rows) or a LEFT join against a key/stats
   table derived from the validated rows.
2. One projection computes ``when(flag, struct(...message...))`` for
   every check into an array, so a payload UDF that a check's flag and
   message share runs once per row.
3. ``explode(array_compact(...))`` (a separate step: EXISTS may not sit
   inside a generator) yields one output row per (violating row × check).

Catalyst prunes the scan to exactly the columns the suite references — on
the image table the ``bytes`` column is only read when an image check is
in the suite. The reference evaluated each check as a separate full-table
pandas pass, fanned out with multiprocessing
(/root/reference/proj/core/functions.py:35-58); here one plan covers all
checks and Spark parallelizes by partition.

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
    BASE,
    Constraint,
    Suite,
    ValidationContext,
)
from smcchecker_spark.tables import local_frame

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

#: identity/lineage columns the compiler attaches to the base once; the
#: violations' row_id and part_id are read from them after the explode
ROW_ID = "__row_id"
PART_ID = "__part_id"


def part_expr(df: DataFrame, part_id_col: str | None):
    """A row's partition id: ``part_id_col`` when ``df`` has it, else
    the Spark partition the row sits in."""
    if part_id_col and part_id_col in df.columns:
        return F.col(part_id_col).cast("int")
    return F.spark_partition_id()


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
    checks = [c for c in suite.active(tier) if gates.get(c.name, True)]
    if not checks:
        return local_frame(df.sparkSession, [], VIOLATION_SCHEMA)
    src = df.withColumn(ROW_ID, F.col(row_id_col).cast("string")).withColumn(
        PART_ID, part_expr(df, part_id_col)
    )
    base = src.alias(BASE)
    flags = []
    for c in checks:
        base, flag = c.annotate(base, src, ctx)
        flags.append((c, flag))
    structs = [
        F.when(
            flag,
            F.struct(
                F.lit(c.columns_label).alias("columns"),
                F.lit(c.error_type).alias("error_type"),
                F.lit(c.is_core).alias("is_core_error"),
                c.message_expr(base).alias("error_message"),
                F.lit(c.name).alias("check_name"),
                F.lit(c.severity).alias("severity"),
            ),
        )
        for c, flag in flags
    ]
    flagged = base.select(
        F.col(ROW_ID), F.col(PART_ID), F.array(*structs).alias("__v")
    )
    exploded = flagged.select(
        F.col(ROW_ID),
        F.col(PART_ID),
        F.explode(F.array_compact(F.col("__v"))).alias("v"),
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
