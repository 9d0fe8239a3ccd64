"""The declarative constraint DSL.

A ``Constraint`` is *data* — column references plus parameters — not free
code (contrast the reference's ``eval``-dispatched custom-check functions,
/root/reference/proj/main.py:286-301). The compiler (``compile.py``) turns a
``Suite`` of constraints into ONE pass: each check adds one boolean flag
over a shared base (``Constraint.annotate``) and one projection turns the
flags into violation structs. Spark parallelizes the pass by partition —
this replaces the reference's per-check ``multiprocessing`` fan-out,
proj/core/functions.py:35-58. A row-level check's flag is its violation
predicate; a join-level check (uniqueness, lookup RI, dup-vs-production,
row containment, …) flags through a hash probe or key join over the same
base.

Check inventory and error_type vocabulary mirror the reference's core
checks (proj/core/core.py:18-56); severities follow its error/warning
routing (checkScale → warnings, proj/core/core.py:51-55).
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smcchecker_spark import exprs

ERROR = "error"
WARNING = "warning"

# Exact reference error_type vocabulary (FIXTURES.md §6)
ERR_DTYPE = "Invalid Datatype"
ERR_DUP_SESSION = "Duplicated Rows"
ERR_DUP_PROD = "Duplicate"
ERR_LOOKUP = "Lookup List Fail"
ERR_NOT_NULL = "Missing Required Data"
ERR_RANGE = "Value out of range"
ERR_TOO_LONG = "Value too long"
# New vocabulary for north-star constraints with no reference analogue
ERR_REGEX = "Invalid Format"
ERR_LOGIC = "Logic Error"
ERR_PARITY = "Parity Mismatch"


@dataclass(frozen=True)
class Constraint:
    """Base row-level constraint: emits a violation predicate + message."""

    column: str
    severity: str = ERROR
    is_core: bool = True

    @property
    def name(self) -> str:
        return f"{type(self).__name__.lower()}_{self.column}"

    @property
    def columns_label(self) -> str:
        return self.column

    @property
    def error_type(self) -> str:
        raise NotImplementedError

    def violation_expr(self, df: DataFrame) -> Column:
        raise NotImplementedError

    def message_expr(self, df: DataFrame) -> Column:
        return F.lit(self.message())

    def message(self) -> str:
        raise NotImplementedError

    def annotate(
        self, base: DataFrame, src: DataFrame, ctx: "ValidationContext"
    ) -> tuple[DataFrame, Column]:
        """Return ``base`` (a join-level check widens it) and this check's
        violation flag over it; a row-level check's flag is its
        violation predicate."""
        return base, self.violation_expr(base)

    # Optional whole-column precondition: the check only runs if the
    # precondition holds over the entire table (reference analogue: the
    # all-values-parse gate before checkIntegers, proj/core/metadata.py:237-245).
    def precondition_expr(self, df: DataFrame) -> Optional[Column]:
        return None


@dataclass(frozen=True)
class NotNull(Constraint):
    """Missing Required Data — NULL / '' / 'nan' (proj/core/metadata.py:188-222)."""

    @property
    def error_type(self) -> str:
        return ERR_NOT_NULL

    def violation_expr(self, df: DataFrame) -> Column:
        return exprs.is_empty(df[self.column])

    def message(self) -> str:
        return (
            f"There is an empty value here, but the column {self.column} "
            "requires a value in all rows"
        )


@dataclass(frozen=True)
class Dtype(Constraint):
    """Invalid Datatype (proj/core/metadata.py:8-59, functions.py:62-75)."""

    dtype: str = "str"  # int | float | str | timestamp

    @property
    def name(self) -> str:
        return f"dtype_{self.column}"

    @property
    def error_type(self) -> str:
        return ERR_DTYPE

    def violation_expr(self, df: DataFrame) -> Column:
        return exprs.dtype_violation(df[self.column], self.dtype)

    def message(self) -> str:
        return f'The value here is not valid for the datatype "{self.dtype}"'


@dataclass(frozen=True)
class MaxLength(Constraint):
    """Value too long — len(str(x)) > n, nulls pass (functions.py:168-172)."""

    max_length: int = 0

    @property
    def error_type(self) -> str:
        return ERR_TOO_LONG

    def violation_expr(self, df: DataFrame) -> Column:
        c = df[self.column]
        return c.isNotNull() & (F.length(c.cast("string")) > F.lit(self.max_length))

    def message(self) -> str:
        return (
            f"The value is too long for column {self.column}, which allows "
            f"a maximum length of {self.max_length}"
        )


@dataclass(frozen=True)
class Precision(Constraint):
    """Value too long — significant digits > p (functions.py:77-122)."""

    precision: int = 38

    @property
    def error_type(self) -> str:
        return ERR_TOO_LONG

    def violation_expr(self, df: DataFrame) -> Column:
        return exprs.precision_violation(df[self.column], self.precision)

    def message(self) -> str:
        return (
            f"The column {self.column} allows a maximum of "
            f"{self.precision} significant digits"
        )


@dataclass(frozen=True)
class Scale(Constraint):
    """Value too long (warning) — fractional digits > s (functions.py:124-166).

    Routed to warnings like the reference (proj/core/core.py:51-55).
    """

    scale: int = 15
    severity: str = WARNING

    @property
    def error_type(self) -> str:
        return ERR_TOO_LONG

    def violation_expr(self, df: DataFrame) -> Column:
        return exprs.scale_violation(df[self.column], self.scale)

    def message(self) -> str:
        return (
            f"The column {self.column} allows a maximum of "
            f"{self.scale} digits after the decimal point"
        )


@dataclass(frozen=True)
class IntRange(Constraint):
    """Value out of range — int2/int4/int8 bounds (proj/core/metadata.py:226-291).

    ``gated=True`` reproduces the reference's whole-column parse gate: the
    check is skipped entirely when any value fails to parse as an integer
    (proj/core/metadata.py:237-245). The gate costs one extra column-pruned
    aggregate pass, orchestrated by the compiler.
    """

    width: str = "int4"  # int2 | int4 | int8, or use lo/hi directly
    lo: Optional[int] = None
    hi: Optional[int] = None
    gated: bool = True

    @property
    def bounds(self) -> tuple[int, int]:
        if self.lo is not None and self.hi is not None:
            return (self.lo, self.hi)
        return exprs.INT_BOUNDS[self.width]

    @property
    def error_type(self) -> str:
        return ERR_RANGE

    def violation_expr(self, df: DataFrame) -> Column:
        lo, hi = self.bounds
        return exprs.int_range_violation(df[self.column], lo, hi)

    def precondition_expr(self, df: DataFrame) -> Optional[Column]:
        if not self.gated:
            return None
        # all values must be valid int literals (nulls count as valid)
        return ~exprs.dtype_violation(df[self.column], "int")

    def message(self) -> str:
        lo, hi = self.bounds
        return f"The column {self.column} allows integer values from {lo} to {hi}"


@dataclass(frozen=True)
class Range(Constraint):
    """Value out of range — numeric lo <= x <= hi (north-star constraint,
    /root/repo/BASELINE.json:6; no reference analogue)."""

    lo: float = float("-inf")
    hi: float = float("inf")

    @property
    def error_type(self) -> str:
        return ERR_RANGE

    def violation_expr(self, df: DataFrame) -> Column:
        d = df[self.column].try_cast("double")
        return d.isNotNull() & ~d.between(F.lit(self.lo), F.lit(self.hi))

    def message(self) -> str:
        return f"The column {self.column} allows values from {self.lo} to {self.hi}"


@dataclass(frozen=True)
class Regex(Constraint):
    """Invalid Format — value must match pattern (north-star constraint)."""

    pattern: str = ".*"

    @property
    def error_type(self) -> str:
        return ERR_REGEX

    def violation_expr(self, df: DataFrame) -> Column:
        c = df[self.column]
        return c.isNotNull() & ~F.regexp_like(
            c.cast("string"), F.lit(self.pattern)
        )

    def message(self) -> str:
        return f"The column {self.column} must match the pattern {self.pattern}"


@dataclass(frozen=True)
class JsonShape(Constraint):
    """Invalid Format — the column must be parseable JSON and contain
    every key in ``required_keys``. Semi-structured payload columns
    (an events table's ``props``, an image table's EXIF sidecar) carry
    schema the relational layer can't see; this pins the minimum shape
    without exploding the payload into columns.

    Compiled to native JSON expressions (``try_parse_json`` validity +
    ``get_json_object`` key probes) fused into the suite's one projection
    — no UDF, whole-stage codegen keeps it JVM-side. NULL column values
    pass (NotNull's job). A required key whose value is JSON ``null``
    counts as missing (``get_json_object`` cannot distinguish the two —
    declare the key optional if JSON null is meaningful). Caveat:
    Spark's JSON reader accepts TRAILING garbage after a complete value
    (``{"a":1}x`` parses) — this check inherits that leniency.
    """

    required_keys: tuple[str, ...] = ()

    def __init__(self, column, required_keys=(), severity=ERROR,
                 is_core=True):
        object.__setattr__(self, "column", column)
        object.__setattr__(self, "required_keys", tuple(required_keys))
        object.__setattr__(self, "severity", severity)
        object.__setattr__(self, "is_core", is_core)

    @property
    def name(self) -> str:
        return f"jsonshape_{self.column}"

    @property
    def error_type(self) -> str:
        return ERR_REGEX

    def violation_expr(self, df: DataFrame) -> Column:
        c = df[self.column].cast("string")
        bad = F.try_parse_json(c).isNull()
        for k in self.required_keys:
            bad = bad | F.get_json_object(c, f"$.{k}").isNull()
        return c.isNotNull() & bad

    def message(self) -> str:
        if self.required_keys:
            return (
                f"The column {self.column} must be valid JSON containing "
                f"keys: {', '.join(self.required_keys)}"
            )
        return f"The column {self.column} must be valid JSON"


@dataclass(frozen=True)
class FieldEquals(Constraint):
    """Parity Mismatch — the column must equal a reference column on the
    same row, null-safely (NULL == NULL passes). The north star's
    ``caption_equals(reference)`` check (/root/repo/BASELINE.json:15:
    "caption equality" vs the reference checker's copy of the row);
    generic over any column pair, so it also serves schema-migration
    parity checks."""

    reference_col: str = ""

    @property
    def name(self) -> str:
        return f"fieldequals_{self.column}_{self.reference_col}"

    @property
    def columns_label(self) -> str:
        return f"{self.column},{self.reference_col}"

    @property
    def error_type(self) -> str:
        return ERR_PARITY

    def violation_expr(self, df: DataFrame) -> Column:
        return ~df[self.column].eqNullSafe(df[self.reference_col])

    def message_expr(self, df: DataFrame) -> Column:
        return F.concat(
            F.lit(f"The value in {self.column} ("),
            F.coalesce(df[self.column].cast("string"), F.lit("NULL")),
            F.lit(f") does not match the reference column {self.reference_col} ("),
            F.coalesce(df[self.reference_col].cast("string"), F.lit("NULL")),
            F.lit(")"),
        )

    def message(self) -> str:
        return (
            f"The value in {self.column} does not match the reference "
            f"column {self.reference_col}"
        )


@dataclass(frozen=True)
class OnlyWhen(Constraint):
    """Conditional constraint: the wrapped ROW-LEVEL check applies only to
    rows where ``condition`` (a SQL boolean expression over the row)
    holds; rows where it is false or NULL pass unconditionally.

    Reference analogue: the custom-check template's filtered badrows
    masks (``df[df.temperature != 'asdf'].index.tolist()``,
    /root/reference/proj/custom/example.py:45-50 via
    custom/functions.py:checkData) — the standard way its dataset checks
    scope a rule to a row subset. Here the condition is DATA (a SQL
    string stored in the suite config), not evaluated Python, keeping
    the registry's no-free-code property (SURVEY §2 U-2), and the
    compiler fuses the gated predicate into the same flag projection as
    every other check — zero extra passes, zero joins.

    Join-level constraints are rejected: scoping uniqueness/RI to a row
    subset changes the JOIN population, which callers should express by
    filtering the side table / full_scope explicitly, not silently here.
    """

    condition: str = ""
    check: "Constraint | None" = None

    def __init__(self, condition: str, check: Constraint):
        if isinstance(check, JoinConstraint):
            raise TypeError(
                "OnlyWhen wraps row-level constraints only; scope a join "
                "constraint by filtering its input table instead"
            )
        if isinstance(check, OnlyWhen):
            raise TypeError(
                "nested OnlyWhen — combine the conditions with AND instead"
            )
        object.__setattr__(self, "condition", condition)
        object.__setattr__(self, "check", check)
        object.__setattr__(self, "column", check.column)
        object.__setattr__(self, "severity", check.severity)
        object.__setattr__(self, "is_core", check.is_core)

    @property
    def name(self) -> str:
        return f"when_{self.check.name}"

    @property
    def columns_label(self) -> str:
        return self.check.columns_label

    @property
    def error_type(self) -> str:
        return self.check.error_type

    def _cond(self) -> Column:
        # NULL condition = not applicable = pass (mask semantics)
        return F.coalesce(F.expr(self.condition), F.lit(False))

    def violation_expr(self, df: DataFrame) -> Column:
        return self._cond() & self.check.violation_expr(df)

    def message_expr(self, df: DataFrame) -> Column:
        return F.concat(
            self.check.message_expr(df),
            F.lit(f" (rule applies when {self.condition})"),
        )

    def message(self) -> str:
        return f"{self.check.message()} (rule applies when {self.condition})"

    def precondition_expr(self, df: DataFrame) -> Optional[Column]:
        # whole-column gates (IntRange's parse gate) must only consider
        # rows the condition selects — an unparseable value OUTSIDE the
        # scope must not suppress the check inside it
        pre = self.check.precondition_expr(df)
        if pre is None:
            return None
        return F.when(self._cond(), pre).otherwise(F.lit(True))


# ---------------------------------------------------------------------------
# Join-level constraints — a hash probe or key join over the shared base
# ---------------------------------------------------------------------------


#: alias of the compiler's shared base; EXISTS subqueries reach its
#: columns as alias-qualified outer references (an unqualified name would
#: resolve inside the subquery)
BASE = "__vbase"


def _base(k: str) -> Column:
    return F.col(f"{BASE}.{k}")


def _match(pairs: list[tuple[Column, Column]], null_safe=True) -> Column:
    eq = [a.eqNullSafe(b) if null_safe else a == b for a, b in pairs]
    return functools.reduce(operator.and_, eq)


def _exists(side: DataFrame, prefix: str, keys, null_safe: bool) -> Column:
    """True when ``side`` (a foreign table, its keys renamed ``prefix+k``)
    holds the base row's keys. Planned as an ExistenceJoin: it never
    multiplies base rows, so duplicate side keys cannot duplicate
    violations, and the side keeps its broadcast hint or bucketing."""
    return side.where(
        _match([(F.col(prefix + k), _base(k).outer()) for k in keys], null_safe)
    ).exists()


def _join_keys(base: DataFrame, key_table: DataFrame, keys, tag: str):
    """Null-safe LEFT join of a distinct key table derived from the
    validated rows (Unique's dup keys, FunctionalDep's bad keys) onto the
    base; the flag is the ``lit(True)`` marker, so NULL-key groups flag
    too. groupBy groups NULL keys together (pandas ``duplicated`` treats
    NaN == NaN the same way) — a plain equi-join would drop them."""
    right = key_table.select(
        *[F.col(k).alias(f"{tag}_{k}") for k in keys], F.lit(True).alias(tag)
    )
    cond = _match([(_base(k), F.col(f"{tag}_{k}")) for k in keys])
    return base.join(right, cond, "left"), F.col(tag).isNotNull()


def _scope_table(ctx: "ValidationContext", src: DataFrame, cache_key, build):
    """``build`` over the FULL in-session table (``ctx.full_scope``) when
    validating a checkpoint-wave slice — otherwise a duplicate pair split
    across waves is invisible to both waves' per-slice aggregates. The
    table is a function of the full scope alone, so in wave mode
    (``ctx.shared`` set) it is materialized lazily (the first wave pays
    the aggregate) and reused by every later wave."""
    if ctx.shared is not None and cache_key in ctx.shared:
        return ctx.shared[cache_key]
    table = build(ctx.full_scope if ctx.full_scope is not None else src)
    if ctx.shared is not None and ctx.full_scope is not None:
        table = table.localCheckpoint(eager=False)
        ctx.shared[cache_key] = table
    return table


def _registered(tables: dict, name: str, what: str) -> DataFrame:
    if name not in tables:
        raise ValueError(
            f"{what} {name!r} not registered in the ValidationContext "
            f"(available: {sorted(tables)})"
        )
    return tables[name]


@dataclass(frozen=True)
class JoinConstraint(Constraint):
    """A check whose flag needs rows other than the one it flags: it
    overrides ``annotate`` to widen the base with a probe or join.
    ``src`` is the validated rows without the ``BASE`` alias, for
    aggregates over the slice."""


@dataclass(frozen=True)
class Unique(JoinConstraint):
    """Duplicated Rows — all members of duplicate key groups
    (proj/core/dupes.py:11-52, pandas ``duplicated(keep=False)``).

    Scale note (SURVEY.md §4 item 6): compiled as
    ``groupBy(keys).count() > 1`` (partial/map-side + final hash agg —
    ONE shuffle on the key hash) left-joined onto the shared base. AQE
    broadcasts the (usually tiny) duplicate-key side at runtime; at
    10^12 rows the agg itself two-phases for free. The agg side is
    column-pruned to the keys, so in wave mode the full-scope pass scans
    ids, not data.
    """

    keys: tuple[str, ...] = ()

    def __init__(self, keys, severity=ERROR, is_core=True):
        object.__setattr__(self, "keys", tuple(keys))
        object.__setattr__(self, "column", ",".join(self.keys))
        object.__setattr__(self, "severity", severity)
        object.__setattr__(self, "is_core", is_core)

    @property
    def name(self) -> str:
        return "unique_" + "_".join(self.keys)

    @property
    def error_type(self) -> str:
        return ERR_DUP_SESSION

    def message(self) -> str:
        return "You have duplicated rows based on the primary key fields " + ", ".join(
            self.keys
        )

    def annotate(self, base, src, ctx):
        keys = list(self.keys)
        dup_keys = _scope_table(
            ctx, src, ("unique_dup_keys", self.keys),
            lambda s: s.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1),
        )
        return _join_keys(base, dup_keys, keys, f"__{self.name}")


@dataclass(frozen=True)
class InLookup(JoinConstraint):
    """Lookup List Fail — referential integrity against a lookup table
    (proj/core/lookups.py:9-83: ``~df[col].isin(lu_values)``).

    Compiled as NOT EXISTS against the lookup (an ExistenceJoin).
    Lookup tables are dimension-sized → ``broadcast()`` hint (no shuffle
    of the fact side at all); for a large reference table set
    ``broadcast_hint=False`` and AQE plans a sort-merge/shuffled-hash
    join (north_rule names both strategies). Matching is on the raw
    value like the reference; case-normalization belongs to the
    preprocess stage (clean.py fix_case).
    """

    lookup: str = ""  # key into ctx.lookups
    lookup_key: str = ""  # column in the lookup table
    broadcast_hint: bool = True

    @property
    def name(self) -> str:
        return f"inlookup_{self.column}_{self.lookup}"

    @property
    def error_type(self) -> str:
        return ERR_LOOKUP

    def message(self) -> str:
        return (
            f"The value entered did not match the lookup list {self.lookup}"
        )

    def message_expr(self, df) -> Column:
        return F.concat(
            F.lit("This value you entered ("),
            df[self.column].cast("string"),
            F.lit(f") did not match the lookup list {self.lookup}"),
        )

    def annotate(self, base, src, ctx):
        lu = _registered(ctx.lookups, self.lookup, "lookup table").select(
            F.col(self.lookup_key).alias("__lu_" + self.column)
        )
        if self.broadcast_hint:
            lu = F.broadcast(lu)
        # null FK values are NotNull's problem
        return base, base[self.column].isNotNull() & ~_exists(
            lu, "__lu_", [self.column], null_safe=False
        )


@dataclass(frozen=True)
class NotInExisting(JoinConstraint):
    """Duplicate (vs production) — key already present in the target table
    (proj/core/dupes.py:55-135: left-merge against SELECT DISTINCT pkey).

    Compiled as EXISTS against the existing snapshot's distinct keys
    (an ExistenceJoin): rows that DO match are violations. The
    distinct() two-phases map-side; the join is AQE-planned (broadcast
    when the existing key set is small, sort-merge otherwise).

    ``distinct_keys=False`` skips the key dedup — an existence join's
    output is identical with or without it, so when the production keys
    are already unique (a primary-keyed snapshot — the usual case) the
    distinct is a pure extra aggregation of 10^12 keys. Crucially, with
    the snapshot stored BUCKETED on the keys (``tables.BucketedTable``),
    skipping it lets the join consume the table's bucketing directly:
    the production side is scanned pre-partitioned (and pre-sorted) with
    ZERO exchange — only the incoming submission (a sliver) shuffles to
    match. That is the 10^12-row RI plan; asserted in tests/test_plans.py.

    ``bloom_bits``: opt-in Bloom prefilter of the PRODUCTION side. The
    submission's keys (the small side — one cheap aggregation) build a
    word-packed bitmap (ops/bloom.py); production rows whose key
    composite is definitely absent from the submission are dropped
    MAP-SIDE before the join, so the 10^12-row snapshot's shuffle
    volume collapses to (possible matches + fp sliver). No false
    negatives — the bloom changes the plan, never the violation set
    (parity-asserted in tests). Size it for the SUBMISSION key count
    (~10 bits/key for ~1% fp). Composite keys hash as a unit-separator
    concat, identically on both sides.

    ``null_safe=False`` joins on plain equality instead of ``<=>``.
    The default matches the reference (pandas ``merge`` pairs NaN keys,
    proj/core/dupes.py:106, so a NULL-keyed incoming row duplicates a
    NULL-keyed production row), but Spark plans a null-safe join key as
    ``coalesce(k, …)``/``isnull(k)`` — a partitioning expression that can
    NEVER match a table's bucketing-by-k, so the 10^12-row production
    side gets re-shuffled (measured: 2 exchanges vs 1). When the
    snapshot's keys are declared NOT NULL (primary keys are), plain
    equality is semantically identical and bucket-compatible.
    """

    keys: tuple[str, ...] = ()
    existing: str = ""
    distinct_keys: bool = True
    null_safe: bool = True
    bloom_bits: int | None = None

    def __init__(self, keys, existing, severity=ERROR, is_core=True,
                 distinct_keys=True, null_safe=True, bloom_bits=None):
        object.__setattr__(self, "keys", tuple(keys))
        object.__setattr__(self, "existing", existing)
        object.__setattr__(self, "column", ",".join(self.keys))
        object.__setattr__(self, "severity", severity)
        object.__setattr__(self, "is_core", is_core)
        object.__setattr__(self, "distinct_keys", distinct_keys)
        object.__setattr__(self, "null_safe", null_safe)
        object.__setattr__(self, "bloom_bits", bloom_bits)

    @property
    def name(self) -> str:
        return "notinexisting_" + "_".join(self.keys)

    @property
    def error_type(self) -> str:
        return ERR_DUP_PROD

    def message(self) -> str:
        return (
            "This record already exists in the database (matched on "
            + ", ".join(self.keys)
            + ")"
        )

    def annotate(self, base, src, ctx):
        keys = list(self.keys)
        existing = _registered(
            ctx.existing, self.existing, "existing-snapshot table"
        ).select(*[F.col(k).alias(f"__ex_{k}") for k in keys])
        if self.distinct_keys:
            existing = existing.distinct()
        if self.bloom_bits:
            from smcchecker_spark.ops import bloom

            def composite(cols: list[str]) -> Column:
                # unit-separator concat: identical deterministic mapping
                # on both sides, so a real match can never bloom-negative
                return F.concat_ws(
                    "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                              for c in cols]
                )

            words = bloom.bloom_build(
                src.select(composite(keys).alias("__bk")), "__bk",
                self.bloom_bits,
            )
            existing = (
                bloom.might_contain(
                    existing.withColumn(
                        "__bk", composite([f"__ex_{k}" for k in keys])
                    ),
                    "__bk", words, self.bloom_bits,
                )
                .filter(F.col("__maybe"))
                .drop("__maybe", "__bk")
            )
        return base, _exists(existing, "__ex_", keys, self.null_safe)


@dataclass(frozen=True)
class SubsetOf(JoinConstraint):
    """Logic Error — every row of this table (on ``keys``) must appear in
    another table (proj/custom/functions.py:36-66 ``checkLogic``).

    The reference's per-column ``isin`` is value-wise, not tuple-wise — a
    documented bug we do NOT replicate (SURVEY.md §2.3 J4); we implement
    true tuple containment as NOT EXISTS on the key tuple.
    """

    keys: tuple[str, ...] = ()
    other: str = ""  # key into ctx.existing (any registered table)
    is_core: bool = False  # logic checks are custom-tier in the reference

    def __init__(self, keys, other, severity=ERROR, is_core=False):
        object.__setattr__(self, "keys", tuple(keys))
        object.__setattr__(self, "other", other)
        object.__setattr__(self, "column", ",".join(self.keys))
        object.__setattr__(self, "severity", severity)
        object.__setattr__(self, "is_core", is_core)

    @property
    def name(self) -> str:
        return "subsetof_" + "_".join(self.keys) + "_" + self.other

    @property
    def error_type(self) -> str:
        return ERR_LOGIC

    def message(self) -> str:
        return (
            f"Each record must have a matching record in {self.other} "
            f"(matched on {', '.join(self.keys)})"
        )

    def annotate(self, base, src, ctx):
        other = _registered(ctx.existing, self.other, "table").select(
            *[F.col(k).alias(f"__so_{k}") for k in self.keys]
        )
        return base, ~_exists(other.distinct(), "__so_", self.keys, False)


@dataclass(frozen=True)
class MonotonicWithin(JoinConstraint):
    """Logic Error — within each key group, ``column`` must be
    non-decreasing (``strict=True``: strictly increasing) when rows are
    ordered by ``order_by``. The sequence-consistency check of the
    reference's timeseries datasets (its custom-check template flags
    order violations as filtered badrows masks, proj/custom/
    timeseries_custom.py via functions.py:checkData), generalized: e.g.
    event timestamps must not run backwards in ingest order per user.

    Compiled as one ``lag()`` window per key group inside the flag
    projection: ONE shuffle on the key hash, per-group sort on
    ``order_by``. The window partitions the shared base rows, so a suite
    that pairs this check with a payload check (ImageConsistent, …)
    shuffles the payload column too. Scale note: a window cannot be
    split by AQE — one group sorts in one task, so the key must be finer
    than any hot entity (salt upstream or use a composite key when a
    single group can exceed a task's memory). Rows flagged are those
    BELOW their predecessor; NULL values never flag (order gaps are
    NotNull's job) and NULL order_by rows sort first (deterministic:
    Spark default nulls-first ascending). Rows tied on ``order_by`` are
    ordered by the row id, then by ``column``, so the flagged rows do
    not depend on the physical plan or the input order.
    """

    keys: tuple[str, ...] = ()
    order_by: str = ""
    strict: bool = False

    def __init__(self, column, keys, order_by, strict=False,
                 severity=ERROR, is_core=False):
        object.__setattr__(self, "column", column)
        object.__setattr__(self, "keys", tuple(keys))
        object.__setattr__(self, "order_by", order_by)
        object.__setattr__(self, "strict", strict)
        object.__setattr__(self, "severity", severity)
        object.__setattr__(self, "is_core", is_core)

    @property
    def name(self) -> str:
        return (
            f"monotonic_{self.column}_by_" + "_".join(self.keys)
        )

    @property
    def error_type(self) -> str:
        return ERR_LOGIC

    def message(self) -> str:
        kind = "strictly increase" if self.strict else "not decrease"
        return (
            f"The value in {self.column} must {kind} within each "
            f"({', '.join(self.keys)}) group when ordered by {self.order_by}"
        )

    def annotate(self, base, src, ctx):
        from pyspark.sql import Window

        from smcchecker_spark.compile import ROW_ID

        w = Window.partitionBy(*[base[k] for k in self.keys]).orderBy(
            base[self.order_by], base[ROW_ID], base[self.column]
        )
        x = base[self.column]
        prev = F.lag(x).over(w)
        bad = (x <= prev) if self.strict else (x < prev)
        return base, x.isNotNull() & prev.isNotNull() & bad


@dataclass(frozen=True)
class RobustOutliers(JoinConstraint):
    """Value out of range — robust data-derived bounds: flag rows where
    ``|x - median| > k * 1.4826 * MAD`` (median absolute deviation,
    consistency-scaled so k reads like a z-score; k=3.5 is the standard
    conservative cut). The data-derived sibling of :class:`Range`:
    bounds come from the batch itself, so a sensor drift or unit mixup
    (cm vs m) flags without anyone pre-declaring limits. Median/MAD
    (unlike mean/stddev) don't move when the outliers themselves are
    extreme — the estimator survives the contamination it hunts.

    NULLs never flag (NotNull's job). MAD == 0 (over half the values
    identical) flags nothing — every deviation would be infinitely many
    MADs out; declare an exact-value rule with FieldEquals instead.

    Scale: two extra column-pruned aggregation passes (median, then MAD
    around it), attached to the shared base as a broadcast — no driver
    collect, no full-width shuffle. ``approx=True`` swaps exact
    ``percentile`` (per-value aggregation state — fine to ~millions of
    distinct values) for ``percentile_approx`` (bounded sketch; the
    10^12-row setting, tolerance ~1e-4 of rank).

    Reference analogue: the custom-check templates' hard-coded range
    masks (proj/custom/*.py via functions.py:checkData); this replaces
    the hard-coding with a robust estimate.
    """

    k: float = 3.5
    approx: bool = False
    keys: tuple[str, ...] = ()

    def __init__(self, column, k=3.5, approx=False, keys=(),
                 severity=ERROR, is_core=False):
        object.__setattr__(self, "column", column)
        object.__setattr__(self, "k", float(k))
        object.__setattr__(self, "approx", bool(approx))
        object.__setattr__(self, "keys", tuple(keys))
        object.__setattr__(self, "severity", severity)
        object.__setattr__(self, "is_core", is_core)

    @property
    def name(self) -> str:
        if self.keys:
            return (
                f"robustoutliers_{self.column}_by_" + "_".join(self.keys)
            )
        return f"robustoutliers_{self.column}"

    @property
    def error_type(self) -> str:
        return ERR_RANGE

    def message(self) -> str:
        scope = (
            f" within its ({', '.join(self.keys)}) group" if self.keys else ""
        )
        return (
            f"The value in {self.column} is more than {self.k} scaled "
            f"median-absolute-deviations from the column median{scope}"
        )

    def _median(self, col: Column) -> Column:
        if self.approx:
            return F.percentile_approx(col, F.lit(0.5), F.lit(10000))
        return F.percentile(col, F.lit(0.5))

    def annotate(self, base, src, ctx):
        """``keys=()``: column-global median/MAD over the validated rows,
        a 1-row broadcast cross join. With ``keys``: per-GROUP median/MAD
        (a source's own scale — mixed-unit corpora where the global cut
        over/under flags every source), a |groups|-row broadcast LEFT
        join; rows with NULL group keys are never flagged (no
        population)."""
        x = F.col(self.column).cast("double")
        keys = list(self.keys)
        t = f"__{self.name}"
        if keys:
            med = src.groupBy(*keys).agg(self._median(x).alias("__med"))
            stats = (
                src.join(F.broadcast(med), keys)
                .groupBy(*keys)
                .agg(self._median(F.abs(x - F.col("__med"))).alias("__mad"))
                .join(F.broadcast(med), keys)
            )
        else:
            med = src.agg(self._median(x).alias("__med"))
            stats = src.join(F.broadcast(med)).agg(
                F.first("__med").alias("__med"),
                self._median(F.abs(x - F.col("__med"))).alias("__mad"),
            )
        stats = F.broadcast(stats.select(
            *[F.col(k).alias(f"{t}_{k}") for k in keys],
            F.col("__med").alias(f"{t}_med"),
            F.col("__mad").alias(f"{t}_mad"),
        ))
        if keys:
            cond = _match([(_base(k), F.col(f"{t}_{k}")) for k in keys], False)
            base = base.join(stats, cond, "left")
        else:
            base = base.crossJoin(stats)
        x = base[self.column].cast("double")
        center, mad = F.col(f"{t}_med"), F.col(f"{t}_mad")
        return base, x.isNotNull() & (mad > 0) & (
            F.abs(x - center) > F.lit(self.k) * F.lit(1.4826) * mad
        )


@dataclass(frozen=True)
class FunctionalDep(JoinConstraint):
    """Logic Error — functional-dependency consistency: within each
    group of ``keys`` (the determinant), the ``depends`` tuple must be
    constant. The cross-row sibling of :class:`FieldEquals`: "every
    image_id carries exactly one phash", "a station code maps to one
    latitude". The reference gets this one-to-one guarantee implicitly
    from its lookup-table normalization (lu_* FK targets,
    proj/core/lookups.py:15-31); declared over the data itself the
    check needs no lookup dimension and catches drift the lookups
    can't see (two ingest batches disagreeing about the same key).

    Compiled like :class:`Unique`: ``groupBy(keys)`` with a null-safe
    distinct count of the ``depends`` struct, filtered to ``> 1``, then
    left-joined onto the shared base to flag every member row of an
    inconsistent group. ONE shuffle on the key hash (partial/map-side +
    final agg); the joined side carries only inconsistent keys, which
    AQE broadcasts when tiny. NULL dependent values compare null-safely
    inside the struct (NULL == NULL — a group whose deps are all NULL is
    consistent; NULL-vs-value is a genuine conflict). Wave mode scopes
    the aggregate to ``ctx.full_scope`` and caches the inconsistent-key
    table across waves, exactly like Unique — a dependency violated
    across two waves is invisible to either wave alone.
    """

    keys: tuple[str, ...] = ()
    depends: tuple[str, ...] = ()

    def __init__(self, keys, depends, severity=ERROR, is_core=False):
        object.__setattr__(self, "keys", tuple(keys))
        object.__setattr__(self, "depends", tuple(depends))
        object.__setattr__(self, "column", ",".join(self.depends))
        object.__setattr__(self, "severity", severity)
        object.__setattr__(self, "is_core", is_core)

    @property
    def name(self) -> str:
        return (
            "fd_" + "_".join(self.keys) + "__" + "_".join(self.depends)
        )

    @property
    def error_type(self) -> str:
        return ERR_LOGIC

    def message(self) -> str:
        return (
            f"The value of ({', '.join(self.depends)}) must be constant "
            f"within each ({', '.join(self.keys)}) group"
        )

    def annotate(self, base, src, ctx):
        keys = list(self.keys)
        # struct() is never NULL, so countDistinct sees every row; struct
        # equality is null-safe field-wise — the NULL semantics
        # documented above fall out of UnsafeRow grouping
        dep = F.struct(*[F.col(c) for c in self.depends])
        bad_keys = _scope_table(
            ctx, src, ("fd_bad_keys", self.keys, self.depends),
            lambda s: s.groupBy(*keys)
            .agg(F.countDistinct(dep).alias("__ndv"))
            .filter(F.col("__ndv") > 1),
        )
        return _join_keys(base, bad_keys, keys, f"__{self.name}")


@dataclass
class ValidationContext:
    """Side tables a suite's join constraints resolve against.

    ``lookups`` — lu_* dimension tables (proj/core/lookups.py:28-30);
    ``existing`` — production snapshots / sibling tables.
    """

    lookups: dict[str, DataFrame] = field(default_factory=dict)
    existing: dict[str, DataFrame] = field(default_factory=dict)
    # The COMPLETE in-session table when validation runs on a slice of it
    # (checkpoint waves). In-session duplicate detection (Unique) must
    # scope its key aggregate to the whole submission — per-slice scoping
    # silently misses duplicate pairs that span slices. None = the df
    # being validated IS the full scope.
    full_scope: "DataFrame | None" = None
    # Cross-wave artifact cache (whole-column gate results, Unique's
    # dup-key table). These are functions of ``full_scope`` alone, so a
    # wave loop re-computing them per wave scans the complete table once
    # PER WAVE for an answer that never changes. ``run_with_checkpoint``
    # passes one dict for the whole run; None (the default) disables
    # caching — correct for direct runs where the runner may be reused
    # on different inputs.
    shared: "dict | None" = None


@dataclass
class Suite:
    """A named set of constraints bound to a table — the engine's analogue
    of the reference's dataset config (proj/config/datasets.json) plus the
    information_schema-derived metadata (proj/core/functions.py:176-209),
    expressed as data instead of a live RDBMS.

    ``exclude_columns`` mirrors SYSTEM_FIELDS (proj/config/basic-config.json:3-5):
    constraints on excluded columns are dropped at compile time.
    """

    name: str
    table: str
    constraints: list[Constraint]
    exclude_columns: tuple[str, ...] = ()
    # custom-tier constraints run only when the core tier produced zero
    # errors (proj/main.py:279) — enforced per-partition by the runner.
    custom_constraints: list[Constraint] = field(default_factory=list)

    def active(self, tier: str = "core") -> list[Constraint]:
        cs = self.constraints if tier == "core" else self.custom_constraints
        excl = set(self.exclude_columns)
        return [
            c
            for c in cs
            if not ({k.strip() for k in c.column.split(",")} & excl)
        ]
