"""Preprocess stage — runs before checks, part of the validation contract.

Reference: clean_data = strip_whitespace → fix_case → hardcoded_fixes
(/root/reference/proj/preprocess.py:127-146). The reference then
round-trips through Excel so checked bytes == loaded bytes
(proj/main.py:198-219); DataFrames are immutable/deterministic so that
invariant holds by construction here (SURVEY.md §2.11 C4).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def strip_whitespace(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Trim every string column (null-safe) — proj/preprocess.py:9-45."""
    targets = columns or [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    out = df
    for c in targets:
        out = out.withColumn(c, F.trim(F.col(c)))
    return out


def fix_case(
    df: DataFrame,
    column: str,
    lookup: DataFrame,
    lookup_key: str,
) -> DataFrame:
    """Replace a value with the lookup's canonical spelling when they match
    case-insensitively — proj/preprocess.py:47-116 (the reference builds a
    python replace-map per request; at scale this is a broadcast equi-join
    on the lower-cased key + coalesce, J8 in SURVEY.md §2.3)."""
    lu = F.broadcast(
        lookup.select(
            F.col(lookup_key).alias("__canon"),
            F.lower(F.col(lookup_key)).alias("__lc"),
        ).dropDuplicates(["__lc"])
    )
    joined = df.join(lu, F.lower(F.col(column)) == F.col("__lc"), "left")
    return joined.withColumn(
        column, F.coalesce(F.col("__canon"), F.col(column))
    ).drop("__canon", "__lc")


def clean_data(
    df: DataFrame,
    case_fix_lookups: dict[str, tuple[DataFrame, str]] | None = None,
    hardcoded_fixes: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Full preprocess pipeline (proj/preprocess.py:127-146).

    ``case_fix_lookups`` maps data column → (lookup df, lookup key col).
    ``hardcoded_fixes`` is the project-specific no-op hook
    (proj/preprocess.py:122-124).
    """
    out = strip_whitespace(df)
    for col, (lu, key) in (case_fix_lookups or {}).items():
        out = fix_case(out, col, lu, key)
    if hardcoded_fixes is not None:
        out = hardcoded_fixes(out)
    return out


# ---------------------------------------------------------------------------
# PII scrubbing (training-data pipeline layer, beyond the reference)
# ---------------------------------------------------------------------------

# Deliberately restricted to syntax valid in BOTH Java regex (Spark) and
# RE2 (DuckDB/Go scrubbers): no lookaround, no backrefs — so the same
# patterns drive the engine, the SQL oracle, and any downstream audit
# tooling. Keys sorted = application order (email before phone so a
# phone-ish digit run inside an address is already gone).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    # Structured, not "any long digit-ish run": an earlier
    # [\d\s().-]{7,} form also matched ISO dates ('2024-01-02 03'),
    # adjacent decimals ('3.14159 2.71828'), and digit runs spanning
    # newlines (\s includes \n) — silently corrupting ordinary numeric
    # text at corpus scale. Three shapes, each anchored by a real phone
    # signal: +country-code (separators then optional), parenthesized
    # area code, or bare 3-3-4 with MANDATORY single separators.
    # Leading-zero domestic forms ('01-02-2024'-ambiguous) are
    # deliberately out — dd-mm-yyyy dates are indistinguishable.
    "phone": (
        r"\+\d{1,3}[ .-]?(?:\(\d{1,4}\)[ .-]?)?\d{2,4}(?:[ .-]?\d{2,4}){1,3}"
        r"|\(\d{2,4}\)[ .-]?\d{2,4}(?:[ .-]?\d{2,4}){1,2}"
        r"|\d{3}[ .-]\d{3}[ .-]\d{4}"
    ),
}


def _pii_stages(
    col: Column, kinds: list[str] | None, token: str
) -> tuple[Column, list[Column]]:
    """Progressive redaction: each kind is counted AND replaced on the
    text with all earlier kinds already redacted, so an IP's digit run
    is never double-counted as a phone and placeholders never re-match.
    Returns (fully-redacted text, per-kind count columns)."""
    cur = F.coalesce(col, F.lit(""))
    counts: list[Column] = []
    for kind in sorted(kinds or PII_PATTERNS):
        pat = PII_PATTERNS[kind]
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, token.format(kind=kind))
    return cur, counts


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: list[str] | None = None,
    token: str = "<{kind}>",
    with_counts: bool = True,
) -> DataFrame:
    """Scrub ``text_col`` in place and (optionally) attach per-kind
    match counts — a single fused projection over one scan."""
    redacted, counts = _pii_stages(F.col(text_col), kinds, token)
    cols = [redacted.alias(text_col)]
    if with_counts:
        cols.extend(counts)
    others = [f for f in df.columns if f != text_col]
    return df.select(*others, *cols)


def impute_numeric(
    df: DataFrame,
    columns: list[str],
    strategy: str = "median",
    per_key: list[str] | None = None,
    approx: bool = False,
    indicator: bool = True,
) -> DataFrame:
    """Fill NULLs in numeric ``columns`` with the column's median (or
    mean) — globally, or per ``per_key`` group (a source's own typical
    value beats the global one when sources differ systematically). The
    repair-side partner of ``constraints.RobustOutliers``: both derive
    their statistic from the data with the same exact/sketch percentile
    choice (``approx=True`` → ``percentile_approx`` for 10^12-row
    columns). ``indicator=True`` appends ``<col>__imputed`` booleans —
    repairs an audit can see, never silent.

    Plan: ONE aggregation computes every column's fill value (global:
    a 1-row broadcast joined back map-side; per-key: a |keys|-row
    broadcast equi-join). All-NULL columns/groups keep their NULLs
    (no statistic exists to impute from; the indicator still marks
    nothing since nothing was filled). The fill value casts back to the
    column's dtype — for INTEGER columns the double median truncates
    toward zero (Spark CAST); prefer mean/median on double columns."""
    if strategy not in ("median", "mean"):
        raise ValueError(f"strategy must be median|mean, got {strategy!r}")

    def stat(c: str) -> Column:
        x = F.col(c).cast("double")
        if strategy == "mean":
            return F.avg(x)
        if approx:
            return F.percentile_approx(x, F.lit(0.5), F.lit(10000))
        return F.percentile(x, F.lit(0.5))

    aggs = [stat(c).alias(f"__fill_{c}") for c in columns]
    if per_key:
        fills = F.broadcast(df.groupBy(*per_key).agg(*aggs))
        out = df.join(fills, per_key, "left")
    else:
        out = df.join(F.broadcast(df.agg(*aggs)))
    for c in columns:
        fill = F.col(f"__fill_{c}")
        t = dict(df.dtypes)[c]
        filled = F.coalesce(F.col(c), fill.cast(t))
        if indicator:
            out = out.withColumn(
                f"{c}__imputed", F.col(c).isNull() & fill.isNotNull()
            )
        out = out.withColumn(c, filled)
    return out.drop(*[f"__fill_{c}" for c in columns])


def winsorize_numeric(
    df: DataFrame,
    columns: list[str],
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    per_key: list[str] | None = None,
    approx: bool = False,
    indicator: bool = True,
) -> DataFrame:
    """Clamp extreme values to data-derived percentile bounds
    (winsorization): anything below the ``p_lo`` quantile becomes that
    quantile, anything above ``p_hi`` likewise — globally or per
    ``per_key`` group (each source's own scale, like RobustOutliers'
    per-group cuts). The repair-side partner of
    ``constraints.RobustOutliers`` for pipelines that would rather tame
    a heavy tail than drop it (loss spikes from a handful of wild
    values dominate a mean; winsorized features keep the row).

    Plan: ONE aggregation computes every column's (lo, hi) bound pair
    (exact ``percentile`` or, with ``approx=True``, the bounded-memory
    ``percentile_approx`` sketch for 10^12-row columns); global bounds
    join back as a 1-row broadcast, per-key bounds as a |keys|-row
    broadcast equi-join — the data never shuffles. NULL values stay
    NULL; an all-NULL group has no bounds and passes through unchanged.
    ``indicator=True`` appends ``<col>__winsorized`` booleans — repairs
    an audit can see, never silent. Clamped values cast back to the
    column dtype (prefer double columns; integer casts truncate).
    """
    if not (0.0 <= p_lo < p_hi <= 1.0):
        raise ValueError(
            f"need 0 <= p_lo < p_hi <= 1, got ({p_lo}, {p_hi})"
        )

    def pct(c: str, p: float) -> Column:
        x = F.col(c).cast("double")
        if approx:
            return F.percentile_approx(x, F.lit(p), F.lit(10000))
        return F.percentile(x, F.lit(p))

    aggs = []
    for c in columns:
        aggs.append(pct(c, p_lo).alias(f"__lo_{c}"))
        aggs.append(pct(c, p_hi).alias(f"__hi_{c}"))
    if per_key:
        bounds = F.broadcast(df.groupBy(*per_key).agg(*aggs))
        out = df.join(bounds, per_key, "left")
    else:
        out = df.join(F.broadcast(df.agg(*aggs)))
    for c in columns:
        x = F.col(c).cast("double")
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        t = dict(df.dtypes)[c]
        clamped = (
            F.when(x < lo, lo).when(x > hi, hi).otherwise(x).cast(t)
        )
        if indicator:
            out = out.withColumn(
                f"{c}__winsorized",
                F.coalesce(
                    x.isNotNull() & ((x < lo) | (x > hi)), F.lit(False)
                ),
            )
        out = out.withColumn(c, clamped)
    return out.drop(
        *[f"__lo_{c}" for c in columns], *[f"__hi_{c}" for c in columns]
    )


def impute_categorical(
    df: DataFrame,
    columns: list[str],
    per_key: list[str] | None = None,
    indicator: bool = True,
) -> DataFrame:
    """Fill NULLs in categorical ``columns`` with the column's MODE
    (most frequent non-NULL value; ties break to the smallest value, so
    the fill is deterministic and SQL-reproducible) — globally or per
    ``per_key`` group. Completes :func:`impute_numeric` for string/enum
    columns; same auditable ``<col>__imputed`` indicators.

    Plan per column: one (key, value) count aggregation (map-side
    partials absorb hot values) reduced to one mode row per key with
    ``min_by`` over (−count, value) — never a window over raw rows —
    then a broadcast join back. All-NULL columns/groups keep NULL."""
    out = df
    keys = list(per_key or [])
    for c in columns:
        counts = (
            df.filter(F.col(c).isNotNull())
            .groupBy(*keys, c)
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        order = F.struct((-F.col("__n")).alias("n"), F.col(c).alias("v"))
        mode_col = F.min_by(F.col(c), order).alias(f"__fill_{c}")
        fills = (
            counts.groupBy(*keys).agg(mode_col)
            if keys
            else counts.agg(mode_col)
        )
        out = (
            out.join(F.broadcast(fills), keys, "left")
            if keys
            else out.join(F.broadcast(fills))
        )
        fill = F.col(f"__fill_{c}")
        if indicator:
            out = out.withColumn(
                f"{c}__imputed", F.col(c).isNull() & fill.isNotNull()
            )
        out = out.withColumn(c, F.coalesce(F.col(c), fill)).drop(
            f"__fill_{c}"
        )
    return out
