"""Column statistics, sketches, and distribution-drift checks.

North-star requirements (/root/repo/BASELINE.json:6): per-column null
rate, min/max, cardinality via HyperLogLog sketches, value distributions
via t-digest; KS/PSI drift checks against a baseline stats snapshot. The
reference has no analogue (its only aggregate is a row-count checksum,
/root/reference/proj/load.py:124-145) — these are the scale-era extension
of its metadata-driven checks.

Design for 10^12 rows:

- ``column_stats`` is ONE aggregate pass for all requested columns
  (map-side partial agg → single tiny result; no shuffle of data rows).
  HLL via Spark's built-in ``approx_count_distinct`` (HLL++),
  quantiles via ``percentile_approx``.
- ``histogram`` is one groupBy over ``width_bucket``-style bucket ids —
  the only shuffle, over ≤bins+2 distinct keys.
- KS and PSI are computed from binned histograms entirely as DataFrame
  ops (a bins-sized join), so drift checks never collect data rows.
- ``TDigest`` is a small mergeable centroid sketch: partial sketches per
  Arrow batch via ``mapInPandas``, merged on the driver (bytes per
  partition, not rows) — the classic partial/final sketch pattern.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smcchecker_spark import exprs
from smcchecker_spark.tables import local_frame

STATS_COLS = [
    "column",
    "n_rows",
    "null_count",
    "null_rate",
    "min",
    "max",
    "approx_ndv",
    "quantiles",
]

DEFAULT_QUANTILES = [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]


def _stats_aggs(
    df: DataFrame,
    columns: list[str],
    quantiles: list[float],
    hll_rsd: float,
) -> list[Column]:
    """Shared per-column aggregate list for column_stats /
    column_stats_by / the runner's wave summary; the caller adds the
    row count, and ``_stats_structs`` turns one aggregate row into the
    per-column stats rows.

    BINARY columns (image payloads) get size-domain stats: min/max/
    quantiles over ``length(bytes)`` and ndv over ``xxhash64(bytes)`` —
    casting a payload to string for min/max would compare mojibake, and
    payload-size distribution is the operationally useful signal (Arrow
    batch sizing, skew detection)."""
    binary_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.BinaryType)
    }
    aggs: list[Column] = []
    for c in columns:
        col = F.col(c)
        if c in binary_cols:
            sz = F.length(col)
            aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
            aggs.append(F.min(sz).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(sz).cast("string").alias(f"{c}__max"))
            aggs.append(
                F.approx_count_distinct(F.xxhash64(col), hll_rsd).alias(f"{c}__ndv")
            )
            aggs.append(
                F.percentile_approx(
                    sz.cast("double"), F.lit(quantiles), F.lit(10000)
                ).alias(f"{c}__q")
            )
            continue
        empty = exprs.is_empty(col)
        aggs.append(F.sum(empty.cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
        aggs.append(F.approx_count_distinct(col, hll_rsd).alias(f"{c}__ndv"))
        aggs.append(
            F.percentile_approx(
                col.try_cast("double"), F.lit(quantiles), F.lit(10000)
            ).alias(f"{c}__q")
        )
    return aggs


def _stats_structs(columns: list[str], n_rows: Column) -> Column:
    """The per-column stats rows of one ``_stats_aggs`` row, as an array
    of structs to explode: (column, n_rows, null_count, null_rate, min,
    max, approx_ndv, quantiles)."""
    return F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                n_rows.alias("n_rows"),
                F.col(f"{c}__nulls").alias("null_count"),
                (F.col(f"{c}__nulls") / n_rows).alias("null_rate"),
                F.col(f"{c}__min").alias("min"),
                F.col(f"{c}__max").alias("max"),
                F.col(f"{c}__ndv").alias("approx_ndv"),
                F.col(f"{c}__q").alias("quantiles"),
            )
            for c in columns
        ]
    )


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    quantiles: list[float] = DEFAULT_QUANTILES,
    hll_rsd: float = 0.02,
) -> DataFrame:
    """One-pass per-column stats. Returns one row per column:
    (column, n_rows, null_count, null_rate, min, max, approx_ndv, quantiles).

    Null semantics follow the reference's empty test (NULL/''/'nan',
    proj/core/metadata.py:203). min/max render as strings so mixed column
    types coexist in one stats table; quantiles only for numeric-castable
    columns (NULL array otherwise). Binary columns report payload-SIZE
    min/max/quantiles and content-hash ndv (see ``_stats_aggs``).
    """
    columns = columns or df.columns
    row = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *_stats_aggs(df, columns, quantiles, hll_rsd),
    )
    return row.select(
        F.explode(_stats_structs(columns, F.col("__n"))).alias("s")
    ).select("s.*")


def column_stats_exact(df: DataFrame, columns: list[str]) -> DataFrame:
    """Exact one-pass stats for numeric columns (oracle-comparable variant
    of ``column_stats``): (column, n_rows, null_count, min_val, max_val,
    ndv). Exact ``count_distinct`` shuffles per-column distinct sets —
    use only where an exact answer is required; ``column_stats`` (HLL)
    is the 10^12-row path."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.min(col).cast("double").alias(f"{c}__min"))
        aggs.append(F.max(col).cast("double").alias(f"{c}__max"))
        aggs.append(F.count_distinct(col).alias(f"{c}__ndv"))
    row = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("null_count"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
            F.col(f"{c}__ndv").alias("ndv"),
        )
        for c in columns
    ]
    return row.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


def column_stats_by(
    df: DataFrame,
    group_col: str,
    columns: list[str] | None = None,
    quantiles: list[float] = DEFAULT_QUANTILES,
    hll_rsd: float = 0.02,
) -> DataFrame:
    """Per-group ``column_stats``: one row per (group, column) — the
    per-PARTITION metrics emission of the north rule ("each partition
    emits lineage + metrics rows to a checkpoint table"). Same one-pass
    shape as ``column_stats`` with a groupBy on the partition column:
    map-side partial aggregation means the exchange carries one partial
    row per (task, group), never data rows. Binary columns report
    payload-size stats (see ``_stats_aggs``) — per-partition payload-size
    skew is exactly what salted repartitioning needs to see."""
    columns = columns or [c for c in df.columns if c != group_col]
    grouped = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *_stats_aggs(df, columns, quantiles, hll_rsd),
    )
    return grouped.select(
        F.col(group_col),
        F.explode(_stats_structs(columns, F.col("__n"))).alias("s"),
    ).select(group_col, "s.*")


# ---------------------------------------------------------------------------
# Mergeable HLL sketches — incremental NDV without rescans
# ---------------------------------------------------------------------------
#
# ``column_stats_by`` emits a per-partition approx_ndv NUMBER — useful for
# spotting a broken partition, but per-partition NDVs cannot be combined
# (summing double-counts values shared across partitions). These helpers
# persist the SKETCH itself (Apache DataSketches HLL via Spark's
# hll_sketch_agg), which IS mergeable: global NDV, any-partition-subset
# NDV, and cross-snapshot "how many never-seen values arrived" all become
# unions over the stored |partitions|×|columns| sketch rows — the 10^12-row
# table is never rescanned. This is the sketch analogue of the checkpoint
# metrics rows (north rule: per-partition lineage + metrics).


def partition_hll_sketches(
    df: DataFrame,
    part_col: str = "part_id",
    columns: list[str] | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """One row per (partition, column): ``(part, column, n_rows,
    hll_sketch:binary)``. ONE scan, map-side partial sketch merge — the
    exchange carries one partial sketch per (task, group), never rows.
    Store next to the checkpoint metrics; later analyses union the
    sketches instead of rescanning data. ``lg_k`` trades size for
    accuracy (2^lg_k registers; 12 ≈ ±2.6% rsd, 4 KB/sketch)."""
    columns = columns or [c for c in df.columns if c != part_col]
    grouped = df.groupBy(F.col(part_col).alias("part")).agg(
        F.count(F.lit(1)).alias("__n"), *_sketch_aggs(columns, lg_k)
    )
    return grouped.select(
        "part", F.explode(_sketch_structs(columns, F.col("__n"))).alias("s")
    ).select("part", "s.*")


def _sketch_aggs(columns: list[str], lg_k: int = 12) -> list[Column]:
    """One mergeable HLL sketch aggregate per column, ``{c}__sk``."""
    return [
        F.hll_sketch_agg(F.col(c).cast("string"), lg_k).alias(f"{c}__sk")
        for c in columns
    ]


def _sketch_structs(columns: list[str], n_rows: Column) -> Column:
    """The per-column sketch rows of one ``_sketch_aggs`` row, as an
    array of structs to explode: (column, n_rows, hll_sketch)."""
    return F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                n_rows.alias("n_rows"),
                F.col(f"{c}__sk").alias("hll_sketch"),
            )
            for c in columns
        ]
    )


def merged_ndv(
    sketches: DataFrame,
    column_col: str = "column",
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """(column, ndv_est) from stored per-partition sketches — a union-agg
    over |partitions| tiny binary rows, no data scan. Estimates carry the
    sketch's documented rsd (NOT exact, even at small NDV — measured
    500-true → 499); callers needing exactness use
    ``column_stats_exact`` on the (much smaller) scoped slice."""
    return (
        sketches.groupBy(F.col(column_col).alias("column"))
        .agg(F.hll_union_agg(sketch_col).alias("__u"))
        .select("column", F.hll_sketch_estimate("__u").alias("ndv_est"))
    )


def ndv_drift_from_sketches(
    cur: DataFrame,
    base: DataFrame,
    column_col: str = "column",
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Cross-snapshot NDV drift from stored sketches only: per column,
    ``new_values_est = est(union(cur, base)) − est(base)`` — an estimate
    of values in the current snapshot never seen in the baseline (the
    inclusion-exclusion trick; sketches can't subtract directly).
    Output: (column, ndv_cur, ndv_base, ndv_union, new_values_est).
    Cost: two tiny union-aggs — the snapshots themselves are not read."""
    cu = (
        cur.groupBy(F.col(column_col).alias("column"))
        .agg(F.hll_union_agg(sketch_col).alias("__c"))
    )
    ba = (
        base.groupBy(F.col(column_col).alias("column"))
        .agg(F.hll_union_agg(sketch_col).alias("__b"))
    )
    j = cu.join(ba, "column", "full_outer")
    est_c = F.when(
        F.col("__c").isNotNull(), F.hll_sketch_estimate("__c")
    ).otherwise(F.lit(0))
    est_b = F.when(
        F.col("__b").isNotNull(), F.hll_sketch_estimate("__b")
    ).otherwise(F.lit(0))
    est_u = F.when(
        F.col("__c").isNotNull() & F.col("__b").isNotNull(),
        F.hll_sketch_estimate(F.hll_union("__c", "__b")),
    ).otherwise(F.greatest(est_c, est_b))
    return j.select(
        "column",
        est_c.alias("ndv_cur"),
        est_b.alias("ndv_base"),
        est_u.alias("ndv_union"),
        F.greatest(est_u - est_b, F.lit(0)).alias("new_values_est"),
    )


def bucket_expr(col: Column, lo: float, hi: float, bins: int) -> Column:
    """width_bucket semantics: bucket 0 = underflow, bins+1 = overflow,
    1..bins = [lo,hi) split evenly. NULL values → NULL bucket."""
    step = (hi - lo) / bins
    x = col.try_cast("double")
    raw = F.floor((x - F.lit(lo)) / F.lit(step)).cast("int") + 1
    return (
        F.when(x.isNull(), F.lit(None).cast("int"))
        .when(x < lo, F.lit(0))
        .when(x >= hi, F.lit(bins + 1))
        .otherwise(raw)
    )


def histogram(
    df: DataFrame, column: str, lo: float, hi: float, bins: int = 32
) -> DataFrame:
    """(bucket int, count long) — one shuffle over ≤ bins+2 keys."""
    return (
        df.select(bucket_expr(F.col(column), lo, hi, bins).alias("bucket"))
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _hist_array(cur: DataFrame, base: DataFrame) -> DataFrame:
    """ONE-row DataFrame: ``h`` = the joined histograms as a
    bucket-sorted array of (bucket, c_cnt, b_cnt) structs. The single
    aggregation replaces the previous partition-less window: the input
    is BOUNDED (≤ bins+2 rows), so one array row is tiny, `j` is
    referenced exactly ONCE (a separate totals agg + crossJoin would
    recompute the unmaterialized upstream scans per reference — at
    corpus scale that DOUBLES the table scans feeding the histograms),
    and no WindowExec "No Partition Defined" warning is emitted (a
    constant partition key doesn't work — Catalyst folds it away)."""
    c = cur.select(F.col("bucket"), F.col("count").alias("c_cnt"))
    b = base.select(F.col("bucket"), F.col("count").alias("b_cnt"))
    j = c.join(b, "bucket", "full_outer").fillna(0, ["c_cnt", "b_cnt"])
    return j.agg(
        F.sort_array(
            F.collect_list(F.struct("bucket", "c_cnt", "b_cnt"))
        ).alias("h")
    )


def _probs_array(eps: float) -> Column:
    """Array of (bucket, p, q) structs from the ``h`` histogram array —
    long-sum totals (exact, order-independent) then per-bucket division."""
    ct = F.aggregate("h", F.lit(0).cast("long"), lambda a, x: a + x["c_cnt"])
    bt = F.aggregate("h", F.lit(0).cast("long"), lambda a, x: a + x["b_cnt"])
    return F.transform(
        "h",
        lambda x: F.struct(
            x["bucket"].alias("bucket"),
            (x["c_cnt"] / ct + F.lit(eps)).alias("p"),
            (x["b_cnt"] / bt + F.lit(eps)).alias("q"),
        ),
    )


def _joined_probs(cur: DataFrame, base: DataFrame, eps: float) -> DataFrame:
    """(bucket, p, q) rows — normalized probabilities of two histograms
    under the shared binning. Computed via ``_hist_array`` (see there for
    why not a window / totals-join)."""
    return _hist_array(cur, base).select(
        F.explode(_probs_array(eps)).alias("s")
    ).select("s.bucket", "s.p", "s.q")


def psi(cur: DataFrame, base: DataFrame, eps: float = 1e-6) -> float:
    """Population Stability Index between two histograms (same binning).

    PSI = Σ (p−q)·ln(p/q); rule-of-thumb thresholds: <0.1 stable,
    0.1–0.2 moderate, >0.2 drifted.
    """
    j = _joined_probs(cur, base, eps)
    row = j.agg(
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi")
    ).collect()[0]
    return float(row["psi"] or 0.0)


def ks_expr(eps: float = 0.0) -> Column:
    """KS statistic as a Column over the ``h`` histogram array
    (``_hist_array`` output): a single fold tracks both running CDFs and
    the max |CDF_p − CDF_q| — bucket order guaranteed by the sorted
    array, no window (and so no single-partition window shuffle or
    WindowExec warning)."""
    acc0 = F.struct(
        F.lit(0.0).alias("cp"), F.lit(0.0).alias("cq"), F.lit(0.0).alias("m")
    )
    return F.aggregate(
        _probs_array(eps),
        acc0,
        lambda a, x: F.struct(
            (a["cp"] + x["p"]).alias("cp"),
            (a["cq"] + x["q"]).alias("cq"),
            F.greatest(
                a["m"], F.abs(a["cp"] + x["p"] - (a["cq"] + x["q"]))
            ).alias("m"),
        ),
        lambda a: a["m"],
    )


def ks_stat(cur: DataFrame, base: DataFrame) -> float:
    """Binned two-sample Kolmogorov–Smirnov statistic: max |CDF_p − CDF_q|.

    Exact KS needs sorted raw samples (a full sort at 10^12 rows); the
    binned statistic over the shared histogram is the scalable stand-in
    and converges to KS as bins grow.
    """
    row = _hist_array(cur, base).select(ks_expr().alias("ks")).collect()[0]
    return float(row["ks"] or 0.0)


def metrics_drift(
    current: DataFrame,
    baseline: DataFrame,
    max_null_rate_delta: float = 0.05,
    max_ndv_ratio: float = 2.0,
) -> DataFrame:
    """Per-(partition, column) drift between two runs' checkpointed
    metrics tables (``CheckpointStore.metrics`` / ``run.metrics_columns``
    output) — the cheap first-line drift check that reads ONLY sketch
    rows, never data. Flags a (part_id, column) when the null rate moved
    more than ``max_null_rate_delta`` absolute, or the HLL ndv changed by
    more than ``max_ndv_ratio``× in either direction (both ndv's
    nonzero). Returns one row per compared pair with the deltas and a
    boolean ``drifted``; deeper KS/PSI checks (``drift_violations``) are
    the follow-up on the flagged columns only.
    """
    cur = current.select(
        "part_id",
        "column",
        F.col("null_rate").alias("c_null_rate"),
        F.col("approx_ndv").alias("c_ndv"),
    )
    base = baseline.select(
        "part_id",
        "column",
        F.col("null_rate").alias("b_null_rate"),
        F.col("approx_ndv").alias("b_ndv"),
    )
    j = cur.join(base, ["part_id", "column"], "inner")
    null_delta = F.abs(F.col("c_null_rate") - F.col("b_null_rate"))
    ndv_ratio = F.when(
        (F.col("b_ndv") > 0) & (F.col("c_ndv") > 0),
        F.greatest(
            F.col("c_ndv") / F.col("b_ndv"), F.col("b_ndv") / F.col("c_ndv")
        ),
    ).otherwise(
        F.when(F.col("b_ndv") == F.col("c_ndv"), F.lit(1.0)).otherwise(
            F.lit(float("inf"))
        )
    )
    return j.select(
        "part_id",
        "column",
        F.round(null_delta, 6).alias("null_rate_delta"),
        F.round(ndv_ratio, 6).alias("ndv_ratio"),
        (
            (null_delta > max_null_rate_delta)
            | (ndv_ratio > max_ndv_ratio)
        ).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Drift as a table-level constraint (emits a violation row per drifted column)
# ---------------------------------------------------------------------------


@dataclass
class DriftSpec:
    column: str
    metric: str  # 'psi' | 'ks'
    threshold: float
    lo: float
    hi: float
    bins: int = 32


def drift_violations(
    df: DataFrame,
    baseline: DataFrame,
    specs: list[DriftSpec],
    table: str = "table",
) -> tuple[DataFrame, dict[str, float]]:
    """Evaluate drift specs for ``df`` vs ``baseline`` (raw-row baseline,
    same schema). Returns (violations DF in the engine's violation schema,
    {column: metric value}). Violations carry row_id='__TABLE__' — drift
    is a distribution property, not a row property."""
    spark = df.sparkSession
    measured: dict[str, float] = {}
    rows = []
    for sp in specs:
        cur_h = histogram(df, sp.column, sp.lo, sp.hi, sp.bins)
        base_h = histogram(baseline, sp.column, sp.lo, sp.hi, sp.bins)
        val = psi(cur_h, base_h) if sp.metric == "psi" else ks_stat(cur_h, base_h)
        measured[sp.column] = val
        if val > sp.threshold:
            rows.append(
                (
                    table,
                    "__TABLE__",
                    sp.column,
                    "Distribution Drift",
                    True,
                    (
                        f"Column {sp.column} drifted from baseline: "
                        f"{sp.metric}={val:.4f} > {sp.threshold}"
                    ),
                    f"drift_{sp.metric}_{sp.column}",
                    "error",
                    -1,
                )
            )
    from smcchecker_spark.compile import VIOLATION_SCHEMA

    return spark.createDataFrame(rows, VIOLATION_SCHEMA), measured


def sketch_drift_violations(
    cur_sketches: DataFrame,
    base_sketches: DataFrame,
    max_new_ratio: float = 0.1,
    table: str = "table",
    severity: str = "warning",
) -> tuple[DataFrame, DataFrame]:
    """NDV drift as violation rows, computed from STORED sketch rows
    alone (``partition_hll_sketches`` / checkpoint ``sketches`` table) —
    neither snapshot is rescanned. A column whose estimated
    never-seen-before value count exceeds ``max_new_ratio`` of its
    baseline NDV flags one table-level violation (row_id='__TABLE__',
    same convention as ``drift_violations``); a column absent from the
    baseline always flags (everything is new). Default severity
    'warning': NDV expansion is usually a schema-evolution smell, not a
    hard error.

    Returns (violations DF, per-column drift DF from
    :func:`ndv_drift_from_sketches`). Cost: two |partitions|-row
    union-aggs and a |columns|-row collect."""
    drift = ndv_drift_from_sketches(cur_sketches, base_sketches)
    rows = []
    for r in drift.collect():
        base = r["ndv_base"]
        new = r["new_values_est"]
        ratio = (new / base) if base else float("inf") if new else 0.0
        if ratio > max_new_ratio:
            shown = f"{ratio:.4f}" if base else "inf"
            rows.append(
                (
                    table,
                    "__TABLE__",
                    r["column"],
                    "Distribution Drift",
                    False,
                    (
                        f"Column {r['column']} gained ~{new} never-seen "
                        f"values (ratio {shown} > {max_new_ratio} of "
                        f"baseline ndv {base})"
                    ),
                    f"ndv_drift_{r['column']}",
                    severity,
                    -1,
                )
            )
    from smcchecker_spark.compile import VIOLATION_SCHEMA

    spark = cur_sketches.sparkSession
    return spark.createDataFrame(rows, VIOLATION_SCHEMA), drift


# ---------------------------------------------------------------------------
# t-digest (mergeable quantile sketch; partial-per-batch → driver merge)
# ---------------------------------------------------------------------------


class TDigest:
    """Minimal mergeable t-digest (Dunning) — centroids compressed so bin
    k-index width ≤ 1 with the usual k(q) = δ/2π · asin(2q−1) scale."""

    def __init__(self, delta: int = 100):
        self.delta = delta
        self.means = np.empty(0)
        self.weights = np.empty(0)

    @property
    def total(self) -> float:
        return float(self.weights.sum())

    def add(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return
        self.means = np.concatenate([self.means, values])
        self.weights = np.concatenate([self.weights, np.ones(values.size)])
        if self.means.size > 8 * self.delta:
            self._compress()

    def merge(self, other: "TDigest") -> "TDigest":
        out = TDigest(self.delta)
        out.means = np.concatenate([self.means, other.means])
        out.weights = np.concatenate([self.weights, other.weights])
        out._compress()
        return out

    def _k(self, q: np.ndarray) -> np.ndarray:
        return self.delta / (2 * math.pi) * np.arcsin(2 * np.clip(q, 0, 1) - 1)

    def _compress(self) -> None:
        if self.means.size == 0:
            return
        order = np.argsort(self.means)
        m, w = self.means[order], self.weights[order]
        tot = w.sum()
        out_m, out_w = [], []
        cur_m, cur_w = m[0], w[0]
        acc = 0.0
        for i in range(1, m.size):
            q0 = acc / tot
            q1 = (acc + cur_w + w[i]) / tot
            if self._k(np.array([q1]))[0] - self._k(np.array([q0]))[0] <= 1.0:
                cur_m = (cur_m * cur_w + m[i] * w[i]) / (cur_w + w[i])
                cur_w += w[i]
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                acc += cur_w
                cur_m, cur_w = m[i], w[i]
        out_m.append(cur_m)
        out_w.append(cur_w)
        self.means = np.array(out_m)
        self.weights = np.array(out_w)

    def quantile(self, q: float) -> float:
        self._compress()
        if self.means.size == 0:
            return float("nan")
        cum = np.cumsum(self.weights) - self.weights / 2
        target = q * self.total
        return float(np.interp(target, cum, self.means))

    def to_bytes(self) -> bytes:
        self._compress()
        n = self.means.size
        return (
            struct.pack(">iI", self.delta, n)
            + self.means.astype(">f8").tobytes()
            + self.weights.astype(">f8").tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        delta, n = struct.unpack(">iI", data[:8])
        td = cls(delta)
        td.means = np.frombuffer(data[8 : 8 + 8 * n], dtype=">f8").astype(np.float64)
        td.weights = np.frombuffer(data[8 + 8 * n : 8 + 16 * n], dtype=">f8").astype(
            np.float64
        )
        return td


def tdigest_sketch(df: DataFrame, column: str, delta: int = 100) -> TDigest:
    """Distributed t-digest: one partial sketch per Arrow batch on the
    executors (mapInPandas), merged on the driver — only centroid bytes
    cross the wire, never rows."""

    def partials(batches):
        for pdf in batches:
            td = TDigest(delta)
            td.add(pd.to_numeric(pdf[column], errors="coerce").to_numpy(np.float64))
            yield pd.DataFrame({"sketch": [td.to_bytes()]})

    parts = (
        df.select(F.col(column).try_cast("double").alias(column))
        .mapInPandas(partials, "sketch binary")
        .collect()
    )
    out = TDigest(delta)
    for r in parts:
        out = out.merge(TDigest.from_bytes(bytes(r["sketch"])))
    return out


# ---------------------------------------------------------------------------
# Profile → suggested constraint suite (closing the north-star loop:
# "column-level stats feed uniqueness / referential-integrity / range
# checks", /root/repo/BASELINE.json:6). The reference hand-maintains its
# rules in information_schema tables (proj/core/metadata.py); at corpus
# scale the first draft of a suite should come from the data itself —
# profile a trusted snapshot once, review, then enforce on every
# subsequent load.
# ---------------------------------------------------------------------------


def suggest_suite(
    df: DataFrame,
    name: str,
    table: str,
    columns: list[str] | None = None,
    profile: DataFrame | None = None,
    notnull_max_rate: float = 0.0,
    unique_min_ratio: float = 0.98,
    lookup_max_ndv: int = 32,
    range_slack: float = 0.0,
):
    """Profile ``df`` (or accept a precomputed ``column_stats`` profile)
    and derive a candidate Suite + ValidationContext:

    - null_rate <= ``notnull_max_rate``          -> NotNull
    - approx_ndv >= ``unique_min_ratio`` x non-null, non-floating column
                                                 -> Unique (HLL is ~2%
      approximate; near-unique columns can be falsely suggested — the
      suggestions are a reviewed starting point, and the enforced Unique
      check itself is exact)
    - string column with approx_ndv <= ``lookup_max_ndv``
                                                 -> InLookup vs the
      observed distinct set (ONE extra tiny aggregate for all such
      columns together; the sets are bounded by the threshold)
    - numeric column                             -> Range over
      [min - slack*span, max + slack*span]

    Driver-side work is one collect of the per-column profile (one row
    per column) plus one collect of the bounded lookup sets — never data
    rows. By construction the suggested suite passes on the profiled
    snapshot itself (modulo the documented near-unique HLL caveat);
    tests/test_profile.py locks that property.
    """
    from smcchecker_spark.constraints import (
        InLookup,
        NotNull,
        Range,
        Suite,
        Unique,
        ValidationContext,
    )

    columns = columns or df.columns
    prof = {
        r["column"]: r
        for r in (
            profile if profile is not None else column_stats(df, columns)
        ).collect()
    }
    fields = {f.name: f.dataType for f in df.schema.fields}
    numeric = {
        c for c, t in fields.items() if isinstance(t, T.NumericType)
    }
    non_float = {
        c
        for c, t in fields.items()
        if not isinstance(t, (T.FloatType, T.DoubleType, T.BinaryType))
    }
    stringy = {c for c, t in fields.items() if isinstance(t, T.StringType)}

    constraints = []
    lookup_cols: list[str] = []
    for c in columns:
        r = prof.get(c)
        if r is None or not r["n_rows"]:
            continue
        non_null = r["n_rows"] - r["null_count"]
        if r["null_rate"] <= notnull_max_rate:
            constraints.append(NotNull(c))
        if (
            c in non_float
            and non_null
            and r["approx_ndv"] >= unique_min_ratio * non_null
        ):
            constraints.append(Unique([c]))
        if c in stringy and 0 < r["approx_ndv"] <= lookup_max_ndv:
            lookup_cols.append(c)
        if c in numeric and r["min"] is not None and r["max"] is not None:
            lo, hi = float(r["min"]), float(r["max"])
            pad = range_slack * (hi - lo)
            constraints.append(Range(c, lo=lo - pad, hi=hi + pad))

    lookups: dict[str, DataFrame] = {}
    if lookup_cols:
        sets = df.agg(
            *[F.collect_set(F.col(c)).alias(c) for c in lookup_cols]
        ).collect()[0]
        spark = df.sparkSession
        for c in lookup_cols:
            lookups[f"lu_{c}"] = local_frame(
                spark, [(v,) for v in sets[c]], f"{c} string"
            )
            constraints.append(
                InLookup(c, lookup=f"lu_{c}", lookup_key=c)
            )

    return (
        Suite(name=name, table=table, constraints=constraints),
        ValidationContext(lookups=lookups),
    )


def suggest_fds(
    df: DataFrame,
    determinants: list[str],
    dependents: list[str],
    approx: bool = True,
    tolerance: float = 0.05,
) -> DataFrame:
    """Profile candidate functional dependencies — the discovery side of
    ``constraints.FunctionalDep`` (stats FEED the checks, like
    ``suggest_suite``). ``lhs -> rhs`` holds over the data iff
    ``ndv(lhs) == ndv((lhs, rhs))``: adding a functionally-determined
    column to the key creates no new distinct combinations.

    ONE aggregation pass computes every determinant's NDV and every
    (determinant, dependent) pair's NDV. ``approx=True`` uses HLL
    (``approx_count_distinct``) — partial-mergeable, genuinely one scan
    at 10^12 rows, with ``holds`` granted when the pair NDV is within
    ``tolerance`` (relative) of the lhs NDV: HLL error makes equality
    fuzzy, so treat approx suggestions as candidates and confirm with
    the exact ``FunctionalDep`` check. ``approx=False`` uses exact
    ``countDistinct`` — Spark plans multiple distinct aggregates via an
    Expand (rows × #aggregates before the partial agg): exact for
    profiling runs, sketch mode for the big corpus. NDVs count NULLs
    null-safely through never-null structs, matching FunctionalDep's
    NULL semantics.

    Returns a driver-assembled bounded DataFrame (|determinants| ×
    |dependents| rows — scalars, never data rows) with columns
    (determinant, dependent, ndv_lhs, ndv_pair, holds).
    """
    def ndv(cols: list[str], alias: str) -> Column:
        s = F.struct(*[F.col(c) for c in cols])
        if approx:
            return F.approx_count_distinct(s).alias(alias)
        return F.countDistinct(s).alias(alias)

    aggs = [ndv([lhs], f"__l_{i}") for i, lhs in enumerate(determinants)]
    for i, lhs in enumerate(determinants):
        for j, rhs in enumerate(dependents):
            if rhs != lhs:
                aggs.append(ndv([lhs, rhs], f"__p_{i}_{j}"))
    row = df.agg(*aggs).first()
    out = []
    for i, lhs in enumerate(determinants):
        n_l = row[f"__l_{i}"]
        for j, rhs in enumerate(dependents):
            if rhs == lhs:
                continue
            n_p = row[f"__p_{i}_{j}"]
            if approx:
                holds = n_p <= n_l * (1.0 + tolerance)
            else:
                holds = n_p == n_l
            out.append((lhs, rhs, int(n_l), int(n_p), bool(holds)))
    return df.sparkSession.createDataFrame(
        out,
        "determinant string, dependent string, ndv_lhs long, "
        "ndv_pair long, holds boolean",
    )


# ---------------------------------------------------------------------------
# Embedding drift — the vector-column member of the drift family (KS/PSI
# cover scalar columns; 10^12-row embedding corpora drift too: encoder
# version bumps shift the mean direction, normalization bugs shift norms).
# ---------------------------------------------------------------------------


def embedding_drift(
    cur: DataFrame,
    base: DataFrame,
    col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """One-row drift report between two snapshots of a vector column:

    - ``mean_cosine_distance``: 1 - cos(mean_cur, mean_base) — direction
      drift of the centroid (encoder-version skew).
    - ``norm_shift``: avg L2 norm difference (cur - base) —
      normalization drift.

    Both are single aggregate passes per snapshot crossJoined as 1-row
    DataFrames; the cosine arithmetic runs on the two mean vectors only.
    """
    from smcchecker_spark.vector import l2_norm

    if dim is None:
        dim = cur.select(F.size(F.col(col)).alias("d")).first()["d"]

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.array(
                *[F.avg(F.col(col)[i].cast("double")) for i in range(dim)]
            ).alias(f"mv_{tag}"),
            F.avg(l2_norm(F.col(col))).alias(f"norm_{tag}"),
        )

    j = side(cur, "a").crossJoin(side(base, "b"))
    dot = F.aggregate(
        F.zip_with("mv_a", "mv_b", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def mag(c: str) -> Column:
        return F.sqrt(
            F.aggregate(
                F.col(c), F.lit(0.0), lambda acc, x: acc + x * x
            )
        )

    return j.select(
        (F.lit(1.0) - dot / (mag("mv_a") * mag("mv_b"))).alias(
            "mean_cosine_distance"
        ),
        (F.col("norm_a") - F.col("norm_b")).alias("norm_shift"),
    )


# ---------------------------------------------------------------------------
# Table-level expectations (aggregate assertions)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Expectation:
    """A bound on ONE aggregate metric — the table-level complement to
    the row-level constraint DSL (a Deequ-style check: "this snapshot
    has ≥ N rows", "null rate of caption ≤ 0.1%", "ndv(fmt) between 3
    and 10"). ``column=None`` only for ``row_count``. Bounds are
    inclusive; None = unbounded on that side.

    Metrics: row_count | null_rate | ndv | distinctness | min | max |
    mean. ``ndv`` is exact by default (a shuffle of distinct values);
    set ``approx=True`` to use the HLL++ sketch — rsd ~2%, leave slack
    in the bounds accordingly. ``distinctness`` = ndv / rows (1.0 for a
    key column, ~0 for a near-constant one — the Deequ metric of the
    same name) and inherits the exact/approx choice.

    Entropy / mutual-information / correlation bounds are deliberately
    NOT expectations: they need grouped pre-aggregation, which would
    break this class's one-aggregation-pass contract — profile them
    with ``column_entropy`` / ``mutual_information`` /
    ``correlation_matrix`` and gate on those outputs instead.
    """

    metric: str
    column: str | None = None
    lo: float | None = None
    hi: float | None = None
    approx: bool = False

    def __post_init__(self):
        known = {
            "row_count", "null_rate", "ndv", "distinctness",
            "min", "max", "mean",
        }
        if self.metric not in known and self._quantile() is None:
            raise ValueError(
                f"unknown metric {self.metric!r}; one of {sorted(known)} "
                "or a percentile like 'p50'/'p99.9'"
            )
        if (self.column is None) != (self.metric == "row_count"):
            raise ValueError("column is required exactly when metric != row_count")
        if self.lo is None and self.hi is None:
            raise ValueError("at least one of lo/hi must be set")

    @property
    def name(self) -> str:
        return self.metric if self.column is None else f"{self.metric}({self.column})"

    def _quantile(self) -> float | None:
        """'p50' → 0.5, 'p99.9' → 0.999; None when not a percentile
        metric. Percentile bounds are the latency-shaped expectations
        ("p99 ingest lag ≤ 60 s", "median caption length ≥ 15") that
        min/max/mean can't express; ``approx=True`` swaps the exact
        per-value aggregation for the t-digest sketch at 10^12 rows."""
        import re

        m = re.fullmatch(r"p(\d{1,2}(?:\.\d+)?)", self.metric)
        if not m:
            return None
        v = float(m.group(1)) / 100.0
        return v if 0.0 < v < 1.0 else None

    def agg_expr(self, dtype=None) -> Column:
        c = F.col(self.column) if self.column else None
        if c is not None and isinstance(
            dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)
        ):
            # ANSI forbids timestamp→double; compare in epoch seconds
            # (bounds too: a freshness floor is lo=<epoch of as_of - age>)
            c = F.unix_micros(c.cast("timestamp")) / F.lit(1e6)
        if self.metric == "row_count":
            e = F.count(F.lit(1))
        elif self.metric == "null_rate":
            e = F.avg(c.isNull().cast("double"))
        elif self.metric == "ndv":
            e = (
                F.approx_count_distinct(c)
                if self.approx
                else F.count_distinct(c)
            )
        elif self.metric == "distinctness":
            ndv = (
                F.approx_count_distinct(c)
                if self.approx
                else F.count_distinct(c)
            )
            e = ndv / F.greatest(F.count(F.lit(1)), F.lit(1))
        elif self.metric == "min":
            e = F.min(c)
        elif self.metric == "max":
            e = F.max(c)
        elif (q := self._quantile()) is not None:
            e = (
                F.percentile_approx(
                    c.cast("double"), F.lit(q), F.lit(10000)
                )
                if self.approx
                else F.percentile(c.cast("double"), F.lit(q))
            )
        else:
            e = F.avg(c)
        return e.cast("double").alias(self.name)


def check_expectations(
    df: DataFrame, expectations: list[Expectation]
) -> DataFrame:
    """Evaluate every expectation in ONE aggregation over one scan —
    adding an expectation never adds I/O, exactly like adding a row
    check to the fused pass. Output: one row per expectation
    (check, value, lo, hi, ok) — feed ``filter(~ok)`` to a violations
    sink or a load gate (``run.gated_append`` accepts any emptiness
    predicate). Numeric metrics only (min/max/mean cast to double);
    exact-ndv expectations each add a distinct-aggregate path, the one
    metric that cannot be a pure fold — prefer ``approx=True`` at
    10^12 rows.
    """
    if not expectations:
        raise ValueError("no expectations given")
    names = [e.name for e in expectations]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate expectations: {sorted(names)}")
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    agg = df.agg(
        *[e.agg_expr(dtypes.get(e.column)) for e in expectations]
    )
    rows = []
    for e in expectations:
        val = F.col(e.name)
        ok = F.lit(True)
        if e.lo is not None:
            ok = ok & (val >= F.lit(float(e.lo)))
        if e.hi is not None:
            ok = ok & (val <= F.lit(float(e.hi)))
        # a NULL metric (all-null column min/max/mean) fails any bound
        ok = F.coalesce(ok, F.lit(False))
        rows.append(
            F.struct(
                F.lit(e.name).alias("check"),
                val.alias("value"),
                F.lit(None if e.lo is None else float(e.lo))
                .cast("double")
                .alias("lo"),
                F.lit(None if e.hi is None else float(e.hi))
                .cast("double")
                .alias("hi"),
                ok.alias("ok"),
            )
        )
    return agg.select(
        F.explode(F.array(*rows)).alias("e")
    ).select("e.check", "e.value", "e.lo", "e.hi", "e.ok")


def suggest_expectations(
    df: DataFrame,
    columns: list[str] | None = None,
    profile: DataFrame | None = None,
    row_count_slack: float = 0.5,
    rate_slack: float = 0.02,
    ndv_slack: float = 0.25,
    bound_slack: float = 0.1,
) -> list[Expectation]:
    """Close the stats→checks loop at TABLE level: profile a trusted
    snapshot (or accept a precomputed ``column_stats`` profile) and
    derive :class:`Expectation` bounds the NEXT snapshot must satisfy —
    the aggregate complement of :func:`suggest_suite`:

    - row_count ≥ (1 - ``row_count_slack``) × observed (growth is fine;
      a half-empty drop is the classic upstream failure),
    - per column: null_rate ≤ observed + ``rate_slack``,
    - per column: ndv within (1 ± ``ndv_slack``) × observed, as
      ``approx=True`` (the observed value is itself an HLL estimate —
      keep ``ndv_slack`` well above 2×rsd),
    - per NUMERIC column: min/max within the observed range widened by
      ``bound_slack`` × span.

    By construction the suggestions pass on the profiled snapshot
    itself (test-locked). One profile scan; everything else is
    driver-side arithmetic over one row per column.
    """
    columns = columns or df.columns
    prof = {
        r["column"]: r
        for r in (
            profile if profile is not None else column_stats(df, columns)
        ).collect()
    }
    numeric = {
        f.name for f in df.schema.fields
        if isinstance(f.dataType, T.NumericType)
    }
    n = next(iter(prof.values()))["n_rows"] if prof else 0
    out = [Expectation("row_count", lo=max(1, int(n * (1 - row_count_slack))))]
    for c in columns:
        r = prof[c]
        out.append(
            Expectation(
                "null_rate", c, hi=min(1.0, float(r["null_rate"]) + rate_slack)
            )
        )
        ndv = int(r["approx_ndv"])
        out.append(
            Expectation(
                "ndv", c,
                lo=max(0, int(ndv * (1 - ndv_slack))),
                hi=max(1, int(-(-ndv * (1 + ndv_slack) // 1))),
                approx=True,
            )
        )
        if c in numeric and r["min"] is not None and r["max"] is not None:
            lo, hi = float(r["min"]), float(r["max"])
            span = max(hi - lo, 1e-12)
            out.append(
                Expectation(
                    "min", c, lo=lo - bound_slack * span, hi=hi
                )
            )
            out.append(
                Expectation(
                    "max", c, lo=lo, hi=hi + bound_slack * span
                )
            )
    return out


def categorical_drift(
    cur: DataFrame, base: DataFrame, column: str, eps: float = 1e-6
) -> DataFrame:
    """Per-VALUE drift table between two snapshots of a categorical
    column — the categorical sibling of the numeric histogram PSI/KS:
    (value, p, q, psi_term, js_term), where p/q are each side's value
    shares (+eps additive floor, same convention as ``_probs_array`` —
    a value absent from one side contributes a large, finite term
    instead of inf), ``psi_term = (p-q)*ln(p/q)`` and ``js_term`` the
    Jensen-Shannon integrand ``(p*ln(2p/(p+q)) + q*ln(2q/(p+q)))/2``
    (bounded by ln 2 — robust when a brand-new category appears, where
    PSI explodes). Terms round to 9 dp; sum them for the scalars
    (:func:`categorical_psi` / :func:`js_divergence`). NULL is a
    category (reported as the string 'NULL', like ``heavy_hitters``).

    Plan: each side is ONE map-side-combined value count; the sides
    meet in a full outer join on the value (|distinct values| rows,
    never data rows); both totals attach as 1-row broadcasts (no second
    scan, no collect). Skew-free by construction."""

    def counts(df: DataFrame, n_col: str) -> DataFrame:
        return (
            df.select(
                F.coalesce(F.col(column).cast("string"), F.lit("NULL")).alias(
                    "value"
                )
            )
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias(n_col))
        )

    c = counts(cur, "c_cnt")
    b = counts(base, "b_cnt")
    ct = c.agg(F.coalesce(F.sum("c_cnt"), F.lit(0)).alias("__ct"))
    bt = b.agg(F.coalesce(F.sum("b_cnt"), F.lit(0)).alias("__bt"))
    j = (
        c.join(b, "value", "full_outer")
        .join(F.broadcast(ct))
        .join(F.broadcast(bt))
    )
    p = F.coalesce(F.col("c_cnt"), F.lit(0)) / F.greatest(
        F.col("__ct"), F.lit(1)
    ) + F.lit(eps)
    q = F.coalesce(F.col("b_cnt"), F.lit(0)) / F.greatest(
        F.col("__bt"), F.lit(1)
    ) + F.lit(eps)
    m2 = p + q
    psi_t = (p - q) * F.log(p / q)
    js_t = (p * F.log(F.lit(2) * p / m2) + q * F.log(F.lit(2) * q / m2)) / 2
    return j.select(
        "value",
        F.round(p, 9).alias("p"),
        F.round(q, 9).alias("q"),
        F.round(psi_t, 9).alias("psi_term"),
        F.round(js_t, 9).alias("js_term"),
    )


def categorical_psi(
    cur: DataFrame, base: DataFrame, column: str, eps: float = 1e-6
) -> float:
    """Sum of categorical PSI terms (rule of thumb: <0.1 stable,
    0.1-0.2 moderate, >0.2 drifted)."""
    row = (
        categorical_drift(cur, base, column, eps)
        .agg(F.sum("psi_term").alias("v"))
        .collect()[0]
    )
    return float(row["v"] or 0.0)


def js_divergence(
    cur: DataFrame, base: DataFrame, column: str, eps: float = 1e-6
) -> float:
    """Jensen-Shannon divergence between the two value distributions
    (natural log; bounded by ln 2 ~ 0.693)."""
    row = (
        categorical_drift(cur, base, column, eps)
        .agg(F.sum("js_term").alias("v"))
        .collect()[0]
    )
    return float(row["v"] or 0.0)


def metric_anomalies(
    history: DataFrame,
    value_col: str = "value",
    order_col: str = "run_id",
    series_cols: list[str] | None = None,
    window: int = 7,
    k: float = 3.0,
    max_rel_change: float | None = None,
    min_history: int = 3,
) -> DataFrame:
    """Anomaly detection over a metric HISTORY (the Deequ
    anomaly-checker counterpart): each point is scored against its own
    series' trailing window — z-score vs the mean/stddev of the
    previous ``window`` points, plus an optional relative-change bound
    vs the immediately preceding point. ``metrics_drift`` compares two
    snapshots; this watches the whole checkpointed series (e.g. the
    per-run row counts / null rates the wave-commit protocol already
    stores) and flags the run where a metric jumped.

    Output: the input rows + (trail_n, trail_mean, trail_std, zscore,
    rel_change, anomalous). A point with fewer than ``min_history``
    trailing points, or a zero-variance window, never z-flags (NULL
    zscore) — cold starts are not anomalies. Doubles rounded to 9 dp.

    Plan: ONE window pass per series partition (trailing frame, no
    global window — series_cols partition the exchange); metric
    histories are rows-per-run, so the shuffled volume is runs ×
    series, never data."""
    if not series_cols:
        raise ValueError(
            "series_cols must name the metric-series key columns "
            "(a global window over an unpartitioned history would "
            "funnel every row through one task)"
        )
    from pyspark.sql import Window

    x = F.col(value_col).cast("double")
    w = (
        Window.partitionBy(*series_cols)
        .orderBy(order_col)
        .rowsBetween(-window, -1)
    )
    wo = Window.partitionBy(*series_cols).orderBy(order_col)
    trail_n = F.count(x).over(w)
    trail_mean = F.avg(x).over(w)
    trail_std = F.stddev_samp(x).over(w)
    prev = F.lag(x).over(wo)
    out = history.select(
        "*",
        trail_n.alias("trail_n"),
        F.round(trail_mean, 9).alias("trail_mean"),
        F.round(trail_std, 9).alias("trail_std"),
        F.round(
            F.when(
                (trail_n >= F.lit(min_history)) & (trail_std > F.lit(0.0)),
                (x - trail_mean) / trail_std,
            ),
            9,
        ).alias("zscore"),
        F.round(
            F.when(
                prev.isNotNull() & (prev != F.lit(0.0)),
                (x - prev) / F.abs(prev),
            ),
            9,
        ).alias("rel_change"),
    )
    anom = F.coalesce(
        F.abs(F.col("zscore")) > F.lit(float(k)), F.lit(False)
    )
    if max_rel_change is not None:
        anom = anom | F.coalesce(
            F.abs(F.col("rel_change")) > F.lit(float(max_rel_change)),
            F.lit(False),
        )
    return out.withColumn("anomalous", anom)


def column_entropy(df: DataFrame, columns: list[str]) -> DataFrame:
    """Shannon entropy (nats) of each column's non-null value
    distribution — the Deequ-style profiling metric the reference's
    metadata checks never had; low entropy flags near-constant columns,
    near-``ln(ndv)`` entropy flags uniform ID-like ones.

    Returns one row per column: (column, n_values, ndv, entropy), with
    ``entropy = ln(n) - sum(cnt*ln(cnt))/n`` over exact value counts
    (numerically stabler than ``-sum(p*ln p)`` and identical in exact
    arithmetic). Rounded to 9 dp for cross-engine comparability.

    Plan: the columns melt to (column, value) pairs map-side (k structs
    per row, no extra scan per column), then ONE map-side-combined
    count shuffle keyed by (column, value) and a |columns|-group final
    agg — the same shape as ``heavy_hitters``, skew-bounded by the
    biggest single value's frequency, never by data volume."""
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in columns
                ]
            )
        ).alias("p")
    ).select("p.*")
    counts = (
        pairs.where(F.col("value").isNotNull())
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = F.sum("cnt")
    return (
        counts.groupBy("column")
        .agg(
            n.alias("n_values"),
            F.count(F.lit(1)).alias("ndv"),
            F.round(
                F.log(n) - F.sum(F.col("cnt") * F.log("cnt")) / n, 9
            ).alias("entropy"),
        )
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns:
    ``MI = sum_ab p(a,b) * ln(p(a,b) / (p(a) p(b)))`` over rows where
    both are non-null. MI ≈ 0 means the columns are independent; MI
    near ``min(H(a), H(b))`` means one determines the other — the soft,
    profiled counterpart of the engine's hard FunctionalDep constraint
    (and of ``suggest_fds``, which this metric ranks candidates for).

    Returns ONE row (col_a, col_b, n_pairs, mi, nmi) — nmi is MI
    normalized by ``sqrt(H(a)*H(b))`` (NULL when either entropy is 0).

    Plan: the data shuffles ONCE into joint (a,b) counts (ONE scan);
    marginals are window sums OVER THE JOINT TABLE (|ndv_a × ndv_b|
    rows, never data rows); the grand total never needs to attach
    per-row — the identity ``MI = ln n + (S_ab − S_a − S_b)/n`` with
    ``S_x = Σ n_ab·ln(n_x)`` folds everything into the single final
    aggregation (likewise ``H(x) = ln n − S_x/n`` for the NMI
    denominator). No collect, no second scan, no global window."""
    from pyspark.sql import Window

    joint = (
        df.select(
            F.col(col_a).cast("string").alias("a"),
            F.col(col_b).cast("string").alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    terms = joint.select(
        "n_ab",
        F.sum("n_ab").over(Window.partitionBy("a")).alias("n_a"),
        F.sum("n_ab").over(Window.partitionBy("b")).alias("n_b"),
    )
    n = F.sum("n_ab")
    s_ab = F.sum(F.col("n_ab") * F.log("n_ab"))
    s_a = F.sum(F.col("n_ab") * F.log("n_a"))
    s_b = F.sum(F.col("n_ab") * F.log("n_b"))
    mi = F.log(n) + (s_ab - s_a - s_b) / n
    h_a = F.log(n) - s_a / n
    h_b = F.log(n) - s_b / n
    denom = F.sqrt(h_a * h_b)
    return terms.agg(
        n.alias("n_pairs"),
        F.round(mi, 9).alias("mi"),
        F.round(F.when(denom > F.lit(0.0), mi / denom), 9).alias("nmi"),
    ).select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        "n_pairs",
        "mi",
        "nmi",
    )


def correlation_matrix(df: DataFrame, columns: list[str]) -> DataFrame:
    """Pairwise-complete Pearson correlation for every column pair, in
    ONE aggregation pass (``k*(k-1)/2`` ``corr`` aggregates + matching
    pair counts, all map-side partials → one tiny final row; no
    shuffle of data rows, no per-pair scans). Returns one row per
    unordered pair i<j: (col_a, col_b, n_pairs, corr), corr rounded to
    6 dp, NULL when a side is constant over the complete pairs.

    Pairwise-complete is enforced by masking each side to rows where
    BOTH are non-null, then ``corr = covar_samp / (stddev*stddev)``
    over the masked pair — identical to SQL ``corr()`` (the sample /
    population distinction cancels), but NULL-guarded for constant
    sides, where Spark's ``corr`` divides by zero under ANSI mode."""
    pairs = [
        (columns[i], columns[j])
        for i in range(len(columns))
        for j in range(i + 1, len(columns))
    ]
    aggs: list[Column] = []
    for a, b in pairs:
        ca, cb = F.col(a).cast("double"), F.col(b).cast("double")
        both = ca.isNotNull() & cb.isNotNull()
        ma, mb = F.when(both, ca), F.when(both, cb)
        sa, sb = F.stddev_samp(ma), F.stddev_samp(mb)
        aggs.append(F.sum(both.cast("long")).alias(f"{a}__{b}__n"))
        aggs.append(
            F.round(
                F.when(
                    (sa > F.lit(0.0)) & (sb > F.lit(0.0)),
                    F.covar_samp(ma, mb) / (sa * sb),
                ),
                6,
            ).alias(f"{a}__{b}__corr")
        )
    row = df.agg(*aggs)
    per_pair = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"{a}__{b}__n").alias("n_pairs"),
            F.col(f"{a}__{b}__corr").alias("corr"),
        )
        for a, b in pairs
    ]
    return row.select(F.explode(F.array(*per_pair)).alias("s")).select("s.*")
